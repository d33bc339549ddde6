package graft

import org.apache.spark.sql.functions._
import graft.ingest.Ingest
import graft.schema.WeatherSchema

class IngestSpec extends SparkTestBase {
  import spark.implicits._

  private val goodEpoch =
    """{"dt": 1704103200, "extraction_timestamp": "2024-01-01T12:00:00",
      | "city_name": "London", "country_code": "GB",
      | "main": {"temp": 14.2, "feels_like": 13.6, "temp_min": 12.0,
      |          "temp_max": 16.1, "pressure": 1012, "humidity": 77},
      | "wind": {"speed": 4.1, "deg": 230},
      | "weather": [{"main": "Clouds", "description": "broken clouds"}]}""".stripMargin.replaceAll("\n", "")

  private val noDtIso = // dt missing -> ISO fallback (transform.py:104-107)
    """{"extraction_timestamp": "2024-01-02T06:30:00", "city_name": "Tokyo",
      | "country_code": "JP", "main": {"temp": 5.0}, "wind": {"speed": 1.0},
      | "weather": [{"main": "Clear", "description": "clear sky"}]}""".stripMargin.replaceAll("\n", "")

  private val missingWind = // fails P1 required-keys filter
    """{"dt": 1704103200, "city_name": "Berlin", "country_code": "DE",
      | "main": {"temp": 3.0}, "weather": [{"main": "Snow", "description": "snow"}]}""".stripMargin.replaceAll("\n", "")

  private val corrupt = """{"dt": 17041, "city_name": BROKEN"""

  private def readRaw(lines: String*) = {
    import spark.implicits._
    spark.read.schema(WeatherSchema.owm)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(lines.toDS)
  }

  test("flatten: nested projection, epoch + ISO timestamp coalesce (UTC)") {
    val flat = Ingest.flatten(readRaw(goodEpoch, noDtIso))
    val byCity = flat.collect().map(r => r.getAs[String]("city") -> r).toMap
    val london = byCity("London")
    assert(london.getAs[Double]("temperature") === 14.2)
    assert(london.getAs[String]("weather_condition") === "Clouds")
    assert(london.getAs[java.sql.Timestamp]("timestamp").toInstant.toString
      === "2024-01-01T10:00:00Z") // epoch dt wins over extraction ts
    val tokyo = byCity("Tokyo")
    assert(tokyo.getAs[java.sql.Timestamp]("timestamp").toInstant.toString
      === "2024-01-02T06:30:00Z") // ISO fallback
    assert(tokyo.isNullAt(tokyo.fieldIndex("temp_max"))) // missing field -> null
  }

  test("P1 required-keys filter drops incomplete and corrupt records") {
    val flat = Ingest.flatten(readRaw(goodEpoch, missingWind, corrupt))
    assert(flat.collect().map(_.getAs[String]("city")).toSeq === Seq("London"))
  }

  test("transform: full composite yields the 17-column clean schema") {
    val out = Ingest.transform(readRaw(goodEpoch, noDtIso))
    assert(out.columns.toSeq === WeatherSchema.clean.map(_.name))
    val london = out.filter($"city" === "London").collect()(0)
    assert(london.getAs[Double]("temp_range") === 16.1 - 12.0)
    assert(london.getAs[String]("day_of_week") === "Monday")
    assert(london.getAs[Long]("hour") === 10L)
    // categorical defaults intact, no nulls in cleaned numerics
    assert(out.filter($"temperature".isNull).count() === 0)
  }

  test("transform imputes missing numerics with post-fence medians") {
    // tokyo's record lacks feels_like/temp_max etc -> nulls -> imputed
    val out = Ingest.transform(readRaw(goodEpoch, noDtIso))
    val tokyo = out.filter($"city" === "Tokyo").collect()(0)
    // imputed from the only non-null value (london's 13.6 / 16.1 / ...)
    assert(tokyo.getAs[Double]("feels_like") === 13.6)
    assert(tokyo.getAs[Double]("temp_max") === 16.1)
    assert(out.columns.forall(c => out.filter(col(c).isNull).count() === 0))
  }

  test("transform computes fences and medians once: consumer plans only scan and project") {
    // 30 London polls plus one wild temperature, so the fences null a value
    val polls = (0 until 30).map(i => goodEpoch.replace("\"temp\": 14.2", s"\"temp\": ${10 + i % 7}.5")) :+
      goodEpoch.replace("\"temp\": 14.2", "\"temp\": 999.0")
    val raw = readRaw(polls :+ noDtIso: _*)
    def perCity(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("city").agg(avg("temperature"), max("temperature"), avg("humidity"))
    val agg = perCity(Ingest.transform(raw))
    val plan = agg.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("percentile"), plan)
    assert(!plan.contains("broadcastnestedloopjoin"), plan)
    val fresh = perCity(Ingest.transform(raw)).collect().toSet
    assert(agg.collect().toSet === fresh)
    assert(agg.collect().toSet === fresh)
    assert(fresh.forall(r => r.getDouble(2) < 999.0), "the outlier was nulled and imputed")
  }

  /** The numeric values outside the cleaner's fences (p05/p95 ± 1.5 ×
    * their spread), counted apart from the cleaner: one percentile pass
    * over the flat rows, then one count of the values outside.
    */
  private def fenceCount(raw: org.apache.spark.sql.DataFrame): Long = {
    val flat = Ingest.flatten(raw)
    val cols = WeatherSchema.numericCols
    val q = cols.flatMap(c => Seq(percentile(col(c), lit(0.05)), percentile(col(c), lit(0.95))))
    val b = flat.agg(q.head, q.tail: _*).collect()(0)
    val outside = cols.zipWithIndex.map { case (c, i) =>
      val (q1, q3) = (b.getDouble(2 * i), b.getDouble(2 * i + 1))
      when(col(c) < q1 - 1.5 * (q3 - q1) || col(c) > q3 + 1.5 * (q3 - q1), 1L).otherwise(0L)
    }.reduce(_ + _)
    flat.agg(sum(outside)).collect()(0).getLong(0)
  }

  test("transform feeds weather_outliers_detected with each value the fence nulls") {
    import graft.observe.Metrics
    val polls = (0 until 30).map(i => goodEpoch.replace("\"temp\": 14.2", s"\"temp\": ${10 + i % 7}.5"))
    def moved(raw: org.apache.spark.sql.DataFrame): Long = {
      val before = Metrics.get(Metrics.OutliersDetected)
      Ingest.transform(raw)
      Metrics.get(Metrics.OutliersDetected) - before
    }
    // a wild temperature and a wild humidity on two more polls
    val dirty = readRaw(polls ++ Seq(
      goodEpoch.replace("\"temp\": 14.2", "\"temp\": 999.0"),
      goodEpoch.replace("\"humidity\": 77", "\"humidity\": 5000")): _*)
    val expected = fenceCount(dirty)
    assert(expected === 2L)
    assert(moved(dirty) === expected)
    val clean = readRaw(polls: _*)
    assert(fenceCount(clean) === 0L)
    assert(moved(clean) === 0L)
  }
}
