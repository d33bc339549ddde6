package graft

import java.sql.Timestamp
import graft.analyze.{AnalysisDoc, Analytics, WeatherFacts}
import org.apache.spark.sql.Row

class AnalysisDocSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val Columns = Seq("city", "timestamp", "temperature", "humidity", "wind_speed", "weather_condition")

  private def fixture = Seq(
    ("london", ts("2024-01-01 06:00:00"), 10.0, 70.0, 3.0, "Clouds"),
    ("london", ts("2024-01-02 06:00:00"), 14.0, 80.0, 5.0, "Rain"),
    ("london", ts("2024-01-03 06:00:00"), 12.0, 60.0, 4.0, "Rain"),
    ("tokyo",  ts("2024-01-01 06:00:00"), 20.0, 50.0, 2.0, "Clear"),
    ("tokyo",  ts("2024-01-02 06:00:00"), 22.0, 55.0, 2.0, "Clear")
  ).toDF(Columns: _*)

  test("nested analysis document matches the reference's §A3 shape and values") {
    val doc = AnalysisDoc.build(fixture)
    val parsed = spark.read.json(Seq(doc).toDS)
    val row = parsed.collect()(0)

    val basic = row.getAs[org.apache.spark.sql.Row]("basic_stats").getAs[org.apache.spark.sql.Row]("overall")
    assert(basic.getAs[Long]("count") === 5L)
    assert(basic.getAs[org.apache.spark.sql.Row]("temperature").getAs[Double]("median") === 14.0)
    assert(basic.getAs[org.apache.spark.sql.Row]("date_range").getAs[String]("start") === "2024-01-01 06:00:00")

    val cc = row.getAs[org.apache.spark.sql.Row]("city_comparisons")
    assert(cc.getAs[String]("warmest_city") === "tokyo")
    assert(cc.getAs[String]("coldest_city") === "london")
    assert(doc.contains("\"london\":{\"temperature\":{\"mean\":12.0"))

    val trends = row.getAs[org.apache.spark.sql.Row]("temperature_trends")
    val londonTrend = trends.getAs[org.apache.spark.sql.Row]("london")
    assert(londonTrend.getAs[String]("overall_trend") === "warming") // +4, -2
    assert(londonTrend.getAs[Double]("avg_daily_change") === 1.0)

    val conds = row.getAs[org.apache.spark.sql.Row]("weather_conditions")
    assert(conds.getAs[org.apache.spark.sql.Row]("overall_distribution").getAs[Long]("Rain") === 2L)
    assert(conds.getAs[org.apache.spark.sql.Row]("most_common_by_city").getAs[String]("london") === "Rain")
    assert(conds.getAs[org.apache.spark.sql.Row]("most_common_by_city").getAs[String]("tokyo") === "Clear")
  }

  test("the document is byte-identical to the Spark-side assembly it replaces") {
    // recorded from the aggregate-per-section build before the facts pass
    val paris = Seq[(String, Timestamp, Option[Double], Double, Double, String)](
      ("london", ts("2024-01-01 06:00:00"), Some(10.0), 70.0, 3.0, "Clouds"),
      ("london", ts("2024-01-02 06:00:00"), Some(14.0), 80.0, 5.0, "Rain"),
      ("paris",  ts("2024-01-01 06:00:00"), None, 50.0, 2.0, "Clear"),
      ("paris",  ts("2024-01-02 06:00:00"), None, 55.0, 2.5, "Clear")
    ).toDF(Columns: _*)
    def pinned(s: String) = s.stripMargin.replace("\n", "")
    val cases = Seq(
      ("fixture", fixture, pinned("""
           |{"basic_stats":{"overall":{"count":5,"date_range":{"start":"2024-01-01 06:00:00",
           |"end":"2024-01-03 06:00:00"},"temperature":{"min":10.0,"max":22.0,"mean":15.6,
           |"median":14.0},"humidity":{"min":50.0,"max":80.0,"mean":63.0},
           |"wind_speed":{"min":2.0,"max":5.0,"mean":3.2}}},
           |"city_comparisons":{"cities":{"london":{"temperature":{"mean":12.0,"min":10.0,
           |"max":14.0},"humidity":{"mean":70.0},"wind_speed":{"mean":4.0}},
           |"tokyo":{"temperature":{"mean":21.0,"min":20.0,"max":22.0},"humidity":{"mean":52.5},
           |"wind_speed":{"mean":2.0}}},"warmest_city":"tokyo","coldest_city":"london"},
           |"temperature_trends":{"london":{"avg_daily_change":1.0,"max_increase":4.0,
           |"max_decrease":-2.0,"overall_trend":"warming"},"tokyo":{"avg_daily_change":2.0,
           |"max_increase":2.0,"max_decrease":2.0,"overall_trend":"warming"}},
           |"weather_conditions":{"overall_distribution":{"Clear":2,"Clouds":1,"Rain":2},
           |"most_common_by_city":{"london":"Rain","tokyo":"Clear"}}}""")),
      // grouping sets emit no () row on empty input; the doc still reads count 0
      ("zero rows", fixture.limit(0), pinned("""
           |{"basic_stats":{"overall":{"count":0,"date_range":{},"temperature":{},"humidity":{},
           |"wind_speed":{}}},"city_comparisons":{"cities":{}},"temperature_trends":{},
           |"weather_conditions":{"overall_distribution":{},"most_common_by_city":{}}}""")),
      ("a city whose temperatures are all null", paris, pinned("""
           |{"basic_stats":{"overall":{"count":4,"date_range":{"start":"2024-01-01 06:00:00",
           |"end":"2024-01-02 06:00:00"},"temperature":{"min":10.0,"max":14.0,"mean":12.0,
           |"median":12.0},"humidity":{"min":50.0,"max":80.0,"mean":63.75},
           |"wind_speed":{"min":2.0,"max":5.0,"mean":3.13}}},
           |"city_comparisons":{"cities":{"london":{"temperature":{"mean":12.0,"min":10.0,
           |"max":14.0},"humidity":{"mean":75.0},"wind_speed":{"mean":4.0}},
           |"paris":{"temperature":{},"humidity":{"mean":52.5},"wind_speed":{"mean":2.25}}},
           |"warmest_city":"london","coldest_city":"london"},
           |"temperature_trends":{"london":{"avg_daily_change":4.0,"max_increase":4.0,
           |"max_decrease":4.0,"overall_trend":"warming"}},
           |"weather_conditions":{"overall_distribution":{"Clear":2,"Clouds":1,"Rain":1},
           |"most_common_by_city":{"london":"Clouds","paris":"Clear"}}}""")))
    for ((name, df, expected) <- cases)
      assert(AnalysisDoc.build(df) === expected, name)
  }

  test("rendering the document from collected facts launches no Spark job") {
    val facts = WeatherFacts.collect(fixture)
    val lap = Harness.profile(spark, "render")({ AnalysisDoc.render(facts); 0L })
    assert(lap.jobs.isEmpty, lap.report)
  }

  test("the document's trends equal Analytics.trendAnalysis over the same rows") {
    val rnd = new scala.util.Random(11)
    // four cities over six days, 1-4 polls a day, means with many digits;
    // rome's day 3 is all null (no change across it), oslo has one day
    // (no trend), and one of berlin's polls has no timestamp (a null day)
    val rows = for {
      city <- Seq("berlin", "oslo", "rome", "tokyo")
      day <- if (city == "oslo") Seq(0) else 0 until 6
      poll <- 0 until 1 + rnd.nextInt(4)
    } yield {
      val t = Option.when(!(city == "rome" && day == 3))(rnd.nextGaussian() * 7 + 12)
      val stamp = Option.when(!(city == "berlin" && day == 2 && poll == 0))(
        new Timestamp(1704067200000L + day * 86400000L + poll * 3600000L))
      (city, stamp.orNull, t, 60.0, 3.0, "Clear")
    }
    val df = rows.toDF(Columns: _*)
    val doc = spark.read.json(Seq(AnalysisDoc.build(df)).toDS).collect()(0)
      .getAs[Row]("temperature_trends")
    val expected = Analytics.trendAnalysis(df, "timestamp", "city", "temperature").collect()
    assert(doc.schema.fieldNames.toSeq === expected.map(_.getString(0)).toSeq)
    for (e <- expected) {
      val got = doc.getAs[Row](e.getString(0))
      assert(Seq(got.getAs[Double]("avg_daily_change"), got.getAs[Double]("max_increase"),
        got.getAs[Double]("max_decrease"), got.getAs[String]("overall_trend")) ===
        Seq(e.getDouble(1), e.getDouble(2), e.getDouble(3), e.getString(4)), e.getString(0))
    }
  }
}
