package graft.analyze

import scala.jdk.CollectionConverters._
import scala.math.BigDecimal.RoundingMode
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's nested analysis-result document (FIXTURES.md §A3;
  * analyze.py:118-133 assembles `basic_stats` / `city_comparisons` /
  * `temperature_trends` / `weather_conditions` into one dict saved as
  * `weather_analysis_*.json`, analyze.py:292-306).
  *
  * Assembled on the driver from the collected [[WeatherFacts]]: the facts
  * go into a one-row local relation, and the document is one
  * `to_json(struct(...))` projection over it, with the same `round`,
  * `date_format` and `map_from_entries` expressions a Spark-side assembly
  * would use. Spark folds that projection into the local relation, so
  * rendering launches no job; the only job is the facts pass.
  */
object AnalysisDoc {

  def build(df: DataFrame, ts: String = "timestamp", city: String = "city",
            temp: String = "temperature", humidity: String = "humidity",
            wind: String = "wind_speed", cond: String = "weather_condition"): String =
    render(WeatherFacts.collect(df, ts, city, temp, humidity, Some(wind), cond))

  private val TrendType = StructType(Seq(
    StructField("city", StringType), StructField("sum", DecimalType(28, 6)),
    StructField("n", LongType), StructField("max", DecimalType(18, 6)),
    StructField("min", DecimalType(18, 6))))

  /** Each city's day-to-day changes of its daily mean temperature, as
    * [[Analytics.trendAnalysis]] aggregates them: consecutive days in date
    * order (a null date first), each change cast to decimal(18,6) (HALF_UP
    * of the double's shortest decimal form, as Spark's cast does), a day
    * with a null mean giving no change; one row (city, sum, count, max,
    * min) per city with at least one change. The document rounds them with
    * that query's own expressions.
    */
  private def dailyChanges(facts: WeatherFacts): Seq[Row] =
    facts.cityDays.groupBy(_.getAs[String]("city")).toSeq.flatMap { case (c, days) =>
      val means = days.map(WeatherFacts.double(_, "temperature_mean"))
      val chg = means.zip(means.drop(1)).collect { case (Some(a), Some(b)) =>
        BigDecimal(b - a).setScale(6, RoundingMode.HALF_UP)
      }
      Option.when(chg.nonEmpty)(
        Row(c, chg.sum.bigDecimal, chg.size.toLong, chg.max.bigDecimal, chg.min.bigDecimal))
    }

  /** Each city's most frequent condition, ties to the first condition in
    * ascending order (null first), as [[Analytics.modePerGroup]] pins it.
    */
  private def modes(facts: WeatherFacts): Seq[Row] =
    facts.cityConditions.groupBy(_.getAs[String]("city")).values.toSeq.map(_.minBy(r =>
      (-r.getAs[Long]("n"), Option(r.getAs[String]("condition")))))

  /** The document of the collected facts. */
  def render(facts: WeatherFacts): String = {
    val r2 = (c: Column) => round(c, 2)
    // warmest and coldest by unrounded mean; a city without one is skipped
    val ranked = facts.cities.flatMap(r =>
      WeatherFacts.double(r, "temperature_mean").map(r.getAs[String]("city") -> _)).sortBy(_._1)
    val fs = facts.schema
    val inType = StructType(Seq(
      StructField("overall", fs), StructField("cities", ArrayType(fs)),
      StructField("trends", ArrayType(TrendType)), StructField("conditions", ArrayType(fs)),
      StructField("modes", ArrayType(fs)), StructField("warmest_city", StringType),
      StructField("coldest_city", StringType)))
    val in = facts.spark.createDataFrame(List(Row(facts.overall, facts.cities, dailyChanges(facts),
      facts.conditions, modes(facts), ranked.maxByOption(_._2).map(_._1).orNull,
      ranked.minByOption(_._2).map(_._1).orNull)).asJava, inType)

    def minMaxMean(s: Column, name: String): Column =
      struct(r2(s(s"${name}_min")).as("min"), r2(s(s"${name}_max")).as("max"),
             r2(s(s"${name}_mean")).as("mean")).as(name)
    def entries(c: String)(f: Column => (Column, Column)): Column =
      map_from_entries(sort_array(transform(col(c), x => { val (k, v) = f(x); struct(k, v) })))

    val o = col("overall")
    val overall = struct(
      o("n").as("count"),
      struct(date_format(o("ts_min"), "yyyy-MM-dd HH:mm:ss").as("start"),
             date_format(o("ts_max"), "yyyy-MM-dd HH:mm:ss").as("end")).as("date_range"),
      struct(r2(o("temperature_min")).as("min"), r2(o("temperature_max")).as("max"),
             r2(o("temperature_mean")).as("mean"), r2(o("temperature_median")).as("median"))
        .as("temperature"),
      minMaxMean(o, "humidity"), minMaxMean(o, "wind_speed"))
    val cities = entries("cities")(x => x("city") -> struct(
      struct(r2(x("temperature_mean")).as("mean"), r2(x("temperature_min")).as("min"),
             r2(x("temperature_max")).as("max")).as("temperature"),
      struct(r2(x("humidity_mean")).as("mean")).as("humidity"),
      struct(r2(x("wind_speed_mean")).as("mean")).as("wind_speed")))
    val trends = entries("trends")(x => x("city") -> struct(
      (round(x("sum").cast("double") / x("n") * 10000) / 10000.0 + lit(0.0)).as("avg_daily_change"),
      round(x("max").cast("double"), 4).as("max_increase"),
      round(x("min").cast("double"), 4).as("max_decrease"),
      when(x("sum") > 0, "warming").otherwise("cooling").as("overall_trend")))

    in.select(to_json(struct(
        struct(overall.as("overall")).as("basic_stats"),
        struct(cities.as("cities"), col("warmest_city"), col("coldest_city")).as("city_comparisons"),
        trends.as("temperature_trends"),
        struct(entries("conditions")(x => x("condition") -> x("n")).as("overall_distribution"),
               entries("modes")(x => x("city") -> x("condition")).as("most_common_by_city"))
          .as("weather_conditions")
      )).as("doc"))
      .collect()(0).getString(0)
  }
}
