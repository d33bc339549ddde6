package graft.analyze

import java.sql.Date
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The clean weather frame's small facts, computed once and shared by the
  * analysis document and the five figures, as the reference computes its
  * nested result once and saves the JSON and the plots from it
  * (analyze.py:102-144).
  *
  * One `groupingSets` aggregate, collected to the driver. Its grains are
  * `()`, `city`, `(city, date)`, `(city, condition)` and `condition`, told
  * apart by `grouping_id()` (the `grain` field). Every row has the fields
  * `city`, `date`, `condition` (null where the grain does not group by
  * them), `grain`, `n` (rows), `ts_min`, `ts_max`, `temperature_min`,
  * `_max`, `_mean`, `_median`, `humidity_min`, `_max`, `_mean`,
  * `wind_speed_min`, `_max`, `_mean`, and `slope` and `intercept` of
  * humidity on temperature. That is O(cities·days + cities·conditions)
  * rows, so the collect is safe at any input scale.
  */
final class WeatherFacts private (val spark: SparkSession, val schema: StructType,
                                  rows: Seq[Row]) {
  import WeatherFacts._

  private def at(grain: Long): Seq[Row] = rows.filter(_.getAs[Long]("grain") == grain)

  /** The whole frame. Grouping sets emit no `()` row on zero input rows;
    * a global aggregate does (count 0, null stats), and so does this.
    */
  val overall: Row = at(Overall).headOption.getOrElse(new GenericRowWithSchema(
    schema.fieldNames.map[Any] { case "grain" => Overall; case "n" => 0L; case _ => null },
    schema))
  val cities: Seq[Row] = at(ByCity)
  /** In (city, date) order, a null date first as Spark orders it. */
  val cityDays: Seq[Row] = at(ByCityDate).sortBy(r =>
    (Option(r.getAs[String]("city")), Option(r.getAs[Date]("date")).map(_.toLocalDate.toEpochDay)))
  val cityConditions: Seq[Row] = at(ByCityCondition)
  val conditions: Seq[Row] = at(ByCondition)
}

object WeatherFacts {

  // grouping_id() over (city, date, condition): a bit is set for each
  // column the grain does not group by
  private val Overall = 7L
  private val ByCity = 3L
  private val ByCityDate = 1L
  private val ByCityCondition = 2L
  private val ByCondition = 6L

  /** Collects the facts of `df`. `wind` is optional because a frame
    * without wind speed still has its figures (they read no wind); its
    * fields are then null.
    */
  def collect(df: DataFrame, ts: String = "timestamp", city: String = "city",
              temp: String = "temperature", humidity: String = "humidity",
              wind: Option[String] = Some("wind_speed"),
              cond: String = "weather_condition"): WeatherFacts = {
    val keyed = df.select(col(city).as("city"), to_date(col(ts)).as("date"),
      col(cond).as("condition"), col(ts).as("ts"), col(temp).as("t"), col(humidity).as("h"),
      wind.fold(lit(null).cast("double"))(col).as("w"))
    def minMaxMean(c: String, name: String): Seq[Column] =
      Seq(min(c).as(s"${name}_min"), max(c).as(s"${name}_max"), avg(c).as(s"${name}_mean"))
    val (c, d, k) = (col("city"), col("date"), col("condition"))
    val aggs = Seq(count(lit(1)).as("n"), min("ts").as("ts_min"), max("ts").as("ts_max")) ++
      minMaxMean("t", "temperature") ++ Seq(median(col("t")).as("temperature_median")) ++
      minMaxMean("h", "humidity") ++ minMaxMean("w", "wind_speed") ++
      Seq(regr_slope(col("h"), col("t")).as("slope"), regr_intercept(col("h"), col("t")).as("intercept"))
    val facts = keyed
      .groupingSets(Seq(Nil, Seq(c), Seq(c, d), Seq(c, k), Seq(k)), c, d, k)
      .agg(grouping_id().as("grain"), aggs: _*)
    new WeatherFacts(df.sparkSession, facts.schema, facts.collect().toSeq)
  }

  /** A double field of a facts row; None where it is null. */
  def double(r: Row, field: String): Option[Double] =
    Option(r.getAs[java.lang.Double](field)).map(_.doubleValue)
}
