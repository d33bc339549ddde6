package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar-function surface of the reference (`/root/reference/src/utils.py`,
  * SURVEY.md §2.8) — every one a built-in Column expression, zero UDFs, so
  * the whole set stays inside whole-stage codegen and constant folding.
  */
object Scalars {

  /** F1 (utils.py:95-105): °C → °F. */
  def celsiusToFahrenheit(c: Column): Column = c * lit(9.0) / lit(5.0) + lit(32.0)

  /** F2 (utils.py:107-117): °F → °C. */
  def fahrenheitToCelsius(f: Column): Column = (f - lit(32.0)) * lit(5.0) / lit(9.0)

  /** F3 (utils.py:119-129): timestamp → 'yyyy-MM-dd HH:mm:ss' string. */
  def formatTimestamp(ts: Column): Column = date_format(ts, "yyyy-MM-dd HH:mm:ss")

  /** F4 (utils.py:67-93): inclusive date range as an array of 'yyyy-MM-dd'
    * strings; explode downstream for a row-per-date (built-in Generator, no
    * UDTF).
    */
  def dateRange(start: Column, end: Column): Column =
    transform(
      sequence(to_date(start), to_date(end), expr("interval 1 day")),
      d => date_format(d, "yyyy-MM-dd"))

  /** F5 (utils.py:131-159): weather-condition → text icon, default '❓'.
    * A literal map + element_at: constant-folded, codegen'd, no UDF.
    */
  private val iconPairs: Seq[(String, String)] = Seq(
    "Clear" -> "☀️", "Clouds" -> "☁️",
    "Rain" -> "🌧️", "Drizzle" -> "🌦️",
    "Thunderstorm" -> "⛈️", "Snow" -> "❄️",
    "Mist" -> "🌫️", "Fog" -> "🌫️",
    "Haze" -> "🌫️", "Smoke" -> "🌫️",
    "Dust" -> "🌫️", "Sand" -> "🌫️",
    "Ash" -> "🌫️", "Squall" -> "💨",
    "Tornado" -> "🌪️")

  private val iconMap: Column =
    map(iconPairs.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  def weatherIcon(condition: Column): Column =
    coalesce(element_at(iconMap, condition), lit("❓"))

  /** Generic category → label map with default, same shape as F5 for
    * arbitrary dictionaries (reference pattern, different table).
    */
  def mapLookup(key: Column, mapping: Seq[(String, String)], default: String): Column =
    coalesce(
      element_at(map(mapping.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*), key),
      lit(default))

  /** F6 (transform.py:198-200): derived time features. `hour` cast to long
    * so the verified schema matches the DuckDB oracle's BIGINT.
    */
  def withTimeFeatures(df: DataFrame, ts: String): DataFrame =
    df.withColumn("date", date_format(to_date(col(ts)), "yyyy-MM-dd"))
      .withColumn("hour", hour(col(ts)).cast("long"))
      .withColumn("day_of_week", date_format(col(ts), "EEEE"))

  /** F9 (transform.py:203): range derive. */
  def range(hi: Column, lo: Column): Column = hi - lo
}
