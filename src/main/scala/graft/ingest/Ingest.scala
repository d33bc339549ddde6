package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clean.Cleaning
import graft.functions.Scalars
import graft.observe.Metrics
import graft.schema.WeatherSchema

/** Ingestion + flattening for the weather pipeline — the Spark re-expression
  * of the reference's extract/transform file surface (SURVEY §2.1-§2.2).
  *
  * The reference's per-record Python loop (transform.py:92-145) becomes one
  * declarative select over an explicit schema: Catalyst prunes the nested
  * struct reads and a corrupt JSON line becomes a `_corrupt_record` row, not
  * a try/except (P4). At 100 TB the JSON scan parallelizes by file split;
  * nothing here collects to the driver.
  */
object Ingest {

  /** S4: JSON glob scan, schema-first, corrupt-record tolerant
    * (transform.py:56-78's glob+parse+skip, as one reader).
    */
  def readRawJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(WeatherSchema.owm)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** P1: required-keys predicate (transform.py:95-97): drop records missing
    * any of main/wind/weather/city_name/country_code; corrupt rows (whole
    * line in `_corrupt_record`, all data fields null) fail the same filter.
    */
  def requiredKeysFilter(raw: DataFrame): DataFrame =
    raw.filter(
      col("main").isNotNull && col("wind").isNotNull &&
      col("weather").isNotNull && size(col("weather")) > 0 &&
      col("city_name").isNotNull && col("country_code").isNotNull)

  /** P2+P3: nested-struct flattening to the 13 base columns
    * (transform.py:99-140) with the epoch-else-ISO timestamp coalesce
    * (transform.py:104-107). Missing nested fields are typed nulls already
    * (schema-first read), so no per-field `.get` ladder exists.
    */
  def flatten(raw: DataFrame): DataFrame =
    requiredKeysFilter(raw).select(
      col("city_name").as("city"),
      col("country_code").as("country"),
      coalesce(
        timestamp_seconds(col("dt")),
        to_timestamp(col("extraction_timestamp"))).as("timestamp"),
      col("main.temp").as("temperature"),
      col("main.feels_like").as("feels_like"),
      col("main.temp_min").as("temp_min"),
      col("main.temp_max").as("temp_max"),
      col("main.pressure").as("pressure"),
      col("main.humidity").as("humidity"),
      col("wind.speed").as("wind_speed"),
      col("wind.deg").as("wind_direction"),
      element_at(col("weather"), 1).getField("main").as("weather_condition"),
      element_at(col("weather"), 1).getField("description").as("weather_description"))

  /** Full transform composite (transform.py:207-244): flatten → §2.9
    * two-pass clean → categorical fill → derived time features (F6) +
    * temp_range (F9). Output schema = WeatherSchema.clean.
    *
    * Batch only: the cleaner's two 1-row statistics jobs (fences, then
    * post-nulling medians) run here, once, so every consumer of the
    * returned frame is a scan plus a map-side projection. The values the
    * fence nulls, counted inside those two jobs, feed
    * `weather_outliers_detected`.
    */
  def transform(raw: DataFrame): DataFrame = {
    val flat = flatten(raw)
    val (cleaned, nulled) = Cleaning.twoPassClean(
      flat, WeatherSchema.numericCols, WeatherSchema.categoricalDefaults)
    Metrics.inc(Metrics.OutliersDetected, nulled)
    Scalars.withTimeFeatures(cleaned, "timestamp")
      .withColumn("temp_range", Scalars.range(col("temp_max"), col("temp_min")))
  }
}
