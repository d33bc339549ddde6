package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.observe.Metrics
import graft.schema.WeatherSchema

/** S1/S2 (extract.py:72-137): the REST polling source, re-expressed for
  * Spark. Polling N endpoints is driver-side connector work, not a query
  * operator — the results become a DataFrame via `createDataset` + a
  * schema-first JSON parse, and everything downstream is the normal plan.
  *
  * The transport is injected (`fetch: City => String`), which keeps the
  * retry/backoff semantics testable in a zero-egress environment and makes
  * the production wiring (java.net.http / a Kafka producer feeding
  * [[graft.streaming.StreamingPipeline]]'s wire source) a one-line swap.
  *
  * Retry semantics mirror the reference exactly: up to `retries` attempts,
  * fixed `backoffMs` between attempts, empty result on exhaustion
  * (extract.py:88-108: 3 attempts, 2 s fixed backoff, `{}` on failure).
  */
object RestSource {

  /** The configured city list (config.yaml:8-18 analog). */
  case class City(name: String, country: String)

  case class FetchResult(city: City, payload: Option[String], attempts: Int)

  val defaultCities: Seq[City] = Seq(
    City("New York", "US"), City("London", "GB"), City("Tokyo", "JP"),
    City("Sydney", "AU"), City("Berlin", "DE"))

  /** Poll every city with bounded retries + fixed backoff. `sleep` is
    * injectable so specs don't wait wall-clock time. Each city whose
    * retries run out counts once in `weather_extract_failures`.
    */
  def fetchAll(cities: Seq[City], fetch: City => String,
               retries: Int = 3, backoffMs: Long = 2000,
               sleep: Long => Unit = Thread.sleep): Seq[FetchResult] =
    cities.map { city =>
      var attempt = 0
      var result: Option[String] = None
      while (result.isEmpty && attempt < retries) {
        attempt += 1
        try result = Some(fetch(city))
        catch {
          case _: Exception if attempt < retries => sleep(backoffMs)
          case _: Exception => // exhausted -> empty result, city skipped
            Metrics.inc(Metrics.ExtractFailures)
        }
      }
      FetchResult(city, result, attempt)
    }

  /** Fetched JSON payloads → schema-first DataFrame (the `spark.read
    * .schema(owm).json(dataset)` boundary from SURVEY §2.1 S1). Failed
    * cities contribute no rows — the reference's `{}` records are likewise
    * dropped by the transform's required-keys filter.
    */
  def toDataFrame(spark: SparkSession, results: Seq[FetchResult]): DataFrame = {
    import spark.implicits._
    val payloads: Dataset[String] = results.flatMap(_.payload).toDS()
    spark.read.schema(WeatherSchema.owm).json(payloads)
  }
}
