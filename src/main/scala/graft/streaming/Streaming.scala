package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming layer (SURVEY §2.10): the operators the deployed
  * streams run ([[StreamingPipeline]], [[graft.multimodal.MediaIngestPipeline]]).
  * The reference's "real-time" story is a daily cron
  * (airflow/weather_pipeline_dag.py:35); here the same computations run as
  * true streams: event-time windows + watermarks replace calendar-date
  * batch group-bys, and `dropDuplicatesWithinWatermark` replaces the
  * reference's absent dedup (its transform re-reads ALL raw files, so
  * duplicate polls produce duplicate rows — transform.py:64-66).
  *
  * Scale posture: every stateful operator keys its state by the grouping
  * key and bounds it with watermarks — state size is O(active keys ×
  * windows-in-watermark), independent of total stream length. Every
  * batch-at-a-time sink runs on one micro-batch bridge ([[microBatches]]),
  * so each micro-batch reuses the batch operators, writers and
  * partitioning.
  */
object Streaming {

  /** A4 as a stream: tumbling event-time window (default 1 day = the
    * reference's calendar-date rollup, analyze.py:239-243) with a watermark
    * bounding state. Late rows beyond `lateness` are dropped — the batch
    * path has no such cutoff, which is exactly the semantic delta a stream
    * must declare (SURVEY §7.4 risk 4).
    */
  def windowedAgg(stream: DataFrame, ts: String, key: String, value: String,
                  window: String = "1 day", lateness: String = "1 hour",
                  setWatermark: Boolean = true,
                  slide: Option[String] = None): DataFrame =
    // setWatermark=false when an upstream stateful operator (e.g.
    // dedupWithinWatermark) already declared the watermark on `ts` —
    // redefining it above a second stateful operator is disallowed.
    // slide=Some(s) makes the window SLIDING (each event contributes to
    // window/s overlapping windows); None = tumbling.
    (if (setWatermark) stream.withWatermark(ts, lateness) else stream)
      .groupBy(functions.windowCol(col(ts), window, slide), col(key))
      .agg(
        avg(col(value)).as("value_mean"),
        min(col(value)).as("value_min"),
        max(col(value)).as("value_max"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col(key), col("value_mean"), col("value_min"), col("value_max"), col("n"))

  private object functions {
    // window() name-clashes with expressions.Window in wildcard imports;
    // isolate the builtin call.
    def windowCol(ts: org.apache.spark.sql.Column, w: String,
                  slide: Option[String] = None): org.apache.spark.sql.Column =
      slide match {
        case Some(s) => org.apache.spark.sql.functions.window(ts, w, s)
        case None => org.apache.spark.sql.functions.window(ts, w)
      }
  }

  /** Streaming dedup keyed on (keys...) within the watermark — the
    * north-star fix for the reference's duplicate-poll duplication
    * (SURVEY §2.10). State is bounded by the watermark delay.
    */
  def dedupWithinWatermark(stream: DataFrame, ts: String, lateness: String,
                           keys: Seq[String]): DataFrame =
    stream.withWatermark(ts, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-dup dedup within the watermark: the state key is the
    * record's 64-bit SimHash signature of `textCol` (the SAME native
    * SimHash64 expression the batch near-dup surface keys on —
    * [[graft.dedup.Dedup.simhash]]), optionally scoped by `extraKeys`.
    * Exact-key dedup misses the reference's real idempotence gap: a
    * re-poll re-serializes the SAME observation with cosmetic differences
    * (jittered capture timestamp, reordered/extra metadata tokens —
    * transform.py:64-66 re-reads ALL raw files), so no exact column set
    * matches the redelivery. A token-majority signature is stable under
    * those edits; a redelivered near-identical record therefore hits the
    * same state key and is dropped, with state still bounded by the
    * watermark delay. Batch twin: grouping the same records by
    * `Dedup.simhash(text)` keeps the same survivors (StreamingSpec pins
    * the parity).
    *
    * The signature rides the dedup as a derived column and is dropped
    * after — downstream schema is unchanged.
    *
    * CONTRACT — signature dedup, not equality dedup: any two records
    * whose (extraKeys, SimHash) coincide inside the watermark are
    * treated as one, so `textCol` must carry enough entropy to make a
    * coincidence mean "same observation" (use `extraKeys` to scope the
    * state key when it doesn't — e.g. two cities legitimately sharing a
    * description string must be split by the city key). The converse
    * bound: SimHash is a token-majority vote, so on very SHORT texts
    * (2-3 tokens) a single extra token can flip signature bits and a
    * true redelivery survives — the signature branch is for record-sized
    * payloads (the reference's re-serialized observation JSON), not
    * two-word labels.
    */
  def nearDupDedupWithinWatermark(stream: DataFrame, ts: String, lateness: String,
                                  textCol: String,
                                  extraKeys: Seq[String] = Nil): DataFrame =
    stream.withColumn("__simhash", graft.dedup.Dedup.simhash(col(textCol)))
      .withWatermark(ts, lateness)
      .dropDuplicatesWithinWatermark(extraKeys :+ "__simhash")
      .drop("__simhash")

  /** Statistics-dependent cleaning on a stream (SURVEY §7.4 risk 4): the
    * global p05/p95 fence and medians cannot be computed inside one
    * micro-batch without seeing all data, so they are computed on a static
    * snapshot (or a previous day's data) and applied as a broadcast to the
    * stream — the standard periodically-refreshed-statistics pattern.
    */
  def cleanWithStaticBounds(stream: DataFrame, statsSource: DataFrame,
                            cols: Seq[String], lo: Double = 0.05, hi: Double = 0.95,
                            k: Double = 1.5): DataFrame = {
    if (cols.isEmpty) return stream
    val aggs = cols.flatMap { c =>
      val q1 = percentile_approx(col(c), lit(lo), lit(10000))
      val q3 = percentile_approx(col(c), lit(hi), lit(10000))
      Seq((q1 - lit(k) * (q3 - q1)).as(s"__${c}_lb"),
          (q3 + lit(k) * (q3 - q1)).as(s"__${c}_ub"),
          percentile_approx(col(c), lit(0.5), lit(10000)).as(s"__${c}_med"))
    }
    val stats = statsSource.agg(aggs.head, aggs.tail: _*)
    val joined = stream.crossJoin(broadcast(stats))
    val cleaned = cols.foldLeft(joined) { (d, c) =>
      d.withColumn(c,
        coalesce(
          when(col(c) < col(s"__${c}_lb") || col(c) > col(s"__${c}_ub"), lit(null))
            .otherwise(col(c)),
          col(s"__${c}_med")))
    }
    cleaned.drop(cols.flatMap(c => Seq(s"__${c}_lb", s"__${c}_ub", s"__${c}_med")): _*)
  }

  /** The one micro-batch bridge of the streaming layer: `body(batch,
    * batchId)` runs once per micro-batch of `stream` (`foreachBatch`), so
    * each micro-batch reuses the batch operators and writers. The query
    * checkpoints its offsets at `checkpoint` when given; with `drain` it
    * processes what is available now and stops (`AvailableNow`, the
    * batch-parity trigger) instead of running until stopped.
    */
  private[graft] def microBatches(stream: DataFrame, checkpoint: Option[String] = None,
                                  drain: Boolean = false)
                                 (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = checkpoint.foldLeft(stream.writeStream)(_.option("checkpointLocation", _))
    (if (drain) w.trigger(Trigger.AvailableNow()) else w).foreachBatch(body).start()
  }
}
