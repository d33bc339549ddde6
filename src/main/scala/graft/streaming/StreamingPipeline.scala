package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog, SinkFileStatus}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.observe.Metrics

/** The reference pipeline as an actual stream (north star: "Structured
  * Streaming + Kafka"): polling source → statistics-guarded cleaning →
  * event-time windowed aggregation → the micro-batch bridge
  * ([[Streaming.microBatches]]) driving the same batch writers as the
  * daily pipeline. One checkpointed query replaces the cron.
  *
  * Each micro-batch appends to the same (city, date)-partitioned parquet
  * layout `Sinks.writePartitioned` produces, exactly once per batch id
  * ([[appendOnce]]), so downstream consumers read a day the same way
  * whether it came from the stream or a batch run. The sink's
  * `_spark_metadata` log decides what `windowed/` holds: a batch backfill
  * writes its own directory, since files written beside that log are
  * never read.
  */
object StreamingPipeline {

  case class Config(
      checkpointDir: String,
      outputDir: String,
      cities: Seq[String] = Seq("New York", "London", "Tokyo", "Sydney", "Berlin"),
      window: String = "1 hour",
      lateness: String = "2 hours",
      statsSnapshot: Option[DataFrame] = None,
      maxPolls: Long = -1L, // >0 = finite stream (tests / drain runs)
      // Kafka source branch (the north star's named ingestion path):
      // bootstrap set -> consume `kafkaTopic` in wire format and decode
      // with KafkaWire.decodeFlat instead of using the polling source.
      kafkaBootstrap: Option[String] = None,
      kafkaTopic: String = "weather",
      // Test seam: a pre-built wire-format streaming DataFrame (e.g. a
      // MemoryStream of binary key/value rows) run through the SAME
      // decode + window + sink path as a real topic — the broker is the
      // only thing it bypasses.
      wireSource: Option[DataFrame] = None,
      // Keys for watermark-bounded streaming dedup before the window —
      // fixes the reference's duplicate-poll duplication (its transform
      // re-reads ALL raw files, transform.py:64-66). E.g. Seq("city","ts")
      // drops redelivered observations; None = keep every record.
      dedupKeys: Option[Seq[String]] = None,
      // NEAR-dup branch: when set, the dedup state keys on the SimHash
      // SIGNATURE of this column (scoped per city) instead of exact
      // columns — a re-poll that re-serializes the same observation with
      // cosmetic text differences or a jittered capture timestamp
      // matches no exact key set but keeps its token-majority signature,
      // so the redelivery is dropped within the watermark
      // (Streaming.nearDupDedupWithinWatermark; batch twin =
      // Dedup.simhash). Takes precedence over dedupKeys.
      dedupSignatureOf: Option[String] = None,
      // Dead-letter route: a row-scoped Checks suite applied to every
      // decoded record BEFORE dedup state or cleaning sees it. Rows
      // violating any check land in `${outputDir}/quarantine` with
      // their declaration-ordered reason list (`failed_checks`); clean
      // rows flow on unchanged. Routing is Checks.quarantine — the
      // SAME declaration gates a batch table and routes the stream, so
      // micro-batch routing == batch routing by construction.
      quarantineChecks: Seq[graft.quality.Checks.Check] = Nil)

  /** Wire and start the streaming query (AvailableNow when `drain` — the
    * batch-parity trigger — else continuous micro-batches). REJECTS a
    * config with `quarantineChecks` set: that config starts TWO queries
    * (main + dead-letter), and a single returned handle would strand the
    * quarantine query — the caller could neither await nor stop it, and a
    * drain would tear the session down before the dead-letter sink
    * flushes. Use [[startRouted]], which hands back both handles.
    */
  def start(spark: SparkSession, cfg: Config, drain: Boolean = false): StreamingQuery = {
    require(cfg.quarantineChecks.isEmpty,
      "quarantineChecks starts a second (dead-letter) query whose handle " +
      "start() cannot return — use startRouted() and manage both queries")
    startRouted(spark, cfg, drain).head
  }

  /** [[start]] plus the dead-letter route: element 0 is always the main
    * windowed query; element 1 (present only when `cfg.quarantineChecks`
    * is non-empty) is the quarantine sink's query. Two queries because
    * Structured Streaming binds one sink per query and the dead-letter
    * rows leave the plan BEFORE the stateful window — each query
    * checkpoints its own offsets (`checkpointDir` /
    * `checkpointDir-quarantine`), so the two routes restart
    * independently with exactly-once delivery per sink ([[appendOnce]]).
    * The routing itself is stateless and map-side
    * ([[graft.quality.Checks.quarantine]]),
    * applied to decoded records before any dedup state or cleaning —
    * invalid rows never occupy state, and the quarantined record
    * carries its full payload plus the declaration-ordered
    * `failed_checks` reason list for triage/replay.
    */
  def startRouted(spark: SparkSession, cfg: Config,
                  drain: Boolean = false): Seq[StreamingQuery] = {
    Metrics.install(spark)
    // the signature column rides along only when the near-dup branch
    // needs it (dropped again right after the dedup)
    val decodeCols = Seq(col("city"), col("timestamp").as("ts"), col("temperature")) ++
      cfg.dedupSignatureOf.filterNot(Set("city", "ts", "temperature")).map(col)
    val raw = (cfg.wireSource, cfg.kafkaBootstrap) match {
      case (Some(wire), _) =>
        graft.sources.KafkaWire.decodeFlat(wire).select(decodeCols: _*)
      case (None, Some(bootstrap)) =>
        graft.sources.KafkaWire.decodeFlat(
            graft.sources.KafkaWire.stream(spark, bootstrap, cfg.kafkaTopic))
          .select(decodeCols: _*)
      case _ => spark.readStream
        .format("graft.sources.v2.PollingSource")
        .option("cities", cfg.cities.mkString(","))
        .option("maxPolls", cfg.maxPolls.toString)
        .load()
    }

    // dead-letter routing first: invalid records must not enter dedup
    // state or the clean/window path
    val (admitted, dirty) =
      if (cfg.quarantineChecks.nonEmpty) {
        val routed = graft.quality.Checks.quarantine(raw, cfg.quarantineChecks)
        (routed.filter(size(col("failed_checks")) === 0).drop("failed_checks"),
          Some(routed.filter(size(col("failed_checks")) > 0)))
      } else (raw, None)

    val deduped = (cfg.dedupSignatureOf, cfg.dedupKeys) match {
      case (Some(textCol), _) =>
        Streaming.nearDupDedupWithinWatermark(admitted, "ts", cfg.lateness, textCol,
          extraKeys = Seq("city")).drop(Seq(textCol).filterNot(
            Set("city", "ts", "temperature")): _*)
      case (None, Some(keys)) =>
        Streaming.dedupWithinWatermark(admitted, "ts", cfg.lateness, keys)
      case _ => admitted
    }

    val cleaned = cfg.statsSnapshot match {
      case Some(snap) => Streaming.cleanWithStaticBounds(deduped, snap, Seq("temperature"))
      case None => deduped
    }

    val windowed = Streaming.windowedAgg(
      cleaned, "ts", "city", "temperature", cfg.window, cfg.lateness,
      // either dedup branch already declared the watermark
      setWatermark = cfg.dedupKeys.isEmpty && cfg.dedupSignatureOf.isEmpty)

    val main = Streaming.microBatches(windowed, Some(cfg.checkpointDir), drain)(
      appendOnce(spark, s"${cfg.outputDir}/windowed", Seq("city", "date"),
        Metrics.StreamWindowsWritten)(
        _.withColumn("date", date_format(col("window_start"), "yyyy-MM-dd"))))
    val dlq = dirty.map(d =>
      Streaming.microBatches(d, Some(s"${cfg.checkpointDir}-quarantine"), drain)(
        appendOnce(spark, s"${cfg.outputDir}/quarantine", Nil,
          Metrics.StreamRowsQuarantined)(identity)))
    Seq(main) ++ dlq
  }

  /** The micro-batch body of both sinks: it appends each batch, shaped by
    * `shape`, to the parquet table at `path` exactly once, and adds the
    * batch's row count to the pipeline-owned `counter` (the generic
    * batch/stream counters come from the Metrics listeners, never from
    * here: both wired would double count).
    *
    * The write goes through Spark's own parquet file sink: its
    * `_spark_metadata` log under `path` records a batch id's files when
    * the batch commits, `spark.read.parquet(path)` reads only the files
    * that log lists, and a batch id the log already holds is skipped
    * whole. So a batch that Spark replays after a crash between this
    * write and the checkpoint's commit entry is neither written nor
    * counted twice, and a crash mid-write leaves files no reader sees. An
    * empty batch commits an empty entry (the log compacts only over
    * consecutive batch ids) without running a write.
    */
  private def appendOnce(spark: SparkSession, path: String, partitionBy: Seq[String],
                         counter: String)
                        (shape: DataFrame => DataFrame): (DataFrame, Long) => Unit = {
    val sink = new FileStreamSink(spark, path, new ParquetFileFormat, partitionBy, Map.empty)
    val base = new Path(path)
    val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      FileStreamSink.getMetadataLogPath(base.getFileSystem(spark.sessionState.newHadoopConf()),
        base, spark.sessionState.conf).toString)
    (batch, batchId) => {
      // persist: count + write must not re-execute the stateful agg. A
      // replayed batch is counted too: its state stores commit only when
      // its whole plan runs.
      batch.persist()
      try {
        val n = batch.count()
        if (batchId > log.getLatestBatchId().getOrElse(-1L)) {
          if (n > 0) {
            sink.addBatch(batchId, shape(batch))
            Metrics.inc(counter, n)
          } else log.add(batchId, Array.empty[SinkFileStatus])
        }
      } finally batch.unpersist()
    }
  }
}
