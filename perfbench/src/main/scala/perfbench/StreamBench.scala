package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.sources.KafkaWire
import graft.streaming.StreamingPipeline
import scala.collection.mutable

/** A Kafka wire record, as Spark's Kafka source yields it. */
final case class WireRecord(key: Array[Byte], value: Array[Byte], topic: String,
                            partition: Int, offset: Long, timestamp: Timestamp,
                            timestampType: Int)

/** The streaming layer: an open-loop load of OWM polls into
  * `graft.streaming.StreamingPipeline` through its `wireSource` seam, with
  * a 10-minute window, 5 minutes of lateness, dedup on (city, ts) and a
  * statistics snapshot.
  *
  * One generator thread appends a poll (one record per city) every
  * [[PollMillis]] ms, each poll one event-time minute after the last, so
  * every micro-batch closes windows. About 5 % of records are redelivered
  * in the next poll and about 2 % are held back one to three polls (still
  * within the lateness).
  */
object StreamBench {
  val Cities = 5
  val PollMillis = 10
  val Seconds = 10
  val Window = "10 minutes"
  val Lateness = "5 minutes"
  val HistoryPolls = 400
  val WarmPolls = 100

  /** The polls to append: each a batch of wire records. */
  final case class Schedule(polls: IndexedSeq[Seq[WireRecord]], sha256: String)

  def schedule(seed: Long, n: Int, firstEpoch: Long): Schedule = {
    val rnd = new SplittableRandom(seed)
    val cities = OwmGen.cities(Cities)
    val polls = IndexedSeq.fill(n)(mutable.ArrayBuffer[OwmGen.Record]())
    for (k <- 0 until n; c <- cities) {
      val r = OwmGen.record(rnd, c, firstEpoch + k * 60L)
      val fate = rnd.nextDouble()
      val hold = 1 + rnd.nextInt(3)
      if (fate < 0.02 && k + hold < n) polls(k + hold) += r
      else {
        polls(k) += r
        if (fate > 0.95 && k + 1 < n) polls(k + 1) += r
      }
    }
    val sha = MessageDigest.getInstance("SHA-256")
    var offset = 0L
    val wire = polls.map(_.toSeq.map { r =>
      val v = r.json.getBytes(UTF_8)
      sha.update(v)
      offset += 1
      WireRecord(r.city.name.getBytes(UTF_8), v, "weather", 0, offset,
        new Timestamp(r.epoch * 1000L), 0)
    })
    Schedule(wire, sha.digest().map("%02x".format(_)).mkString)
  }

  /** Per poll: when it was due, when it was appended, and its offset. */
  final case class Sent(due: Long, appended: Long, offset: Long)

  final case class Ran(sent: Seq[Sent], progress: Seq[StreamingQueryProgress],
                       delivered: Seq[WireRecord], out: java.nio.file.Path)

  private def history(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    val h = schedule(seed ^ 0x5eedL, HistoryPolls, OwmGen.startEpoch - 86400L)
    KafkaWire.decodeFlat(h.polls.flatten.toDF())
  }

  /** Start the pipeline over a fresh memory stream, feed the polls on the
    * open-loop schedule, drain, stop.
    */
  def feed(spark: SparkSession, a: Args, name: String, s: Schedule,
           snapshot: DataFrame): Ran = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[WireRecord]
    val base = Fs.fresh(a.work.resolve(name))
    val q: StreamingQuery = StreamingPipeline.start(spark, StreamingPipeline.Config(
      checkpointDir = base.resolve("checkpoint").toString,
      outputDir = base.resolve("out").toString,
      window = Window, lateness = Lateness,
      statsSnapshot = Some(snapshot),
      wireSource = Some(mem.toDF()),
      dedupKeys = Some(Seq("city", "ts"))))
    val sent = mutable.ArrayBuffer[Sent]()
    try {
      // The first poll starts the query up; the schedule begins once it is
      // committed, so start-up is not charged to the polls after it.
      mem.addData(s.polls.head)
      q.processAllAvailable()
      val t0 = System.currentTimeMillis()
      for ((poll, k) <- s.polls.zipWithIndex.tail) {
        val due = t0 + k.toLong * PollMillis
        var wait = due - System.currentTimeMillis()
        while (wait > 0) { Thread.sleep(wait); wait = due - System.currentTimeMillis() }
        val appended = System.currentTimeMillis()
        val off = mem.addData(poll).json.toLong
        sent += Sent(due, appended, off)
      }
      q.processAllAvailable()
    } finally q.stop()
    q.exception.foreach(e => throw e)
    Ran(sent.toSeq, q.recentProgress.toSeq, s.polls.flatten, base.resolve("out"))
  }

  private def batchEnd(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)

  /** Due-to-commit latency of each poll; None for a poll never committed. */
  def latencies(r: Ran): Seq[Option[Double]] = {
    val ends = r.progress.map(p => (endOffset(p), batchEnd(p))).sortBy(_._2)
    r.sent.map(s => ends.find(_._1 >= s.offset).map { case (_, e) => (e - s.due).toDouble })
  }

  /** The batch twin: every delivered record decoded, deduplicated on
    * (city, ts), cleaned against the snapshot's fences and median, and
    * aggregated into the same tumbling windows. Returns the windows that
    * end at or before `watermark`.
    */
  def twin(spark: SparkSession, r: Ran, snapshot: DataFrame, watermark: Timestamp): DataFrame = {
    import spark.implicits._
    val s = snapshot.agg(
      percentile_approx(col("temperature"), lit(0.05), lit(10000)),
      percentile_approx(col("temperature"), lit(0.95), lit(10000)),
      percentile_approx(col("temperature"), lit(0.5), lit(10000))).collect()(0)
    val (q1, q3, med) = (s.getDouble(0), s.getDouble(1), s.getDouble(2))
    val (lb, ub) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
    KafkaWire.decodeFlat(r.delivered.toDF())
      .select(col("city"), col("timestamp").as("ts"), col("temperature"))
      .dropDuplicates("city", "ts")
      .withColumn("temperature", coalesce(
        when(col("temperature") < lb || col("temperature") > ub, lit(null)).otherwise(col("temperature")),
        lit(med)))
      .groupBy(window(col("ts"), Window), col("city"))
      .agg(avg("temperature").as("value_mean"), min("temperature").as("value_min"),
        max("temperature").as("value_max"), count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("city"), col("value_mean"), col("value_min"), col("value_max"), col("n"))
      .filter(col("window_end") <= lit(watermark))
  }

  /** Windows equal their twin, and none was emitted twice. */
  def checkWindows(spark: SparkSession, r: Ran, snapshot: DataFrame, tally: Tally): Unit = {
    val wm = r.progress.flatMap(p => Option(p.eventTime.get("watermark"))).lastOption
      .map(w => Timestamp.from(java.time.Instant.parse(w))).get
    val out = spark.read.parquet(r.out.resolve("windowed").toString)
      .select("window_start", "window_end", "city", "value_mean", "value_min", "value_max", "n")
    val key = Seq("window_start", "city")
    tally.check("no window emitted twice")(out.groupBy(key.map(col): _*).count().filter(col("count") > 1).isEmpty)
    val expect = twin(spark, r, snapshot, wm)
    val closed = out.filter(col("window_end") <= lit(wm))
    val joined = expect.as("e").join(closed.as("o"), key, "full_outer")
    val bad = joined.filter(
      col("e.n").isNull || col("o.n").isNull || col("e.n") =!= col("o.n") ||
      col("e.value_min") =!= col("o.value_min") || col("e.value_max") =!= col("o.value_max") ||
      abs(col("e.value_mean") - col("o.value_mean")) > lit(1e-9) * greatest(lit(1.0), abs(col("e.value_mean"))))
    val windows = expect.count()
    tally.check(s"$windows closed windows equal the batch twin")(windows > 0 && bad.isEmpty)
  }

  /** The streaming layer's numbers: a warm-up stream, then a measured one
    * of [[Seconds]] s at the open-loop rate, its outputs checked against the
    * batch twin. Runs in the session it is given.
    */
  def layer(a: Args, spark: SparkSession, tally: Tally): Seq[Metric] = {
    val n = Seconds * 1000 / PollMillis
    val sched = schedule(a.seed, n, OwmGen.startEpoch)
    tally.check("the same seed built a byte-identical schedule")(
      schedule(a.seed, n, OwmGen.startEpoch).sha256 == sched.sha256)
    val snapshot = history(spark, a.seed).cache()
    snapshot.count()
    feed(spark, a, "stream-warmup", Schedule(sched.polls.take(WarmPolls), sched.sha256), snapshot)
    val r = feed(spark, a, "stream", sched, snapshot)
    val lat = latencies(r)
    lat.foreach(l => tally.check("poll committed")(l.isDefined))
    checkWindows(spark, r, snapshot, tally)
    snapshot.unpersist()
    Clock.log("stream done")
    val ms = lat.flatten
    layerMetrics(r) ++ Seq(
      Metric("streaming.latency_p50_ms", Stats.median(ms), "ms"),
      Metric("streaming.latency_p95_ms", Stats.quantile(ms, 0.95), "ms"),
      Metric("bench.gen_lag_p95_ms",
        Stats.quantile(r.sent.map(s => (s.appended - s.due).toDouble), 0.95), "ms"))
  }

  private def layerMetrics(r: Ran): Seq[Metric] = {
    val data = r.progress.filter(_.numInputRows > 0)
    def p50(k: String) = Stats.median(data.map(_.durationMs.get(k).toDouble))
    val last = r.progress.last
    val ops = r.progress.flatMap(_.stateOperators)
    val dedup = ops.filter(_.operatorName.toLowerCase.contains("dedup"))
    val inputRows = r.progress.map(_.numInputRows).sum.toDouble
    Seq(
      Metric("streaming.batches", r.progress.size.toDouble, "count"),
      Metric("streaming.rows_per_batch_p50", Stats.median(data.map(_.numInputRows.toDouble)), "count"),
      Metric("streaming.trigger_ms_p50", p50("triggerExecution"), "ms"),
      Metric("streaming.trigger_ms_p95",
        Stats.quantile(data.map(_.durationMs.get("triggerExecution").toDouble), 0.95), "ms"),
      Metric("streaming.add_batch_ms_p50", p50("addBatch"), "ms"),
      Metric("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms"),
      Metric("streaming.wal_commit_ms_p50", p50("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms"),
      Metric("streaming.state_rows_end", last.stateOperators.map(_.numRowsTotal).sum.toDouble, "count"),
      Metric("streaming.state_memory_bytes_end", last.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
      Metric("streaming.rows_dropped_late", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
      Metric("streaming.dedup_ratio", dedup.map(_.numRowsUpdated).sum / inputRows, "ratio"),
      Metric("streaming.sink_files", Fs.dataFiles(r.out.resolve("windowed")).size.toDouble, "count"))
  }
}
