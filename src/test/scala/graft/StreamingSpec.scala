package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

case class Ev(ts: Timestamp, k: String, v: Double)
/** A textful record for the streaming near-dup surface. */
case class TDoc(ts: Timestamp, id: Long, text: String)
/** A row in Kafka's wire shape (KafkaWire.wireSchema). */
case class KRec(key: Array[Byte], value: Array[Byte], topic: String,
                partition: Int, offset: Long, timestamp: Timestamp,
                timestampType: Int)

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedAgg (streaming) equals batch dailyAgg on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      Ev(ts("2024-01-01 01:00:00"), "a", 10.0),
      Ev(ts("2024-01-01 13:00:00"), "a", 20.0),
      Ev(ts("2024-01-02 02:00:00"), "a", 30.0),
      Ev(ts("2024-01-01 05:00:00"), "b", 5.0))
    val mem = MemoryStream[Ev]
    val q = Streaming.windowedAgg(mem.toDF(), "ts", "k", "v")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val got = spark.table("win_agg")
        .select(date_format($"window_start", "yyyy-MM-dd").as("date"), $"k", $"value_mean", $"n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
      assert(got === Set(
        ("2024-01-01", "a", 15.0, 2L),
        ("2024-01-02", "a", 30.0, 1L),
        ("2024-01-01", "b", 5.0, 1L)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops duplicate (k, ts) rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.dedupWithinWatermark(mem.toDF(), "ts", "1 hour", Seq("k", "ts"))
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      val e = Ev(ts("2024-01-01 01:00:00"), "a", 10.0)
      mem.addData(e, e, e, Ev(ts("2024-01-01 02:00:00"), "a", 11.0))
      q.processAllAvailable()
      assert(spark.table("dedup_wm").count() === 2)
    } finally q.stop()
  }

  test("cleanWithStaticBounds nulls+imputes stream rows from snapshot stats") {
    implicit val sqlCtx = spark.sqlContext
    // snapshot: 99 x 10.0 and a 10000.0 -> fence excludes 10000, median 10
    val snapshot = (Seq.fill(99)(10.0) ++ Seq(10000.0)).toDF("v")
    val mem = MemoryStream[Ev]
    val cleaned = Streaming.cleanWithStaticBounds(
      mem.toDF().withColumnRenamed("v", "v0").withColumn("v", $"v0"), snapshot, Seq("v"))
    val q = cleaned.writeStream.format("memory").queryName("stream_clean")
      .outputMode("append").start()
    try {
      mem.addData(Ev(ts("2024-01-01 01:00:00"), "a", 10.0),
                  Ev(ts("2024-01-01 02:00:00"), "a", 99999.0))
      q.processAllAvailable()
      val vs = spark.table("stream_clean").select("v").collect().map(_.getDouble(0)).toSet
      assert(vs === Set(10.0)) // outlier replaced by snapshot median
    } finally q.stop()
  }

  test("StreamingPipeline: source -> window -> foreachBatch parquet, checkpointed") {
    val base = java.nio.file.Files.createTempDirectory("graft_spipe")
    graft.observe.Metrics.reset()
    val q = graft.streaming.StreamingPipeline.start(spark,
      graft.streaming.StreamingPipeline.Config(
        checkpointDir = base.resolve("ckpt").toString,
        outputDir = base.resolve("out").toString,
        cities = Seq("London", "Tokyo"),
        window = "10 minutes", lateness = "5 minutes",
        maxPolls = 200),
      drain = false)
    try {
      q.processAllAvailable()
    } finally q.stop()
    val outDir = new java.io.File(base.resolve("out").resolve("windowed").toString)
    // append mode only emits windows closed by the watermark; the source
    // advances event time each poll (200 polls x 1 min vs 10 min windows
    // + 5 min lateness), so early windows must have finalized and written
    assert(outDir.exists())
    val back = spark.read.parquet(outDir.toString)
    assert(back.columns.contains("value_mean"))
    assert(back.select("city").distinct().count() <= 2)
    assert(graft.observe.Metrics.get(graft.observe.Metrics.StreamWindowsWritten) > 0L)
  }

  test("streaming windowedAgg over real events parquet equals batch dailyAgg") {
    val dir = "/root/testdata/sf0.001"
    val batch = graft.Tables.events(spark, dir)
    // physical schema: whatever the parquet scan yields for this testdata
    // generation (nanos-as-long or TIMESTAMP_NTZ); normalize exactly as
    // Tables.events does so stream and batch agree by construction
    val physical = spark.read.parquet(s"$dir/events.parquet").schema
    // streaming file source needs a directory; stage the single parquet file
    val staged = java.nio.file.Files.createTempDirectory("graft_ev_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val stream = graft.Tables.normalizeEventsTs(
      spark.readStream.schema(physical).option("maxFilesPerTrigger", 1).parquet(staged.toString))
    val q = graft.streaming.Streaming.windowedAgg(stream, "ts", "event_type", "value")
      .writeStream.format("memory").queryName("ev_win")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_win")
        .select(date_format($"window_start", "yyyy-MM-dd").as("date"), $"event_type",
                round($"value_mean", 6).as("m"), $"n")
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      val batched = batch.groupBy(date_format(to_date($"ts"), "yyyy-MM-dd").as("date"), $"event_type")
        .agg(round(avg($"value"), 6).as("m"), count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
      assert(streamed === batched)
    } finally q.stop()
  }

  test("streaming micro-batches dedup against the standing LshIndex (continuous-ingest shape)") {
    // the production continuous-ingest loop: a standing corpus indexed
    // ONCE (LshIndex), each arriving micro-batch probed against it —
    // streamed union of per-batch candidates must equal the one-shot
    // batch answer over the same new docs
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val fresh = docs.filter(pmod($"doc_id", lit(10)) === 0)
    graft.dedup.LshIndex.drop(dir, subset = "streamspec")
    val idx = graft.dedup.LshIndex.ensure(spark, dir, corpus, subset = "streamspec")
    val staged = java.nio.file.Files.createTempDirectory("graft_docs_stream")
    // two files so the bounded reader delivers >1 micro-batch
    fresh.filter($"doc_id" < 250).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    fresh.filter($"doc_id" >= 250).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, Long)]()
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.dedup.Dedup.incrementalCandidatePairsIndexed(idx, batch, "doc_id", "text")
          .collect().foreach(r => got.add((r.getLong(0), r.getLong(1))))
        ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val expected = graft.dedup.Dedup.incrementalCandidatePairs(fresh, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
    assert(expected.nonEmpty || fresh.count() == 0) // the gate must gate something real
    graft.dedup.LshIndex.drop(dir, subset = "streamspec")
  }

  test("streaming micro-batches exact-dedup against the standing HashLedger (d17/d18 twin)") {
    // the exact-dedup pass of the continuous-ingest loop (runs BEFORE
    // the near-dup probe above): corpus content-hash ledger built ONCE,
    // each arriving micro-batch keeps only content-new rows. Per-row
    // membership is independent of batch boundaries, so the streamed
    // union of per-batch keepers must equal the one-shot batch answer.
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val corpus = docs.filter(pmod($"doc_id", lit(10)) =!= 0)
    val fresh = docs.filter(pmod($"doc_id", lit(10)) === 0)
    graft.dedup.HashLedger.drop(dir, subset = "streamspec")
    val ledger = graft.dedup.HashLedger.ensure(spark, dir, corpus, subset = "streamspec")
    // at sf0.001 the mod-10 split happens to leave no cross-split
    // duplicate — inject one (a corpus doc's text under a fresh id) so
    // the gate provably gates, not just passes everything through
    val dupRow = corpus.limit(1).withColumn("doc_id", lit(-1L))
    val freshAll = fresh.unionByName(dupRow)
    val staged = java.nio.file.Files.createTempDirectory("graft_ledger_stream")
    freshAll.filter($"doc_id" < 250).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    freshAll.filter($"doc_id" >= 250).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[(Long, String)]()
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.dedup.Dedup.incrementalExactNewIndexed(ledger, batch, "doc_id", "text")
          .collect().foreach(r => got.add((r.getLong(0), r.getString(1))))
        ()
    }.start()
    try q.processAllAvailable() finally q.stop()
    val expected = graft.dedup.Dedup.incrementalExactNew(freshAll, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
    assert(expected.nonEmpty)
    // and it must GATE: the injected corpus-known duplicate died
    assert(!expected.exists(_._1 == -1L))
    assert(expected.size < freshAll.count())
    graft.dedup.HashLedger.drop(dir, subset = "streamspec")
  }

  /** An OpenWeatherMap-shaped JSON payload as Kafka value bytes. */
  private def owmPayload(city: String, epoch: Long, temp: Double,
                         desc: String = "clear sky"): Array[Byte] =
    s"""{"dt":$epoch,"city_name":"$city","country_code":"XX",
       |"main":{"temp":$temp,"feels_like":$temp,"temp_min":$temp,"temp_max":$temp,
       |"pressure":1000.0,"humidity":50.0},
       |"wind":{"speed":1.0,"deg":90.0},
       |"weather":[{"main":"Clear","description":"$desc"}]}"""
      .stripMargin.replaceAll("\n", "").getBytes("UTF-8")

  private def kRec(city: String, epoch: Long, temp: Double, offset: Long,
                   desc: String = "clear sky"): KRec =
    KRec(city.getBytes("UTF-8"), owmPayload(city, epoch, temp, desc),
      "weather", 0, offset, new Timestamp(epoch * 1000L), 0)

  test("Kafka-wire decode + windowed agg matches the batch twin end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    val recs = Seq(
      kRec("London", epoch + 60, 10.0, 0),
      kRec("London", epoch + 120, 20.0, 1),
      kRec("London", epoch + 4000, 30.0, 2), // second 1-hour window
      kRec("Tokyo", epoch + 90, 5.0, 3))
    // streaming path: MemoryStream of wire rows -> decodeFlat -> window
    val mem = MemoryStream[KRec]
    val flat = graft.sources.KafkaWire.decodeFlat(mem.toDF())
      .select($"city", $"timestamp".as("ts"), $"temperature")
    val q = Streaming.windowedAgg(flat, "ts", "city", "temperature",
      window = "1 hour", lateness = "10 minutes")
      .writeStream.format("memory").queryName("kafka_win")
      .outputMode("complete").start()
    try {
      mem.addData(recs: _*)
      q.processAllAvailable()
      val streamed = spark.table("kafka_win")
        .select($"window_start", $"city", $"value_mean", $"n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
        .toMap
      // batch twin: same wire rows as a static DataFrame through the SAME
      // decode, aggregated with a batch window()
      val batchWire = spark.createDataFrame(
        spark.sparkContext.parallelize(recs.map(r => org.apache.spark.sql.Row(
          r.key, r.value, r.topic, r.partition, r.offset, r.timestamp, r.timestampType))),
        graft.sources.KafkaWire.wireSchema)
      val batched = graft.sources.KafkaWire.decodeFlat(batchWire)
        .groupBy(window($"timestamp", "1 hour"), $"city")
        .agg(avg($"temperature").as("value_mean"), count(lit(1)).as("n"))
        .select($"window.start", $"city", $"value_mean", $"n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3)))
        .toMap
      assert(streamed === batched)
      assert(streamed.size === 3) // (London w1, London w2, Tokyo w1)
    } finally q.stop()
  }

  test("Kafka-wire decode tolerates corrupt payloads (dropped by required-keys filter)") {
    implicit val sqlCtx = spark.sqlContext
    val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    val good = kRec("London", epoch + 60, 10.0, 0)
    val corrupt = KRec("London".getBytes("UTF-8"), "{not json at all".getBytes("UTF-8"),
      "weather", 0, 1, new Timestamp(epoch * 1000L), 0)
    val mem = MemoryStream[KRec]
    val q = graft.sources.KafkaWire.decodeFlat(mem.toDF())
      .writeStream.format("memory").queryName("kafka_corrupt")
      .outputMode("append").start()
    try {
      mem.addData(good, corrupt)
      q.processAllAvailable()
      val rows = spark.table("kafka_corrupt").collect()
      assert(rows.length === 1) // corrupt row filtered, query alive
      assert(rows.head.getAs[String]("city") === "London")
      assert(rows.head.getAs[Double]("temperature") === 10.0)
    } finally q.stop()
  }

  test("KafkaWire encode/decode round-trip: decodeFlat(encode(flat)) == flat") {
    val flat = Seq(
      ("London", "GB", ts("2024-01-01 10:00:00"), 10.5, 9.0, 8.0, 12.0,
       1013.0, 70.0, 3.5, 180.0, "Clear", "clear sky"),
      ("Tokyo", "JP", ts("2024-01-01 11:30:00"), 5.0, 3.0, 2.0, 7.0,
       1020.0, 55.0, 1.0, 90.0, "Rain", "light rain"))
      .toDF("city", "country", "timestamp", "temperature", "feels_like",
        "temp_min", "temp_max", "pressure", "humidity", "wind_speed",
        "wind_direction", "weather_condition", "weather_description")
    val wire = graft.sources.KafkaWire.encode(flat)
    assert(wire.schema.fieldNames.toSeq ===
      graft.sources.KafkaWire.wireSchema.fieldNames.toSeq)
    val back = graft.sources.KafkaWire.decodeFlat(wire)
    assert(back.columns.toSeq === flat.columns.toSeq)
    val a = flat.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("StreamingPipeline kafka branch: wire source -> decode -> window -> parquet") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_kpipe")
    val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    val mem = MemoryStream[KRec]
    val q = graft.streaming.StreamingPipeline.start(spark,
      graft.streaming.StreamingPipeline.Config(
        checkpointDir = base.resolve("ckpt").toString,
        outputDir = base.resolve("out").toString,
        window = "10 minutes", lateness = "5 minutes",
        wireSource = Some(mem.toDF())),
      drain = false)
    try {
      mem.addData((0 until 60).map(i =>
        kRec("London", epoch + i * 60L, 10.0 + i, i.toLong)): _*)
      q.processAllAvailable()
    } finally q.stop()
    // 60 one-minute-apart events over 10-min windows with 5-min lateness:
    // early windows closed and appended to the partitioned sink
    val back = spark.read.parquet(base.resolve("out").resolve("windowed").toString)
    assert(back.columns.contains("value_mean"))
    assert(back.select("city").distinct().collect().map(_.getString(0)).toSeq === Seq("London"))
  }

  test("StreamingPipeline dedupKeys: redelivered wire records count once in windows") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_kdedup")
    val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    val mem = MemoryStream[KRec]
    val q = graft.streaming.StreamingPipeline.start(spark,
      graft.streaming.StreamingPipeline.Config(
        checkpointDir = base.resolve("ckpt").toString,
        outputDir = base.resolve("out").toString,
        window = "10 minutes", lateness = "5 minutes",
        wireSource = Some(mem.toDF()),
        dedupKeys = Some(Seq("city", "ts"))),
      drain = false)
    try {
      // each observation delivered TWICE (at-least-once redelivery), plus
      // enough later events to close the early windows
      val obs = (0 until 40).map(i => kRec("London", epoch + i * 60L, 10.0 + i, i.toLong))
      mem.addData((obs ++ obs): _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(base.resolve("out").resolve("windowed").toString)
    // without dedup every closed 10-min window would have n=20 (10 obs x2);
    // with (city, ts)-keyed dedup each counts once
    val ns = back.collect().map(_.getAs[Long]("n")).toSet
    assert(ns === Set(10L), s"expected deduped windows of 10, got $ns")
  }

  test("StreamingPipeline quarantineChecks: dead-letter route == batch routing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.quality.Checks
    val base = java.nio.file.Files.createTempDirectory("graft_kdlq")
    val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    val checks = Seq(
      Checks.maxValue("temperature", 45.0),
      Checks.inSet("city", Seq("London", "Tokyo"), 1.0))
    val clean = (0 until 60).map(i => kRec("London", epoch + i * 60L, 10.0, i.toLong))
    val dirty = Seq(
      kRec("London", epoch + 30L, 99.0, 1000L), // fails max_value
      kRec("Paris", epoch + 90L, 12.0, 1001L))  // fails in_set
    val mem = MemoryStream[KRec]
    graft.observe.Metrics.reset()
    val qs = graft.streaming.StreamingPipeline.startRouted(spark,
      graft.streaming.StreamingPipeline.Config(
        checkpointDir = base.resolve("ckpt").toString,
        outputDir = base.resolve("out").toString,
        window = "10 minutes", lateness = "5 minutes",
        wireSource = Some(mem.toDF()),
        quarantineChecks = checks),
      drain = false)
    assert(qs.length === 2, "routing config must start main + dead-letter queries")
    try {
      mem.addData((clean ++ dirty): _*)
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
    // dead-letter sink: exactly the violating records, with reasons
    val dlq = spark.read.parquet(base.resolve("out").resolve("quarantine").toString)
      .select($"city", $"temperature", array_join($"failed_checks", ",").as("why"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(dlq === Set(
      ("London", 99.0, "max_value:temperature"),
      ("Paris", 12.0, "in_set:city")))
    assert(graft.observe.Metrics.get(graft.observe.Metrics.StreamRowsQuarantined) === 2L)
    // main sink: violating rows excluded — no Paris, no 99-degree spike in
    // any closed window (the spike's window DID close: events run to +59 min
    // vs a 10-min window + 5-min lateness)
    val main = spark.read.parquet(base.resolve("out").resolve("windowed").toString)
    assert(main.select("city").distinct().collect().map(_.getString(0)).toSeq === Seq("London"))
    val w0 = main.filter($"window_start" === Timestamp.valueOf("2024-01-01 00:00:00")).collect()
    assert(w0.length === 1 && w0(0).getAs[Long]("n") === 10L,
      "first window must hold exactly its 10 clean observations")
    // micro-batch routing == batch routing: the same declared suite over the
    // same wire records decoded as a BATCH frame routes identically
    val batchDirty = Checks.quarantine(
        graft.sources.KafkaWire.decodeFlat(spark.createDataset(clean ++ dirty).toDF())
          .select($"city", $"timestamp".as("ts"), $"temperature"), checks)
      .filter(size($"failed_checks") > 0)
      .select($"city", $"temperature", array_join($"failed_checks", ",").as("why"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    assert(batchDirty === dlq)
  }

  test("StreamingPipeline.start rejects a quarantine config: the single " +
       "handle cannot hold the dead-letter query") {
    // start() returning only the main query would strand a RUNNING
    // checkpointed quarantine query — un-awaitable, un-stoppable, and a
    // drain could tear the session down before its sink flushes
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.StreamingPipeline.start(spark,
        graft.streaming.StreamingPipeline.Config(
          checkpointDir = "/x/never", outputDir = "/x/never",
          window = "10 minutes", lateness = "5 minutes",
          quarantineChecks = Seq(graft.quality.Checks.maxValue("temperature", 45.0))))
    }
    assert(ex.getMessage.contains("startRouted"))
  }

  test("nearDupDedupWithinWatermark: near-identical redelivery dropped; batch twin agrees") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    // 5 distinct tokens x 9 occurrences: every SimHash bit's majority
    // margin is >= 9, so ONE extra token cannot flip any bit — the
    // redelivered text provably keeps the signature. The fixture property
    // is asserted through the batch expression (the state-key equality
    // the stream relies on), so a tokenizer/hash change fails loudly here
    // instead of silently weakening the test.
    val base = Seq.fill(9)("alpha beta gamma delta epsilon").mkString(" ")
    val redelivered = base + " retry"
    val unrelated = "totally different content words entirely other topic"
    def sig(s: String) = Seq(s).toDF("text")
      .select(Dedup.simhash($"text")).collect()(0).getLong(0)
    assert(sig(base) === sig(redelivered), "fixture: signature must survive one token")
    assert(sig(base) !== sig(unrelated), "fixture: unrelated text must differ")
    val mem = MemoryStream[TDoc]
    val q = Streaming.nearDupDedupWithinWatermark(mem.toDF(), "ts", "1 hour", "text")
      .writeStream.format("memory").queryName("neardup_wm")
      .outputMode("append").start()
    try {
      mem.addData(
        TDoc(ts("2024-01-01 01:00:00"), 1L, base),
        TDoc(ts("2024-01-01 01:05:00"), 2L, redelivered), // near-identical re-poll
        TDoc(ts("2024-01-01 01:10:00"), 3L, unrelated))
      q.processAllAvailable()
      val kept = spark.table("neardup_wm").select("id")
        .collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 3L), "near-identical redelivery must be dropped")
      // batch twin: grouping the same records by Dedup.simhash keeps the
      // same survivors — stream state key == batch dedup key
      val batch = Seq((1L, base), (2L, redelivered), (3L, unrelated))
        .toDF("id", "text")
        .groupBy(Dedup.simhash($"text")).agg(min($"id").as("id"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(batch === kept)
    } finally q.stop()
  }

  test("StreamingPipeline dedupSignatureOf: jittered re-polls count once in windows") {
    implicit val sqlCtx = spark.sqlContext
    // the reference's ACTUAL idempotence gap: a re-poll re-serializes the
    // same observation with a jittered capture timestamp and cosmetic
    // payload edits (transform.py re-reads all raw files), so exact
    // (city, ts) keys do NOT match the redelivery — only the signature
    // branch drops it
    val base = java.nio.file.Files.createTempDirectory("graft_ksig")
    val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    def desc(i: Int) = Seq.fill(9)(s"obs$i pressure london reading window").mkString(" ")
    val mem = MemoryStream[KRec]
    val q = graft.streaming.StreamingPipeline.start(spark,
      graft.streaming.StreamingPipeline.Config(
        checkpointDir = base.resolve("ckpt").toString,
        outputDir = base.resolve("out").toString,
        window = "10 minutes", lateness = "5 minutes",
        wireSource = Some(mem.toDF()),
        dedupSignatureOf = Some("weather_description")),
      drain = false)
    try {
      val first = (0 until 40).map(i =>
        kRec("London", epoch + i * 60L, 10.0 + i, i.toLong, desc(i)))
      // redelivery: +7s capture jitter, one extra metadata token — same
      // observation, no exact key match, same token-majority signature
      val repolled = (0 until 40).map(i =>
        kRec("London", epoch + i * 60L + 7L, 10.0 + i, 100L + i, desc(i) + " retry"))
      mem.addData((first ++ repolled): _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(base.resolve("out").resolve("windowed").toString)
    // without the signature branch every closed 10-min window would hold
    // n=20 (10 observations x 2 deliveries — the jittered ts defeats
    // exact keys); signature-keyed state counts each observation once
    val ns = back.collect().map(_.getAs[Long]("n")).toSet
    assert(ns === Set(10L), s"expected signature-deduped windows of 10, got $ns")
  }

  test("windowedAgg sliding: each event contributes to window/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.windowedAgg(mem.toDF(), "ts", "k", "v",
      window = "10 minutes", lateness = "5 minutes", slide = Some("5 minutes"))
      .writeStream.format("memory").queryName("win_slide")
      .outputMode("complete").start()
    try {
      mem.addData(Ev(ts("2024-01-01 01:07:00"), "a", 10.0))
      q.processAllAvailable()
      val starts = spark.table("win_slide")
        .collect().map(_.getAs[java.sql.Timestamp]("window_start").toString).toSet
      // a 01:07 event falls in [01:00,01:10) and [01:05,01:15)
      assert(starts === Set("2024-01-01 01:00:00.0", "2024-01-01 01:05:00.0"))
    } finally q.stop()
  }

  test("windowedAgg in update mode emits revised aggregates as data arrives") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.windowedAgg(mem.toDF(), "ts", "k", "v")
      .writeStream.format("memory").queryName("win_upd")
      .outputMode("update").start()
    try {
      mem.addData(Ev(ts("2024-01-01 01:00:00"), "a", 10.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 02:00:00"), "a", 30.0))
      q.processAllAvailable()
      // update mode re-emits the revised window; latest row carries n=2
      val ns = spark.table("win_upd").select("n").collect().map(_.getLong(0))
      assert(ns.contains(1L) && ns.contains(2L))
    } finally q.stop()
  }

  test("windowedAgg drops events that arrive later than the watermark allows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.windowedAgg(mem.toDF(), "ts", "k", "v",
      window = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("win_late")
      .outputMode("append").start()
    try {
      mem.addData(Ev(ts("2024-01-01 01:00:00"), "a", 1.0))
      q.processAllAvailable()
      // advance event time far past 01:10 + lateness -> closes that window
      mem.addData(Ev(ts("2024-01-01 03:00:00"), "a", 2.0))
      q.processAllAvailable()
      // now a VERY late event for the long-closed 01:20 window
      mem.addData(Ev(ts("2024-01-01 01:20:00"), "a", 99.0))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 05:00:00"), "a", 3.0))
      q.processAllAvailable()
      val windows = spark.table("win_late")
        .collect().map(_.getAs[java.sql.Timestamp]("window_start").toString).toSet
      assert(windows.contains("2024-01-01 01:00:00.0")) // on-time window emitted
      assert(!windows.contains("2024-01-01 01:20:00.0")) // late event dropped
    } finally q.stop()
  }

  /** Deletes the newest entry of a query checkpoint's commit log, as a
    * crash between a batch's sink write and its commit entry leaves it;
    * returns the deleted entry's file.
    */
  private def dropLastCommit(checkpoint: String): java.io.File = {
    val commits = new java.io.File(checkpoint, "commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    new java.io.File(commits, s".${last.getName}.crc").delete()
    assert(last.delete(), s"could not delete $last")
    last
  }

  test("StreamingPipeline: a batch replayed after a lost commit entry writes " +
       "no window and no quarantine row twice") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_replay")
    val epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L
    val clean = (0 until 60).flatMap(i => Seq(
      kRec("London", epoch + i * 60L, 10.0 + i % 7, 2L * i),
      kRec("Tokyo", epoch + i * 60L, 20.0 + i % 5, 2L * i + 1)))
    val dirty = Seq(kRec("Paris", epoch + 90L, 12.0, 1000L))
    val mem = MemoryStream[KRec]
    val ckpt = base.resolve("ckpt").toString
    val cfg = graft.streaming.StreamingPipeline.Config(
      checkpointDir = ckpt,
      outputDir = base.resolve("out").toString,
      window = "10 minutes", lateness = "5 minutes",
      wireSource = Some(mem.toDF()),
      quarantineChecks = Seq(graft.quality.Checks.inSet("city", Seq("London", "Tokyo"), 1.0)))
    def run(): Unit = {
      val qs = graft.streaming.StreamingPipeline.startRouted(spark, cfg)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      qs.foreach(_.exception.foreach(e => throw e))
    }
    mem.addData((clean ++ dirty): _*)
    run()
    def windows() = spark.read.parquet(base.resolve("out").resolve("windowed").toString)
    def quarantined() = spark.read.parquet(base.resolve("out").resolve("quarantine").toString)
    val before = (windows().count(), quarantined().count())
    assert(before._1 > 0 && before._2 === 1L)
    // the crash window: each query's last batch reached its sink, its
    // commit entry did not; the restart replays that batch id
    val lost = Seq(dropLastCommit(ckpt), dropLastCommit(s"$ckpt-quarantine"))
    run()
    assert(lost.forall(_.exists()), "the restart must replay and re-commit the batch")
    val twice = windows().groupBy("window_start", "city").count().filter($"count" > 1)
    assert(twice.isEmpty, twice.collect().mkString(", "))
    assert((windows().count(), quarantined().count()) === before)
  }
}
