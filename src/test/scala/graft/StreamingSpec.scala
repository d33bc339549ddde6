package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

case class Ev(ts: Timestamp, k: String, v: Double)
case class Click(cts: Timestamp, k: String, page: String)
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

  test("enrichWithDim joins a static dimension onto the stream (broadcast)") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("a", "Alpha"), ("b", "Beta")).toDF("k", "label")
    val mem = MemoryStream[Ev]
    val q = Streaming.enrichWithDim(mem.toDF(), dim, "k")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData(Ev(ts("2024-01-01 01:00:00"), "a", 1.0),
                  Ev(ts("2024-01-01 01:00:00"), "z", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").select("k", "label")
        .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(rows("a") === Some("Alpha"))
      assert(rows("z") === None) // left join keeps unmatched stream rows
    } finally q.stop()
  }

  test("runningDailyChange emits per-key day-over-day diffs (stateful)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val mem = MemoryStream[DayObs]
    val q = runningDailyChange(mem.toDS())
      .writeStream.format("memory").queryName("day_chg")
      .outputMode("append").start()
    try {
      mem.addData(
        DayObs("a", java.sql.Date.valueOf("2024-01-01"), 10.0),
        DayObs("a", java.sql.Date.valueOf("2024-01-02"), 12.0))
      q.processAllAvailable()
      mem.addData(DayObs("a", java.sql.Date.valueOf("2024-01-03"), 11.0))
      q.processAllAvailable()
      val got = spark.table("day_chg")
        .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2))).toSet
      // diffs survive across micro-batches via GroupState
      assert(got === Set(("a", "2024-01-02", 2.0), ("a", "2024-01-03", -1.0)))
    } finally q.stop()
  }

  test("runningDailyChange drops a late row older than the held day " +
       "(no backward diff, no state rewind)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val mem = MemoryStream[DayObs]
    // lateness wide enough that the watermark does NOT drop the late
    // row — the fold's own guard must
    val q = runningDailyChange(mem.toDS(), lateness = "10 days")
      .writeStream.format("memory").queryName("day_chg_late")
      .outputMode("append").start()
    try {
      mem.addData(DayObs("a", java.sql.Date.valueOf("2024-01-03"), 12.0))
      q.processAllAvailable()
      // late replay of an earlier day: folding it would emit a backward
      // diff (01-01, -2.0) and rewind state to 01-01
      mem.addData(DayObs("a", java.sql.Date.valueOf("2024-01-01"), 14.0))
      q.processAllAvailable()
      mem.addData(DayObs("a", java.sql.Date.valueOf("2024-01-04"), 15.0))
      q.processAllAvailable()
      val got = spark.table("day_chg_late")
        .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2))).toSet
      // the only diff is 01-04 against the HELD 01-03 value
      assert(got === Set(("a", "2024-01-04", 3.0)))
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

  test("sessionAgg groups activity separated by the gap into sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streaming.sessionAgg(mem.toDF(), "ts", "k", "v", gap = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 01:00:00"), "a", 1.0),
        Ev(ts("2024-01-01 01:05:00"), "a", 2.0),  // same session (<10 min)
        Ev(ts("2024-01-01 02:00:00"), "a", 3.0))  // new session
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
      assert(rows.length === 2)
      assert(rows.map(_.getAs[Long]("n")).sorted.toSeq === Seq(1L, 2L))
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
      graft.streaming.Streaming.parquetStream(spark, staged.toString, physical))
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

  test("streaming session_window over real events parquet equals batch sessionSummary") {
    // w8's streaming twin: the engine's session_window (gap-closed by
    // event-time silence) on the drained events stream must carve the
    // SAME sessions the batch lag/sum sessionize finds — per (user,
    // session) membership, count, mean, and bounds, with the streaming
    // session's end = last event + gap by definition.
    val dir = "/root/testdata/sf0.001"
    val gapMin = 1440
    val batch = graft.analyze.Analytics.sessionSummary(
      graft.Tables.events(spark, dir), "user_id", "ts", "value", gapMinutes = gapMin)
    val physical = spark.read.parquet(s"$dir/events.parquet").schema
    val staged = java.nio.file.Files.createTempDirectory("graft_ev_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val stream = graft.Tables.normalizeEventsTs(
      graft.streaming.Streaming.parquetStream(spark, staged.toString, physical))
    val q = graft.streaming.Streaming.sessionAgg(stream, "ts", "user_id", "value",
        gap = s"$gapMin minutes")
      .writeStream.format("memory").queryName("ev_sessions")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // keyed by (user, session start): streaming start == batch min ts
      val streamed = spark.table("ev_sessions")
        .select($"user_id",
          date_format($"session_start", "yyyy-MM-dd HH:mm:ss").as("s"),
          date_format($"session_end", "yyyy-MM-dd HH:mm:ss").as("e"),
          $"n", round($"value_mean", 4).as("m"))
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getString(2), r.getLong(3), r.getDouble(4))).toMap
      val batched = batch
        .select($"user_id", $"session_start", $"session_end", $"n",
          round($"value_mean", 4).as("m"))
        .collect().map { r =>
          // streaming session_window.end = last event + gap
          val endPlusGap = java.time.LocalDateTime
            .parse(r.getString(2), java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd HH:mm:ss"))
            .plusMinutes(gapMin)
            .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
          (r.getLong(0), r.getString(1)) -> (endPlusGap, r.getLong(3), r.getDouble(4))
        }.toMap
      assert(streamed.keySet === batched.keySet)
      streamed.foreach { case (k, (e, n, m)) =>
        val (be, bn, bm) = batched(k)
        assert(e === be && n === bn, s"session $k: ($e, $n) vs ($be, $bn)")
        // batch publishes the decimal stableMean4, the stream a double
        // avg — identical to 4 decimals up to a half-way rounding ulp
        assert(math.abs(m - bm) < 2e-4, s"session $k mean: $m vs $bm")
      }
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

  test("intervalJoin: stream-stream join within the time bound, state watermark-bounded") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Ev]
    val clicks = MemoryStream[Click]
    val joined = Streaming.intervalJoin(
      purchases.toDF(), clicks.toDF(), "k", "ts", "cts", within = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").start()
    try {
      purchases.addData(Ev(ts("2024-01-01 10:00:00"), "u1", 99.0))
      clicks.addData(
        Click(ts("2024-01-01 09:45:00"), "u1", "product"),  // within 30 min before
        Click(ts("2024-01-01 08:00:00"), "u1", "home"),     // too early
        Click(ts("2024-01-01 10:10:00"), "u1", "receipt"),  // after purchase
        Click(ts("2024-01-01 09:50:00"), "u2", "other"))    // different key
      q.processAllAvailable()
      val pages = spark.table("ij").select("page").collect().map(_.getString(0)).toSet
      assert(pages === Set("product"))
    } finally q.stop()
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

  test("intervalJoin left_outer: unmatched left rows emit with nulls after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Ev]
    val clicks = MemoryStream[Click]
    val joined = Streaming.intervalJoin(
      purchases.toDF(), clicks.toDF(), "k", "ts", "cts",
      within = "30 minutes", joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ij_outer")
      .outputMode("append").start()
    try {
      purchases.addData(
        Ev(ts("2024-01-01 10:00:00"), "u1", 99.0),   // will match
        Ev(ts("2024-01-01 10:00:00"), "u2", 50.0))   // never matches
      clicks.addData(Click(ts("2024-01-01 09:45:00"), "u1", "product"))
      q.processAllAvailable()
      // advance BOTH watermarks far past u2's join window so the engine
      // can prove no match is coming and emit the null row
      purchases.addData(Ev(ts("2024-01-01 14:00:00"), "zz", 0.0))
      clicks.addData(Click(ts("2024-01-01 14:00:00"), "zz", "late"))
      q.processAllAvailable()
      purchases.addData(Ev(ts("2024-01-01 15:00:00"), "zz", 0.0))
      clicks.addData(Click(ts("2024-01-01 15:00:00"), "zz", "later"))
      q.processAllAvailable()
      val rows = spark.table("ij_outer").select("k", "page")
        .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(rows("u1") === Some("product")) // matched within the bound
      assert(rows.contains("u2"))
      assert(rows("u2") === None)            // unmatched -> emitted with null
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

  test("firstSeenCohorts: min-monotone state; late earlier day revises the cohort") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val mem = MemoryStream[KeyDay]
    // lateness wide enough that the watermark does NOT drop the late
    // earlier day: this spec pins the late-revision semantics inside the
    // watermark; eviction is covered by its own spec below.
    val q = firstSeenCohorts(mem.toDS(), lateness = "365 days")
      .writeStream.format("memory").queryName("cohorts_st")
      .outputMode("append").start()
    try {
      mem.addData(KeyDay(1L, 100), KeyDay(2L, 50))
      q.processAllAvailable()
      // later day: no revision; LATE EARLIER day: revision emitted
      mem.addData(KeyDay(1L, 120), KeyDay(2L, 40))
      q.processAllAvailable()
      val got = spark.table("cohorts_st")
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[Int]("cohort_day")))
      assert(got.toSet === Set((1L, 100), (2L, 50), (2L, 40)))
      // last emission per key is the final assignment
      val last = got.groupBy(_._1).view.mapValues(_.last._2).toMap
      assert(last === Map(1L -> 100, 2L -> 40))
    } finally q.stop()
  }

  test("firstSeenCohorts over real events parquet equals the batch cohort (w15 twin)") {
    val dir = "/root/testdata/sf0.001"
    val physical = spark.read.parquet(s"$dir/events.parquet").schema
    val staged = java.nio.file.Files.createTempDirectory("graft_cohort_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val evStream = graft.Tables.normalizeEventsTs(
        graft.streaming.Streaming.parquetStream(spark, staged.toString, physical))
      .select($"user_id".as("key"), datediff(to_date($"ts"), lit("1970-01-01")).as("day"))
      .as[Streaming.KeyDay]
    val q = Streaming.firstSeenCohorts(evStream)
      .writeStream.format("memory").queryName("cohorts_real")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // min across emissions per key == the final state (min-monotone)
      val streamed = spark.table("cohorts_real").groupBy($"key")
        .agg(min($"cohort_day").as("c"))
        .collect().map(r => r.getAs[Long]("key") -> r.getAs[Int]("c")).toMap
      val batch = graft.Tables.events(spark, dir)
        .groupBy($"user_id")
        .agg(min(datediff(to_date($"ts"), lit("1970-01-01"))).as("c"))
        .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("c")).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("funnelProgress: state carries across batches; later stage-0 enables the chain") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val mem = MemoryStream[StageEvent]
    // lag 100 s: the t=1000 s signup cannot chain to the t=1150 s view,
    // the t=1100 s signup (arriving in a later batch) can — the stored
    // latest-achievable state must reflect it. (Times sit off epoch 0:
    // with eviction's watermark, a t=0 event ties the INITIAL watermark
    // and is filtered as late — a degenerate corner, not the semantics
    // under test.)
    val q = funnelProgress(mem.toDS(), nStages = 2, maxLagSeconds = 100)
      .writeStream.format("memory").queryName("funnel_st")
      .outputMode("append").start()
    try {
      mem.addData(StageEvent(1L, 1000000000L, 0))
      q.processAllAvailable()
      mem.addData(StageEvent(1L, 1100000000L, 0), StageEvent(1L, 1150000000L, 1))
      q.processAllAvailable()
      val got = spark.table("funnel_st")
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[Int]("stage"),
          r.getAs[Long]("tMicros"))).toSet
      assert(got === Set((1L, 0, 1000000000L), (1L, 1, 1150000000L)))
    } finally q.stop()
  }

  test("funnelProgress: late out-of-order stage event never moves state backward") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val mem = MemoryStream[StageEvent]
    // batch 1 records a signup at t=5000 s (watermark -> 5000 s - 1 h
    // lateness = 1400 s). Batch 2 delivers a LATE signup at t=2000 s —
    // out-of-order across batches but ABOVE the watermark, so it reaches
    // the fold rather than being late-filtered — plus a view at t=5050 s
    // with lag 100 s. Overwriting acc(0) with the late event would move
    // the latest-achievable signup back to 2000 s and suppress the
    // 5000 -> 5050 conversion the stored state already allowed; the
    // max-merge keeps state maximal and the chain converts.
    val q = funnelProgress(mem.toDS(), nStages = 2, maxLagSeconds = 100)
      .writeStream.format("memory").queryName("funnel_late")
      .outputMode("append").start()
    try {
      mem.addData(StageEvent(1L, 5000000000L, 0))
      q.processAllAvailable()
      mem.addData(StageEvent(1L, 2000000000L, 0), StageEvent(1L, 5050000000L, 1))
      q.processAllAvailable()
      val got = spark.table("funnel_late")
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[Int]("stage"),
          r.getAs[Long]("tMicros"))).toSet
      assert(got === Set((1L, 0, 5000000000L), (1L, 1, 5050000000L)))
    } finally q.stop()
  }

  test("funnelProgress over real events parquet equals the batch funnel (w14 twin)") {
    val dir = "/root/testdata/sf0.001"
    val stages = Seq("signup", "view", "click", "purchase")
    val lag = 21600L
    val physical = spark.read.parquet(s"$dir/events.parquet").schema
    val staged = java.nio.file.Files.createTempDirectory("graft_funnel_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val stageIdx = stages.zipWithIndex
      .foldLeft(lit(null).cast("int")) { case (acc, (s, i)) =>
        when($"event_type" === s, lit(i)).otherwise(acc)
      }
    val evStream = graft.Tables.normalizeEventsTs(
        graft.streaming.Streaming.parquetStream(spark, staged.toString, physical))
      .select($"user_id".as("key"), unix_micros($"ts").as("tMicros"), stageIdx.as("stage"))
      .filter($"stage".isNotNull)
      .as[Streaming.StageEvent]
    val q = Streaming.funnelProgress(evStream, stages.size, lag)
      .writeStream.format("memory").queryName("funnel_real")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("funnel_real").groupBy($"stage")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n")).toMap
      val st = graft.analyze.Lifecycle.funnelStageTimes(
        graft.Tables.events(spark, dir), "user_id", "ts", "event_type", stages, lag)
      val batch = st.agg(
          count(get($"st", lit(0))).as("n0"),
          (1 until stages.size).map(i => count(get($"st", lit(i))).as(s"n$i")): _*)
        .collect()(0)
      val want = stages.indices.map(i => i -> batch.getAs[Long](s"n$i"))
        .filter(_._2 > 0).toMap
      assert(streamed === want)
    } finally q.stop()
  }

  test("annSearchStream: streamed query micro-batches equal one-shot annTopKIndexed (s2 twin)") {
    // the ANN mirror of the standing-ledger dedup loops above: corpus
    // indexed ONCE (SrpIndex), query vectors arrive as micro-batches,
    // each probed via the persisted-index path. Per-query top-k depends
    // only on (query, corpus), so the streamed union must equal the
    // one-shot batch answer over the same query set.
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val idx = graft.sim.SrpIndex.ensure(spark, dir, emb, nTables = 12)
    val queries = emb.filter($"vec_id" < 8)
    val staged = java.nio.file.Files.createTempDirectory("graft_ann_stream")
    // two files so the bounded reader delivers >1 micro-batch
    queries.filter($"vec_id" < 4).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    queries.filter($"vec_id" >= 4).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val qStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Long)]()
    val q = Streaming.annSearchStream(idx, qStream, k = 5) { res =>
      res.collect().foreach(r => got.add((r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))))
    }
    try q.processAllAvailable() finally q.stop()
    val expected = graft.sim.Similarity.annTopKIndexed(idx, queries, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
    assert(expected.size >= 8) // every query found neighbors — a real probe
  }

  test("ivfSearchStream: streamed query micro-batches equal one-shot ivfTopKAssigned (s4 twin)") {
    // same contract as the SRP twin above, against the OTHER persisted
    // ANN index: corpus cell-assigned once (IvfIndex), query vectors
    // arrive as micro-batches, each probed via the assigned-corpus path.
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val (assigned, cents) = graft.sim.IvfIndex.ensure(spark, dir, emb)
    val queries = emb.filter($"vec_id" < 8)
    val staged = java.nio.file.Files.createTempDirectory("graft_ivf_stream")
    queries.filter($"vec_id" < 4).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    queries.filter($"vec_id" >= 4).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val qStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Long)]()
    val q = Streaming.ivfSearchStream(assigned, cents, qStream, k = 5) { res =>
      res.collect().foreach(r => got.add((r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))))
    }
    try q.processAllAvailable() finally q.stop()
    val expected = graft.sim.Similarity.ivfTopKAssigned(assigned, cents, queries, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
    assert(expected.size >= 8) // every query found neighbors — a real probe
  }

  test("ivfPqSearchStream: streamed query micro-batches equal one-shot IVF-PQ search (s11 twin)") {
    // the composed-index twin: DPP-pruned cell probe + ADC code scan +
    // exact rerank per micro-batch, stateless — streamed union must
    // equal the one-shot candidates+rerank on the same query set.
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val (codesByCell, cents, cb) = graft.sim.IvfPqIndex.ensure(spark, dir, emb)
    val queries = emb.filter($"vec_id" < 8)
    val staged = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream")
    queries.filter($"vec_id" < 4).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    queries.filter($"vec_id" >= 4).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val qStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Long)]()
    val q = Streaming.ivfPqSearchStream(codesByCell, cents, cb, emb,
      qStream, k = 5, kCand = 16) { res =>
      res.collect().foreach(r => got.add((r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))))
    }
    try q.processAllAvailable() finally q.stop()
    val expected = graft.sim.Similarity.exactRerank(
      graft.sim.Similarity.ivfPqCandidatePairs(codesByCell, cents, cb, queries, kCand = 16),
      emb, queries, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
    assert(expected.size >= 8) // every query found neighbors — a real probe
  }

  test("heavyHittersStream: exact regime equals a groupBy recount of the streamed union") {
    // capacity ABOVE the distinct-item universe: the merged summary
    // tracks every item with zero error, so the emitted counts must
    // equal an exact recount of everything streamed so far.
    val tokens = (0 until 500).map(i => s"tok${i % 20}") // 20 distinct, skewed by order
    val staged = java.nio.file.Files.createTempDirectory("graft_hh_stream")
    tokens.take(300).toDF("item").write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    tokens.drop(300).toDF("item").write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    @volatile var last: Seq[(String, Long, Long)] = Seq.empty
    val q = Streaming.heavyHittersStream(stream, "item", k = 20, capacity = 64) { top =>
      last = top.collect().toSeq.map(r =>
        (r.getAs[String]("item"), r.getAs[Long]("est_count"), r.getAs[Long]("n_total")))
    }
    try q.processAllAvailable() finally q.stop()
    val exact = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(last.map(_._3).distinct === Seq(500L)) // n_total saw every row
    assert(last.map(t => t._1 -> t._2).toMap === exact)
  }

  test("heavyHittersStream: under eviction the planted heavy item survives with est >= truth") {
    // capacity far below the distinct universe: eviction churns the
    // summary, but the SpaceSaving guarantee (upper-bound estimates,
    // no false negatives above n/capacity + merge bounds) must hold for
    // the planted dominator across batch merges.
    val heavy = Seq.fill(400)("HOT")
    val noise = (0 until 600).map(i => s"n$i") // 600 singletons
    val staged = java.nio.file.Files.createTempDirectory("graft_hh_evict")
    (heavy.take(200) ++ noise.take(300)).toDF("item").write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    (heavy.drop(200) ++ noise.drop(300)).toDF("item").write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("item",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    @volatile var last: Seq[(String, Long)] = Seq.empty
    val q = Streaming.heavyHittersStream(stream, "item", k = 5, capacity = 8) { top =>
      last = top.collect().toSeq.map(r =>
        (r.getAs[String]("item"), r.getAs[Long]("est_count")))
    }
    try q.processAllAvailable() finally q.stop()
    val hot = last.find(_._1 == "HOT")
    assert(hot.isDefined, s"planted heavy item evicted: $last")
    assert(hot.get._2 >= 400L, "estimate must stay an upper bound of the true count")
  }

  test("heavyHittersStream: kill-and-resume with a checkpoint equals the " +
       "uninterrupted run (summary sidecar + offset checkpoint)") {
    val tokens = (0 until 600).map(i => s"tok${i % 25}")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.StringType)))
    def stage(dir: java.nio.file.Path, parts: Seq[Seq[String]]): Unit =
      parts.zipWithIndex.foreach { case (p, i) =>
        p.toDF("item").write.mode("overwrite").parquet(dir.resolve(s"p$i").toString)
      }
    def stream(dir: java.nio.file.Path) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString + "/*")
    val parts = Seq(tokens.slice(0, 200), tokens.slice(200, 400), tokens.slice(400, 600))

    // uninterrupted reference run over all three batches
    val dirFull = java.nio.file.Files.createTempDirectory("graft_hh_full")
    stage(dirFull, parts)
    @volatile var full: Seq[(String, Long, Long)] = Seq.empty
    val qf = Streaming.heavyHittersStream(stream(dirFull), "item", k = 25, capacity = 64) { top =>
      full = top.collect().toSeq.map(r =>
        (r.getAs[String]("item"), r.getAs[Long]("est_count"), r.getAs[Long]("n_total")))
    }
    try qf.processAllAvailable() finally qf.stop()

    // interrupted run: two batches, STOP (query object discarded), third
    // batch lands, a brand-new query resumes from the same checkpoint
    val dirInc = java.nio.file.Files.createTempDirectory("graft_hh_resume")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hh_ckpt").toString
    stage(dirInc, parts.take(2))
    @volatile var got: Seq[(String, Long, Long)] = Seq.empty
    val q1 = Streaming.heavyHittersStream(stream(dirInc), "item", k = 25,
      capacity = 64, checkpointDir = ckpt) { top =>
      got = top.collect().toSeq.map(r =>
        (r.getAs[String]("item"), r.getAs[Long]("est_count"), r.getAs[Long]("n_total")))
    }
    try q1.processAllAvailable() finally q1.stop()
    assert(got.map(_._3).distinct === Seq(400L)) // pre-kill state saw 2 batches
    parts.drop(2).zipWithIndex.foreach { case (p, i) =>
      p.toDF("item").write.mode("overwrite").parquet(dirInc.resolve(s"p${i + 2}").toString)
    }
    val q2 = Streaming.heavyHittersStream(stream(dirInc), "item", k = 25,
      capacity = 64, checkpointDir = ckpt) { top =>
      got = top.collect().toSeq.map(r =>
        (r.getAs[String]("item"), r.getAs[Long]("est_count"), r.getAs[Long]("n_total")))
    }
    try q2.processAllAvailable() finally q2.stop()

    // resumed run == uninterrupted run: same totals, same per-item counts
    assert(got.map(_._3).distinct === Seq(600L),
      "restart must neither drop nor double-count the pre-kill batches")
    assert(got.map(t => t._1 -> t._2).toMap === full.map(t => t._1 -> t._2).toMap)
  }

  test("funnelProgress evicts idle keys; post-eviction stage-0 re-emits (documented)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    // lag 100 s, zero lateness: once the watermark passes a key's last
    // achievable time + lag, its state is dropped. The proof of eviction
    // is the RE-emission in batch 3: with surviving state, a second
    // stage-0 event emits nothing (acc(0) >= 0 suppresses duplicates).
    val mem = MemoryStream[StageEvent]
    val q = funnelProgress(mem.toDS(), nStages = 2, maxLagSeconds = 100,
        lateness = "0 seconds")
      .writeStream.format("memory").queryName("funnel_evict")
      .outputMode("append").start()
    try {
      mem.addData(StageEvent(1L, 1000000000L, 0))
      q.processAllAvailable()
      // watermark -> 2000 s, far past key 1's timeout (1000 + 100 s)
      mem.addData(StageEvent(2L, 2000000000L, 0))
      q.processAllAvailable()
      // key 1 restarts from scratch: stage-0 re-emits
      mem.addData(StageEvent(1L, 3000000000L, 0))
      q.processAllAvailable()
      val got = spark.table("funnel_evict")
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[Int]("stage"),
          r.getAs[Long]("tMicros"))).toSet
      assert(got === Set((1L, 0, 1000000000L), (2L, 0, 2000000000L),
        (1L, 0, 3000000000L)))
    } finally q.stop()
  }

  test("firstSeenCohorts evicts past the horizon; min-reduce consumers unaffected") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val mem = MemoryStream[KeyDay]
    val q = firstSeenCohorts(mem.toDS(), horizonDays = 10, lateness = "0 seconds")
      .writeStream.format("memory").queryName("cohorts_evict")
      .outputMode("append").start()
    try {
      mem.addData(KeyDay(1L, 100))
      q.processAllAvailable()
      // watermark -> day 200 > key 1's timeout (100 + 10)
      mem.addData(KeyDay(2L, 200))
      q.processAllAvailable()
      // key 1 returns after eviction: re-emits its first day SINCE
      // eviction (a later day — with surviving state, 205 > 100 would
      // emit nothing). min-reduce still yields the true cohort.
      mem.addData(KeyDay(1L, 205))
      q.processAllAvailable()
      val got = spark.table("cohorts_evict")
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[Int]("cohort_day"))).toSet
      assert(got === Set((1L, 100), (2L, 200), (1L, 205)))
      val reduced = spark.table("cohorts_evict").groupBy($"key")
        .agg(min($"cohort_day").as("c"))
        .collect().map(r => r.getAs[Long]("key") -> r.getAs[Int]("c")).toMap
      assert(reduced === Map(1L -> 100, 2L -> 200))
    } finally q.stop()
  }

  test("runningDailyChange evicts after the TTL; comeback day emits no change") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val mem = MemoryStream[DayObs]
    val q = runningDailyChange(mem.toDS(), stateTtlDays = 5, lateness = "0 seconds")
      .writeStream.format("memory").queryName("day_chg_evict")
      .outputMode("append").start()
    try {
      mem.addData(
        DayObs("a", java.sql.Date.valueOf("2024-01-01"), 10.0),
        DayObs("a", java.sql.Date.valueOf("2024-01-02"), 12.0))
      q.processAllAvailable()
      // watermark -> 2024-02-01, far past key a's timeout (01-02 + 5 d)
      mem.addData(DayObs("b", java.sql.Date.valueOf("2024-02-01"), 1.0))
      q.processAllAvailable()
      // comeback after eviction: no diff target -> NO change row for 02-10
      // (with surviving state this batch would emit 20 - 12 = 8.0)
      mem.addData(DayObs("a", java.sql.Date.valueOf("2024-02-10"), 20.0))
      q.processAllAvailable()
      mem.addData(DayObs("a", java.sql.Date.valueOf("2024-02-11"), 25.0))
      q.processAllAvailable()
      val got = spark.table("day_chg_evict")
        .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2))).toSet
      assert(got === Set(("a", "2024-01-02", 2.0), ("a", "2024-02-11", 5.0)))
    } finally q.stop()
  }

  test("entityMatchStream: streamed record micro-batches equal the one-shot " +
       "er3 incrementalEntityMatches (stateless per batch)") {
    // the ER mirror of the ANN search twins: standing universe fixed,
    // records arrive in micro-batches, each conformed independently —
    // the streamed union must equal the one-shot answer on the same rows
    val part = graft.Tables.part(spark, "/root/testdata/sf0.001")
    val standing = part.filter(pmod($"p_partkey", lit(10)) =!= 0)
    val batchRows = part.filter(pmod($"p_partkey", lit(10)) === 0)
    val staged = java.nio.file.Files.createTempDirectory("graft_er_stream")
    batchRows.filter($"p_partkey" < 1000).write.mode("overwrite")
      .parquet(staged.resolve("p1").toString)
    batchRows.filter($"p_partkey" >= 1000).write.mode("overwrite")
      .parquet(staged.resolve("p2").toString)
    val rStream = spark.readStream.schema(part.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString + "/*")
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, String, String, Boolean)]()
    val q = Streaming.entityMatchStream(standing, rStream,
        "p_partkey", "p_name", maxDist = 2) { res =>
      res.collect().foreach(r => got.add((r.getLong(0), r.getString(1),
        r.getString(2), r.getBoolean(3))))
    }
    try q.processAllAvailable() finally q.stop()
    val expected = graft.er.EntityResolution.incrementalEntityMatches(
        batchRows, standing, "p_partkey", "p_name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getBoolean(3))).toSet
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === expected)
    assert(expected.nonEmpty)
  }

  test("scd2Stream: streamed closed + eviction-flushed open runs equal the " +
       "one-shot scd2Intervals (batch parity)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[ChangeObs]
    val q = scd2Stream(mem.toDS(), stateTtlDays = 5, lateness = "0 seconds")
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        ChangeObs(1L, T("2024-01-01 00:00:00"), Some("gold"), 1L),
        ChangeObs(1L, T("2024-01-02 00:00:00"), Some("gold"), 2L),   // same run
        ChangeObs(2L, T("2024-01-01 00:00:00"), None, 3L))           // null run
      q.processAllAvailable()
      // batch-2 rows sit strictly ABOVE batch-1's closing watermark
      // (2024-01-02 00:00 with lateness 0) — a row at or below it is
      // dropped before the fold, the documented watermark contract
      mem.addData(
        ChangeObs(1L, T("2024-01-03 00:00:00"), Some("silver"), 4L), // closes gold
        ChangeObs(2L, T("2024-01-02 12:00:00"), Some("bronze"), 5L)) // closes null
      q.processAllAvailable()
      // watermark far past both keys' TTL (+5 d): next batches fire the
      // timeouts and flush the OPEN runs with valid_to = None
      mem.addData(ChangeObs(999L, T("2024-03-01 00:00:00"), Some("x"), 6L))
      q.processAllAvailable()
      mem.addData(ChangeObs(999L, T("2024-03-02 00:00:00"), Some("x"), 7L))
      q.processAllAvailable()
      val streamed = spark.table("scd2_stream").filter($"key" =!= 999L)
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
      val batch = graft.analyze.Lifecycle.scd2Intervals(
        Seq((1L, T("2024-01-01 00:00:00"), "gold", 1L),
            (1L, T("2024-01-02 00:00:00"), "gold", 2L),
            (2L, T("2024-01-01 00:00:00"), null, 3L),
            (1L, T("2024-01-03 00:00:00"), "silver", 4L),
            (2L, T("2024-01-02 12:00:00"), "bronze", 5L))
          .toDF("k", "t", "tier", "eid"),
        "k", "t", "tier", "eid")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
      assert(streamed === batch,
        s"streamed $streamed must equal one-shot $batch")
    } finally q.stop()
  }

  test("transitionEdgesStream: drained edge counts equal the batch lag window " +
       "(g-family parity)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[PageView]
    val q = transitionEdgesStream(mem.toDS(), stateTtlDays = 30,
      lateness = "0 seconds")
      .writeStream.format("memory").queryName("trans_stream")
      .outputMode("append").start()
    try {
      // user 1: 10 -> 20 -> 10 -> 20 split ACROSS batches (state must
      // carry the chain); user 2: one lonely view (no edge)
      mem.addData(
        PageView(1L, T("2024-01-01 00:01:00"), 1L, 10L),
        PageView(1L, T("2024-01-01 00:02:00"), 2L, 20L),
        PageView(2L, T("2024-01-01 00:05:00"), 5L, 30L))
      q.processAllAvailable()
      // continuation rows sit ABOVE batch-1's closing watermark
      // (00:05 with lateness 0) — the documented arrival contract
      mem.addData(
        PageView(1L, T("2024-01-01 00:06:00"), 3L, 10L),
        PageView(1L, T("2024-01-01 00:07:00"), 4L, 20L))
      q.processAllAvailable()
      val streamed = spark.table("trans_stream")
        .groupBy("src", "dst").count()
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.graph.Graph.transitionEdges(
        Seq((1L, T("2024-01-01 00:01:00"), 1L, 10L),
            (1L, T("2024-01-01 00:02:00"), 2L, 20L),
            (2L, T("2024-01-01 00:05:00"), 5L, 30L),
            (1L, T("2024-01-01 00:06:00"), 3L, 10L),
            (1L, T("2024-01-01 00:07:00"), 4L, 20L))
          .toDF("user_id", "ts", "event_id", "page"),
        "user_id", "page", "ts", "event_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch && batch === Set((10L, 20L, 2L), (20L, 10L, 1L)))
    } finally q.stop()
  }

  test("sessionStateStream: drained closed sessions equal the batch sessionState " +
       "minus each user's open session (w8/w20 parity), value sums bit-exact") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    val rnd = new scala.util.Random(45)
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    // randomized minute-granularity events with duplicated timestamps,
    // null values, and irrational-ish doubles (the micros HALF_UP cast
    // must match Catalyst's double->decimal exactly); delivered in
    // (ts, tie) order across two batches (the arrival contract)
    val evs = (1 to 200).map { i =>
      val t = base + rnd.nextInt(3 * 24 * 60) / 3 * 3 * 60000L
      SessionEvent(rnd.nextInt(4).toLong, new java.sql.Timestamp(t), i.toLong,
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble() * 37.7))
    }.sortBy(e => (e.ts.getTime, e.tie))
    val (b1, b2) = evs.splitAt(120)
    val mem = MemoryStream[SessionEvent]
    val q = sessionStateStream(mem.toDS(), gapMinutes = 360,
      stateTtlDays = 30, lateness = "0 seconds")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("sess_stream")
        .as[SessionRow].collect()
        .map(r => (r.user, r.session_id, r.n, r.nv, r.vsum_micros,
          r.start.getTime, r.end.getTime)).toSet
      // batch twin over the same rows; the stream has emitted everything
      // EXCEPT each user's last (still-open) session
      val df = evs.map(e => (e.user, e.ts, e.value, e.tie))
        .toDF("user", "ts", "value", "tie")
      val st = graft.analyze.Analytics.sessionState(df, "user", "ts", "value", 360)
      val lastSid = st.groupBy(col("user")).agg(max(col("session_id")).as("__mx"))
      val expected = st.join(lastSid, Seq("user"))
        .filter(col("session_id") =!= col("__mx"))
        .select(col("user"), col("session_id"), col("n"), col("nv"),
          // decimal(38,6) -> unscaled micros, exactly (null = all-null
          // session, the stream's 0-sum)
          coalesce((col("vsum") * lit(1000000)).cast("long"), lit(0L))
            .as("vsum_micros"),
          col("start_ts"), col("end_ts"))
        .as[(Long, Long, Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
        .collect()
        .map(r => (r._1, r._2, r._3, r._4, r._5, r._6.getTime, r._7.getTime)).toSet
      assert(streamed === expected,
        "drained closed sessions must equal the batch state minus opens")
      assert(streamed.nonEmpty, "fixture must close at least one session")
    } finally q.stop()
  }

  test("sessionStateStream: eviction flushes the open session; a returning " +
       "user restarts numbering at 0") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[SessionEvent]
    val q = sessionStateStream(mem.toDS(), gapMinutes = 60,
      stateTtlDays = 2, lateness = "0 seconds")
      .writeStream.format("memory").queryName("sess_evict")
      .outputMode("append").start()
    try {
      mem.addData(
        SessionEvent(1L, T("2024-01-01 00:00:00"), 1L, Some(10.0)),
        SessionEvent(1L, T("2024-01-01 00:30:00"), 2L, Some(20.0)))
      q.processAllAvailable()
      // another key's far-future event advances the watermark past the
      // 2-day TTL: user 1's open session flushes via timeout
      mem.addData(SessionEvent(9L, T("2024-01-10 00:00:00"), 3L, None))
      q.processAllAvailable()
      // the returning user starts a FRESH numbering (state was removed)
      mem.addData(SessionEvent(1L, T("2024-01-10 01:00:00"), 4L, Some(5.0)))
      q.processAllAvailable()
      mem.addData(SessionEvent(9L, T("2024-01-20 00:00:00"), 5L, None))
      q.processAllAvailable()
      val rows = spark.table("sess_evict").as[SessionRow].collect()
        .filter(_.user == 1L).map(r => (r.session_id, r.n, r.vsum_micros)).toSet
      assert(rows === Set((0L, 2L, 30000000L), (0L, 1L, 5000000L)),
        s"expected the flushed first session and the restarted one; got $rows")
    } finally q.stop()
  }

  test("transitionEdgesStream: same-millisecond views fold in full timestamp " +
       "precision (batch-order parity)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[PageView]
    val q = transitionEdgesStream(mem.toDS(), stateTtlDays = 30,
      lateness = "0 seconds")
      .writeStream.format("memory").queryName("trans_micros")
      .outputMode("append").start()
    try {
      // two views inside ONE millisecond with the tie ids INVERTED vs
      // time: ms truncation would sort by tie and emit 20 -> 10
      mem.addData(
        PageView(1L, T("2024-01-01 00:00:00.000900"), 3L, 20L),
        PageView(1L, T("2024-01-01 00:00:00.000250"), 7L, 10L))
      q.processAllAvailable()
      val got = spark.table("trans_micros").as[(Long, Long)].collect().toSet
      assert(got === Set((10L, 20L)))
    } finally q.stop()
  }

  test("transitionEdgesStream: eviction forgets the chain — a returning user " +
       "emits no edge across the gap") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[PageView]
    val q = transitionEdgesStream(mem.toDS(), stateTtlDays = 5,
      lateness = "0 seconds")
      .writeStream.format("memory").queryName("trans_evict")
      .outputMode("append").start()
    try {
      mem.addData(PageView(1L, T("2024-01-01 00:00:00"), 1L, 10L))
      q.processAllAvailable()
      // watermark far past user 1's TTL, carried by another user
      mem.addData(PageView(9L, T("2024-03-01 00:00:00"), 2L, 40L))
      q.processAllAvailable()
      mem.addData(PageView(9L, T("2024-03-02 00:00:00"), 3L, 41L))
      q.processAllAvailable() // user 1 evicted here
      mem.addData(
        PageView(1L, T("2024-03-10 00:00:00"), 4L, 20L),
        PageView(1L, T("2024-03-11 00:00:00"), 5L, 30L))
      q.processAllAvailable()
      val got = spark.table("trans_evict").as[(Long, Long)].collect().toSet
      // no (10 -> 20) across the gap; the fresh chain's (20 -> 30) and
      // user 9's (40 -> 41) are the only edges
      assert(got === Set((20L, 30L), (40L, 41L)))
    } finally q.stop()
  }

  test("scd2Stream: a late row landing MID-RUN (since <= ts < lastSeen) is " +
       "ignored, not folded as an early close") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[ChangeObs]
    // lateness wide enough that the watermark does NOT drop the late
    // row — the fold's own guard must
    val q = scd2Stream(mem.toDS(), stateTtlDays = 30, lateness = "10 days")
      .writeStream.format("memory").queryName("scd2_midrun")
      .outputMode("append").start()
    try {
      mem.addData(
        ChangeObs(1L, T("2024-01-01 00:00:00"), Some("gold"), 1L),
        ChangeObs(1L, T("2024-01-05 00:00:00"), Some("gold"), 2L))
      q.processAllAvailable()
      // arrives late, inside the open gold run: folding it would close
      // gold at 01-03 and diverge from the batch twin
      mem.addData(ChangeObs(1L, T("2024-01-03 00:00:00"), Some("silver"), 3L))
      q.processAllAvailable()
      // a genuine post-lastSeen change still closes the run normally
      mem.addData(ChangeObs(1L, T("2024-01-07 00:00:00"), Some("bronze"), 4L))
      q.processAllAvailable()
      val got = spark.table("scd2_midrun")
        .collect().map(r => (Option(r.getString(1)),
          r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
      assert(got === Set(
        (Some("gold"), T("2024-01-01 00:00:00"), Some(T("2024-01-07 00:00:00")))))
    } finally q.stop()
  }

  test("scd2Stream: a key returning after eviction starts a FRESH history " +
       "(no cross-eviction closure — documented)") {
    implicit val sqlCtx = spark.sqlContext
    import Streaming._
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[ChangeObs]
    val q = scd2Stream(mem.toDS(), stateTtlDays = 5, lateness = "0 seconds")
      .writeStream.format("memory").queryName("scd2_comeback")
      .outputMode("append").start()
    try {
      mem.addData(ChangeObs(1L, T("2024-01-01 00:00:00"), Some("gold"), 1L))
      q.processAllAvailable()
      mem.addData(ChangeObs(999L, T("2024-03-01 00:00:00"), Some("x"), 2L))
      q.processAllAvailable()
      mem.addData(ChangeObs(999L, T("2024-03-02 00:00:00"), Some("x"), 3L))
      q.processAllAvailable() // key 1 evicted: gold run flushed open
      mem.addData(
        ChangeObs(1L, T("2024-03-10 00:00:00"), Some("silver"), 4L),
        ChangeObs(1L, T("2024-03-11 00:00:00"), Some("gold"), 5L))
      q.processAllAvailable()
      val got = spark.table("scd2_comeback").filter($"key" === 1L)
        .collect().map(r => (Option(r.getString(1)),
          r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
      // the pre-eviction gold run flushed OPEN (valid_to None) — the
      // comeback's silver run closed against the returning gold, never
      // against pre-eviction history
      assert(got === Set(
        (Some("gold"), T("2024-01-01 00:00:00"), None),
        (Some("silver"), T("2024-03-10 00:00:00"), Some(T("2024-03-11 00:00:00")))))
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

  test("heavyHittersStream: a batch re-delivered after a lost commit entry " +
       "merges once") {
    val tokens = (0 until 600).map(i => s"tok${i % 25}")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.StringType)))
    val dir = java.nio.file.Files.createTempDirectory("graft_hh_replay")
    // one file, hence one micro-batch, per 200 rows
    tokens.grouped(200).zipWithIndex.foreach { case (p, i) =>
      p.toDF("item").coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"p$i").toString)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hh_replay_ckpt").toString
    @volatile var got: Seq[(String, Long, Long)] = Seq.empty
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = Streaming.heavyHittersStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(dir.toString + "/*"),
          "item", k = 25, capacity = 64, checkpointDir = ckpt) { top =>
        got = top.collect().toSeq.map(r =>
          (r.getAs[String]("item"), r.getAs[Long]("est_count"), r.getAs[Long]("n_total")))
      }
      try q.processAllAvailable() finally q.stop()
      q
    }
    val lastBatch = run().lastProgress.batchId
    val first = got
    assert(first.map(_._3).distinct === Seq(600L))
    dropLastCommit(new java.io.File(ckpt, "offsets").toString)
    got = Seq.empty
    val q2 = run()
    assert(q2.recentProgress.map(_.batchId).toSeq === Seq(lastBatch),
      "the restart must re-deliver the last batch, and only it")
    assert(got.map(_._3).distinct === Seq(600L), "the re-delivered batch merged twice")
    assert(got === first)
  }

  /** numRowsTotal of the one state operator of `op` over `batches`, after
    * the first batch and after the last.
    */
  private def stateRows[T: org.apache.spark.sql.Encoder](
      op: org.apache.spark.sql.Dataset[T] => org.apache.spark.sql.Dataset[_],
      batches: Seq[T]*): (Long, Long) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[T]
    val q = op(mem.toDS()).writeStream.format("noop").outputMode("append").start()
    def rows() = q.lastProgress.stateOperators(0).numRowsTotal
    try {
      val counts = batches.map { b =>
        mem.addData(b)
        q.processAllAvailable()
        rows()
      }
      (counts.head, counts.last)
    } finally q.stop()
  }

  test("every evicting twin removes an idle key's state once the watermark " +
       "passes its deadline") {
    import Streaming._
    def d(s: String) = java.sql.Date.valueOf(s)
    def t(s: String) = Timestamp.valueOf(s)
    // keys 1 and 2 open state; key 3's events then carry the watermark far
    // past both deadlines (lateness 0), leaving key 3's state alone
    val table: Seq[(String, () => (Long, Long))] = Seq(
      "runningDailyChange" -> (() => stateRows[DayObs](
        runningDailyChange(_, stateTtlDays = 5, lateness = "0 seconds"),
        Seq(DayObs("1", d("2024-01-01"), 1.0), DayObs("2", d("2024-01-01"), 2.0)),
        Seq(DayObs("3", d("2024-03-01"), 3.0)),
        Seq(DayObs("3", d("2024-03-02"), 4.0)))),
      "scd2Stream" -> (() => stateRows[ChangeObs](
        scd2Stream(_, stateTtlDays = 5, lateness = "0 seconds"),
        Seq(ChangeObs(1L, t("2024-01-01 00:00:00"), Some("a"), 1L),
            ChangeObs(2L, t("2024-01-01 00:00:00"), Some("b"), 2L)),
        Seq(ChangeObs(3L, t("2024-03-01 00:00:00"), Some("c"), 3L)),
        Seq(ChangeObs(3L, t("2024-03-02 00:00:00"), Some("d"), 4L)))),
      "transitionEdgesStream" -> (() => stateRows[PageView](
        transitionEdgesStream(_, stateTtlDays = 5, lateness = "0 seconds"),
        Seq(PageView(1L, t("2024-01-01 00:00:00"), 1L, 10L),
            PageView(2L, t("2024-01-01 00:00:00"), 2L, 20L)),
        Seq(PageView(3L, t("2024-03-01 00:00:00"), 3L, 30L)),
        Seq(PageView(3L, t("2024-03-02 00:00:00"), 4L, 31L)))),
      "sessionStateStream" -> (() => stateRows[SessionEvent](
        sessionStateStream(_, gapMinutes = 60, stateTtlDays = 2, lateness = "0 seconds"),
        Seq(SessionEvent(1L, t("2024-01-01 00:00:00"), 1L, Some(1.0)),
            SessionEvent(2L, t("2024-01-01 00:00:00"), 2L, None)),
        Seq(SessionEvent(3L, t("2024-03-01 00:00:00"), 3L, Some(3.0))),
        Seq(SessionEvent(3L, t("2024-03-02 00:00:00"), 4L, Some(4.0))))),
      "firstSeenCohorts" -> (() => stateRows[KeyDay](
        firstSeenCohorts(_, horizonDays = 10, lateness = "0 seconds"),
        Seq(KeyDay(1L, 100), KeyDay(2L, 100)),
        Seq(KeyDay(3L, 200)),
        Seq(KeyDay(3L, 201)))),
      "funnelProgress" -> (() => stateRows[StageEvent](
        funnelProgress(_, nStages = 2, maxLagSeconds = 100, lateness = "0 seconds"),
        Seq(StageEvent(1L, 1000000000L, 0), StageEvent(2L, 1000000000L, 0)),
        Seq(StageEvent(3L, 5000000000L, 0)),
        Seq(StageEvent(3L, 5001000000L, 1)))))
    table.foreach { case (name, run) =>
      assert(run() === ((2L, 1L)), s"$name: state rows (after keys 1 and 2, at the end)")
    }
  }

  test("evicting twins reject a non-positive TTL or horizon") {
    import Streaming._
    implicit val sqlCtx = spark.sqlContext
    intercept[IllegalArgumentException](runningDailyChange(MemoryStream[DayObs].toDS(), stateTtlDays = 0))
    intercept[IllegalArgumentException](scd2Stream(MemoryStream[ChangeObs].toDS(), stateTtlDays = 0))
    intercept[IllegalArgumentException](transitionEdgesStream(MemoryStream[PageView].toDS(), stateTtlDays = -1))
    intercept[IllegalArgumentException](sessionStateStream(MemoryStream[SessionEvent].toDS(), stateTtlDays = 0))
    intercept[IllegalArgumentException](firstSeenCohorts(MemoryStream[KeyDay].toDS(), horizonDays = 0))
  }
}
