package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import graft.observe.Metrics
import graft.sources.{LatestSnapshot, RestSource}

class SourcesSpec extends SparkTestBase {
  import RestSource._

  test("S1 retry/backoff: succeeds after transient failures, no sleep after success") {
    var calls = 0
    var sleeps = 0
    val results = fetchAll(
      Seq(City("London", "GB")),
      fetch = { _ => calls += 1; if (calls < 3) throw new RuntimeException("503") else """{"city_name":"London"}""" },
      retries = 3, backoffMs = 2000, sleep = _ => sleeps += 1)
    assert(results.head.payload.isDefined)
    assert(results.head.attempts === 3)
    assert(sleeps === 2) // backoff only between failed attempts
  }

  test("S1 exhausted retries yield empty payload (reference returns {})") {
    val results = fetchAll(
      Seq(City("Tokyo", "JP")),
      fetch = _ => throw new RuntimeException("down"),
      retries = 3, sleep = _ => ())
    assert(results.head.payload.isEmpty && results.head.attempts === 3)
  }

  test("weather_extract_failures counts each city whose retries run out, once") {
    val before = Metrics.get(Metrics.ExtractFailures)
    fetchAll(
      Seq(City("Tokyo", "JP"), City("London", "GB"), City("Oslo", "NO")),
      fetch = c => if (c.name == "London") "{}" else throw new RuntimeException("down"),
      retries = 3, sleep = _ => ())
    assert(Metrics.get(Metrics.ExtractFailures) - before === 2L)
    var calls = 0
    fetchAll(
      Seq(City("Tokyo", "JP"), City("London", "GB")),
      fetch = { _ => calls += 1; if (calls == 1) throw new RuntimeException("503") else "{}" },
      retries = 3, sleep = _ => ())
    assert(Metrics.get(Metrics.ExtractFailures) - before === 2L) // a retried success is no failure
  }

  test("S1 payloads parse schema-first; failed cities contribute no rows") {
    val ok = FetchResult(City("London", "GB"),
      Some("""{"city_name": "London", "country_code": "GB", "main": {"temp": 10.5}}"""), 1)
    val bad = FetchResult(City("Tokyo", "JP"), None, 3)
    val df = toDataFrame(spark, Seq(ok, bad))
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("city_name") === "London")
    assert(rows(0).getAs[org.apache.spark.sql.Row]("main").getAs[Double]("temp") === 10.5)
  }

  test("S6/S7 latestFile picks newest mtime with name tie-break") {
    val dir = Files.createTempDirectory("graft_latest")
    val old = dir.resolve("a.csv"); val newer = dir.resolve("b.csv")
    Files.write(old, "x\n1".getBytes); Files.write(newer, "x\n2".getBytes)
    Files.setLastModifiedTime(old, FileTime.fromMillis(1000000))
    Files.setLastModifiedTime(newer, FileTime.fromMillis(2000000))
    val got = LatestSnapshot.latestFile(spark, dir.toString, ".csv")
    assert(got.exists(_.endsWith("b.csv")))
    // schema-first read of the winner
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.IntegerType)))
    val df = LatestSnapshot.readLatestCsv(spark, dir.toString, schema).get
    assert(df.collect()(0).getInt(0) === 2)
  }

  test("S6 missing directory -> None, no exception") {
    assert(LatestSnapshot.latestFile(spark, "/tmp/definitely/not/here") === None)
  }

  test("DataSourceV2 polling stream: micro-batches, per-city partitions, deterministic rows") {
    val q = spark.readStream
      .format("graft.sources.v2.PollingSource")
      .option("cities", "London,Tokyo")
      .option("rowsPerBatch", "3")
      .option("maxPolls", "6") // finite -> processAllAvailable terminates
      .load()
      .writeStream.format("memory").queryName("polls")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("polls").collect()
      assert(rows.nonEmpty)
      assert(rows.map(_.getAs[String]("city")).toSet === Set("London", "Tokyo"))
      // deterministic synthetic payload: poll 0 London always identical
      val london0 = rows.filter(r => r.getAs[Long]("poll_id") == 0L && r.getAs[String]("city") == "London")
      assert(london0.length === 1)
      assert(london0(0).getAs[Double]("temperature") ===
        graft.sources.v2.PollingSource.ObservationGen.tempFor(0L, "London"))
      // event time advances with the offset
      val ts = rows.filter(_.getAs[String]("city") == "London")
        .map(_.getAs[java.sql.Timestamp]("ts").getTime).sorted
      assert(ts.distinct.length === ts.length)
    } finally q.stop()
  }

  test("polling source resumes from checkpoint without stalling (restart semantics)") {
    val base = java.nio.file.Files.createTempDirectory("graft_poll_restart")
    def run(): Long = {
      val q = spark.readStream
        .format("graft.sources.v2.PollingSource")
        .option("cities", "London").option("maxPolls", "4")
        .load()
        .writeStream.format("parquet")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .option("path", base.resolve("out").toString)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.read.parquet(base.resolve("out").toString).count()
    }
    val first = run()
    assert(first === 4L)          // polls 0..3 drained
    val second = run()            // fresh source instance, same checkpoint
    assert(second === 4L)         // no duplicates, no stall, no replays
  }

  test("S6 readLatestParquet resolves snapshot DIRECTORIES (Spark write shape)") {
    val base = java.nio.file.Files.createTempDirectory("graft_snap")
    import spark.implicits._
    Seq(1).toDF("x").write.parquet(base.resolve("snap_a").toString)
    Thread.sleep(20)
    Seq(2, 3).toDF("x").write.parquet(base.resolve("snap_b").toString)
    java.nio.file.Files.setLastModifiedTime(base.resolve("snap_a"),
      java.nio.file.attribute.FileTime.fromMillis(1000000))
    java.nio.file.Files.setLastModifiedTime(base.resolve("snap_b"),
      java.nio.file.attribute.FileTime.fromMillis(2000000))
    val latest = LatestSnapshot.readLatestParquet(spark, base.toString)
    assert(latest.isDefined)
    assert(latest.get.count() === 2) // newest snapshot, ALL part files
  }
}
