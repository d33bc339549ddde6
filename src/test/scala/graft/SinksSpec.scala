package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sink.Sinks

class SinksSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft_$name").resolve("out").toString

  private lazy val df = Seq(
    ("london", "2024-01-01", 10.0),
    ("london", "2024-01-02", 12.0),
    ("tokyo", "2024-01-01", 5.0)).toDF("city", "date", "temperature")

  test("S5 CSV sink round-trips with header") {
    val p = tmp("csv")
    Sinks.writeCsv(df, p)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(p)
    assert(back.count() === 3)
    assert(back.columns.toSeq === Seq("city", "date", "temperature"))
  }

  test("S10 summary CSV: per-group multi-agg rounded") {
    val p = tmp("summary")
    Sinks.writeSummaryCsv(df, "city", Seq("temperature"), p)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(p)
    val london = back.filter($"city" === "london").collect()(0)
    assert(london.getAs[Double]("temperature_mean") === 11.0)
  }

  test("S8 JSON-lines sink round-trips") {
    val p = tmp("json")
    Sinks.writeJson(df, p)
    assert(spark.read.json(p).count() === 3)
  }

  test("S9 partitioned parquet prunes partitions like the SQLite indexes") {
    val p = tmp("part")
    Sinks.writePartitioned(df, p)
    val back = spark.read.parquet(p)
    assert(back.count() === 3)
    // partition pruning: only the london/2024-01-01 directory is read
    val pruned = back.filter($"city" === "london" && $"date" === "2024-01-01")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(pruned.count() === 1)
    assert(new java.io.File(s"$p/city=london/date=2024-01-01").exists())
  }

  test("S9 literal parity: JDBC sink (embedded Derby) + post-write indexes") {
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby")
    val url = s"jdbc:derby:${dbDir}/weather;create=true"
    Sinks.writeJdbc(df, url, "weather_data")
    val back = spark.read.jdbc(url, "weather_data", new java.util.Properties())
    assert(back.count() === 3)
    assert(back.columns.map(_.toLowerCase).sorted.toSeq === Seq("city", "date", "temperature"))
    // the two reference indexes exist (Derby system catalog)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES WHERE ISINDEX")
      val idx = Iterator.continually(rs).takeWhile(_.next()).map(_.getString(1)).toSet
      assert(idx.exists(_.toLowerCase.contains("idx_weather_data_city")))
      assert(idx.exists(_.toLowerCase.contains("idx_weather_data_date")))
    } finally conn.close()
  }

  test("BucketedMirror: regenerated source data forces a rebuild, not stale reuse") {
    // reuse is keyed by (path, bucket count, CONTENT stamp): overwriting
    // the source table at the same path must invalidate the mirror — a
    // path-only key silently served the old rows, and every downstream
    // gate reads the mirror itself, so nothing else could catch it
    val dir = Files.createTempDirectory("graft_mirror_stamp").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(graft.sink.BucketedMirror.ensure(spark, dir, "t", "k").count() === 1)
    Seq((2L, "b"), (3L, "c")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(graft.sink.BucketedMirror.ensure(spark, dir, "t", "k").count() === 2,
      "mirror must rebuild when the source content changes")
  }

  test("BucketedMirror: a missing source table fails loudly at ensure()") {
    // the java.io.File size walk returned 0 for anything non-local or
    // absent and silently floored the bucket derivation; the Hadoop-FS
    // path errors out at the call site instead
    val dir = Files.createTempDirectory("graft_mirror_missing").toString
    intercept[IllegalArgumentException] {
      graft.sink.BucketedMirror.ensure(spark, dir, "no_such_table", "k")
    }
  }
}
