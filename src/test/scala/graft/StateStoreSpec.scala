package graft

import org.apache.spark.sql.functions._

/** Gates for the persisted standing-state artifact ([[StateStore]]):
  * build-once reuse, epoch progression with at-least-once safety, and
  * the load-bearing claim — folding a batch against the ARTIFACT is
  * hash-identical to folding against the freshly recomputed state
  * (parquet round-trips every state column exactly), which is what
  * lets the registered fold queries (w18/w20/g9) measure the batch
  * term alone.
  */
class StateStoreSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("ensure builds once; advance/latest walk epochs; a half-written epoch " +
       "is invisible until its replay completes it; advance before ensure " +
       "fails loudly") {
    StateStore.drop(dir, "events", "spec_state")
    val a = StateStore.ensure(spark, dir, "events", "spec_state",
      Seq((1L, 10L)).toDF("k", "v"))
    assert(a.collect().map(_.toSeq).toSet === Set(Seq(1L, 10L)))
    val warm = StateStore.ensure(spark, dir, "events", "spec_state",
      { fail("warm ensure must not evaluate the state"); a })
    assert(warm.collect().map(_.toSeq).toSet === Set(Seq(1L, 10L)))
    val ex = intercept[IllegalArgumentException] {
      StateStore.advance(spark, dir, "events", "spec_never_seeded", "e1",
        Seq((1L, 1L)).toDF("k", "v"))
    }
    assert(ex.getMessage.contains("ensure"))
    // no epochs yet: latest is the seed
    def latestV: Long = StateStore.latest(spark, dir, "events", "spec_state")
      .get.collect()(0).getLong(1)
    assert(latestV === 10L)
    StateStore.advance(spark, dir, "events", "spec_state", "0001",
      Seq((1L, 20L)).toDF("k", "v"))
    StateStore.advance(spark, dir, "events", "spec_state", "0002",
      Seq((1L, 30L)).toDF("k", "v"))
    assert(latestV === 30L, "latest must take the lexicographic-max epoch")
    // an at-least-once replay of an epoch overwrites ITSELF, never forks
    StateStore.advance(spark, dir, "events", "spec_state", "0002",
      Seq((1L, 31L)).toDF("k", "v"))
    assert(latestV === 31L)
    // latest is the greatest committed KEY, not the newest commit
    StateStore.advance(spark, dir, "events", "spec_state", "0001",
      Seq((1L, 21L)).toDF("k", "v"))
    assert(latestV === 31L)
    // a half-written epoch (no _SUCCESS — a crash mid-write) is invisible
    val half = new java.io.File(
      StateStore.root(dir, "events", "spec_state",
        spark.sessionState.newHadoopConf()), "epoch_0003")
    assert(half.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(half, "part-junk.parquet").toPath, Array[Byte](1))
    assert(latestV === 31L, "an uncommitted epoch must stay invisible")
    StateStore.drop(dir, "events", "spec_state")
    assert(StateStore.latest(spark, dir, "events", "spec_state").isEmpty)
  }

  test("fold-from-artifact == fold-from-recomputed-state hash-identically " +
       "for the three registered fold shapes (w20 sessions, w18 scd2, g9 edges)") {
    import graft.analyze.{Analytics, Lifecycle}
    import graft.graph.Graph
    val ev = Tables.events(spark, dir)
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val b1 = ev.filter(col("ts") < cut)
    val b2 = ev.filter(col("ts") >= cut)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    // w20: session state + frontier
    StateStore.drop(dir, "events", "spec_w20_state")
    StateStore.drop(dir, "events", "spec_w20_frontier")
    val st0 = Analytics.sessionState(b1, "user_id", "ts", "value", gapMinutes = 1440)
    val f0 = Lifecycle.scd2Frontier(b1, "user_id", "ts", "event_id")
    val stA = StateStore.ensure(spark, dir, "events", "spec_w20_state", st0)
    val fA = StateStore.ensure(spark, dir, "events", "spec_w20_frontier", f0)
    def sessionFold(st: org.apache.spark.sql.DataFrame,
                    f: org.apache.spark.sql.DataFrame) =
      rows(Analytics.sessionPublish(Analytics.sessionsApplyBatch(st, f, b2,
        "user_id", "ts", "value", "event_id", gapMinutes = 1440)._1, "user_id"))
    assert(sessionFold(stA, fA) === sessionFold(st0, f0),
      "w20 fold through the artifact diverged from the recomputed state")
    StateStore.drop(dir, "events", "spec_w20_state")
    StateStore.drop(dir, "events", "spec_w20_frontier")

    // w18: scd2 open runs
    StateStore.drop(dir, "events", "spec_w18_state")
    val iv0 = Lifecycle.scd2Intervals(b1, "user_id", "ts", "event_type", "event_id")
    val ivA = StateStore.ensure(spark, dir, "events", "spec_w18_state", iv0)
    def scd2Fold(iv: org.apache.spark.sql.DataFrame) =
      rows(Lifecycle.scd2ApplyBatch(iv, b2, "user_id", "ts", "event_type", "event_id"))
    assert(scd2Fold(ivA) === scd2Fold(iv0),
      "w18 fold through the artifact diverged from the recomputed state")
    StateStore.drop(dir, "events", "spec_w18_state")

    // g9: standing edges + lastViews
    StateStore.drop(dir, "events", "spec_g9_edges")
    StateStore.drop(dir, "events", "spec_g9_views")
    val evp = ev.withColumn("page", pmod(col("event_id"), lit(50L)))
    val p1 = evp.filter(col("ts") < cut)
    val p2 = evp.filter(col("ts") >= cut)
    val e0 = Graph.transitionEdges(p1, "user_id", "page", "ts", "event_id")
    val v0 = Graph.lastViews(p1, "user_id", "page", "ts", "event_id")
    val eA = StateStore.ensure(spark, dir, "events", "spec_g9_edges", e0)
    val vA = StateStore.ensure(spark, dir, "events", "spec_g9_views", v0)
    def edgeFold(e: org.apache.spark.sql.DataFrame,
                 v: org.apache.spark.sql.DataFrame) =
      rows(Graph.transitionEdgesIncrement(e, v, p2,
        "user_id", "page", "ts", "event_id"))
    assert(edgeFold(eA, vA) === edgeFold(e0, v0),
      "g9 fold through the artifact diverged from the recomputed state")
    StateStore.drop(dir, "events", "spec_g9_edges")
    StateStore.drop(dir, "events", "spec_g9_views")
  }
}
