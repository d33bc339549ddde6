package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gates for the persisted transition-edge artifact
  * ([[graft.graph.EdgeIndex]]): indexed == inline (the g-family's rows
  * are IDENTICAL through the index — the derivation is deterministic and
  * the index is just where it lives), warm reuse never evaluates the
  * derivation or rewrites files, catalog loss re-attaches the on-disk
  * files without a rebuild, and consumers ride the bucketed layout
  * (a `src` aggregation plans no exchange).
  */
class EdgeIndexSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def edgeRows(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("ensure: cold build == inline derivation; warm ensure evaluates nothing " +
       "and rewrites nothing; catalog loss re-attaches without rebuild") {
    import graft.graph.EdgeIndex
    val inline = SparkEntry.graphEdgesInline(spark, dir)
    EdgeIndex.drop(spark, dir, "spec")
    val idx1 = EdgeIndex.ensure(spark, dir, "spec", inline)
    val expected = edgeRows(inline)
    assert(edgeRows(idx1) === expected, "indexed rows must equal the inline derivation")
    // locate the committed leaf's _SUCCESS through the store's manifest
    val success = new java.io.File(committedLeaf(EdgeIndex.root(dir, "spec"), "edges"),
      "_SUCCESS")
    assert(success.isFile, s"expected _SUCCESS in the committed edges leaf")
    val stamp = success.lastModified
    val idx2 = EdgeIndex.ensure(spark, dir, "spec",
      { fail("warm ensure must not evaluate the edge derivation"); inline })
    assert(success.lastModified === stamp, "warm ensure must not rewrite the index")
    assert(edgeRows(idx2) === expected)
    // a NEW session (simulated: drop only the catalog entry, keep files)
    // must re-attach the files with the bucket spec — never re-derive
    val names = spark.sql("SHOW TABLES LIKE 'graft_edge_index_spec_*'")
      .collect().map(_.getAs[String]("tableName"))
    assert(names.length === 1, s"expected one catalog entry, got ${names.mkString(",")}")
    spark.sql(s"DROP TABLE ${names.head}")
    val idx3 = EdgeIndex.ensure(spark, dir, "spec",
      { fail("re-attach must not evaluate the edge derivation"); inline })
    assert(success.lastModified === stamp, "re-attach must not rewrite the files")
    assert(edgeRows(idx3) === expected)
    EdgeIndex.drop(spark, dir, "spec")
  }

  test("consumers ride the bucketed layout: a src aggregation over the index " +
       "plans no exchange, and pageRank through the index equals inline") {
    import graft.graph.EdgeIndex
    val inline = SparkEntry.graphEdgesInline(spark, dir)
    EdgeIndex.drop(spark, dir, "spec2")
    val idx = EdgeIndex.ensure(spark, dir, "spec2", inline)
    val agg = idx.groupBy("src").agg(sum("n_trans").as("t"))
    agg.collect()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      "src aggregation over the bucketed index must not shuffle")
    def ranks(e: DataFrame) = graft.graph.Graph.pageRank(e, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(ranks(idx) === ranks(inline),
      "pageRank through the index must be bit-identical to inline")
    EdgeIndex.drop(spark, dir, "spec2")
  }

  test("append: a batch folds into the persisted table == one-shot ensure over " +
       "the full log (parity through pageRank); idempotent per content stamp; " +
       "views sidecar feeds the next fold and survives re-attach") {
    import graft.graph.{EdgeIndex, Graph}
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val rows = (0 until 300).map { i =>
      (rnd.nextInt(6).toLong, i.toLong, rnd.nextInt(8).toLong)
    }
    def ev(rs: Seq[(Long, Long, Long)]) = rs.toDF("user_id", "ts_ord", "page")
      .withColumn("ts", timestamp_seconds(col("ts_ord") * 60))
      .withColumn("event_id", col("ts_ord"))
    def deriv(df: DataFrame) =
      Graph.transitionEdges(df, "user_id", "page", "ts", "event_id")
    val tmpRoot = new java.io.File("/tmp/edge_append_spec")
    graft.ArtifactKey.rmRecursive(tmpRoot)
    assert(tmpRoot.mkdirs())
    val evPath = new java.io.File(tmpRoot, "events.parquet").getPath
    val tmpDir = tmpRoot.getPath
    // append before any snapshot: nothing to fold into — loud failure
    ev(rows.take(200)).write.mode("overwrite").parquet(evPath)
    EdgeIndex.drop(spark, tmpDir, "apx")
    val exEarly = intercept[IllegalArgumentException] {
      EdgeIndex.append(spark, tmpDir, "apx",
        deriv(ev(rows.take(10))), views = None)
    }
    assert(exEarly.getMessage.contains("ensure"))
    // seed snapshot + its lastViews sidecar
    val seedEv = spark.read.parquet(evPath)
    EdgeIndex.ensure(spark, tmpDir, "apx", deriv(seedEv),
      views = Some(Graph.lastViews(seedEv, "user_id", "page", "ts", "event_id")))
    assert(EdgeIndex.viewsOf(spark, tmpDir, "apx").nonEmpty,
      "ensure must persist the provided views sidecar")
    // the log grows by one batch — the content stamp (= the batch key) moves
    ev(rows).write.mode("overwrite").parquet(evPath)
    val batch = ev(rows.drop(200))
    val standingViews = EdgeIndex.viewsOf(spark, tmpDir, "apx").get
    val delta = Graph.transitionEdgesDelta(standingViews, batch,
      "user_id", "page", "ts", "event_id")
    val folded = EdgeIndex.append(spark, tmpDir, "apx", delta,
      views = Some(Graph.lastViewsApply(standingViews, batch,
        "user_id", "page", "ts", "event_id")))
    val oneShot = deriv(ev(rows))
    assert(edgeRows(folded) === edgeRows(oneShot),
      "folded table must equal the one-shot derivation over the full log")
    def ranks(e: DataFrame) = Graph.pageRank(e, iters = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(ranks(folded) === ranks(oneShot),
      "pageRank through the folded table must be bit-identical to one-shot")
    // idempotent replay at the same content stamp: never double-counts
    assert(edgeRows(EdgeIndex.append(spark, tmpDir, "apx", delta)) ===
      edgeRows(oneShot))
    // the views state rolled forward to the full log's lastViews
    val viewRows = EdgeIndex.viewsOf(spark, tmpDir, "apx").get
      .collect().map(_.toSeq).toSet
    assert(viewRows === Graph.lastViews(ev(rows), "user_id", "page", "ts", "event_id")
      .collect().map(_.toSeq).toSet)
    // catalog loss: re-attach keeps the folded table AND the sidecar
    val names = spark.sql("SHOW TABLES LIKE 'graft_edge_index_apx_*'")
      .collect().map(_.getAs[String]("tableName"))
    assert(names.length === 1)
    spark.sql(s"DROP TABLE ${names.head}")
    val reattached = EdgeIndex.ensure(spark, tmpDir, "apx",
      { fail("re-attach must not evaluate the edge derivation"); deriv(seedEv) })
    assert(edgeRows(reattached) === edgeRows(oneShot))
    assert(EdgeIndex.viewsOf(spark, tmpDir, "apx").nonEmpty,
      "the live snapshot's views sidecar must survive the re-attach sweep")
    EdgeIndex.drop(spark, tmpDir, "apx")
    graft.ArtifactKey.rmRecursive(tmpRoot)
  }
}
