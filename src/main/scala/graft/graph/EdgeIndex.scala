package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-or-reuse the persisted transition-edge table — the cross-run
  * amortization rung the graph family was missing (the LshIndex /
  * NameIndex / BucketedMirror discipline applied to
  * [[Graph.transitionEdges]]): deriving edges is the ONLY data-sized
  * term in every graph query — one lag window over the raw event log —
  * and each of g1–g8 re-paid it per run. This persists the derived
  * (src, dst, n_trans) frame once per source snapshot as a BUCKETED
  * catalog table clustered+sorted on `src` (the layout
  * [[Graph]]'s scaladoc promises: PageRank's per-iteration rank⋈edge
  * join and every out-degree aggregate key on `src`, so consumers
  * ride one write-time shuffle forever). Every later graph query is a
  * scan of the distinct transition universe — the page-pair domain,
  * which at 100 TB of events is orders of magnitude smaller than the
  * log the inline form re-reads.
  *
  * One [[graft.StoreLog]] store per (events source, `variant` — WHICH
  * edge derivation: page keying, user/ts columns — bucket count, since a
  * different layout is a different artifact). Its manifest lists the
  * `edges` leaf and, when a caller provides one, the `views` leaf (the
  * per-user lastViews state an incremental fold links batches with), so
  * the two always commit together; `meta("stamp")` is the content stamp
  * of the events the snapshot indexes. Reuse ladder =
  * [[graft.sink.Sinks.bucketedTable]]'s: session catalog → re-attach the
  * committed leaf via bucket-spec DDL → build.
  */
object EdgeIndex {

  /** Bump when the persisted shape changes: reuse is keyed by source
    * content + variant, so an index persisted by older derivation code
    * would otherwise silently serve stale edges.
    */
  private val version = "v2" // v2: one StoreLog manifest for edges + views

  /** Default bucket count: the edge universe is page-pair-domain-sized
    * (sublinear in events), so the [[graft.sink.BucketedMirror]] floor
    * is the right shape until a corpus outgrows it — then pass the
    * size-derived count explicitly.
    */
  val defaultBuckets: Int = graft.sink.BucketedMirror.defaultBuckets

  private def stampOf(spark: SparkSession, dir: String): String =
    graft.ContentStamp(new org.apache.hadoop.fs.Path(dir, "events.parquet").toString,
      spark.sessionState.newHadoopConf())

  private def prefix(dir: String, variant: String): String =
    s"graft_edge_index_${variant}_${graft.ArtifactKey.pathKey(dir)}"

  private[graft] def root(dir: String, variant: String,
                          buckets: Int = defaultBuckets): java.io.File =
    new java.io.File(
      s"target/edge_index/$version/${graft.ArtifactKey.pathKey(dir)}/${variant}_b$buckets")
      .getAbsoluteFile

  /** Delete the persisted index AND its catalog entries (forces the
    * next ensure to rebuild).
    */
  def drop(spark: SparkSession, dir: String, variant: String,
           nBuckets: Int = defaultBuckets): Unit = synchronized {
    graft.sink.Sinks.dropTables(spark, s"${prefix(dir, variant)}_b${nBuckets}_*")
    graft.ArtifactKey.rmRecursive(root(dir, variant, nBuckets))
  }

  /** The persisted transition-edge table for `dir`'s events under the
    * named derivation `variant`; `edges` (the inline derivation — must
    * produce exactly (src, dst, n_trans)) and `views` are only evaluated
    * on a build, which happens when no snapshot of the current events is
    * committed (a build supersedes an older stamp's snapshot). Returns
    * the catalog table: scans publish the bucket layout, so consumer
    * joins/aggregations on `src` plan no exchange for the edge side.
    */
  def ensure(spark: SparkSession, dir: String, variant: String,
             edges: => DataFrame, nBuckets: Int = defaultBuckets,
             views: => Option[DataFrame] = None): DataFrame = synchronized {
    val stamp = stampOf(spark, dir)
    graft.sink.Sinks.bucketedTable(spark, prefix(dir, variant), stamp, "src", nBuckets) { name =>
      val log = graft.StoreLog.open(spark, root(dir, variant, nBuckets))
      edgesLeaf(log,
        if (log.snapshot.meta.get("stamp").contains(stamp)) log.snapshot
        else commit(log, name, stamp, edges, views, nBuckets))
    }
  }

  /** The persisted per-user lastViews state of the committed snapshot
    * of (dir, variant) — whatever stamp it carries: the standing state
    * an incremental caller folds the next batch against (it belongs to
    * the PREVIOUS log content). None until an [[ensure]]/[[append]]
    * committed one.
    */
  def viewsOf(spark: SparkSession, dir: String, variant: String,
              nBuckets: Int = defaultBuckets): Option[DataFrame] = synchronized {
    val base = root(dir, variant, nBuckets)
    graft.StoreLog.open(spark, base).snapshot.leaves.get("views")
      .map(v => graft.ReadCache.parquetLocal(spark, new java.io.File(base, v)))
  }

  /** Fold one ingest batch's edge-count increments into the persisted
    * table — the maintenance rung the graph family was missing (the
    * IvfIndex/LshIndex append discipline applied to the bucketed edge
    * artifact): `delta` is [[Graph.transitionEdgesDelta]]'s output for
    * the batch (computed against the standing [[viewsOf]] state — the
    * raw historical log is never re-scanned), the merge is one
    * (src, dst) sum over page-pair-domain-sized inputs, and the result
    * commits as the snapshot of the GROWN log's content stamp, in one
    * manifest with `views` — pass the rolled-forward
    * [[Graph.lastViewsApply]] state so the next batch can fold too.
    *
    * IDEMPOTENT per content stamp (the stamp of the grown log IS the
    * batch key): if the committed snapshot already carries it, the call
    * is a replay and returns the table — an at-least-once replay of the
    * same absorbed batch never double-counts. A fold needs a committed
    * snapshot to fold into; seed with [[ensure]]. Parity: folding a
    * time-split log batch-by-batch yields exactly the one-shot
    * [[ensure]] table (EdgeIndexSpec gates it through pageRank).
    */
  def append(spark: SparkSession, dir: String, variant: String,
             delta: DataFrame, views: => Option[DataFrame] = None,
             nBuckets: Int = defaultBuckets): DataFrame = synchronized {
    val stamp = stampOf(spark, dir)
    graft.sink.Sinks.bucketedTable(spark, prefix(dir, variant), stamp, "src", nBuckets) { name =>
      val log = graft.StoreLog.open(spark, root(dir, variant, nBuckets))
      val s = log.snapshot
      edgesLeaf(log, if (s.meta.get("stamp").contains(stamp)) s else {
        require(s.leaves.contains("edges"),
          s"append folds into a committed snapshot of ($dir, $variant); " +
            "seed with ensure() first")
        val merged = graft.ReadCache.parquetLocal(spark, edgesLeaf(log, s))
          .unionByName(checked(delta))
          .groupBy("src", "dst").agg(org.apache.spark.sql.functions.sum(col("n_trans")).as("n_trans"))
        commit(log, name, stamp, merged, views, nBuckets)
      })
    }
  }

  private def checked(e: DataFrame): DataFrame = {
    require(e.columns.toSeq == Seq("src", "dst", "n_trans"),
      s"EdgeIndex expects (src, dst, n_trans); got ${e.columns.mkString(", ")}")
    e
  }

  private def edgesLeaf(log: graft.StoreLog, s: graft.StoreSnapshot): java.io.File =
    new java.io.File(log.base.toUri.getPath, s.leaves("edges"))

  /** Write `edges` (repartitioned so each task holds one bucket → one
    * file per bucket, and scans can publish the in-bucket sort, like
    * BucketedMirror) and `views` into fresh leaves; commit both as the
    * snapshot of `stamp`. The sweep deletes the superseded leaves.
    */
  private def commit(log: graft.StoreLog, name: String, stamp: String,
                     edges: DataFrame, views: Option[DataFrame],
                     nBuckets: Int): graft.StoreSnapshot = {
    val e = log.fresh("edges")
    graft.sink.Sinks.writeBucketed(
      checked(edges).repartition(nBuckets, col("src")), name, Seq("src"), nBuckets,
      path = Some(log.path(e).toString), sortCols = Seq("src"))
    val v = views.map { df =>
      val d = log.fresh("views")
      df.write.parquet(log.path(d).toString)
      "views" -> d
    }
    log.commit(graft.StoreSnapshot(leaves = Map("edges" -> e) ++ v,
      meta = Map("stamp" -> stamp)))
  }
}
