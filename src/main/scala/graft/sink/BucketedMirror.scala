package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-or-reuse bucketed mirrors of the fact tables — the storage-level
  * scale lever measured in docs/SCALE_PROBE.md (60 M⋈15 M lineitem⋈orders:
  * 3.70 s from plain parquet vs 1.73 s bucketed, 9 s one-time write):
  * pay the join-key shuffle ONCE at write time, and every later equi-join
  * or aggregation on that key plans ZERO exchanges. At 100 TB this is the
  * difference between re-shuffling the fact table per consumer query and
  * never shuffling it again; the reference's single-node analog is the
  * SQLite B-tree it builds once per load (/root/reference/src/load.py:
  * 143-144) so later lookups don't scan.
  *
  * Reuse ladder (cheapest first, [[Sinks.bucketedTable]]):
  *  1. the session catalog already has the mirror → reuse as-is;
  *  2. a previous JVM committed it (its [[graft.StoreLog]] manifest lists
  *     the `data` leaf) → re-register the external table over the leaf
  *     with bucket-spec DDL — no rewrite;
  *  3. nothing is committed → write it (the one-time shuffle+sort).
  *
  * The write `repartition(nBuckets, key)`s first: repartition's hash
  * partitioning is the same murmur3 `pmod(hash(key), n)` the bucket
  * file-writer uses, so every task holds exactly one bucket's rows and
  * each bucket lands in ONE file — which is what lets the scan publish
  * its in-bucket sort order and the downstream sort-merge join drop both
  * its Sort nodes, not just its exchanges. Mirrors are keyed by
  * (source table, content stamp, bucket count), live under
  * target/bucketed_mirror (untracked; `sbt clean` or deleting the
  * directory forces a rebuild), and mirror the
  * FULL table — one mirror serves every query on the key, and column
  * pruning works on bucketed scans like any parquet scan.
  */
object BucketedMirror {

  /** Floor bucket count. At test SFs every table sizes to this floor
    * (16 buckets of ~40 k rows at sf0.1, matching local[32]'s parallelism
    * shape); bigger tables grow past it via [[bucketsFor]].
    */
  val defaultBuckets = 16

  /** Source bytes per bucket the derivation targets (~one comfortably
    * compressed ≲that-size bucket file and one write/scan task per
    * bucket).
    */
  val targetBucketBytes: Long = 256L * 1024 * 1024

  /** Buckets for a table of `bytes`: bytes/target rounded UP to a power
    * of two, floored at [[defaultBuckets]] — a 10 TB fact table lands at
    * ~64 k buckets of ~160 MB. Power-of-two counts keep any two mirrors
    * at integer-multiple ratios, so a join between differently-sized
    * mirrors can still drop its exchanges via
    * `spark.sql.bucketing.coalesceBucketsInJoin.enabled` (the coalesced
    * side re-sorts, the shuffle stays gone); same-size tables — and
    * everything at test SF — agree exactly and keep the zero-sort plan.
    */
  def bucketsFor(bytes: Long): Int = {
    val needed = math.max(1L, (bytes + targetBucketBytes - 1) / targetBucketBytes)
    var b = defaultBuckets
    while (b < needed && b < (1 << 20)) b <<= 1
    b
  }

  /** Planning confs the mirror's zero-exchange/zero-sort plans rely on,
    * applied ONCE at session construction by every graft entrypoint
    * (Verify / Bench / ExplainAudit / ScaleProbe / the test base) — NOT
    * mutated from ensure(): a session-wide flag flipped mid-call made
    * unrelated queries plan differently before vs after the first mirror
    * query of the session. A session missing them stays correct, just
    * slower: scans stop publishing the write-time in-bucket sort (each
    * consumer SMJ re-sorts) and mixed-bucket-count joins re-shuffle.
    *
    * - `bucketedTableScan.outputOrdering`: since Spark 3.0 a bucketed
    *   scan only publishes its sort order behind this flag (off by
    *   default because multi-file buckets are only per-file sorted). Our
    *   writer guarantees one file per bucket by construction (the
    *   repartition alignment in [[ensure]]), and Spark re-verifies that
    *   per scan even with the flag on — a bucket that gained a second
    *   file falls back to sorting, it cannot return wrong rows.
    * - `coalesceBucketsInJoin.enabled`: size-derived counts can differ
    *   between two mirrors (power-of-two, so always integer multiples);
    *   this lets such joins coalesce the larger side instead of
    *   re-shuffling — up to the conf's maxBucketRatio (default 4). Beyond
    *   that, pass nBuckets explicitly to pin both sides to one count.
    */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
    "spark.sql.bucketing.coalesceBucketsInJoin.enabled" -> "true")

  /** Fold [[sessionConfs]] into a session builder (the one-line hook the
    * entrypoints use).
    */
  def withSessionConfs(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Bump when the persisted layout changes. */
  private val version = "v2" // v2: committed through a StoreLog manifest

  /** Size through the Hadoop FileSystem of the path's scheme — the same
    * stack the table is read with — so hdfs:/s3a: sources size correctly
    * (a java.io.File walk returns 0 for any non-local dir, silently
    * flooring the derivation at 16 buckets: exactly the
    * under-partitioning it exists to prevent). A missing table fails
    * loudly here instead of as a confusing empty-mirror read later.
    */
  private def sourceBytes(spark: SparkSession, dir: String, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"bucketed-mirror source does not exist: $p")
    fs.getContentSummary(p).getLength
  }

  /** The store of the `buckets`-bucket mirror of the current
    * `<dir>/<table>.parquet` content; bucket-count variants of one stamp
    * sit side by side under the stamped directory.
    */
  private[graft] def root(dir: String, table: String, buckets: Int,
                          hadoopConf: org.apache.hadoop.conf.Configuration =
                            new org.apache.hadoop.conf.Configuration()): java.io.File =
    graft.ArtifactKey.root("bucketed_mirror", version,
      new org.apache.hadoop.fs.Path(dir, s"$table.parquet").toString, s"b$buckets", hadoopConf)

  /** Bucketed mirror of `<dir>/<table>.parquet` clustered+sorted on
    * `keyCol`; returns the catalog table, building or re-registering it
    * only when needed. `nBuckets ≤ 0` derives the count from the source
    * size ([[bucketsFor]]); the mirror's path and catalog name embed the
    * count, so a derivation change can never re-attach files written
    * with a different bucket spec. Builds are serialized per JVM —
    * Verify constructs queries from a thread pool and j7/j8 share the
    * orderkey mirrors.
    *
    * The catalog name and the store embed the source's content stamp, so
    * a source regenerated at the same path rebuilds instead of serving
    * the stale mirror, and the build drops every OLDER-STAMP mirror of
    * the table (files and catalog entries). Bucket-count variants of the
    * CURRENT stamp (ensure(nBuckets=4) then ensure(nBuckets=8)) both stay
    * live: DataFrames held in this session may reference either.
    */
  def ensure(spark: SparkSession, dir: String, table: String, keyCol: String,
             nBuckets: Int = 0): DataFrame = synchronized {
    val buckets = if (nBuckets > 0) nBuckets else bucketsFor(sourceBytes(spark, dir, table))
    // the planning flags the mirror plans rely on live in [[sessionConfs]]
    // and are applied at session construction, not mutated here
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(dir, s"$table.parquet").toString
    val stamp = graft.ContentStamp(src, conf)
    Sinks.bucketedTable(spark, s"graft_mirror_${table}_${graft.ArtifactKey.pathKey(dir)}",
        stamp, keyCol, buckets) { name =>
      graft.StoreLog.buildOnce(spark, root(dir, table, buckets, conf), "data") { path =>
        Sinks.writeBucketed(
          graft.Tables(spark, dir, table).repartition(buckets, col(keyCol)),
          name, Seq(keyCol), buckets, path = Some(path), sortCols = Seq(keyCol))
      }
    }
  }
}
