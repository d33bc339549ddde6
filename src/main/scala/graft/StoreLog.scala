package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog

/** One committed state of a persisted store: every directory a reader
  * opens, relative to the store's base.
  *
  *  - `leaves`: named data directories (`corpus`, `buckets`, `seed`, …).
  *  - `keys`:   caller-keyed directories — append generations, StateStore
  *              epochs, ReportStore periods.
  *  - `folded`: batch keys a compact has folded into a leaf, so a replay
  *              of one is a no-op instead of a double count.
  *  - `meta`:   the store's small metadata (group counts, geometry).
  */
final case class StoreSnapshot(leaves: Map[String, String] = Map.empty,
                               keys: Map[String, String] = Map.empty,
                               folded: Seq[String] = Seq.empty,
                               meta: Map[String, String] = Map.empty) {
  def dirs: Set[String] = leaves.values.toSet ++ keys.values

  /** `leaf` followed by every keyed generation, in key order. */
  def generations(leaf: String): Seq[String] = leaves(leaf) +: keys.toSeq.sorted.map(_._2)
}

/** The one commit protocol of every appendable store: a versioned
  * manifest under `<base>/_log/` (Spark's [[HDFSMetadataLog]], the
  * metadata log Structured Streaming commits its micro-batches with).
  *
  * Data directories are immutable. A write (build, append, compact,
  * replay, epoch advance) puts its data in FRESH directories
  * ([[fresh]]), then [[commit]]s by atomically creating manifest n+1
  * that lists them. Readers open only what the latest manifest lists,
  * and opening a store deletes every child of its base that manifest
  * does not list. So a crash before the manifest is created leaves the
  * old snapshot plus garbage, a crash after it leaves the new snapshot
  * plus garbage, and either way the next [[StoreLog.open]] sweeps the
  * garbage: no store needs a roll-forward or roll-back path.
  *
  * Writers are serialized per JVM by the store objects' `synchronized`;
  * two processes committing the same version make the second `add`
  * return false, and [[commit]] fails loudly instead of losing one.
  */
private[graft] final class StoreLog private (spark: SparkSession, val base: Path) {
  private val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
  private val log = new HDFSMetadataLog[StoreSnapshot](spark, new Path(base, "_log").toString)
  private val head = log.getLatest()
  private val version: Long = head.map(_._1).getOrElse(-1L)

  /** The latest committed snapshot (empty before the first commit). */
  val snapshot: StoreSnapshot = head.map(_._2).getOrElse(StoreSnapshot())
  sweep(snapshot)

  /** A directory name no committed manifest lists — `name` stamped
    * with the version the next [[commit]] creates. Opening swept every
    * unlisted directory, so one that exists here is a protocol bug.
    */
  def fresh(name: String): String = {
    val dir = s"$name-${version + 1}"
    require(!fs.exists(path(dir)), s"${path(dir)} exists before its commit")
    dir
  }

  def path(dir: String): Path = new Path(base, dir)

  /** Commit `next` as the store's new state, then delete what it no
    * longer lists.
    */
  def commit(next: StoreSnapshot): StoreSnapshot = {
    StoreLog.failpoint.value("written")
    require(log.add(version + 1, next),
      s"manifest ${version + 1} of $base was committed by another writer")
    StoreLog.failpoint.value("committed")
    log.purge(version + 1)
    sweep(next)
    next
  }

  private def sweep(s: StoreSnapshot): Unit = {
    val keep = s.dirs + "_log"
    if (fs.exists(base))
      fs.listStatus(base).map(_.getPath)
        .filterNot(p => keep(p.getName))
        .foreach(fs.delete(_, true))
  }
}

private[graft] object StoreLog {

  /** Open the store at `base` (any Hadoop filesystem). A base that
    * holds data but no `_log` was written by an older layout: refuse
    * it rather than sweep it away or misread it.
    */
  def open(spark: SparkSession, base: Path): StoreLog = {
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(base) || fs.listStatus(base).isEmpty ||
      fs.exists(new Path(base, "_log")),
      s"$base holds data without a _log manifest (an older store layout)")
    new StoreLog(spark, base)
  }

  /** A store under a local artifact root (target/...). */
  def open(spark: SparkSession, base: java.io.File): StoreLog =
    open(spark, new Path(base.toURI))

  /** The committed leaf `leaf` of the build-once store at `base`. When
    * no manifest lists it yet, `build` writes the fresh directory whose
    * path it is passed, and one commit publishes it.
    */
  def buildOnce(spark: SparkSession, base: java.io.File, leaf: String)
               (build: String => Unit): java.io.File = {
    val log = open(spark, base)
    val s = if (log.snapshot.leaves.contains(leaf)) log.snapshot else {
      val dir = log.fresh(leaf)
      build(log.path(dir).toString)
      log.commit(StoreSnapshot(leaves = Map(leaf -> dir)))
    }
    new java.io.File(base, s.leaves(leaf))
  }

  /** The parquet roots `dirs` of a local store, one memoized read per
    * root unioned: a multi-path partitioned read trips
    * partition-structure inference, and per-root scans keep partition
    * pruning per generation.
    */
  def readLocal(spark: SparkSession, base: java.io.File,
                dirs: Seq[String]): org.apache.spark.sql.DataFrame =
    dirs.map(d => ReadCache.parquetLocal(spark, new java.io.File(base, d)))
      .reduce(_.unionByName(_))

  /** Test seam: called with "written" (data on disk, manifest not yet
    * created) and "committed" (manifest created, sweep not yet run).
    */
  val failpoint = new scala.util.DynamicVariable[String => Unit](_ => ())
}
