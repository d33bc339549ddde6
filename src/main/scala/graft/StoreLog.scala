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

  /** Empty-corpus handles per (session, store root): nothing is
    * persisted for an empty corpus, so this memo is what keeps a repeat
    * [[ensure]] from re-evaluating the by-name corpus. The root embeds
    * the source's content stamp, so a corpus that gains rows misses; the
    * weak session key lets a stopped session's handles (whose DataFrames
    * are bound to it) be collected. [[drop]] forgets the root's entries.
    */
  private val emptyMemo =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Any]]()

  private def memo[T](spark: SparkSession)(f: scala.collection.mutable.Map[String, Any] => T): T =
    emptyMemo.synchronized(f(emptyMemo.computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)))

  /** The ensure lifecycle of the store at `base` (an [[ArtifactKey.root]]):
    *  1. a committed snapshot is `read`;
    *  2. else this session's empty-corpus handle for `base` is returned;
    *  3. else the source's superseded content stamps are deleted, and
    *  4. `build` runs: `Left(h)` (an empty corpus, nothing written) is
    *     memoized and returned, `Right(s)` (the snapshot of the fresh
    *     directories it wrote) is committed and read.
    * A cold build starts a fresh store lifetime: no generations and no
    * folded keys carry over. Takes no lock: each store object serializes
    * its own calls.
    */
  def ensure[H](spark: SparkSession, base: java.io.File)(read: StoreSnapshot => H)
               (build: StoreLog => Either[H, StoreSnapshot]): H = {
    val log = open(spark, base)
    if (log.snapshot.leaves.nonEmpty) read(log.snapshot)
    else memo(spark)(_.get(base.getPath)).map(_.asInstanceOf[H]).getOrElse {
      ArtifactKey.dropSuperseded(base)
      build(log) match {
        case Left(h) => memo(spark)(_.update(base.getPath, h)); h
        case Right(s) => read(log.commit(s))
      }
    }
  }

  /** The committed leaf `leaf` of the build-once store at `base`: the
    * [[ensure]] lifecycle where `build` fills the fresh directory whose
    * path it is passed.
    */
  def buildOnce(spark: SparkSession, base: java.io.File, leaf: String)
               (build: String => Unit): java.io.File =
    ensure(spark, base)(s => new java.io.File(base, s.leaves(leaf))) { log =>
      val dir = log.fresh(leaf)
      build(log.path(dir).toString)
      Right(StoreSnapshot(leaves = Map(leaf -> dir)))
    }

  /** Delete the store at `base` and forget its empty-corpus handle in
    * every session, so the next [[ensure]] rebuilds.
    */
  def drop(base: java.io.File): Unit = {
    emptyMemo.synchronized(emptyMemo.values.forEach(_ -= base.getPath))
    ArtifactKey.rmRecursive(base)
  }

  private def committed(log: StoreLog, op: String): StoreSnapshot = {
    require(log.snapshot.leaves.nonEmpty,
      s"$op requires a committed store — ensure() first (${log.base})")
    log.snapshot
  }

  /** The append lifecycle: `write` fills one fresh generation directory
    * (its path is passed) and one commit adds it to the snapshot's keys.
    * Requires a committed base. Keyed (`key` = a batch or epoch label):
    * idempotent per key — a replay replaces its own generation, and a
    * replay of a key [[compact]] folded is a no-op. Unkeyed: every call
    * adds a generation (at-least-once).
    */
  def append[H](spark: SparkSession, base: java.io.File, key: Option[String])
               (read: StoreSnapshot => H)(write: (StoreSnapshot, String) => Unit): H = {
    key.foreach(k => require(k.nonEmpty && k.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"a batch or epoch key must be a [A-Za-z0-9_-]+ label; got '$k'"))
    val log = open(spark, base)
    val s = committed(log, "append")
    if (key.exists(s.folded.contains)) read(s)
    else {
      val gen = log.fresh(key.fold("append")("append_" + _))
      write(s, log.path(gen).toString)
      read(log.commit(s.copy(keys = s.keys + (key.getOrElse(gen) -> gen))))
    }
  }

  /** The compact lifecycle: `fold` writes the folded leaves into fresh
    * directories and returns the snapshot with them (and any re-sized
    * meta); one commit drops every generation and records their batch
    * keys as folded, so [[append]] no-ops a replay of one. Requires a
    * committed base.
    */
  def compact[H](spark: SparkSession, base: java.io.File)(read: StoreSnapshot => H)
                (fold: (StoreLog, StoreSnapshot) => StoreSnapshot): H = {
    val log = open(spark, base)
    val s = committed(log, "compact")
    // an unkeyed generation is listed under its own directory name
    read(log.commit(fold(log, s).copy(keys = Map.empty,
      folded = s.folded ++ s.keys.collect { case (k, gen) if k != gen => k })))
  }

  /** The file count a fold of the local directories `dirs` of `base`
    * writes: one ~[[graft.sink.BucketedMirror.targetBucketBytes]] file
    * per chunk of their parquet bytes (a listing, no Spark job), at
    * least one.
    */
  def foldFiles(base: java.io.File, dirs: Seq[String]): Int = {
    val bytes = dirs.flatMap(d => Option(new java.io.File(base, d).listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = graft.sink.BucketedMirror.targetBucketBytes
    math.max(1L, (bytes + target - 1) / target).toInt
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
