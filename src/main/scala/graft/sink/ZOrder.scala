package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustered parquet layout — the
  * multi-dimensional file-pruning sibling of [[Sinks.writePartitioned]]
  * (coarse directory pruning on ONE low-cardinality column) and
  * [[Sinks.writeBucketed]] (join co-location): cluster the file order
  * on the interleaved rank-bucket bits of k columns so parquet
  * file/row-group min-max statistics prune range predicates on ANY of
  * them, not only the leading sort key.
  *
  * Why this matters at 100 TB: a linear sort on (a, b) packs `a`
  * tightly but leaves every file's `b` range spanning the whole domain
  * — a reader filtering on `b` scans everything. The Z-curve trades a
  * little locality on `a` for bounded ranges on BOTH columns per file
  * (the Delta Lake / Databricks OPTIMIZE ZORDER layout, reimplemented
  * on open Spark APIs): a point-range query on either column touches
  * ~N^((k−1)/k) of the files instead of all of them. This is a LAYOUT
  * MAINTENANCE pass — run it where a compaction would run (the
  * [[graft.dedup.HashLedger.compact]] seam), one shuffle + sorted
  * write, and every later scan pays less.
  *
  * Mechanics: per column, 2^bits−1 approximate quantile cut points
  * (one driver-held vector each — rank-bucketing keeps skewed columns
  * from collapsing onto a few buckets, which would gut the interleave);
  * per row, one native codegen kernel
  * ([[org.apache.spark.sql.graft.ZValueExpr]]) buckets the k values
  * and interleaves their bits into a long; one `repartitionByRange` +
  * within-partition sort on that long lays files out along the curve.
  * The z column itself is dropped before the write — the layout IS the
  * artifact, readers need no extra column.
  */
object ZOrder {

  /** Per-column quantile cut points for `bits`-bit rank bucketing:
    * 2^bits − 1 approximate quantiles (relativeError 1/2^(bits+2) — a
    * fraction of one bucket width, and rank-SKEW from approximation
    * only shifts bucket boundaries, never breaks the interleave).
    * Cut vectors are deduplicated ascending; heavily repeated values
    * simply occupy fewer distinct buckets.
    */
  def quantileCuts(df: DataFrame, cols: Seq[String], bits: Int = 8): Seq[Seq[Double]] = {
    require(cols.nonEmpty, "z-order needs at least one clustering column")
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val doubled = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    doubled.stat.approxQuantile(cols.toArray, probs, 1.0 / (1 << (bits + 2)))
      .map(_.distinct.sorted.toSeq).toSeq
  }

  /** `df` plus the interleaved z-value of `cols` as `zCol`. Exposed for
    * the spec and for callers that want the curve position without the
    * write (e.g. range-bucket diagnostics).
    */
  def withZValue(df: DataFrame, cols: Seq[String], cuts: Seq[Seq[Double]],
                 bits: Int = 8, zCol: String = "__z"): DataFrame =
    df.withColumn(zCol,
      org.apache.spark.sql.graft.ZOrderFunctions.zValueNative(
        array(cols.map(c => col(c).cast("double")): _*), cuts, bits))

  /** Write `df` as `numFiles` parquet files clustered along the
    * Z-curve of `cols`. One quantile pass (driver-held cuts), one
    * range shuffle on the z-value, one sorted write — rows are
    * preserved exactly (the layout is a permutation).
    */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
                    numFiles: Int, bits: Int = 8): Unit = {
    val cuts = quantileCuts(df, cols, bits)
    withZValue(df, cols, cuts, bits)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}

/** A GROWING z-ordered parquet table — the append/compact maintenance
  * pair the layout needs once data arrives in batches (the
  * [[graft.dedup.HashLedger]] append/compact discipline applied to
  * layout): [[append]] lands each batch as its own z-ordered files
  * (batch-local curve — cheap, one small shuffle per batch, no
  * touch of existing files), which keeps per-file min-max spans tight
  * WITHIN a batch but lets cross-batch overlap accumulate — after a
  * year of daily batches every range query touches one file per day.
  * [[compact]] is the periodic layout pass that re-clusters the WHOLE
  * table onto one global curve (the OPTIMIZE ZORDER shape): reads
  * everything once, one range shuffle — after it, file count and
  * per-file spans are as if the table had been written z-ordered in one
  * shot (gated in ZOrderSpec).
  *
  * The table at `path` commits through a [[graft.StoreLog]] manifest:
  * every batch and every compaction is a fresh directory, and [[read]]
  * opens exactly the directories the latest manifest lists.
  */
object ZOrderTable {

  private def open(spark: org.apache.spark.sql.SparkSession, path: String): graft.StoreLog =
    graft.StoreLog.open(spark, new org.apache.hadoop.fs.Path(path))

  /** Append `df` as z-ordered files of its own (batch-local quantile
    * cuts — the batch's own value distribution, which is what a daily
    * partition's readers filter by). Existing files are never touched.
    */
  def append(df: DataFrame, cols: Seq[String], path: String,
             numFiles: Int, bits: Int = 8): Unit = synchronized {
    val log = open(df.sparkSession, path)
    val s = log.snapshot
    val dir = log.fresh("batch")
    ZOrder.writeZOrdered(df, cols, log.path(dir).toString, numFiles, bits)
    log.commit(s.copy(keys = s.keys + (dir -> dir)))
  }

  /** The table's rows: every directory the latest manifest lists. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = synchronized {
    read(spark, open(spark, path))
  }

  private def read(spark: org.apache.spark.sql.SparkSession, log: graft.StoreLog): DataFrame = {
    val dirs = log.snapshot.dirs.toSeq.sorted
    require(dirs.nonEmpty, s"no z-ordered table at ${log.base}")
    spark.read.parquet(dirs.map(log.path(_).toString): _*)
  }

  /** Re-cluster the whole table onto one global curve: global quantile
    * cuts, one range shuffle, `numFiles` output files in a fresh
    * directory that replaces every listed one in one manifest commit.
    * Rows are preserved exactly — compaction is a permutation, like
    * every other maintenance pass here. Run it in the table's
    * maintenance window, like OPTIMIZE: readers holding a frame over the
    * old files lose them when the commit sweeps them.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              cols: Seq[String], numFiles: Int, bits: Int = 8): Unit = synchronized {
    val log = open(spark, path)
    val dir = log.fresh("data")
    ZOrder.writeZOrdered(read(spark, log), cols, log.path(dir).toString, numFiles, bits)
    log.commit(graft.StoreSnapshot(leaves = Map("data" -> dir)))
  }
}

/** Build-or-reuse a persisted Z-ORDERED parquet mirror of one source
  * table — the layout-maintenance artifact of [[ZOrder.writeZOrdered]]
  * under the same discipline as [[BucketedMirror]] (pay the clustering
  * shuffle once, every later multi-column range scan prunes) and the
  * index stores (content-stamped key, supersede-on-rebuild, reuse never
  * scans the source). Where the bucketed mirror serves JOIN co-location
  * on one key, this serves RANGE-PREDICATE pruning on k columns. The
  * mirror commits its one `data` leaf through a [[graft.StoreLog]]
  * manifest ([[graft.StoreLog.buildOnce]]).
  */
object ZOrderMirror {

  /** Bump when the layout derivation changes: reuse is keyed by source
    * content, so a mirror persisted by OLDER layout code would
    * otherwise silently serve the stale file order.
    */
  private val version = "v3" // v3: committed through a StoreLog manifest

  /** Files for a source of `bytes`: one ~[[BucketedMirror.targetBucketBytes]]
    * file per chunk, floored at 16 (local[32]-shape parallelism at test
    * SF) — a 10 TB table lands at ~40 k files, each spanning a bounded
    * z-range of every clustered column.
    */
  def filesFor(bytes: Long): Int =
    math.min(1L << 20, math.max(16L,
      (bytes + BucketedMirror.targetBucketBytes - 1) / BucketedMirror.targetBucketBytes)).toInt

  def root(dir: String, table: String, cols: Seq[String], bits: Int = 8,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration()): java.io.File = {
    // the LAYOUT GEOMETRY is part of the key (the PqIndex/NameIndex
    // discipline): a warm call with different `bits` must rebuild, not
    // silently serve coarser buckets; cols are length-prefixed so
    // Seq("a_b","c") and Seq("a","b_c") cannot alias one directory
    val colKey = cols.map(c => s"${c.length}~$c").mkString("_")
    graft.ArtifactKey.root("zorder_mirror", version,
      new org.apache.hadoop.fs.Path(dir, s"$table.parquet").toString, s"b$bits/$colKey",
      hadoopConf)
  }

  /** Delete the persisted mirror (forces the next ensure to rebuild). */
  def drop(dir: String, table: String, cols: Seq[String], bits: Int = 8): Unit =
    graft.StoreLog.drop(root(dir, table, cols, bits))

  /** The z-ordered mirror of `<dir>/<table>.parquet` clustered on
    * `cols`; builds on the cold path only (quantile pass + one range
    * shuffle + sorted write), then every call is a plain parquet read
    * whose file/row-group min-max stats serve range predicates on ANY
    * of `cols`.
    */
  def ensure(spark: org.apache.spark.sql.SparkSession, dir: String, table: String,
             cols: Seq[String], bits: Int = 8): DataFrame = synchronized {
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val fs = src.getFileSystem(conf)
    // checked before the cold path supersedes older stamps: a missing
    // source must not delete the mirrors of the last one it had
    require(fs.exists(src), s"z-order mirror source does not exist: $src")
    val leaf = graft.StoreLog.buildOnce(spark, root(dir, table, cols, bits, conf), "data") { path =>
      ZOrder.writeZOrdered(spark.read.parquet(src.toString), cols, path,
        filesFor(fs.getContentSummary(src).getLength), bits)
    }
    // memoized handle ([[graft.ReadCache]]): a warm mirror read skips the
    // per-read listing + schema-inference job; any rewrite misses
    graft.ReadCache.parquetLocal(spark, leaf)
  }
}
