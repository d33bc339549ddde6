package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-or-reuse the persisted MinHash-LSH bucket index of a TEXT corpus —
  * the text-side sibling of [[graft.sim.SrpIndex]] (embeddings) and
  * [[graft.sim.IvfIndex]] (cells): pay the corpus shingling + banding scan
  * ONCE, persist the (id, band, bucket) assignments partitioned by a
  * bounded bucket-group key, and every later incremental-dedup batch joins
  * its own (small) bucket table against the standing index. Without it,
  * each new batch re-tokenizes and re-hashes the WHOLE corpus — at 100 TB
  * that corpus pass, not the candidate join, dominates the daily dedup.
  *
  * Layout (under target/lsh_index/v4/<tag>/s<sh>_b<bands>_r<rows>):
  *  - `buckets`: (id, band, bucket, bsize) partitioned by
  *    `__grp = pmod(xxhash64(band, bucket), groups)` — narrow rows (three
  *    longs); the shingle SETS are deliberately NOT persisted. The verify
  *    stage re-derives shingles for only the candidate-hit ids by joining
  *    back to the source corpus ([[Dedup.jaccardForPairs]]) — candidates
  *    are a sliver of the corpus, so re-shingling them is far cheaper
  *    than materializing every document's shingle array next to the
  *    index. A probe batch joins on (band, bucket, __grp); with the
  *    batch side broadcast, dynamic partition pruning drops every
  *    bucket-group the batch never touches at scan time (the SrpIndex /
  *    IvfIndex 100 TB shape).
  *  - the manifest's meta: (shingle, bands, rows, groups, n, id_col,
  *    text_col) — the banding geometry. Probes MUST band with the exact
  *    geometry the corpus was indexed with; reading it here keeps that
  *    true across JVMs.
  *
  * Reuse ladder and keying follow [[graft.sim.SrpIndex]]: a committed
  * [[graft.StoreLog]] manifest → read back; none → build. The tag embeds basename + path hash
  * + [[graft.ContentStamp]], so a regenerated corpus forces a rebuild;
  * a cold build drops superseded stamps of the same source. Builds are
  * serialized per JVM (Verify's 4-thread pool).
  */
object LshIndex {

  /** `idCol`/`textCol` record which columns the index was BUILT over (from
    * the manifest meta): a probe must join the standing side on the
    * build-time id column, not whatever the probe batch happens to call
    * its own — see [[Dedup.incrementalCandidatePairsIndexed]].
    */
  final case class Handle(buckets: DataFrame, shingleSize: Int, bands: Int,
                          rowsPerBand: Int, groups: Int,
                          idCol: String, textCol: String)

  /** Bump when the layout or banding semantics change.
    * v2: meta row gained (id_col, text_col).
    * v3: bucket rows gained `bsize` — the (band, bucket) occupancy,
    *     denormalized at build so a probe's bucket-occupancy cap
    *     ([[Dedup.defaultBucketCap]]) is a map-side scan filter instead
    *     of a per-probe aggregation over the standing corpus.
    * v4: directories and geometry listed by a [[graft.StoreLog]]
    *     manifest; appends land as their own generations.
    */
  private val version = "v4"

  /** Same directory-count economics as [[graft.sim.SrpIndex]]: groups are
    * one-file directories, so size them by rows (N·bands exploded rows)
    * against the same 64 k-row target, clamped to [16, 4096].
    */
  def autoGroups(rows: Long): Int =
    math.max(16, math.min(4096,
      math.ceil(rows.toDouble / graft.sim.SrpIndex.targetRowsPerGroup).toInt))

  /** The group key both sides derive from a (band, bucket) pair — one
    * definition so a probe can never hash differently from the layout.
    */
  private[dedup] def grpOf(band: org.apache.spark.sql.Column,
                           bucket: org.apache.spark.sql.Column, groups: Int) =
    pmod(xxhash64(band, bucket), lit(groups.toLong)).cast("int")

  /** `subset` keys WHICH slice of the source table was indexed (e.g. the
    * standing-corpus split of an incremental dedup) — two different
    * subsets of the same table must not share an index directory.
    */
  def root(dir: String, shingleSize: Int, bands: Int, rowsPerBand: Int,
           subset: String = "all",
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration()): java.io.File =
    graft.ArtifactKey.root("lsh_index", version, dir,
      s"${subset}_s${shingleSize}_b${bands}_r$rowsPerBand", hadoopConf)

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, shingleSize: Int = 3, bands: Int = 8,
           rowsPerBand: Int = 4, subset: String = "all"): Unit =
    graft.StoreLog.drop(root(dir, shingleSize, bands, rowsPerBand, subset))

  /** Build-or-reuse the index of `<dir>`'s corpus. `corpus` is only
    * evaluated (and scanned) on a cold build.
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame,
             idCol: String = "doc_id", textCol: String = "text",
             shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
             subset: String = "all"): Handle = synchronized {
    val base = root(dir, shingleSize, bands, rowsPerBand, subset,
      spark.sessionState.newHadoopConf())
    graft.StoreLog.ensure(spark, base)(handle(spark, base, _)) { log =>
      val df = corpus
      val n = df.count()
      if (n == 0) Left(Handle(
        Dedup.lshBuckets(df, idCol, textCol, shingleSize, bands, rowsPerBand)
          .withColumn("bsize", lit(0L))
          .withColumn("__grp", grpOf(col("band"), col("bucket"), 16)),
        shingleSize, bands, rowsPerBand, 16, idCol, textCol))
      else {
        val groups = autoGroups(n * bands)
        // one corpus pass: shingle → minhash → band buckets (all native
        // expressions inside lshBuckets), then the occupancy and
        // one-file-per-group layout of [[writeBuckets]]
        val bucketsDir = log.fresh("buckets")
        writeBuckets(Dedup.lshBuckets(df, idCol, textCol, shingleSize, bands, rowsPerBand),
          groups, log.path(bucketsDir).toString)
        Right(graft.StoreSnapshot(
          leaves = Map("buckets" -> bucketsDir),
          meta = Map("shingle" -> shingleSize.toString, "bands" -> bands.toString,
            "rows" -> rowsPerBand.toString, "groups" -> groups.toString,
            "n" -> n.toString, "id_col" -> idCol, "text_col" -> textCol)))
      }
    }
  }

  /** Write (id, band, bucket) rows in the index layout: a narrow
    * (band, bucket) window denormalizes each bucket's occupancy onto
    * its rows (`bsize` — what makes the probe-time occupancy cap a scan
    * filter), then the one-file-per-group repartition alignment shared
    * with SrpIndex/IvfIndex/BucketedMirror.
    */
  private def writeBuckets(rows: DataFrame, groups: Int, path: String): Unit =
    rows
      .withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .withColumn("__grp", grpOf(col("band"), col("bucket"), groups))
      .repartition(groups, col("__grp"))
      .write.partitionBy("__grp").parquet(path)

  /** The committed index: the base buckets leaf plus every [[append]]
    * generation, one read per root unioned (per-root scans keep the
    * group pruning per generation), and the banding geometry from the
    * manifest — a probe must band with exactly what the rows were
    * indexed with, across JVMs.
    */
  private def handle(spark: SparkSession, base: java.io.File,
                     s: graft.StoreSnapshot): Handle =
    Handle(graft.StoreLog.readLocal(spark, base, s.generations("buckets")),
      s.meta("shingle").toInt, s.meta("bands").toInt, s.meta("rows").toInt,
      s.meta("groups").toInt, s.meta("id_col"), s.meta("text_col"))

  /** Append a batch's bucket assignments to the standing index — the
    * daily-ingest seam: new documents are banded with the PERSISTED
    * geometry (shingle/bands/rows and group key all from the manifest,
    * so an appended row can never land off-layout) and join the index
    * as their own generation, so tomorrow's probe sees today's corpus.
    * `bsize` on appended rows is the occupancy WITHIN THIS BATCH only —
    * the denormalized occupancy of standing rows is not rewritten per
    * append (that would be a full index pass per day), so the
    * probe-time occupancy cap ([[Dedup.defaultBucketCap]])
    * under-counts buckets that grew ACROSS epochs until [[compact]]
    * re-derives exact occupancies. Caps are a hot-bucket pressure valve,
    * not a correctness surface (capped-away mass is boilerplate by
    * design), so the documented staleness trades a bounded cap error
    * for O(batch) appends.
    */
  def append(spark: SparkSession, dir: String, newDocs: DataFrame,
             shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
             subset: String = "all"): Handle = synchronized {
    val base = root(dir, shingleSize, bands, rowsPerBand, subset,
      spark.sessionState.newHadoopConf())
    graft.StoreLog.append(spark, base, None)(handle(spark, base, _)) { (s, gen) =>
      val h = handle(spark, base, s)
      writeBuckets(Dedup.lshBuckets(newDocs, h.idCol, h.textCol, h.shingleSize,
        h.bands, h.rowsPerBand), h.groups, gen)
    }
  }

  /** Fold the append generations into one file per group, RE-DERIVE the
    * exact per-bucket occupancy (`bsize` — appends leave it per-epoch,
    * see [[append]]), and re-size the group count for the grown index —
    * the maintenance pass that keeps the DPP probe cost flat after a
    * year of daily appends. Probe candidate sets are identical before
    * and after when caps don't bind, and strictly more faithful to the
    * cap contract after (occupancy is exact again) — both gated in
    * DedupSpec. The re-grouped layout and the group count probes hash
    * `__grp` by commit in ONE manifest, so no reader ever pairs the new
    * layout with the old count. Run offline, like every maintenance
    * pass here.
    */
  def compact(spark: SparkSession, dir: String,
              shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
              subset: String = "all"): Handle = synchronized {
    val base = root(dir, shingleSize, bands, rowsPerBand, subset,
      spark.sessionState.newHadoopConf())
    graft.StoreLog.compact(spark, base)(handle(spark, base, _)) { (log, s) =>
      val h = handle(spark, base, s)
      val rows = h.buckets.select(col(h.idCol), col("band"), col("bucket")).distinct()
      val total = rows.count()
      val groups = autoGroups(total)
      val bucketsDir = log.fresh("buckets")
      writeBuckets(rows, groups, log.path(bucketsDir).toString)
      s.copy(leaves = Map("buckets" -> bucketsDir),
        meta = s.meta ++ Map("groups" -> groups.toString,
          "n" -> (total / math.max(1, h.bands)).toString))
    }
  }
}
