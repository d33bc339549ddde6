package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-or-reuse the persisted SRP-LSH index of an embedding corpus —
  * the multi-table sibling of [[IvfIndex]]: pay the per-corpus scans ONCE
  * (count → auto-sized planes → the nTables bucket derivations + int8
  * quantization pass), persist the exploded (vector × table) bucket
  * assignments partitioned by a bounded BUCKET-GROUP key, and every later
  * search runs the pure probe path. Without it, s2/s7-style searches
  * re-bucket and re-quantize the whole corpus per query batch — at 100 TB
  * that corpus pass, not the candidate math, is the dominant ANN cost.
  *
  * Layout (under target/srp_index/v3/<tag>/t<nTables>_<subset>):
  *  - `buckets`:  (neighbor_id, __qc, __sc, __t, __b) partitioned by
  *    `__grp = pmod(xxhash64(__t, __b), groups)` — N·nTables narrow rows
  *    (8-byte id + 1-byte-per-dim quantized vector + one double; the raw
  *    float vectors are deliberately NOT replicated per table). A search
  *    joins this to a BROADCAST probe list on (__t, __b, __grp), so
  *    dynamic partition pruning drops every bucket-group the query batch
  *    never probes at scan time — the same 100 TB shape as the IVF cell
  *    pruning (gated in PlanQualitySpec). `groups` bounds the directory
  *    count the way [[Similarity.autoCells]] bounds cells: √(N·nTables)
  *    clamped to [16, 4096]; a batch probing |queries|·nTables buckets
  *    reads at most that many groups of the corpus.
  *  - `vectors`:  (vec_id, embedding) — ONE row per vector, the
  *    full-precision side the exact cosine (s2) and the top-rerank
  *    rescore (s7) join back to by id.
  *  - the manifest's meta: (planes, tables, groups, n) — the quantizer
  *    geometry. Probes must hash with the EXACT plane count the corpus
  *    was bucketed with, across JVMs; reading it here also means an
  *    indexed search never runs the corpus-count job that inline
  *    auto-sizing needs.
  *
  * Reuse ladder and keying follow [[IvfIndex]]: a committed
  * [[graft.StoreLog]] manifest → read back; none → build. The tag
  * embeds basename + full-path hash + [[graft.ContentStamp]], so a
  * corpus regenerated at the same path forces a rebuild. Builds are serialized per JVM (Verify runs the
  * query constructors from a 4-thread pool; s2 and s7 share one index).
  *
  * Reference analog: the SQLite index built once per load
  * (/root/reference/src/load.py:143-144) — here the "index" is L hash
  * tables of sign-pattern buckets instead of a B-tree.
  */
object SrpIndex {

  /** The persisted index handle: everything a search needs without
    * touching the source corpus.
    */
  final case class Handle(buckets: DataFrame, vectors: DataFrame,
                          planes: Int, nTables: Int, groups: Int)

  /** Bump when the layout or bucketing semantics change. v2:
    * per-subset roots (different indexed slices of one source must not
    * share a directory — the LshIndex convention) + [[append]]
    * generations. v3: directories and geometry listed by a
    * [[graft.StoreLog]] manifest. */
  private val version = "v3"

  /** Target rows per bucket-group partition. Groups are DIRECTORIES (one
    * file each, the repartition alignment): too many of them at small
    * corpora means hundreds of sub-kilobyte files whose open cost
    * dominates the probe scan — measured at sf0.1, a √rows sizing made
    * 245 groups of ~245 rows and DOUBLED the indexed search time vs
    * inline. 64 k narrow rows is a few MB per file; small corpora sit at
    * the 16-group floor, and the 4096 ceiling (the directory-count bound,
    * same as [[Similarity.autoCells]]) is what a 100 TB corpus hits —
    * there a query batch probing |queries|·nTables buckets reads at most
    * that many of the 4096 groups.
    */
  val targetRowsPerGroup = 65536L

  /** Bucket-group count for an exploded frame of `rows` = N·nTables:
    * rows/[[targetRowsPerGroup]] clamped to [16, 4096].
    */
  def autoGroups(rows: Long): Int =
    math.max(16, math.min(4096,
      math.ceil(rows.toDouble / targetRowsPerGroup).toInt))

  /** The group key both sides derive from a (table, bucket) pair. One
    * definition so the probe side can never hash differently from the
    * persisted layout.
    */
  private[sim] def grpOf(t: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column, groups: Int) =
    pmod(xxhash64(t, b), lit(groups.toLong)).cast("int")

  /** Index root — key scheme and rationale in [[graft.ArtifactKey]];
    * pass the session Hadoop conf for sources whose filesystem needs it.
    */
  def root(dir: String, nTables: Int,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration(),
           subset: String = "all"): java.io.File =
    graft.ArtifactKey.root("srp_index", version, dir, s"t${nTables}_$subset", hadoopConf)

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, nTables: Int, subset: String = "all"): Unit =
    graft.StoreLog.drop(root(dir, nTables, subset = subset))

  /** Build-or-reuse the index for `<dir>`'s corpus. `corpus` is only
    * evaluated (and scanned) on a cold build.
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame, nTables: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"): Handle = synchronized {
    val base = root(dir, nTables, spark.sessionState.newHadoopConf(), subset)
    graft.StoreLog.ensure(spark, base)(handle(spark, base, _)) { log =>
      val df = corpus
      val n = Similarity.countRows(df)
      // nothing to persist (an empty parquet dir can't be read back);
      // hand out the inline paths' empty-corpus contract directly
      if (n == 0) Left(Handle(emptyBuckets(df, idCol, vecCol),
        df.select(col(idCol), col(vecCol)), Similarity.autoPlanes(0), nTables, 16))
      else {
        val planes = Similarity.autoPlanes(n)
        val groups = autoGroups(n * nTables)
        val bucketsDir = log.fresh("buckets")
        val vectorsDir = log.fresh("vectors")
        // one corpus pass derives everything the candidate side ever
        // needs: int8 pair below the generator (attributes pass through
        // the Generate; computing them above it would re-run the O(dim)
        // quantize once per emitted table row), buckets via the custom
        // generator (no InferFiltersFromGenerate re-derivation in the
        // scan). Repartition by the group key first so each group's rows
        // land in exactly one task → ONE file per partition directory
        // (the BucketedMirror / IvfIndex alignment trick)
        bucketRows(df, idCol, vecCol, planes, nTables, groups)
          .repartition(groups, col("__grp"))
          .write.partitionBy("__grp").parquet(log.path(bucketsDir).toString)
        // the full-precision side, once per vector — exact scoring and
        // the rescore join here by id instead of shipping 8·dim-byte
        // doubles through the nTables-replicated bucket frame
        df.select(col(idCol), col(vecCol)).write.parquet(log.path(vectorsDir).toString)
        Right(graft.StoreSnapshot(
          leaves = Map("buckets" -> bucketsDir, "vectors" -> vectorsDir),
          meta = Map("planes" -> planes.toString, "tables" -> nTables.toString,
            "groups" -> groups.toString, "n" -> n.toString)))
      }
    }
  }

  /** The (neighbor_id, __qc, __sc, __t, __b, __grp) bucket rows of
    * `df` under one geometry — the build's, the append's and (through
    * the persisted rows) the probe's.
    */
  private def bucketRows(df: DataFrame, idCol: String, vecCol: String,
                         planes: Int, nTables: Int, groups: Int): DataFrame = {
    val (q8c, sc) = Similarity.int8Candidate(col(vecCol))
    df.select(col(idCol).as("neighbor_id"), q8c.as("__qc"), sc.as("__sc"), col(vecCol))
      .select(col("neighbor_id"), col("__qc"), col("__sc"),
        org.apache.spark.sql.graft.VectorFunctions
          .srpBucketsNative(Similarity.toDouble(col(vecCol)), planes, nTables)
          .as(Seq("__t", "__b")))
      .withColumn("__grp", grpOf(col("__t"), col("__b"), groups))
  }

  /** `leaf` ("buckets" | "vectors") of the base build plus every
    * [[append]] generation. A generation's two leaves commit in one
    * manifest, so a probe can never see bucket candidates whose ids the
    * rescore join can't find in vectors.
    */
  private def readAll(spark: SparkSession, base: java.io.File,
                      s: graft.StoreSnapshot, leaf: String): DataFrame =
    graft.StoreLog.readLocal(spark, base,
      s.leaves(leaf) +: s.keys.toSeq.sorted.map(_._2 + "/" + leaf))

  private def handle(spark: SparkSession, base: java.io.File,
                     s: graft.StoreSnapshot): Handle =
    Handle(readAll(spark, base, s, "buckets"), readAll(spark, base, s, "vectors"),
      s.meta("planes").toInt, s.meta("tables").toInt, s.meta("groups").toInt)

  /** Fold a batch of NEW vectors into the persisted index — the
    * [[IvfIndex.append]] rung for SRP search: batch rows bucket with
    * the PERSISTED geometry (planes/tables/groups from the manifest,
    * and the hyperplanes are a pure function of (planes, dim, fixed
    * seed) — an appended row can never land off-layout) and write their
    * own group-partitioned generation beside the base, the
    * full-precision vectors likewise for the rescore side. The corpus is
    * never re-scanned; `planes`/`groups` stay at the base corpus'
    * auto-sizing BY DESIGN (re-sizing the geometry is a rebuild —
    * [[drop]] + [[ensure]] — by definition), so searching the appended
    * index is bit-identical to a cold build over corpus ∪ batches pinned
    * to the same geometry (SimilaritySpec gates it). IDEMPOTENT per
    * `batchKey`: a replayed batch replaces its own generation, and a
    * replay of a batch [[compact]] already folded is a no-op. Returns
    * the refreshed Handle.
    */
  def append(spark: SparkSession, dir: String, nTables: Int, batchKey: String,
             batch: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding",
             subset: String = "all"): Handle = synchronized {
    val base = root(dir, nTables, spark.sessionState.newHadoopConf(), subset)
    graft.StoreLog.append(spark, base, Some(batchKey))(handle(spark, base, _)) { (s, gen) =>
      // REBALANCE (AQE) sizes the output files: the batch arrives in the
      // caller's input partitioning (32 near-empty files at test scale,
      // unsized splits at corpus scale); the hinted exchange lets AQE
      // coalesce/split to the advisory partition size (guide §6) — row
      // SET unchanged, and readAll unions whole files, so placement is
      // semantics-free
      batch.select(col(idCol), col(vecCol)).hint("rebalance").write.parquet(s"$gen/vectors")
      val groups = s.meta("groups").toInt
      bucketRows(batch, idCol, vecCol, s.meta("planes").toInt, nTables, groups)
        .repartition(groups, col("__grp"))
        .write.partitionBy("__grp").parquet(s"$gen/buckets")
    }
  }

  /** Fold every [[append]] generation back into the base leaves — the
    * maintenance pass that keeps the probe's file economics flat after
    * a year of daily appends (each generation adds a small file per
    * touched bucket-group directory; scan cost and the DPP group
    * pruning degrade with file COUNT, not bytes). After it the index is
    * one file per bucket-group plus a byte-sized vectors leaf in one
    * root again, exactly as a cold build over corpus ∪ batches would
    * have written it.
    *
    * Rows are preserved exactly — compaction is a permutation, so
    * search results are bit-identical before and after (gated in
    * SimilaritySpec). The GEOMETRY — planes, tables, and the `groups`
    * count — is deliberately untouched: `groups` is part of the
    * quantizer contract (probes derive `__grp` from it, standing rows
    * carry it in their directory layout); re-sizing it is a rebuild
    * ([[drop]] + [[ensure]]), by definition. Both folded leaves and the
    * folded batch keys commit in one manifest, so [[append]] no-ops an
    * at-least-once replay of a folded batch. Run offline, like every
    * maintenance pass here.
    */
  def compact(spark: SparkSession, dir: String, nTables: Int,
              subset: String = "all"): Handle = synchronized {
    val base = root(dir, nTables, spark.sessionState.newHadoopConf(), subset)
    graft.StoreLog.compact(spark, base)(handle(spark, base, _)) { (log, s) =>
      // vectors: size the fold by the on-disk bytes being folded. No row
      // dedup in either fold: a pre-fold replay replaces its own
      // generation, a post-fold replay no-ops on the folded keys, so
      // replayed rows cannot exist by construction.
      val vectorsDir = log.fresh("vectors")
      val bucketsDir = log.fresh("buckets")
      readAll(spark, base, s, "vectors")
        .repartition(graft.StoreLog.foldFiles(base,
          s.leaves("vectors") +: s.keys.values.toSeq.map(_ + "/vectors")))
        .write.parquet(log.path(vectorsDir).toString)
      // buckets: the same one-task-per-group repartition alignment as the
      // build writes ONE file per group directory again
      readAll(spark, base, s, "buckets")
        .repartition(s.meta("groups").toInt, col("__grp"))
        .write.partitionBy("__grp").parquet(log.path(bucketsDir).toString)
      s.copy(leaves = Map("buckets" -> bucketsDir, "vectors" -> vectorsDir))
    }
  }

  /** Empty frame with the buckets schema (for the empty-corpus path). */
  private def emptyBuckets(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    bucketRows(df, idCol, vecCol, planes = 4, nTables = 1, groups = 16)
}
