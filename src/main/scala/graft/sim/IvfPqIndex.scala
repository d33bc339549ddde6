package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Build-or-reuse the composed IVF-PQ index — the two persisted ANN
  * structures folded into the one layout a 100 TB search actually
  * scans: the PQ code table ([[PqIndex]]) partitioned by IVF cell
  * ([[IvfIndex]]). A search probes nProbes cells (dynamic partition
  * pruning drops every other cell directory at scan time) and pays m
  * code bytes per surviving row (ADC) — pruning × compression, the
  * faiss IVFPQ layout re-expressed as a partitioned parquet table.
  *
  * The build REUSES the sibling ensures (one quantizer discipline:
  * probe selection must use the exact centroids the cells were assigned
  * with, ADC the exact codebooks the codes were encoded with — both
  * persist beside their own index) and pays one extra build-time
  * equi-join of the two frames on the vector id to lay codes out by
  * cell. [[ensure]]/[[append]]/[[compact]] run the one
  * [[graft.StoreLog]] lifecycle.
  */
object IvfPqIndex {

  /** v2: per-`subset` keying + idempotent [[append]] generations.
    * v3: directories listed by a [[graft.StoreLog]] manifest. */
  private val version = "v3"

  def root(dir: String,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration(),
           subset: String = "all"): java.io.File =
    graft.ArtifactKey.root("ivfpq_index", version, dir, subset, hadoopConf)

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, subset: String = "all"): Unit =
    graft.StoreLog.drop(root(dir, subset = subset))

  /** The cell-partitioned code table: base build plus every [[append]]
    * generation (each its own cell-partitioned root, so dynamic
    * partition pruning applies to all of them alike — the IvfIndex
    * shape).
    */
  private def readAll(spark: SparkSession, base: java.io.File,
                      s: graft.StoreSnapshot): DataFrame =
    graft.StoreLog.readLocal(spark, base, s.generations("codes_by_cell"))

  /** The (cell-partitioned code table, IVF centroids, PQ codebooks)
    * triple for `<dir>`'s corpus: codes are (idCol, __codes, __cell)
    * with __cell the partition column. `corpus` is only scanned on cold
    * builds of the underlying indexes.
    */
  def ensure(spark: SparkSession, dir: String, corpus: => DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding",
             subset: String = "all"
            ): (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = synchronized {
    // the sibling ensures are each memoized/persisted themselves, so
    // these calls are cheap reads on every warm path
    val (assigned, cents) = IvfIndex.ensure(spark, dir, corpus, idCol, vecCol, subset)
    val (codes, cb) = PqIndex.ensure(spark, dir, corpus,
      idCol = idCol, vecCol = vecCol, subset = subset)
    val base = root(dir, spark.sessionState.newHadoopConf(), subset)
    graft.StoreLog.ensure(spark, base)(s => (readAll(spark, base, s), cents, cb)) { log =>
      if (cb.isEmpty || cents.isEmpty) Left((codes.select(col(idCol)).limit(0), cents, cb))
      else {
        // one build-time equi-join lays the codes out by cell; repartition
        // on the cell first so partitionBy writes ONE file per cell
        // directory (the IvfIndex alignment trick)
        val joined = log.fresh("codes_by_cell")
        codes.join(assigned.select(col(idCol), col("__cell")), Seq(idCol))
          .repartition(cents.length, col("__cell"))
          .write.partitionBy("__cell").parquet(log.path(joined).toString)
        Right(graft.StoreSnapshot(leaves = Map("codes_by_cell" -> joined)))
      }
    }
  }

  /** Fold a batch of NEW vectors into the composed index — the s13/s15
    * rung for the composed layout: batch rows encode with the PERSISTED
    * PQ codebooks and assign to the PERSISTED IVF centroids (both pure
    * per-row functions of frozen quantizers — re-training either is a
    * rebuild) and land as their own cell-partitioned generation. The
    * sibling indexes are their own maintenance surfaces ([[IvfIndex
    * .append]], [[PqIndex.append]]) — this folds the batch into the
    * artifact the composed SEARCH actually scans. IDEMPOTENT per
    * `batchKey`; a replay of a batch [[compact]] already folded no-ops
    * on the folded keys. Requires an existing composed index (there are
    * no quantizers to encode against otherwise) — seed with [[ensure]].
    */
  def append(spark: SparkSession, dir: String, batchKey: String,
             batch: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding", subset: String = "all"
            ): (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, spark.sessionState.newHadoopConf(), subset)
    lazy val (cents, cb) = quantizers(spark, dir, subset)
    graft.StoreLog.append(spark, base, Some(batchKey))(s => (readAll(spark, base, s), cents, cb)) {
      (_, gen) =>
        // ONE map-side pass derives codes AND cell per batch row (both
        // are pure per-row functions of the frozen quantizers over the
        // same frame) — an encode-frame ⋈ assign-frame equi-join on the
        // id would re-scan the batch twice and pay a join exchange to
        // reunite columns that never needed separating
        Similarity.withUnitNorm(batch, vecCol, "__unit")
          .select(col(idCol),
            org.apache.spark.sql.graft.PqFunctions
              .pqEncodeNative(col("__unit"), cb).as("__codes"),
            org.apache.spark.sql.graft.VectorFunctions
              .nearestCellsNative(col(vecCol), cents, 1).getItem(0).as("__cell"))
          .repartition(cents.length, col("__cell"))
          .write.partitionBy("__cell").parquet(gen)
    }
  }

  /** Fold every [[append]] generation back into the base leaf — one
    * file per cell again ([[IvfIndex.compact]], applied to the composed
    * layout). Rows preserved exactly; both quantizers untouched; the
    * folded keys commit with the fold. Run offline.
    */
  def compact(spark: SparkSession, dir: String, subset: String = "all"
             ): (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = synchronized {
    val base = root(dir, spark.sessionState.newHadoopConf(), subset)
    lazy val (cents, cb) = quantizers(spark, dir, subset)
    graft.StoreLog.compact(spark, base)(s => (readAll(spark, base, s), cents, cb)) { (log, s) =>
      val joined = log.fresh("codes_by_cell")
      readAll(spark, base, s)
        .repartition(cents.length, col("__cell"))
        .write.partitionBy("__cell").parquet(log.path(joined).toString)
      s.copy(leaves = s.leaves + ("codes_by_cell" -> joined))
    }
  }

  /** The frozen quantizer pair, read from the SIBLING indexes'
    * committed artifacts (one quantizer discipline: the composed leaf
    * was laid out with exactly these; across JVMs the files are the
    * only truth). Fails loudly if a sibling was dropped out from under
    * the composed index.
    */
  private def quantizers(spark: SparkSession, dir: String,
                         subset: String): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) =
    (IvfIndex.centroids(spark, dir, subset), PqIndex.codebooks(spark, dir, subset))
}
