package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Build-or-reuse the persisted trained classifier weights — the
  * cross-run amortization rung the ml family was missing (the
  * LshIndex / PqIndex / EdgeIndex discipline applied to the fit):
  * scoring previously re-fit the model per invocation, which at 100 TB
  * re-featurizes and re-scans the training corpus to score one daily
  * batch. This persists the fitted (b0..b3, n_docs) ONCE per training-
  * corpus snapshot as a 1-row parquet; every later scoring run reads 5
  * values and pays only one codegen'd scan of ITS OWN batch
  * ([[QualityClassifier.scoreWith]] — the m9→m12 shape).
  *
  * Bit-exactness through persistence: parquet doubles round-trip
  * exactly, so weights served warm are the identical IEEE values the
  * fit produced — scores through the index match the inline fit (and
  * the DuckDB unrolled-CTE oracle) bit-for-bit.
  *
  * Artifact key: content-stamped source table + `subset` (WHICH slice /
  * featurization is the training corpus — two variants must not share a
  * fit) + the hyperparameters (different iters/lr is a different model,
  * the PqIndex-geometry lesson). The 1-row `weights` leaf commits
  * through a [[graft.StoreLog]] manifest ([[graft.StoreLog.buildOnce]]);
  * supersede-on-rebuild drops older content stamps of the same source.
  */
object WeightsIndex {

  /** Bump when the persisted shape or fit derivation changes. */
  private val version = "v2" // v2: committed through a StoreLog manifest

  def root(dir: String, table: String, subset: String, iters: Int = 8,
           lr: Double = 8.0,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration()): java.io.File = {
    val lrKey = lr.toString.replaceAll("[^0-9A-Za-z.]", "_")
    graft.ArtifactKey.root("weights_index", version,
      new org.apache.hadoop.fs.Path(dir, s"$table.parquet").toString,
      s"${subset}_i${iters}_lr$lrKey", hadoopConf)
  }

  /** Delete the persisted fit (forces the next ensure to re-train). */
  def drop(dir: String, table: String, subset: String, iters: Int = 8,
           lr: Double = 8.0): Unit =
    graft.StoreLog.drop(root(dir, table, subset, iters, lr))

  /** The trained (weights, n_docs) for `features` over `<dir>/<table>
    * .parquet`; `features` is only evaluated (and the corpus only
    * scanned) on a cold build — a warm call reads the 1-row artifact.
    */
  def ensure(spark: SparkSession, dir: String, table: String, subset: String,
             features: => DataFrame, iters: Int = 8,
             lr: Double = 8.0): (Array[Double], Long) = synchronized {
    val base = root(dir, table, subset, iters, lr, spark.sessionState.newHadoopConf())
    val leaf = graft.StoreLog.buildOnce(spark, base, "weights") { path =>
      val (w, nDocs) = QualityClassifier.trainWeightsAndCount(features, iters, lr)
      spark.range(1)
        .select((w.zipWithIndex.map { case (v, i) => lit(v).as(s"b$i") }
          :+ lit(nDocs).as("n_docs")): _*)
        .coalesce(1)
        .write.parquet(path)
    }
    // memoized per (session, path, content fingerprint) — graft.ReadCache —
    // so a warm inference pays a metadata walk, not a read + head() job
    graft.ReadCache.collectedLocal(spark, leaf) { df =>
      val row = df.head()
      (Array.tabulate(row.length - 1)(row.getDouble),
        row.getLong(row.length - 1))
    }
  }
}
