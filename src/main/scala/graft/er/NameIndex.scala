package graft.er

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-or-reuse the persisted token-block index of a STANDING name
  * universe — er3's warm path (the LshIndex/HashLedger discipline
  * applied to entity names): the standing side of
  * [[EntityResolution.incrementalEntityMatches]] re-derives
  * (token → name) pairs and re-counts the occupancy cap on every call,
  * which at a daily cadence re-reads the whole standing table per
  * batch. This persists the token→name frame once per standing
  * snapshot; every later conformance call is a parquet read of the
  * narrow (token, name) pairs.
  *
  * v2 layout: the persisted frame is the UNCAPPED (__sname, __tok,
  * __occ) pair universe with the per-token occupancy denormalized on;
  * the blockCap filter applies AT READ (a codegen scan filter over the
  * narrow index — never a re-aggregation). That split is what makes
  * [[append]]'s EXACT cap re-derivation possible: a capped artifact
  * forgets the dropped tokens' pairs, so a token crossing the cap
  * across epochs could never match a rebuild.
  *
  * Artifact key: content-stamped source table + `subset` (WHICH slice
  * of the table is the standing universe — two subsets must not share
  * an index) + the occupancy cap (a different cap is a different
  * candidate universe, the PqIndex-geometry lesson). Supersede-on-
  * rebuild drops older content stamps of the same source. An
  * append-maintained universe holds names that are NOT in the source
  * slice — treat a rebuild ([[drop]] + [[ensure]]) as a deliberate
  * reset, the s13/s14 quantizer-lifecycle story.
  */
object NameIndex {

  /** Bump when the derivation (tokenization, cap semantics) changes.
    * v2: uncapped pairs + denormalized `__occ` persisted, cap filtered
    * at read — the [[append]]-exactness layout.
    * v3: the pairs directory is listed by a [[graft.StoreLog]] manifest.
    */
  private val version = "v3"

  def root(dir: String, table: String, subset: String,
           blockCap: Int = EntityResolution.defaultBlockCap,
           hadoopConf: org.apache.hadoop.conf.Configuration =
             new org.apache.hadoop.conf.Configuration()): java.io.File =
    graft.ArtifactKey.root("name_index", version,
      new org.apache.hadoop.fs.Path(dir, s"$table.parquet").toString,
      s"${subset}_c$blockCap", hadoopConf)

  /** Delete the persisted index (forces the next ensure to rebuild). */
  def drop(dir: String, table: String, subset: String,
           blockCap: Int = EntityResolution.defaultBlockCap): Unit =
    graft.StoreLog.drop(root(dir, table, subset, blockCap))

  /** The read-time cap filter — what [[ensure]]/[[append]] hand to
    * consumers: exactly [[EntityResolution.standingTokenBlocks]]'
    * output over the index's name universe.
    */
  private def capped(df: DataFrame, blockCap: Int): DataFrame =
    df.filter(col("__occ") <= blockCap).select(col("__sname"), col("__tok"))

  private def uncappedPairs(names: DataFrame, nameCol: String): DataFrame =
    EntityResolution.nameTokens(names, nameCol)
      .select(col("__name").as("__sname"), col("__tok"))

  private def withOcc(pairs: DataFrame): DataFrame =
    pairs.withColumn("__occ", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("__tok")))

  /** The capped (token, name) frame for `standing`'s distinct names.
    * `standing` is only evaluated (and scanned) on a cold build.
    */
  def ensure(spark: SparkSession, dir: String, table: String, subset: String,
             standing: => DataFrame, nameCol: String,
             blockCap: Int = EntityResolution.defaultBlockCap): DataFrame = synchronized {
    val base = root(dir, table, subset, blockCap, spark.sessionState.newHadoopConf())
    val pairs = graft.StoreLog.buildOnce(spark, base, "pairs")(
      withOcc(uncappedPairs(standing, nameCol)).write.parquet(_))
    capped(graft.ReadCache.parquetLocal(spark, pairs), blockCap)
  }

  private def readPairs(spark: SparkSession, base: java.io.File,
                        s: graft.StoreSnapshot): DataFrame =
    graft.ReadCache.parquetLocal(spark, new java.io.File(base, s.leaves("pairs")))

  /** Fold NEW names into the persisted universe — the maintenance rung
    * incremental ER was missing (new names could not land without a
    * standing-table rebuild): batch names tokenize, names already in
    * the universe drop (names ARE the identity, so an at-least-once
    * replay of a batch anti-joins to nothing — idempotent by
    * construction), and the merged pair table is re-capped GLOBALLY, so
    * the result is bit-identical to a cold [[ensure]] over
    * standing ∪ batches (EntityResolutionSpec gates it, including a
    * token that crosses the cap only across the epoch seam). The
    * rewrite is pair-universe-sized — names × tokens, sublinear in
    * rows; the expensive term ensure amortizes (scanning the standing
    * TABLE) is never re-paid. The merged universe lands in a fresh
    * directory and replaces the old one in one manifest commit.
    */
  def append(spark: SparkSession, dir: String, table: String, subset: String,
             newNames: DataFrame, nameCol: String,
             blockCap: Int = EntityResolution.defaultBlockCap): DataFrame = synchronized {
    val base = root(dir, table, subset, blockCap, spark.sessionState.newHadoopConf())
    val log = graft.StoreLog.open(spark, base)
    val s = log.snapshot
    require(s.leaves.contains("pairs"),
      s"append requires a persisted index — ensure() first ($base)")
    val old = readPairs(spark, base, s).select("__sname", "__tok")
    val batchPairs = uncappedPairs(newNames, nameCol)
      .join(old.select("__sname").distinct(), Seq("__sname"), "left_anti")
    val pairs = log.fresh("pairs")
    withOcc(old.unionByName(batchPairs)).write.parquet(log.path(pairs).toString)
    capped(readPairs(spark, base,
      log.commit(s.copy(leaves = Map("pairs" -> pairs)))), blockCap)
  }
}
