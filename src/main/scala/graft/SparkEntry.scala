package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.query._

/** The query contract (SURVEY §7): [[entry]], [[queries]] and [[oracleSql]].
  *
  * Every operator from SURVEY §2 and the dedup / similarity / text /
  * multimodal extensions is a [[graft.query.Query]] over the testdata
  * tables: its Spark body next to its DuckDB oracle. Each query is
  * declared in its family's object in `graft.query`, and the three
  * contract maps below are views of [[registry]], built once.
  *
  * Families, by name prefix: `q` TPC-H shapes, `a` aggregations (§2.4),
  * `w` windows and time series (§2.5), `o` sort and top-k (§2.6), `j`
  * joins (§2.3), `c` the cleaning composite (§2.9), `f` scalar functions
  * (§2.8), `t` text, `d` dedup, `s` similarity, `e` embedding dedup, `m`
  * multimodal, `z` layout, `er` entity resolution, `g` graphs, `ml` the
  * quality classifier, `dq` data-quality suites.
  */
object SparkEntry {

  /** The query families, in `docs/QUERIES.md` order. */
  val families: Seq[Family] = Seq(
    TpchQueries.family, AggregationQueries.family, WindowQueries.family,
    OrderingQueries.family, JoinQueries.family, CleaningQueries.family,
    FunctionQueries.family, TextQueries.family, DedupQueries.family,
    SimilarityQueries.family, EmbeddingQueries.family, MultimodalQueries.family,
    LayoutQueries.family, EntityQueries.family, GraphQueries.family,
    MlQueries.family, QualityQueries.family)

  /** Every registered query, family by family. */
  val registry: Seq[Query] = families.flatMap(_.queries)

  /** Flagship query (TPC-H Q1 pricing summary shape) on sf=0.001;
    * driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** The scale-factor directory the correctness gate runs Verify at
    * (TESTDATA.md).
    */
  val contractDir: String = "/root/testdata/sf0.01"

  /** DuckDB oracle SQL per query over the same parquet tables, at
    * [[contractDir]]. Shared
    * determinism rules (SURVEY §5.2): published numerics rounded, total
    * orders pinned on every limit/rank, UTC timestamps, linear-interpolation
    * percentiles (Spark `percentile`/`median` == DuckDB
    * `quantile_cont`/`median`). Rows-only queries are absent.
    */
  val oracleSql: Map[String, String] = oracleSqlFor(contractDir)

  /** The oracles for the tables in `dir`: a dump-replay oracle replays the
    * candidate set its query dumped for `dir`, so a Verify run at another
    * scale factor checks its own candidates, never sf0.01's.
    */
  def oracleSqlFor(dir: String): Map[String, String] =
    registry.flatMap(q => q.oracle.sqlFor(dir).map(q.name -> _)).toMap
}
