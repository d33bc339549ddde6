package graft
package query

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark body over the tables in a scale-factor
  * directory, next to the DuckDB oracle that checks it.
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracle: Oracle)

/** How the correctness gate checks a query's output. */
sealed trait Oracle {
  /** The DuckDB SQL for the tables in `dir`; None for a rows-only query. */
  def sqlFor(dir: String): Option[String] = this match {
    case Sql(sql) => Some(sql)
    case DumpReplay(sql) => Some(sql(dir))
    case RowsOnly(_) => None
  }
}

/** Independent DuckDB SQL over the parquet tables. */
final case class Sql(sql: String) extends Oracle

/** DuckDB SQL that replays a stage over the candidate set the query dumped
  * for the tables in `dir` ([[QuerySupport.candidatesPath]]), so both
  * engines score the same pairs.
  */
final case class DumpReplay(sql: String => String) extends Oracle

/** No SQL oracle: the output is keyed by an engine-specific hash or sketch,
  * so the gate checks rows only; `reason` says which. The semantics are
  * property-gated in RowsOnlyGateSpec.
  */
final case class RowsOnly(reason: String) extends Oracle

/** A query family: the name prefix its queries share, the modules behind it
  * and the specs that cover them, and its queries in declaration order.
  */
final case class Family(prefix: String, title: String, impl: String, specs: String,
                        queries: Seq[Query])
