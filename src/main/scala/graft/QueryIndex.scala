package graft

/** Generator for `docs/QUERIES.md` — the user-facing index of the full
  * registered query surface: one row per [[SparkEntry.registry]] query
  * with its declared family and the kind of its declared oracle
  * (independent DuckDB SQL, SQL replay over the query's own Spark-dumped
  * candidate set, or rows-only with property gates), and one row per
  * [[SparkEntry.families]] entry. SURVEY §8 is the builder-facing
  * ledger; this is the table a USER scans to find the operator and its
  * verification story.
  *
  * The file is generated, never hand-edited: `sbt "runMain
  * graft.QueryIndex"` rewrites it, and ContractSpec pins the committed
  * file byte-for-byte to [[render]] so the index can never drift from
  * the registry (adding a query without regenerating fails the suite).
  */
object QueryIndex {
  import graft.query.{DumpReplay, Oracle, RowsOnly, Sql}

  /** How the correctness gate checks a query with this oracle. */
  def oracleKind(o: Oracle): String = o match {
    case RowsOnly(_) =>
      "rows-only (hash/sketch-keyed output; property-gated in RowsOnlyGateSpec)"
    case DumpReplay(_) =>
      "DuckDB SQL replay over the query's own Spark-dumped candidate set"
    case Sql(_) =>
      "independent DuckDB SQL on the parquet tables"
  }

  def render: String = {
    val qs = SparkEntry.registry
    val (rowsOnly, oracled) = qs.partition(_.oracle.isInstanceOf[RowsOnly])
    val dumpReplay = qs.filter(_.oracle.isInstanceOf[DumpReplay])
    val sb = new StringBuilder
    sb.append("# Query surface index\n\n")
    sb.append("Generated by `sbt \"runMain graft.QueryIndex\"` from the\n")
    sb.append("`SparkEntry.queries` registry — do not hand-edit (ContractSpec pins\n")
    sb.append("this file to the registry byte-for-byte).\n\n")
    sb.append(s"**${qs.size} registered queries** — ${oracled.size} oracled against DuckDB\n")
    sb.append(s"at sf0.01 (rows + schema + value hash; ${dumpReplay.size} of them as SQL\n")
    sb.append(s"replays over their own Spark-dumped candidate sets), ${rowsOnly.size}\n")
    sb.append("rows-only by design (engine-keyed hash/sketch emissions, each\n")
    sb.append("property-gated in RowsOnlyGateSpec with every downstream consumer\n")
    sb.append("oracled).\n\n")
    sb.append("## Families\n\n")
    sb.append("| prefix | family | implementation | primary specs |\n")
    sb.append("|---|---|---|---|\n")
    SparkEntry.families.foreach { f =>
      sb.append(s"| `${f.prefix}` (${f.queries.size}) | ${f.title} | ${f.impl} | ${f.specs} |\n")
    }
    sb.append("\n## Queries\n\n")
    sb.append("| query | family | correctness check |\n")
    sb.append("|---|---|---|\n")
    SparkEntry.families.flatMap(f => f.queries.map(_ -> f.title)).sortBy(_._1.name)
      .foreach { case (q, title) =>
        sb.append(s"| `${q.name}` | $title | ${oracleKind(q.oracle)} |\n")
      }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val target = java.nio.file.Paths.get("docs/QUERIES.md")
    java.nio.file.Files.write(target,
      render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[QueryIndex] wrote $target")
  }
}
