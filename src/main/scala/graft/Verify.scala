package graft
import java.nio.file.{Files, Paths}
/** JSON string escape: backslash, quote, and ALL control chars (<0x20) —
  * a tab or CR in builder-authored SQL would otherwise make the driver's
  * json.load fail and silently zero the round's correctness.
  */
object JsonEscape {
  def apply(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // verify mode: the dump-replay oracles (`DumpReplay`) read the
    // candidate dump their own query writes THIS run — so
    // Verify, and only Verify, turns the dump writes on. Bench and specs
    // run the pure plans (CandidateDumps scaladoc).
    CandidateDumps.enable()
    val spark = Harness.session(Harness.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dump queries with bounded concurrency: Spark schedules jobs from
    // multiple threads fine, and most of these queries are tiny jobs whose
    // wall time is dominated by per-job latency — 4-way submission cuts the
    // total dump time ~3x without memory pressure.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // Local-iteration filter (comma-separated query names). The driver
    // never sets it, so driver runs always dump the full surface — the
    // manifest's missing-output check below still covers every
    // registered query there.
    val selected = Harness.select(Harness.names("SPARK_GRAFT_ONLY"), SparkEntry.queries, "verify")
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try {
          val frame = fn(spark, sfDir)
          // registry-wide publish contract, enforced where every frame is
          // already built: the driver's compare sorts EVERY column in
          // pandas, and a top-level array/map crashes that sort — turning
          // a correct answer into an unverifiable one (r18's dq6 red row).
          // ContractSpec carries the same gate for the cheap builders;
          // this is the always-on net that also covers the eager ones.
          val unsortable = frame.schema.fields.collect {
            case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
              f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
              s"${f.name}: ${f.dataType.simpleString}"
          }
          if (unsortable.nonEmpty)
            throw new IllegalStateException(
              s"unsortable top-level column(s) ${unsortable.mkString(", ")} — " +
              "publish array_join(...) or a scalar key instead")
          frame.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }(ec)
    }
    import scala.concurrent.duration._
    futures.foreach(f => scala.concurrent.Await.result(f, 60.minutes))
    pool.shutdown()
    // A query that errors simply VANISHES from the driver's correctness
    // report — in rounds 10/11 a whole 25-query family disappeared and no
    // signal fired for two rounds. Make the loss impossible to miss: a
    // machine-readable manifest next to the outputs, a LOUD stderr
    // summary, and a completeness check that every registered query left
    // an output directory on disk.
    val failedSorted = {
      import scala.jdk.CollectionConverters._
      failed.asScala.toSeq.sorted
    }
    // Under SPARK_GRAFT_ONLY, unselected queries' output dirs from a
    // previous full run can survive on disk — record the skip set so a
    // local compare can't mistake stale dirs for fresh output, and check
    // completeness over the SELECTED set only (a skipped query's absence
    // is expected; its presence is stale). The driver never sets the
    // filter, so driver manifests show n_selected == n_registered,
    // skipped=[] and the full-surface completeness check is unchanged.
    val skipped = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(selected.contains)
    val missing = selected.keys.toSeq.sorted
      .filterNot(n => Files.isDirectory(Paths.get(s"$outDir/$n")))
    val manifest = "{\"n_registered\":" + SparkEntry.queries.size +
      ",\"n_selected\":" + selected.size +
      ",\"skipped\":" + skipped.map(JsonEscape(_)).mkString("[", ",", "]") +
      ",\"n_failed\":" + failedSorted.size +
      ",\"failed\":" + failedSorted.map(JsonEscape(_)).mkString("[", ",", "]") +
      ",\"missing_output\":" + missing.map(JsonEscape(_)).mkString("[", ",", "]") + "}"
    Files.writeString(Paths.get(s"$outDir/_verify_manifest.json"), manifest)
    if (failedSorted.nonEmpty || missing.nonEmpty)
      System.err.println(s"[verify] *** ${failedSorted.size} of ${selected.size} " +
        s"queries FAILED: ${(failedSorted ++ missing).distinct.mkString(", ")} ***")
    else
      System.err.println(s"[verify] all ${selected.size} selected queries produced output" +
        (if (skipped.nonEmpty) s" (${skipped.size} filtered out by SPARK_GRAFT_ONLY)" else ""))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(sfDir))
    spark.stop()
  }

  /** The text of `oracle_sql.json` for the tables in `sfDir`: every
    * oracle, with the dump-replay ones reading this run's candidate dumps.
    * ContractSpec pins its sf0.01 digest, so no refactor can change the SQL
    * that DuckDB runs.
    */
  def oracleJson(sfDir: String): String =
    SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${JsonEscape(k)}: ${JsonEscape(v)}" }.mkString("{", ",", "}")
}
