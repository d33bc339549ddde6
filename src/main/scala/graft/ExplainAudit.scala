package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Plan-shape ledger generator: dumps the EXECUTED (post-AQE) plan of each
  * named registered query to `docs/plans/<name>.txt`, so plan regressions
  * are diffable in review instead of discovered as bench noise. Run via
  * `scripts/refresh_plans.sh` (or `sbt "runMain graft.ExplainAudit q1 ..."`);
  * with no args it refreshes every query that already has a committed
  * plan file ([[committed]]). To add a query to the ledger, name it once;
  * its file then keeps it in every later default run.
  *
  * The dump is the executedPlan `toString` with per-run noise (plan ids,
  * codegen ids, exchange ids) scrubbed, so a diff only fires on structural
  * change: a new exchange, a lost pushdown, a join strategy flip.
  */
object ExplainAudit {

  /** The queries a run with no arguments refreshes: every registered
    * query with a committed plan file in `planDir`. A query's plan claim is
    * the `// plan:` line on its declaration.
    */
  def committed(planDir: String): Seq[String] =
    SparkEntry.registry.map(_.name)
      .filter(n => Files.isRegularFile(Paths.get(planDir, s"$n.txt")))

  /** Strip per-run ids AND configuration-dependent partition counts so
    * the ledger diffs on structure only (a different SPARK_GRAFT_CPUS
    * must not rewrite every `hashpartitioning(..., N)` in the ledger).
    */
  private[graft] def scrub(plan: String): String =
    plan
      .replaceAll("#\\d+[A-Za-z]*", "#x")        // expression ids
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("\\(\\d+\\)", "(n)")            // codegen stage ids
      .replaceAll("(partitioning\\([^)]*), \\d+\\)", "$1, n)")
      .replaceAll("cachedrdd_\\d+", "cachedrdd_x")
      // lambda-variable counters are global per-session, so an unrelated
      // new lambda elsewhere renumbers every plan — not structural
      .replaceAll("lambda [a-z]+_\\d+", "lambda v_n")
      // AQE stage ids follow scheduling order, not plan structure
      .replaceAll("QueryStage \\d+", "QueryStage n")
      // toString of objects embedded in expressions (e.g. the t18 Bloom
      // sketch bytes) prints an identity hash — per-run, not structural
      .replaceAll("@[0-9a-f]{6,}", "@x")
      // JVM lambda class counters/addresses (MapPartitions decode
      // lambdas) are per-process, not structural
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$n")
      // bucketed-mirror CONTENT stamps track the source files' mtimes,
      // and the driver regenerates /root/testdata every round — the
      // stamp would churn every ledger entry that touches a mirror
      // without any structural change
      .replaceAll("(_b\\d+_s)[0-9a-f]{8}", "$1x")
      // Spark elides long expression strings at a context-dependent cut
      // point; normalize the truncated tail so a 2-char drift can't diff
      .replaceAll("[^\\s\\[,]*\\.\\.\\.", "<trunc>")
      .replaceAll("/root/testdata/sf[0-9.]+", "<sf>")
      // persisted-artifact locations (ivf index, bucketed mirrors) are
      // machine-local; structure is what the ledger pins
      .replaceAll("file:[^\\s\\]]*/target/", "<target>/")

  /** Header line carrying the query's uncontended bench time, sourced from
    * the committed deliberate snapshot (docs/bench_full.json, best-of-2,
    * sf0.1, idle box) — so a reader of the ledger can separate box drift
    * from structural regression without re-running anything. The line is
    * timing METADATA, not plan structure: a ledger diff that touches only
    * this line means the bench snapshot moved, not the plan.
    */
  private[graft] def benchHeader(name: String, benchJson: String): String = {
    val entry = ("\"" + java.util.regex.Pattern.quote(name) + "\"\\s*:\\s*([0-9.]+)").r
    val sf = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r
    val bo = "\"best_of\"\\s*:\\s*(\\d+)".r
    val secs = entry.findFirstMatchIn(benchJson).map(_.group(1)).getOrElse("n/a")
    val sfTag = sf.findFirstMatchIn(benchJson).map(_.group(1)).getOrElse("?")
    val boTag = bo.findFirstMatchIn(benchJson).map(_.group(1)).getOrElse("?")
    s"== uncontended_s=$secs ($sfTag best-of-$boTag idle box; docs/bench_full.json) ==\n"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "docs/plans")
    val benchJson =
      try new String(Files.readAllBytes(Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "docs/bench_full.json"))),
        StandardCharsets.UTF_8)
      catch { case _: java.io.IOException => "" }
    val spark = Harness.session(Harness.cpus(8))
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names = if (args.nonEmpty) args.toSeq else committed(outDir)
    Harness.select(names, SparkEntry.queries, "ExplainAudit").foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // finalize AQE so the dumped plan is the executed one
      val txt = benchHeader(name, benchJson) +
        scrub(df.queryExecution.executedPlan.toString)
      Files.write(Paths.get(outDir, s"$name.txt"),
        txt.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    spark.stop()
  }
}
