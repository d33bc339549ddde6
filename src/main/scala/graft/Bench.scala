package graft
import scala.util.control.NonFatal
object Bench {
  /** Locale-pinned fixed-point formatting: the default-locale f"" emits
    * comma decimals (0,527) on e.g. de_DE and breaks the driver's JSON
    * parse of the bench line.
    */
  private[graft] def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Best-of-`reps` seconds of one query, or the -1 sentinel when every
    * rep failed, so the JSON marks it failed instead of fast. Each failed
    * rep is reported on stderr.
    */
  private[graft] def time(name: String, reps: Int)(run: => Any): Double =
    Harness.bestOf(reps, e => System.err.println(
      s"[Bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}"))(run).getOrElse(-1.0)

  /** The bench's one JSON line. Its reader may keep only the last ~2000
    * chars of stdout: per-query times are rounded to ms (bench noise is
    * >>1ms) and the headline fields go LAST so a front-truncated tail
    * still shows the total.
    */
  private[graft] def json(results: Iterable[(String, Double)], sfLabel: String, bestOf: Int): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // Failures (-1 sentinel) must NOT enter the headline total: summing
    // them makes a round with broken queries read FASTER than a healthy
    // one (r10/r11 reported ~21s for what was really ~46s of passing
    // work minus 25 failures). The total is passing-queries-only and
    // n_failed makes any breakage loud even in a truncated tail.
    val nFailed = results.count(_._2 < 0)
    val total = results.iterator.map(_._2).filter(_ >= 0).sum
    "{\"queries\":" + qs +
      s""","sf":"$sfLabel","best_of":$bestOf,"n_queries":${results.size}""" +
      s""","n_failed":$nFailed,"metric":"total","unit":"sec","value":${f3(total)}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Repeat each query N times and keep the fastest: contention from
    // anything else on the box (sbt test, a concurrent Verify) inflates
    // single-shot times 1.5-10x per query (round-6 driver bench read
    // 98 s for code that benches 64 s alone). min-of-N is the standard
    // robust estimator for that one-sided noise. Default 3 (round 10):
    // this box shows BURSTY host-level CPU steal — back-to-back
    // best-of-2 runs of identical code inflated disjoint query sets
    // 3-10× (README round notes), so two reps can BOTH land in a burst;
    // a third rep makes that unlikely at ~+50% bench wall-clock
    // (~1.5 min). The JSON records best_of for transparency.
    val bestOf = sys.env.getOrElse("SPARK_GRAFT_BENCH_BEST_OF", "3").toInt.max(1)
    val spark = Harness.session(Harness.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    Harness.warm(spark, sfDir)
    // Optional args: bench only the named queries (driver passes none).
    val results = Harness.select(args.toSeq, SparkEntry.queries, "Bench").map { case (name, fn) =>
      // label the rep's jobs (guide §1.5) so a UI/event-log inspection of
      // a bench run attributes every job to its query; thread-local, no
      // effect on the measured work
      spark.sparkContext.setJobDescription(s"bench: $name")
      name -> time(name, bestOf)(fn(spark, sfDir).count())
    }
    results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
      .foreach(n => System.err.println(s"[Bench] FAILED (excluded from total): $n"))
    val line = json(results, java.nio.file.Paths.get(sfDir).getFileName.toString, bestOf)
    println(line)
    // Persist the full JSON to an UNTRACKED path so the complete
    // per-query data survives a clipped stdout tail without dirtying the
    // working tree on every driver run; scripts/refresh_bench.sh copies
    // it into docs/bench_full.json for deliberate snapshot commits.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val out = java.nio.file.Paths.get(outPath)
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      // a failed persist plus a clipped stdout is the whole failure mode
      // these files guard against — make it diagnosable, never silent
      case NonFatal(e) =>
        System.err.println(s"[Bench] failed to write $outPath: $e")
    }
    spark.stop()
  }
}
