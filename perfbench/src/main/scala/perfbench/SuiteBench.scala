package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import scala.jdk.CollectionConverters._

/** `query_suite`: a per-family sample of `graft.SparkEntry.queries` over the
  * benchmark's copy of the sf0.001 tables.
  *
  * The sample is the [[PerFamily]] lowest-numbered queries of each name
  * prefix (`q`, `a`, `w`, ... `dq`), so every family, and the module behind
  * it, is reached. Each query's `count()` is one operation and must equal
  * the row count recorded in `expected.json`. The seed sets the order of
  * the queries in every lap.
  */
object SuiteBench {
  val PerFamily = 1

  private val Name = """([a-z]+)(\d*)_.*""".r

  def family(q: String): String = q match {
    case Name(f, _) => f
    case _ => q.takeWhile(_.isLetter)
  }

  lazy val sample: Seq[String] =
    SparkEntry.queries.keys.toSeq
      .groupBy(family)
      .toSeq.sortBy(_._1)
      .flatMap { case (_, qs) =>
        qs.sortBy(q => q.drop(family(q).length).takeWhile(_.isDigit).toIntOption.getOrElse(0))
          .take(PerFamily)
      }

  /** The tables, copied to a new directory: a data path the program has not
    * seen, so its persisted artifacts are built from nothing.
    */
  private def tables(a: Args, rep: Int): String = {
    val src = Paths.get(sys.props.getOrElse("perfbench.home", "perfbench"), "data", "sf0.001")
    val dst = Fs.fresh(a.work.resolve(s"sf-$rep"))
    Files.list(src).iterator().asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }

  def run(a: Args): Outcome = {
    val tally = new Tally
    val expected = Expected.suiteRows
    val order = sample
    var spark: SparkSession = null
    var dir: String = null

    /** One lap: each query once, timed; returns (query, seconds) of those
      * that ran and returned the recorded row count.
      */
    def lap(tag: Boolean): Seq[(String, Double)] = order.flatMap { q =>
      if (tag) spark.sparkContext.setLocalProperty("perfbench.tag", family(q))
      tally.attempted += 1
      try {
        val (n, dt) = Clock.time(SparkEntry.queries(q)(spark, dir).count())
        if (expected.get(q).contains(n)) Some(q -> dt)
        else {
          tally.failed += 1
          System.err.println(s"[perfbench] $q returned $n rows, recorded ${expected.get(q)}")
          None
        }
      } catch {
        case e: Throwable =>
          tally.failed += 1
          System.err.println(s"[perfbench] $q threw: $e")
          None
      } finally if (tag) spark.sparkContext.setLocalProperty("perfbench.tag", null)
    }

    // Set-up, twice: a fresh session with graft.Bench's confs, the
    // tables at a new path, and a first lap, which builds every persisted
    // artifact the sample reads. Twice, not three times, because each
    // set-up rebuilds every artifact.
    val setups = (1 to 2).map { rep =>
      val t0 = if (rep == 1) Main.processStart else Clock.now
      if (spark != null) Session.stop(spark)
      spark = Session.start(a, graft.sink.BucketedMirror.withSessionConfs)
      dir = tables(a, rep)
      lap(tag = false)
      Clock.log(s"set-up $rep done")
      Clock.now - t0
    }

    val metrics =
      if (!a.trace) {
        val times = scala.collection.mutable.Map[String, Double]()
        val heap = scala.collection.mutable.ArrayBuffer[Double]()
        val start = Clock.now
        while (Clock.now - start < a.seconds || heap.isEmpty) {
          Heap.reset()
          lap(tag = false).foreach { case (q, t) =>
            times(q) = math.min(t, times.getOrElse(q, Double.MaxValue))
          }
          heap += Heap.peakMb
        }
        val best = times.values.toSeq
        Seq(
          Metric("setup_s", Stats.median(setups), "s"),
          Metric("op_p50_ms", Stats.median(best) * 1000, "ms"),
          Metric("op_p95_ms", Stats.quantile(best, 0.95) * 1000, "ms"),
          Metric("op_mean_ms", Stats.mean(best) * 1000, "ms"),
          Metric("peak_heap_mb", Stats.median(heap.toSeq), "MB"))
      } else {
        val untraced = lap(tag = false).map(_._2).sum
        val ledger = new Ledger().register(spark)
        val w0 = System.currentTimeMillis()
        val traced = lap(tag = true)
        val w1 = System.currentTimeMillis()
        ledger.drain(spark)
        val total = traced.map(_._2).sum
        val byFamily = traced.groupBy(t => family(t._1))
        val families = sample.map(family).distinct.flatMap { f =>
          Seq(Metric(s"suite.$f.s", byFamily.getOrElse(f, Nil).map(_._2).sum, "s"),
              Metric(s"suite.$f.jobs", ledger.tag(f).jobs.toDouble, "count"))
        }
        val m = ledger.metrics("suite", w0, w1)
        ledger.unregister(spark)
        val untraced2 = lap(tag = false).map(_._2).sum
        Seq(Metric("bench.trace_overhead_pct", (total / ((untraced + untraced2) / 2) - 1) * 100, "%"),
            Metric("suite.total_s", total, "s")) ++ families ++ m
      }
    Session.stop(spark)
    Outcome(tally.attempted, tally.failed, metrics)
  }
}
