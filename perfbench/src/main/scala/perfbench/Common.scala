package perfbench

import java.lang.management.ManagementFactory
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cpus: Int, work: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1",
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      java.nio.file.Paths.get(kv.getOrElse("work", ".")).toAbsolutePath)
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** One run's result: the last line the benchmark prints. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric]) {
  def json: String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"metric is $d")
      else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map(m =>
      "\"" + m.name + "\":{\"value\":" + num(m.value) + ",\"unit\":\"" + m.unit + "\"}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

/** Operation tally: every timed operation and every output check counts
  * as attempted; a throw or a failed check counts as failed.
  */
final class Tally {
  var attempted = 0L
  var failed = 0L
  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e"); false
    }
    if (!good) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    good
  }
}

object Stats {
  /** Linear-interpolated quantile (the usual "type 7"). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
}

object Clock {
  def now: Double = System.nanoTime() / 1e9
  /** A progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${now - Main.processStart}%7.2f s  $msg")
  def time[T](f: => T): (T, Double) = { val t0 = now; val r = f; (r, now - t0) }
}

/** Peak heap retained after a garbage collection, since the last reset:
  * the largest heap occupancy any collection in the window could not
  * free. Unlike the raw peak in use, which follows the young generation's
  * size, this moves when the program holds more data (caches, state,
  * collected results).
  */
object Heap {
  private val peak = new java.util.concurrent.atomic.AtomicLong()
  private lazy val installed: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            peak.accumulateAndGet(used, math.max(_, _))
          }, null, null)
      case _ => ()
    }
  def reset(): Unit = { installed; peak.set(0L) }
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

object Session {
  /** `local[cpus]` with `cpus` shuffle partitions, UI off, UTC, and every
    * scratch directory inside the run's work directory.
    */
  def start(a: Args, confs: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val spark = confs(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Fs {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def fresh(p: Path): Path = { rm(p); Files.createDirectories(p) }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }

  /** Data files under `p` (Spark's `_SUCCESS` and `.crc` files excluded). */
  def dataFiles(p: Path): Seq[Path] = walk(p).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
  }

  def bytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  def dirs(p: Path, depth: Int): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p, depth)
      try s.iterator().asScala.filter(f => Files.isDirectory(f) &&
        p.relativize(f).getNameCount == depth && f != p).toList
      finally s.close()
    }
}

/** In-memory spans, written out once when the run ends. */
final class Spans {
  final case class Span(name: String, start: Double, end: Double)
  private val buf = scala.collection.mutable.ArrayBuffer[Span]()
  private val t0 = Clock.now

  def apply[T](name: String)(f: => T): (T, Double) = {
    val s = Clock.now
    val r = f
    val e = Clock.now
    buf += Span(name, s - t0, e - t0)
    (r, e - s)
  }

  def seconds(name: String): Double =
    buf.filter(_.name == name).map(s => s.end - s.start).sum

  def write(p: Path): Unit = {
    val lines = buf.map(s => f"""{"name":"${s.name}","start_s":${s.start}%.6f,"end_s":${s.end}%.6f}""")
    Files.write(p, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
