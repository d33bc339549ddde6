package perfbench

import java.lang.management.ManagementFactory

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints one JSON result object as the last line of standard output.
  */
object Main {
  /** Process start, on the [[Clock]] time line. */
  lazy val processStart: Double =
    Clock.now - ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def main(argv: Array[String]): Unit = {
    processStart
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = Args.parse(argv)
    val outcome = a.workload match {
      case "batch_dense" => BatchBench.run(a)
      case "query_suite" => SuiteBench.run(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(outcome.json)
  }
}

