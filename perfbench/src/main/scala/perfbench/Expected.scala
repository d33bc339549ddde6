package perfbench

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Reference values recorded from the program, read from `expected.json`
  * in the benchmark's directory: output digests of the batch workloads per
  * seed, and each suite query's row count.
  */
object Expected {
  private lazy val doc: JValue = {
    val p = Paths.get(sys.props.getOrElse("perfbench.home", "perfbench"), "expected.json")
    if (Files.exists(p)) JsonMethods.parse(Files.readString(p)) else JNothing
  }

  def digest(workload: String, seed: Long): Option[String] =
    doc \ "digests" \ workload \ seed.toString match {
      case JString(s) => Some(s)
      case _ => None
    }

  def suiteRows: Map[String, Long] = doc \ "suite_rows" match {
    case JObject(fs) => fs.collect { case (k, JInt(n)) => k -> n.toLong }.toMap
    case _ => Map.empty
  }
}
