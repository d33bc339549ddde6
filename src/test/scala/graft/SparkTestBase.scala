package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. Small core count + few
  * shuffle partitions keeps tiny-fixture tests fast; UTC pinned to match
  * the driver harness (SURVEY §7.4 risk 2).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // shared session; never stop per-suite

  /** The directory the latest manifest of the store at `base` lists
    * for `leaf` (throws when nothing is committed).
    */
  def committedLeaf(base: java.io.File, leaf: String): java.io.File =
    new java.io.File(base, StoreLog.open(spark, base).snapshot.leaves(leaf))
}

object SparkTestBase {
  // always local[4], whatever SPARK_GRAFT_CPUS says: the mains read it,
  // the specs' fixtures are sized for four partitions. Codegen fallback is
  // off, so generated Java that fails to compile fails the spec instead of
  // running interpreted unseen.
  lazy val session: SparkSession =
    Harness.session(4, Map("spark.sql.codegen.fallback" -> "false"))
}
