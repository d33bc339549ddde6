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
  // the specs' fixtures are sized for four partitions. Generated Java that
  // fails to compile fails the spec instead of running interpreted unseen:
  // whole-stage codegen has no fallback, and expression-level codegen
  // (projections, predicates, orderings) runs CODEGEN_ONLY.
  lazy val session: SparkSession =
    Harness.session(4, Map(
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))

  /** A second session on the shared context, built with
    * `GraftExtensions`: the deployment path of the graft SQL functions and
    * of the `ApproxAggRewrite` optimizer rule, the same injector that
    * `spark.sql.extensions` runs when a JVM's first session is created.
    * That conf is static, so on a context that already exists the builder
    * hook is the only way in; the shared session stays the default and
    * active one.
    */
  lazy val extensionSession: SparkSession = {
    session // materialize the shared context first
    val (prevDefault, prevActive) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions())
      .getOrCreate()
    finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
