// In the Spark namespace for the same reason as Kernels: the
// FunctionRegistry plumbing used by expression builders is private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration for the native vector expressions, so
  * `spark.sql("SELECT graft_cosine(a, b) ...")` works wherever the
  * extension is installed:
  *
  *   spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  *
  * (a STATIC conf — it applies only when the first session of the JVM is
  * created; submit it with the job, don't set it on a live session), or
  * `SparkSession.builder.withExtensions(new GraftExtensions())` when a
  * SparkContext already exists (GraftExtensionsSpec drives this path).
  * The functions alone register on a live session via
  * [[GraftFunctions.register]]; the [[ApproxAggRewrite]] rule is installed
  * only here.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(session => ApproxAggRewrite(session))
  }
}

object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** One SQL function: its name is the `prettyName` of what `build`
    * makes (built once here over `arity` placeholder literals), and
    * `usage` follows the name in its description.
    */
  private def fn(arity: Int, usage: String)(build: Builder): (String, ExpressionInfo, Builder) = {
    val proto = build(Seq.fill(arity)(Literal(1)))
    val name = proto.prettyName
    (name, new ExpressionInfo(proto.getClass.getName, null, name, name + usage, ""), build)
  }

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    fn(2, "(a, b) - cosine similarity of two vectors, null on zero norm")(
      c => CosineSimilarity(c(0), c(1))),
    fn(2, "(a, b) - dot product of two vectors")(c => DotProduct(c(0), c(1))),
    fn(2, "(a, b) - integer dot product of two int8 (tinyint) vectors")(
      c => Int8DotProduct(c(0), c(1))),
    fn(1, "(v) - symmetric int8 quantization: floor(x*127/max_abs + 0.5) as array<tinyint>")(
      c => Int8QuantizeVec(c.head)),
    fn(1, "(v) - L-infinity norm max(abs(x_i)) of a vector")(c => MaxAbs(c.head)),
    fn(3, "(v, nPlanes, seed) - signed-random-projection LSH bucket id")(
      c => SrpBucket(c(0), litInt(c(1), "nPlanes"), litInt(c(2), "seed"))),
    fn(1, "(tokens) - 64-bit SimHash of a string array")(c => SimHash64(c.head)),
    fn(2, "(shingles, k) - k-element MinHash signature")(
      c => MinHashSignature(c(0), litInt(c(1), "k"))),
    fn(2, "(text, n) - deduplicated word n-grams")(c => WordShingles(c(0), litInt(c(1), "n"))),
    fn(2, "(text, n) - deduplicated char n-grams")(c => CharShingles(c(0), litInt(c(1), "n"))),
    fn(3, "(shingles, bands, rowsPerBand) - LSH band bucket ids from a shingle array")(
      c => LshBandBuckets(c(0), litInt(c(1), "bands"), litInt(c(2), "rowsPerBand"))),
    fn(3, "(text, k, w) - MOSS winnowing fingerprints (k-gram hashes, window-w minima)")(
      c => Winnow(c(0), litInt(c(1), "k"), litInt(c(2), "w"))))

  /** Register into an already-running session's function registry. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    all.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), inf, builder)
    }
}
