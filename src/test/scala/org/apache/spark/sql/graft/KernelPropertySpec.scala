package org.apache.spark.sql.graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Every kernel of [[KernelCatalog]] gives the same result under
  * interpreted evaluation and under generated code, with and without
  * whole-stage codegen, on generated null, null-element, NaN, ±Inf,
  * empty and long inputs — and none of them throws.
  */
class KernelPropertySpec extends graft.SparkTestBase {

  private val doubles: Gen[Any] = Gen.frequency(
    6 -> Gen.choose(-1e3, 1e3), 1 -> Gen.const(0.0), 1 -> Gen.const(-0.0),
    1 -> Gen.const(Double.NaN), 1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity), 1 -> Gen.const(Double.MaxValue),
    1 -> Gen.const(Double.MinPositiveValue))
  private val bytes: Gen[Any] = Gen.frequency(
    6 -> Gen.choose(-128, 127).map(_.toByte), 1 -> Gen.const(Byte.MinValue), 1 -> Gen.const(Byte.MaxValue))
  private val tokens: Gen[Any] = Gen.oneOf(KernelCatalog.vocabulary)

  /** null, empty, short or long arrays whose elements are sometimes null. */
  private def arrays(elem: Gen[Any]): Gen[Any] = {
    val withNulls = Gen.frequency(12 -> elem, 1 -> Gen.const(null))
    Gen.frequency(
      1 -> Gen.const(null), 1 -> Gen.const(Seq.empty),
      4 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, withNulls)),
      1 -> Gen.choose(1, 8).flatMap(Gen.listOfN(_, elem)),
      1 -> Gen.choose(200, 400).flatMap(Gen.listOfN(_, elem)))
  }
  private val texts: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null), 1 -> Gen.const(""),
    6 -> arrays(tokens).map(a => Option(a).fold(null: String)(_.asInstanceOf[Seq[Any]].mkString(" "))))
  private val longs: Gen[Any] = Gen.frequency(
    1 -> Gen.const(null), 2 -> Gen.oneOf(0L, 1L, -7L, Long.MinValue, Long.MaxValue),
    4 -> Gen.long)

  private val row: Gen[Seq[Any]] = Gen.sequence[Seq[Any], Any](Seq(
    arrays(doubles), arrays(doubles), arrays(bytes), arrays(bytes), arrays(tokens), texts, longs))

  private val schema = StructType(StructField("id", LongType) +: KernelCatalog.schema.fields)
  private val kernels = KernelCatalog.all(n => UnresolvedAttribute(n))

  /** Each kernel's result per input row, evaluated in one mode. */
  private def evaluate(rows: Seq[Seq[Any]], factoryMode: String, wholeStage: Boolean): Seq[Row] = {
    val confs = Map("spark.sql.codegen.factoryMode" -> factoryMode,
      "spark.sql.codegen.wholeStage" -> wholeStage.toString,
      "spark.sql.codegen.fallback" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val data = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r) }
      // an RDD source: a local relation would be folded by the optimizer,
      // interpreted, before either codegen path saw the kernels
      val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      df.select(col("id") +: kernels.zipWithIndex.map { case (k, i) =>
        ExpressionUtils.column(k).as(s"k$i") }: _*).collect().sortBy(_.getLong(0)).toSeq
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Equality that holds NaN equal to itself and compares results element by element. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: Row, y: Row) => same(x.toSeq, y.toSeq)
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  test("every kernel: interpreted == generated code, with and without whole-stage codegen") {
    val modes = for (f <- Seq("NO_CODEGEN", "CODEGEN_ONLY"); ws <- Seq(false, true)) yield (f, ws)
    val prop = Prop.forAllNoShrink(Gen.listOfN(30, row)) { rows =>
      val Seq(reference, others @ _*) = modes.map { case (f, ws) => evaluate(rows, f, ws) }
      modes.tail.zip(others).forall { case (mode, got) =>
        reference.indices.forall { i =>
          kernels.indices.forall { k =>
            val ok = same(reference(i).get(k + 1), got(i).get(k + 1))
            if (!ok) info(s"${kernels(k).prettyName} under $mode on ${rows(i)}: " +
              s"${reference(i).get(k + 1)} (interpreted) vs ${got(i).get(k + 1)}")
            ok
          }
        }
      }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(Seed(20261019L)).withWorkers(1), prop)
    assert(result.passed, result.status)
  }
}
