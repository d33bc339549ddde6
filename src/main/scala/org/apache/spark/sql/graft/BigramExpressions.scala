// In the Spark namespace for the same reason as Kernels.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document bigram score over a token array in ONE map-side pass:
  * returns (n_bigrams, Σ decimal(20,10)(lp(w₁,w₂))) as a struct — the
  * [[UnigramLogProbSum]] recipe applied to t23. The relational
  * formulation shuffles every (doc, bigram) occurrence to join the
  * model table; this streams each document's consecutive token pairs
  * past the driver-built model — no bigram-keyed shuffle, no skew
  * hazard from a corpus-dominating bigram, and the per-doc aggregate
  * happens INSIDE the row.
  *
  * Determinism contract (must hash-match the DuckDB oracle, which sums
  * `CAST(ln((cb+1)*1.0/(c1+v)) AS DECIMAL(20,10)) * tf` per distinct
  * bigram): each position's log-prob is quantized through Spark's own
  * double→decimal(20,10) cast, and scale-10 decimal addition is exact
  * and order-free — per-occurrence quantized sums equal the oracle's
  * tf-weighted quantized sums exactly. Positions whose bigram is absent
  * from the model are counted but contribute nothing (unreachable when
  * the model was built from the same corpus).
  */
case class BigramLogProbSum(
    child: Expression,
    model: ContentKeyed[java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Double]]])
  extends Kernel1[ArrayData, InternalRow] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("lp_sum", DecimalType(38, 10), nullable = false)))
  override def prettyName: String = "graft_bigram_lp_sum"

  def kernel(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var sum = java.math.BigDecimal.ZERO
    var nb = 0L
    var i = 1
    while (i < n) {
      if (!arr.isNullAt(i - 1) && !arr.isNullAt(i)) {
        nb += 1L
        val inner = model.value.get(arr.getUTF8String(i - 1))
        if (inner != null) {
          val lp = inner.get(arr.getUTF8String(i))
          if (lp != null) {
            val dec = Decimal(lp.doubleValue())
            if (dec.changePrecision(20, 10)) sum = sum.add(dec.toJavaBigDecimal)
          }
        }
      }
      i += 1
    }
    InternalRow(nb, Decimal(scala.math.BigDecimal(sum), 38, 10))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry point: takes the model keyed by the "w₁ w₂" bigram
  * strings the relational form aggregates (tokens never contain
  * whitespace — they come from a \s+ split — so the single-space split
  * back into (w₁, w₂) is unambiguous) and nests it (w₁ → (w₂ →
  * log-probability)) so the hot loop probes with the two scanned tokens
  * directly — no per-position bigram-string allocation, no UTF8String
  * concat.
  */
object BigramFunctions {
  def bigramLogProbSum(tokens: Column, lp: Map[String, Double]): Column = {
    val m = new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Double]](
      lp.size * 2)
    lp.foreach { case (bigram, v) =>
      val sp = bigram.indexOf(' ')
      require(sp > 0 && bigram.indexOf(' ', sp + 1) < 0,
        s"not a two-token bigram key: '$bigram'")
      val w1 = UTF8String.fromString(bigram.substring(0, sp))
      val w2 = UTF8String.fromString(bigram.substring(sp + 1))
      var inner = m.get(w1)
      if (inner == null) {
        inner = new java.util.HashMap[UTF8String, java.lang.Double]()
        m.put(w1, inner)
      }
      inner.put(w2, Double.box(v)): Unit
    }
    ExpressionUtils.column(BigramLogProbSum(
      ExpressionUtils.expression(tokens), new ContentKeyed(m, s"bigram model ${lp.size} bigrams")))
  }
}
