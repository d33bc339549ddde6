// In the Spark namespace for the same reason as Kernels.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document unigram score over a token array in ONE map-side pass:
  * returns (n_tokens, Σ decimal(20,10)(lp(token))) as a struct. The
  * relational formulation shuffles every (doc, token) pair to join the
  * vocabulary-sized count table; this streams each document past the
  * driver-built model exactly like the Bloom decontamination probe — no
  * token-keyed shuffle, no skew hazard from a corpus-dominating token.
  *
  * Determinism contract (must hash-match the DuckDB oracle, which sums
  * `CAST(ln(c*1.0/t) AS DECIMAL(20,10))` per occurrence): each token's
  * log-prob is quantized through Spark's OWN `Decimal.changePrecision`
  * (the double→decimal(20,10) cast semantics, HALF_UP on the shortest
  * decimal representation), and scale-10 decimal addition is exact and
  * order-free. Tokens absent from the model are counted but contribute
  * nothing (unreachable when the model was built from the same corpus —
  * an inner join would keep them too, as every corpus token is in the
  * vocabulary).
  *
  * The accumulated sum fits DecimalType(38,10) by a huge margin: |lp| ≤
  * ln(total-token-count) ≈ 35 even at 100 T tokens, so a billion-token
  * document still needs < 12 integer digits of the 28 available.
  */
case class UnigramLogProbSum(
    child: Expression, model: ContentKeyed[java.util.HashMap[UTF8String, java.lang.Double]])
  extends Kernel1[ArrayData, InternalRow] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("lp_sum", DecimalType(38, 10), nullable = false)))
  override def prettyName: String = "graft_unigram_lp_sum"

  def kernel(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val lp = model.value.get(arr.getUTF8String(i))
        if (lp != null) {
          val dec = Decimal(lp.doubleValue())
          // never false here (|lp| ≪ 10^10), but keep the cast contract:
          // a value that cannot be represented contributes nothing
          if (dec.changePrecision(20, 10)) sum = sum.add(dec.toJavaBigDecimal)
        }
      }
      i += 1
    }
    // sum's scale is 10 after any addition but 0 if nothing matched;
    // Decimal.set normalizes to the declared scale either way
    InternalRow(n.toLong, Decimal(scala.math.BigDecimal(sum), 38, 10))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry point: keys the model by [[UTF8String]] so the hot
  * loop probes with the scanned token directly (no per-token String
  * decode), wrapped in a [[ContentKeyed]] parameter so equal models make
  * equal expressions.
  */
object UnigramFunctions {
  def unigramLogProbSum(tokens: Column, lp: Map[String, Double]): Column = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double](lp.size * 2)
    lp.foreach { case (t, v) => m.put(UTF8String.fromString(t), Double.box(v)) }
    ExpressionUtils.column(UnigramLogProbSum(
      ExpressionUtils.expression(tokens), new ContentKeyed(m, s"unigram model ${m.size} tokens")))
  }
}
