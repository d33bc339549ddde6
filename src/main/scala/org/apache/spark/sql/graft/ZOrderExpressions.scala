// In the Spark namespace for the same reason as Kernels. Public API
// surface is graft.sink.ZOrder, which delegates here.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** Z-value (Morton-interleave) kernel for multi-dimensional clustered
  * layout ([[graft.sink.ZOrder]]).
  *
  * Each column value is rank-bucketed against its own quantile cut
  * points (so skewed distributions still spread over the full bucket
  * range — interleaving raw values would let one wide column dominate
  * the curve), then the bucket bits of all columns are interleaved
  * most-significant-first: bit b of column c lands at position
  * b·k + (k−1−c) from the top. Sorting by the resulting long walks the
  * Z-curve, which keeps rows close in EVERY bucketed dimension close in
  * the file order — the property that gives file-level min/max pruning
  * on all k columns instead of only the leading sort key.
  */
object ZImpl {

  /** Bucket of `v` in sorted `cuts` (the quantile upper boundaries):
    * the count of cut points ≤ v, via binary search — bucket 0 is
    * (−∞, cuts(0)], bucket cuts.length is (cuts.last, ∞). NaN and null
    * sink to bucket 0 (deterministic, clustered together).
    */
  def bucketOf(v: Double, cuts: Array[Double]): Int = {
    if (v.isNaN) return 0
    var lo = 0
    var hi = cuts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cuts(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The interleaved z-value of one row's column values. `bits` is the
    * per-column bucket width (buckets fit in `bits` bits by
    * construction: cuts.length ≤ 2^bits − 1).
    */
  def zValue(vals: ArrayData, cuts: Array[Array[Double]], bits: Int): Long = {
    val k = cuts.length
    var z = 0L
    var c = 0
    while (c < k) {
      val b =
        if (c < vals.numElements() && !vals.isNullAt(c))
          bucketOf(vals.getDouble(c), cuts(c))
        else 0
      var bit = 0
      while (bit < bits) {
        if (((b >> bit) & 1) == 1)
          z |= 1L << (bit * k + (k - 1 - c))
        bit += 1
      }
      c += 1
    }
    z
  }
}

/** array<double> (one row's k clustering-column values) → long z-value.
  * The cut matrix is a content-keyed parameter, flattened to primitive
  * arrays once per task.
  */
case class ZValueExpr(child: Expression, cuts: ContentKeyed[Seq[Seq[Double]]], bits: Int)
  extends Kernel1[ArrayData, Long] {
  require(cuts.value.nonEmpty, "z-order needs at least one clustering column")
  require(bits >= 1 && bits * cuts.value.length <= 63,
    s"bits·columns must fit a long, got $bits x ${cuts.value.length}")
  require(cuts.value.forall(_.length <= (1 << bits) - 1),
    s"cut count must fit $bits bits")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zvalue"

  @transient private lazy val cutArrays: Array[Array[Double]] =
    cuts.value.map(_.toArray).toArray

  def kernel(vals: ArrayData): Long = ZImpl.zValue(vals, cutArrays, bits)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry point for the z-value expression. */
object ZOrderFunctions {
  def zValueNative(vals: Column, cuts: Seq[Seq[Double]], bits: Int): Column =
    ExpressionUtils.column(ZValueExpr(ExpressionUtils.expression(vals),
      new ContentKeyed(cuts, s"${cuts.length} cols"), bits))
}
