// In the Spark namespace for the same reason as Kernels.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Native vector math (north-star similarity path).
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) is
  * correct but interpreted — HOFs are CodegenFallback, so every element
  * goes through boxed lambda eval. These kernels are one primitive loop
  * per row: one pass, three accumulators, no allocation. Order of
  * accumulation is ascending index — identical to the sequential HOF
  * semantics and to DuckDB's list_cosine_similarity on doubles, so oracle
  * parity is preserved bit-for-bit.
  *
  * Inputs implicit-cast to array<double> (float embeddings widen per
  * element, same IEEE widening DuckDB applies).
  */
case class DotProduct(left: Expression, right: Expression)
  extends NullableKernel2[ArrayData, ArrayData, Double] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  /** Σ a_i·b_i over the common prefix of the two arrays. A null element
    * in either array makes the result null — the same propagation
    * `aggregate(zip_with(a, b, _*_), 0d, _+_)` exhibits.
    */
  def kernel(x: ArrayData, y: ArrayData, out: NullBit): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) { out.set(); return 0.0 }
      dot += x.getDouble(i) * y.getDouble(i); i += 1
    }
    dot
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class CosineSimilarity(left: Expression, right: Expression)
  extends NullableKernel2[ArrayData, ArrayData, Double] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override def nullable: Boolean = true

  /** dot / (|a|·|b|); null when either norm is zero (matches
    * graft.sim.Similarity.cosine and the d5/e1 oracle conventions) or on
    * a null element, as [[DotProduct]].
    */
  def kernel(x: ArrayData, y: ArrayData, out: NullBit): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) { out.set(); return 0.0 }
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) { out.set(); 0.0 }
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot over int8-quantized vectors (array<tinyint> → bigint):
  * the prefilter scorer of the int8 ANN paths. Each product widens to
  * int (tinyint·tinyint saturates at ±16129, far inside int) and
  * accumulates into a long — overflow-free for any realistic dimension
  * (2^47 elements would be needed to overflow). Null rule as
  * [[DotProduct]]; the HOF formulation paid boxed lambda dispatch per
  * element on the hottest row stream of the search.
  */
case class Int8DotProduct(left: Expression, right: Expression)
  extends NullableKernel2[ArrayData, ArrayData, Long] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(ByteType), ArrayType(ByteType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_int8"
  override def nullable: Boolean = true

  def kernel(x: ArrayData, y: ArrayData, out: NullBit): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) { out.set(); return 0L }
      dot += x.getByte(i).toInt * y.getByte(i).toInt; i += 1
    }
    dot
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Int8Impl {
  /** Symmetric int8 quantization of one vector in two tight passes:
    * m = max|x|, then q_i = floor(x_i·127/m + 0.5) (half-up; bounded in
    * [−127, 127] by construction — x_i = ±m hits exactly ±127). Zero
    * vectors quantize to all-zero. A null element nulls the whole result
    * (same propagation as the sibling vector expressions; the HOF twin
    * `Similarity.int8Array` instead inherits array_max's null-SKIPPING
    * scale and yields a per-element null — see the MaxAbs doc for why the
    * native behavior is the deliberate one). Same math as
    * `Similarity.int8Array` on null-free input — this is the
    * allocation-light native form for the ANN candidate hot path.
    */
  def quantize(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val a = math.abs(v.getDouble(i))
      // NaN must become (and stay) the max — Spark's array_max ordering
      // treats NaN as greatest, and the HOF contract then floors
      // x·127/NaN to NaN whose byte cast is 0; `a > m` alone is always
      // false for NaN and would silently quantize around it
      if (a.isNaN || a > m) m = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (m != 0.0) {
      i = 0
      while (i < n) {
        out(i) = math.floor(v.getDouble(i) * 127.0 / m + 0.5).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** array<double> → array<tinyint>: one-pass symmetric int8 quantization
  * (see [[Int8Impl.quantize]]). The HOF formulation
  * (`transform(v, x -> floor(x·127/max_abs + 0.5))`) is interpreted AND
  * captures the per-vector scale alias — projection collapse inlines the
  * capture, so interpreted eval re-derives the scale (another full HOF
  * pass) per ELEMENT: O(dim²) boxed ops per row, measured ~5 ms/row at
  * dim 64 on the s7/s8 candidate streams.
  */
case class Int8QuantizeVec(child: Expression) extends Kernel1[ArrayData, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_int8_quantize"
  override def nullable: Boolean = true

  def kernel(v: ArrayData): ArrayData = Int8Impl.quantize(v)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** L∞ norm: max|x_i| — the quantization scale of [[Int8QuantizeVec]]
  * published as a scalar (the ANN paths divide it by the L2 norm for the
  * per-vector score correction). Matches the HOF contract
  * `array_max(transform(v, abs))` on the empty array (null) and on NaN
  * (greatest value — a single NaN element makes the norm NaN; `>` alone
  * would skip it), but DELIBERATELY diverges on a null ELEMENT: the
  * native forms null the whole result (the propagation every sibling
  * vector expression uses — a vector with a missing component has no
  * meaningful norm), whereas `array_max` SKIPS null elements, so the HOF
  * pair would yield scale 2.0 for [1.0, null, 2.0] and a per-element
  * null in the quantized array. VectorExpressionsSpec pins both
  * behaviors side by side; embeddings carry no null elements, so no
  * production path sees the divergence.
  */
case class MaxAbs(child: Expression) extends NullableKernel1[ArrayData, Double] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_linf"
  override def nullable: Boolean = true

  def kernel(v: ArrayData, out: NullBit): Double = {
    val n = v.numElements()
    if (n == 0) { out.set(); return 0.0 }
    var m = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) { out.set(); return 0.0 }
      val a = math.abs(v.getDouble(i))
      if (a.isNaN || a > m) m = a
      i += 1
    }
    m
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpImpl {
  /** splitmix64 finalizer — the standard public-domain 64-bit integer mix
    * (Steele/Lea/Flood, "Fast Splittable Pseudorandom Number Generators").
    */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** SRP bucket: bit p of the result = sign of <v, plane_p> where
    * plane_p's weight for element i is ±1 taken from bit p of one
    * splitmix64 word per (seed, i). One hash + nPlanes add/subs per
    * element — no materialized plane vectors at all.
    */
  def bucket(v: ArrayData, nPlanes: Int, seed: Int): Long = {
    val n = v.numElements()
    val acc = new Array[Double](nPlanes)
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val bits = mix((seed.toLong << 32) ^ i)
      var p = 0
      while (p < nPlanes) {
        if (((bits >>> p) & 1L) == 1L) acc(p) += x else acc(p) -= x
        p += 1
      }
      i += 1
    }
    var b = 0L
    var p = 0
    while (p < nPlanes) {
      if (acc(p) >= 0) b |= 1L << p
      p += 1
    }
    b
  }
}

/** Signed-random-projection bucket id (LSH for cosine). The previous
  * formulation materialized every hyperplane as a typedLit array and
  * emitted one DotProduct per plane — nPlanes·nTables·dim doubles inlined
  * into the generated code, which dominated the query at registered
  * parameters (~seconds of one-time codegen) and fell off the codegen
  * cliff entirely once the corpus-growth knob (more planes) pushed past
  * ~64 planes (measured: 8 tables × 11 planes ran 2.5× SLOWER than 4
  * planes at 100× corpus, despite 128× fewer candidates). This expression
  * derives weights on the fly — codegen size is O(1) in planes and dim.
  */
case class SrpBucket(child: Expression, nPlanes: Int, seed: Int)
  extends Kernel1[ArrayData, Long] {
  require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63], got $nPlanes")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_bucket"

  def kernel(v: ArrayData): Long = SrpImpl.bucket(v, nPlanes, seed)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfImpl {
  /** The (matrix, L2 norms) pair both cell expressions derive from their
    * centroid parameter — ONE derivation so the corpus-assignment scalar
    * and the probe generator can never disagree on norm handling.
    */
  def centroidMatrix(centroids: Seq[Seq[Double]]): (Array[Array[Double]], Array[Double]) = {
    val matrix = centroids.map(_.toArray).toArray
    val norms = matrix.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    (matrix, norms)
  }

  /** A centroid list as an expression parameter. */
  def centroids(cents: Seq[Seq[Double]]): ContentKeyed[Seq[Seq[Double]]] =
    new ContentKeyed(cents, s"${cents.length} cells")

  /** [[nearestIds]] packed as the scalar expression's array result. */
  def nearest(v: ArrayData, cents: Array[Array[Double]], norms: Array[Double],
              nProbes: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(nearestIds(v, cents, norms, nProbes))

  /** The `nProbes` nearest centroids of `v` by cosine, ids ordered
    * (cos desc, id asc). One tight pass: the query norm once, then one
    * fused dot per centroid against the precomputed centroid norms.
    * Degenerate scores (zero norm on either side, a null element, NaN)
    * sink to sentinels below any real cosine (−2 / −3), so a zero query
    * vector deterministically probes cells 0..nProbes−1 — the exact
    * behavior of the HOF formulation this replaces
    * (`array_sort(zip_with(cents, seq, struct(-coalesce(cos, -2), i)))`),
    * which VectorExpressionsSpec pins side by side.
    */
  def nearestIds(v: ArrayData, cents: Array[Array[Double]], norms: Array[Double],
                 nProbes: Int): Array[Int] = {
    val nc = cents.length
    val probes = math.min(nProbes, nc)
    val n = v.numElements()
    val x = new Array[Double](n)
    var nv = 0.0
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) {
      if (v.isNullAt(i)) hasNull = true
      else { val xi = v.getDouble(i); x(i) = xi; nv += xi * xi }
      i += 1
    }
    val vnorm = math.sqrt(nv)
    val score = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val cent = cents(c)
      val s =
        if (hasNull || vnorm == 0.0 || norms(c) == 0.0) -2.0
        else {
          val m = math.min(n, cent.length)
          var dot = 0.0
          var j = 0
          while (j < m) { dot += x(j) * cent(j); j += 1 }
          dot / (vnorm * norms(c))
        }
      // NaN compares false under >, which would make a NaN-scored cell
      // unselectable; pin it below the zero-norm sentinel instead (the
      // HOF struct ordering likewise sorts NaN last)
      score(c) = if (s.isNaN) -3.0 else s
      c += 1
    }
    // selection over nc cells per probe: nProbes is small (≤ ~32 even at
    // the 4096-cell ceiling), so O(probes·nc) beats a full sort
    val out = new Array[Int](probes)
    val taken = new Array[Boolean](nc)
    var p = 0
    while (p < probes) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var j = 0
      while (j < nc) {
        if (!taken(j) && score(j) > bestS) { bestS = score(j); best = j }
        j += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    out
  }
}

/** array<double> → array<int>: ids of the `nProbes` nearest centroids by
  * cosine (IVF cell assignment / probe selection). The centroid matrix is
  * a content-keyed parameter (CSE and canonicalization can unify the
  * corpus-assign and query-probe occurrences), read by the kernel from
  * this expression, NOT inlined literals. The previous HOF formulation
  * inlined nCells·dim literal doubles into the plan and evaluated
  * interpreted per row; at the √N auto-sizing this expression enables
  * (448 cells at the ×100 probe) that would be ~28k literal nodes and
  * ~28k boxed ops per row. Here assignment is a JIT'd O(nCells·dim)
  * primitive loop with O(1) codegen size.
  */
case class NearestCells(child: Expression, centroids: ContentKeyed[Seq[Seq[Double]]], nProbes: Int)
  extends Kernel1[ArrayData, ArrayData] {
  require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
  // an EMPTY centroid list (empty corpus) yields an empty probe array —
  // explode produces no rows and getItem(0) is null, so the degenerate
  // search returns empty instead of throwing (the HOF formulation's
  // behavior, pinned in SimilaritySpec)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  @transient private lazy val (matrix, norms) = IvfImpl.centroidMatrix(centroids.value)

  def kernel(v: ArrayData): ArrayData = IvfImpl.nearest(v, matrix, norms, nProbes)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Generator emitting the `nProbes` nearest cell ids as rows — the IVF
  * probe-side twin of [[NearestCells]] (which stays the corpus-assignment
  * form: nProbes = 1, no explode, no trap). Exploding the scalar's array
  * let `InferFiltersFromGenerate` put `size(graft_nearest_cells(v)) > 0`
  * on the query scan, re-running the full O(nCells·dim) probe selection
  * per row a second time; custom generators are exempt (the
  * [[SrpBucketsGenerator]] lesson). Same centroid parameter as the scalar.
  */
case class NearestCellsGenerator(child: Expression, centroids: ContentKeyed[Seq[Seq[Double]]],
                                 nProbes: Int)
  extends UnaryExpression with CollectionGenerator with CodegenFallback
  with ImplicitCastInputTypes {
  require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def position: Boolean = false
  override def inline: Boolean = false
  override def collectionType: DataType = ArrayType(elementSchema)
  override def elementSchema: StructType =
    StructType(Seq(StructField("cell", IntegerType, nullable = false)))
  override def prettyName: String = "graft_nearest_cells_gen"

  @transient private lazy val (matrix, norms) = IvfImpl.centroidMatrix(centroids.value)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else IvfImpl.nearestIds(v.asInstanceOf[ArrayData], matrix, norms, nProbes)
      .toSeq.map(InternalRow(_))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Generator emitting one (table, bucket) row per LSH table for a vector —
  * the multi-table SRP explode as a single custom [[CollectionGenerator]]
  * instead of `explode(array(struct(t, srp_bucket(v)), ...))`.
  *
  * Two structural wins over the array+explode formulation, both measured
  * at the ×100 probe corpus:
  *  - `InferFiltersFromGenerate` only fires for the builtin explode/inline
  *    generators, so no `size(buckets) > 0` filter lands on the scan.
  *    With explode, projection collapse inlined the WHOLE nTables-struct
  *    bucket computation into that inferred scan filter — every corpus
  *    row paid the full O(nTables·nPlanes·dim) bucket derivation TWICE
  *    (filter + projection), a cost ∝ planes that made plane auto-sizing
  *    a net LOSS for the cheap-candidate int8 path.
  *  - no nTables-wide struct array is materialized per row at all; the
  *    input vector is evaluated once and the per-table buckets are
  *    emitted directly.
  *
  * CodegenFallback is inherent to custom generators (GenerateExec only
  * codegens the builtins); the per-table work is one static
  * `SrpImpl.bucket` call, so the interpreted overhead is one row
  * allocation per (row, table).
  */
case class SrpBucketsGenerator(child: Expression, nPlanes: Int, nTables: Int,
                               baseSeed: Int = 42)
  extends UnaryExpression with CollectionGenerator with CodegenFallback
  with ImplicitCastInputTypes {
  require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63], got $nPlanes")
  require(nTables >= 1, s"nTables must be >= 1, got $nTables")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def position: Boolean = false
  override def inline: Boolean = false
  override def collectionType: DataType = ArrayType(elementSchema)
  override def elementSchema: StructType = StructType(Seq(
    StructField("t", IntegerType, nullable = false),
    StructField("b", LongType, nullable = false)))
  override def prettyName: String = "graft_srp_buckets"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val arr = v.asInstanceOf[ArrayData]
      (0 until nTables).map { t =>
        InternalRow(t, SrpImpl.bucket(arr, nPlanes, baseSeed + 7919 * t))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry points for the native vector expressions. */
object VectorFunctions {
  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def exp(c: Column): Expression = ExpressionUtils.expression(c)

  /** Σ a_i·b_i as one primitive loop. */
  def dotNative(a: Column, b: Column): Column = col(DotProduct(exp(a), exp(b)))
  /** Cosine similarity (null on zero norms) in a single pass. */
  def cosineNative(a: Column, b: Column): Column = col(CosineSimilarity(exp(a), exp(b)))
  /** Integer dot over int8 arrays (array<tinyint> → bigint). */
  def int8DotNative(a: Column, b: Column): Column = col(Int8DotProduct(exp(a), exp(b)))
  def srpBucketNative(v: Column, nPlanes: Int, seed: Int): Column =
    col(SrpBucket(exp(v), nPlanes, seed))
  /** One-pass symmetric int8 quantization (array<double> → array<tinyint>). */
  def int8QuantizeNative(v: Column): Column = col(Int8QuantizeVec(exp(v)))
  /** L∞ norm max|x_i| (the int8 quantization scale). */
  def maxAbsNative(v: Column): Column = col(MaxAbs(exp(v)))
  /** Ids of the `nProbes` nearest centroids by cosine (cos desc, id asc) —
    * IVF cell assignment (nProbes = 1) and probe selection.
    */
  def nearestCellsNative(v: Column, centroids: Seq[Seq[Double]], nProbes: Int): Column =
    col(NearestCells(exp(v), IvfImpl.centroids(centroids), nProbes))
  def srpBucketsNative(v: Column, nPlanes: Int, nTables: Int, baseSeed: Int = 42): Column =
    col(SrpBucketsGenerator(exp(v), nPlanes, nTables, baseSeed))
  def nearestCellsGenNative(v: Column, centroids: Seq[Seq[Double]], nProbes: Int): Column =
    col(NearestCellsGenerator(exp(v), IvfImpl.centroids(centroids), nProbes))
}
