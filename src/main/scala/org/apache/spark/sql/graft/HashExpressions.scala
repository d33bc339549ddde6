// In the Spark namespace for the same reason as Kernels. Public API:
// graft.dedup.Dedup / graft.text.Text delegate here.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop implementations the hashing and shingling kernels call —
  * one invocation per row, no per-element expression-tree eval, unlike
  * the higher-order-function formulation which pays interpreted lambda
  * dispatch per element.
  *
  * Hashing: xxhash64 of the UTF-8 bytes; the k MinHash "permutations" use
  * the standard two-hash mix g_i(s) = h1(s) + i·h2(s)
  * (Kirsch-Mitzenmacher), so each shingle is hashed twice total instead of
  * k times.
  */
object HashImpl {

  // immutable zero-element array, shared: short docs are common enough in
  // a crawl that a per-row allocation on the no-bands path would be hot
  private val EMPTY_BANDS = new GenericArrayData(Array.empty[Any])

  private def xx(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** MinHash signature of a deduplicated shingle array; empty input →
    * all Long.MaxValue (same guard as the HOF formulation).
    */
  def minhash(shingles: ArrayData, k: Int, seed: Long): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        val s = shingles.getUTF8String(j)
        val h1 = xx(s, seed)
        val h2 = xx(s, seed + 1)
        var i = 0
        while (i < k) {
          val g = h1 + i * h2
          if (g < sig(i)) sig(i) = g
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** One bucket hash per LSH band: bucket_b = xxhash over the band's
    * rowsPerBand minhash values (mixed as longs, no string concat).
    */
  def lshBands(shingles: ArrayData, bands: Int, rowsPerBand: Int, seed: Long): ArrayData = {
    // an empty shingle set has NO bands, not a degenerate constant
    // signature: every too-short doc would otherwise share one bucket in
    // every band — a quadratic hot-bucket of pure false positives in the
    // candidate self-join. Encoding the exclusion in the expression (an
    // exploded empty array emits nothing) instead of an explicit
    // size(shingles) > 0 filter also keeps the shingling single-pass:
    // the filter form collapsed into the scan and re-derived the
    // shingles per row just to test emptiness.
    if (shingles.numElements() == 0) return EMPTY_BANDS
    val sig = minhash(shingles, bands * rowsPerBand, seed)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9E3779B97F4A7C15L ^ seed
      var r = 0
      while (r < rowsPerBand) {
        val v = sig.getLong(b * rowsPerBand + r)
        h = java.lang.Long.rotateLeft(h ^ (v * 0xC2B2AE3D27D4EB4FL), 27) * 0x9E3779B97F4A7C15L
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** xxhash64 of each element — the narrow (8-byte) shuffle
    * representation of a shingle set: Jaccard over the hashed sets
    * equals Jaccard over the strings except on a 64-bit collision
    * (~n²/2⁶⁵ per compared pair — negligible against MinHash's own
    * banding error), and the exchange carries longs instead of
    * 20-40-byte grams. Element order/multiplicity preserved (the
    * consumer's Set construction is where collision collapse, if ever,
    * happens). Null elements are skipped, as in [[minhash]]: the output
    * holds one hash per non-null element.
    */
  def elementHashes(shingles: ArrayData, seed: Long): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Long](nonNull(shingles))
    var j = 0
    var o = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        out(o) = xx(shingles.getUTF8String(j), seed)
        o += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  private def nonNull(a: ArrayData): Int = {
    var c = 0
    var j = 0
    while (j < a.numElements()) { if (!a.isNullAt(j)) c += 1; j += 1 }
    c
  }

  /** [[lshBands]] and [[elementHashes]] in ONE pass over the shingles:
    * the per-element payload hash IS minhash's h1 (same seed), so
    * computing them separately re-hashes every gram a third time. The
    * struct's fields are bit-identical to the two standalone
    * expressions (`bands` == lshBands, `hashes` == elementHashes at
    * the same seed, null elements skipped by both); an empty shingle
    * set yields (empty, empty) — the exploded-empty exclusion semantics
    * are unchanged.
    */
  def lshBandsAndHashes(shingles: ArrayData, bands: Int, rowsPerBand: Int,
                        seed: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val n = shingles.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](EMPTY_BANDS, EMPTY_BANDS))
    val k = bands * rowsPerBand
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val hashes = new Array[Long](nonNull(shingles))
    var j = 0
    var o = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        val s = shingles.getUTF8String(j)
        val h1 = xx(s, seed)
        val h2 = xx(s, seed + 1)
        hashes(o) = h1
        o += 1
        var i = 0
        while (i < k) {
          val g = h1 + i * h2
          if (g < sig(i)) sig(i) = g
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9E3779B97F4A7C15L ^ seed
      var r = 0
      while (r < rowsPerBand) {
        val v = sig(b * rowsPerBand + r)
        h = java.lang.Long.rotateLeft(h ^ (v * 0xC2B2AE3D27D4EB4FL), 27) * 0x9E3779B97F4A7C15L
        r += 1
      }
      out(b) = h
      b += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(out), new GenericArrayData(hashes)))
  }

  /** 64-bit SimHash over the token array: ±1 vote per bit of each token's
    * hash; sign of the vote is the fingerprint bit.
    */
  def simhash(tokens: ArrayData, seed: Long): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var j = 0
    while (j < n) {
      if (!tokens.isNullAt(j)) {
        val h = xx(tokens.getUTF8String(j), seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      j += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }
}

case class MinHashSignature(child: Expression, k: Int, seed: Long = 42L)
  extends Kernel1[ArrayData, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  def kernel(shingles: ArrayData): ArrayData = HashImpl.minhash(shingles, k, seed)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class LshBandBuckets(child: Expression, bands: Int, rowsPerBand: Int, seed: Long = 42L)
  extends Kernel1[ArrayData, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_bands"
  def kernel(shingles: ArrayData): ArrayData = HashImpl.lshBands(shingles, bands, rowsPerBand, seed)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class LshBandsAndHashes(child: Expression, bands: Int, rowsPerBand: Int,
                             seed: Long = 42L)
  extends Kernel1[ArrayData, InternalRow] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("bands", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hashes", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_lsh_bands_hashes"
  def kernel(shingles: ArrayData): InternalRow =
    HashImpl.lshBandsAndHashes(shingles, bands, rowsPerBand, seed)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashes(child: Expression, seed: Long = 42L)
  extends Kernel1[ArrayData, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  def kernel(shingles: ArrayData): ArrayData = HashImpl.elementHashes(shingles, seed)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash64(child: Expression, seed: Long = 42L) extends Kernel1[ArrayData, Long] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"
  def kernel(tokens: ArrayData): Long = HashImpl.simhash(tokens, seed)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleImpl {
  /** Whitespace-tokenize then emit space-joined word n-grams. With
    * `distinct` (the MinHash/Jaccard input convention) duplicates collapse
    * in first-occurrence order (matches tokens → transform → concat_ws →
    * array_distinct exactly); without, every occurrence is kept — the
    * repetition-analysis input, where the duplicate COUNT is the signal.
    * Docs shorter than n shingle to []. */
  def wordShingles(text: UTF8String, n: Int, distinct: Boolean = true): ArrayData = {
    val toks = text.toString.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    def gram(i: Int): String = {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      sb.toString
    }
    if (distinct) {
      val seen = new java.util.LinkedHashSet[String](toks.length * 2)
      var i = 0
      while (i + n <= toks.length) { seen.add(gram(i)); i += 1 }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    } else {
      val m = toks.length - n + 1
      val out = new Array[Any](m)
      var i = 0
      while (i < m) { out(i) = UTF8String.fromString(gram(i)); i += 1 }
      new GenericArrayData(out)
    }
  }

  /** Deduplicated character n-grams, first-occurrence order (matches the
    * substring/transform/array_distinct formulation, which windows over
    * CHARACTERS, not bytes). Windows over Unicode CODE POINTS, not UTF-16
    * units — supplementary chars (emoji, rare CJK) count as one and
    * surrogate pairs never split, matching DuckDB's code-point substr. */
  def charShingles(text: UTF8String, n: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    if (cps.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](cps.length * 2)
    var i = 0
    while (i + n <= cps.length) { seen.add(new String(cps, i, n)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

object WinnowImpl {
  /** MOSS-style winnowing fingerprints: hash every k-gram with a rolling
    * polynomial hash, slide a window of `w` consecutive k-gram hashes and
    * record each window's minimum (rightmost on ties — robust winnowing).
    * Guarantee: any two documents sharing a substring of length >= w+k-1
    * share at least one fingerprint. Output: sorted distinct minima.
    */
  /** Positional rolling k-gram hashes — winnowing's phase 1, also exposed
    * on its own ([[kgramHashes]]) so the window-minimum SELECTION can be
    * replayed independently (the t7 oracle dumps these and DuckDB re-runs
    * the selection over the dump). k-grams are over Unicode code points
    * (same convention as charShingles): supplementary chars are one
    * symbol, surrogate pairs never split. Rabin-Karp polynomial hash.
    */
  private def hashSeq(text: UTF8String, k: Int): Array[Long] = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    val hashes = new Array[Long](n)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + cps(i); i += 1 }
    hashes(0) = h
    i = 1
    while (i < n) {
      h = (h - cps(i - 1) * pow) * B + cps(i + k - 1)
      hashes(i) = h
      i += 1
    }
    hashes
  }

  def kgramHashes(text: UTF8String, k: Int): ArrayData = {
    val hs = hashSeq(text, k)
    val out = new Array[Any](hs.length)
    var i = 0
    while (i < hs.length) { out(i) = hs(i); i += 1 }
    new GenericArrayData(out)
  }

  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val hashes = hashSeq(text, k)
    val n = hashes.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val sel = new java.util.TreeSet[java.lang.Long]()
    val windows = math.max(1, n - w + 1)
    var start = 0
    while (start < windows) {
      var minIdx = start
      var j = start + 1
      val end = math.min(start + w, n)
      while (j < end) {
        if (hashes(j) <= hashes(minIdx)) minIdx = j // rightmost minimum
        j += 1
      }
      sel.add(hashes(minIdx))
      start += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var z = 0
    while (it.hasNext) { out(z) = it.next().longValue(); z += 1 }
    new GenericArrayData(out)
  }
}

/** Winnowing document fingerprints (rolling k-gram hash + window minima). */
case class Winnow(child: Expression, k: Int, w: Int) extends Kernel1[UTF8String, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  def kernel(text: UTF8String): ArrayData = WinnowImpl.winnow(text, k, w)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Positional k-gram rolling hashes (winnowing's hashing phase, exposed so
  * the window-minimum selection can be replayed over a dump of these).
  */
case class KgramHashes(child: Expression, k: Int) extends Kernel1[UTF8String, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_kgram_hashes"
  def kernel(text: UTF8String): ArrayData = WinnowImpl.kgramHashes(text, k)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class WordShingles(child: Expression, n: Int, distinct: Boolean = true)
  extends Kernel1[UTF8String, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"
  def kernel(text: UTF8String): ArrayData = ShingleImpl.wordShingles(text, n, distinct)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class CharShingles(child: Expression, n: Int) extends Kernel1[UTF8String, ArrayData] {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_shingles"
  def kernel(text: UTF8String): ArrayData = ShingleImpl.charShingles(text, n)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of array elements contained in a fixed string set — the hot loop
  * of marker-based language ID and stopword ratios. One hash-set probe per
  * element in a tight loop (vs an interpreted `filter(x -> x.isin(...))`
  * lambda per element). The set is built once per task, lazily.
  */
case class CountInSet(child: Expression, set: Seq[String]) extends Kernel1[ArrayData, Int] {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in_set"

  @transient private lazy val lookup: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](set.size * 2)
    set.foreach(x => s.add(UTF8String.fromString(x)))
    s
  }

  def kernel(arr: ArrayData): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && lookup.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashFunctions {
  def countInSet(arr: Column, set: Seq[String]): Column =
    ExpressionUtils.column(CountInSet(ExpressionUtils.expression(arr), set))
  def wordShingles(text: Column, n: Int, distinct: Boolean = true): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(text), n, distinct))
  def charShingles(text: Column, n: Int): Column =
    ExpressionUtils.column(CharShingles(ExpressionUtils.expression(text), n))
  def winnow(text: Column, k: Int, w: Int): Column =
    ExpressionUtils.column(Winnow(ExpressionUtils.expression(text), k, w))
  def kgramHashes(text: Column, k: Int): Column =
    ExpressionUtils.column(KgramHashes(ExpressionUtils.expression(text), k))
  def minhashSignature(shingles: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSignature(ExpressionUtils.expression(shingles), k))
  def lshBandBuckets(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    ExpressionUtils.column(LshBandBuckets(ExpressionUtils.expression(shingles), bands, rowsPerBand))
  def simhash64(tokens: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(tokens)))
  def shingleHashes(shingles: Column): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(shingles)))
  def lshBandsAndHashes(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    ExpressionUtils.column(LshBandsAndHashes(ExpressionUtils.expression(shingles), bands, rowsPerBand))
}
