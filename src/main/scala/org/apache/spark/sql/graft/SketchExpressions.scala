// Spark namespace for the same reason as TopKExpressions (private[sql]
// Column bridge + catalyst aggregate plumbing). Public API:
// graft.text.Text.heavyHitters delegates here.
package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

object SpaceSavingBuffer {
  /** One tracked item; nodes of equal count hang off the same bucket. */
  private[graft] final class Node(var item: String) {
    var bucket: Bucket = _
    var prevN: Node = _
    var nextN: Node = _
  }
  /** One distinct count value; buckets doubly-linked in ASCENDING count
    * order, so the min bucket is the list head — the structure that makes
    * both "increment by one" and "evict a min item" O(1) (Metwally et
    * al.'s stream summary). The first cut of this class indexed counts in
    * a TreeMap[Long, Set[String]]; per-update boxing + tree rebalancing
    * made the ×100 probe's 26M-occurrence sketch pass the worst ratio in
    * the table (11.4×) — the linked buckets removed it.
    */
  private[graft] final class Bucket(val count: Long) {
    var first: Node = _
    var prevB: Bucket = _
    var nextB: Bucket = _
  }
}

/** SpaceSaving (Metwally et al., "Efficient computation of frequent and
  * top-k elements in data streams") stream summary: item → estimated
  * count with O(1) updates and O(1) min eviction. Estimates are UPPER
  * bounds of the true count (an evicted item's count is inherited by its
  * replacement), and any item with true count > n/m is guaranteed
  * present — the property the two-pass heavy hitter operator
  * ([[graft.text.Text.heavyHitters]]) relies on for no-false-negatives
  * before its exact recount.
  */
final class SpaceSavingBuffer(val capacity: Int) {
  import SpaceSavingBuffer._

  private val index = new java.util.HashMap[String, Node](capacity * 2)
  private var minBucket: Bucket = _
  private var nItems = 0

  def size: Int = nItems

  /** Bound on the true count of any item ABSENT from this summary: the
    * min tracked estimate once full (it could have been evicted at that
    * height), 0 while not full (an absent item then never occurred).
    */
  def absentBound: Long =
    if (nItems >= capacity && minBucket != null) minBucket.count else 0L

  def foreachEntry(f: (String, Long) => Unit): Unit = {
    var b = minBucket
    while (b != null) {
      var n = b.first
      while (n != null) { f(n.item, b.count); n = n.nextN }
      b = b.nextB
    }
  }

  def contains(item: String): Boolean = index.containsKey(item)

  private def unlinkNode(n: Node): Unit = {
    val b = n.bucket
    if (n.prevN != null) n.prevN.nextN = n.nextN else b.first = n.nextN
    if (n.nextN != null) n.nextN.prevN = n.prevN
    n.prevN = null; n.nextN = null
  }

  private def spliceOutIfEmpty(b: Bucket): Unit =
    if (b.first == null) {
      if (b.prevB != null) b.prevB.nextB = b.nextB else minBucket = b.nextB
      if (b.nextB != null) b.nextB.prevB = b.prevB
    }

  private def addToBucket(n: Node, b: Bucket): Unit = {
    n.bucket = b
    n.nextN = b.first
    if (b.first != null) b.first.prevN = n
    b.first = n
  }

  /** The bucket holding `c`, positioned right after `after` (or at the
    * list head when after == null); created if missing. Callers only ask
    * for counts that belong exactly there.
    */
  private def bucketAfter(after: Bucket, c: Long): Bucket = {
    val candidate = if (after == null) minBucket else after.nextB
    if (candidate != null && candidate.count == c) candidate
    else {
      val nb = new Bucket(c)
      nb.prevB = after
      nb.nextB = candidate
      if (candidate != null) candidate.prevB = nb
      if (after != null) after.nextB = nb else minBucket = nb
      nb
    }
  }

  private def incrementByOne(n: Node): Unit = {
    val b = n.bucket
    unlinkNode(n)
    addToBucket(n, bucketAfter(b, b.count + 1))
    spliceOutIfEmpty(b)
  }

  /** Record ONE occurrence of `item` — the per-row hot path, O(1). */
  def add(item: String): Unit = {
    val n = index.get(item)
    if (n != null) incrementByOne(n)
    else if (nItems < capacity) {
      val node = new Node(item)
      index.put(item, node)
      // a fresh item enters at count 1 = at (or before) the min bucket
      addToBucket(node, bucketAfter(null, 1L))
      nItems += 1
    } else {
      // full: replace A min-count item, inheriting its count + 1 (the
      // SpaceSaving overestimate that keeps the guarantee). Which item of
      // the min bucket goes is irrelevant to the guarantee.
      val victim = minBucket.first
      index.remove(victim.item)
      victim.item = item
      index.put(item, victim)
      incrementByOne(victim)
    }
  }

  /** Drop everything and reconstruct from (item, est) pairs sorted by est
    * ASCENDING — buckets append at the tail in one pass. Rare path
    * (merge, deserialize); the per-row path never rebuilds.
    */
  private[graft] def rebuild(sortedAsc: Array[(String, Long)]): Unit = {
    index.clear()
    minBucket = null
    nItems = 0
    var tail: Bucket = null
    var i = 0
    while (i < sortedAsc.length) {
      val (item, est) = sortedAsc(i)
      if (tail == null || tail.count != est) tail = bucketAfter(tail, est)
      val node = new Node(item)
      index.put(item, node)
      addToBucket(node, tail)
      nItems += 1
      i += 1
    }
  }

  /** Merge (mergeable-summaries construction — Agarwal et al.): an item
    * absent from one side may still have occurred up to that side's
    * [[absentBound]] times there (it could have been evicted), so absent
    * items inherit the other side's bound as an offset — summing present
    * estimates alone would UNDERestimate evicted items and break the
    * upper-bound invariant (caught by the TextSpec property gate). Then
    * prune smallest estimates back to capacity (tie-broken on the item so
    * the kept set is deterministic) and rebuild; error bounds add across
    * merges, so nothing with true count > Σεᵢnᵢ + (Σnᵢ)/m can be missing.
    */
  def mergeIn(other: SpaceSavingBuffer): Unit = {
    val myBound = absentBound
    val otherBound = other.absentBound
    val combined = new java.util.HashMap[String, java.lang.Long](
      (nItems + other.size) * 2)
    foreachEntry { (i, c) =>
      combined.put(i, if (otherBound > 0 && !other.contains(i)) c + otherBound else c)
    }
    other.foreachEntry { (i, c) =>
      val mine = combined.get(i)
      if (mine != null) combined.put(i, mine + c)
      else combined.put(i, c + myBound)
    }
    val entries = new Array[(String, Long)](combined.size())
    val it = combined.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      entries(k) = (e.getKey, e.getValue.longValue())
      k += 1
    }
    val kept =
      if (entries.length <= capacity) entries.sortBy { case (i, c) => (c, i) }
      else entries.sortBy { case (i, c) => (-c, i) }.take(capacity).reverse
    rebuild(kept)
  }
}

/** SpaceSaving sketch aggregate over a string column: evals to
  * `array<struct<item string, est long>>` sorted est desc then item asc
  * (deterministic given the buffer contents). `est` is an upper bound of
  * the item's true count; any item with true count > n/capacity is
  * guaranteed present. Planner shape: ObjectHashAggregate with map-side
  * partials — each task ships at most `capacity` (item, est) pairs, so a
  * heavy-hitter scan over 100 TB shuffles O(tasks × capacity) rows
  * instead of one row per distinct key.
  */
case class SpaceSavingSketch(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingBuffer] {

  require(capacity > 0, s"spacesaving_sketch needs capacity > 0, got $capacity")

  override def createAggregationBuffer(): SpaceSavingBuffer =
    new SpaceSavingBuffer(capacity)

  override def update(buf: SpaceSavingBuffer, input: InternalRow): SpaceSavingBuffer = {
    val v = child.eval(input)
    // String materialization per row is acceptable here: the buffer owns
    // its keys (scan-backed UTF8Strings are transient), and the summary
    // is keyed by JVM string equality anyway.
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: SpaceSavingBuffer, other: SpaceSavingBuffer): SpaceSavingBuffer = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: SpaceSavingBuffer): Any = {
    val arr = new scala.collection.mutable.ArrayBuffer[(String, Long)](buf.size)
    buf.foreachEntry((i, c) => arr += ((i, c)))
    new GenericArrayData(arr.toArray.sortBy { case (item, est) => (-est, item) }
      .map { case (item, est) =>
        InternalRow(UTF8String.fromString(item), est)
      }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: SpaceSavingBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.capacity)
    out.writeInt(buf.size)
    // foreachEntry walks buckets ascending — exactly the rebuild order
    // deserialize wants
    buf.foreachEntry { (item, est) =>
      val b = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length)
      out.write(b)
      out.writeLong(est)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val cap = in.readInt()
    val buf = new SpaceSavingBuffer(cap)
    val n = in.readInt()
    val entries = new Array[(String, Long)](n)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      entries(i) = (new String(b, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    // serialized ascending (see serialize) — rebuild is one tail-append pass
    buf.rebuild(entries)
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", StringType), StructField("est", LongType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "spacesaving_sketch"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"spacesaving_sketch needs a string input, got $other")
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSavingSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSavingSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SpaceSavingSketch =
    copy(child = newChildren.head)
}

object SketchFunctions {
  /** SpaceSaving summary of a string column: `array<struct<item, est>>`,
    * est desc. est ≥ true count; no item with true count > n/capacity is
    * missing.
    */
  def spaceSavingSketch(item: Column, capacity: Int): Column =
    ExpressionUtils.column(
      SpaceSavingSketch(ExpressionUtils.expression(item), capacity).toAggregateExpression())
}
