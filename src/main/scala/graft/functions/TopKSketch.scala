// Lives under org.apache.spark.sql for the same reason as
// SketchExpressions — private[sql] expression API. Source: graft/functions/.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving heavy-hitters sketch (Metwally et al. 2005), completing
  * the sketch family: CMS answers "how often is X", Bloom "was X seen",
  * KMV "how many distinct" — SpaceSaving answers "WHICH items dominate"
  * without an unbounded groupBy.
  *
  * At 100 TB, `groupBy(term).count().orderBy(desc).limit(k)` shuffles one
  * row per distinct term. The SpaceSaving aggregate keeps at most
  * `capacity` (item, est, err) entries per GROUP; map-side partials do
  * nearly all the work and the shuffle carries one bounded summary per
  * group regardless of key cardinality.
  *
  * Guarantees (any merge order — the mergeable-summaries form of
  * Agarwal et al. 2012, where a summary absent an item contributes its
  * own min counter, the upper bound on what that item could have had):
  *   - one-sided: est ≥ true count for every stored item;
  *   - bounded: est − err ≤ true, and err ≤ n/capacity;
  *   - complete: any item with true frequency > n/capacity is stored.
  *
  * EXACT regime: while every partial summary stays under capacity no
  * eviction ever happens, min counters are 0, and the merge is a plain
  * count sum — exact, order-independent, engine-identical (the oracle
  * gate, like CMS's collision-free geometry and KMV's sub-k regime).
  * Above capacity the counts are estimates and only the spec-proven
  * bounds hold.
  *
  * Eviction scans for the min entry — O(capacity) per over-capacity
  * insert, the right trade at the few-hundred capacities heavy-hitter
  * queries use (a heap would pay its overhead on every update instead).
  */
object TopKSketch {

  private type Buf = java.util.HashMap[String, Array[Long]] // item -> [est, err]

  /** `topk_sketch(col, capacity)`: array<struct<item, est, err>> sorted
    * by (est desc, item asc). */
  case class TopKAgg(
      child: Expression,
      capacity: Int = 256,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[String, Array[Long]]]
    with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    require(capacity > 0)

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))), containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "topk_sketch"

    override def createAggregationBuffer(): Buf = new java.util.HashMap()

    private def minEntry(buf: Buf): java.util.Map.Entry[String, Array[Long]] = {
      var m: java.util.Map.Entry[String, Array[Long]] = null
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (m == null || e.getValue()(0) < m.getValue()(0) ||
            (e.getValue()(0) == m.getValue()(0) && e.getKey < m.getKey)) m = e
      }
      m
    }

    override def update(buf: Buf, input: InternalRow): Buf = {
      val v = child.eval(input)
      if (v != null) {
        val s = v.asInstanceOf[UTF8String].toString
        val cur = buf.get(s)
        if (cur != null) cur(0) += 1
        else if (buf.size < capacity) buf.put(s, Array(1L, 0L))
        else {
          val m = minEntry(buf)
          val floor = m.getValue()(0)
          buf.remove(m.getKey)
          buf.put(s, Array(floor + 1, floor))
        }
      }
      buf
    }

    override def merge(b1: Buf, b2: Buf): Buf = {
      val min1 = if (b1.size < capacity) 0L else minEntry(b1).getValue()(0)
      val min2 = if (b2.size < capacity) 0L else minEntry(b2).getValue()(0)
      val out: Buf = new java.util.HashMap()
      val it1 = b1.entrySet().iterator()
      while (it1.hasNext) {
        val e = it1.next()
        val other = b2.get(e.getKey)
        out.put(e.getKey, Array(
          e.getValue()(0) + (if (other != null) other(0) else min2),
          e.getValue()(1) + (if (other != null) other(1) else min2)))
      }
      val it2 = b2.entrySet().iterator()
      while (it2.hasNext) {
        val e = it2.next()
        if (!out.containsKey(e.getKey))
          out.put(e.getKey, Array(e.getValue()(0) + min1, e.getValue()(1) + min1))
      }
      if (out.size > capacity) {
        // keep top-capacity by (est desc, item asc) — deterministic survivors
        val entries = new java.util.ArrayList(out.entrySet())
        entries.sort { (a, b) =>
          val c = java.lang.Long.compare(b.getValue()(0), a.getValue()(0))
          if (c != 0) c else a.getKey.compareTo(b.getKey)
        }
        val trimmed: Buf = new java.util.HashMap()
        var i = 0
        while (i < capacity) {
          val e = entries.get(i); trimmed.put(e.getKey, e.getValue); i += 1
        }
        trimmed
      } else out
    }

    override def eval(buf: Buf): Any = {
      val entries = new java.util.ArrayList(buf.entrySet())
      entries.sort { (a, b) =>
        val c = java.lang.Long.compare(b.getValue()(0), a.getValue()(0))
        if (c != 0) c else a.getKey.compareTo(b.getKey)
      }
      val rows = new Array[Any](entries.size)
      var i = 0
      while (i < entries.size) {
        val e = entries.get(i)
        rows(i) = new GenericInternalRow(Array[Any](
          UTF8String.fromString(e.getKey), e.getValue()(0), e.getValue()(1)))
        i += 1
      }
      new GenericArrayData(rows)
    }

    override def serialize(buf: Buf): Array[Byte] = {
      var bytes = 4
      val it0 = buf.entrySet().iterator()
      while (it0.hasNext) {
        bytes += 4 + it0.next().getKey.getBytes("UTF-8").length + 16
      }
      val bb = java.nio.ByteBuffer.allocate(bytes)
      bb.putInt(buf.size)
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val kb = e.getKey.getBytes("UTF-8")
        bb.putInt(kb.length); bb.put(kb)
        bb.putLong(e.getValue()(0)); bb.putLong(e.getValue()(1))
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Buf = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf: Buf = new java.util.HashMap()
      var i = 0
      while (i < n) {
        val kb = new Array[Byte](bb.getInt); bb.get(kb)
        buf.put(new String(kb, "UTF-8"), Array(bb.getLong, bb.getLong))
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(o: Int): TopKAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): TopKAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): TopKAgg =
      copy(child = c)
  }

  def topk_sketch(c: Column, capacity: Int = 256): Column =
    ExpressionUtils.column(
      TopKAgg(ExpressionUtils.expression(c), capacity).toAggregateExpression())
}
