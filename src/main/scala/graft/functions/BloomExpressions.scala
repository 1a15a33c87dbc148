// Lives under org.apache.spark.sql for the same reason as
// VectorExpressions — private[sql] expression API. Source: graft/functions/.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom filter: a compact, mergeable set summary for membership
  * pre-filtering when the exact set is too big to broadcast comfortably.
  *
  * The motivating consumer is benchmark decontamination at 100 TB: the
  * eval-suite shingle set can reach hundreds of millions of distinct
  * 8-grams — gigabytes as broadcast UTF-8 strings, but ~180 MB as a
  * 1.5-gigabit bloom at 1% false positives (`numBits ≈ 9.6 n` for k=7).
  * The corpus-side probe stays a MAP-ONLY scan against the broadcast
  * bits; only bloom-positive rows (true hits + the ~1% FP trickle)
  * proceed to the exact confirm join, so the 100 TB train side never
  * shuffles and the confirm exchange carries a rounding error's worth of
  * rows. One-sided error: no false negatives, ever — the confirm join
  * removes the false positives, making bloom-prefiltered pipelines
  * EXACTLY equal to their unfiltered form (oracle-checkable).
  *
  * Deterministic by construction: the bitset is a commutative OR-fold of
  * per-item bit patterns derived from [[TextHashExpressions.tokenHash]]
  * (xxh64) with splitmix64 double hashing — same rows in any order, any
  * partitioning, any merge tree give a bit-identical array. Map-side
  * partial aggregation does almost all the work; the shuffle carries one
  * long-array per group regardless of item count.
  */
object BloomExpressions {

  /** A string cast evaluated under an EXPLICIT time zone — the
    * DataFrame-API `cast` always uses the session zone, and the bloom
    * index's UTC-canonical form ([[graft.sources.WarehouseFs]]) needs a
    * pinned one. Lives here because the Cast/ExpressionUtils surface is
    * `private[sql]`. */
  def cast_string_tz(c: Column, tz: String): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.Cast(
        ExpressionUtils.expression(c), StringType, Some(tz)))

  /** Index of probe `i` for base hash `h`: splitmix double hashing,
    * `floorMod(h + i·mix64(h), bits)`. */
  private def probeIndex(base: Long, step: Long, i: Int, bits: Long): Long =
    java.lang.Math.floorMod(base + i.toLong * step, bits)

  /** Set the item's `numHashes` bits in `buf` (len·64-bit space). */
  def insert(buf: Array[Long], item: UTF8String, numHashes: Int): Unit = {
    val base = TextHashExpressions.tokenHash(item)
    val step = TextHashExpressions.mix64(base) | 1L // odd → full cycle mod 2^64
    val bits = buf.length.toLong * 64L
    var i = 0
    while (i < numHashes) {
      val idx = probeIndex(base, step, i, bits)
      buf((idx >>> 6).toInt) |= (1L << (idx & 63L))
      i += 1
    }
  }

  /** Probe: true iff every one of the item's bits is set. No false
    * negatives; false positives at the usual bloom rate. */
  def mightContain(bloom: ArrayData, item: UTF8String, numHashes: Int): Boolean = {
    val base = TextHashExpressions.tokenHash(item)
    val step = TextHashExpressions.mix64(base) | 1L
    val bits = bloom.numElements().toLong * 64L
    var i = 0
    while (i < numHashes) {
      val idx = probeIndex(base, step, i, bits)
      if ((bloom.getLong((idx >>> 6).toInt) & (1L << (idx & 63L))) == 0L) return false
      i += 1
    }
    true
  }

  /** `bloom_build(stringCol)`: aggregate to a flattened bitset
    * (array<long>, numBits/64 words). NULLs are skipped; an all-NULL /
    * empty group yields the zero (empty-set) bloom.
    */
  case class BloomAgg(
      child: Expression,
      numBits: Int = 1 << 20,
      numHashes: Int = 7,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    require(numBits > 0 && numBits % 64 == 0 && numHashes > 0)

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "bloom_build"

    override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) BloomExpressions.insert(buf, v.asInstanceOf[UTF8String], numHashes)
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b1.length) { b1(i) |= b2(i); i += 1 }
      b1
    }

    override def eval(buf: Array[Long]): Any =
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
      buf.foreach(bb.putLong)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Array.fill(bytes.length / 8)(bb.getLong)
    }

    override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): BloomAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): BloomAgg =
      copy(child = c)
  }

  /** `bloom_might_contain(bloom, item)`: membership probe against a
    * [[BloomAgg]] bitset. Codegen'd (static call, no UDF); the bit-space
    * size is read off the array, only `numHashes` must match the build.
    */
  case class BloomMightContain(left: Expression, right: Expression,
                               numHashes: Int = 7)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = BooleanType
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(LongType), StringType)
    override def prettyName: String = "bloom_might_contain"

    override def nullSafeEval(bloom: Any, item: Any): Any =
      BloomExpressions.mightContain(bloom.asInstanceOf[ArrayData],
        item.asInstanceOf[UTF8String], numHashes)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (b, it) => {
        val G = "org.apache.spark.sql.graft.BloomExpressions"
        s"${ev.value} = $G.mightContain($b, $it, $numHashes);"
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
      copy(left = l, right = r)
  }

  def bloom_build(c: Column, numBits: Int = 1 << 20, numHashes: Int = 7): Column =
    ExpressionUtils.column(
      BloomAgg(ExpressionUtils.expression(c), numBits, numHashes).toAggregateExpression())

  def bloom_might_contain(bloom: Column, item: Column, numHashes: Int = 7): Column =
    ExpressionUtils.column(BloomMightContain(
      ExpressionUtils.expression(bloom), ExpressionUtils.expression(item), numHashes))
}
