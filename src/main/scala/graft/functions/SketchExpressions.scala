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

/** Count-min sketch: fixed-size frequency summaries for heavy-hitter
  * queries over unbounded key cardinality.
  *
  * At 100 TB an exact `groupBy(term).count()` shuffles one row per
  * distinct term — fine until the key space explodes (URLs, n-grams,
  * user agents). The CMS aggregate keeps a depth×width counter matrix
  * (e.g. 4×4096 = 128 KiB) per GROUP, updates are O(depth) per row, the
  * merge is element-wise addition — so map-side partial aggregation does
  * almost all the work and the shuffle carries one small array per group
  * regardless of cardinality. Estimates are one-sided: est ≥ true count
  * always; est ≤ true + ε·N with prob 1-δ for ε = e/width, δ = e^-depth
  * (Cormode & Muthukrishnan 2005).
  *
  * The sketch is DETERMINISTIC for a given (depth, width) — same rows in
  * any order/partitioning give bit-identical counters (addition commutes)
  * — so sketch-based results remain reproducible, replayable, and (when
  * the config is collision-free for the data's cardinality) even
  * oracle-checkable against exact SQL counts.
  *
  * Row hashing reuses [[TextHashExpressions.tokenHash]] (xxh64 over raw
  * UTF-8 bytes) with per-depth splitmix64 derivation — one real hash per
  * row, `depth` cheap mixes.
  */
object SketchExpressions {

  /** Bucket of `base` hash in depth-row `d`. */
  def bucket(base: Long, d: Int, width: Int): Int =
    java.lang.Math.floorMod(TextHashExpressions.mix64(base ^ TextHashExpressions.mix64(d.toLong)), width.toLong).toInt

  /** Probe: min over depth rows of the counter the item hashes to. */
  def estimate(sketch: ArrayData, item: UTF8String, depth: Int, width: Int): Long = {
    val base = TextHashExpressions.tokenHash(item)
    var min = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = sketch.getLong(d * width + bucket(base, d, width))
      if (c < min) min = c
      d += 1
    }
    min
  }

  /** `cms_sketch(stringCol)`: aggregate to a flattened depth×width
    * counter matrix (array<long>, row-major). NULLs are skipped; an
    * all-NULL / empty group yields the zero sketch.
    */
  case class CountMinAgg(
      child: Expression,
      depth: Int = 4,
      width: Int = 4096,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    require(depth > 0 && width > 0)

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "cms_sketch"

    override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

    override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val base = TextHashExpressions.tokenHash(v.asInstanceOf[UTF8String])
        var d = 0
        while (d < depth) { buf(d * width + bucket(base, d, width)) += 1; d += 1 }
      }
      buf
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
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

    override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): CountMinAgg =
      copy(child = c)
  }

  /** `cms_estimate(sketch, item)`: upper-bound frequency of `item` in the
    * multiset the sketch summarizes. Codegen'd (static call, no UDF).
    */
  case class CmsEstimate(left: Expression, right: Expression,
                         depth: Int = 4, width: Int = 4096)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(LongType), StringType)
    override def prettyName: String = "cms_estimate"

    override def nullSafeEval(sketch: Any, item: Any): Any =
      SketchExpressions.estimate(sketch.asInstanceOf[ArrayData],
        item.asInstanceOf[UTF8String], depth, width)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (s, it) => {
        val G = "org.apache.spark.sql.graft.SketchExpressions"
        s"${ev.value} = $G.estimate($s, $it, $depth, $width);"
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimate =
      copy(left = l, right = r)
  }

  def cms_sketch(c: Column, depth: Int = 4, width: Int = 4096): Column =
    ExpressionUtils.column(
      CountMinAgg(ExpressionUtils.expression(c), depth, width).toAggregateExpression())

  def cms_estimate(sketch: Column, item: Column, depth: Int = 4, width: Int = 4096): Column =
    ExpressionUtils.column(CmsEstimate(
      ExpressionUtils.expression(sketch), ExpressionUtils.expression(item), depth, width))

  // -------------------------------------------------------------------
  // KMV (k-minimum-values / bottom-k theta) distinct-count sketch —
  // the third leg of the sketch family (CMS = frequency, Bloom =
  // membership, KMV = cardinality).
  //
  // The buffer keeps the k smallest DISTINCT 64-bit hashes seen. Updates
  // are O(log k) only while the value would enter the bottom-k (a no-op
  // for ~all rows once the buffer saturates); the merge is set-union +
  // truncate. Both are order- and partitioning-independent — same rows in
  // any layout give bit-identical sketches — so results are reproducible
  // and replayable like the CMS. The estimator is the classic unbiased
  // bottom-k form (Bar-Yossef et al. 2002; DataSketches theta): with
  // U = unsigned value of the k-th smallest hash,
  //   n < k  → the buffer holds every distinct hash → estimate is EXACT;
  //   n ≥ k  → estimate = (k-1) · 2^64 / (U+1), RSE ≈ 1/√(k−2).
  // The exact regime is what the oracle gate exercises (like the CMS's
  // collision-free geometry); the approx regime is spec-bounded.
  //
  // At 100 TB: exact COUNT(DISTINCT) shuffles every distinct value;
  // approx_count_distinct (HLL) is Spark's built-in answer, but a KMV
  // sketch additionally supports set EXPRESSIONS over sketches
  // (intersection/union cardinality from the same bottom-k samples),
  // which HLL cannot, and its shuffle payload is k longs per group.
  // -------------------------------------------------------------------

  /** Transformed hash: xxh64 XOR'd so SIGNED ordering == unsigned hash
    * ordering (TreeSet/array natural order is the estimator's order). */
  def kmvHash(item: UTF8String): Long =
    TextHashExpressions.tokenHash(item) ^ java.lang.Long.MIN_VALUE

  /** Estimate from an ascending transformed-hash array (eval output). */
  def kmvEstimate(sketch: ArrayData, k: Int): Long = {
    val n = sketch.numElements()
    if (n < k) n.toLong
    else {
      // U+1 where U = unsigned value of the k-th min = t + 2^63.
      val t = sketch.getLong(k - 1)
      val uPlus1 = t.toDouble + 9.223372036854776e18 + 1.0
      Math.round((k - 1).toDouble * 1.8446744073709552e19 / uPlus1)
    }
  }

  /** `kmv_sketch(stringCol, k)`: aggregate to the ascending array of the
    * k smallest distinct transformed hashes. NULLs are skipped; an
    * all-NULL / empty group yields the empty sketch (estimate 0).
    */
  case class KmvAgg(
      child: Expression,
      k: Int = 4096,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    require(k > 1)

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "kmv_sketch"

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    override def update(buf: java.util.TreeSet[java.lang.Long],
                        input: InternalRow): java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        val t = kmvHash(v.asInstanceOf[UTF8String])
        if (buf.size < k) buf.add(t)
        else if (t < buf.last) { if (buf.add(t)) buf.pollLast() }
      }
      buf
    }

    override def merge(b1: java.util.TreeSet[java.lang.Long],
                       b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      b1.addAll(b2)
      while (b1.size > k) b1.pollLast()
      b1
    }

    override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
      val out = new Array[Long](buf.size)
      val it = buf.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }

    override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.size)
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val s = new java.util.TreeSet[java.lang.Long]()
      while (bb.hasRemaining) s.add(bb.getLong)
      s
    }

    override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
      copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KmvAgg =
      copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): KmvAgg =
      copy(child = c)
  }

  /** `kmv_estimate(sketch)`: distinct-count estimate — exact below k,
    * bottom-k estimator at or above. Codegen'd (static call, no UDF). */
  case class KmvEstimate(child: Expression, k: Int = 4096)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def prettyName: String = "kmv_estimate"

    override def nullSafeEval(sketch: Any): Any =
      SketchExpressions.kmvEstimate(sketch.asInstanceOf[ArrayData], k)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, s =>
        s"org.apache.spark.sql.graft.SketchExpressions.kmvEstimate($s, $k)")

    override protected def withNewChildInternal(c: Expression): KmvEstimate =
      copy(child = c)
  }

  /** θ threshold of a sketch in TRANSFORMED space: the k-th smallest
    * hash if saturated, +∞ (Long.MaxValue) if the sketch still holds
    * every distinct hash. */
  private def kmvTheta(sk: ArrayData, k: Int): Long =
    if (sk.numElements() < k) Long.MaxValue else sk.getLong(k - 1)

  /** Union cardinality from two sketches: merge the (sorted) bottom-k
    * arrays, dedup, re-truncate to k, estimate. Exact while
    * |A ∪ B| < k — the sketch of the union IS the union of sketches
    * truncated, so this equals aggregating the concatenated inputs. */
  def kmvUnionEstimate(a: ArrayData, b: ArrayData, k: Int): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0
    var last = 0L; var hasLast = false
    val merged = new Array[Long](math.min(na + nb, k))
    while (n < k && (i < na || j < nb)) {
      val v =
        if (j >= nb || (i < na && a.getLong(i) <= b.getLong(j))) { val x = a.getLong(i); i += 1; x }
        else { val x = b.getLong(j); j += 1; x }
      if (!hasLast || v != last) { merged(n) = v; n += 1; last = v; hasLast = true }
    }
    // a merged prefix below BOTH thetas is a valid bottom-n of the union
    if (n < k && i >= na && j >= nb) n.toLong
    else {
      val t = merged(k - 1)
      val uPlus1 = t.toDouble + 9.223372036854776e18 + 1.0
      Math.round((k - 1).toDouble * 1.8446744073709552e19 / uPlus1)
    }
  }

  /** Intersection cardinality from two sketches (theta-sketch form):
    * θ = min(θ_A, θ_B); count common hashes below θ; scale by 2^64/θ.
    * While both sketches are unsaturated θ = +∞ and the count is EXACT
    * — each sketch holds its side's complete distinct-hash set. */
  def kmvIntersectEstimate(a: ArrayData, b: ArrayData, k: Int): Long = {
    val theta = math.min(kmvTheta(a, k), kmvTheta(b, k))
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    var done = false
    while (!done && i < na && j < nb) {
      val av = a.getLong(i); val bv = b.getLong(j)
      if ((av >= theta || bv >= theta) && theta != Long.MaxValue) done = true
      else if (av == bv) { c += 1; i += 1; j += 1 }
      else if (av < bv) i += 1
      else j += 1
    }
    if (theta == Long.MaxValue) c
    else {
      val thetaU = theta.toDouble + 9.223372036854776e18
      Math.round(c.toDouble * 1.8446744073709552e19 / thetaU)
    }
  }

  /** `kmv_union_est(skA, skB)` — see [[kmvUnionEstimate]]. */
  case class KmvUnionEstimate(left: Expression, right: Expression, k: Int = 4096)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override def prettyName: String = "kmv_union_est"
    override def nullSafeEval(a: Any, b: Any): Any =
      SketchExpressions.kmvUnionEstimate(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val G = "org.apache.spark.sql.graft.SketchExpressions"
        s"${ev.value} = $G.kmvUnionEstimate($a, $b, $k);"
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvUnionEstimate =
      copy(left = l, right = r)
  }

  /** `kmv_intersect_est(skA, skB)` — see [[kmvIntersectEstimate]]. */
  case class KmvIntersectEstimate(left: Expression, right: Expression, k: Int = 4096)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override def prettyName: String = "kmv_intersect_est"
    override def nullSafeEval(a: Any, b: Any): Any =
      SketchExpressions.kmvIntersectEstimate(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val G = "org.apache.spark.sql.graft.SketchExpressions"
        s"${ev.value} = $G.kmvIntersectEstimate($a, $b, $k);"
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvIntersectEstimate =
      copy(left = l, right = r)
  }

  def kmv_sketch(c: Column, k: Int = 4096): Column =
    ExpressionUtils.column(
      KmvAgg(ExpressionUtils.expression(c), k).toAggregateExpression())

  def kmv_estimate(sketch: Column, k: Int = 4096): Column =
    ExpressionUtils.column(KmvEstimate(ExpressionUtils.expression(sketch), k))

  def kmv_union_est(a: Column, b: Column, k: Int = 4096): Column =
    ExpressionUtils.column(KmvUnionEstimate(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), k))

  def kmv_intersect_est(a: Column, b: Column, k: Int = 4096): Column =
    ExpressionUtils.column(KmvIntersectEstimate(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), k))
}
