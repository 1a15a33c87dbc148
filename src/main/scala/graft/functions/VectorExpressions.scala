// Lives under org.apache.spark.sql so it can use private[sql] pieces of the
// expression API (AbstractDataType, ExpressionUtils) — the standard pattern
// for out-of-tree Catalyst extensions. Source location: graft/functions/.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding arithmetic over
  * `ArrayType(FloatType)` columns — the hot path of similarity search.
  *
  * Design (north-star §2.9 / SURVEY §7.2):
  *   - Implemented as `Expression`s with `doGenCode`, not UDFs: the loop
  *     inlines into whole-stage codegen, reads `ArrayData` primitives
  *     without boxing, and stays vectorization-friendly. A Scala UDF here
  *     would deserialize each array to `Seq[Float]` per row — at 100 TB
  *     that dominates the query.
  *   - Accumulation is sequential float32, widened to double only at the
  *     end. That is bit-identical to DuckDB's `list_cosine_similarity` /
  *     `list_dot_product` on FLOAT[] (verified empirically), making the
  *     operators oracle-checkable, and it halves memory bandwidth vs
  *     double accumulation — the right trade for 64–4096-dim embeddings.
  */
object VectorExpressions {
  /** dot(a, b) over float arrays, f32 accumulation → double. */
  case class DotProductF32(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0f; var i = 0
      while (i < n) { dot += x.getFloat(i) * y.getFloat(i); i += 1 }
      dot.toDouble
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val dot = ctx.freshName("dot")
        s"""
        int $n = java.lang.Math.min($x.numElements(), $y.numElements());
        float $dot = 0.0f;
        for (int $i = 0; $i < $n; $i++) {
          $dot += $x.getFloat($i) * $y.getFloat($i);
        }
        ${ev.value} = (double) $dot;
        """
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** ||a||₂ over a float array, f32 accumulation → double. */
  case class L2NormF32(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var s = 0.0f; var i = 0
      while (i < x.numElements()) { val v = x.getFloat(i); s += v * v; i += 1 }
      math.sqrt(s.toDouble).toFloat.toDouble
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val i = ctx.freshName("i"); val s = ctx.freshName("s"); val v = ctx.freshName("v")
        s"""
        float $s = 0.0f;
        for (int $i = 0; $i < $x.numElements(); $i++) {
          float $v = $x.getFloat($i);
          $s += $v * $v;
        }
        ${ev.value} = (double) (float) java.lang.Math.sqrt((double) $s);
        """
      })
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** cosine(a, b): one fused pass over both arrays (dot + both norms),
    * f32 arithmetic throughout, widened to double. Bit-identical to
    * DuckDB `list_cosine_similarity` on FLOAT[].
    */
  case class CosineSimilarityF32(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = DoubleType
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0f; var nx = 0.0f; var ny = 0.0f; var i = 0
      while (i < n) {
        val xv = x.getFloat(i); val yv = y.getFloat(i)
        dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
      }
      (dot / (math.sqrt(nx.toDouble).toFloat * math.sqrt(ny.toDouble).toFloat)).toDouble
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
        int $n = java.lang.Math.min($x.numElements(), $y.numElements());
        float $dot = 0.0f; float $nx = 0.0f; float $ny = 0.0f;
        for (int $i = 0; $i < $n; $i++) {
          float $xv = $x.getFloat($i); float $yv = $y.getFloat($i);
          $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        }
        ${ev.value} = (double) ($dot / ((float) java.lang.Math.sqrt((double) $nx)
                                        * (float) java.lang.Math.sqrt((double) $ny)));
        """
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Sign-random-projection LSH signature over a float array: bit j is the
    * sign of the dot product with a pseudo-random Rademacher (±1)
    * hyperplane derived from (seed, j, i) by a splitmix64 mix — no stored
    * hyperplane matrix, fully deterministic, O(bits × dim) per row.
    * Cosine-similar vectors collide with probability 1 − θ/π per bit.
    */
  case class SrpSignature(child: Expression, bits: Int, seed: Long)
      extends UnaryExpression with ExpectsInputTypes {
    require(bits > 0 && bits <= 64)
    override def dataType: DataType = LongType
    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
    override def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var sig = 0L; var j = 0
      while (j < bits) {
        var acc = 0.0; var i = 0
        while (i < x.numElements()) {
          val m = TextHashExpressions.mix64(seed ^ (j.toLong << 32) ^ i.toLong)
          acc += (if ((m & 1L) == 0L) x.getFloat(i) else -x.getFloat(i))
          i += 1
        }
        if (acc >= 0) sig |= (1L << j)
        j += 1
      }
      sig
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, x => {
        val G = "org.apache.spark.sql.graft.TextHashExpressions"
        val sig = ctx.freshName("sig"); val j = ctx.freshName("j")
        val acc = ctx.freshName("acc"); val i = ctx.freshName("i"); val m = ctx.freshName("m")
        s"""
        long $sig = 0L;
        for (int $j = 0; $j < $bits; $j++) {
          double $acc = 0.0;
          for (int $i = 0; $i < $x.numElements(); $i++) {
            long $m = $G.mix64(${seed}L ^ (((long) $j) << 32) ^ (long) $i);
            $acc += (($m & 1L) == 0L) ? $x.getFloat($i) : -$x.getFloat($i);
          }
          if ($acc >= 0) $sig |= (1L << $j);
        }
        ${ev.value} = $sig;
        """
      })
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def srp_signature(v: Column, bits: Int, seed: Long = 42L): Column =
    ExpressionUtils.column(SrpSignature(ExpressionUtils.expression(v), bits, seed))

  // Column-level API.
  def vec_dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductF32(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def vec_norm(a: Column): Column =
    ExpressionUtils.column(L2NormF32(ExpressionUtils.expression(a)))
  def vec_cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarityF32(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
