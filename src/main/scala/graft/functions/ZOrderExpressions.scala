// Lives under org.apache.spark.sql for the same reason as
// VectorExpressions — out-of-tree Catalyst extension surface.
// Source location: graft/functions/.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Morton (Z-order) curve encoding for multi-dimensional data clustering.
  *
  * Sorting a table by one column gives perfect file-level min/max skipping
  * on that column and none on any other; interleaving the bits of two
  * columns' ranks gives GOOD skipping on both at once — each output file
  * covers a small rectangle of the (a, b) space, so a predicate on either
  * dimension prunes most files from the scan. This is the layout move
  * behind Delta/Iceberg OPTIMIZE ZORDER, expressed here as a plain
  * codegen'd expression + repartitionByRange, no table format required.
  */
object ZOrderExpressions {

  /** Bit-twiddling core, shared by interpreted eval and generated code
    * (the object's static forwarder is directly callable from codegen). */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Even bits from `a`, odd bits from `b` — both taken modulo 2^32.
    * Callers rank/scale inputs into [0, 2^32) first; the helper in
    * [[graft.operators.ScaleJoins.writeZOrdered]] does a min/max scale. */
  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)

  /** z_order2(a, b): 64-bit Morton code of two long columns. Pure
    * per-row arithmetic — codegen'd, no UDF, shuffle-friendly. */
  case class ZOrder2(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
    override def nullSafeEval(a: Any, b: Any): Any =
      interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => s"""
        ${ev.value} = org.apache.spark.sql.graft.ZOrderExpressions.interleave($x, $y);
        """)
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  def z_order2(a: Column, b: Column): Column =
    ExpressionUtils.column(ZOrder2(ExpressionUtils.expression(a),
      ExpressionUtils.expression(b)))

  /** Interleave k pre-scaled values: value d owns bits {d, d+k, d+2k, …}
    * up to 64/k bits each, so each input must be scaled into
    * [0, 2^(64/k)). k = 2 reproduces [[interleave]] bit-for-bit
    * (spec-pinned), which is why both share one curve definition. */
  def interleaveN(vals: Array[Long]): Long = {
    val k = vals.length
    val bitsPer = 64 / k
    var out = 0L
    var bit = 0
    while (bit < bitsPer) {
      var d = 0
      while (d < k) {
        out |= ((vals(d) >>> bit) & 1L) << (bit * k + d)
        d += 1
      }
      bit += 1
    }
    out
  }

  /** z_ordern(c1, …, ck): 64-bit Morton code of 2–8 long columns —
    * the N-dimensional generalization of [[ZOrder2]] (each extra
    * dimension halves per-dimension rank resolution: 64/k bits). Pure
    * per-row arithmetic, codegen'd. */
  case class ZOrderN(children: Seq[Expression])
      extends Expression with ExpectsInputTypes {
    require(children.size >= 2 && children.size <= 8,
      "z_ordern takes 2 to 8 columns")
    override def inputTypes: Seq[AbstractDataType] =
      Seq.fill(children.size)(LongType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = children.exists(_.nullable)
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val vs = new Array[Long](children.size)
      var i = 0
      while (i < children.size) {
        val v = children(i).eval(input)
        if (v == null) return null
        vs(i) = v.asInstanceOf[Long]
        i += 1
      }
      interleaveN(vs)
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val evals = children.map(_.genCode(ctx))
      val childCode = evals.map(_.code.toString).mkString("\n")
      val anyNull =
        if (nullable) evals.map(_.isNull.toString).mkString(" || ") else "false"
      val items = evals.map(_.value.toString).mkString(", ")
      ev.copy(code = code"""
        $childCode
        boolean ${ev.isNull} = $anyNull;
        long ${ev.value} = -1L;
        if (!${ev.isNull}) {
          ${ev.value} = org.apache.spark.sql.graft.ZOrderExpressions.interleaveN(
            new long[]{$items});
        }""")
    }
    override protected def withNewChildrenInternal(
        cs: IndexedSeq[Expression]): ZOrderN = copy(children = cs)
  }

  def z_ordern(cols: Column*): Column =
    ExpressionUtils.column(ZOrderN(cols.map(ExpressionUtils.expression)))
}
