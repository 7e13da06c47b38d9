package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) key as a native Catalyst expression (SURVEY §2.12
  * scalar surface): interleaves the low 32 bits of two quantized
  * coordinates so that sorting by the key clusters rows into 2-D tiles.
  *
  * This is the standard multi-dimensional clustering tool at the 100 TB
  * layout level (Delta/Iceberg "OPTIMIZE ZORDER BY"): parquet row-group
  * min/max stats on z-sorted data become TIGHT for BOTH dimensions at
  * once, so a 2-D box predicate skips row groups in both axes — where a
  * 1-D sort only ever skips along its sort column. PlanSpec proves the
  * effect by writing the same points lat-sorted and z-sorted with small
  * row groups and comparing the scan's surviving row count under one box
  * predicate.
  *
  * Codegen: `doGenCode` calls the same static [[ZOrderKey.interleave]] as
  * the interpreted path — stays inside whole-stage codegen.
  */
case class ZOrderKey(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(LongType, LongType)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderKey.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZOrderKey.interleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "zorder_key"
}

object ZOrderKey {

  /** Spread the low 32 bits of x onto the even bit positions of a long. */
  def spread(x: Long): Long = {
    var v = x & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8))  & 0x00FF00FF00FF00FFL
    v = (v | (v << 4))  & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2))  & 0x3333333333333333L
    v = (v | (v << 1))  & 0x5555555555555555L
    v
  }

  /** Morton-interleave: bits of `a` on even positions, `b` on odd. */
  def interleave(a: Long, b: Long): Long =
    spread(a) | (spread(b) << 1)

  def zorderKey(a: Column, b: Column): Column =
    column(ZOrderKey(expression(a), expression(b)))
}
