package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `bloom.mightContainLong(key)` as a native codegen'd Catalyst expression —
  * the probe half of an explicit runtime-filter semi-join reduction
  * ([[graft.operators.BloomSemiJoin]]).
  *
  * Spark's own `InjectRuntimeFilter` builds the same shape automatically
  * INSIDE one query when thresholds allow; this expression makes the
  * pattern a library surface: a filter built once from a reduced dim side
  * can be pushed into any number of fact scans (cross-query reuse), with
  * false positives harmless by construction because an exact join always
  * re-verifies the survivors.
  *
  * The filter is carried as its serialized bytes (stable case-class
  * equality/canonicalization; a bloom for a selective key set is ~1.2 MB/M
  * keys at 1% fpp — literal-sized, same transport as any broadcast value)
  * and deserialized once per task via a transient lazy; generated code
  * references the deserialized object through `ctx.addReferenceObj`, so the
  * probe stays inside whole-stage codegen — one virtual call per row, no
  * CodegenFallback boundary in the fact scan's filter.
  */
case class BloomMightContainLong(child: Expression, bloomBytes: Array[Byte])
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "bloom_might_contain"
}

object BloomMightContainLong {
  /** The probe predicate for THIS filter (the bytes are an operator
    * constant, same pattern as [[ProjectionLSH]]'s parameters), so several
    * filters coexist in one plan. */
  def mightContain(key: Column, bloom: BloomFilter): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    column(BloomMightContainLong(expression(key), bos.toByteArray))
  }
}
