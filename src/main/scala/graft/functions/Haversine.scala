package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Great-circle distance in km as a native Catalyst expression
  * (SURVEY §2.12 scalar-UDF surface — an `Expression`, not a black-box
  * Scala UDF, so Catalyst sees types/nullability and can constant-fold).
  *
  * The arithmetic mirrors, operation for operation, the inline SQL formula
  * used on the DuckDB oracle side (radians → pow/sin/cos → least-clamp →
  * asin), so both engines differ at most by transcendental-libm ulps, which
  * every consuming query rounds away via decimal casts.
  *
  * Codegen: `doGenCode` emits a call to the same static [[HaversineDist.km]]
  * the interpreted path uses — the expression stays inside whole-stage
  * codegen (one virtual call per row, identical bits on both paths) instead
  * of forcing a CodegenFallback boundary in every geo/trajectory plan.
  */
case class HaversineDist(first: Expression, second: Expression,
                         third: Expression, fourth: Expression)
  extends QuaternaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  // Analyzer-inserted casts: SQL decimal/int literals coerce to DOUBLE
  // (raw `0.0` parses as DECIMAL(1,1) — without this, SQL-text callers
  // through GraftExtensions would hit a Decimal ClassCastException).
  override def inputTypes = Seq(DoubleType, DoubleType, DoubleType, DoubleType)

  override def dataType: DataType = DoubleType

  override def nullSafeEval(lat1: Any, lon1: Any, lat2: Any, lon2: Any): Any =
    HaversineDist.km(
      lat1.asInstanceOf[Double], lon1.asInstanceOf[Double],
      lat2.asInstanceOf[Double], lon2.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat1, lon1, lat2, lon2) =>
      s"${ev.value} = graft.functions.HaversineDist.km($lat1, $lon1, $lat2, $lon2);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)

  override def prettyName: String = "haversine_km"
}

object HaversineDist {
  final val EarthRadiusKm = 6371.0

  /** Same operation order as the oracle SQL inline formula. Called from
    * both `nullSafeEval` and the generated code (static forwarder). */
  def km(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val a = math.pow(math.sin(math.toRadians(lat2 - lat1) / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(math.toRadians(lon2 - lon1) / 2), 2)
    2.0 * EarthRadiusKm * math.asin(math.sqrt(math.min(a, 1.0)))
  }

  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    column(HaversineDist(expression(lat1), expression(lon1),
      expression(lat2), expression(lon2)))

  /** The identical formula as DuckDB SQL text (oracle side). */
  def oracleSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"(2.0 * 6371.0 * asin(sqrt(least(" +
      s"pow(sin(radians(($lat2) - ($lat1)) / 2), 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * " +
      s"pow(sin(radians(($lon2) - ($lon1)) / 2), 2), 1.0))))"
}
