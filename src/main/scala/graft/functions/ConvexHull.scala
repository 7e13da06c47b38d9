package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Convex hull statistics of a point set (SURVEY §2.10 extension,
  * `m_geo_hull`): Andrew's monotone chain (Andrew, IPL 1979 — the
  * numerically robust O(n log n) Graham-scan variant that needs no angle
  * sort) over a user's fixes in PLANAR (lon, lat) degree coordinates —
  * the activity-footprint polygon that rog (a radius) and bbox (an
  * axis-aligned box) only bound. DECLARED planar-degree semantics: the
  * fixture lattice is a global 0.1° grid, so hull membership is decided
  * by exact cross products of exact 0.1°-decimal doubles (every fixture
  * coordinate is an exact multiple of 2⁻¹·0.2, and products of such
  * doubles compare exactly) — no great-circle hull ambiguity enters, and
  * the spec pins hand-computable geometry. Strictly-convex vertices only
  * (collinear boundary points are NOT hull vertices — the `< 0` turn
  * test, declared).
  *
  * Input: interleaved ARRAY<DOUBLE> [lat0, lon0, lat1, lon1, ...] (the
  * caller aggregates it; per-user fix counts are device-rate-bounded —
  * the q_traj_simplify collect discipline). Output: ARRAY<DOUBLE>
  * [n_hull, area_deg2, perim_deg] — shoelace area and Euclidean
  * perimeter in degree units (planar by declaration; the key converts
  * to physical units only for display). Degenerate inputs: < 3 distinct
  * points, or all collinear → n_hull = the chain size (1 or 2), area 0.
  *
  * One evaluation per group inside whole-stage codegen (`doGenCode`
  * calls the same static kernel as the interpreted path — the CosineSim
  * discipline). */
case class HullStats(child: Expression)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    HullStats.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HullStats.compute($a);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "hull_stats"
}

object HullStats {

  /** Cross product (o→a) × (o→b): > 0 = left turn, 0 = collinear. */
  @inline private def cross(ox: Double, oy: Double, ax: Double, ay: Double,
                            bx: Double, by: Double): Double =
    (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    if (m < 2 || m % 2 != 0)
      throw new IllegalArgumentException(
        s"hull_stats: input must be a non-empty interleaved [lat, lon, ...] array (got $m elements)")
    val n0 = m / 2
    // (x, y) = (lon, lat); sort by (x, y), then drop exact duplicates —
    // both decisions are exact double comparisons.
    val xs = new Array[Double](n0)
    val ys = new Array[Double](n0)
    var i = 0
    while (i < n0) { ys(i) = arr.getDouble(2 * i); xs(i) = arr.getDouble(2 * i + 1); i += 1 }
    val idx = (0 until n0).sortBy(i => (xs(i), ys(i)))
    val px = new Array[Double](n0)
    val py = new Array[Double](n0)
    var n = 0
    idx.foreach { j =>
      if (n == 0 || xs(j) != px(n - 1) || ys(j) != py(n - 1)) {
        px(n) = xs(j); py(n) = ys(j); n += 1
      }
    }
    if (n == 1) return new GenericArrayData(Array(1.0, 0.0, 0.0))
    // Monotone chain: lower then upper hull; `<= 0` pops collinear points
    // so only strict corners remain.
    val hx = new Array[Double](2 * n + 1)
    val hy = new Array[Double](2 * n + 1)
    var k = 0
    i = 0
    while (i < n) { // lower hull
      while (k >= 2 && cross(hx(k - 2), hy(k - 2), hx(k - 1), hy(k - 1), px(i), py(i)) <= 0) k -= 1
      hx(k) = px(i); hy(k) = py(i); k += 1
      i += 1
    }
    val lower = k + 1
    i = n - 2
    while (i >= 0) { // upper hull
      while (k >= lower && cross(hx(k - 2), hy(k - 2), hx(k - 1), hy(k - 1), px(i), py(i)) <= 0) k -= 1
      hx(k) = px(i); hy(k) = py(i); k += 1
      i -= 1
    }
    val h = k - 1 // last point == first point
    if (h < 3) { // collinear set: chain degenerates to the 2 endpoints
      val dx = hx(1) - hx(0); val dy = hy(1) - hy(0)
      return new GenericArrayData(Array(2.0, 0.0, 2.0 * math.sqrt(dx * dx + dy * dy)))
    }
    var area2 = 0.0 // shoelace, twice the signed area (CCW chain => >= 0)
    var perim = 0.0
    i = 0
    while (i < h) {
      val j = (i + 1) % h
      area2 += hx(i) * hy(j) - hx(j) * hy(i)
      val dx = hx(j) - hx(i); val dy = hy(j) - hy(i)
      perim += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    new GenericArrayData(Array(h.toDouble, math.abs(area2) / 2.0, perim))
  }

  def hullStats(points: Column): Column = column(HullStats(expression(points)))
}
