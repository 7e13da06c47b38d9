package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** TRACLUS kernels (SURVEY §2.10 extension, `m_traj_traclus`): the two
  * per-row computations of Lee, Han & Whang's partition-and-group framework
  * (SIGMOD 2007) — the MDL characteristic-point partitioning of one
  * trajectory (§3.2, "Approximate Trajectory Partitioning") and the
  * three-component segment-to-segment distance (§3.1: perpendicular d⊥,
  * parallel d∥, angular dθ, summed with unit weights as in the paper's
  * experiments).
  *
  * Geometry runs in the R³ CHORD EMBEDDING: each fix is a unit 3-vector
  * (the [[TrajSim]] layout) scaled by Earth's radius, so Euclidean km in
  * this space = chord km, which matches great-circle km to first order in
  * the ε regime the clustering operates at (chord/arc ≥ 1 − d²/(24R²):
  * less than 0.2 % short at 1000 km). All partitioning and clustering
  * decisions are DECLARED on chord geometry — one consistent metric for
  * the MDL costs, the candidate grid, and the ε-filter, so no component
  * ever disagrees about which of two segments is closer.
  *
  * Both kernels are per-row array computations that run inside whole-stage
  * codegen (`doGenCode` calls the same static kernel as the interpreted
  * path — the [[FrechetDist]] discipline). Callers bound the cost by
  * construction: tracks are downsampled to the declared per-user cap
  * before partitioning, so the O(n³) worst-case MDL walk is ≤ cap³ ops
  * per user regardless of data volume, and the segment distance is O(1). */
case class TraclusPartition(child: Expression)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    TraclusPartition.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.TraclusPartition.compute($a);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "traclus_partition"
}

object TraclusPartition {

  /** log2(1 + d): the paper's log2(d) with a +1 shift so zero-length /
    * collinear runs cost 0 bits instead of −∞ (the standard public-
    * implementation guard; monotone, so longer/farther still costs more). */
  @inline private def lg(d: Double): Double = math.log(1.0 + d) / math.log(2.0)

  /** Greedy MDL partitioning over an interleaved unit-vector track:
    * returns the 0-based indices of the characteristic points (always
    * includes first and last). A point becomes characteristic when
    * describing the span since the previous one as a single segment
    * (MDL_par = L(H) + L(D|H)) costs more bits than keeping the raw
    * polyline (MDL_nopar = L(H) of the sub-segments, L(D|H) = 0). */
  def compute(a: ArrayData): ArrayData = {
    val u = a.toDoubleArray()
    FrechetDist.checkTrack(u.length, u.length, "traclus_partition")
    val n = u.length / 3
    // Scale to km once: chord geometry, file scaladoc.
    val p = new Array[Double](u.length)
    var t = 0
    while (t < u.length) { p(t) = u(t) * HaversineDist.EarthRadiusKm; t += 1 }

    val cps = scala.collection.mutable.ArrayBuffer[Int](0)
    if (n > 1) {
      var start = 0
      var len = 1
      while (start + len < n) {
        val cur = start + len
        // MDL_par(start, cur): one hypothesis segment + deviation bits.
        var par = lg(TraclusDist.ptDist(p, start, p, cur))
        var nopar = 0.0
        var k = start
        while (k < cur) {
          val (dPerp, dAng) = TraclusDist.perpAngle(p, start, cur, k, k + 1)
          par += lg(dPerp) + lg(dAng)
          nopar += lg(TraclusDist.ptDist(p, k, p, k + 1))
          k += 1
        }
        if (par > nopar && cur - 1 > start) {
          cps += (cur - 1)
          start = cur - 1
          len = 1
        } else len += 1
      }
      cps += (n - 1)
    }
    ArrayData.toArrayData(cps.toArray)
  }
}

/** Lee-Han-Whang segment distance d = d⊥ + d∥ + dθ between two 3-D km
  * segments, each an ARRAY<DOUBLE> of 6 ([ax, ay, az, bx, by, bz]). The
  * LONGER segment plays Li (the paper's role rule), so the distance is
  * symmetric by construction. */
case class TraclusDist(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    TraclusDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TraclusDist.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "traclus_dist"
}

object TraclusDist {

  /** Euclidean km between point i of xs and point j of ys (both interleaved
    * 3-D arrays in km). */
  @inline private[functions] def ptDist(xs: Array[Double], i: Int,
                                        ys: Array[Double], j: Int): Double = {
    val dx = xs(3 * i) - ys(3 * j)
    val dy = xs(3 * i + 1) - ys(3 * j + 1)
    val dz = xs(3 * i + 2) - ys(3 * j + 2)
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  /** (d⊥, dθ) between hypothesis segment (track[s]→track[e]) and
    * sub-segment (track[k1]→track[k2]) of the SAME interleaved array —
    * the two deviation terms the MDL L(D|H) sums (§3.2). Defined via the
    * same primitives as [[compute]] so partitioning and clustering agree. */
  private[functions] def perpAngle(p: Array[Double], s: Int, e: Int,
                                   k1: Int, k2: Int): (Double, Double) = {
    val li = seg(p, s, e)
    val lj = seg(p, k1, k2)
    (dPerp(li, lj), dTheta(li, lj))
  }

  @inline private def seg(p: Array[Double], i: Int, j: Int): Array[Double] =
    Array(p(3 * i), p(3 * i + 1), p(3 * i + 2), p(3 * j), p(3 * j + 1), p(3 * j + 2))

  @inline private def lenSq(s: Array[Double]): Double = {
    val dx = s(3) - s(0); val dy = s(4) - s(1); val dz = s(5) - s(2)
    dx * dx + dy * dy + dz * dz
  }

  /** Projection parameter t of point (px,py,pz) onto the line of li
    * (t = 0 at li's start, 1 at its end); 0 for a degenerate li. */
  @inline private def proj(li: Array[Double], px: Double, py: Double, pz: Double): Double = {
    val l2 = lenSq(li)
    if (l2 < 1e-12) 0.0
    else ((px - li(0)) * (li(3) - li(0)) + (py - li(1)) * (li(4) - li(1)) +
      (pz - li(2)) * (li(5) - li(2))) / l2
  }

  /** Distance from point to the (infinite) line of li; point distance to
    * li's start for a degenerate li. */
  @inline private def lineDist(li: Array[Double], px: Double, py: Double, pz: Double): Double = {
    val t = proj(li, px, py, pz)
    val dx = px - (li(0) + t * (li(3) - li(0)))
    val dy = py - (li(1) + t * (li(4) - li(1)))
    val dz = pz - (li(2) + t * (li(5) - li(2)))
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  /** d⊥ = (l⊥1² + l⊥2²) / (l⊥1 + l⊥2) over lj's endpoints vs li's line
    * (0 when both perpendiculars are 0). */
  private def dPerp(li: Array[Double], lj: Array[Double]): Double = {
    val l1 = lineDist(li, lj(0), lj(1), lj(2))
    val l2 = lineDist(li, lj(3), lj(4), lj(5))
    if (l1 + l2 < 1e-12) 0.0 else (l1 * l1 + l2 * l2) / (l1 + l2)
  }

  /** d∥ = min(l∥1, l∥2) — the paper's Fig. 5 definition: l∥1 is the
    * distance from li's START to the nearer of lj's two projection points
    * on li's line, l∥2 the same from li's END. */
  private def dPar(li: Array[Double], lj: Array[Double]): Double = {
    val len = math.sqrt(lenSq(li))
    val t1 = proj(li, lj(0), lj(1), lj(2))
    val t2 = proj(li, lj(3), lj(4), lj(5))
    val l1 = math.min(math.abs(t1), math.abs(t2)) * len
    val l2 = math.min(math.abs(t1 - 1.0), math.abs(t2 - 1.0)) * len
    math.min(l1, l2)
  }

  /** dθ = ‖lj‖ · sin θ for θ ∈ [0°, 90°], ‖lj‖ for θ > 90° (direction-
    * aware: anti-parallel segments are FAR — the property that separates
    * a corridor's two directions where cell Jaccard cannot). */
  private def dTheta(li: Array[Double], lj: Array[Double]): Double = {
    val l2i = lenSq(li)
    val l2j = lenSq(lj)
    if (l2i < 1e-12 || l2j < 1e-12) return 0.0
    val dot = (li(3) - li(0)) * (lj(3) - lj(0)) + (li(4) - li(1)) * (lj(4) - lj(1)) +
      (li(5) - li(2)) * (lj(5) - lj(2))
    val lenJ = math.sqrt(l2j)
    val cos = dot / (math.sqrt(l2i) * lenJ)
    if (cos < 0.0) lenJ
    else lenJ * math.sqrt(math.max(0.0, 1.0 - cos * cos))
  }

  /** d⊥ + d∥ + dθ with the longer segment as Li (paper role rule; unit
    * weights as in the paper's experiments). */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val sa = a.toDoubleArray()
    val sb = b.toDoubleArray()
    require(sa.length == 6 && sb.length == 6,
      s"traclus_dist: segments must be 6-element [ax,ay,az,bx,by,bz] arrays " +
        s"(got lengths ${sa.length}, ${sb.length})")
    val (li, lj) = if (lenSq(sa) >= lenSq(sb)) (sa, sb) else (sb, sa)
    dPerp(li, lj) + dPar(li, lj) + dTheta(li, lj)
  }
}

/** Representative trajectory of one cluster (Lee-Han-Whang §4.3): rotate
  * the cluster's segments so X' is the average direction, sweep the
  * segment endpoints in X' order, and at every sweep position crossed by
  * ≥ minLns member segments emit the average Y' of the crossings —
  * un-rotated back to lat/lon. Input is the cluster's member segments as
  * ARRAY<ARRAY<DOUBLE>> (each a 6-element km segment), output the
  * representative polyline as interleaved [lat0, lon0, lat1, ...].
  *
  * The paper's sweep is planar; here the cluster (a LOCAL corridor by
  * construction — its diameter is bounded by the ε-chaining) is projected
  * onto the tangent plane at its centroid, swept there, and the emitted
  * points are re-normalized onto the sphere — the declared local-plane
  * adaptation, exact in the limit the clustering regime operates at.
  * Per-row cost is O(|C| log |C| + |C|·sweep) on a CLUSTER-sized array
  * (clusters are output-sized; the caller's groupBy(cluster) +
  * collect_list is the only shuffle). */
case class TraclusRep(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes =
    Seq(ArrayType(ArrayType(DoubleType)), IntegerType, DoubleType)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(segs: Any, minLns: Any, gammaKm: Any): Any =
    TraclusRep.compute(segs.asInstanceOf[ArrayData],
      minLns.asInstanceOf[Int], gammaKm.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, m, g) =>
      s"${ev.value} = graft.functions.TraclusRep.compute($s, $m, $g);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "traclus_rep"
}

object TraclusRep {

  def compute(segsData: ArrayData, minLns: Int, gammaKm: Double): ArrayData = {
    val n = segsData.numElements()
    val segs = Array.tabulate(n)(i =>
      segsData.getArray(i).toDoubleArray())
    require(segs.forall(_.length == 6),
      "traclus_rep: every segment must be a 6-element [ax,ay,az,bx,by,bz] array")

    // Average direction + centroid in R³ km.
    val v = new Array[Double](3)
    val o = new Array[Double](3)
    segs.foreach { s =>
      var k = 0
      while (k < 3) {
        v(k) += s(3 + k) - s(k); o(k) += (s(k) + s(3 + k)) / 2.0; k += 1
      }
    }
    var k = 0
    while (k < 3) { o(k) /= n; k += 1 }
    val oNorm = math.sqrt(o(0) * o(0) + o(1) * o(1) + o(2) * o(2))
    // Degenerate direction (balanced opposite flows): fall back to the
    // first segment's direction so the sweep is still well-defined.
    if (math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2)) < 1e-9) {
      v(0) = segs(0)(3) - segs(0)(0); v(1) = segs(0)(4) - segs(0)(1)
      v(2) = segs(0)(5) - segs(0)(2)
    }
    // Tangent-plane basis at the sphere-projected centroid.
    val nh = Array(o(0) / oNorm, o(1) / oNorm, o(2) / oNorm)
    val vn = v(0) * nh(0) + v(1) * nh(1) + v(2) * nh(2)
    val e1 = Array(v(0) - vn * nh(0), v(1) - vn * nh(1), v(2) - vn * nh(2))
    val e1n = math.sqrt(e1(0) * e1(0) + e1(1) * e1(1) + e1(2) * e1(2))
    k = 0; while (k < 3) { e1(k) /= e1n; k += 1 }
    val e2 = Array(nh(1) * e1(2) - nh(2) * e1(1),
      nh(2) * e1(0) - nh(0) * e1(2), nh(0) * e1(1) - nh(1) * e1(0))

    // Project endpoints: per segment (x'a, y'a, x'b, y'b).
    def proj(s: Array[Double], off: Int): (Double, Double) = {
      val px = s(off) - o(0); val py = s(off + 1) - o(1); val pz = s(off + 2) - o(2)
      (px * e1(0) + py * e1(1) + pz * e1(2), px * e2(0) + py * e2(1) + pz * e2(2))
    }
    val pr = segs.map { s =>
      val (xa, ya) = proj(s, 0); val (xb, yb) = proj(s, 3)
      if (xa <= xb) (xa, ya, xb, yb) else (xb, yb, xa, ya)
    }

    // Sweep the sorted endpoint X' values; emit where ≥ minLns segments
    // cross, spacing consecutive emissions ≥ gammaKm apart in X'.
    val xs = pr.flatMap(p => Seq(p._1, p._3)).sorted
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    var lastX = Double.NegativeInfinity
    for (x <- xs if x - lastX >= gammaKm || lastX == Double.NegativeInfinity) {
      val hit = pr.filter(p => p._1 <= x && x <= p._3)
      if (hit.length >= minLns) {
        val ySum = hit.map { case (xa, ya, xb, yb) =>
          if (xb - xa < 1e-9) (ya + yb) / 2.0
          else ya + (yb - ya) * (x - xa) / (xb - xa)
        }.sum
        val y = ySum / hit.length
        // Back to the sphere: O + x·e1 + y·e2, renormalized to radius R.
        val p = Array(o(0) + x * e1(0) + y * e2(0),
          o(1) + x * e1(1) + y * e2(1), o(2) + x * e1(2) + y * e2(2))
        val pn = math.sqrt(p(0) * p(0) + p(1) * p(1) + p(2) * p(2))
        val lat = math.toDegrees(math.asin(p(2) / pn))
        val lon = math.toDegrees(math.atan2(p(1), p(0)))
        out += lat += lon
        lastX = x
      }
    }
    ArrayData.toArrayData(out.toArray)
  }
}

object TraclusFns {
  def traclusPartition(track: Column): Column =
    column(TraclusPartition(expression(track)))

  def traclusDist(a: Column, b: Column): Column =
    column(TraclusDist(expression(a), expression(b)))

  def traclusRep(segs: Column, minLns: Column, gammaKm: Column): Column =
    column(TraclusRep(expression(segs), expression(minLns), expression(gammaKm)))
}
