package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.Platform

/** Track-level trajectory similarity kernels (SURVEY §2.10 extension,
  * `m_traj_frechet` / `m_traj_lcss`): discrete Fréchet distance (Eiter &
  * Mannila, TR CD-TR 94/64, 1994) and LCSS match count (Vlachos, Kollios &
  * Gunopulos, ICDE 2002) between two time-ordered tracks — the POINT-WISE
  * comparison the visited-cell Jaccard (`q_traj_sim`) only approximates:
  * two users tracing the same corridor in the same order read near under
  * Fréchet even when their cell sets differ, and far when they visit the
  * same cells in opposite order.
  *
  * Input layout: each track is an interleaved ARRAY<DOUBLE> of UNIT-SPHERE
  * coordinates [x0, y0, z0, x1, y1, z1, ...] (x = cos lat · cos lon,
  * y = cos lat · sin lon, z = sin lat), converted ONCE per track by the
  * caller's codegen'd `transform` — so the O(|a|·|b|) DP inner cell costs
  * 3 multiplies + 5 adds (squared CHORD distance ‖p−q‖²), not 4 trig + asin.
  * Squared chord is a strictly monotone function of great-circle distance
  * (‖p−q‖² = 2 − 2cosθ = 4·sin²(θ/2) — the haversine identity), and both
  * DPs combine distances only through max / min / ≤-threshold, which
  * commute with monotone transforms — so running the DP on chord² and
  * converting ONLY the final value (d_km = 2R·asin(√chord²/2)) yields
  * exactly the great-circle-km Fréchet, at ~30× less CPU per cell. That
  * makes the exact DP cheap enough to run on every signature pair at
  * moderate U; above [[graft.queries.Trajectory]]'s adaptive pair gate
  * the Fréchet key additionally prunes pairs with an EXACT endpoint
  * lower bound before any DP runs — still never a lossy candidate tier.
  *
  * Both kernels are rolling-row DPs like [[graft.operators.Dtw]], but
  * unlike Dtw they run DISTRIBUTED — one evaluation per pair inside
  * whole-stage codegen (`doGenCode` calls the same static kernel as the
  * interpreted path, the [[CosineSim]] discipline). Callers bound the DP
  * by construction: tracks are downsampled to a declared per-user point
  * cap, so per-pair cost is cap² cells regardless of data volume.
  *
  * IN-PLACE READS (the [[TrajSketch]] per-pair cost discipline): every
  * kernel here runs once per PAIR, so none copies a track. Each input is
  * normalized once to an `UnsafeArrayData` ([[FrechetDist.unsafeTrack]] —
  * a no-op in codegen, where every array read out of an `UnsafeRow`
  * already is one; any other `ArrayData` is copied once there), its base
  * object and the address of element 0 (base offset + null-bitmap header)
  * are read once, and coordinates are read with `Platform.getDouble`. The
  * arithmetic order is the copying kernels', so every value is
  * bit-identical (TrajectorySpec pins it on rows, primitive arrays and
  * generic arrays). The virtual `ArrayData.getDouble(i)` is not enough:
  * it re-checks the index and recomputes the element address on every
  * read. One thread scanning all sf0.1 pairs at the Hausdorff seed
  * threshold took 2.0–2.2 s copying both tracks per pair, 2.1–2.3 s
  * through `getDouble` and 1.36–1.45 s reading in place; a getter-only
  * build moved perfbench `kernels` `warm_s` from 1.55 to 1.69 s (median
  * of 4 pairs), worse than the copy. Fréchet's two DP rows come from a
  * per-thread scratch instead of two new arrays per pair. */
case class FrechetDist(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    FrechetDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.FrechetDist.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "frechet_km"
}

/** frechet_km_capped(a, b, capKm): exact discrete Fréchet distance when it
  * is ≤ capKm, Double.MaxValue otherwise — the prune tier's survivor
  * kernel. Poisoning cells whose chord² exceeds the cap leaves every
  * all-cells-≤-cap path untouched (the DP value is a min over paths of a
  * max over cells, so a poisoned cell only kills paths that already
  * exceeded the cap), and an all-poisoned row proves dF > cap and abandons
  * the scan — most endpoint-bound survivors are still far pairs, and they
  * exit within a few rows instead of paying the full cap² matrix. Callers
  * pass cap = thr + margin, so every value that can reach the top-10 is
  * exact and everything returned MaxValue is provably outside it. */
case class FrechetCapped(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any, cap: Any): Any =
    FrechetDist.computeCapped(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      cap.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, cap) =>
      s"${ev.value} = graft.functions.FrechetDist.computeCapped($a, $b, $cap);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "frechet_km_capped"
}

object FrechetDist {

  private[functions] def checkTrack(na: Int, nb: Int, name: String): Unit =
    // Fail loudly on malformed tracks — a dropped coordinate would silently
    // shift every subsequent value's axis role.
    if (na < 3 || nb < 3 || na % 3 != 0 || nb % 3 != 0)
      throw new IllegalArgumentException(
        s"$name: tracks must be non-empty interleaved [x, y, z, ...] " +
          s"unit-vector arrays (got lengths $na, $nb)")

  /** The one conversion of the in-place kernels (file scaladoc): an
    * `UnsafeArrayData` as is, any other track copied once into one. */
  private[functions] def unsafeTrack(a: ArrayData): UnsafeArrayData = a match {
    case u: UnsafeArrayData => u
    case other => UnsafeArrayData.fromPrimitiveArray(other.toDoubleArray())
  }

  /** Address of element 0 of `u`: its base offset past the null bitmap. */
  @inline private[functions] def dataOffset(u: UnsafeArrayData): Long =
    u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(u.numElements())

  /** Coordinate `axis` (0 = x, 1 = y, 2 = z) of point i of the track
    * whose element 0 is at (o, off). */
  @inline private[functions] def coord(o: AnyRef, off: Long, i: Int, axis: Int): Double =
    Platform.getDouble(o, off + 24L * i + 8L * axis)

  /** Squared chord distance between the point (x, y, z) and point j of
    * the track whose element 0 is at (o, off). */
  @inline private[functions] def chordSq(x: Double, y: Double, z: Double,
                                         o: AnyRef, off: Long, j: Int): Double = {
    val dx = x - coord(o, off, j, 0)
    val dy = y - coord(o, off, j, 1)
    val dz = z - coord(o, off, j, 2)
    dx * dx + dy * dy + dz * dz
  }

  /** chord² → great-circle km (the exact inverse of the haversine identity;
    * min-clamp absorbs FP chord² a hair above 4 for antipodal points). */
  @inline private[functions] def chordSqToKm(c2: Double): Double =
    2.0 * HaversineDist.EarthRadiusKm * math.asin(math.min(math.sqrt(c2) / 2.0, 1.0))

  /** Fréchet's two DP rows, per thread, sized for TrackCap = 64 points;
    * longer (ad-hoc) tracks get fresh rows. */
  private final class Rows(len: Int) {
    val prev = new Array[Double](len)
    val cur = new Array[Double](len)
  }
  private val rows = ThreadLocal.withInitial[Rows](() => new Rows(64))
  private def scratch(m: Int): Rows = if (m <= 64) rows.get() else new Rows(m)

  /** Discrete Fréchet distance in km over interleaved unit-vector arrays.
    * ca(i,j) = max(d(i,j), min(ca(i-1,j), ca(i-1,j-1), ca(i,j-1))) — the
    * shortest leash admitting only forward moves; rolling two rows like
    * [[graft.operators.Dtw.dist]], on chord² with one final asin (see the
    * monotonicity argument in the file scaladoc). One implementation for
    * both eval paths. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    checkTrack(a.numElements(), b.numElements(), "frechet_km")
    val ua = unsafeTrack(a)
    val ub = unsafeTrack(b)
    val ao = ua.getBaseObject
    val aOff = dataOffset(ua)
    val bo = ub.getBaseObject
    val bOff = dataOffset(ub)
    val n = ua.numElements() / 3
    val m = ub.numElements() / 3
    val sc = scratch(m)
    var prev = sc.prev
    var cur = sc.cur
    var x = coord(ao, aOff, 0, 0)
    var y = coord(ao, aOff, 0, 1)
    var z = coord(ao, aOff, 0, 2)
    prev(0) = chordSq(x, y, z, bo, bOff, 0)
    var j = 1
    while (j < m) { prev(j) = math.max(prev(j - 1), chordSq(x, y, z, bo, bOff, j)); j += 1 }
    var i = 1
    while (i < n) {
      x = coord(ao, aOff, i, 0)
      y = coord(ao, aOff, i, 1)
      z = coord(ao, aOff, i, 2)
      cur(0) = math.max(prev(0), chordSq(x, y, z, bo, bOff, 0))
      j = 1
      while (j < m) {
        cur(j) = math.max(chordSq(x, y, z, bo, bOff, j),
          math.min(prev(j), math.min(cur(j - 1), prev(j - 1))))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    chordSqToKm(prev(m - 1))
  }

  /** km → chord² (monotone — the LcssMatches identity) for the capped
    * kernels; the angle clamps so caps past antipodal never wrap the sine. */
  @inline private[functions] def kmToChordSq(km: Double): Double = {
    val s = 2.0 * math.sin(math.min(km / (2.0 * HaversineDist.EarthRadiusKm), math.Pi / 2))
    s * s
  }

  /** [[FrechetCapped]]'s kernel — exact dF when ≤ capKm, else MaxValue. */
  def computeCapped(a: ArrayData, b: ArrayData, capKm: Double): Double = {
    checkTrack(a.numElements(), b.numElements(), "frechet_km_capped")
    val ua = unsafeTrack(a)
    val ub = unsafeTrack(b)
    val ao = ua.getBaseObject
    val aOff = dataOffset(ua)
    val bo = ub.getBaseObject
    val bOff = dataOffset(ub)
    val n = ua.numElements() / 3
    val m = ub.numElements() / 3
    val capC2 = kmToChordSq(capKm)
    val Inf = Double.MaxValue
    val sc = scratch(m)
    var prev = sc.prev
    var cur = sc.cur
    var alive = false
    var x = coord(ao, aOff, 0, 0)
    var y = coord(ao, aOff, 0, 1)
    var z = coord(ao, aOff, 0, 2)
    val d00 = chordSq(x, y, z, bo, bOff, 0)
    prev(0) = if (d00 <= capC2) d00 else Inf
    alive = prev(0) < Inf
    var j = 1
    while (j < m) {
      val d = chordSq(x, y, z, bo, bOff, j)
      prev(j) = if (d <= capC2 && prev(j - 1) < Inf) math.max(prev(j - 1), d) else Inf
      if (prev(j) < Inf) alive = true
      j += 1
    }
    if (!alive) return Inf
    var i = 1
    while (i < n) {
      alive = false
      x = coord(ao, aOff, i, 0)
      y = coord(ao, aOff, i, 1)
      z = coord(ao, aOff, i, 2)
      val d0 = chordSq(x, y, z, bo, bOff, 0)
      cur(0) = if (d0 <= capC2 && prev(0) < Inf) math.max(prev(0), d0) else Inf
      if (cur(0) < Inf) alive = true
      j = 1
      while (j < m) {
        val d = chordSq(x, y, z, bo, bOff, j)
        cur(j) =
          if (d > capC2) Inf
          else {
            val best = math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
            if (best == Inf) Inf else math.max(d, best)
          }
        if (cur(j) < Inf) alive = true
        j += 1
      }
      if (!alive) return Inf // no sub-cap path can reach row i's frontier
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m - 1) == Inf) Inf else chordSqToKm(prev(m - 1))
  }
}

/** LCSS match count between two interleaved unit-vector tracks: the length
  * of the longest common subsequence under "points match when within
  * `epsKm` great-circle km" (Vlachos et al., ICDE 2002, with the time-
  * window constraint δ = ∞ by declaration — the downsampled tracks already
  * align index to time rank). The km threshold converts ONCE to a chord²
  * threshold (monotonicity, file scaladoc), so the inner cell is pure
  * arithmetic. Returns the raw match COUNT; callers normalize by
  * min(|a|, |b|) so the similarity is in [0, 1]. Robust to outliers where
  * Fréchet is not: one wild GPS fix caps Fréchet from below but costs LCSS
  * a single match. */
case class LcssMatches(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any, eps: Any): Any =
    LcssMatches.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      eps.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, eps) =>
      s"${ev.value} = graft.functions.LcssMatches.compute($a, $b, $eps);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "lcss_matches"
}

object LcssMatches {

  import FrechetDist.{chordSq, coord, dataOffset, unsafeTrack}

  /** lcss(i,j) = 1 + lcss(i-1,j-1) if d(i,j) ≤ eps else
    * max(lcss(i-1,j), lcss(i,j-1)) — rolling two rows. */
  def compute(a: ArrayData, b: ArrayData, epsKm: Double): Long = {
    FrechetDist.checkTrack(a.numElements(), b.numElements(), "lcss_matches")
    val ua = unsafeTrack(a)
    val ub = unsafeTrack(b)
    val ao = ua.getBaseObject
    val aOff = dataOffset(ua)
    val bo = ub.getBaseObject
    val bOff = dataOffset(ub)
    val n = ua.numElements() / 3
    val m = ub.numElements() / 3
    // km → chord² threshold, once per call: chord = 2·sin(d / 2R)
    val s = 2.0 * math.sin(epsKm / (2.0 * HaversineDist.EarthRadiusKm))
    val epsC2 = s * s
    var prev = new Array[Long](m + 1)
    var cur = new Array[Long](m + 1)
    var i = 1
    while (i <= n) {
      val x = coord(ao, aOff, i - 1, 0)
      val y = coord(ao, aOff, i - 1, 1)
      val z = coord(ao, aOff, i - 1, 2)
      var j = 1
      while (j <= m) {
        cur(j) =
          if (chordSq(x, y, z, bo, bOff, j - 1) <= epsC2) prev(j - 1) + 1L
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      // the new cur row is overwritten fully next pass; cur(0) stays 0
      i += 1
    }
    prev(m)
  }
}

/** EDR — Edit Distance on Real sequence (Chen, Özsu & Oria, SIGMOD 2005) —
  * between two interleaved unit-vector tracks: the minimum number of
  * insert/delete/substitute edits (unit cost each) turning one track into
  * the other, where two fixes "match" (cost 0) when within `epsKm`
  * great-circle km. The third member of the canonical trajectory-DP
  * family: like LCSS it is outlier-robust (one wild fix costs one edit),
  * but unlike LCSS it PENALIZES unmatched gaps — two tracks sharing a
  * corridor but one carrying a long detour read similar under LCSS
  * (matches normalized by the shorter track) and far under EDR (every
  * detour fix is an edit). Same chord²-threshold rewrite as
  * [[LcssMatches]] (file scaladoc); callers normalize by max(|a|, |b|). */
case class EdrDist(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any, eps: Any): Any =
    EdrDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      eps.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, eps) =>
      s"${ev.value} = graft.functions.EdrDist.compute($a, $b, $eps);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "edr_dist"
}

object EdrDist {

  import FrechetDist.{chordSq, coord, dataOffset, unsafeTrack}

  /** edr(i,j) = edr(i-1,j-1) on a match, else 1 + min(sub, del, ins);
    * borders edr(i,0) = i, edr(0,j) = j — rolling two rows. */
  def compute(a: ArrayData, b: ArrayData, epsKm: Double): Long = {
    FrechetDist.checkTrack(a.numElements(), b.numElements(), "edr_dist")
    val ua = unsafeTrack(a)
    val ub = unsafeTrack(b)
    val ao = ua.getBaseObject
    val aOff = dataOffset(ua)
    val bo = ub.getBaseObject
    val bOff = dataOffset(ub)
    val n = ua.numElements() / 3
    val m = ub.numElements() / 3
    val s = 2.0 * math.sin(epsKm / (2.0 * HaversineDist.EarthRadiusKm))
    val epsC2 = s * s
    var prev = Array.tabulate[Long](m + 1)(_.toLong) // edr(0, j) = j
    var cur = new Array[Long](m + 1)
    var i = 1
    while (i <= n) {
      val x = coord(ao, aOff, i - 1, 0)
      val y = coord(ao, aOff, i - 1, 1)
      val z = coord(ao, aOff, i - 1, 2)
      cur(0) = i.toLong // edr(i, 0) = i
      var j = 1
      while (j <= m) {
        cur(j) =
          if (chordSq(x, y, z, bo, bOff, j - 1) <= epsC2) prev(j - 1)
          else 1L + math.min(prev(j - 1), math.min(prev(j), cur(j - 1)))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}

/** Symmetric Hausdorff distance in km between two interleaved unit-vector
  * tracks: max(h(A→B), h(B→A)) with h(A→B) = max over a∈A of min over b∈B
  * of d(a, b) — the SET-BASED, order-FREE member of the trajectory distance
  * family (Huttenlocher, Klanderman & Rucklidge, TPAMI 1993). Completes the
  * quartet: Fréchet is the order-aware leash, LCSS/EDR are the edit twins,
  * Hausdorff asks only "does every fix of one track have a nearby fix on
  * the other" — so a corridor traced in REVERSE reads 0 under Hausdorff
  * and far under Fréchet, the diagnostic pair for "same route, which
  * direction?". Same chord² rewrite as [[FrechetDist]]: max and min both
  * commute with the monotone chord²→km map, so the O(n·m) scan runs on
  * pure arithmetic and only the final value pays an asin. The inner loop
  * early-exits when the running min drops below the best-so-far outer max
  * (the classic Hausdorff cutoff — sub-O(n·m) on similar tracks). */
case class HausdorffKm(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    HausdorffKm.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HausdorffKm.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "hausdorff_km"
}

/** hausdorff_km_capped(a, b, capKm): exact symmetric Hausdorff distance
  * when it is ≤ capKm, Double.MaxValue otherwise — the pruned key's join
  * predicate, built like [[FrechetCapped]]. The max-min scan keeps its
  * best-so-far cutoff and abandons as soon as ONE fix's nearest
  * counterpart lies beyond the cap: that fix alone proves dH > cap. A far
  * pair therefore pays about one full inner scan instead of the whole
  * max-min (sf0.1 tracks at the key's threshold, one thread of a 4-core
  * host: 1.45–1.73 µs per pair reading in place, 2.35–2.42 µs when each
  * pair copied both tracks, 7.9–8.0 µs for [[HausdorffKm]]). */
case class HausdorffCapped(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any, cap: Any): Any =
    HausdorffKm.computeCapped(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      cap.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, cap) =>
      s"${ev.value} = graft.functions.HausdorffKm.computeCapped($a, $b, $cap);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)

  override def prettyName: String = "hausdorff_km_capped"
}

object HausdorffKm {

  import FrechetDist.{chordSq, coord, dataOffset, unsafeTrack}

  /** Directed Hausdorff on chord² from the n points at (xo, xOff) to the
    * m points at (yo, yOff): max over x-points of (min over y-points),
    * with the best-so-far cutoff — once a y-point is closer than the
    * current outer max, this x-point cannot raise it. Returns
    * Double.MaxValue as soon as one x-point's nearest y-point is farther
    * than `capC2` (an inner scan that ran to the end holds the true min). */
  private def directedC2(xo: AnyRef, xOff: Long, n: Int,
                         yo: AnyRef, yOff: Long, m: Int, capC2: Double): Double = {
    var best = 0.0
    var i = 0
    while (i < n) {
      val x = coord(xo, xOff, i, 0)
      val y = coord(xo, xOff, i, 1)
      val z = coord(xo, xOff, i, 2)
      var minD = Double.MaxValue
      var j = 0
      while (j < m && minD > best) {
        val d = chordSq(x, y, z, yo, yOff, j)
        if (d < minD) minD = d
        j += 1
      }
      if (minD > capC2) return Double.MaxValue
      if (minD > best) best = minD
      i += 1
    }
    best
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    FrechetDist.checkTrack(a.numElements(), b.numElements(), "hausdorff_km")
    val ua = unsafeTrack(a)
    val ub = unsafeTrack(b)
    val ao = ua.getBaseObject
    val aOff = dataOffset(ua)
    val bo = ub.getBaseObject
    val bOff = dataOffset(ub)
    val n = ua.numElements() / 3
    val m = ub.numElements() / 3
    FrechetDist.chordSqToKm(math.max(
      directedC2(ao, aOff, n, bo, bOff, m, Double.MaxValue),
      directedC2(bo, bOff, m, ao, aOff, n, Double.MaxValue)))
  }

  /** [[HausdorffCapped]]'s kernel — exact dH when ≤ capKm, else MaxValue. */
  def computeCapped(a: ArrayData, b: ArrayData, capKm: Double): Double = {
    FrechetDist.checkTrack(a.numElements(), b.numElements(), "hausdorff_km_capped")
    val ua = unsafeTrack(a)
    val ub = unsafeTrack(b)
    val ao = ua.getBaseObject
    val aOff = dataOffset(ua)
    val bo = ub.getBaseObject
    val bOff = dataOffset(ub)
    val n = ua.numElements() / 3
    val m = ub.numElements() / 3
    val capC2 = FrechetDist.kmToChordSq(capKm)
    val ab = directedC2(ao, aOff, n, bo, bOff, m, capC2)
    if (ab == Double.MaxValue) return Double.MaxValue
    val ba = directedC2(bo, bOff, m, ao, aOff, n, capC2)
    if (ba == Double.MaxValue) Double.MaxValue
    else FrechetDist.chordSqToKm(math.max(ab, ba))
  }
}

object TrajSim {
  def frechetKm(a: Column, b: Column): Column =
    column(FrechetDist(expression(a), expression(b)))

  def lcssMatches(a: Column, b: Column, epsKm: Column): Column =
    column(LcssMatches(expression(a), expression(b), expression(epsKm)))

  def edrDist(a: Column, b: Column, epsKm: Column): Column =
    column(EdrDist(expression(a), expression(b), expression(epsKm)))

  def hausdorffKm(a: Column, b: Column): Column =
    column(HausdorffKm(expression(a), expression(b)))

  def frechetKmCapped(a: Column, b: Column, capKm: Column): Column =
    column(FrechetCapped(expression(a), expression(b), expression(capKm)))

  def hausdorffKmCapped(a: Column, b: Column, capKm: Column): Column =
    column(HausdorffCapped(expression(a), expression(b), expression(capKm)))
}
