package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** HMM map-matching of a noisy fix sequence onto the 0.1° lattice road
  * graph (SURVEY §2.10 `m_traj_mapmatch`) — the Newson-Krumm shape
  * (VLDB 2009): hidden states are road-graph nodes, emission weights a
  * Gaussian in the fix→node great-circle distance (log p ∝ −d²/2σ²), and
  * transition weights an exponential in the ROUTE-vs-MEASURED length
  * discrepancy (log p ∝ −|d_gc(fix_t, fix_t+1) − d(s_t, s_t+1)|/β — a
  * candidate pair whose road hop disagrees with how far the device
  * actually moved is penalized even when both endpoints emit well).
  * Decoded exactly per user by Viterbi.
  *
  * Road graph, DECLARED: the fixture's 0.1° integer lattice (every
  * event's derived coordinate IS a lattice node, so the graph needs no
  * side input and node distance uses the same haversine as everything
  * else); candidate states per fix are the 3×3 lattice nodes around the
  * nearest node — complete for any noise under half a cell plus a cell
  * (the caller's jitter contract), and the state width is what bounds the
  * DP: T fixes × 9 states × 81 transitions, T ≤ the caller's TrackCap —
  * the TrajSim kernel discipline (per-user cost fixed regardless of data
  * volume; the data-sized work stays in the caller's one window pass).
  *
  * Input: interleaved [lat₀, lon₀, lat₁, ...] (degrees, noisy). Output:
  * interleaved [latd₀, lond₀, ...] snapped node coordinates in INTEGER
  * deci-degrees (ints — so recovery comparisons are exact, never an ulp
  * question). Ties in the Viterbi argmax resolve to the LOWEST candidate
  * index (row-major over the 3×3 grid) at every step — deterministic.
  * No SQL oracle (a Viterbi DP has no tractable SQL form — the m_time_dtw
  * precedent); MapMatchSpec pins kernel ≡ a driver-side brute-force
  * Viterbi over all candidate paths on small instances, noise-free
  * identity, planted-noisy-walk recovery, and the gross-outlier case the
  * transition term corrects. */
case class MapMatchExpr(child: Expression, sigmaKm: Double, betaKm: Double)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    MapMatchExpr.compute(a.asInstanceOf[ArrayData], sigmaKm, betaKm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.MapMatchExpr.compute($a, $sigmaKm, $betaKm)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "map_match"
}

object MapMatchExpr {

  /** Great-circle km between (latd1/10, lond1/10) nodes given as deci-deg. */
  @inline private def nodeKm(latd1: Int, lond1: Int, latd2: Int, lond2: Int): Double =
    HaversineDist.km(latd1 / 10.0, lond1 / 10.0, latd2 / 10.0, lond2 / 10.0)

  def compute(a: ArrayData, sigmaKm: Double, betaKm: Double): ArrayData = {
    val ll = a.toDoubleArray()
    if (ll.length < 2 || ll.length % 2 != 0)
      throw new IllegalArgumentException(
        s"map_match: need a non-empty interleaved [lat, lon, ...] array (got ${ll.length})")
    val t = ll.length / 2
    val nc = 9 // 3×3 candidate nodes per fix
    // candidate node (latd, lond) per (fix, c) and emission log-weights
    val candLat = Array.ofDim[Int](t, nc)
    val candLon = Array.ofDim[Int](t, nc)
    val emit = Array.ofDim[Double](t, nc)
    val twoSig2 = 2.0 * sigmaKm * sigmaKm
    var i = 0
    while (i < t) {
      val lat = ll(2 * i)
      val lon = ll(2 * i + 1)
      val bLat = math.round(lat * 10.0).toInt
      val bLon = math.round(lon * 10.0).toInt
      var c = 0
      while (c < nc) {
        val latd = math.min(900, math.max(-900, bLat + c / 3 - 1))
        // lon wraps at ±180.0° (3600 deci-deg circle)
        val lond0 = bLon + c % 3 - 1
        val lond = ((lond0 + 1800) % 3600 + 3600) % 3600 - 1800
        candLat(i)(c) = latd
        candLon(i)(c) = lond
        val d = HaversineDist.km(lat, lon, latd / 10.0, lond / 10.0)
        emit(i)(c) = -(d * d) / twoSig2
        c += 1
      }
      i += 1
    }
    // Viterbi: score(i, c) = emit + max over prev of score + transition
    val score = Array.ofDim[Double](t, nc)
    val back = Array.ofDim[Int](t, nc)
    var c = 0
    while (c < nc) { score(0)(c) = emit(0)(c); c += 1 }
    i = 1
    while (i < t) {
      val measured = HaversineDist.km(ll(2 * i - 2), ll(2 * i - 1), ll(2 * i), ll(2 * i + 1))
      c = 0
      while (c < nc) {
        var bestS = Double.NegativeInfinity
        var bestP = 0
        var p = 0
        while (p < nc) {
          val route = nodeKm(candLat(i - 1)(p), candLon(i - 1)(p),
            candLat(i)(c), candLon(i)(c))
          val s = score(i - 1)(p) - math.abs(measured - route) / betaKm
          if (s > bestS) { bestS = s; bestP = p } // strict > keeps lowest p at ties
          p += 1
        }
        score(i)(c) = emit(i)(c) + bestS
        back(i)(c) = bestP
        c += 1
      }
      i += 1
    }
    // argmax at the end (lowest c at ties), then backtrack
    var bestC = 0
    c = 1
    while (c < nc) { if (score(t - 1)(c) > score(t - 1)(bestC)) bestC = c; c += 1 }
    val path = new Array[Int](t)
    path(t - 1) = bestC
    i = t - 1
    while (i > 0) { path(i - 1) = back(i)(path(i)); i -= 1 }
    val out = new Array[Int](2 * t)
    i = 0
    while (i < t) {
      out(2 * i) = candLat(i)(path(i))
      out(2 * i + 1) = candLon(i)(path(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  def mapMatch(track: Column, sigmaKm: Double, betaKm: Double): Column =
    column(MapMatchExpr(expression(track), sigmaKm, betaKm))
}
