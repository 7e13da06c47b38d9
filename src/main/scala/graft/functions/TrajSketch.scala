package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.Platform

/** Cell-sketch kernels that make the track-DP family scale past the U²·cap²
  * wall (SURVEY §2.10, round-15): per-fix 2.5° lattice cells turn the LCSS
  * and EDR DPs into EXACT sparse-match algorithms, give their prune tiers
  * an exact near-count bound, and seed the Hausdorff threshold.
  *
  * WHY NOT THE DOCUMENTED MinHash-LSH TIER: round-15 measured the premise
  * and the fixture refutes it. The visited-cell Jaccard of the true top-10
  * pairs is statistically indistinguishable from random pairs (sf0.01:
  * top-10 Fréchet J ∈ [0, 0.063] vs all-pairs median 0.033 — one top-10
  * pair shares ZERO cells, so NO Jaccard-LSH family can emit it as a
  * candidate except by hash accident). Banding aggressive enough to reach
  * those pairs admits essentially every pair; banding that filters loses
  * true top-10 rows. MinHash-LSH remains the right tool for the
  * THRESHOLD/corridor form (see [[graft.operators.TrajLsh]], where planted
  * corridors have J ≥ 0.5 and OR-amplification is sound) — but the top-10
  * NEAREST form needs bounds that are exact, not probabilistic. These are.
  *
  * The cell lattice: 2.5° × 2.5°, row = floor((lat+90)/2.5) ∈ [0,71],
  * col = floor((lon+180)/2.5) ∈ [0,143], id = row·256 + col (SHIFT-
  * decodable — the ×10 probe measured the div/mod decode as a real cost
  * at 10⁸ pairs × thousands of decodes) — integer-
  * exact from the 0.1°-resolution fixture coordinates (2.5-degree
  * boundaries are exact binary doubles, so the floor can never split on an
  * ulp). The one geometric primitive is an exact LOWER bound on the
  * great-circle distance between any two points of two cells:
  *
  *   d ≥ 2R·asin √( sin²(Δφ_min/2) + cosφ̂₁·cosφ̂₂·sin²(Δλ_min/2) )
  *
  * with Δφ_min the row gap, Δλ_min the circular column gap, and cosφ̂ the
  * cosine at each cell's most-polar edge — every haversine term minimized
  * independently, so the bound is ≤ the true distance for ANY point
  * placement (including the polar shrink of lon arcs that breaks naive
  * "neighbor cells" heuristics). All row/gap terms come from tiny static
  * tables; comparisons run in the monotone haversine-sq domain and only a
  * final value pays an asin (the TrajSim chord² discipline).
  *
  * PER-PAIR COST DISCIPLINE (the round-15 probe lesson — the first cut of
  * these kernels copied both arrays and re-sorted B's cells per pair, and
  * the ×10 scan got SLOWER than the DPs it replaced): every kernel here
  * reads its inputs through ArrayData getters (zero copies), the sorted
  * cell structures are computed ONCE PER USER by the caller (the packed
  * `(cell << 32 | fixIdx)` array and the distinct sorted cell array are
  * `tracks()` columns), and all per-pair working memory comes from a
  * thread-local scratch (bounded by TrackCap² — never grows, never
  * allocates on the hot path).
  *
  * Exactness arguments, pinned by TrajectorySpec:
  *  - LCSS = longest strictly-monotone chain over the ε-match set
  *    (Hunt & Szymanski, CACM 1977): matches are found by cell-range
  *    lookup (a superset by the bound above — any pair within ε lies
  *    within the tabled cell radius), verified by the exact chord² test,
  *    then chained by patience LIS with per-i snapshots (strict i AND j
  *    increase — the 1-1 matching LCSS requires). Identical to the full
  *    DP on every input; cost O(n·bands + P log P) instead of O(n·m).
  *  - EDR: any alignment decomposes into its matched pairs (a monotone
  *    chain) plus gap segments, and a p-vs-q gap with no free match costs
  *    exactly max(p, q) (min(p,q) substitutions + |p−q| indels) — so
  *    EDR = min over chains of Σ max-gap, a DP over the sparse match set
  *    (O(P²), falling back to the full-matrix kernel when P is dense —
  *    both paths exact, the fallback merely faster at high match density).
  *  - Hausdorff's cell cover: `cell_hits` ([[TrajSketch.cellHits]]) picks
  *    the seed pairs whose exact distances set the threshold t, and the
  *    pair scan then tests a cover before the capped exact kernel
  *    ([[graft.functions.HausdorffCapped]]): every cell of A set in B's
  *    cells dilated at t (plus a metre), and every cell of B in A's
  *    ([[TrajSketch.cellsCovered]]). If dH ≤ t every fix lies within t of
  *    a fix on the other side, and the bound above never exceeds the
  *    distance of two points, so the cover drops no pair the kernel keeps
  *    and the kernel still makes every decision. This is not the
  *    deleted cell-rectangle bound `haus_lb_exceeds`: that one compared
  *    the two tracks' cells pair by pair through the tables, 2.5–3.2 µs
  *    per track pair. The cover builds each user's dilation
  *    once per side and query, and a pair pays one bit lookup per cell,
  *    out at the first miss. On sf0.1 at the key's threshold (2,861 km,
  *    one thread of a 4-core host, all 1,124,250 pairs) the cover costs
  *    0.12–0.18 s (0.10–0.16 µs per pair) and keeps 16,595 pairs; the
  *    capped kernel alone costs 1.57–1.94 s and keeps 974, and both
  *    together 0.23–0.27 s with the same 974. */
object TrajSketch {

  private[graft] val CellDeg = 2.5
  private[graft] val NLon = 144 // 360 / 2.5
  private[graft] val NRow = 72  // 180 / 2.5
  private val R = HaversineDist.EarthRadiusKm

  /** sin²(Δφ_min/2) by row gap |r1−r2| (gap 0 for adjacent/overlapping). */
  private val rowGapHav: Array[Double] = Array.tabulate(NRow) { dr =>
    val gapDeg = math.max(0, dr - 1) * CellDeg
    val s = math.sin(math.toRadians(gapDeg) / 2.0)
    s * s
  }

  /** sin²(Δλ_min/2) by circular column gap (gap 0 for adjacent/same). */
  private val colGapHav: Array[Double] = Array.tabulate(NLon / 2 + 1) { dc =>
    val gapDeg = math.max(0, dc - 1) * CellDeg
    val s = math.sin(math.toRadians(gapDeg) / 2.0)
    s * s
  }

  /** cos(lat) at the most-polar edge of each row. */
  private val cosEdge: Array[Double] = Array.tabulate(NRow) { r =>
    val lo = -90.0 + r * CellDeg
    val hi = lo + CellDeg
    math.cos(math.toRadians(math.max(math.abs(lo), math.abs(hi))))
  }

  @inline private def kmToHavSq(km: Double): Double = {
    val s = math.sin(km / (2.0 * R))
    s * s
  }

  /** Per-row table: max column gap dc such that two cells (r1, ·), (r2, ·)
    * at that gap can still hold points within `epsKm` — the cell-range
    * radius of the ε-match lookup and of the dilation bitmaps. Built by
    * [[geom]]; serializable, since generated code holds it as a reference
    * object. */
  private[graft] final class MatchGeom(val epsKm: Double) extends Serializable {
    val epsHav: Double = kmToHavSq(epsKm)
    // row band: |r1-r2| beyond which the row gap alone exceeds eps
    val maxDr: Int = {
      var dr = 0
      while (dr < NRow - 1 && rowGapHav(dr + 1) <= epsHav) dr += 1
      dr
    }
    // dcMax(r1)(r2 - r1 + maxDr): widest admissible column gap per row pair
    val dcMax: Array[Array[Int]] = Array.tabulate(NRow, 2 * maxDr + 1) { (r1, k) =>
      val r2 = r1 + k - maxDr
      if (r2 < 0 || r2 >= NRow) -1
      else {
        var dc = NLon / 2
        while (dc > 0 &&
          rowGapHav(math.abs(r1 - r2)) +
            cosEdge(r1) * cosEdge(r2) * colGapHav(dc) > epsHav) dc -= 1
        dc
      }
    }
  }

  /** The ε-match radius is the per-key constant
    * [[graft.queries.Trajectory.MatchEpsKm]]: its tables are built once per
    * JVM. Any other radius (a library caller's ε, a top-10 threshold)
    * builds its own tables, which the expression holding it keeps for its
    * lifetime ([[DilateCellsExpr]]), so no radius accumulates in a
    * process-wide cache. */
  private lazy val matchGeom = new MatchGeom(graft.queries.Trajectory.MatchEpsKm)
  private[graft] def geom(epsKm: Double): MatchGeom =
    if (epsKm == matchGeom.epsKm) matchGeom else new MatchGeom(epsKm)

  /** Per-thread working memory, bounded by TrackCap² = 4096 — no hot-path
    * allocation (the round-15 probe lesson in the file scaladoc). */
  private final class Scratch {
    val matches = new Array[Long](4096)
    val tails = new Array[Int](64)
    val snap = new Array[Int](64)
    val dp = new Array[Long](4096)
    // per-pair bulk copies of the small sketch arrays: ONE getter loop
    // per pair instead of thousands of megamorphic ArrayData accesses
    // inside the search loops (measured 3-10× per-pair at the ×10 probe)
    val pbufA = new Array[Long](64)
    val pbufB = new Array[Long](64)
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  private def checkAligned(pb: ArrayData, xs: ArrayData, name: String): Unit =
    if (pb.numElements() * 3 != xs.numElements())
      throw new IllegalArgumentException(
        s"$name: packed cell array (${pb.numElements()}) must align 1:1 with " +
          s"the interleaved track (${xs.numElements() / 3} points)")

  /** The ε-match set {(i, j) : d(a_i, b_j) ≤ eps}, exact, written packed
    * i·2³²+j into `out` sorted ascending; returns the count. Both packed
    * inputs are (cell << 32 | fixIdx) sorted ascending (a `tracks()`
    * column — computed once per user, never per pair). The tracks are
    * read in place, as the TrajSim kernels read them: point i of A once
    * per packed entry, each candidate of B with `Platform.getDouble`. */
  private def findMatches(pa: Array[Long], nA: Int, ta: UnsafeArrayData,
                          pb: Array[Long], nB: Int, tb: UnsafeArrayData,
                          g: MatchGeom, out: Array[Long]): Int = {
    val ao = ta.getBaseObject
    val aOff = FrechetDist.dataOffset(ta)
    val bo = tb.getBaseObject
    val bOff = FrechetDist.dataOffset(tb)
    val s = 2.0 * math.sin(g.epsKm / (2.0 * R))
    val epsC2 = s * s
    var cnt = 0
    var p = 0
    while (p < nA) {
      val packed = pa(p)
      val c = (packed >>> 32).toInt
      val i = (packed & 0xffffffffL).toInt
      val r1 = c >>> 8
      val col = c & 0xff
      val x = FrechetDist.coord(ao, aOff, i, 0)
      val y = FrechetDist.coord(ao, aOff, i, 1)
      val z = FrechetDist.coord(ao, aOff, i, 2)
      var k = 0
      while (k < 2 * g.maxDr + 1) {
        val r2 = r1 + k - g.maxDr
        if (r2 >= 0 && r2 < NRow) {
          val dcm = g.dcMax(r1)(k)
          if (dcm >= 0) {
            // circular column window [col−dcm, col+dcm] → 1 or 2 linear runs
            val width = 2 * dcm + 1
            val lo0 = ((col - dcm) % NLon + NLon) % NLon
            val nRuns = if (width >= NLon || lo0 + width <= NLon) 1 else 2
            var run = 0
            while (run < nRuns) {
              val (lo, hi) =
                if (width >= NLon) (0, NLon - 1)
                else if (nRuns == 2) {
                  if (run == 0) (lo0, NLon - 1) else (0, lo0 + width - 1 - NLon)
                } else (lo0, lo0 + width - 1)
              val loKey = ((r2.toLong << 8) + lo) << 32
              val hiKey = (((r2.toLong << 8) + hi) << 32) | 0xffffffffL
              var q = lowerBound(pb, nB, loKey)
              while (q < nB && pb(q) <= hiKey) {
                val jj = (pb(q) & 0xffffffffL).toInt
                if (FrechetDist.chordSq(x, y, z, bo, bOff, jj) <= epsC2) {
                  out(cnt) = (i.toLong << 32) | jj.toLong
                  cnt += 1
                }
                q += 1
              }
              run += 1
            }
          }
        }
        k += 1
      }
      p += 1
    }
    java.util.Arrays.sort(out, 0, cnt) // i-major, j-minor (both non-negative)
    cnt
  }

  @inline private def lowerBound(a: Array[Long], n: Int, key: Long): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  @inline private def copyLongs(src: ArrayData, buf: Array[Long]): Array[Long] = {
    val n = src.numElements()
    val out = if (n > buf.length) new Array[Long](n) else buf
    var i = 0
    while (i < n) { out(i) = src.getLong(i); i += 1 }
    out
  }

  /** Exact LCSS match count via sparse matches + patience LIS (strict
    * chain in both i and j; per-i snapshot keeps same-i matches from
    * chaining each other). ≡ [[LcssMatches.compute]] on every input. */
  def lcssSparse(pa: ArrayData, a: ArrayData, pb: ArrayData, b: ArrayData,
                 epsKm: Double): Long =
    lcssSparse(pa, a, pb, b, geom(epsKm))

  /** [[lcssSparse]] with the ε tables built by the caller, once. */
  def lcssSparse(pa: ArrayData, a: ArrayData, pb: ArrayData, b: ArrayData,
                 g: MatchGeom): Long = {
    val epsKm = g.epsKm
    checkAligned(pa, a, "lcss_sparse"); checkAligned(pb, b, "lcss_sparse")
    if (pa.numElements() == 0 || pb.numElements() == 0)
      throw new IllegalArgumentException("lcss_sparse: empty track")
    // declared size crossover (probe-measured): below ~40×40 the plain
    // matrix (3 flops/cell, branch-predictable) beats the banded search's
    // fixed overhead; both paths exact, so the gate is pure cost
    if (pa.numElements().toLong * pb.numElements() <= 1600)
      return LcssMatches.compute(a, b, epsKm)
    val sc = scratch.get()
    // scratch is sized for the TrackCap contract; oversized ad-hoc inputs
    // (spec-only) fall back to fresh arrays rather than overflowing
    val big = pa.numElements().toLong * pb.numElements() > sc.matches.length
    val ms = if (big) new Array[Long](pa.numElements() * pb.numElements()) else sc.matches
    val paB = copyLongs(pa, sc.pbufA)
    val pbB = copyLongs(pb, sc.pbufB)
    val nM = findMatches(paB, pa.numElements(), FrechetDist.unsafeTrack(a),
      pbB, pb.numElements(), FrechetDist.unsafeTrack(b), g, ms)
    val tMax = math.min(pa.numElements(), pb.numElements())
    val tails = if (tMax > sc.tails.length) new Array[Int](tMax) else sc.tails
    val snap = if (tMax > sc.snap.length) new Array[Int](tMax) else sc.snap
    var len = 0
    var k = 0
    while (k < nM) {
      val i0 = (ms(k) >>> 32).toInt
      var e = k
      while (e < nM && (ms(e) >>> 32).toInt == i0) e += 1
      // snapshot: binary searches for this i-group see only pre-group state
      System.arraycopy(tails, 0, snap, 0, len)
      val snapLen = len
      var t = k
      while (t < e) {
        val j = (ms(t) & 0xffffffffL).toInt
        val pos = lbInt(snap, snapLen, j)
        if (pos == len) { tails(len) = j; len += 1 }
        else if (j < tails(pos)) tails(pos) = j
        t += 1
      }
      k = e
    }
    len.toLong
  }

  @inline private def lbInt(a: Array[Int], n: Int, key: Int): Int = {
    var lo = 0
    var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Exact EDR via the sparse-chain gap DP (file scaladoc); falls back to
    * the full-matrix kernel when the match set is dense enough that O(P²)
    * would lose to O(n·m). ≡ [[EdrDist.compute]] on every input. */
  def edrSparse(pa: ArrayData, a: ArrayData, pb: ArrayData, b: ArrayData,
                epsKm: Double): Long =
    edrSparse(pa, a, pb, b, geom(epsKm))

  /** [[edrSparse]] with the ε tables built by the caller, once. */
  def edrSparse(pa: ArrayData, a: ArrayData, pb: ArrayData, b: ArrayData,
                g: MatchGeom): Long = {
    val epsKm = g.epsKm
    checkAligned(pa, a, "edr_sparse"); checkAligned(pb, b, "edr_sparse")
    val n = pa.numElements()
    val m = pb.numElements()
    if (n == 0 || m == 0)
      throw new IllegalArgumentException("edr_sparse: empty track")
    // same declared size crossover as lcssSparse
    if (n.toLong * m <= 1600) return EdrDist.compute(a, b, epsKm)
    val sc = scratch.get()
    val big = n.toLong * m > sc.matches.length
    val ms = if (big) new Array[Long](n * m) else sc.matches
    val paB = copyLongs(pa, sc.pbufA)
    val pbB = copyLongs(pb, sc.pbufB)
    val ua = FrechetDist.unsafeTrack(a)
    val ub = FrechetDist.unsafeTrack(b)
    val nM = findMatches(paB, n, ua, pbB, m, ub, g, ms)
    if (nM.toLong * nM > 4L * n * m) return EdrDist.compute(ua, ub, epsKm)
    // dp(t) = cheapest cost of an alignment prefix ending in match t
    var best = math.max(n, m).toLong // the no-match alignment
    val dp = if (nM > sc.dp.length) new Array[Long](nM) else sc.dp
    var t = 0
    while (t < nM) {
      val it = (ms(t) >>> 32).toInt
      val jt = (ms(t) & 0xffffffffL).toInt
      var c = math.max(it, jt).toLong // head gap
      var s = 0
      while (s < t) {
        val is = (ms(s) >>> 32).toInt
        val js = (ms(s) & 0xffffffffL).toInt
        if (is < it && js < jt) {
          val v = dp(s) + math.max(it - is - 1, jt - js - 1).toLong
          if (v < c) c = v
        }
        s += 1
      }
      dp(t) = c
      val tail = math.max(n - 1 - it, m - 1 - jt).toLong
      if (c + tail < best) best = c + tail
      t += 1
    }
    best
  }

  /** Shared-cell count of two DISTINCT SORTED cell arrays by one merge
    * pass — the SQL `cell_overlap`. The pruned keys SEED their threshold
    * with the equal [[cellHits]]: any ≥10-pair subset gives a valid
    * (≥ d₁₀) threshold, so the proxy only affects how TIGHT the prune is,
    * never correctness. */
  def cellOverlap(ca: ArrayData, cb: ArrayData): Int = {
    val nA = ca.numElements()
    val nB = cb.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < nA && j < nB) {
      val a = ca.getInt(i)
      val b = cb.getInt(j)
      if (a == b) { cnt += 1; i += 1; j += 1 }
      else if (a < b) i += 1
      else j += 1
    }
    cnt
  }

  /** Bit of cell `c` in the NRow × NLon bitmaps ([[DilWords]] words):
    * row·NLon + col, dense row-major. */
  @inline private def cellBit(c: Int): Int = (c >>> 8) * NLon + (c & 0xff)

  /** [[cellBit]] of a cell the cover test reads, rejecting a negative id
    * or one past the lattice ([[cellsCovered]], and Hausdorff's driver
    * main pass in [[graft.queries.Trajectory]]). */
  @inline private[graft] def coverBit(cell: Int): Int = {
    val bit = cellBit(cell)
    if (cell < 0 || bit >= NRow * NLon)
      throw new IllegalArgumentException(s"cell_cover: $cell is no cell id")
    bit
  }

  /** The cell bitmap of a cell array: bit [[cellBit]] set per cell. */
  def cellBitmap(cells: ArrayData): Array[Long] = {
    val out = new Array[Long](DilWords)
    val n = cells.numElements()
    var i = 0
    while (i < n) {
      val bit = cellBit(cells.getInt(i))
      out(bit >>> 6) |= 1L << (bit & 63)
      i += 1
    }
    out
  }

  /** Shared-cell count of A's DISTINCT cell array against B's cell
    * bitmap ([[cellBitmap]]): one bit lookup per cell of A, equal to
    * [[cellOverlap]] of A and B's cells. The seed's proxy: B's bitmap is
    * built once per user on the broadcast side, so a pair pays no merge
    * (almost every pair shares no cell, and a sorted merge branches on
    * every step to find that out). */
  def cellHits(ca: ArrayData, bitsB: ArrayData): Int = {
    val n = ca.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      val bit = cellBit(ca.getInt(i))
      if ((bitsB.getLong(bit >>> 6) & (1L << (bit & 63))) != 0L) cnt += 1
      i += 1
    }
    cnt
  }

  /** Cell id for (lat, lon) — the tracks() fc formula, shared so no
    * second derivation of the encoding can drift. Domain edges are
    * CLOSED: lat = 90 would floor to row 72 (off the 72-entry
    * rowGapHav/cosEdge tables and the 162-word dilation bitmap) and
    * lon = 180 to col 144 — row clamps to NRow-1 and col wraps mod NLon
    * (the antimeridian IS cell 0), so every real-world coordinate maps
    * to a valid cell. The tracks() fc SQL derivation applies the same
    * clamp/wrap. */
  def cellId(lat: Double, lon: Double): Int = {
    val row = math.min(NRow - 1,
      math.max(0, math.floor((lat + 90.0) / CellDeg).toInt))
    val col0 = math.floor((lon + 180.0) / CellDeg).toInt % NLon
    val col = if (col0 < 0) col0 + NLon else col0
    (row << 8) | col
  }

  /** Bitmap word count for the dilation bitmaps: NRow × NLon cells packed
    * by word = (row·NLon + col) ÷ 64 — DENSE row-major (not the shifted
    * cell-id space, which would waste 44% of the bits). */
  private[graft] val DilWords = NRow * NLon / 64 // 162

  /** The ε-DILATION BITMAP of a cell set: bit (row·NLon + col) is set iff
    * some input cell's ε-range (the findMatches dcMax tables — the same
    * superset geometry) covers (row, col). Computed ONCE PER USER as a
    * tracks() column (the round-15 probe lesson, round 2: the per-pair
    * band-search near-test measured 10 µs/pair — precomputing the
    * dilation turns the pair-time bound into one bit test per fix). */
  def dilatedBitmap(cells: ArrayData, epsKm: Double): Array[Long] =
    dilatedBitmap(cells, geom(epsKm))

  /** [[dilatedBitmap]] with the ε tables built by the caller, once. Each
    * cell's window in each row of its band is one circular column run,
    * set a 64-bit word at a time ([[setWindow]]). At Hausdorff's sf0.1
    * threshold (2,861 km) a cell's band is 23 rows of windows up to 145
    * columns wide: set bit by bit, the 3,000 dilations of its two sides
    * took 0.53–0.72 s on one thread, run by run 0.033–0.058 s. */
  def dilatedBitmap(cells: ArrayData, g: MatchGeom): Array[Long] = {
    val out = new Array[Long](DilWords)
    val n = cells.numElements()
    var i = 0
    while (i < n) {
      val c = cells.getInt(i)
      val r1 = c >>> 8
      val col = c & 0xff
      val widths = g.dcMax(r1) // -1 for rows past the lattice's edge
      var k = 0
      while (k < widths.length) {
        val dcm = widths(k)
        if (dcm >= 0) setWindow(out, (r1 + k - g.maxDr) * NLon, col - dcm, col + dcm)
        k += 1
      }
      i += 1
    }
    out
  }

  /** Sets the circular column window [lo, hi] of the row whose first bit
    * is `row`: the whole row, or one run, or two when it wraps past
    * column 0 or NLon − 1. */
  @inline private def setWindow(out: Array[Long], row: Int, lo: Int, hi: Int): Unit =
    if (hi - lo + 1 >= NLon) setRun(out, row, row + NLon - 1)
    else if (lo < 0) { setRun(out, row, row + hi); setRun(out, row + lo + NLon, row + NLon - 1) }
    else if (hi >= NLon) { setRun(out, row, row + hi - NLon); setRun(out, row + lo, row + NLon - 1) }
    else setRun(out, row + lo, row + hi)

  /** Sets bits `from` to `to` (inclusive) of `out`. */
  @inline private def setRun(out: Array[Long], from: Int, to: Int): Unit = {
    val w0 = from >>> 6
    val w1 = to >>> 6
    val head = -1L << (from & 63)
    val tail = -1L >>> (63 - (to & 63))
    if (w0 == w1) out(w0) |= head & tail
    else {
      out(w0) |= head
      var w = w0 + 1
      while (w < w1) { out(w) = -1L; w += 1 }
      out(w1) |= tail
    }
  }

  /** Whether every cell of a cell array is set in a dilation bitmap
    * ([[dilatedBitmap]]): `cellHits(cells, dil) == cells.numElements()`,
    * read in place (both arrays normalized once by [[unsafeInts]] and
    * [[unsafeLongs]], then `Platform` reads), exiting at the first cell
    * that is not set. Hausdorff's cover test: with `dil` the other
    * track's cells dilated at radius r, a track whose every fix lies
    * within r of the other track passes, since the cell bound never
    * exceeds the distance of two points. */
  def cellsCovered(cells: ArrayData, dil: ArrayData): Boolean = {
    val c = unsafeInts(cells)
    val g = unsafeLongs(dil)
    if (g.numElements() < DilWords)
      throw new IllegalArgumentException(
        s"cell_cover: dilation bitmap has ${g.numElements()} words, not $DilWords")
    val co = c.getBaseObject
    val cOff = FrechetDist.dataOffset(c)
    val go = g.getBaseObject
    val gOff = FrechetDist.dataOffset(g)
    val n = c.numElements()
    var i = 0
    while (i < n) {
      val bit = coverBit(Platform.getInt(co, cOff + 4L * i))
      if ((Platform.getLong(go, gOff + 8L * (bit >>> 6)) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  /** `a` as an `UnsafeArrayData` of ints: itself, as read out of an
    * `UnsafeRow`, or else one copy. */
  private[functions] def unsafeInts(a: ArrayData): UnsafeArrayData = a match {
    case u: UnsafeArrayData => u
    case other => UnsafeArrayData.fromPrimitiveArray(other.toIntArray())
  }

  /** `a` as an `UnsafeArrayData` of longs: itself, or else one copy. */
  private[functions] def unsafeLongs(a: ArrayData): UnsafeArrayData = a match {
    case u: UnsafeArrayData => u
    case other => UnsafeArrayData.fromPrimitiveArray(other.toLongArray())
  }

  /** Per-side counts of fixes with ANY possible ε-match on the other
    * side, packed nearA·2³² + nearB — the shared bound kernel of the
    * LCSS/EDR prune tiers:
    *  - LCSS matches are 1-1, so n_match ≤ min(nearA, nearB) (a matched
    *    fix is by definition within ε of a counterpart, hence inside the
    *    other side's dilation bitmap — the findMatches superset
    *    argument);
    *  - an EDR alignment must edit every fix that can never match, so
    *    n_edits ≥ max(|nA−nB|, nA−nearA, nB−nearB).
    * Both bounds are EXACT (never wrong-side), so threshold pruning on
    * them preserves the true top-10 — same proof shape as the endpoint
    * bound. Cost: ONE bitmap word test per fix. */
  def nearCounts(pa: ArrayData, dilB: ArrayData, pb: ArrayData, dilA: ArrayData): Long =
    (nearCount(pa, dilB).toLong << 32) | nearCount(pb, dilA).toLong

  /** min(nearA, nearB) — the LCSS match upper bound as ONE call (join
    * conditions get no common-subexpression elimination, so the packed
    * form would run the kernel twice per pair). */
  def lcssUb(pa: ArrayData, dilB: ArrayData, pb: ArrayData, dilA: ArrayData): Int =
    math.min(nearCount(pa, dilB), nearCount(pb, dilA))

  private def nearCount(p: ArrayData, dil: ArrayData): Int = {
    val np = p.numElements()
    var cnt = 0
    var i = 0
    while (i < np) {
      val bit = cellBit((p.getLong(i) >>> 32).toInt)
      if ((dil.getLong(bit >>> 6) & (1L << (bit & 63))) != 0L) cnt += 1
      i += 1
    }
    cnt
  }
}

/** lcss_sparse(pbA, trackA, pbB, trackB) with the per-key eps passed by the
  * caller via [[TrajSketchFns]] (the eps is a key-level constant, so it
  * rides as a constructor argument instead of a fifth child, and its
  * tables are built once per expression instance). */
case class LcssSparseExpr(first: Expression, second: Expression,
                          third: Expression, fourth: Expression, epsKm: Double)
  extends QuaternaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(DoubleType),
    ArrayType(LongType), ArrayType(DoubleType))

  override def dataType: DataType = LongType

  @transient private lazy val geom = TrajSketch.geom(epsKm)

  override def nullSafeEval(fa: Any, a: Any, fb: Any, b: Any): Any =
    TrajSketch.lcssSparse(fa.asInstanceOf[ArrayData], a.asInstanceOf[ArrayData],
      fb.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], geom)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = TrajSketchFns.geomRef(ctx, geom)
    nullSafeCodeGen(ctx, ev, (fa, a, fb, b) =>
      s"${ev.value} = graft.functions.TrajSketch.lcssSparse($fa, $a, $fb, $b, $g);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)

  override def prettyName: String = "lcss_sparse"
}

case class EdrSparseExpr(first: Expression, second: Expression,
                         third: Expression, fourth: Expression, epsKm: Double)
  extends QuaternaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(DoubleType),
    ArrayType(LongType), ArrayType(DoubleType))

  override def dataType: DataType = LongType

  @transient private lazy val geom = TrajSketch.geom(epsKm)

  override def nullSafeEval(fa: Any, a: Any, fb: Any, b: Any): Any =
    TrajSketch.edrSparse(fa.asInstanceOf[ArrayData], a.asInstanceOf[ArrayData],
      fb.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], geom)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = TrajSketchFns.geomRef(ctx, geom)
    nullSafeCodeGen(ctx, ev, (fa, a, fb, b) =>
      s"${ev.value} = graft.functions.TrajSketch.edrSparse($fa, $a, $fb, $b, $g);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)

  override def prettyName: String = "edr_sparse"
}

case class NearCountsExpr(first: Expression, second: Expression,
                          third: Expression, fourth: Expression)
  extends QuaternaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType),
    ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  override def nullSafeEval(pa: Any, db: Any, pb: Any, da: Any): Any =
    TrajSketch.nearCounts(pa.asInstanceOf[ArrayData], db.asInstanceOf[ArrayData],
      pb.asInstanceOf[ArrayData], da.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (pa, db, pb, da) =>
      s"${ev.value} = graft.functions.TrajSketch.nearCounts($pa, $db, $pb, $da);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)

  override def prettyName: String = "traj_near_counts"
}

case class LcssUbExpr(first: Expression, second: Expression,
                      third: Expression, fourth: Expression)
  extends QuaternaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType),
    ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(pa: Any, db: Any, pb: Any, da: Any): Any =
    TrajSketch.lcssUb(pa.asInstanceOf[ArrayData], db.asInstanceOf[ArrayData],
      pb.asInstanceOf[ArrayData], da.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (pa, db, pb, da) =>
      s"${ev.value} = graft.functions.TrajSketch.lcssUb($pa, $db, $pb, $da);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
  override def prettyName: String = "lcss_ub"
}

/** dilate_cells(cells) → the ε-dilation bitmap (array of DilWords longs),
  * computed once per user: in tracks() at the match radius, so the
  * pair-time near test is a single bit lookup, and at Hausdorff's
  * threshold for its cover test. The radius's tables are built once per
  * expression instance, not once per user. */
case class DilateCellsExpr(child: Expression, epsKm: Double)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(IntegerType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val geom = TrajSketch.geom(epsKm)

  override def nullSafeEval(ca: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(TrajSketch.dilatedBitmap(ca.asInstanceOf[ArrayData], geom))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = TrajSketchFns.geomRef(ctx, geom)
    nullSafeCodeGen(ctx, ev, ca =>
      s"${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.functions.TrajSketch.dilatedBitmap($ca, $g));")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "dilate_cells"
}

case class CellOverlapExpr(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(IntegerType))

  override def dataType: DataType = IntegerType

  override def nullSafeEval(fa: Any, fb: Any): Any =
    TrajSketch.cellOverlap(fa.asInstanceOf[ArrayData], fb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (fa, fb) =>
      s"${ev.value} = graft.functions.TrajSketch.cellOverlap($fa, $fb);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "cell_overlap"
}

/** cell_hits(cellsA, bitsB): [[TrajSketch.cellHits]], the seed proxy of
  * the Hausdorff and EDR keys. */
case class CellHitsExpr(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def nullSafeEval(ca: Any, bb: Any): Any =
    TrajSketch.cellHits(ca.asInstanceOf[ArrayData], bb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ca, bb) =>
      s"${ev.value} = graft.functions.TrajSketch.cellHits($ca, $bb);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "cell_hits"
}

/** cell_cover(cells, dil): [[TrajSketch.cellsCovered]], every cell of
  * `cells` set in the dilation bitmap `dil` — Hausdorff's cover test. */
case class CellCoverExpr(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(LongType))

  override def dataType: DataType = BooleanType

  override def nullSafeEval(ca: Any, dil: Any): Any =
    TrajSketch.cellsCovered(ca.asInstanceOf[ArrayData], dil.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ca, dil) =>
      s"${ev.value} = graft.functions.TrajSketch.cellsCovered($ca, $dil);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "cell_cover"
}

/** cell_bits(cells) → the cell bitmap (array of DilWords longs) that
  * [[CellHitsExpr]] looks up. */
case class CellBitsExpr(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(IntegerType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(ca: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      TrajSketch.cellBitmap(ca.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, ca =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TrajSketch.cellBitmap($ca));")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "cell_bits"
}

object TrajSketchFns {
  def lcssSparse(pa: Column, a: Column, pb: Column, b: Column, epsKm: Double): Column =
    column(LcssSparseExpr(expression(pa), expression(a), expression(pb), expression(b), epsKm))

  def edrSparse(pa: Column, a: Column, pb: Column, b: Column, epsKm: Double): Column =
    column(EdrSparseExpr(expression(pa), expression(a), expression(pb), expression(b), epsKm))

  def cellHits(ca: Column, bitsB: Column): Column =
    column(CellHitsExpr(expression(ca), expression(bitsB)))

  def cellBits(cells: Column): Column =
    column(CellBitsExpr(expression(cells)))

  def cellCover(cells: Column, dil: Column): Column =
    column(CellCoverExpr(expression(cells), expression(dil)))

  def nearCounts(pa: Column, dilB: Column, pb: Column, dilA: Column): Column =
    column(NearCountsExpr(expression(pa), expression(dilB), expression(pb), expression(dilA)))

  def dilateCells(cells: Column, epsKm: Double): Column =
    column(DilateCellsExpr(expression(cells), epsKm))

  def lcssUb(pa: Column, dilB: Column, pb: Column, dilA: Column): Column =
    column(LcssUbExpr(expression(pa), expression(dilB), expression(pb), expression(dilA)))

  /** `g` as a reference object of generated code: the expression's tables
    * travel with its plan instead of being rebuilt per row. */
  private[functions] def geomRef(ctx: CodegenContext, g: TrajSketch.MatchGeom): String =
    ctx.addReferenceObj("matchGeom", g, classOf[TrajSketch.MatchGeom].getName)
}
