package graft

import org.apache.spark.sql.functions._
import graft.functions.{FrechetDist, HaversineDist, LcssMatches}
import org.apache.spark.sql.catalyst.util.ArrayData

/** SURVEY §2.10 — track-level trajectory similarity (m_traj_frechet,
  * m_traj_lcss): kernel axioms + equality vs an independent recursive-memo
  * reference computed in PLAIN HAVERSINE km (proving the kernels' chord²
  * monotone-transform rewrite exact up to libm ulps), planted-corridor
  * geometry, and key-level equality against an exact all-pairs driver
  * recomputation at fixture scale. */
class TrajectorySpec extends BaseSpec {
  import spark.implicits._

  private def arr(xs: Array[Double]): ArrayData = ArrayData.toArrayData(xs)

  /** Interleaved lat/lon track. */
  private def trk(pts: (Double, Double)*): Array[Double] =
    pts.flatMap(p => Seq(p._1, p._2)).toArray

  /** lat/lon interleaved → unit-vector interleaved (the kernels' input
    * layout; same Math.cos/sin the codegen'd SQL transform compiles to). */
  private def xyz(ll: Array[Double]): Array[Double] =
    ll.grouped(2).flatMap { case Array(lat, lon) =>
      val (la, lo) = (math.toRadians(lat), math.toRadians(lon))
      Seq(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))
    }.toArray

  /** Independent reference: textbook recursive-memo discrete Fréchet
    * (Eiter & Mannila 1994) DIRECTLY in haversine km — different recursion
    * shape AND different distance path than the rolling-row chord² kernel. */
  private def refFrechet(a: Array[Double], b: Array[Double]): Double = {
    val n = a.length / 2; val m = b.length / 2
    val memo = Array.fill(n, m)(-1.0)
    def d(i: Int, j: Int) =
      HaversineDist.km(a(2 * i), a(2 * i + 1), b(2 * j), b(2 * j + 1))
    def c(i: Int, j: Int): Double = {
      if (memo(i)(j) >= 0) return memo(i)(j)
      val v =
        if (i == 0 && j == 0) d(0, 0)
        else if (i == 0) math.max(c(0, j - 1), d(0, j))
        else if (j == 0) math.max(c(i - 1, 0), d(i, 0))
        else math.max(d(i, j),
          math.min(c(i - 1, j), math.min(c(i - 1, j - 1), c(i, j - 1))))
      memo(i)(j) = v; v
    }
    c(n - 1, m - 1)
  }

  /** Independent reference: full-matrix LCSS in haversine km. */
  private def refLcss(a: Array[Double], b: Array[Double], eps: Double): Long = {
    val n = a.length / 2; val m = b.length / 2
    val t = Array.ofDim[Long](n + 1, m + 1)
    for (i <- 1 to n; j <- 1 to m) {
      val d = HaversineDist.km(a(2 * (i - 1)), a(2 * (i - 1) + 1),
        b(2 * (j - 1)), b(2 * (j - 1) + 1))
      t(i)(j) = if (d <= eps) t(i - 1)(j - 1) + 1
                else math.max(t(i - 1)(j), t(i)(j - 1))
    }
    t(n)(m)
  }

  private def frechet(a: Array[Double], b: Array[Double]): Double =
    FrechetDist.compute(arr(xyz(a)), arr(xyz(b)))

  private def hausdorff(a: Array[Double], b: Array[Double]): Double =
    graft.functions.HausdorffKm.compute(arr(xyz(a)), arr(xyz(b)))

  /** Independent reference: brute-force symmetric Hausdorff directly in
    * haversine km (no cutoff, no chord² rewrite). */
  private def refHausdorff(a: Array[Double], b: Array[Double]): Double = {
    def directed(p: Array[Double], q: Array[Double]): Double =
      (0 until p.length / 2).map { i =>
        (0 until q.length / 2).map { j =>
          HaversineDist.km(p(2 * i), p(2 * i + 1), q(2 * j), q(2 * j + 1))
        }.min
      }.max
    math.max(directed(a, b), directed(b, a))
  }

  private def lcss(a: Array[Double], b: Array[Double], eps: Double): Long =
    LcssMatches.compute(arr(xyz(a)), arr(xyz(b)), eps)

  private def edr(a: Array[Double], b: Array[Double], eps: Double): Long =
    graft.functions.EdrDist.compute(arr(xyz(a)), arr(xyz(b)), eps)

  /** Independent reference: full-matrix EDR in haversine km (Chen et al.
    * SIGMOD 2005, Def. 5 — unit-cost edits, ε-match). */
  private def refEdr(a: Array[Double], b: Array[Double], eps: Double): Long = {
    val n = a.length / 2; val m = b.length / 2
    val t = Array.ofDim[Long](n + 1, m + 1)
    for (i <- 0 to n) t(i)(0) = i
    for (j <- 0 to m) t(0)(j) = j
    for (i <- 1 to n; j <- 1 to m) {
      val d = HaversineDist.km(a(2 * (i - 1)), a(2 * (i - 1) + 1),
        b(2 * (j - 1)), b(2 * (j - 1) + 1))
      t(i)(j) = if (d <= eps) t(i - 1)(j - 1)
                else 1 + math.min(t(i - 1)(j - 1), math.min(t(i - 1)(j), t(i)(j - 1)))
    }
    t(n)(m)
  }

  test("frechet kernel: axioms + equality with independent haversine recursive reference") {
    val rnd = new scala.util.Random(421)
    def randTrack(len: Int): Array[Double] =
      trk(Seq.fill(len)((rnd.nextDouble() * 160 - 80, rnd.nextDouble() * 340 - 170)): _*)
    for (_ <- 1 to 40) {
      val a = randTrack(1 + rnd.nextInt(12))
      val b = randTrack(1 + rnd.nextInt(12))
      val f = frechet(a, b)
      val ref = refFrechet(a, b)
      // chord²-DP + one asin vs per-cell haversine: same math, different FP
      // path — equal to libm ulps (≪ the round(4) every consumer applies)
      assert(math.abs(f - ref) < 1e-6, s"chord² DP $f != haversine reference $ref")
      assert(frechet(b, a) == f, "not symmetric")
      assert(frechet(a, a) == 0.0, "identity not 0")
      // endpoint lower bound: both leashes start and end attached
      val ep = math.max(
        HaversineDist.km(a(0), a(1), b(0), b(1)),
        HaversineDist.km(a(a.length - 2), a(a.length - 1),
          b(b.length - 2), b(b.length - 1)))
      // this endpoint bound IS m_traj_frechet's prune tier (the key drops
      // pairs whose endpoint lb exceeds a proven ≥ d₁₀ threshold) — the
      // axiom here is what makes the pruned top-10 exact
      assert(f >= ep - 1e-6, s"frechet $f below endpoint bound $ep")
      // LCSS reference equality on the same pair (integer counts — a flip
      // needs a distance within ulps of the 800 km threshold)
      assert(lcss(a, b, 800.0) == refLcss(a, b, 800.0), "lcss != reference")
      assert(lcss(a, b, 800.0) == lcss(b, a, 800.0), "lcss not symmetric")
      // EDR reference equality + axioms on the same pair
      assert(edr(a, b, 800.0) == refEdr(a, b, 800.0), "edr != reference")
      assert(edr(a, b, 800.0) == edr(b, a, 800.0), "edr not symmetric")
      assert(edr(a, a, 800.0) == 0L, "edr identity not 0")
      // length-difference lower bound, longer-length upper bound
      val (la, lb) = (a.length / 2, b.length / 2)
      assert(edr(a, b, 800.0) >= math.abs(la - lb) &&
             edr(a, b, 800.0) <= math.max(la, lb), "edr out of bounds")
      // Hausdorff: reference equality (pins both the chord² rewrite and the
      // best-so-far cutoff output-invisible), symmetry/identity, and the
      // dominance axiom — the Fréchet leash admits only forward moves, so
      // the unconstrained nearest-fix max can never exceed it
      val h = hausdorff(a, b)
      assert(math.abs(h - refHausdorff(a, b)) < 1e-6,
        s"hausdorff $h != brute-force reference ${refHausdorff(a, b)}")
      assert(hausdorff(b, a) == h, "hausdorff not symmetric")
      assert(hausdorff(a, a) == 0.0, "hausdorff identity not 0")
      assert(h <= f + 1e-6, s"hausdorff $h above frechet $f")
    }
  }

  test("EDR: one wild fix costs exactly one edit; detours penalized where LCSS forgives") {
    val base = trk((0 until 20).map(i => (0.0, i.toDouble)): _*)
    val spiked = trk((0 until 20).map(i =>
      if (i == 10) (60.0, 120.0) else (0.0, i.toDouble)): _*)
    assert(edr(base, spiked, 60.0) == 1L, "one wild fix must cost one edit")
    // detour: second track shares the corridor but inserts 10 far fixes —
    // LCSS (normalized by the SHORTER track) reads them near-identical,
    // EDR charges every detour fix. The gap-awareness that motivates
    // carrying all three DPs.
    val detour = trk(((0 until 10).map(i => (0.0, i.toDouble)) ++
      (0 until 10).map(i => (50.0, 60.0 + i)) ++
      (10 until 20).map(i => (0.0, i.toDouble))): _*)
    val lcssSim = lcss(base, detour, 60.0).toDouble / 20 // shorter = 20
    assert(lcssSim == 1.0, s"LCSS must forgive the detour (got $lcssSim)")
    assert(edr(base, detour, 60.0) == 10L,
      s"EDR must charge all 10 detour fixes (got ${edr(base, detour, 60.0)})")
  }

  test("planted corridors: parallel offset reads ~offset; reversal reads far; LCSS outlier-robust") {
    // corridor along the equator, one-degree steps; lat offset 0.5° ≈ 55.6 km
    val base = trk((0 until 20).map(i => (0.0, i.toDouble)): _*)
    val shifted = trk((0 until 20).map(i => (0.5, i.toDouble)): _*)
    val offKm = HaversineDist.km(0.0, 0.0, 0.5, 0.0)
    assert(math.abs(frechet(base, shifted) - offKm) < 0.5,
      s"parallel corridor: ${frechet(base, shifted)} vs offset $offKm")
    // reversed corridor: same cells, opposite order — Fréchet sees it, the
    // cell-Jaccard key cannot (the whole point of the track-level measure);
    // the leash must span the full corridor length (~2100 km) at the turn
    val reversed = trk((0 until 20).map(i => (0.0, (19 - i).toDouble)): _*)
    assert(frechet(base, reversed) > 10 * offKm,
      s"reversal should read far: ${frechet(base, reversed)}")
    // one wild fix: Fréchet jumps to ~the outlier distance; LCSS loses ≤ 1
    val spiked = trk((0 until 20).map(i =>
      if (i == 10) (60.0, 120.0) else (0.0, i.toDouble)): _*)
    assert(frechet(base, spiked) > 5000.0, "outlier must cap frechet from below")
    assert(lcss(base, spiked, 60.0) >= 19, "LCSS must lose at most one match")
    assert(lcss(base, base, 60.0) == 20)
    // the diagnostic pair: a REVERSED corridor is the same point set, so
    // Hausdorff reads 0 where Fréchet spans the corridor — "same route,
    // which direction?" needs both measures side by side
    assert(hausdorff(base, reversed) == 0.0,
      s"reversed corridor must be Hausdorff-0: ${hausdorff(base, reversed)}")
    assert(frechet(base, reversed) > 2000.0)
  }

  /** lat/lon interleaved → per-fix 2.5° cell ids (the tracks() fc column's
    * derivation, driver-side). */
  private def fcArr(ll: Array[Double]): Array[Int] =
    ll.grouped(2).map { case Array(lat, lon) =>
      graft.functions.TrajSketch.cellId(lat, lon)
    }.toArray

  test("sparse LCSS/EDR kernels == full-matrix DPs on random, dense, polar and corridor tracks") {
    import graft.functions.TrajSketch
    val rnd = new scala.util.Random(1517)
    def randTrack(len: Int, latRange: Double = 160, latOff: Double = -80): Array[Double] =
      trk(Seq.fill(len)((rnd.nextDouble() * latRange + latOff,
        rnd.nextDouble() * 340 - 170)): _*)
    // the tracks() sketch column, driver-side: packed (cell<<32|idx)
    // ascending
    def pbArr(fc: Array[Int]): ArrayData = ArrayData.toArrayData(
      fc.zipWithIndex.map { case (c, i) => (c.toLong << 32) | i.toLong }.sorted)
    def check(a: Array[Double], b: Array[Double], eps: Double): Unit = {
      val (fca, fcb) = (fcArr(a), fcArr(b))
      val (pa, pb) = (pbArr(fca), pbArr(fcb))
      val (xa, xb) = (arr(xyz(a)), arr(xyz(b)))
      assert(TrajSketch.lcssSparse(pa, xa, pb, xb, eps) ==
        LcssMatches.compute(xa, xb, eps), s"lcss sparse != DP (eps=$eps)")
      assert(TrajSketch.edrSparse(pa, xa, pb, xb, eps) ==
        graft.functions.EdrDist.compute(xa, xb, eps), s"edr sparse != DP (eps=$eps)")
      // capped Fréchet: exact at/above the true value, MaxValue below it
      val f = FrechetDist.compute(xa, xb)
      assert(FrechetDist.computeCapped(xa, xb, f + 1.0) == f,
        "capped kernel must be exact when dF <= cap")
      if (f > 1.0)
        assert(FrechetDist.computeCapped(xa, xb, f - 1.0) == Double.MaxValue,
          "capped kernel must poison when dF > cap")
      // capped Hausdorff (m_traj_hausdorff's join predicate): the same
      // contract — exact at/above the true value, MaxValue below it
      val h = graft.functions.HausdorffKm.compute(xa, xb)
      assert(graft.functions.HausdorffKm.computeCapped(xa, xb, h + 1.0) == h,
        "capped hausdorff must be exact when dH <= cap")
      if (h > 1.0)
        assert(graft.functions.HausdorffKm.computeCapped(xa, xb, h - 1.0) == Double.MaxValue,
          "capped hausdorff must abandon when dH > cap")
    }
    for (_ <- 1 to 60) {
      val a = randTrack(1 + rnd.nextInt(20))
      val b = randTrack(1 + rnd.nextInt(20))
      check(a, b, 500.0)
      check(a, b, 150.0)
      check(a, b, 2000.0)
    }
    // dense-match regime (identical-corridor pairs): every cell pair is an
    // ε-match, exercising the EDR O(P²)-vs-DP fallback and the LIS at
    // full density
    val base = trk((0 until 30).map(i => (0.0, i * 0.2)): _*)
    val near = trk((0 until 30).map(i => (0.05, i * 0.2 + 0.03)): _*)
    check(base, near, 500.0)
    check(base, base, 500.0)
    // polar tracks: the lon dilation radius blows up toward the poles —
    // the per-row dcMax table must stay a superset of true ε-matches
    for (_ <- 1 to 20) {
      val a = randTrack(1 + rnd.nextInt(12), latRange = 9.0, latOff = 75.0)
      val b = randTrack(1 + rnd.nextInt(12), latRange = 9.0, latOff = 75.0)
      check(a, b, 500.0)
    }
    // cross-antimeridian: circular column windows must wrap, not clip
    val west = trk((0 until 10).map(i => (10.0, 179.0 + i * 0.2 - (if (179.0 + i * 0.2 >= 180) 360 else 0))): _*)
    val east = trk((0 until 10).map(i => (10.1, -179.9 + i * 0.2)): _*)
    check(west, east, 500.0)
  }

  /** Exact all-pairs reference for the four track top-10 keys over raw
    * fixes (user_id, ts_us, event_id, lat, lon): the keys' downsample
    * redone with local stride arithmetic and unit-vector conversion,
    * every pair scored by the scalar kernels, each metric's top-10 in its
    * key's output layout (Fréchet, LCSS, EDR, Hausdorff). */
  private def referenceTop10(fixes: Seq[(Long, Long, Long, Double, Double)]) = {
    val cap = 64
    val tracks = fixes.groupBy(_._1).map { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._2, r._3))
      val stride = math.max(1, (ordered.length + cap - 1) / cap)
      val kept = ordered.zipWithIndex.collect { case (r, i) if i % stride == 0 => (r._4, r._5) }
      (u, (ordered.length.toLong, xyz(trk(kept.toIndexedSeq: _*))))
    }
    val users = tracks.keys.toSeq.sorted
    val allPairs = for {
      i <- users.indices; j <- (i + 1) until users.size
    } yield {
      val (u1, u2) = (users(i), users(j))
      val (ta, tb) = (arr(tracks(u1)._2), arr(tracks(u2)._2))
      (u1, u2, math.rint(FrechetDist.compute(ta, tb) * 10000) / 10000,
        LcssMatches.compute(ta, tb, 500.0),
        graft.functions.EdrDist.compute(ta, tb, 500.0),
        math.rint(graft.functions.HausdorffKm.compute(ta, tb) * 10000) / 10000)
    }
    def n(u: Long) = tracks(u)._1
    val wantF = allPairs.sortBy(p => (p._3, p._1, p._2)).take(10)
      .map(p => (p._1, p._2, n(p._1), n(p._2), p._3))
    val wantL = allPairs.map { p =>
      val nMin = math.min(math.min(n(p._1), n(p._2)), cap.toLong)
      (p._1, p._2, n(p._1), n(p._2), p._4, math.rint(p._4 * 10000.0 / nMin) / 10000)
    }.sortBy(p => (-p._6, p._1, p._2)).take(10)
    val wantE = allPairs.map { p =>
      val nMax = math.max(tracks(p._1)._2.length, tracks(p._2)._2.length) / 3
      (p._1, p._2, n(p._1), n(p._2), p._5, math.rint(p._5 * 10000.0 / nMax) / 10000)
    }.sortBy(p => (p._6, p._1, p._2)).take(10)
    val wantH = allPairs.sortBy(p => (p._6, p._1, p._2)).take(10)
      .map(p => (p._1, p._2, n(p._1), n(p._2), p._6))
    (wantF, wantL, wantE, wantH)
  }

  /** Runs a top-10 frame and returns its rows with the survivors its
    * threshold prune counted: an observe() metric on the EXECUTED frame
    * (each as[]/select creates its own queryExecution — read the one that
    * ran); a direct scan has none. */
  private def runPruned(df: org.apache.spark.sql.DataFrame) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.observedMetrics.get("prune").map(_.getLong(0)))
  }

  /** Whether `df`'s executed plan holds a join: the Spark main pass. */
  private def joins(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Join")

  /** `m` (Hausdorff by default) on `tr` by the default path and under
    * `Endgame.distributed`: the rows must match to the bit and the
    * `prune` survivors must be equal. Returns whether the default path's
    * main pass ran in Spark (a join in its plan) rather than on the
    * driver. */
  private def mainPassesAgree(label: String, tr: org.apache.spark.sql.DataFrame,
                              m: queries.Trajectory.PairMetric = queries.Trajectory.hausdorff): Boolean = {
    def bits(r: org.apache.spark.sql.Row) =
      r.toSeq.map { case d: Double => java.lang.Double.doubleToRawLongBits(d); case v => v }
    def run() = {
      val df = queries.Trajectory.topPairs(spark, tr, m)
      val (rows, surv) = runPruned(df)
      (rows.map(bits), surv, joins(df))
    }
    val (rows, surv, inSpark) = run()
    val (dRows, dSurv, dJoin) = graft.operators.Endgame.distributed(run())
    assert(dJoin, s"$label: the forced main pass must be the pair join")
    assert(rows == dRows, s"$label main pass:\n default=$rows\n forced=$dRows")
    assert(surv.nonEmpty && surv == dSurv, s"$label survivors: default $surv, forced $dSurv")
    inSpark
  }

  test("threshold prune drops pairs; EDR's forced prune == its direct scan at fixture scale") {
    val tr = queries.Trajectory.tracks(spark, sf)
    val nUsers = tr.count()
    val pairs = nUsers * (nUsers - 1) / 2
    // m_traj_frechet / m_traj_hausdorff / m_traj_lcss have one path, the
    // threshold prune: their exactness reference is the all-pairs test
    // below. Here the prune must run (the metric exists) and drop
    // pairs (sf0.001, 105 pairs: 10 Hausdorff, 10 Fréchet and 88 LCSS
    // survivors).
    for (k <- Seq("m_traj_hausdorff", "m_traj_lcss", "m_traj_frechet")) {
      val (rows, surv) = runPruned(SparkEntry.queries(k)(spark, sf))
      assert(rows.size == 10, s"$k top-10: $rows")
      assert(surv.exists(v => v >= 10 && v < pairs), s"$k observe survivors $surv of $pairs")
      // the bit-lookup seed (cell_hits) ranks pairs exactly as the sorted
      // merge (cell_overlap) did, so the threshold and its survivors hold
      if (k == "m_traj_hausdorff") assert(surv.contains(10L), s"$k observe survivors $surv")
    }
    // EDR's prune (the free length-difference bound) runs above 5M pairs
    // only. On this uniform fixture the bound prunes little — the
    // equality below pins that the forced prune is still exact; the skew
    // case is probed in PREFLIGHT_r16.md at commit 3998105.
    val (directE, noSurv) = runPruned(SparkEntry.queries("m_traj_edr")(spark, sf))
    assert(noSurv.isEmpty, s"m_traj_edr's direct scan observed $noSurv")
    val (prunedE, survE) = runPruned(queries.Trajectory.edrTop(spark, tr, prune = true))
    assert(prunedE == directE, s"pruned edr top-10:\n got=$prunedE\nwant=$directE")
    assert(survE.exists(v => v >= 10 && v <= pairs), s"edr observe survivors $survE of $pairs")
  }

  test("m_traj_frechet / m_traj_lcss: keys match exact all-pairs driver DP at fixture scale") {
    val fixes = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("lat", (col("event_id") * 37L % 1700L) / 10.0 - 85.0)
      .withColumn("lon", (col("event_id") * 131L % 3600L) / 10.0 - 180.0)
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select($"user_id", $"ts_us", $"event_id", $"lat", $"lon")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    val (wantF, wantL, wantE, wantH) = referenceTop10(fixes)
    val gotF = SparkEntry.queries("m_traj_frechet")(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(gotF == wantF, s"frechet top-10:\n got=$gotF\nwant=$wantF")
    val gotL = SparkEntry.queries("m_traj_lcss")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(gotL == wantL, s"lcss top-10:\n got=$gotL\nwant=$wantL")
    val gotE = SparkEntry.queries("m_traj_edr")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(gotE == wantE, s"edr top-10:\n got=$gotE\nwant=$wantE")
    val gotH = SparkEntry.queries("m_traj_hausdorff")(spark, sf)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(gotH == wantH, s"hausdorff top-10:\n got=$gotH\nwant=$wantH")
  }

  /** Planted inputs of the top-10 paths, as raw fixes: (a) four users,
    * six pairs: the seed holds every pair, thr is the largest value, and
    * every pair survives; (b) three routes cloned five times each (30
    * zero-distance pairs, LCSS 1.0) among four other users: thr is 0
    * (LCSS: 1.0), and the 20 clone pairs outside the top-10 tie with it. */
  private lazy val planted: Seq[(String, Seq[(Long, Long, Long, Double, Double)])] = {
    val rnd = new scala.util.Random(17)
    def walk(u: Long, n: Int, lat0: Double, lon0: Double) =
      (0 until n).map(i => (u, i * 60000000L, u * 1000L + i,
        lat0 + rnd.nextInt(40) / 10.0, lon0 + rnd.nextInt(40) / 10.0))
    val few = Seq(walk(1, 7, 10, 20), walk(2, 12, 11, 21), walk(3, 30, 40, -60),
      walk(4, 3, 10.5, 20.5)).flatten
    val routes = Seq(walk(0, 9, 5, 5), walk(0, 20, -30, 100), walk(0, 64, 50, -10))
    val clones = for ((r, k) <- routes.zipWithIndex; c <- 0 until 5; p <- r)
      yield p.copy(_1 = 10L + 5 * k + c, _3 = p._3 + 1000L * (10 + 5 * k + c))
    val tied = clones ++ Seq(walk(30, 9, 5.2, 5.1), walk(31, 20, -30, 100),
      walk(32, 40, 0, 0), walk(33, 5, 60, 60)).flatten
    Seq("few" -> few, "tied" -> tied)
  }

  private def fixFrame(fixes: Seq[(Long, Long, Long, Double, Double)]) =
    fixes.toDF("user_id", "ts_us", "event_id", "lat", "lon")

  test("every track top-10 path matches the all-pairs reference on fewer than 10 pairs and on tied clones") {
    // on both paths: the default one pins the tracks on the driver, so
    // every seed finishes there; the forced one keeps the checkpoint and
    // runs the whole seed in Spark
    for ((label, fixes) <- planted; distributed <- bothPaths) onPath(distributed) {
      val tr = graft.operators.Endgame.pin(
        queries.Trajectory.tracksFromPoints(spark, fixFrame(fixes)), queries.Trajectory.TrackWeight)
      val path = s"$label (distributed=$distributed)"
      val (wantF, wantL, wantE, wantH) = referenceTop10(fixes)
      val gotF = queries.Trajectory.frechetPruned(spark, tr)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(gotF == wantF, s"$path frechet:\n got=$gotF\nwant=$wantF")
      val gotH = queries.Trajectory.hausdorffPruned(spark, tr)
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(gotH == wantH, s"$path hausdorff:\n got=$gotH\nwant=$wantH")
      val gotL = queries.Trajectory.lcssPruned(spark, tr)
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
      assert(gotL == wantL, s"$path lcss:\n got=$gotL\nwant=$wantL")
      for (prune <- Seq(true, false)) {
        val gotE = queries.Trajectory.edrTop(spark, tr, prune)
          .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
        assert(gotE == wantE, s"$path edr (prune=$prune):\n got=$gotE\nwant=$wantE")
      }
      // Hausdorff's main pass runs on the driver over the pinned tracks
      if (!distributed) assert(!mainPassesAgree(path, tr), s"$path: Hausdorff's main pass ran in Spark")
    }
  }

  /** The four metrics' seeds on `tr` pinned on the driver: the driver's
    * cell-index winners equal the Spark light scan's, in order, and every
    * driver threshold equals the Spark seed's (under the forced scope) to
    * the bit. Returns the pinned tracks. */
  private def seedsAgree(label: String, tr: org.apache.spark.sql.DataFrame) = {
    import graft.operators.Endgame
    val T = queries.Trajectory
    val pinned = Endgame.pin(tr, T.TrackWeight)
    assert(Endgame.held(pinned, T.TrackWeight).nonEmpty, s"$label: tracks not pinned")
    for ((name, m) <- Seq("frechet" -> T.frechet, "hausdorff" -> T.hausdorff,
                          "lcss" -> T.lcss, "edr" -> T.edr)) {
      val sparkWinners = T.lightWinners(spark, pinned, m).as[(Long, Long)].collect().toSeq
      if (m.seed.byCells)
        assert(T.cellWinners(pinned).forall(_ == sparkWinners),
          s"$label $name winners:\n driver=${T.cellWinners(pinned)}\n spark=$sparkWinners")
      val onDriver = T.seedThreshold(spark, pinned, m)
      val inSpark = Endgame.distributed(T.seedThreshold(spark, pinned, m))
      assert(java.lang.Double.doubleToRawLongBits(onDriver) ==
        java.lang.Double.doubleToRawLongBits(inSpark), s"$label $name thr: $onDriver vs $inSpark")
    }
    // and Hausdorff's main pass finishes on the driver with the Spark
    // main pass's rows and survivors
    assert(!mainPassesAgree(label, pinned), s"$label: Hausdorff's main pass ran in Spark")
    pinned
  }

  test("the driver seed picks the Spark seed's winners and threshold") {
    val T = queries.Trajectory
    // the fixture (the memo is pinned already) and the planted ties
    val memo = seedsAgree("sf0.001", T.tracks(spark, sf))
    assert(T.cellWinners(memo).exists(_.size == 105), "sf0.001 has 105 pairs, all in the seed")
    seedsAgree("tied", T.tracksFromPoints(spark, fixFrame(planted(1)._2)))

    // fewer than 2000 pairs share a cell: 80 users of three fixes each
    // scattered over the globe (3160 pairs), so zero-hit pairs fill the
    // seed in (u1, u2) order
    val rnd = new scala.util.Random(23)
    val scattered = (1 to 80).flatMap { u =>
      val (lat, lon) = (rnd.nextInt(1600) / 10.0 - 80, rnd.nextInt(3500) / 10.0 - 175)
      (0 until 3).map(i => (u.toLong, i * 60000000L, u * 10L + i, lat + i * 0.5, lon + i * 0.5))
    }
    val sc = seedsAgree("scattered", T.tracksFromPoints(spark, fixFrame(scattered)))
    val cellSets = sc.select("user_id", "cells").as[(Long, Seq[Int])].collect()
    val sharing = cellSets.combinations(2).count { case Array(a, b) => a._2.intersect(b._2).nonEmpty }
    assert(sharing > 0 && sharing < 2000, s"$sharing pairs share a cell")
    assert(T.cellWinners(sc).exists(_.size == 2000))

    // a NULL user id: never a seed pair on either path, and the keys agree
    val withNull = scattered.map(f => (if (f._1 == 7L) None else Some(f._1), f._2, f._3, f._4, f._5))
      .toDF("user_id", "ts_us", "event_id", "lat", "lon")
    val nl = seedsAgree("null user", T.tracksFromPoints(spark, withNull))
    assert(T.cellWinners(nl).exists(_.size == 2000))
    for (key <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
           T.hausdorffPruned(spark, _), T.frechetPruned(spark, _), T.lcssPruned(spark, _),
           T.edrTop(spark, _, prune = true))) {
      val rows = key(nl).collect().toSeq
      assert(rows.size == 10 && rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      assert(rows == graft.operators.Endgame.distributed(key(nl).collect().toSeq))
    }

    // one hot cell past the gate: 1,500 users with a fix in one 2.5° cell
    // is Σ C(n_c, 2) > Budget pair work, so the Spark seed runs
    val hot = (1 to 1500).flatMap { u =>
      Seq((u.toLong, 0L, u * 10L, 10.0 + (u % 20) / 10.0, 20.0 + (u % 15) / 10.0),
        (u.toLong, 60000000L, u * 10L + 1, rnd.nextInt(1600) / 10.0 - 80,
          rnd.nextInt(3500) / 10.0 - 175))
    }
    val hp = graft.operators.Endgame.pin(T.tracksFromPoints(spark, fixFrame(hot)), T.TrackWeight)
    assert(graft.operators.Endgame.held(hp, T.TrackWeight).nonEmpty)
    assert(T.cellWinners(hp).isEmpty, "a hot cell past the budget must take the Spark seed")
    assert(jobsDuring(T.seedThreshold(spark, hp, T.hausdorff)) > 0)
  }

  test("Hausdorff's driver main pass gives the same pairs on any pool and from two threads") {
    import java.util.concurrent.{Callable, CyclicBarrier, ForkJoinPool}
    import graft.operators.Endgame
    val T = queries.Trajectory
    val rnd = new scala.util.Random(4077)
    val randomUsers = (1 to 300).flatMap { u =>
      val (lat, lon) = (rnd.nextInt(1600) / 10.0 - 80, rnd.nextInt(3500) / 10.0 - 175)
      (0 until 1 + rnd.nextInt(8)).map(i => (u.toLong, i * 60000000L, u * 10L + i,
        lat + rnd.nextInt(40) / 10.0, lon + rnd.nextInt(40) / 10.0))
    }
    def pinned(fixes: Seq[(Long, Long, Long, Double, Double)]) =
      Endgame.pin(T.tracksFromPoints(spark, fixFrame(fixes)), T.TrackWeight)
    for ((label, tr) <- Seq("sf0.001" -> Endgame.pin(T.tracks(spark, sf), T.TrackWeight),
                            "tied" -> pinned(planted(1)._2), "random" -> pinned(randomUsers))) {
      val rel = Endgame.held(tr, T.TrackWeight).getOrElse(fail(s"$label: tracks not pinned"))
      val thr = T.seedThreshold(spark, tr, T.hausdorff) + 1e-4
      for (t <- Seq(thr, thr + 1000.0, 6000.0)) {
        def pass() = T.hausdorffOnDriver(rel, t)
        val want = pass()
        assert(want.exists(_.nonEmpty), s"$label at $t km: the driver pass kept $want")
        // a parallel stream started on a pool's worker runs in that pool
        def inPool(threads: Int) = {
          val pool = new ForkJoinPool(threads)
          try pool.submit(new Callable[Option[Seq[(Long, Long)]]] { def call() = pass() }).get()
          finally pool.shutdown()
        }
        for (threads <- Seq(1, 7))
          assert(inPool(threads) == want, s"$label at $t km on a $threads-thread pool")
        val both = new Array[Option[Seq[(Long, Long)]]](2)
        val start = new CyclicBarrier(2)
        val callers = (0 until 2).map(i => new Thread(() => { start.await(); both(i) = pass() }))
        callers.foreach(_.start())
        callers.foreach(_.join())
        assert(both.forall(_ == want), s"$label at $t km from two threads at once")
      }
      assert(!mainPassesAgree(label, tr), s"$label: Hausdorff's main pass ran in Spark")
    }
  }

  test("a warm track top-10 key builds its frame with no job but the light scan") {
    val T = queries.Trajectory
    T.tracks(spark, sf) // warm memo
    def jobs(key: String) = jobsDuring(SparkEntry.queries(key)(spark, sf))
    // Hausdorff's seed finishes on the driver from the cell index; EDR
    // runs its direct scan at this size, with no seed at all
    assert(jobs("m_traj_hausdorff") == 0)
    assert(jobs("m_traj_edr") == 0)
    // Fréchet and LCSS: this fixture's 15 users make 105 pairs, fewer
    // than the seed's 2000, so every pair is a winner and the driver
    // lists them with no light scan (at sf0.1 the scan runs as a top-k)
    assert(jobs("m_traj_frechet") == 0)
    assert(jobs("m_traj_lcss") == 0)
    // Hausdorff's main pass finishes on the driver: the collect runs the
    // top-10 over the survivors in one job (the pair join ran more)
    val hausdorffJobs = jobsDuring(SparkEntry.queries("m_traj_hausdorff")(spark, sf).collect())
    assert(hausdorffJobs <= 1, s"warm m_traj_hausdorff collect ran $hausdorffJobs jobs")
  }

  test("the cell cover at r keeps every pair whose exact Hausdorff distance is at most r") {
    import graft.functions.{HausdorffKm, TrajSketch}
    val rnd = new scala.util.Random(90180)
    // fixes anywhere, on the poles, on the antimeridian and on cell edges
    def fix(): (Double, Double) = rnd.nextInt(6) match {
      case 0 => (if (rnd.nextBoolean()) 90.0 else -90.0, rnd.nextDouble() * 360 - 180)
      case 1 => (rnd.nextDouble() * 180 - 90, if (rnd.nextBoolean()) 180.0 else -180.0)
      case 2 => (rnd.nextInt(73) * 2.5 - 90, rnd.nextInt(145) * 2.5 - 180)
      case _ => (rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180)
    }
    // a track, or one near another: its fixes moved by up to `jitter` degrees
    def near(of: Array[Double], jitter: Double): Array[Double] =
      of.grouped(2).flatMap { case Array(lat, lon) =>
        Seq(math.max(-90.0, math.min(90.0, lat + (rnd.nextDouble() * 2 - 1) * jitter)),
          lon + (rnd.nextDouble() * 2 - 1) * jitter)
      }.toArray
    def cover(a: Array[Double], b: Array[Double], r: Double): Boolean = {
      def cells(t: Array[Double]) = ArrayData.toArrayData(fcArr(t).distinct.sorted)
      def dil(t: Array[Double]) = ArrayData.toArrayData(TrajSketch.dilatedBitmap(cells(t), r))
      TrajSketch.cellsCovered(cells(a), dil(b)) && TrajSketch.cellsCovered(cells(b), dil(a))
    }
    var checked = 0
    for (k <- 0 until 400) {
      val a = trk(Seq.fill(1 + rnd.nextInt(16))(fix()): _*)
      val b = if (k % 3 == 0) trk(Seq.fill(1 + rnd.nextInt(16))(fix()): _*)
              else near(a, Seq(0.01, 1.0, 5.0)(k % 3))
      val dH = HausdorffKm.compute(arr(xyz(a)), arr(xyz(b)))
      for (r <- Seq(dH, dH * 1.01 + 1.0, dH + rnd.nextDouble() * 3000) if r < math.Pi * HaversineDist.EarthRadiusKm) {
        assert(cover(a, b, r), s"dH = $dH <= r = $r but the cover drops\n a=${a.toSeq}\n b=${b.toSeq}")
        checked += 1
      }
    }
    assert(checked > 1000)
  }

  test("a threshold past half the circumference skips the cover and keeps the all-pairs top-10") {
    val T = queries.Trajectory
    // πR and beyond wrap sin²(r / 2R) around: no cover radius there
    assert(T.coverRadius(Double.MaxValue).isEmpty)
    assert(T.coverRadius(math.Pi * HaversineDist.EarthRadiusKm).isEmpty)
    assert(T.coverRadius(2861.0).contains(2861.0 + 1e-3))
    // a seed whose every exact value is NULL leaves coalesce's
    // Double.MaxValue as the threshold; the main pass must then keep
    // every pair, on the driver seed and the Spark seed alike
    val nullSeed = T.hausdorff.copy(exact = lit(null).cast("double"))
    val fixes = planted(1)._2
    val wantH = referenceTop10(fixes)._4
    for (distributed <- bothPaths) onPath(distributed) {
      val tr = graft.operators.Endgame.pin(T.tracksFromPoints(spark, fixFrame(fixes)), T.TrackWeight)
      assert(T.seedThreshold(spark, tr, nullSeed) == Double.MaxValue)
      val (rows, surv) = runPruned(T.topPairs(spark, tr, nullSeed))
      val n = fixes.map(_._1).distinct.size.toLong
      assert(surv.contains(n * (n - 1) / 2), s"distributed=$distributed: survivors $surv")
      val gotH = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      assert(gotH == wantH, s"distributed=$distributed hausdorff:\n got=$gotH\nwant=$wantH")
      // with no cover radius the driver main pass declines: the default
      // path runs the same pair join as the forced one
      if (!distributed) assert(mainPassesAgree("nullSeed", tr, nullSeed))
    }
  }

  /** Pinned tracks of one fix per user, user u at `at(u)`. */
  private def oneFixTracks(users: Seq[Long], at: Long => (Double, Double)) = {
    val fixes = users.map { u => val (lat, lon) = at(u); (u, 0L, u, lat, lon) }
    graft.operators.Endgame.pin(queries.Trajectory.tracksFromPoints(spark, fixFrame(fixes)),
      queries.Trajectory.TrackWeight)
  }

  /** Hausdorff's top-10 on `tr`: whether its main pass ran in Spark, and
    * the jobs its collect ran. */
  private def hausdorffPass(tr: org.apache.spark.sql.DataFrame): (Boolean, Int) = {
    val df = queries.Trajectory.hausdorffPruned(spark, tr)
    val jobs = jobsDuring(df.collect())
    (joins(df), jobs)
  }

  test("past the matrix gate Hausdorff's main pass runs in Spark") {
    // (NRow·NLon + n)·⌈n/64⌉ words of holds and covers: 4,480 users fit
    // the budget (1,039,360 words), 4,481 do not (1,054,279)
    val scatter = (u: Long) => ((u * 37 % 1600) / 10.0 - 80, (u * 131 % 3500) / 10.0 - 175)
    val (below, belowJobs) = hausdorffPass(oneFixTracks(1L to 4480L, scatter))
    assert(!below && belowJobs <= 1, s"4,480 users: in Spark $below, $belowJobs jobs")
    val (above, aboveJobs) = hausdorffPass(oneFixTracks(1L to 4481L, scatter))
    assert(above && aboveJobs > 1, s"4,481 users: in Spark $above, $aboveJobs jobs")
  }

  test("past the candidate gate Hausdorff's main pass runs in Spark") {
    // every user in one 2.5° cell: every pair is a candidate, and
    // C(1448, 2) = 1,047,628 fits the budget while C(1449, 2) = 1,049,076
    // does not; the matrix (271,791 words at 1,449 users) fits both
    val oneCell = (u: Long) => (10.0 + (u % 40) * 0.05, 20.0 + (u / 40) * 0.05)
    val (below, belowJobs) = hausdorffPass(oneFixTracks(1L to 1448L, oneCell))
    assert(!below && belowJobs <= 1, s"1,448 users: in Spark $below, $belowJobs jobs")
    val (above, aboveJobs) = hausdorffPass(oneFixTracks(1L to 1449L, oneCell))
    assert(above && aboveJobs > 1, s"1,449 users: in Spark $above, $aboveJobs jobs")
  }
}
