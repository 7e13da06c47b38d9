package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TrajSim, TrajSketchFns}
import Q._

/** SURVEY §2.10 extension — TRACK-LEVEL trajectory similarity (round 14):
  * point-wise comparisons of two users' time-ordered polylines, the REPOSE
  * (ICDE 2021)-shaped core capability that the visited-cell Jaccard key
  * (`q_traj_sim`) only approximates. Cell Jaccard is order-blind: two users
  * visiting the same cells in opposite order read identical; discrete
  * Fréchet/LCSS over the actual tracks tell them apart.
  *
  * Scale design, in pipeline order:
  *  1. **Per-user downsample to a fixed point cap** (TrackCap points, every
  *     stride-th fix by time rank): ONE window pass partitioned by user —
  *     the partitioning trajectories already have — so per-pair DP cost is
  *     capped at TrackCap² cells REGARDLESS of data volume; more data per
  *     user only widens the stride. Each kept fix converts once to a unit
  *     3-vector (codegen `transform`), making the DP inner cell pure
  *     arithmetic ([[graft.functions.FrechetDist]] scaladoc).
  *  2. **EXACT threshold prune, one path** ([[topPairs]]; round 15
  *     replaced the r14-documented MinHash-LSH plan, which the fixture
  *     itself REFUTES: the measured visited-cell Jaccard of true top-10
  *     pairs is indistinguishable from random pairs, one sf0.01 top-10
  *     Fréchet pair shares ZERO cells — see [[graft.functions.TrajSketch]]).
  *     A cheap seed sets a threshold no better than the 10th-best exact
  *     value, and the one broadcast pair join keeps only the pairs whose
  *     bound can reach it; survivors pay the exact kernel in the same
  *     stage. Per metric:
  *     - Fréchet: the endpoint-chord lower bound, then the capped DP
  *       ([[frechetPruned]]).
  *     - Hausdorff: the capped exact kernel ([[hausdorffPruned]]; sf0.1,
  *       4-core host: 974 of 1,124,250 pairs survive, key task CPU
  *       9.3 s → 3.4 s).
  *     - LCSS: the exact match upper bound ub = min(nearA, nearB)
  *       ([[lcssPruned]]) over the exact SPARSE-MATCH kernel
  *       (Hunt-Szymanski LIS over the ε-match set found by 2.5°-cell
  *       range lookup, ≡ the full cap² DP on every input).
  *     - EDR: the sparse gap DP (≡ the full DP) behind the free
  *       length-difference bound, above 5M pairs only ([[edrTop]]): on
  *       uniform tracks no EDR bound prunes, and the direct scan — the
  *       same main pass with no bound — is 20–30% faster there.
  *     Output provably identical to the all-pairs scan (the proof is
  *     [[topPairs]]' scaladoc). Tracks and sketches ride the one pair
  *     join — the ×10 probe measured re-attach joins and per-pair copies
  *     as the real wall, not the kernel cells. The near-duplicate/
  *     corridor-fleet query form — where MinHash-LSH IS sound (J ≥ ~0.5)
  *     — lives in [[graft.operators.TrajLsh]], a library surface covered
  *     by TrajLshSpec.
  *
  * No SQL oracle (a 2-D DP has no tractable SQL form — the m_time_dtw
  * precedent); TrajectorySpec pins kernel equality with an independent
  * recursive-memo reference in plain haversine km (proving the chord²
  * monotone-transform rewrite exact), sparse-kernel ≡ full-DP equality
  * on random and adversarial tracks, the Eiter-Mannila axioms (identity,
  * symmetry, endpoint lower bound), planted parallel/reversed corridors,
  * LCSS one-wild-fix robustness, EDR forced-prune ≡ direct-scan
  * equality, capped-kernel exactness, and key-level top-10 equality vs an
  * exact all-pairs scalar DP at fixture scale and on planted ties. */
object Trajectory extends QueryGroup {

  /** Downsample cap: per-pair exact DP ≤ 64² = 4096 cells. (graft-wide
    * visibility: the TrajLsh corridor joins normalize LCSS with the SAME
    * constant as the contract key.) */
  private[graft] val TrackCap = 64

  /** LCSS match radius, sized to the fixture's 10°-lattice jumps (a cell
    * diagonal at mid-latitude ≈ 1300 km — 500 km says "same fix", not
    * "same cell"). */
  private[graft] val MatchEpsKm = 500.0

  /** Declared refusal gate for the EXACT all-pairs top-k family (round
    * 17, sized from the r16 ×100 probes): the scalar-bound pair scans
    * measured 604–693 s at 11.25×10⁹ pairs on local[32] — ≈1.9 µs·core
    * per pair end-to-end, LINEAR in pairs (the scan is embarrassingly
    * parallel, it scales OUT with cores). This budget admits ≈20 min of
    * scan per core at that measured rate; [[exactPairsGate]] multiplies
    * by the session's parallelism, so a 1000-core cluster admits
    * proportionally more pairs — but U² growth means ×1000 users always
    * crosses ANY constant, and past the gate the keys REFUSE with the
    * corridor escape named instead of silently burning cluster-hours on
    * a query whose exact form has no sub-quadratic algorithm. */
  private[graft] val ExactPairsPerCore = 650_000_000L

  /** Gate check for the four exact top-k keys. Throws (with the corridor
    * form named) when the U² pair count exceeds the declared per-core
    * budget × available parallelism; returns the pair count otherwise. */
  private[graft] def exactPairsGate(parallelism: Int, key: String,
                                    nUsers: Long): Long = {
    val pairs = nUsers * (nUsers - 1) / 2
    val gate = ExactPairsPerCore * parallelism
    require(pairs <= gate,
      s"$key: $nUsers users = $pairs exact pairs, past the declared gate " +
        s"$gate ($ExactPairsPerCore pairs/core x $parallelism cores; r16 " +
        "x100 probe: 11.25e9 pairs = 604-693 s on local[32], linear in " +
        "pairs). Exact all-pairs top-k is U-squared - no constant fixes " +
        "x1000 users. Use the corridor/threshold form instead: " +
        "TrajLsh.frechetThresholdPairs / hausdorffThresholdPairs / " +
        "lcssThresholdPairs / edrThresholdPairs (or candidatePairs for " +
        "order-blind cell-set similarity).")
    pairs
  }

  /** The memoized tracks and their pair count, once [[exactPairsGate]]
    * admits it (one count job on the memoized frame). */
  private def gatedTracks(s: SparkSession, dir: String, key: String): (DataFrame, Long) = {
    val tr = tracks(s, dir)
    (tr, exactPairsGate(s.sparkContext.defaultParallelism, key, tr.count()))
  }

  /** Great-circle km between the two sides' `end` ("h" head or "t" tail)
    * endpoints, read from the SCALAR endpoint columns (`hxa` … `tzb`) —
    * the same chord → 2R·asin(√c²/2) identity as the DP kernels, pure
    * arithmetic wherever the optimizer moves it. */
  private def endChordKm(end: String): Column = {
    def d(axis: String) = col(s"$end${axis}a") - col(s"$end${axis}b")
    val c2 = d("x") * d("x") + d("y") * d("y") + d("z") * d("z")
    lit(2.0 * graft.functions.HaversineDist.EarthRadiusKm) *
      asin(least(sqrt(c2) / lit(2.0), lit(1.0)))
  }

  /** The one threshold-prune path of the exact top-10 track keys: the
    * REPOSE (ICDE 2021) seed-threshold-then-prune design, written once.
    * A metric supplies only its columns. `extra` names the main pass's
    * per-side columns beyond `n_a`/`ta` (n_fixes and track), suffixed
    * with the side "a" or "b". `seed` and `proxy` are the light seed
    * scan's side columns and its ranking, smallest first. `exact` is the
    * unrounded value over the main-pass columns, and `bound` the pair
    * predicate at a margined threshold. `out` lists the output columns
    * after (u1, u2, n_a, n_b); its last one ranks the result, ascending
    * for distances and descending for similarities.
    *
    * Why the output equals the all-pairs scan's (written for ascending;
    * descending mirrors it with min for max and the margin's sign
    * flipped):
    *  - SEED: one light pair scan keeps the 2000 pairs of smallest
    *    `proxy`, and `thr` is the 10th-smallest EXACT value among them. Any
    *    ≥10-pair subset's 10th-smallest is ≥ the global d₁₀, so the
    *    proxy decides how tight thr is, never whether it is valid. 2000
    *    kernel calls are noise next to one pair scan and bring thr near
    *    d₁₀ (the r15 probe measured 50-pair seeds leaving 30–100× more
    *    survivors). With fewer than 10 pairs the seed holds them all and
    *    thr is their maximum; with none, `coalesce` leaves it unbounded.
    *  - MAIN: one broadcast pair join whose condition is `u1 < u2` FIRST
    *    and then `bound(thr + 1e-4)`, which must hold for every pair
    *    whose exact value is ≤ thr + 1e-4. Ten seed pairs lie within
    *    thr, so the 10th-smallest ROUNDED value R₁₀ is ≤ round(thr, 4). A
    *    pair of the output has round(d, 4) ≤ R₁₀, so d ≤ thr + 1e-4 and
    *    it survives. A dropped pair has d > thr + 1e-4, so
    *    round(d, 4) > R₁₀ and it sorts strictly after every output row;
    *    ties at the threshold all survive.
    *  - Only survivors pay the exact kernel and `round(…, 4)`: Spark's
    *    Round goes through BigDecimal, and rounding every abandoned pair's
    *    MaxValue cost more than the kernel saved. Survivors are counted
    *    by `observe("prune")` on the executed frame, not by a second scan.
    *  - The bound rides the join condition after `u1 < u2`: a
    *    withColumn + filter form gets pushed into the condition ahead of
    *    it and doubles the bound's evaluations.
    *  - The streamed side is repartitioned ROUND-ROBIN. The track frame is
    *    tiny in bytes (U rows × ~1.5 KB), so AQE's small-shuffle
    *    coalescing folds it to one partition and the U²·cap² kernel work
    *    behind the join runs on one core (24 s → 3 s at sf0.1 from this
    *    line alone). A user-specified repartition is exempt from
    *    coalescing; a hash repartition on u1 would be removed as redundant
    *    with the tracks' window exchange and then coalesced anyway.
    * With `prune = false` the same main pass runs with no seed, no bound
    * and no observe: the direct all-pairs scan. */
  private def topPairs(s: SparkSession, tr: DataFrame, extra: String => Seq[Column],
                       seed: String => Seq[Column], proxy: Column, exact: Column,
                       bound: Double => Column, out: Seq[(String, Column)],
                       ascending: Boolean, prune: Boolean = true): DataFrame = {
    def side(ab: String, cols: String => Seq[Column]) =
      tr.select((col("user_id").as(if (ab == "a") "u1" else "u2") +: cols(ab)): _*)
    def pairs(cols: String => Seq[Column], cond: Option[Column]) =
      side("a", cols).repartition(s.sparkContext.defaultParallelism)
        .join(broadcast(side("b", cols)), cond.foldLeft(col("u1") < col("u2"))(_ && _))
    def main(ab: String) =
      col("n_fixes").as(s"n_$ab") +: col("track").as(s"t$ab") +: extra(ab)
    def best(c: Column) = if (ascending) c.asc else c.desc
    val cond = if (!prune) None else {
      val thr = pairs(seed, None)
        .select(col("u1"), col("u2"), proxy.as("px"))
        .orderBy(col("px"), col("u1"), col("u2")).limit(2000)
        .select("u1", "u2")
        .join(broadcast(side("a", main)), Seq("u1"))
        .join(broadcast(side("b", main)), Seq("u2"))
        .select(exact.as("v"))
        .orderBy(best(col("v"))).limit(10)
        .agg((if (ascending) max(col("v")) else min(col("v"))).as("t"))
        .select(coalesce(col("t"), lit(if (ascending) Double.MaxValue else -1.0)))
        .head().getDouble(0)
      Some(bound(if (ascending) thr + 1e-4 else thr - 1e-4))
    }
    val scan = pairs(main, cond)
    val kept = if (prune) scan.observe("prune", count(lit(1)).as("survivors")) else scan
    out.foldLeft(kept) { case (df, (name, c)) => df.withColumn(name, c) }
      .select((Seq("u1", "u2", "n_a", "n_b") ++ out.map(_._1)).map(col): _*)
      .orderBy(best(col(out.last._1)), col("u1"), col("u2"))
      .limit(10)
  }

  /** The cell-overlap seed of Hausdorff and EDR: shared distinct cells,
    * counted by one bit lookup per cell of A in B's cell bitmap
    * (`cell_hits`, equal to the sorted merge `cell_overlap`). B's bitmap
    * is built once per user in the broadcast side's projection; stored
    * as a tracks column it measured 2.2 MB more live heap. A low
    * distance needs shared ε-neighbourhoods, so the most-overlapping
    * pairs are good threshold candidates; the r15 lesson is never to
    * carry track payloads through the seed's TakeOrdered heap. */
  private def cellSeed(ab: String) =
    if (ab == "a") Seq(col("cells").as("ca"))
    else Seq(TrajSketchFns.cellBits(col("cells")).as("bb"))
  private def cellProxy = -TrajSketchFns.cellHits(col("ca"), col("bb"))

  /** m_traj_frechet's only path. Seed and first bound: the endpoint chord
    * lb = max(head chord, tail chord) ≤ dF, since every coupling pairs
    * the two heads and the two tails (the axiom TrajectorySpec pins). It
    * reads the tracks' SCALAR endpoint columns: a slice()-based bound in
    * the join condition built 12 arrays per ordered pair (no CSE there)
    * and cost the ×10 probe 300 µs per pair. Second bound: the CAPPED DP
    * `frechet_km_capped`, exact whenever dF ≤ cap, which abandons the far
    * pairs the endpoint bound cannot exclude. sf0.1 on a 4-core host
    * (1,124,250 pairs): the direct all-pairs DP this replaced ran
    * 41.6–47.0 task-CPU s, this path 3.9–6.4 s, with the same top-10. */
  private[graft] def frechetPruned(s: SparkSession, tr: DataFrame): DataFrame = {
    import s.implicits._
    def ends(ab: String) =
      Seq("hx", "hy", "hz", "tx", "ty", "tz").map(c => col(c).as(c + ab))
    val lb = greatest(endChordKm("h"), endChordKm("t"))
    topPairs(s, tr, extra = ends, seed = ends, proxy = lb,
      exact = TrajSim.frechetKm($"ta", $"tb"),
      bound = t => lb <= t && TrajSim.frechetKmCapped($"ta", $"tb", lit(t)) <= t,
      out = Seq("frechet_km" -> round(TrajSim.frechetKm($"ta", $"tb"), 4)),
      ascending = true)
  }

  /** m_traj_hausdorff's only path: the cell-overlap seed, and the CAPPED
    * exact kernel ([[graft.functions.HausdorffCapped]]) as the bound. It
    * is exact whenever dH ≤ cap and abandons a far pair at its first fix
    * whose nearest counterpart lies beyond the cap. Measured at sf0.1 on
    * a 4-core host (1,500 users, 1,124,250 pairs): seed threshold
    * 2,861 km against a true d₁₀ of 2,511 km; the capped kernel costs
    * 1.45–1.73 µs per pair on one thread against 7.9–8.0 µs for the full
    * kernel and keeps 974 pairs. The key's traced task CPU fell from
    * 9.3 s to 3.4 s with the capped kernel, and from 3.6–4.2 s to
    * 2.2–2.8 s (warm passes) once the kernels read tracks in place and
    * the seed looked up bits instead of merging. */
  private[graft] def hausdorffPruned(s: SparkSession, tr: DataFrame): DataFrame = {
    import s.implicits._
    topPairs(s, tr, extra = _ => Nil, seed = cellSeed, proxy = cellProxy,
      exact = TrajSim.hausdorffKm($"ta", $"tb"),
      bound = t => TrajSim.hausdorffKmCapped($"ta", $"tb", lit(t)) <= t,
      out = Seq("hausdorff_km" -> round(TrajSim.hausdorffKm($"ta", $"tb"), 4)),
      ascending = true)
  }

  /** m_traj_lcss's only path, a MAXIMIZATION: the shared near-count
    * kernel ([[graft.functions.TrajSketch.nearCounts]]) gives the EXACT
    * match upper bound ub = min(nearA, nearB) ≥ n_match, since a matched
    * fix lies within ε and so inside the other track's dilated cells.
    * Normalized like the output, ub ranks the seed (largest first) and
    * is the bound. The exact value is the Hunt-Szymanski sparse-match
    * kernel, ≡ the full cap² DP on every input. sf0.1 on a 4-core host:
    * the direct scan this replaced ran 13.0–14.6 task-CPU s, this path
    * 8.0–10.6 s, with the same top-10. */
  private[graft] def lcssPruned(s: SparkSession, tr: DataFrame): DataFrame = {
    import s.implicits._
    def norm = least(least($"n_a", $"n_b"), lit(TrackCap.toLong))
    val ub = TrajSketchFns.lcssUb($"sa", $"db", $"sb", $"da") / norm
    topPairs(s, tr,
      extra = ab => Seq($"pb".as(s"s$ab"), $"dil".as(s"d$ab")),
      seed = ab => Seq($"pb".as(s"s$ab"), $"dil".as(s"d$ab"), $"n_fixes".as(s"n_$ab")),
      proxy = -ub,
      exact = TrajSketchFns.lcssSparse($"sa", $"ta", $"sb", $"tb", MatchEpsKm) / norm,
      bound = t => ub >= t,
      out = Seq(
        "n_match" -> TrajSketchFns.lcssSparse($"sa", $"ta", $"sb", $"tb", MatchEpsKm),
        "lcss" -> round($"n_match" * lit(1.0) / norm, 4)),
      ascending = false)
  }

  /** m_traj_edr's two paths: with `prune` the cell-overlap seed and the
    * FREE length-difference bound n_edits ≥ |n − m| (every unmatched
    * length unit costs an insert or a delete; Chen, Özsu & Oria 2005),
    * normalized |size(ta) − size(tb)| / max(size(ta), size(tb)): two int
    * reads per pair, pure scalar in the join condition. Without it, the
    * same main pass with no bound. Each path wins a regime, measured and
    * declared:
    *  - the bound bites when d₁₀ ≪ 1, a corpus that CONTAINS near-
    *    duplicate tracks (planted near-dups at ×10 skew: thr collapses to
    *    ~1/n and the scan excludes every pair whose length ratio misses
    *    it; PREFLIGHT_r16);
    *  - when even the closest pairs are ~random (d₁₀ ≈ 1, this fixture,
    *    skewed or not: survivors 100% of 112.5M ×10 pairs) nothing can
    *    prune, and the pruned path is 20–30% slower at sf0.1 than the
    *    direct scan. The r15 negative result stands for the expensive
    *    match-UB bound max(n, m) − min(nearA, nearB): it kept 96% of ×10
    *    pairs at the true threshold, so it is not used.
    * A shared-cell proxy seeds well because matches need shared
    * ε-neighbourhoods; the length bound does not (measured ×10 skew: a
    * smallest-length-difference seed filled the 2000 with random
    * equal-length pairs, thr ≈ 0.94, survivors 100%). The d₁₀ ≈ 1 100×-U
    * wall has no exact escape; the threshold/corridor query form rides
    * [[graft.operators.TrajLsh.edrThresholdPairs]] instead. */
  private[graft] def edrTop(s: SparkSession, tr: DataFrame, prune: Boolean): DataFrame = {
    import s.implicits._
    // normalize by the longer DOWNSAMPLED track: its exact point count is
    // size(track)/3 (stride rounding makes it ≤ cap, not always min(n, cap))
    def longer = greatest(size($"ta"), size($"tb"))
    def edits = TrajSketchFns.edrSparse($"sa", $"ta", $"sb", $"tb", MatchEpsKm)
    topPairs(s, tr, extra = ab => Seq($"pb".as(s"s$ab")),
      seed = cellSeed, proxy = cellProxy,
      exact = edits * lit(3.0) / longer,
      bound = t => abs(size($"ta") - size($"tb")).cast("double") / longer <= t,
      out = Seq("n_edits" -> edits,
        "edr" -> round($"n_edits" * lit(3.0) / longer, 4)),
      ascending = true, prune = prune)
  }

  /** One row per user: (user_id, n_fixes, track) where track is the
    * interleaved [x0, y0, z0, x1, ...] unit-vector array of the ≤ TrackCap
    * downsampled time-ordered fixes. The rank/stride arithmetic is integer-
    * exact (no FP ever picks a point), so reruns and both DP keys see
    * bit-identical tracks. Memoized per (session, SF) with a lazy local
    * checkpoint (the cellMoves idiom): both DP keys and repeated runs
    * share one window+aggregate derivation instead of recomputing the
    * data-sized pass per key side. */
  private val tracksMemo = new graft.SessionMemo[String, DataFrame]
  private[graft] def tracks(s: SparkSession, dir: String): DataFrame =
    tracksMemo.getOrCompute(s, dir) { buildTracks(s, dir).localCheckpoint(eager = false) }

  private def buildTracks(s: SparkSession, dir: String): DataFrame =
    tracksFromPoints(s,
      Geo.pts(s, dir).select(col("user_id"), col("ts_us"), col("event_id"),
        col("lat"), col("lon")))

  /** The track/sketch derivation over an arbitrary point frame
    * (user_id, ts_us, event_id, lat, lon) — factored from the fixture
    * loader so library callers ([[graft.operators.TrajLsh]]'s corridor
    * join, specs with planted fleets) derive tracks/cells/pb through THE
    * SAME expressions as the contract keys, not a twin. */
  private[graft] def tracksFromPoints(s: SparkSession, pts: DataFrame): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wAll = Window.partitionBy($"user_id")
    pts
      .select($"user_id", $"ts_us", $"event_id", $"lat", $"lon")
      .withColumn("rn", row_number().over(wOrd).cast("long") - 1L)
      .withColumn("n", count(lit(1)).over(wAll))
      // stride = ceil(n / cap); rn % stride == 0 keeps the first fix and
      // every stride-th after — ≤ cap points, order preserved. Integer-exact
      // (expr `div`, not FP division) so no ulp ever picks a point.
      .withColumn("stride", greatest(lit(1L),
        expr(s"(n + ${TrackCap - 1}) div $TrackCap")))
      .filter($"rn" % $"stride" === 0L)
      .groupBy($"user_id")
      .agg(max($"n").as("n_fixes"),
        flatten(transform(array_sort(collect_list(struct($"rn", $"lat", $"lon"))),
          p => array(
            cos(radians(p.getField("lat"))) * cos(radians(p.getField("lon"))),
            cos(radians(p.getField("lat"))) * sin(radians(p.getField("lon"))),
            sin(radians(p.getField("lat")))))).as("track"),
        // per-fix 2.5° cell ids, 1:1 with the track order — the sparse-
        // match / lower-bound sketch of functions/TrajSketch. Integer-
        // exact: 2.5° boundaries are exact binary doubles, and the 0.1°-
        // lattice fixture coordinates can never land within an ulp of one.
        // Edge-guarded like TrajSketch.cellId (the shared formula): row
        // clamps to NRow-1 (lat = 90), col wraps mod NLon (lon = 180) —
        // boundary coordinates land in valid cells instead of indexing
        // past the 72-row bound tables.
        transform(array_sort(collect_list(struct($"rn", $"lat", $"lon"))),
          p => (least(lit(graft.functions.TrajSketch.NRow - 1), greatest(lit(0),
              floor((p.getField("lat") + lit(90.0)) / lit(graft.functions.TrajSketch.CellDeg)))) * lit(256)
            + pmod(floor((p.getField("lon") + lit(180.0)) / lit(graft.functions.TrajSketch.CellDeg)),
              lit(graft.functions.TrajSketch.NLon))).cast("int")).as("fc"),
        // raw interleaved lat/lon of the same kept fixes (the map-matching
        // key's input — the HMM needs degrees, not unit vectors)
        flatten(transform(array_sort(collect_list(struct($"rn", $"lat", $"lon"))),
          p => array(p.getField("lat"), p.getField("lon")))).as("ll"))
      // per-user SORTED sketch structures, derived once here so no kernel
      // ever sorts per pair (the round-15 probe lesson — see TrajSketch):
      // pb = (cell << 32 | fixIdx) ascending, the sparse-match lookup
      // structure; cells = distinct sorted cell ids, the bound/overlap set
      .withColumn("pb", expr(
        "array_sort(transform(fc, (c, i) -> shiftleft(CAST(c AS BIGINT), 32) + i))"))
      .withColumn("cells", expr("array_sort(array_distinct(fc))"))
      // the ε-dilation bitmap (162 longs): the LCSS/EDR prune tiers' near
      // test becomes ONE bit lookup per fix at pair time (the per-pair
      // band-search form measured 10 µs/pair — TrajSketch scaladoc)
      .withColumn("dil", TrajSketchFns.dilateCells($"cells", MatchEpsKm))
      // scalar endpoint coordinates: the fréchet endpoint bound pushed
      // into the pair-join condition must be pure scalar arithmetic —
      // the slice()-based form instantiated 12 array slices per ordered
      // pair inside the join condition (no CSE there) and the ×10 probe
      // paid 300 µs/pair for it
      .withColumn("hx", $"track".getItem(0))
      .withColumn("hy", $"track".getItem(1))
      .withColumn("hz", $"track".getItem(2))
      .withColumn("tx", element_at($"track", -3))
      .withColumn("ty", element_at($"track", -2))
      .withColumn("tz", element_at($"track", -1))
  }

  val queries: Map[String, QFn] = Map(

    // Discrete Fréchet distance (Eiter & Mannila 1994) between user tracks
    // — top-10 CLOSEST pairs. The shortest-leash measure: order-aware, so
    // a reversed corridor reads far where cell Jaccard reads identical.
    //
    // One path at every pair count: the endpoint-bound and capped-DP
    // threshold prune ([[frechetPruned]]). The full cap² DP on every pair
    // was the dominant ×10 cost (139 s at 10× users, round 14); on
    // production corridor-sharing fleets (d₁₀ ~ tens of km, not this
    // fixture's ~5000 km random-walk floor) the threshold collapses and
    // the DP touches almost nothing.
    "m_traj_frechet" -> ((s, dir) =>
      frechetPruned(s, gatedTracks(s, dir, "m_traj_frechet")._1)),

    // EDR — Edit Distance on Real sequence (Chen, Özsu & Oria, SIGMOD
    // 2005) over the same pair scan — the third canonical trajectory DP:
    // outlier-robust like LCSS (one wild fix = one edit) but GAP-AWARE
    // (a long detour costs an edit per fix, where LCSS's shorter-track
    // normalization forgives it). Normalized by the longer track; top-10
    // LOWEST pairs. Same chord²-threshold kernel discipline; no SQL
    // oracle (2-D DP, the m_time_dtw precedent) — TrajectorySpec pins
    // kernel equality vs a full-matrix haversine reference, identity/
    // symmetry, the ≤1-edit wild-fix bound, the LCSS duality on planted
    // detours, and key top-10 equality vs an exact all-pairs driver DP.
    "m_traj_edr" -> ((s, dir) => {
      // exact sparse-match gap DP (functions/TrajSketch) ≡ the full cap²
      // DP on every input. Two paths, each winning a regime ([[edrTop]]):
      // above 5M pairs the length-difference threshold prune, which bites
      // on corpora with near-duplicate tracks; below it the direct scan,
      // which is 20–30% faster at sf0.1, where no bound can prune.
      // Forced-prune ≡ direct is pinned in TrajectorySpec. The
      // threshold/corridor query form — "pairs within edr ≤ τ on shared
      // routes", the shape a 100-TB fleet query takes — rides
      // [[graft.operators.TrajLsh.edrThresholdPairs]] (J ≥ 0.5 regime,
      // measured-sound S-curve; EDR-threshold property in TrajLshSpec).
      val (tr, pairs) = gatedTracks(s, dir, "m_traj_edr")
      edrTop(s, tr, prune = pairs > 5_000_000L)
    }),

    // TRACLUS partition-and-group (Lee, Han & Whang, SIGMOD 2007): MDL-
    // partition every user's track into characteristic segments, density-
    // cluster the segments under d⊥ + d∥ + dθ, report per-cluster support.
    // Parameters sized to the fixture lattice (users step the same
    // deterministic lat/lon pattern at different phases, so parallel
    // corridor segments exist at multi-hundred-km offsets): ε = 1000 km
    // chord, minLns = 3, ≥ 2 distinct users per cluster (the paper's
    // trajectory-cardinality filter), and segments past 2500 km are
    // TRANSIT JUMPS (no corridor evidence between fixes that far apart —
    // most of this synthetic fixture's hops, declared as such in the
    // output) which also bounds the candidate grid's per-segment
    // replication. Candidate generation is exact at any ε for the
    // clustered band (the lemma in [[graft.operators.Traclus]]); no SQL
    // oracle (MDL partitioning + density CC have no DuckDB form — the
    // m_dbscan precedent); TraclusSpec pins the kernels against hand
    // geometry, the pipeline against a brute-force all-pairs reference,
    // and planted crossing corridors separate with noise staying noise.
    "m_traj_traclus" -> ((s, dir) => {
      import s.implicits._
      val segs = graft.operators.Traclus.partition(s, tracks(s, dir))
      graft.operators.Traclus.run(s, segs, epsKm = 1000.0, minLns = 3,
          minUsers = 2, maxSegKm = 2500.0)
        .filter($"cluster" >= 0L)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_segs"),
          countDistinct($"user_id").as("n_users"),
          sum(when($"role" === "core", 1L).otherwise(0L)).as("n_core"))
        .orderBy($"n_segs".desc, $"cluster")
        .limit(20)
    }),

    // Symmetric Hausdorff distance (Huttenlocher et al., TPAMI 1993) over
    // the same pair scan — the SET-BASED, order-free fourth member of the
    // family: max over either track's fixes of the distance to the nearest
    // fix on the other. Read NEXT TO m_traj_frechet it answers "same
    // route, which direction?" — a reversed corridor is Hausdorff-0 but
    // Fréchet-far. Top-10 closest pairs. Same chord² discipline (max/min
    // commute with the monotone map, one final asin); inner loop carries
    // the classic best-so-far cutoff. No SQL oracle (the max-min scan has
    // no tractable SQL form at this shape — the DP-family precedent);
    // TrajectorySpec pins kernel ≡ a brute-force haversine max-min
    // reference, identity/symmetry, the Hausdorff ≤ Fréchet dominance
    // axiom, reversed-corridor-reads-0, and key top-10 vs an exact
    // all-pairs driver recomputation.
    "m_traj_hausdorff" -> ((s, dir) => {
      // One path at every pair count: the capped-kernel threshold prune
      // ([[hausdorffPruned]]) pays the full kernel only on the ~1,000 of
      // sf0.1's 1.1M pairs the cap cannot abandon.
      hausdorffPruned(s, gatedTracks(s, dir, "m_traj_hausdorff")._1)
    }),

    // HMM map-matching (Newson & Krumm, VLDB 2009 shape) — snap each
    // user's downsampled fixes onto the 0.1° lattice road graph by exact
    // per-user Viterbi over 3×3 candidate nodes: Gaussian emission in the
    // fix→node distance, exponential transition in the route-vs-measured
    // length discrepancy (functions/MapMatch.scala). The fixture is
    // noise-free (every derived coordinate IS a lattice node), so the key
    // DECLARES simulated GPS noise: a deterministic ±0.045° jitter from
    // xxhash64(user_id, fix index) — under half a cell, keeping the true
    // node inside every fix's candidate grid — and then reports how much
    // of the clean walk the HMM recovers (self-validating: truth is the
    // pre-jitter track). Plan: the tracks() substrate's one window pass is
    // the only data-sized job; jitter, the T×9² Viterbi (T ≤ TrackCap)
    // and the recovery compare are all per-user-row codegen work. No SQL
    // oracle (Viterbi DP — the m_time_dtw precedent); MapMatchSpec pins
    // kernel ≡ brute-force all-paths Viterbi, noise-free identity,
    // planted-walk recovery, and the gross-outlier correction.
    "m_traj_mapmatch" -> ((s, dir) => {
      import s.implicits._
      tracks(s, dir)
        .withColumn("noisy", expr(
          """flatten(transform(sequence(0, size(ll) div 2 - 1), i -> array(
            |  ll[2*i]   + (pmod(xxhash64(user_id, i), 91) - 45) / 1000.0d,
            |  ll[2*i+1] + (pmod(xxhash64(user_id, i, 7), 91) - 45) / 1000.0d)))"""
            .stripMargin))
        .withColumn("snap", graft.functions.MapMatchExpr.mapMatch($"noisy", sigmaKm = 3.0, betaKm = 30.0))
        .withColumn("n_pts", size($"ll") / 2)
        .withColumn("n_rec", expr(
          """aggregate(sequence(0, size(ll) div 2 - 1), 0L, (acc, i) ->
            |  acc + IF(snap[2*i] = CAST(round(ll[2*i] * 10.0d) AS INT) AND
            |           snap[2*i+1] = CAST(round(ll[2*i+1] * 10.0d) AS INT), 1L, 0L))"""
            .stripMargin))
        .select($"user_id", $"n_fixes", $"n_pts".cast("long").as("n_pts"),
          $"n_rec",
          round($"n_rec" * lit(1.0) / $"n_pts", 4).as("recover_rate"))
        .orderBy($"user_id")
    }),

    // LCSS similarity (Vlachos et al., ICDE 2002) over the same pair scan
    // — matches within MatchEpsKm, normalized by the shorter track: the
    // outlier-robust twin (one wild fix caps Fréchet from below but costs
    // LCSS a single match). Top-10 MOST similar pairs.
    // One path at every pair count: the exact sparse-match kernel behind
    // the match-upper-bound threshold prune ([[lcssPruned]]).
    "m_traj_lcss" -> ((s, dir) =>
      lcssPruned(s, gatedTracks(s, dir, "m_traj_lcss")._1))
  )

  // 2-D DPs have no tractable SQL form (the m_time_dtw precedent) — the
  // keys are property-tested in TrajectorySpec instead.
  val oracle: Map[String, String] = Map.empty
}
