package graft

import org.apache.spark.sql.functions._
import graft.operators.TrajLsh

/** [[TrajLsh]] — the MinHash-LSH near-duplicate trajectory join: planted-
  * corridor recall, exact-verify precision, the candidate-scan reduction
  * vs all pairs, and determinism. The negative result that scoped this
  * operator (LSH cannot serve the top-10-nearest keys on this fixture) is
  * measured in the operator scaladoc and enforced by TrajectorySpec's
  * exact-tier equalities instead. */
class TrajLshSpec extends BaseSpec {
  import spark.implicits._

  /** Synthetic fleet: `nNoise` users with random low-overlap cell sets,
    * plus planted corridor clusters that share most cells. */
  private def fleet(nNoise: Int, seed: Int): Seq[(Long, Seq[Int])] = {
    val rnd = new scala.util.Random(seed)
    val noise = (0 until nNoise).map { u =>
      (u.toLong, Seq.fill(30)(rnd.nextInt(2000)).distinct)
    }
    // three corridors: pairs (1000,1001) J≈0.9, (1002,1003) J≈0.6,
    // (1004,1005) J≈0.5 — all inside the near-dup contract
    val base1 = Seq.tabulate(30)(i => 5000 + i)
    val base2 = Seq.tabulate(30)(i => 6000 + i)
    val base3 = Seq.tabulate(30)(i => 7000 + i)
    noise ++ Seq(
      (1000L, base1), (1001L, base1.drop(2) ++ Seq(5100, 5101)),
      (1002L, base2), (1003L, base2.drop(8) ++ Seq.tabulate(7)(i => 6100 + i)),
      (1004L, base3), (1005L, base3.drop(10) ++ Seq.tabulate(10)(i => 7100 + i)))
  }

  test("planted corridors found with exact Jaccard; nothing below threshold; deterministic") {
    val users = fleet(60, 421).toDF("user_id", "cells")
      .withColumn("cells", $"cells".cast("array<int>"))
    val got = TrajLsh.candidatePairs(spark, users, minJaccard = 0.45)
      .as[(Long, Long, Double)].collect().toSeq
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(Set((1000L, 1001L), (1002L, 1003L), (1004L, 1005L)).subsetOf(pairs),
      s"planted corridors missing from $pairs")
    // exact-verify precision: every reported J must equal the driver-side
    // set Jaccard and clear the threshold
    val cellMap = fleet(60, 421).toMap
    got.foreach { case (u1, u2, j) =>
      val (a, b) = (cellMap(u1).toSet, cellMap(u2).toSet)
      val want = math.rint(a.intersect(b).size.toDouble / a.union(b).size * 1e4) / 1e4
      assert(j == want && j >= 0.45, s"($u1,$u2): reported $j vs exact $want")
    }
    // determinism: fixed hash family, identical output on a second run
    val again = TrajLsh.candidatePairs(spark, users, minJaccard = 0.45)
      .as[(Long, Long, Double)].collect().toSeq
    assert(again == got)
  }

  test("candidate scan is a real reduction: bulk-J pairs mostly never reach the verify") {
    // 120 noise users -> 7140 all-pairs; with J ~ 0.02-0.05 bulk overlap the
    // r=2 AND-banding admits ~6% — assert the candidate count stays well
    // under all-pairs (the 100x-users argument: admission is per-pair
    // probability, independent of U)
    val rnd = new scala.util.Random(17)
    val users = (0 until 120)
      .map(u => (u.toLong, Seq.fill(40)(rnd.nextInt(1200)).distinct))
      .toDF("user_id", "cells").withColumn("cells", $"cells".cast("array<int>"))
    val nHash = 48 // r=2, b=24 defaults
    val sig = users
      .withColumn("mh", expr(
        s"transform(sequence(0, ${nHash - 1}), i -> array_min(transform(cells, c -> xxhash64(c, i))))"))
    val bands = sig.select($"user_id", posexplode(expr(
      "transform(sequence(0, 23), t -> xxhash64(element_at(mh, t * 2 + 1), element_at(mh, t * 2 + 2)))"))
      .as(Seq("band", "bk")))
    val nCand = bands.as("a").join(bands.as("b"), Seq("band", "bk"))
      .filter(col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id"), col("b.user_id")).distinct().count()
    val allPairs = 120L * 119 / 2
    assert(nCand < allPairs / 4,
      s"banding admitted $nCand of $allPairs pairs - no reduction")
    // and none of those bulk pairs survives the exact verify at J >= 0.45
    val verified = TrajLsh.candidatePairs(spark, users, minJaccard = 0.45).count()
    assert(verified == 0L, s"bulk fleet produced $verified false near-dups")
  }

  /** Shared planted fleet for the Fréchet/Hausdorff threshold joins: a
    * 30-fix corridor at lat 40 (1° lon steps), one exact re-trace, one
    * REVERSED trace (Hausdorff 0, Fréchet far — the direction question),
    * one 0.5°-shifted parallel corridor (~55.6 km everywhere, same
    * cells), one 6-fix detour (cells mostly shared, both metrics huge),
    * one disjoint corridor, plus random-walk noise. */
  private def corridorFleet(): org.apache.spark.sql.DataFrame = {
    val route = (0 until 30).map(i => (40.0, 10.0 + i))
    val reversed = route.reverse
    val shifted = route.map { case (la, lo) => (la + 0.5, lo) }
    val detour = route.zipWithIndex.map { case ((la, lo), i) =>
      if (i >= 10 && i <= 15) (-40.0, lo) else (la, lo) }
    val routeB = (0 until 30).map(i => (40.0, 100.0 + i))
    val rnd = new scala.util.Random(97)
    def walk() = (0 until 30).map(_ =>
      (rnd.nextInt(1400) / 10.0 - 70.0, rnd.nextInt(3500) / 10.0 - 175.0))
    (Seq(3000L -> route, 3001L -> route, 3002L -> reversed,
      3003L -> shifted, 3004L -> detour, 3005L -> routeB) ++
      (0 until 12).map(u => (u.toLong, walk())))
      .flatMap { case (u, pts) => pts.zipWithIndex.map { case ((la, lo), i) =>
        (u, i.toLong * 1000000L, i.toLong, la, lo) } }
      .toDF("user_id", "ts_us", "event_id", "lat", "lon")
  }

  test("Frechet-threshold corridor join: exact pair set in the J >= 0.5 regime (the m_traj_frechet corridor escape)") {
    val tracks = graft.queries.Trajectory.tracksFromPoints(spark, corridorFleet())
    val got = TrajLsh.frechetThresholdPairs(spark, tracks, maxKm = 100.0)
      .select($"u1", $"u2", $"frechet_km")
      .as[(Long, Long, Double)].collect().toSeq
    // truth: all-pairs exact kernel (UNCAPPED — a different code path than
    // the operator's early-abandoning capped kernel) filtered to the
    // declared contract: cell-Jaccard >= 0.5 AND dF <= maxKm
    val lhs = tracks.select($"user_id".as("u1"), $"track".as("ta"), $"cells".as("c1"))
    val rhs = tracks.select($"user_id".as("u2"), $"track".as("tb"), $"cells".as("c2"))
    val truth = lhs.join(rhs, $"u1" < $"u2")
      .withColumn("j", size(array_intersect($"c1", $"c2")).cast("double") /
        size(array_union($"c1", $"c2")))
      .withColumn("d", graft.functions.TrajSim.frechetKm($"ta", $"tb"))
      .filter($"j" >= 0.5 && $"d" <= 100.0)
      .select($"u1", $"u2", round($"d", 4).as("d"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.toSet == truth.toSet,
      s"corridor frechet join:\n got=${got.sorted}\nwant=${truth.sorted}")
    val byPair = got.map(r => (r._1, r._2) -> r._3).toMap
    // planted semantics: re-trace at 0, parallel corridor at ~55.6 km,
    // REVERSED trace order-far (absent), detour + disjoint absent
    assert(byPair.get((3000L, 3001L)).contains(0.0), s"re-trace: $byPair")
    assert(byPair.get((3000L, 3003L)).exists(d => d > 50.0 && d < 60.0),
      s"parallel corridor: $byPair")
    assert(!byPair.contains((3000L, 3002L)),
      s"reversed trace must be Frechet-far: $byPair")
    assert(!byPair.keySet.exists(p => p._1 == 3004L || p._2 == 3004L ||
      p._1 == 3005L || p._2 == 3005L), s"detour/disjoint leaked: $byPair")
  }

  test("Hausdorff-threshold corridor join: exact pair set; reversed trace reads 0 (the direction composition)") {
    val tracks = graft.queries.Trajectory.tracksFromPoints(spark, corridorFleet())
    val got = TrajLsh.hausdorffThresholdPairs(spark, tracks, maxKm = 100.0)
      .select($"u1", $"u2", $"hausdorff_km")
      .as[(Long, Long, Double)].collect().toSeq
    val lhs = tracks.select($"user_id".as("u1"), $"track".as("ta"), $"cells".as("c1"))
    val rhs = tracks.select($"user_id".as("u2"), $"track".as("tb"), $"cells".as("c2"))
    val truth = lhs.join(rhs, $"u1" < $"u2")
      .withColumn("j", size(array_intersect($"c1", $"c2")).cast("double") /
        size(array_union($"c1", $"c2")))
      .withColumn("d", graft.functions.TrajSim.hausdorffKm($"ta", $"tb"))
      .filter($"j" >= 0.5 && $"d" <= 100.0)
      .select($"u1", $"u2", round($"d", 4).as("d"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.toSet == truth.toSet,
      s"corridor hausdorff join:\n got=${got.sorted}\nwant=${truth.sorted}")
    val byPair = got.map(r => (r._1, r._2) -> r._3).toMap
    // the ORDER-FREE metric keeps the reversed trace at exactly 0 — read
    // beside the Frechet join this answers "same route, which direction?"
    assert(byPair.get((3000L, 3002L)).contains(0.0), s"reversed: $byPair")
    assert(byPair.get((3000L, 3001L)).contains(0.0), s"re-trace: $byPair")
    assert(byPair.get((3000L, 3003L)).exists(d => d > 50.0 && d < 60.0),
      s"parallel corridor: $byPair")
    assert(!byPair.keySet.exists(p => p._1 == 3004L || p._2 == 3004L ||
      p._1 == 3005L || p._2 == 3005L), s"detour/disjoint leaked: $byPair")
  }

  test("LCSS-threshold corridor join: exact pair set in-regime; order-awareness excludes the reversed trace") {
    val tracks = graft.queries.Trajectory.tracksFromPoints(spark, corridorFleet())
    val got = TrajLsh.lcssThresholdPairs(spark, tracks, minSim = 0.7)
      .select($"u1", $"u2", $"n_match", $"lcss")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // truth: all-pairs exact kernel + the contract key's own normalization,
    // filtered to cell-Jaccard >= 0.5 AND sim >= 0.7
    val lhs = tracks.select($"user_id".as("u1"), $"track".as("ta"),
      $"pb".as("sa"), $"n_fixes".as("na"), $"cells".as("c1"))
    val rhs = tracks.select($"user_id".as("u2"), $"track".as("tb"),
      $"pb".as("sb"), $"n_fixes".as("nb"), $"cells".as("c2"))
    val truth = lhs.join(rhs, $"u1" < $"u2")
      .withColumn("j", size(array_intersect($"c1", $"c2")).cast("double") /
        size(array_union($"c1", $"c2")))
      .withColumn("m",
        graft.functions.TrajSketchFns.lcssSparse($"sa", $"ta", $"sb", $"tb", 500.0))
      .withColumn("sim", $"m" * lit(1.0) / least(least($"na", $"nb"), lit(64L)))
      .filter($"j" >= 0.5 && $"sim" >= 0.7)
      .select($"u1", $"u2", $"m", round($"sim", 4).as("sim"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.toSet == truth.toSet,
      s"corridor lcss join:\n got=${got.sorted}\nwant=${truth.sorted}")
    val byPair = got.map(r => (r._1, r._2) -> r._4).toMap
    // planted semantics: re-trace and the 0.5°-shifted corridor (inside
    // the 500 km eps everywhere) read 1.0; the 6-fix detour keeps 24/30 =
    // 0.8; the REVERSED trace is order-far for the ORDER-AWARE metric
    // (a common subsequence must ascend in both directions) — excluded
    assert(byPair.get((3000L, 3001L)).contains(1.0), s"re-trace: $byPair")
    assert(byPair.get((3000L, 3003L)).contains(1.0), s"parallel: $byPair")
    assert(byPair.get((3000L, 3004L)).contains(0.8), s"detour: $byPair")
    assert(!byPair.contains((3000L, 3002L)), s"reversed must be excluded: $byPair")
    assert(!byPair.keySet.exists(p => p._1 == 3005L || p._2 == 3005L),
      s"disjoint corridor leaked: $byPair")
  }

  test("corridor telemetry: candidate/survivor counters ride the join, ratio matches direct truth") {
    // Round 18 (r17 verdict ask #7): a 100-TB operator watches
    // selectivity drift through the Observe counters instead of
    // re-deriving from the CorridorUsersPerSecPerCore constant. The
    // counters must (a) arrive through the standard listener with zero
    // extra jobs, (b) agree with directly computed truth, (c) show the
    // band join actually pruning (candidates ≪ all-pairs).
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new ConcurrentLinkedQueue[Map[String, org.apache.spark.sql.Row]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.observedMetrics.nonEmpty) seen.add(qe.observedMetrics)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val tracks = graft.queries.Trajectory.tracksFromPoints(spark, corridorFleet())
        .localCheckpoint(true)
      val nUsers = tracks.count()
      val out = TrajLsh.frechetThresholdPairs(spark, tracks, maxKm = 100.0)
      val nOut = out.count()
      val deadline = System.nanoTime() + 10e9.toLong
      def all() = {
        val it = seen.iterator()
        var m = Map.empty[String, org.apache.spark.sql.Row]
        while (it.hasNext) m = m ++ it.next()
        m
      }
      while (System.nanoTime() < deadline &&
             !Set(TrajLsh.CandidatesMetric, TrajLsh.SurvivorsMetric,
                  TrajLsh.CorridorMetric).subsetOf(all().keySet))
        Thread.sleep(50)
      val m = all()
      val cands = m(TrajLsh.CandidatesMetric).getAs[Long]("n_candidates")
      val surv = m(TrajLsh.SurvivorsMetric).getAs[Long]("n_survivors")
      val corr = m(TrajLsh.CorridorMetric).getAs[Long]("n_out")
      assert(corr == nOut, s"corridor counter $corr != result rows $nOut")
      assert(cands >= surv && surv >= corr,
        s"funnel must be monotone: candidates=$cands survivors=$surv out=$corr")
      // the funnel's top agrees with directly recomputed band-join truth
      val directCands = TrajLsh.candidatePairs(spark,
          tracks.select($"user_id", $"cells"), minJaccard = 0.0)
        .count() // J >= 0 keeps every distinct band-join candidate
      assert(cands == directCands,
        s"candidate counter $cands != direct band-join count $directCands")
      // and the band join prunes: candidates well under all-pairs
      val allPairs = nUsers * (nUsers - 1) / 2
      assert(cands < allPairs / 2,
        s"band join stopped pruning: $cands of $allPairs all-pairs")
    } finally spark.listenerManager.unregister(listener)
  }

  test("exact top-k keys refuse past the declared U-squared gate, naming the corridor escape") {
    import graft.queries.Trajectory
    // under the gate: no throw (the probe regime — 11.25e9 pairs on 32 cores)
    Trajectory.exactPairsGate(32, "m_traj_frechet", 150000L)
    // past it: ~204k users on 32 cores crosses 650e6 x 32 = 20.8e9 pairs
    val e = intercept[IllegalArgumentException] {
      Trajectory.exactPairsGate(32, "m_traj_frechet", 300000L)
    }
    assert(e.getMessage.contains("frechetThresholdPairs") &&
      e.getMessage.contains("declared gate"))
    // and the gate scales OUT: the same corpus passes on 1000 cores
    Trajectory.exactPairsGate(1000, "m_traj_frechet", 300000L)
  }

  test("EDR-threshold corridor join: exact pair set in the J >= 0.5 regime (the m_traj_edr 100-TB path)") {
    // Planted fleet with REAL tracks: a 30-fix corridor at lat 40
    // (1-degree lon steps), one exact re-trace, one 6-fix detour
    // (n_edits = 6, edr = 0.2, cell-J ~ 0.67 -- inside the corridor
    // regime), one disjoint corridor, plus random-walk noise users.
    val route = (0 until 30).map(i => (40.0, 10.0 + i))
    val detour = route.zipWithIndex.map { case ((la, lo), i) =>
      if (i >= 10 && i <= 15) (-40.0, lo) else (la, lo) }
    val routeB = (0 until 30).map(i => (40.0, 100.0 + i))
    val rnd = new scala.util.Random(97)
    def walk() = (0 until 30).map(_ =>
      (rnd.nextInt(1400) / 10.0 - 70.0, rnd.nextInt(3500) / 10.0 - 175.0))
    val fleetPts = (Seq(2000L -> route, 2001L -> route, 2002L -> detour,
      2003L -> routeB) ++ (0 until 12).map(u => (u.toLong, walk())))
      .flatMap { case (u, pts) => pts.zipWithIndex.map { case ((la, lo), i) =>
        (u, i.toLong * 1000000L, i.toLong, la, lo) } }
      .toDF("user_id", "ts_us", "event_id", "lat", "lon")
    val tracks = graft.queries.Trajectory.tracksFromPoints(spark, fleetPts)
    val got = TrajLsh.edrThresholdPairs(spark, tracks, maxEdr = 0.25)
      .select($"u1", $"u2", $"n_edits", $"edr")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // truth: ALL-PAIRS exact sparse-EDR (same kernel) filtered to the
    // contract -- edr <= maxEdr AND exact cell-Jaccard >= minJaccard (the
    // declared regime; a low-EDR pair sharing few cells is out of contract)
    val lhs = tracks.select($"user_id".as("u1"), $"track".as("ta"),
      $"pb".as("sa"), $"cells".as("c1"))
    val rhs = tracks.select($"user_id".as("u2"), $"track".as("tb"),
      $"pb".as("sb"), $"cells".as("c2"))
    val truth = lhs.join(rhs, $"u1" < $"u2")
      .withColumn("j", size(array_intersect($"c1", $"c2")).cast("double") /
        size(array_union($"c1", $"c2")))
      .withColumn("n_edits",
        graft.functions.TrajSketchFns.edrSparse($"sa", $"ta", $"sb", $"tb", 500.0))
      .withColumn("edr", $"n_edits" * lit(3.0) /
        greatest(size($"ta"), size($"tb")))
      .filter($"j" >= 0.5 && $"edr" <= 0.25)
      .select($"u1", $"u2", $"n_edits", round($"edr", 4).as("edr"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.toSet == truth.toSet,
      s"corridor edr join:\n got=${got.sorted}\nwant=${truth.sorted}")
    // the planted semantics, explicitly: exact re-trace at edr 0, the
    // 6-fix detour at exactly 6 edits / 0.2, disjoint corridor absent
    val byPair = got.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(byPair.get((2000L, 2001L)).contains((0L, 0.0)), s"re-trace: $byPair")
    assert(byPair.get((2000L, 2002L)).contains((6L, 0.2)), s"detour: $byPair")
    assert(!byPair.keySet.exists(p => p._1 == 2003L || p._2 == 2003L),
      s"disjoint corridor leaked: $byPair")
  }
}
