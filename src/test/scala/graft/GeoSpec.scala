package graft

import graft.operators.{Convoy, Endgame}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}

/** Skew properties of the bucket-keyed spatio-temporal operators: one hot
  * space-time bucket must produce exactly its combinatorial output (with
  * AQE's skew-join handling on, the default) — not fewer pairs, not a hang.
  * Convoy runs on both paths: the driver endgame below the budget and the
  * bucket join (with its triangle split) inside `Endgame.distributed`. */
class GeoSpec extends BaseSpec {
  import spark.implicits._

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.nonEmpty

  private def pairsOf(df: DataFrame): List[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toList

  /** `Convoy.coTravelers` on both paths: the default returns the driver
    * endgame's `LocalRelation`, the forced one the bucket join, and both
    * the same schema and rows, which are returned. */
  private def convoy(pts: DataFrame, minHours: Int): List[(Long, Long, Long)] = {
    val got = bothPaths.map { d =>
      val df = onPath(d)(Convoy.coTravelers(pts, cellDeg = 20.0, minHours = minHours))
      assert(isLocal(df) != d && hasJoin(df) == d, s"distributed=$d took the other path")
      (df.schema, pairsOf(df))
    }
    val (local, dist) = (got(0), got(1))
    assert(local._1 == dist._1, "the paths' schemas differ")
    assert(local._2 == dist._2, s"driver endgame != bucket join: " +
      s"missing=${(dist._2.toSet -- local._2).take(3)} extra=${(local._2.toSet -- dist._2).take(3)}")
    dist._2
  }

  test("convoy: one hot (hour, cell) bucket yields exactly C(u,2) pairs") {
    val H = 3600L * 1000000L
    val hotUsers = 150
    // Every hot user in the SAME 20-degree cell for hours 0, 1, 2; decoys in
    // a far cell for one hour only (below minHours) plus a duplicate fix per
    // user to exercise the distinct() pre-pass.
    val hot = for {
      u <- 0 until hotUsers; h <- 0 until 3
      rep <- 0 until (if (h == 0) 2 else 1) // duplicate fixes, same bucket
    } yield (u.toLong, h * H + rep * 60000000L, 5.0 + (u % 7) * 0.1, 5.0)
    val decoys = for (u <- 1000 until 1020) yield (u.toLong, 0L, -75.0, -170.0)
    val pts = (hot ++ decoys).toDF("user_id", "ts_us", "lat", "lon")
    val got = convoy(pts, minHours = 3)
    val expectedPairs = hotUsers.toLong * (hotUsers - 1) / 2
    assert(got.length == expectedPairs,
      s"hot bucket must emit C($hotUsers,2)=$expectedPairs pairs, got ${got.length}")
    assert(got.forall(_._3 == 3L), s"all pairs co-travel 3 hours: ${got.take(3).toList}")
    assert(got.forall { case (u1, u2, _) => u1 < u2 && u2 < 1000L },
      "decoys (single shared hour) must not pair")
  }

  test("convoy: triangle-split on a planted hot bucket matches the unsalted path exactly") {
    // A bucket 3x past the threshold: 150 users in one (hour, cell) with
    // hotUsers = 50 engages the salted group-pair join (4 groups → every
    // within/cross-group combination exercised), while the cold branch
    // still handles a second, small bucket. The split must reproduce the
    // unsalted output EXACTLY — same pairs, same hour counts — and the hot
    // bucket must still emit all C(150,2) pairs.
    val H = 3600L * 1000000L
    val hot = for {
      u <- 0 until 150; h <- 0 until 3
    } yield (u.toLong, h * H, 5.0 + (u % 7) * 0.1, 5.0)
    // cold companions: 2 users sharing a far cell 3 hours → one cold pair
    val cold = for (u <- 500 until 502; h <- 0 until 3)
      yield (u.toLong, h * H, -75.0, -170.0)
    val pts = (hot ++ cold).toDF("user_id", "ts_us", "lat", "lon")
    val plain = convoy(pts, minHours = 3)
    val split = pairsOf(Endgame.distributed(Convoy.coTravelers(pts, cellDeg = 20.0,
        minHours = 3, hotUsers = 50, groups = 4)))
    assert(split == plain, s"triangle-split changed the result: " +
      s"missing=${(plain.toSet -- split).take(3)} extra=${(split.toSet -- plain).take(3)}")
    // Adaptive width on the same planted bucket: 150 users past a 50
    // threshold derives g = 3, again output-identical.
    val adaptive = pairsOf(Endgame.distributed(Convoy.coTravelers(pts, cellDeg = 20.0,
        minHours = 3, hotUsers = 50)))
    assert(adaptive == plain, s"adaptive split changed the result: " +
      s"missing=${(plain.toSet -- adaptive).take(3)} extra=${(adaptive.toSet -- plain).take(3)}")
    assert(split.count { case (u1, _, _) => u1 < 500L } == 150L * 149 / 2,
      "hot bucket must still emit every C(150,2) pair")
    assert(split.contains((500L, 501L, 3L)), "cold-branch pair must survive the union")
  }

  test("grid-pruned kNN is exact: both keys match a true full scan, kth inside the safe radius") {
    // q_geo_knn_grid scores only the probe cell's 5×5 ring; exactness needs
    // the 5th-neighbour distance to stay below the minimum distance from
    // the probe to the ring boundary (anything outside the ring is at
    // least that far). Since r8 q_geo_knn itself rides the ring-growth
    // search, the full-scan TRUTH is computed here (same derivation as the
    // oracle SQL) rather than borrowed from a declared key.
    import org.apache.spark.sql.functions._
    val full = Tables(spark, sf, "events")
      .withColumn("lat", (col("event_id") * 37L % 1700L) / 10.0 - 85.0)
      .withColumn("lon", (col("event_id") * 131L % 3600L) / 10.0 - 180.0)
      .withColumn("dist_km", round(graft.functions.HaversineDist.haversineKm(
        col("lat"), col("lon"), lit(10.0), lit(20.0)), 3))
      .select(col("event_id"), col("dist_km"))
      .orderBy(col("dist_km"), col("event_id")).limit(5)
      .as[(Long, Double)].collect().toList
    val ringGrown = SparkEntry.queries("q_geo_knn")(spark, sf)
      .as[(Long, Double)].collect().toList
    val pruned = SparkEntry.queries("q_geo_knn_grid")(spark, sf)
      .as[(Long, Double)].collect().toList
    assert(ringGrown == full, s"ring-grown=$ringGrown full=$full")
    assert(pruned == full, s"pruned=$pruned full=$full")
    val kth = full.last._2
    // ring=2 box: lat ∈ [-10, 40), lon ∈ [0, 50) around probe (10, 20)
    val safe = graft.operators.GridKnn.safeRadiusKm(10.0, 20.0, -10.0, 40.0, 0.0, 50.0)
    assert(kth < safe, s"ring=2 unsafe: kth=$kth km but boundary only $safe km away")
  }

  test("grid kNN ring growth: planted sparse density forces wider rings, result exact") {
    // Probe (10, 20), cell 10°. Only 4 points live inside ring 1's box —
    // fewer than k=5, so ring 1 must be rejected on count. Ring 2 contains
    // a 5th point at (10, 44) whose ~2630 km distance EXCEEDS ring 2's
    // ~2000 km safe radius — a point just outside the box could still be
    // closer, so ring 2 must be rejected on the certificate. Ring 3
    // (safe ≈ 2950 km) certifies. Decoys sit beyond the true top-5 to
    // prove the certified result matches a driver-side brute force.
    val pts = Seq(
      (1L, 11.0, 21.0), (2L, 12.0, 22.0), (3L, 13.0, 19.0), (4L, 9.0, 18.0),
      (5L, 10.0, 44.0),               // in ring 2, past its safe radius
      (6L, 10.0, 55.0), (7L, -40.0, 20.0) // decoys: ring 3 / outside it
    ).toDF("event_id", "lat", "lon")
    val (df, ring) = graft.operators.GridKnn.topK(pts, 10.0, 20.0, 10.0, k = 5)
    assert(ring == 3, s"expected the certificate to settle at ring 3, got $ring")
    val km = graft.functions.HaversineDist.km _
    val want = Seq((1L, 11.0, 21.0), (2L, 12.0, 22.0), (3L, 13.0, 19.0),
        (4L, 9.0, 18.0), (5L, 10.0, 44.0), (6L, 10.0, 55.0), (7L, -40.0, 20.0))
      .map { case (id, la, lo) =>
        (id, BigDecimal(km(la, lo, 10.0, 20.0))
          .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, d) => (d, id) }.take(5).toList
    val got = df.as[(Long, Double)].collect().toList
    assert(got == want, s"certified ring must equal brute force: got=$got want=$want")
  }

  private def bruteKnn(pts: Seq[(Long, Double, Double)], pLat: Double,
                       pLon: Double, k: Int): List[(Long, Double)] = {
    val km = graft.functions.HaversineDist.km _
    pts.map { case (id, la, lo) =>
      (id, BigDecimal(km(la, lo, pLat, pLon))
        .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, d) => (d, id) }.take(k).toList
  }

  test("grid kNN near the antimeridian: wrapped box finds cross-dateline points") {
    // Probe at (0, 179): the true nearest neighbours sit at lon −179.5 /
    // −178.8, STORED on the other side of ±180°. The naive [lonLo, lonHi)
    // box (lonHi up to 181+) can never match lon = −179.5, so this is the
    // exact failure ADVICE r8 flagged; the wrapped two-range disjunction
    // must surface them AND the certificate must still certify the ring.
    val pts = Seq(
      (1L, 0.0, -179.5), (2L, 0.5, -178.8),          // across the dateline
      (3L, 0.0, 178.2), (4L, -0.7, 179.4),            // same side as probe
      (5L, 0.2, -178.1),                              // across, a bit farther
      (6L, 0.0, 170.0), (7L, 5.0, -175.0), (8L, -30.0, 179.0) // decoys
    ).toDF("event_id", "lat", "lon")
    val (df, ring) = graft.operators.GridKnn.topK(pts, 0.0, 179.0, 1.0, k = 5)
    val got = df.as[(Long, Double)].collect().toList
    val want = bruteKnn(Seq(
      (1L, 0.0, -179.5), (2L, 0.5, -178.8), (3L, 0.0, 178.2), (4L, -0.7, 179.4),
      (5L, 0.2, -178.1), (6L, 0.0, 170.0), (7L, 5.0, -175.0), (8L, -30.0, 179.0)),
      0.0, 179.0, 5)
    assert(got == want, s"dateline top-5 must equal brute force: got=$got want=$want")
    assert(got.map(_._1).toSet.intersect(Set(1L, 2L, 5L)).size == 3,
      s"cross-dateline points must be in the top-5: $got")
    assert(ring < 20, s"certificate must fire, not the fallback: ring=$ring")
  }

  test("grid kNN at a pole: lat-band predicate keeps all longitudes reachable") {
    // Probe at (89.5, 0), cell 1°: ring boxes instantly cross the north
    // pole. Points at wildly different longitudes are all within ~150 km of
    // the probe near the pole; the pole-aware predicate must drop the lon
    // constraint (and the certificate must ignore the swallowed edges) so
    // none of them is missed.
    val pts = Seq(
      (1L, 89.6, 180.0 - 1e-9), (2L, 89.4, -90.0), (3L, 89.8, 90.0),
      (4L, 89.2, 10.0), (5L, 88.9, -170.0),
      (6L, 60.0, 0.0), (7L, 20.0, 100.0) // decoys far south
    ).toDF("event_id", "lat", "lon")
    val (df, ring) = graft.operators.GridKnn.topK(pts, 89.5, 0.0, 1.0, k = 5)
    val got = df.as[(Long, Double)].collect().toList
    val want = bruteKnn(Seq(
      (1L, 89.6, 180.0 - 1e-9), (2L, 89.4, -90.0), (3L, 89.8, 90.0),
      (4L, 89.2, 10.0), (5L, 88.9, -170.0), (6L, 60.0, 0.0), (7L, 20.0, 100.0)),
      89.5, 0.0, 5)
    assert(got == want, s"polar top-5 must equal brute force: got=$got want=$want")
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L), s"all near-pole points: $got")
    assert(ring < 20, s"certificate must fire, not the fallback: ring=$ring")
  }

  test("grid kNN ring-budget exhaustion falls back to the exact FULL scan") {
    // cell 0.001° and maxRing 3 ⇒ the widest box spans < 0.01°, holding
    // only the probe-adjacent point — fewer than k, so no certificate can
    // fire. The fallback must return brute-force truth (box filter
    // DROPPED), not a silently-truncated boxed result (ADVICE r8).
    val pts = Seq(
      (1L, 10.0001, 20.0001), (2L, 11.0, 21.0), (3L, 12.0, 19.0),
      (4L, 9.0, 18.0), (5L, 40.0, 120.0)
    ).toDF("event_id", "lat", "lon")
    val (df, ring) = graft.operators.GridKnn.topK(
      pts, 10.0, 20.0, cellDeg = 0.001, k = 4, maxRing = 3)
    assert(ring == 3, s"budget must exhaust at maxRing, got $ring")
    val got = df.as[(Long, Double)].collect().toList
    val want = bruteKnn(Seq(
      (1L, 10.0001, 20.0001), (2L, 11.0, 21.0), (3L, 12.0, 19.0),
      (4L, 9.0, 18.0), (5L, 40.0, 120.0)), 10.0, 20.0, 4)
    assert(got == want, s"fallback must be the exact full scan: got=$got want=$want")
  }

  test("convoy: triangle-split matches plain on random point clouds") {
    // Beyond the planted-bucket case: random data with mixed densities,
    // several thresholds/group widths — the split must be output-identical
    // everywhere, including thresholds low enough that EVERY bucket salts.
    val H = 3600L * 1000000L
    val rnd = new scala.util.Random(13)
    val pts = Seq.tabulate(800) { i =>
      val u = rnd.nextInt(120).toLong
      val h = rnd.nextInt(6)
      // clustered lat/lon so buckets of many sizes arise
      (u, h * H + rnd.nextInt(1000000),
        rnd.nextInt(4) * 20.0 + rnd.nextDouble(),
        rnd.nextInt(3) * 25.0 + rnd.nextDouble())
    }.toDF("user_id", "ts_us", "lat", "lon")
    val plain = convoy(pts, minHours = 2)
    assert(plain.nonEmpty, "random cloud should produce co-travel pairs")
    // g = 0 is the ADAPTIVE width (ceil(bn / hotUsers) per bucket): th=1
    // salts every bucket at its own width, th=25 splits only the hot ones.
    for ((th, g) <- Seq((1, 4), (10, 3), (40, 8), (1, 0), (25, 0))) {
      val split = pairsOf(Endgame.distributed(Convoy.coTravelers(pts, cellDeg = 20.0,
          minHours = 2, hotUsers = th, groups = g)))
      assert(split == plain, s"hotUsers=$th groups=$g: " +
        s"missing=${(plain.toSet -- split).take(3)} extra=${(split.toSet -- plain).take(3)}")
    }
  }

  test("convoy: pairs below minHours are dropped, across-cell users never pair") {
    val H = 3600L * 1000000L
    val pts = Seq(
      // users 1,2: same cell hours 0,1,2 → pair (3 hours)
      (1L, 0L, 10.0, 10.0), (2L, 0L, 11.0, 11.0),
      (1L, H, 10.0, 10.0), (2L, H, 11.0, 11.0),
      (1L, 2 * H, 10.0, 10.0), (2L, 2 * H, 11.0, 11.0),
      // user 3 joins them for only 2 hours → no pair with anyone
      (3L, 0L, 12.0, 12.0), (3L, H, 12.0, 12.0),
      // user 4 is always one cell east → never pairs
      (4L, 0L, 10.0, 25.0), (4L, H, 10.0, 25.0), (4L, 2 * H, 10.0, 25.0)
    ).toDF("user_id", "ts_us", "lat", "lon")
    val got = convoy(pts, minHours = 3)
    assert(got == List((1L, 2L, 3L)), s"expected only (1,2,3): $got")
  }

  test("convoy: a pair meeting in two cells within one hour counts that hour once; duplicate fixes count once") {
    val H = 3600L * 1000000L
    val pts = Seq(
      // hour 0: users 1 and 2 meet in cell (0, 0), then in cell (0, 1)
      (1L, 0L, 10.0, 10.0), (2L, 0L, 11.0, 11.0),
      (1L, 60000000L, 10.0, 30.0), (2L, 60000000L, 11.0, 31.0),
      // hour 1: the same cell, fixed three and two times
      (1L, H, 10.0, 10.0), (1L, H + 1, 10.5, 10.5), (1L, H + 2, 10.0, 10.0),
      (2L, H, 11.0, 11.0), (2L, H + 5, 11.0, 11.0)
    ).toDF("user_id", "ts_us", "lat", "lon")
    assert(convoy(pts, minHours = 2) == List((1L, 2L, 2L)))
    assert(convoy(pts, minHours = 3) == Nil)
  }

  test("convoy: rows with a NULL user_id, ts_us or lat are dropped") {
    val H = 3600L * 1000000L
    val pts = Seq[(Option[Long], Option[Long], Option[Double], Double)](
      // users 1 and 2 share hours 0 and 1
      (Some(1L), Some(0L), Some(10.0), 10.0), (Some(2L), Some(0L), Some(11.0), 11.0),
      (Some(1L), Some(H), Some(10.0), 10.0), (Some(2L), Some(H), Some(11.0), 11.0),
      // hour 2: user 2's fix has no lat (read as 0.0 it would join user 1)
      (Some(1L), Some(2 * H), Some(10.0), 10.0), (Some(2L), Some(2 * H), None, 0.0),
      // user 3: hour 1 with both, and a fix with no time (read as hour 0,
      // it would make a second hour)
      (Some(3L), Some(H), Some(12.0), 12.0), (Some(3L), None, Some(12.0), 12.0),
      // a fix with no user beside them every hour pairs with no one
      (None, Some(0L), Some(13.0), 13.0), (None, Some(H), Some(13.0), 13.0),
      (None, Some(2 * H), Some(13.0), 13.0)
    ).toDF("user_id", "ts_us", "lat", "lon")
    assert(convoy(pts, minHours = 2) == List((1L, 2L, 2L)))
    assert(convoy(pts, minHours = 3) == Nil)
    assert(convoy(pts, minHours = 1) == List((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("convoy: an empty input and an input with a NULL in every row give no pairs") {
    // distributed inputs, which the optimizer cannot prove empty, so the
    // forced path keeps its bucket join
    val rows = spark.range(0, 90, 1, 3)
    assert(convoy(rows.filter("id < 0").selectExpr("id AS user_id", "id AS ts_us",
      "1.0 AS lat", "1.0 AS lon"), minHours = 1) == Nil)
    assert(convoy(rows.selectExpr("IF(id % 3 = 0, NULL, id % 7) AS user_id",
      "IF(id % 3 = 1, NULL, 0L) AS ts_us", "IF(id % 3 = 2, NULL, 1.0) AS lat",
      "1.0 AS lon"), minHours = 1) == Nil)
    // driver-resident inputs: the forced plan folds to an empty relation
    val empty = Seq.empty[(Long, Long, Double, Double)].toDF("user_id", "ts_us", "lat", "lon")
    val noUser = Seq[(Option[Long], Long, Double, Double)]((None, 0L, 1.0, 1.0),
      (None, 0L, 1.0, 1.0)).toDF("user_id", "ts_us", "lat", "lon")
    for (pts <- Seq(empty, noUser)) {
      val local = Convoy.coTravelers(pts, cellDeg = 20.0, minHours = 1)
      val forced = Endgame.distributed(Convoy.coTravelers(pts, cellDeg = 20.0, minHours = 1))
      assert(isLocal(local) && local.schema == forced.schema)
      assert(pairsOf(local) == Nil && pairsOf(forced) == Nil)
    }
  }

  test("convoy: an INT user_id takes the bucket join and keeps its type") {
    val H = 3600L * 1000000L
    val fixes = Seq((1, 0L, 10.0, 10.0), (2, 0L, 11.0, 11.0), (3, 0L, 50.0, 50.0),
      (1, H, 10.0, 10.0), (2, H, 11.0, 11.0), (3, H, 12.0, 12.0))
    val ints = fixes.toDF("user_id", "ts_us", "lat", "lon")
    val got = Convoy.coTravelers(ints, cellDeg = 20.0, minHours = 1)
    assert(!isLocal(got) && hasJoin(got))
    assert(got.schema("u1").dataType == org.apache.spark.sql.types.IntegerType)
    val longs = fixes.map { case (u, t, a, o) => (u.toLong, t, a, o) }
      .toDF("user_id", "ts_us", "lat", "lon")
    assert(pairsOf(got) == convoy(longs, minHours = 1))
    assert(pairsOf(got) == List((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("convoy path choice: the driver endgame in the gate's jobs below the budget, the bucket join past it") {
    val H = 3600L * 1000000L
    // a distributed input of three partitions
    val pts = spark.range(0, 600, 1, 3).selectExpr("id % 40 AS user_id",
      s"(id div 40 % 5) * $H AS ts_us", "(id % 3) * 20.0 + 1.0 AS lat", "1.0 AS lon")
    var local: DataFrame = null
    val (jobs, shuffled) = workDuring {
      local = Convoy.coTravelers(pts, cellDeg = 20.0, minHours = 2)
    }
    assert(isLocal(local))
    // the gate's count and collect; only the count's per-partition
    // partial counts are shuffled
    assert(jobs <= 3 && shuffled <= 3, s"jobs=$jobs shuffled records=$shuffled")
    val forced = Endgame.distributed(Convoy.coTravelers(pts, cellDeg = 20.0, minHours = 2))
    assert(!isLocal(forced) && hasJoin(forced))
    assert(local.schema == forced.schema)
    assert(pairsOf(local) == pairsOf(forced) && pairsOf(local).nonEmpty)
    // the fixture's events (a parquet scan, nullable user_id) on both paths
    val events = Tables(spark, sf, "events").selectExpr("user_id", "unix_micros(ts) AS ts_us",
      "((event_id * 37) % 1700) / 10.0 - 85.0 AS lat",
      "((event_id * 131) % 3600) / 10.0 - 180.0 AS lon")
    assert(convoy(events, minHours = 2).nonEmpty)

    // one bucket of 1,449 users: C(1449, 2) = 1,049,076 candidate pairs
    // exceed the budget, so the bucket join is returned, unexecuted (the
    // driver-resident input is gated and fetched with no job)
    assert(1449L * 1448 / 2 > Endgame.Budget)
    val hot = (0L until 1449L).map(u => (u, 0L, 1.0, 1.0)).toDF("user_id", "ts_us", "lat", "lon")
    var big: DataFrame = null
    assert(jobsDuring { big = Convoy.coTravelers(hot, cellDeg = 20.0, minHours = 1) } == 0)
    assert(!isLocal(big) && hasJoin(big))
  }

  test("DistanceJoin: planted pairs — antimeridian wrap, cell-boundary, just-outside") {
    import graft.operators.DistanceJoin
    val left = Seq(
      (1L, 10.0, 179.9),   // pairs with depot 100 ACROSS the antimeridian
      (2L, 50.0, 4.01),    // pairs with depot 101 across a 4° cell boundary
      (3L, 10.0, 30.0),    // depot 102 sits ~222 km away — outside 200 km
      (4L, 70.0, 10.0)     // outside the |lat| ≤ 60 service area: excluded
    ).toDF("id", "lat", "lon")
    val right = Seq(
      (100L, 10.0, -179.9), // Δlon = 359.8° in coordinates, ~22 km on earth
      (101L, 50.0, 3.99),
      (102L, 12.0, 30.0),   // 2° of latitude = ~222 km from point 3
      (103L, 70.0, 10.01)   // would trivially pair with 4 — both excluded
    ).toDF("rid", "rlat", "rlon")
    val got = DistanceJoin.within(left, "lat", "lon", right, "rlat", "rlon",
        epsKm = 200.0, cellDeg = 4.0, maxAbsLat = 60.0)
      .select($"id", $"rid", $"km").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(got == Set((1L, 100L), (2L, 101L)),
      s"planted pairs: want wrap + boundary only, got $got")
  }

  test("DistanceJoin: misconfiguration throws instead of silently missing pairs") {
    val df = Seq((1L, 0.0, 0.0)).toDF("id", "lat", "lon")
    val r = Seq((2L, 0.0, 0.0)).toDF("rid", "rlat", "rlon")
    // 500 km needs ~4.5° of latitude — a 4° cell cannot certify the 3×3
    val ex = intercept[IllegalArgumentException] {
      graft.operators.DistanceJoin.within(df, "lat", "lon", r, "rlat", "rlon",
        epsKm = 500.0, cellDeg = 4.0, maxAbsLat = 60.0)
    }
    assert(ex.getMessage.contains("neighborhood"))
    // same ε is fine with a big enough cell
    val ok = graft.operators.DistanceJoin.within(df, "lat", "lon", r, "rlat", "rlon",
      epsKm = 500.0, cellDeg = 10.0, maxAbsLat = 60.0)
    assert(ok.count() == 1)
    // a cellDeg that does not tile 360° leaves a narrow seam cell on the
    // modular lon ring — the 3×3 adjacency proof breaks there, so the
    // operator must refuse (7° passes both step bounds for eps=340 yet
    // cell 51 would span only 3°)
    val seam = intercept[IllegalArgumentException] {
      graft.operators.DistanceJoin.within(df, "lat", "lon", r, "rlat", "rlon",
        epsKm = 340.0, cellDeg = 7.0, maxAbsLat = 60.0)
    }
    assert(seam.getMessage.contains("divide"))
  }

  test("q_geo_polygon equals an independent driver ray-free half-plane recount") {
    import org.apache.spark.sql.functions.{col, expr}
    // The pentagon re-declared HERE from the published coordinates — an
    // independent copy, so a drifted literal in the query or oracle breaks
    // this test rather than passing parity by construction.
    val verts = Vector((-60.0, -35.0), (45.0, -50.0), (95.0, 10.0),
                       (20.0, 55.0), (-75.0, 30.0)) // (lon, lat), CCW
    // sanity: strictly convex and counterclockwise
    verts.indices.foreach { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % 5)
      val (x3, y3) = verts((i + 2) % 5)
      val cross = (x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2)
      assert(cross > 0, s"vertex $i breaks CCW convexity")
    }
    def inside(lon: Double, lat: Double): Boolean =
      verts.indices.forall { i =>
        val (x1, y1) = verts(i)
        val (x2, y2) = verts((i + 1) % 5)
        (x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1) >= 0
      }
    // spot geometry: centroid in, far corners out, a vertex on the boundary in
    assert(inside(5.0, 2.0) && !inside(-179.0, 80.0) && !inside(100.0, -60.0))
    assert(inside(-60.0, -35.0), "boundary (vertex) is inclusive")

    val pts = Tables(spark, sf, "events")
      .select(col("event_type"),
        (expr("(event_id * 37) % 1700") / 10.0 - 85.0).as("lat"),
        (expr("(event_id * 131) % 3600") / 10.0 - 180.0).as("lon"))
      .as[(String, Double, Double)].collect()
    val lonMin = verts.map(_._1).min; val lonMax = verts.map(_._1).max
    val latMin = verts.map(_._2).min; val latMax = verts.map(_._2).max
    val expected = pts
      .filter(p => p._3 >= lonMin && p._3 <= lonMax && p._2 >= latMin && p._2 <= latMax)
      .groupBy(_._1).map { case (tpe, rows) =>
        (tpe, rows.length.toLong, rows.count(p => inside(p._3, p._2)).toLong)
      }.toList.sortBy(_._1)
    val got = SparkEntry.queries("q_geo_polygon")(spark, sf)
      .select(col("event_type"), col("n_bbox"), col("n_inside"))
      .as[(String, Long, Long)].collect().toList.sortBy(_._1)
    assert(got == expected)
    assert(got.exists(_._3 > 0), "fixture must land points inside the pentagon")
    assert(got.exists(r => r._3 < r._2), "bbox must not equal the pentagon")
  }

  test("q_graph_assort is a valid correlation and agrees with the degree key's totals") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q_graph_assort")(spark, sf)
      .as[(Long, Long, Option[Double])].collect().toList
    assert(got.size == 1)
    val (nEdges, nVerts, r) = got.head
    r.foreach(v => assert(v >= -1.0 && v <= 1.0))
    // cross-key consistency: the degree histogram implies the same edge
    // and vertex totals (two independently oracle-checked paths)
    val degHist = SparkEntry.queries("q_graph_degree")(spark, sf)
      .select(col("degree"), col("n_users")).as[(Long, Long)].collect()
    assert(nVerts == degHist.map(_._2).sum)
    assert(nEdges == degHist.map(h => h._1 * h._2).sum / 2)
  }

  test("q_geo_zorder: aligned z-buckets are ≤32×32 rectangles, row order is not, z is a true interleave") {
    import org.apache.spark.sql.functions.{col, max, min}
    val got = SparkEntry.queries("q_geo_zorder")(spark, sf)
      .select(col("z_bucket"), col("n"), col("min_z"), col("max_z"),
              col("lat_span"), col("lon_span"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(got.nonEmpty)
    got.foreach { case (zb, n, minZ, maxZ, latSpan, lonSpan) =>
      assert(n > 0)
      // z values stay inside their aligned 1024-value bucket
      assert(minZ >= zb * 1024 && maxZ < (zb + 1) * 1024)
      // an aligned 2^10 prefix fixes the top 3 bits of BOTH coordinates →
      // every bucket is a ≤32×32-cell rectangle (THE data-skipping claim)
      assert(latSpan <= 31 && lonSpan <= 31,
        s"bucket $zb spans ${latSpan}x$lonSpan — z-locality broken")
    }
    // independent driver recomputation of the interleave on a sample: the
    // parity oracle proves cross-engine agreement, this proves both match
    // the DEFINITION (bit i of latc at position 2i+1, lonc at 2i)
    val cells = Tables(spark, sf, "events")
      .selectExpr("(((event_id * 37) % 1700) * 256) div 1700 AS latc",
                  "(((event_id * 131) % 3600) * 256) div 3600 AS lonc")
      .as[(Long, Long)].collect()
    def morton(latc: Long, lonc: Long): Long =
      (0 until 8).map { i =>
        (((latc >> i) & 1L) << (2 * i + 1)) | (((lonc >> i) & 1L) << (2 * i))
      }.sum
    val zs = cells.map { case (la, lo) => morton(la, lo) }
    val wantBuckets = zs.groupBy(_ / 1024).map { case (b, vs) =>
      (b, vs.length.toLong, vs.min, vs.max)
    }.toList.sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3, r._4)) == wantBuckets)
    // the contrast that justifies the layout: bucketing the SAME rows by
    // arrival order (1024 consecutive event_ids) gives near-full-width
    // tiles — parquet min/max stats on lat/lon would prune nothing
    val rowOrder = Tables(spark, sf, "events")
      .selectExpr("event_id div 1024 AS b",
                  "(((event_id * 37) % 1700) * 256) div 1700 AS latc")
      .groupBy(col("b")).agg((max(col("latc")) - min(col("latc"))).as("span"))
      .as[(Long, Long)].collect()
    assert(rowOrder.map(_._2).max > 200,
      "row-order buckets unexpectedly compact — the fixture no longer demonstrates the contrast")
  }

  /** Raw fixes with the pseudo-coord formula, per user in (ts, id) order —
    * shared by the trips and rog recomputation tests. */
  private def fixesByUser(): Map[Long, Seq[(Long, Double, Double)]] =
    Tables(spark, sf, "events")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us",
        "((event_id * 37) % 1700) / 10.0D - 85.0D AS lat",
        "((event_id * 131) % 3600) / 10.0D - 180.0D AS lon")
      .as[(Long, Long, Long, Double, Double)].collect().toList
      .groupBy(_._1).view.mapValues(
        _.sortBy(r => (r._3, r._2)).map(r => (r._3, r._4, r._5))).toMap

  test("q_traj_trips equals a driver fold over each user's ordered fixes") {
    val got = SparkEntry.queries("q_traj_trips")(spark, sf)
      .as[(Long, Long, Double, Option[Double], Long)].collect().toList.sortBy(_._1)
    assert(got.nonEmpty)
    def dec4(x: Double) =
      new java.math.BigDecimal(x).setScale(4, java.math.RoundingMode.HALF_UP)
    def rnd(x: Double, s: Int) =
      new java.math.BigDecimal(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue
    val gap = 43200000000L
    val want = fixesByUser().toList.sortBy(_._1).map { case (u, pts) =>
      // walk segments; a trip is a maximal run with dt ≤ gap between fixes
      val trips = List.newBuilder[(Option[java.math.BigDecimal], Long)]
      var curKm: Option[java.math.BigDecimal] = None
      var curDur = 0L
      pts.sliding(2).foreach {
        case Seq((t1, la1, lo1), (t2, la2, lo2)) =>
          val dt = t2 - t1
          if (dt > gap) { trips += ((curKm, curDur)); curKm = None; curDur = 0L }
          else {
            val km = dec4(graft.functions.HaversineDist.km(la1, lo1, la2, lo2))
            curKm = Some(curKm.fold(km)(_ add km)); curDur += dt
          }
        case _ => ()
      }
      trips += ((curKm, curDur))
      val ts = trips.result()
      val kms = ts.map(_._1.map(_.doubleValue))
      val total = kms.flatten.map(dec4) match {
        case Nil => None
        case ds  => Some(rnd(ds.reduce(_ add _).doubleValue, 1))
      }
      (u, ts.length.toLong, rnd(kms.map(_.getOrElse(0.0)).max, 1),
        total, ts.map(_._2).sum)
    }
    got.zip(want).foreach { case ((u, n, lng, tot, mv), (wu, wn, wlng, wtot, wmv)) =>
      assert(u == wu && n == wn, s"user $u trips: got $n want $wn")
      assert(lng == wlng, s"user $u longest: got $lng want $wlng")
      assert(tot == wtot, s"user $u total: got $tot want $wtot")
      assert(mv == wmv, s"user $u moving_us: got $mv want $wmv")
    }
  }

  test("q_traj_heading equals a driver octant recount; sectors partition the segments") {
    val got = SparkEntry.queries("q_traj_heading")(spark, sf)
      .as[(String, Long, Long, Double)].collect().toList.sortBy(_._1)
    assert(got.nonEmpty)
    def rnd(x: Double, s: Int) =
      new java.math.BigDecimal(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue
    def sector(dlat: Double, dlon: Double): String =
      if (math.abs(dlon) >= math.abs(dlat))
        if (dlon >= 0.0) { if (dlat >= 0.0) "E+" else "E-" }
        else { if (dlat >= 0.0) "W+" else "W-" }
      else if (dlat >= 0.0) { if (dlon >= 0.0) "N+" else "N-" }
      else { if (dlon >= 0.0) "S+" else "S-" }
    val segs = fixesByUser().toList.flatMap { case (u, pts) =>
      pts.sliding(2).collect {
        case Seq((_, la1, lo1), (_, la2, lo2))
            if la2 - la1 != 0.0 || lo2 - lo1 != 0.0 =>
          (u, sector(la2 - la1, lo2 - lo1))
      }
    }
    val total = segs.length.toLong
    val want = segs.groupBy(_._2).toList.sortBy(_._1).map { case (sec, rs) =>
      (sec, rs.length.toLong, rs.map(_._1).distinct.length.toLong,
        rnd(rs.length.toDouble / total, 6))
    }
    assert(got == want, s"got $got want $want")
    assert(got.map(_._2).sum == total, "sectors must partition the segments")
  }

  test("q_traj_rog equals a driver recomputation and is bounded by the max excursion") {
    val got = SparkEntry.queries("q_traj_rog")(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toList.sortBy(_._1)
    assert(got.nonEmpty)
    def dec4(x: Double) =
      new java.math.BigDecimal(x).setScale(4, java.math.RoundingMode.HALF_UP)
    def rnd(x: Double, s: Int) =
      new java.math.BigDecimal(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue
    val want = fixesByUser().toList.sortBy(_._1).map { case (u, pts) =>
      val n = pts.length
      val clat = pts.map(p => dec4(p._2)).reduce(_ add _).doubleValue / n
      val clon = pts.map(p => dec4(p._3)).reduce(_ add _).doubleValue / n
      val ds = pts.map(p => graft.functions.HaversineDist.km(p._2, p._3, clat, clon))
      val msq = ds.map(d => dec4(d * d)).reduce(_ add _).doubleValue / n
      (u, n.toLong, rnd(math.sqrt(msq), 1), rnd(ds.max, 1))
    }
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    got.foreach { case (_, _, rog, mx) => assert(rog >= 0.0 && rog <= mx) }
  }

  test("q_geo_moran equals a driver lattice recomputation; W is the queen-ring constant") {
    val Seq((nCells, w, iM, eI, z)) = SparkEntry.queries("q_geo_moran")(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // 16 interior lat rows x 36 lons x 8 neighbors + 2 edge rows x 5
    assert(nCells == 648L && w == 16L * 36 * 8 + 2L * 36 * 5)
    def rnd(x: Double, s: Int) =
      new java.math.BigDecimal(x).setScale(s, java.math.RoundingMode.HALF_UP)
        .doubleValue
    assert(eI == rnd(-1.0 / 647.0, 6))
    // driver recomputation from raw events through the same derivation
    val cells = Tables(spark, sf, "events")
      .selectExpr("CAST(floor((((event_id * 37) % 1700) / 10.0 - 85.0) / 10.0) AS LONG) AS la",
                  "pmod(CAST(floor(((((event_id * 131) % 3600) / 10.0 - 180.0) + 180.0) / 10.0) AS LONG), 36L) AS lo")
      .groupBy("la", "lo").count().as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val xs = for (la <- -9L to 8L; lo <- 0L to 35L)
      yield (la, lo) -> cells.getOrElse((la, lo), 0L)
    val xm = xs.toMap
    val n = xs.size
    val mean = xs.map(_._2).sum.toDouble / n
    var num = 0.0; var ww = 0L
    for (((la, lo), x) <- xs; dla <- -1L to 1L; dlo <- -1L to 1L
         if !(dla == 0L && dlo == 0L) && la + dla >= -9L && la + dla <= 8L) {
      num += (x - mean) * (xm((la + dla, ((lo + dlo) % 36 + 36) % 36)) - mean)
      ww += 1
    }
    val den = xs.map { case (_, x) => (x - mean) * (x - mean) }.sum
    assert(ww == w)
    val iRef = (n.toDouble / ww) * (num / den)
    assert(math.abs(iM - iRef) < 1e-4, s"I $iM vs driver $iRef")
    // the z-score must agree in sign and magnitude class with I vs E[I]
    assert((iM > eI) == (z > 0.0))
  }

  test("q_geo_lisa: quadrants match the z/lag sign pair, I matches a driver recount") {
    val got = SparkEntry.queries("q_geo_lisa")(spark, sf)
      .as[(Long, Long, Long, Long, Double, String)].collect().toList
    assert(got.size == 15)
    def rnd6(x: Double) =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue
    // rebuild the full lattice in the driver through the same derivation
    val cells = Tables(spark, sf, "events")
      .selectExpr("CAST(floor((((event_id * 37) % 1700) / 10.0 - 85.0) / 10.0) AS LONG) AS la",
                  "pmod(CAST(floor(((((event_id * 131) % 3600) / 10.0 - 180.0) + 180.0) / 10.0) AS LONG), 36L) AS lo")
      .groupBy("la", "lo").count().as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val xm = (for (la <- -9L to 8L; lo <- 0L to 35L)
      yield (la, lo) -> cells.getOrElse((la, lo), 0L)).toMap
    val n = xm.size
    val sx = xm.values.sum
    val sxx = xm.values.map(x => BigInt(x) * x).sum
    val den = BigInt(n) * sxx - BigInt(sx) * sx
    got.foreach { case (la, lo, x, wI, iL, quad) =>
      assert(x == xm((la, lo)))
      val nbrs = for (dla <- -1L to 1L; dlo <- -1L to 1L
                      if !(dla == 0L && dlo == 0L) && la + dla >= -9L && la + dla <= 8L)
        yield xm((la + dla, ((lo + dlo) % 36 + 36) % 36))
      assert(wI == nbrs.size.toLong)
      val f1 = BigInt(n) * x - sx
      val f2 = BigInt(n) * nbrs.sum - BigInt(wI) * sx
      assert(iL == rnd6((f1 * f2).toDouble / den.toDouble), s"cell ($la,$lo)")
      val expQuad =
        if (f1 > 0 && f2 > 0) "HH" else if (f1 < 0 && f2 < 0) "LL"
        else if (f1 > 0 && f2 < 0) "HL" else if (f1 < 0 && f2 > 0) "LH"
        else null
      assert(quad == expQuad, s"cell ($la,$lo)")
    }
    // ranked by |numerator| — i_local magnitudes must be non-increasing
    got.map(_._5).map(math.abs).sliding(2).foreach {
      case Seq(a, b) => assert(a >= b - 1e-9)
      case _ => ()
    }
  }

  test("q_geo_coloc: participation ratios equal a driver recount; PI = min and symmetric") {
    val got = SparkEntry.queries("q_geo_coloc")(spark, sf)
      .as[(String, String, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toList
    assert(got.size == 10) // C(5,2) type pairs
    def rnd6(x: Double) =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue
    val inst = Tables(spark, sf, "events")
      .selectExpr("event_type",
        "CAST(floor((((event_id * 37) % 1700) / 10.0 - 85.0) / 10.0) AS LONG) AS la",
        "pmod(CAST(floor(((((event_id * 131) % 3600) / 10.0 - 180.0) + 180.0) / 10.0) AS LONG), 36L) AS lo")
      .as[(String, Long, Long)].collect().toList
    val cellsOf = inst.groupBy(_._1).map { case (t, rs) =>
      t -> rs.map(r => (r._2, r._3)) }
    got.foreach { case (t1, t2, n1w, n1t, n2w, n2t, pr1, pr2, pi) =>
      assert(t1 < t2)
      val c2 = cellsOf(t2).toSet
      val c1 = cellsOf(t1).toSet
      assert(n1t == cellsOf(t1).size.toLong && n2t == cellsOf(t2).size.toLong)
      assert(n1w == cellsOf(t1).count(c2.contains).toLong, s"$t1-$t2")
      assert(n2w == cellsOf(t2).count(c1.contains).toLong, s"$t1-$t2")
      assert(pr1 == rnd6(n1w.toDouble / n1t) && pr2 == rnd6(n2w.toDouble / n2t))
      assert(pi == math.min(pr1, pr2) && pi >= 0.0 && pi <= 1.0)
    }
  }

  test("q_graph_richclub equals a driver recount; phi is monotone where defined on a planted core") {
    val got = SparkEntry.queries("q_graph_richclub")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toList
    assert(got.map(_._1) == List(1L, 2L, 3L, 4L, 5L))
    // independent recount over the operator-level pair set (the shared
    // co-traveler substrate every graph spec re-derives)
    val deg = scala.collection.mutable.Map.empty[Long, Long]
    val es = graft.operators.Convoy.coTravelers(
      Tables(spark, sf, "events")
        .selectExpr("user_id", "unix_micros(ts) AS ts_us",
          "((event_id * 37) % 1700) / 10.0 - 85.0 AS lat",
          "((event_id * 131) % 3600) / 10.0 - 180.0 AS lon"),
      cellDeg = 20.0, minHours = 2)
      .selectExpr("u1", "u2").as[(Long, Long)].collect().toList
    es.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1L; deg(b) = deg.getOrElse(b, 0L) + 1L
    }
    def rnd6(x: Double) = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    got.foreach { case (k, nN, nE, phi) =>
      val nodes = deg.valuesIterator.count(_ > k).toLong
      val among = es.count { case (a, b) => deg(a) > k && deg(b) > k }.toLong
      assert(nN == nodes && nE == among, s"k=$k")
      phi match {
        case Some(v) =>
          assert(nodes > 1L)
          assert(v == rnd6(2.0 * among / (nodes * (nodes - 1))), s"k=$k phi")
          assert(v >= 0.0 && v <= 1.0)
        case None => assert(nodes <= 1L, s"k=$k null")
      }
    }
    // the statistic itself: a K4 core with pendant leaves — the club of
    // degree > 2 is exactly the clique, phi = 1
    val planted = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 10L), (2L, 11L), (3L, 12L))
    val d2 = scala.collection.mutable.Map.empty[Long, Long]
    planted.foreach { case (a, b) =>
      d2(a) = d2.getOrElse(a, 0L) + 1L; d2(b) = d2.getOrElse(b, 0L) + 1L }
    val club = d2.iterator.collect { case (v, d) if d > 2 => v }.toSet
    val amongP = planted.count { case (a, b) => club(a) && club(b) }
    assert(club == Set(1L, 2L, 3L, 4L) && amongP == 6 &&
      2.0 * amongP / (club.size * (club.size - 1)) == 1.0)
  }
}
