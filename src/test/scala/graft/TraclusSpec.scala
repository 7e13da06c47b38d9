package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.{HaversineDist, TraclusDist, TraclusPartition}

/** SURVEY §2.10 — TRACLUS partition-and-group (m_traj_traclus): the two
  * kernels against hand geometry and the Lee-Han-Whang formulas, the MDL
  * partitioning axioms, the full pipeline against a brute-force all-pairs
  * driver reference (pinning the grid candidate lemma exact), planted
  * crossing corridors, and the transit-jump band. */
class TraclusSpec extends BaseSpec {
  import spark.implicits._

  private val R = HaversineDist.EarthRadiusKm

  /** lat/lon → R³ km point (the chord embedding). */
  private def km(lat: Double, lon: Double): Array[Double] = {
    val (la, lo) = (math.toRadians(lat), math.toRadians(lon))
    Array(R * math.cos(la) * math.cos(lo), R * math.cos(la) * math.sin(lo),
      R * math.sin(la))
  }

  /** Two lat/lon points → 6-element km segment array. */
  private def seg(aLat: Double, aLon: Double, bLat: Double, bLon: Double): Array[Double] =
    km(aLat, aLon) ++ km(bLat, bLon)

  private def dist(a: Array[Double], b: Array[Double]): Double =
    TraclusDist.compute(ArrayData.toArrayData(a), ArrayData.toArrayData(b))

  /** lat/lon pairs → interleaved unit-vector track (the partition input). */
  private def track(pts: (Double, Double)*): Array[Double] =
    pts.flatMap { case (lat, lon) =>
      val (la, lo) = (math.toRadians(lat), math.toRadians(lon))
      Seq(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))
    }.toArray

  private def cps(t: Array[Double]): Seq[Int] =
    TraclusPartition.compute(ArrayData.toArrayData(t)).toIntArray().toSeq

  // ---------------------------------------------------------------- kernels

  test("traclus_dist: identical segments are at distance 0") {
    val s1 = seg(0, 0, 0, 1)
    assert(dist(s1, s1) == 0.0)
  }

  test("traclus_dist: symmetric (longer segment plays Li both ways)") {
    val a = seg(0, 0, 0, 2)
    val b = seg(0.5, 0.3, 0.4, 1.1)
    assert(math.abs(dist(a, b) - dist(b, a)) < 1e-9)
  }

  test("traclus_dist: parallel equal-length offset segments — d⊥ = offset, dθ = 0") {
    // Two 1°-of-longitude segments on the equator, 0.1° of latitude apart.
    // Equal length ⇒ whichever plays Li, perpendiculars are both ≈ the
    // offset (d⊥ = (o²+o²)/2o = o); directions equal ⇒ dθ = 0; projections
    // land exactly on Li's span ends ⇒ paper d∥ = 0. Chord vs arc at 0.1°
    // agree to ~1e-6 relative.
    val a = seg(0, 0, 0, 1)
    val b = seg(0.1, 0, 0.1, 1)
    val offset = HaversineDist.km(0, 0, 0.1, 0) // ≈ 11.12 km
    assert(math.abs(dist(a, b) - offset) < 0.01,
      s"got ${dist(a, b)}, want ≈ $offset")
  }

  test("traclus_dist: perpendicular segments sharing a midpoint — dθ = ‖Lj‖") {
    // Li along the equator (2° long), Lj crossing it at right angles (1°),
    // centered on the same point: sin θ = 1 so dθ = ‖Lj‖; d⊥ = (l²+l²)/2l
    // with l = half of Lj's length; d∥ = distance from Li's nearer end to
    // the projection (both endpoints of Lj project onto Li's midpoint).
    val a = seg(0, -1, 0, 1)
    val b = seg(-0.5, 0, 0.5, 0)
    val lenJ = HaversineDist.km(-0.5, 0, 0.5, 0)
    val dTheta = lenJ // 90°
    val dPerp = lenJ / 2.0 // (l²+l²)/(2l), l = lenJ/2
    val dPar = HaversineDist.km(0, 0, 0, 1) // projection at Li's midpoint
    val want = dTheta + dPerp + dPar
    assert(math.abs(dist(a, b) - want) / want < 1e-3,
      s"got ${dist(a, b)}, want ≈ $want")
  }

  test("traclus_dist: anti-parallel twin is FAR (direction-aware dθ)") {
    val a = seg(0, 0, 0, 1)
    val rev = seg(0, 1, 0, 0)
    val lenA = HaversineDist.km(0, 0, 0, 1)
    // cos θ = −1 ⇒ dθ = ‖Lj‖; d⊥ = d∥ = 0 (same line, same span). The
    // 1e-4 tolerance is the declared chord-vs-arc gap (d²/24R² ≈ 1.3e-5
    // relative at 111 km), not FP noise.
    assert(math.abs(dist(a, rev) - lenA) / lenA < 1e-4)
  }

  test("traclus_partition: collinear track simplifies to its endpoints") {
    val t = track((0, 0), (0, 0.5), (0, 1.0), (0, 1.5), (0, 2.0))
    assert(cps(t) == Seq(0, 4))
  }

  test("traclus_partition: a sharp corner becomes a characteristic point") {
    // East along the equator, then hard north: the corner (index 3) must
    // survive partitioning.
    val t = track((0, 0), (0, 1), (0, 2), (0, 3), (1, 3), (2, 3), (3, 3))
    val c = cps(t)
    assert(c.head == 0 && c.last == 6, s"cps $c must span the track")
    assert(c.contains(3), s"cps $c must keep the corner at index 3")
    assert(c == c.sorted && c.distinct == c, s"cps $c must be strictly increasing")
  }

  test("traclus_partition: single-point and two-point tracks") {
    assert(cps(track((10, 10))) == Seq(0))
    assert(cps(track((10, 10), (11, 11))) == Seq(0, 1))
  }

  // ------------------------------------------------------------- pipeline

  /** Driver reference: density-group segments from the ALL-PAIRS distance
    * matrix (same kernel — the grid under test is the candidate pruning,
    * which must be output-invisible by the ε√5 cover lemma). */
  private def refCluster(segs: Seq[(Long, Long, Array[Double])], eps: Double,
                         minLns: Int, minUsers: Int): Map[Long, (String, Long)] = {
    val n = segs.size
    val nbrs = Array.fill(n)(scala.collection.mutable.Set[Int]())
    for (i <- 0 until n; j <- i + 1 until n
         if dist(segs(i)._3, segs(j)._3) <= eps) {
      nbrs(i) += j; nbrs(j) += i
    }
    val isCore = (0 until n).map(i => nbrs(i).size + 1 >= minLns)
    // Union-find over core-core ε-edges.
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (i <- 0 until n if isCore(i); j <- nbrs(i) if isCore(j)) {
      val (a, b) = (find(i), find(j)); if (a != b) parent(a) = b
    }
    val clusterOf = scala.collection.mutable.Map[Int, Long]()
    for (i <- 0 until n if isCore(i)) {
      val r = find(i)
      clusterOf(r) = math.min(clusterOf.getOrElse(r, Long.MaxValue), segs(i)._1)
    }
    val roles = (0 until n).map { i =>
      if (isCore(i)) ("core", clusterOf(find(i)))
      else {
        val cs = nbrs(i).filter(isCore(_)).map(j => clusterOf(find(j)))
        if (cs.nonEmpty) ("border", cs.min) else ("noise", -1L)
      }
    }
    // Trajectory-cardinality filter: clusters with < minUsers distinct
    // users demote to noise.
    val users = roles.zipWithIndex.filter(_._1._2 >= 0)
      .groupBy(_._1._2).view.mapValues(_.map { case (_, i) => segs(i)._2 }.distinct.size)
    segs.indices.map { i =>
      val (role, c) = roles(i)
      if (c >= 0 && users(c) >= minUsers) segs(i)._1 -> (role, c)
      else segs(i)._1 -> (if (role == "noise") ("noise", -1L) else ("noise", -1L))
    }.toMap
  }

  test("pipeline equals brute-force all-pairs reference on a random fixture") {
    // 80 short segments scattered over a 30°×30° region: deterministic
    // LCG so the test is stable; lengths ≤ ~600 km so everything is in
    // the clustered band.
    var st = 12345L
    def nxt(): Double = { st = st * 6364136223846793005L + 1442695040888963407L
      ((st >>> 33).toDouble / (1L << 31).toDouble) }
    val segs = (0 until 80).map { i =>
      val lat = nxt() * 30 - 15; val lon = nxt() * 30 - 15
      val dLat = nxt() * 5 - 2.5; val dLon = nxt() * 5 - 2.5
      (i.toLong, (i % 11).toLong, seg(lat, lon, lat + dLat, lon + dLon))
    }
    val eps = 150.0
    val want = refCluster(segs, eps, minLns = 3, minUsers = 1)

    val df = segs.map(s => (s._1, s._2, s._3.toSeq)).toDF("sid", "user_id", "seg")
    // both the driver-local role tail (default) and the forced fully
    // distributed tail must equal the reference exactly, also on a
    // row-permuted copy of the segments
    val permuted = new scala.util.Random(21L).shuffle(segs)
      .map(s => (s._1, s._2, s._3.toSeq)).toDF("sid", "user_id", "seg")
    for (dist <- bothPaths; (input, order) <- Seq(df -> "given", permuted -> "permuted")) {
      val got = onPath(dist) {
        graft.operators.Traclus.run(spark, input, eps, minLns = 3)
          .select($"sid", $"role", $"cluster").as[(Long, String, Long)].collect()
      }.map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == want,
        s"dist=$dist $order pipeline != reference; diff = ${(got.toSet diff want.toSet).take(5)}")
    }
  }

  test("planted crossing corridors separate; noise stays noise; transit banded") {
    // Corridor A: 4 users east-bound along the equator (tiny lat offsets).
    // Corridor B: 4 users north-bound crossing A at lon 1 — its segments
    // CROSS A's at ~90°, so dθ keeps the corridors apart even though they
    // intersect in space (the distinction point-DBSCAN cannot draw).
    // One far-away lone segment = noise; one planet-long hop = transit.
    val a = (0 until 4).map(u => (100L + u, u.toLong,
      seg(0.01 * u, 0, 0.01 * u, 2)))
    val b = (0 until 4).map(u => (200L + u, (10 + u).toLong,
      seg(-1, 1 + 0.01 * u, 1, 1 + 0.01 * u)))
    val lone = Seq((300L, 20L, seg(40, 40, 40, 41)))
    val hop = Seq((400L, 21L, seg(-60, -120, 60, 120)))
    val df = (a ++ b ++ lone ++ hop).map(s => (s._1, s._2, s._3.toSeq))
      .toDF("sid", "user_id", "seg")

    val got = graft.operators.Traclus.run(spark, df, epsKm = 60.0, minLns = 3,
        minUsers = 2, maxSegKm = 5000.0)
      .select($"sid", $"role", $"cluster").as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    val aClusters = a.map(s => got(s._1)._2).toSet
    val bClusters = b.map(s => got(s._1)._2).toSet
    assert(aClusters.size == 1 && !aClusters.contains(-1L), s"A fragmented: $got")
    assert(bClusters.size == 1 && !bClusters.contains(-1L), s"B fragmented: $got")
    assert(aClusters != bClusters, "crossing corridors must stay separate")
    assert(got(300L) == ("noise", -1L), s"lone segment must be noise: ${got(300L)}")
    assert(got(400L) == ("transit", -1L), s"planet hop must be transit: ${got(400L)}")
  }

  test("representative trajectory runs along the planted corridor's center") {
    // 5 parallel east-bound segments on the equator at lat 0.00..0.04°,
    // lon extents STAGGERED by 0.1° so the sweep sees 10 distinct
    // endpoint positions: the §4.3 sweep must emit a polyline (a) inside
    // the corridor's lat band, centered near its mean lat 0.02°, (b)
    // spanning the corridor's lon extent, (c) in sweep (west→east) order.
    val segs = (0 until 5).map(u => (10L + u, u.toLong,
      seg(0.01 * u, 0.1 * u, 0.01 * u, 2 + 0.1 * u)))
    val df = segs.map(s => (s._1, s._2, s._3.toSeq)).toDF("sid", "user_id", "seg")
    val rep = graft.operators.Traclus
      .representatives(spark, df, epsKm = 60.0, minLns = 3, gammaKm = 10.0)
      .select($"cluster", $"n_segs", $"rep")
      .as[(Long, Long, Seq[Double])].collect()
    assert(rep.length == 1 && rep.head._2 == 5, s"one 5-member cluster: ${rep.toSeq}")
    val pts = rep.head._3.grouped(2).map(p => (p(0), p(1))).toSeq
    assert(pts.size >= 3, s"sweep must emit a polyline, got $pts")
    assert(pts.forall { case (lat, _) => lat >= -0.005 && lat <= 0.045 },
      s"representative must stay inside the corridor band: $pts")
    val meanLat = pts.map(_._1).sum / pts.size
    assert(math.abs(meanLat - 0.02) < 0.01,
      s"representative mean lat $meanLat far from corridor center 0.02")
    assert(pts.map(_._2) == pts.map(_._2).sorted,
      s"sweep order must be west→east: $pts")
    assert(pts.last._2 - pts.head._2 > 1.0,
      s"representative must span the corridor: $pts")
  }

  test("m_traj_traclus key: non-vacuous, schema, deterministic rerun") {
    val q = SparkEntry.queries("m_traj_traclus")
    val r1 = q(spark, sf).collect()
    assert(r1.nonEmpty, "key must produce clusters at sf0.001")
    val r2 = q(spark, sf).collect()
    assert(r1.toSeq == r2.toSeq, "rerun must be identical")
    assert(r1.head.schema.fieldNames.toSeq ==
      Seq("cluster", "n_segs", "n_users", "n_core"))
    assert(r1.forall(r => r.getLong(1) >= r.getLong(3)), "n_core ≤ n_segs")
  }
}
