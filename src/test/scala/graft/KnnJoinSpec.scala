package graft

import org.apache.spark.sql.functions._
import graft.functions.HaversineDist
import graft.operators.KnnJoin

/** KnnJoin's certificate logic beyond the q_geo_knn_join oracle gate:
  * planted configurations that FORCE ring growth, the antimeridian seam,
  * and the |right| < k exact fallback — each against a driver brute
  * force that shares no code with the operator. */
class KnnJoinSpec extends BaseSpec {
  import spark.implicits._

  private def rnd3(x: Double): Double =
    new java.math.BigDecimal(x).setScale(3, java.math.RoundingMode.HALF_UP).doubleValue

  /** Brute-force reference: all pairs, rank by (round3 km, right id). */
  private def brute(left: Seq[(Long, Double, Double)],
                    right: Seq[(Long, Double, Double)],
                    k: Int): List[(Long, Long, Double, Long)] =
    left.flatMap { case (lid, la, lo) =>
      right.map { case (rid, ra, ro) => (lid, rid, rnd3(HaversineDist.km(la, lo, ra, ro))) }
        .sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((l, r, d), i) => (l, r, d, (i + 1).toLong) }
    }.toList.sortBy(t => (t._1, t._4))

  /** Runs BOTH paths — the driver-local endgame and the forced
    * distributed ring machinery (run LAST so lastRingPlans reflects it for
    * the plan assertions) — and pins exact equality. */
  private def run(left: Seq[(Long, Double, Double)],
                  right: Seq[(Long, Double, Double)],
                  k: Int): List[(Long, Long, Double, Long)] = {
    val Seq(local, dist) = bothPaths.map { d =>
      onPath(d)(KnnJoin.knn(
          left.toDF("id", "lat", "lon"), "id", "lat", "lon",
          right.toDF("rid", "lat", "lon"), "rid", "lat", "lon",
          k = k, cellDeg = 10.0)
        .as[(Long, Long, Double, Long)].collect().toList.sortBy(t => (t._1, t._4)))
    }
    assert(local == dist,
      s"local/distributed kNN join diverge:\n local=$local\n  dist=$dist")
    local
  }

  test("exact vs brute force; a sparse left row forces ring growth; rings never BNL") {
    val left = Seq((1L, 0.0, 0.0), (2L, 45.0, 90.0))
    // dense cluster certifies left 1 at ring 1; left 2's neighbours sit
    // thousands of km away, so its certificate needs several doublings
    val right = (1 to 10).map(i => (i.toLong, 0.5 + i * 0.1, 0.5)) ++
      Seq((100L, 70.0, 90.0), (101L, 20.0, 90.0), (102L, 45.0, 140.0))
    val got = run(left, right, 3)
    assert(got == brute(left, right, 3))
    assert(KnnJoin.lastRingPlans.size >= 2,
      s"isolated left row must grow the ring, got ${KnnJoin.lastRingPlans.size} rounds")
    KnnJoin.lastRingPlans.foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"ring candidate join degenerated to all-pairs:\n$p")
    }
    // row-permuted copies of both sides: the identical join
    assert(run(left.reverse, new scala.util.Random(3L).shuffle(right), 3) == got)
  }

  test("antimeridian seam: a neighbour across ±180° is never lost") {
    val left = Seq((1L, 0.0, 179.5))
    val right = Seq((1L, 0.0, -179.5), (2L, 0.0, 170.0), (3L, 0.0, 160.0))
    val got = run(left, right, 2)
    assert(got == brute(left, right, 2))
    assert(got.head._2 == 1L, s"the across-seam point is the nearest: $got")
  }

  test("|right| < k falls back to the exact full join and returns all right rows") {
    val left = Seq((1L, 10.0, 20.0))
    val right = Seq((7L, 11.0, 20.0), (8L, 50.0, -60.0))
    val got = run(left, right, 5)
    assert(got == brute(left, right, 5))
    assert(got.size == 2)
  }
}
