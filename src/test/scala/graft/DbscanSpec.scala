package graft

import scala.util.Random
import graft.operators.DBSCAN

/** SURVEY §5.3 — DBSCAN equivalence vs an in-memory reference
  * implementation on deterministic generated point sets, plus invariants. */
class DbscanSpec extends BaseSpec {
  import spark.implicits._

  private def genPoints(n: Int, seed: Long): Seq[(Long, Double, Double)] = {
    val rnd = new Random(seed)
    // three dense blobs + uniform noise; every 10th point duplicates an
    // earlier point's EXACT position, so the distributed implementation's
    // position-contraction path (weight > 1 nodes) is exercised by the
    // equivalence test, not just by distinct-position data.
    val blobs = Seq((2.0, 2.0), (8.0, 8.0), (2.0, 8.0))
    val base = (0 until n).map { i =>
      if (i % 4 < 3) {
        val (cx, cy) = blobs(i % 3)
        (i.toLong, cx + rnd.nextGaussian() * 0.3, cy + rnd.nextGaussian() * 0.3)
      } else (i.toLong, rnd.nextDouble() * 10, rnd.nextDouble() * 10)
    }
    base.map { case (i, x, y) =>
      if (i % 10 == 9) { val (_, px, py) = base((i - 9).toInt); (i, px, py) }
      else (i, x, y)
    }
  }

  /** Reference DBSCAN mirroring the distributed semantics:
    * cluster id = min core id in component; border → min neighbor cluster. */
  private def brute(pts: Seq[(Long, Double, Double)], eps: Double, minPts: Int)
      : Map[Long, (String, Long)] = {
    val arr = pts.toArray
    def d2(a: (Long, Double, Double), b: (Long, Double, Double)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
    val neigh = arr.map(p => arr.filter(q => d2(p, q) <= eps * eps).map(_._1).toSet)
    val idx = arr.map(_._1).zipWithIndex.toMap
    val core = arr.indices.filter(i => neigh(i).size >= minPts).map(arr(_)._1).toSet
    // union-find over core-core edges
    val parent = scala.collection.mutable.Map[Long, Long](core.map(c => c -> c).toSeq: _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    for (c <- core; nb <- neigh(idx(c)) if core(nb)) {
      val (ra, rb) = (find(c), find(nb)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val cluster = core.map(c => c -> core.filter(x => find(x) == find(c)).min).toMap
    arr.indices.flatMap { i =>
      val id = arr(i)._1
      if (core(id)) Some(id -> ("core", cluster(id)))
      else {
        val coreNb = neigh(i).filter(core)
        if (coreNb.nonEmpty) Some(id -> ("border", coreNb.map(cluster).min))
        else Some(id -> ("noise", -1L))
      }
    }.toMap
  }

  test("distributed DBSCAN equals in-memory reference exactly") {
    // the default driver-local role tail and the forced fully distributed
    // tail must both equal the reference exactly: on generated points, on
    // a row-permuted copy, and beside points with a NULL coordinate (they
    // drop out) or a NaN one (within ε of nothing, itself included)
    def some(pts: Seq[(Long, Double, Double)]) = pts.map { case (i, x, y) => (i, Some(x), Some(y)) }
    val pts1 = genPoints(300, 1L)
    val cases: Seq[(String, Seq[(Long, Option[Double], Option[Double])])] =
      Seq(1L, 42L).map(seed => s"seed=$seed" -> some(genPoints(300, seed))) ++ Seq(
        "permuted" -> some(new Random(9L).shuffle(pts1)),
        "NULL/NaN" -> (some(pts1) ++ Seq((1000L, None, Some(1.0)), (1001L, Some(2.0), None),
          (1002L, Some(Double.NaN), Some(2.0)), (1003L, Some(Double.NaN), Some(Double.NaN)))))
    for ((name, pts) <- cases; dist <- bothPaths) {
      val df = pts.toDF("id", "x", "y")
      val got = onPath(dist) {
        DBSCAN.run(spark, df, eps = 0.5, minPts = 4)
          .as[(Long, String, Long)].collect()
      }.map(r => r._1 -> (r._2, r._3)).toMap
      val expected = brute(pts.collect { case (i, Some(x), Some(y)) => (i, x, y) }, 0.5, 4)
      assert(got.size == expected.size, s"$name dist=$dist")
      val diffs = expected.keys.filter(k => got(k) != expected(k)).take(5)
      assert(diffs.isEmpty,
        s"$name dist=$dist mismatches: ${diffs.map(k => s"$k got=${got(k)} exp=${expected(k)}")}")
    }
  }

  test("hot-cell sub-grid split matches the plain path exactly on a planted dense cell") {
    // 250 contracted positions crammed into ONE ε-cell (eps=0.5; x,y ∈
    // [1.0, 1.49]) with sparse surroundings: hotCellPositions=20 forces the
    // ε/3 sub-grid branch for that cell (and only it), including cross-cell
    // pairs between the hot cell and its sparse neighbors through the ±5
    // probe window. Output must be IDENTICAL to the plain bucket join and
    // to the in-memory reference.
    val rnd = new Random(11)
    val dense = (0 until 250).map(i =>
      (i.toLong, 1.0 + rnd.nextDouble() * 0.49, 1.0 + rnd.nextDouble() * 0.49))
    val sparse = (250 until 300).map(i =>
      (i.toLong, rnd.nextDouble() * 10, rnd.nextDouble() * 10))
    val pts = dense ++ sparse
    val df = pts.toDF("id", "x", "y")
    def runWith(th: Long) = DBSCAN.run(spark, df, eps = 0.5, minPts = 4, th)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val plain = runWith(Long.MaxValue)
    val split = runWith(20L)
    val diffs = plain.keys.filter(k => plain(k) != split(k)).take(5)
    assert(diffs.isEmpty, s"sub-grid split changed results: " +
      s"${diffs.map(k => s"$k plain=${plain(k)} split=${split(k)}")}")
    val expected = brute(pts, 0.5, 4)
    assert(split == expected, "split path must still match the reference")
    assert(dense.size > 20, "sanity: the planted cell exceeds the threshold")
  }

  test("sub-grid split matches plain on the random generated clouds") {
    // The planted test exercises one hot cell; this one runs the blob+noise
    // generator (duplicates included) under a threshold low enough that
    // every blob cell splits — output must be identical to the plain path
    // at multiple thresholds, including one where NOTHING splits.
    val pts = genPoints(300, 5L)
    val df = pts.toDF("id", "x", "y")
    def runWith(th: Long) = DBSCAN.run(spark, df, eps = 0.5, minPts = 4, th)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val plain = runWith(Long.MaxValue)
    for (th <- Seq(1L, 8L, 1000L)) {
      val split = runWith(th)
      val diffs = plain.keys.filter(k => plain(k) != split(k)).take(5)
      assert(diffs.isEmpty, s"threshold=$th diverged: " +
        s"${diffs.map(k => s"$k plain=${plain(k)} split=${split(k)}")}")
    }
  }

  test("invariant: larger eps never increases noise count") {
    val pts = genPoints(200, 7L)
    val df = pts.toDF("id", "x", "y")
    def noise(eps: Double) =
      DBSCAN.run(spark, df, eps, 4).filter($"role" === "noise").count()
    assert(noise(0.8) <= noise(0.4))
  }
}
