package graft

import scala.util.Random
import graft.operators.{DBSCAN, StDbscan}

/** SURVEY §5.3 — ST-DBSCAN equivalence vs an in-memory reference on
  * deterministic space-time point sets, plus the property that motivates
  * the operator: clusters at the same PLACE in different WEEKS separate. */
class StDbscanSpec extends BaseSpec {
  import spark.implicits._

  private def genPoints(n: Int, seed: Long): Seq[(Long, Double, Double, Double)] = {
    val rnd = new Random(seed)
    // three space-time blobs (two share the same PLACE at different times)
    // + uniform noise; every 10th point duplicates an earlier point's
    // EXACT (x, y, t) so position contraction (weight > 1) is exercised.
    val blobs = Seq((2.0, 2.0, 10.0), (8.0, 8.0, 50.0), (2.0, 2.0, 200.0))
    val base = (0 until n).map { i =>
      if (i % 4 < 3) {
        val (cx, cy, ct) = blobs(i % 3)
        (i.toLong, cx + rnd.nextGaussian() * 0.3, cy + rnd.nextGaussian() * 0.3,
          ct + rnd.nextGaussian() * 3.0)
      } else (i.toLong, rnd.nextDouble() * 10, rnd.nextDouble() * 10,
        rnd.nextDouble() * 240)
    }
    base.map { case (i, x, y, t) =>
      if (i % 10 == 9) { val (_, px, py, pt) = base((i - 9).toInt); (i, px, py, pt) }
      else (i, x, y, t)
    }
  }

  /** Reference ST-DBSCAN mirroring the distributed semantics:
    * neighborhood = spatial ε AND temporal ε_t; cluster id = min core id
    * in component; border → min neighbor cluster. */
  private def brute(pts: Seq[(Long, Double, Double, Double)],
                    eps: Double, epsT: Double, minPts: Int)
      : Map[Long, (String, Long)] = {
    val arr = pts.toArray
    def near(a: (Long, Double, Double, Double), b: (Long, Double, Double, Double)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3) <= eps * eps &&
        math.abs(a._4 - b._4) <= epsT
    val neigh = arr.map(p => arr.filter(q => near(p, q)).map(_._1).toSet)
    val idx = arr.map(_._1).zipWithIndex.toMap
    val core = arr.indices.filter(i => neigh(i).size >= minPts).map(arr(_)._1).toSet
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

  test("distributed ST-DBSCAN equals in-memory reference exactly") {
    // both the driver-local role tail (default) and the forced fully
    // distributed tail must equal the reference exactly
    for (seed <- Seq(1L, 42L); dist <- bothPaths) {
      val pts = genPoints(300, seed)
      val df = pts.toDF("id", "x", "y", "t")
      val got = onPath(dist) {
        StDbscan.run(spark, df, eps = 0.5, epsT = 10.0, minPts = 4)
          .as[(Long, String, Long)].collect()
      }.map(r => r._1 -> (r._2, r._3)).toMap
      val expected = brute(pts, 0.5, 10.0, 4)
      assert(got.size == expected.size)
      val diffs = expected.keys.filter(k => got(k) != expected(k)).take(5)
      assert(diffs.isEmpty,
        s"seed=$seed dist=$dist mismatches: ${diffs.map(k => s"$k got=${got(k)} exp=${expected(k)}")}")
    }
  }

  test("same place, different weeks: ST-DBSCAN separates what DBSCAN merges") {
    // One depot at (5, 5) visited twice, 500 h apart — spatially ONE dense
    // blob. Plain DBSCAN must read one cluster; ST-DBSCAN with ε_t = 24 h
    // must produce TWO clusters, every visit-1 core in a different
    // component from every visit-2 core.
    val rnd = new Random(3)
    val visit1 = (0 until 60).map(i =>
      (i.toLong, 5.0 + rnd.nextGaussian() * 0.2, 5.0 + rnd.nextGaussian() * 0.2,
        10.0 + rnd.nextDouble() * 12))
    val visit2 = (60 until 120).map(i =>
      (i.toLong, 5.0 + rnd.nextGaussian() * 0.2, 5.0 + rnd.nextGaussian() * 0.2,
        510.0 + rnd.nextDouble() * 12))
    val pts = visit1 ++ visit2
    val df = pts.toDF("id", "x", "y", "t")

    val spatialOnly = DBSCAN.run(spark, df.select($"id", $"x", $"y"),
        eps = 1.0, minPts = 5)
      .filter($"cluster" >= 0).select($"cluster").distinct().count()
    assert(spatialOnly == 1L, s"DBSCAN should merge the two visits, got $spatialOnly clusters")

    val st = StDbscan.run(spark, df, eps = 1.0, epsT = 24.0, minPts = 5)
      .as[(Long, String, Long)].collect()
    val clusters = st.filter(_._3 >= 0).map(_._3).distinct
    assert(clusters.length == 2, s"ST-DBSCAN must split the visits, got ${clusters.length}")
    val c1 = st.filter(r => r._1 < 60 && r._3 >= 0).map(_._3).toSet
    val c2 = st.filter(r => r._1 >= 60 && r._3 >= 0).map(_._3).toSet
    assert(c1.size == 1 && c2.size == 1 && c1 != c2,
      s"visit memberships must not mix: $c1 vs $c2")
    // and the reference agrees on the whole labeling
    val expected = brute(pts, 1.0, 24.0, 5)
    val got = st.map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expected)
  }

  test("invariant: larger eps_t never increases noise count") {
    val pts = genPoints(200, 7L)
    val df = pts.toDF("id", "x", "y", "t")
    def noise(epsT: Double) =
      StDbscan.run(spark, df, 0.5, epsT, 4).filter($"role" === "noise").count()
    assert(noise(30.0) <= noise(5.0))
  }

  test("m_stdbscan runs on the fixture and is strictly finer than m_dbscan") {
    // The ε_t axis can only REMOVE neighbors, so the ST core count is ≤
    // the spatial-only core count at identical (ε, minPts).
    import org.apache.spark.sql.functions.{col, sum => fsum, when}
    def coreN(key: String): Long =
      SparkEntry.queries(key)(spark, sf)
        .agg(fsum(when(col("role") === "core", col("n")).otherwise(0L)))
        .head().getLong(0)
    assert(coreN("m_stdbscan") <= coreN("m_dbscan"))
    assert(SparkEntry.queries("m_stdbscan")(spark, sf).count() >= 1)
  }
}
