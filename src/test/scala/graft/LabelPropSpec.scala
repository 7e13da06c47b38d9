package graft

import graft.operators.LabelProp
import org.apache.spark.sql.functions._

/** Property tests for synchronous label propagation: node-wise equality
  * against an in-memory reference iteration (the determinism contract of
  * the synchronous variant), planted-structure community separation, and
  * the declared `m_graph_lp` key's shape invariants. */
class LabelPropSpec extends BaseSpec {

  /** In-memory mirror of [[LabelProp.runCounted]]: synchronous plurality
    * update, ties to the smallest label, stop on fixpoint or cap. */
  private def refLp(edges: Seq[(Long, Long)], iterations: Int): Map[Long, Long] = {
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var lab = adj.keys.map(k => k -> k).toMap
    var i = 0
    var stable = false
    while (i < iterations && !stable) {
      val next = adj.map { case (v, ns) =>
        val byLabel = ns.groupBy(lab).map { case (l, xs) => l -> xs.size }
        val best = byLabel.toSeq.map { case (l, c) => (c, -l) }.max
        v -> -best._2
      }
      stable = next == lab
      lab = next
      i += 1
    }
    lab
  }

  private def sparkLp(edges: Seq[(Long, Long)], iterations: Int = 10,
                      dist: Boolean = false) = onPath(dist) {
    import spark.implicits._
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    LabelProp.run(spark, sym.toDF("src", "dst"), iterations)
      .as[(Long, Long)].collect().toMap
  }

  test("planted cliques: each collapses to one label, separated communities") {
    val cliqueA = for (i <- 0L until 8L; j <- (i + 1) until 8L) yield (i, j)
    val cliqueB = for (i <- 100L until 108L; j <- (i + 1) until 108L) yield (i, j)
    val got = sparkLp(cliqueA ++ cliqueB)
    val aLabels = (0L until 8L).map(got).toSet
    val bLabels = (100L until 108L).map(got).toSet
    assert(aLabels.size == 1 && bLabels.size == 1,
      s"cliques must be label-uniform: A=$aLabels B=$bLabels")
    assert(aLabels != bLabels, "disconnected cliques must get distinct labels")
  }

  test("node-wise equality with the in-memory reference on a random graph") {
    val rnd = new scala.util.Random(13)
    // 40 nodes in two noisy clusters + sparse cross edges — enough
    // structure that plurality votes and ties both occur
    val intra = for {
      base <- Seq(0L, 50L); _ <- 1 to 120
    } yield (base + rnd.nextInt(20), base + rnd.nextInt(20))
    val cross = for (_ <- 1 to 5) yield (rnd.nextInt(20).toLong, 50L + rnd.nextInt(20))
    val edges = (intra ++ cross).filter { case (a, b) => a != b }
    val ref = refLp(edges, 10)
    // both the driver-local endgame and the distributed rounds
    for (dist <- bothPaths) {
      val got = sparkLp(edges, 10, dist)
      assert(got == ref,
        s"dist=$dist diff=${(got.toSet -- ref.toSet).take(5)} / ${(ref.toSet -- got.toSet).take(5)}")
    }
  }

  test("fixpoint early-exit: a clique stops before the cap, labels unchanged") {
    import spark.implicits._
    val clique = for (i <- 0L until 6L; j <- (i + 1) until 6L) yield (i, j)
    val sym = clique ++ clique.map { case (a, b) => (b, a) }
    val (labs, rounds) = LabelProp.runCounted(spark, sym.toDF("src", "dst"), 10)
    assert(rounds < 10, s"clique must reach a fixpoint early, ran $rounds")
    val ref = refLp(clique, 10)
    assert(labs.as[(Long, Long)].collect().toMap == ref)
  }

  test("m_graph_lp sizes sum to the co-traveler vertex count") {
    import spark.implicits._
    val hist = SparkEntry.queries("m_graph_lp")(spark, sf)
      .as[(Long, Long)].collect()
    assert(hist.nonEmpty)
    val total = hist.map { case (size, n) => size * n }.sum
    val verts = SparkEntry.queries("q_graph_degree")(spark, sf)
      .agg(sum($"n_users")).as[Long].head()
    assert(total == verts, s"community sizes cover $total of $verts vertices")
  }

  /** Driver modularity: Q = Σ_c (e_c/m − (d_c/2m)²) from raw pairs + a
    * label map — shares no code with the key's DataFrame formulation. */
  private def refModularity(pairs: Seq[(Long, Long)], lab: Map[Long, Long]): Double = {
    val m = pairs.size.toDouble
    val eC = pairs.filter { case (a, b) => lab(a) == lab(b) }
      .groupBy { case (a, _) => lab(a) }.view.mapValues(_.size.toDouble).toMap
    val dC = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(lab).view.mapValues(_.size.toDouble).toMap
    dC.map { case (c, d) => eC.getOrElse(c, 0.0) / m - math.pow(d / (2 * m), 2) }.sum
  }

  test("m_graph_modularity: planted two-clique Q = 1/2; fixture Q matches a driver recomputation") {
    import spark.implicits._
    // planted: two disjoint triangles — LP separates them, Q = 2·(3/6 − (6/12)²) = 0.5
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
    val lab = sparkLp(tri)
    assert(math.abs(refModularity(tri, lab) - 0.5) < 1e-12)
    // fixture: the key equals the driver formula over the SAME pair set
    // (rebuilt via the public Convoy operator at the key's parameters)
    // and LP labels
    val row = SparkEntry.queries("m_graph_modularity")(spark, sf).collect().head
    val q = row.getAs[Double]("modularity")
    assert(q >= -0.5 && q <= 1.0, s"modularity out of range: $q")
    val pts = Tables(spark, sf, "events")
      .withColumn("lat", (col("event_id") * 37L % 1700L) / 10.0 - 85.0)
      .withColumn("lon", (col("event_id") * 131L % 3600L) / 10.0 - 180.0)
      .withColumn("ts_us", unix_micros(col("ts")))
    val pairs = graft.operators.Convoy.coTravelers(pts, cellDeg = 20.0, minHours = 2)
      .select($"u1", $"u2").as[(Long, Long)].collect().toSeq
    val fixLab = sparkLp(pairs)
    def rnd6(x: Double): Double =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(q == rnd6(refModularity(pairs, fixLab)),
      s"key Q $q vs driver ${rnd6(refModularity(pairs, fixLab))}")
    assert(row.getAs[Long]("m_edges") == pairs.size.toLong)
    assert(row.getAs[Long]("n_communities") == fixLab.values.toSet.size.toLong)
  }
}
