package graft

import graft.operators.PageRank

/** SURVEY §5.3 — PageRank equivalence vs a driver-side reference power
  * iteration (same formula, same iteration count), plus invariants. */
class PageRankSpec extends BaseSpec {
  import spark.implicits._

  /** Reference iteration mirroring the distributed semantics exactly. */
  private def reference(edges: Seq[(Long, Long)], d: Double, iters: Int)
      : Map[Long, Double] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = verts.size.toDouble
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dangling = verts.filterNot(out.contains).map(rank).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / out(s) }.sum).toMap
      val base = (1 - d) / n + d * dangling / n
      rank = verts.map(v => v -> (base + d * in.getOrElse(v, 0.0))).toMap
    }
    rank
  }

  test("both paths' ranks equal the reference on a graph with dangling nodes") {
    // star (1 -> 2,3,4), a chain into it, a 2-cycle, and dangling sink 9.
    // Run the SAME graph through the local endgame and the forced
    // distributed rounds: both must match the reference node-wise — the hybrid cannot change what the key computes.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 1L), (6L, 5L),
                    (7L, 8L), (8L, 7L), (4L, 9L))
    val want = reference(edges, 0.85, 15)
    for (dist <- bothPaths) {
      val got = onPath(dist)(PageRank.run(spark, edges.toDF("src", "dst"))
        .as[(Long, Double)].collect().toMap)
      assert(got.keySet == want.keySet)
      got.foreach { case (v, r) =>
        assert(math.abs(r - want(v)) < 1e-9,
          s"dist=$dist node $v: got $r want ${want(v)}")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9,
        s"dist=$dist sum=${got.values.sum}")
    }
  }

  /** Reference WEIGHTED iteration: rank splits ∝ w/Σw out-weights. */
  private def referenceW(edges: Seq[(Long, Long, Double)], d: Double, iters: Int)
      : Map[Long, Double] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = verts.size.toDouble
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dangling = verts.filterNot(outW.contains).map(rank).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => rank(s) / outW(s) * w }.sum).toMap
      val base = (1 - d) / n + d * dangling / n
      rank = verts.map(v => v -> (base + d * in.getOrElse(v, 0.0))).toMap
    }
    rank
  }

  test("weighted ranks equal the weighted reference; heavy ties attract rank") {
    // hub 1 points at 2 (weight 9) and 3 (weight 1) — 2 must absorb 9×
    // the split mass; plus a weighted cycle and a dangling sink. Both the
    // local endgame and the distributed rounds must match the reference.
    val edges = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 2.0),
                    (3L, 1L, 0.5), (2L, 4L, 1.0))
    val want = referenceW(edges, 0.85, 15)
    for (dist <- bothPaths) {
      val got = onPath(dist)(PageRank.run(spark,
          edges.toDF("src", "dst", "w"), weighted = true)
        .as[(Long, Double)].collect().toMap)
      assert(got.keySet == want.keySet)
      got.foreach { case (v, r) =>
        assert(math.abs(r - want(v)) < 1e-9,
          s"dist=$dist node $v: got $r want ${want(v)}")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9,
        s"dist=$dist sum=${got.values.sum}")
      assert(got(2L) > got(3L),
        s"the weight-9 neighbor must outrank the weight-1: $got")
    }
  }

  test("weighted with w ≡ 1 is the unweighted ranking exactly") {
    val rnd = new scala.util.Random(41L)
    val pairs = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }.distinct
    val unw = PageRank.run(spark, pairs.toDF("src", "dst"))
      .as[(Long, Double)].collect().toMap
    val w1 = PageRank.run(spark,
        pairs.map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "w"),
        weighted = true)
      .as[(Long, Double)].collect().toMap
    assert(unw.keySet == w1.keySet)
    unw.foreach { case (v, r) =>
      assert(math.abs(r - w1(v)) < 1e-12, s"node $v: $r vs ${w1(v)}")
    }
  }

  test("undirected symmetric nodes tie exactly after rounding; hubs outrank leaves") {
    // path 1-2-3 (undirected): leaves 1 and 3 are symmetric twins.
    val pairs = Seq((1L, 2L), (2L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val got = PageRank.run(spark, edges).as[(Long, Double)].collect()
      .map { case (v, r) => v -> BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP) }
      .toMap
    assert(got(1L) == got(3L), s"symmetric leaves must tie: $got")
    assert(got(2L) > got(1L), s"hub must outrank leaves: $got")
  }

  test("fast-mixing graph exits early, ranks equal the fixed-cap reference") {
    // A 5-clique (undirected): uniform rank IS the fixpoint, so the first
    // update leaves ranks unchanged and the L1 certificate must end the
    // loop immediately — node-wise still within 1e-9 of the 15-iteration
    // reference (residual bound tol·d/(1−d) ≈ 5.7e-10).
    val pairs = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val edges = (pairs ++ pairs.map(_.swap))
    val (df, iters) = PageRank.runCounted(spark, edges.toDF("src", "dst"))
    assert(iters < 15, s"clique must converge long before the cap, used $iters")
    val got = df.as[(Long, Double)].collect().toMap
    val want = reference(edges, 0.85, 15)
    got.foreach { case (v, r) =>
      assert(math.abs(r - want(v)) < 1e-9, s"node $v: got $r want ${want(v)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"sum=${got.values.sum}")
  }

  test("amortized cadence: cadence-3 launches strictly fewer jobs than per-round") {
    // The r8 driver bench showed per-round blocking actions, not shuffle
    // volume, dominating under host contention (26.5 s for a ~4 s plan).
    // Absolute job counts are polluted by broadcast-collect and AQE-stage
    // jobs, so the tested fact is RELATIVE: the same 9-round capped run on
    // the same graph must launch measurably fewer jobs at checkEvery=3
    // than at checkEvery=1 (≡ the old every-round shape) — the 6 skipped
    // eager-checkpoint actions, give or take async-listener slack.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)) // 4-cycle
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def measure(checkEvery: Int): Int = jobsDuring {
      // The forced scope pins the DISTRIBUTED rounds — the cadence
      // amortization is a distributed-path property; the default local
      // endgame would trivialize both sides of the comparison.
      val (df, iters) = onPath(true)(PageRank.runCounted(spark, edges,
        iterations = 9, tol = 0, checkEvery = checkEvery))
      df.count() // materialize the final (already-checkpointed) frame
      assert(iters == 9)
    }
    val perRound = measure(1)
    val cadenced = measure(3)
    assert(cadenced <= perRound - 4,
      s"cadence-3 run launched $cadenced jobs vs $perRound per-round — " +
      "the amortization is not reducing blocking actions")
  }

  test("m_graph_pagerank returns a full top-10 with positive normalized ranks") {
    val rows = SparkEntry.queries("m_graph_pagerank")(spark, sf)
      .as[(Long, Double)].collect()
    assert(rows.length == 10, s"expected top-10, got ${rows.length}")
    assert(rows.forall(_._2 > 0))
    assert(rows.map(_._2).toList == rows.map(_._2).toList.sorted.reverse)
  }
}
