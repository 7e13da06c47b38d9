package graft

import graft.operators.{LastIterations, Ppr}

/** Personalized PageRank equivalence vs a driver-side reference iteration
  * (same restart-to-seeds formula, same iteration count), plus the
  * locality invariants that distinguish PPR from global PageRank. */
class PprSpec extends BaseSpec {
  import spark.implicits._

  /** Reference mirroring the distributed semantics exactly. */
  private def reference(edges: Seq[(Long, Long)], seeds: Set[Long],
                        d: Double, iters: Int): Map[Long, Double] = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val s = seeds.size.toDouble
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var rank = verts.map(v => v -> (if (seeds(v)) 1.0 / s else 0.0)).toMap
    for (_ <- 0 until iters) {
      val dangling = verts.filterNot(out.contains).map(rank).sum
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => rank(src) / out(src) }.sum).toMap
      val base = (1 - d + d * dangling) / s
      rank = verts.map(v =>
        v -> ((if (seeds(v)) base else 0.0) + d * in.getOrElse(v, 0.0))).toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  iters: Int = 15, tol: Double = 0.0,
                  dist: Boolean = false): Map[Long, Double] = onPath(dist) {
    Ppr.run(spark, edges.toDF("src", "dst"), seeds.toDF("id"),
        iterations = iters, tol = tol)
      .as[(Long, Double)].collect().toMap
  }

  test("both paths' PPR equals the reference node-wise, mass sums to 1") {
    // the local endgame and the forced distributed rounds: the hybrid
    // cannot change what the operator computes.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
                    (5L, 4L), (6L, 1L), (2L, 6L), (4L, 7L)) // 7 dangles
    val exp = reference(edges, Set(1L, 6L), 0.85, 15)
    for (dist <- bothPaths) {
      val got = run(edges, Seq(1L, 6L), dist = dist)
      assert(got.keySet == exp.keySet)
      got.foreach { case (v, r) =>
        assert(math.abs(r - exp(v)) < 1e-9, s"dist=$dist node $v: $r vs ${exp(v)}")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9,
        s"dist=$dist Σrank = ${got.values.sum}")
    }
  }

  test("vertices unreachable from every seed rank exactly zero") {
    // component A: 1->2->1; component B: 10->11->10 — seed only in A
    val edges = Seq((1L, 2L), (2L, 1L), (10L, 11L), (11L, 10L))
    val got = run(edges, Seq(1L))
    assert(got(10L) == 0.0 && got(11L) == 0.0,
      s"unreachable component must hold zero mass: $got")
    assert(got(1L) > 0.0 && got(2L) > 0.0)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("locality: mass concentrates at the seed relative to global PageRank") {
    // path 1-2-3-4-5-6 (both directions): global PR is middle-heavy;
    // PPR seeded at an END must rank the seed's side strictly higher.
    val fwd = (1L until 6L).map(i => (i, i + 1))
    val edges = fwd ++ fwd.map(_.swap)
    val ppr = run(edges, Seq(1L))
    assert(ppr(1L) > ppr(6L) * 4,
      s"seed end must dominate the far end: ${ppr(1L)} vs ${ppr(6L)}")
    assert(ppr(2L) > ppr(5L), s"near side outranks far side: $ppr")
  }

  test("early exit at tol matches the fixed-cap reference") {
    // All-vertex seeds on a symmetric 5-clique: PPR degenerates to global
    // PageRank and the uniform start IS the fixpoint, so the first cadence
    // L1 certificate must end the loop — same shape as PageRankSpec's
    // early-exit case (a reachable-tol test on asymmetric graphs is
    // contraction-rate-dependent and flaky by construction).
    val pairs = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val edges = pairs ++ pairs.map(_.swap)
    val got = run(edges, Seq(1L, 2L, 3L, 4L, 5L), iters = 30, tol = 1e-7)
    val exp = reference(edges, Set(1L, 2L, 3L, 4L, 5L), 0.85, 30)
    got.foreach { case (v, r) =>
      assert(math.abs(r - exp(v)) < 1e-9, s"node $v: $r vs ${exp(v)}")
    }
    assert(LastIterations.take().exists(_ < 30), "uniform fixpoint must exit at the first cadence")
  }
}
