package graft

import graft.operators.Sssp

/** Weighted SSSP vs a driver-side Dijkstra on random graphs, plus the
  * structural contract: only reachable vertices, source at 0, triangle
  * inequality over every edge, and the non-convergence throw. */
class SsspSpec extends BaseSpec {
  import spark.implicits._

  private def run(es: Seq[(Long, Long, Double)], source: Long,
                  maxIter: Int = 20, dist: Boolean = false): Map[Long, Double] =
    onPath(dist) {
      Sssp.run(spark, es.toDF("src", "dst", "w"), source, maxIter = maxIter)
        .as[(Long, Double)].collect().toMap
    }

  /** Textbook Dijkstra over an adjacency map. */
  private def dijkstra(es: Seq[(Long, Long, Double)], source: Long): Map[Long, Double] = {
    val adj = es.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    val dist = scala.collection.mutable.Map(source -> 0.0)
    val done = scala.collection.mutable.Set[Long]()
    val pq = scala.collection.mutable.PriorityQueue((0.0, source))(
      Ordering.by[(Double, Long), Double](_._1).reverse)
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!done(u)) {
        done += u
        for ((v, w) <- adj.getOrElse(u, Nil) if d + w < dist.getOrElse(v, Double.MaxValue)) {
          dist(v) = d + w
          pq.enqueue((d + w, v))
        }
      }
    }
    dist.toMap
  }

  test("matches Dijkstra on random weighted digraphs") {
    val rnd = new scala.util.Random(31L)
    for (trial <- 1 to 3) {
      val n = 40
      val es = Seq.fill(160) {
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
         (rnd.nextInt(9) + 1) / 4.0)
      }.filter { case (a, b, _) => a != b }
      val want = dijkstra(es, 0L)
      // both the driver-local endgame and the distributed rounds; a
      // row-permuted copy of the input must give identical distances
      val permuted = new scala.util.Random(trial.toLong).shuffle(es)
      for (dist <- bothPaths) {
        val got = run(es, 0L, dist = dist)
        assert(run(permuted, 0L, dist = dist) == got,
          s"trial $trial dist=$dist: row order changed the distances")
        assert(got.keySet == want.keySet,
          s"trial $trial dist=$dist reachable sets differ: " +
            s"extra=${got.keySet -- want.keySet} " +
            s"missing=${want.keySet -- got.keySet}")
        for ((v, d) <- want)
          assert(math.abs(got(v) - d) < 1e-12,
            s"trial $trial dist=$dist vertex $v: ${got(v)} vs $d")
      }
    }
  }

  test("structural contract: source 0.0, positive dists, edge relaxation tight") {
    val rnd = new scala.util.Random(37L)
    val es = Seq.fill(120) {
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, (rnd.nextInt(5) + 1) / 2.0)
    }.filter { case (a, b, _) => a != b }
    val got = run(es, 1L)
    assert(got(1L) == 0.0)
    assert(got.values.forall(_ >= 0.0))
    // fixpoint means no edge can still relax: d(v) <= d(u) + w for all edges
    for ((u, v, w) <- es if got.contains(u))
      assert(got.getOrElse(v, Double.MaxValue) <= got(u) + w + 1e-12,
        s"edge ($u,$v,$w) still relaxable")
  }

  test("shorter many-hop path beats heavier direct edge; unreachable absent") {
    // direct 0->3 weighs 10; the 3-hop chain weighs 3. Vertex 9 is isolated
    // on the far side of a directed edge INTO the component, never out.
    val es = Seq((0L, 3L, 10.0), (0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0),
                 (9L, 0L, 1.0))
    val got = run(es, 0L)
    assert(got(3L) == 3.0, s"expected the 3-hop path, got ${got(3L)}")
    assert(!got.contains(9L), "vertex with only an in-edge to the source is unreachable")
  }

  test("exhausting maxIter before the fixpoint throws, never tentative dists") {
    // a 30-edge chain needs 30 relaxation rounds; cap at 3
    val chain = (0L until 30L).map(i => (i, i + 1, 1.0))
    val ex = intercept[IllegalStateException] {
      run(chain, 0L, maxIter = 3)
    }
    assert(ex.getMessage.contains("fixpoint"))
    // and converges exactly under a sufficient cap
    val ok = run(chain, 0L, maxIter = 35)
    assert(ok(29L) == 29.0 && ok(30L) == 30.0)
  }

  test("declared key m_graph_sssp: bucketed histogram, counts positive, stable") {
    val r1 = SparkEntry.queries("m_graph_sssp")(spark, sf)
      .as[(Double, Long)].collect().toList
    assert(r1.nonEmpty, "co-traveler graph should reach at least the source")
    assert(r1.map(_._2).forall(_ > 0))
    assert(r1.map(_._1) == r1.map(_._1).sorted, "histogram ordered by bucket")
    val r2 = SparkEntry.queries("m_graph_sssp")(spark, sf)
      .as[(Double, Long)].collect().toList
    assert(r1 == r2, "bit-deterministic distances must reproduce exactly")
  }
}
