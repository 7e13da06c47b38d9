package graft

import graft.operators.{Betweenness, LastIterations}

/** m_graph_betweenness has no SQL oracle (iterative float fixpoint), so
  * this spec is its correctness contract: a driver-side textbook Brandes
  * (BFS + dependency accumulation over adjacency maps — no DataFrames)
  * must agree on planted graphs with hand-checkable scores, on random
  * graphs, and in the sampled-sources regime. */
class BetweennessSpec extends BaseSpec {
  import spark.implicits._

  private def run(es: Seq[(Long, Long)], k: Int = 16,
                  dist: Boolean = false): Map[Long, Double] = onPath(dist) {
    Betweenness.run(spark, es.toDF("u1", "u2"), k = k)
      .as[(Long, Double)].collect().toMap
  }

  /** Textbook Brandes over an adjacency map, restricted to `sources`;
    * undirected convention: Σ δ / 2. */
  private def brandes(es: Seq[(Long, Long)], sources: Seq[Long]): Map[Long, Double] = {
    val adj = (es ++ es.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val bc = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
    for (s <- sources) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      val order = scala.collection.mutable.ArrayBuffer[Long]()
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        order += u
        for (v <- adj.getOrElse(u, Nil)) {
          if (!dist.contains(v)) { dist(v) = dist(u) + 1; queue.enqueue(v) }
          if (dist(v) == dist(u) + 1)
            sigma(v) = sigma.getOrElse(v, 0L) + sigma(u)
        }
      }
      val delta = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (w <- order.reverse; u <- adj.getOrElse(w, Nil)
           if dist.get(u).contains(dist(w) - 1)) {
        delta(u) += sigma(u).toDouble / sigma(w) * (1.0 + delta(w))
      }
      for (v <- order if v != s) bc(v) += delta(v)
    }
    bc.view.mapValues(_ / 2.0).filter(_._2 > 1e-12).toMap
  }

  private def assertAgree(got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet == want.keySet,
      s"vertex sets differ: got ${got.keySet}, want ${want.keySet}")
    got.foreach { case (id, v) =>
      assert(math.abs(v - want(id)) < 1e-9, s"bc($id): got $v want ${want(id)}")
    }
  }

  test("star: the hub carries all pairs, leaves carry none") {
    val es = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val got = run(es)
    // hub bc = C(4,2) = 6 leaf pairs, each with one shortest path via 0
    assert(math.abs(got(0L) - 6.0) < 1e-9)
    assert(got.keySet == Set(0L), "leaves must have bc 0 (absent)")
    assertAgree(got, brandes(es, 0L to 4L))
  }

  test("path 0-1-2-3: interior vertices bridge, symmetric") {
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val got = run(es)
    // bc(1) = pairs {0,2},{0,3} → 2; bc(2) symmetric
    assert(math.abs(got(1L) - 2.0) < 1e-9 && math.abs(got(2L) - 2.0) < 1e-9)
    assertAgree(got, brandes(es, 0L to 3L))
  }

  test("two cliques joined by a bridge: the bridge endpoints dominate; split paths halve sigma credit") {
    // triangle {0,1,2} — 2 — bridge — 3 — triangle {3,4,5}
    val es = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L),
                 (3L, 4L), (4L, 5L), (3L, 5L))
    val got = run(es)
    val want = brandes(es, 0L to 5L)
    assertAgree(got, want)
    assert(got(2L) == got(3L) && got(2L) > got.getOrElse(0L, 0.0),
      "bridge endpoints must outrank clique members")
  }

  test("matches driver Brandes on random graphs (all-sources regime)") {
    val rnd = new scala.util.Random(47L)
    for (_ <- 1 to 3) {
      val n = 14 // <= k = 16 sources → exact Brandes
      val es = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      // both the driver-local endgame and the distributed rounds; a
      // row-permuted copy of the input must give identical scores
      val permuted = new scala.util.Random(5L).shuffle(es)
      for (dist <- bothPaths) {
        val got = run(es, dist = dist)
        assertAgree(got, brandes(es, verts))
        assert(run(permuted, dist = dist) == got, s"dist=$dist: row order changed the scores")
      }
    }
  }

  test("sampled regime: k < |V| equals driver Brandes over the k smallest ids") {
    val rnd = new scala.util.Random(53L)
    val n = 24
    val es = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2).distinct
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val verts = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val k = 8
    assertAgree(run(es, k = k), brandes(es, verts.take(k)))
  }

  test("maxDepth semantics: exact-depth completion is fine, truncation throws, eccentricity exact") {
    val path = Seq((0L, 1L), (1L, 2L)) // eccentricity 2 from the end sources
    // completes EXACTLY at maxDepth = 2 → no throw, correct scores
    val got = run(path)
    assert(got == Map(1L -> 1.0)) // one middle vertex, pair {0,2}, halved double count
    val exact = Betweenness.run(spark, path.toDF("u1", "u2"), maxDepth = 2)
      .as[(Long, Double)].collect().toMap
    assert(exact == got, "completing exactly at maxDepth must not throw or truncate")
    // recorded rounds = true eccentricity (2), not the cadence-deferred
    // loop counter (which runs empty rounds before detecting the end)
    assert(LastIterations.take().contains(2))
    // genuinely truncated BFS throws
    intercept[IllegalStateException] {
      Betweenness.run(spark, path.toDF("u1", "u2"), maxDepth = 1).collect()
    }
  }

  test("fixture key: deterministic across runs, ordered, iterations registered") {
    val got = SparkEntry.queries("m_graph_betweenness")(spark, sf)
      .as[(Long, Double)].collect().toList
    val again = SparkEntry.queries("m_graph_betweenness")(spark, sf)
      .as[(Long, Double)].collect().toList
    assert(got == again, "key must be bit-deterministic across runs")
    assert(got.nonEmpty)
    // ordered by (bc desc, id)
    got.sliding(2).foreach {
      case List(a, b) => assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      case _          =>
    }
    assert(LastIterations.take().exists(_ >= 1))
  }
}
