package graft

import graft.operators.{KTruss, LastIterations}

/** m_graph_ktruss has no SQL oracle (iterative edge peeling), so this
  * spec is its contract: a driver-side reference peeler (set-based
  * triangle recount, no DataFrames) must agree exactly on planted and
  * random graphs, and the classical invariants must hold — per-edge
  * in-truss support ≥ k−2, truss nesting, triangle-free emptiness. */
class KTrussSpec extends BaseSpec {
  import spark.implicits._

  /** Runs BOTH paths — the driver-local endgame and the forced
    * distributed peel — and pins their exact set equality before
    * returning, so every test in this spec covers both. */
  private def run(es: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    val Seq(local, dist) = bothPaths.map { d =>
      onPath(d)(KTruss.run(spark, es.toDF("u1", "u2"), k)
        .as[(Long, Long)].collect().toSet)
    }
    assert(local == dist,
      s"local/distributed k-truss diverge: localOnly=${(local -- dist).take(3)} " +
        s"distOnly=${(dist -- local).take(3)}")
    local
  }

  /** Reference peeler: recount per-edge triangle support over the live
    * edge set, drop < k−2, repeat to fixpoint. */
  private def reference(es: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var edges = es.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter(e => e._1 != e._2).toSet
    var changed = true
    while (changed) {
      val adj = edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val keep = edges.filter { case (u, v) =>
        (adj(u) & adj(v)).size >= k - 2
      }
      changed = keep != edges
      edges = keep
    }
    edges
  }

  test("planted shapes: K4 is a 4-truss, stars and trees are truss-free, pendant edges peel") {
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    // every K4 edge closes 2 triangles → survives k=3 AND k=4
    assert(run(k4, 3) == k4.toSet)
    assert(run(k4, 4) == k4.toSet)
    // ... but not k=5
    assert(run(k4, 5).isEmpty)
    // star: many edges, zero triangles → empty 3-truss
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L))
    assert(run(star, 3).isEmpty)
    // triangle with a pendant edge: the pendant peels, the triangle stays
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 9L))
    assert(run(tri, 3) == Set((0L, 1L), (1L, 2L), (0L, 2L)))
  }

  test("cascade: removing one edge's support peels transitively, not just locally") {
    // two triangles sharing edge (1,2); a third triangle hangs off vertex 3
    // ONLY through edges that also need the shared structure at k=4
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
    // k=3: every edge is in a triangle → all stay
    assert(run(es, 3) == reference(es, 3))
    // k=4: edge supports are 1 except (1,2) with 2 — first pass drops the
    // four outer edges, which strands (1,2): the cascade must empty it
    assert(run(es, 4).isEmpty)
    assert(reference(es, 4).isEmpty)
  }

  test("matches the reference peeler on random graphs; trusses nest") {
    val rnd = new scala.util.Random(61L)
    for (_ <- 1 to 3) {
      val n = 16
      val es = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val t3 = run(es, 3)
      val t4 = run(es, 4)
      assert(t3 == reference(es, 3))
      // a row-permuted copy, each edge also repeated reversed: the same truss
      val permuted = rnd.shuffle(es)
      assert(run(permuted ++ permuted.map(_.swap), 3) == t3)
      assert(t4 == reference(es, 4))
      assert(t4.subsetOf(t3), "(k+1)-truss must nest inside the k-truss")
      // in-truss support invariant: inside the returned subgraph every
      // edge closes >= k-2 triangles
      val adj3 = t3.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      t3.foreach { case (u, v) =>
        assert((adj3(u) & adj3(v)).size >= 1, s"edge ($u,$v) under-supported in 3-truss")
      }
    }
  }

  test("fixture key: deterministic, canonical ordering, iterations registered") {
    val got = SparkEntry.queries("m_graph_ktruss")(spark, sf)
      .as[(Long, Long)].collect().toList
    val again = SparkEntry.queries("m_graph_ktruss")(spark, sf)
      .as[(Long, Long)].collect().toList
    assert(got == again)
    assert(got == got.sorted, "canonical (u1, u2) ordering")
    got.foreach { case (u, v) => assert(u < v) }
    assert(LastIterations.take().exists(_ >= 1))
  }
}
