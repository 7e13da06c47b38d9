package graft

import org.apache.spark.sql.functions._

/** m_graph_coreness / operators.Coreness — exact equality against a driver
  * Batagelj–Zaveršnik peel (the independent algorithm: bucket peeling vs
  * h-index fixpoint share no code path), planted shapes with known core
  * numbers, and the h-index ≤ degree law. */
class CorenessSpec extends BaseSpec {
  import spark.implicits._

  /** Classic peeling: repeatedly remove a minimum-degree vertex; its core
    * number is the peak minimum degree seen up to its removal. */
  private def peel(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val (v, nb) = adj.minBy(_._2.size)
      k = math.max(k, nb.size.toLong)
      core(v) = k
      nb.foreach(u => adj(u) -= v)
      adj -= v
    }
    core.toMap
  }

  private def runOp(edges: Seq[(Long, Long)],
                    dist: Boolean = false): Map[Long, Long] = onPath(dist) {
    graft.operators.Coreness.run(spark, edges.toDF("u1", "u2"))
      .as[(Long, Long)].collect().toMap
  }

  test("planted shapes: clique+pendant, path, two cliques sharing a vertex") {
    // K4 with a pendant: clique vertices coreness 3, pendant 1
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 9L))
    assert(runOp(k4p) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 9L -> 1L))
    // a path: everything coreness 1
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(runOp(path).values.toSet == Set(1L))
    // K4 and K3 sharing vertex 4: K4 side 3, K3 side 2, the shared vertex 3
    val shared = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    // both the driver-local endgame and the distributed rounds; a
    // row-permuted copy of the input must give identical core numbers
    for (dist <- bothPaths) {
      val got = runOp(shared, dist)
      assert(got == peel(shared), s"dist=$dist")
      assert(got(4L) == 3L && got(5L) == 2L && got(6L) == 2L, s"dist=$dist")
      assert(runOp(shared.reverse, dist) == got, s"dist=$dist: row order changed the result")
    }
  }

  test("fixture co-traveler graph matches the driver peel; h-index law holds") {
    // rebuild the same co-traveler pair set the key reads (20° cells,
    // ≥ 2 distinct shared hours) through an independent SQL path, then
    // threshold in the driver
    val bucketed = Tables(spark, sf, "events")
      .selectExpr("user_id", "unix_micros(ts) div 3600000000 AS hb",
        "CAST(floor((((event_id * 37) % 1700) / 10.0 - 85.0) / 20.0) AS BIGINT) AS cla",
        "CAST(floor((((event_id * 131) % 3600) / 10.0 - 180.0) / 20.0) AS BIGINT) AS clo")
      .distinct()
      .as[(Long, Long, Long, Long)].collect().toList
    val shared = scala.collection.mutable.Map.empty[(Long, Long), Set[Long]]
    bucketed.groupBy(p => (p._2, p._3, p._4)).values.foreach { ps =>
      val us = ps.map(_._1).distinct.sorted
      val hb = ps.head._2
      for (i <- us.indices; j <- (i + 1) until us.size) {
        val k = (us(i), us(j))
        shared(k) = shared.getOrElse(k, Set.empty) + hb
      }
    }
    // NB: collect on the Map itself would rebuild a Map[Long, Long] and
    // silently drop edges sharing a u1 — go through an iterator
    val edges = shared.iterator
      .collect { case (p, hbs) if hbs.size >= 2 => p }.toSeq
    assert(edges.size >= 14, s"suspiciously sparse fixture graph: $edges")
    val want = peel(edges)
    assert(runOp(edges) == want)
    // the key's histogram equals the peel's
    val hist = SparkEntry.queries("m_graph_coreness")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val wantHist = want.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(hist == wantHist, s"$hist vs $wantHist")
    // h-index law: coreness never exceeds degree
    val deg = edges.flatMap(p => List(p._1, p._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    want.foreach { case (v, c) => assert(c <= deg(v), s"v=$v") }
  }
}
