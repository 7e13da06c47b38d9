package graft

import graft.operators.Bfs

/** Direct coverage of frontier-synchronous BFS against an in-memory
  * reference: hop minimality on random graphs, multi-seed minimum-distance
  * semantics, unreachability, and the maxHops truncation contract. */
class BfsSpec extends BaseSpec {
  import spark.implicits._

  /** `partitions` > 0 hands the operator repartitioned frames instead of
    * the driver-resident `toDF` ones, so the count-gated fetch runs. */
  private def dists(es: Seq[(Long, Long)], seeds: Seq[Long],
                    maxHops: Int = 8, dist: Boolean = false,
                    partitions: Int = 0): Map[Long, Int] =
    onPath(dist) {
      def frame(df: org.apache.spark.sql.DataFrame) =
        if (partitions > 0) df.repartition(partitions) else df
      Bfs.run(spark, frame(es.toDF("u1", "u2")), frame(seeds.toDF("id")), maxHops)
        .as[(Long, Int)].collect().toMap
    }

  /** Queue BFS reference over the symmetric adjacency. */
  private def reference(es: Seq[(Long, Long)], seeds: Seq[Long],
                        maxHops: Int): Map[Long, Int] = {
    val adj = (es ++ es.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map(seeds.map(_ -> 0): _*)
    var frontier = seeds
    var d = 0
    while (frontier.nonEmpty && d < maxHops) {
      d += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = d)
    }
    dist.toMap
  }

  test("hop distances match queue BFS on random graphs, multi-seed takes the min") {
    val rnd = new scala.util.Random(17L)
    for (trial <- 1 to 3) {
      val n = 80
      val es = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val seeds = Seq.fill(3)(rnd.nextInt(n).toLong).distinct
      val exp = reference(es, seeds, 8)
      // both the driver-local endgame and the distributed rounds, over
      // driver-resident and repartitioned inputs, must match the
      // reference exactly
      for (dist <- bothPaths; parts <- Seq(0, 3)) {
        val got = dists(es, seeds, dist = dist, partitions = parts)
        assert(got == exp, s"trial $trial dist=$dist partitions=$parts: $got vs $exp")
      }
    }
  }

  test("chain: layers count up from the seed; unreachable component absent") {
    // 0-1-2-...-9 chain plus a disjoint pair (100, 101)
    val es = (0L until 9L).map(i => (i, i + 1)) :+ (100L, 101L)
    val got = dists(es, Seq(0L), maxHops = 20)
    assert((0L to 9L).forall(i => got(i) == i.toInt), s"chain layers wrong: $got")
    assert(!got.contains(100L) && !got.contains(101L),
      "unreachable component must not appear")
  }

  test("maxHops truncates the expansion, distances within the cap unchanged") {
    val es = (0L until 9L).map(i => (i, i + 1))
    val got = dists(es, Seq(0L), maxHops = 3)
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3),
      s"cap=3 must keep exactly layers 0..3: $got")
  }

  test("seed inside a cycle: both directions explored, min distance wins") {
    // 6-cycle from vertex 0: dist(3) = 3 via either arc, dist(5) = 1
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L))
    val got = dists(es, Seq(0L))
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 4L -> 2, 5L -> 1), got.toString)
  }

  test("runFromEach: per-source layers equal single-source BFS from every vertex") {
    val rnd = new scala.util.Random(29L)
    for (trial <- 1 to 2) {
      val n = 40
      val es = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val verts = (es.map(_._1) ++ es.map(_._2)).distinct
      for (dist <- bothPaths) {
        val got = onPath(dist) {
          Bfs.runFromEach(spark, es.toDF("u1", "u2"), verts.toDF("id"), maxHops = 8)
            .as[(Long, Long, Int)].collect()
        }.groupBy(_._1).map { case (s, rs) => s -> rs.map(r => r._2 -> r._3).toMap }
        assert(got.keySet == verts.toSet, s"trial $trial dist=$dist: a source is missing")
        verts.foreach { src =>
          assert(got(src) == reference(es, Seq(src), 8),
            s"trial $trial dist=$dist src $src")
        }
        // min over any seed set must reproduce the multi-source operator
        val seeds = verts.take(3)
        val multi = dists(es, seeds, dist = dist)
        val fromEach = got.filterKeys(seeds.contains).values
          .flatten.groupBy(_._1).map { case (id, ds) => id -> ds.map(_._2).min }
        assert(fromEach.toMap == multi, s"trial $trial dist=$dist")
      }
    }
  }

  test("q_graph_closeness: harmonic/closeness recomputed from raw per-source layers") {
    val rows = SparkEntry.queries("q_graph_closeness")(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect().toList
    assert(rows.nonEmpty && rows.size <= 20)
    def rnd6(x: Double) =
      new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue
    rows.foreach { case (_, nReach, sumD, close, harm) =>
      assert(close == rnd6(nReach.toDouble / sumD))
      // harmonic bounds: all-at-dist-1 upper, all-at-dist-8 lower
      assert(harm <= nReach.toDouble + 1e-9 && harm >= nReach / 8.0 - 1e-9)
      assert(nReach <= sumD && sumD <= 8L * nReach)
    }
    // top-20 ordering is (harmonic desc, id asc)
    rows.sliding(2).foreach {
      case List(a, b) =>
        assert(a._5 > b._5 || (a._5 == b._5 && a._1 < b._1))
      case _ => ()
    }
  }

  test("q_graph_diameter is consistent with the closeness substrate") {
    val Seq((nV, dia, rad, nPeri, nCent)) =
      SparkEntry.queries("q_graph_diameter")(spark, sf)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rad <= dia && dia <= 8L, s"radius $rad / diameter $dia")
    assert(nPeri >= 1L && nCent >= 1L && nPeri <= nV && nCent <= nV)
    if (rad == dia) assert(nPeri == nCent && nPeri == nV)
    // closeness saw the same vertex set (both read the shared BFS memo)
    val closeVerts = SparkEntry.queries("q_graph_closeness")(spark, sf)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(closeVerts.nonEmpty && closeVerts.length <= nV)
    // every vertex's max layer is <= the diameter by definition
    assert(closeVerts.forall { case (_, nReach, sumD, _, _) =>
      sumD <= nReach * dia
    })
  }
}
