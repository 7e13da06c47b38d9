package graft

import graft.operators.KCore

/** k-core peeling vs an in-memory reference, plus the structural
  * invariants that define a core: internal degree ≥ k, nesting, and the
  * hub-with-leaves case a plain degree filter gets wrong. */
class KCoreSpec extends BaseSpec {
  import spark.implicits._

  /** `partitions` > 0 hands the operator a repartitioned frame instead of
    * the driver-resident `toDF` one, so the count-gated fetch runs. */
  private def core(es: Seq[(Long, Long)], k: Int, dist: Boolean = false,
                   partitions: Int = 0): Set[Long] = onPath(dist) {
    val df = es.toDF("u1", "u2")
    KCore.coreMembers(spark, if (partitions > 0) df.repartition(partitions) else df, k)
      .as[Long].collect().toSet
  }

  private def reference(es: Seq[(Long, Long)], k: Int): Set[Long] = {
    var edges = es.flatMap(e => Seq(e, e.swap)).distinct
    var changed = true
    while (changed) {
      val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = edges.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != edges.size
      edges = next
    }
    edges.map(_._1).toSet
  }

  test("matches reference peeling on random graphs for k = 2 and 3") {
    val rnd = new scala.util.Random(23L)
    for (trial <- 1 to 3; k <- Seq(2, 3)) {
      val n = 60
      // canonical u1<u2 pairs, each once — the operator's input contract
      // (and the co-traveler pair list's shape)
      val es = Seq.fill(110)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // both the driver-local endgame and the distributed rounds, over a
      // driver-resident and a repartitioned input
      for (dist <- bothPaths; parts <- Seq(0, 3))
        assert(core(es, k, dist, parts) == reference(es, k),
          s"trial $trial k=$k dist=$dist partitions=$parts")
    }
  }

  test("hub with leaf neighbors dies in the 2-core; triangle survives") {
    // star: hub 0 with leaves 1..5 (degree 5!) plus a disjoint triangle.
    // A degree-≥2 FILTER keeps the hub; peeling removes leaves first and
    // then the hub — the distinction that makes k-core a real operator.
    val es = (1L to 5L).map(l => (0L, l)) ++ Seq((10L, 11L), (11L, 12L), (10L, 12L))
    assert(core(es, 2) == Set(10L, 11L, 12L))
  }

  test("cores nest: 3-core ⊆ 2-core, internal degree ≥ k holds") {
    val rnd = new scala.util.Random(29L)
    val es = Seq.fill(140)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val c2 = core(es, 2)
    val c3 = core(es, 3)
    assert(c3.subsetOf(c2), s"3-core must nest in 2-core")
    val sym = es.flatMap(e => Seq(e, e.swap)).distinct
    for ((members, k) <- Seq((c2, 2), (c3, 3)); v <- members) {
      val internal = sym.count { case (a, b) => a == v && members(b) }
      assert(internal >= k, s"vertex $v has internal degree $internal < $k")
    }
  }

  test("empty and too-sparse graphs return empty cores") {
    assert(core(Seq((1L, 2L), (2L, 3L)), 2).isEmpty) // path has no 2-core
    assert(core(Seq.empty, 2).isEmpty)
  }

  test("exhausting maxIter before the fixpoint throws, never a silent superset") {
    // k=2 peeling on a long path removes one layer (two endpoints) per
    // round — peeling depth ~n/2, far past a 3-round cap. The old behavior
    // returned the partially-peeled (wrong, superset) vertex set.
    val path = (0L until 30L).sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
    val ex = intercept[IllegalStateException] {
      KCore.coreMembers(spark, path.toDF("u1", "u2"), 2, maxIter = 3)
        .collect()
    }
    assert(ex.getMessage.contains("fixpoint"))
    // the same graph converges (to the empty 2-core) under the default cap
    assert(core(path, 2).isEmpty)
  }
}
