package graft

import graft.operators.Louvain
import org.apache.spark.sql.functions._

/** Property tests for Louvain: node-wise equality against an in-memory
  * mirror of the exact synchronous update rule (integer scores,
  * smallest-id ties, strict improvement, singleton-swap guard) at
  * level 1 AND through the full multi-level contraction loop,
  * planted-structure recovery, the swap-cycle guard, fixpoint early-exit,
  * the ring-of-cliques resolution-limit merge the contraction exists to
  * perform, and the fixture pins the whole point of the operator:
  * Q(multi-level) ≥ Q(level-1) ≥ Q(lp). */
class LouvainSpec extends BaseSpec {

  /** In-memory mirror of one [[Louvain]] local-move level over a weighted
    * adjacency (self-loop weights included in degrees, excluded from
    * neighbour tallies — exactly the operator's convention). */
  private def refLocalMoves(adj: Map[Long, Map[Long, Long]],
                            iterations: Int, checkEvery: Int = 2): Map[Long, Long] = {
    val deg = adj.map { case (v, ns) => v -> ns.values.sum }
    val w2 = deg.values.sum
    var comm: Map[Long, Long] = deg.keys.map(k => k -> k).toMap
    var i = 0
    var stable = false
    var lastCount = Long.MaxValue
    while (i < iterations && !stable) {
      val members = comm.keys.toSeq.groupBy(comm)
      val dC = members.map { case (c, vs) => c -> vs.map(deg).sum }
      val csize = members.map { case (c, vs) => c -> vs.size }
      val next = adj.map { case (v, ns) =>
        val k = deg(v)
        val c = comm(v)
        val tally = ns.view.filterKeys(_ != v).toSeq
          .groupBy { case (n, _) => comm(n) }
          .map { case (cc, xs) => cc -> xs.map(_._2).sum }
        def score(cc: Long): Long = {
          val dEff = if (cc == c) dC(cc) - k else dC(cc)
          w2 * tally.getOrElse(cc, 0L) - k * dEff
        }
        if (tally.isEmpty) v -> c
        else {
          val best = tally.keySet.toSeq.map(cc => (score(cc), -cc)).max
          val bc = -best._2
          val move = best._1 > score(c) &&
            !(csize(c) == 1 && csize(bc) == 1 && bc > c)
          v -> (if (move) bc else c)
        }
      }
      i += 1
      // the operator's cadence plateau probe, replicated exactly: stop
      // when a probe's community count no longer decreases
      if (i % checkEvery == 0 && i < iterations) {
        val cnt = next.values.toSet.size
        stable = cnt >= lastCount
        lastCount = cnt.toLong
      }
      comm = next
    }
    comm
  }

  private def symAdj(pairs: Seq[(Long, Long)]): Map[Long, Map[Long, Long]] = {
    val sym = pairs ++ pairs.map { case (a, b) => (b, a) }
    sym.groupBy(_._1).map { case (v, es) =>
      v -> es.groupBy(_._2).map { case (d, xs) => d -> xs.size.toLong } }
  }

  private def refLouvain(pairs: Seq[(Long, Long)], iterations: Int): Map[Long, Long] =
    refLocalMoves(symAdj(pairs), iterations)

  /** In-memory mirror of [[Louvain.runMultiLevel]]: local moves →
    * contract (intra weight lands once as a 2×intra self-loop) → repeat
    * until a level merges nothing. */
  private def refLouvainMulti(pairs: Seq[(Long, Long)], maxLevels: Int = 5,
                              iterations: Int = 10): Map[Long, Long] = {
    var edges: Map[(Long, Long), Long] =
      (pairs.map(p => (p._1, p._2)) ++ pairs.map(p => (p._2, p._1)))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    var assign: Map[Long, Long] = null
    var level = 0
    var done = false
    while (level < maxLevels && !done) {
      val adj = edges.toSeq.groupBy(_._1._1).map { case (s, es) =>
        s -> es.map { case ((_, d), w) => d -> w }.toMap }
      val comm = refLocalMoves(adj, iterations)
      level += 1
      // the operator's no-NET-merge stop: |communities| = |vertices|
      if (comm.values.toSet.size == comm.size) {
        done = true
        if (assign == null) assign = comm
      } else {
        assign = if (assign == null) comm
                 else assign.view.mapValues(comm).toMap
        edges = edges.toSeq
          .groupBy { case ((s, d), _) => (comm(s), comm(d)) }
          .map { case (k, es) => k -> es.map(_._2).sum }
      }
    }
    assign
  }

  private def sparkLouvain(pairs: Seq[(Long, Long)], iterations: Int = 10) = {
    import spark.implicits._
    Louvain.run(spark, pairs.toDF("u1", "u2"), iterations)
      .as[(Long, Long)].collect().toMap
  }

  private def sparkLouvainMulti(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    Louvain.runMultiLevel(spark, pairs.toDF("u1", "u2"))
      .as[(Long, Long)].collect().toMap
  }

  /** Driver modularity Q = Σ_c (e_c/m − (d_c/2m)²) — shares no code with
    * the operator or the m_graph_modularity key. */
  private def refModularity(pairs: Seq[(Long, Long)], lab: Map[Long, Long]): Double = {
    val m = pairs.size.toDouble
    val eC = pairs.filter { case (a, b) => lab(a) == lab(b) }
      .groupBy { case (a, _) => lab(a) }.view.mapValues(_.size.toDouble).toMap
    val dC = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(lab).view.mapValues(_.size.toDouble).toMap
    dC.map { case (c, d) => eC.getOrElse(c, 0.0) / m - math.pow(d / (2 * m), 2) }.sum
  }

  test("planted cliques: each collapses to one community, separated; contraction leaves them alone") {
    val cliqueA = for (i <- 0L until 8L; j <- (i + 1) until 8L) yield (i, j)
    val cliqueB = for (i <- 100L until 108L; j <- (i + 1) until 108L) yield (i, j)
    val got = sparkLouvainMulti(cliqueA ++ cliqueB)
    val aLabels = (0L until 8L).map(got).toSet
    val bLabels = (100L until 108L).map(got).toSet
    assert(aLabels.size == 1 && bLabels.size == 1,
      s"cliques must be community-uniform: A=$aLabels B=$bLabels")
    assert(aLabels != bLabels, "disconnected cliques must get distinct communities")
    // disconnected supergraph: level 2 has no inter-edges → identical to level 1
    assert(got == sparkLouvain(cliqueA ++ cliqueB),
      "contraction must not merge disconnected communities")
  }

  test("singleton-swap guard: a single edge merges instead of 2-cycling") {
    import spark.implicits._
    val (comm, rounds) =
      Louvain.runCounted(spark, Seq((0L, 1L)).toDF("u1", "u2"), 10)
    val got = comm.as[(Long, Long)].collect().toMap
    assert(got(0L) == got(1L), s"edge endpoints must merge: $got")
    assert(rounds < 10, s"must reach a fixpoint early, ran $rounds")
  }

  test("node-wise equality with the in-memory mirror on a random graph, both levels") {
    val rnd = new scala.util.Random(29)
    // two noisy clusters + sparse cross edges, deduped to a simple graph
    val intra = for {
      base <- Seq(0L, 50L); _ <- 1 to 120
    } yield (base + rnd.nextInt(20), base + rnd.nextInt(20))
    val cross = for (_ <- 1 to 5) yield (rnd.nextInt(20).toLong, 50L + rnd.nextInt(20))
    val edges = (intra ++ cross)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    assert(sparkLouvain(edges, 10) == refLouvain(edges, 10))
    assert(sparkLouvainMulti(edges) == refLouvainMulti(edges))
  }

  test("driver endgame == forced-distributed multi-level == mirror on the same graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = (for (_ <- 1 to 150)
      yield (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val permuted = new scala.util.Random(37).shuffle(edges)
    val Seq(viaDriver, viaDist) = bothPaths.map { dist =>
      val Seq(got, fromPermuted) = Seq(edges, permuted).map(es => onPath(dist) {
        Louvain.runMultiLevel(spark, es.toDF("u1", "u2")).as[(Long, Long)].collect().toMap
      })
      assert(fromPermuted == got, s"dist=$dist: row order changed the communities")
      got
    }
    assert(viaDriver == viaDist,
      "the driver endgame must reproduce the distributed levels node-wise")
    assert(viaDriver == refLouvainMulti(edges), "and both must match the mirror")
  }

  test("fixpoint early-exit: a clique stops before the cap, matches the reference") {
    import spark.implicits._
    val clique = for (i <- 0L until 6L; j <- (i + 1) until 6L) yield (i, j)
    val (labs, rounds) = Louvain.runCounted(spark, clique.toDF("u1", "u2"), 10)
    assert(rounds < 10, s"clique must reach a fixpoint early, ran $rounds")
    assert(labs.as[(Long, Long)].collect().toMap == refLouvain(clique, 10))
  }

  test("ring of cliques: contraction churns without losing Q on the fully symmetric case") {
    // 12 triangles in a ring, single links between consecutive cliques —
    // the resolution-limit construction (Fortunato & Barthélemy PNAS
    // 2007). Every supernode is interchangeable, so the SYNCHRONOUS
    // schedule's simultaneous moves chase each other around the ring
    // instead of settling into adjacent-pair merges (the documented
    // limitation of any parallel Louvain without sequential tie-making;
    // the singleton-swap guard breaks one link, not the whole chase).
    // The contract here is: Spark ≡ mirror exactly, and the churn never
    // LOSES modularity vs level 1. The paired-cliques test below pins
    // the genuine ΔQ > 0 merge where local asymmetry exists.
    val m = 12
    val pairs = (0 until m).flatMap { c =>
      val base = c * 10L
      Seq((base, base + 1), (base, base + 2), (base + 1, base + 2),
          (base + 2, (((c + 1) % m) * 10L)))
    }
    val level1 = sparkLouvain(pairs)
    val multi = sparkLouvainMulti(pairs)
    assert(multi == refLouvainMulti(pairs), "multi-level must match the mirror")
    val q1 = refModularity(pairs, level1)
    val qm = refModularity(pairs, multi)
    assert(qm >= q1 - 1e-12, s"contraction must not lose Q: $qm vs $q1")
  }

  test("paired cliques: the contraction level performs the resolution-limit merge") {
    // 6 isolated PAIRS of triangles, each pair joined by two links —
    // merging a pair raises Q (e_c 3+3+2 = 8, d_c 16: 0.1389 > 2×0.0556)
    // but no single vertex move can get there (a defector to the other
    // triangle scores 96·1 − 3·8 = 72 < 177 for staying): level 1
    // recovers the 12 triangles, the contraction level MUST merge each
    // pair — the behaviour that separates full Louvain from one
    // local-move pass. The double link makes the supergraph move
    // strictly preferred and the singleton-swap guard resolves the
    // mutual wish deterministically (larger id joins smaller).
    val pairsOfCliques = (0 until 6).flatMap { p =>
      val a = p * 20L      // first triangle base
      val b = p * 20L + 10 // second triangle base
      Seq((a, a + 1), (a, a + 2), (a + 1, a + 2),
          (b, b + 1), (b, b + 2), (b + 1, b + 2),
          (a + 2, b), (a + 1, b + 1))
    }
    val level1 = sparkLouvain(pairsOfCliques)
    val multi = sparkLouvainMulti(pairsOfCliques)
    assert(multi == refLouvainMulti(pairsOfCliques), "multi-level must match the mirror")
    assert(level1.values.toSet.size == 12, "level 1 must recover the 12 triangles")
    assert(multi.values.toSet.size == 6,
      s"contraction must merge each double-linked pair: ${multi.values.toSet.size}")
    val q1 = refModularity(pairsOfCliques, level1)
    val qm = refModularity(pairsOfCliques, multi)
    assert(qm > q1, s"merging must raise Q: $qm vs $q1")
  }

  test("m_graph_louvain sizes sum to the co-traveler vertex count; Q(multi) >= Q(level1) >= Q(lp)") {
    import spark.implicits._
    val hist = SparkEntry.queries("m_graph_louvain")(spark, sf)
      .as[(Long, Long)].collect()
    assert(hist.nonEmpty)
    val total = hist.map { case (size, n) => size * n }.sum
    val verts = SparkEntry.queries("q_graph_degree")(spark, sf)
      .agg(sum($"n_users")).as[Long].head()
    assert(total == verts, s"community sizes cover $total of $verts vertices")

    // the operator must not LOSE quality down the ladder — Q from one
    // driver formula over the same fixture pair set
    val pts = Tables(spark, sf, "events")
      .withColumn("lat", (col("event_id") * 37L % 1700L) / 10.0 - 85.0)
      .withColumn("lon", (col("event_id") * 131L % 3600L) / 10.0 - 180.0)
      .withColumn("ts_us", unix_micros(col("ts")))
    val pairs = graft.operators.Convoy.coTravelers(pts, cellDeg = 20.0, minHours = 2)
      .select($"u1", $"u2").as[(Long, Long)].collect().toSeq
    val qMulti = refModularity(pairs, refLouvainMulti(pairs))
    val qL1 = refModularity(pairs, refLouvain(pairs, 10))
    val lpLab = {
      val sym = pairs ++ pairs.map { case (a, b) => (b, a) }
      graft.operators.LabelProp.run(spark,
        sym.toDF("src", "dst")).as[(Long, Long)].collect().toMap
    }
    val qLp = refModularity(pairs, lpLab)
    assert(qMulti >= qL1 - 1e-12,
      s"contraction must not lose to level 1: $qMulti vs $qL1")
    assert(qL1 >= qLp - 1e-12,
      s"Louvain must not lose to LP on the fixture: $qL1 vs $qLp")
  }
}
