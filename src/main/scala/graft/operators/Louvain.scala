package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Louvain community detection (SURVEY §2.10 graph-mining extension,
  * `m_graph_louvain`) — Blondel, Guillaume, Lambiotte & Lefebvre
  * (J. Stat. Mech. 2008, P10008), expressed as edge-list joins like
  * [[LabelProp]] (no GraphX; the join IS the message exchange). Where
  * label propagation adopts the PLURALITY neighbour label, Louvain moves
  * each vertex to the neighbouring community with the best MODULARITY
  * GAIN — the operator that OPTIMIZES the Q score `m_graph_modularity`
  * only measures — and [[runMultiLevel]] then CONTRACTS the communities
  * to a weighted supergraph and repeats, the full published algorithm.
  *
  * Local-move update (synchronous, deterministic, weighted): every
  * vertex starts in its own community. Each round, vertex i scores every
  * community c among its neighbours' communities ∪ its own:
  *
  *   score(i, c) = 2W·w_{i,c} − k_i · d_{c∖i}
  *
  * the modularity gain of joining c, rescaled by the positive constant
  * 2W² so the comparison runs in EXACT integer arithmetic: w_{i,c} =
  * edge weight from i into c (self-loops excluded — they move with i),
  * k_i = weighted degree including self-loops, d_{c∖i} = community
  * degree excluding i, W = total edge weight. The vertex moves to the
  * argmax — ties toward the SMALLEST community id — iff the move
  * strictly improves on staying. All moves apply simultaneously; the
  * synchronous schedule makes each level a pure function of the graph
  * (property-testable node-wise, LouvainSpec), at the cost of the known
  * two-cycle risk, which two guards bound: strict improvement
  * (equal-score oscillation cannot start) and the singleton-swap rule of
  * Lu, Halappanavar & Kalyanaraman (Parallel Computing 47, 2015): when
  * BOTH communities are singletons, move only toward the smaller id.
  * Declared limitation of the synchronous schedule (shared by every
  * parallel Louvain without sequential tie-making): on a FULLY symmetric
  * supergraph — e.g. the uniform ring of cliques of Fortunato &
  * Barthélemy (PNAS 2007) — simultaneous equal-gain moves chase around
  * the structure instead of settling into pairwise merges; the iteration
  * cap bounds the churn and LouvainSpec pins that it never LOSES Q.
  * Where local asymmetry exists (any real degree distribution, or the
  * paired-clique fixture), the contraction performs the Q-raising
  * resolution-limit merges level 1 cannot express.
  *
  * Contraction keeps weights integer: the directed symmetric
  * representation sums intra-community weight into a single (c, c) row,
  * which is automatically 2×intra — the self-loop convention the
  * weighted degree expects — so every level runs the same exact-integer
  * scoring. Levels stop when a level moves nothing (every community a
  * singleton) or at `maxLevels`.
  *
  * Scale shape per round: one (dst ⋈ community) shuffle for the
  * neighbour tallies, one community-keyed aggregate for (d_c, |c|), one
  * vertex-keyed argmax — all on stable keys; contraction is one
  * (cs, cd) aggregate per level over the CONTRACTED edge set, which only
  * shrinks. Driver actions follow [[LabelProp]]'s amortized cadence.
  *
  * Exactness envelope — BOTH product terms of the score: 2W·w_ic and
  * k·d_eff are each bounded by (2W)² (w_ic ≤ k ≤ 2W, d_eff ≤ 2W; after
  * contraction a hub supernode scoring a giant community really does
  * approach that bound), so integer scoring is exact, wrap-free, iff
  * (2W)² < 2⁶³, i.e. 2W ≤ 3 037 000 499. Past that — ~1.5e9 total edge
  * weight — Spark's non-ANSI Long eval would wrap silently, so both the
  * distributed path and the driver mirror switch TOGETHER to double
  * scoring on the one already-collected 2W value (guard costs no extra
  * action). Declared: in the double regime score comparisons carry
  * double rounding (ULP ≈ 2¹¹ at 4W² ≈ 2⁶⁴) — near-exact ties may
  * resolve differently than exact integer argmax, but moves remain
  * Q-non-decreasing and no product ever wraps. */
object Louvain {

  /** Checkpoint post-pass: every checkpoint in this operator re-wraps its
    * LogicalRDD without `originStats` ([[org.apache.spark.sql.execution.GraftStatsCut]]) —
    * the round plans reference the previous round's frame ~5 times, and
    * propagated stats would compound as S^(5^rounds), hanging the planner
    * in million-digit BigInteger products by round ~8. */
  private def cp(df: DataFrame): DataFrame =
    org.apache.spark.sql.execution.GraftStatsCut(df)

  /** Largest 2W for which (2W)² < 2⁶³ — the exact-integer scoring
    * envelope (scaladoc above). floor(sqrt(2⁶³ − 1)). */
  private val ExactW2Max = 3037000499L

  /** Level-1 only (the r12-verdict surface, kept for the spec's
    * node-wise mirror): local moves on the unweighted simple graph.
    *
    * @param pairs UNDIRECTED simple graph as distinct (u1, u2) rows,
    *        u1 ≠ u2, each edge once (the co-traveler pair convention)
    * @return (id, c) for every vertex; vertices sharing c are one
    *         community */
  def run(spark: SparkSession, pairs: DataFrame, iterations: Int = 10,
          checkEvery: Int = 2): DataFrame =
    runCounted(spark, pairs, iterations, checkEvery)._1

  /** As [[run]], also returning the number of rounds executed
    * (< `iterations` when a round moved nothing — a fixpoint of the
    * synchronous update). */
  def runCounted(spark: SparkSession, pairs: DataFrame,
                 iterations: Int = 10, checkEvery: Int = 2): (DataFrame, Int) = {
    import spark.implicits._
    val p = pairs.select($"u1".cast("long"), $"u2".cast("long"))
    val e = p.select($"u1".as("src"), $"u2".as("dst"))
      .unionAll(p.select($"u2".as("src"), $"u1".as("dst")))
      .withColumn("w", lit(1L))
      .localCheckpoint(eager = true).transform(cp)
    val (comm, iters) = localMoves(spark, e, iterations, checkEvery)
    LastIterations.record(iters)
    (comm, iters)
  }

  /** Full multi-level Louvain: local moves, contract, repeat.
    *
    * [[Endgame]]: once the (contracted) directed edge set fits the
    * budget, the remaining levels run driver-local with the IDENTICAL
    * update rule — contraction shrinks the graph by orders of magnitude
    * per level, and below the budget each distributed round is pure fixed
    * job overhead. LouvainSpec pins driver ≡ distributed node-wise on the
    * same graphs.
    *
    * @param pairs as in [[run]]
    * @return (id, c) mapping every ORIGINAL vertex to its final
    *         community (community ids are original vertex ids) */
  def runMultiLevel(spark: SparkSession, pairs: DataFrame,
                    maxLevels: Int = 5, iterations: Int = 10,
                    checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    var edges: DataFrame = null // the level's checkpointed (src, dst, w)
    var assign: DataFrame = null // original id → current community
    var level = 0
    var done = false
    var itersTotal = 0
    while (level < maxLevels && !done) {
      // level 0 reads each undirected pair in both directions at weight 1
      val fetched =
        if (edges == null) Bfs.localSymmetric(spark, pairs).map(_.map { case (a, b) => (a, b, 1L) })
        else Endgame.rows(edges.select($"src", $"dst", $"w").as[(Long, Long, Long)])
      fetched match {
        case Some(rows) =>
          // driver endgame: finish every remaining level locally
          val (fmap, it) = driverLevels(rows, maxLevels - level, iterations, checkEvery)
          itersTotal += it
          val fdf = fmap.toSeq.sortBy(_._1).toDF("id", "c")
          assign =
            if (assign == null) fdf
            else assign.withColumnRenamed("c", "cp")
              .join(fdf.select($"id".as("cp"), $"c"), Seq("cp"))
              .select($"id", $"c")
          done = true
        case None =>
          if (edges == null) {
            val p = pairs.select($"u1".cast("long"), $"u2".cast("long"))
            edges = p.select($"u1".as("src"), $"u2".as("dst"))
              .unionAll(p.select($"u2".as("src"), $"u1".as("dst")))
              .withColumn("w", lit(1L))
              .localCheckpoint(eager = true).transform(cp)
          }
          val (comm, iters) = localMoves(spark, edges, iterations, checkEvery)
          itersTotal += iters
          level += 1
          // no NET merge (|communities| = |vertices|) means the level made
          // no structural progress — identity, or the synchronous
          // schedule's pure label churn (a permutation) — so further
          // levels cannot either; one combined action probes both counts
          val cnt = comm.agg(count(lit(1)), countDistinct($"c")).first()
          if (cnt.getLong(1) == cnt.getLong(0)) {
            done = true
            if (assign == null) assign = comm
          } else {
            assign =
              if (assign == null) comm.localCheckpoint(eager = false).transform(cp)
              else assign.withColumnRenamed("c", "cp")
                .join(comm.select($"id".as("cp"), $"c"), Seq("cp"))
                .select($"id", $"c")
                .localCheckpoint(eager = false).transform(cp)
            // contract: both directed copies of an intra-community edge
            // land in the single (c, c) row, making its weight 2×intra —
            // the self-loop convention localMoves' weighted degree expects
            edges = edges
              .join(comm.select($"id".as("src"), $"c".as("cs")), Seq("src"))
              .join(comm.select($"id".as("dst"), $"c".as("cd")), Seq("dst"))
              .groupBy($"cs".as("src"), $"cd".as("dst")).agg(sum($"w").as("w"))
              .localCheckpoint(eager = true).transform(cp)
          }
      }
    }
    LastIterations.record(itersTotal)
    assign
  }

  /** Driver-local remaining levels — the same update rule, probe cadence,
    * no-net-merge stop, and contraction convention as the distributed
    * path, over an in-memory weighted edge map. */
  private def driverLevels(rows: Array[(Long, Long, Long)], maxLevels: Int,
                           iterations: Int, checkEvery: Int): (Map[Long, Long], Int) = {
    var edges: Map[(Long, Long), Long] = rows.groupBy(r => (r._1, r._2))
      .map { case (k, v) => k -> v.map(_._3).sum }
    var assign: Map[Long, Long] = null
    var level = 0
    var done = false
    var iters = 0
    while (level < maxLevels && !done) {
      val adj: Map[Long, Map[Long, Long]] = edges.toSeq.groupBy(_._1._1)
        .map { case (s, es) => s -> es.map { case ((_, d), w) => d -> w }.toMap }
      val (comm, it) = driverMoves(adj, iterations, checkEvery)
      iters += it
      level += 1
      if (comm.values.toSet.size == comm.size) {
        done = true
        if (assign == null) assign = comm
      } else {
        assign = if (assign == null) comm else assign.view.mapValues(comm).toMap
        edges = edges.toSeq
          .groupBy { case ((s, d), _) => (comm(s), comm(d)) }
          .map { case (k, es) => k -> es.map(_._2).sum }
      }
    }
    if (assign == null) // maxLevels == 0 guard: identity over the vertex set
      assign = edges.keys.map(_._1).map(v => v -> v).toMap
    (assign, iters)
  }

  /** One driver-local level: the localMoves update text verbatim. */
  private def driverMoves(adj: Map[Long, Map[Long, Long]], iterations: Int,
                          checkEvery: Int): (Map[Long, Long], Int) = {
    val deg = adj.map { case (v, ns) => v -> ns.values.sum }
    val w2 = deg.values.sum
    val useDouble = w2 > ExactW2Max // same envelope as localMoves
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
        def scoreL(cc: Long): Long = {
          val dEff = if (cc == c) dC(cc) - k else dC(cc)
          w2 * tally.getOrElse(cc, 0L) - k * dEff
        }
        def scoreD(cc: Long): Double = {
          val dEff = if (cc == c) dC(cc) - k else dC(cc)
          w2.toDouble * tally.getOrElse(cc, 0L) - k.toDouble * dEff
        }
        if (tally.isEmpty) v -> c
        else {
          val (better, bc) =
            if (useDouble) {
              val bst = tally.keySet.toSeq.map(cc => (scoreD(cc), -cc)).max
              (bst._1 > scoreD(c), -bst._2)
            } else {
              val bst = tally.keySet.toSeq.map(cc => (scoreL(cc), -cc)).max
              (bst._1 > scoreL(c), -bst._2)
            }
          val mv = better && !(csize(c) == 1 && csize(bc) == 1 && bc > c)
          v -> (if (mv) bc else c)
        }
      }
      i += 1
      if (i % checkEvery == 0 && i < iterations) {
        val cnt = next.values.toSet.size.toLong
        stable = cnt >= lastCount
        lastCount = cnt
      }
      comm = next
    }
    (comm, i)
  }

  /** One level of synchronous weighted local moves over a directed
    * symmetric edge frame (src, dst, w) whose self-loops appear ONCE
    * with weight 2×internal. Returns (id → community, rounds run). */
  private def localMoves(spark: SparkSession, e: DataFrame,
                         iterations: Int, checkEvery: Int): (DataFrame, Int) = {
    import spark.implicits._
    val deg = e.groupBy($"src".as("id")).agg(sum($"w").as("k"))
      .localCheckpoint(eager = true).transform(cp)
    val w2 = e.agg(sum($"w")).first().getLong(0) // = 2W; one action
    // Overflow guard (scaladoc envelope): both score products are
    // ≤ (2W)², so integer scoring is exact iff 2W ≤ ExactW2Max; beyond
    // that, score in double — no extra action, no silent Long wrap.
    val useDouble = w2 > ExactW2Max
    val nonSelf = e.filter($"src" =!= $"dst").localCheckpoint(eager = true).transform(cp)

    var comm = deg.select($"id", $"id".as("c"))
    var i = 0
    var stable = false
    var lastCount = Long.MaxValue
    while (i < iterations && !stable) {
      // community totals: Σ degree and size (size feeds the swap guard)
      val cstat = comm.join(deg, Seq("id"))
        .groupBy($"c").agg(sum($"k").as("d_c"), count(lit(1)).as("csize"))
      // w_{i,c}: weight from i into each neighbouring community
      // (self-loops excluded — they move with i and cancel in the
      // comparison). The own community needs no separate candidate row:
      // when a neighbour shares it the tally includes it, and when none
      // does the own score is −k·(d_c − k) exactly (w_ic = 0), recovered
      // below from the cstat join — the argmax-vs-own comparison is
      // identical either way.
      val nbr = nonSelf
        .join(comm.select($"id".as("dst"), $"c".as("nc")), Seq("dst"))
        .groupBy($"src".as("id"), $"nc").agg(sum($"w").as("w_ic"))
      val scored = nbr
        .join(deg, Seq("id"))
        .join(comm, Seq("id"))
        .join(cstat.select($"c".as("nc"), $"d_c", $"csize"), Seq("nc"))
        .withColumn("d_eff",
          when($"nc" === $"c", $"d_c" - $"k").otherwise($"d_c"))
        .withColumn("score",
          if (useDouble)
            lit(w2).cast("double") * $"w_ic" - $"k".cast("double") * $"d_eff"
          else lit(w2) * $"w_ic" - $"k" * $"d_eff")
      // argmax by (score desc, community id asc) over the neighbour
      // communities (own included whenever a neighbour shares it); `cur`
      // picks the own-community row when present
      val best = scored.groupBy($"id").agg(
        max(struct($"score", (-$"nc").as("negc"), $"csize".as("tsize"))).as("w"),
        max(when($"nc" === $"c", struct($"score", $"csize"))).as("cur"),
        max($"c").as("c"), max($"k").as("k"))
      i += 1
      val cadence = i % checkEvery == 0 || i == iterations
      val moves = best
        .join(cstat, Seq("c")) // own-community stats for the w_ic = 0 case
        .withColumn("curScore",
          coalesce($"cur.score",
            if (useDouble) -$"k".cast("double") * ($"d_c" - $"k")
            else -$"k" * ($"d_c" - $"k")))
        .select($"id",
          when($"w.score" > $"curScore" &&
               !($"csize" === 1 && $"w.tsize" === 1 && -$"w.negc" > $"c"),
            -$"w.negc").otherwise($"c").as("c2"))
      // left join back onto the full vertex set: a vertex with ONLY a
      // self-loop (a contracted community with no external edges) has no
      // nbr rows, hence no `moves` row — it stays put, never drops out
      val next = comm.join(moves, Seq("id"), "left")
        .select($"id", coalesce($"c2", $"c").as("c2"), $"c".as("c_prev"))
        .select($"id", $"c2".as("c"), ($"c2" =!= $"c_prev").as("changed"))
        .localCheckpoint(eager = cadence).transform(cp)
      if (cadence && i < iterations) {
        // plateau probe: rounds whose moves no longer REDUCE the
        // community count are churn (the synchronous schedule's label
        // chase) or a fixpoint — either way no structural progress, stop
        // the level. Declared: both the operator and the LouvainSpec
        // mirror stop on the identical cadence probe.
        val cnt = next.agg(countDistinct($"c")).first().getLong(0)
        stable = cnt >= lastCount
        lastCount = cnt
      }
      comm = next.drop("changed")
    }
    (comm, i)
  }
}
