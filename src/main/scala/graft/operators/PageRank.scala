package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Edge-list PageRank (SURVEY §2.10 graph-mining extension,
  * `m_graph_pagerank`): power iteration expressed as DataFrame joins —
  * no GraphX, same design choice as [[ConnectedComponents]] (Pregel's
  * per-superstep scheduling overhead dominates on few-iteration jobs;
  * an edge-list join IS the message exchange, and Catalyst/AQE handle
  * partitioning and skew).
  *
  * Scale shape per iteration: ranks ⋈ edges on src (one keyed shuffle),
  * contributions hash-aggregated on dst (second keyed shuffle) — both on
  * stable keys, so at 100 TB the two exchanges reuse co-partitioning
  * round to round. Driver-blocking actions are AMORTIZED to one cadence
  * out of `checkEvery` rounds: intermediate rounds mark their frame with
  * a lazy `localCheckpoint` (lineage cut + cache on first materialize)
  * and chain; the cadence round materializes the pending block eagerly
  * and runs the L1 convergence aggregate over the cached frame. At cap
  * 15 / cadence 3 that is ~9 driver round-trips instead of 30 — the
  * round-8 driver bench showed serialized per-round actions, not shuffle
  * volume, dominating wall clock under host contention (26.5 s for a key
  * the same plan runs in ~4 s uncontended). Dangling mass (nodes with no
  * out-edges) is redistributed uniformly each round, keeping Σrank = 1 an
  * invariant (PageRankSpec asserts it together with node-wise equality to
  * a driver-side reference iteration).
  *
  * Determinism note: double contributions are summed in shuffle order, so
  * node ranks carry ~1e-15 noise run to run; consumers round (r6) before
  * ranking, far above the noise floor — structurally-symmetric nodes get
  * mathematically equal ranks and round identically.
  */
object PageRank {

  /** @param edges DIRECTED (src, dst) edge list, duplicates allowed
    *        (weights by multiplicity); pass both directions for an
    *        undirected graph. With `weighted = true` the list must also
    *        carry a positive `w` column and each vertex's rank splits
    *        across its out-edges ∝ w/Σw (the classic weighted PageRank)
    *        instead of uniformly — the unweighted path is exactly the
    *        weighted one with w ≡ 1, and PageRankSpec pins that identity.
    * @param tol L1 convergence tolerance, checked every `checkEvery`
    *        rounds: the loop ends once Σ|rankᵢ − rankᵢ₋₁| < tol (an agg
    *        over the just-checkpointed per-vertex frame — near-free next
    *        to the two keyed joins). `iterations` stays the hard cap. The
    *        residual any later iteration could still add is ≤ tol·d/(1−d)
    *        ≈ 5.7·tol, so the 1e-7 default keeps early-exit ranks ~5.7e-7
    *        from the fixed-cap fixpoint — below the 1e-6 quantum consumers
    *        round to (r6) before ranking. 1e-7 is also REACHABLE: slow
    *        contraction is ~d^k, so tighter tols (the old 1e-10 needed
    *        ~140 rounds) never fire within a 15-round cap and every graph
    *        pays the full check bill for nothing. Pass 0 to disable.
    * @param checkEvery cadence (in rounds) of the eager materialize +
    *        convergence check; intermediate rounds chain lazily. Early
    *        exit can overshoot the true fixpoint round by up to
    *        checkEvery−1 rounds — extra rounds only shrink the residual.
    * @return (id, rank) for every vertex appearing in `edges`, Σrank = 1 */
  def run(spark: SparkSession, edges: DataFrame, damping: Double = 0.85,
          iterations: Int = 15, tol: Double = 1e-7,
          checkEvery: Int = 3, weighted: Boolean = false): DataFrame =
    runCounted(spark, edges, damping, iterations, tol, checkEvery, weighted)._1

  /** Driver-local power iteration over primitive arrays — the [[Endgame]]
    * kernel. Mirrors the distributed semantics exactly: same update
    * equations, same dangling redistribution, same cadence L1 early-exit
    * (checked at i % checkEvery == 0, i < cap), so PageRankSpec pins
    * node-wise 1e-9 equality on both paths. Edges are sorted (src, dst, w)
    * first so summation order — hence the output — is run-deterministic. */
  private def runLocal(spark: SparkSession, rows: Array[(Long, Long, Double)],
                       damping: Double, iterations: Int, tol: Double,
                       checkEvery: Int): (DataFrame, Int) = {
    import spark.implicits._
    // Deterministic summation order: collected partition order varies run
    // to run; the sort pins it (the distributed path's noise floor is the
    // declared ~1e-15; the local path simply has none).
    val es = rows.sortBy(e => (e._1, e._2, e._3))(Ordering.Tuple3(
      Ordering.Long, Ordering.Long, Ordering.Double.TotalOrdering))
    val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct.sorted
    val n = ids.length.toDouble
    val idx = scala.collection.mutable.LongMap.empty[Int]
    ids.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val outDeg = new Array[Double](ids.length)
    es.foreach { case (s, _, w) => outDeg(idx(s)) += w }
    var rank = Array.fill(ids.length)(1.0 / n)
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      var danglingMass = 0.0
      var v = 0
      while (v < ids.length) {
        if (outDeg(v) == 0.0) danglingMass += rank(v); v += 1
      }
      val in = new Array[Double](ids.length)
      es.foreach { case (s, d, w) =>
        val si = idx(s); in(idx(d)) += rank(si) / outDeg(si) * w
      }
      val base = (1.0 - damping) / n + damping * danglingMass / n
      val next = Array.tabulate(ids.length)(v => base + damping * in(v))
      i += 1
      if (tol > 0 && (i % checkEvery == 0) && i < iterations) {
        var l1 = 0.0
        v = 0
        while (v < ids.length) { l1 += math.abs(next(v) - rank(v)); v += 1 }
        converged = l1 < tol
      }
      rank = next
    }
    (spark.createDataset(ids.toSeq.map(v => (v, rank(idx(v)))))
      .toDF("id", "rank"), i)
  }

  /** As [[run]], also returning the number of iterations actually executed
    * (< `iterations` when the L1 certificate ended the loop early). */
  def runCounted(spark: SparkSession, edges: DataFrame, damping: Double = 0.85,
                 iterations: Int = 15, tol: Double = 1e-7,
                 checkEvery: Int = 3, weighted: Boolean = false): (DataFrame, Int) = {
    import spark.implicits._
    val typed =
      if (weighted)
        edges.select($"src".cast("long"), $"dst".cast("long"), $"w".cast("double"))
      else
        edges.select($"src".cast("long"), $"dst".cast("long"), lit(1.0).as("w"))
    val (ranks, rounds) = Endgame.rows(typed.as[(Long, Long, Double)]).map { rows =>
      runLocal(spark, rows, damping, iterations, tol, checkEvery)
    }.getOrElse {
      // the frame every distributed round reads, cached once
      val e = typed.localCheckpoint(eager = true)
      val verts = e.select($"src".as("id")).unionAll(e.select($"dst".as("id")))
        .distinct().localCheckpoint(eager = true)
      val n = verts.count().toDouble
      // out-"degree" = Σw per src — with w ≡ 1 this IS the edge count, so
      // the unweighted semantics are unchanged bit-for-bit in structure
      // (sum of 1.0s is exact in doubles up to 2^53 edges per vertex)
      val outDeg = e.groupBy($"src".as("id")).agg(sum($"w").as("deg"))

      // Dangling vertex SET is iteration-invariant — compute it once. The
      // common undirected case (co-travel graph: every vertex has
      // out-edges) has none, and then NO driver action runs outside
      // cadence rounds; only a true dangling set pays the per-round mass
      // aggregation (the head() also materializes that round's pending
      // lazy checkpoint, so dangling graphs simply degrade to one action
      // per round, never two).
      val danglingVerts = verts.join(outDeg, Seq("id"), "left_anti")
        .localCheckpoint(eager = true)
      val hasDangling = !danglingVerts.isEmpty

      var ranks = verts.withColumn("rank", lit(1.0 / n))
      var i = 0
      var converged = false
      while (i < iterations && !converged) {
        val danglingMass =
          if (hasDangling)
            ranks.join(danglingVerts, Seq("id"), "left_semi")
              .agg(coalesce(sum($"rank"), lit(0.0))).as[Double].head()
          else 0.0
        val contribs = ranks.join(outDeg, Seq("id"))
          .select($"id".as("src"), ($"rank" / $"deg").as("c"))
          .join(e, Seq("src"))
          .groupBy($"dst".as("id")).agg(sum($"c" * $"w").as("in_mass"))
        val base = (1.0 - damping) / n + damping * danglingMass / n
        i += 1
        val cadence = i % checkEvery == 0 || i == iterations
        // prev rides INSIDE the update plan (the id-keyed joins
        // co-partition), so the cadence L1-delta check is an agg over the
        // already-cached per-vertex frame — near-free — instead of a
        // separate keyed-join job. Non-cadence rounds checkpoint LAZILY:
        // lineage is cut and the block persists on first materialization
        // (the next cadence job), so the double reference to `ranks` below
        // (contribs + prev) reads one cached copy, never recomputes the
        // chain.
        val next = verts.join(contribs, Seq("id"), "left")
          .join(ranks.select($"id", $"rank".as("prev")), Seq("id"))
          .select($"id",
            (lit(base) + lit(damping) * coalesce($"in_mass", lit(0.0))).as("rank"),
            $"prev")
          .localCheckpoint(eager = cadence)
        if (tol > 0 && cadence && i < iterations)
          converged = next.agg(coalesce(sum(abs($"rank" - $"prev")), lit(0.0)))
            .as[Double].head() < tol
        ranks = next.drop("prev")
      }
      (ranks, i)
    }
    LastIterations.record(rounds)
    (ranks, rounds)
  }
}
