package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Betweenness centrality (`m_graph_betweenness`) by source-sampled
  * Brandes (Brandes JMS 2001; sampling per Brandes & Pich 2007) — the
  * bridge/broker score the centrality suite lacked beside PageRank
  * (influence): which vertices sit on shortest paths between others.
  *
  * All K sources run TOGETHER, keyed by a `s` column — one frame per
  * phase, never a per-source driver loop over jobs:
  *
  *  - Forward: frontier-synchronous BFS that also accumulates σ (the
  *    shortest-path COUNTS): level d+1 candidates = frontier ⋈ edges,
  *    hash-agg summing σ over predecessors, anti-join against the
  *    reached set — the [[Bfs]] plan shape with one extra integer sum.
  *    σ is BIGINT-exact.
  *  - Backward: Brandes' dependency accumulation δ(v) = Σ_{w ∈ succ}
  *    σ(v)/σ(w) · (1 + δ(w)), one level at a time from the deepest
  *    frontier up. Each step is a (s, w)-keyed equi-join of two
  *    level-filtered slices of the checkpointed reached frame. Per-row
  *    contributions are deterministic doubles (σ ratios of exact
  *    BIGINTs, δ from the previous level's pinned sum) and their group
  *    sums are DECIMAL-routed, so δ — and the final scores — are
  *    bit-deterministic under any partitioning (the repo-wide ln-parity
  *    discipline applied to a float fixpoint).
  *
  * Sources are the K smallest vertex ids — deterministic, and when
  * |V| ≤ K the result is EXACT Brandes (the spec pins both regimes).
  * Rounds needed = eccentricity of the sampled sources (the recorded
  * rounds, exactly, read back from the reached frame's max level);
  * if `maxDepth` rounds still leave DISCOVERABLE vertices — probed with
  * one extra frontier join, so completing exactly at `maxDepth` is fine
  * — run() THROWS (the [[KCore]]/[[Sssp]] discipline: a truncated BFS
  * would silently underestimate every score).
  */
object Betweenness {
  /** @param edges undirected (u1, u2) pair list, each pair once
    * @param k     number of BFS sources (smallest ids; |V| ≤ k → exact)
    * @return (id, bc): Σ over sampled sources of Brandes δ, halved
    *         (each undirected pair is counted from both endpoints when
    *         both are sources — the standard undirected convention) */
  def run(spark: SparkSession, edges: DataFrame, k: Int = 16,
          maxDepth: Int = 16, checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    // The local path is textbook Brandes per sampled source over a driver
    // adjacency map. σ stays Long-exact; every δ group sum goes through the
    // SAME Decimal(38,18) HALF_UP route as the distributed aggregate
    // (decimal sums are order-independent), so the local path is
    // BIT-IDENTICAL to the distributed one, not merely close
    // (BetweennessSpec pins both paths and the across-runs determinism).
    val (out, rounds, complete) = Bfs.localSymmetric(spark, edges).map { es =>
      val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val sources = adj.keys.toArray.sorted.take(k)
      def dec(d: Double): java.math.BigDecimal =
        new java.math.BigDecimal(java.lang.Double.toString(d))
          .setScale(18, java.math.RoundingMode.HALF_UP)
      val bcAcc = scala.collection.mutable.LongMap.empty[java.math.BigDecimal]
      var globalMax = 0
      var complete = true
      val srcIt = sources.iterator
      while (complete && srcIt.hasNext) {
        val s = srcIt.next()
        val dist = scala.collection.mutable.LongMap[Int](s -> 0)
        val sigma = scala.collection.mutable.LongMap[Long](s -> 1L)
        var frontier = Array(s)
        var d = 0
        while (complete && frontier.nonEmpty) {
          d += 1
          val cand = scala.collection.mutable.LongMap.empty[Long]
          frontier.foreach { v =>
            adj.getOrElse(v, Array.empty[Long]).foreach { w =>
              if (!dist.contains(w))
                cand(w) = cand.getOrElse(w, 0L) + sigma(v)
            }
          }
          complete = cand.isEmpty || d <= maxDepth
          cand.foreach { case (w, sg) => dist(w) = d; sigma(w) = sg }
          frontier = cand.keys.toArray.sorted
        }
        val maxLevel = d - 1 // last round discovered nothing
        globalMax = math.max(globalMax, maxLevel)
        // backward accumulation, deepest level first; δ defaults to 0
        val delta = scala.collection.mutable.LongMap.empty[Double]
        var l = maxLevel - 1
        while (l >= 1) {
          dist.foreach { case (v, dv) =>
            if (dv == l) {
              var sum: java.math.BigDecimal = null
              adj.getOrElse(v, Array.empty[Long]).foreach { w =>
                if (dist.getOrElse(w, -1) == l + 1) {
                  val term = sigma(v).toDouble / sigma(w) *
                    (1.0 + delta.getOrElse(w, 0.0))
                  sum = if (sum == null) dec(term) else sum.add(dec(term))
                }
              }
              if (sum != null) delta(v) = sum.doubleValue
            }
          }
          l -= 1
        }
        delta.foreach { case (v, dl) =>
          bcAcc(v) = bcAcc.get(v) match {
            case Some(acc) => acc.add(dec(dl))
            case None => dec(dl)
          }
        }
      }
      val out = bcAcc.toSeq.sortBy(_._1)
        .map { case (v, acc) => (v, acc.doubleValue / 2.0) }
      (spark.createDataset(out).toDF("id", "bc"), globalMax, complete)
    }.getOrElse {
      val sym = edges.select($"u1".as("src"), $"u2".as("dst"))
        .unionAll(edges.select($"u2".as("src"), $"u1".as("dst")))
        .localCheckpoint(eager = true)
      val sources = sym.select($"src".as("id")).distinct()
        .orderBy($"id").limit(k)

      // forward: (s, v, dist, sigma)
      var reached = sources
        .select($"id".as("s"), $"id".as("v"), lit(0).as("dist"),
                lit(1L).as("sigma"))
        .localCheckpoint(eager = true)
      var frontier = reached
      var d = 0
      var exhausted = false
      while (d < maxDepth && !exhausted) {
        d += 1
        val cadence = d % checkEvery == 0 || d == maxDepth
        val next = frontier.join(sym, frontier("v") === sym("src"))
          .select($"s", $"dst".as("v"), $"sigma")
          .groupBy($"s", $"v").agg(sum($"sigma").as("sigma"))
          .join(reached.select($"s", $"v"), Seq("s", "v"), "left_anti")
          .select($"s", $"v", lit(d).as("dist"), $"sigma")
          .localCheckpoint(eager = cadence)
        if (cadence && next.isEmpty) {
          exhausted = true
        } else {
          reached = reached.unionAll(next).localCheckpoint(eager = false)
          frontier = next
        }
      }
      // the loop ran out of rounds with a live frontier: scores are
      // truncated ONLY if another round would still discover vertices —
      // completing exactly at maxDepth is legitimate, so probe once
      val complete = exhausted ||
        frontier.join(sym, frontier("v") === sym("src"))
          .select($"s", $"dst".as("v")).distinct()
          .join(reached.select($"s", $"v"), Seq("s", "v"), "left_anti")
          .isEmpty
      if (!complete) (spark.emptyDataFrame, d, false)
      else {
        reached = reached.localCheckpoint(eager = true)
        // true deepest discovered level from the data — the cadence-deferred
        // emptiness check can overshoot by up to checkEvery-1 no-op rounds,
        // so neither `d` nor a derived counter is the eccentricity
        val maxLevel = reached.agg(max($"dist")).as[Int].head()

        // backward: dependency accumulation, deepest level first. delta
        // holds (s, v, delta) for levels > l; vertices without an entry
        // have δ = 0. Level 0 is never computed: the only level-0 vertex
        // is the source itself, whose own-BFS δ is excluded from bc by
        // definition (it still accumulates bc as an INTERMEDIATE of other
        // sources' BFS trees).
        var delta = reached.filter(lit(false))
          .select($"s", $"v", lit(0.0).as("delta"))
        var l = maxLevel - 1
        while (l >= 1) {
          val wSlice = reached.filter($"dist" === l + 1)
            .join(delta, Seq("s", "v"), "left")
            .select($"s", $"v".as("w"), $"sigma".as("sw"),
                    coalesce($"delta", lit(0.0)).as("dw"))
          val dl = reached.filter($"dist" === l)
            .select($"s", $"v", $"sigma".as("sv"))
            .join(sym, $"v" === sym("src"))
            .select($"s", $"v", $"sv", $"dst".as("w"))
            .join(wSlice, Seq("s", "w"))
            .groupBy($"s", $"v")
            .agg(sum(($"sv".cast("double") / $"sw" * (lit(1.0) + $"dw"))
              .cast(DecimalType(38, 18))).cast("double").as("delta"))
          delta = delta.unionAll(dl).localCheckpoint(eager = l % checkEvery == 0)
          l -= 1
        }

        (delta
          .groupBy($"v".as("id"))
          .agg((sum($"delta".cast(DecimalType(38, 18))).cast("double") / 2.0)
            .as("bc")), maxLevel, true)
      }
    }
    LastIterations.record(rounds)
    if (!complete)
      throw new IllegalStateException(
        s"Brandes BFS still had undiscovered vertices after $maxDepth " +
          "rounds — scores would be truncated; raise maxDepth")
    out
  }
}
