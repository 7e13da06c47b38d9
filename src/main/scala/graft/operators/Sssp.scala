package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted single-source shortest paths (`m_graph_sssp`) by distributed
  * edge relaxation — Bellman-Ford rounds expressed as DataFrame joins, the
  * same no-GraphX design choice as [[PageRank]]/[[ConnectedComponents]]:
  * the edge-list join IS the message exchange, Catalyst/AQE handle
  * partitioning and skew.
  *
  * Per round: the reached-distance frame joins the edge list on src (one
  * keyed shuffle), candidate tentative distances hash-aggregate with the
  * current frame via min on id (second keyed shuffle) — both on stable
  * keys, co-partitioning reused round to round. The frame holds REACHED
  * vertices only, so early rounds are frontier-sized, not graph-sized.
  * Driver actions amortize to cadence rounds exactly like PageRank:
  * intermediate rounds chain lazy localCheckpoints; the cadence round
  * materializes and counts improvements over the carried `prev` column.
  *
  * Convergence is EXACT, not an epsilon test: a vertex improves iff it is
  * newly reached (prev null) or its tentative distance strictly decreased
  * (min keeps the old double bit-identically otherwise), and with
  * positive weights zero improvements on any round is the Bellman-Ford
  * fixpoint. Rounds needed = the shortest-path tree's hop depth, which is
  * O(|V|) on chain graphs — so exhausting `maxIter` unconverged THROWS
  * (the [[KCore]] discipline: tentative distances that might still
  * decrease must never be returned as final).
  */
object Sssp {
  /** @param edges DIRECTED (src, dst, w) rows, w > 0 (duplicates fine —
    *        min relaxation ignores the heavier copy); pass both
    *        directions for an undirected graph
    * @param source the origin vertex id
    * @return (id, dist) for every vertex reachable from `source`
    *         (unreachable vertices are absent, never +Inf rows)
    * @throws IllegalStateException if relaxation has not reached its
    *         fixpoint within `maxIter` rounds (raise it for deep graphs) */
  def run(spark: SparkSession, edges: DataFrame, source: Long,
          maxIter: Int = 20, checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    val typed = edges.select($"src".cast("long"), $"dst".cast("long"),
        $"w".cast("double"))
    // Both paths run the same Bellman-Ford rounds and cadence —
    // min-relaxation over doubles is order-independent, so the local path
    // is bit-identical to the distributed one (SsspSpec pins both).
    val (out, rounds, converged) = Endgame.rows(typed.as[(Long, Long, Double)]).map { es =>
      val adj = es.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
      val dist = scala.collection.mutable.LongMap[Double](source -> 0.0)
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        var improved = 0L
        val next = dist.clone()
        dist.foreach { case (u, du) =>
          adj.getOrElse(u, Array.empty[(Long, Double)]).foreach { case (v, w) =>
            val cand = du + w
            if (!next.contains(v) || cand < next(v)) {
              next(v) = math.min(cand, next.getOrElse(v, Double.MaxValue))
            }
          }
        }
        next.foreach { case (v, d2) =>
          dist.get(v) match {
            case None => improved += 1
            case Some(p) => if (d2 < p) improved += 1
          }
        }
        if (cadence) converged = improved == 0L
        next.foreach { case (v, d2) => dist(v) = d2 }
        // (assignment above keeps `dist` = round-i tentative distances)
      }
      (spark.createDataset(dist.toSeq.sortBy(_._1)).toDF("id", "d"), i, converged)
    }.getOrElse {
      val e = typed.localCheckpoint(eager = true)
      var dist = Seq((source, 0.0)).toDF("id", "d")
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        val cand = dist.join(e, $"id" === $"src")
          .select($"dst".as("id"), ($"d" + $"w").as("d"))
        val next = dist.unionAll(cand)
          .groupBy($"id").agg(min($"d").as("d"))
          .join(dist.select($"id", $"d".as("prev")), Seq("id"), "left")
          .localCheckpoint(eager = cadence)
        if (cadence) {
          val improved = next
            .agg(coalesce(sum(when($"prev".isNull || $"d" < $"prev", 1L)
              .otherwise(0L)), lit(0L))).as[Long].head()
          converged = improved == 0L
        }
        dist = next.drop("prev")
      }
      (dist, i, converged)
    }
    LastIterations.record(rounds)
    if (!converged)
      throw new IllegalStateException(
        s"SSSP relaxation did not reach its fixpoint in $maxIter rounds — " +
          "tentative distances may still decrease; raise maxIter")
    out
  }
}
