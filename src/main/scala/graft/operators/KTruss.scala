package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-truss decomposition (`m_graph_ktruss`) — Cohen's 2008 refinement of
  * the k-core: the maximal subgraph in which EVERY edge closes at least
  * k−2 triangles. A core asks for well-connected vertices; a truss asks
  * for well-embedded EDGES, which is the community-detection primitive a
  * degree test cannot fake (a hub with many leaves has core number but
  * zero truss membership).
  *
  * Iterative support peeling, the [[KCore]] loop discipline applied to
  * edges: each round (1) enumerates the CURRENT edge set's triangles
  * with the same a<b<c oriented two-join as q_graph_triangles — every
  * join an equi hash join on vertex keys, never all-pairs; (2) explodes
  * each triangle to its three edges and hash-aggregates per-edge
  * support; (3) keeps edges with support ≥ k−2 (edges in no triangle
  * fall out via the inner semi-join). Dropping an edge can only lower
  * other edges' support, so the edge set shrinks monotonically and the
  * count-equality fixpoint on cadence rounds is exact. Exhausting
  * `maxIter` with the set still shrinking runs ONE probe recount first
  * (a shrink landing exactly on the budget may already be the fixpoint)
  * and THROWS only if edges would still drop — a truncated peel would
  * return a SUPERSET whose extra edges are not k-truss members
  * (the [[KCore]] discipline).
  *
  * Scale shape: the triangle join is the round's cost, shuffling on
  * vertex keys of a monotonically SHRINKING edge list; peeling depth is
  * bounded by the truss hierarchy's depth, not |E|, on real graphs —
  * and the round cap converts the pathological chain into an error
  * instead of a wrong answer.
  */
object KTruss {
  /** @param edges undirected (u1, u2) pair list, each pair once
    * @param k     truss order ≥ 3 (k−2 triangles required per edge)
    * @return the k-truss edge set as canonical (u1 < u2) rows */
  def run(spark: SparkSession, edges: DataFrame, k: Int,
          maxIter: Int = 50, checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val canon = edges
      .select(least($"u1", $"u2").as("u1"), greatest($"u1", $"u2").as("u2"))
      .filter($"u1" < $"u2")

    // Both paths run the identical peel — same oriented a<b<c triangle
    // enumeration, same cadence, same round counting — with integer
    // support counts, so local ≡ distributed exactly (KTrussSpec pins
    // both). A peel whose last shrinking round lands exactly on maxIter is
    // not necessarily truncated: the final drop may already be the
    // fixpoint, with no budget left for the confirming no-op round (the
    // Betweenness maxDepth-probe discipline), so one extra support recount
    // decides and only a further drop throws. The driver path dedups the
    // fetched canonical rows itself, the distributed path by `distinct()`.
    val (out, rounds, converged) = Endgame.rows(canon.as[(Long, Long)]).map { rows =>
      var es: Array[(Long, Long)] = rows.distinct.sorted
      def peelLocal(cur: Array[(Long, Long)]): Array[(Long, Long)] = {
        // oriented adjacency: u1 -> sorted larger neighbours
        val adj = cur.groupBy(_._1).view
          .mapValues(_.map(_._2).sorted).toMap
        val sup = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        cur.foreach { case (a, b) =>
          // triangles (a < b < c): c adjacent to BOTH a and b
          val na = adj.getOrElse(a, Array.empty[Long])
          val nb = adj.getOrElse(b, Array.empty[Long])
          var i = 0; var j = 0
          while (i < na.length && j < nb.length) {
            if (na(i) == nb(j)) {
              if (na(i) > b) { // oriented: c > b (c > a holds since c in adj(a))
                val c = na(i)
                sup.update((a, b), sup.getOrElse((a, b), 0L) + 1L)
                sup.update((b, c), sup.getOrElse((b, c), 0L) + 1L)
                sup.update((a, c), sup.getOrElse((a, c), 0L) + 1L)
              }
              i += 1; j += 1
            } else if (na(i) < nb(j)) i += 1 else j += 1
          }
        }
        cur.filter(ed => sup.getOrElse(ed, 0L) >= (k - 2).toLong)
      }
      var prev = es.length
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        es = peelLocal(es)
        if (cadence) {
          converged = es.length == prev
          prev = es.length
        }
      }
      if (!converged) converged = peelLocal(es).length == prev
      (spark.createDataset(es.toSeq).toDF("u1", "u2"), i, converged)
    }.getOrElse {
      val e = canon.distinct().localCheckpoint(eager = true)
      // One support-recount round: survivors of `cur` under the k−2 bar.
      def peelOnce(cur: DataFrame): DataFrame = {
        val paths = cur.as("ab").join(cur.as("bc"), col("ab.u2") === col("bc.u1"))
          .select(col("ab.u1").as("a"), col("ab.u2").as("b"), col("bc.u2").as("c"))
        val tri = paths.join(cur.as("ac"),
            col("a") === col("ac.u1") && col("c") === col("ac.u2"))
          .select($"a", $"b", $"c")
        val support = tri
          .select(explode(array(
            struct($"a".as("u1"), $"b".as("u2")),
            struct($"b".as("u1"), $"c".as("u2")),
            struct($"a".as("u1"), $"c".as("u2")))).as("ed"))
          .groupBy($"ed.u1".as("u1"), $"ed.u2".as("u2"))
          .agg(count(lit(1)).as("sup"))
        cur.join(support.filter($"sup" >= (k - 2).toLong),
            Seq("u1", "u2"), "left_semi")
      }
      var cur = e
      var prevCount = e.count()
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        val next = peelOnce(cur).localCheckpoint(eager = cadence)
        if (cadence) {
          val n = next.count()
          converged = n == prevCount
          prevCount = n
        }
        cur = next
      }
      if (!converged) converged = peelOnce(cur).count() == prevCount
      (cur, i, converged)
    }
    LastIterations.record(rounds)
    if (!converged)
      throw new IllegalStateException(
        s"k-truss peeling did not reach its fixpoint in $maxIter rounds — " +
          "the current edge set may be a strict superset; raise maxIter")
    out
  }
}
