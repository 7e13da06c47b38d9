package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full core decomposition — the core number of EVERY vertex, not just
  * one k-core's membership (KCore answers "is v in the k-core?" for a
  * fixed k; this answers "what is the LARGEST k for every v" — the
  * degeneracy ordering density profiles, community seeds, and graph
  * visualizations read).
  *
  * Algorithm: distributed h-index iteration (Lü, Zhou, Zhang & Stanley,
  * "The H-index of a network node and its relation to degree and
  * coreness", Nature Communications 2016): c⁰(v) = deg(v), c^{t+1}(v) =
  * H({c^t(u) : u ∈ N(v)}) — the h-index of the neighbor values. The
  * sequence is pointwise non-increasing and converges EXACTLY to the
  * core number (their Theorem 1), in at most O(diameter-ish) rounds on
  * real graphs. Each round is one label join + one per-vertex h-index
  * (a neighbor-degree-bounded sort window + conditional max) — all
  * vertex-keyed shuffles, the Pregel-free formulation of peeling.
  *
  * Convergence = zero changed labels on a cadence round (labels are
  * integer and non-increasing, so equality testing is exact); exhausting
  * maxIter THROWS (a mid-descent label set silently over-reports
  * coreness — the KCore superset lesson). Isolated vertices never appear
  * in the edge list and have core number 0 by definition — callers that
  * need them add them back (documented, not silently invented here). */
object Coreness {
  /** @param edges undirected pair list (u1, u2), each pair once
    * @return (id, coreness) for every vertex with ≥ 1 edge */
  def run(spark: SparkSession, edges: DataFrame,
          maxIter: Int = 50, checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    // Both paths run the identical h-index iteration and cadence — integer
    // labels, so local ≡ distributed exactly (CorenessSpec pins both).
    val (out, rounds, done) = Bfs.localSymmetric(spark, edges).map { es =>
      val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var labL = adj.view.mapValues(_.length.toLong).toMap
      var i = 0
      var done = false
      while (i < maxIter && !done) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        val next = adj.map { case (u, nbrs) =>
          val sorted = nbrs.map(labL).sortBy(-_)
          var h = 0L
          var r = 1
          while (r <= sorted.length) {
            if (sorted(r - 1) >= r) h = r.toLong
            r += 1
          }
          u -> h
        }
        if (cadence) done = next.forall { case (u, c) => c == labL(u) }
        labL = next
      }
      (spark.createDataset(labL.toSeq.sortBy(_._1)).toDF("id", "coreness"), i, done)
    }.getOrElse {
      val sym = edges.select($"u1".as("u"), $"u2".as("v"))
        .unionAll(edges.select($"u2".as("u"), $"u1".as("v")))
        .localCheckpoint(eager = true)
      var lab = sym.groupBy($"u").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = true)
      var i = 0
      var done = false
      while (i < maxIter && !done) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        // neighbor labels: (u, c(v)) for every edge u→v, then per-u h-index:
        // sort neighbor labels desc, h = max rank r with label_r ≥ r
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"u").orderBy($"cn".desc)
        val next = sym
          .join(lab.select($"u".as("v"), $"c".as("cn")), Seq("v"))
          .withColumn("rn", row_number().over(w))
          .groupBy($"u")
          .agg(max(when($"cn" >= $"rn", $"rn").otherwise(0L)).as("c"))
          .localCheckpoint(eager = cadence)
        if (cadence) {
          val changed = next.join(lab.select($"u", $"c".as("pc")), Seq("u"))
            .filter($"c" =!= $"pc").count()
          done = changed == 0L
        }
        lab = next
      }
      (lab.select($"u".as("id"), $"c".as("coreness")), i, done)
    }
    LastIterations.record(rounds)
    if (!done)
      throw new IllegalStateException(
        s"h-index coreness did not reach its fixpoint in $maxIter rounds — " +
          "labels may still over-report core numbers; raise maxIter")
    out
  }
}
