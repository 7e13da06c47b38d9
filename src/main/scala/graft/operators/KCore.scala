package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core extraction (Seidman, Social Networks 1983): iteratively peel
  * vertices of degree < k until the remaining subgraph is stable — the
  * densest-region primitive beside the suite's PageRank/LP/BFS/CC/link
  * prediction. The k-core is where communities, spam farms, and convoy
  * cores live; degree alone can't find it (a high-degree hub whose
  * neighbors are all leaves survives a degree filter but not the 2-core).
  *
  * Each round is two degree-filter semi-joins over the shrinking edge
  * list — vertex-keyed shuffles only, the peeling equivalent of the CC
  * contraction loop. The edge set shrinks MONOTONICALLY, so fixpoint
  * detection is an edge-count equality on cadence rounds (one driver
  * action per `checkEvery`, the PageRank/LabelProp discipline); a late
  * exit re-runs cheap no-op joins, never changes the result. Rounds are
  * bounded by the peeling depth — O(|V|) in the worst case (k=2 on a long
  * path peels one layer per round), so exhausting `maxIter` before the
  * fixpoint is a REAL possibility on chain-like graphs. Returning the
  * partially-peeled edge set then would be a silent superset of the
  * k-core, so non-convergence THROWS instead (the final round is always a
  * cadence round, so the exit state is never stale).
  */
object KCore {
  /** @param edges undirected pair list (u1, u2), each pair once
    * @return (id) — vertices of the k-core
    * @throws IllegalStateException if the peeling fixpoint is not reached
    *         within `maxIter` rounds (raise `maxIter` for deep graphs) */
  def coreMembers(spark: SparkSession, edges: DataFrame, k: Int,
                  maxIter: Int = 50, checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    // Both paths run the identical peeling rounds and cadence — integer
    // degrees, so local ≡ distributed exactly (KCoreSpec pins both).
    // Non-cadence rounds leave prevEdges stale on purpose: the next
    // cadence count compares against it. The driver kernel peels the
    // fetched pairs in both directions (the BFS edge view); only the
    // distributed rounds build the checkpointed symmetric frame and count it.
    var prevEdges = 0L
    val (out, rounds, done) = Bfs.localSymmetric(spark, edges).map { sym =>
      var es = sym
      prevEdges = es.length.toLong
      var i = 0
      var done = prevEdges == 0
      while (i < maxIter && !done) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        val deg = scala.collection.mutable.LongMap.empty[Long]
        es.foreach { case (s, _) => deg(s) = deg.getOrElse(s, 0L) + 1L }
        val keep = deg.filter(_._2 >= k)
        es = es.filter { case (s, d) => keep.contains(s) && keep.contains(d) }
        if (cadence) {
          val n = es.length.toLong
          done = n == prevEdges || n == 0
          prevEdges = n
        }
      }
      (spark.createDataset(es.map(_._1).distinct.sorted.toSeq).toDF("id"), i, done)
    }.getOrElse {
      var cur = edges.select($"u1".as("src"), $"u2".as("dst"))
        .unionAll(edges.select($"u2".as("src"), $"u1".as("dst")))
        .localCheckpoint(eager = true)
      prevEdges = cur.count()
      var i = 0
      var done = prevEdges == 0
      while (i < maxIter && !done) {
        i += 1
        val cadence = i % checkEvery == 0 || i == maxIter
        val keep = cur.groupBy($"src".as("id")).agg(count(lit(1)).as("deg"))
          .filter($"deg" >= k).select($"id")
        val next = cur
          .join(keep.select($"id".as("src")), Seq("src"), "left_semi")
          .join(keep.select($"id".as("dst")), Seq("dst"), "left_semi")
          .localCheckpoint(eager = cadence)
        if (cadence) {
          val n = next.count()
          done = n == prevEdges || n == 0
          prevEdges = n
        }
        cur = next
      }
      (cur.select($"src".as("id")).distinct(), i, done)
    }
    LastIterations.record(rounds)
    if (!done)
      throw new IllegalStateException(
        s"k-core peeling did not reach its fixpoint in $maxIter rounds " +
          s"($prevEdges directed edges still shrinking) — the partial edge " +
          s"set is a superset of the $k-core; raise maxIter")
    out
  }
}
