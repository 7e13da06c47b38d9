package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances over an undirected edge list — the
  * reachability/radius primitive the graph-mining suite was missing beside
  * PageRank (influence), label propagation (communities), triangles
  * (clustering), and CC (dedup components).
  *
  * Frontier-synchronous expansion: layer d+1 is frontier ⋈ edges minus the
  * visited set, so the first layer that reaches a vertex IS its hop
  * distance (the BFS invariant — all seeds start at layer 0). Everything
  * is an id-keyed equi-join or distinct: the frontier join shuffles on the
  * frontier's vertex ids, the anti-join on the candidate ids — both
  * content-keyed, nothing driver-sized. At 100 TB the visited set is the
  * large operand and stays partitioned; each round touches only the
  * frontier's adjacency, which is the property that makes synchronous BFS
  * the standard distributed choice (Pregel's canonical example).
  *
  * Driver-action cadence follows the PageRank/LabelProp discipline: the
  * frontier-empty check runs every `checkEvery` rounds (an empty frontier
  * makes the remaining rounds no-op joins, so a late exit costs cheap
  * empty-frame plans, never wrong results), and checkpoints are eager only
  * on cadence rounds — lineage is cut lazily in between.
  */
object Bfs {
  /** Both directions of the undirected (u1, u2) list as (sv, dst), cached
    * — the distributed loop's edge view. */
  private def symmetric(edges: DataFrame): DataFrame =
    edges.select(col("u1").as("sv"), col("u2").as("dst"))
      .unionAll(edges.select(col("u2").as("sv"), col("u1").as("dst")))
      .localCheckpoint(eager = true)

  /** Both directions of the undirected (u1, u2) list as driver pairs,
    * when twice its row count fits the [[Endgame]] gate — the driver
    * kernels' edge view (BFS, [[KCore]], [[Coreness]], [[Betweenness]]
    * and [[Louvain]]). */
  private[operators] def localSymmetric(spark: SparkSession,
                                        edges: DataFrame): Option[Array[(Long, Long)]] = {
    import spark.implicits._
    Endgame.rows(edges.select($"u1".cast("long"), $"u2".cast("long")).as[(Long, Long)], 2)
      .map(_.flatMap { case (a, b) => Array((a, b), (b, a)) })
  }

  private def localAdj(spark: SparkSession,
                       edges: DataFrame): Option[Map[Long, Array[Long]]] =
    localSymmetric(spark, edges)
      .map(_.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)

  /** The (id) column of `ids` as longs, when `weight` × its count fits. */
  private def localIds(spark: SparkSession, ids: DataFrame,
                       weight: Long): Option[Array[Long]] = {
    import spark.implicits._
    Endgame.rows(ids.select($"id".cast("long")).as[Long], weight)
  }

  /** Driver-local frontier loop — the [[Endgame]] kernel: the same
    * layer-synchronous expansion over a driver adjacency map, same
    * cadence-deferred exit, same round count, identical output set
    * (integer hop distances have no fp noise; BfsSpec pins set equality
    * on both paths). */
  private def runLocal(adj: Map[Long, Array[Long]], seedIds: Array[Long],
                       maxHops: Int, checkEvery: Int): (Seq[(Long, Int)], Int) = {
    val visited = scala.collection.mutable.LongMap.empty[Int]
    seedIds.foreach(visited(_) = 0)
    var frontier: Array[Long] = seedIds.distinct
    var d = 0
    var done = false
    while (d < maxHops && !done) {
      d += 1
      val cadence = d % checkEvery == 0 || d == maxHops
      val next = frontier.iterator
        .flatMap(v => adj.getOrElse(v, Array.empty[Long]))
        .filterNot(visited.contains).toArray.distinct
      next.foreach(visited(_) = d)
      frontier = next
      if (cadence && d < maxHops) done = next.isEmpty
    }
    (visited.toSeq.sortBy(_._1), d)
  }

  /** The distributed frontier loop of [[run]] and [[runFromEach]]: `start`
    * holds (keys…, id, dist = 0), and each vertex is reached once per
    * value of `keys`. */
  private def runDistributed(sym: DataFrame, start: DataFrame,
                             keys: Seq[String], maxHops: Int,
                             checkEvery: Int): (DataFrame, Int) = {
    val reachedKey = (keys :+ "id").map(col)
    var visited = start.localCheckpoint(eager = true)
    var frontier = visited.select(reachedKey: _*)
    var d = 0
    var done = false
    while (d < maxHops && !done) {
      d += 1
      val cadence = d % checkEvery == 0 || d == maxHops
      val next = frontier.join(sym, frontier("id") === sym("sv"))
        .select(keys.map(col) :+ sym("dst").as("id"): _*).distinct()
        .join(visited, keys :+ "id", "left_anti")
        .select(reachedKey :+ lit(d).as("dist"): _*)
        .localCheckpoint(eager = cadence)
      visited = visited.unionAll(next).localCheckpoint(eager = false)
      frontier = next.select(reachedKey: _*)
      if (cadence && d < maxHops) done = next.isEmpty
    }
    (visited, d)
  }

  /** @param edges  undirected pair list (u1, u2), each pair once
    * @param seeds  (id) — distance-0 vertex set
    * @return (id, dist) for every vertex within `maxHops` of a seed */
  def run(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
          maxHops: Int = 8, checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    // The seed frame passes its own gate first: the edge list reaches the
    // driver only when both fit.
    val (out, rounds) =
      localIds(spark, seeds, 1).flatMap(ids => localAdj(spark, edges).map((_, ids))) match {
        case Some((adj, seedIds)) =>
          val (one, d) = runLocal(adj, seedIds, maxHops, checkEvery)
          (spark.createDataset(one).toDF("id", "dist"), d)
        case None =>
          runDistributed(symmetric(edges), seeds.select($"id", lit(0).as("dist")),
            Nil, maxHops, checkEvery)
      }
    LastIterations.record(rounds)
    out
  }

  /** Per-source BFS: hop distances from EVERY vertex of `sources` to every
    * vertex within `maxHops` — the all-pairs substrate of the closeness /
    * harmonic-centrality key. The identical frontier-synchronous loop,
    * keyed on (src, id): the frontier join still shuffles on the frontier's
    * vertex ids, the anti-join on the composite key — content-keyed
    * equi-joins only, state sized like the oracle's recursive walk
    * (Σ reachable pairs, vertex-set-squared at worst — the CC-scale
    * argument: the USER graph, never the event log). Same cadence
    * discipline as [[run]].
    *
    * @return (src, id, dist) with dist = 0 at each source itself */
  def runFromEach(spark: SparkSession, edges: DataFrame, sources: DataFrame,
                  maxHops: Int = 8, checkEvery: Int = 2): DataFrame = {
    import spark.implicits._
    // Per-source BFS over one driver adjacency map, built ONCE and shared
    // across the per-source loops — Σ reachable pairs is |sources|·|V|-
    // bounded, the same budget class as the distributed state it replaces.
    val (out, rounds) =
      localIds(spark, sources, 4).flatMap(ids => localAdj(spark, edges).map((_, ids))) match {
        case Some((adj, srcIds)) =>
          var maxD = 0
          val rows = srcIds.distinct.sorted.flatMap { s =>
            val (one, d) = runLocal(adj, Array(s), maxHops, checkEvery)
            maxD = math.max(maxD, d)
            one.map { case (v, dist) => (s, v, dist) }
          }
          (spark.createDataset(rows.toSeq).toDF("src", "id", "dist"), maxD)
        case None =>
          runDistributed(symmetric(edges),
            sources.select($"id".as("src"), $"id", lit(0).as("dist")),
            Seq("src"), maxHops, checkEvery)
      }
    LastIterations.record(rounds)
    out
  }
}
