package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Personalized PageRank (random walk with restart to a SEED set —
  * Jeh & Widom, WWW 2003): the recommendation/affinity twin of global
  * [[PageRank]]. The teleport vector is uniform over the seeds instead of
  * all vertices, so rank mass concentrates in the seeds' neighborhood and
  * vertices unreachable from every seed converge to EXACTLY zero (asserted
  * in PprSpec) — "who is close to THIS user", not "who is central".
  *
  * Same scale shape and driver-action cadence as [[PageRank]] (two keyed
  * shuffles per round, lazy checkpoints between cadence rounds, L1 check
  * on cadence): the only structural difference is the restart term, a
  * broadcast-sized seed-flag join instead of a constant — kept separate
  * from the global operator so the perf-tuned m_graph_pagerank path stays
  * untouched.
  */
object Ppr {
  /** Driver-local restart iteration — the [[PageRank]] [[Endgame]]
    * kernel with the seed teleport vector; the seed set collects too (it
    * is probe-sized by contract). Same update equations, same
    * dangling reinjection-to-seeds, same cadence L1 early exit. */
  private def runLocal(spark: SparkSession, rows: Array[(Long, Long)],
                       seedIds: Array[Long], damping: Double, iterations: Int,
                       tol: Double, checkEvery: Int): (DataFrame, Int) = {
    import spark.implicits._
    val es = rows.sortBy(identity)
    val ids = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct.sorted
    val idx = scala.collection.mutable.LongMap.empty[Int]
    ids.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val isSeed = new Array[Boolean](ids.length)
    seedIds.foreach(s => idx.get(s).foreach(isSeed(_) = true))
    val nSeeds = isSeed.count(identity).toDouble
    require(nSeeds > 0, "PPR needs at least one seed present in the graph")
    val outDeg = new Array[Double](ids.length)
    es.foreach { case (s, _) => outDeg(idx(s)) += 1.0 }
    var rank = Array.tabulate(ids.length)(v => if (isSeed(v)) 1.0 / nSeeds else 0.0)
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      var danglingMass = 0.0
      var v = 0
      while (v < ids.length) {
        if (outDeg(v) == 0.0) danglingMass += rank(v); v += 1
      }
      val in = new Array[Double](ids.length)
      es.foreach { case (s, d) =>
        val si = idx(s); in(idx(d)) += rank(si) / outDeg(si)
      }
      val base = (1.0 - damping + damping * danglingMass) / nSeeds
      val next = Array.tabulate(ids.length)(v =>
        (if (isSeed(v)) base else 0.0) + damping * in(v))
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

  /** @param edges DIRECTED (src, dst); pass both directions for undirected
    * @param seeds (id) restart set; must be non-empty
    * @return (id, rank) for every vertex in `edges`, Σrank = 1 */
  def run(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
          damping: Double = 0.85, iterations: Int = 15, tol: Double = 1e-7,
          checkEvery: Int = 3): DataFrame = {
    import spark.implicits._
    val typed = edges.select($"src".cast("long"), $"dst".cast("long"))
    val (ranks, rounds) = Endgame.rows(typed.as[(Long, Long)]).map { rows =>
      val seedIds = seeds.select($"id".cast("long")).distinct()
        .as[Long].collect()
      runLocal(spark, rows, seedIds, damping, iterations, tol, checkEvery)
    }.getOrElse {
      val e = typed.localCheckpoint(eager = true)
      val verts = e.select($"src".as("id")).unionAll(e.select($"dst".as("id")))
        .distinct().localCheckpoint(eager = true)
      val seedSet = seeds.select($"id".cast("long"))
        .join(verts, Seq("id"), "left_semi").distinct()
        .localCheckpoint(eager = true)
      val nSeeds = seedSet.count().toDouble
      require(nSeeds > 0, "PPR needs at least one seed present in the graph")
      val flagged = verts.join(seedSet.withColumn("is_seed", lit(true)),
        Seq("id"), "left")
        .select($"id", coalesce($"is_seed", lit(false)).as("is_seed"))
        .localCheckpoint(eager = true)
      val outDeg = e.groupBy($"src".as("id")).agg(count(lit(1)).as("deg"))
      val danglingVerts = verts.join(outDeg, Seq("id"), "left_anti")
        .localCheckpoint(eager = true)
      val hasDangling = !danglingVerts.isEmpty

      var ranks = flagged.withColumn("rank",
        when($"is_seed", lit(1.0 / nSeeds)).otherwise(lit(0.0)))
        .select($"id", $"rank")
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
          .groupBy($"dst".as("id")).agg(sum($"c").as("in_mass"))
        // restart mass (teleport + dangling reinjection) goes ONLY to seeds
        val base = (1.0 - damping + damping * danglingMass) / nSeeds
        i += 1
        val cadence = i % checkEvery == 0 || i == iterations
        val next = flagged.join(contribs, Seq("id"), "left")
          .join(ranks.select($"id", $"rank".as("prev")), Seq("id"))
          .select($"id",
            (when($"is_seed", lit(base)).otherwise(lit(0.0)) +
              lit(damping) * coalesce($"in_mass", lit(0.0))).as("rank"),
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
    ranks
  }
}
