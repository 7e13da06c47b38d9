package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-navigable ANN — a distributed NSW beam search (Malkov, Ponomarenko,
  * Logvinov & Krylov, "Approximate nearest neighbor algorithm based on
  * navigable small world graphs", Information Systems 2014; the single-layer
  * core that HNSW stacks) — SURVEY §2.11 `m_sim_hnsw`. Completes the ANN
  * family's graph side next to the quantization side (LSH / IVF / PQ /
  * IVFADC): state-of-the-art recall comes from walking a neighbor graph,
  * not from probing cells.
  *
  * Scale design:
  *  - **Graph build** is a one-off batch job: a k-means coarse partition
  *    assigns every vector its TWO nearest cells (the multi-assignment is
  *    what creates cross-cell edges near boundaries — single-cell kNN
  *    graphs disconnect), candidate pairs come from a cell equi-join
  *    (bucket-local, never N² — cell population stays constant when nlist
  *    scales ∝ N), and each node keeps its top-M cosine neighbors: the
  *    index is (src, dst) rows, ≤ M per node, a DISTRIBUTED adjacency
  *    relation — nothing graph-sized ever reaches the driver.
  *  - **Query** is a fixed-round beam search: the frontier is PROBE-sized
  *    (|probes| × ef rows) and broadcasts against the adjacency relation;
  *    candidate vectors come back through an equi-join on vec_id (the
  *    same point-lookup shape as IVFADC's re-rank). Each round widens the
  *    beam by at most ef × M; `rounds` plays the role of NSW's greedy-walk
  *    termination with a deterministic bound (the recall property in
  *    MlSpec enforces that the bound suffices at the operating point).
  *  - Seeds are the per-cell medoids (nlist rows, broadcast): every probe
  *    starts its walk from all cells, so a disconnected far component is
  *    still reachable — the multi-seed entry NSW uses against its known
  *    cold-start weakness.
  *
  * Property-tested (MlSpec): recall@5 ≥ 0.9 vs exact kNN at the declared
  * operating point, neighbor lists bounded by M, no data-sized collect. */
object AnnNsw {

  /** (vectors, adjacency, seeds) memo per (embeddings plan, M, nlist) —
    * the graph build is the one-off batch job; queries only walk it. */
  private val graphMemo =
    new graft.SessionMemo[(DataFrame, Int, Int), (DataFrame, DataFrame, DataFrame)]

  /** Squared euclidean between two double arrays (codegen HOF — only used
    * against the nlist-row broadcast centroid frame). */
  private def eDistSq(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (s, d) -> s + d)"

  /** Build (or reuse) the NSW index for an embeddings table.
    * @return (vecs = (vec_id, v), adjacency = (src, dst) with ≤ M rows per
    *         src, seeds = (vec_id) — the nlist cell medoids) */
  def buildGraph(spark: SparkSession, embeddings: DataFrame, m: Int,
                 nlist: Int): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    graphMemo.getOrCompute(spark, (embeddings, m, nlist)) {
      val emb = embeddings
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("features", array_to_vector($"embedding"))
      val km = new KMeans().setK(nlist).setSeed(42L).setMaxIter(20)
        .setInitMode("random").fit(emb)
      val centroids = km.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.toSeq)
      }.toSeq.toDF("cell", "cv")
      // metadata columns ride into the vecs table for filtered search
      // (round 18); the derivation is [[encodeVecs]] — one derivation for
      // the fit AND the append path
      val vecs = encodeVecs(embeddings).localCheckpoint(eager = false)

      // Two nearest cells per vector (the cross-cell edge source). The
      // centroid frame is nlist rows — the crossJoin is the declared
      // broadcast stats-join pattern, |N| × nlist.
      val wc = Window.partitionBy($"vec_id").orderBy($"cdist", $"cell")
      val asg2 = vecs.crossJoin(broadcast(centroids))
        .withColumn("cdist", expr(eDistSq("v", "cv")))
        .withColumn("crank", row_number().over(wc))
        .filter($"crank" <= 2)
        .localCheckpoint(eager = false)

      // Top-M cosine neighbors among cell-sharing candidates.
      val a = asg2.select($"cell", $"vec_id".as("src"), $"v".as("sv"))
      val b = asg2.select($"cell", $"vec_id".as("dst"), $"v".as("dv"))
      val wn = Window.partitionBy($"src").orderBy($"cos".desc, $"dst")
      val adjacency = a.join(b, Seq("cell"))
        .filter($"src" =!= $"dst")
        .select($"src", $"dst", graft.functions.VectorOps.cosineSim($"sv", $"dv").as("cos"))
        .distinct()
        .withColumn("rn", row_number().over(wn))
        .filter($"rn" <= m)
        .select($"src", $"dst")
        .localCheckpoint(eager = false)

      // Seeds: each cell's medoid (closest-to-centroid PRIMARY member).
      val ws = Window.partitionBy($"cell").orderBy($"cdist", $"vec_id")
      val seeds = asg2.filter($"crank" === 1)
        .withColumn("srank", row_number().over(ws))
        .filter($"srank" === 1)
        .select($"vec_id")
        .localCheckpoint(eager = false)
      (vecs, adjacency, seeds)
    }
  }

  /** Top-k cosine neighbours per probe id via beam search over the NSW
    * graph. `ef` is the beam width (≥ k), `rounds` the expansion bound;
    * `pred` restricts the RESULT side (see [[topKFrom]]). */
  def topK(spark: SparkSession, embeddings: DataFrame, probeIds: Seq[Long],
           k: Int, m: Int = 8, ef: Int = 32, nlist: Int = 16,
           rounds: Int = 4,
           pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (vecs, adjacency, seeds) = buildGraph(spark, embeddings, m, nlist)
    topKFrom(spark, vecs, adjacency, seeds, probeIds, k, ef, rounds, pred)
  }

  /** Top-k beam search over SUPPLIED graph artifacts — the reopened-index
    * query path ([[AnnIndex.readNsw]]): walks the persisted adjacency,
    * never rebuilds the graph or touches the embeddings table.
    *
    * `pred` = FILTERED graph search (round 18). A graph walk cannot
    * pre-filter its NAVIGATION — pruning non-matching nodes from the
    * beam disconnects the graph exactly when the filter is selective —
    * so the filtered form keeps the beam UNFILTERED for connectivity and
    * draws the final top-k from every VISITED node that matches the
    * predicate (the filtered-HNSW / ACORN-1 shape: navigate on
    * structure, answer from the matching visited set). k stays live as
    * long as the walk visits ≥ k matching nodes — widen `ef`/`rounds`
    * when the filter is much more selective than ef/|beam| (declared;
    * the quantizer families pre-filter their scans instead and have no
    * such caveat — see [[AnnIVF.topKFrom]]). */
  def topKFrom(spark: SparkSession, vecs: DataFrame, adjacency: DataFrame,
               seeds: DataFrame, probeIds: Seq[Long], k: Int, ef: Int,
               rounds: Int,
               pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    // [[Endgame]]: the beam walk is probe-shaped — each of its `rounds` is
    // a broadcast join + window + checkpoint whose cost is fixed job
    // overhead on a small graph — so below the budget the SAME walk runs
    // over driver maps. Scoring goes
    // through [[graft.functions.CosineSim.compute]] (the one batch/stream
    // scorer), ranking uses the same (cos desc, vec_id) tie rule, and the
    // predicate's matching id set is still computed by a distributed
    // filter over `vecs`, so a filtered search stays predicate-exact.
    // MlSpec pins local ≡ distributed.
    (for {
      vs <- Endgame.rows(vecs.select($"vec_id", $"v").as[(Long, Seq[Double])])
      adj <- Endgame.rows(adjacency.select($"src", $"dst").as[(Long, Long)])
    } yield {
      val vArr = vs.map { case (id, v) => (id, v.toArray) }.toMap
      val out = scala.collection.mutable.LongMap.empty[List[Long]]
      val in = scala.collection.mutable.LongMap.empty[List[Long]]
      adj.foreach { case (s, d) =>
        out(s) = d :: out.getOrElse(s, Nil)
        in(d) = s :: in.getOrElse(d, Nil)
      }
      val seedIds = seeds.select($"vec_id").as[Long].collect()
      val matchIds = pred.map(p =>
        vecs.filter(p).select($"vec_id").as[Long].collect().toSet)
      def r4(d: Double): Double =
        java.math.BigDecimal.valueOf(d)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      val rows = probeIds.distinct.sorted.filter(vArr.contains).flatMap { pid =>
        val pv = vArr(pid)
        // vArr.contains mirrors the distributed path's join semantics: an
        // adjacency/seed id absent from the vector table is silently dropped
        // (inconsistent persisted artifacts must not throw only on the
        // local path).
        def top(cands: Iterable[Long], width: Int): Seq[(Long, Double)] =
          cands.toSeq.distinct.filter(vArr.contains)
            .map(id => (id, graft.functions.CosineSim.compute(pv, vArr(id))))
            .sortBy { case (id, c) => (-c, id) }.take(width)
        var beam = top(seedIds, ef)
        var visited = beam.map(_._1).toSet
        var r = 0
        while (r < rounds) {
          val beamIds = beam.map(_._1)
          val expand = beamIds.flatMap(b =>
            out.getOrElse(b, Nil) ++ in.getOrElse(b, Nil))
          val cands = (beamIds ++ expand).distinct
          visited ++= cands
          beam = top(cands, ef)
          r += 1
        }
        val pool = matchIds match {
          case None => beam
          case Some(ok) => top(visited.filter(ok), k + 1)
        }
        pool.filter(_._1 != pid).take(k).zipWithIndex.map {
          case ((id, c), i) => (pid, (i + 1).toLong, id, r4(c))
        }
      }
      spark.createDataset(rows).toDF("probe_id", "rank", "vec_id", "cos")
    }).getOrElse {
      val probes = vecs.filter($"vec_id".isin(probeIds: _*))
        .select($"vec_id".as("probe_id"), $"v".as("pv"))
      val (beam, visited) =
        walkBeam(spark, vecs, adjacency, seeds, probes, ef, rounds,
          trackVisited = pred.isDefined)

      val wb = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
      // Unfiltered: answer from the final beam (the NSW contract).
      // Filtered: answer from ALL visited matching nodes — a matching node
      // the walk passed through in round 1 must stay eligible even after
      // the unfiltered beam moved on.
      val pool = pred match {
        case None => beam
        case Some(p) =>
          // k + 1: the probe itself may sit in the matching pool and is
          // dropped below — k survivors must remain after the drop
          scoreTop(vecs, probes,
            visited.join(vecs.filter(p).select($"vec_id"),
              Seq("vec_id"), "left_semi"), k + 1)
      }
      pool.filter($"vec_id" =!= $"probe_id")
        .withColumn("rank", row_number().over(wb).cast("long"))
        .filter($"rank" <= k)
        .select($"probe_id", $"rank", $"vec_id", round($"cos", 4).as("cos"))
        .orderBy($"probe_id", $"rank")
    }
  }

  /** Exact-cosine top-`width` per probe over a candidate id frame —
    * the re-rank kernel every walk round (and the filtered pool) runs. */
  private def scoreTop(vecs: DataFrame, probes: DataFrame,
                       cands: DataFrame, width: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val wb = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    cands
      .join(vecs, Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cos", graft.functions.VectorOps.cosineSim($"pv", $"v"))
      .withColumn("rn", row_number().over(wb))
      .filter($"rn" <= width)
      .select($"probe_id", $"vec_id", $"cos")
  }

  /** The beam walk itself, for an ARBITRARY (probe_id, pv) frame — shared
    * by the query path and [[AnnIndex.appendNsw]] (which greedy-searches
    * from vectors NOT yet in the graph to find their link targets).
    * Returns (final beam, visited ids); `visited` is only accumulated
    * when `trackVisited` (the filtered-search pool) to keep the
    * unfiltered walk free of the extra per-round distinct. */
  private[operators] def walkBeam(spark: SparkSession, vecs: DataFrame,
                                  adjacency: DataFrame, seeds: DataFrame,
                                  probes: DataFrame, ef: Int, rounds: Int,
                                  trackVisited: Boolean)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    // Round 0: every probe scores all cell medoids (full-coverage entry).
    val seedCands = probes.select($"probe_id").crossJoin(broadcast(seeds))
    var beam = scoreTop(vecs, probes, seedCands, ef)
      .localCheckpoint(eager = false)
    // Every (probe, node) the walk touches — the filtered form's answer
    // pool. Stays (probe × rounds × ef·M)-sized: query-shaped, never
    // data-sized.
    var visited = beam.select($"probe_id", $"vec_id")

    // Fixed-round expansion: beam ∪ neighbors(beam), re-scored, top-ef.
    // Frontier stays |probes| × ef — broadcast against the adjacency
    // relation; the checkpoint per round cuts the growing lineage.
    var r = 0
    while (r < rounds) {
      // NSW edges are undirected (Malkov §3): the stored relation keeps
      // ≤ M out-rows per node, the walk traverses both directions.
      val frontier = broadcast(beam.select($"probe_id", $"vec_id".as("src")))
      val expand = frontier.join(adjacency, Seq("src"))
        .select($"probe_id", $"dst".as("vec_id"))
        .unionAll(frontier
          .join(adjacency, frontier("src") === adjacency("dst"))
          .select($"probe_id", adjacency("src").as("vec_id")))
      val cands = beam.select($"probe_id", $"vec_id")
        .unionAll(expand).distinct()
      if (trackVisited)
        visited = visited.unionAll(cands).distinct()
          .localCheckpoint(eager = false)
      beam = scoreTop(vecs, probes, cands, ef).localCheckpoint(eager = false)
      r += 1
    }
    (beam, visited)
  }

  /** The (vec_id, v, metadata…) derivation [[buildGraph]] stores as
    * `vecs` — exposed so [[AnnIndex.appendNsw]] encodes NEW vectors
    * schema-identically to the fitted table. */
  private[operators] def encodeVecs(embeddings: DataFrame): DataFrame = {
    import embeddings.sparkSession.implicits._
    embeddings
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(($"vec_id" +: $"v" +: AnnIVF.metaCols(embeddings).map(col)): _*)
  }
}
