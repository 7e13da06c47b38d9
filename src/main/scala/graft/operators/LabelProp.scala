package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (SURVEY §2.10
  * graph-mining extension, `m_graph_lp`) — the near-linear community
  * baseline of Raghavan–Albert–Kumara (Phys. Rev. E 76:036106, 2007),
  * expressed as edge-list joins like [[PageRank]] and
  * [[ConnectedComponents]] (no GraphX; the join IS the message exchange).
  *
  * Each round every vertex adopts the label held by the PLURALITY of its
  * neighbours, ties broken toward the SMALLEST label. Updates are
  * synchronous, so the labelling after any fixed number of rounds is a
  * pure function of the graph — no random visit order — which is what
  * makes the operator property-testable: LabelPropSpec pins node-wise
  * equality against an in-memory reference iteration. (The classic
  * asynchronous variant converges faster but is nondeterministic; the
  * synchronous form can 2-cycle on bipartite structures, which the fixed
  * iteration cap bounds.)
  *
  * Scale shape per iteration: labels ⋈ edges on src (one keyed shuffle),
  * then a (dst, label) count aggregate and the per-dst plurality argmax
  * via max(struct(cnt, −label)) (second keyed shuffle) — the same
  * two-exchange skeleton as PageRank, on stable keys round to round.
  * Driver actions follow PageRank's amortized cadence: non-cadence rounds
  * mark a LAZY `localCheckpoint` and chain; every `checkEvery` rounds one
  * eager materialize runs, then the fixpoint probe (filter-isEmpty on the
  * round's `changed` flags) over the cached frame. A round with zero
  * changes is a fixpoint of the synchronous update, so probing only every
  * few rounds never misses convergence — it just runs up to checkEvery−1
  * identity rounds past it, which leave labels untouched.
  */
object LabelProp {

  /** @param edges UNDIRECTED adjacency given as directed (src, dst) rows —
    *        pass each edge in BOTH directions; duplicate rows weight the
    *        vote by multiplicity
    * @return (id, label) for every vertex in `edges`; vertices sharing a
    *         label are one community */
  def run(spark: SparkSession, edges: DataFrame, iterations: Int = 10,
          checkEvery: Int = 3): DataFrame =
    runCounted(spark, edges, iterations, checkEvery)._1

  /** As [[run]], also returning the number of rounds actually executed
    * (< `iterations` when the labelling reached a fixpoint early). */
  def runCounted(spark: SparkSession, edges: DataFrame,
                 iterations: Int = 10, checkEvery: Int = 3): (DataFrame, Int) = {
    import spark.implicits._
    val typed = edges.select($"src".cast("long"), $"dst".cast("long"))
    // Both paths run the identical synchronous plurality rounds — integer
    // labels with the same min-label tie rule and cadence exit, so local ≡
    // distributed exactly (LabelPropSpec pins both).
    val (labels, rounds) = Endgame.rows(typed.as[(Long, Long)]).map { es =>
      val inNbrs = es.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      val ids = es.iterator.flatMap(p => Iterator(p._1, p._2)).toArray.distinct.sorted
      var labL = ids.map(v => v -> v).toMap
      var i = 0
      var stable = false
      while (i < iterations && !stable) {
        i += 1
        val cadence = i % checkEvery == 0 || i == iterations
        var changed = false
        val next = ids.map { v =>
          inNbrs.get(v) match {
            case None => v -> labL(v)
            case Some(nbrs) =>
              val counts = scala.collection.mutable.LongMap.empty[Long]
              nbrs.foreach { u =>
                val l = labL(u); counts(l) = counts.getOrElse(l, 0L) + 1L
              }
              // plurality, ties to the SMALLEST label: max over (cnt, -label)
              val win = counts.iterator.maxBy { case (l, c) => (c, -l) }._1
              if (win != labL(v)) changed = true
              v -> win
          }
        }.toMap
        if (cadence && i < iterations) stable = !changed
        labL = next
      }
      (spark.createDataset(ids.toSeq.map(v => (v, labL(v)))).toDF("id", "label"), i)
    }.getOrElse {
      val e = typed.localCheckpoint(eager = true)
      val verts = e.select($"src".as("id")).unionAll(e.select($"dst".as("id")))
        .distinct().localCheckpoint(eager = true)

      var labels = verts.withColumn("label", $"id")
      var i = 0
      var stable = false
      while (i < iterations && !stable) {
        val votes = labels.select($"id".as("src"), $"label")
          .join(e, Seq("src"))
          .groupBy($"dst".as("id"), $"label")
          .agg(count(lit(1)).as("cnt"))
        // plurality with min-label ties: max over (cnt, −label)
        val winner = votes.groupBy($"id")
          .agg(max(struct($"cnt", (-$"label").as("neg"))).as("w"))
          .select($"id", (-$"w.neg").as("new_label"))
        i += 1
        val cadence = i % checkEvery == 0 || i == iterations
        val next = labels.join(winner, Seq("id"), "left")
          .select($"id", coalesce($"new_label", $"label").as("label"),
                  ($"label" =!= coalesce($"new_label", $"label")).as("changed"))
          .localCheckpoint(eager = cadence)
        if (cadence && i < iterations)
          stable = next.filter($"changed").isEmpty
        labels = next.drop("changed")
      }
      (labels, i)
    }
    LastIterations.record(rounds)
    (labels, rounds)
  }
}
