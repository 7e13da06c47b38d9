package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph (Tarjan's partition,
  * computed distributively): scc(u) = min id over the set of vertices
  * mutually reachable with u — the directed-connectivity primitive the
  * suite's CC (undirected) cannot express: u→v alone puts them in one weak
  * component but NOT one SCC.
  *
  * Algorithm: transitive closure by PATH DOUBLING — R₀ = E, R_{k+1} =
  * R_k ∪ (R_k ∘ R_k) — reaches the full closure in ⌈log₂ diameter⌉ + 1
  * rounds (each round doubles the certified path length), then one
  * self-join intersects the closure with its transpose to get the mutual
  * pairs, and a per-vertex min over mutual partners labels each SCC by its
  * minimum member.
  *
  * Scale contract: closure size is |V|²-bounded, so this operator is
  * declared for LATTICE-BOUNDED vertex universes (grid cells, category
  * codes — universes whose size is fixed by the domain, not the data
  * volume). The caller's one data-sized job is producing the distinct edge
  * list; every round here shuffles at most |V|² pairs regardless of how
  * many trillion events voted for each edge. For data-sized vertex sets
  * (users, documents) a Forward-Backward / coloring decomposition would be
  * the right tool instead — out of scope by declaration, enforced by
  * `maxVertices` (a closure over an unbounded universe must fail loudly,
  * not OOM an executor).
  *
  * The closure join can square the pair count in one round, so cadence
  * tricks buy nothing (rounds are ≤ ~log₂|V| and each MUST be checked for
  * the fixpoint anyway — count equality is the convergence test); every
  * round pays one count action and an eager checkpoint to cut the doubled
  * lineage, the CC eager-checkpoint lesson.
  */
object Scc {
  /** Largest matrix universe the driver-local closure takes: its bitset
    * squaring is |V|³/64 word-ops per round, ~1.2e8 at 2000 vertices. */
  private val LocalVertexCap = 2000

  /** @param vertices single `id` (LONG) column — every vertex, including
    *                 isolated ones (they come back as singleton SCCs)
    * @param edges    directed (src, dst) LONG pairs; self-loops ignored
    * @param maxVertices closure-safety bound: throws if |V| exceeds it
    *                    rather than materializing an unbounded |V|² closure
    * @return (id, scc_id) — scc_id = min vertex id of u's SCC
    * @throws IllegalStateException if the closure fixpoint is not reached
    *         within `maxIter` doubling rounds, or |V| > `maxVertices` */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
          maxIter: Int = 20, maxVertices: Long = 10000L): DataFrame = {
    import spark.implicits._
    val nV = vertices.count()
    if (nV > maxVertices)
      throw new IllegalStateException(
        s"SCC closure is |V|²-bounded and |V| = $nV exceeds maxVertices = " +
          s"$maxVertices — this operator is declared for lattice-bounded " +
          "universes; decompose data-sized graphs with Forward-Backward instead")

    // |V| bounds neither the edge list (it may repeat pairs) nor the matrix
    // universe (endpoints may lie outside `vertices`), so the edges pass
    // their own gate, and the local kernel falls back to the distributed
    // closure when the universe exceeds the cap.
    val viaLocal =
      if (nV > LocalVertexCap) None
      else Endgame.rows(edges.select($"src".cast("long"), $"dst".cast("long")).as[(Long, Long)])
        .flatMap(closeLocal(spark, vertices, _, maxIter))
    val (out, rounds, done) =
      viaLocal.getOrElse(closeDistributed(spark, vertices, edges, maxIter))
    LastIterations.record(rounds)
    if (!done)
      throw new IllegalStateException(
        s"SCC path-doubling closure did not reach its fixpoint in $maxIter " +
          "rounds — the mutual-pair set may be incomplete; raise maxIter")
    out
  }

  /** The IDENTICAL path-doubling rounds over driver bitsets: same
    * count-equality fixpoint, mutual = closure ∧ transpose, label = min
    * mutual partner. Integer-exact, so local ≡ distributed (SccSpec pins
    * both paths). None when the matrix universe exceeds the cap. */
  private def closeLocal(spark: SparkSession, vertices: DataFrame,
                         edges: Array[(Long, Long)], maxIter: Int)
      : Option[(DataFrame, Int, Boolean)] = {
    import spark.implicits._
    val vset = vertices.select($"id".cast("long")).as[Long].collect()
    val es = edges.filter { case (s, d) => s != d }.distinct
    // The matrix universe is vertices ∪ edge endpoints: an endpoint
    // outside `vertices` still carries reachability between vertices
    // (and can be the min mutual partner), exactly as in the
    // distributed closure.
    val vs = (vset ++ es.flatMap(p => Seq(p._1, p._2))).distinct.sorted
    if (vs.length > LocalVertexCap) return None
    val idx = scala.collection.mutable.LongMap.empty[Int]
    vs.zipWithIndex.foreach { case (v, i) => idx(v) = i }
    val n = vs.length
    val reach = Array.fill(n)(new java.util.BitSet(n))
    es.foreach { case (s, d) => reach(idx(s)).set(idx(d)) }
    var prev = es.length.toLong
    var i = 0
    var done = prev == 0L
    while (i < maxIter && !done) {
      i += 1
      // R ∪ (R ∘ R): for every u, fold in the rows of its reachable set
      val next = Array.tabulate(n) { u =>
        val row = reach(u).clone().asInstanceOf[java.util.BitSet]
        var v = reach(u).nextSetBit(0)
        while (v >= 0) {
          row.or(reach(v)); v = reach(u).nextSetBit(v + 1)
        }
        row.clear(u) // src =!= dst filter
        row
      }
      var cnt = 0L
      next.foreach(cnt += _.cardinality())
      done = cnt == prev
      prev = cnt
      var u = 0
      while (u < n) { reach(u) = next(u); u += 1 }
    }
    val out = vset.sorted.map { v =>
      val u = idx(v)
      var mm = v
      var w = reach(u).nextSetBit(0)
      while (w >= 0) {
        if (reach(w).get(u) && vs(w) < mm) mm = vs(w)
        w = reach(u).nextSetBit(w + 1)
      }
      (v, math.min(v, mm))
    }
    Some((spark.createDataset(out.toSeq).toDF("id", "scc_id"), i, done))
  }

  private def closeDistributed(spark: SparkSession, vertices: DataFrame,
                               edges: DataFrame, maxIter: Int)
      : (DataFrame, Int, Boolean) = {
    import spark.implicits._
    var r = edges.select($"src", $"dst")
      .filter($"src" =!= $"dst").distinct()
      .localCheckpoint(eager = true)
    var prev = r.count()
    var i = 0
    var done = prev == 0L
    while (i < maxIter && !done) {
      i += 1
      val next = r
        .unionAll(
          r.as("a").join(r.as("b"), col("a.dst") === col("b.src"))
            .select(col("a.src").as("src"), col("b.dst").as("dst"))
            .filter($"src" =!= $"dst"))
        .distinct()
        .localCheckpoint(eager = true)
      val n = next.count()
      done = n == prev
      prev = n
      r = next
    }

    // closure ∩ transpose = mutual reachability; label = min mutual partner
    // (or the vertex itself — singleton SCCs never appear in `mutual`)
    val mutual = r.as("f")
      .join(r.as("b"),
        col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
      .select(col("f.src").as("id"), col("f.dst").as("m"))
    (vertices
      .join(mutual.groupBy($"id").agg(min($"m").as("mm")), Seq("id"), "left")
      .select($"id", least($"id", coalesce($"mm", $"id")).as("scc_id")), i, done)
  }
}
