package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DataFrame-native connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SOCC'14).
  *
  * Why not GraphX `ConnectedComponents`: that is Pregel min-propagation,
  * which needs O(graph diameter) supersteps — on geometric graphs (ε-edges
  * over point sets) the giant component's diameter is huge and the Pregel
  * chain dominates the whole DBSCAN runtime. Large-star/small-star instead
  * contracts every tree toward its minimum vertex: each round is two
  * grouped-min + join passes over the edge list, the edge set only shrinks
  * toward the star forest, and convergence is O(log² n) rounds worst case
  * (far fewer in practice on geometric graphs). Expressed in plain joins so
  * Catalyst/AQE manage the physical plan; labels are component minima →
  * deterministic output.
  *
  * Both operations keep edges directed (hi, lo) with hi > lo:
  *  - large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u}).
  *  - small-star(u): connect u and every neighbor v ≤ u to that minimum.
  * Both preserve connectivity and never change a component's minimum; the
  * unique common fixpoint is the star forest rooted at component minima.
  *
  * Distributed rounds run only while the edge set exceeds the [[Endgame]]
  * budget; below it an exact driver-local union-find finishes the job —
  * contraction shrinks the edge set every round, so at any scale the tail
  * of the computation is small and the fixed per-round job overhead, not
  * data volume, would dominate it.
  */
object ConnectedComponents {

  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo")) // v > u ≥ m, never a loop
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    // m = min(N(hi) ∪ {hi}) = min(lo) since every lo < hi. The lo == m row
    // re-emits as (hi, m) — exactly the one parent edge small-star keeps —
    // and every other lo re-emits as (lo, m): one output row per input row.
    val mins = e.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    e.join(mins, "hi")
      .select(
        when(col("lo") === col("m"), col("hi")).otherwise(col("lo")).as("hi"),
        col("m").as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
  }

  /** @param vertices single `id` column
    * @param edges `src`,`dst` (each undirected edge once is enough)
    * @return (id, comp) — comp is the min vertex id reachable */
  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
          maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    val selfLabels = vertices.select($"id", $"id".as("comp"))
    val norm = edges
      .select(greatest($"src", $"dst").as("hi"), least($"src", $"dst").as("lo"))
      .filter($"hi" =!= $"lo")

    // Endgame: below the budget the remaining O(log n) star rounds would
    // each pay a fixed multi-stage job on a tiny edge list, so finish with
    // an exact union-find on the driver instead — the standard
    // local-completion step for contraction CC. Union-to-min preserves the
    // invariant label = component minimum whatever the edge order; output
    // is the same star forest the distributed fixpoint would reach, so
    // downstream code is indifferent to which path produced it.
    def localStarForest(es: Array[(Long, Long)]): DataFrame = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (hi, lo) =>
        val ra = find(hi); val rb = find(lo)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // One (id, root) pair per non-root vertex; LongMap doubles as the
      // primitive-keyed visited set.
      val star = scala.collection.mutable.LongMap.empty[Long]
      def visit(x: Long): Unit = { val r = find(x); if (r != x) star(x) = r }
      es.foreach { case (hi, lo) => visit(hi); visit(lo) }
      spark.createDataset(star.toSeq).toDF("hi", "lo")
    }

    // Star forest ⟺ every child has exactly one parent AND no parent is
    // itself a child — the unique common fixpoint of both star ops (and a
    // star forest is fixed by both, so this check alone is definitive).
    // Folded into ONE job: tag each vertex with (as-child, as-parent)
    // counts in a single grouped pass; nh > 1 ⟺ multiple parents,
    // nh > 0 ∧ nl > 0 ⟺ the vertex is both child and parent (a chain).
    def isStarForest(df: DataFrame): Boolean =
      df.select($"hi".as("v"), lit(1L).as("h"), lit(0L).as("l"))
        .unionAll(df.select($"lo".as("v"), lit(0L).as("h"), lit(1L).as("l")))
        .groupBy($"v").agg(sum($"h").as("nh"), sum($"l").as("nl"))
        .filter($"nh" > 1 || ($"nh" > 0 && $"nl" > 0))
        .limit(1).isEmpty

    val stars = Endgame.rows(norm.as[(Long, Long)]).map(localStarForest).getOrElse {
      // Eager checkpoint: materialize the normalized edge set ONCE and cut
      // its lineage, so every subsequent action in the loop scans cached
      // blocks instead of re-running the upstream plan. (Lazy checkpoints
      // made each convergence probe a coin-flip on what had materialized —
      // the source of the round-5 bench variance on m_dbscan.)
      var e = norm.distinct().localCheckpoint(eager = true)
      // Convergence protocol, one cheap action per round: each round
      // produces an eagerly-checkpointed edge set (the materializing job IS
      // the round's work), then a count over the cached blocks. Contraction
      // never grows the edge set, so a count plateau is the convergence
      // hint; it is confirmed by the definitive single-job star-forest
      // check. A false plateau (same size, different set) just iterates on
      // — always safe, always terminating at the true fixpoint.
      var cnt = e.count()
      if (cnt > 0) {
        var verified = false
        var i = 0
        while (!verified && !Endgame.local(cnt) && i < maxIter) {
          val next = smallStar(largeStar(e)).localCheckpoint(eager = true)
          val prevCnt = cnt
          cnt = next.count()
          verified = cnt == prevCnt && isStarForest(next)
          e = next
          i += 1
        }
        if (!verified && Endgame.local(cnt)) {
          e = localStarForest(e.as[(Long, Long)].collect())
          verified = true
        }
        if (!verified)
          throw new IllegalStateException(
            s"ConnectedComponents: no verified star-forest fixpoint after $maxIter rounds")
      }
      e
    }

    selfLabels.as("v")
      .join(stars.select($"hi".as("id"), $"lo".as("root")), Seq("id"), "left")
      .select($"id", coalesce($"root", $"comp").as("comp"))
  }
}
