package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed DBSCAN(ε, minPts) — MLlib has none, so composed Spark-first
  * (SURVEY §2.10 `m_dbscan`): position contraction + grid-bucketed candidate
  * pairs + large-star/small-star connected components (see
  * [[ConnectedComponents]]). No planner extension needed — this is an
  * algorithm, not an operator.
  *
  * Scale design, in pipeline order:
  *  1. **Position contraction.** Colocated points have identical
  *     ε-neighborhoods, hence identical role and cluster — so identical
  *     (x, y) positions are contracted to one node carrying
  *     (pid = min point id, weight = point count) BEFORE any pairing.
  *     Quantized/lattice coordinates (GPS fixes, derived grids) repeat
  *     heavily, so this shrinks every downstream join and the CC input by
  *     the duplication factor; with all-distinct positions it degrades to a
  *     single extra keyed shuffle.
  *  2. **Grid-bucketed pairs.** Cell size = ε, so every ε-neighbor of a
  *     position lies in its 3×3 cell neighborhood. Candidate generation is
  *     an equi-join on cell key (shuffle on cell, never N² pairs); each
  *     position is replicated 9× on the probe side only.
  *  3. **Weighted degrees.** |N_ε(p)| = Σ weight over positions within ε
  *     (own weight included via the self-pair) — a hash aggregate.
  *  4. **Star-contraction CC** over core positions only — edge set shrinks
  *     every round (see ConnectedComponents scaladoc).
  *  5. **Hot-cell sub-grid split.** A cell whose POSITION count (after
  *     contraction) exceeds `hotCellPositions` would make the (cx, cy)
  *     bucket join quadratic in one key. Positions in such cells are
  *     re-keyed one level down to an ε/3 sub-grid: the build side by its
  *     own sub-cell, the probe side exploded over the target cell's
  *     sub-cells within ±5 of its own — so per-key pair work drops from
  *     |cell|² toward |sub-cell|·|probe-window| while the candidate set
  *     stays a strict superset of all ε-pairs (exact distance filter
  *     unchanged, output identical — pinned by DbscanSpec's planted
  *     hot-cell property). Sub-cell ids are CELL-ANCHORED (3·cx + clamped
  *     offset) so a 1-ulp floor() disagreement between x/eps and the
  *     sub-grid division can never put a position outside its cell's
  *     sub-range; the ±5 probe window absorbs the ≤1 sub-cell clamp error
  *     on each side of the exact ±3 bound.
  *
  * Cluster ids are the minimum point id in each component → deterministic.
  */
object DBSCAN {

  /** Role of every contracted position, (pid, role, cluster), from the
    * ordered ε-pair list (pid, pid2, w2) — the degrees → core → CC →
    * border → noise tail shared with [[StDbscan]]. Below the [[Endgame]]
    * budget those five frames are each a multi-stage job over a list that
    * fits in a few MB, so fetching both frames and primitive-map work
    * ([[rolesLocal]]) replaces ~10 tiny shuffles. Each frame passes its own
    * gate: a position with a NULL or NaN coordinate has no self-pair, so
    * the pairs do not bound the positions. */
  private[operators] def roles(spark: SparkSession, pairs: DataFrame,
                               positions: DataFrame, minPts: Int): DataFrame = {
    import spark.implicits._
    (for {
      pairRows <- Endgame.rows(pairs.as[(Long, Long, Long)])
      posPids <- Endgame.rows(positions.select($"pid").as[Long])
    } yield rolesLocal(spark, pairRows, posPids, minPts)).getOrElse {
      // Weighted degree: each point at position pid has |N_ε| = Σ w2 over the
      // ε-reachable positions (the self-pair contributes the colocated count).
      val degrees = pairs.groupBy($"pid").agg(sum($"w2").as("deg"))
      val core = degrees.filter($"deg" >= minPts).select($"pid".as("core_pid"))
        .localCheckpoint(eager = false)

      val coreEdges = pairs
        .join(core, pairs("pid") === core("core_pid")).drop("core_pid")
        .join(core, pairs("pid2") === core("core_pid")).drop("core_pid")
        .filter($"pid" < $"pid2")

      // CC labels every core component with its min pid — and pid is the min
      // point id at its position, so the label IS the min core point id.
      val cc = ConnectedComponents.run(spark,
          core.select($"core_pid".as("id")),
          coreEdges.select($"pid".as("src"), $"pid2".as("dst")))
        .withColumnRenamed("comp", "cluster")
        .localCheckpoint(eager = false)

      val corePos = cc.select($"id".as("pid"), lit("core").as("role"), $"cluster")

      // Border: non-core position within ε of ≥1 core position → minimum
      // neighboring cluster id for determinism. Anti-join, not EXCEPT: pids
      // are unique, and anti-join skips EXCEPT's distinct.
      val nonCorePos = positions.select($"pid")
        .join(core.select($"core_pid".as("pid")), Seq("pid"), "left_anti")
      val borderPos = pairs.join(nonCorePos, Seq("pid"))
        .join(cc.select($"id".as("pid2"), $"cluster"), Seq("pid2"))
        .groupBy($"pid").agg(min($"cluster").as("cluster"))
        .select($"pid", lit("border").as("role"), $"cluster")

      val assignedPos = corePos.unionAll(borderPos).localCheckpoint(eager = false)
      val noisePos = positions.select($"pid")
        .join(assignedPos.select($"pid"), Seq("pid"), "left_anti")
        .select($"pid", lit("noise").as("role"), lit(-1L).as("cluster"))
      assignedPos.unionAll(noisePos)
    }
  }

  /** The driver-local [[roles]] kernel. Semantics identical by
    * construction: weighted degrees over the SAME pair list, core = deg ≥
    * minPts, cluster = min core pid via union-to-min (the CC label),
    * border = min neighbouring cluster, noise = the rest (DbscanSpec pins
    * both paths). */
  private def rolesLocal(spark: SparkSession,
                         pairRows: Array[(Long, Long, Long)],
                         posPids: Array[Long], minPts: Int): DataFrame = {
    val deg = scala.collection.mutable.LongMap.empty[Long]
    pairRows.foreach { case (pid, _, w2) => deg(pid) = deg.getOrElse(pid, 0L) + w2 }
    val core = scala.collection.mutable.LongMap.empty[Boolean]
    deg.foreach { case (pid, d) => if (d >= minPts) core(pid) = true }
    // union-to-min over core-core pairs: label = min core pid (the CC label)
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairRows.foreach { case (a, b, _) =>
      if (a != b && core.contains(a) && core.contains(b)) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    // border: min neighbouring cluster over pairs whose pid2 side is core
    val borderMin = scala.collection.mutable.LongMap.empty[Long]
    pairRows.foreach { case (pid, pid2, _) =>
      if (!core.contains(pid) && core.contains(pid2)) {
        val cl = find(pid2)
        borderMin(pid) = math.min(borderMin.getOrElse(pid, Long.MaxValue), cl)
      }
    }
    val out = posPids.sorted.map { pid =>
      if (core.contains(pid)) (pid, "core", find(pid))
      else borderMin.get(pid) match {
        case Some(cl) => (pid, "border", cl)
        case None => (pid, "noise", -1L)
      }
    }
    import spark.implicits._
    spark.createDataset(out.toSeq).toDF("pid", "role", "cluster")
  }

  /** @param pts DataFrame with (id: Long, x: Double, y: Double)
    * @param hotCellPositions contracted-position count per ε-cell above
    *        which the sub-grid split engages
    * @return (id, role ∈ {core,border,noise}, cluster: Long — -1 for noise)
    */
  def run(spark: SparkSession, pts: DataFrame, eps: Double, minPts: Int,
          hotCellPositions: Long = 100000L): DataFrame = {
    import spark.implicits._
    val p = pts.select($"id".cast("long"), $"x".cast("double"), $"y".cast("double"))

    // 1. Contract identical positions. Reused by pairs and all three role
    // expansions — materialize once.
    val positions = p.groupBy($"x", $"y")
      .agg(min($"id").as("pid"), count(lit(1)).as("w"))
      .localCheckpoint(eager = false)

    val withCell = positions
      .withColumn("cx", floor($"x" / eps).cast("long"))
      .withColumn("cy", floor($"y" / eps).cast("long"))

    // Cell populations ride the same (cx, cy) key as the pair join; they
    // tag both the build side and the probe targets, splitting each stream
    // into a cold (plain bucket join) and a hot (sub-grid) branch.
    val cellSizes = withCell.groupBy($"cx", $"cy").agg(count(lit(1)).as("cn"))
    val tagged = withCell.join(cellSizes, Seq("cx", "cy"))

    // Probe side: each position exploded into its 9 neighbor cells, so an
    // equi-join on (cx,cy) yields every ordered position pair at Chebyshev
    // cell distance ≤ 1 exactly once — a superset of all ε-pairs. Each
    // probe row is then routed to the cold or hot branch by its TARGET
    // cell's population, so no ordered pair is generated twice.
    val probe = withCell
      .select($"pid".as("pid2"), $"x".as("x2"), $"y".as("y2"), $"w".as("w2"),
        explode(expr(
          "flatten(transform(sequence(-1, 1), dx -> transform(sequence(-1, 1), dy -> struct(cx + dx AS cx, cy + dy AS cy))))"))
          .as("cell"))
      .select($"pid2", $"x2", $"y2", $"w2", $"cell.cx", $"cell.cy")
      .join(cellSizes, Seq("cx", "cy"))

    val epsLit = lit(eps)
    val inEps = ($"x" - $"x2") * ($"x" - $"x2") +
      ($"y" - $"y2") * ($"y" - $"y2") <= eps * eps

    val coldPairs = tagged.filter($"cn" <= hotCellPositions)
      .join(probe.filter($"cn" <= hotCellPositions).drop("cn"), Seq("cx", "cy"))
      .filter(inEps)
      .select($"pid", $"pid2", $"w2")

    // Hot branch: cell-anchored ε/3 sub-cell key. sub(v, c) ∈ [3c, 3c+2]
    // by construction (clamped), immune to floor() ulp flips.
    def sub(v: Column, c: Column): Column =
      c * 3L + least(lit(2L), greatest(lit(0L),
        floor((v - c * epsLit) / (eps / 3.0)).cast("long")))
    val hotBuild = tagged.filter($"cn" > hotCellPositions)
      .withColumn("sx", sub($"x", $"cx"))
      .withColumn("sy", sub($"y", $"cy"))
      .select($"pid", $"x", $"y", $"sx", $"sy")
    val hotProbe = probe.filter($"cn" > hotCellPositions)
      .withColumn("cbx", floor($"x2" / eps).cast("long"))
      .withColumn("cby", floor($"y2" / eps).cast("long"))
      .withColumn("sbx", sub($"x2", $"cbx"))
      .withColumn("sby", sub($"y2", $"cby"))
      // Target sub-cells: the target cell's 3×3 sub-range intersected with
      // ±5 of the probe's own sub-cell (never empty; ≤ 9 targets/row).
      .select($"pid2", $"x2", $"y2", $"w2", explode(expr(
        "flatten(transform(sequence(greatest(3 * cx, sbx - 5), least(3 * cx + 2, sbx + 5)), " +
          "tx -> transform(sequence(greatest(3 * cy, sby - 5), least(3 * cy + 2, sby + 5)), " +
          "ty -> struct(tx AS sx, ty AS sy))))")).as("sc"))
      .select($"pid2", $"x2", $"y2", $"w2", $"sc.sx", $"sc.sy")
    val hotPairs = hotBuild.join(hotProbe, Seq("sx", "sy"))
      .filter(inEps)
      .select($"pid", $"pid2", $"w2")

    // Ordered ε-pairs of distinct positions (self-pair included). Feeds
    // degrees, core edges, and border assignment — materialize once.
    val pairs = coldPairs.unionAll(hotPairs)
      .localCheckpoint(eager = false)

    // Expand position roles back to every point through the (x, y) key.
    p.join(positions.select($"x", $"y", $"pid"), Seq("x", "y"))
      .join(roles(spark, pairs, positions, minPts), Seq("pid"))
      .select($"id", $"role", $"cluster")
  }
}
