package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed ST-DBSCAN(ε_space, ε_t, minPts) — the spatio-temporal
  * density clusterer (Birant & Kut, "ST-DBSCAN: An algorithm for
  * clustering spatial–temporal data", Data & Knowledge Engineering 2007;
  * SURVEY §2.10 `m_stdbscan`). Plain [[DBSCAN]] reads a depot visited in
  * January and again in July as ONE cluster; ST-DBSCAN's neighborhood
  * demands BOTH dist((x,y)) ≤ ε_space AND |t₁ − t₂| ≤ ε_t, so stay
  * regions separate along the time axis — the standard tool for
  * stay-region discovery in telemetry.
  *
  * Same Spark-first pipeline as [[DBSCAN]] (an algorithm, not an
  * operator — no planner extension):
  *  1. **Position contraction** on the full (x, y, t) key: identical
  *     space-time positions share their neighborhood, role and cluster,
  *     so they contract to one node (pid = min id, weight = count)
  *     before any pairing.
  *  2. **3-D grid-bucketed pairs.** Cell = (⌊x/ε⌋, ⌊y/ε⌋, ⌊t/ε_t⌋); every
  *     ST-neighbor lies in the 3×3×3 cell neighborhood, so candidate
  *     generation is an equi-join on the cell key (shuffle on cell,
  *     never N² pairs) with the probe side exploded 27×. The time axis
  *     is a third partition key for free: a spatial hotspot that would
  *     make a 2-D cell quadratic spreads across its time cells, which is
  *     why this operator does not need [[DBSCAN]]'s hot-cell sub-grid
  *     split (that remains the documented fallback if a cell is dense in
  *     space AND time simultaneously).
  *  3. **Weighted degrees** (Σ weight over ST-reachable positions, self
  *     included) → core positions (deg ≥ minPts).
  *  4. **Star-contraction CC** over core-core ST-edges
  *     ([[ConnectedComponents]]); cluster id = min core point id.
  *  5. **Border/noise expansion** back through the (x, y, t) key.
  *
  * Deterministic: cluster ids are min point ids; border positions take
  * the minimum neighboring cluster id.
  */
object StDbscan {

  /** @param pts DataFrame with (id: Long, x: Double, y: Double, t: Double)
    * @return (id, role ∈ {core,border,noise}, cluster: Long — -1 for noise)
    */
  def run(spark: SparkSession, pts: DataFrame,
          eps: Double, epsT: Double, minPts: Int): DataFrame = {
    import spark.implicits._
    val p = pts.select($"id".cast("long"), $"x".cast("double"),
      $"y".cast("double"), $"t".cast("double"))

    val positions = p.groupBy($"x", $"y", $"t")
      .agg(min($"id").as("pid"), count(lit(1)).as("w"))
      .localCheckpoint(eager = false)

    val withCell = positions
      .withColumn("cx", floor($"x" / eps).cast("long"))
      .withColumn("cy", floor($"y" / eps).cast("long"))
      .withColumn("ct", floor($"t" / epsT).cast("long"))

    // Probe side: each position exploded into its 27 neighbor cells, so
    // the (cx, cy, ct) equi-join yields every ordered pair at Chebyshev
    // cell distance ≤ 1 exactly once — a superset of all ST-pairs.
    val probe = withCell
      .select($"pid".as("pid2"), $"x".as("x2"), $"y".as("y2"),
        $"t".as("t2"), $"w".as("w2"),
        explode(expr(
          "flatten(flatten(transform(sequence(-1, 1), dx -> " +
            "transform(sequence(-1, 1), dy -> " +
            "transform(sequence(-1, 1), dt -> " +
            "struct(cx + dx AS cx, cy + dy AS cy, ct + dt AS ct))))))"))
          .as("cell"))
      .select($"pid2", $"x2", $"y2", $"t2", $"w2",
        $"cell.cx", $"cell.cy", $"cell.ct")

    val inReach = ($"x" - $"x2") * ($"x" - $"x2") +
      ($"y" - $"y2") * ($"y" - $"y2") <= eps * eps &&
      abs($"t" - $"t2") <= epsT

    // Ordered ST-pairs of positions (self-pair included) — feeds degrees,
    // core edges, and border assignment; materialize once.
    val pairs = withCell.join(probe, Seq("cx", "cy", "ct"))
      .filter(inReach)
      .select($"pid", $"pid2", $"w2")
      .localCheckpoint(eager = false)

    // The role tail (driver-local below the pair budget) is shared with
    // [[DBSCAN.roles]]; contraction, the 3-D cell pair join, and the final
    // point expansion stay distributed at every scale. StDbscanSpec pins
    // both paths node-wise.
    p.join(positions.select($"x", $"y", $"t", $"pid"), Seq("x", "y", "t"))
      .join(DBSCAN.roles(spark, pairs, positions, minPts), Seq("pid"))
      .select($"id", $"role", $"cluster")
  }
}
