package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HaversineDist, TraclusFns}

/** Distributed TRACLUS — Lee, Han & Whang's partition-and-group trajectory
  * clustering (SIGMOD 2007), composed Spark-first (SURVEY §2.10
  * `m_traj_traclus`): MDL partitioning turns each trajectory into a few
  * characteristic SEGMENTS, then the segments are density-clustered under
  * the paper's three-component distance (d⊥ + d∥ + dθ) — so two corridors
  * that merely CROSS stay separate (their segments are far in dθ) while
  * parallel traffic along one corridor groups, the distinction no
  * point-density clustering (m_dbscan / m_stdbscan) can draw.
  *
  * Scale design, in pipeline order (all geometry in the R³ chord embedding
  * — [[graft.functions.TraclusPartition]] scaladoc):
  *  1. **Per-user MDL partition** ([[graft.functions.TraclusPartition]],
  *     whole-stage codegen): one pass over per-user downsampled tracks —
  *     the user-partitioned shape trajectories already have, zero new
  *     shuffles, per-user cost ≤ cap³ by the declared track cap.
  *  2. **Grid-bucketed candidate pairs, exact by a stated lemma.** If
  *     dist(Li, Lj) ≤ ε then every component is ≤ ε; d⊥ ≤ ε bounds the
  *     larger endpoint-to-line perpendicular by 2ε (d⊥ ≥ max²/(max+min) ≥
  *     max/2), and d∥ ≤ ε puts some Lj-endpoint's projection within ε of
  *     an Li ENDPOINT — hence within ε of the segment along its line — so
  *     that Lj endpoint is within √((2ε)² + ε²) = ε√5 of the Li SEGMENT. Hence: index every segment by the 3-D grid cells of
  *     points sampled along it at spacing ≤ cell (any segment point is
  *     within cell/2 of a sample), probe with each segment's two endpoint
  *     cells ± 1 in each axis, cell = 5ε — an endpoint at ε√5 from the
  *     segment is within ε√5 + cell/2 < cell Euclidean ≤ cell Chebyshev of
  *     a sample, inside the 27-cell halo. Build-side replication is
  *     len/cell + 1 cells per segment (linear in length, never quadratic);
  *     probe side is a flat ≤ 54 rows per segment. The candidate set is a
  *     strict superset of all ε-pairs; the exact distance filter below
  *     decides membership, so the output is EXACT (pinned by TraclusSpec
  *     vs a brute-force all-pairs reference).
  *  3. **Exact ε-filter** via the codegen'd `traclus_dist` on the deduped
  *     candidate id pairs (segment arrays re-attached by key join — 48 B
  *     payloads, hash joins on sid).
  *  4. **Density grouping** (§4.2): core = segments with ≥ minLns
  *     ε-neighbors (self included), clusters = connected components of the
  *     core-core ε-graph ([[ConnectedComponents]] star contraction),
  *     border = non-core ε-reachable from a core (min cluster id for
  *     determinism), then the paper's TRAJECTORY-CARDINALITY filter:
  *     clusters drawing segments from < minUsers distinct trajectories are
  *     demoted to noise (one tiny per-cluster aggregate, broadcast back).
  *
  * Cluster ids are the minimum member segment id → deterministic. */
object Traclus {

  /** MDL-partition per-user tracks into characteristic segments.
    *
    * @param tracks (user_id, track) — track interleaved [x,y,z,...] UNIT
    *               vectors, time-ordered (the Trajectory.tracks layout)
    * @return (sid, user_id, seg_idx, seg, len_km) — seg a 6-element
    *         [ax,ay,az,bx,by,bz] array in km (chord embedding); sid a
    *         dense unique id (user-major, stable) */
  def partition(spark: SparkSession, tracks: DataFrame): DataFrame = {
    import spark.implicits._
    val r = HaversineDist.EarthRadiusKm
    // Characteristic-point indices, then consecutive CP pairs → segments.
    // Bracket indexing is 0-based in Spark SQL; tracks with a single fix
    // yield cps=[0] and an empty segment array (the explode drops them).
    tracks
      .withColumn("cps", TraclusFns.traclusPartition($"track"))
      .select($"user_id", posexplode(when(size($"cps") >= 2,
        expr(
          s"""transform(sequence(0, size(cps) - 2), k -> array(
             |  track[cps[k] * 3] * $r,     track[cps[k] * 3 + 1] * $r,
             |  track[cps[k] * 3 + 2] * $r, track[cps[k + 1] * 3] * $r,
             |  track[cps[k + 1] * 3 + 1] * $r, track[cps[k + 1] * 3 + 2] * $r))
             |""".stripMargin))
        .otherwise(array().cast("array<array<double>>"))).as(Seq("seg_idx", "seg")))
      .withColumn("len_km", expr(
        "sqrt(pow(seg[3] - seg[0], 2) + pow(seg[4] - seg[1], 2) + pow(seg[5] - seg[2], 2))"))
      // Dense stable sid: user-major, segment-minor. Users are < 2^31 in
      // every fixture; the shift keeps ids collision-free and monotone.
      .withColumn("sid", $"user_id" * 1000000L + $"seg_idx")
  }

  /** Density-cluster segments under the Lee-Han-Whang distance.
    *
    * @param segs (sid, user_id, seg) — seg a 6-element km array
    * @param epsKm distance threshold (chord km)
    * @param minLns core threshold: ε-neighbors incl. self
    * @param minUsers trajectory-cardinality filter: clusters with fewer
    *                 distinct users are demoted to noise (paper §4.2)
    * @param maxSegKm segments LONGER than this are TRANSIT JUMPS — two
    *                 consecutive fixes so far apart carry no corridor
    *                 evidence (a data gap / teleport, the q_traj_trips gap
    *                 convention) — and are emitted as role = 'transit',
    *                 cluster = -1 without entering density grouping. This
    *                 is also the replication bound that keeps the candidate
    *                 grid linear: every clustered segment covers at most
    *                 maxSegKm/cell + 1 build cells, so a pathological input
    *                 of planet-spanning chords (each crossing a constant
    *                 fraction of ALL grid cells — the shape that turns any
    *                 position grid quadratic) cannot blow up the join.
    *                 Default ∞ = cluster everything (exact TRACLUS).
    * @return (sid, user_id, role ∈ {core,border,noise,transit},
    *         cluster — -1 for noise/transit) */
  def run(spark: SparkSession, segs: DataFrame, epsKm: Double, minLns: Int,
          minUsers: Int = 1, maxSegKm: Double = Double.MaxValue): DataFrame = {
    import spark.implicits._
    val cell = 5.0 * epsKm // the ε√5 + cell/2 < cell cover bound (scaladoc)
    val lenExpr = expr(
      """sqrt(pow(seg[3] - seg[0], 2) + pow(seg[4] - seg[1], 2) +
        |     pow(seg[5] - seg[2], 2))""".stripMargin)
    val all = segs.select($"sid", $"user_id", $"seg", lenExpr.as("len_km"))
      .localCheckpoint(eager = false)
    val transit = all.filter($"len_km" > maxSegKm)
      .select($"sid", $"user_id", lit("transit").as("role"), lit(-1L).as("cluster"))
    val s = all.filter($"len_km" <= maxSegKm).drop("len_km")
      .localCheckpoint(eager = false)

    // Build side: distinct cells of points sampled along the segment at
    // spacing ≤ cell (endpoints always included via t=0 and t=nst). The
    // 48 B segment payload rides along so the exact ε-filter can run
    // MAP-SIDE on the join output — the alternative (ids only, distinct,
    // re-join payloads) shuffles the full pre-filter candidate list,
    // which is the big relation here.
    val build = s
      .withColumn("nst", greatest(lit(1), ceil(expr(
        """sqrt(pow(seg[3] - seg[0], 2) + pow(seg[4] - seg[1], 2) +
          |     pow(seg[5] - seg[2], 2))""".stripMargin) / cell).cast("int")))
      .select($"sid", $"seg", explode(array_distinct(expr(
        s"""transform(sequence(0, nst), t -> struct(
           |  floor((seg[0] + (seg[3] - seg[0]) * t / nst) / $cell) AS cx,
           |  floor((seg[1] + (seg[4] - seg[1]) * t / nst) / $cell) AS cy,
           |  floor((seg[2] + (seg[5] - seg[2]) * t / nst) / $cell) AS cz))
           |""".stripMargin))).as("c"))
      .select($"sid".as("sid1"), $"seg".as("seg1"), $"c.cx", $"c.cy", $"c.cz")

    // Probe side: both endpoint cells, each with its 27-cell halo.
    val probe = s.select($"sid", $"seg", explode(array_distinct(expr(
      s"""flatten(flatten(transform(sequence(-1, 1), dx ->
         |  transform(sequence(-1, 1), dy -> flatten(
         |    transform(sequence(-1, 1), dz -> array(
         |      struct(floor(seg[0] / $cell) + dx AS cx,
         |             floor(seg[1] / $cell) + dy AS cy,
         |             floor(seg[2] / $cell) + dz AS cz),
         |      struct(floor(seg[3] / $cell) + dx AS cx,
         |             floor(seg[4] / $cell) + dy AS cy,
         |             floor(seg[5] / $cell) + dz AS cz))))))))
         |""".stripMargin))).as("c"))
      .select($"sid".as("sid2"), $"seg".as("seg2"), $"c.cx", $"c.cy", $"c.cz")

    // Cell equi-join (both role directions covered because every segment
    // is on both sides) → codegen'd exact ε-filter IMMEDIATELY on the
    // join output → distinct on the tiny post-filter id pairs. Only
    // ε-pairs ever reach a shuffle.
    val pairs = build.join(probe, Seq("cx", "cy", "cz"))
      .filter($"sid1" < $"sid2" && TraclusFns.traclusDist($"seg1", $"seg2") <= epsKm)
      .select($"sid1", $"sid2").distinct()
      .localCheckpoint(eager = false)

    // [[Endgame]] ([[DBSCAN.roles]] discipline): the whole density-grouping
    // tail — degrees, core set, CC, border, the §4.2 trajectory-cardinality
    // filter, noise — runs driver-local below the pair budget; MDL
    // partitioning, the grid pair join and the exact ε-filter stay
    // distributed at every scale. TraclusSpec pins both paths against the
    // brute-force reference. ε-pairs are canonical sid1<sid2, so a sparse
    // input can have few pairs yet arbitrarily many segments — the segment
    // frame passes its own gate.
    (for {
      pr <- Endgame.rows(pairs.as[(Long, Long)])
      sids <- Endgame.rows(s.select($"sid", $"user_id").as[(Long, Long)])
    } yield {
      val nbrs = scala.collection.mutable.LongMap.empty[Long] // deg-1
      pr.foreach { case (a, b) =>
        nbrs(a) = nbrs.getOrElse(a, 0L) + 1L
        nbrs(b) = nbrs.getOrElse(b, 0L) + 1L
      }
      val coreSet = scala.collection.mutable.LongMap.empty[Boolean]
      sids.foreach { case (sid, _) =>
        if (nbrs.getOrElse(sid, 0L) + 1L >= minLns) coreSet(sid) = true
      }
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pr.foreach { case (a, b) =>
        if (coreSet.contains(a) && coreSet.contains(b)) {
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      val borderMin = scala.collection.mutable.LongMap.empty[Long]
      def noteBorder(sid: Long, nb: Long): Unit =
        if (!coreSet.contains(sid) && coreSet.contains(nb)) {
          val cl = find(nb)
          borderMin(sid) = math.min(borderMin.getOrElse(sid, Long.MaxValue), cl)
        }
      pr.foreach { case (a, b) => noteBorder(a, b); noteBorder(b, a) }
      // §4.2 cardinality filter: distinct users per cluster (core+border)
      val users = scala.collection.mutable.LongMap.empty[scala.collection.mutable.Set[Long]]
      def clusterOf(sid: Long): Long =
        if (coreSet.contains(sid)) find(sid)
        else borderMin.getOrElse(sid, -1L)
      sids.foreach { case (sid, u) =>
        val cl = clusterOf(sid)
        if (cl >= 0L && (coreSet.contains(sid) || borderMin.contains(sid)))
          users.getOrElseUpdate(cl, scala.collection.mutable.Set.empty) += u
      }
      val keepCl = users.filter(_._2.size >= minUsers).keySet
      val out = sids.sortBy(_._1).map { case (sid, u) =>
        if (coreSet.contains(sid) && keepCl.contains(find(sid)))
          (sid, u, "core", find(sid))
        else if (!coreSet.contains(sid) && borderMin.contains(sid) &&
                 keepCl.contains(borderMin(sid)))
          (sid, u, "border", borderMin(sid))
        else (sid, u, "noise", -1L)
      }
      spark.createDataset(out.toSeq).toDF("sid", "user_id", "role", "cluster")
    }).getOrElse {
      // Density roles over the symmetric neighbor relation (+1 = self).
      val deg = pairs.select($"sid1".as("sid"))
        .unionAll(pairs.select($"sid2".as("sid")))
        .groupBy($"sid").agg((count(lit(1)) + 1L).as("deg"))
      val core = s.select($"sid").join(deg, Seq("sid"), "left")
        .filter(coalesce($"deg", lit(1L)) >= minLns)
        .select($"sid".as("core_sid"))
        .localCheckpoint(eager = false)

      val coreEdges = pairs
        .join(core, pairs("sid1") === core("core_sid")).drop("core_sid")
        .join(core, pairs("sid2") === core("core_sid")).drop("core_sid")
      val cc = ConnectedComponents.run(spark,
          core.select($"core_sid".as("id")),
          coreEdges.select($"sid1".as("src"), $"sid2".as("dst")))
        .withColumnRenamed("comp", "cluster")
        .localCheckpoint(eager = false)

      val coreRows = cc.select($"id".as("sid"), lit("core").as("role"), $"cluster")
      val nonCore = s.select($"sid")
        .join(core.select($"core_sid".as("sid")), Seq("sid"), "left_anti")
      val borderRows = pairs.select($"sid1".as("sid"), $"sid2".as("nb"))
        .unionAll(pairs.select($"sid2".as("sid"), $"sid1".as("nb")))
        .join(nonCore, Seq("sid"))
        .join(cc.select($"id".as("nb"), $"cluster"), Seq("nb"))
        .groupBy($"sid").agg(min($"cluster").as("cluster"))
        .select($"sid", lit("border").as("role"), $"cluster")
      val assigned = coreRows.unionAll(borderRows)

      // Trajectory-cardinality filter (§4.2): a cluster supported by too few
      // distinct users is noise. Per-cluster distinct-user counts are
      // cluster-sized (tiny) — broadcast back.
      val keep = assigned.join(s.select($"sid", $"user_id"), Seq("sid"))
        .groupBy($"cluster").agg(countDistinct($"user_id").as("nu"))
        .filter($"nu" >= minUsers).select($"cluster")
      val kept = assigned.join(broadcast(keep), Seq("cluster"))
        .select($"sid", $"role", $"cluster")

      val noise = s.select($"sid")
        .join(kept.select($"sid"), Seq("sid"), "left_anti")
        .select($"sid", lit("noise").as("role"), lit(-1L).as("cluster"))

      s.select($"sid", $"user_id")
        .join(kept.unionAll(noise), Seq("sid"))
        .select($"sid", $"user_id", $"role", $"cluster")
    }.unionAll(transit)
  }

  /** Representative trajectory per cluster (paper §4.3): the average-
    * direction sweep over each cluster's member segments, emitted where
    * ≥ minLns segments cross ([[graft.functions.TraclusRep]] holds the
    * kernel and the tangent-plane adaptation note). One groupBy(cluster)
    * over the assignment — clusters are output-sized, so the collected
    * member array is bounded by cluster support, never by data volume.
    *
    * @param gammaKm minimum X'-spacing between consecutive emitted points
    * @return (cluster, n_segs, rep) — rep interleaved [lat0, lon0, ...] */
  def representatives(spark: SparkSession, segs: DataFrame, epsKm: Double,
                      minLns: Int, minUsers: Int = 1,
                      maxSegKm: Double = Double.MaxValue,
                      gammaKm: Double = 50.0): DataFrame = {
    import spark.implicits._
    val assigned = run(spark, segs, epsKm, minLns, minUsers, maxSegKm)
    assigned.filter($"cluster" >= 0L)
      .join(segs.select($"sid", $"seg"), Seq("sid"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_segs"), collect_list($"seg").as("members"))
      .select($"cluster", $"n_segs",
        graft.functions.TraclusFns
          .traclusRep($"members", lit(minLns), lit(gammaKm)).as("rep"))
      .orderBy($"cluster")
  }
}
