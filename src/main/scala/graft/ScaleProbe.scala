package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Measured scaling point for the 100 TB arguments (a preflight probe,
  * PREFLIGHT_r*.md at commit 3998105; not a driver surface): synthesizes
  * a `factor`× copy of the tables the slowest keys + the dedup/ANN
  * substrate read, then times each probe
  * key at base and scaled size and reports rows / shuffle-exchange
  * counts / executed rounds. The scale-up is id-shifted REPLICATION with
  * time-disjoint copies (each copy's events shift by the full time span,
  * so the synthetic corpus reads as "10× more days of the same
  * activity" — densities per hour/cell stay realistic while graphs,
  * baskets, corpora and vector sets grow 10×; replicated documents also
  * make every doc an exact 10-way duplicate, which is exactly the
  * stress dedup exists for).
  *
  * Usage: runMain graft.ScaleProbe [baseDir] [scaledDir] [factor]
  */
object ScaleProbe {
  private def countShuffles(p: SparkPlan): Int = {
    val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val into = p match {
      case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
      case q: QueryStageExec => countShuffles(q.plan)
      case _ => p.children.map(countShuffles).sum
    }
    self + into
  }

  private val trajTopKeys =
    Set("m_traj_frechet", "m_traj_lcss", "m_traj_edr", "m_traj_hausdorff")

  /** Prune telemetry of a track top-10 frame that has run: the pair count
    * U(U−1)/2 of its tracks, and the survivors its threshold prune fed to
    * the exact kernel (the executed frame's `observe("prune")` metric; a
    * direct scan has none). */
  private def pruneStats(df: DataFrame, tracks: DataFrame): String = {
    val n = tracks.count()
    val surv = df.queryExecution.observedMetrics.get("prune")
      .map(m => s""","survivors":${m.getLong(0)}""").getOrElse("")
    s""","pairs":${n * (n - 1) / 2}$surv"""
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scaled = args.lift(1).getOrElse("/tmp/graft_x10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).first().getLong(0) + 1L

    def replicate(df: DataFrame, shifts: Seq[(String, Long)],
                  tsShiftUs: Long = 0L): DataFrame =
      (0 until factor).map { k =>
        var d = df
        shifts.foreach { case (c, n) =>
          d = d.withColumn(c, col(c) + lit(k * n)) }
        if (tsShiftUs != 0L)
          d = d.withColumn("ts",
            timestamp_micros(unix_micros(col("ts")) + lit(k * tsShiftUs)))
        d
      }.reduce(_ unionAll _)

    if (!new java.io.File(s"$scaled/events.parquet").exists()) {
      val ev = Tables(spark, base, "events")
      val spanUs = ev.agg(max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
        .first().getLong(0) + 3600000000L
      replicate(ev, Seq("event_id" -> maxOf(ev, "event_id"),
                        "user_id" -> maxOf(ev, "user_id")), spanUs)
        .write.mode("overwrite").parquet(s"$scaled/events.parquet")
      val doc = Tables(spark, base, "documents")
      replicate(doc, Seq("doc_id" -> maxOf(doc, "doc_id")))
        .write.mode("overwrite").parquet(s"$scaled/documents.parquet")
      val emb = Tables(spark, base, "embeddings")
      replicate(emb, Seq("vec_id" -> maxOf(emb, "vec_id")))
        .write.mode("overwrite").parquet(s"$scaled/embeddings.parquet")
      val li = Tables(spark, base, "lineitem")
      val nOrd = maxOf(li, "l_orderkey")
      replicate(li, Seq("l_orderkey" -> nOrd))
        .write.mode("overwrite").parquet(s"$scaled/lineitem.parquet")
      val ord = Tables(spark, base, "orders")
      replicate(ord, Seq("o_orderkey" -> nOrd, "o_custkey" -> maxOf(ord, "o_custkey")))
        .write.mode("overwrite").parquet(s"$scaled/orders.parquet")
      println(s"""{"metric":"scalegen","dir":"$scaled","factor":$factor}""")
    }

    val allKeys = Seq(
      "m_graph_ppr", "m_graph_wpagerank", "m_graph_pagerank", "m_ml_gbt",
      "m_mine_fpgrowth", "q_dedup_jaccard", "m_dedup_minhash",
      "q_sim_knn_vec", "q_geo_knn_join", "q_text_bpe_encode",
      // round-12 session-2 additions: the per-user fold family (arrays +
      // HOF automaton) and the trip window — the shapes whose 100 TB
      // story is "cost tracks users × fixes, exchanges stay fixed"
      "q_mine_cep", "q_traj_trips", "q_traj_rog",
      // session-3 additions: the all-pairs BFS (state grows with the
      // USER graph, 10× users → 10× sources), the zero-shuffle HOF
      // chunker (pure map-side — the flattest line expected), and the
      // single-scan skew audit (3 fact scans total at any volume)
      "q_graph_closeness", "q_text_cdc", "q_audit_skew",
      // session-4 additions: the lattice-bounded directed-graph closure
      // (cost past the first distinct must NOT grow with volume), the
      // two-agg PMI (both map-side combinable), the single-scan
      // attribution window, and the 24-slot SAX lattice
      "m_graph_scc", "q_text_pmi", "q_events_attr", "q_time_sax",
      // session-4 wave 2: raw-time trig sums (one fact agg), the grid
      // peak-prominence theta joins (declared window-bounded), the
      // time-bounded rank frames, and the full coreness fixpoint
      "q_time_lomb", "q_time_peaks", "q_stat_wilcoxon", "m_graph_coreness",
      // round-13 additions: the Louvain local-move rounds (edges grow with
      // users, exchanges fixed per round), the 3-D-bucketed ST-DBSCAN
      // (time-disjoint copies add a free partition axis), and the
      // time-bounded Holt-Winters fold (one hour-bucket agg at any volume)
      "m_graph_louvain", "m_stdbscan", "q_time_hw",
      // round-14 additions: the track-DP pair scan (10× users → 100× pairs
      // — the DECLARED U² signature wall, linear per-pair cost; the probe
      // documents the wall's measured shape, it is not expected flat)
      "m_traj_frechet", "m_traj_lcss", "m_traj_edr",
      // TRACLUS: MDL partition is user-local; the candidate grid is
      // bounded by the transit band (per-segment replication ≤
      // maxSeg/cell + 1), so growth tracks the clustered-band pair count
      "m_traj_traclus",
      // round-14 session-2 additions: Hausdorff rides the same U² pair
      // scan as the DP trio (documented wall, cutoff makes per-pair cost
      // sub-cap²); matrixprofile is TIME-RANGE-bounded (10× time-shifted
      // copies → 10× grid → ~100× kernel cells per type — the declared
      // O(range²) wall, see mp_decade for the pure-range point); iforest
      // scoring is linear with a fixed broadcast forest (flat expected
      // past the probe-sized refit); semantic dedup at FIXED nlist=16
      // documents the per-cell quadratic (production scales nlist ∝ N —
      // the cell self-join is then partition-local and bounded); dsir is
      // two map-side-combinable aggs + a broadcast (near-linear expected)
      "m_traj_hausdorff", "m_time_matrixprofile", "m_ml_iforest",
      "m_dedup_semantic", "q_text_dsir",
      // round-14 session-3 additions: kendall's day-pair enumeration is
      // TIME-RANGE-bounded (volume replication leaves the daily grid
      // unchanged — flat expected; range growth is the declared O(days²)
      // wall), tortuosity/circvar are one window pass + one hash agg
      // (linear expected), ljungbox rides the acf hour-grid substrate
      // (time-bounded past the one fact agg)
      "q_stat_kendall", "q_traj_tortuosity", "q_traj_circvar",
      "q_time_ljungbox",
      // adf/hurst ride the hour grid (time-bounded past the fact agg);
      // predict is one window pass + a lattice-bounded broadcast model
      // (linear expected)
      "q_time_adf", "q_time_hurst", "q_traj_predict",
      // AD is one fact scan + bin-bounded windows (flat-past-scan expected)
      "q_stat_ad",
      // hull is one user-keyed collect + an O(n log n) kernel per group
      // (linear expected; per-group cost bounded by device rate)
      "m_geo_hull",
      // entropy is one (user, cell) hash agg + lattice-bounded windows
      "q_traj_entropy",
      // winnow is two doc-partitioned window passes + a ×4 banded
      // equi-join (linear expected)
      "q_text_winnow",
      // gmm is PCA + EM, one treeAggregate per pass (linear expected)
      "m_ml_gmm",
      // NSW graph ANN: build is neighbor-list bounded (M per node),
      // search beam-bounded — near-linear build, flat search expected
      "m_sim_hnsw",
      // DW/KPSS ride the hour grid like adf (time-bounded past the agg)
      "q_time_dw", "q_time_kpss",
      // round-15: map-matching is one window pass + a per-user T×9²
      // Viterbi (T ≤ TrackCap) — linear expected
      "m_traj_mapmatch")
    // optional 4th arg: comma-separated key subset (one crashing probe —
    // fpgrowth's declared absolute-bar lattice at 10× — must not take the
    // shared SparkContext down with every later key's measurement)
    val probeKeys = args.lift(3)
      .map(s => allKeys.filter(s.split(',').toSet)).getOrElse(allKeys)
    // Composed pipeline probe (request it as "minhash_after_exact"): the
    // measured answer to the 100× replication wall. A wholesale-replicated
    // corpus keeps every LSH bucket under the hot-bucket cap while
    // multiplying within-bucket pair fanout by depth² — the PAIR LIST is
    // quadratic in duplication depth by semantics (every cross-copy pair
    // really is a near-dup), and 100× overflows local spill space. The
    // production shape runs exact-hash dedup FIRST (all replicas are
    // byte-identical → depth collapses to 1 linearly), then banding over
    // the canonical docs — near-dup cost returns to the base corpus size.
    if (args.lift(3).exists(_.split(',').contains("minhash_after_exact")))
      for ((label, dir) <- Seq("base" -> base, s"x$factor" -> scaled)) {
        val t0 = System.nanoTime()
        try {
          val docs = Tables(spark, dir, "documents")
          val canon = docs
            .groupBy(md5(col("text")).as("h"))
            .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
            .select(col("doc_id"), col("text"))
          val pairs = graft.operators.MinHashDedup
            .candidatePairs(spark, canon, 0.5, maxBucket = 1000)
          val rows = pairs.count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(s"""{"metric":"scaleprobe","key":"minhash_after_exact","scale":"$label","sec":${r3(sec)},"rows":$rows}""")
        } catch { case scala.util.control.NonFatal(e) =>
          val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
          println(s"""{"metric":"scaleprobe","key":"minhash_after_exact","scale":"$label","error":"$m"}""")
        }
      }
    // SimHash twin of the composed probe (request "simhash_after_exact"):
    // same wall, same fix — exact-hash dedup collapses replication depth
    // to 1, then 64-bit banding runs over canonical docs only.
    if (args.lift(3).exists(_.split(',').contains("simhash_after_exact")))
      for ((label, dir) <- Seq("base" -> base, s"x$factor" -> scaled)) {
        val t0 = System.nanoTime()
        try {
          val docs = Tables(spark, dir, "documents")
          val canon = docs
            .groupBy(md5(col("text")).as("h"))
            .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
            .select(col("doc_id"), col("text"))
          val pairs = graft.operators.SimHash
            .nearDupPairs(spark, canon, maxHamming = 3, maxBucket = 1000)
          val rows = pairs.count()
          val sec = (System.nanoTime() - t0) / 1e9
          println(s"""{"metric":"scaleprobe","key":"simhash_after_exact","scale":"$label","sec":${r3(sec)},"rows":$rows}""")
        } catch { case scala.util.control.NonFatal(e) =>
          val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
          println(s"""{"metric":"scaleprobe","key":"simhash_after_exact","scale":"$label","error":"$m"}""")
        }
      }

    // Time-RANGE probe (request "hw_decade"): q_time_hw's declared
    // contract is "cost grows with the time range only" — the hour-bucket
    // hash agg is the single data-sized job and the HW fold sees
    // hours-in-range elements in one row. Pin it at a DECADE: the same
    // event rows with inter-event gaps stretched ×120 (sf0.1's ~1 month →
    // ~10 years, 87.6k hour slots), so volume is IDENTICAL and only the
    // range moves. The expected shape is sec(decade) ≈ sec(base) + the
    // fold's 87.6k-element cost — single-digit seconds, NOT 120×.
    if (args.lift(3).exists(_.split(',').contains("hw_decade"))) {
      val decadeDir = s"$scaled-decade"
      if (!new java.io.File(s"$decadeDir/events.parquet").exists()) {
        val ev = Tables(spark, base, "events")
        val minUs = ev.agg(min(unix_micros(col("ts")))).first().getLong(0)
        ev.withColumn("ts", timestamp_micros(
            lit(minUs) + (unix_micros(col("ts")) - lit(minUs)) * lit(120L)))
          .write.mode("overwrite").parquet(s"$decadeDir/events.parquet")
      }
      for ((label, dir) <- Seq("base" -> base, "decade" -> decadeDir)) {
        val t0 = System.nanoTime()
        try {
          val df = SparkEntry.queries("q_time_hw")(spark, dir)
          val rows = df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val ex = countShuffles(df.queryExecution.executedPlan)
          println(s"""{"metric":"scaleprobe","key":"hw_decade","scale":"$label","sec":${r3(sec)},"rows":$rows,"exchanges":$ex}""")
        } catch { case scala.util.control.NonFatal(e) =>
          val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
          println(s"""{"metric":"scaleprobe","key":"hw_decade","scale":"$label","error":"$m"}""")
        }
      }
    }

    // Matrix-profile time-RANGE probe (request "mp_decade"): the key's
    // declared wall is O(hours²) PER TYPE, volume-independent — measure it
    // at the same ×120-stretched decade grid as hw_decade (87.6k hour
    // slots → ~7.7G STOMP cells/type, types run in parallel). The expected
    // shape is core-minute class, and the published escape hatch past it
    // (SCRIMP++ anytime / chunked-min-merge) is documented at the kernel.
    if (args.lift(3).exists(_.split(',').contains("mp_decade"))) {
      val decadeDir = s"$scaled-decade"
      if (!new java.io.File(s"$decadeDir/events.parquet").exists()) {
        val ev = Tables(spark, base, "events")
        val minUs = ev.agg(min(unix_micros(col("ts")))).first().getLong(0)
        ev.withColumn("ts", timestamp_micros(
            lit(minUs) + (unix_micros(col("ts")) - lit(minUs)) * lit(120L)))
          .write.mode("overwrite").parquet(s"$decadeDir/events.parquet")
      }
      for ((label, dir) <- Seq("base" -> base, "decade" -> decadeDir)) {
        val t0 = System.nanoTime()
        try {
          val df = SparkEntry.queries("m_time_matrixprofile")(spark, dir)
          val rows = df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val ex = countShuffles(df.queryExecution.executedPlan)
          println(s"""{"metric":"scaleprobe","key":"mp_decade","scale":"$label","sec":${r3(sec)},"rows":$rows,"exchanges":$ex}""")
        } catch { case scala.util.control.NonFatal(e) =>
          val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
          println(s"""{"metric":"scaleprobe","key":"mp_decade","scale":"$label","error":"$m"}""")
        }
      }
    }

    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // ×100-USERS probe family (r15 verdict ask #5): the trajectory keys'
    // 100-TB claims rested on ×10 points; these rows measure the bound
    // scan's U² growth directly at ×100 users. The ×100 corpus is a
    // synthetic in-memory union of `factor` id-shifted copies of the
    // ×10 POINT set (event_id shifts re-derive lat/lon, so copies are
    // distinct tracks, not clones), re-derived through the keys' own
    // tracksFromPoints — nothing extra lands on disk. Request one of
    // "frechet_x100" / "hausdorff_x100" / "lcss_x100" (each runs the
    // key's one pruned path on the ×100 tracks and reports sec / pairs /
    // observe-survivors), or "edr_skew" (the EDR prune's regime: per-user
    // length skew — ×10-skew pruned ≡ direct equality + speedup, then
    // the ×100-skew point; the ×100 UNIFORM edr wall is declared, not
    // run — its tier is a no-op there by design).
    val x100Req = Set("frechet_x100", "hausdorff_x100", "lcss_x100", "edr_skew")
      .filter(k => args.lift(3).exists(_.split(',').contains(k)))
    if (x100Req.nonEmpty) {
      import org.apache.spark.sql.expressions.Window
      // ORDER MATTERS (r16 review finding): lat/lon must be derived from
      // the ALREADY-SHIFTED event_id — deriving first and shifting after
      // made every copy an exact geometric clone of the base (each ×10
      // user gained C(10,2)=45 zero-distance twin pairs: the first ×100
      // run's 675,000 = 45 × 15k survivor count was exactly that), which
      // measures a duplicate-saturated corpus, not a ×100 fleet. The
      // shift amounts keep the lat/lon lattice phases distinct
      // (maxE·37 mod 1700 ≠ 0 and maxE·131 mod 3600 ≠ 0 — checked in
      // PREFLIGHT_r16.md at commit 3998105), matching the on-disk replicate() discipline.
      def shiftedEvents(copies: Int): DataFrame = {
        val ev = Tables(spark, scaled, "events")
          .select(col("user_id"), col("event_id"), col("ts"))
        val maxU = maxOf(ev, "user_id")
        val maxE = maxOf(ev, "event_id")
        (0 until copies).map { k =>
          ev.withColumn("user_id", col("user_id") + lit(k * maxU))
            .withColumn("event_id", col("event_id") + lit(k * maxE))
        }.reduce(_ unionAll _)
      }
      def toPts(ev: DataFrame): DataFrame = ev
        .withColumn("lat", (col("event_id") * 37L % 1700L) / 10.0 - 85.0)
        .withColumn("lon", (col("event_id") * 131L % 3600L) / 10.0 - 180.0)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("lat"), col("lon"))
      def pts(dir: String) = toPts(Tables(spark, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts")))
      // per-user length skew: keep the first 4 + xxhash64(user)%60 fixes,
      // so downsampled tracks span 4..63 points — the session/partial-track
      // shape the EDR prune's length bound exists for
      def skew(p: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        p.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= lit(4) + pmod(xxhash64(col("user_id")), lit(60)))
          .drop("rn")
      }
      def runOne(key: String, fn: DataFrame => DataFrame, tr: DataFrame,
                 label: String): Unit = {
        val t0 = System.nanoTime()
        try {
          val df = fn(tr)
          val rows = df.collect().length.toLong
          val sec = (System.nanoTime() - t0) / 1e9
          println(s"""{"metric":"scaleprobe","key":"$key","scale":"$label","sec":${r3(sec)},"rows":$rows${pruneStats(df, tr)}}""")
        } catch { case scala.util.control.NonFatal(e) =>
          val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
          println(s"""{"metric":"scaleprobe","key":"$key","scale":"$label","error":"$m"}""")
        }
      }
      lazy val tr100 = graft.queries.Trajectory
        .tracksFromPoints(spark, toPts(shiftedEvents(factor)))
        .localCheckpoint(eager = false)
      if (x100Req("frechet_x100"))
        runOne("m_traj_frechet",
          t => graft.queries.Trajectory.frechetPruned(spark, t), tr100, s"x${10 * factor}")
      if (x100Req("hausdorff_x100"))
        runOne("m_traj_hausdorff",
          t => graft.queries.Trajectory.hausdorffPruned(spark, t), tr100, s"x${10 * factor}")
      if (x100Req("lcss_x100"))
        runOne("m_traj_lcss",
          t => graft.queries.Trajectory.lcssPruned(spark, t), tr100, s"x${10 * factor}")
      if (x100Req("edr_skew")) {
        val tr10s = graft.queries.Trajectory
          .tracksFromPoints(spark, skew(pts(scaled)))
          .localCheckpoint(eager = false)
        // the key's own direct scan at ×10-skew: the equality stands in
        // TrajectorySpec; here the MEASURED speedup + survivors
        runOne("edr_skew_direct",
          t => graft.queries.Trajectory.edrTop(spark, t, prune = false), tr10s, s"x$factor-skew")
        runOne("m_traj_edr",
          t => graft.queries.Trajectory.edrTop(spark, t, prune = true), tr10s, s"x$factor-skew")
        // PLANTED near-dup variant: the regime where a top-10-nearest
        // query is meaningful (and where the threshold-prune can bite) is
        // a corpus CONTAINING near-duplicate tracks — d₁₀ ≪ 1. Clone 30
        // users' skewed point sets minus their last fix (edr = 1 edit
        // each), so thr collapses to ~1/n and the length bound excludes
        // every pair whose length ratio misses it. Measured x10-skew
        // WITHOUT plants: survivors = 100% of 112.5M pairs (d₁₀ ≈ 1 on
        // random walks — nothing can prune, the declared honest wall).
        def planted(p: DataFrame): DataFrame = {
          val wd = Window.partitionBy(col("user_id"))
            .orderBy(col("ts_us").desc, col("event_id").desc)
          val clones = p.filter(col("user_id") < 30)
            .withColumn("rnd", row_number().over(wd))
            .filter(col("rnd") > 1).drop("rnd")
            .withColumn("user_id", col("user_id") + lit(10000000L))
          p.unionAll(clones)
        }
        val tr10p = graft.queries.Trajectory
          .tracksFromPoints(spark, planted(skew(pts(scaled))))
          .localCheckpoint(eager = false)
        runOne("m_traj_edr",
          t => graft.queries.Trajectory.edrTop(spark, t, prune = true), tr10p, s"x$factor-skew-planted")
        val tr100p = graft.queries.Trajectory
          .tracksFromPoints(spark, planted(skew(toPts(shiftedEvents(factor)))))
          .localCheckpoint(eager = false)
        runOne("m_traj_edr",
          t => graft.queries.Trajectory.edrTop(spark, t, prune = true), tr100p, s"x${10 * factor}-skew-planted")
      }
    }

    // Round-17 corridor-join probes (request "corridor_x10" and/or
    // "corridor_x100"): the threshold/corridor forms' cost claim is "the
    // band join + candidate re-attach, never U-squared pairs" - measured
    // on the x10 fleet (~15k users = 112.9M all-pairs) and, for the x100
    // point, on `factor` id-shifted in-memory copies (~150k users =
    // 11.3G all-pairs - the EXACT keys' measured 604-693 s regime), each
    // with 30 planted re-trace users so the J >= 0.5 regime is
    // populated. Reported: sec, output rows, and the LSH candidate count
    // (the number that must stay far below all-pairs). LCSS rides these
    // runs too - all four corridor kernels over one candidate-set build.
    for (variant <- Seq("corridor_x10", "corridor_x100")
         if args.lift(3).exists(_.split(',').contains(variant))) {
      val copies = if (variant == "corridor_x100") factor else 1
      def basePts: DataFrame = {
        val ev0 = Tables(spark, scaled, "events").select(
          col("user_id"), col("event_id"), col("ts"))
        // id-shift BEFORE deriving lat/lon (the r16 clone-saturation
        // lesson): each copy is a distinct fleet, not a geometric clone.
        // copies == 1 skips the two max() jobs entirely (they would shift
        // by k = 0 — wasted work in a timing probe).
        val ev = if (copies == 1) ev0 else {
          val maxU = maxOf(ev0, "user_id")
          val maxE = maxOf(ev0, "event_id")
          (0 until copies).map { k =>
            ev0.withColumn("user_id", col("user_id") + lit(k * maxU))
              .withColumn("event_id", col("event_id") + lit(k * maxE))
          }.reduce(_ unionAll _)
        }
        ev.withColumn("lat", (col("event_id") * 37L % 1700L) / 10.0 - 85.0)
          .withColumn("lon", (col("event_id") * 131L % 3600L) / 10.0 - 180.0)
          .withColumn("ts_us", unix_micros(col("ts")))
          .select(col("user_id"), col("ts_us"), col("event_id"), col("lat"), col("lon"))
      }
      // 30 planted EXACT re-traces (the corridor regime: same route, all
      // metrics 0/1) so every threshold join has real work + output
      def planted(p: DataFrame): DataFrame =
        p.unionAll(p.filter(col("user_id") < 30)
          .withColumn("user_id", col("user_id") + lit(10000000L)))
      val label = s"x${factor * copies}-planted"
      val trc = graft.queries.Trajectory
        .tracksFromPoints(spark, planted(basePts))
        .localCheckpoint(eager = false)
      val nU = trc.count()
      val cand = graft.operators.TrajLsh
        .candidatePairs(spark, trc.select(col("user_id"), col("cells")), 0.5)
      val tc = System.nanoTime()
      val nCand = cand.count()
      println(s"""{"metric":"scaleprobe","key":"corridor_candidates","scale":"$label","sec":${r3((System.nanoTime() - tc) / 1e9)},"rows":$nCand,"pairs":${nU * (nU - 1) / 2}}""")
      for ((key, fn) <- Seq[(String, DataFrame => DataFrame)](
        "frechet_threshold" -> (t => graft.operators.TrajLsh
          .frechetThresholdPairs(spark, t, maxKm = 100.0)),
        "hausdorff_threshold" -> (t => graft.operators.TrajLsh
          .hausdorffThresholdPairs(spark, t, maxKm = 100.0)),
        "lcss_threshold" -> (t => graft.operators.TrajLsh
          .lcssThresholdPairs(spark, t, minSim = 0.9)),
        "edr_threshold" -> (t => graft.operators.TrajLsh
          .edrThresholdPairs(spark, t, maxEdr = 0.25)))) {
        val t0 = System.nanoTime()
        try {
          val rows = fn(trc).count()
          println(s"""{"metric":"scaleprobe","key":"$key","scale":"$label","sec":${r3((System.nanoTime() - t0) / 1e9)},"rows":$rows}""")
        } catch { case scala.util.control.NonFatal(e) =>
          val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
          println(s"""{"metric":"scaleprobe","key":"$key","scale":"$label","error":"$m"}""")
        }
      }
    }


    // Round-19 distributed-loop probe (request "dist_loop"; r18 verdict
    // ask #7): the driver-local endgames bypass the distributed round
    // loops at bench SF, so their cost would otherwise go unmeasured.
    // This forces the distributed path (`Endgame.distributed`) on PageRank
    // and BFS over the SAME co-traveler substrate the declared keys use, at
    // base and ×factor, and prints sec + executed rounds next to the
    // endgame line for the direct comparison. The dual-path specs keep
    // CORRECTNESS covered; this keeps the distributed path's COST on the
    // record.
    if (args.lift(3).exists(_.split(',').contains("dist_loop"))) {
      for ((label, dir) <- Seq("base" -> base, s"x$factor" -> scaled)) {
        val pairs = graft.queries.Geo
          .coTravelerPairs(spark, dir, cellDeg = 20.0, minHours = 2)
        val edges = pairs.select(col("u1").as("src"), col("u2").as("dst"))
          .unionAll(pairs.select(col("u2").as("src"), col("u1").as("dst")))
        val verts = pairs.select(col("u1").as("id"))
          .unionAll(pairs.select(col("u2").as("id"))).distinct()
        val seeds = verts.orderBy(col("id")).limit(3)
        val nEdges = edges.count()
        for (mode <- Seq("dist", "local")) {
          def onPath(body: => Long): Long =
            if (mode == "dist") graft.operators.Endgame.distributed(body) else body
          for ((op, body) <- Seq[(String, () => Long)](
            "pagerank" -> (() => onPath(graft.operators.PageRank
              .run(spark, edges).count())),
            "bfs" -> (() => onPath(graft.operators.Bfs
              .run(spark, pairs.select(col("u1"), col("u2")), seeds,
                maxHops = 8).count())))) {
            val t0 = System.nanoTime()
            try {
              val rows = body()
              val sec = (System.nanoTime() - t0) / 1e9
              val it = graft.operators.LastIterations.take().getOrElse(-1)
              println(s"""{"metric":"scaleprobe","key":"dist_loop_$op","scale":"$label","mode":"$mode","sec":${r3(sec)},"rows":$rows,"rounds":$it,"edges":$nEdges}""")
            } catch { case scala.util.control.NonFatal(e) =>
              val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
                .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
              println(s"""{"metric":"scaleprobe","key":"dist_loop_$op","scale":"$label","mode":"$mode","error":"$m"}""")
            }
          }
        }
      }
    }

    // Round-17 ANN-append probe (request "ann_append"): the append's
    // claim is "no re-fit" — measured as writeIvf (k-means fit + encode)
    // vs appendIvf (frozen-centroid encode only) on the ×10 embeddings,
    // plus the same split for IVFADC (two quantizer fits skipped).
    if (args.lift(3).exists(_.split(',').contains("ann_append"))) {
      val embAll = Tables(spark, scaled, "embeddings")
      val embA = embAll.filter(col("vec_id") % 2 === 0)
      val embB = embAll.filter(col("vec_id") % 2 =!= 0)
      for ((fam, write, append) <- Seq[(String,
          (DataFrame, String) => Unit, (DataFrame, String) => Unit)](
        ("ivf",
          (d, p) => graft.operators.AnnIndex.writeIvf(spark, d, p, nlist = 16),
          (d, p) => { graft.operators.AnnIndex.appendIvf(spark, d, p); () }),
        ("ivfpq",
          (d, p) => graft.operators.AnnIndex.writeIvfPq(spark, d, p,
            nlist = 16, m = 8, ksub = 32),
          (d, p) => { graft.operators.AnnIndex.appendIvfPq(spark, d, p); () }))) {
        try {
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft_probe_append_$fam").toString
          val t0 = System.nanoTime()
          write(embA, dir)
          val wSec = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          append(embB, dir)
          val aSec = (System.nanoTime() - t1) / 1e9
          println(s"""{"metric":"scaleprobe","key":"ann_append_$fam","scale":"x$factor","write_sec":${r3(wSec)},"append_sec":${r3(aSec)}}""")
        } catch { case scala.util.control.NonFatal(e) =>
          val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
          println(s"""{"metric":"scaleprobe","key":"ann_append_$fam","scale":"x$factor","error":"$m"}""")
        }
      }
    }

    // Round-17 bucketed-join probe (request "bucketed_join"): the
    // recurring-ETL claim quantified — pay the layout shuffle once at
    // write time, then every join on the key skips its Exchange. Reported:
    // the one-off bucketed-write cost and the per-join cost bucketed vs
    // unbucketed on the ×10 lineitem⋈orders (AQE off for a clean A/B).
    if (args.lift(3).exists(_.split(',').contains("bucketed_join"))) {
      try {
        val wh = java.nio.file.Files.createTempDirectory("graft_probe_bkt").toString
        val li = Tables(spark, scaled, "lineitem")
        val ord = Tables(spark, scaled, "orders")
        val tW = System.nanoTime()
        graft.operators.BucketedTables.writeBucketed(spark, li,
          "probe_bl_li", s"$wh/li", 32, "l_orderkey")
        graft.operators.BucketedTables.writeBucketed(spark, ord,
          "probe_bl_ord", s"$wh/ord", 32, "o_orderkey")
        val wSec = (System.nanoTime() - tW) / 1e9
        def timeJoin(a: DataFrame, b: DataFrame): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = a.join(b, col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(sum(col("l_quantity")).as("q")).count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val prev = (spark.conf.getOption("spark.sql.adaptive.enabled"),
          spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val (plainSec, _) = timeJoin(li, ord)
          val (bktSec, _) = timeJoin(spark.table("probe_bl_li"), spark.table("probe_bl_ord"))
          println(s"""{"metric":"scaleprobe","key":"bucketed_join","scale":"x$factor","write_sec":${r3(wSec)},"join_plain_sec":${r3(plainSec)},"join_bucketed_sec":${r3(bktSec)}}""")
        } finally {
          prev._1.foreach(spark.conf.set("spark.sql.adaptive.enabled", _))
          prev._2.foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
          spark.sql("DROP TABLE IF EXISTS probe_bl_li")
          spark.sql("DROP TABLE IF EXISTS probe_bl_ord")
        }
      } catch { case scala.util.control.NonFatal(e) =>
        val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
        println(s"""{"metric":"scaleprobe","key":"bucketed_join","scale":"x$factor","error":"$m"}""")
      }
    }

    for (key <- probeKeys; (label, dir) <- Seq("base" -> base, s"x$factor" -> scaled)) {
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(key)(spark, dir)
        // the track top-10 keys run via collect() so the observe("prune")
        // metric lands on THIS frame's queryExecution (count() builds its
        // own); their outputs are top-10 frames, so collect is free
        val trajTop = trajTopKeys(key)
        val rows = if (trajTop) df.collect().length.toLong else df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val ex = countShuffles(df.queryExecution.executedPlan)
        val it = graft.operators.LastIterations.take().map(i => s""","rounds":$i""").getOrElse("")
        val pr = if (trajTop) pruneStats(df, graft.queries.Trajectory.tracks(spark, dir)) else ""
        println(s"""{"metric":"scaleprobe","key":"$key","scale":"$label","sec":${r3(sec)},"rows":$rows,"exchanges":$ex$it$pr}""")
      } catch { case scala.util.control.NonFatal(e) =>
        val m = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .replaceAll("[\\s\\p{Cntrl}\"\\\\]+", " ").trim.take(160)
        println(s"""{"metric":"scaleprobe","key":"$key","scale":"$label","error":"$m"}""")
      }
    }
    spark.stop()
  }
}
