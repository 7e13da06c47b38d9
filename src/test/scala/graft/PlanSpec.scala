package graft

/** SURVEY §4 — physical-plan discipline guards. These assertions pin the
  * properties that make the contract queries survive a 100× scale-up:
  * column pruning and predicate pushdown reaching the parquet scan,
  * explicit broadcasts staying broadcast, top-k staying
  * TakeOrderedAndProject (never a full sort), and partial (map-side)
  * aggregation being present. A refactor that silently loses one of these
  * still passes the value-correctness gates — this spec is what fails. */
class PlanSpec extends BaseSpec {

  private def planOf(key: String): String =
    SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  test("q_scan_project prunes lineitem to exactly its 4 columns") {
    val p = planOf("q_scan_project")
    assert(p.contains("ReadSchema"), s"no parquet scan found:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
             .forall(read.contains), s"pruned schema lost a column: $read")
    assert(!read.contains("l_comment") && !read.contains("l_shipdate") &&
           !read.contains("l_discount"), s"unpruned column leaked into scan: $read")
  }

  test("nested schema pruning reads only the referenced struct subfield") {
    // The struct-heavy-parquet lever at 100 TB: multimodal metadata rides
    // as nested structs, and a query touching meta.width must NOT drag the
    // (multi-KB) payload sibling through the scan. Spark's nested schema
    // pruning rewrites the ReadSchema to the referenced leaf only.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nested").toString
    spark.range(200)
      .select($"id",
        struct($"id".cast("int").as("width"), ($"id" * 2).cast("int").as("height"),
               lpad(lit("x"), 1000, "x").as("payload")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).select($"id", $"meta.width")
    val plan = q.queryExecution.executedPlan.toString
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("width"), s"pruned nested schema lost the leaf: $read")
    assert(!read.contains("payload"),
      s"payload sibling leaked into the nested scan: $read")
    assert(q.agg(sum($"width")).as[Long].head() == (0L until 200L).sum)
  }

  test("q_meta_stats scans only its struct leaves: media and sample_rate never read") {
    // The nested-pruning proof ATTACHED TO A DECLARED KEY (r9 ask #7):
    // the key reads the struct-native media parquet and touches
    // meta.kind/width/height — the scan's ReadSchema must carry exactly
    // those leaves, with the multi-KB `media` binary (flat pruning) and
    // the untouched `sample_rate` sibling (NESTED pruning) both absent.
    val q = SparkEntry.queries("q_meta_stats")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the schema substring only — the scan line also prints the temp PATH,
    // which contains the literal string "media"
    val read = plan.linesIterator.find(_.contains("ReadSchema"))
      .map(_.split("ReadSchema: ").last).getOrElse("")
    assert(read.contains("kind") && read.contains("width") && read.contains("height"),
      s"struct leaves missing from ReadSchema: $read")
    assert(!read.contains("media"), s"media payload leaked into the scan: $read")
    assert(!read.contains("sample_rate"),
      s"untouched struct sibling leaked into the nested scan: $read")
  }

  test("q_filter_pred pushes its predicates into the parquet scan") {
    val p = planOf("q_filter_pred")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") || pushed.contains("GreaterThanOrEqual"),
      s"shipdate bound not pushed: $pushed")
    assert(pushed.contains("l_quantity") || pushed.contains("LessThan"),
      s"quantity bound not pushed: $pushed")
  }

  test("explicit dim-side broadcasts survive planning") {
    for (key <- Seq("q_join_broadcast", "q_join_interval")) {
      val p = planOf(key)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$key lost its broadcast:\n$p")
    }
  }

  test("LevenshteinBanding rewrites lev(a,b) <= k into the banded 3-arg form") {
    import org.apache.spark.sql.functions._
    graft.plans.LevenshteinBanding.install(spark)
    val d = Tables(spark, sf, "documents")
      .selectExpr("doc_id", "substr(lower(trim(text)), 1, 40) AS t")
    // The natural (unbanded) spelling, in a join condition AND a filter —
    // both must come out banded. `lev ≤ k ⇔ lev3(k) ≥ 0` is the contract
    // q_dedup_edit's DuckDB parity already pins, so plan shape is the claim.
    val q = d.as("a").join(d.as("b"),
        expr("levenshtein(a.t, b.t) <= 5") && col("a.doc_id") < col("b.doc_id"))
      .filter(expr("levenshtein(a.t, substr(b.t, 1, 39)) < 7"))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.matches("(?s).*levenshtein\\([^,)]+, [^,)]+\\) <= 5.*"),
      s"2-arg predicate survived optimization:\n$opt")
    assert(opt.contains("Some(5)) >= 0"), s"join condition not banded at 5:\n$opt")
    assert(opt.contains("Some(6)) >= 0"), s"strict < 7 not banded at 6:\n$opt")
    // The contract query is written with the natural 2-arg spelling under a
    // `.cast("long")` projection — the rule must see through the up-cast.
    val edit = SparkEntry.queries("q_dedup_edit")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(edit.contains("Some(5)) >= 0"),
      s"q_dedup_edit's cast-wrapped predicate not banded:\n$edit")
  }

  test("q_anomaly_zscore broadcasts the stats row set — the fact scan never reshuffles") {
    val p = planOf("q_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"),
      s"per-type stats not broadcast back onto the fact table:\n$p")
  }

  test("top-k queries plan as TakeOrderedAndProject, not a global sort") {
    val p = planOf("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"q_topk plans a full sort:\n$p")
    val sql = planOf("q_sql_tpch")
    assert(sql.contains("TakeOrderedAndProject"), s"q_sql_tpch plans a full sort:\n$sql")
  }

  test("flagship aggregate keeps partial (map-side) aggregation") {
    val p = planOf("q_agg_pricing")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate pair, got $hashAggs:\n$p")
  }

  test("HaversineRadiusPruning injects sargable bbox bounds and preserves results") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.plans.HaversineRadiusPruning.install(spark)
    val hv = graft.functions.HaversineDist.haversineKm _
    val df = SparkEntry.queries("q_geo_radius")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    // lat/lon are collapsed into inline arithmetic by the time the rule
    // fires, so look for the injected bound literals themselves.
    val (latLo, latHi, Some((lonLo, lonHi))) =
      graft.plans.HaversineRadiusPruning.bbox(48.85, 2.35, 1200.0)
    for (b <- Seq(latLo, latHi, lonLo, lonHi))
      assert(opt.contains(b.toString), s"bbox bound $b missing from optimized plan:\n$opt")
    // Equivalence, with a radius wide enough to match many rows at sf0.001.
    // Truth is computed driver-side from the collected points, entirely
    // outside the optimizer, so the rule cannot influence both sides.
    val base = Tables(spark, sf, "events")
      .withColumn("lat", (($"event_id" * 37) % 1700).cast("double") / 10.0 - 85.0)
      .withColumn("lon", (($"event_id" * 131) % 3600).cast("double") / 10.0 - 180.0)
    val pruned = base
      .filter(hv($"lat", $"lon", lit(48.85), lit(2.35)) < lit(3000.0))
      .select($"event_id").as[Long].collect().toSet
    val truth = base.select($"event_id", $"lat", $"lon")
      .as[(Long, Double, Double)].collect()
      .filter { case (_, la, lo) =>
        graft.functions.HaversineDist.km(la, lo, 48.85, 2.35) < 3000.0 }
      .map(_._1).toSet
    assert(truth.nonEmpty)
    assert(pruned == truth,
      s"bbox pruning changed results: missing=${(truth -- pruned).take(5)} extra=${(pruned -- truth).take(5)}")
  }

  test("HaversineRadiusPruning fires on centre-first and integer-radius SQL shapes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.plans.HaversineRadiusPruning.install(spark)
    graft.functions.Sql.install(spark)
    Tables(spark, sf, "events")
      .withColumn("lat", (($"event_id" * 37) % 1700).cast("double") / 10.0 - 85.0)
      .withColumn("lon", (($"event_id" * 131) % 3600).cast("double") / 10.0 - 180.0)
      .createOrReplaceTempView("geo_pts")
    val (latLo, latHi, _) = graft.plans.HaversineRadiusPruning.bbox(48.85, 2.35, 500.0)
    // Centre-first argument order AND an integer radius literal — both must
    // derive the same bounds as the canonical point-first DOUBLE shape.
    for (q <- Seq(
      "SELECT event_id FROM geo_pts WHERE haversine_km(48.85, 2.35, lat, lon) < 500",
      "SELECT event_id FROM geo_pts WHERE haversine_km(lat, lon, 48.85, 2.35) < 500")) {
      val opt = spark.sql(q).queryExecution.optimizedPlan.toString
      for (b <- Seq(latLo, latHi))
        assert(opt.contains(b.toString), s"bound $b missing for: $q\n$opt")
    }
  }

  test("bbox bounds reach PushedFilters on stored lat/lon parquet columns") {
    // The rule's 100 TB payoff: on STORED columns the injected range
    // conjuncts must reach the parquet reader as PushedFilters (row-group
    // min/max skipping), not just evaluate pre-trig.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.plans.HaversineRadiusPruning.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_geo").toString
    Tables(spark, sf, "events")
      .withColumn("lat", (($"event_id" * 37) % 1700).cast("double") / 10.0 - 85.0)
      .withColumn("lon", (($"event_id" * 131) % 3600).cast("double") / 10.0 - 180.0)
      .select($"event_id", $"lat", $"lon")
      .write.mode("overwrite").parquet(s"$dir/pts.parquet")
    val pts = spark.read.parquet(s"$dir/pts.parquet")
    // Default maxMetadataStringLength (100) elides the PushedFilters list
    // in the plan string — widen it for the assertion only.
    withSQLConf("spark.sql.maxMetadataStringLength" -> "2000") {
      val q = pts.filter(
        graft.functions.HaversineDist.haversineKm($"lat", $"lon", lit(48.85), lit(2.35)) < lit(500.0))
      val p = q.queryExecution.executedPlan.toString
      val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      for (want <- Seq("GreaterThanOrEqual(lat", "LessThanOrEqual(lat",
                       "GreaterThanOrEqual(lon", "LessThanOrEqual(lon"))
        assert(pushed.contains(want), s"$want not pushed to the scan: $pushed\n$p")
    }
  }

  test("bbox bound is a true superset of the haversine disc") {
    // Deterministic lat/lon grid around the centre: every point inside the
    // radius must fall inside the derived box (including the lon bound).
    val (cLat, cLon, r) = (48.85, 2.35, 500.0)
    val (latLo, latHi, lonB) = graft.plans.HaversineRadiusPruning.bbox(cLat, cLon, r)
    val Some((lonLo, lonHi)) = lonB
    val inside = for {
      la <- BigDecimal(cLat - 8) to BigDecimal(cLat + 8) by BigDecimal(0.25)
      lo <- BigDecimal(cLon - 12) to BigDecimal(cLon + 12) by BigDecimal(0.25)
      if graft.functions.HaversineDist.km(la.toDouble, lo.toDouble, cLat, cLon) <= r
    } yield (la.toDouble, lo.toDouble)
    assert(inside.nonEmpty)
    val escaped = inside.filterNot { case (la, lo) =>
      la >= latLo && la <= latHi && lo >= lonLo && lo <= lonHi }
    assert(escaped.isEmpty, s"points inside radius but outside box: ${escaped.take(5)}")
    // High-latitude centre near the antimeridian: lon bound must drop out
    // rather than wrap incorrectly.
    val (_, _, polar) = graft.plans.HaversineRadiusPruning.bbox(89.9, 179.9, 500.0)
    assert(polar.isEmpty, s"polar/antimeridian lon bound should be omitted: $polar")
  }

  test("BucketedTables library surface: recurring join plans with ZERO Exchange and ZERO Sort") {
    // The r16 verdict's missing #1, closed as a LIBRARY surface: the
    // one-file-per-bucket repartition inside writeBucketed is what keeps
    // the SORTED flag readable, so the recurring sort-merge-bucket join
    // carries neither an Exchange NOR a Sort — the whole per-join cost of
    // the key is paid once, at write time.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_bkt_lib").toString
    graft.operators.BucketedTables.writeBucketed(spark,
      Tables(spark, sf, "orders"), "bl_orders", s"$wh/bl_orders", 8, "o_orderkey")
    graft.operators.BucketedTables.writeBucketed(spark,
      Tables(spark, sf, "lineitem"), "bl_lineitem", s"$wh/bl_lineitem", 8, "l_orderkey")
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
                "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("bl_lineitem")
        .join(spark.table("bl_orders"), $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_quantity", $"o_totalprice")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan ignored bucket layout:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must plan with ZERO Exchange:\n$plan")
      assert(!plan.contains("+- Sort"),
        s"one sorted file per bucket must elide the per-join Sort too:\n$plan")
      // and the layout changed the PLAN, not the ANSWER
      val want = Tables(spark, sf, "lineitem")
        .join(Tables(spark, sf, "orders"), $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_quantity", $"o_totalprice")
      assert(joined.count() == want.count())
      assert(joined.exceptAll(want).isEmpty && want.exceptAll(joined).isEmpty,
        "bucketed join rows differ from the unbucketed join")
    }
    // the RECURRING half of the contract (post-r17 review: DROP TABLE on
    // an external table leaves the files, and CTAS refuses a non-empty
    // location — the weekly re-write must still work). The re-write goes
    // through the versioned staging + catalog-rename path, so ALSO pin
    // that the bucket layout SURVIVES the rename: a silently-dropped
    // bucket spec would keep the rows and lose the whole point.
    graft.operators.BucketedTables.writeBucketed(spark,
      Tables(spark, sf, "orders").limit(100),
      "bl_orders", s"$wh/bl_orders", 8, "o_orderkey")
    assert(spark.table("bl_orders").count() == 100,
      "re-write of an existing bucketed table must replace it")
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
                "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val rejoined = spark.table("bl_lineitem")
        .join(spark.table("bl_orders"), $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"o_totalprice")
      val plan2 = rejoined.queryExecution.executedPlan.toString
      assert(plan2.contains("Bucketed: true") && !plan2.contains("Exchange"),
        s"re-written table lost its bucket layout:\n$plan2")
    }
    spark.sql("DROP TABLE IF EXISTS bl_orders")
    spark.sql("DROP TABLE IF EXISTS bl_lineitem")
  }

  test("filtered ANN predicate reaches PushedFilters on the reopened postings scan") {
    // Round 18 (r17 verdict ask #1): the metadata predicate of a filtered
    // search must land on the persisted postings scan itself — at 100 TB
    // that is parquet row-group pruning BEFORE any distance math; a
    // predicate evaluated after the cell join would read every matching
    // cell's full postings. The fit carries the embeddings' metadata
    // columns (here `label`) into the postings precisely for this.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_annfilt").toString
    graft.operators.AnnIndex.writeIvf(spark, Tables(spark, sf, "embeddings"),
      dir, nlist = 16)
    val (assigned, centroids) = graft.operators.AnnIndex.readIvf(spark, dir)
    withSQLConf("spark.sql.maxMetadataStringLength" -> "2000") {
      val q = graft.operators.AnnIVF.topKFrom(spark, assigned, centroids,
        0L until 10L, k = 5, nprobe = 12, pred = Some($"label" === 3))
      val p = q.queryExecution.executedPlan.toString
      val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
        .find(_.contains("EqualTo(label,3)")).getOrElse("")
      assert(pushed.nonEmpty,
        s"label predicate must reach a postings scan's PushedFilters:\n$p")
      // and the filtered database side prunes the postings' label column
      // at the source, while results stay k-live and pure
      val rows = q.select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      assert(rows.length == 50, s"k must stay live under the filter: ${rows.length}")
      val labels = Tables(spark, sf, "embeddings")
        .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
      assert(rows.forall(r => labels(r._2) == 3), "non-matching vec in filtered top-k")
    }
  }

  test("writeBucketed: crashed-swap recovery adopts the staging entry; concurrent writers cannot destroy data") {
    // Round 18 (r17 verdict ask #5 + advice #1). (a) The commit is
    // DROP-then-RENAME; a crash between the two leaves no live entry but
    // a fully-written staging table — recoverStaging (also run at the top
    // of every write) adopts it. (b) Two concurrent re-writes of the same
    // table: nonce'd staging names + supersede-only GC mean the loser can
    // fail loudly or leak a version dir, but the winner's catalog entry
    // resolves and its files are complete.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_bkt_race").toString
    val fullCount = Tables(spark, sf, "orders").count()
    graft.operators.BucketedTables.writeBucketed(spark,
      Tables(spark, sf, "orders"), "br_orders", s"$wh/br_orders", 8, "o_orderkey")
    // (a) simulate the crash window: the live name vanishes, the staged
    // entry (here: the committed table itself, renamed aside) survives
    spark.sql(s"ALTER TABLE br_orders RENAME TO br_orders__staging_v${System.nanoTime()}")
    assert(!spark.catalog.tableExists("br_orders"))
    assert(graft.operators.BucketedTables.recoverStaging(spark, "br_orders"),
      "recovery must adopt the surviving staging entry")
    assert(spark.table("br_orders").count() == fullCount,
      "recovered table must serve the staged data")
    // recovery is idempotent / no-op when the table resolves
    assert(!graft.operators.BucketedTables.recoverStaging(spark, "br_orders"))

    // (b) two interleaved writers, different payloads, same table
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(100, 200).map { n =>
      val th = new Thread(() =>
        try graft.operators.BucketedTables.writeBucketed(spark,
          Tables(spark, sf, "orders").limit(n),
          "br_orders", s"$wh/br_orders", 8, "o_orderkey")
        catch { case e: Throwable => errors.add(e) })
      th.start(); th
    }
    ts.foreach(_.join())
    // the loser may have failed loudly (rename collision) — never silently
    assert(errors.size() <= 1, s"at most one loser: ${errors.size()}")
    val n = spark.table("br_orders").count()
    assert(n == 100 || n == 200,
      s"surviving table must be exactly one writer's complete payload, got $n")
    // and its files are actually readable end-to-end (GC did not eat them)
    assert(spark.table("br_orders").agg(sum($"o_orderkey")).head().getLong(0) > 0)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("br_orders")).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed tables join without a shuffle exchange") {
    // The 100 TB co-location story: both sides bucketed+sorted on the join
    // key at write time → SortMergeJoin consumes the bucket layout
    // directly, zero Exchange in the plan. (AQE is disabled for this
    // query-shape check only — it wraps the plan before execution.)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Tables(spark, sf, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    Tables(spark, sf, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/b_lineitem").saveAsTable("b_lineitem")
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
                "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
              $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan ignored bucket layout:\n$plan")
      // No exchange on either JOIN key (the later groupBy re-key is fine).
      assert(!plan.contains("hashpartitioning(l_orderkey") &&
             !plan.contains("hashpartitioning(o_orderkey"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(joined.count() == 5)
    }
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("bucketed entity layout runs the keep-latest window with zero exchanges") {
    // The OTHER half of the bucketing story: q_dedup_latest's scaladoc
    // claims that with the table bucketed on the entity key "even the
    // shuffle disappears" — made a tested fact here. The scan's bucket
    // layout (HashPartitioning on user_id) satisfies the window's
    // ClusteredDistribution directly, so the rank-1-per-user plan carries
    // a Sort but NO Exchange of any kind, and its rows equal the declared
    // key's (which reads the unbucketed parquet and pays the one shuffle).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket_w").toString
    spark.sql("DROP TABLE IF EXISTS b_events")
    Tables(spark, sf, "events")
      .withColumn("ts_us", unix_micros($"ts")).drop("ts")
      .write.bucketBy(8, "user_id")
      .option("path", s"$wh/b_events").saveAsTable("b_events")
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val w = Window.partitionBy($"user_id").orderBy($"ts_us".desc, $"event_id".desc)
      val q = spark.table("b_events")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", $"event_id".as("latest_event"),
                $"ts_us".as("latest_ts_us"), $"value")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), s"scan ignored bucket layout:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed keep-latest window must not shuffle at all:\n$plan")
      val got = q.as[(Long, Long, Long, Double)].collect().toSet
      val want = SparkEntry.queries("q_dedup_latest")(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == want, s"bucketed plan changed keep-latest rows: " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    }
    spark.sql("DROP TABLE IF EXISTS b_events")
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    // The 100 TB star-join lever, with AQE ON (the production setting):
    // the fact table is partitioned by a dim-derived key (day), the dim
    // carries a selective attribute filter, and the join key is the
    // partition column. Spark must inject a dynamicpruning subquery into
    // the fact scan's PartitionFilters — the fact side reads only the
    // days the filtered dim selects, a fact the numPartitions metric
    // proves at runtime. No static predicate on the fact side exists, so
    // any pruning observed is DPP's.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables(spark, sf, "events")
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val allDays = fact.select($"day").distinct().as[Long].collect().sorted
    assert(allDays.length > 5, s"fixture needs many day partitions, got ${allDays.length}")
    val pickedDays = allDays.take(3).toSet
    allDays.map(d => (d, if (pickedDays(d)) "pick" else "other"))
      .toSeq.toDF("day", "tag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")

    val q = fact.join(dim.filter($"tag" === "pick"), Seq("day"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    val rows = q.collect() // run under AQE — DPP must fire in production config
    val expected = fact.filter($"day".isin(pickedDays.toSeq: _*))
      .groupBy($"event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet == expected,
      "DPP must not change the join result")

    // Walk the finalized adaptive plan down to the fact scan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val factScan = scans(q.queryExecution.executedPlan)
      .find(_.output.exists(_.name == "day"))
      .getOrElse(fail("no partitioned fact scan in plan"))
    assert(factScan.partitionFilters.exists(_.toString.contains("dynamicpruning")),
      s"no dynamicpruning subquery in PartitionFilters: ${factScan.partitionFilters}")
    val partsRead = factScan.metrics("numPartitions").value
    assert(partsRead == pickedDays.size,
      s"DPP should read exactly ${pickedDays.size} day dirs, read $partsRead of ${allDays.length}")
  }

  test("AQE skew-join split fires on a planted-skew join, result unchanged") {
    // Convoy's scaladoc claims hot buckets are handled by BOTH its own
    // triangle-split AND AQE's skew-join split; the triangle half is
    // property-tested (GeoSpec), this pins the AQE half (verdict r8 ask
    // #6): a sort-merge join whose left side has one key holding ~100×
    // the median partition's rows must come out of adaptive planning as
    // `isSkewJoin = true` — OptimizeSkewedJoin split the hot partition
    // into PartialReducer slices — and the join result must equal the
    // plain key-grouped expectation, since the split duplicates the
    // matching right side rather than re-keying anything.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val overrides = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val prev = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // Hot key 0: 60k left rows; 40 cold keys with 50 rows each. Right:
      // 3 rows per key, so the expected join count is closed-form. The
      // downstream aggregate RE-KEYS (lv % 10, the Convoy shape: join on
      // bucket, count on the pair) — grouping on the join key itself would
      // let the aggregate reuse the join's hash partitioning, and
      // OptimizeSkewedJoin declines any split that breaks a required
      // co-partitioning.
      val left = spark.range(60000).select(lit(0L).as("k"), $"id".as("lv"))
        .unionAll(spark.range(40L * 50).select(
          ($"id" % 40 + 1).as("k"), $"id".as("lv")))
      val right = spark.range(41L * 3).select(($"id" % 41).as("k"), $"id".as("rv"))
      val q = left.join(right, Seq("k"))
        .groupBy(($"lv" % 10).as("b")).agg(count(lit(1)).as("n"))
      // collect q ITSELF (`.as[...]` would wrap a fresh QueryExecution and
      // leave q's adaptive plan unexecuted / unfinalized)
      val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // per lv%10 bucket: hot 60000/10 × 3 right rows + cold 2000/10 × 3
      val want = (0L until 10L).map(_ -> (6000L * 3 + 200L * 3)).toMap
      assert(got == want, s"skew-split join changed the result: " +
        s"diff=${(want.toSet -- got.toSet).take(3)}${(got.toSet -- want.toSet).take(3)}")

      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
      def skewJoins(p: SparkPlan): Seq[Boolean] = p match {
        case a: AdaptiveSparkPlanExec => skewJoins(a.executedPlan)
        case s: QueryStageExec => skewJoins(s.plan)
        case j: SortMergeJoinExec => j.isSkewJoin +: j.children.flatMap(skewJoins)
        case j: ShuffledHashJoinExec => j.isSkewJoin +: j.children.flatMap(skewJoins)
        case o => o.children.flatMap(skewJoins)
      }
      val flags = skewJoins(q.queryExecution.executedPlan)
      assert(flags.nonEmpty, "no shuffled join in the adaptive plan")
      assert(flags.contains(true),
        s"OptimizeSkewedJoin did not split the planted hot partition; " +
        s"executed plan:\n${q.queryExecution.executedPlan}")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("window-family keys are single-shuffle plans") {
    // The "one shuffle per logical step, on the highest-useful-cardinality
    // key" claim, pinned: the change-detection/as-of/latest family must
    // plan exactly ONE hash exchange (the user_id window shuffle) — lead/
    // lag/rank all reuse it — plus only the final presentation sort. A
    // refactor that sneaks in a second keyed shuffle still passes value
    // checks; this is what fails.
    for (key <- Seq("q_scd2", "q_join_asof_tol", "q_dedup_latest")) {
      val plan = SparkEntry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges == 1,
        s"$key: expected exactly 1 hash exchange, got $hashExchanges:\n$plan")
    }
  }

  test("q_events_streak is a single-shuffle plan: both windows + both aggs reuse hash(user_id)") {
    // The gaps-and-islands claim pinned as plan shape: the user_id window,
    // the (user_id, event_type) window, the island aggregate, and the
    // final (user, type) aggregate must all ride ONE hash exchange —
    // hash(user_id) satisfies every later clustering requirement. A
    // refactor that reorders the windows or groups by a non-prefix key
    // would add a second exchange and still pass value checks.
    val plan = SparkEntry.queries("q_events_streak")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"q_events_streak: expected exactly 1 hash exchange, got $hashExchanges:\n$plan")
  }

  test("trajectory fold keys are single-shuffle plans: window/arrays + aggs reuse hash(user_id)") {
    // q_mine_cep's array build + fold and q_traj_trips' window + both trip
    // aggs must all ride ONE hash(user_id) exchange — hashpartitioning on
    // user_id satisfies the (user_id, tid) clustering too. A refactor that
    // re-keys between the window and the aggs would add a shuffle and
    // still pass value checks; this is what fails.
    for (key <- Seq("q_mine_cep", "q_traj_trips")) {
      val plan = SparkEntry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges == 1,
        s"$key: expected exactly 1 hash exchange, got $hashExchanges:\n$plan")
    }
  }

  test("q_traj_heading: one user window + one 8-row sector agg, nothing else keyed") {
    val plan = SparkEntry.queries("q_traj_heading")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 2,
      s"q_traj_heading: expected 2 hash exchanges (user window + sector agg), got $hashExchanges:\n$plan")
  }

  test("q_cap_domain rides one source-keyed window exchange into the lang agg") {
    // The capping rank must shuffle ONCE on the capping key (source); the
    // only other hash exchange is the final lang rollup. A refactor that
    // re-sorts globally or re-shuffles between rank and filter would add
    // exchanges and still pass value checks.
    val plan = SparkEntry.queries("q_cap_domain")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 2,
      s"q_cap_domain: expected 2 hash exchanges (source window + lang agg), got $hashExchanges:\n$plan")
    // The rank-≤-10 filter must push into a partial WindowGroupLimit: each
    // map task ships at most 10 rows per source into the window shuffle —
    // the property that makes a per-domain cap cheap at 100 TB.
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"q_cap_domain: cap not pushed map-side as a partial WindowGroupLimit:\n$plan")
  }

  test("round-11 additions hold their pinned exchange budgets") {
    // Same discipline as the flagship pins: the plan shape IS the 100 TB
    // contract. acf/ewma ride ONE hour hash-agg + the declared
    // time-bounded single-partition window/bounds step (grid rows are one
    // per hour — never data-sized); cusum is the (type,h) agg + the
    // type-window exchange; polygon is a pure scan-side predicate into one
    // agg; winsorize is the two type-keyed aggs with the fence row set
    // BROADCAST back (the fact scan must never reshuffle).
    // allowedBnlj > 0 is for keys that BROADCAST a tiny stat/dimension
    // frame through a declared cross join (the q_mine_pairs scalar
    // pattern: one-row tie/stat frames, the ≤|types| distinct-type set) —
    // those plan as BroadcastNestedLoopJoin by construction and are
    // bounded by the broadcast side's size, never data-sized.
    def shape(key: String, allowedBnlj: Int = 0): (Int, Int, Boolean) = {
      val plan = SparkEntry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$key: cartesian product leaked into the plan:\n$plan")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(bnlj == allowedBnlj,
        s"$key: $bnlj nested-loop joins (declared $allowedBnlj):\n$plan")
      ("Exchange hashpartitioning".r.findAllIn(plan).size,
       "Exchange SinglePartition".r.findAllIn(plan).size,
       plan.contains("BroadcastHashJoin"))
    }
    assert(shape("q_time_acf") == ((1, 1, true)))
    assert(shape("q_time_ewma") == ((1, 1, true)))
    assert(shape("q_time_xcorr") == ((1, 1, true)))
    // the nonparametric stat keys: ONE data-sized hash agg (bin or
    // (h,type) keyed), then only grid-sized single-partition steps
    assert(shape("q_stat_ks") == ((1, 1, false)))
    // kruskal re-derives the binTot subtree for the tie term, so the
    // ≤1000-bin frame re-exchanges — only the first (bin,type) agg is
    // data-sized
    assert(shape("q_stat_kruskal", allowedBnlj = 1) == ((6, 3, true)))
    assert(shape("q_stat_mwu") == ((1, 1, false)))
    // psi: the broadcast 1-row hour-midpoint frame is the declared BNLJ
    // (chisq's median pattern); one data-sized (type,bin) agg, then
    // type-keyed window + final agg on the ≤5·1000-bin frame
    assert(shape("q_stat_psi", allowedBnlj = 1) == ((2, 1, false)))
    // zorder: scan-side integer projection into the bucket agg (the
    // distinct-cells count adds the second, still grid-keyed, exchange)
    assert(shape("q_geo_zorder") == ((2, 0, false)))
    // rrf: the 10-row probe broadcast is the declared BNLJ (brute-force
    // probe scoring is linear, 10·N); both rank windows and the fused
    // top-k ride ONE probe-keyed exchange — a per-list self-join would
    // add a second scoring pass and more exchanges
    assert(shape("q_sim_rrf", allowedBnlj = 1) == ((1, 0, false)))
    // spearman: the (h,type) agg + the grid×types broadcast expansion, the
    // per-type rank windows, the hour-keyed pair join and the pair agg —
    // all but the first are grid-sized
    assert(shape("q_stat_spearman", allowedBnlj = 1) == ((2, 1, true)))
    // decomp adds the h24 aggs (2 hash) atop the substrate's bounds agg
    // AND the global-order trend window (2 time-bounded singles)
    assert(shape("q_time_decomp") == ((2, 2, true)))
    assert(shape("q_time_cusum") == ((2, 0, false)))
    assert(shape("q_geo_polygon") == ((1, 0, false)))
    assert(shape("q_winsorize") == ((2, 0, true)))
  }

  test("round-12 session-3 additions hold their pinned exchange budgets") {
    def shape(key: String, allowedBnlj: Int = 0): (Int, Int, Boolean) = {
      val plan = SparkEntry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$key: cartesian product leaked into the plan:\n$plan")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(bnlj == allowedBnlj,
        s"$key: $bnlj nested-loop joins (declared $allowedBnlj):\n$plan")
      ("Exchange hashpartitioning".r.findAllIn(plan).size,
       "Exchange SinglePartition".r.findAllIn(plan).size,
       plan.contains("BroadcastHashJoin"))
    }
    // iat: the (user,type) gap window + the type agg — two keyed
    // exchanges, the final orderBy is presentation (rangepartitioning)
    assert(shape("q_time_iat") == ((2, 0, false)))
    // skew: ONE fact scan per relation — the key-count hash agg, then a
    // 1-row reduce (TopKPairs + power sums ride the same agg); the
    // round-12 rewrite collapsed 12 exchanges / 9 BNLJ to this
    assert(shape("q_audit_skew") == ((3, 3, false)))
    // confusion: ONE fact scan into the bin agg; the 9-row threshold
    // frame is the declared bounded BNLJ (both sides generated/range-
    // sized); totals ride windows, never a second scan
    assert(shape("q_ml_confusion", allowedBnlj = 1) == ((1, 2, false)))
    // burst: the (h,type) substrate agg (re-derived for bounds/types —
    // the spearman substrate pattern) + the grid-sized (type,bid) island
    // agg; grid×types broadcast expansions are the two declared BNLJs
    assert(shape("q_time_burst", allowedBnlj = 2) == ((4, 2, true)))
    // moran: cell agg + neighbor agg, then two 1-row reduces over the
    // 648-cell frame; lattice/grid joins broadcast
    assert(shape("q_geo_moran") == ((2, 2, true)))
    // closeness: the per-(src,dist) and per-src aggs over the BFS
    // output — ring rounds themselves are equi-join plans by
    // construction (BfsSpec covers the operator)
    assert(shape("q_graph_closeness") == ((2, 0, false)))
    // lisa shares moran's substrate aggs; the 648-row stat windows are
    // single-partition by design
    assert(shape("q_geo_lisa") == ((2, 2, true)))
    // diameter reads the memoized all-pairs BFS checkpoint — only its
    // own vertex-sized ecc agg + the 1-row reduce appear here
    assert(shape("q_graph_diameter") == ((1, 1, false)))
    // cdc: the HOF chunker is shuffle-FREE — both exchanges are the
    // final source agg (count-distinct expand), nothing upstream
    assert(shape("q_text_cdc") == ((2, 0, false)))
    // mk: the (day,h24) substrate agg + the season-keyed pair join,
    // day-grid bounds are the two singles
    assert(shape("q_time_mk") == ((2, 2, true)))
    // ratelimit: ONE user-keyed exchange — the fold itself is codegen
    assert(shape("q_events_ratelimit") == ((1, 0, false)))
  }

  test("round-12 session-4 additions hold their pinned exchange budgets") {
    def shape(key: String, allowedBnlj: Int = 0,
              session: org.apache.spark.sql.SparkSession = spark): (Int, Int, Boolean) = {
      val plan = SparkEntry.queries(key)(session, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$key: cartesian product leaked into the plan:\n$plan")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(bnlj == allowedBnlj,
        s"$key: $bnlj nested-loop joins (declared $allowedBnlj):\n$plan")
      ("Exchange hashpartitioning".r.findAllIn(plan).size,
       "Exchange SinglePartition".r.findAllIn(plan).size,
       plan.contains("BroadcastHashJoin"))
    }
    // gini: orders custkey agg + per-segment window; customer broadcast
    assert(shape("q_stat_gini") == ((2, 0, true)))
    // periodogram: the grid agg + the 4-period reduce; grid stats broadcast
    assert(shape("q_time_periodogram") == ((1, 1, true)))
    // auc / calibration: ONE fact scan into the bin agg + the 1-row /
    // windowed reduce — the confusion single-scan discipline
    assert(shape("q_ml_auc") == ((1, 1, false)))
    assert(shape("q_ml_calibration") == ((1, 1, false)))
    // ndcg: one user-keyed exchange serves the window AND the per-user agg
    assert(shape("q_ml_ndcg") == ((1, 0, false)))
    // qq: the 2-cohort percentile agg + the 9-row decile pivot
    assert(shape("q_stat_qq") == ((2, 0, false)))
    // readability: one (source) hash agg over the token explode
    assert(shape("q_text_readability") == ((1, 0, false)))
    // recip: reads the memoized lattice-bounded edge checkpoint — only the
    // 1-row reduce appears; the self-transpose join broadcasts
    assert(shape("q_graph_recip") == ((0, 1, true)))
    // sax: (type,h24) agg + the string fold agg; the types×24 lattice
    // cross is the declared bounded BNLJ
    assert(shape("q_time_sax", allowedBnlj = 1) == ((2, 0, true)))
    // attr: the (lt,ft) pair frame is checkpointed (one fact scan at
    // materialization); both credit views re-agg the tiny frame
    assert(shape("q_events_attr") == ((2, 0, false)))
    // pmi: bigram agg over ONE visible scan (unigram frame checkpointed),
    // vocab joins broadcast, nb rides the single-partition window
    assert(shape("q_text_pmi") == ((2, 1, true)))
    // effect: the welch two-sided substrate shape (a/b branches of the
    // type agg) + the declared |types|² theta BNLJ
    assert(shape("q_stat_effect", allowedBnlj = 1) == ((2, 0, false)))
    // lomb: ONE fact agg serves all four periods; the 1-row min(ts)
    // stats cross join is the declared BNLJ
    assert(shape("q_time_lomb", allowedBnlj = 1) == ((1, 1, false)))
    // friedman: (type,h24) agg + distinct-types + lattice join + per-type
    // agg; the types×24 lattice cross is the declared BNLJ
    assert(shape("q_stat_friedman", allowedBnlj = 1) == ((4, 1, true)))
    // runs: grid agg + 1-row median cross (declared BNLJ); the ordered
    // runs pass and final reduce ride the TIME-BOUNDED grid singles
    assert(shape("q_time_runs", allowedBnlj = 1) == ((2, 2, true)))
    // wilcoxon: (hour) diff agg + tie agg; global rank window + 1-row
    // reduce are the bounded singles; 1-row tie cross is the BNLJ
    assert(shape("q_stat_wilcoxon", allowedBnlj = 1) == ((3, 2, false)))
    // richclub at scale: all seven exchanges are vertex/edge-bounded
    // (degree agg, two endpoint joins, two k-sweep aggs, final join) — the
    // pair-set build is the memoized checkpoint. A fresh session inside
    // the forced scope builds that memo as it is above the budget.
    assert(operators.Endgame.distributed(
      shape("q_graph_richclub", session = spark.newSession())) == ((7, 0, false)))
    // richclub below the budget: the pair set is the driver-resident memo,
    // whose exact size keeps the degree and k frames' estimates small —
    // every join broadcasts, and the five exchanges left are the
    // vertex-bounded aggregates (the degree agg, reused across its three
    // uses, and the two k-sweep aggs)
    assert(shape("q_graph_richclub") == ((5, 0, true)))
    // every plan above reads the fact table at most once per declared scan
    Seq("q_events_attr" -> 0, "q_text_pmi" -> 1).foreach { case (k, n) =>
      val plan = SparkEntry.queries(k)(spark, sf)
        .queryExecution.executedPlan.toString
      assert("Scan parquet".r.findAllIn(plan).size == n,
        s"$k: expected $n visible parquet scans")
    }
  }

  test("q_dedup_substring joins on the shingle key only — no pair explosion, no nested loop") {
    // The inverted-index claim as plan shape: every join is an equi hash
    // or sort-merge join (shingle / doc_id keys); a naive all-pairs span
    // comparison would surface as CartesianProduct/BroadcastNestedLoop.
    val plan = SparkEntry.queries("q_dedup_substring")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"q_dedup_substring: pairwise join leaked into the plan:\n$plan")
    assert(plan.contains("posexplode") || plan.contains("Generate"),
      s"q_dedup_substring: positional shingle generator missing:\n$plan")
  }

  test("mining and link-prediction joins stay equi-keyed: no cartesian, top-k stays a heap") {
    // The inverted-index/basket claims as plan shape: every join in the
    // basket self-join, the two-hop neighbor join, and the FK audit must
    // be an equi hash/sort-merge join — a naive formulation would surface
    // as CartesianProduct/BroadcastNestedLoop. q_graph_linkpred's top-20
    // must additionally plan as TakeOrderedAndProject, not a global sort.
    // q_mine_pairs carries exactly ONE nested-loop join by design: the
    // broadcast of the one-row N_orders scalar (same pattern as
    // q_text_lmscore's vocab scalar) — anything beyond that is a leak.
    for ((key, allowedBnlj) <- Seq("q_mine_pairs" -> 1, "q_graph_linkpred" -> 0,
                                   "q_audit_fk" -> 0)) {
      val plan = SparkEntry.queries(key)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$key: cartesian product leaked into the plan:\n$plan")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(bnlj <= allowedBnlj,
        s"$key: $bnlj nested-loop joins (allowed $allowedBnlj):\n$plan")
    }
    val lp = SparkEntry.queries("q_graph_linkpred")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(lp.contains("TakeOrderedAndProject"),
      s"q_graph_linkpred: top-20 must be a per-partition heap:\n$lp")
  }

  test("q_text_lmscore: only the vocab scalar is hint-broadcast; model joins degrade to shuffles") {
    // At fixture scale the optimizer rightly auto-broadcasts the small
    // c2/c1 model tables — that is stats-driven and reverses itself at
    // corpus scale. What must hold at ANY scale is the explicit part:
    // V (one row) carries the only broadcast() HINT, and with
    // auto-broadcast off (large-stats stand-in) the model joins fall back
    // to content-keyed shuffles instead of an OOM-bound forced broadcast.
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = SparkEntry.queries("q_text_lmscore")(spark, sf)
        .queryExecution.executedPlan.toString
      val broadcasts = "BroadcastExchange".r.findAllIn(plan).size
      assert(broadcasts == 1,
        s"q_text_lmscore: expected exactly 1 broadcast (the hinted vocab scalar), got $broadcasts:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2,
        s"q_text_lmscore: model joins must shuffle on content keys:\n$plan")
    }
  }

  test("m_text_countmin carries partial aggregation: sketches merge map-side") {
    // The fixed-state claim: the CMS aggregate must plan partial + final
    // (ObjectHashAggregate pairs), so each map task ships ONE depth×width
    // buffer, never raw terms, through the single-partition exchange.
    val plan = SparkEntry.queries("m_text_countmin")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"m_text_countmin: expected partial+final ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_cms_counts") || plan.contains("cms_counts"),
      s"m_text_countmin: cms_counts aggregate missing from plan:\n$plan")
  }

  test("TPC-H shapes: Q21 plans semi+anti joins, Q16 anti join + top-k, Q5 partial agg") {
    val p21 = planOf("q_sql_tpch_q21")
    assert(p21.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p21")
    assert(p21.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$p21")
    assert(p21.contains("TakeOrderedAndProject"), s"LIMIT must not global-sort:\n$p21")
    val p16 = planOf("q_sql_tpch_q16")
    assert(p16.contains("LeftAnti"), s"NOT IN must plan as an anti join:\n$p16")
    assert(p16.contains("TakeOrderedAndProject"), s"LIMIT must not global-sort:\n$p16")
    assert(p16.contains("distinct"), s"COUNT(DISTINCT) must two-phase:\n$p16")
    val p5 = planOf("q_sql_tpch_q5")
    assert(p5.contains("partial_"), s"Q5 must keep map-side partial aggregation:\n$p5")
  }

  test("TPC-H Q17 de-correlates the scalar subquery; Q7/Q8 broadcast the dims") {
    // Q17's per-part average threshold must become an aggregate + equi-join
    // on the part key (one extra keyed shuffle over lineitem at 100 TB) —
    // never a per-outer-row re-scan (nested-loop) of the fact table.
    val p17 = planOf("q_sql_tpch_q17")
    assert(p17.contains("partial_avg"),
      s"Q17's correlated AVG must plan as a map-side-partial aggregate:\n$p17")
    assert(!p17.contains("BroadcastNestedLoopJoin") && !p17.contains("CartesianProduct"),
      s"Q17 must not re-scan lineitem per row:\n$p17")
    // Q7 joins nation twice under aliases; both sides (and the other dims)
    // must broadcast — the fact chain is the only thing that shuffles.
    val p7 = planOf("q_sql_tpch_q7")
    assert("BroadcastExchange".r.findAllIn(p7).size >= 2,
      s"Q7 must broadcast both nation aliases:\n$p7")
    val p8 = planOf("q_sql_tpch_q8")
    assert(p8.contains("partial_"), s"Q8 must keep map-side partial aggregation:\n$p8")
    // Q19's OR-of-ANDs predicate shares the partkey equi-key across all
    // brackets — Catalyst must extract it into a hash join and leave the
    // brackets as a residual filter, never fall back to a nested loop.
    val p19 = planOf("q_sql_tpch_q19")
    assert(!p19.contains("BroadcastNestedLoopJoin") && !p19.contains("CartesianProduct"),
      s"Q19 must join on the common partkey, not nested-loop:\n$p19")
    // Q4's EXISTS is a left-semi join on the fact's own key.
    val p4 = planOf("q_sql_tpch_q4")
    assert(p4.contains("LeftSemi"), s"Q4's EXISTS must plan as a semi join:\n$p4")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // The injected-runtime-filter story at 100 TB: a selective dimension
    // filter (orders with one priority) should not force a full lineitem
    // shuffle — Spark's runtime bloom filter builds on the filtered dim
    // keys and drops non-matching fact rows AT THE SCAN, before the
    // exchange. Thresholds are sized for clusters; lower them so the
    // optimizer fires on test data, then assert the filter is in the plan
    // and the result is unchanged.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val li = Tables(spark, sf, "lineitem")
    val sel = Tables(spark, sf, "orders").filter($"o_orderpriority" === "3-MEDIUM")
    def joined = li.join(sel, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    val plainRows = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    withSQLConf(confs: _*) {
      val q = joined
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") || optimized.contains("BloomFilter"),
        s"runtime bloom filter not injected:\n$optimized")
      val rows = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == plainRows, "bloom filter must never change results")
    }
  }

  test("z-order clustering: a 2-D box scan survives fewer rows than a 1-D sort") {
    // Same points written twice with small row groups: sorted by lat only
    // vs sorted by the Morton key of quantized (lat, lon). Under a 10°×10°
    // box predicate the scan's output rows ≈ rows in row groups whose
    // min/max stats survive pushdown — the z-ordered layout must beat the
    // 1-D sort (its groups are 2-D tiles, so BOTH bounds prune), and both
    // must beat reading everything. AQE off so the scan node is reachable.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    // 40k deterministic points (same derivation as the events grid), laid
    // out as 64 range-partitioned files per ordering — each file's footer
    // stats are the prune unit, standing in for the row groups of a 100 TB
    // file. Box chosen inside one 1024-quadrant of the quantized space so
    // the z-curve locality is representative, not the corner worst case.
    val pts = spark.range(40000).toDF("event_id")
      .withColumn("lat", (($"event_id" * 37) % 1700).cast("double") / 10.0 - 85.0)
      .withColumn("lon", (($"event_id" * 131) % 3600).cast("double") / 10.0 - 180.0)
    val total = pts.count()
    pts.repartitionByRange(64, $"lat").sortWithinPartitions($"lat")
      .write.mode("overwrite").parquet(s"$dir/by_lat")
    // ×10 quantization is EXACT for this 0.1°-lattice data (qlat ∈ [0,1700),
    // qlon ∈ [0,3600) — 12 bits each); finer would only dilute locality.
    val z = graft.functions.ZOrderKey.zorderKey(
      floor(($"lat" + 85.0) * 10).cast("long"),
      floor(($"lon" + 180.0) * 10).cast("long"))
    pts.withColumn("z", z)
      .repartitionByRange(64, $"z").sortWithinPartitions($"z").drop("z")
      .write.mode("overwrite").parquet(s"$dir/by_z")

    def scannedRows(path: String): Long = {
      // 9°×9° box with both quantized ranges inside one 256-aligned Morton
      // tile (qlat 300-390, qlon 300-390 ⊂ [256, 512)): representative
      // z-locality, not the 4-quadrant corner worst case.
      val q = spark.read.parquet(path)
        .filter($"lat".between(-55.0, -46.0) && $"lon".between(-150.0, -141.0))
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail(s"no scan node for $path"))
      scan.metrics("numOutputRows").value
    }
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val latRows = scannedRows(s"$dir/by_lat")
      val zRows = scannedRows(s"$dir/by_z")
      assert(zRows < latRows,
        s"z-order must out-prune the 1-D sort: z=$zRows lat=$latRows total=$total")
      assert(latRows < total, s"1-D sort must prune at all: lat=$latRows total=$total")
    }
  }

  test("grid-cell partition layout prunes partition directories") {
    // The 100 TB spatial layout claim (Geo/AnnIVF scaladoc), demonstrated:
    // events written partitionBy(cell) — the derived 30° grid key — then a
    // bbox query carrying the derived cell-set predicate. The cell conjunct
    // must land in PartitionFilters (directory pruning, no file I/O at all
    // for other cells), the lat/lon bounds in PushedFilters (row-group
    // skipping within the kept cells), and the partitions-read metric must
    // equal the box's cell count, not the table's. AQE off so the
    // FileSourceScanExec and its metrics are directly reachable.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cellpart").toString
    def cellOf(lat: org.apache.spark.sql.Column,
               lon: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (floor(lat / 30.0) * lit(100L) + floor(lon / 30.0)).cast("long")
    val pts = Tables(spark, sf, "events")
      .withColumn("lat", (($"event_id" * 37) % 1700).cast("double") / 10.0 - 85.0)
      .withColumn("lon", (($"event_id" * 131) % 3600).cast("double") / 10.0 - 180.0)
      .select($"event_id", $"user_id", $"lat", $"lon")
      .withColumn("cell", cellOf($"lat", $"lon"))
    pts.write.partitionBy("cell").mode("overwrite").parquet(s"$dir/pts")

    val part = spark.read.parquet(s"$dir/pts")
    val nCellsTotal = part.select($"cell").distinct().count()
    // bbox lat ∈ [5, 35], lon ∈ [-10, 40] spans 30° cells {0,1}×{-1,0,1}.
    val (latLo, latHi, lonLo, lonHi) = (5.0, 35.0, -10.0, 40.0)
    val boxCells = for {
      cy <- math.floor(latLo / 30).toLong to math.floor(latHi / 30).toLong
      cx <- math.floor(lonLo / 30).toLong to math.floor(lonHi / 30).toLong
    } yield cy * 100L + cx
    assert(boxCells.size == 6)

    withSQLConf("spark.sql.adaptive.enabled" -> "false",
                "spark.sql.maxMetadataStringLength" -> "2000") {
      val q = part.filter($"cell".isin(boxCells: _*) &&
        $"lat".between(latLo, latHi) && $"lon".between(lonLo, lonHi))
      val expected = pts.filter(
        $"lat".between(latLo, latHi) && $"lon".between(lonLo, lonHi)).count()
      // collect() (not count()) so THIS dataset's queryExecution runs and
      // its scan-node metrics populate — count() plans a separate execution.
      assert(q.collect().length.toLong == expected,
        "cell-set predicate must not change the bbox result")

      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in plan"))
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"cell conjunct missing from PartitionFilters: ${scan.partitionFilters}")
      val planStr = q.queryExecution.executedPlan.toString
      val pushed = planStr.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(pushed.contains("GreaterThanOrEqual(lat") && pushed.contains("LessThanOrEqual(lat"),
        s"lat bounds must still reach PushedFilters within kept cells: $pushed")
      val partsRead = scan.metrics("numPartitions").value
      assert(partsRead == boxCells.size,
        s"expected ${boxCells.size} partition dirs read, got $partsRead of $nCellsTotal")
      assert(partsRead < nCellsTotal,
        s"pruning must skip directories: read $partsRead of $nCellsTotal")
    }
  }

  private def withSQLConf(confs: (String, String)*)(f: => Unit): Unit = {
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("SimHash fingerprints stay inside whole-stage codegen") {
    // The fingerprint stage is explode → xxhash64 → 64-slot ±1 hash agg —
    // all builtins. A regression to a typed .map (the round-5 shape) shows
    // up as Serialize/DeserializeToObject nodes and a codegen break.
    val df = graft.operators.SimHash.fingerprints(spark, Tables(spark, sf, "documents"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SerializeFromObject") && !p.contains("MapElements"),
      s"fingerprints fell back to typed JVM lambdas:\n$p")
    val aggs = p.linesIterator.filter(_.contains("HashAggregate")).toList
    assert(aggs.nonEmpty, s"expected hash aggregation:\n$p")
    assert(aggs.exists(_.contains("*(")),
      s"bit-vote aggregate sits outside codegen:\n${aggs.mkString("\n")}")
  }

  test("bloom semi-join reduction: predicate under the join, result exact, fpp bounded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val urgent = Tables(spark, sf, "orders").filter($"o_orderpriority" === "1-URGENT")
    val li = Tables(spark, sf, "lineitem")
    val reduced = graft.operators.BloomSemiJoin
      .semi(spark, li, "l_orderkey", urgent, "o_orderkey")
      .select($"l_orderkey", $"l_linenumber")
    // 1. The bloom predicate must sit in a Filter BELOW the semi join —
    //    that placement is the whole point (fact rows die pre-shuffle).
    val plan = reduced.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toVector
    val joinIdx = lines.indexWhere(l => l.contains("SemiJoin") || l.contains("Semi"))
    val bloomIdx = lines.indexWhere(_.contains("bloom_might_contain"))
    assert(joinIdx >= 0, s"no semi join in plan:\n$plan")
    assert(bloomIdx > joinIdx,
      s"bloom predicate not under the semi join (join@$joinIdx, bloom@$bloomIdx):\n$plan")
    // 2. Exact equivalence with the plain semi join at the row-set level —
    //    bloom false positives must all die in the verifying join.
    val plain = li.join(urgent.select($"o_orderkey".as("l_orderkey")),
        Seq("l_orderkey"), "left_semi")
      .select($"l_orderkey", $"l_linenumber")
    assert(reduced.exceptAll(plain).isEmpty && plain.exceptAll(reduced).isEmpty,
      "bloom-reduced semi join diverges from the plain semi join")
    // 3. The probe-only path (no verifying join) keeps every true match and
    //    admits few false positives: measured fpp must stay near the 1%
    //    target (×10 slack — the guarantee is probabilistic).
    val trueKeys = plain.select($"l_orderkey").distinct().count()
    val probed = graft.operators.BloomSemiJoin
      .probeOnly(spark, li, "l_orderkey", urgent, "o_orderkey")
      .select($"l_orderkey").distinct().count()
    val allKeys = li.select($"l_orderkey").distinct().count()
    assert(probed >= trueKeys, "bloom dropped a true match (false negative!)")
    val fp = (probed - trueKeys).toDouble / math.max(1, allKeys - trueKeys)
    assert(fp <= 0.1, f"measured fpp $fp%.4f exceeds 10× the 0.01 target")
  }

  test("shuffle budget: flagship plans keep their minimal exchange counts") {
    // "Minimize shuffles" as an enforced regression guard, not prose: the
    // exchange count of each flagship plan is pinned at its minimal value
    // (counted through AQE's QueryStage wrapping, broadcast exchanges
    // excluded — a broadcast is the shuffle we AVOIDED). A refactor that
    // sneaks in an extra repartition/sort/agg exchange fails here with
    // the plan attached.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def countShuffles(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val into = p match {
        case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
        case q: QueryStageExec => countShuffles(q.plan)
        case _ => p.children.map(countShuffles).sum
      }
      self + into
    }
    val budget = Map(
      "q_scan_project" -> 1, // global sort only
      "q_filter_pred" -> 1, // agg/sort
      "q_agg_pricing" -> 2, // hash agg + global sort
      "q_join_broadcast" -> 2, // agg + sort; the JOIN itself moves no fact rows
      "q_win_rank" -> 2, // window partition + final sort
      "q_geo_grid" -> 1, // cell agg; top-20 is TakeOrdered, no sort exchange
      "q_topk" -> 1, // custkey agg; TakeOrdered
      "q_topk_heap" -> 2, // heap agg + output sort (bounded state, not a window sort)
      "q_geo_join" -> 3, // cell-bucket equi-join rides a BROADCAST; distinct-agg + sort
      "q_text_tokens" -> 2, // term agg with distinct doc_id (two-phase)
      // round-16 source round-trip keys: the read-back text scan feeds ONE
      // hash agg (+ its distinct sub-agg) + the tiny output sort — a text
      // source that slipped an inference pass or repartition would fail
      "q_src_csv" -> 3, // partial/final agg with countDistinct (two-phase) + sort
      "q_src_json" -> 3)
    for ((key, want) <- budget) {
      val df = SparkEntry.queries(key)(spark, sf)
      df.collect()
      val got = countShuffles(df.queryExecution.executedPlan)
      assert(got == want,
        s"$key: $got shuffle exchanges, pinned $want —\n" +
          df.queryExecution.executedPlan.toString)
    }
  }

  test("q_geo_join: equi-join on cell buckets, never cartesian/BNL") {
    // The two-relation ε-distance join must reach the exact verify through
    // hash-joinable (cell_lat, cell_lon) candidate buckets — a
    // BroadcastNestedLoopJoin or CartesianProduct here means the grid
    // scheme degenerated to all-pairs, the one shape that cannot scale.
    val df = SparkEntry.queries("q_geo_join")(spark, sf)
    assert(df.count() > 0, "fixture should produce at least one depot match")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"ε-distance join degenerated to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"),
      s"expected a hash/merge equi-join on the cell keys:\n$p")
  }

  test("q_geo_st_join: equi-join on (cell, time-bucket) keys, never cartesian/BNL") {
    // The spatio-temporal join's 3×3×3 candidate explode must stay a hash
    // equi-join on the composite bucket key — degeneration to all-pairs
    // is the one shape the time axis cannot rescue at scale.
    val df = SparkEntry.queries("q_geo_st_join")(spark, sf)
    assert(df.count() > 0, "fixture should produce at least one co-located visit")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"spatio-temporal join degenerated to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"),
      s"expected a hash/merge equi-join on the bucket keys:\n$p")
  }

  test("q_geo_knn_join: every ring round is a cell-keyed equi-join, never cartesian/BNL") {
    // The kNN join's candidate generation must stay hash-joinable on the
    // (cell_lat, cell_lon) keys in EVERY ring round — the operator records
    // each round's pre-checkpoint executed plan for exactly this check
    // (the exact-fallback round, a declared cross join, is excluded there
    // and must not be needed on the fixture). Round 19: the declared key
    // takes the driver-local endgame at spec SF, so the ring rounds are
    // driven explicitly in the forced distributed scope over an equivalent
    // left/right pair — the distributed path's plan property stays
    // pinned (KnnJoinSpec pins the dual-path row equality).
    val df = SparkEntry.queries("q_geo_knn_join")(spark, sf)
    assert(df.count() > 0)
    import spark.implicits._
    val leftF = Seq((1L, 10.0, 20.0), (2L, 45.0, 90.0), (3L, -30.0, -120.0))
      .toDF("id", "lat", "lon")
    val rightF = (1 to 40).map(i =>
        (i.toLong, (i * 7 % 170) / 2.0 - 42.0, (i * 13 % 360) - 180.0))
      .toDF("rid", "lat", "lon")
    onPath(true)(graft.operators.KnnJoin.knn(leftF, "id", "lat", "lon",
      rightF, "rid", "lat", "lon", k = 3, cellDeg = 10.0).count())
    val plans = graft.operators.KnnJoin.lastRingPlans
    assert(plans.nonEmpty, "at least one ring round must have run")
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"kNN-join ring round degenerated to all-pairs:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
             p.contains("ShuffledHashJoin"),
        s"expected a hash/merge equi-join on the cell keys:\n$p")
    }
  }

  test("bloom memo hits across freshly-constructed value-equal build plans") {
    // q_join_bloom rebuilds the urgent-orders filter per invocation; the
    // memo keys on the CANONICALIZED build plan, so fresh-but-equal plans
    // must share one entry (one build aggregate, one bloom_mc_N temp
    // function) instead of leaking an entry + registration per call.
    import org.apache.spark.sql.functions.col
    val li = Tables(spark, sf, "lineitem")
    def urgent() = Tables(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val before = graft.operators.BloomSemiJoin.memoSizeFor(spark)
    graft.operators.BloomSemiJoin
      .semi(spark, li, "l_orderkey", urgent(), "o_orderkey").count()
    val after1 = graft.operators.BloomSemiJoin.memoSizeFor(spark)
    graft.operators.BloomSemiJoin
      .semi(spark, li, "l_orderkey", urgent(), "o_orderkey").count()
    val after2 = graft.operators.BloomSemiJoin.memoSizeFor(spark)
    assert(after1 - before <= 1, s"first call added ${after1 - before} entries")
    assert(after2 == after1,
      s"second call with a fresh value-equal build plan missed the memo " +
        s"($after1 -> $after2 entries)")
  }

  test("native expressions stay inside whole-stage codegen") {
    // CosineSim / HaversineDist / BrpBuckets implement doGenCode — the
    // queries that use them must show WholeStageCodegen spans, not
    // fallback row-at-a-time projections.
    for (key <- Seq("q_geo_haversine", "q_sim_cosine")) {
      // Codegen spans only appear once AQE finalizes the plan — run it.
      // (q_sim_cosine reads the memoized candidate checkpoint, so its plan
      // may be a plain ExistingRDD scan + codegen'd projection with no AQE
      // wrapper at all — finalization only applies when AQE is present.)
      val df = SparkEntry.queries(key)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("AdaptiveSparkPlan") || p.contains("isFinalPlan=true"),
        s"$key AQE plan not finalized:\n$p")
      // The simpleString tree marks codegen stages with "*(n)" prefixes.
      assert(p.contains("*("), s"$key fell out of codegen:\n$p")
      val proj = p.linesIterator.filter(l =>
        l.contains("haversine_km") || l.contains("cosine_sim")).toList
      // (the AQE string repeats the tree in its "Initial Plan" section
      // without codegen markers — only the final-plan occurrence counts)
      assert(proj.exists(_.contains("*(")),
        s"$key native expression sits outside a codegen span:\n${proj.mkString("\n")}")
    }
  }

  test("round-13 plan fixes hold: lmscore one-scan, peaks/theilsen banded equi-joins") {
    // lmscore: the per-(doc, w1, w2) bigram count frame is checkpointed —
    // the documents parquet scan happens ONCE at checkpoint
    // materialization; the visible plan re-aggregates the checkpoint
    // (0 visible parquet scans, the q_events_attr discipline). The r12
    // shape recomputed the scan+explode three times plus a fourth scan
    // for V and was the suite's slowest key in the driver bench.
    val lm = SparkEntry.queries("q_text_lmscore")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(lm).size == 0,
      s"q_text_lmscore: corpus scan leaked past the checkpoint:\n$lm")
    assert(!lm.contains("BroadcastNestedLoopJoin") ||
           "BroadcastNestedLoopJoin".r.findAllIn(lm).size == 1,
      s"q_text_lmscore: only the hinted 1-row vocab cross may nest:\n$lm")
    // peaks/theilsen: the ±336 range joins are banded onto equi-keys
    // (band = i div 336, probe exploded to the adjacent bands), so they
    // plan as hash equi-joins whose EVALUATED pair count is linear in
    // the grid. A BroadcastNestedLoopJoin here means the band regressed
    // to the pure range predicate that compares all O(n²) pairs before
    // filtering.
    for (k <- Seq("q_time_peaks", "q_time_theilsen")) {
      val p = SparkEntry.queries(k)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"),
        s"$k: range join regressed to a nested loop:\n$p")
    }
  }

  test("round-13 additions hold their pinned exchange budgets") {
    // hw (r14 shape): the hour-bucket hash agg runs once inside the lazy
    // checkpoint (shared by the bounds and gap-fill consumers, so its
    // exchange is not in this plan); the gap-fill is a BROADCAST join of
    // the tiny hour-count frame against the generated grid — the r14 fix
    // for the quadratic element_at gap-fill the hw_decade probe caught —
    // and the only shuffle left is the 1-row bounds reduce. A hash
    // exchange or SMJ appearing here means the gap-fill went data-sized.
    val p = SparkEntry.queries("q_time_hw")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("SortMergeJoin"),
      s"q_time_hw: unexpected join shape:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q_time_hw: gap-fill must broadcast the hour counts:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 0,
      s"q_time_hw: no visible hash exchange expected (hour agg is checkpointed):\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"q_time_hw: expected the single 1-row bounds reduce exchange:\n$p")
  }

  test("round-14 additions hold their plan shapes") {
    // m_time_matrixprofile: the per-type gap-fill is the q_time_hw
    // BROADCAST equi-join (the tiny per-type hour counts against the
    // generated grid), and the STOMP kernel is a codegen'd projection —
    // a SMJ/BNLJ/cartesian here means the gap-fill went data-sized.
    val mp = SparkEntry.queries("m_time_matrixprofile")(spark, sf)
    mp.collect()
    val mpP = mp.queryExecution.executedPlan.toString
    assert(!mpP.contains("CartesianProduct") &&
           !mpP.contains("BroadcastNestedLoopJoin") &&
           !mpP.contains("SortMergeJoin"),
      s"m_time_matrixprofile: unexpected join shape:\n$mpP")
    assert(mpP.contains("BroadcastHashJoin"),
      s"m_time_matrixprofile: gap-fill must broadcast the hour counts:\n$mpP")
    val mpProj = mpP.linesIterator.filter(_.contains("matrix_profile")).toList
    assert(mpProj.exists(_.contains("*(")),
      s"m_time_matrixprofile: kernel fell out of codegen:\n${mpProj.mkString("\n")}")

    // m_ml_iforest: scoring is scan → codegen'd ensemble walk →
    // TakeOrderedAndProject — ZERO shuffle exchanges; any exchange means
    // the top-10 regressed to a global sort or the scoring picked up a
    // join.
    val ifo = SparkEntry.queries("m_ml_iforest")(spark, sf)
    ifo.collect()
    val ifoP = ifo.queryExecution.executedPlan.toString
    assert(ifoP.contains("TakeOrderedAndProject"),
      s"m_ml_iforest: top-10 must be TakeOrderedAndProject:\n$ifoP")
    assert(!ifoP.contains("Exchange"),
      s"m_ml_iforest: scoring plan must not shuffle:\n$ifoP")
    val ifoProj = ifoP.linesIterator.filter(_.contains("iforest_score")).toList
    assert(ifoProj.exists(_.contains("*(")),
      s"m_ml_iforest: forest walk fell out of codegen:\n${ifoProj.mkString("\n")}")

    // q_text_dsir: the B-row log-ratio model joins back with an explicit
    // broadcast hint — an SMJ here means the hint (and with it the
    // shuffle-free scoring side) was lost.
    val ds = SparkEntry.queries("q_text_dsir")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ds.contains("BroadcastHashJoin") && !ds.contains("SortMergeJoin"),
      s"q_text_dsir: model join must broadcast:\n$ds")

    // m_traj_hausdorff's u1 < u2 pair scan against the broadcast track
    // frame IS the declared BroadcastNestedLoopJoin (a theta join moves no
    // data twice); anything heavier (cartesian, SMJ) is a regression.
    // Below the budget the key's main pass runs on the driver, so the
    // pair scan, its above-budget path, is pinned in the forced scope.
    val hd = operators.Endgame.distributed(SparkEntry.queries("m_traj_hausdorff")(spark, sf)
      .queryExecution.executedPlan.toString)
    assert(hd.contains("BroadcastNestedLoopJoin") &&
           !hd.contains("CartesianProduct") && !hd.contains("SortMergeJoin"),
      s"m_traj_hausdorff: pair scan shape regressed:\n$hd")
  }

  test("round-14 session-3 additions hold their plan shapes") {
    // q_traj_predict: the ≤162²-row argmax model must join BACK via a
    // broadcast — an SMJ means the fact side reshuffled on the cell key.
    val pr = planOf("q_traj_predict")
    assert(pr.contains("BroadcastHashJoin") && !pr.contains("SortMergeJoin"),
      s"q_traj_predict: model join must broadcast:\n$pr")

    // q_stat_kendall: day pairs come from the list-explode trick — a
    // SECOND events scan means the pair formation regressed to a fact
    // self-join (two full scans, the spearman anti-pattern).
    val kd = planOf("q_stat_kendall")
    val kdScans = kd.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(kdScans <= 1, // 1 before the checkpoint materializes, 0 after
      s"q_stat_kendall: expected at most 1 events scan, got $kdScans:\n$kd")
    // the one BNLJ is the tiny grid×types expansion (the spearman shape);
    // cartesian or an SMJ on the gap-fill join is a regression
    assert(!kd.contains("CartesianProduct") && !kd.contains("SortMergeJoin"),
      s"q_stat_kendall: pair formation regressed to a physical join:\n$kd")
    assert(kd.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"q_stat_kendall: more than the one grid-expansion BNLJ:\n$kd")

    // q_stat_ad: one fact scan, bin-bounded windows after — no joins of
    // any kind should appear.
    val ad = planOf("q_stat_ad")
    val adScans = ad.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(adScans == 1 && !ad.contains("Join"),
      s"q_stat_ad: expected 1 scan and no joins:\n$ad")

    // m_geo_hull: the kernel is one Project call per GROUP row above the
    // ObjectHashAggregate (collect_list blocks whole-stage codegen there —
    // 15 calls at fixture scale, per-user at any scale, so the stage
    // boundary is irrelevant); the pin is the shape: kernel in a plain
    // projection, no join anywhere, exactly the one user-keyed exchange.
    val huP = planOf("m_geo_hull")
    // the kernel call is folded into the agg's result expressions (the
    // plan string shows only output NAMES there) — the visible pins are
    // the shape: object hash agg, no join, exactly the user exchange +
    // the output-order range exchange
    assert(!huP.contains("Join"), s"m_geo_hull: unexpected join:\n$huP")
    assert(huP.contains("ObjectHashAggregate"),
      s"m_geo_hull: per-user collect must be an object hash agg:\n$huP")
    assert(huP.linesIterator.count(_.contains("Exchange")) == 2,
      s"m_geo_hull: expected user + sort exchanges only:\n$huP")

    // the new grid keys stay join-light: adf/hurst/ljungbox may join the
    // generated grid but never via cartesian/BNLJ
    Seq("q_time_adf", "q_time_hurst", "q_time_ljungbox",
        "q_traj_tortuosity", "q_traj_circvar").foreach { k =>
      val p = planOf(k)
      assert(!p.contains("CartesianProduct") &&
             !p.contains("BroadcastNestedLoopJoin"),
        s"$k: unexpected cartesian/BNLJ:\n$p")
    }
  }

  test("round-15 additions hold their plan shapes") {
    // m_traj_mapmatch: per-user kernel work over the memoized tracks()
    // substrate — NO join anywhere (the road graph is implicit in the
    // lattice), the Viterbi/jitter/recovery columns are projections, and
    // the only exchange is the output-order sort (tracks() is already
    // checkpointed per session by earlier keys; a join or second
    // exchange means the key picked up a data-sized derivation)
    // executed AQE plans print Final AND Initial sections — count shapes
    // on the final section only
    def finalSection(p: String): String =
      p.split("== Initial Plan ==").head
    val mm = SparkEntry.queries("m_traj_mapmatch")(spark, sf)
    mm.collect()
    val mmP = finalSection(mm.queryExecution.executedPlan.toString)
    assert(!mmP.contains("Join"), s"m_traj_mapmatch: unexpected join:\n$mmP")
    assert(mmP.linesIterator.count(_.contains("Exchange")) <= 1,
      s"m_traj_mapmatch: expected at most the sort exchange:\n$mmP")
    assert(mmP.contains("map_match"),
      s"m_traj_mapmatch: kernel projection missing:\n$mmP")

    // the threshold prune's main pass: ONE broadcast pair join whose
    // condition carries the cheap predicate FIRST and the bound second
    // (a pushed filter evaluating before u1<u2 doubles the bound's
    // evaluations — the r15 probe lesson), kernel in a projection above,
    // no re-attach joins (exactly one join in the whole plan)
    val fp = SparkEntry.queries("m_traj_frechet")(spark, sf)
    fp.collect()
    val fpP = finalSection(fp.queryExecution.executedPlan.toString)
    assert(fpP.contains("BroadcastNestedLoopJoin"),
      s"m_traj_frechet: pair scan missing:\n$fpP")
    assert(fpP.linesIterator.count(_.contains("Join")) == 1,
      s"m_traj_frechet: main pass must be single-join (no re-attach):\n$fpP")
    val cond = fpP.linesIterator.find(_.contains("BroadcastNestedLoopJoin")).get
    assert(cond.indexOf("u1") >= 0 && cond.indexOf("ASIN") >= 0 &&
           cond.indexOf("u1") < cond.indexOf("ASIN"),
      s"m_traj_frechet: cheap predicate must precede the bound in the join condition:\n$cond")
    assert(fpP.contains("frechet_km_capped"),
      s"m_traj_frechet: survivors must pay the capped DP:\n$fpP")

    // m_traj_lcss: the same pin, with the match upper bound as the bound
    val lp = SparkEntry.queries("m_traj_lcss")(spark, sf)
    lp.collect()
    val lpP = finalSection(lp.queryExecution.executedPlan.toString)
    assert("BroadcastNestedLoopJoin".r.findAllIn(lpP).size == 1,
      s"m_traj_lcss: main pass must be exactly one pair join:\n$lpP")
    assert(lpP.linesIterator.count(_.contains("Join")) == 1,
      s"m_traj_lcss: main pass must be single-join (no re-attach):\n$lpP")
    val lCond = lpP.linesIterator.find(_.contains("BroadcastNestedLoopJoin")).get
    assert(lCond.indexOf("u1") >= 0 && lCond.indexOf("lcss_ub") >= 0 &&
           lCond.indexOf("u1") < lCond.indexOf("lcss_ub"),
      s"m_traj_lcss: u1 < u2 must precede the match bound in the join condition:\n$lCond")

    // m_traj_hausdorff (its only path is hausdorffPruned): the same pin —
    // one broadcast pair join, u1 < u2 first, then the cell cover, then
    // the capped kernel in its condition (a pushed withColumn+filter form
    // lands the kernel first and doubles its calls; the kernel ahead of
    // the cover would run on every pair). The pair join is the main pass
    // above the budget, pinned in the forced scope; below it (the default
    // path here) the main pass runs on the driver and plans no join.
    val hd = SparkEntry.queries("m_traj_hausdorff")(spark, sf)
    hd.collect()
    val hdP = hd.queryExecution.executedPlan.toString
    assert(!hdP.contains("Join"), s"m_traj_hausdorff: the driver main pass plans no join:\n$hdP")
    val hpP = operators.Endgame.distributed {
      val hp = SparkEntry.queries("m_traj_hausdorff")(spark, sf)
      hp.collect()
      finalSection(hp.queryExecution.executedPlan.toString)
    }
    assert("BroadcastNestedLoopJoin".r.findAllIn(hpP).size == 1,
      s"m_traj_hausdorff: main pass must be exactly one pair join:\n$hpP")
    assert(hpP.linesIterator.count(_.contains("Join")) == 1,
      s"m_traj_hausdorff: main pass must be single-join (no re-attach):\n$hpP")
    val hCond = hpP.linesIterator.find(_.contains("BroadcastNestedLoopJoin")).get
    assert(hCond.indexOf("u1") >= 0 && hCond.indexOf("cell_cover") >= 0 &&
           hCond.indexOf("hausdorff_km_capped") >= 0 &&
           hCond.indexOf("u1") < hCond.indexOf("cell_cover") &&
           hCond.indexOf("cell_cover") < hCond.indexOf("hausdorff_km_capped"),
      s"m_traj_hausdorff: the join condition must run u1 < u2, then the cell cover, " +
        s"then the capped kernel:\n$hCond")
  }

  test("q_graph_triangles broadcasts the driver-resident pair set: no shuffle below its joins") {
    // The triangle joins are the key's above-budget path: below the
    // budget it counts on the driver and plans no join at all. They run
    // here inside Endgame.distributed, after a default-path call has
    // filled the memo, so the co-traveler pair set they read is the one
    // pinned as a LocalRelation under the endgame budget. Its exact size
    // statistics plan both triangle joins as broadcast joins straight
    // over LocalTableScan. A memo held as a checkpoint (size unknown to
    // the planner) plans them as shuffle joins and fails here.
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => p.children.flatMap(nodes)
    })
    SparkEntry.queries("q_graph_triangles")(spark, sf).collect()
    val df = graft.operators.Endgame.distributed {
      val d = SparkEntry.queries("q_graph_triangles")(spark, sf)
      d.collect()
      d
    }
    val plan = df.queryExecution.executedPlan
    val joins = nodes(plan).collect { case j: BroadcastHashJoinExec => j }
    assert(joins.size == 2, s"q_graph_triangles: expected two broadcast triangle joins:\n$plan")
    for (j <- joins) {
      val below = nodes(j).tail
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"q_graph_triangles: shuffle below a triangle join:\n$plan")
      val leaves = below.filter(n => n.children.isEmpty && !n.isInstanceOf[QueryStageExec] &&
        !n.isInstanceOf[ReusedExchangeExec])
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalTableScanExec]),
        s"q_graph_triangles: a triangle join reads other than LocalTableScan:\n$plan")
    }
  }
}
