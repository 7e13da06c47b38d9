package graft

import org.apache.spark.sql.functions._

/** Cross-family validation of the basket-mining keys: MLlib FP-Growth
  * (pattern growth, no candidate generation) must produce EXACTLY the
  * itemsets the join-based A-priori keys and a driver brute force find —
  * two independent algorithms acting as each other's oracle. */
class MiningSpec extends BaseSpec {
  import spark.implicits._

  /** Driver-side brute force: all ≥2-support itemsets of sizes 2 and 3. */
  private def brute(): (Map[(Long, Long), Long], Map[(Long, Long, Long), Long]) = {
    val baskets = Tables(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    val p2 = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    val p3 = scala.collection.mutable.Map[(Long, Long, Long), Long]().withDefaultValue(0L)
    for (items <- baskets.values; i <- items.indices; j <- i + 1 until items.size) {
      p2((items(i), items(j))) += 1
      for (k <- j + 1 until items.size) p3((items(i), items(j), items(k))) += 1
    }
    (p2.filter(_._2 >= 2).toMap, p3.filter(_._2 >= 2).toMap)
  }

  test("FP-Growth itemsets == driver brute force for sizes 2 and 3") {
    import org.apache.spark.ml.fpm.FPGrowth
    val baskets = Tables(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .groupBy($"l_orderkey").agg(collect_set($"l_partkey").as("items"))
    val n = baskets.count()
    val model = new FPGrowth().setItemsCol("items")
      .setMinSupport(2.0 / n).setMinConfidence(0.5).fit(baskets)
    val got = model.freqItemsets.select($"items", $"freq")
      .as[(Seq[Long], Long)].collect()
    val got2 = got.filter(_._1.size == 2)
      .map { case (is, f) => (is.sorted: @unchecked) match {
        case Seq(a, b) => (a, b) -> f } }.toMap
    val got3 = got.filter(_._1.size == 3)
      .map { case (is, f) => (is.sorted: @unchecked) match {
        case Seq(a, b, c) => (a, b, c) -> f } }.toMap
    val (want2, want3) = brute()
    assert(got2 == want2,
      s"size-2 diff: extra=${(got2.keySet -- want2.keySet).take(3)} " +
        s"missing=${(want2.keySet -- got2.keySet).take(3)}")
    assert(got3 == want3,
      s"size-3 diff: extra=${(got3.keySet -- want3.keySet).take(3)} " +
        s"missing=${(want3.keySet -- got3.keySet).take(3)}")
  }

  test("declared histogram key agrees with brute-force itemset counts") {
    val rows = SparkEntry.queries("m_mine_fpgrowth")(spark, sf)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val (want2, want3) = brute()
    assert(rows.get(2).map(_._1).getOrElse(0L) == want2.size.toLong)
    assert(rows.get(2).map(_._2).getOrElse(0L) == want2.values.sum)
    assert(rows.get(3).map(_._1).getOrElse(0L) == want3.size.toLong)
    assert(rows.get(3).map(_._2).getOrElse(0L) == want3.values.sum)
  }

  test("FreqItemsets: local Eclat == distributed PFP, exact itemset multiset") {
    // the default takes the driver-local Eclat DFS; the forced distributed
    // scope runs the MLlib PFP path — the two must agree on every (itemset, freq), all
    // sizes >= 2 (the operator's declared output)
    val baskets = Tables(spark, sf, "lineitem")
      .select($"l_orderkey", $"l_partkey").distinct()
      .groupBy($"l_orderkey").agg(collect_set($"l_partkey").as("items"))
      .localCheckpoint(eager = true)
    val n = baskets.count()
    val both = bothPaths.map { dist =>
      onPath(dist)(operators.FreqItemsets.run(spark, baskets, 2.0 / n)
        .select($"items", $"freq").as[(Seq[Long], Long)].collect())
        .filter(_._1.size >= 2)
        .map { case (is, f) => (is.sorted, f) }.toSet
    }
    assert(both(0).nonEmpty)
    assert(both(0) == both(1),
      s"local-only=${(both(0) -- both(1)).take(3)} " +
        s"pfp-only=${(both(1) -- both(0)).take(3)}")
  }

  test("SeqPatterns: local prefix-projection == distributed PrefixSpan") {
    val seqs = Tables(spark, sf, "events")
      .withColumn("day", expr("unix_millis(ts) div 86400000"))
      .groupBy($"user_id", $"day")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct($"ts", $"event_id", $"event_type"))).as("evs"))
      .select(expr("transform(evs, e -> array(e.event_type))").as("sequence"))
      .localCheckpoint(eager = true)
    val both = bothPaths.map { dist =>
      onPath(dist)(operators.SeqPatterns.run(spark, seqs, 0.05, 3)
        .select(expr("transform(sequence, x -> x[0])"), $"freq")
        .as[(Seq[String], Long)].collect())
        .map { case (p, f) => (p.toVector, f) }.toSet
    }
    assert(both(0).nonEmpty)
    assert(both(0) == both(1),
      s"local-only=${(both(0) -- both(1)).take(3)} " +
        s"mllib-only=${(both(1) -- both(0)).take(3)}")
    // multi-item itemsets must refuse the local path (routed to MLlib):
    // a two-item itemset input under the default gate still returns
    // MLlib's answer
    val multi = Seq(Seq(Seq("a", "b"), Seq("a")), Seq(Seq("a", "b")))
      .toDF("sequence")
    val viaOp = operators.SeqPatterns.run(spark, multi, 0.5, 2)
      .select(expr("to_json(sequence)"), $"freq")
      .as[(String, Long)].collect().toSet
    val viaMl = {
      import org.apache.spark.ml.fpm.PrefixSpan
      new PrefixSpan().setSequenceCol("sequence")
        .setMinSupport(0.5).setMaxPatternLength(2)
        .findFrequentSequentialPatterns(multi)
        .select(expr("to_json(sequence)"), $"freq")
        .as[(String, Long)].collect().toSet
    }
    assert(viaOp == viaMl)
  }

  test("A-priori triple key == brute force triples at its declared bar") {
    // the join-based q_mine_triples (support >= 2, sf fixture) must carry
    // exactly the brute-force triple set with exact counts
    val got = SparkEntry.queries("q_mine_triples")(spark, sf)
      .select($"p1", $"p2", $"p3", $"n_orders")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3) -> r._4).toMap
    val (_, want3) = brute()
    assert(got == want3,
      s"extra=${(got.keySet -- want3.keySet).take(3)} " +
        s"missing=${(want3.keySet -- got.keySet).take(3)}")
  }

  test("PrefixSpan sequential patterns == driver subsequence scan, lengths 1-3") {
    // rebuild the per-(user, day) sequences independently and count every
    // candidate pattern over the 5-symbol alphabet by an ordered-
    // subsequence scan; PrefixSpan (singleton itemsets in, so patterns
    // are plain ordered subsequences) must emit EXACTLY the candidates at
    // minCount = ceil(0.05 · nSeqs), with exact frequencies
    import org.apache.spark.sql.functions.{col, expr}
    // order by full microsecond ts (not Timestamp.getTime — ms-truncated),
    // mirroring the key's sort_array(struct(ts, ...)) exactly
    val seqs = Tables(spark, sf, "events")
      .withColumn("day", expr("unix_millis(ts) div 86400000"))
      .select($"user_id", $"day", expr("unix_micros(ts)").as("us"),
              $"event_id", $"event_type")
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(r => (r._1, r._2))
      .map { case (_, rows) => rows.sortBy(r => (r._3, r._4)).map(_._5).toVector }
      .toVector
    val alphabet = seqs.flatten.distinct.sorted
    assert(alphabet.size == 5)
    def isSubseq(pat: Vector[String], seq: Vector[String]): Boolean = {
      var i = 0
      seq.foreach { s => if (i < pat.length && s == pat(i)) i += 1 }
      i == pat.length
    }
    val minCount = math.ceil(0.05 * seqs.size).toLong
    val candidates =
      alphabet.map(Vector(_)) ++
      (for (a <- alphabet; b <- alphabet) yield Vector(a, b)) ++
      (for (a <- alphabet; b <- alphabet; c <- alphabet) yield Vector(a, b, c))
    val want = candidates
      .map(p => p -> seqs.count(isSubseq(p, _)).toLong)
      .filter(_._2 >= minCount).toMap
    val ml = {
      import org.apache.spark.ml.fpm.PrefixSpan
      val sdf = Tables(spark, sf, "events")
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .groupBy($"user_id", $"day")
        .agg(org.apache.spark.sql.functions.sort_array(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct($"ts", $"event_id", $"event_type"))).as("evs"))
        .select(expr("transform(evs, e -> array(e.event_type))").as("sequence"))
      new PrefixSpan().setSequenceCol("sequence")
        .setMinSupport(0.05).setMaxPatternLength(3)
        .findFrequentSequentialPatterns(sdf)
        .select(expr("transform(sequence, x -> x[0])").as("flat"), col("freq"))
        .as[(Seq[String], Long)].collect()
        .map(r => r._1.toVector -> r._2).toMap
    }
    assert(ml == want,
      s"extra=${(ml.keySet -- want.keySet).take(3)} " +
        s"missing=${(want.keySet -- ml.keySet).take(3)}")
    // and the declared histogram key reflects the same pattern universe
    val hist = SparkEntry.queries("m_mine_prefixspan")(spark, sf)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    (1 to 3).foreach { len =>
      val ofLen = want.filter(_._1.length == len)
      assert(hist.get(len).map(_._1).getOrElse(0L) == ofLen.size.toLong)
      assert(hist.get(len).map(_._2).getOrElse(0L) == ofLen.values.sum)
    }
  }

  /** The q_mine_cep automaton, driver-side: greedy non-overlapping
    * view;click;purchase with each step within `win` µs, any view
    * (re)anchoring stage 1 — the DECLARED semantics, re-implemented
    * independently of the HOF fold. */
  private def cepCount(evs: Seq[(Long, String)], win: Long): Long = {
    var st = 0L; var t0 = 0L; var n = 0L
    evs.foreach { case (ts, tp) =>
      if (tp == "click" && st == 1L && ts - t0 <= win) { st = 2L; t0 = ts }
      else if (tp == "purchase" && st == 2L && ts - t0 <= win) { st = 0L; n += 1 }
      else if (tp == "view") { st = 1L; t0 = ts }
    }
    n
  }

  test("q_mine_cep equals a driver automaton on every fixture user") {
    val got = SparkEntry.queries("q_mine_cep")(spark, sf)
      .as[(Long, Long, Long)].collect().toList.sortBy(_._1)
    assert(got.nonEmpty)
    assert(got.map(_._3).sum > 0, "fixture must exercise the pattern — " +
      "zero total matches would make the oracle row vacuous")
    val evs = Tables(spark, sf, "events")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "event_type")
      .as[(Long, Long, Long, String)].collect().toList
      .groupBy(_._1).view.mapValues(
        _.sortBy(r => (r._3, r._2)).map(r => (r._3, r._4))).toMap
    got.foreach { case (u, nEv, nMatch) =>
      assert(nEv == evs(u).length.toLong)
      val want = cepCount(evs(u).toSeq, 86400000000L)
      assert(nMatch == want, s"user $u: got $nMatch want $want")
    }
  }

  test("cep automaton semantics: overlap, restart, and late-step behaviors pinned") {
    val H = 3600000000L // 1h µs
    val W = 24 * H
    // exact in-window chain → 1 match
    assert(cepCount(Seq((0L, "view"), (H, "click"), (2 * H, "purchase")), W) == 1L)
    // two back-to-back chains are non-overlapping → 2
    assert(cepCount(Seq((0L, "view"), (H, "click"), (2 * H, "purchase"),
      (3 * H, "view"), (4 * H, "click"), (5 * H, "purchase")), W) == 2L)
    // interleaving noise events do not break the chain
    assert(cepCount(Seq((0L, "view"), (1L, "error"), (H, "click"),
      (H + 1, "signup"), (2 * H, "purchase")), W) == 1L)
    // a step past the window does NOT complete; only a fresh view restarts
    assert(cepCount(Seq((0L, "view"), (25 * H, "click"), (26 * H, "purchase")), W) == 0L)
    assert(cepCount(Seq((0L, "view"), (25 * H, "click"), (26 * H, "view"),
      (27 * H, "click"), (28 * H, "purchase")), W) == 1L)
    // a mid-pattern view re-anchors (kills the in-flight stage-2 state)
    assert(cepCount(Seq((0L, "view"), (H, "click"), (2 * H, "view"),
      (3 * H, "purchase")), W) == 0L)
    // a purchase with no armed chain never counts
    assert(cepCount(Seq((0L, "purchase"), (H, "purchase")), W) == 0L)
  }

  test("q_audit_skew equals a driver recomputation per relation") {
    val got = SparkEntry.queries("q_audit_skew")(spark, sf)
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect().toList.sortBy(_._1)
    assert(got.map(_._1) ==
      List("lineitem.l_orderkey", "lineitem.l_partkey", "orders.o_custkey"))
    def rnd(x: Double, s: Int) =
      new java.math.BigDecimal(x).setScale(s, java.math.RoundingMode.HALF_UP)
        .doubleValue
    def mine(table: String, key: String) = {
      val cnts = Tables(spark, sf, table).groupBy(col(key)).count()
        .as[(Long, Long)].collect().toList
      val n = cnts.map(_._2).sum
      val top10 = cnts.sortBy(c => (-c._2, c._1)).take(10).map(_._2).sum
      // scan-free identity: H = ln n - (sum of c*r6(ln c)) / n
      val sTerm = cnts.map { case (_, c) =>
        BigDecimal(c.toDouble * rnd(math.log(c.toDouble), 6))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      val h = math.log(n.toDouble) - sTerm / n
      (n, cnts.size.toLong, cnts.map(_._2).max, rnd(cnts.map(_._2).max.toDouble / n, 6),
       rnd(top10.toDouble / n, 6), rnd(h / math.log(cnts.size.toDouble), 4))
    }
    got.foreach { case (rel, n, nk, mx, t1, t10, ent) =>
      val Array(table, key) = rel.split('.')
      val (en, enk, emx, et1, et10, eent) = mine(table, key)
      assert((n, nk, mx) == (en, enk, emx), rel)
      assert(t1 == et1 && t10 == et10 && ent == eent, rel)
      // skew invariants: shares nest, entropy normalized into (0, 1]
      assert(t1 <= t10 && t10 <= 1.0 && ent > 0.0 && ent <= 1.0)
    }
  }
}
