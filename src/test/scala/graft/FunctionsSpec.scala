package graft

import org.apache.spark.sql.functions._
import graft.functions.{GeomMean, HaversineDist}
import graft.operators.SimHash

/** SURVEY §2.12 — custom function surfaces. */
class FunctionsSpec extends BaseSpec {
  import spark.implicits._

  test("haversine_km expression: known distances") {
    // Paris ↔ London ≈ 343–344 km
    val d = Seq((48.8566, 2.3522, 51.5074, -0.1278)).toDF("a", "b", "c", "d")
      .select(HaversineDist.haversineKm($"a", $"b", $"c", $"d").as("km"))
      .as[Double].head()
    assert(math.abs(d - 343.5) < 1.5, s"Paris-London got $d")
    // zero distance, symmetry, null propagation
    assert(HaversineDist.km(10, 20, 10, 20) == 0.0)
    assert(HaversineDist.km(1, 2, 3, 4) == HaversineDist.km(3, 4, 1, 2))
    val n = Seq((Option.empty[Double], 2.0, 3.0, 4.0)).toDF("a", "b", "c", "d")
      .select(HaversineDist.haversineKm($"a", $"b", $"c", $"d").as("km"))
      .collect().head
    assert(n.isNullAt(0), "null input must yield null")
  }

  test("haversine_km registered for SQL") {
    graft.functions.Sql.install(spark)
    val d = spark.sql("SELECT haversine_km(0D, 0D, 0D, 90D) AS km").as[Double].head()
    // quarter of the equator circumference
    assert(math.abs(d - 2.0 * math.Pi * 6371.0 / 4.0) < 0.5)
  }

  test("GeomMean aggregator matches exp(avg(ln)) within tolerance") {
    val gm = udaf(GeomMean)
    val vals = Tables(spark, sf, "orders").select($"o_totalprice")
    val got = vals.agg(gm($"o_totalprice")).as[Double].head()
    val expected = vals.agg(exp(avg(log($"o_totalprice")))).as[Double].head()
    assert(math.abs(got / expected - 1.0) < 1e-9, s"got $got expected $expected")
  }

  test("TopKBuffer keeps the (score desc, id asc) winners under churn and merge") {
    val buf = new graft.functions.TopKBuffer(3)
    // interleave ties and evictions: scores 5,5,5,7,1,7 with varying ids
    Seq((5.0, 30L), (5.0, 10L), (5.0, 20L), (7.0, 2L), (1.0, 1L), (7.0, 9L))
      .foreach { case (s, i) => buf.offer(s, i) }
    assert(buf.sortedDesc.toList == List((7.0, 2L), (7.0, 9L), (5.0, 10L)),
      s"got ${buf.sortedDesc.toList}")
    // merge path (partial aggregation): a second buffer with a better tie
    val other = new graft.functions.TopKBuffer(3)
    other.offer(5.0, 5L); other.offer(0.5, 99L)
    other.foreach(buf.offer)
    assert(buf.sortedDesc.toList == List((7.0, 2L), (7.0, 9L), (5.0, 5L)),
      s"after merge: ${buf.sortedDesc.toList}")
  }

  test("two parameterizations of one expression in one plan equal their single runs") {
    import graft.functions.{TopKPairs, TrajSketchFns}
    // TopK at k = 3 and k = 10 side by side in one aggregate
    val scores = (1 to 40).map(i => (i % 4, ((i * 37) % 101).toDouble, i.toLong))
      .toDF("g", "score", "id")
    def topK(k: Int) = TopKPairs.topKPairs($"score", $"id", k)
    def pairs(r: org.apache.spark.sql.Row, i: Int) =
      r.getSeq[org.apache.spark.sql.Row](i).map(p => (p.getDouble(0), p.getLong(1)))
    def single(k: Int) = scores.groupBy($"g").agg(topK(k).as("t")).orderBy($"g")
      .collect().map(pairs(_, 1)).toSeq
    val both = scores.groupBy($"g").agg(topK(3).as("t3"), topK(10).as("t10"))
      .orderBy($"g").collect()
    assert(both.map(pairs(_, 1)).toSeq == single(3))
    assert(both.map(pairs(_, 2)).toSeq == single(10))
    assert(both.forall(r => pairs(r, 1).size == 3 && pairs(r, 2).size == 10))
    // sparse LCSS at two match radii side by side in one projection
    val tr = graft.queries.Trajectory.tracks(spark, sf)
    val pairFrame = tr.select($"user_id".as("u1"), $"track".as("ta"), $"pb".as("sa"))
      .join(tr.select($"user_id".as("u2"), $"track".as("tb"), $"pb".as("sb")), $"u1" < $"u2")
    def lcss(eps: Double) = TrajSketchFns.lcssSparse($"sa", $"ta", $"sb", $"tb", eps)
    def singleLcss(eps: Double) = pairFrame.select($"u1", $"u2", lcss(eps))
      .orderBy($"u1", $"u2").collect().map(_.getLong(2)).toSeq
    val lcssBoth = pairFrame.select($"u1", $"u2", lcss(100.0), lcss(500.0))
      .orderBy($"u1", $"u2").collect()
    assert(lcssBoth.nonEmpty)
    assert(lcssBoth.map(_.getLong(2)).toSeq == singleLcss(100.0))
    assert(lcssBoth.map(_.getLong(3)).toSeq == singleLcss(500.0))
    assert(lcssBoth.exists(r => r.getLong(2) != r.getLong(3)),
      "the two radii must read different match counts on some pair")
  }

  test("zorder interleave matches a bit-by-bit reference and preserves tile order") {
    def reference(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 200) {
      val a = rnd.nextLong() & 0xFFFFFFFFL
      val b = rnd.nextLong() & 0xFFFFFFFFL
      assert(graft.functions.ZOrderKey.interleave(a, b) == reference(a, b),
        s"interleave($a, $b)")
    }
    // Morton property: keys inside one 2^k-aligned tile form a contiguous
    // range — the reason row-group min/max prune in both dimensions.
    val tile = for (a <- 4L to 7L; b <- 8L to 11L)
      yield graft.functions.ZOrderKey.interleave(a, b)
    assert(tile.max - tile.min == tile.size - 1 &&
           tile.toSet.size == tile.size,
      s"4x4 aligned tile must map to a contiguous key range: ${tile.sorted}")
  }

  test("Misra-Gries buffer: certified bounds hold on a zipf stream, merge included") {
    val freq = (1 to 60).map(i => s"t$i" -> (600 / i).toLong).toMap
    val stream = scala.util.Random.javaRandomToRandom(new java.util.Random(3))
      .shuffle(freq.toSeq.flatMap { case (t, n) => Seq.fill(n.toInt)(t) })
    // split the stream like two partial aggregations, then merge
    val (s1, s2) = stream.splitAt(stream.size / 3)
    val (a, b) = (new graft.functions.MgBuffer(16), new graft.functions.MgBuffer(16))
    s1.foreach(a.offer); s2.foreach(b.offer)
    a.absorb(b)
    val est = a.counters.toMap
    freq.foreach { case (t, n) =>
      val e = est.getOrElse(t, 0L)
      assert(e <= n, s"$t: est $e must not exceed true $n")
      assert(n - e <= a.dropped, s"$t: undercount ${n - e} exceeds bound ${a.dropped}")
      if (n > a.dropped)
        assert(est.contains(t), s"guaranteed heavy hitter $t missing (true=$n > D=${a.dropped})")
    }
  }

  test("m_text_heavyhitters estimates are certified against exact term counts") {
    import org.apache.spark.sql.functions._
    val exact = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val got = SparkEntry.queries("m_text_heavyhitters")(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (t, est, err) =>
      val n = exact.getOrElse(t, 0L)
      assert(est <= n && n <= est + err,
        s"$t: est=$est err=$err but true=$n — certified bound violated")
    }
    // the single most frequent term is far above the error bound → must rank
    val (topTerm, topN) = exact.maxBy { case (t, n) => (n, t) }
    val err = got.head._3
    if (topN > 2 * err)
      assert(got.map(_._1).contains(topTerm),
        s"dominant term $topTerm (n=$topN, D=$err) missing from sketch output")
  }

  test("count-min buffer: overestimate-only, bounded, merge = concatenation") {
    val freq = (1 to 60).map(i => s"t$i" -> (600 / i).toLong).toMap
    val stream = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle(freq.toSeq.flatMap { case (t, n) => Seq.fill(n.toInt)(t) })
    val depth = 4; val width = 512
    // split like two partial aggregations, then merge
    val (s1, s2) = stream.splitAt(stream.size / 3)
    val (a, b) = (new graft.functions.CmsBuffer(depth, width),
                  new graft.functions.CmsBuffer(depth, width))
    s1.foreach(a.add); s2.foreach(b.add)
    a.absorb(b)
    // merged state must equal the single-pass state exactly (element-wise
    // sums commute) — the order-independence MG cannot offer
    val one = new graft.functions.CmsBuffer(depth, width)
    stream.foreach(one.add)
    assert(a.cells.sameElements(one.cells) && a.n == one.n)
    val n = stream.size.toLong
    val eps = math.E / width
    freq.foreach { case (t, true_) =>
      val e = a.estimate(t)
      assert(e >= true_, s"$t: CMS must never underestimate (est $e < true $true_)")
      assert(e <= true_ + (eps * n).ceil.toLong,
        s"$t: est $e exceeds true $true_ + eps*N bound on this fixture")
    }
  }

  test("m_text_countmin estimates bracket exact counts and are partition-invariant") {
    import org.apache.spark.sql.functions._
    val exact = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val got = SparkEntry.queries("m_text_countmin")(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(got.map(_._1).toSeq ==
      graft.queries.TextPipeline.cmsQueryTerms.sorted)
    val nTotal = got.head._3
    assert(nTotal == exact.values.sum, "sketch N must be the exact stream size")
    val eps = math.E / 512
    got.foreach { case (t, est, n) =>
      val true_ = exact.getOrElse(t, 0L)
      assert(true_ <= est, s"$t: CMS underestimated ($est < $true_)")
      assert(est <= true_ + (eps * n).ceil.toLong,
        s"$t: est=$est true=$true_ outside the eps*N envelope")
    }
    // order-independence: a different partitioning yields identical estimates
    val re = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("term"))
      .repartition(17, $"term")
      .agg(graft.functions.CmsCounts.cmsCounts($"term", 4, 512,
        graft.queries.TextPipeline.cmsQueryTerms).as("sk"))
      .select(explode($"sk").as("e"))
      .select($"e.term", $"e.est", $"e.n")
      .as[(String, Long, Long)].collect()
    assert(re.sortBy(_._1).sameElements(got.sortBy(_._1)),
      "CMS estimates must be bit-identical under any partitioning")
  }

  test("simhash64 is deterministic and locality-sensitive") {
    val a = SimHash.simhash64(Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    val b = SimHash.simhash64(Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    assert(a == b)
    val near = SimHash.simhash64(Seq("alpha", "beta", "gamma", "delta", "epsilon", "eta"))
    val far = SimHash.simhash64(Seq("one", "two", "three", "four", "five", "six"))
    assert(SimHash.hamming(a, near) < SimHash.hamming(a, far),
      s"near=${SimHash.hamming(a, near)} far=${SimHash.hamming(a, far)}")
  }

  test("jaro_winkler expression: values pinned to the independent oracle") {
    import graft.functions.JaroWinklerSim
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      JaroWinklerSim.sim(UTF8String.fromString(a), UTF8String.fromString(b))
    // Every expected value below was probed from DuckDB's independently
    // implemented jaro_winkler_similarity (the q_dedup_jaro oracle).
    val pinned = Seq(
      ("MARTHA", "MARHTA", 0.9611111111),   // one transposition
      ("DIXON", "DICKSONX", 0.8133333333),  // unequal lengths
      ("JELLYFISH", "SMELLYFISH", 0.8962962963),
      ("CRATE", "TRACE", 0.7333333333),     // jaro > 0.7 but zero prefix
      ("ab1234", "ab9999", 0.5555555556),   // boost GATED: jaro ≤ 0.7
      ("abcd12", "abcd99", 0.8666666667),   // prefix cap 4 engaged
      ("xy", "xz", 0.6666666667),           // short, below boost gate
      ("ppppa", "ppppb", 0.92),
      ("a", "ab", 0.85),                    // window clamp at tiny lengths
      ("abc", "abc", 1.0), ("a", "a", 1.0))
    pinned.foreach { case (a, b, want) =>
      assert(math.abs(jw(a, b) - want) < 1e-9, s"jw($a,$b)=${jw(a, b)} want $want")
    }
    // DuckDB edge semantics: empty string scores 0 against everything
    // (including itself); disjoint and fully-transposed-at-window-0 pairs 0.
    assert(jw("", "") == 0.0 && jw("", "abc") == 0.0 && jw("abc", "") == 0.0)
    assert(jw("ab", "ba") == 0.0 && jw("a", "b") == 0.0)
    // symmetry over a spread of shapes
    for ((a, b, _) <- pinned) assert(jw(a, b) == jw(b, a), s"asym $a $b")
  }

  test("jaro_winkler registered for SQL and codegen path ≡ interpreted") {
    import graft.functions.JaroWinklerSim
    graft.functions.Sql.install(spark)
    val got = spark.sql(
      "SELECT round(jaro_winkler('MARTHA', 'MARHTA'), 6) AS jw").as[Double].head()
    assert(got == 0.961111, s"sql path got $got")
    // through a DataFrame column (whole-stage codegen) with null propagation
    val rows = Seq(("DwAyNE", Some("DuANE")), ("x", None))
      .toDF("a", "b")
      .select(JaroWinklerSim.jaroWinkler($"a", $"b").as("jw"))
      .collect()
    assert(math.abs(rows(0).getDouble(0) - 0.84) < 1e-9, s"got ${rows(0)}")
    assert(rows(1).isNullAt(0), "null input must yield null")
  }

  test("GK summary: rank error ≤ εn on adversarial orders, state stays logarithmic") {
    val eps = 0.01
    val n = 20000
    val rnd = new scala.util.Random(7)
    // three arrival orders that break naive samplers: sorted (worst case for
    // reservoir-style), reverse-sorted, and shuffled heavy-tail values
    val base = Array.tabulate(n)(i => math.pow(rnd.nextDouble(), 3) * 1e6)
    val orders = Seq(
      "sorted"   -> base.sorted,
      "reversed" -> base.sorted.reverse,
      "shuffled" -> rnd.shuffle(base.toSeq).toArray)
    for ((label, xs) <- orders) {
      val s = new graft.functions.GkSummary(eps)
      xs.foreach(s.insert)
      val sorted = base.sorted
      for (phi <- Seq(0.05, 0.25, 0.5, 0.75, 0.95, 0.99)) {
        val est = s.query(phi)
        // true rank of the estimate (values ≤ est) must sit within εn of φn
        val rank = sorted.count(_ <= est).toDouble
        assert(math.abs(rank - phi * n) <= eps * n + 1,
          s"$label φ=$phi: est=$est rank=$rank outside ±εn of ${phi * n}")
      }
      // space: the band-free GK stays well under the value count; the
      // practical envelope (11/(2ε))·log2(2εn+1) holds with big margin
      val bound = (11.0 / (2 * eps)) * (math.log(2 * eps * n + 1) / math.log(2))
      assert(s.tupleCount <= bound,
        s"$label: ${s.tupleCount} tuples exceeds the GK space envelope $bound")
      assert(s.tupleCount < n / 10, s"$label: summary is not sublinear (${s.tupleCount})")
    }
  }

  test("compression-ratio signal: separation, bounds, and run determinism") {
    // the signal itself: DEFLATE separates repetitive boilerplate from
    // high-entropy text by a wide margin
    def ratio(s: String): Double = {
      val d = new java.util.zip.Deflater(6)
      val in = s.getBytes("UTF-8")
      d.setInput(in); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      n.toDouble / in.length
    }
    val repetitive = ratio("all rights reserved " * 100)
    val rnd = new scala.util.Random(7L)
    val random = ratio(Seq.fill(400)(rnd.alphanumeric.take(6).mkString).mkString(" "))
    assert(repetitive < 0.05, s"boilerplate should compress hard: $repetitive")
    assert(random > 0.5, s"high-entropy text should not: $random")
    // the declared key: stable across runs, sane bounds, full coverage
    import org.apache.spark.sql.Row
    def run() = SparkEntry.queries("q_text_compress")(spark, sf).collect().toList
    val r1 = run()
    assert(r1 == run(), "same corpus must score identically")
    val total = r1.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables(spark, sf, "documents").count())
    r1.foreach { case row =>
      val avg = row.getAs[Double]("avg_ratio")
      assert(avg > 0.0 && avg < 1.2, s"ratio out of band: $row")
    }
  }

  test("q_text_pii pins each pattern on a planted corpus; redaction removes every match") {
    // doc_ids ≡ 2 (mod 3) and ≢ 0 (mod 5): the key's derived contact line
    // is EMPTY for these ids, so every count comes from the planted text
    val dir = java.nio.file.Files.createTempDirectory("pii-plant").toString
    val rows = Seq(
      (2L, "mail me at bob7@corp9.com or al3@x1.com thanks", "en", "sA", 46L),
      (8L, "digits 1.2.3.4 and +1-555-0000 here", "en", "sA", 35L),
      (14L, "no pii at all in this row", "en", "sB", 25L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_text_pii")(spark, dir)
      .as[(String, Long, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("sA")._2 == 2L, s"two planted emails: ${got("sA")}")
    assert(got("sA")._3 == 1L, "one planted phone")
    assert(got("sA")._4 == 1L, "one planted IPv4")
    assert(got("sB")._2 == 0L && got("sB")._3 == 0L && got("sB")._4 == 0L,
      "clean doc detects nothing")
    // redaction parity with a driver Java-regex recomputation, and the
    // redacted text must be match-free (idempotent scrub)
    def redact(s: String): String = s
      .replaceAll("[a-z0-9]+@[a-z0-9]+\\.com", "<EMAIL>")
      .replaceAll("\\+1-555-[0-9]{4}", "<PHONE>")
      .replaceAll("[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+", "<IP>")
    val wantChars = rows.groupBy(_._4).view
      .mapValues(_.map(r => redact(r._2).length.toLong).sum).toMap
    assert(got("sA")._5 == wantChars("sA"), s"sA red_chars ${got("sA")._5}")
    assert(got("sB")._5 == wantChars("sB"))
    rows.foreach { r => assert(redact(redact(r._2)) == redact(r._2)) }
  }

  test("q_text_readability pins FORCAST on a planted corpus and a driver recount") {
    // planted: known vowel-run structure per word
    val dir = java.nio.file.Files.createTempDirectory("forcast-plant").toString
    Seq(
      // "cat"(1) "idea"(2: i, ea) "rhythm"(1: y) "bcd"(0) -> 4 words,
      // syllables 4, mono 2 -> grade 20 - 15*2/4 = 12.5
      (1L, "cat idea rhythm bcd", "en", "sA", 19L),
      // "queue"(2: ueue? q-ueue = 1 run... spelled out: u,e,u,e contiguous
      // = ONE run) "sky"(1: y) -> both mono -> grade 20 - 15 = 5.0
      (2L, "queue sky", "en", "sB", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("q_text_readability")(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(planted("sA") == (("sA", 4L, 4L, 1.0, 12.5)), planted("sA"))
    assert(planted("sB") == (("sB", 2L, 2L, 1.0, 5.0)), planted("sB"))

    // fixture recount through an independent path (java.util.regex walk)
    val got = SparkEntry.queries("q_text_readability")(spark, sf)
      .as[(String, Long, Long, Double, Double)].collect().toList
    assert(got.nonEmpty)
    val re = java.util.regex.Pattern.compile("[aeiouy]+")
    def sylOf(w: String): Long = {
      val m = re.matcher(w); var c = 0L; while (m.find()) c += 1; c
    }
    val bySource = Tables(spark, sf, "documents")
      .select($"source", $"text").as[(String, String)].collect().toList
      .flatMap { case (src, txt) => txt.split(" ", -1).map(w => (src, sylOf(w))) }
      .groupBy(_._1)
    def rnd(x: Double, sc: Int) = new java.math.BigDecimal(x)
      .setScale(sc, java.math.RoundingMode.HALF_UP).doubleValue
    got.foreach { case (src, nWords, nSyl, spw, grade) =>
      val syls = bySource(src).map(_._2)
      assert(nWords == syls.size.toLong, src)
      assert(nSyl == syls.sum, src)
      assert(spw == rnd(nSyl.toDouble / nWords, 6), src)
      assert(grade == rnd(20.0 - 15.0 * syls.count(_ == 1L) / nWords.toDouble, 4), src)
    }
  }

  test("q_text_pmi equals a driver bigram recount; a planted collocation tops free pairs") {
    // planted: 'zq xv' always adjacent (a perfect collocation), 'aa'/'bb'
    // scattered independently
    val dir = java.nio.file.Files.createTempDirectory("pmi-plant").toString
    Seq(
      (1L, "zq xv aa bb zq xv", "en", "sA", 17L),
      (2L, "bb aa zq xv aa", "en", "sA", 15L),
      (3L, "aa zq xv bb bb", "en", "sB", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = SparkEntry.queries("q_text_pmi")(spark, dir)
      .as[(String, String, Long, Double)].collect().toList
    val zx = planted.find(r => r._1 == "zq" && r._2 == "xv").get
    assert(zx._3 == 4L, "four planted zq->xv bigrams")
    // the planted collocation's PMI beats every pair of free words
    planted.filter(r => Set(r._1, r._2).subsetOf(Set("aa", "bb"))).foreach { r =>
      assert(zx._4 > r._4, s"planted $zx vs free $r")
    }

    // fixture: exact recount through an independent driver path
    val got = SparkEntry.queries("q_text_pmi")(spark, sf)
      .as[(String, String, Long, Double)].collect().toList
    assert(got.size == 20)
    val docs = Tables(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toList
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val big = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { case (_, txt) =>
      val t = txt.split(" ", -1)
      t.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1L)
      t.sliding(2).foreach {
        case Array(a, b) => big((a, b)) = big.getOrElse((a, b), 0L) + 1L
        case _ => ()
      }
    }
    val n = uni.values.sum.toDouble
    val nb = big.values.sum.toDouble
    def rnd6(x: Double) = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    // the key's top-20 must equal the driver's (cxy desc, x, y) top-20
    val want = big.toList.sortBy { case ((x, y), c) => (-c, x, y) }.take(20)
      .map { case ((x, y), c) =>
        (x, y, c, rnd6(math.log(c.toDouble * n * n / (nb * uni(x) * uni(y)))))
      }
    assert(got == want)
  }
}
