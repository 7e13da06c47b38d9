package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIVF, AnnPQ, MinHashDedup, SimHash, VectorLSH}

/** SURVEY §5.3 — recall/quality properties of the approximate operators
  * against their exact-truth contract queries, at sf0.001. */
class MlSpec extends BaseSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf, "documents")
  private lazy val emb = Tables(spark, sf, "embeddings")

  test("MinHashLSH recall >= 0.95 vs exact Jaccard >= 0.8 truth") {
    val truth = SparkEntry.queries("q_dedup_jaccard")(spark, sf)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
    val cand = MinHashDedup.candidatePairs(spark, docs, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val recall = truth.count(cand).toDouble / truth.size
    assert(recall >= 0.95, s"recall $recall over ${truth.size} truth pairs")
  }

  test("MinHashLSH finds a threshold-adjacent pair (J just above the 0.5 cut)") {
    // The fixture's planted near-dups sit far above the Jaccard threshold,
    // so the recall property alone would not notice a band-count change
    // that only loses borderline pairs. This pair is constructed at the
    // edge: docs share a 15-token prefix of 20 tokens → 13 of 23 distinct
    // 3-gram shingles shared → J = 13/23 ≈ 0.565, distance 0.435 — just
    // inside the 0.5 cut. The xxhash64 permutation family makes the
    // banding fully deterministic, so this either always passes or the
    // band width regressed.
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val b = ((1 to 15).map(i => s"w$i") ++ (16 to 20).map(i => s"v$i")).mkString(" ")
    val decoys = (3L to 8L).map(i => i -> (1 to 20).map(j => s"d${i}x$j").mkString(" "))
    val docs = ((1L -> a) +: (2L -> b) +: decoys).toDF("doc_id", "text")
    val got = MinHashDedup.candidatePairs(spark, docs, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)),
      s"6-band MinHash must keep catching the borderline J≈0.565 pair; got $got")
    assert(!got.exists { case (x, y) => x >= 3L && y >= 3L },
      s"decoys share no shingles and must not pair up; got $got")
  }

  test("jaccard df-cap: planted boilerplate shingle does not blow up candidates") {
    // 40 docs share ONE boilerplate 3-gram ("all rights reserved") and are
    // otherwise disjoint — without a df cap the inverted-index self-join
    // fans out 40·39/2 = 780 candidate pairs from that single hot shingle
    // (the Σ df² term that goes quadratic at 100 TB). With the cap below
    // the boilerplate's df, the hot shingle leaves the declared universe:
    // the only surviving pair is the genuine near-dup, whose Jaccard over
    // rare shingles is unchanged. minJ = 0 so the assert sees candidate
    // fanout itself, not the post-filter.
    import graft.queries.TextPipeline
    val boiler = "all rights reserved"
    val uniq = (1L to 40L).map(i =>
      i -> (s"$boiler " + (1 to 10).map(j => s"u${i}x$j").mkString(" ")))
    val base = "shared tokens here " + (1 to 9).map(j => s"n$j").mkString(" ")
    val docs = (uniq :+ (100L -> base) :+ (101L -> (base + " tail")))
      .toDF("doc_id", "text")
    val uncapped = TextPipeline.jaccardPairsFrom(docs, 0.0, maxDf = 10000L)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 40 * 39 / 2 + 1,
      s"sanity: uncapped fanout should be 781 pairs, got ${uncapped.size}")
    val capped = TextPipeline.jaccardPairsFrom(docs, 0.0, maxDf = 5L)
      .select($"d1", $"d2", $"jaccard").as[(Long, Long, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet == Set((100L, 101L)),
      s"capped candidates must be exactly the true near-dup; got ${capped.toSeq}")
    assert(capped.head._3 > 0.9, s"near-dup Jaccard unchanged by the cap: ${capped.head._3}")
  }

  test("minhash hot-bucket cap: a replicated crowd does not explode the band join") {
    // 40 identical copies of one document — every (band, min) bucket they
    // form has size 40, so the uncapped band self-join fans out
    // 40·39/2 = 780 pairs from the crowd alone (the quadratic-in-depth
    // cost that overflowed spill space on the 100× replicated corpus).
    // With the cap below the crowd size the mega-buckets leave the
    // declared universe — the crowd belongs to exact-hash dedup — while
    // the genuine near-dup pair's own size-2 buckets survive untouched.
    val crowd = (1L to 40L).map(i =>
      i -> ("copy of the viral boilerplate " + (1 to 10).map(j => s"c$j").mkString(" ")))
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val near = ((1 to 15).map(i => s"w$i") ++ (16 to 20).map(i => s"v$i")).mkString(" ")
    val docs = (crowd :+ (100L -> base) :+ (101L -> near)).toDF("doc_id", "text")
    val uncapped = MinHashDedup.candidatePairs(spark, docs, 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 40 * 39 / 2 + 1,
      s"sanity: uncapped crowd fanout should be 781 pairs, got ${uncapped.size}")
    val capped = MinHashDedup.candidatePairs(spark, docs, 0.5, maxBucket = 10)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      s"capped candidates must be exactly the true near-dup pair; got $capped")
  }

  test("simhash hot-bucket cap: a fingerprint crowd does not explode the band join") {
    // same discipline on the (band, bits) join: 40 identical fingerprints
    // fill all 4 bands with size-40 buckets; the cap drops them while the
    // independent duplicate pair's size-2 buckets survive.
    val crowd = (1L to 40L).map(i =>
      i -> ("the same viral page text " + (1 to 10).map(j => s"s$j").mkString(" ")))
    val dup = "another page entirely " + (1 to 10).map(j => s"z$j").mkString(" ")
    val docs = (crowd :+ (100L -> dup) :+ (101L -> dup)).toDF("doc_id", "text")
    val uncapped = SimHash.nearDupPairs(spark, docs, maxHamming = 3)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 40 * 39 / 2 + 1,
      s"sanity: uncapped crowd fanout should be 781 pairs, got ${uncapped.size}")
    val capped = SimHash.nearDupPairs(spark, docs, maxHamming = 3, maxBucket = 10)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      s"capped candidates must be exactly the surviving duplicate pair; got $capped")
  }

  test("SimHash banding finds exactly the brute-force Hamming<=3 pairs") {
    // split(" ", -1) matches Spark's split() semantics (trailing empties
    // kept) so the driver-side reference tokenizes exactly like the plan.
    val fps = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) => id -> SimHash.simhash64(text.split(" ", -1).toSeq) }
    val expected = (for {
      (i, hi) <- fps; (j, hj) <- fps if i < j
      if SimHash.hamming(hi, hj) <= 3
    } yield (i, j)).toSet
    val got = SimHash.nearDupPairs(spark, docs, maxHamming = 3)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(got == expected, s"got ${got.size} expected ${expected.size}")
  }

  test("BRP-LSH: perfect precision, recall >= 0.8 vs exact euclidean pairs") {
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def dist(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum)
    val truth = (for {
      (i, vi) <- vecs; (j, vj) <- vecs if i < j
      if dist(vi, vj) <= 1.2
    } yield (i, j)).toSet
    val got = VectorLSH.candidatePairs(spark, emb, 1.2)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(truth), "approxSimilarityJoin must post-filter by true distance")
    if (truth.nonEmpty) {
      val recall = truth.count(got).toDouble / truth.size
      assert(recall >= 0.8, s"recall $recall over ${truth.size} truth pairs")
    }
  }

  test("embcos scale path: wide-LSH candidates cover every cos>=0.4 truth pair") {
    // q_dedup_embcos rides the LSH candidate set; its oracle is the exact
    // all-pairs SQL, so the candidates MUST be a superset of the truth pairs
    // (the cosine verify then makes the result identical). Unit-norm
    // vectors: cos >= 0.4 ⇔ edist <= 1.0954 < the 1.2 LSH cut.
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def cos4(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); sa += a(i).toDouble * a(i); sb += b(i).toDouble * b(i)
      }
      BigDecimal(dot / (math.sqrt(sa) * math.sqrt(sb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val truth = (for {
      (i, vi) <- vecs; (j, vj) <- vecs if i < j
      if cos4(vi, vj) >= 0.4
    } yield (i, j)).toSet
    assert(truth.nonEmpty, "fixture should contain cos>=0.4 near-dup pairs")
    val cand = VectorLSH.candidatePairs(spark, emb, 1.2, numTables = 12)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    val missed = truth -- cand
    assert(missed.isEmpty, s"LSH candidates missed truth pairs: ${missed.take(5)}")
    val got = SparkEntry.queries("q_dedup_embcos")(spark, sf)
      .select($"va", $"vb").as[(Long, Long)].collect().toSet
    assert(got == truth, s"declared operator != brute force: " +
      s"missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("cosine top-20 scale path: LSH candidates reproduce the brute-force top-20 exactly") {
    // q_sim_cosine (r8) rides the same 12-table/1.2-cut LSH candidate set
    // as q_dedup_embcos; its oracle is still the exact all-pairs SQL. The
    // embcos property above pins candidate recall 1.0 for cos >= 0.4; this
    // one (a) checks the OPERATING POINT — the 20th-best pair's cosine must
    // sit inside that recall-tested region (>= 0.4 ⇔ edist <= 1.0954 <
    // 1.2) — and (b) pins the declared ordered top-20 list, cosines and
    // tie-breaks included, against a driver-side brute force. If a new SF /
    // embedding distribution pushes the 20th pair below 0.4, (a) fails
    // loudly instead of the key silently drifting from its oracle.
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def cos4(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); sa += a(i).toDouble * a(i); sb += b(i).toDouble * b(i)
      }
      BigDecimal(dot / (math.sqrt(sa) * math.sqrt(sb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val truth = (for { (i, vi) <- vecs; (j, vj) <- vecs if i < j }
      yield (i, j, cos4(vi, vj)))
      .sortBy { case (i, j, c) => (-c, i, j) }.take(20).toSeq
    assert(truth.size == 20 && truth.last._3 >= 0.4,
      s"operating point broken: 20th pair cosine ${truth.last._3} fell below the " +
        "recall-tested 0.4 region — re-tune numTables/cut before trusting the key")
    val got = SparkEntry.queries("q_sim_cosine")(spark, sf)
      .select($"va", $"vb", $"cos").as[(Long, Long, Double)].collect().toSeq
    assert(got == truth, s"declared top-20 != brute force: got=${got.take(3)}... " +
      s"want=${truth.take(3)}...")
  }

  test("knn scale path: LSH∪IVF candidates cover the exact top-5; result == brute force") {
    // q_sim_knn_vec now rides candidate generation (16-table LSH buckets ∪
    // 4 IVF-probed cells) + exact cosine re-score; its oracle is still the
    // brute-force SQL, so the candidate set MUST contain every true top-5
    // neighbour (recall 1.0 at the operating point) — then the exact
    // re-score makes the declared result identical to brute force.
    val vecsArr = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def cos4(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); sa += a(i).toDouble * a(i); sb += b(i).toDouble * b(i)
      }
      BigDecimal(dot / (math.sqrt(sa) * math.sqrt(sb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = vecsArr.toMap
    val probeIds = (0L until 10L).filter(byId.contains)
    val truthTop5: Map[Long, Seq[(Long, Long, Double)]] = probeIds.map { p =>
      val ranked = vecsArr.filter(_._1 != p)
        .map { case (id, v) => (id, cos4(byId(p), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5)
      p -> ranked.zipWithIndex.map { case ((id, c), i) => (i + 1L, id, c) }.toSeq
    }.toMap
    val cand = VectorLSH.probeCandidateIds(spark, emb, 0L until 10L, numTables = 16)
      .unionAll(AnnIVF.probeCellCandidateIds(spark, emb, 0L until 10L, nlist = 16, nprobe = 4))
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect().toSet
    val missed = for {
      (p, top) <- truthTop5.toSeq; (_, id, _) <- top if !cand((p, id))
    } yield (p, id)
    assert(missed.isEmpty, s"candidates missed true top-5 neighbours: $missed")

    val got = SparkEntry.queries("q_sim_knn_vec")(spark, sf)
      .select($"probe_id", $"rank", $"neighbor", $"cos")
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._1).toSeq).toMap
    assert(got == truthTop5,
      s"declared knn != brute force; e.g. probe 0: got=${got.get(0L)} want=${truthTop5.get(0L)}")
  }

  test("IVF ANN recall@5 >= 0.5 vs exact kNN") {
    val exact = SparkEntry.queries("q_sim_knn_vec")(spark, sf)
      .select($"probe_id", $"neighbor").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = AnnIVF.topK(spark, emb, (0L until 10L), k = 5, nlist = 16, nprobe = 4)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (p, t) =>
      t.count(approx.getOrElse(p, Set.empty)).toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@5 $mean")
  }

  test("PQ ANN recall@5 >= 0.9 vs exact kNN; codes are m small ints") {
    val exact = SparkEntry.queries("q_sim_knn_vec")(spark, sf)
      .select($"probe_id", $"neighbor").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = AnnPQ.topK(spark, emb, (0L until 10L), k = 5,
        m = 8, ksub = 32, rerank = 150)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (p, t) =>
      t.count(approx.getOrElse(p, Set.empty)).toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    // r9: bar moved 0.5 -> 0.9 (verdict ask #4) after aligning the ADC
    // metric with the re-rank (unit-normalized codebooks): a tuned PQ at
    // the declared operating point (m=8, ksub=32, rerank=150) must place
    // ~all true top-5 in the reranked set, not merely beat a coin flip.
    assert(mean >= 0.9, s"mean PQ recall@5 $mean")
    // compression invariant: every vector encodes to exactly m codes, each
    // inside its ksub-entry codebook — the 64-float → 8-code contract
    val (codes, books) = AnnPQ.fitEncode(spark, emb, 8, 32)
    assert(books.length == 8 && books.forall(_.length == 32))
    val bad = codes.filter(size($"code") =!= 8 ||
        exists($"code", c => c < 0 || c >= 32)).count()
    assert(bad == 0, s"$bad vectors encode outside the m=8/ksub=32 codebook")
  }

  test("IVFADC recall@5 >= 0.9 vs exact kNN; one cell + m codes per vector") {
    // The composed system must hold the SAME bar as plain PQ even though
    // its candidates come from nprobe/nlist of the table: residual
    // encoding buys back what cell pruning costs. Recall here is bounded
    // above by cell-probing recall, so a failure isolates to either the
    // probe list (raise nprobe) or the residual books (check the fit).
    val exact = SparkEntry.queries("q_sim_knn_vec")(spark, sf)
      .select($"probe_id", $"neighbor").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = graft.operators.AnnIvfPq.topK(spark, emb, (0L until 10L),
        k = 5, nlist = 16, nprobe = 10, m = 8, ksub = 32, rerank = 150)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (p, t) =>
      t.count(approx.getOrElse(p, Set.empty)).toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean IVFADC recall@5 $mean")
    // layout invariant: every vector sits in exactly one coarse cell and
    // carries exactly m codes inside the fitted residual books
    val (codes, cents, books) = graft.operators.AnnIvfPq.fitEncode(spark, emb, 16, 8, 32)
    assert(cents.length == 16 && books.length == 8)
    val maxCode = books.map(_.length).max
    val bad = codes.filter($"cell" < 0 || $"cell" >= 16 ||
        size($"code") =!= 8 || exists($"code", c => c < 0 || c >= maxCode)).count()
    assert(bad == 0, s"$bad vectors break the IVFADC layout invariant")
  }

  test("filtered ANN: k stays live under a 10% predicate; recall vs exact FILTERED kNN") {
    // Round 18 (r17 verdict ask #1). The failure mode this surface
    // prevents: post-filtering an unfiltered top-5 under a 10%-selective
    // predicate returns ~0.5 rows per probe — k collapses. The filtered
    // search applies the predicate to the postings/codes scan BEFORE
    // scoring (quantizer families) or answers from the matching visited
    // set (NSW), so every probe still gets k matching rows, and recall
    // is measured against the exact FILTERED brute force.
    val pred = Some(col("label") === 3)
    val vecsArr = emb.select($"vec_id", $"embedding", $"label")
      .as[(Long, Array[Float], Int)].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); sa += a(i).toDouble * a(i); sb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(sa) * math.sqrt(sb))
    }
    val byId = vecsArr.map(r => r._1 -> r._2).toMap
    val probeIds = 0L until 10L
    val truth: Map[Long, Set[Long]] = probeIds.map { p =>
      p -> vecsArr.filter(r => r._3 == 3 && r._1 != p)
        .map { case (id, v, _) => (id, cos(byId(p), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    val matching = vecsArr.filter(_._3 == 3).map(_._1).toSet

    def check(name: String, df: org.apache.spark.sql.DataFrame, bar: Double): Unit = {
      val got = df.select($"probe_id", $"vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // k-liveness + predicate purity: 5 rows per probe, all matching
      probeIds.foreach { p =>
        assert(got.getOrElse(p, Set.empty).size == 5,
          s"$name probe $p returned ${got.getOrElse(p, Set.empty).size} rows, not k=5")
      }
      val offPred = got.values.flatten.filterNot(matching).toSeq
      assert(offPred.isEmpty, s"$name returned non-matching ids: $offPred")
      val recalls = probeIds.map(p =>
        truth(p).count(got(p)).toDouble / truth(p).size)
      val mean = recalls.sum / recalls.size
      info(s"$name filtered recall@5 = $mean")
      assert(mean >= bar, s"$name mean filtered recall@5 $mean < $bar")
    }

    // nprobe widens 4 → 12 under the filter: with ~10% of each cell
    // matching, a probed cell contributes ~3 matching candidates, and
    // the filtered true top-5 spread over more cells than the unfiltered
    // one — probe width must scale with 1/selectivity (declared in the
    // AnnIVF scaladoc; measured here: nprobe=8 reads 0.8, 12 clears 0.9).
    check("IVF", AnnIVF.topK(spark, emb, probeIds, k = 5,
      nlist = 16, nprobe = 12, pred = pred), 0.9)
    check("PQ", AnnPQ.topK(spark, emb, probeIds, k = 5,
      m = 8, ksub = 32, rerank = 150, pred = pred), 0.9)
    // same 1/selectivity probe-widening as IVF (10 → 14; its seed-7 coarse fit probes differently than IVF's): IVFADC recall
    // is bounded above by cell-probing recall
    check("IVFADC", graft.operators.AnnIvfPq.topK(spark, emb, probeIds, k = 5,
      nlist = 16, nprobe = 14, m = 8, ksub = 32, rerank = 150, pred = pred), 0.9)
    check("NSW", graft.operators.AnnNsw.topK(spark, emb, probeIds, k = 5,
      m = 8, ef = 32, nlist = 16, rounds = 4, pred = pred), 0.7)

    // The demonstrated failure mode: post-filtering the UNFILTERED IVF
    // top-5 leaves well under k matching rows per probe.
    val post = AnnIVF.topK(spark, emb, probeIds, k = 5, nlist = 16, nprobe = 8)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      .filter(r => matching(r._2))
    assert(post.length < probeIds.size * 3,
      s"post-filtering kept ${post.length} of ${probeIds.size * 5} rows — " +
        "fixture no longer demonstrates the selective-filter collapse")
  }

  test("NSW local walk == distributed walk, filtered and unfiltered") {
    // The round-18 driver-local beam endgame must return the EXACT rows
    // the distributed walk returns (same scorer, same tie rule, same
    // visited-pool semantics under a predicate) as the forced
    // distributed path, also over row-permuted copies of the graph.
    import graft.operators.AnnNsw
    val (vecs, adjacency, seeds) = AnnNsw.buildGraph(spark, emb, 8, 16)
    val (permVecs, permAdj) = (vecs.orderBy(xxhash64($"vec_id")),
      adjacency.orderBy(xxhash64($"src", $"dst")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Double)].collect().toSeq
    val preds: Seq[Option[org.apache.spark.sql.Column]] =
      Seq(None, Some($"label" === 3))
    preds.foreach { p =>
      val loc = AnnNsw.topKFrom(spark, vecs, adjacency, seeds,
        0L until 10L, k = 5, ef = 32, rounds = 4, pred = p)
      val dist = onPath(true)(AnnNsw.topKFrom(spark, vecs, adjacency, seeds,
        0L until 10L, k = 5, ef = 32, rounds = 4, pred = p))
      assert(rows(loc) == rows(dist), s"pred=${p.isDefined}")
      val perm = AnnNsw.topKFrom(spark, permVecs, permAdj, seeds,
        0L until 10L, k = 5, ef = 32, rounds = 4, pred = p)
      assert(rows(perm) == rows(loc), s"pred=${p.isDefined}: row order changed the result")
    }
  }

  test("NSW graph ANN recall@5 >= 0.9 vs exact kNN; degree bounded by M") {
    // The graph-navigable side of the family: a 4-round beam search from
    // the cell medoids must reach the true neighbors through the top-M
    // cosine adjacency — recall failure isolates to either connectivity
    // (raise nlist multi-assignment / rounds) or beam width (raise ef).
    val exact = SparkEntry.queries("q_sim_knn_vec")(spark, sf)
      .select($"probe_id", $"neighbor").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = graft.operators.AnnNsw.topK(spark, emb, (0L until 10L),
        k = 5, m = 8, ef = 32, nlist = 16, rounds = 4)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (p, t) =>
      t.count(approx.getOrElse(p, Set.empty)).toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean NSW recall@5 $mean")
    // Layout invariant: the index is ≤ M adjacency rows per node, and
    // every probe returns exactly k ranked rows.
    val (_, adjacency, seeds) = graft.operators.AnnNsw.buildGraph(spark, emb, 8, 16)
    val overM = adjacency.groupBy($"src").count().filter($"count" > 8).count()
    assert(overM == 0, s"$overM nodes exceed the M=8 degree bound")
    assert(seeds.count() == 16, "one medoid seed per cell")
    val perProbe = approx.view.mapValues(_.size).toMap
    assert(perProbe.values.forall(_ == 5), s"ragged top-k: $perProbe")
  }

  test("GK quantile sketch stays within rank-error bounds of exact percentiles") {
    // percentile_approx(accuracy=10000) guarantees rank error ≤ 1e-4;
    // asserting against the exact quantiles at ±0.01 rank leaves two
    // orders of magnitude of slack, so this only fails if the sketch (or
    // its partial-aggregation merge) is actually broken.
    import org.apache.spark.sql.functions._
    val li = Tables(spark, sf, "lineitem")
    val exact = li.groupBy($"l_returnflag").agg(
        percentile($"l_extendedprice", lit(0.49)).as("lo50"),
        percentile($"l_extendedprice", lit(0.51)).as("hi50"),
        percentile($"l_extendedprice", lit(0.94)).as("lo95"),
        percentile($"l_extendedprice", lit(0.96)).as("hi95"))
      .as[(String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val approx = SparkEntry.queries("m_agg_quantile")(spark, sf)
      .as[(String, Double, Double, Long)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (g, p50, p95, _) =>
      val (lo50, hi50, lo95, hi95) = exact(g)
      assert(p50 >= lo50 - 1e-4 && p50 <= hi50 + 1e-4, s"$g p50=$p50 outside [$lo50, $hi50]")
      assert(p95 >= lo95 - 1e-4 && p95 <= hi95 + 1e-4, s"$g p95=$p95 outside [$lo95, $hi95]")
    }
  }

  test("KMeans: seed-stable, above-chance purity, inertia monotone in k") {
    def sizes() = SparkEntry.queries("m_kmeans")(spark, sf)
      .as[(Long, Long)].collect().toList
    assert(sizes() == sizes(), "same seed must give identical clustering")

    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val data = emb.withColumn("features", array_to_vector($"embedding"))
    val model = new KMeans().setK(10).setSeed(42L).setMaxIter(20).fit(data)
    // NOTE: the generator's label signal is faint (within-label cosine
    // ~0.005 vs 0.0005 across — near-isotropic vectors), so even ideal
    // Lloyd's tops out at ~0.17 purity here. Assert above the 0.126
    // max-label-share chance baseline, not a separable-clusters bar.
    val purity = model.transform(data)
      .groupBy($"prediction", $"label").agg(count(lit(1)).as("n"))
      .groupBy($"prediction").agg(max($"n").as("top"), sum($"n").as("tot"))
      .agg((sum($"top") / sum($"tot")).as("p")).as[Double].head()
    assert(purity >= 0.14, s"purity $purity should beat chance (~0.126)")

    val cost10 = model.summary.trainingCost
    val cost2 = new KMeans().setK(2).setSeed(42L).setMaxIter(20).fit(data)
      .summary.trainingCost
    assert(cost10 < cost2, s"inertia must shrink with k: k10=$cost10 k2=$cost2")
    val sz = sizes()
    assert(sz.size == 10 && sz.map(_._2).sum == emb.count(), s"sizes $sz")
  }

  test("GMM: seed-stable, weights and responsibilities normalize, loglik beats k=1") {
    import org.apache.spark.ml.clustering.GaussianMixture
    import org.apache.spark.ml.functions.vector_to_array
    def rows() = SparkEntry.queries("m_ml_gmm")(spark, sf)
      .as[(Long, Long, Double)].collect().toList
    assert(rows() == rows(), "same seed must give identical mixture")
    val sz = rows()
    assert(sz.map(_._2).sum == emb.count(), s"sizes must cover all rows: $sz")
    assert(math.abs(sz.map(_._3).sum - 1.0) < 5e-4,
      s"rounded weights must sum to ~1: $sz")

    val data = queries.Ml.gmmFrame(spark, sf)
    val m5 = new GaussianMixture().setK(5).setSeed(42L).setMaxIter(20).fit(data)
    assert(math.abs(m5.weights.sum - 1.0) < 1e-9, "weights must normalize")
    m5.transform(data).select(vector_to_array($"probability"))
      .as[Seq[Double]].take(50)
      .foreach(p => assert(math.abs(p.sum - 1.0) < 1e-6,
        s"responsibilities must normalize: $p"))
    // MLlib requires k ≥ 2; more components must fit the training data at
    // least as well up to EM's finite-iteration wobble (0.1% tolerance)
    val m2 = new GaussianMixture().setK(2).setSeed(42L).setMaxIter(20).fit(data)
    val (l5, l2) = (m5.summary.logLikelihood, m2.summary.logLikelihood)
    assert(l5 >= l2 - math.abs(l2) * 1e-3,
      s"k=5 loglik $l5 must not fall below the k=2 baseline $l2")
  }

  test("approx_count_distinct within 5% of exact") {
    val rows = SparkEntry.queries("q_agg_approx")(spark, sf)
      .select($"approx_parts", $"exact_parts").as[(Long, Long)].collect()
    rows.foreach { case (approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact < 0.05, s"approx $approx exact $exact")
    }
  }

  test("q_sim_rrf fuses only list members, descends in rrf, and favors dual-list hits") {
    val got = SparkEntry.queries("q_sim_rrf")(spark, sf)
      .as[(Long, Long, Long, Double, Option[Long], Option[Long])].collect().toList
    val probes = got.map(_._1).distinct
    assert(probes.size == 10 && got.size == probes.size * 5)
    for ((_, rows) <- got.groupBy(_._1)) {
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2) == (1L to 5L).toList)
      // rrf strictly follows the (rrf desc, neighbor) order and every
      // fused row sits in at least one of the two top-20 lists
      byRank.sliding(2).foreach {
        case List(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3))
        case _ =>
      }
      byRank.foreach { r =>
        assert(r._5.isDefined || r._6.isDefined)
        r._5.foreach(v => assert(v >= 1 && v <= 20))
        r._6.foreach(v => assert(v >= 1 && v <= 20))
        // rrf recomputes from the reported ranks exactly
        val want = r._5.map(v => 1.0 / (v + 60)).getOrElse(0.0) +
          r._6.map(v => 1.0 / (v + 60)).getOrElse(0.0)
        assert(r._4 == math.BigDecimal(want)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      // an item ranked 1 by BOTH scorers must be the fused winner (its
      // rrf 2/61 strictly beats any single-list score and any (r1,r2)
      // with r1+r2 > 2 ... 1/(61)+1/(61) > 1/(61)+1/(62) > ...)
      byRank.find(r => r._5.contains(1L) && r._6.contains(1L))
        .foreach(r => assert(r._2 == 1L, s"dual rank-1 item not fused first: $r"))
    }
  }

  test("q_text_cdc: HOF chunker == driver chunker, chunks tile, insertion re-syncs") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunksOf(text: String): Vector[String] = {
      val toks = text.split(" ", -1).toVector
      val n = toks.length
      val bpos = if (n >= 4) (2 to n - 2).filter(i =>
        md5hex(s"${toks(i - 2)} ${toks(i - 1)} ${toks(i)}").startsWith("0"))
      else Seq()
      val starts = 0 +: bpos.map(_ + 1)
      val ends = bpos :+ (n - 1)
      starts.zip(ends).map { case (a, b) =>
        toks.slice(a, b + 1).mkString(" ") }.toVector
    }
    val docs = Tables(spark, sf, "documents").select($"doc_id", $"text")
      .as[(Long, String)].collect().toList
    val got = graft.queries.TextPipeline
      .cdcChunked(Tables(spark, sf, "documents"))
      .select($"doc_id", $"chunk").as[(Long, String)].collect().toList
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    docs.foreach { case (id, text) =>
      val exp = chunksOf(text)
      assert(got(id).sorted == exp.sorted.toList, s"doc $id")
      // content-defined boundaries tile the doc with nothing lost
      assert(exp.mkString(" ") == text, s"doc $id does not re-assemble")
    }
    // re-sync: one prepended token may only perturb the FIRST chunk(s) —
    // every window ending past the insertion is a window of the original
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val base = Vector.fill(300)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val ca = chunksOf(base)
    val cb = chunksOf("XX " + base)
    assert(ca.size >= 10, "fixture too short to exercise re-sync")
    assert(ca.toSet.intersect(cb.toSet).size >= ca.size - 3,
      s"re-sync failed: ${ca.size} base chunks, ${ca.toSet.intersect(cb.toSet).size} shared")
  }
}
