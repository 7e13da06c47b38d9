package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** SURVEY §2.11 — text-analysis + deduplication operators for an
  * LLM-training-data pipeline, over the `documents` corpus.
  *
  * Scale design: everything is explode→hash-aggregate or hash-join on
  * content-derived keys (term, shingle, hash) — all shuffle-partitioned by
  * those keys, no driver-side state. The exact Jaccard self-join is the
  * small-scale ground truth; its 100 TB path is `m_dedup_minhash`
  * (MinHashLSH banding) and `m_dedup_simhash` (64-bit fingerprint with
  * 4-band blocking), both property-tested against the exact truth. */
object TextPipeline extends QueryGroup {

  /** Fixed CMS probe vocabulary — the terms the corpus keys already use
    * (BM25 query + quality stopwords). */
  private[graft] val cmsQueryTerms =
    Seq("spark", "join", "data", "select", "table", "row")

  /** Content-defined chunker (q_text_cdc's core, shared with its spec):
    * one exploded `chunk` row per content-defined chunk of `text`. A
    * break falls AFTER 0-based token i ∈ [2, n−2] whenever the first md5
    * nibble of the 3-token window ending at i is '0' (expected chunk ≈ 16
    * tokens); i = n−1 is excluded — it would mint an empty slice. All
    * HOFs, zero shuffles: marker filter → boundary positions → per-chunk
    * slice/join, per-doc work linear in tokens. */
  private[graft] def cdcChunked(df: DataFrame): DataFrame = df
    .withColumn("toks", split(col("text"), " "))
    .withColumn("bpos", expr(
      """CASE WHEN size(toks) >= 4
        |  THEN filter(sequence(2, size(toks) - 2), i ->
        |    substring(md5(concat_ws(' ', toks[i-2], toks[i-1], toks[i])),
        |              1, 1) = '0')
        |  ELSE filter(sequence(0, 0), i -> false) END""".stripMargin))
    .withColumn("chunk", explode(expr(
      """transform(sequence(0, size(bpos)), k ->
        |  array_join(slice(toks,
        |    (CASE WHEN k = 0 THEN 0 ELSE bpos[k-1] + 1 END) + 1,
        |    (CASE WHEN k = size(bpos) THEN size(toks) - 1
        |          ELSE bpos[k] END)
        |      - (CASE WHEN k = 0 THEN 0 ELSE bpos[k-1] + 1 END) + 1),
        |    ' '))""".stripMargin)))

  /** (doc_id, term) token stream — the shared substrate. */
  private def tokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("term"))
  }

  /** Distinct 3-gram token shingles per doc (docs with ≥3 tokens). */
  private def shinglesOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("s"))
      .distinct()
  }

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(t(s, dir, "documents"))

  private val shinglesCte =
    """WITH tt AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |            for i in range(1, len(toks) - 1)]) AS s
      |  FROM tt)""".stripMargin

  /** Document-frequency cap on the Jaccard shingle universe. A shingle in
    * more than this many documents is boilerplate ("all rights reserved"):
    * the inverted-index self-join fans out Σ_s df(s)² candidates, so one
    * hot shingle makes candidate generation quadratic in corpus size at
    * 100 TB. Dropping capped shingles from the universe (numerator AND
    * denominator, so Jaccard stays internally consistent) is lossless for
    * high-Jaccard pairs at sane caps and is DECLARED SEMANTICS mirrored
    * verbatim in the oracle CTE — the same discipline q_text_contam
    * already uses — so parity exercises the capped path. A no-op at
    * fixture density (max df ≈ tens), a hard fanout bound at scale. */
  private[graft] val jaccardMaxDf = 1000L

  /** df-cap applied to a (doc_id, s) shingle stream. */
  private def capShingles(sh0: DataFrame, maxDf: Long): DataFrame = {
    import sh0.sparkSession.implicits._
    val rare = sh0.groupBy($"s").agg(count(lit(1)).as("df"))
      .filter($"df" <= maxDf).select($"s")
    sh0.join(rare, Seq("s"))
  }

  /** Exact shingle-Jaccard pairs (d1 < d2, jaccard ≥ minJ) over a
    * df-capped shingle stream — the shared substrate of the near-dup
    * truth query and the dedup-clustering step. Shuffles on the shingle
    * key (the inverted-index join), never all pairs; [[jaccardMaxDf]]
    * bounds the per-shingle fanout. */
  private def pairsFromShingles(sh: DataFrame, minJ: Double): DataFrame = {
    import sh.sparkSession.implicits._
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"), Seq("s"))
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.select($"doc_id".as("d1"), $"n".as("n1")), Seq("d1"))
      .join(sizes.select($"doc_id".as("d2"), $"n".as("n2")), Seq("d2"))
      .withColumn("jaccard", r4($"ni" * lit(1.0) / ($"n1" + $"n2" - $"ni")))
      .filter($"jaccard" >= minJ)
      .select($"d1", $"d2", $"jaccard")
  }

  /** Standalone form over an explicit documents frame (tests plant
    * boilerplate through this). */
  private[graft] def jaccardPairsFrom(
      docs: DataFrame, minJ: Double, maxDf: Long = jaccardMaxDf): DataFrame =
    pairsFromShingles(capShingles(shinglesOf(docs), maxDf), minJ)

  /** Capped-shingle substrate memo: q_dedup_jaccard (minJ 0.8) and the
    * cluster memo (minJ 0.5) read the SAME capped stream, so the
    * scan + distinct + df-agg + cap-join executes once per (session, SF)
    * behind a lazy checkpoint — the [[graft.Tables]] discipline. */
  private val shingleMemo = new graft.SessionMemo[String, DataFrame]

  private def jaccardPairs(s: SparkSession, dir: String, minJ: Double): DataFrame =
    pairsFromShingles(
      shingleMemo.getOrCompute(s, dir) {
        capShingles(shingles(s, dir), jaccardMaxDf).localCheckpoint(eager = false)
      }, minJ)

  /** Oracle-side mirror of [[jaccardPairsFrom]]: appends the df-cap +
    * sizes/inter/pairs CTEs to [[shinglesCte]]. The `shdf`/`shf` CTEs are
    * the SQL twin of the [[jaccardMaxDf]] guard — both engines compute
    * Jaccard over the identical capped universe. */
  private def jaccardPairsCte(minJ: Double): String =
    shinglesCte +
      s""",
         |shdf AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
         |shf AS (SELECT sh.doc_id, sh.s FROM sh
         |        JOIN shdf ON shdf.s = sh.s WHERE shdf.df <= $jaccardMaxDf),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ni
         |  FROM shf a JOIN shf b ON a.s = b.s WHERE a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT d1, d2, round(ni * 1.0 / (s1.n + s2.n - ni), 4) AS jaccard
         |  FROM inter
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE round(ni * 1.0 / (s1.n + s2.n - ni), 4) >= $minJ)""".stripMargin

  /** Dedup-cluster assignment (doc_id, comp) for every doc in a ≥ 0.5
    * exact-Jaccard near-dup pair; comp = cluster-minimum doc_id. One eager
    * checkpoint: the pair list feeds both the vertex set and the CC edge
    * input, and CC's convergence loop re-reads it.
    *
    * Memoized per (session, sfDir), same discipline as [[graft.Tables]]:
    * q_dedup_cluster and q_dedup_keep are two views of ONE clustering run,
    * so the shingle join + CC contraction executes once per session/SF.
    * The memoized plan ends at CC's final localCheckpoint, so downstream
    * re-use replays no iteration. Entries evict with the owning session
    * ([[graft.SessionMemo]] — a stopped session must not stay pinned). */
  private val clusterMemo = new graft.SessionMemo[String, DataFrame]

  private def clusterAssign(s: SparkSession, dir: String): DataFrame =
    clusterMemo.getOrCompute(s, dir) {
      import s.implicits._
      val pairs = jaccardPairs(s, dir, 0.5)
        .select($"d1", $"d2").localCheckpoint(eager = true)
      val verts = pairs.select($"d1".as("id"))
        .unionAll(pairs.select($"d2".as("id"))).distinct()
      graft.operators.ConnectedComponents
        .run(s, verts, pairs.select($"d1".as("src"), $"d2".as("dst")))
        .select($"id".as("doc_id"), $"comp")
    }

  val queries: Map[String, QFn] = Map(
    "q_text_tokens" -> ((s, dir) => {
      import s.implicits._
      tokens(s, dir)
        .groupBy($"term")
        .agg(count(lit(1)).as("cnt"), countDistinct($"doc_id").as("doc_freq"))
        .orderBy($"cnt".desc, $"term")
        .limit(50)
    }),

    // Heavy hitters via the Misra-Gries sketch (k=32 counters): the
    // fixed-memory twin of q_text_tokens for unbounded vocabularies —
    // shuffle bytes k·|groups| instead of |vocabulary| (map-side combine
    // merges sketches). Estimates are order-dependent (any MG/SpaceSaving
    // is); the certified bounds est ≤ true ≤ est + max_err are not, and
    // FunctionsSpec pins them against exact counts. No SQL oracle by
    // design (DuckDB has no MG) → rows-only check + property tests.
    "m_text_heavyhitters" -> ((s, dir) => {
      import s.implicits._
      tokens(s, dir)
        .agg(graft.functions.MgTopTerms.mgTopTerms($"term", 32).as("sk"))
        .select(explode($"sk").as("e"))
        .select($"e.term", $"e.est", $"e.max_err")
        .orderBy($"est".desc, $"term")
        .limit(20)
    }),

    // Count-min point queries (r9): the overestimate-side twin of
    // m_text_heavyhitters — MG brackets true counts from below, CMS from
    // above (true ≤ est ≤ true + εN w.h.p.), both with FIXED per-group
    // state through partial aggregation. The query-term list is the fixed
    // vocabulary the corpus keys already probe (BM25/quality terms), an
    // operator constant; est is order-independent (increment + element-wise
    // sum are commutative), so the output is bit-stable under ANY
    // partitioning — FunctionsSpec pins that plus the bounds vs exact.
    "m_text_countmin" -> ((s, dir) => {
      import s.implicits._
      tokens(s, dir)
        .agg(graft.functions.CmsCounts.cmsCounts($"term", depth = 4, width = 512,
          queryTerms = cmsQueryTerms).as("sk"))
        .select(explode($"sk").as("e"))
        .select($"e.term", $"e.est", $"e.n")
        .orderBy($"term")
    }),

    "q_text_tfidf" -> ((s, dir) => {
      import s.implicits._
      val tok = tokens(s, dir)
      val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      // Round-19 note: a df-from-tf rewrite (df = tf's per-term row count,
      // dropping this second scan + distinct) was built, oracle-verified,
      // and REVERTED — two full bench runs read it 0.95/0.97 s vs the
      // 0.69 s floor of this shape (the branch-duplicated tf subtree costs
      // more here than the saved scan; exchange reuse does not recover
      // it). Kept as measured evidence in OPTIMIZATION_r19.md §6.
      val df = tok.select($"doc_id", $"term").distinct()
        .groupBy($"term").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .withColumn("score",
          round($"tf" * (log(($"n_docs" + 1.0) / ($"df" + 1.0)) + 1.0), 6))
      val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
      scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .groupBy($"term").agg(count(lit(1)).as("n_docs_top"))
        .orderBy($"n_docs_top".desc, $"term")
    }),

    // BM25 ranked retrieval (r9): top-20 docs for a fixed 3-term query —
    // the scoring function of every lexical retrieval stage (Robertson-
    // Spärck Jones). Every factor derives from integers (tf, df, dl,
    // n_docs, sum_dl), so the per-row double expression is deterministic
    // and written IDENTICALLY in both engines (same literals, same
    // parenthesization — k1=1.2, b=0.75 appear as 2.2/1.2/0.25/0.75);
    // the ≤3-term per-doc sum goes through DECIMAL like every double sum
    // (ln parity with DuckDB at round(6) has held since the tfidf key).
    // Plan: tf/df only over the 3 query terms (filter BEFORE the agg),
    // dl one doc-keyed agg, stats broadcast — never a corpus-wide score.
    "q_text_bm25" -> ((s, dir) => {
      import s.implicits._
      val qterms = Seq("spark", "join", "data")
      val tok = tokens(s, dir)
      val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
      val qtok = tok.filter($"term".isin(qterms: _*))
      val tf = qtok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val df = qtok.select($"doc_id", $"term").distinct()
        .groupBy($"term").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), Seq("term"))
        .join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
        .withColumn("bm25",
          log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
            ($"tf" * 2.2) /
            ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) *
              ($"dl" / (($"sum_dl" * 1.0) / $"n_docs")))))
      scored.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_terms"),
             dsumR($"bm25", 6, 10).as("score"))
        .orderBy($"score".desc, $"doc_id")
        .limit(20)
    }),

    // Bigram language-model quality scoring (r9, rewritten r13): the
    // perplexity-filter stage of a training-data pipeline (CCNet-style —
    // score every document under a corpus-trained LM; the tail of the
    // score distribution is boilerplate/garbled text). Model:
    // add-one-smoothed bigram LM trained on the corpus itself —
    // lp(w1,w2) = ln((c2(w1,w2)+1) / (c1(w1)+V)) with c1 counting w1 as a
    // bigram PREFIX (so Σ_w2 p(w2|w1) = 1) and V the vocabulary of the
    // bigram TRAINING corpus (docs with ≥ 2 tokens — the LM's actual
    // event space, distinct(w1 ∪ w2)); doc score = mean lp over its
    // bigram occurrences; output = the 20 most-surprising docs.
    // ONE corpus scan (the q_events_attr discipline): the exploded
    // bigrams aggregate straight to the per-(doc, w1, w2) count frame,
    // lazy-checkpointed — c2, c1, V and the scoring join all read the
    // checkpoint instead of re-deriving scan+explode (the r12 shape
    // computed the exploded frame THREE times plus a fourth scan for V
    // and was the suite's slowest key). Determinism: every model input
    // is an exact integer (c2, c1, V, n), the per-bigram double is ONE
    // expression rounded to 6 (the tfidf ln-parity discipline), and the
    // occurrence-weighted doc mean multiplies IN DECIMAL (lp cast to
    // DECIMAL(18,6) — the proven parity cast — times the exact count n).
    // Plan/scale: the checkpoint materializes one content-keyed shuffle;
    // the model re-aggs and the scoring join shuffle on bigram/prefix
    // keys, V broadcast — model tables stay distributed, no all-pairs,
    // no driver state.
    "q_text_lmscore" -> ((s, dir) => {
      import s.implicits._
      val bgc = t(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))"))
          .as("bg"))
        .groupBy($"doc_id", $"bg.w1".as("w1"), $"bg.w2".as("w2"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(eager = false)
      val c2 = bgc.groupBy($"w1", $"w2").agg(sum($"n").as("c2"))
      val c1 = bgc.groupBy($"w1").agg(sum($"n").as("c1"))
      val vocab = bgc.select($"w1".as("term"))
        .union(bgc.select($"w2".as("term")))
        .agg(countDistinct($"term").as("v"))
      bgc.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("lp", round(log(($"c2" + 1.0) / ($"c1" + $"v")), 6))
        .groupBy($"doc_id")
        .agg(sum($"n").as("n_bigrams"),
             r4(sum($"lp".cast(org.apache.spark.sql.types.DecimalType(18, 6)) * $"n")
               .cast("double") / sum($"n")).as("avg_lp"))
        .orderBy($"avg_lp".asc, $"doc_id")
        .limit(20)
    }),

    "q_text_langstats" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("n_tok", size(split($"text", " ")).cast("long"))
        .groupBy($"lang", $"source")
        .agg(count(lit(1)).as("n_docs"),
             r4(sum($"n_chars") * lit(1.0) / count(lit(1))).as("avg_chars"),
             r4(sum($"n_tok") * lit(1.0) / count(lit(1))).as("avg_tokens"))
        .orderBy($"lang", $"source")
    }),

    // Jensen–Shannon divergence of each source's document-length
    // distribution from the corpus distribution — the symmetric, bounded
    // ([0, ln 2]) drift score curation dashboards prefer over one-sided
    // KL (Lin, IEEE Trans. Inf. Theory 1991): which sources' length
    // profiles deviate most from the corpus mix. Distributions live on
    // the declared 50-char bucket grid with add-1 smoothing over the
    // corpus's observed bucket set (the q_stat_psi discipline), so every
    // probability divides integer-exact operands; each ln is
    // round(6)-pinned BEFORE the multiply and the per-source sum is
    // DECIMAL-routed — bit-stable in both engines. The bucket set is
    // bounded by max doc length / 50, never by corpus size, so the
    // source × bucket grid stays broadcast-able at any volume; the one
    // data-sized job is the (source, bucket) hash agg.
    "q_text_jsd" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").withColumn("b", expr("n_chars div 50"))
      val glob = d.groupBy($"b").agg(count(lit(1)).as("cg"))
      val src = d.groupBy($"source", $"b").agg(count(lit(1)).as("cs"))
      val srcs = d.groupBy($"source").agg(count(lit(1)).as("ns"))
      val tot = glob.agg(sum($"cg").as("ng"), count(lit(1)).as("nb"))
      srcs.crossJoin(broadcast(glob)).crossJoin(broadcast(tot))
        .join(src, Seq("source", "b"), "left")
        .withColumn("cs0", coalesce($"cs", lit(0L)))
        .withColumn("p", ($"cs0" + 1L).cast("double") / ($"ns" + $"nb"))
        .withColumn("q", ($"cg" + 1L).cast("double") / ($"ng" + $"nb"))
        .withColumn("m", ($"p" + $"q") / 2.0)
        .withColumn("term",
          lit(0.5) * $"p" * round(log($"p" / $"m"), 6) +
          lit(0.5) * $"q" * round(log($"q" / $"m"), 6))
        .groupBy($"source")
        .agg(max($"ns").as("n_docs"), max($"nb").as("n_bins"),
             round(sum($"term".cast(DecimalType(28, 12))), 6).cast("double")
               .as("jsd"))
        .orderBy($"source")
    }),

    // Zipf's-law fit of the corpus unigram frequencies (Zipf 1949;
    // Piantadosi, Psychon. Bull. Rev. 2014) — the corpus-health
    // diagnostic every curation report opens with: a natural corpus has
    // log-freq ≈ a − s·log-rank with s ≈ 1; templated/synthetic corpora
    // bend the curve. OLS over the top-100 (rank, freq) pairs in log-log
    // space: ranks from ONE global frequency sort (row_number over
    // (freq desc, term asc) — a total order, so ties cannot re-rank
    // between engines), each ln round(6)-pinned, every power-sum term
    // DECIMAL-routed before the ≤100-row sum, slope/intercept/r from
    // identical double operands (the q_stat_ols closed form in the
    // double domain). The only data-sized jobs are the term count and
    // the single exchange into the 100-row window; everything after is
    // constant-sized at any corpus volume.
    "q_text_zipf" -> ((s, dir) => {
      import s.implicits._
      val freq = tokens(s, dir).groupBy($"term").agg(count(lit(1)).as("f"))
      val w = Window.orderBy($"f".desc, $"term")
      val top = freq.withColumn("rk", row_number().over(w)).filter($"rk" <= 100)
        .withColumn("x", round(log($"rk".cast("double")), 6))
        .withColumn("y", round(log($"f".cast("double")), 6))
      val dec = DecimalType(28, 12)
      top.agg(
          count(lit(1)).as("n"),
          sum($"x".cast(dec)).cast("double").as("sx"),
          sum($"y".cast(dec)).cast("double").as("sy"),
          sum(($"x" * $"y").cast(dec)).cast("double").as("sxy"),
          sum(($"x" * $"x").cast(dec)).cast("double").as("sxx"),
          sum(($"y" * $"y").cast(dec)).cast("double").as("syy"))
        .select($"n".as("n_terms"),
          round(($"n" * $"sxy" - $"sx" * $"sy") /
                ($"n" * $"sxx" - $"sx" * $"sx"), 4).as("slope"),
          round(($"sy" * $"sxx" - $"sx" * $"sxy") /
                ($"n" * $"sxx" - $"sx" * $"sx"), 4).as("intercept"),
          round(($"n" * $"sxy" - $"sx" * $"sy") /
                (sqrt($"n" * $"sxx" - $"sx" * $"sx") *
                 sqrt($"n" * $"syy" - $"sy" * $"sy")), 4).as("r"))
    }),

    // Quality scoring: deterministic rational heuristics (length, stopword
    // ratio, mean token length), averaged per language.
    "q_text_quality" -> ((s, dir) => {
      import s.implicits._
      val stops = Seq("select", "join", "table", "row", "data")
      val q = t(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .withColumn("n_tok", size($"toks").cast("double"))
        .withColumn("n_stop",
          size(filter($"toks", x => x.isin(stops.map(lit(_)): _*))).cast("double"))
        .withColumn("avg_len",
          length(regexp_replace($"text", " ", "")) * lit(1.0) / $"n_tok")
        .withColumn("quality",
          lit(0.3) * least($"n_tok" / 100.0, lit(1.0)) +
          lit(0.4) * (lit(1.0) - $"n_stop" / $"n_tok") +
          lit(0.3) * least($"avg_len" / 8.0, lit(1.0)))
      q.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), r4(davg($"quality", 6)).as("avg_quality"))
        .orderBy($"lang")
    }),

    // Language-ID by n-gram/token profile: profile = top-20 tokens per lang
    // (self-trained on the corpus), prediction = max-overlap lang.
    "q_text_langid" -> ((s, dir) => {
      import s.implicits._
      val tok = tokens(s, dir)
      val wp = Window.partitionBy($"lang").orderBy($"cnt".desc, $"term")
      val profile = tok.groupBy($"lang", $"term").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wp)).filter($"rn" <= 20)
        .select($"lang".as("plang"), $"term")
      val docTerms = tok.select($"doc_id", $"lang", $"term").distinct()
      val overlap = docTerms.join(broadcast(profile), Seq("term"))
        .groupBy($"doc_id", $"lang", $"plang").agg(count(lit(1)).as("ov"))
      val wd = Window.partitionBy($"doc_id").orderBy($"ov".desc, $"plang")
      overlap.withColumn("rn", row_number().over(wd)).filter($"rn" === 1)
        .groupBy($"lang", $"plang".as("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"lang", $"predicted")
    }),

    // Document fingerprint: winnowing-style minimum shingle hash (md5 —
    // identical hex in both engines).
    "q_text_fingerprint" -> ((s, dir) => {
      import s.implicits._
      shingles(s, dir)
        .groupBy($"doc_id").agg(min(md5($"s")).as("fp"))
        .orderBy($"doc_id")
    }),

    // TRUE winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    // SIGMOD 2003) — per-window minima over positional 3-gram hashes,
    // window w = 4, RIGHTMOST-min tie convention (the paper's robust
    // winnowing): the published guarantee q_text_fingerprint's single
    // global min cannot give — any shared token run of ≥ w+2 tokens
    // shares a selected fingerprint, and expected density is 2/(w+1).
    // Selection is expressed relationally: a per-doc ordered window MIN
    // (frame CURRENT..w−1 FOLLOWING) names each window's min hash, and
    // the "which position" join is a BANDED EQUI-JOIN — candidates
    // explode to their w covering windows (offset 0..w−1), so the match
    // is (doc, window-start) keyed, never a range join (the
    // q_time_peaks banding discipline). Everything is exact md5-string
    // comparison; density is one division of exact longs. Scale: two
    // window passes + one equi-join, all doc-partitioned; fanout is a
    // fixed ×w on the gram rows.
    "q_text_winnow" -> ((s, dir) => {
      import s.implicits._
      val w = 4
      val g = t(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 3)
        .select($"doc_id", posexplode(expr(
          "transform(sequence(0, size(toks) - 3), i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))")))
        .withColumnRenamed("col", "h")
      val wDoc = Window.partitionBy($"doc_id")
      // Round-19 rewrite (guide §2.4 — remove shuffles outright): the
      // rightmost-min of each w-gram window is computed from ONE ordered
      // collect_list window + an O(w) codegen'd fold, replacing the prior
      // shape's second shingle derivation, ×w candidate explode, and
      // banded equi-join (plan: 2 scans + 6 exchanges → 1 scan + 3; the
      // md5 pass over the corpus runs once, not twice). Selection
      // semantics are IDENTICAL — fp = window min, fpos = rightmost
      // position attaining it — and the oracle pins the results.
      g.withColumn("gg", count(lit(1)).over(wDoc))
        .withColumn("warr", collect_list($"h").over(
          Window.partitionBy($"doc_id").orderBy($"pos").rowsBetween(0, w - 1)))
        .filter($"pos" <= $"gg" - w)
        .withColumn("fp", array_min($"warr"))
        .withColumn("fpos", $"pos" + expr(
          "aggregate(sequence(0, size(warr) - 1), -1, (acc, i) -> IF(warr[i] = fp, i, acc))"))
        .groupBy($"doc_id")
        .agg(max($"gg").as("n_grams"),
             countDistinct($"fp", $"fpos").as("n_fp"))
        .withColumn("n_windows", $"n_grams" - lit(w - 1).cast("long"))
        .select($"doc_id", $"n_grams", $"n_windows", $"n_fp",
          round($"n_fp".cast("double") / $"n_windows", 6).as("density"))
        .orderBy($"doc_id")
    }),

    "q_token_count" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("n_ws", size(split($"text", " ")).cast("long"))
        .withColumn("n_bpe", size(regexp_extract_all($"text", lit("[a-z0-9]{1,4}"), lit(0))).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
             sum($"n_ws").as("ws_tokens"),
             sum($"n_bpe").as("bpe_tokens"),
             r4(sum($"n_bpe") * lit(1.0) / sum($"n_ws")).as("bpe_per_ws"))
        .orderBy($"source")
    }),

    // Exact-dup groups on the full normalized text AND on the 8-token
    // normalized prefix (the corpus has planted prefix-sharing near-dups).
    "q_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val full = d.select(lit("full").as("mode"),
        sha2(lower(trim($"text")), 256).as("h"))
      val pref = d.select(lit("prefix8").as("mode"),
        sha2(array_join(slice(split($"text", " "), 1, 8), " "), 256).as("h"))
      full.unionAll(pref)
        .groupBy($"mode", $"h").agg(count(lit(1)).as("n"))
        .filter($"n" > 1)
        .orderBy($"mode", $"h")
    }),

    // Exact 3-gram-shingle Jaccard ≥ 0.8 over the df-capped shingle
    // universe (jaccardMaxDf, declared on both engines) — ground truth for
    // MinHash/SimHash.
    "q_dedup_jaccard" -> ((s, dir) =>
      jaccardPairs(s, dir, 0.8).orderBy(col("d1"), col("d2"))),

    // Dedup clustering: the keep/drop decision step after pair generation.
    // Near-dup pairs (exact Jaccard ≥ 0.5) → connected components → each doc
    // labeled with its cluster representative (the component-minimum doc_id;
    // "keep comp, drop the rest" is then a filter). The CC operator is the
    // same alternating-star contraction DBSCAN uses — edge-list joins all
    // the way down, no driver state above the documented local endgame. The
    // oracle computes the same fixpoint via a recursive reachability CTE.
    "q_dedup_cluster" -> ((s, dir) =>
      clusterAssign(s, dir).orderBy(col("doc_id"))),

    // The materialize step after clustering: which documents survive.
    // Per language: total docs, docs dropped (cluster non-representatives),
    // docs kept — "kept" is what the deduped training corpus would ship.
    // No broadcast hint on the dropped-id set: near-dup drop sets in web
    // corpora can be 10-50% of all docs, far past the 8 GB broadcast limit
    // at 100 TB. A doc_id-keyed shuffle join scales with the corpus, and
    // AQE still downgrades it to broadcast when the set IS small.
    "q_dedup_keep" -> ((s, dir) => {
      import s.implicits._
      val dropped = clusterAssign(s, dir)
        .filter($"doc_id" =!= $"comp")
        .select($"doc_id", lit(1L).as("is_drop"))
      t(s, dir, "documents")
        .join(dropped, Seq("doc_id"), "left")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
             sum(coalesce($"is_drop", lit(0L))).as("n_dropped"),
             (count(lit(1)) - sum(coalesce($"is_drop", lit(0L)))).as("n_kept"))
        .orderBy($"lang")
    }),

    // Content-defined chunking dedup (the rsync/casync/FastCDC idea at
    // token granularity): chunk boundaries are declared by the CONTENT —
    // a break after token i whenever the first md5 nibble of the 3-token
    // window ending at i reads '0' (expected chunk ≈ 16 tokens) — so an
    // insertion re-synchronizes within one window and identical passages
    // chunk identically in EVERY doc, which is what makes chunk-hash
    // dedup work where fixed-width blocks fail. Per source: chunk count,
    // distinct chunk hashes, dup ratio, mean chunk length. The WHOLE
    // chunker runs inside codegen as array HOFs over each doc's token
    // array (marker filter → boundary positions → slice/join per chunk)
    // — zero shuffles until the final source agg + distinct; the oracle
    // reaches the same chunks through the equivalent lag-window/cumsum
    // formulation. Breaks at the last token are excluded on both
    // engines (they would mint an empty chunk slice / change nothing in
    // the cumsum). At 100 TB this is the pure map-side shape: per-doc
    // work linear in tokens, one hash-keyed distinct.
    "q_text_cdc" -> ((s, dir) => {
      import s.implicits._
      cdcChunked(t(s, dir, "documents"))
        .select($"source", $"doc_id", md5($"chunk").as("h"),
                size(split($"chunk", " ")).cast("long").as("len"))
        .groupBy($"source")
        .agg(countDistinct($"doc_id").as("n_docs"),
             count(lit(1)).as("n_chunks"),
             countDistinct($"h").as("n_distinct_chunks"),
             round(lit(1.0) -
               countDistinct($"h").cast("double") / count(lit(1)), 6)
               .as("dup_ratio"),
             round(sum($"len").cast("double") / count(lit(1)), 2)
               .as("avg_chunk_tokens"))
        .orderBy($"source")
    }),

    // Cross-doc repeated-SPAN coverage — the token-granular approximation
    // of exact-substring dedup (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better", ACL 2022): per doc, the fraction of
    // its TOKENS covered by some 5-gram that also occurs in another doc.
    // Positional 5-grams (posexplode keeps i) → doc-frequency inverted
    // index (df ≥ 2 = cross-doc; within-doc repetition is q_text_repetition's
    // signal, deliberately excluded) → union-of-intervals coverage per doc
    // via one ordered window: each dup position contributes
    // min(5, i − prev_i) tokens, so overlapping spans never double-count.
    // Shuffles: shingle-keyed agg + join (inverted index, never doc
    // pairs), then one doc_id window + one source hash-agg — all
    // content-keyed, the same 100 TB shape as novelty/contam. dup_frac is
    // exact long/long division, identical both engines, so the ≥ 0.3
    // flagging threshold cannot flap.
    "q_dedup_substring" -> ((s, dir) => {
      import s.implicits._
      val tt = t(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 5)
      val pos = tt.select($"doc_id", posexplode(expr(
        "transform(sequence(0, size(toks) - 5), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))"))
        .as(Seq("i", "sh5")))
      val dup = pos.groupBy($"sh5")
        .agg(countDistinct($"doc_id").as("df"))
        .filter($"df" >= 2).select($"sh5")
      val w = Window.partitionBy($"doc_id").orderBy($"i")
      val cov = pos.join(dup, Seq("sh5"))
        .withColumn("prev", lag($"i", 1).over(w))
        .withColumn("covered",
          when($"prev".isNull, lit(5)).otherwise(least(lit(5), $"i" - $"prev")))
        .groupBy($"doc_id").agg(sum($"covered").cast("long").as("dup_tokens"))
      tt.select($"doc_id", $"source", size($"toks").cast("long").as("n_tok"))
        .join(cov, Seq("doc_id"), "left")
        .withColumn("dup_tokens", coalesce($"dup_tokens", lit(0L)))
        .withColumn("dup_frac", $"dup_tokens" / $"n_tok")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
             sum(when($"dup_frac" >= 0.3, 1L).otherwise(0L)).as("n_flagged"),
             sum($"dup_tokens").as("dup_tokens"),
             r4(davg($"dup_frac", 6)).as("avg_dup_frac"))
        .orderBy($"source")
    }),

    // Gopher-style repetition signal: per-doc duplicate-3-gram fraction
    // (1 − distinct/total shingles), aggregated per language. One pass, no
    // join: the per-row HOFs stay in whole-stage codegen and the only
    // shuffle is the final lang hash-agg.
    // Compression-ratio quality signal (the Gopher/RefinedWeb-era filter:
    // highly compressible text is repetitive boilerplate; barely
    // compressible text is noise/encoded junk) — REAL DEFLATE via
    // java.util.zip, no external deps. mapPartitions amortizes one
    // Deflater (native zlib context) across the partition — the same
    // init-once-per-batch seam as the multimodal decoder — and the op is
    // embarrassingly parallel: zero shuffle before the source hash-agg.
    // No SQL oracle (DuckDB exposes no deflate) → rows-only check +
    // FunctionsSpec properties: determinism across runs, repetitive ≪
    // random ratio separation, ratio bounds.
    "q_text_compress" -> ((s, dir) => {
      import s.implicits._
      val scored = t(s, dir, "documents")
        .select($"doc_id", $"source", $"text").as[(Long, String, String)]
        .mapPartitions { it =>
          val deflater = new java.util.zip.Deflater(6)
          val buf = new Array[Byte](1 << 16)
          it.map { case (id, src, text) =>
            deflater.reset()
            val in = text.getBytes("UTF-8")
            deflater.setInput(in)
            deflater.finish()
            var n = 0L
            while (!deflater.finished()) n += deflater.deflate(buf)
            (id, src, in.length.toLong, n)
          } ++ {
            // release the native zlib context when the partition drains
            // (GC cleaners are too late on large-heap executors); the
            // by-name ++ operand evaluates only after `it` is exhausted
            deflater.end()
            Iterator.empty
          }
        }
        .toDF("doc_id", "source", "n_raw", "n_deflate")
      scored
        .withColumn("ratio", $"n_deflate" / $"n_raw")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
             r4(davg($"ratio", 6)).as("avg_ratio"),
             sum(when($"ratio" < 0.35, 1L).otherwise(0L)).as("n_flagged"))
        .orderBy($"source")
    }),

    "q_text_repetition" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 3)
        .withColumn("n_sh", (size($"toks") - 2).cast("double"))
        .withColumn("n_uniq", size(array_distinct(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))
          .cast("double"))
        .withColumn("rep", lit(1.0) - $"n_uniq" / $"n_sh")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
             r4(davg($"rep", 6)).as("avg_rep"),
             r4(max($"rep")).as("max_rep"),
             sum(when($"rep" > 0.2, 1L).otherwise(0L)).as("n_repetitive"))
        .orderBy($"lang")
    }),

    // Corpus novelty: per-doc fraction of its distinct 3-gram shingles
    // FIRST seen in that doc (first = min doc_id, i.e. ingestion order) —
    // the "how much of this doc is new text" signal that separates
    // original content from copy-heavy tail during corpus triage. The
    // first-occurrence table is a shingle-keyed min aggregate (inverted
    // index, never doc pairs); the join back is equi-keyed on shingle and
    // the final agg on doc_id — two content-keyed shuffles total at any
    // scale. novelty = one per-row long/long division (deterministic both
    // engines), never an average of doubles.
    "q_text_novelty" -> ((s, dir) => {
      import s.implicits._
      val sh = t(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .filter(size($"toks") >= 3)
        .select($"doc_id", explode(array_distinct(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")))
          .as("shingle"))
      // Round-19 (guide §2.4): first_doc as a shingle-partitioned window
      // MIN instead of a groupBy + self-join — the shingle frame is
      // derived and shuffled once, not twice. Exact-integer equivalence,
      // oracle-pinned.
      sh.withColumn("first_doc",
          min($"doc_id").over(Window.partitionBy($"shingle")))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
             sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", round($"n_novel" / $"n_shingles", 4))
        .orderBy($"doc_id")
    }),

    // C4-style percentile-band length filter: per-lang exact P05/P95 of the
    // token count, then classify every doc as below/inside/above the band —
    // the outlier-length cut of a corpus-cleaning pass. Thresholds are
    // ROUNDED to 4 decimals before the comparison: the interpolated
    // quantile is a small-denominator rational (exact at ≤4 decimals), so
    // rounding erases the one-ulp gap between Spark's a + g·(b−a) and
    // DuckDB's interpolation formula that could otherwise flip a doc whose
    // integer length ties a threshold. Stats broadcast onto the corpus
    // scan, same shape as q_anomaly_zscore.
    "q_text_pfilter" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .withColumn("n_tok", size(split($"text", " ")).cast("double"))
      val st = d.groupBy($"lang")
        .agg(r4(percentile($"n_tok", lit(0.05))).as("p05"),
             r4(percentile($"n_tok", lit(0.95))).as("p95"))
      d.join(broadcast(st), Seq("lang"))
        .groupBy($"lang")
        .agg(min($"p05").as("p05"), min($"p95").as("p95"),
             sum(when($"n_tok" < $"p05", 1L).otherwise(0L)).as("n_below"),
             sum(when($"n_tok" >= $"p05" && $"n_tok" <= $"p95", 1L).otherwise(0L))
               .as("n_kept"),
             sum(when($"n_tok" > $"p95", 1L).otherwise(0L)).as("n_above"))
        .orderBy($"lang")
    }),

    // Deterministic train/val/test split: first hex nibble of md5(doc_id)
    // buckets 12/2/2 → 75%/12.5%/12.5%. Content-keyed hashing (not
    // rand()/mod-counter) is what keeps the split stable under re-runs,
    // re-partitioning, and incremental corpus appends at 100 TB.
    // Benchmark decontamination: which TEST-split docs share ≥3 distinct
    // 8-gram shingles with any TRAIN doc — the train/eval leakage scan a
    // training-data pipeline runs before any benchmark number is trusted.
    // Candidates come from the 8-gram inverted-index join (shuffles on the
    // shingle key, never doc pairs), with a doc-frequency cap (df ≤ 1000)
    // dropping boilerplate shingles — a no-op at fixture density but the
    // guard that bounds hot-shingle fanout at 100 TB, and it is part of the
    // declared semantics on BOTH engines so parity exercises the code path.
    // Per-lang: test-doc count, contaminated count, max shared shingles.
    "q_text_contam" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .withColumn("b", substring(md5($"doc_id".cast("string")), 1, 1))
        .withColumn("split",
          when($"b" < "c", "train").when($"b" < "e", "val").otherwise("test"))
        .withColumn("toks", split($"text", " "))
      val sh = d.filter(size($"toks") >= 8)
        .select($"doc_id", $"lang", $"split", explode(expr(
          "transform(sequence(0, size(toks) - 8), i -> concat_ws(' ', slice(toks, i + 1, 8)))"))
          .as("sh8"))
        .distinct()
      val rare = sh.groupBy($"sh8").agg(count(lit(1)).as("df"))
        .filter($"df" <= 1000).select($"sh8")
      val shf = sh.join(rare, Seq("sh8"))
      val pairs = shf.filter($"split" === "train").select($"doc_id".as("tr"), $"sh8")
        .join(shf.filter($"split" === "test")
          .select($"doc_id".as("te"), $"lang", $"sh8"), Seq("sh8"))
        .groupBy($"te", $"lang", $"tr")
        .agg(countDistinct($"sh8").as("n_shared"))
        .filter($"n_shared" >= 3)
      val contam = pairs.groupBy($"lang")
        .agg(countDistinct($"te").as("nc"), max($"n_shared").as("ms"))
      d.filter($"split" === "test").groupBy($"lang")
        .agg(count(lit(1)).as("n_test_docs"))
        .join(contam, Seq("lang"), "left")
        .select($"lang", $"n_test_docs",
                coalesce($"nc", lit(0L)).as("n_contaminated"),
                coalesce($"ms", lit(0L)).as("max_shared"))
        .orderBy($"lang")
    }),

    // Stratified corpus sampling: a fixed 20% quota PER LANGUAGE, picked
    // by content-keyed md5 rank — the language-balance step of a
    // training-data mix (uniform sampling would inherit the corpus skew).
    // Deterministic and reproducible (never rand()); unlike q_sample_split
    // the per-stratum QUOTA depends on the stratum's size, so decisions
    // legitimately shift as the corpus grows — that is the semantics of
    // quota sampling, not instability (the fraction-split key keeps the
    // append-stable contract). One lang-keyed window pass + one hash agg.
    "q_sample_stratified" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"lang").orderBy($"hk", $"doc_id")
      t(s, dir, "documents")
        .withColumn("hk", md5($"doc_id".cast("string")))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"lang")))
        .withColumn("keep", $"rn" <= ceil($"n" * 0.2))
        .withColumn("n_tok", size(split($"text", " ")).cast("long"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
             count(when($"keep", 1)).as("n_sampled"),
             sum(when($"keep", $"n_tok")).as("n_tokens_sampled"))
        .orderBy($"lang")
    }),

    "q_sample_split" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("b", substring(md5($"doc_id".cast("string")), 1, 1))
        .withColumn("split",
          when($"b" < "c", "train").when($"b" < "e", "val").otherwise("test"))
        .withColumn("n_tok", size(split($"text", " ")).cast("long"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .orderBy($"split", $"lang")
    }),

    // Per-domain cap (the host/source frequency cap of CCNet/GPT-3-style
    // corpus curation): keep at most 10 docs per source, chosen by
    // content-keyed rank (md5(doc_id), doc_id) — never rand(), so reruns,
    // repartitions, and corpus appends keep the same survivors (appends
    // can only displace from rank 10 down, same contract as
    // q_sample_split). One source-keyed shuffle for the rank window; the
    // per-lang rollup of kept docs crosses the capping key so the result
    // reflects the kept SET, not just per-source counts. At 100 TB the cap
    // is the defense against a single crawling artifact (one host, one
    // boilerplate template) dominating the training mix.
    "q_cap_domain" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"hk", $"doc_id")
      t(s, dir, "documents")
        .withColumn("n_tok", size(split($"text", " ")).cast("long"))
        .withColumn("hk", md5($"doc_id".cast("string")))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_tok").as("tokens_kept"))
        .orderBy($"lang")
    }),

    // The END-TO-END curation pipeline as ONE declarative plan — the
    // composition story behind the per-stage keys: exact dedup (keep the
    // min doc_id per content hash) → per-source cap ≤ 10 (content-keyed
    // rank) → per-lang P05..P95 length band (percentiles computed on the
    // CAPPED corpus — pipeline order is a declared semantic) → 12/2/2
    // hash split → per-(split, lang) doc/token rollup. Every stage is the
    // established discipline of its standalone key, so Catalyst sees one
    // plan: two window passes (hash-partitioned on content hash, then
    // source), one percentile agg broadcast back, one final rollup — at
    // 100 TB the corpus shuffles exactly twice before the ≤30-row output.
    // COMPOSITION LESSON (found by this key's own sf0.1 run): the cap
    // rank and the split MUST use independently-salted hashes. Ranking by
    // the split hash keeps exactly the docs with the SMALLEST md5 per
    // source, and at scale the 10 smallest of thousands all start with
    // '0' — every survivor lands in 'train' and val/test are EMPTY. Each
    // hash is fine alone (q_cap_domain, q_sample_split); composed
    // unsalted they collude. Salting the rank key ("cap:" prefix)
    // restores split independence.
    "q_pipeline_e2e" -> ((s, dir) => {
      import s.implicits._
      val wDup = Window.partitionBy($"h").orderBy($"doc_id")
      val wSrc = Window.partitionBy($"source").orderBy($"rk", $"doc_id")
      val surv = t(s, dir, "documents")
        .withColumn("h", sha2(lower(trim($"text")), 256))
        .withColumn("rdup", row_number().over(wDup))
        .filter($"rdup" === 1)
        .withColumn("hk", md5($"doc_id".cast("string")))
        .withColumn("rk", md5(concat(lit("cap:"), $"doc_id".cast("string"))))
        .withColumn("rsrc", row_number().over(wSrc))
        .filter($"rsrc" <= 10)
        .withColumn("n_tok", size(split($"text", " ")).cast("double"))
      val st = surv.groupBy($"lang")
        .agg(r4(percentile($"n_tok", lit(0.05))).as("p05"),
             r4(percentile($"n_tok", lit(0.95))).as("p95"))
      surv.join(broadcast(st), Seq("lang"))
        .filter($"n_tok" >= $"p05" && $"n_tok" <= $"p95")
        .withColumn("split",
          when(substring($"hk", 1, 1) < "c", "train")
            .when(substring($"hk", 1, 1) < "e", "val").otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"),
             sum($"n_tok".cast("long")).as("n_tokens"))
        .orderBy($"split", $"lang")
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    // IPL 2006): each doc draws priority ln(u)/w; keeping the k LARGEST
    // priorities is distribution-identical to k sequential weighted draws
    // without replacement. u derives from the doc's md5 (content-keyed,
    // never rand(): reruns and appends leave survivors' priorities
    // untouched — the q_sample_split stability contract), w = n_chars, so
    // long docs win proportionally to length. Determinism chain:
    // u = (h32+1)/2^32 is EXACT in both engines (integer numerator,
    // power-of-two divisor), ln(u) is the one libm call — round(6) per the
    // ln-parity discipline — and dividing those bit-identical operands by
    // the integer weight is IEEE-deterministic again, so even the ORDER BY
    // on priority agrees across engines. Plans as TakeOrderedAndProject:
    // per-partition k-heaps, k rows to the driver, no global sort.
    "q_sample_weighted" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("h32",
          conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10).cast("long"))
        .withColumn("priority",
          round(log(($"h32" + 1L) / lit(4294967296.0)), 6) /
            greatest($"n_chars", lit(1L)))
        .select($"doc_id", $"lang", $"n_chars", $"priority")
        .orderBy($"priority".desc, $"doc_id")
        .limit(25)
    }),

    // Fuzzy dedup by edit distance with prefix blocking: candidate pairs
    // share an 8-char normalized prefix (the standard blocking key —
    // pairs differing inside the prefix are out of scope by design), then
    // exact Levenshtein on the first 80 chars. The block join shuffles on
    // the prefix key only — never all pairs.
    "q_dedup_edit" -> ((s, dir) => {
      import s.implicits._
      // Written the NATURAL way (2-arg levenshtein ≤ 5); the
      // LevenshteinBanding optimizer rule rewrites the predicate to the
      // banded 3-arg DP — O(len·k) instead of O(len²) per pair, ~7× less
      // work at k=5 over 80-char keys — so the contract query itself
      // proves the rule is load-bearing (PlanSpec pins the rewrite).
      graft.plans.LevenshteinBanding.install(s)
      val d = t(s, dir, "documents")
        .select($"doc_id", substring(lower(trim($"text")), 1, 80).as("t"))
        .withColumn("p", substring($"t", 1, 8))
      d.as("a").join(d.as("b"), Seq("p"))
        .filter($"a.doc_id" < $"b.doc_id")
        .withColumn("ed", levenshtein($"a.t", $"b.t").cast("long"))
        .filter($"ed" <= 5)
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"), $"ed")
        .orderBy($"d1", $"d2")
    }),

    // Fuzzy dedup by Jaro-Winkler similarity — the prefix-weighted matcher
    // record-linkage pipelines prefer over raw edit distance (typos cluster
    // at word ends; shared prefixes are strong identity evidence). Spark
    // ships no jaro function, so this key runs the codegen'd
    // JaroWinklerSim Catalyst expression (functions/JaroWinkler.scala)
    // against DuckDB's INDEPENDENTLY implemented jaro_winkler_similarity —
    // the oracle exercises the expression's full semantics (match window,
    // transpositions, 0.7 boost gate, prefix cap), not a same-formula echo.
    // Same prefix-8 blocking discipline as q_dedup_edit: the join shuffles
    // on the block key only, the O(|a|·|b|) scorer runs on candidate pairs
    // only — never all pairs. Scores round(6)-pinned BEFORE the ≥ 0.9
    // threshold so last-ulp arithmetic differences cannot flip a pair.
    "q_dedup_jaro" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
        .select($"doc_id", substring(lower(trim($"text")), 1, 80).as("t"))
        .withColumn("p", substring($"t", 1, 8))
      d.as("a").join(d.as("b"), Seq("p"))
        .filter($"a.doc_id" < $"b.doc_id")
        .withColumn("jw",
          round(graft.functions.JaroWinklerSim.jaroWinkler($"a.t", $"b.t"), 6))
        .filter($"jw" >= 0.9)
        .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"), $"jw")
        .orderBy($"d1", $"d2")
    }),

    // Sequence packing: assign documents to fixed token-budget packs (the
    // context-window batching step of a training-data build). Greedy by
    // cumulative token count within each lang shard: pack_id = which
    // 2048-token budget the doc STARTS in (docs may straddle budgets —
    // the deterministic, window-friendly convention). Partitioned by lang,
    // so the running sum is one per-shard window pass, never a global
    // sort; at 100 TB the shard key is whatever the pack layout keys on.
    "q_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .withColumn("n_tok", size(split($"text", " ")).cast("long"))
        .withColumn("cum", sum($"n_tok").over(w))
        .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
        .groupBy($"lang", $"pack_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .orderBy($"lang", $"pack_id")
    }),

    // RAG-style fixed-window chunking: each document explodes into
    // overlapping 200-char windows on a 150-char stride (the retrieval
    // prep step before embedding). `sequence()` + explode keeps the fanout
    // inside codegen and proportional to text length, never a driver loop;
    // at 100 TB the op is embarrassingly parallel (no shuffle at all — the
    // ORDER BY here is only the oracle's determinism contract). Short docs
    // (≤ window) produce exactly one chunk via the greatest(...,0) clamp.
    "q_text_chunk" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("chunk_id", explode(sequence(lit(0L),
          greatest(ceil(($"n_chars" - lit(200)) / lit(150.0)), lit(0L)))))
        .select($"doc_id", $"chunk_id",
                expr("substring(text, CAST(chunk_id * 150 + 1 AS INT), 200)").as("chunk"))
        .withColumn("chunk_len", length($"chunk").cast("long"))
        .orderBy($"doc_id", $"chunk_id")
    }),

    // PII detection + redaction — the standard curation scrub stage
    // (emails, phones, IPv4), counted per source and checksummed after
    // redaction. The corpus carries no PII, so the key plants it the way
    // the geo keys plant coordinates (FIXTURES.md convention): a contact
    // line derived from doc_id with integer-exact arithmetic, appended
    // IDENTICALLY in both dialects — the regex detection/redaction over
    // the augmented text is the operator under test, and the oracle
    // recomputes it independently from the same declared formulas.
    // Patterns are POSIX-simple and passed to Spark via the Column API
    // (never expr(), whose SQL string literal would eat the backslashes)
    // and to DuckDB as raw single-quoted text — ONE Scala constant per
    // pattern feeds both engines. Redaction order (email → phone → ip)
    // is declared. Per-doc work is codegen'd regex; one source-keyed
    // hash aggregate is the only shuffle — embarrassingly parallel at
    // any corpus size.
    "q_text_pii" -> ((s, dir) => {
      import s.implicits._
      val aug = concat($"text",
        when($"doc_id" % 3 === 0, concat(lit(" reach user"),
          $"doc_id".cast("string"), lit("@mail"),
          ($"doc_id" % 7).cast("string"), lit(".com"))).otherwise(lit("")),
        when($"doc_id" % 3 === 1, concat(lit(" call +1-555-"),
          (($"doc_id" % 9000) + 1000).cast("string"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0, concat(lit(" from 10."),
          ($"doc_id" % 256).cast("string"), lit("."),
          (($"doc_id" * 7) % 256).cast("string"), lit("."),
          (($"doc_id" * 13) % 256).cast("string"))).otherwise(lit("")))
      t(s, dir, "documents")
        .withColumn("aug", aug)
        .withColumn("red",
          regexp_replace(regexp_replace(regexp_replace($"aug",
            piiEmailRe, "<EMAIL>"), piiPhoneRe, "<PHONE>"), piiIpRe, "<IP>"))
        .groupBy($"source")
        .agg(
          sum(size(regexp_extract_all($"aug", lit(piiEmailRe), lit(0))).cast("long"))
            .as("n_emails"),
          sum(size(regexp_extract_all($"aug", lit(piiPhoneRe), lit(0))).cast("long"))
            .as("n_phones"),
          sum(size(regexp_extract_all($"aug", lit(piiIpRe), lit(0))).cast("long"))
            .as("n_ips"),
          sum(length($"red").cast("long")).as("red_chars"),
          min(md5($"red")).as("red_min"),
          max(md5($"red")).as("red_max"))
        .orderBy($"source")
    }),

    // URL canonicalization + dedup — the link-level curation stage
    // (crawl frontiers and dedup pipelines key on CANONICAL urls, not
    // raw strings): lowercase, strip scheme + www., drop query/fragment,
    // drop the trailing slash, then count raw vs canonical distincts per
    // source. URLs are PLANTED from doc_id (the q_text_pii convention —
    // the corpus has none): two families that collide after
    // canonicalization (scheme-case/www/query/fragment variants of the
    // same site/path grid), so n_raw > n_canon is structural, not
    // accidental. All regexes anchored-single-match (engine replace-all
    // vs replace-first semantics cannot diverge); one source-keyed agg.
    "q_text_urlnorm" -> ((s, dir) => {
      import s.implicits._
      val aug = concat($"text",
        when($"doc_id" % 4 === 0, concat(lit(" HTTP://WWW.site"),
          ($"doc_id" % 5).cast("string"), lit(".com/path"),
          ($"doc_id" % 7).cast("string"), lit("/?utm=x"),
          ($"doc_id" % 3).cast("string"), lit("#frag"))).otherwise(lit("")),
        when($"doc_id" % 4 === 1, concat(lit(" https://site"),
          ($"doc_id" % 5).cast("string"), lit(".com/path"),
          ($"doc_id" % 7).cast("string"))).otherwise(lit("")))
      t(s, dir, "documents")
        .withColumn("low", lower(aug))
        .select($"source",
          explode(regexp_extract_all($"low", lit("https?://[^ ]+"), lit(0))).as("url"))
        .withColumn("canon",
          regexp_replace(regexp_replace(regexp_replace($"url",
            "^https?://(www\\.)?", ""), "[?#].*$", ""), "/$", ""))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_urls"),
             countDistinct($"url").as("n_raw"),
             countDistinct($"canon").as("n_canon"),
             min($"canon").as("canon_min"),
             max($"canon").as("canon_max"))
        .orderBy($"source")
    }),

    // Scalable near-dup paths — property-tested vs q_dedup_jaccard truth.
    // maxBucket = 1000 is the PIPELINE's choice, made here rather than in
    // the operators (whose defaults are uncapped/exact-recall): these keys
    // are the replication-survival path, declared to run behind / beside
    // exact-hash dedup (q_dedup_exact), so an over-cap band bucket — an
    // exact-duplicate crowd at fixture semantics — is linear work already
    // done elsewhere, not lost recall.
    "m_dedup_minhash" -> ((s, dir) =>
      graft.operators.MinHashDedup.candidatePairs(s, t(s, dir, "documents"), 0.5,
        maxBucket = 1000)),

    "m_dedup_simhash" -> ((s, dir) =>
      graft.operators.SimHash.nearDupPairs(s, t(s, dir, "documents"), maxHamming = 3,
        maxBucket = 1000)),

    // BPE merge training (operators/Bpe — Sennrich ACL'16): the
    // tokenizer-training step of an LLM data build. One corpus-sized
    // word-count aggregate; every merge round then runs over the
    // checkpointed distinct-word vocabulary (Heaps' law keeps that ≪
    // corpus) with exactly one 1-row driver action per round. Returned
    // merge table is the trained artifact (step, left, right, cnt).
    // No oracle (iterative) — BpeSpec pins exact equality against a
    // driver-side reference trainer plus the greedy-overlap and
    // non-increasing-count invariants. The trained merges are memoized
    // per (session, dir) so the encode/pack keys below share ONE
    // training run instead of re-peeling 8 rounds each.
    "m_text_bpe" -> ((s, dir) => {
      import s.implicits._
      trainedMerges(s, dir).toDS().toDF().orderBy($"step")
    }),

    // BPE ENCODE — apply the trained merge table to the corpus (the
    // tokenize step between m_text_bpe's training and token budgeting):
    // per-source whitespace vs BPE token counts + the fertility ratio
    // (BPE tokens per word, the tokenizer-quality metric). The encode
    // itself runs over the DISTINCT-word table only (Bpe.encode chains
    // the merges inside one codegen'd projection), and corpus-sized work
    // is two hash aggregates + one word-keyed join — no driver loop over
    // documents, no per-row retraining. No oracle (depends on the trained
    // merges) — BpeSpec pins exact n_tok equality against a driver
    // reference encoder over every fixture word.
    "q_text_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val enc = graft.operators.Bpe.encode(
        wordCounts(s, dir).select($"word"), trainedMerges(s, dir))
      t(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("word"))
        .filter(length($"word") > 0)
        .groupBy($"source", $"word").agg(count(lit(1)).as("cnt"))
        .join(enc, Seq("word"))
        .groupBy($"source")
        .agg(sum($"cnt").as("ws_tokens"),
             sum($"cnt" * $"n_tok").as("bpe_tokens"))
        .withColumn("fertility",
          round($"bpe_tokens".cast("double") / $"ws_tokens", 6))
        .orderBy($"source")
    }),

    // Sequence packing on REAL tokenizer counts — q_pack_sequences' twin
    // with the budget measured in trained-BPE tokens instead of
    // whitespace tokens (the counts an actual context-window build packs
    // by). Same per-lang greedy running-sum window; per-doc BPE counts
    // come from the word-keyed encode join (docs whose every "word" is
    // empty — i.e. empty text — carry no tokens and are excluded, the
    // declared convention). No oracle; BpeSpec recomputes the packing on
    // the driver from reference-encoded counts and pins exact equality.
    "q_pack_bpe" -> ((s, dir) => {
      import s.implicits._
      val enc = graft.operators.Bpe.encode(
        wordCounts(s, dir).select($"word"), trainedMerges(s, dir))
      val docTok = t(s, dir, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("word"))
        .filter(length($"word") > 0)
        .join(enc, Seq("word"))
        .groupBy($"doc_id", $"lang")
        .agg(sum($"n_tok").as("n_tok"))
      val w = Window.partitionBy($"lang").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docTok
        .withColumn("cum", sum($"n_tok").over(w))
        .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
        .groupBy($"lang", $"pack_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
        .orderBy($"lang", $"pack_id")
    }),

    // FORCAST readability per source (Caylor et al. 1973) — the readability
    // family member built for NON-PROSE text (forms, listings, word soup):
    // grade = 20 − 15·(monosyllabic-word fraction), no sentence count
    // anywhere (this corpus has zero sentence punctuation, so Flesch-style
    // formulas would be vacuous — FORCAST is the published metric whose
    // assumptions the data actually meets). Syllables = vowel-run count
    // ('[aeiouy]+', ONE Scala constant in both dialects); every count is an
    // exact BIGINT, the two divisions take exact-int operands, round(6).
    // Plan: one documents scan, token explode, (source) hash agg —
    // map-side combinable, nothing past |sources| rows downstream.
    "q_text_readability" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("w"))
        .withColumn("syl", size(regexp_extract_all($"w", lit(sylRe), lit(0))).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_words"),
             sum($"syl").as("n_syllables"),
             sum(when($"syl" === 1L, 1L).otherwise(0L)).as("n_mono"))
        .select($"source", $"n_words", $"n_syllables",
          round($"n_syllables".cast("double") / $"n_words", 6).as("syl_per_word"),
          round(lit(20.0) - lit(15.0) * $"n_mono".cast("double") / $"n_words", 4)
            .as("forcast_grade"))
        .orderBy($"source")
    }),

    // Collocation mining — pointwise mutual information of adjacent token
    // bigrams (Church & Hanks, Computational Linguistics 1990): the
    // phrase-detection primitive (tokenizer merge candidates, multi-word
    // expressions) beside the per-doc LM keys. PMI = ln(p(x,y)/(p(x)p(y)))
    // over the corpus bigram/unigram tables; the ratio is formed in DOUBLE
    // from exact BIGINT counts in one declared operand order (products of
    // raw counts would overflow BIGINT at corpus scale — doubles cannot),
    // ln'd once, round(6). Top-20 by the (cxy DESC, x, y) total order.
    // Plan: two data-sized hash aggs (unigrams, bigrams — both map-side
    // combinable); totals ride single-partition windows over the VOCAB-
    // bounded count frames; the two unigram joins are vocab-sized.
    "q_text_pmi" -> ((s, dir) => {
      import s.implicits._
      val wAll = Window.partitionBy()
      val toks = t(s, dir, "documents")
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val uni = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
        .withColumn("n", sum($"c").over(wAll))
        // lazy checkpoint: the vocab-sized frame joins in twice (x and y
        // sides) — without it each join side re-runs the fact-table agg
        .localCheckpoint(eager = false)
      val big = toks.withColumn("y", lead($"tok", 1).over(w))
        .filter($"y".isNotNull)
        .groupBy($"tok".as("x"), $"y")
        .agg(count(lit(1)).as("cxy"))
        .withColumn("nb", sum($"cxy").over(wAll))
      big
        .join(uni.select($"tok".as("x"), $"c".as("cx"), $"n"), Seq("x"))
        .join(uni.select($"tok".as("y"), $"c".as("cy")), Seq("y"))
        .select($"x", $"y", $"cxy",
          round(log(($"cxy".cast("double") * $"n" * $"n") /
            ($"nb".cast("double") * $"cx" * $"cy")), 6).as("pmi"))
        .orderBy($"cxy".desc, $"x", $"y")
        .limit(20)
    }),

    // DSIR — data selection with importance resampling (Xie et al.,
    // NeurIPS 2023): per-doc importance weight log p_target(x) −
    // log p_raw(x) under HASHED-BIGRAM bag models — the principled
    // "pick raw-corpus docs that look like the target domain" estimator
    // (the published upgrade over q_text_pfilter's hard heuristics;
    // target here = the 'en' slice, the domain the fixture labels).
    // Features are md5-hashed bigram buckets (B = 1024 — the paper's
    // hashing trick makes the model a FIXED-width count vector however
    // large the vocabulary); both bucket models are add-1 smoothed.
    // Weight = Σ_buckets c_doc(b) · log-ratio(b). Scale shape: bigram
    // explode → ONE (doc, bucket) hash agg (map-side combinable) feeds
    // BOTH the per-doc counts and (re-aggregated, B-bounded) the two
    // corpus models; the B-row log-ratio table broadcasts back; top-20
    // is TakeOrderedAndProject. Parity: ratio forms in DOUBLE from exact
    // BIGINT counts in ONE declared operand order, ln'd once,
    // round(6)-pinned BEFORE the weight sum, which routes through
    // DECIMAL (dsum) — exact regardless of summation order.
    "q_text_dsir" -> ((s, dir) => {
      import s.implicits._
      val B = 1024L
      val wAll = Window.partitionBy()
      // Round-19 note: an array-transform bigram derivation (the lmscore
      // shape, dropping this window's Exchange + Sort) was built,
      // oracle-verified, and REVERTED — two full bench runs read it
      // 1.72/1.27 s vs the 1.08 s floor of this shape (the extra bigram-
      // string array materialized per doc costs more here than the saved
      // exchange). Kept as measured evidence in OPTIMIZATION_r19.md §6.
      val toks = t(s, dir, "documents")
        .select($"doc_id", $"lang", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val docB = toks.withColumn("y", lead($"tok", 1).over(w))
        .filter($"y".isNotNull)
        .withColumn("b",
          conv(substring(md5(concat_ws(" ", $"tok", $"y")), 1, 8), 16, 10)
            .cast("long") % B)
        .groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("c"))
        // one fact-sized agg feeds both the per-doc side and the models
        .localCheckpoint(eager = false)
      val model = docB.groupBy($"b")
        .agg(sum($"c").as("cr"),
          sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"))
        .withColumn("nr", sum($"cr").over(wAll))
        .withColumn("nt", sum($"ct").over(wAll))
        .select($"b", round(log(
          (($"ct" + 1L).cast("double") / ($"nt" + lit(B)).cast("double")) /
            (($"cr" + 1L).cast("double") / ($"nr" + lit(B)).cast("double"))), 6)
          .as("lr"))
      docB.join(broadcast(model), Seq("b"))
        .groupBy($"doc_id", $"lang")
        .agg(sum($"c").as("n_bigrams"),
          dsumR($"c" * $"lr", 6, 6).as("dsir_w"))
        .orderBy($"dsir_w".desc, $"doc_id")
        .limit(20)
    })
  )

  /** Syllable heuristic — vowel runs; ONE constant for both dialects. */
  private val sylRe = "[aeiouy]+"

  /** PII patterns — ONE Scala constant per pattern feeds both dialects
    * (Java and RE2 regex agree on this POSIX-simple subset: literal
    * escapes, character classes, bounded repetition only). */
  private val piiEmailRe = "[a-z0-9]+@[a-z0-9]+\\.com"
  private val piiPhoneRe = "\\+1-555-[0-9]{4}"
  private val piiIpRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  /** Corpus (word, freq) table — the shared BPE substrate. */
  private def wordCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
  }

  /** Trained merge sequence, one training run per (session, dir) — the
    * small driver-side artifact every BPE key shares. */
  private val bpeMemo = new graft.SessionMemo[String, Seq[graft.operators.Bpe.Merge]]
  private def trainedMerges(s: SparkSession, dir: String): Seq[graft.operators.Bpe.Merge] =
    bpeMemo.getOrCompute(s, dir) {
      graft.operators.Bpe.train(s, wordCounts(s, dir), numMerges = 8)
    }

  /** Oracle-side mirror of [[clusterAssign]]: recursive reachability over
    * the symmetric pair edges, ending in an `assign(doc_id, comp)` CTE. */
  private val clusterCte =
    jaccardPairsCte(0.5).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |sym AS (SELECT d1 AS u, d2 AS v FROM pairs
        |        UNION ALL SELECT d2, d1 FROM pairs),
        |walk(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u),
        |assign AS (
        |  SELECT u AS doc_id, CAST(least(u, MIN(v)) AS BIGINT) AS comp
        |  FROM walk GROUP BY u)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_text_readability" ->
      s"""WITH w AS (
         |  SELECT source, len(regexp_extract_all(tok, '$sylRe')) AS syl
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |a AS (
         |  SELECT source, COUNT(*) AS n_words,
         |    CAST(SUM(syl) AS BIGINT) AS n_syllables,
         |    SUM(CASE WHEN syl = 1 THEN 1 ELSE 0 END) AS n_mono
         |  FROM w GROUP BY source)
         |SELECT source, CAST(n_words AS BIGINT) AS n_words, n_syllables,
         |  round(CAST(n_syllables AS DOUBLE) / n_words, 6) AS syl_per_word,
         |  round(20.0 - 15.0 * CAST(n_mono AS DOUBLE) / n_words, 4)
         |    AS forcast_grade
         |FROM a ORDER BY source""".stripMargin,

    "q_text_pmi" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tk AS (SELECT doc_id, unnest(toks) AS tok,
        |         unnest(range(1, len(toks) + 1)) AS pos FROM d),
        |uni AS (
        |  SELECT tok, COUNT(*) AS c, SUM(COUNT(*)) OVER () AS n
        |  FROM tk GROUP BY tok),
        |bg AS (
        |  SELECT tok AS x,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS y
        |  FROM tk),
        |big AS (
        |  SELECT x, y, COUNT(*) AS cxy, SUM(COUNT(*)) OVER () AS nb
        |  FROM bg WHERE y IS NOT NULL GROUP BY x, y)
        |SELECT x, y, CAST(cxy AS BIGINT) AS cxy,
        |  round(ln((CAST(cxy AS DOUBLE) * ux.n * ux.n) /
        |    (CAST(nb AS DOUBLE) * ux.c * uy.c)), 6) AS pmi
        |FROM big
        |JOIN uni ux ON ux.tok = x
        |JOIN uni uy ON uy.tok = y
        |ORDER BY cxy DESC, x, y LIMIT 20""".stripMargin,

    "q_text_dsir" ->
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents),
        |tk AS (SELECT doc_id, lang, unnest(toks) AS tok,
        |         unnest(range(1, len(toks) + 1)) AS pos FROM d),
        |bg AS (
        |  SELECT doc_id, lang, tok AS x,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS y
        |  FROM tk),
        |db AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5(x || ' ' || y), 1, 8) AS BIGINT) % 1024 AS b,
        |    COUNT(*) AS c
        |  FROM bg WHERE y IS NOT NULL GROUP BY doc_id, lang, b),
        |model AS (
        |  SELECT b, SUM(c) AS cr,
        |    SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct,
        |    SUM(SUM(c)) OVER () AS nr,
        |    SUM(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END)) OVER () AS nt
        |  FROM db GROUP BY b),
        |lrm AS (
        |  SELECT b, round(ln(
        |    (CAST(ct + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE)) /
        |    (CAST(cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE))), 6) AS lr
        |  FROM model)
        |SELECT db.doc_id, db.lang,
        |  CAST(SUM(db.c) AS BIGINT) AS n_bigrams,
        |  ${oSumR("db.c * lrm.lr", 6, 6)} AS dsir_w
        |FROM db JOIN lrm USING (b)
        |GROUP BY db.doc_id, db.lang
        |ORDER BY dsir_w DESC, doc_id LIMIT 20""".stripMargin,

    "q_text_urlnorm" ->
      """WITH aug AS (
        |  SELECT source, lower(
        |    text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' HTTP://WWW.site'
        |      || CAST(doc_id % 5 AS VARCHAR) || '.com/path'
        |      || CAST(doc_id % 7 AS VARCHAR) || '/?utm=x'
        |      || CAST(doc_id % 3 AS VARCHAR) || '#frag' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' https://site'
        |      || CAST(doc_id % 5 AS VARCHAR) || '.com/path'
        |      || CAST(doc_id % 7 AS VARCHAR) ELSE '' END) AS low
        |  FROM documents),
        |urls AS (
        |  SELECT source, unnest(regexp_extract_all(low, 'https?://[^ ]+')) AS url
        |  FROM aug),
        |canon AS (
        |  SELECT source, url,
        |    regexp_replace(regexp_replace(regexp_replace(url,
        |      '^https?://(www\.)?', ''), '[?#].*$', ''), '/$', '') AS canon
        |  FROM urls)
        |SELECT source, COUNT(*) AS n_urls,
        |  COUNT(DISTINCT url) AS n_raw,
        |  COUNT(DISTINCT canon) AS n_canon,
        |  MIN(canon) AS canon_min, MAX(canon) AS canon_max
        |FROM canon GROUP BY source ORDER BY source""".stripMargin,

    "q_text_pii" ->
      s"""WITH aug AS (
         |  SELECT source,
         |    text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR)
         |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END ||
         |    CASE WHEN doc_id % 3 = 1 THEN ' call +1-555-'
         |      || CAST((doc_id % 9000) + 1000 AS VARCHAR) ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END AS aug
         |  FROM documents),
         |red AS (
         |  SELECT source, aug,
         |    regexp_replace(regexp_replace(regexp_replace(aug,
         |      '$piiEmailRe', '<EMAIL>', 'g'),
         |      '$piiPhoneRe', '<PHONE>', 'g'),
         |      '$piiIpRe', '<IP>', 'g') AS red
         |  FROM aug)
         |SELECT source,
         |  CAST(SUM(len(regexp_extract_all(aug, '$piiEmailRe', 0))) AS BIGINT) AS n_emails,
         |  CAST(SUM(len(regexp_extract_all(aug, '$piiPhoneRe', 0))) AS BIGINT) AS n_phones,
         |  CAST(SUM(len(regexp_extract_all(aug, '$piiIpRe', 0))) AS BIGINT) AS n_ips,
         |  CAST(SUM(length(red)) AS BIGINT) AS red_chars,
         |  MIN(md5(red)) AS red_min, MAX(md5(red)) AS red_max
         |FROM red GROUP BY source ORDER BY source""".stripMargin,

    "q_text_tokens" ->
      """SELECT term, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
        |GROUP BY term ORDER BY cnt DESC, term LIMIT 50""".stripMargin,

    "q_text_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok) t
        |       GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |top AS (
        |  SELECT doc_id, term,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT term, COUNT(*) AS n_docs_top FROM top WHERE rn = 1
        |GROUP BY term ORDER BY n_docs_top DESC, term""".stripMargin,

    "q_text_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
        |qt AS (SELECT doc_id, term FROM tok WHERE term IN ('spark', 'join', 'data')),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM qt) d GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |      (tf * 2.2) /
        |      (tf + 1.2 * (0.25 + 0.75 * (dl / ((sum_dl * 1.0) / n_docs)))) AS bm25
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, COUNT(*) AS n_terms,
        |  CAST(round(SUM(CAST((bm25) AS DECIMAL(18,10))), 6) AS DOUBLE) AS score
        |FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_text_lmscore" ->
      """WITH tt AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |bgc AS (
         |  SELECT doc_id, w1, w2, COUNT(*) AS n FROM (
         |    SELECT doc_id,
         |      unnest(toks[1:len(toks) - 1]) AS w1,
         |      unnest(toks[2:len(toks)]) AS w2
         |    FROM tt) big GROUP BY doc_id, w1, w2),
         |c2 AS (SELECT w1, w2, SUM(n) AS c2 FROM bgc GROUP BY w1, w2),
         |c1 AS (SELECT w1, SUM(n) AS c1 FROM bgc GROUP BY w1),
         |vocab AS (
         |  SELECT COUNT(DISTINCT term) AS v
         |  FROM (SELECT w1 AS term FROM bgc UNION ALL SELECT w2 FROM bgc) u),
         |lp AS (
         |  SELECT bgc.doc_id, n, round(ln((c2 + 1.0) / (c1 + v)), 6) AS lp
         |  FROM bgc JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab)
         |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |  round(CAST(SUM(CAST(lp AS DECIMAL(18,6)) * n) AS DOUBLE) / SUM(n), 4) AS avg_lp
         |FROM lp GROUP BY doc_id ORDER BY avg_lp ASC, doc_id LIMIT 20""".stripMargin,

    "q_text_langstats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  round(SUM(n_chars) * 1.0 / COUNT(*), 4) AS avg_chars,
        |  round(SUM(len(string_split(text, ' '))) * 1.0 / COUNT(*), 4) AS avg_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q_text_jsd" ->
      """WITH d AS (SELECT source, n_chars // 50 AS b FROM documents),
        |gb AS (SELECT b, COUNT(*) AS cg FROM d GROUP BY b),
        |src AS (SELECT source, b, COUNT(*) AS cs FROM d GROUP BY source, b),
        |srcs AS (SELECT source, COUNT(*) AS ns FROM d GROUP BY source),
        |tot AS (SELECT SUM(cg) AS ng, COUNT(*) AS nb FROM gb),
        |grid AS (
        |  SELECT s.source, s.ns, g.b, g.cg, t.ng, t.nb, COALESCE(c.cs, 0) AS cs0
        |  FROM srcs s CROSS JOIN gb g CROSS JOIN tot t
        |  LEFT JOIN src c ON c.source = s.source AND c.b = g.b),
        |terms AS (
        |  SELECT source, ns, nb,
        |    0.5 * p * round(ln(p / m), 6) + 0.5 * q * round(ln(q / m), 6) AS term
        |  FROM (
        |    SELECT source, ns, nb,
        |      CAST(cs0 + 1 AS DOUBLE) / (ns + nb) AS p,
        |      CAST(cg + 1 AS DOUBLE) / (ng + nb) AS q,
        |      (CAST(cs0 + 1 AS DOUBLE) / (ns + nb)
        |       + CAST(cg + 1 AS DOUBLE) / (ng + nb)) / 2.0 AS m
        |    FROM grid) x)
        |SELECT source, CAST(MAX(ns) AS BIGINT) AS n_docs,
        |  MAX(nb) AS n_bins,
        |  CAST(round(SUM(CAST(term AS DECIMAL(28,12))), 6) AS DOUBLE) AS jsd
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "q_text_zipf" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |freq AS (SELECT term, COUNT(*) AS f FROM tok GROUP BY term),
        |top AS (
        |  SELECT round(ln(CAST(rk AS DOUBLE)), 6) AS x,
        |         round(ln(CAST(f AS DOUBLE)), 6) AS y
        |  FROM (SELECT f, row_number() OVER (ORDER BY f DESC, term) AS rk
        |        FROM freq) t
        |  WHERE rk <= 100),
        |st AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
        |  FROM top)
        |SELECT n AS n_terms,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
        |  round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 4) AS intercept,
        |  round((n * sxy - sx * sy) /
        |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS r
        |FROM st""".stripMargin,

    "q_text_quality" ->
      s"""WITH q AS (
         |  SELECT lang,
         |    0.3 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
         |    + 0.4 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
         |        x -> x IN ('select','join','table','row','data'))) AS DOUBLE)
         |        / CAST(len(string_split(text, ' ')) AS DOUBLE))
         |    + 0.3 * least((length(replace(text, ' ', '')) * 1.0
         |        / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0) AS quality
         |  FROM documents)
         |SELECT lang, COUNT(*) AS n_docs,
         |  round(${oAvg("quality", 6)}, 4) AS avg_quality
         |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_langid" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |profile AS (
        |  SELECT lang AS plang, term FROM (
        |    SELECT lang, term, COUNT(*) AS cnt,
        |      row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, term) AS rn
        |    FROM tok GROUP BY lang, term) t
        |  WHERE rn <= 20),
        |dt AS (SELECT DISTINCT doc_id, lang, term FROM tok),
        |overlap AS (
        |  SELECT doc_id, lang, plang, COUNT(*) AS ov
        |  FROM dt JOIN profile USING (term) GROUP BY doc_id, lang, plang),
        |best AS (
        |  SELECT doc_id, lang, plang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ov DESC, plang) AS rn
        |  FROM overlap)
        |SELECT lang, plang AS predicted, COUNT(*) AS n_docs
        |FROM best WHERE rn = 1
        |GROUP BY lang, plang ORDER BY lang, predicted""".stripMargin,

    "q_text_fingerprint" -> (shinglesCte +
      """
        |SELECT doc_id, MIN(md5(s)) AS fp FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Positional 3-gram hashes (parallel unnests zip), window minima over
    // the ordered frame, and the rightmost-min pick via the same banded
    // equi-join.
    "q_text_winnow" ->
      """WITH tt AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(toks) - 1)) - 1 AS pos,
        |    unnest([md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |            for i in range(1, len(toks) - 1)]) AS h
        |  FROM tt),
        |wins AS (
        |  SELECT doc_id, pos AS j, wmin, gg FROM (
        |    SELECT doc_id, pos,
        |      COUNT(*) OVER (PARTITION BY doc_id) AS gg,
        |      MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |    FROM g) t
        |  WHERE pos <= gg - 4),
        |cand AS (
        |  SELECT doc_id, pos - k AS j, pos AS p, h
        |  FROM g, LATERAL unnest([0, 1, 2, 3]) AS u(k)),
        |sel AS (
        |  SELECT w.doc_id, w.j, MAX(w.gg) AS gg, MAX(w.wmin) AS fp,
        |    MAX(c.p) AS fpos
        |  FROM wins w JOIN cand c
        |    ON w.doc_id = c.doc_id AND w.j = c.j AND c.h = w.wmin
        |  GROUP BY w.doc_id, w.j),
        |agg AS (
        |  SELECT doc_id, CAST(MAX(gg) AS BIGINT) AS n_grams,
        |    COUNT(DISTINCT (fp, fpos)) AS n_fp
        |  FROM sel GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_grams - 3 AS n_windows, n_fp,
        |  round(CAST(n_fp AS DOUBLE) / (n_grams - 3), 6) AS density
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]{1,4}'))) AS BIGINT) AS bpe_tokens,
        |  round(SUM(len(regexp_extract_all(text, '[a-z0-9]{1,4}'))) * 1.0
        |        / SUM(len(string_split(text, ' '))), 4) AS bpe_per_ws
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_exact" ->
      """SELECT mode, h, COUNT(*) AS n FROM (
        |  SELECT 'full' AS mode, sha256(lower(trim(text))) AS h FROM documents
        |  UNION ALL
        |  SELECT 'prefix8' AS mode,
        |    sha256(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h
        |  FROM documents) t
        |GROUP BY mode, h HAVING COUNT(*) > 1 ORDER BY mode, h""".stripMargin,

    "q_dedup_jaccard" -> (jaccardPairsCte(0.8) +
      """
        |SELECT d1, d2, jaccard FROM pairs ORDER BY d1, d2""".stripMargin),

    // Connected components as recursive reachability: comp(u) = min over
    // everything reachable from u (∪ u itself) — the same fixpoint the
    // alternating-star contraction computes.
    "q_dedup_cluster" -> (clusterCte +
      """
        |SELECT doc_id, comp FROM assign ORDER BY doc_id""".stripMargin),

    "q_dedup_keep" -> (clusterCte +
      """,
        |dropped AS (SELECT doc_id FROM assign WHERE doc_id <> comp)
        |SELECT d.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  CAST(COUNT(*) - SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN dropped dr USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),

    "q_text_repetition" ->
      s"""WITH d AS (
         |  SELECT lang, string_split(text, ' ') AS toks FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |r AS (
         |  SELECT lang,
         |    CAST(len(toks) - 2 AS DOUBLE) AS n_sh,
         |    CAST(len(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                            for i in range(1, len(toks) - 1)])) AS DOUBLE) AS n_uniq
         |  FROM d),
         |q AS (SELECT lang, 1.0 - n_uniq / n_sh AS rep FROM r)
         |SELECT lang, COUNT(*) AS n_docs,
         |  round(${oAvg("rep", 6)}, 4) AS avg_rep,
         |  round(MAX(rep), 4) AS max_rep,
         |  CAST(SUM(CASE WHEN rep > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
         |FROM q GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                          for i in range(1, len(toks) - 1)])) AS shingle
        |  FROM d),
        |f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
        |SELECT sh.doc_id,
        |  COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |        / COUNT(*), 4) AS novelty
        |FROM sh JOIN f USING (shingle)
        |GROUP BY sh.doc_id
        |ORDER BY sh.doc_id""".stripMargin,

    "q_pipeline_e2e" ->
      """WITH dd AS (
        |  SELECT doc_id, text, lang, source,
        |    row_number() OVER (PARTITION BY sha256(lower(trim(text)))
        |                       ORDER BY doc_id) AS rdup
        |  FROM documents),
        |cap AS (
        |  SELECT doc_id, text, lang, source,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
        |                                doc_id) AS rsrc
        |  FROM dd WHERE rdup = 1),
        |surv AS (
        |  SELECT lang, hk,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
        |  FROM cap WHERE rsrc <= 10),
        |st AS (
        |  SELECT lang,
        |    round(quantile_cont(n_tok, 0.05), 4) AS p05,
        |    round(quantile_cont(n_tok, 0.95), 4) AS p95
        |  FROM surv GROUP BY lang)
        |SELECT
        |  CASE WHEN substr(hk, 1, 1) < 'c' THEN 'train'
        |       WHEN substr(hk, 1, 1) < 'e' THEN 'val'
        |       ELSE 'test' END AS split,
        |  s.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS n_tokens
        |FROM surv s JOIN st USING (lang)
        |WHERE n_tok >= p05 AND n_tok <= p95
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_text_pfilter" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
        |  FROM documents),
        |st AS (
        |  SELECT lang,
        |    round(quantile_cont(n_tok, 0.05), 4) AS p05,
        |    round(quantile_cont(n_tok, 0.95), 4) AS p95
        |  FROM d GROUP BY lang)
        |SELECT d.lang, MIN(p05) AS p05, MIN(p95) AS p95,
        |  CAST(SUM(CASE WHEN n_tok < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN n_tok >= p05 AND n_tok <= p95 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN n_tok > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM d JOIN st USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q_text_contam" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, lang, split,
        |    array_to_string(toks[i:i+7], ' ') AS sh8
        |  FROM d, unnest(generate_series(1, len(toks) - 7)) AS t(i)
        |  WHERE len(toks) >= 8),
        |rare AS (SELECT sh8 FROM sh GROUP BY sh8 HAVING COUNT(*) <= 1000),
        |shf AS (SELECT sh.* FROM sh JOIN rare USING (sh8)),
        |p AS (
        |  SELECT te.doc_id AS te, te.lang AS lang, tr.doc_id AS tr,
        |    COUNT(DISTINCT te.sh8) AS n_shared
        |  FROM shf tr JOIN shf te ON tr.sh8 = te.sh8
        |  WHERE tr.split = 'train' AND te.split = 'test'
        |  GROUP BY 1, 2, 3 HAVING COUNT(DISTINCT te.sh8) >= 3),
        |c AS (
        |  SELECT lang, COUNT(DISTINCT te) AS nc, MAX(n_shared) AS ms
        |  FROM p GROUP BY lang),
        |tt AS (
        |  SELECT lang, COUNT(*) AS n_test_docs FROM d
        |  WHERE split = 'test' GROUP BY lang)
        |SELECT tt.lang AS lang, n_test_docs,
        |  CAST(COALESCE(nc, 0) AS BIGINT) AS n_contaminated,
        |  CAST(COALESCE(ms, 0) AS BIGINT) AS max_shared
        |FROM tt LEFT JOIN c ON tt.lang = c.lang ORDER BY tt.lang""".stripMargin,

    "q_sample_stratified" ->
      """WITH d AS (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_tok,
        |    row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM d)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN rn <= ceil(n * 0.2) THEN 1 END) AS n_sampled,
        |  CAST(SUM(CASE WHEN rn <= ceil(n * 0.2) THEN n_tok END) AS BIGINT)
        |    AS n_tokens_sampled
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "q_cap_domain" ->
      """WITH d AS (
        |  SELECT lang, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk, doc_id
        |  FROM documents),
        |r AS (
        |  SELECT lang, n_tok,
        |    row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
        |  FROM d)
        |SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
        |FROM r WHERE rn <= 10 GROUP BY lang ORDER BY lang""".stripMargin,

    // Equivalent lag-window/cumsum formulation of the HOF chunker: brk
    // for 1-based i >= 3 mirrors the Spark filter over 0-based 2..n-2
    // (a break at the last token changes no cid — excluded there, no-op
    // here); chunk text re-joined in position order before hashing.
    "q_text_cdc" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS a
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, source, i, a[i] AS tok
        |  FROM d, LATERAL (SELECT unnest(generate_series(1, len(a))) AS i)),
        |w AS (
        |  SELECT doc_id, source, i, tok,
        |    CASE WHEN i >= 3 AND substr(md5(concat_ws(' ',
        |        lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY i),
        |        lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY i),
        |        tok)), 1, 1) = '0'
        |      THEN 1 ELSE 0 END AS brk
        |  FROM toks),
        |c AS (
        |  SELECT doc_id, source, i, tok,
        |    COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
        |  FROM w),
        |chunks AS (
        |  SELECT doc_id, source, cid,
        |    md5(string_agg(tok, ' ' ORDER BY i)) AS h, COUNT(*) AS len
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(*) AS n_chunks,
        |  COUNT(DISTINCT h) AS n_distinct_chunks,
        |  round(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
        |    AS dup_ratio,
        |  round(CAST(SUM(len) AS DOUBLE) / COUNT(*), 2) AS avg_chunk_tokens
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_substring" -> (
      """WITH tt AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |pos AS (
        |  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS sh5
        |  FROM tt, LATERAL unnest(generate_series(1, len(toks) - 4)) AS g(i)),
        |dup AS (SELECT sh5 FROM pos GROUP BY sh5 HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT doc_id,
        |    CASE WHEN lag(i) OVER w IS NULL THEN 5
        |         ELSE LEAST(5, i - lag(i) OVER w) END AS covered
        |  FROM (SELECT pos.doc_id, pos.i FROM pos JOIN dup USING (sh5))
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |dc AS (SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS dup_tokens
        |       FROM cov GROUP BY doc_id),
        |j AS (
        |  SELECT tt.source, CAST(len(tt.toks) AS BIGINT) AS n_tok,
        |    COALESCE(dc.dup_tokens, 0) AS dup_tokens,
        |    COALESCE(dc.dup_tokens, 0) / CAST(len(tt.toks) AS BIGINT) AS dup_frac
        |  FROM tt LEFT JOIN dc USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN dup_frac >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(dup_tokens) AS BIGINT) AS dup_tokens,
        |  round(""".stripMargin + Q.oAvg("dup_frac", 6) + """, 4) AS avg_dup_frac
        |FROM j GROUP BY source ORDER BY source""".stripMargin),

    "q_sample_weighted" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      AS h32
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  round(ln((h32 + 1) / 4294967296.0), 6) / GREATEST(n_chars, 1)
        |    AS priority
        |FROM d ORDER BY priority DESC, doc_id LIMIT 25""".stripMargin,

    "q_sample_split" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS b
        |  FROM documents)
        |SELECT CASE WHEN b < 'c' THEN 'train'
        |            WHEN b < 'e' THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "q_pack_sequences" ->
      """WITH tok AS (
        |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |cum AS (
        |  SELECT lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tok)
        |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM cum GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,

    "q_text_chunk" ->
      """SELECT doc_id, chunk_id,
        |  substr(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk,
        |  CAST(length(substr(text, CAST(chunk_id * 150 + 1 AS INT), 200)) AS BIGINT)
        |    AS chunk_len
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      GREATEST(CAST(ceil((n_chars - 200) / 150.0) AS BIGINT), 0))) AS chunk_id
        |  FROM documents)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_dedup_edit" ->
      """WITH d AS (
        |  SELECT doc_id, substr(lower(trim(text)), 1, 80) AS t
        |  FROM documents),
        |p AS (SELECT doc_id, t, substr(t, 1, 8) AS p FROM d)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS ed
        |FROM p a JOIN p b ON a.p = b.p AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.t, b.t) <= 5
        |ORDER BY d1, d2""".stripMargin,

    // DuckDB's jaro_winkler_similarity is an independent implementation of
    // the same Winkler-1990 semantics the Catalyst expression pins
    // (probed: ''↔'' → 0, boost gated at jaro > 0.7, prefix cap 4).
    "q_dedup_jaro" ->
      """WITH d AS (
        |  SELECT doc_id, substr(lower(trim(text)), 1, 80) AS t
        |  FROM documents),
        |p AS (SELECT doc_id, t, substr(t, 1, 8) AS p FROM d)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  round(jaro_winkler_similarity(a.t, b.t), 6) AS jw
        |FROM p a JOIN p b ON a.p = b.p AND a.doc_id < b.doc_id
        |WHERE round(jaro_winkler_similarity(a.t, b.t), 6) >= 0.9
        |ORDER BY d1, d2""".stripMargin
  )
}
