package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (SURVEY §2.11 extension, `m_sim_pq`) — the
  * third approximate-similarity family beside random-projection LSH
  * ([[VectorLSH]]) and the IVF coarse quantizer ([[AnnIVF]]), after
  * Jégou–Douze–Schmid, "Product Quantization for Nearest Neighbor
  * Search" (IEEE TPAMI 33(1), 2011).
  *
  * The D-dim vector splits into `m` subspaces of D/m dims; each subspace
  * gets its own `ksub`-centroid k-means codebook, and every vector is
  * stored as m SMALL CODES (m bytes at ksub ≤ 256) — a 64-float embedding
  * compresses 64× while distances stay computable from the codes alone.
  * A query ranks by the asymmetric distance (ADC): per subspace, the
  * squared distance from the query sub-vector to EACH centroid is
  * precomputed into an m × ksub lookup table, and a database vector's
  * approximate distance is the sum of m table lookups — no full-vector
  * arithmetic anywhere in the scan.
  *
  * Scale design: the codebooks (m × ksub × D/m doubles) and per-probe
  * lookup tables (|probes| × m × ksub rows) broadcast everywhere; the
  * database side touches only (vec_id, code) — at 100 TB that is the
  * whole point: the ADC ranking scans a table 64× smaller than the
  * vectors, and only the `rerank` survivors per probe read their full
  * vectors for the exact cosine re-rank. The ADC sort key is rounded to
  * 9 decimals so the 4-term double sum's shuffle-order noise (~1e-16)
  * cannot flip candidate ranks run to run.
  *
  * Property-tested (MlSpec): mean recall@5 of the PQ-then-exact pipeline
  * against the brute-force top-5, plus the compression invariant (codes
  * in [0, ksub), exactly m of them).
  */
object AnnPQ {

  /** Codes + codebooks memo — one fit per (session, table, m, ksub); keyed
    * on the Tables-memoized DataFrame object like [[AnnIVF]]'s kmMemo,
    * evicted on session end. */
  private val pqMemo =
    new graft.SessionMemo[(DataFrame, Int, Int), (DataFrame, Array[Array[Array[Double]]])]

  /** Fit the m per-subspace codebooks and encode every vector.
    * @return (codes, codebooks): codes = (vec_id, v ARRAY<DOUBLE>,
    *         code ARRAY<INT> length m), codebooks(j)(c) = centroid c of
    *         subspace j (length D/m) */
  def fitEncode(spark: SparkSession, embeddings: DataFrame, m: Int, ksub: Int)
      : (DataFrame, Array[Array[Array[Double]]]) =
    pqMemo.getOrCompute(spark, (embeddings, m, ksub)) {
      import spark.implicits._
      val dim = embeddings.select(size($"embedding")).as[Int].head()
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      val sub = dim / m
      // UNIT-NORMALIZE before fitting/encoding: the ADC ranks by L2 over
      // codes, the re-rank scores cosine — on the unit sphere the two
      // orders agree (‖a−b‖² = 2 − 2·cos), so normalization is what makes
      // the ADC candidate list actually chase the re-rank's metric.
      // Cosine itself is scale-invariant, so `v` stays valid for the exact
      // re-rank; the 1e-12 floor only guards an (undefined-cosine) zero
      // vector from poisoning its own codes with NaN.
      // metadata columns ride into the codes table for filtered search
      // (round 18) — see [[AnnIVF.metaCols]]
      val extras = AnnIVF.metaCols(embeddings)
      val emb = embeddings
        .withColumn("raw", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("nrm",
          expr("greatest(sqrt(aggregate(raw, 0.0D, (a, x) -> a + x * x)), 1e-12)"))
        .withColumn("v", expr("transform(raw, x -> x / nrm)"))
        .select(($"vec_id" +: $"v" +: extras.map(col)): _*)
        .localCheckpoint(eager = false)
      val books = new Array[Array[Array[Double]]](m)
      var codes = emb
      for (j <- 0 until m) {
        val s = emb.withColumn("features",
          array_to_vector(expr(s"slice(v, ${j * sub + 1}, $sub)")))
        val km = new KMeans().setK(ksub).setSeed(42L + j).setMaxIter(20)
          .setInitMode("random").fit(s)
        // KMeans may return FEWER than ksub centroids when a subspace has
        // low sub-vector diversity; the codebook is whatever came back and
        // every later loop runs over books(j).indices — never 0 until ksub
        // (the old form indexed past the fitted count and threw at query
        // time on small tables).
        books(j) = km.clusterCenters.map(_.toArray)
        codes = codes.join(
          km.transform(s).select($"vec_id", $"prediction".as(s"c$j")), Seq("vec_id"))
      }
      val enc = codes
        .withColumn("code", array((0 until m).map(j => col(s"c$j")): _*))
        .select(($"vec_id" +: $"v" +: $"code" +: extras.map(col)): _*)
        .localCheckpoint(eager = false)
      (enc, books)
    }

  /** Encode NEW vectors against FROZEN codebooks — the incremental-append
    * path ([[AnnIndex.appendPq]]): per subspace j, code = argmin over
    * books(j) of the squared distance from the vector's unit-normalized
    * sub-slice (lowest code on a tie, deterministic; the same
    * normalization expression as [[fitEncode]] so appended and fitted
    * vectors live on the same sphere). No k-means anywhere; the codebook
    * side broadcasts (m·ksub rows) and the scan touches only the NEW
    * vectors. Output (vec_id, v, code) appends schema-identically to the
    * fitted codes table. */
  def encodeFrozen(spark: SparkSession, embeddings: DataFrame,
                   books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val m = books.length
    val sub = books(0)(0).length
    val booksDf = (for {
      j <- books.indices
      c <- books(j).indices
    } yield (j, c, books(j)(c).toSeq)).toDF("j", "c", "vals")
    val extras = AnnIVF.metaCols(embeddings)
    embeddings
      .withColumn("raw", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm",
        expr("greatest(sqrt(aggregate(raw, 0.0D, (a, x) -> a + x * x)), 1e-12)"))
      .withColumn("v", expr("transform(raw, x -> x / nrm)"))
      .select(($"vec_id" +: $"v" +:
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), j -> slice(v, j * $sub + 1, $sub))"))
          .as(Seq("j", "sv")) +: extras.map(col)): _*)
      .join(broadcast(booksDf), Seq("j"))
      .withColumn("d2", expr(
        "aggregate(zip_with(sv, vals, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .groupBy($"vec_id", $"j")
      .agg(min(struct($"d2", $"c")).as("mc"),
        (first($"v").as("v") +: extras.map(c => first(col(c)).as(c))): _*)
      .groupBy($"vec_id")
      .agg(first($"v").as("v"),
        (expr("transform(array_sort(collect_list(struct(j, mc.c AS c))), s -> s.c)")
          .as("code") +: extras.map(c => first(col(c)).as(c))): _*)
      .select(($"vec_id" +: $"v" +: $"code" +: extras.map(col)): _*)
  }

  /** Top-k cosine neighbours per probe: ADC ranking over the codes keeps
    * `rerank` candidates, exact [[graft.functions.CosineSim]] re-ranks. */
  def topK(spark: SparkSession, embeddings: DataFrame, probeIds: Seq[Long],
           k: Int, m: Int = 4, ksub: Int = 16, rerank: Int = 50,
           pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (codes, books) = fitEncode(spark, embeddings, m, ksub)
    topKFrom(spark, codes, books, probeIds, k, rerank, pred)
  }

  /** Top-k from SUPPLIED fit artifacts (codes + codebooks) — the
    * reopened-index query path ([[AnnIndex.readPq]]): builds the ADC
    * tables and runs the code-space ranking + exact re-rank without ever
    * refitting or touching the embeddings table. `m` is implicit in the
    * codebook shape.
    *
    * `pred` = FILTERED search (round 18, [[AnnIVF.topKFrom]] contract):
    * the metadata predicate restricts the ADC scan BEFORE ranking, so
    * both the `rerank` candidate list and the final k are drawn entirely
    * from matching vectors — k stays live under a selective filter, and
    * on a reopened index the predicate lands in the codes scan's
    * parquet PushedFilters. Probes resolve unfiltered. */
  def topKFrom(spark: SparkSession, codes: DataFrame,
               books: Array[Array[Array[Double]]], probeIds: Seq[Long],
               k: Int, rerank: Int,
               pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val m = books.length
    val sub = books(0)(0).length

    // Per-probe ADC lookup tables, computed from the collected probe
    // vectors (|probes| is query-sized, never data-sized) and broadcast.
    val probeVecs = codes.filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id", $"v").as[(Long, Seq[Double])].collect()
    val dt = for {
      (pid, pv) <- probeVecs.toSeq
      j <- 0 until m
      c <- books(j).indices // fitted count, which may be < ksub
    } yield {
      var d = 0.0
      var t = 0
      while (t < sub) {
        val diff = pv(j * sub + t) - books(j)(c)(t); d += diff * diff; t += 1
      }
      (pid, j, c, d)
    }
    val dtDf = dt.toDF("probe_id", "j", "c", "d")

    val db = pred.map(codes.filter).getOrElse(codes)
    val adc = db.select($"vec_id", posexplode($"code").as(Seq("j", "c")))
      .join(broadcast(dtDf), Seq("j", "c"))
      .filter($"vec_id" =!= $"probe_id")
      .groupBy($"probe_id", $"vec_id")
      .agg(sum($"d").as("adc"))
    val wa = Window.partitionBy($"probe_id").orderBy(round($"adc", 9), $"vec_id")
    val cands = adc.withColumn("rn", row_number().over(wa))
      .filter($"rn" <= rerank)
      .select($"probe_id", $"vec_id")

    val probes = codes.filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id".as("probe_id"), $"v".as("pv"))
    val wk = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    cands.join(codes.select($"vec_id", $"v"), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cos", graft.functions.VectorOps.cosineSim($"v", $"pv"))
      .withColumn("rn", row_number().over(wk)).filter($"rn" <= k)
      .select($"probe_id", $"vec_id", round($"cos", 6).as("cos"))
      .orderBy($"probe_id", $"rn")
  }
}
