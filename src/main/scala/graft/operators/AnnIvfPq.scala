package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — inverted file + asymmetric-distance PQ on RESIDUALS
  * (SURVEY §2.11 extension, `m_sim_ivfpq`), the full system of
  * Jégou–Douze–Schmid, "Product Quantization for Nearest Neighbor
  * Search" (IEEE TPAMI 33(1), 2011, §IV): the billion-vector layout
  * every production ANN service (FAISS `IVFx,PQy`) runs.
  *
  * Two quantizers compose: a COARSE k-means over unit-normalized vectors
  * assigns each to one of `nlist` cells (the inverted file — at 100 TB
  * this is the physical partition column, like [[AnnIVF]]); a PRODUCT
  * quantizer then encodes each vector's RESIDUAL v − centroid(cell) as
  * `m` small codes. Residual encoding is what makes the combination beat
  * plain PQ: within a cell the residuals are centered near zero, so the
  * same ksub codebook budget spends its precision on the local
  * displacement instead of the global position.
  *
  * Query: pick the `nprobe` closest cells; for each probed (probe, cell)
  * pair build the ADC table from the probe's residual AGAINST THAT CELL'S
  * centroid (tables are per-pair — the asymmetry of IVFADC); rank the
  * probed cells' codes by the m-term table sum; exact-cosine re-rank the
  * `rerank` survivors. The scan side touches (vec_id, cell, code) only —
  * candidates 64× smaller than the vectors, pruned to nprobe/nlist of the
  * table BEFORE any distance math; full vectors are read solely by the
  * rerank join. All codebooks/tables broadcast (nlist·D + m·ksub·D/m
  * doubles + |probes|·nprobe·m·ksub table rows — query-sized, never
  * data-sized). Unit normalization aligns the ADC's L2 with the re-rank's
  * cosine exactly as in [[AnnPQ]] (‖a−b‖² = 2 − 2·cos on the sphere).
  *
  * Property-tested (MlSpec): mean recall@5 ≥ 0.9 against the brute-force
  * top-5 at the declared operating point, plus the layout invariant
  * (one cell in [0, nlist), exactly m codes inside the fitted books). */
object AnnIvfPq {

  private val memo = new graft.SessionMemo[(DataFrame, Int, Int, Int),
    (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]])]

  /** Fit coarse + residual codebooks, encode the whole table. One fit per
    * (session, table, nlist, m, ksub), keyed on the Tables-memoized frame.
    * @return (codes, centroids, books): codes = (vec_id, v ARRAY<DOUBLE>
    *         unit-norm, cell INT, code ARRAY<INT> length m);
    *         centroids(cell) = coarse centroid; books(j)(c) = residual
    *         sub-centroid (length D/m, possibly fewer than ksub — see
    *         [[AnnPQ]]'s fitted-count note) */
  def fitEncode(spark: SparkSession, embeddings: DataFrame,
                nlist: Int, m: Int, ksub: Int)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) =
    memo.getOrCompute(spark, (embeddings, nlist, m, ksub)) {
      import spark.implicits._
      val dim = embeddings.select(size($"embedding")).as[Int].head()
      require(dim % m == 0, s"dim $dim must divide into $m subspaces")
      val sub = dim / m
      // metadata columns ride into the codes table for filtered search
      // (round 18) — see [[AnnIVF.metaCols]]
      val extras = AnnIVF.metaCols(embeddings)
      val emb = embeddings
        .withColumn("raw", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("nrm",
          expr("greatest(sqrt(aggregate(raw, 0.0D, (a, x) -> a + x * x)), 1e-12)"))
        .withColumn("v", expr("transform(raw, x -> x / nrm)"))
        .select(($"vec_id" +: $"v" +: extras.map(col)): _*)
        .withColumn("features", array_to_vector($"v"))
        .localCheckpoint(eager = false)
      val coarse = new KMeans().setK(nlist).setSeed(7L).setMaxIter(20)
        .setInitMode("random").fit(emb)
      val cents = coarse.clusterCenters.map(_.toArray)
      val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "cv")
      // residual = v − centroid(cell); the broadcast centroid join is the
      // only place the coarse codebook meets the data
      val withRes = coarse.transform(emb)
        .select(($"vec_id" +: $"v" +: $"prediction".as("cell") +:
          extras.map(col)): _*)
        .join(broadcast(centsDf), Seq("cell"))
        .withColumn("r", expr("zip_with(v, cv, (a, b) -> a - b)"))
        .select(($"vec_id" +: $"v" +: $"cell" +: $"r" +: extras.map(col)): _*)
        .localCheckpoint(eager = false)
      val books = new Array[Array[Array[Double]]](m)
      var codes = withRes.drop("r")
      for (j <- 0 until m) {
        val s = withRes.withColumn("features",
          array_to_vector(expr(s"slice(r, ${j * sub + 1}, $sub)")))
        val km = new KMeans().setK(ksub).setSeed(42L + j).setMaxIter(20)
          .setInitMode("random").fit(s)
        books(j) = km.clusterCenters.map(_.toArray)
        codes = codes.join(
          km.transform(s).select($"vec_id", $"prediction".as(s"c$j")), Seq("vec_id"))
      }
      val enc = codes
        .withColumn("code", array((0 until m).map(j => col(s"c$j")): _*))
        .select(($"vec_id" +: $"v" +: $"cell" +: $"code" +:
          extras.map(col)): _*)
        .localCheckpoint(eager = false)
      (enc, cents, books)
    }

  /** Encode NEW vectors against the FROZEN coarse centroids + residual
    * codebooks — the incremental-append path ([[AnnIndex.appendIvfPq]]):
    * unit-normalize (the [[fitEncode]] expression), coarse cell = argmin
    * squared L2 over the stored centroids, then the RESIDUAL v − cv codes
    * per subspace against the stored books (lowest index on ties,
    * deterministic). No k-means anywhere; both codebooks broadcast and
    * the scan touches only the NEW vectors. Output (vec_id, v, cell,
    * code) appends schema-identically to the fitted codes table. */
  def encodeFrozen(spark: SparkSession, embeddings: DataFrame,
                   cents: Array[Array[Double]],
                   books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val m = books.length
    val sub = books(0)(0).length
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("cell", "cv")
    val booksDf = (for {
      j <- books.indices
      c <- books(j).indices
    } yield (j, c, books(j)(c).toSeq)).toDF("j", "c", "vals")
    val extras = AnnIVF.metaCols(embeddings)
    val assigned = embeddings
      .withColumn("raw", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm",
        expr("greatest(sqrt(aggregate(raw, 0.0D, (a, x) -> a + x * x)), 1e-12)"))
      .withColumn("v", expr("transform(raw, x -> x / nrm)"))
      .select(($"vec_id" +: $"v" +: extras.map(col)): _*)
      .crossJoin(broadcast(centsDf))
      .withColumn("d2", expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .groupBy($"vec_id")
      .agg(min(struct($"d2", $"cell", $"cv")).as("mc"),
        (first($"v").as("v") +: extras.map(c => first(col(c)).as(c))): _*)
      .select(($"vec_id" +: $"v" +: $"mc.cell".as("cell") +:
        expr("zip_with(v, mc.cv, (a, b) -> a - b)").as("r") +:
        extras.map(col)): _*)
    assigned
      .select(($"vec_id" +: $"v" +: $"cell" +:
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), j -> slice(r, j * $sub + 1, $sub))"))
          .as(Seq("j", "sv")) +: extras.map(col)): _*)
      .join(broadcast(booksDf), Seq("j"))
      .withColumn("d2", expr(
        "aggregate(zip_with(sv, vals, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .groupBy($"vec_id", $"j")
      .agg(min(struct($"d2", $"c")).as("mc"),
        (first($"v").as("v") +: first($"cell").as("cell") +:
          extras.map(c => first(col(c)).as(c))): _*)
      .groupBy($"vec_id")
      .agg(first($"v").as("v"),
        (first($"cell").as("cell") +:
          expr("transform(array_sort(collect_list(struct(j, mc.c AS c))), s -> s.c)")
            .as("code") +: extras.map(c => first(col(c)).as(c))): _*)
      .select(($"vec_id" +: $"v" +: $"cell" +: $"code" +:
        extras.map(col)): _*)
  }

  /** Top-k cosine neighbours per probe through the inverted file: probed
    * cells → per-(probe, cell) ADC tables over residual codes → exact
    * cosine re-rank of the `rerank` survivors. */
  def topK(spark: SparkSession, embeddings: DataFrame, probeIds: Seq[Long],
           k: Int, nlist: Int = 16, nprobe: Int = 10, m: Int = 8,
           ksub: Int = 32, rerank: Int = 150,
           pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val (codes, cents, books) = fitEncode(spark, embeddings, nlist, m, ksub)
    topKFrom(spark, codes, cents, books, probeIds, k, nprobe, rerank, pred)
  }

  /** Top-k from SUPPLIED fit artifacts — the reopened-index query path
    * ([[AnnIndex.readIvfPq]]): builds the per-(probe, cell) residual ADC
    * tables from the reopened centroids/books and never refits. `nlist`
    * and `m` are implicit in the artifact shapes.
    *
    * `pred` = FILTERED search (round 18, [[AnnIVF.topKFrom]] contract):
    * the metadata predicate restricts the inverted-file scan BEFORE the
    * ADC ranking — it composes with the cell pruning (cell join AND
    * predicate both land on the codes scan, the predicate reaching
    * parquet PushedFilters on a reopened index), so the rerank list and
    * the final k are drawn from matching vectors only. Probes resolve
    * unfiltered. */
  def topKFrom(spark: SparkSession, codes: DataFrame,
               cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
               probeIds: Seq[Long], k: Int, nprobe: Int, rerank: Int,
               pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    val m = books.length
    val sub = books(0)(0).length

    // Probe vectors and cell ranking are query-sized driver work: |probes|
    // vectors collected, |probes| × nlist distances.
    val probeVecs = codes.filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id", $"v").as[(Long, Seq[Double])].collect()
    def d2(p: Seq[Double], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val t = p(i) - c(i); s += t * t; i += 1 }
      s
    }
    val probedCells = for {
      (pid, pv) <- probeVecs.toSeq
      cell <- cents.indices.sortBy(ci => (d2(pv, cents(ci)), ci)).take(nprobe)
    } yield (pid, cell)

    // ADC tables per (probe, cell): the probe's residual against THAT
    // cell's centroid, squared-distanced to every residual sub-centroid.
    val byId = probeVecs.toMap
    val dt = for {
      (pid, cell) <- probedCells
      j <- 0 until m
      c <- books(j).indices // fitted count, may be < ksub
    } yield {
      val pv = byId(pid)
      var d = 0.0
      var t = 0
      while (t < sub) {
        val rv = pv(j * sub + t) - cents(cell)(j * sub + t)
        val diff = rv - books(j)(c)(t); d += diff * diff; t += 1
      }
      (pid, cell, j, c, d)
    }
    val dtDf = dt.toDF("probe_id", "cell", "j", "c", "d")

    // Inverted-file pruning FIRST (broadcast semi-shape join on cell),
    // then the code-level ADC sum — never a full-table distance pass.
    val probedDf = probedCells.toDF("probe_id", "cell")
    val db = pred.map(codes.filter).getOrElse(codes)
    val adc = db.join(broadcast(probedDf), Seq("cell"))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"cell", $"vec_id", posexplode($"code").as(Seq("j", "c")))
      .join(broadcast(dtDf), Seq("probe_id", "cell", "j", "c"))
      .groupBy($"probe_id", $"vec_id").agg(sum($"d").as("adc"))
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
