package graft.queries

import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, RandomForestClassifier}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.ml.regression.LinearRegression
import graft.operators.IsolationForest
import org.apache.spark.sql.functions._
import Q._

/** SURVEY §2.10 adjunct — the SUPERVISED quadrant of the MLlib mandate
  * (BASELINE.json's "MLlib + spatial extensions"): a classifier and a
  * regressor as declared keys beside the existing clustering (m_kmeans,
  * m_dbscan). Both follow the q_sample_split discipline — the train/test
  * membership is content-keyed md5 hashing, never rand(), so the split is
  * stable under re-runs, re-partitioning, and corpus appends — and both
  * are fixed-hyperparameter, deterministic fits (MLlib L-BFGS/WLS over
  * treeAggregate partials; MlModelSpec pins run-to-run stability and the
  * quality floors). No SQL oracle by design (DuckDB fits no models) →
  * rows-only check + the named properties.
  *
  * 100 TB shape: MLlib's L-BFGS/OWL-QN drivers are one treeAggregate per
  * iteration over the training partitions — gradient partials combine
  * map-side exactly like partial aggregation; nothing driver-sized except
  * the (features+1)·classes coefficient matrix. Scoring is a broadcast of
  * those coefficients into a per-row codegen'd transform.
  */
object Ml extends QueryGroup {

  /** Content-keyed 75/25 split: first hex nibble of md5(id) < 'c' → train
    * (12 of 16 nibbles), else test — the q_sample_split contract. */
  private def withSplit(df: org.apache.spark.sql.DataFrame, idCol: String) =
    df.withColumn("split",
      when(substring(md5(col(idCol).cast("string")), 1, 1) < "c", "train")
        .otherwise("test"))

  /** The m_ml_logreg training frame — split, derived (x1, x2) features,
    * withheld noise term, planted noisy-linear label. Shared with
    * MlModelSpec's direction-recovery test so the test can never drift
    * onto a stale private copy of the plant.
    *
    * MEMOIZED per (session, SF) under a lazy local checkpoint (r14 verdict
    * ask #7): SIX supervised keys (logreg, svm, gbt, nb, rf, mlp) train on
    * this exact frame, and each MLlib fit materializes its input once per
    * fit — sharing one checkpointed substrate turns six scan+project+
    * vectorize passes (twelve under Bench's A/B sampling) into one. */
  private val logregMemo = new graft.SessionMemo[String, org.apache.spark.sql.DataFrame]
  private[graft] def logregFrame(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    logregMemo.getOrCompute(s, dir) {
      import s.implicits._
      withSplit(t(s, dir, "events"), "event_id")
        .withColumn("x1", ((($"event_id" * 37L) % 1700L) / 10.0 - 85.0) / 85.0)
        .withColumn("x2", ((($"event_id" * 131L) % 3600L) / 10.0 - 180.0) / 180.0)
        .withColumn("noise", (($"event_id" * 9973L) % 2001L) / 1000.0 - 1.0)
        .withColumn("label",
          when(lit(0.8) * $"x1" - lit(0.6) * $"x2" + lit(0.5) * $"noise" > 0, 1.0)
            .otherwise(0.0))
        .withColumn("features", array_to_vector(array($"x1", $"x2")))
        .localCheckpoint(eager = false)
    }

  /** The m_ml_isotonic training frame: x = value, y = the planted
    * noisy-monotone indicator. Shared with MlModelSpec's PAVA equality
    * test (the logregFrame discipline). */
  private[graft] def isotonicFrame(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("x", $"value")
      // thresholds sized to the fixture's value distribution (bulk below
      // ~330, median near 100): the ±75 noise band around the 100 cut
      // keeps a wide mixed region, so the monotone curve is a real ramp,
      // not a separable step
      .withColumn("noise",
        (conv(substring(md5($"event_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 150L).cast("double") - 75.0)
      .withColumn("y", when($"x" + $"noise" > 100.0, 1.0).otherwise(0.0))
      .select($"x", $"y")
  }

  /** The m_ml_iforest feature frame — one row per event with the joint
    * (value, time-of-day, day-of-week) feature vector. Shared with
    * IForestSpec (the logregFrame discipline). */
  private[graft] def iforestFrame(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_id", $"value",
        array(log1p($"value"),
          hour($"ts").cast("double"),
          dayofweek($"ts").cast("double")).as("f"))
  }

  private val iforestMemo = new graft.SessionMemo[String, IsolationForest.Model]

  /** PCA-8 projection of the embedding table — the m_ml_gmm input (see
    * the key's scaladoc for why GMM fits reduced coordinates) and the
    * MlSpec baseline fixture. Column `features` is the 8-dim vector.
    * Memoized per (session, SF): the projection carries a PCA FIT (a
    * treeAggregate over the full table), which Bench's A/B sampling and
    * the spec's reuse would otherwise re-pay per call. */
  private val gmmMemo = new graft.SessionMemo[String, org.apache.spark.sql.DataFrame]
  private[graft] def gmmFrame(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    gmmMemo.getOrCompute(s, dir) {
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
        .withColumn("raw", array_to_vector(org.apache.spark.sql.functions.col("embedding")))
      new org.apache.spark.ml.feature.PCA()
        .setInputCol("raw").setOutputCol("features").setK(8)
        .fit(emb).transform(emb)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("features"))
        .localCheckpoint(eager = false)
    }

  val queries: Map[String, QFn] = Map(
    // Binary logistic regression over events with a PLANTED noisy-linear
    // target — declared honestly: the fixture's natural labels
    // (embeddings.label, documents.lang) carry NO held-out signal
    // (measured: test accuracy ≈ max-class chance; token and vector
    // distributions are uniform across classes by construction), so a
    // classifier key on them would assert nothing. Instead the target is
    // y = [0.8·x1 − 0.6·x2 + 0.5·noise > 0] where x1, x2 are the derived
    // geo features (lat/85, lon/180) and noise is a withheld, integer-
    // exact hash term — the learner sees only (x1, x2) and must recover
    // the planted direction from ~12% Bayes-noise-flipped labels. That
    // makes the held-out accuracy floor a REAL learning property (a
    // broken fit or a leaked split shows up immediately), while the key
    // itself exercises the full supervised pipeline: content-keyed split,
    // distributed L-BFGS fit, broadcast scoring, per-split evaluation.
    "m_ml_logreg" -> ((s, dir) => {
      import s.implicits._
      val d = logregFrame(s, dir)
      val model = new LogisticRegression().setMaxIter(50).setRegParam(0.0)
        .fit(d.filter($"split" === "train"))
      model.transform(d)
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             sum(when($"prediction" === $"label", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", round($"n_correct" / $"n", 4))
        .orderBy($"split")
    }),

    // Linear SVM (hinge loss) on the SAME planted target — the
    // max-margin member of the linear family beside logistic's
    // likelihood fit (the two recover nearly the same direction on a
    // ~12% label-noise linear boundary, so the held-out accuracy band
    // matches logreg's and MlModelSpec pins both). MLlib's LinearSVC
    // minimizes the smoothed hinge with L-BFGS/OWL-QN over treeAggregate
    // gradient partials — one distributed pass per iteration, nothing
    // driver-sized but the coefficient vector; scoring is a broadcast
    // dot product. Deterministic by construction: convex objective,
    // fixed zero init, no sampling — the fit path reads no seed.
    "m_ml_svm" -> ((s, dir) => {
      import s.implicits._
      val d = logregFrame(s, dir)
      val model = new org.apache.spark.ml.classification.LinearSVC()
        .setMaxIter(50).setRegParam(0.01)
        .fit(d.filter($"split" === "train"))
      model.transform(d)
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             sum(when($"prediction" === $"label", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", round($"n_correct" / $"n", 4))
        .orderBy($"split")
    }),

    // Multilayer perceptron on the SAME planted target — the NONLINEAR
    // member of the classifier family (logreg/SVM are linear; a 2-4-2 net
    // can bend the boundary, and on a linear plant it must at least match
    // them): the neural quadrant of the MLlib mandate. MLlib's MLP trains
    // by L-BFGS over treeAggregate gradient partials exactly like the
    // linear fits — one distributed pass per iteration, nothing
    // driver-sized but the (2·4 + 4·2 + biases) weight vector; seed fixes
    // the Xavier init, the solver path reads no other randomness. Scoring
    // broadcasts the weights into a per-row feed-forward.
    "m_ml_mlp" -> ((s, dir) => {
      import s.implicits._
      val d = logregFrame(s, dir)
      val model = new org.apache.spark.ml.classification
        .MultilayerPerceptronClassifier()
        .setLayers(Array(2, 4, 2)).setMaxIter(60).setSeed(7L)
        .fit(d.filter($"split" === "train"))
      model.transform(d)
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             sum(when($"prediction" === $"label", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", round($"n_correct" / $"n", 4))
        .orderBy($"split")
    }),

    // Linear regression on a REAL fixture relationship (not planted):
    // documents.n_chars from [whitespace token count, within-doc distinct
    // token count] — n_chars is tokens × (avg token length + 1) − 1, so a
    // linear fit on token counts explains most of the variance and the
    // held-out R² floor is a meaningful learning check, not a tautology.
    // Output: per-split n / rmse / r2 (r2 = 1 − mse/var(y), computed on
    // each split's own variance).
    "m_ml_linreg" -> ((s, dir) => {
      import s.implicits._
      val d = withSplit(t(s, dir, "documents"), "doc_id")
        .withColumn("n_tok", size(split($"text", " ")).cast("double"))
        .withColumn("n_uniq", size(array_distinct(split($"text", " "))).cast("double"))
        .withColumn("features", array_to_vector(array($"n_tok", $"n_uniq")))
        .withColumn("label", $"n_chars".cast("double"))
      val model = new LinearRegression().setMaxIter(50).setRegParam(0.0)
        .fit(d.filter($"split" === "train"))
      model.transform(d)
        .withColumn("err2", pow($"label" - $"prediction", 2))
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             round(sqrt(avg($"err2")), 4).as("rmse"),
             round(lit(1.0) - avg($"err2") / var_pop($"label"), 4).as("r2"))
        .orderBy($"split")
    }),

    // Gradient-boosted trees on the SAME planted target as m_ml_logreg —
    // the tree-ensemble family beside the linear one. The planted boundary
    // is linear, so GBT must approximate it with axis-aligned splits: a
    // working fit lands a bit below the linear model's ceiling but far
    // above chance, which MlModelSpec pins as the floor. No row/feature
    // subsampling (MLlib defaults: subsamplingRate 1.0, featureSubsetStrategy
    // "all" for GBT), so the fit is deterministic given the fixture's
    // stable parquet partitioning; the seed only feeds the (unused)
    // sampling path. 100 TB shape: each boosting round is one distributed
    // histogram aggregation per tree level (treeAggregate partials, like
    // the linear models' gradient); scoring broadcasts the tree ensemble
    // into a per-row transform.
    "m_ml_gbt" -> ((s, dir) => {
      import s.implicits._
      val d = logregFrame(s, dir)
      val model = new GBTClassifier()
        .setMaxIter(10).setMaxDepth(3).setStepSize(0.3).setSeed(42L)
        .fit(d.filter($"split" === "train"))
      model.transform(d)
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             sum(when($"prediction" === $"label", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", round($"n_correct" / $"n", 4))
        .orderBy($"split")
    }),

    // Random forest on the SAME planted target — the bagged-ensemble tree
    // family beside the boosted one (Breiman, "Random Forests", Machine
    // Learning 2001). The fit is seed-deterministic: bootstrap weights
    // and per-node feature subsets both derive from the fixed seed, and
    // with only two features featureSubsetStrategy="all" removes the one
    // source of per-tree variance that matters at this dimensionality.
    // 100 TB shape: identical distributed histogram induction to GBT —
    // one treeAggregate of split-candidate statistics per tree level,
    // bootstrap realized as per-row Poisson WEIGHTS (never a data copy),
    // all 20 trees grown in the same passes; scoring broadcasts the
    // forest into a per-row transform.
    "m_ml_rf" -> ((s, dir) => {
      import s.implicits._
      val d = logregFrame(s, dir)
      val model = new RandomForestClassifier()
        .setNumTrees(20).setMaxDepth(4).setSeed(42L)
        .setFeatureSubsetStrategy("all")
        .fit(d.filter($"split" === "train"))
      model.transform(d)
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             sum(when($"prediction" === $"label", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", round($"n_correct" / $"n", 4))
        .orderBy($"split")
    }),

    // Gaussian Naive Bayes on the SAME planted target — the GENERATIVE
    // classifier family beside the discriminative linear (logreg) and
    // tree (GBT) ones: class-conditional Gaussians fitted in closed form
    // (per-class mean/variance from ONE aggregation pass — no iterative
    // solver, so the fit is exactly deterministic with no seed at all).
    // The planted boundary is linear while Gaussian NB's is quadratic
    // under unequal class variances — a working fit lands near but below
    // the linear ceiling, which MlModelSpec pins as the floor/ceiling
    // band. 100 TB shape: the sufficient statistics are one hash
    // aggregate over (class, feature); scoring broadcasts the per-class
    // (mean, var, prior) table into a per-row transform.
    "m_ml_nb" -> ((s, dir) => {
      import s.implicits._
      val d = logregFrame(s, dir)
      val model = new org.apache.spark.ml.classification.NaiveBayes()
        .setModelType("gaussian")
        .fit(d.filter($"split" === "train"))
      model.transform(d)
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             sum(when($"prediction" === $"label", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("accuracy", round($"n_correct" / $"n", 4))
        .orderBy($"split")
    }),

    // Collaborative filtering via ALS (Koren/Bell/Volinsky IEEE Computer
    // 2009; Spark's block solver after Zhou et al. AAIM 2008) — the
    // recommender quadrant of the MLlib mandate. Ratings are (customer, part) pairs from
    // lineitem ⋈ orders with a PLANTED rank-1 interaction
    // r(c,p) = a_c · b_p + 0.1·noise (a, b integer-exact hash features in
    // [1, 1.9]) — declared honestly for the same reason as m_ml_logreg:
    // TPC-H order composition is random, so natural quantities carry no
    // latent structure and an ALS fit on them would assert nothing. A
    // rank-4 factorization must recover the planted rank-1 surface from
    // 75% of the cells; MlModelSpec pins held-out RMSE ≪ the
    // global-mean baseline. 100 TB shape: ALS is the canonical
    // block-partitioned alternating solver — each half-iteration joins
    // ratings (partitioned by user, then by item) against the opposite
    // factor blocks; nothing driver-sized but the rank-4 factors here.
    "m_ml_als" -> ((s, dir) => {
      import s.implicits._
      // nnz bound: the solver runs on an ITEM shard sized to a fixed
      // ~100k-cell budget — modulus 1 (everything) until the interaction
      // matrix outgrows the budget, then every m-th item WITH its full
      // rating column. Sharding by item keeps item factors well-determined
      // at any modulus (a uniform CELL sample was measured to starve both
      // sides to ~3 ratings each and the fit diverged); thinning along one
      // dimension (shard + ensemble the shards) is also the honest 100 TB
      // pattern. The sizing count runs on the checkpointed frame the
      // solver reuses, so it adds no second scan of the join.
      val cells = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
              $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".cast("int").as("c"), $"l_partkey".cast("int").as("p"))
        .distinct()
        .localCheckpoint(false)
      val modulus = math.max(1L, cells.count() / 100000L)
      val ratings = cells
        .filter(pmod($"p", lit(modulus)) === 0)
        .withColumn("a", lit(1.0) + (($"c" * 13) % 10).cast("double") / 10.0)
        .withColumn("b", lit(1.0) + (($"p" * 17) % 10).cast("double") / 10.0)
        .withColumn("noise",
          (($"c" * 31L + $"p" * 47L) % 2001L).cast("double") / 1000.0 - 1.0)
        .withColumn("rating", ($"a" * $"b" + lit(0.1) * $"noise").cast("float"))
        .withColumn("split",
          when(substring(md5(concat($"c".cast("string"), lit(":"),
                                    $"p".cast("string"))), 1, 1) < "c",
               "train").otherwise("test"))
      val train = ratings.filter($"split" === "train")
      val model = new ALS()
        .setUserCol("c").setItemCol("p").setRatingCol("rating")
        .setRank(4).setMaxIter(8).setRegParam(0.05).setSeed(42L)
        .setColdStartStrategy("drop")
      val fitted = model.fit(train)
      val mean = train.agg(avg($"rating")).first().getDouble(0)
      fitted.transform(ratings)
        .withColumn("err2", pow($"rating" - $"prediction", 2))
        .withColumn("berr2", pow($"rating" - lit(mean), 2))
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
             round(sqrt(avg($"err2")), 4).as("rmse"),
             round(sqrt(avg($"berr2")), 4).as("rmse_baseline"))
        .orderBy($"split")
    }),

    // Isotonic regression (pool-adjacent-violators; Barlow et al. 1972) —
    // the score-calibration quadrant: map a raw score to a monotone
    // probability, the step between a ranking model and a usable
    // threshold. Declared planted target: y = [value + U(−75,75) > 100]
    // (band sized to the fixture's value distribution — see isotonicFrame)
    // with content-keyed hash noise, so P(y=1 | value) rises monotonically
    // and the isotonic fit must recover that curve (a logistic fit would
    // force a parametric shape; PAVA finds the free-form monotone MLE).
    // Output: n / model boundary count / decimal-routed calibration MSE /
    // a monotonicity flag recomputed from the fitted values. MlModelSpec
    // pins prediction-level equality with a driver PAVA. 100 TB shape:
    // MLlib pools per-partition then merges boundary runs — the classic
    // mergeable-summary pattern; scoring broadcasts the boundary arrays.
    "m_ml_isotonic" -> ((s, dir) => {
      import s.implicits._
      val d = isotonicFrame(s, dir)
      val model = new org.apache.spark.ml.regression.IsotonicRegression()
        .setFeaturesCol("x").setLabelCol("y").fit(d)
      model.transform(d)
        .agg(count(lit(1)).as("n"),
             lit(model.boundaries.size).as("n_boundaries"),
             r4(davg(($"y" - $"prediction") * ($"y" - $"prediction"), 8))
               .as("mse"))
    }),

    // Gaussian mixture — EM soft clustering over the embedding table: the
    // DENSITY-model clustering quadrant next to m_kmeans' hard Lloyd's
    // (GMM gives per-point responsibilities and per-component covariance,
    // the generative view retrieval/quantization pipelines calibrate
    // against). Fit runs on a PCA-8 projection, DECLARED: a full-
    // covariance Gaussian in raw 64-dim needs ~d²/2 well-conditioned
    // parameters per component (here it also trips breeze's symmetry
    // check as the accumulated 64×64 suff-stats drift off-symmetric at
    // corpus size) — reduce-then-mix is the standard composition and the
    // scale path (EM cost ∝ d²). k = 5, seeded; per-cluster
    // hard-assignment sizes + fitted mixing weights. Both stages are one
    // treeAggregate per pass (partial-aggregation shape, nothing
    // driver-sized beyond the basis and the k Gaussians). No SQL oracle
    // (iterative EM); MlSpec pins seed-stability, weight normalization,
    // per-row responsibility normalization, log-likelihood ≥ the k=2
    // baseline, and size totals.
    "m_ml_gmm" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.ml.clustering.GaussianMixture
      import org.apache.spark.ml.functions.array_to_vector
      val emb = gmmFrame(s, dir)
      val model = new GaussianMixture()
        .setK(5).setSeed(42L).setMaxIter(20).fit(emb)
      // BigDecimal HALF_UP, not math.rint (half-to-even): one rounding
      // convention across keys — a weight landing exactly on a 5e-5 tie
      // must round the same way every other key's round(4) does
      val wts = model.weights.zipWithIndex
        .map { case (w, i) => (i.toLong,
          BigDecimal(w).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toSeq.toDF("cluster", "weight")
      val sizes = model.transform(emb)
        .groupBy($"prediction")
        .agg(count(lit(1)).as("n"))
        .select($"prediction".cast("long").as("cluster"), $"n")
      // LEFT from the weight table: a low-weight component can win zero
      // hard assignments (soft mass only) and must still be reported
      broadcast(wts).join(sizes, Seq("cluster"), "left")
        .select($"cluster", coalesce($"n", lit(0L)).as("n"), $"weight")
        .orderBy($"n".desc, $"cluster")
    }),

    // Dimensionality reduction — PCA over the 64-dim embedding table: the
    // top-5 principal components' explained-variance ratios PLUS the
    // distributed per-component variance of the actual projections, so the
    // key exercises both halves (fit: one treeAggregate builds the 64×64
    // Gram/covariance — partial-aggregation scale shape, nothing
    // driver-sized but the matrix itself; transform: broadcast the 64×5
    // basis into a per-row projection). The projection variance must
    // reproduce eigenvalue/total — MlModelSpec pins that identity plus
    // basis orthonormality and equality with a driver eigendecomposition.
    // evr is round(6): the Gram's double partials carry partition-order
    // ulps (~1e-15), far below the reported precision.
    // Isolation forest anomaly scores (Liu, Ting & Zhou, ICDM 2008) over
    // per-event features (log1p value, hour-of-day, day-of-week) — the
    // UNSUPERVISED anomaly quadrant next to the model-based screens
    // (q_anomaly_zscore/mad assume a location/scale model per dimension;
    // the forest ranks "few and different" joint outliers with no model
    // and no ε). Fit = the paper's own sub-sampling (T=32 trees × ψ=256
    // content-keyed sample rows — smallest md5(event_id), the ONE
    // probe-sized collect; seeded per-tree PRNG), so the forest is
    // bit-deterministic; scoring = the broadcast forest walking every row
    // inside whole-stage codegen (operators/IsolationForest), no shuffle
    // before the top-10. No SQL oracle (a randomized tree ensemble has no
    // DuckDB form); IForestSpec pins c(n) hand values, planted-outlier
    // separation, bit-determinism, codegen ≡ driver scoring, and the key
    // against a driver re-ranking under the same model.
    "m_ml_iforest" -> ((s, dir) => {
      import s.implicits._
      val d = iforestFrame(s, dir)
      val model = iforestMemo.getOrCompute(s, dir) {
        IsolationForest.fitFromFrame(d, "event_id", "f")
      }
      d.withColumn("score", IsolationForest.scoreCol(model, $"f"))
        .orderBy($"score".desc, $"event_id")
        .limit(10)
        .select($"event_id", $"value", round($"score", 4).as("score"))
    }),

    "m_ml_pca" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "embeddings")
        .withColumn("features", array_to_vector($"embedding"))
      val model = new org.apache.spark.ml.feature.PCA()
        .setInputCol("features").setOutputCol("pc").setK(5).fit(d)
      val evr = model.explainedVariance.toArray
      val proj = model.transform(d)
        .select(posexplode(vector_to_array($"pc")).as(Seq("component", "x")))
        .groupBy($"component")
        .agg(count(lit(1)).as("n"),
             // var_samp: MLlib's covariance (and so its eigenvalues) is
             // the 1/(n−1) estimator — the identity proj_var = evr·total
             // holds exactly only with the matching normalizer
             round(var_samp($"x"), 4).as("proj_var"))
      val evrDf = evr.toSeq.zipWithIndex
        .map { case (v, i) => (i, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .toDF("component", "evr")
      proj.join(broadcast(evrDf), Seq("component"))
        .select($"component", $"n", $"evr", $"proj_var")
        .orderBy($"component")
    }),

    // Trained text embeddings — MLlib Word2Vec (Mikolov et al. NIPS'13;
    // Spark implements hierarchical-softmax skip-gram) over the document
    // token stream: the text→vector TRAINING quadrant that completes the
    // embedding pipeline (m_ml_pca covered vector→vector, the embeddings
    // table is fixture-given). Output: vocabulary size + the top-5
    // nearest neighbours of 3 fixed probe words by trained-vector cosine.
    // Determinism is DECLARED at numPartitions=1 + fixed seed (Spark's
    // distributed Word2Vec is hogwild-style across partitions — with >1
    // partition the merge order is nondeterministic; the scale path
    // raises numPartitions and accepts run-to-run vector wobble, exactly
    // as upstream documents). One fit over the corpus; findSynonyms runs
    // on the driver-held (vocab × 16) matrix — Heaps'-law-sized, the Bpe
    // vocabulary argument. No oracle (iterative trained model) —
    // W2vSpec pins seed stability and planted-co-occurrence recovery.
    "m_text_w2v" -> ((s, dir) => {
      import s.implicits._
      val sentences = t(s, dir, "documents")
        .select(split($"text", " ").as("tokens"))
      val model = new org.apache.spark.ml.feature.Word2Vec()
        .setInputCol("tokens").setOutputCol("vec")
        .setVectorSize(16).setWindowSize(5).setMinCount(1)
        .setMaxIter(3).setNumPartitions(1).setSeed(42L)
        .fit(sentences)
      val vocab = model.getVectors.count()
      Seq("spark", "join", "table").map { p =>
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"similarity".desc, $"word")
        model.findSynonyms(p, 5)
          .withColumn("probe", lit(p))
          .withColumn("rank", row_number().over(w))
      }.reduceLeft(_ unionAll _)
        .select($"probe", $"rank", $"word",
                round($"similarity", 4).as("sim"),
                lit(vocab).as("vocab_size"))
        .orderBy($"probe", $"rank")
    }),

    // Topic model — MLlib LDA (Blei, Ng & Jordan JMLR'03; Spark's EM
    // optimizer per Asuncion et al. UAI'09) over the document term counts:
    // the unsupervised TOPIC quadrant beside w2v's word vectors. Term
    // indexing is deterministic BY CONSTRUCTION: vocabulary = sorted
    // distinct terms (Heaps'-law-sized — the Bpe vocabulary collect
    // discipline), never CountVectorizer's frequency-tie order. The fit is
    // EM over the doc-term graph (one distributed pass per iteration,
    // seed-fixed init); output = top-5 terms per topic with round(4)
    // weights. No oracle (iterative trained model); LdaSpec pins planted
    // two-vocabulary recovery and same-seed refit top-term stability.
    "m_text_lda" -> ((s, dir) => {
      import s.implicits._
      ldaTopics(s, t(s, dir, "documents").select($"doc_id", $"text"),
        k = 3, seed = 7L)
    }),

    // Classifier evaluation sweep — the confusion matrix / PR curve of a
    // scoring rule at 9 declared thresholds (the operator a model
    // pipeline runs after ANY of the trained keys: pick the operating
    // point). Task mirrors q_stat_mwu's framing (purchase vs click by
    // value, score = value, positive ⟺ value ≥ τ); because thresholds
    // are integers, value ≥ τ ⟺ floor(value) ≥ τ, so the whole sweep
    // runs on the INTEGER unit-bin histogram: one data-sized hash agg to
    // ≤ ~500 bins, then a 9×bins bounded theta join (both sides
    // generated/value-range-sized — never data-sized) and exact BIGINT
    // confusion counts; every rate divides exact integers, round(6).
    "q_ml_confusion" -> ((s, dir) => {
      import s.implicits._
      // totals ride a single-partition window over the BIN frame (≤ ~500
      // value-range-bounded rows — never data-sized), so the fact table
      // is scanned exactly once; a separate totals agg would re-scan it
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val bins = t(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .withColumn("bin", floor($"value").cast("long"))
        .groupBy($"bin")
        .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("pos"),
             sum(when($"event_type" === "click", 1L).otherwise(0L)).as("neg"))
        .withColumn("p", sum($"pos").over(wAll))
        .withColumn("nn", sum($"neg").over(wAll))
      val thr = t(s, dir, "region").limit(1)
        .select(explode(sequence(lit(50L), lit(450L), lit(50L))).as("thr"))
      // left join: a threshold above every observed value is a REAL
      // operating point (tp = fp = 0) — at sf0.001 the top three are;
      // its totals backfill from the 9-row result via one more window
      thr.join(bins, $"bin" >= $"thr", "left")
        .groupBy($"thr")
        .agg(coalesce(sum($"pos"), lit(0L)).as("tp"),
             coalesce(sum($"neg"), lit(0L)).as("fp"),
             max($"p").as("p0"), max($"nn").as("nn0"))
        .withColumn("p", max($"p0").over(wAll))
        .withColumn("nn", max($"nn0").over(wAll))
        .withColumn("fn", $"p" - $"tp")
        .withColumn("tn", $"nn" - $"fp")
        .select($"thr".as("threshold"), $"tp", $"fp", $"fn", $"tn",
          when($"tp" + $"fp" > 0L,
            round($"tp".cast("double") / ($"tp" + $"fp"), 6)).as("prec"),
          round($"tp".cast("double") / $"p", 6).as("rec"),
          round((lit(2L) * $"tp").cast("double") /
            (lit(2L) * $"tp" + $"fp" + $"fn"), 6).as("f1"),
          round(($"tp" + $"tn").cast("double") / ($"p" + $"nn"), 6).as("acc"))
        .orderBy($"threshold")
    }),

    // Threshold-free ranking quality — ROC AUC via the Mann–Whitney rank
    // identity over the SAME integer unit-bin histogram as q_ml_confusion
    // (score = value, positive = purchase, negative = click). AUC =
    // P(score_pos > score_neg) + ½P(=); with binned scores that is
    // U = Σ_b pos_b · (neg_below_b + neg_b/2), kept integer-exact by the
    // doubled-midrank discipline (2U = Σ pos·(2·neg_lt + neg)) in
    // DECIMAL(38,0) so nothing overflows at any corpus size. One
    // data-sized hash agg to ≤ ~500 value-range-bounded bins; the
    // cumulative window rides the BIN frame, never the data.
    "q_ml_auc" -> ((s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val wCum = org.apache.spark.sql.expressions.Window.orderBy($"bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .withColumn("bin", floor($"value").cast("long"))
        .groupBy($"bin")
        .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("pos"),
             sum(when($"event_type" === "click", 1L).otherwise(0L)).as("neg"))
        .withColumn("neg_lt", coalesce(sum($"neg").over(wCum), lit(0L)))
        .agg(sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
             sum(($"pos".cast(dec)) * (lit(2L).cast(dec) * $"neg_lt".cast(dec)
               + $"neg".cast(dec))).as("u2"))
        .select($"n_pos", $"n_neg",
          round($"u2".cast("double") /
            (lit(2.0) * $"n_pos" * $"n_neg"), 6).as("auc"))
    }),

    // Probability calibration — the reliability table + Brier score a
    // scoring pipeline reads before trusting any classifier's confidence.
    // Predicted probability p = value/500 (the value range maps into
    // [0, 1)); deciles via the integer bin floor(value/50) capped at 9, so
    // bin membership never touches FP division. Per bin: support, mean
    // predicted p, observed positive fraction (the calibration gap is
    // mean_pred vs frac_pos); the global Brier score Σ(p−y)²/N rides a
    // single-partition window over the ≤10-row bin frame — the fact table
    // is scanned exactly once. Squared errors route through DECIMAL(18,8)
    // (cast of identical doubles, then exact summation — order-free).
    "q_ml_calibration" -> ((s, dir) => {
      import s.implicits._
      val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      t(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .withColumn("y", when($"event_type" === "purchase", 1.0).otherwise(0.0))
        .withColumn("p", $"value" / 500.0)
        .withColumn("bin", least(floor($"value" / 50.0).cast("long"), lit(9L)))
        .withColumn("sq", (($"p" - $"y") * ($"p" - $"y")).cast(dec8))
        .withColumn("pd", $"p".cast(dec8))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"), sum($"pd").as("sp"),
             sum(when($"y" === 1.0, 1L).otherwise(0L)).as("npos"),
             sum($"sq").as("ssq"))
        .withColumn("brier",
          round(sum($"ssq").over(wAll).cast("double") /
            sum($"n").over(wAll), 6))
        .select($"bin", $"n",
          round($"sp".cast("double") / $"n", 6).as("mean_pred"),
          round($"npos".cast("double") / $"n", 6).as("frac_pos"),
          $"brier")
        .orderBy($"bin")
    }),

    // Murphy decomposition of the Brier score (Murphy, J. Appl. Meteor.
    // 1973): brier = reliability − resolution + uncertainty over the
    // calibration key's OWN decile bins — the diagnostic split a forecast
    // consumer reads ABOVE the raw Brier number (reliability = how far
    // bin confidence sits from bin outcome, the fixable part; resolution
    // = how much the bins separate outcomes, the earned part; uncertainty
    // = the outcome base rate's irreducible floor). Same single fact scan
    // and integer bin rule as q_ml_calibration (shared substrate — the
    // two keys can never disagree on binning); the per-bin (p̄−ō)² and
    // (ō−ō̄)² terms are doubles built from exact integer/decimal operands
    // in one declared op order, then DECIMAL(28,8)-routed so the ≤10-term
    // sums are order-free. One row out.
    "q_ml_brier" -> ((s, dir) => {
      import s.implicits._
      val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
      val dec28 = org.apache.spark.sql.types.DecimalType(28, 8)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      t(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .withColumn("y", when($"event_type" === "purchase", 1.0).otherwise(0.0))
        .withColumn("p", $"value" / 500.0)
        .withColumn("bin", least(floor($"value" / 50.0).cast("long"), lit(9L)))
        .withColumn("sq", (($"p" - $"y") * ($"p" - $"y")).cast(dec8))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"), sum($"p".cast(dec8)).as("sp"),
             sum(when($"y" === 1.0, 1L).otherwise(0L)).as("npos"),
             sum($"sq").as("ssq"))
        .withColumn("nn", sum($"n").over(wAll))
        .withColumn("obar", sum($"npos").over(wAll).cast("double") /
          sum($"n").over(wAll))
        .withColumn("pb", $"sp".cast("double") / $"n")
        .withColumn("ob", $"npos".cast("double") / $"n")
        .withColumn("rel_t",
          ($"n" * ($"pb" - $"ob") * ($"pb" - $"ob")).cast(dec28))
        .withColumn("res_t",
          ($"n" * ($"ob" - $"obar") * ($"ob" - $"obar")).cast(dec28))
        .groupBy()
        .agg(max($"nn").as("n"), max($"obar").as("ob_all"),
             sum($"rel_t").as("rel"), sum($"res_t").as("res"),
             sum($"ssq").as("tssq"))
        .select($"n",
          round($"tssq".cast("double") / $"n", 6).as("brier"),
          round($"rel".cast("double") / $"n", 6).as("reliability"),
          round($"res".cast("double") / $"n", 6).as("resolution"),
          round($"ob_all" * (lit(1.0) - $"ob_all"), 6).as("uncertainty"))
    }),

    // Decile lift / cumulative-gains table (the campaign-targeting read
    // of the same planted scores: "mail the top k deciles, capture what
    // share of purchasers at what lift over random?"). Deciles are the
    // calibration key's integer score bins read HIGH-CONFIDENCE FIRST;
    // per-decile lift and the cumulative capture/lift ride two window
    // sums over the ≤10-row bin frame. Every ratio is ONE division of
    // exact BIGINT products (lift = pos·N / (n·P) — never a ratio of
    // ratios, so no intermediate FP op can drift), round(6). The fact
    // table is scanned exactly once.
    "q_ml_lift" -> ((s, dir) => {
      import s.implicits._
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val wCum = org.apache.spark.sql.expressions.Window.orderBy($"bin".desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .withColumn("bin", least(floor($"value" / 50.0).cast("long"), lit(9L)))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"),
             sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("npos"))
        .withColumn("nn", sum($"n").over(wAll))
        .withColumn("tp", sum($"npos").over(wAll))
        .withColumn("cum_n", sum($"n").over(wCum))
        .withColumn("cum_pos", sum($"npos").over(wCum))
        // tp = 0 (a slice with zero purchase rows) would divide by zero —
        // NaN/Inf in Spark, engine-dependent in SQL; declare it NULL (the
        // sibling keys' when(...)-guard discipline for degenerate
        // denominators)
        .select($"bin", $"n", $"npos",
          when($"tp" > 0L,
            round(($"npos" * $"nn").cast("double") / ($"n" * $"tp"), 6)).as("lift"),
          when($"tp" > 0L,
            round($"cum_pos".cast("double") / $"tp", 6)).as("cum_capture"),
          when($"tp" > 0L,
            round(($"cum_pos" * $"nn").cast("double") / ($"cum_n" * $"tp"), 6))
            .as("cum_lift"))
        .orderBy($"bin".desc)
    }),

    // Ranking quality — per-user NDCG@10 of the value-score ordering on
    // purchase relevance (Järvelin & Kekäläinen TOIS 2002): the recsys
    // evaluation completing the family (confusion = thresholded, AUC =
    // threshold-free pairwise, NDCG = position-weighted list quality).
    // The position gains g_j = round(log2(j+1)⁻¹, 6) and their exact
    // cumulative sums are computed ONCE in Scala and embedded as literals
    // in BOTH dialects (the q_time_entropy ln-24 discipline — no engine
    // libm is consulted), so DCG is an exact DECIMAL(18,6) sum of pinned
    // constants and IDCG a table lookup at least(n_pos, 10). Rank order is
    // the (value DESC, event_id) total order — tie-deterministic on both
    // engines. Plan: one fact scan, one user-partitioned window, one
    // per-user hash agg — embarrassingly partition-parallel, no global
    // sort, nothing driver-sized.
    "q_ml_ndcg" -> ((s, dir) => {
      import s.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val gArr = array(ndcgGains.map(g => lit(g.toDouble)): _*)
      val cumArr = array(ndcgCum.map(g => lit(g.toDouble)): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"value".desc, $"event_id")
      t(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .withColumn("i", row_number().over(w))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
             sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("n_pos"),
             sum(when($"event_type" === "purchase" && $"i" <= ndcgK,
                 element_at(gArr, $"i").cast(dec6))
               .otherwise(lit(0).cast(dec6))).as("dcg_d"))
        .select($"user_id", $"n_events", $"n_pos",
          round($"dcg_d".cast("double"), 6).as("dcg"),
          when($"n_pos" > 0L,
            round($"dcg_d".cast("double") /
              element_at(cumArr, least($"n_pos", lit(ndcgK.toLong)).cast("int")),
              6)).as("ndcg"))
        .orderBy($"user_id")
    })
  )

  /** m_text_lda's body, parameterized so LdaSpec can run the SAME code on a
    * planted two-vocabulary corpus (the logregFrame sharing discipline).
    * Returns (topic, rank, term, weight) for the top-5 terms per topic.
    *
    * Cost-is-contract, probed (r15 verdict ask #6, sf0.1; re-measure
    * with perfbench/tools/survey.py --keys m_text_lda):
    * EM maxIter = 5 (2.8 s), maxIter = 3 (2.0 s) and the online
    * optimizer (2.7 s) ALL change the pinned top-terms vs the shipped
    * EM maxIter = 10 (11.2 s) — the 10-round fit is what the output
    * semantics are pinned to, not a habit; a cheaper setting is a
    * different key. */
  private[graft] def ldaTopics(s: org.apache.spark.sql.SparkSession,
                               docs: org.apache.spark.sql.DataFrame,
                               k: Int, seed: Long,
                               maxIter: Int = 10,
                               optimizer: String = "em"): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val toks = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .filter(length($"term") > 0)
    // sorted distinct vocabulary: deterministic indices at any partitioning
    // (CountVectorizer orders by frequency with unstable ties); vocab size
    // is Heaps'-law-bounded, the Bpe collect argument
    val vocab = toks.select($"term").distinct().orderBy($"term")
      .as[String].collect()
    val vmap = s.sparkContext.broadcast(vocab.zipWithIndex.toMap)
    val vecs = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(collect_list(struct($"term", $"cnt")).as("tc"))
      .map { r =>
        val pairs = r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (vmap.value(x.getString(0)), x.getLong(1).toDouble))
          .sortBy(_._1)
        (r.getLong(0),
          org.apache.spark.ml.linalg.Vectors.sparse(vmap.value.size, pairs))
      }.toDF("doc_id", "features")
    val model = new org.apache.spark.ml.clustering.LDA()
      .setK(k).setMaxIter(maxIter).setSeed(seed).setOptimizer(optimizer)
      .fit(vecs)
    val vocabArr = array(vocab.map(lit(_)): _*)
    model.describeTopics(5)
      .select($"topic",
        posexplode(arrays_zip($"termIndices", $"termWeights")))
      .select($"topic", ($"pos" + 1).as("rank"),
        element_at(vocabArr, $"col.termIndices" + 1).as("term"),
        round($"col.termWeights", 4).as("weight"))
      .orderBy($"topic", $"rank")
  }

  /** NDCG position gains (6-dp-pinned log2(j+1)⁻¹ for j = 1..10) and their
    * exact cumulative sums — the single source both dialects splice from. */
  private val ndcgK = 10
  private[graft] val ndcgGains: Seq[BigDecimal] =
    (1 to ndcgK).map(j => BigDecimal(math.log(2.0) / math.log(j + 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP))
  private[graft] val ndcgCum: Seq[BigDecimal] =
    ndcgGains.scanLeft(BigDecimal(0))(_ + _).tail
  private def ndcgList(xs: Seq[BigDecimal]): String =
    xs.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")

  val oracle: Map[String, String] = Map(
    "q_ml_ndcg" ->
      s"""WITH r AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY value DESC, event_id) AS i
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |a AS (
         |  SELECT user_id, COUNT(*) AS n_events,
         |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pos,
         |    SUM(CASE WHEN event_type = 'purchase' AND i <= 10
         |        THEN CAST(${ndcgList(ndcgGains)}[i] AS DECIMAL(18,6))
         |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS dcg_d
         |  FROM r GROUP BY user_id)
         |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
         |  CAST(n_pos AS BIGINT) AS n_pos,
         |  round(CAST(dcg_d AS DOUBLE), 6) AS dcg,
         |  CASE WHEN n_pos > 0 THEN round(CAST(dcg_d AS DOUBLE) /
         |    ${ndcgList(ndcgCum)}[CAST(LEAST(n_pos, 10) AS INT)], 6) END AS ndcg
         |FROM a ORDER BY user_id""".stripMargin,

    "q_ml_confusion" ->
      """WITH b AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS bin,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS neg
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p,
        |               CAST(SUM(neg) AS BIGINT) AS nn FROM b),
        |thr AS (SELECT unnest(generate_series(50, 450, 50)) AS thr),
        |c AS (
        |  SELECT thr, CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS tp,
        |         CAST(COALESCE(SUM(neg), 0) AS BIGINT) AS fp
        |  FROM thr LEFT JOIN b ON b.bin >= thr.thr GROUP BY thr)
        |SELECT CAST(thr AS BIGINT) AS threshold, tp, fp,
        |  p - tp AS fn, nn - fp AS tn,
        |  CASE WHEN tp + fp > 0
        |    THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS prec,
        |  round(CAST(tp AS DOUBLE) / p, 6) AS rec,
        |  round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + (p - tp)), 6) AS f1,
        |  round(CAST(tp + (nn - fp) AS DOUBLE) / (p + nn), 6) AS acc
        |FROM c, tot ORDER BY threshold""".stripMargin,

    "q_ml_auc" ->
      """WITH b AS (
        |  SELECT CAST(floor(value) AS BIGINT) AS bin,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS neg
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |c AS (
        |  SELECT pos, neg,
        |    COALESCE(SUM(neg) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_lt
        |  FROM b)
        |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
        |  round(CAST(SUM(CAST(pos AS DECIMAL(38,0)) *
        |        (CAST(2 AS DECIMAL(38,0)) * CAST(neg_lt AS DECIMAL(38,0))
        |         + CAST(neg AS DECIMAL(38,0)))) AS DOUBLE) /
        |    (2.0 * SUM(pos) * SUM(neg)), 6) AS auc
        |FROM c""".stripMargin,

    "q_ml_calibration" ->
      """WITH e AS (
        |  SELECT value / 500.0 AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
        |    LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |b AS (
        |  SELECT bin, COUNT(*) AS n,
        |    SUM(CAST(p AS DECIMAL(18,8))) AS sp,
        |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS npos,
        |    SUM(CAST((p - y) * (p - y) AS DECIMAL(18,8))) AS ssq
        |  FROM e GROUP BY bin)
        |SELECT bin, n,
        |  round(CAST(sp AS DOUBLE) / n, 6) AS mean_pred,
        |  round(CAST(npos AS DOUBLE) / n, 6) AS frac_pos,
        |  round(CAST(SUM(ssq) OVER () AS DOUBLE) / SUM(n) OVER (), 6) AS brier
        |FROM b ORDER BY bin""".stripMargin,

    // The calibration bin chain, then the Murphy terms in identical op
    // order with DECIMAL(28,8)-routed ≤10-term sums.
    "q_ml_brier" ->
      """WITH e AS (
        |  SELECT value / 500.0 AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
        |    LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |b AS (
        |  SELECT bin, COUNT(*) AS n,
        |    SUM(CAST(p AS DECIMAL(18,8))) AS sp,
        |    CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS npos,
        |    SUM(CAST((p - y) * (p - y) AS DECIMAL(18,8))) AS ssq
        |  FROM e GROUP BY bin),
        |w AS (
        |  SELECT bin, n, npos, ssq,
        |    CAST(SUM(n) OVER () AS BIGINT) AS nn,
        |    CAST(SUM(npos) OVER () AS DOUBLE) / SUM(n) OVER () AS obar,
        |    CAST(sp AS DOUBLE) / n AS pb,
        |    CAST(npos AS DOUBLE) / n AS ob
        |  FROM b),
        |t AS (
        |  SELECT MAX(nn) AS n, MAX(obar) AS ob_all,
        |    SUM(CAST(n * (pb - ob) * (pb - ob) AS DECIMAL(28,8))) AS rel,
        |    SUM(CAST(n * (ob - obar) * (ob - obar) AS DECIMAL(28,8))) AS res,
        |    SUM(ssq) AS tssq
        |  FROM w)
        |SELECT n,
        |  round(CAST(tssq AS DOUBLE) / n, 6) AS brier,
        |  round(CAST(rel AS DOUBLE) / n, 6) AS reliability,
        |  round(CAST(res AS DOUBLE) / n, 6) AS resolution,
        |  round(ob_all * (1.0 - ob_all), 6) AS uncertainty
        |FROM t""".stripMargin,

    "q_ml_lift" ->
      """WITH e AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
        |    LEAST(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |b AS (
        |  SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS npos
        |  FROM e GROUP BY bin),
        |w AS (
        |  SELECT bin, n, npos,
        |    CAST(SUM(n) OVER () AS BIGINT) AS nn,
        |    CAST(SUM(npos) OVER () AS BIGINT) AS tp,
        |    CAST(SUM(n) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_n,
        |    CAST(SUM(npos) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_pos
        |  FROM b)
        |SELECT bin, n, npos,
        |  CASE WHEN tp > 0 THEN
        |    round(CAST(npos * nn AS DOUBLE) / (n * tp), 6) END AS lift,
        |  CASE WHEN tp > 0 THEN
        |    round(CAST(cum_pos AS DOUBLE) / tp, 6) END AS cum_capture,
        |  CASE WHEN tp > 0 THEN
        |    round(CAST(cum_pos * nn AS DOUBLE) / (cum_n * tp), 6) END AS cum_lift
        |FROM w ORDER BY bin DESC""".stripMargin
  )
}
