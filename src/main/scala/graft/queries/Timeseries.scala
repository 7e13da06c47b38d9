package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Q._

/** SURVEY §2.11b adjunct — time-series diagnostics over the gap-filled
  * hourly grid ([[Reshape.resampled]]): autocorrelation, exponential
  * recency weighting, and CUSUM changepoint scan (Page, Biometrika 1954 —
  * the classic cumulative-sum mean-shift detector, here in its scaled
  * integer form). These are the
  * series-level health checks an analyst runs BEFORE trusting the
  * seasonal/anomaly keys (q_time_seasonal, q_anomaly_*): is the series
  * self-correlated at short lags, what is its recency-weighted level, and
  * where does its mean most plausibly shift.
  *
  * Scale + parity design shared by all three keys:
  *  - Series length is bounded by the TIME RANGE (one row per hour /
  *    per (type, hour)), never by input volume — the same argument as
  *    q_roll_mean: a century of data is under a million grid rows, so the
  *    single global-order window pass is safe at any corpus size. The only
  *    data-sized job is the hour-bucket hash aggregate inside the shared
  *    substrate, which partial-aggregates map-side.
  *  - Every statistic is computed in INTEGER arithmetic (counts, their
  *    products, and power-of-two weights are all exact in BIGINT) up to a
  *    final division/sqrt over identical operands — so both engines round
  *    the same doubles and hash parity is structural, not probabilistic.
  *    At fixture magnitudes (≤ ~1e4 grid rows × ≤ ~1e6 events/hour) every
  *    intermediate stays far below 2^53; the margin is asserted by the
  *    magnitude guard in ReshapeSpec rather than assumed.
  */
object Timeseries extends QueryGroup {

  /** ln 24 — ONE constant embedded verbatim in both q_time_entropy
    * dialects so the normalizer cannot drift by a libm ulp. */
  private val Ln24: Double = math.log(24.0)

  /** q_time_acf's body, shared with q_time_pacf so the Durbin–Levinson
    * recursion reads the SAME round(4)-pinned r's the acf key declares. */
  /** Hurst R/S block design — sizes, ln(m) abscissae and the closed-form
    * OLS denominator, computed ONCE here and embedded as identical
    * literals in BOTH dialects (the ndcg gain discipline). ln(m) values
    * are pinned at 1e-10 before any use; `toString` round-trips the
    * exact double into the oracle text. */
  private val HurstMs: Seq[Int] = Seq(8, 16, 32, 64)
  private val HurstLnM: Map[Int, Double] =
    HurstMs.map(m => m -> math.round(math.log(m) * 1e10) / 1e10).toMap
  private val HurstLmSum: Double = HurstMs.map(HurstLnM).sum
  private val HurstDen: Double = {
    val s2 = HurstMs.map(m => HurstLnM(m) * HurstLnM(m)).sum
    4.0 * s2 - HurstLmSum * HurstLmSum
  }

  /** m_time_matrixprofile's adaptive range gate: grids past this many
    * hours (≈ 22 months) run the range-partitioned diagonal-block tier
    * instead of the serial in-row kernel. */
  private[graft] val MpTiledGate = 16384

  /** m_time_matrixprofile's body with the gate as a parameter so the spec
    * can force BOTH branches on the same fixture and pin equality. */
  private[graft] def mpKey(s: org.apache.spark.sql.SparkSession, dir: String,
                             tiledGate: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val m = 24
    val hc = t(s, dir, "events")
      .groupBy($"event_type", expr("unix_millis(ts) div 3600000").as("hr"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false) // one fact scan feeds bounds + join
    val bounds = hc.groupBy($"event_type")
      .agg(min($"hr").as("lo"), max($"hr").as("hi"))
    val grid = bounds
      .select($"event_type", explode(expr("sequence(lo, hi)")).as("hr"))
    def series = grid.join(hc, Seq("event_type", "hr"), "left")
      .select($"event_type", $"hr", coalesce($"c", lit(0L)).as("c"))
      .groupBy($"event_type")
      .agg(array_sort(collect_list(struct($"hr", $"c"))).as("e"))
      .withColumn("x", expr("transform(e, p -> CAST(p.c AS DOUBLE))"))
      .select($"event_type", $"x")
      // kernel precondition (it throws below 2m — a silent empty
      // profile would read as "no motif"); a type must span ≥ 2 days
      .filter(size($"x") >= 2 * m)
    // the range gate reads the GRID BOUNDS only (a tiny agg over the
    // checkpointed hour counts) — never materializing the series frame,
    // so the kernel branch keeps its one-pass broadcast gap-fill plan
    val maxLen = bounds.agg(coalesce(max($"hi" - $"lo" + 1L), lit(0L)))
      .as[Long].head()
    val exploded =
      if (maxLen <= tiledGate)
        series
          .withColumn("mp",
            graft.functions.MatrixProfileExpr.matrixProfile($"x", lit(m)))
          .select($"event_type", size($"x").as("n_hours"),
            posexplode(expr(
              """transform(sequence(0, size(mp) div 2 - 1),
                |  i -> struct(mp[2*i] AS d, CAST(mp[2*i+1] AS INT) AS nn))"""
                .stripMargin)))
          .select($"event_type", $"n_hours", $"pos".cast("long").as("i"),
            $"col.d".as("d"), $"col.nn".cast("long").as("nn"))
      else {
        // range-partitioned tier: diagonal chunk spine (tiny rows) spread
        // round-robin, series attached by BROADCAST (types × grid doubles
        // move once), partial profiles merged by min(struct(d, nn)) — the
        // only shuffle past the spine is (i, d, nn) triples into the merge
        val chunks = math.max(2 * s.sparkContext.defaultParallelism, 32)
        val excl = m / 2
        val spine = series.select($"event_type", size($"x").as("len"))
          .withColumn("w", $"len" - lit(m - 1))
          .withColumn("ck", explode(expr(s"sequence(0, ${chunks - 1})")))
          .withColumn("span", expr(s"(w - $excl + $chunks - 1) div $chunks"))
          .withColumn("k0", lit(excl) + $"ck" * $"span")
          .withColumn("k1", least($"w", $"k0" + $"span"))
          .filter($"k0" < $"k1")
          .repartition(s.sparkContext.defaultParallelism)
        spine.join(broadcast(series), Seq("event_type"))
          .withColumn("part", graft.functions.MatrixProfileExpr
            .matrixProfileBlock($"x", lit(m), $"k0".cast("int"), $"k1".cast("int")))
          .select($"event_type", $"len".as("n_hours"),
            posexplode(expr(
              """transform(sequence(0, size(part) div 2 - 1),
                |  i -> struct(part[2*i] AS d, CAST(part[2*i+1] AS INT) AS nn))"""
                .stripMargin)))
          .select($"event_type", $"n_hours", $"pos".cast("long").as("i"),
            $"col.d".as("d"), $"col.nn".cast("long").as("nn"))
          .filter($"d" =!= lit(Double.PositiveInfinity)) // untouched windows
          .groupBy($"event_type", $"i")
          .agg(max($"n_hours").as("n_hours"),
            min(struct($"d", $"nn")).as("best"))
          .select($"event_type", $"n_hours", $"i",
            $"best.d".as("d"), $"best.nn".as("nn"))
      }
    exploded
      .groupBy($"event_type")
      .agg(max($"n_hours").as("n_hours"),
        min(struct($"d", $"i", $"nn")).as("motif"),
        max(struct($"d", (-$"i").as("negi"))).as("disc"))
      .select($"event_type", $"n_hours",
        ($"n_hours" - lit(m - 1)).as("n_windows"),
        $"motif.i".as("motif_i"), $"motif.nn".as("motif_nn"),
        round($"motif.d", 4).as("motif_d"),
        (-$"disc.negi").as("discord_i"), round($"disc.d", 4).as("discord_d"))
      .orderBy($"event_type")
  }

  private def acfFrame(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"bucket_ms")
    val lagged = Reshape.resampled(s, dir)
      .select($"bucket_ms", $"n_events".as("x"))
      .withColumn("l1", lag($"x", 1).over(w))
      .withColumn("l2", lag($"x", 2).over(w))
      .withColumn("l3", lag($"x", 3).over(w))
    val pairs = lagged
      .select(explode(array(
        struct(lit(1).as("lg"), $"x", $"l1".as("y")),
        struct(lit(2).as("lg"), $"x", $"l2".as("y")),
        struct(lit(3).as("lg"), $"x", $"l3".as("y")))).as("p"))
      .select($"p.lg".as("lag"), $"p.x".as("x"), $"p.y".as("y"))
      .filter($"y".isNotNull)
    pairs.groupBy($"lag")
      .agg(count(lit(1)).as("n_pairs"),
           sum($"x").as("sx"), sum($"y").as("sy"),
           sum($"x" * $"y").as("sxy"),
           sum($"x" * $"x").as("sxx"),
           sum($"y" * $"y").as("syy"))
      .select($"lag", $"n_pairs",
        pearsonR($"n_pairs", $"sx", $"sy", $"sxy", $"sxx", $"syy")
          .as("acf"))
      .orderBy($"lag")
  }

  val queries: Map[String, QFn] = Map(
    // Autocorrelation of the hourly event-count series at lags 1..3 — the
    // "is there short-range structure" diagnostic (an ACF near zero says
    // the hourly counts are noise; a decaying positive ACF says load
    // clusters). Pearson r over (x_t, x_{t-L}) pairs from the gap-filled
    // grid, computed from the five integer power sums so the only
    // floating-point ops are one division and two sqrts over bit-identical
    // BIGINT-exact operands. One window pass builds all three lags; the
    // explode is 3 rows per grid row — still time-bounded.
    "q_time_acf" -> ((s, dir) => acfFrame(s, dir)),

    // Partial autocorrelation at lags 1..3 via the Durbin–Levinson
    // recursion (the ARIMA order-selection diagnostic that completes the
    // ACF: φ_kk is the lag-k correlation with the shorter lags PARTIALED
    // OUT — an AR(p) process cuts off after p in PACF but decays in
    // ACF). The recursion reads the acf key's OWN round(4)-pinned r's
    // (the same acfFrame substrate, so the two keys can never drift),
    // making parity trivial: identical pinned inputs → identical doubles
    // through the identical formula text on both engines; outputs
    // round(6), degenerate denominators (|r1| = 1) guarded NULL. The 1-
    // row pivot and recursion are constant-size — the only data-sized
    // job remains the substrate's hour agg.
    "q_time_pacf" -> ((s, dir) => {
      import s.implicits._
      acfFrame(s, dir)
        .agg(max(when($"lag" === 1, $"acf")).as("r1"),
             max(when($"lag" === 2, $"acf")).as("r2"),
             max(when($"lag" === 3, $"acf")).as("r3"))
        .withColumn("phi22",
          when(lit(1.0) - $"r1" * $"r1" =!= 0.0,
            ($"r2" - $"r1" * $"r1") / (lit(1.0) - $"r1" * $"r1")))
        .withColumn("phi21", $"r1" - $"phi22" * $"r1")
        .withColumn("den3",
          lit(1.0) - $"phi21" * $"r1" - $"phi22" * $"r2")
        .withColumn("phi33",
          when($"den3" =!= 0.0,
            ($"r3" - $"phi21" * $"r2" - $"phi22" * $"r1") / $"den3"))
        .select(explode(array(
          struct(lit(1).as("lag"), $"r1".as("acf"),
                 round($"r1", 6).as("pacf")),
          struct(lit(2).as("lag"), $"r2".as("acf"),
                 round($"phi22", 6).as("pacf")),
          struct(lit(3).as("lag"), $"r3".as("acf"),
                 round($"phi33", 6).as("pacf")))).as("p"))
        .select($"p.lag".as("lag"), $"p.acf".as("acf"), $"p.pacf".as("pacf"))
        .orderBy($"lag")
    }),

    // Ljung–Box portmanteau test (Ljung & Box, Biometrika 1978) on the
    // hourly event-count series at h = 3 lags — the "is this whiteness"
    // companion the ACF/PACF pair reads informally: Q = n(n+2)·Σ_k
    // ρ̂_k²/(n−k), χ²(h) under the null of no autocorrelation. Reads the
    // acf key's OWN round(4)-pinned r's and n_pairs = n − k from the same
    // acfFrame substrate (the pacf discipline — the two keys can never
    // drift, and parity is trivial: identical pinned inputs through one
    // pivoted formula text with a FIXED term order, never a 3-row SUM
    // whose accumulation order the engines could disagree on). The only
    // data-sized job remains the substrate's hour aggregate; everything
    // after the 3-row pivot is constant-size.
    "q_time_ljungbox" -> ((s, dir) => {
      import s.implicits._
      acfFrame(s, dir)
        .agg(max($"n_pairs" + $"lag").as("n"), // n_pairs + lag = n, every row
             max(when($"lag" === 1, $"acf")).as("r1"),
             max(when($"lag" === 2, $"acf")).as("r2"),
             max(when($"lag" === 3, $"acf")).as("r3"))
        .select($"n".as("n_hours"), lit(3).as("h"),
          round(($"n" * ($"n" + lit(2L))).cast("double") *
            ($"r1" * $"r1" / ($"n" - lit(1L))
              + $"r2" * $"r2" / ($"n" - lit(2L))
              + $"r3" * $"r3" / ($"n" - lit(3L))), 4).as("q_lb"))
    }),

    // Dickey–Fuller unit-root test (Dickey & Fuller, JASA 1979; the
    // no-augmentation form) on the hourly count series: regress
    // Δx_t = a + b·x_{t−1} and report τ = b̂/se(b̂) — b near 0 (τ above
    // ≈ −2.86) says random-walk-like level wandering, deeply negative τ
    // says mean-reverting/stationary: THE admissibility gate for every
    // key that models the series level (holt/hw forecasts, theilsen/mk
    // trends assume the thing they measure is not a unit root). All six
    // regression power sums are BIGINT-exact (counts and their lag
    // differences are integers) in DECIMAL(38,0); b̂, SSE and τ then
    // form in DOUBLE through one declared op-order chain — division and
    // sqrt of bit-identical operands on both engines. One window pass
    // over the gap-filled grid; everything after the hour agg is
    // time-bounded (the q_time_acf argument). Degenerate den/SSE
    // guarded NULL.
    "q_time_adf" -> ((s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.orderBy($"bucket_ms")
      val d = Reshape.resampled(s, dir)
        .select($"bucket_ms", $"n_events".as("x"))
        .withColumn("z", lag($"x", 1).over(w))
        .filter($"z".isNotNull)
        .withColumn("y", $"x" - $"z")
      d.agg(count(lit(1)).as("n"),
            sum($"z".cast(dec)).as("sz"), sum($"y".cast(dec)).as("sy"),
            sum(($"z" * $"y").cast(dec)).as("szy"),
            sum(($"z" * $"z").cast(dec)).as("szz"),
            sum(($"y" * $"y").cast(dec)).as("syy"))
        .withColumn("nD", $"n".cast(dec))
        .withColumn("numd", ($"nD" * $"szy" - $"sz" * $"sy").cast("double"))
        .withColumn("dend", ($"nD" * $"szz" - $"sz" * $"sz").cast("double"))
        .withColumn("syyc", ($"nD" * $"syy" - $"sy" * $"sy").cast("double"))
        .withColumn("bb", when($"dend" > 0.0, $"numd" / $"dend"))
        .withColumn("sse", ($"syyc" - $"numd" * $"numd" / $"dend") / $"n")
        .withColumn("s2", $"sse" / ($"n" - lit(2L)))
        .select($"n".as("n_obs"),
          round($"bb", 6).as("slope"),
          when($"s2" > 0.0,
            round($"bb" / sqrt($"s2" * $"n" / $"dend"), 4)).as("tau"))
    }),

    // KPSS stationarity test (Kwiatkowski, Phillips, Schmidt & Shin,
    // J. Econometrics 1992; level form, lag-0 variance — DECLARED: no
    // Newey-West HAC correction, the textbook short-memory variant) on
    // the hourly count series: η = (Σ S_t²/n²)/σ̂² where S_t are the
    // partial sums of mean deviations — the NULL-REVERSED complement to
    // q_time_adf (ADF's null is a unit root, KPSS's null is
    // stationarity; reading both is the standard inference protocol —
    // agree ⇒ confident, disagree ⇒ near-integrated). Partial sums ride
    // the integer cumulative (S_t = cum − t·ȳ with exact cum and one
    // declared double product); both quadratic forms DECIMAL(38,6)-
    // routed so summation order is free. One window pass, time-bounded
    // past the hour agg.
    "q_time_kpss" -> ((s, dir) => {
      import s.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val w = Window.orderBy($"bucket_ms")
      val wAll = Window.partitionBy()
      Reshape.resampled(s, dir)
        .select($"bucket_ms", $"n_events".as("y"))
        .withColumn("t", row_number().over(w).cast("long"))
        .withColumn("cum",
          sum($"y").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("nn", count(lit(1)).over(wAll))
        .withColumn("ybar", sum($"y").over(wAll).cast("double") / $"nn")
        .withColumn("st", $"cum" - $"t" * $"ybar")
        .withColumn("e", $"y" - $"ybar")
        .agg(max($"nn").as("n"),
             sum(($"st" * $"st").cast(dec6)).as("ssq"),
             sum(($"e" * $"e").cast(dec6)).as("esq"))
        .select($"n".as("n_hours"),
          when($"esq".cast("double") > 0.0,
            round(($"ssq".cast("double") / ($"n" * $"n")) /
              ($"esq".cast("double") / $"n"), 4)).as("kpss"))
    }),

    // Durbin–Watson test (Durbin & Watson, Biometrika 1950) on the
    // residuals of the hourly count series' linear-trend fit —
    // DW = Σ(e_t − e_{t−1})²/Σe_t² ∈ [0,4], ≈ 2(1 − ρ₁): THE standard
    // "are my regression errors independent" diagnostic read next to any
    // OLS slope (q_stat_ols fits per-type trends; a DW ≪ 2 here says
    // their standard errors are optimistic because the hourly errors
    // drag). Fit coefficients come from the adf key's BIGINT-exact power
    // sums (one declared double op-order chain); residuals are doubles
    // from bit-identical inputs; the two quadratic-form sums route
    // through DECIMAL(28,10) so summation order is free. The 1-row
    // coefficient frame broadcasts back (the declared 1-row stats
    // cross). One window pass, time-bounded past the hour agg.
    "q_time_dw" -> ((s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val dec10 = org.apache.spark.sql.types.DecimalType(28, 10)
      val w = Window.orderBy($"bucket_ms")
      val base = Reshape.resampled(s, dir)
        .select($"bucket_ms", $"n_events".as("y"))
        .withColumn("t", row_number().over(w).cast("long") - 1L)
      val coefs = base
        .agg(count(lit(1)).as("n"),
             sum($"t".cast(dec)).as("st"), sum($"y".cast(dec)).as("sy"),
             sum(($"t" * $"y").cast(dec)).as("sty"),
             sum(($"t" * $"t").cast(dec)).as("stt"))
        .withColumn("nD", $"n".cast(dec))
        .withColumn("bb", ($"nD" * $"sty" - $"st" * $"sy").cast("double") /
          ($"nD" * $"stt" - $"st" * $"st").cast("double"))
        .withColumn("aa",
          ($"sy".cast("double") - $"bb" * $"st".cast("double")) / $"n")
        .select($"n".as("nn"), $"aa", $"bb")
      base.crossJoin(broadcast(coefs))
        .withColumn("e", $"y" - $"aa" - $"bb" * $"t")
        .withColumn("pe", lag($"e", 1).over(w))
        .agg(max($"nn").as("n_hours"), max($"bb").as("slope_raw"),
             sum((($"e" - $"pe") * ($"e" - $"pe")).cast(dec10)).as("num"),
             sum(($"e" * $"e").cast(dec10)).as("den"))
        .select($"n_hours",
          round($"slope_raw", 6).as("slope"),
          when($"den".cast("double") > 0.0,
            round($"num".cast("double") / $"den".cast("double"), 4)).as("dw"))
    }),

    // Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot &
    // Wallis 1969) over the hourly count series — the long-range-
    // dependence diagnostic completing the short-range ACF family:
    // H ≈ 0.5 says increments forget, H > 0.5 says persistent trends
    // (bursts beget bursts — and q_time_burst's thresholds should then
    // expect longer runs than Poisson). Block design, DECLARED: sizes
    // m ∈ {8,16,32,64} hours, full blocks only; per block R = range of
    // the cumulative deviations from the block mean and S = population
    // σ, both from INTEGER-exact within-block sums (cum, Σx, Σx² ride
    // windows over the grid); zero-variance / zero-range blocks dropped
    // on both engines (declared). ln(R/S) round(6)-pinned per block
    // (the km-curve ln discipline), DECIMAL-averaged per m; H = the
    // 4-point log-log OLS slope whose ln(m) abscissae and closed-form
    // denominator are computed ONCE in Scala and embedded as literals
    // in BOTH dialects (the ndcg gain discipline — no engine libm is
    // consulted for the axis). Requires ≥ 64 grid hours (declared).
    // Everything past the hour agg is time-bounded.
    "q_time_hurst" -> ((s, dir) => {
      import s.implicits._
      val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val dec28 = org.apache.spark.sql.types.DecimalType(28, 8)
      val wOrd = Window.orderBy($"bucket_ms")
      val wAll = Window.partitionBy()
      val base = Reshape.resampled(s, dir)
        .select($"bucket_ms", $"n_events".as("x"))
        .withColumn("rn", row_number().over(wOrd).cast("long") - 1L)
        .withColumn("nn", count(lit(1)).over(wAll))
      val rows = base
        .select($"rn", $"x", $"nn",
          explode(array(HurstMs.map(m => lit(m)): _*)).as("m"))
        .filter(expr("rn < m * (nn div m)"))
        .withColumn("blk", expr("rn div m"))
      val wB = Window.partitionBy($"m", $"blk").orderBy($"rn")
      val wBa = Window.partitionBy($"m", $"blk")
      val blkStats = rows
        .withColumn("cum", sum($"x").over(wB))
        .withColumn("j", row_number().over(wB))
        .withColumn("sx", sum($"x").over(wBa))
        .withColumn("sxx", sum($"x" * $"x").over(wBa))
        .withColumn("mu", $"sx".cast("double") / $"m")
        .withColumn("wdev", $"cum" - $"j" * $"mu")
        .groupBy($"m", $"blk")
        .agg(max($"wdev").as("wmax"), min($"wdev").as("wmin"),
             max($"mu").as("mu"), max($"sxx").as("sxx"))
        .withColumn("s2", $"sxx".cast("double") / $"m" - $"mu" * $"mu")
        .filter($"s2" > 0.0)
        .withColumn("rs", ($"wmax" - $"wmin") / sqrt($"s2"))
        .filter($"rs" > 0.0)
        .withColumn("lrs", round(log($"rs"), 6))
      blkStats.groupBy($"m")
        .agg(count(lit(1)).as("n_blocks"), sum($"lrs".cast(dec6)).as("sl"))
        .withColumn("mean_log_rs",
          round($"sl".cast("double") / $"n_blocks", 6))
        .withColumn("lm",
          HurstMs.tail.foldLeft(when($"m" === HurstMs.head, lit(HurstLnM(HurstMs.head)))) {
            (c, m) => c.when($"m" === m, lit(HurstLnM(m)))
          })
        .withColumn("slmy",
          sum(($"lm" * $"mean_log_rs").cast(dec28)).over(wAll))
        .withColumn("sy", sum($"mean_log_rs".cast(dec6)).over(wAll))
        // the OLS abscissae/denominator literals hardcode ALL FOUR m-tiers
        // surviving; if a tier drops (grid < 64 hours, or every block of a
        // tier filtered as zero-variance/zero-range) the constants are
        // wrong for the rows that remain — declare that degenerate case
        // NULL instead of silently reporting a mis-constant slope
        .withColumn("nm", count(lit(1)).over(wAll))
        .select($"m", $"n_blocks", $"mean_log_rs",
          when($"nm" === HurstMs.size,
            round((lit(4.0) * $"slmy".cast("double")
              - lit(HurstLmSum) * $"sy".cast("double")) / lit(HurstDen), 4))
            .as("h_est"))
        .orderBy($"m")
    }),

    // Recency-weighted daily activity level, α = 1/2: within each UTC day
    // the hourly counts are combined with weights (1/2)^(23−hour) — the
    // end-of-day EWMA state of the classic recursive smoother, written in
    // closed form. α = 1/2 is chosen deliberately: the weights are exact
    // powers of two, so Σ x·2^h and Σ 2^h are BIGINT-exact and the single
    // final division is over identical operands in both engines (a generic
    // α would stack libm pow() ulps across 24 terms). Partial first/last
    // days normalize by the weights actually present. One hash aggregate
    // over the grid — no window needed.
    "q_time_ewma" -> ((s, dir) => {
      import s.implicits._
      Reshape.resampled(s, dir)
        .withColumn("day_ms", expr("(bucket_ms div 86400000) * 86400000"))
        .withColumn("wt", expr(
          "cast(pow(2.0d, (bucket_ms div 3600000) % 24) as bigint)"))
        .groupBy($"day_ms")
        .agg(sum($"n_events").as("n_events"),
             sum($"n_events" * $"wt").as("wnum"),
             sum($"wt").as("wden"))
        .select($"day_ms", $"n_events",
          round($"wnum".cast("double") / $"wden".cast("double"), 4)
            .as("ewma_level"))
        .orderBy($"day_ms")
    }),

    // Classical additive decomposition x = trend + seasonal + residual
    // over the hourly grid — the STL-lite every time-series analysis opens
    // with: trend = trailing 24-bucket mean, seasonal = per-hour-of-day
    // mean of the detrended series, residual = the rest; reported as the
    // 24-row seasonal profile with per-slot residual sum of squares (a
    // small RSS says trend+daily-shape explain the series). Parity chain:
    // the trend is an exact-BIGINT window sum divided by the frame count
    // (identical doubles), detrended values go through the DECIMAL cast
    // (midpoints unreachable — the dsum argument), and the seasonal means
    // are round(6)-pinned BEFORE the residual subtraction (the
    // q_anomaly_mad discipline). Same single time-bounded window pass as
    // q_roll_mean plus two hash aggs over 24-row keys.
    "q_time_decomp" -> ((s, dir) => {
      import s.implicits._
      val w = Window.orderBy($"bucket_ms").rowsBetween(-23, Window.currentRow)
      val base = Reshape.resampled(s, dir)
        .withColumn("trend",
          sum($"n_events").over(w).cast("double") / count(lit(1)).over(w))
        .withColumn("detr", $"n_events".cast("double") - $"trend")
        .withColumn("h24", expr("(bucket_ms div 3600000) % 24"))
      val seas = base.groupBy($"h24")
        .agg(round(sum($"detr".cast(DecimalType(18, 6))).cast("double") /
               count(lit(1)), 6).as("seasonal"))
      base.join(broadcast(seas), Seq("h24"))
        .withColumn("resid", $"detr" - $"seasonal")
        .groupBy($"h24")
        .agg(count(lit(1)).as("n"),
             round(min($"seasonal"), 4).as("seasonal"),
             round(sum(($"resid" * $"resid").cast(DecimalType(18, 8))), 4)
               .cast("double").as("rss"))
        .orderBy($"h24")
    }),

    // CUSUM changepoint scan per event type: over the type's hourly-count
    // series (observed buckets, ts-ordered), the cumulative deviation from
    // the series mean S_t = Σ_{i≤t} (x_i − x̄) peaks where the mean most
    // plausibly shifts. To stay integer-exact the scan uses the scaled
    // form S'_t = T·cum_t − t·total (≡ T·S_t): argmax |S'_t| is the same
    // bucket and |S'|/T recovers |S| for the report. The argmax tie-break
    // is (deviation desc, earliest t) via the repo's max(struct(...))
    // idiom — deterministic in both engines. One hash agg + one per-type
    // window pass + one per-type reduce; series length per type is
    // time-bounded as above.
    "q_time_cusum" -> ((s, dir) => {
      import s.implicits._
      val byHour = t(s, dir, "events")
        .withColumn("h", expr("(unix_millis(ts) div 3600000) * 3600000"))
        .groupBy($"event_type", $"h")
        .agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy($"event_type").orderBy($"h")
      val wAll = Window.partitionBy($"event_type")
      byHour
        .withColumn("tt", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum($"c").over(wOrd))
        .withColumn("bign", count(lit(1)).over(wAll))
        .withColumn("total", sum($"c").over(wAll))
        .withColumn("dev", abs($"bign" * $"cum" - $"tt" * $"total"))
        .groupBy($"event_type")
        .agg(max($"bign").as("n_hours"),
             max($"total").as("n_events"),
             max(struct($"dev", (-$"tt").as("negt"), $"h")).as("top"))
        .select($"event_type", $"n_hours", $"n_events",
          $"top.h".as("cp_ms"),
          round($"top.dev".cast("double") / $"n_hours".cast("double"), 4)
            .as("max_dev"))
        .orderBy($"event_type")
    }),

    // Theil–Sen slope of the hourly count series (Theil '50 / Sen JASA
    // '68): the MEDIAN of all pairwise slopes — the robust trend
    // estimate (29% breakdown: a burst or outage hour drags an OLS fit,
    // but moves one rank among the C(n,2) slopes). The pair explosion is
    // LAG-bounded: the declared max-lag window t2 − t1 ≤ 336 h (two weeks)
    // makes the pair count LINEAR in the grid length (≤ 336·n pairs), not
    // quadratic — a 10-year hourly series is ~29M pairs, not 3.8G. The
    // estimator is Theil–Sen-within-L (all pairwise slopes up to lag L),
    // same robustness, declared identically on both engines. Each slope
    // is an identical double (BIGINT Δx cast / BIGINT Δt), and the exact
    // interpolated median round(6)-pinned — the q_anomaly_mad precedent.
    // The pair join is BANDED onto an equi-key (r13, the q_geo_st_join
    // discipline): band = t div 336; a qualifying pair (t1 < t2 ≤ t1+336)
    // always has band(t2) ∈ {band(t1), band(t1)+1}, so exploding the t1
    // side to those two bands and hash-joining on the band makes the
    // EVALUATED pair count linear in the grid — the pure range predicate
    // planned as a BroadcastNestedLoopJoin that compared ALL O(n²) pairs
    // and only then filtered. Each surviving pair matches on exactly one
    // band value (band(t2)), so no dedup is needed.
    "q_time_theilsen" -> ((s, dir) => {
      import s.implicits._
      val g = Reshape.resampled(s, dir)
        .select(expr("bucket_ms div 3600000").as("t"), $"n_events".as("x"))
      val a = g.select($"t".as("t1"), $"x".as("x1"))
        .withColumn("bd", explode(array(expr("t1 div 336"), expr("t1 div 336 + 1"))))
      val b = g.select($"t".as("t2"), $"x".as("x2"))
        .withColumn("bd", expr("t2 div 336"))
      a.join(b, Seq("bd"))
        .filter($"t1" < $"t2" && $"t2" - $"t1" <= 336)
        .withColumn("slope",
          ($"x2" - $"x1").cast("double") / ($"t2" - $"t1"))
        .agg(count(lit(1)).as("n_pairs"),
             round(median($"slope"), 6).as("slope_per_hour"))
    }),

    // Seasonal Mann–Kendall trend statistic (Hirsch & Slack, Water
    // Resources Research 1984) over the 24 clock-hour seasons of the
    // daily count series — the NONPARAMETRIC direction companion of
    // q_time_theilsen's slope, robust to the diurnal cycle that a plain
    // MK over raw hours would read as trend: within each season,
    // S = Σ sign(x_d₂ − x_d₁) over day pairs, per-season Kendall-style
    // tau = S/n_pairs. Pairs carry the theilsen within-L discipline
    // (d₂ − d₁ ≤ 14 days, declared on BOTH engines) so the pair count is
    // LINEAR in the day range; the normal-approximation z is
    // deliberately omitted — its closed-form variance holds for ALL
    // pairs, not the lag-bounded set, and a wrong significance is worse
    // than none (documented, not hidden). Everything integer-exact: the
    // sign is a CASE over exact longs, S an exact sum, one tau division.
    "q_time_mk" -> ((s, dir) => {
      import s.implicits._
      val agg = t(s, dir, "events")
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .withColumn("h24", expr("(unix_millis(ts) div 3600000) % 24"))
        .groupBy($"day", $"h24").agg(count(lit(1)).as("c"))
      val grid = agg.agg(min($"day").as("lo"), max($"day").as("hi"))
        .select(explode(expr("sequence(lo, hi)")).as("day"))
        .withColumn("h24", explode(sequence(lit(0L), lit(23L))))
        .join(agg, Seq("day", "h24"), "left")
        .select($"day", $"h24", coalesce($"c", lit(0L)).as("x"))
      val a = grid.select($"h24", $"day".as("d1"), $"x".as("x1"))
      val b = grid.select($"h24", $"day".as("d2"), $"x".as("x2"))
      a.join(b, Seq("h24"))
        .filter($"d1" < $"d2" && $"d2" - $"d1" <= 14)
        .withColumn("sg",
          when($"x2" > $"x1", 1L).when($"x2" < $"x1", -1L).otherwise(0L))
        .groupBy($"h24")
        .agg(count(lit(1)).as("n_pairs"), sum($"sg").as("s_stat"))
        .withColumn("tau", round($"s_stat".cast("double") / $"n_pairs", 6))
        .orderBy($"h24")
    }),

    // Holt's linear (double-exponential) smoothing per UTC day,
    // α = β = 1/2: end-of-day level, trend, and one-step forecast of the
    // hourly count series — q_time_ewma's recursion upgraded with a trend
    // state (EWMA lags a ramp by construction; Holt tracks it). The
    // 24-step recursion ℓt = (xt+ℓ+b)/2, bt = ((ℓt−ℓ)+b)/2 runs INSIDE
    // codegen as an `aggregate` HOF fold over the day's 24-slot array —
    // per-group sequential state without a UDF or a shuffle per step
    // (DuckDB mirrors it with list_reduce over the identical fold). With
    // halves for both gains every state is a dyadic rational: numerators
    // stay < 2^45 at fixture magnitudes, so BOTH engines carry exact
    // doubles end to end and the round(6) is cosmetic, not a tolerance.
    // Init DECLARED as ℓ0 = x0, b0 = 0. One (day, hour) hash agg is the
    // only data-sized job; the fold sees 24 elements per day row.
    "q_time_holt" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .withColumn("hour", expr("(unix_millis(ts) div 3600000) % 24"))
        .groupBy($"day", $"hour").agg(count(lit(1)).as("c"))
        .groupBy($"day")
        .agg(map_from_entries(collect_list(struct($"hour", $"c"))).as("m"))
        .withColumn("a", expr(
          "transform(sequence(0, 23), " +
            "h -> coalesce(element_at(m, CAST(h AS BIGINT)), CAST(0 AS BIGINT)))"))
        .withColumn("lb", expr(
          """aggregate(
            |  slice(a, 2, 23),
            |  named_struct('l', CAST(a[0] AS DOUBLE), 'b', CAST(0.0 AS DOUBLE)),
            |  (acc, x) -> named_struct(
            |    'l', (CAST(x AS DOUBLE) + acc.l + acc.b) / 2.0D,
            |    'b', ((CAST(x AS DOUBLE) + acc.l + acc.b) / 2.0D - acc.l + acc.b) / 2.0D))"""
            .stripMargin))
        .select($"day", round($"lb.l", 6).as("level"),
                round($"lb.b", 6).as("trend"),
                round($"lb.l" + $"lb.b", 6).as("forecast"))
        .orderBy($"day")
    }),

    // Holt-Winters additive TRIPLE smoothing (α = β = γ = 1/2, season
    // length 24) over the gap-filled hourly count series — q_time_holt's
    // level+trend recursion extended with the carried 24-slot seasonal
    // vector the fixture's diurnal cycle demands (q_time_seasonal /
    // q_time_periodogram prove the cycle; Holt alone smears it into the
    // trend). ONE global fold over the whole (day × 24) grid: the state
    // is a 26-double array [ℓ, b, s₀..s₂₃]; each step updates
    //   ℓt = (xt − s_old + ℓ + b)/2, bt = ((ℓt − ℓ) + b)/2,
    //   st = ((xt − ℓt) + s_old)/2
    // with init DECLARED ℓ0 = x0, b0 = 0, s = 0s. Both engines run the
    // IDENTICAL fold text (aggregate HOF ↔ list_reduce over a prepended
    // init, the q_time_holt convention), and every operation is IEEE
    // +/−/÷2 in the same order, so the states are bit-identical even
    // after the dyadic denominators outgrow exactness (~50 steps in).
    // Scale shape: the hour-bucket hash agg is the only data-sized job;
    // the fold sees (days × 24) elements in one row — time-bounded, not
    // data-bounded. Output = the end-of-series seasonal profile per slot
    // with the slot's one-step forecast ℓ + b + s_h.
    "q_time_hw" -> ((s, dir) => {
      import s.implicits._
      val hc = t(s, dir, "events")
        .groupBy(expr("unix_millis(ts) div 3600000").as("hr"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false) // one fact scan feeds bounds + join
      // Dense gap-fill by EQUI-JOIN, not element_at over a global hour
      // map: Catalyst map lookup is a LINEAR scan (ArrayBasedMapData has
      // no hash index), so grid-hours × map-entries went quadratic in the
      // time range — the hw_decade probe measured 51 s at a 10-year range
      // where this join path is sub-second. Fold input is value-identical.
      val grid = hc
        .agg(min(expr("hr div 24")).as("lo"), max(expr("hr div 24")).as("hi"))
        .select(explode(expr("sequence(lo * 24, hi * 24 + 23)")).as("hr"))
      grid.join(hc, Seq("hr"), "left")
        .select($"hr", coalesce($"c", lit(0L)).as("c"))
        .agg(array_sort(collect_list(struct($"hr", $"c"))).as("e"))
        .withColumn("g", expr(
          "transform(e, p -> array(CAST(p.c AS DOUBLE), CAST(p.hr % 24 AS DOUBLE)))"))
        .withColumn("st", expr(
          """aggregate(
            |  slice(g, 2, size(g) - 1),
            |  concat(array(g[0][0]), array_repeat(CAST(0.0 AS DOUBLE), 25)),
            |  (acc, e) -> concat(
            |    array(
            |      (e[0] - element_at(acc, CAST(e[1] AS INT) + 3) + acc[0] + acc[1]) / 2.0D,
            |      ((e[0] - element_at(acc, CAST(e[1] AS INT) + 3) + acc[0] + acc[1]) / 2.0D - acc[0] + acc[1]) / 2.0D),
            |    slice(acc, 3, CAST(e[1] AS INT)),
            |    array((e[0] - (e[0] - element_at(acc, CAST(e[1] AS INT) + 3) + acc[0] + acc[1]) / 2.0D + element_at(acc, CAST(e[1] AS INT) + 3)) / 2.0D),
            |    slice(acc, CAST(e[1] AS INT) + 4, 23 - CAST(e[1] AS INT))))"""
            .stripMargin))
        .select($"st", posexplode(expr("slice(st, 3, 24)")))
        .select($"pos".cast("long").as("hour"),
                round(col("st")(0), 6).as("level"),
                round(col("st")(1), 6).as("trend"),
                round($"col", 6).as("seasonal"),
                round(col("st")(0) + col("st")(1) + $"col", 6).as("forecast"))
        .orderBy($"hour")
    }),

    // Lagged cross-correlation between the hourly click and purchase
    // count series — the lead-lag diagnostic (does click volume LEAD
    // purchase volume?): Pearson r of (clickₜ, purchaseₜ₊L) for L = 0..3
    // over the gap-filled hourly grid (both series 0 on empty hours, the
    // q_time_resample convention). Same parity/scale design as
    // q_time_acf: one hour-bucket hash aggregate is the only data-sized
    // job; the grid join, the single ordered window pass, and the 4-lag
    // explode are all time-bounded; each r comes from five BIGINT-exact
    // power sums with one division and two sqrts over identical operands.
    // Inter-arrival-time profile per event type — the sampling-health
    // diagnostic read before trusting any gap-filled key: median / p90 /
    // max gap between consecutive same-type events of the same user.
    // Percentiles are the exact interpolated form on both engines (the
    // q_agg_median parity precedent), computed on µs longs and SCALED TO
    // SECONDS before the round(1) pin — at second magnitudes a formula-
    // order ulp between the two engines' interpolation cannot reach the
    // rounding boundary (it could at raw-µs magnitudes). One (user, type)
    // window pass + a |types|-row agg; max_us stays exact BIGINT.
    "q_time_iat" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts_us", $"event_id")
      val gaps = t(s, dir, "events")
        .withColumn("ts_us", unix_micros($"ts"))
        .withColumn("dt", $"ts_us" - lag($"ts_us", 1).over(w))
        .filter($"dt".isNotNull)
      gaps.groupBy($"event_type")
        .agg(count(lit(1)).as("n_gaps"),
             round(percentile($"dt", lit(0.5)) / 1.0e6, 1).as("p50_s"),
             round(percentile($"dt", lit(0.9)) / 1.0e6, 1).as("p90_s"),
             max($"dt").as("max_us"))
        .orderBy($"event_type")
    }),

    // Burst segmentation with hysteresis — the alert-storm / load-burst
    // primitive beside q_time_cusum's single changepoint: per event type
    // over the gap-filled hourly grid, a burst STARTS when the hourly
    // count reaches 1.5× the type's mean rate and persists until the
    // count drops BELOW the mean — two thresholds (a Schmitt trigger) so
    // boundary chatter cannot split one storm into many. Both
    // comparisons are EXACT integer cross-multiplications (2·c·n ≥
    // 3·total to enter, c·n < total to exit — never a double mean); the
    // carried state is last(flag IGNORE NULLS) over the ordered grid —
    // one window pass, no fold array — and every output column is an
    // exact BIGINT: this key has NO rounding anywhere. Grid rows are
    // time-bounded (the q_roll_mean argument); the only data-sized job
    // is the (h, type) hash agg. The 1.5× bar is sized to the fixture's
    // Poisson-ish tail so the machinery is exercised at every SF (2×
    // is above the sf0.1 max — a vacuous key at exactly the SF the
    // driver gates on).
    "q_time_burst" -> ((s, dir) => {
      import s.implicits._
      val agg = t(s, dir, "events")
        .withColumn("h", expr("(unix_millis(ts) div 3600000) * 3600000"))
        .groupBy($"h", $"event_type")
        .agg(count(lit(1)).as("c"))
      val grid = agg.agg(min($"h").as("lo"), max($"h").as("hi"))
        .select(explode(expr("sequence(lo, hi, 3600000)")).as("h"))
      val types = agg.select($"event_type").distinct()
      val ser = grid.crossJoin(broadcast(types))
        .join(agg, Seq("h", "event_type"), "left")
        .select($"h", $"event_type", coalesce($"c", lit(0L)).as("c"))
      val wT = Window.partitionBy($"event_type")
      val wOrd = wT.orderBy($"h")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val st = ser
        .withColumn("n", count(lit(1)).over(wT))
        .withColumn("total", sum($"c").over(wT))
        .withColumn("flag",
          when(lit(2L) * $"c" * $"n" >= lit(3L) * $"total", 1L)
            .when($"c" * $"n" < $"total", 0L))
        .withColumn("state",
          coalesce(last($"flag", ignoreNulls = true).over(wRun), lit(0L)))
        .withColumn("newb",
          when($"state" === 1L &&
            coalesce(lag($"state", 1).over(wOrd), lit(0L)) === 0L, 1L)
            .otherwise(0L))
        .withColumn("bid", sum($"newb").over(wRun))
      val lens = st.filter($"state" === 1L)
        .groupBy($"event_type", $"bid").agg(count(lit(1)).as("len"))
        .groupBy($"event_type").agg(max($"len").as("maxlen"))
      st.groupBy($"event_type")
        .agg(max($"n").as("n_hours"), max($"total").as("n_events"),
             sum($"newb").as("n_bursts"), sum($"state").as("burst_hours"),
             sum($"c" * $"state").as("events_in_burst"))
        .join(lens, Seq("event_type"), "left")
        .select($"event_type", $"n_hours", $"n_events", $"n_bursts",
                $"burst_hours",
                coalesce($"maxlen", lit(0L)).as("max_burst_len"),
                $"events_in_burst")
        .orderBy($"event_type")
    }),

    // Hour-of-day activity entropy per event type — the temporal
    // REGULARITY profile (the mobility literature's visit-distribution
    // entropy, applied to the 24-slot daily clock): H = −Σ p ln p over
    // each type's hour-of-day histogram, plus H/ln 24 normalized to
    // [0, 1] (1 = uniformly spread day, 0 = single-hour burst). p
    // divides exact longs; each ln is round(6)-pinned BEFORE the
    // multiply (q_stat_psi discipline); the ≤24-term sum is
    // DECIMAL-routed; ln 24 is ONE Scala constant embedded verbatim in
    // both dialects. One (type, hour24) hash agg — ≤ |types|·24 rows
    // after it at any corpus volume.
    "q_time_entropy" -> ((s, dir) => {
      import s.implicits._
      val byHour = t(s, dir, "events")
        .withColumn("h24", expr("(unix_millis(ts) div 3600000) % 24"))
        .groupBy($"event_type", $"h24")
        .agg(count(lit(1)).as("c"))
      val wT = Window.partitionBy($"event_type")
      byHour
        .withColumn("n", sum($"c").over(wT))
        .withColumn("p", $"c".cast("double") / $"n")
        .withColumn("term", $"p" * round(log($"p"), 6))
        .groupBy($"event_type")
        // decimal-domain round (the q_traj_entropy tie fix): the exact
        // term sum can land on a 5e-7 tie that double-domain rounding
        // resolves differently across engines
        .agg(max($"n").as("n_events"),
             count(lit(1)).as("n_slots"),
             round(-sum($"term".cast(DecimalType(28, 12))), 6).cast("double")
               .as("entropy"))
        .withColumn("entropy_norm", round($"entropy" / lit(Ln24), 4))
        .orderBy($"event_type")
    }),

    "q_time_xcorr" -> ((s, dir) => {
      import s.implicits._
      val agg = t(s, dir, "events")
        .withColumn("h", expr("(unix_millis(ts) div 3600000) * 3600000"))
        .groupBy($"h")
        .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
             sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      val grid = agg.agg(min($"h").as("lo"), max($"h").as("hi"))
        .select(explode(expr("sequence(lo, hi, 3600000)")).as("h"))
      val ser = grid.join(agg, Seq("h"), "left")
        .select($"h", coalesce($"x", lit(0L)).as("x"),
                coalesce($"y", lit(0L)).as("y"))
      val w = Window.orderBy($"h")
      val lagged = ser
        .withColumn("y1", lead($"y", 1).over(w))
        .withColumn("y2", lead($"y", 2).over(w))
        .withColumn("y3", lead($"y", 3).over(w))
      val pairs = lagged
        .select(explode(array(
          struct(lit(0).as("lg"), $"x", $"y".as("yy")),
          struct(lit(1).as("lg"), $"x", $"y1".as("yy")),
          struct(lit(2).as("lg"), $"x", $"y2".as("yy")),
          struct(lit(3).as("lg"), $"x", $"y3".as("yy")))).as("p"))
        .select($"p.lg".as("lag"), $"p.x".as("x"), $"p.yy".as("y"))
        .filter($"y".isNotNull)
      pairs.groupBy($"lag")
        .agg(count(lit(1)).as("n_pairs"),
             sum($"x").as("sx"), sum($"y").as("sy"),
             sum($"x" * $"y").as("sxy"),
             sum($"x" * $"x").as("sxx"),
             sum($"y" * $"y").as("syy"))
        .select($"lag", $"n_pairs",
          pearsonR($"n_pairs", $"sx", $"sy", $"sxy", $"sxx", $"syy")
            .as("xcorr"))
        .orderBy($"lag")
    }),

    // Periodogram — the frequency-domain twin of q_time_acf: DFT power of
    // the mean-centered hourly count series at the four calendar-candidate
    // periods (6 h, 12 h, 24 h, 1 week). Detects WHICH cycle dominates the
    // load (the daily peak a capacity planner provisions for), where ACF
    // only says "short-range structure exists". Determinism: centering is
    // integer-exact (cx = n·x_t − Σx, never a double mean), the trig
    // argument is range-reduced BEFORE cos/sin (t mod P keeps it in
    // [0, 2π) — both engines evaluate libm on the same small double), each
    // term routes through DECIMAL(28,6) so the big sums are order-free,
    // and power derives from the round(4)-pinned cos/sin sums. One grid
    // agg + a 4×-explode over the bounded hour grid — never data-sized
    // beyond the substrate's hourly rollup.
    "q_time_periodogram" -> ((s, dir) => {
      import s.implicits._
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      val wAll = Window.partitionBy()
      val x = Reshape.resampled(s, dir)
        .select($"bucket_ms", $"n_events".as("x"))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sx", sum($"x").over(wAll))
        .withColumn("mn", min($"bucket_ms").over(wAll))
        .withColumn("t", expr("(bucket_ms - mn) div 3600000"))
        .withColumn("cx", ($"n" * $"x" - $"sx").cast("double"))
      x.select($"n", $"cx", $"t",
          explode(array(lit(6L), lit(12L), lit(24L), lit(168L))).as("p"))
        .withColumn("ang",
          lit(6.283185307179586) * ($"t" % $"p").cast("double") / $"p")
        .withColumn("tc", ($"cx" * cos($"ang")).cast(dec))
        .withColumn("tsn", ($"cx" * sin($"ang")).cast(dec))
        .groupBy($"p")
        .agg(max($"n").as("n"), sum($"tc").as("sc"), sum($"tsn").as("ss"))
        .withColumn("c", round($"sc".cast("double") / ($"n" * $"n"), 4))
        .withColumn("s", round($"ss".cast("double") / ($"n" * $"n"), 4))
        .select($"p".as("period_h"), $"n".as("n_hours"),
          $"c".as("cos_sum"), $"s".as("sin_sum"),
          round($"c" * $"c" + $"s" * $"s", 4).as("power"))
        .orderBy($"period_h")
    }),

    // DTW distance matrix between the event types' hour-of-day profiles
    // (Sakoe & Chiba, IEEE TASSP 1978) — the ELASTIC-alignment similarity
    // the lock-step keys cannot express: two types whose daily shapes match
    // but run an hour apart read FAR under q_time_xcorr's fixed lags and
    // near under warping. Profiles = mean value per (type, hour-of-day),
    // round(6)-pinned decimal-exact means — the ONE data-sized job; the
    // ≤|types|×24 matrix then collects (the MMR/AnnPQ probe-sized
    // discipline) and the O(24²) DP per pair runs in operators/Dtw. No SQL
    // oracle (a 2-D DP has no tractable SQL form); TimeseriesSpec pins
    // equality with an independent recursive-memo DTW, the textbook
    // axioms, and a hand-computed alignment.
    "m_time_dtw" -> ((s, dir) => {
      import s.implicits._
      val prof = t(s, dir, "events")
        .groupBy($"event_type", hour($"ts").as("h"))
        .agg(round(dsum($"value", 6) / count(lit(1)), 6).as("v"))
        .collect()
      val byType = prof.map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues { xs =>
          val a = Array.fill(24)(0.0) // an absent hour is a real 0-activity slot
          xs.foreach(x => a(x._2) = x._3)
          a
        }.toMap
      val types = byType.keys.toList.sorted
      val out = for {
        i <- types.indices; j <- (i + 1) until types.size
      } yield (types(i), types(j),
        math.rint(graft.operators.Dtw.dist(byType(types(i)), byType(types(j)))
          * 10000.0) / 10000.0)
      s.createDataFrame(out).toDF("type_a", "type_b", "dtw")
        .orderBy($"type_a", $"type_b")
    }),

    // Matrix profile per event type (Yeh et al., ICDM 2016; STOMP
    // recurrence, Zhu et al., ICDM 2016) over the gap-filled hourly count
    // series, window m = 24 (one day): for every day-long subsequence, the
    // z-normalized distance to its nearest non-trivial neighbor — one
    // parameter-free pass that surfaces the strongest MOTIF (most-repeated
    // daily shape: the profile minimum, with its nearest-neighbor index =
    // the motif's twin) and the strongest DISCORD (the day least like any
    // other: the profile maximum) — the modern successor to picking
    // periodicity (q_time_periodogram) or changepoints (q_time_cusum) by
    // hand. Plan: the (type, hour) hash agg is the only data-sized job;
    // the per-type dense grid is the q_time_hw EQUI-JOIN gap-fill (never
    // the quadratic map-lookup), and the O(n²) STOMP kernel runs once per
    // type inside whole-stage codegen, n bounded by the TIME RANGE, not
    // the data volume (the declared wall + SCRIMP++ escape hatch in
    // functions/MatrixProfile.scala). Ties are pinned: motif = (d asc,
    // i asc), discord = (d desc, i asc), nn = first j at the strict min.
    // No SQL oracle (a rolling-dot-product O(n²) scan has no tractable
    // SQL form — the m_time_dtw precedent); TimeseriesSpec pins the kernel
    // against a brute-force z-normalize-then-scan reference, the planted
    // motif/discord geometry, and the flat-window conventions.
    // Tiering (round-15, the r14 verdict's ask #2): below the adaptive
    // range gate (grid ≤ MpTiledGate hours) the in-row kernel runs once
    // per type; past it the SAME recurrence runs RANGE-PARTITIONED — the
    // STOMP diagonals split into chunk ranges, each evaluated by
    // matrix_profile_block against the BROADCAST series, partial profiles
    // merged by min(struct(d, nn)). Exact (bit-identical distances — the
    // block kernel shares the full kernel's stats + distance code and
    // replays its own diagonal chains; built INSTEAD of the sampled-
    // SCRIMP swap-in the r14 docs named, because distributing the exact
    // work dominates sampling it: mp_decade measured 191.6 s on the
    // serial kernel vs the tiled tier's distributed core-seconds).
    // TimeseriesSpec pins tiled ≡ kernel output on the fixture grid with
    // the gate forced both ways.
    "m_time_matrixprofile" -> ((s, dir) => mpKey(s, dir, MpTiledGate)),

    // SAX symbolization of each type's hour-of-day activity profile (Lin,
    // Keogh, Wei & Lonardi, DMKD 2007) — the discretization that turns a
    // series into a WORD so sequence tooling (hashing, suffix indexes,
    // Markov screens) applies: z-normalize the 24-slot profile, map each
    // slot to {a,b,c,d} at the Gaussian quartile breakpoints ±0.6745/0.
    // Empty slots are real zeros (the full 24-slot lattice, the latticeGrid
    // lesson). Slot counts and their squares stay EXACT (DECIMAL-routed)
    // into sums; z divides double casts of those exact sums — identical
    // operand bits on both engines — and is round(6)-pinned BEFORE the
    // breakpoint comparisons, so a symbol can never split on an ulp. Plan:
    // one data-sized (type, hour24) hash agg; everything after runs on
    // |types|×24 generated rows.
    "q_time_sax" -> ((s, dir) => {
      import s.implicits._
      val dec = DecimalType(18, 0)
      val counts = t(s, dir, "events")
        .groupBy($"event_type", hour($"ts").cast("long").as("h"))
        .agg(count(lit(1)).as("v"))
      val lattice = counts.select($"event_type").distinct()
        .crossJoin(s.range(0, 24).select($"id".as("h")))
      val wT = Window.partitionBy($"event_type")
      lattice.join(counts, Seq("event_type", "h"), "left")
        .withColumn("v", coalesce($"v", lit(0L)))
        .withColumn("sv", sum($"v".cast(dec)).over(wT).cast("double"))
        .withColumn("svv",
          sum($"v".cast(dec) * $"v".cast(dec)).over(wT).cast("double"))
        .withColumn("den2", lit(24.0) * $"svv" - $"sv" * $"sv")
        .withColumn("z", when($"den2" > 0.0,
          round((lit(24.0) * $"v" - $"sv") / sqrt($"den2"), 6))
          .otherwise(lit(0.0)))
        .withColumn("sym",
          when($"z" < -0.6745, "a").when($"z" < 0.0, "b")
            .when($"z" < 0.6745, "c").otherwise("d"))
        .groupBy($"event_type")
        .agg(array_join(transform(
            array_sort(collect_list(struct($"h", $"sym"))),
            x => x.getField("sym")), "").as("sax"),
          sum($"v").as("n_events"))
        .orderBy($"event_type")
    }),

    // Lomb–Scargle periodogram (Lomb 1976, Scargle ApJ 1982) of the
    // purchase VALUE series at its RAW, unevenly spaced event times — the
    // spectral tool built for exactly the sampling q_time_periodogram's
    // DFT cannot handle (the DFT needs the gap-filled grid; LS weights
    // each real observation at its true instant, no resampling bias).
    // Single-pass form: the τ rotation and the centered projections expand
    // into 8 per-period trig sums (cos/sin/cos²/sin²/sin·cos/x·cos/x·sin/
    // double-angle), so ONE fact hash agg serves all four candidate
    // periods; power = (A²/ΣCC + B²/ΣSS)/(2σ²), the classical
    // variance-normalized form. Parity: trig arguments range-reduce in
    // EXACT integer µs (th mod Pµs) before libm; every per-row term
    // DECIMAL(28,6)-pinned so the big sums are order-free (the
    // periodogram discipline); everything after the agg is 4-row
    // arithmetic on identical doubles. min(ts) broadcasts as a 1-row
    // stats cross join, never a data-sized window.
    "q_time_lomb" -> ((s, dir) => {
      import s.implicits._
      val dec = DecimalType(28, 6)
      val d6 = DecimalType(18, 6)
      val ev = t(s, dir, "events").filter($"event_type" === "purchase")
        .select(unix_micros($"ts").as("tu"), $"value")
      val mn = ev.agg(min($"tu").as("mn"))
      val base = ev.crossJoin(broadcast(mn))
        .withColumn("th", $"tu" - $"mn")
        .select($"th", $"value",
          explode(array(lit(6L), lit(12L), lit(24L), lit(168L))).as("p"))
        .withColumn("pus", $"p" * lit(3600000000L))
        .withColumn("ang",
          lit(6.283185307179586) * ($"th" % $"pus").cast("double") / $"pus")
        .withColumn("c", cos($"ang"))
        .withColumn("sn", sin($"ang"))
      base.groupBy($"p")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast(d6)).as("sx"),
          sum(($"value" * $"value").cast(d6)).as("sxx"),
          sum(($"value" * $"c").cast(dec)).as("sxc"),
          sum(($"value" * $"sn").cast(dec)).as("sxs"),
          sum($"c".cast(dec)).as("sc"),
          sum($"sn".cast(dec)).as("ss"),
          sum(($"c" * $"c").cast(dec)).as("scc"),
          sum(($"sn" * $"sn").cast(dec)).as("sss"),
          sum(($"sn" * $"c").cast(dec)).as("ssc"),
          sum(sin(lit(2.0) * $"ang").cast(dec)).as("s2s"),
          sum(cos(lit(2.0) * $"ang").cast(dec)).as("s2c"))
        .withColumn("xb", $"sx".cast("double") / $"n")
        .withColumn("vr", ($"sxx".cast("double")
          - $"sx".cast("double") * $"sx".cast("double") / $"n") / ($"n" - 1))
        .withColumn("phi",
          atan2($"s2s".cast("double"), $"s2c".cast("double")) / 2.0)
        .withColumn("ct", cos($"phi"))
        .withColumn("st", sin($"phi"))
        .withColumn("xc", $"sxc".cast("double") - $"xb" * $"sc".cast("double"))
        .withColumn("xs", $"sxs".cast("double") - $"xb" * $"ss".cast("double"))
        .withColumn("aa", $"xc" * $"ct" + $"xs" * $"st")
        .withColumn("bb", $"xs" * $"ct" - $"xc" * $"st")
        .withColumn("cc2", $"ct" * $"ct" * $"scc".cast("double")
          + lit(2.0) * $"ct" * $"st" * $"ssc".cast("double")
          + $"st" * $"st" * $"sss".cast("double"))
        .withColumn("ss2", $"st" * $"st" * $"scc".cast("double")
          - lit(2.0) * $"ct" * $"st" * $"ssc".cast("double")
          + $"ct" * $"ct" * $"sss".cast("double"))
        .select($"p".as("period_h"), $"n",
          when($"cc2" > 0.0 && $"ss2" > 0.0 && $"vr" > 0.0,
            round(($"aa" * $"aa" / $"cc2" + $"bb" * $"bb" / $"ss2")
              / (lit(2.0) * $"vr"), 4)).as("ls_power"))
        .orderBy($"period_h")
    }),

    // Peak detection with topographic prominence on the hourly series —
    // the find_peaks primitive (peak = strict local max; prominence =
    // height − the higher of the two valley minima between the peak and
    // its nearest higher ground): WHICH load spikes are real summits vs
    // shoulders of a bigger one — the question q_time_burst's thresholds
    // and q_anomaly_zscore's pointwise flags cannot answer. Prominence is
    // WINDOWED at ±336 h by declaration (the theilsen max-lag lesson:
    // unbounded crossing searches square with the grid; the window keeps
    // both theta joins linear in it). Both window joins are BANDED onto
    // an equi-key (r13, the q_geo_st_join discipline): band = i div 336;
    // |i − pi| ≤ 336 forces |band(i) − band(pi)| ≤ 1, so the peak side
    // explodes to {band−1, band, band+1}, the grid side keys band(i),
    // and the hash equi-join EVALUATES only the ±1-band neighborhood —
    // the pure range predicates planned as BroadcastNestedLoopJoins that
    // compared every (peak, hour) pair and only then filtered. Each
    // matching pair joins on exactly one band value (band(i)), so no
    // dedup is needed. Every height/valley/prominence is an exact
    // BIGINT — no FP anywhere in the key. Top-10 by
    // (prominence DESC, bucket_ms).
    "q_time_peaks" -> ((s, dir) => {
      import s.implicits._
      val L = 336L
      val w = Window.orderBy($"bucket_ms")
      val gi = Reshape.resampled(s, dir)
        .select($"bucket_ms", $"n_events".as("h"))
        .withColumn("i", row_number().over(w).cast("long"))
      val peaks = gi
        .withColumn("pl", lag($"h", 1).over(w))
        .withColumn("pr", lead($"h", 1).over(w))
        .filter($"pl".isNotNull && $"pr".isNotNull &&
          $"h" > $"pl" && $"h" > $"pr")
        .select($"i".as("pi"), $"bucket_ms".as("peak_ms"), $"h".as("ph"))
        .withColumn("bd", explode(array(
          expr("pi div 336 - 1"), expr("pi div 336"), expr("pi div 336 + 1"))))
      val win = gi.select($"i", $"h").withColumn("bd", expr("i div 336"))
      // nearest higher ground within the window (or the window edge)
      val bounds = peaks
        .join(win, Seq("bd"))
        .filter($"i" >= $"pi" - L && $"i" <= $"pi" + L && $"i" =!= $"pi")
        .groupBy($"pi", $"peak_ms", $"ph")
        .agg(coalesce(max(when($"i" < $"pi" && $"h" > $"ph", $"i")),
               min(when($"i" < $"pi", $"i")) - 1L).as("lb"),
             coalesce(min(when($"i" > $"pi" && $"h" > $"ph", $"i")),
               max(when($"i" > $"pi", $"i")) + 1L).as("rb"))
        .withColumn("bd", explode(array(
          expr("pi div 336 - 1"), expr("pi div 336"), expr("pi div 336 + 1"))))
      // valley minima strictly inside (lb, pi) and (pi, rb) — both
      // non-empty because a strict local max's neighbors are lower
      bounds
        .join(win, Seq("bd"))
        .filter(($"i" > $"lb" && $"i" < $"pi") ||
                ($"i" > $"pi" && $"i" < $"rb"))
        .groupBy($"peak_ms", $"ph", $"pi")
        .agg(min(when($"i" < $"pi", $"h")).as("vl"),
             min(when($"i" > $"pi", $"h")).as("vr"))
        .select($"peak_ms", $"ph".as("height"),
          ($"ph" - greatest($"vl", $"vr")).as("prominence"))
        .orderBy($"prominence".desc, $"peak_ms")
        .limit(10)
    }),

    // Wald–Wolfowitz runs test (Ann. Math. Stat. 1940) on the gap-filled
    // hourly count series — the RANDOMNESS screen the diagnostics family
    // was missing: dichotomize each hour above/below the grid median
    // (median-equal hours drop, the classical convention), count runs of
    // consecutive same-side hours, and compare against the exact
    // null moments μ = 2n₁n₀/n + 1, σ² = 2n₁n₀(2n₁n₀−n)/(n²(n−1)).
    // Too FEW runs = clustering/trend, too many = oscillation. Counts are
    // exact BIGINTs; μ/σ²/z are double ops over identical exact operands;
    // the median is the proven percentile ≡ quantile_cont machinery
    // broadcast as a 1-row stats join; the one ordered pass rides the
    // TIME-BOUNDED grid (the q_time_acf scale argument).
    "q_time_runs" -> ((s, dir) => {
      import s.implicits._
      val res = Reshape.resampled(s, dir).select($"bucket_ms", $"n_events")
      val med = res.agg(percentile($"n_events", lit(0.5)).as("med"))
      val w = Window.orderBy($"bucket_ms")
      res.crossJoin(broadcast(med))
        .filter($"n_events" =!= $"med")
        .withColumn("sgn", when($"n_events" > $"med", 1L).otherwise(0L))
        .withColumn("chg", when(lag($"sgn", 1).over(w).isNull ||
            lag($"sgn", 1).over(w) =!= $"sgn", 1L).otherwise(0L))
        .agg(sum($"chg").as("n_runs"), sum($"sgn").as("n_above"),
             (count(lit(1)) - sum($"sgn")).as("n_below"))
        .withColumn("n", $"n_above" + $"n_below")
        .withColumn("mu", lit(2.0) * $"n_above" * $"n_below" / $"n" + 1.0)
        .withColumn("s2", (lit(2.0) * $"n_above" * $"n_below" *
            (lit(2.0) * $"n_above" * $"n_below" - $"n")) /
          ($"n".cast("double") * $"n" * ($"n" - 1L)))
        .select($"n", $"n_runs", $"n_above", $"n_below",
          when($"s2" > 0.0, r4(($"n_runs" - $"mu") / sqrt($"s2"))).as("z"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_time_sax" ->
      """WITH c AS (
        |  SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS h,
        |    COUNT(*) AS v
        |  FROM events GROUP BY 1, 2),
        |lat AS (
        |  SELECT t.event_type, g.h
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) g),
        |f AS (
        |  SELECT l.event_type, l.h, COALESCE(c.v, 0) AS v
        |  FROM lat l LEFT JOIN c ON c.event_type = l.event_type AND c.h = l.h),
        |w AS (
        |  SELECT event_type, h, v,
        |    CAST(SUM(CAST(v AS DECIMAL(18,0)))
        |      OVER (PARTITION BY event_type) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0)))
        |      OVER (PARTITION BY event_type) AS DOUBLE) AS svv
        |  FROM f),
        |z AS (
        |  SELECT event_type, h, v,
        |    CASE WHEN 24.0 * svv - sv * sv > 0.0
        |      THEN round((24.0 * v - sv) / sqrt(24.0 * svv - sv * sv), 6)
        |      ELSE 0.0 END AS z
        |  FROM w),
        |sym AS (
        |  SELECT event_type, h, v,
        |    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
        |         WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS s
        |  FROM z)
        |SELECT event_type, string_agg(s, '' ORDER BY h) AS sax,
        |  CAST(SUM(v) AS BIGINT) AS n_events
        |FROM sym GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_time_peaks" -> (Reshape.resampledCte +
      """,
        |gi AS (
        |  SELECT bucket_ms, n_events AS h,
        |    CAST(row_number() OVER (ORDER BY bucket_ms) AS BIGINT) AS i
        |  FROM res),
        |peaks AS (
        |  SELECT i AS pi, bucket_ms AS peak_ms, h AS ph
        |  FROM (SELECT *, lag(h) OVER (ORDER BY bucket_ms) AS pl,
        |               lead(h) OVER (ORDER BY bucket_ms) AS pr
        |        FROM gi)
        |  WHERE pl IS NOT NULL AND pr IS NOT NULL AND h > pl AND h > pr),
        |bounds AS (
        |  SELECT pi, peak_ms, ph,
        |    COALESCE(MAX(CASE WHEN g.i < pi AND g.h > ph THEN g.i END),
        |             MIN(CASE WHEN g.i < pi THEN g.i END) - 1) AS lb,
        |    COALESCE(MIN(CASE WHEN g.i > pi AND g.h > ph THEN g.i END),
        |             MAX(CASE WHEN g.i > pi THEN g.i END) + 1) AS rb
        |  FROM peaks JOIN gi g
        |    ON g.i >= pi - 336 AND g.i <= pi + 336 AND g.i <> pi
        |  GROUP BY pi, peak_ms, ph),
        |v AS (
        |  SELECT peak_ms, ph, pi,
        |    MIN(CASE WHEN g.i < pi THEN g.h END) AS vl,
        |    MIN(CASE WHEN g.i > pi THEN g.h END) AS vr
        |  FROM bounds JOIN gi g
        |    ON (g.i > lb AND g.i < pi) OR (g.i > pi AND g.i < rb)
        |  GROUP BY peak_ms, ph, pi)
        |SELECT peak_ms, CAST(ph AS BIGINT) AS height,
        |  CAST(ph - GREATEST(vl, vr) AS BIGINT) AS prominence
        |FROM v ORDER BY prominence DESC, peak_ms LIMIT 10""".stripMargin),

    "q_time_runs" -> (Reshape.resampledCte +
      """,
        |med AS (SELECT quantile_cont(CAST(n_events AS DOUBLE), 0.5) AS med
        |        FROM res),
        |kept AS (
        |  SELECT bucket_ms,
        |    CASE WHEN n_events > med THEN 1 ELSE 0 END AS sgn
        |  FROM res, med WHERE n_events <> med),
        |runs AS (
        |  SELECT sgn,
        |    CASE WHEN lag(sgn) OVER (ORDER BY bucket_ms) IS NULL
        |           OR lag(sgn) OVER (ORDER BY bucket_ms) <> sgn
        |         THEN 1 ELSE 0 END AS chg
        |  FROM kept),
        |a AS (
        |  SELECT CAST(SUM(chg) AS BIGINT) AS n_runs,
        |    CAST(SUM(sgn) AS BIGINT) AS n_above,
        |    CAST(COUNT(*) - SUM(sgn) AS BIGINT) AS n_below
        |  FROM runs),
        |m AS (
        |  SELECT n_above + n_below AS n, n_runs, n_above, n_below,
        |    2.0 * n_above * n_below / (n_above + n_below) + 1.0 AS mu,
        |    (2.0 * n_above * n_below *
        |       (2.0 * n_above * n_below - (n_above + n_below))) /
        |    (CAST(n_above + n_below AS DOUBLE) * (n_above + n_below)
        |       * (n_above + n_below - 1)) AS s2
        |  FROM a)
        |SELECT CAST(n AS BIGINT) AS n, n_runs, n_above, n_below,
        |  CASE WHEN s2 > 0.0 THEN round((n_runs - mu) / sqrt(s2), 4) END AS z
        |FROM m""".stripMargin),

    "q_time_lomb" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tu, value
        |  FROM events WHERE event_type = 'purchase'),
        |mn AS (SELECT MIN(tu) AS mn FROM ev),
        |base AS (
        |  SELECT tu - mn AS th, value, p.p AS p, p.p * 3600000000 AS pus
        |  FROM ev, mn, (SELECT unnest([6, 12, 24, 168]) AS p) p),
        |trg AS (
        |  SELECT p, value,
        |    6.283185307179586 * CAST(th % pus AS DOUBLE) / pus AS ang
        |  FROM base),
        |ag AS (
        |  SELECT p, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS sx,
        |    SUM(CAST(value * value AS DECIMAL(18,6))) AS sxx,
        |    SUM(CAST(value * cos(ang) AS DECIMAL(28,6))) AS sxc,
        |    SUM(CAST(value * sin(ang) AS DECIMAL(28,6))) AS sxs,
        |    SUM(CAST(cos(ang) AS DECIMAL(28,6))) AS sc,
        |    SUM(CAST(sin(ang) AS DECIMAL(28,6))) AS ss,
        |    SUM(CAST(cos(ang) * cos(ang) AS DECIMAL(28,6))) AS scc,
        |    SUM(CAST(sin(ang) * sin(ang) AS DECIMAL(28,6))) AS sss,
        |    SUM(CAST(sin(ang) * cos(ang) AS DECIMAL(28,6))) AS ssc,
        |    SUM(CAST(sin(2.0 * ang) AS DECIMAL(28,6))) AS s2s,
        |    SUM(CAST(cos(2.0 * ang) AS DECIMAL(28,6))) AS s2c
        |  FROM trg GROUP BY p),
        |fin AS (
        |  SELECT p, n,
        |    CAST(sx AS DOUBLE) / n AS xb,
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |      / (n - 1) AS vr,
        |    cos(atan2(CAST(s2s AS DOUBLE), CAST(s2c AS DOUBLE)) / 2.0) AS ct,
        |    sin(atan2(CAST(s2s AS DOUBLE), CAST(s2c AS DOUBLE)) / 2.0) AS st,
        |    CAST(sxc AS DOUBLE) AS sxc, CAST(sxs AS DOUBLE) AS sxs,
        |    CAST(sc AS DOUBLE) AS sc, CAST(ss AS DOUBLE) AS ss,
        |    CAST(scc AS DOUBLE) AS scc, CAST(sss AS DOUBLE) AS sss,
        |    CAST(ssc AS DOUBLE) AS ssc
        |  FROM ag),
        |prj AS (
        |  SELECT p, n, vr, ct, st,
        |    sxc - xb * sc AS xc, sxs - xb * ss AS xs,
        |    ct * ct * scc + 2.0 * ct * st * ssc + st * st * sss AS cc2,
        |    st * st * scc - 2.0 * ct * st * ssc + ct * ct * sss AS ss2
        |  FROM fin),
        |pw AS (
        |  SELECT p, n, vr, cc2, ss2,
        |    xc * ct + xs * st AS aa, xs * ct - xc * st AS bb
        |  FROM prj)
        |SELECT CAST(p AS BIGINT) AS period_h, CAST(n AS BIGINT) AS n,
        |  CASE WHEN cc2 > 0.0 AND ss2 > 0.0 AND vr > 0.0
        |    THEN round((aa * aa / cc2 + bb * bb / ss2) / (2.0 * vr), 4) END
        |    AS ls_power
        |FROM pw ORDER BY period_h""".stripMargin,

    "q_time_periodogram" -> (Reshape.resampledCte +
      """,
        |s0 AS (SELECT bucket_ms, n_events AS x FROM res),
        |m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, MIN(bucket_ms) AS mn
        |      FROM s0),
        |tt AS (SELECT (bucket_ms - mn) // 3600000 AS t,
        |              CAST(n * x - sx AS DOUBLE) AS cx, n
        |       FROM s0, m),
        |e AS (SELECT t, cx, n, unnest([6, 12, 24, 168]) AS p FROM tt),
        |g AS (SELECT p, MAX(n) AS n,
        |  SUM(CAST(cx * cos(6.283185307179586 * CAST(t % p AS DOUBLE) / p)
        |      AS DECIMAL(28,6))) AS sc,
        |  SUM(CAST(cx * sin(6.283185307179586 * CAST(t % p AS DOUBLE) / p)
        |      AS DECIMAL(28,6))) AS ss
        |  FROM e GROUP BY p),
        |f AS (SELECT p, n,
        |  round(CAST(sc AS DOUBLE) / (n * n), 4) AS c,
        |  round(CAST(ss AS DOUBLE) / (n * n), 4) AS s FROM g)
        |SELECT CAST(p AS BIGINT) AS period_h, CAST(n AS BIGINT) AS n_hours,
        |  c AS cos_sum, s AS sin_sum, round(c * c + s * s, 4) AS power
        |FROM f ORDER BY period_h""".stripMargin),

    "q_time_acf" -> (Reshape.resampledCte +
      s""",
        |lagged AS (
        |  SELECT n_events AS x,
        |    lag(n_events, 1) OVER (ORDER BY bucket_ms) AS l1,
        |    lag(n_events, 2) OVER (ORDER BY bucket_ms) AS l2,
        |    lag(n_events, 3) OVER (ORDER BY bucket_ms) AS l3
        |  FROM res),
        |pairs AS (
        |  SELECT 1 AS lag, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
        |  UNION ALL
        |  SELECT 2 AS lag, x, l2 AS y FROM lagged WHERE l2 IS NOT NULL
        |  UNION ALL
        |  SELECT 3 AS lag, x, l3 AS y FROM lagged WHERE l3 IS NOT NULL),
        |st AS (
        |  SELECT lag, COUNT(*) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy
        |  FROM pairs GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, n_pairs,
        |  ${Q.oPearson()} AS acf
        |FROM (
        |  SELECT lag, n_pairs,
        |    n_pairs * sxy - sx * sy AS num,
        |    n_pairs * sxx - sx * sx AS d1,
        |    n_pairs * syy - sy * sy AS d2
        |  FROM st)
        |ORDER BY lag""".stripMargin),

    // The acf CTE chain re-pivoted, then the Durbin–Levinson recursion
    // over the identical round(4)-pinned r's in identical op order.
    "q_time_pacf" -> (Reshape.resampledCte +
      s""",
        |lagged AS (
        |  SELECT n_events AS x,
        |    lag(n_events, 1) OVER (ORDER BY bucket_ms) AS l1,
        |    lag(n_events, 2) OVER (ORDER BY bucket_ms) AS l2,
        |    lag(n_events, 3) OVER (ORDER BY bucket_ms) AS l3
        |  FROM res),
        |pairs AS (
        |  SELECT 1 AS lag, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
        |  UNION ALL
        |  SELECT 2 AS lag, x, l2 AS y FROM lagged WHERE l2 IS NOT NULL
        |  UNION ALL
        |  SELECT 3 AS lag, x, l3 AS y FROM lagged WHERE l3 IS NOT NULL),
        |st AS (
        |  SELECT lag, COUNT(*) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy
        |  FROM pairs GROUP BY lag),
        |ac AS (
        |  SELECT lag, ${Q.oPearson()} AS acf
        |  FROM (
        |    SELECT lag, n_pairs,
        |      n_pairs * sxy - sx * sy AS num,
        |      n_pairs * sxx - sx * sx AS d1,
        |      n_pairs * syy - sy * sy AS d2
        |    FROM st)),
        |pv AS (
        |  SELECT
        |    MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
        |    MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
        |    MAX(CASE WHEN lag = 3 THEN acf END) AS r3
        |  FROM ac),
        |p1 AS (
        |  SELECT *, CASE WHEN 1.0 - r1 * r1 <> 0.0
        |    THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22
        |  FROM pv),
        |p2 AS (SELECT *, r1 - phi22 * r1 AS phi21 FROM p1),
        |p3 AS (
        |  SELECT *, 1.0 - phi21 * r1 - phi22 * r2 AS den3 FROM p2),
        |p4 AS (
        |  SELECT *, CASE WHEN den3 <> 0.0
        |    THEN (r3 - phi21 * r2 - phi22 * r1) / den3 END AS phi33
        |  FROM p3)
        |SELECT 1 AS lag, r1 AS acf, round(r1, 6) AS pacf FROM p4
        |UNION ALL
        |SELECT 2, r2, round(phi22, 6) FROM p4
        |UNION ALL
        |SELECT 3, r3, round(phi33, 6) FROM p4
        |ORDER BY lag""".stripMargin),

    // The acf CTE chain re-pivoted; Q assembled in the identical fixed
    // term order (never an order-free 3-row SUM of doubles).
    "q_time_ljungbox" -> (Reshape.resampledCte +
      s""",
        |lagged AS (
        |  SELECT n_events AS x,
        |    lag(n_events, 1) OVER (ORDER BY bucket_ms) AS l1,
        |    lag(n_events, 2) OVER (ORDER BY bucket_ms) AS l2,
        |    lag(n_events, 3) OVER (ORDER BY bucket_ms) AS l3
        |  FROM res),
        |pairs AS (
        |  SELECT 1 AS lag, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
        |  UNION ALL
        |  SELECT 2 AS lag, x, l2 AS y FROM lagged WHERE l2 IS NOT NULL
        |  UNION ALL
        |  SELECT 3 AS lag, x, l3 AS y FROM lagged WHERE l3 IS NOT NULL),
        |st AS (
        |  SELECT lag, COUNT(*) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy
        |  FROM pairs GROUP BY lag),
        |ac AS (
        |  SELECT lag, n_pairs, ${Q.oPearson()} AS acf
        |  FROM (
        |    SELECT lag, n_pairs,
        |      n_pairs * sxy - sx * sy AS num,
        |      n_pairs * sxx - sx * sx AS d1,
        |      n_pairs * syy - sy * sy AS d2
        |    FROM st)),
        |pv AS (
        |  SELECT MAX(n_pairs + lag) AS n,
        |    MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
        |    MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
        |    MAX(CASE WHEN lag = 3 THEN acf END) AS r3
        |  FROM ac)
        |SELECT CAST(n AS BIGINT) AS n_hours, 3 AS h,
        |  round(CAST(n * (n + 2) AS DOUBLE) *
        |    (r1 * r1 / (n - 1) + r2 * r2 / (n - 2) + r3 * r3 / (n - 3)), 4)
        |    AS q_lb
        |FROM pv""".stripMargin),

    // Δx on lag(x) regression from BIGINT-exact sums; τ chain in the
    // identical declared op order.
    "q_time_adf" -> (Reshape.resampledCte +
      """,
        |d AS (
        |  SELECT x - z AS y, z FROM (
        |    SELECT n_events AS x,
        |      lag(n_events, 1) OVER (ORDER BY bucket_ms) AS z
        |    FROM res) t
        |  WHERE z IS NOT NULL),
        |st AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(z) AS sz, SUM(y) AS sy, SUM(z*y) AS szy,
        |    SUM(z*z) AS szz, SUM(y*y) AS syy
        |  FROM d),
        |f AS (
        |  SELECT n,
        |    CAST(n * szy - sz * sy AS DOUBLE) AS numd,
        |    CAST(n * szz - sz * sz AS DOUBLE) AS dend,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS syyc
        |  FROM st),
        |g AS (
        |  SELECT n, numd, dend,
        |    CASE WHEN dend > 0.0 THEN numd / dend END AS bb,
        |    ((syyc - numd * numd / dend) / n) / (n - 2) AS s2
        |  FROM f)
        |SELECT CAST(n AS BIGINT) AS n_obs,
        |  round(bb, 6) AS slope,
        |  CASE WHEN s2 > 0.0
        |    THEN round(bb / sqrt(s2 * n / dend), 4) END AS tau
        |FROM g""".stripMargin),

    // Integer cumulative + one declared double product per row; both
    // quadratic forms DECIMAL-routed in the identical op order.
    "q_time_kpss" -> (Reshape.resampledCte +
      """,
        |b0 AS (
        |  SELECT n_events AS y,
        |    row_number() OVER (ORDER BY bucket_ms) AS t,
        |    SUM(n_events) OVER (ORDER BY bucket_ms ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    COUNT(*) OVER () AS nn,
        |    CAST(SUM(n_events) OVER () AS DOUBLE) / COUNT(*) OVER () AS ybar
        |  FROM res),
        |d AS (
        |  SELECT nn, cum - t * ybar AS st, y - ybar AS e FROM b0),
        |g AS (
        |  SELECT CAST(MAX(nn) AS BIGINT) AS n,
        |    SUM(CAST(st * st AS DECIMAL(38,6))) AS ssq,
        |    SUM(CAST(e * e AS DECIMAL(38,6))) AS esq
        |  FROM d)
        |SELECT n AS n_hours,
        |  CASE WHEN CAST(esq AS DOUBLE) > 0.0 THEN
        |    round((CAST(ssq AS DOUBLE) / (n * n))
        |      / (CAST(esq AS DOUBLE) / n), 4) END AS kpss
        |FROM g""".stripMargin),

    // The adf power-sum chain refit to the trend regression, residuals in
    // the identical op order, DECIMAL-routed quadratic forms.
    "q_time_dw" -> (Reshape.resampledCte +
      """,
        |b0 AS (
        |  SELECT n_events AS y,
        |    row_number() OVER (ORDER BY bucket_ms) - 1 AS t,
        |    bucket_ms
        |  FROM res),
        |st AS (
        |  SELECT COUNT(*) AS n, SUM(t) AS st, SUM(y) AS sy,
        |    SUM(t*y) AS sty, SUM(t*t) AS stt
        |  FROM b0),
        |cf AS (
        |  SELECT n, st, sy,
        |    CAST(n * sty - st * sy AS DOUBLE)
        |      / CAST(n * stt - st * st AS DOUBLE) AS bb
        |  FROM st),
        |cf2 AS (
        |  SELECT n AS nn, bb,
        |    (CAST(sy AS DOUBLE) - bb * CAST(st AS DOUBLE)) / n AS aa
        |  FROM cf),
        |e AS (
        |  SELECT b0.bucket_ms, b0.y - cf2.aa - cf2.bb * b0.t AS e,
        |    cf2.nn, cf2.bb
        |  FROM b0, cf2),
        |l AS (
        |  SELECT nn, bb, e, lag(e, 1) OVER (ORDER BY bucket_ms) AS pe
        |  FROM e)
        |SELECT CAST(MAX(nn) AS BIGINT) AS n_hours,
        |  round(MAX(bb), 6) AS slope,
        |  CASE WHEN CAST(SUM(CAST(e * e AS DECIMAL(28,10))) AS DOUBLE) > 0.0
        |    THEN round(
        |      CAST(SUM(CAST((e - pe) * (e - pe) AS DECIMAL(28,10))) AS DOUBLE)
        |      / CAST(SUM(CAST(e * e AS DECIMAL(28,10))) AS DOUBLE), 4) END
        |    AS dw
        |FROM l""".stripMargin),

    // Block R/S from integer-exact window sums; ln(m) axis and the OLS
    // denominator are the SAME Scala-pinned literals the Spark side uses.
    "q_time_hurst" -> (Reshape.resampledCte +
      s""",
        |b0 AS (
        |  SELECT n_events AS x,
        |    row_number() OVER (ORDER BY bucket_ms) - 1 AS rn,
        |    COUNT(*) OVER () AS nn
        |  FROM res),
        |e AS (SELECT rn, x, nn, unnest([${HurstMs.mkString(", ")}]) AS m
        |      FROM b0),
        |r AS (SELECT rn, x, m, rn // m AS blk FROM e
        |      WHERE rn < m * (nn // m)),
        |w AS (
        |  SELECT m, blk, rn, x,
        |    SUM(x) OVER (PARTITION BY m, blk ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    row_number() OVER (PARTITION BY m, blk ORDER BY rn) AS j,
        |    SUM(x) OVER (PARTITION BY m, blk) AS sx,
        |    SUM(x * x) OVER (PARTITION BY m, blk) AS sxx
        |  FROM r),
        |wd1 AS (SELECT m, blk, cum, j, sxx,
        |          CAST(sx AS DOUBLE) / m AS mu FROM w),
        |wd AS (SELECT m, blk, sxx, mu, cum - j * mu AS wdev FROM wd1),
        |bs AS (
        |  SELECT m, blk, MAX(wdev) AS wmax, MIN(wdev) AS wmin,
        |    MAX(mu) AS mu, MAX(sxx) AS sxx
        |  FROM wd GROUP BY m, blk),
        |s2c AS (SELECT m, wmax, wmin,
        |          CAST(sxx AS DOUBLE) / m - mu * mu AS s2 FROM bs),
        |rsc AS (SELECT m, (wmax - wmin) / sqrt(s2) AS rs FROM s2c
        |        WHERE s2 > 0.0),
        |lr AS (SELECT m, round(ln(rs), 6) AS lrs FROM rsc WHERE rs > 0.0),
        |pm AS (
        |  SELECT m, COUNT(*) AS n_blocks,
        |    SUM(CAST(lrs AS DECIMAL(18,6))) AS sl
        |  FROM lr GROUP BY m),
        |pm2 AS (SELECT m, n_blocks,
        |          round(CAST(sl AS DOUBLE) / n_blocks, 6) AS mean_log_rs
        |        FROM pm),
        |lmj AS (
        |  SELECT m, n_blocks, mean_log_rs,
        |    CASE m ${HurstMs.map(m => s"WHEN $m THEN ${HurstLnM(m)}").mkString(" ")} END AS lm
        |  FROM pm2),
        |fin AS (
        |  SELECT m, n_blocks, mean_log_rs,
        |    SUM(CAST(lm * mean_log_rs AS DECIMAL(28,8))) OVER () AS slmy,
        |    SUM(CAST(mean_log_rs AS DECIMAL(18,6))) OVER () AS sy,
        |    COUNT(*) OVER () AS nm
        |  FROM lmj)
        |SELECT CAST(m AS INT) AS m, n_blocks, mean_log_rs,
        |  CASE WHEN nm = ${HurstMs.size} THEN round((4.0 * CAST(slmy AS DOUBLE)
        |    - $HurstLmSum * CAST(sy AS DOUBLE)) / $HurstDen, 4) END AS h_est
        |FROM fin ORDER BY m""".stripMargin),

    "q_time_ewma" -> (Reshape.resampledCte +
      """
        |SELECT day_ms, CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  round(CAST(SUM(n_events * wt) AS DOUBLE) /
        |        CAST(SUM(wt) AS DOUBLE), 4) AS ewma_level
        |FROM (
        |  SELECT (bucket_ms // 86400000) * 86400000 AS day_ms, n_events,
        |    CAST(power(2.0, (bucket_ms // 3600000) % 24) AS BIGINT) AS wt
        |  FROM res)
        |GROUP BY day_ms
        |ORDER BY day_ms""".stripMargin),

    "q_time_decomp" -> (Reshape.resampledCte +
      """,
        |base AS (
        |  SELECT bucket_ms, n_events,
        |    (bucket_ms // 3600000) % 24 AS h24,
        |    CAST(SUM(n_events) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS trend
        |  FROM res
        |  WINDOW w AS (ORDER BY bucket_ms
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT h24, CAST(n_events AS DOUBLE) - trend AS detr FROM base),
        |seas AS (
        |  SELECT h24,
        |    round(CAST(SUM(CAST(detr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
        |      AS seasonal
        |  FROM d GROUP BY h24)
        |SELECT d.h24, COUNT(*) AS n, round(MIN(s.seasonal), 4) AS seasonal,
        |  CAST(round(SUM(CAST((d.detr - s.seasonal) * (d.detr - s.seasonal)
        |                      AS DECIMAL(18,8))), 4) AS DOUBLE) AS rss
        |FROM d JOIN seas s ON d.h24 = s.h24
        |GROUP BY d.h24 ORDER BY d.h24""".stripMargin),

    "q_time_cusum" ->
      """WITH byhour AS (
        |  SELECT event_type,
        |    (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) * 3600000 AS h,
        |    COUNT(*) AS c
        |  FROM events GROUP BY event_type, h),
        |scan AS (
        |  SELECT event_type, h,
        |    CAST(row_number() OVER wo AS BIGINT) AS tt,
        |    SUM(c) OVER wo AS cum,
        |    COUNT(*) OVER wa AS bign,
        |    SUM(c) OVER wa AS total
        |  FROM byhour
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY h
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wa AS (PARTITION BY event_type)),
        |dev AS (
        |  SELECT event_type, h, tt, bign, total,
        |    abs(bign * cum - tt * total) AS dev
        |  FROM scan),
        |best AS (
        |  SELECT event_type, CAST(bign AS BIGINT) AS n_hours,
        |    CAST(total AS BIGINT) AS n_events, h AS cp_ms,
        |    round(CAST(dev AS DOUBLE) / CAST(bign AS DOUBLE), 4) AS max_dev,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY dev DESC, tt ASC) AS rk
        |  FROM dev)
        |SELECT event_type, n_hours, n_events, cp_ms, max_dev
        |FROM best WHERE rk = 1
        |ORDER BY event_type""".stripMargin,

    "q_time_theilsen" -> (Reshape.resampledCte +
      """,
        |g AS (SELECT bucket_ms // 3600000 AS t, n_events AS x FROM res),
        |pairs AS (
        |  SELECT CAST(b.x - a.x AS DOUBLE) / (b.t - a.t) AS slope
        |  FROM g a JOIN g b ON a.t < b.t AND b.t - a.t <= 336)
        |SELECT COUNT(*) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) AS slope_per_hour
        |FROM pairs""".stripMargin),

    "q_time_mk" ->
      """WITH hc AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day,
        |         (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) % 24 AS h24,
        |         COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM hc),
        |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b),
        |grid AS (
        |  SELECT d.day, h.h24, COALESCE(hc.c, 0) AS x
        |  FROM days d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h24) h
        |  LEFT JOIN hc ON hc.day = d.day AND hc.h24 = h.h24),
        |pr AS (
        |  SELECT a.h24,
        |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
        |  FROM grid a JOIN grid b
        |    ON a.h24 = b.h24 AND a.day < b.day AND b.day - a.day <= 14)
        |SELECT h24, COUNT(*) AS n_pairs, CAST(SUM(sg) AS BIGINT) AS s_stat,
        |  round(CAST(SUM(sg) AS DOUBLE) / COUNT(*), 6) AS tau
        |FROM pr GROUP BY h24 ORDER BY h24""".stripMargin,

    "q_time_holt" ->
      """WITH hc AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day,
        |         (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) % 24 AS hour,
        |         COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |dm AS (
        |  SELECT day, map_from_entries(list(struct_pack(k := hour, v := c))) AS m
        |  FROM hc GROUP BY day),
        |arr AS (
        |  SELECT day,
        |    list_transform(generate_series(0, 23),
        |                   h -> coalesce(map_extract(m, h)[1], 0)) AS a
        |  FROM dm),
        |fold AS (
        |  SELECT day,
        |    list_reduce(
        |      list_prepend([CAST(a[1] AS DOUBLE), CAST(0.0 AS DOUBLE)],
        |                   list_transform(a[2:], x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)])),
        |      (acc, e) -> [
        |        (e[1] + acc[1] + acc[2]) / 2.0,
        |        ((e[1] + acc[1] + acc[2]) / 2.0 - acc[1] + acc[2]) / 2.0]) AS lb
        |  FROM arr)
        |SELECT day, round(lb[1], 6) AS level, round(lb[2], 6) AS trend,
        |       round(lb[1] + lb[2], 6) AS forecast
        |FROM fold ORDER BY day""".stripMargin,

    // the q_time_hw fold mirrors the Spark aggregate HOF op-for-op:
    // acc = [l, b, s0..s23] (26 doubles), element = [x, hour];
    // DuckDB brackets are 1-based where Spark's are 0-based.
    "q_time_hw" ->
      """WITH hc AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000 AS hr,
        |         COUNT(*) AS c
        |  FROM events GROUP BY 1),
        |mm AS (
        |  SELECT map_from_entries(list(struct_pack(k := hr, v := c))) AS m,
        |         min(hr // 24) AS lo, max(hr // 24) AS hi
        |  FROM hc),
        |grid AS (
        |  SELECT list_transform(
        |           generate_series(lo * 24, hi * 24 + 23),
        |           hr -> [CAST(coalesce(map_extract(m, hr)[1], CAST(0 AS BIGINT)) AS DOUBLE),
        |                  CAST(hr % 24 AS DOUBLE)]) AS g
        |  FROM mm),
        |fold AS (
        |  SELECT list_reduce(
        |    list_prepend(
        |      list_concat([g[1][1]],
        |                  list_transform(generate_series(1, 25), i -> CAST(0.0 AS DOUBLE))),
        |      g[2:]),
        |    (acc, e) ->
        |      [ (e[1] - acc[CAST(e[2] AS INT) + 3] + acc[1] + acc[2]) / 2.0,
        |        ((e[1] - acc[CAST(e[2] AS INT) + 3] + acc[1] + acc[2]) / 2.0 - acc[1] + acc[2]) / 2.0 ]
        |      || list_slice(acc, 3, CAST(e[2] AS INT) + 2)
        |      || [ (e[1] - (e[1] - acc[CAST(e[2] AS INT) + 3] + acc[1] + acc[2]) / 2.0 + acc[CAST(e[2] AS INT) + 3]) / 2.0 ]
        |      || list_slice(acc, CAST(e[2] AS INT) + 4, 26)) AS st
        |  FROM grid)
        |SELECT h.i - 1 AS hour, round(st[1], 6) AS level,
        |       round(st[2], 6) AS trend, round(st[h.i + 2], 6) AS seasonal,
        |       round(st[1] + st[2] + st[h.i + 2], 6) AS forecast
        |FROM fold, (SELECT unnest(generate_series(1, 24)) AS i) h
        |ORDER BY hour""".stripMargin,

    "q_time_iat" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    ts_us - lag(ts_us, 1) OVER (
        |      PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS dt
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  round(quantile_cont(CAST(dt AS DOUBLE), 0.5) / 1.0e6, 1) AS p50_s,
        |  round(quantile_cont(CAST(dt AS DOUBLE), 0.9) / 1.0e6, 1) AS p90_s,
        |  CAST(MAX(dt) AS BIGINT) AS max_us
        |FROM g WHERE dt IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_time_burst" ->
      """WITH hc AS (
        |  SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) * 3600000 AS h,
        |         event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM hc),
        |grid AS (SELECT unnest(generate_series(lo, hi, 3600000)) AS h FROM b),
        |types AS (SELECT DISTINCT event_type FROM hc),
        |ser AS (
        |  SELECT g.h, t.event_type, COALESCE(hc.c, 0) AS c
        |  FROM grid g CROSS JOIN types t
        |  LEFT JOIN hc ON hc.h = g.h AND hc.event_type = t.event_type),
        |st0 AS (
        |  SELECT h, event_type, c,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(c) OVER (PARTITION BY event_type) AS total
        |  FROM ser),
        |st1 AS (
        |  SELECT *, CASE WHEN 2 * c * n >= 3 * total THEN 1
        |                 WHEN c * n < total THEN 0 END AS flag
        |  FROM st0),
        |st2 AS (
        |  SELECT *, COALESCE(last_value(flag IGNORE NULLS) OVER (
        |      PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS state
        |  FROM st1),
        |st3 AS (
        |  SELECT *, CASE WHEN state = 1 AND COALESCE(lag(state, 1) OVER (
        |      PARTITION BY event_type ORDER BY h), 0) = 0
        |    THEN 1 ELSE 0 END AS newb
        |  FROM st2),
        |st4 AS (
        |  SELECT *, SUM(newb) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bid
        |  FROM st3),
        |lens AS (
        |  SELECT event_type, MAX(len) AS maxlen FROM (
        |    SELECT event_type, bid, COUNT(*) AS len FROM st4 WHERE state = 1
        |    GROUP BY 1, 2) GROUP BY 1)
        |SELECT s.event_type, CAST(MAX(n) AS BIGINT) AS n_hours,
        |  CAST(MAX(total) AS BIGINT) AS n_events,
        |  CAST(SUM(newb) AS BIGINT) AS n_bursts,
        |  CAST(SUM(state) AS BIGINT) AS burst_hours,
        |  CAST(COALESCE(MAX(l.maxlen), 0) AS BIGINT) AS max_burst_len,
        |  CAST(SUM(c * state) AS BIGINT) AS events_in_burst
        |FROM st4 s LEFT JOIN lens l USING (event_type)
        |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin,

    "q_time_entropy" ->
      s"""WITH byh AS (
        |  SELECT event_type,
        |    (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) % 24 AS h24,
        |    COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |wt AS (
        |  SELECT event_type, c,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM byh),
        |terms AS (
        |  SELECT event_type, n, p * round(ln(p), 6) AS term
        |  FROM (SELECT event_type, n, CAST(c AS DOUBLE) / n AS p FROM wt) x),
        |ent AS (
        |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
        |    COUNT(*) AS n_slots,
        |    CAST(round(-SUM(CAST(term AS DECIMAL(28,12))), 6) AS DOUBLE)
        |      AS entropy
        |  FROM terms GROUP BY event_type)
        |SELECT event_type, n_events, n_slots, entropy,
        |  round(entropy / $Ln24, 4) AS entropy_norm
        |FROM ent ORDER BY event_type""".stripMargin,

    "q_time_xcorr" ->
      s"""WITH agg AS (
        |  SELECT (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) * 3600000 AS h,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1),
        |grid AS (
        |  SELECT unnest(generate_series(
        |    (SELECT MIN(h) FROM agg), (SELECT MAX(h) FROM agg),
        |    3600000)) AS h),
        |ser AS (
        |  SELECT grid.h, COALESCE(agg.x, 0) AS x, COALESCE(agg.y, 0) AS y
        |  FROM grid LEFT JOIN agg ON grid.h = agg.h),
        |lagged AS (
        |  SELECT x, y,
        |    lead(y, 1) OVER (ORDER BY h) AS y1,
        |    lead(y, 2) OVER (ORDER BY h) AS y2,
        |    lead(y, 3) OVER (ORDER BY h) AS y3
        |  FROM ser),
        |pairs AS (
        |  SELECT 0 AS lag, x, y FROM lagged
        |  UNION ALL
        |  SELECT 1, x, y1 FROM lagged WHERE y1 IS NOT NULL
        |  UNION ALL
        |  SELECT 2, x, y2 FROM lagged WHERE y2 IS NOT NULL
        |  UNION ALL
        |  SELECT 3, x, y3 FROM lagged WHERE y3 IS NOT NULL),
        |st AS (
        |  SELECT lag, COUNT(*) AS n_pairs,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
        |    SUM(x*x) AS sxx, SUM(y*y) AS syy
        |  FROM pairs GROUP BY lag)
        |SELECT CAST(lag AS INT) AS lag, n_pairs,
        |  ${Q.oPearson()} AS xcorr
        |FROM (
        |  SELECT lag, n_pairs,
        |    n_pairs * sxy - sx * sy AS num,
        |    n_pairs * sxx - sx * sx AS d1,
        |    n_pairs * syy - sy * sy AS d2
        |  FROM st)
        |ORDER BY lag""".stripMargin
  )
}
