package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Matrix profile of a time series (SURVEY §2.11b extension,
  * `m_time_matrixprofile`): for every length-`m` subsequence of a series,
  * the z-normalized Euclidean distance to its NEAREST non-trivial neighbor
  * subsequence — the one pass that surfaces both the strongest MOTIF (the
  * profile minimum: the most-repeated shape) and the strongest DISCORD
  * (the profile maximum: the shape least like anything else) of the whole
  * series, parameter-free beyond the window length (Yeh et al., ICDM 2016).
  *
  * Computed with the STOMP recurrence (Zhu et al., ICDM 2016): the sliding
  * dot product QT(i, j) = QT(i−1, j−1) − x[i−1]·x[j−1] + x[i+m−1]·x[j+m−1]
  * updates in O(1) per cell, so the full profile is O(n²) with a tiny
  * constant — no per-cell re-normalization, since
  * dist²(i, j) = 2m·(1 − (QT − m·μᵢ·μⱼ)/(m·σᵢ·σⱼ)) needs only the
  * prefix-sum means/sigmas. Trivial matches are excluded inside
  * |i − j| < m/2 (the standard exclusion zone), and the self-join
  * convention for flat windows is DECLARED: two zero-variance windows are
  * a perfect match (dist 0 — both z-normalize to the same degenerate
  * shape), one flat vs one moving window has correlation 0 (dist √(2m));
  * flatness is decided EXACTLY (constant-run scan), never by an epsilon
  * on the prefix-sum σ, whose cancellation noise would misread a constant
  * stretch after a long mixed prefix.
  * Pearson r is clamped to [−1, 1] before the final sqrt so FP drift in
  * the rolling QT can never produce a NaN.
  *
  * Returns the profile INTERLEAVED with its index: [d₀, j₀, d₁, j₁, ...]
  * (2·(n−m+1) doubles) — the nearest-neighbor index is what turns a motif
  * minimum into a motif PAIR. The nn index is the FIRST j attaining the
  * strict minimum (deterministic; no FP tie dance — equal distances keep
  * the earlier j).
  *
  * Scale shape: the kernel runs once per series INSIDE whole-stage codegen
  * (one evaluation per group row, the TrajSim discipline), so the
  * data-sized work stays in the hour-bucket hash aggregate that feeds it;
  * the O(n²) profile is TIME-RANGE-bounded, not data-bounded (n = grid
  * hours). The declared wall: a decade-hourly grid (87 600 points) costs
  * ~7.7 G cells/series — still one core-minute class, and the published
  * escape hatches (SCRIMP++'s anytime convergence, per-window chunked
  * profiles merged by min) are the documented path past it. Input shorter
  * than 2m throws loudly (callers filter; a silent empty profile would
  * read as "no motif" — wrong). */
case class MatrixProfileExpr(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, m: Any): Any =
    MatrixProfileExpr.compute(a.asInstanceOf[ArrayData], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m) =>
      s"${ev.value} = graft.functions.MatrixProfileExpr.compute($a, $m);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "matrix_profile"
}

object MatrixProfileExpr {

  /** Per-window stats shared by the single-series kernel and the tiled
    * diagonal-block kernel ([[MatrixProfileBlockExpr]]): (mu, sig, flat),
    * computed by EXACTLY the arithmetic the original kernel used — the
    * tiled tier's bit-identity to the kernel rests on this sharing. */
  private[functions] def windowStats(x: Array[Double], m: Int)
      : (Array[Double], Array[Double], Array[Boolean]) = {
    val n = x.length
    val w = n - m + 1
    // Flat windows are detected EXACTLY (constant-run scan: window j is
    // flat iff the equal-value run ending at j+m−1 spans the window), not
    // by an epsilon on σ — the prefix-sum σ below carries cancellation
    // noise (~1e-7 after a long mixed prefix) that would misclassify a
    // genuinely constant stretch as "moving" and flip the declared
    // flat-window conventions.
    val flat = new Array[Boolean](w)
    var runLen = 1
    var i = 1
    while (i < n) {
      runLen = if (x(i) == x(i - 1)) runLen + 1 else 1
      if (i >= m - 1) flat(i - m + 1) = runLen >= m
      i += 1
    }
    if (m == 1) java.util.Arrays.fill(flat, true)

    // prefix means / sigmas (population σ over each window)
    val mu = new Array[Double](w)
    val sig = new Array[Double](w)
    var s = 0.0
    var s2 = 0.0
    i = 0
    while (i < n) {
      s += x(i); s2 += x(i) * x(i)
      if (i >= m) { s -= x(i - m); s2 -= x(i - m) * x(i - m) }
      if (i >= m - 1) {
        val j = i - m + 1
        mu(j) = s / m
        sig(j) = math.sqrt(math.max(0.0, s2 / m - mu(j) * mu(j)))
        if (!flat(j) && sig(j) < 1e-7) {
          // prefix cancellation can zero a real (tiny) σ; recompute this
          // window directly — rare, so the O(m) fallback costs nothing
          var mu2 = 0.0
          var k = 0
          while (k < m) { mu2 += x(j + k); k += 1 }
          mu2 /= m
          var v = 0.0
          k = 0
          while (k < m) { val d0 = x(j + k) - mu2; v += d0 * d0; k += 1 }
          mu(j) = mu2
          sig(j) = math.max(math.sqrt(v / m), Double.MinPositiveValue)
        }
      }
      i += 1
    }
    (mu, sig, flat)
  }

  /** z-normalized distance from the sliding dot product — one formula for
    * both kernels (bit-identity, see [[windowStats]]). */
  @inline private[functions] def znDist(qt: Double, i: Int, j: Int, m: Int,
      mu: Array[Double], sig: Array[Double], flat: Array[Boolean]): Double = {
    val twoM = 2.0 * m
    val fi = flat(i)
    val fj = flat(j)
    if (fi && fj) 0.0
    else if (fi || fj) math.sqrt(twoM) // r = 0 by declaration
    else {
      val r = (qt - m * mu(i) * mu(j)) / (m * sig(i) * sig(j))
      math.sqrt(twoM * (1.0 - math.max(-1.0, math.min(1.0, r))))
    }
  }

  def compute(a: ArrayData, m: Int): ArrayData = {
    val x = a.toDoubleArray()
    val n = x.length
    if (m < 2 || n < 2 * m)
      throw new IllegalArgumentException(
        s"matrix_profile: need window m >= 2 and series length >= 2m (got m=$m, n=$n)")
    val w = n - m + 1
    val excl = m / 2 // trivial-match zone: skip |i - j| < excl

    val (mu, sig, flat) = windowStats(x, m)

    val prof = Array.fill(w)(Double.MaxValue)
    val nn = new Array[Int](w)

    @inline def dist(qt: Double, i: Int, j: Int): Double =
      znDist(qt, i, j, m, mu, sig, flat)
    // Smallest-j tie rule, matching the block kernel below and the tiled
    // tier's min(struct(d, nn)) merge: without it a bit-exact distance tie
    // would keep the first-encountered neighbor (scan-order dependent) and
    // motif_nn/discord output would differ across the MpTiledGate.
    @inline def consider(i: Int, j: Int, d: Double): Unit = {
      if (d < prof(i) || (d == prof(i) && j < nn(i))) { prof(i) = d; nn(i) = j }
    }
    var i = 0

    // row 0: brute dot products (O(n·m) once — the MASS/FFT path is the
    // published alternative; at m = 24 the brute row is cheaper)
    val qtRow = new Array[Double](w) // QT(i=current, j) diag-updated below
    var j = 0
    while (j < w) {
      var qt = 0.0
      var k = 0
      while (k < m) { qt += x(k) * x(j + k); k += 1 }
      qtRow(j) = qt
      if (j >= excl) { // |0 - j| >= excl
        val d = dist(qt, 0, j)
        consider(0, j, d)
        consider(j, 0, d)
      }
      j += 1
    }
    // rows 1..w-1: STOMP diagonal update, j descending so qtRow(j-1) is
    // still the previous row's value when row i reads it
    i = 1
    while (i < w) {
      j = w - 1
      while (j >= 1) {
        qtRow(j) = qtRow(j - 1) - x(i - 1) * x(j - 1) + x(i + m - 1) * x(j + m - 1)
        if (j > i && j - i >= excl) { // upper triangle only; mirror below
          val d = dist(qtRow(j), i, j)
          consider(i, j, d)
          consider(j, i, d)
        }
        j -= 1
      }
      // qtRow(0) = dot(window i, window 0) = QT(0, i) by symmetry — already
      // handled via the row-0 mirror; refresh it so the NEXT row's j=1
      // update starts from the true value
      var qt0 = 0.0
      var k = 0
      while (k < m) { qt0 += x(i + k) * x(k); k += 1 }
      qtRow(0) = qt0
      i += 1
    }

    val out = new Array[Double](2 * w)
    i = 0
    while (i < w) {
      out(2 * i) = prof(i)
      out(2 * i + 1) = nn(i).toDouble
      i += 1
    }
    new GenericArrayData(out)
  }

  def matrixProfile(series: Column, m: Column): Column =
    column(MatrixProfileExpr(expression(series), expression(m)))

  def matrixProfileBlock(series: Column, m: Column, k0: Column, k1: Column): Column =
    column(MatrixProfileBlockExpr(expression(series), expression(m),
      expression(k0), expression(k1)))
}

/** Diagonal-block partial matrix profile — the DISTRIBUTED exact tier the
  * r14 verdict asked for behind `m_time_matrixprofile`'s O(range²) wall
  * (built instead of the sampled-SCRIMP swap-in the kernel scaladoc had
  * named: range-partitioning the STOMP diagonals across the cluster keeps
  * the profile EXACT — bit-identical distances — where sampling would
  * trade error for time; the anytime/sampled path remains the published
  * escape hatch past even this).
  *
  * Evaluates the STOMP recurrence over diagonals k ∈ [k0, k1) only: each
  * diagonal starts from its own O(m) dot product at row 0 and rolls down
  * with the same one-multiply-add update — the EXACT arithmetic chain the
  * full kernel's row sweep performs for those cells (the full kernel's
  * QT(i, j) is derived by rolling the (0, j−i) dot down the diagonal, so
  * per-diagonal evaluation reproduces it bit-for-bit; [[MatrixProfileExpr
  * .windowStats]]/[[MatrixProfileExpr.znDist]] are shared so μ/σ/flat and
  * the distance formula are the same code). Returns the partial profile
  * interleaved [d₀, j₀, ...] with untouched windows at +∞/−1; callers
  * merge blocks with min(struct(d, nn)) — so the merged nn is the
  * SMALLEST j attaining the minimum (the tier's declared tie rule; the
  * in-kernel scan order keeps a different j only when two distances tie
  * EXACTLY, which the d-values themselves are blind to).
  *
  * Scale shape: the series broadcasts once (types × grid doubles), the
  * chunk spine repartitions freely, each task pays (k1−k0)·w̄ cells, and
  * only (i, d, nn) triples shuffle into the merge — the O(range²) work
  * distributes over the cluster instead of serializing one core per
  * series. */
case class MatrixProfileBlockExpr(first: Expression, second: Expression,
                                  third: Expression, fourth: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType, IntegerType, IntegerType)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, m: Any, k0: Any, k1: Any): Any =
    MatrixProfileBlockExpr.compute(a.asInstanceOf[ArrayData], m.asInstanceOf[Int],
      k0.asInstanceOf[Int], k1.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m, k0, k1) =>
      s"${ev.value} = graft.functions.MatrixProfileBlockExpr.compute($a, $m, $k0, $k1);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)

  override def prettyName: String = "matrix_profile_block"
}

object MatrixProfileBlockExpr {

  def compute(a: ArrayData, m: Int, k0: Int, k1: Int): ArrayData = {
    val x = a.toDoubleArray()
    val n = x.length
    if (m < 2 || n < 2 * m)
      throw new IllegalArgumentException(
        s"matrix_profile_block: need window m >= 2 and series length >= 2m (got m=$m, n=$n)")
    val w = n - m + 1
    val excl = m / 2
    val (mu, sig, flat) = MatrixProfileExpr.windowStats(x, m)
    val prof = Array.fill(w)(Double.PositiveInfinity)
    val nn = Array.fill(w)(-1)
    @inline def consider(i: Int, j: Int, d: Double): Unit =
      if (d < prof(i) || (d == prof(i) && j < nn(i))) { prof(i) = d; nn(i) = j }
    var k = math.max(k0, excl)
    val kEnd = math.min(k1, w)
    while (k < kEnd) {
      // diagonal k: cells (i, i+k) for i ∈ [0, w−k); fresh O(m) dot at
      // the top, then the STOMP O(1) roll — the full kernel's own chain
      var qt = 0.0
      var t = 0
      while (t < m) { qt += x(t) * x(k + t); t += 1 }
      var d = MatrixProfileExpr.znDist(qt, 0, k, m, mu, sig, flat)
      consider(0, k, d)
      consider(k, 0, d)
      var i = 1
      while (i < w - k) {
        qt = qt - x(i - 1) * x(i + k - 1) + x(i + m - 1) * x(i + k + m - 1)
        d = MatrixProfileExpr.znDist(qt, i, i + k, m, mu, sig, flat)
        consider(i, i + k, d)
        consider(i + k, i, d)
        i += 1
      }
      k += 1
    }
    val out = new Array[Double](2 * w)
    var i = 0
    while (i < w) {
      out(2 * i) = prof(i)
      out(2 * i + 1) = nn(i).toDouble
      i += 1
    }
    new GenericArrayData(out)
  }
}
