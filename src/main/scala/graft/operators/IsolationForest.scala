package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Isolation forest (Liu, Ting & Zhou, ICDM 2008): unsupervised anomaly
  * scores from an ensemble of random isolation trees — anomalies are "few
  * and different", so a random axis-parallel split isolates them in FEWER
  * cuts than a dense-cluster point; score = 2^(−E[path]/c(ψ)) ∈ (0, 1),
  * > 0.5 reading "isolates early". The density-free counterpart to the
  * distance/density keys (m_dbscan needs an ε, q_anomaly_zscore a
  * per-dimension model; the forest needs neither).
  *
  * Scale shape (the two halves of the algorithm are asymmetric by design):
  *
  *  - **Fit is sub-sampled by construction** — the PAPER's point, not a
  *    concession: trees are grown on ψ = 256-point samples because larger
  *    samples only dilute isolation (swamping/masking, §4.1 of the paper).
  *    The T·ψ sample rows (≤ 8192 — probe-sized) are the one collect, and
  *    the sample is CONTENT-KEYED: the T·ψ smallest md5(id) rows (a
  *    TakeOrderedAndProject — per-partition top-k then a driver merge, no
  *    full sort), split into consecutive rank blocks of ψ per tree — no
  *    `rand()`, so reruns, repartitions, and appends that don't change the
  *    winning hash set leave the forest bit-identical. Tree growth uses a
  *    per-tree SEEDED PRNG (split feature + split point), deterministic by
  *    the same token.
  *  - **Scoring is the data-sized half and never shuffles**: the forest
  *    (≤ T·2ψ nodes of 5 scalars) rides the expression into whole-stage
  *    codegen via `addReferenceObj` (the BloomMightContain transport), one
  *    ensemble walk per row — embarrassingly parallel, broadcast-sized
  *    model, no CodegenFallback boundary.
  *
  * Determinism declared: same input table + same (T, ψ) ⟹ same sample,
  * same trees, same scores, to the last bit. */
object IsolationForest {

  /** Euler–Mascheroni; c(n) below is the paper's average unsuccessful-BST
    * search length — the normalizer for path lengths. */
  private val Gamma = 0.5772156649015329

  /** c(n) = 2·H(n−1) − 2(n−1)/n, H(k) ≈ ln k + γ; c(≤1) = 0 (Liu §2). */
  def c(n: Int): Double =
    if (n <= 1) 0.0
    else 2.0 * (math.log(n - 1.0) + Gamma) - 2.0 * (n - 1.0) / n

  /** One tree as parallel node arrays (node 0 = root): `feature(i) < 0`
    * marks a leaf holding `size(i)` sample points; internal nodes route
    * `x(feature) < split` → left else right. */
  final case class Tree(feature: Array[Int], split: Array[Double],
                        left: Array[Int], right: Array[Int], size: Array[Int])
      extends Serializable {
    def pathLength(x: Array[Double]): Double = {
      var node = 0
      var depth = 0
      while (feature(node) >= 0) {
        node = if (x(feature(node)) < split(node)) left(node) else right(node)
        depth += 1
      }
      depth + c(size(node))
    }
  }

  final case class Model(trees: Array[Tree], sampleSize: Int) extends Serializable {
    private val norm = c(sampleSize)
    def score(x: Array[Double]): Double = {
      var s = 0.0
      var t = 0
      while (t < trees.length) { s += trees(t).pathLength(x); t += 1 }
      math.pow(2.0, -(s / trees.length) / norm)
    }
  }

  /** Grow one isolation tree on `sample` (indices `idx(lo until hi)` into
    * `rows`), height-limited at ceil(log₂ ψ) (isolation beyond the average
    * point depth carries no ranking signal — paper Algorithm 2). */
  private def growTree(rows: Array[Array[Double]], idx: Array[Int],
                       rnd: java.util.Random, heightLimit: Int): Tree = {
    val nf = rows(0).length
    val feature = scala.collection.mutable.ArrayBuffer[Int]()
    val split = scala.collection.mutable.ArrayBuffer[Double]()
    val left = scala.collection.mutable.ArrayBuffer[Int]()
    val right = scala.collection.mutable.ArrayBuffer[Int]()
    val size = scala.collection.mutable.ArrayBuffer[Int]()

    def alloc(): Int = {
      feature += -1; split += 0.0; left += -1; right += -1; size += 0
      feature.length - 1
    }

    // in-place partition of idx(lo until hi); returns this node's id
    def build(lo: Int, hi: Int, depth: Int): Int = {
      val node = alloc()
      val n = hi - lo
      if (n <= 1 || depth >= heightLimit) { size(node) = n; return node }
      // candidate features = those non-constant on this subset; a random
      // q among them (uniform q over ALL features would leaf out early on
      // subsets where one dimension has collapsed)
      var q = -1
      var tried = 0
      val order = rnd.nextInt(nf)
      while (q < 0 && tried < nf) {
        val f = (order + tried) % nf
        var mn = rows(idx(lo))(f); var mx = mn
        var i = lo + 1
        while (i < hi) {
          val v = rows(idx(i))(f)
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        if (mx > mn) q = f
        tried += 1
      }
      if (q < 0) { size(node) = n; return node } // all-duplicate subset
      var mn = rows(idx(lo))(q); var mx = mn
      var i = lo + 1
      while (i < hi) {
        val v = rows(idx(i))(q)
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      val p = mn + rnd.nextDouble() * (mx - mn)
      // partition: [lo, mid) < p, [mid, hi) >= p
      var a = lo
      var b = hi - 1
      while (a <= b) {
        if (rows(idx(a))(q) < p) a += 1
        else { val t = idx(a); idx(a) = idx(b); idx(b) = t; b -= 1 }
      }
      val mid = a
      feature(node) = q
      split(node) = p
      left(node) = build(lo, mid, depth + 1)
      right(node) = build(mid, hi, depth + 1)
      node
    }

    build(0, idx.length, 0)
    Tree(feature.toArray, split.toArray, left.toArray, right.toArray, size.toArray)
  }

  /** Fit on pre-collected sample rows (rank-ordered by the caller's
    * content hash): tree t grows on the consecutive block
    * [t·ψ, (t+1)·ψ) of the sample, wrapping when the table is smaller
    * than T·ψ (trees then share points — declared, fixture-scale only). */
  def fit(sample: Array[Array[Double]], numTrees: Int, sampleSize: Int): Model = {
    require(sample.nonEmpty, "isolation forest: empty sample")
    val psi = math.min(sampleSize, sample.length)
    val heightLimit = math.ceil(math.log(psi.toDouble) / math.log(2.0)).toInt.max(1)
    val trees = Array.tabulate(numTrees) { t =>
      val rnd = new java.util.Random(0x9E3779B97F4A7C15L ^ (t * 2654435761L))
      val idx = Array.tabulate(psi)(k => (t * psi + k) % sample.length)
      growTree(sample, idx, rnd, heightLimit)
    }
    Model(trees, psi)
  }

  /** Deterministic fit from a frame: the T·ψ smallest-`md5(idCol)` rows
    * (TakeOrderedAndProject — the one, probe-sized collect), features
    * taken from `featuresCol` (ARRAY<DOUBLE>). */
  def fitFromFrame(df: DataFrame, idCol: String, featuresCol: String,
                   numTrees: Int = 32, sampleSize: Int = 256): Model = {
    import org.apache.spark.sql.functions._
    val rows = df
      .select(md5(col(idCol).cast("string")).as("h"), col(featuresCol).as("f"))
      .orderBy(col("h"), col("f"))
      .limit(numTrees * sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    fit(rows, numTrees, sampleSize)
  }

  /** features ARRAY<DOUBLE> → DOUBLE anomaly score for THIS model (the
    * forest rides the expression, the BloomMightContain per-constant
    * shape). */
  def scoreCol(model: Model, features: Column): Column =
    column(IForestScore(expression(features), model))
}

/** Ensemble-walk scoring expression: the forest rides `addReferenceObj`
  * into generated code — one virtual call per row, inside whole-stage
  * codegen (the [[graft.functions.BloomMightContainLong]] transport). */
case class IForestScore(child: Expression, model: IsolationForest.Model)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    model.score(v.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftIForest", model,
      classOf[IsolationForest.Model].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.score($c.toDoubleArray());")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "iforest_score"
}
