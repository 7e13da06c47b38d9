package graft

import org.apache.spark.sql.functions._
import graft.operators.IsolationForest

/** m_ml_iforest — isolation forest (Liu, Ting & Zhou, ICDM 2008): the
  * normalizer's hand values, planted-outlier separation, bit-determinism
  * of the content-keyed fit, codegen ≡ driver scoring, the paper's height
  * limit as a structural invariant, and the key against a driver
  * re-ranking under the same model. */
class IForestSpec extends BaseSpec {
  import spark.implicits._

  test("c(n): hand values of the unsuccessful-BST normalizer") {
    assert(IsolationForest.c(0) == 0.0 && IsolationForest.c(1) == 0.0)
    // c(2) = 2(ln 1 + γ) − 2·1/2 = 2γ − 1
    assert(math.abs(IsolationForest.c(2) - (2 * 0.5772156649015329 - 1)) < 1e-12)
    // c(256) ≈ 10.2445 (paper's ψ = 256 working point)
    assert(math.abs(IsolationForest.c(256) - 10.244770920116851) < 1e-9)
  }

  /** Dense grid cluster + four far joint outliers. */
  private def planted(): (Array[Array[Double]], Array[Array[Double]]) = {
    val inliers = (for (i <- 0 until 16; j <- 0 until 16)
      yield Array(i / 16.0, j / 16.0)).toArray
    val outliers = Array(Array(10.0, 10.0), Array(-10.0, 8.0),
      Array(9.0, -11.0), Array(-8.0, -9.0))
    (inliers, outliers)
  }

  test("planted joint outliers all outscore every inlier; scores live in (0, 1)") {
    val (in, out) = planted()
    val model = IsolationForest.fit(in ++ out, numTrees = 50, sampleSize = 64)
    val inScores = in.map(model.score)
    val outScores = out.map(model.score)
    assert((inScores ++ outScores).forall(s => s > 0.0 && s < 1.0))
    assert(outScores.min > inScores.max,
      s"outliers ${outScores.min} must outscore inliers ${inScores.max}")
    // the paper's reading: early isolation scores above 1/2
    assert(outScores.forall(_ > 0.5), s"outliers must read > 0.5: ${outScores.toList}")
  }

  test("fit is bit-deterministic; trees respect the ceil(log2 psi) height limit") {
    val (in, out) = planted()
    val a = IsolationForest.fit(in ++ out, 32, 64)
    val b = IsolationForest.fit(in ++ out, 32, 64)
    (in ++ out).foreach(x => assert(a.score(x) == b.score(x), "refit changed a score"))
    // structural: no path can exceed the height limit (leaf c() padding is
    // not a depth) — walk every tree's node arrays
    val limit = math.ceil(math.log(64.0) / math.log(2.0)).toInt
    a.trees.foreach { t =>
      def maxDepth(node: Int, d: Int): Int =
        if (t.feature(node) < 0) d
        else math.max(maxDepth(t.left(node), d + 1), maxDepth(t.right(node), d + 1))
      assert(maxDepth(0, 0) <= limit, s"tree deeper than $limit")
    }
  }

  test("codegen scoring path equals driver scoring on the fixture frame") {
    val d = graft.queries.Ml.iforestFrame(spark, sf)
    val model = IsolationForest.fitFromFrame(d, "event_id", "f")
    val got = d
      .withColumn("s", IsolationForest.scoreCol(model, $"f"))
      .select($"event_id", $"s").as[(Long, Double)].collect().toMap
    val want = d.select($"event_id", $"f").as[(Long, Seq[Double])].collect()
      .map { case (id, f) => id -> model.score(f.toArray) }.toMap
    assert(got == want, "generated-code scores diverge from driver scores")
  }

  test("m_ml_iforest equals a driver re-ranking under the same model") {
    val d = graft.queries.Ml.iforestFrame(spark, sf)
    val model = IsolationForest.fitFromFrame(d, "event_id", "f")
    val want = d.select($"event_id", $"value", $"f")
      .as[(Long, Double, Seq[Double])].collect()
      .map { case (id, v, f) => (id, v, model.score(f.toArray)) }
      .sortBy { case (id, _, s) => (-s, id) }
      .take(10)
      .map { case (id, v, s) =>
        (id, v, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .toList
    val got = SparkEntry.queries("m_ml_iforest")(spark, sf)
      .as[(Long, Double, Double)].collect().toList
    assert(got == want, s"\n got=$got\nwant=$want")
    assert(got.map(_._3) == got.map(_._3).sorted.reverse, "scores not descending")
  }
}
