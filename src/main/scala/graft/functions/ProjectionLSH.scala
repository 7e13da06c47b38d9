package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Exact euclidean distance of two ARRAY<DOUBLE> columns — the verification
  * predicate of the projection-LSH join. Same native-expression rationale as
  * [[CosineSim]]: the loop runs as JIT-compiled primitive-array code inside
  * whole-stage codegen instead of per-element HOF lambdas. */
case class EuclideanDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    EuclideanDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.EuclideanDist.compute($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)

  override def prettyName: String = "euclidean_dist"
}

object EuclideanDist {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toDoubleArray()
    val ys = b.toDoubleArray()
    // Fail loudly on ragged input: a truncated distance would silently
    // admit false positives through the LSH verify filter.
    if (xs.length != ys.length)
      throw new IllegalArgumentException(
        s"euclidean_dist: vector dimensions differ (${xs.length} vs ${ys.length})")
    var s = 0.0
    var i = 0
    while (i < xs.length) { val d = xs(i) - ys(i); s += d * d; i += 1 }
    math.sqrt(s)
  }
}

/** `numTables` bucketed-random-projection hashes of an ARRAY<DOUBLE> vector:
  * bucket_i = floor(⟨v, r_i⟩ / bucketLen) with r_i i.i.d. standard-gaussian
  * rows of a projection matrix derived deterministically from `seed`
  * (`java.util.Random` sequences are fixed by spec, so every executor
  * regenerates the identical matrix — nothing is shipped with the plan).
  * This is the p-stable euclidean LSH family: close vectors collide in some
  * bucket with high probability, and OR-ing the `numTables` hashes gives the
  * usual 1 − (1 − p)^k amplification. The matrix is cached per
  * (seed, tables, dim) so steady-state cost is one dim-length dot product
  * per table per row, JIT-compiled. */
case class BrpBuckets(child: Expression, numTables: Int, bucketLen: Double,
                      seed: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(v: Any): Any =
    BrpBuckets.compute(v.asInstanceOf[ArrayData], numTables, bucketLen, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BrpBuckets.compute($v, $numTables, $bucketLen, ${seed}L);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  override def prettyName: String = "brp_buckets"
}

object BrpBuckets {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]

  private def matrix(seed: Long, k: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((seed, k, dim), { _ =>
      val rnd = new java.util.Random(seed)
      Array.fill(k, dim)(rnd.nextGaussian())
    })

  def compute(v: ArrayData, k: Int, bucketLen: Double, seed: Long): ArrayData = {
    val xs = v.toDoubleArray()
    val m = matrix(seed, k, xs.length)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val r = m(i)
      var dot = 0.0
      var j = 0
      while (j < xs.length) { dot += xs(j) * r(j); j += 1 }
      out(i) = math.floor(dot / bucketLen).toLong
      i += 1
    }
    new GenericArrayData(out)
  }
}

object ProjectionLSH {
  /** The LSH parameters are operator constants, not per-row data, so they
    * ride the expression: several parameterizations coexist in one plan. */
  def brpBuckets(v: Column, numTables: Int, bucketLen: Double, seed: Long): Column =
    column(BrpBuckets(expression(v), numTables, bucketLen, seed))

  def euclideanDist(a: Column, b: Column): Column =
    column(EuclideanDist(expression(a), expression(b)))
}
