package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The SQL names of graft's fixed-arity expressions: the one function
  * table that [[graft.GraftExtensions]] injects at session build and
  * [[install]] registers on an already-built session. Scala callers use the
  * Column helpers instead; expressions with Scala-side parameters (TopK's
  * `k`, the sketch shapes, the LSH family, a Bloom filter or forest, a
  * match ε) have no SQL name. */
object Sql {
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    "haversine_km" -> (e => HaversineDist(e(0), e(1), e(2), e(3))),
    "cosine_sim" -> (e => CosineSim(e(0), e(1))),
    "euclidean_dist" -> (e => EuclideanDist(e(0), e(1))),
    "zorder_key" -> (e => ZOrderKey(e(0), e(1))),
    "jaro_winkler" -> (e => JaroWinklerSim(e(0), e(1))),
    "hull_stats" -> (e => HullStats(e(0))),
    "matrix_profile" -> (e => MatrixProfileExpr(e(0), e(1))),
    "matrix_profile_block" -> (e => MatrixProfileBlockExpr(e(0), e(1), e(2), e(3))),
    "frechet_km" -> (e => FrechetDist(e(0), e(1))),
    "frechet_km_capped" -> (e => FrechetCapped(e(0), e(1), e(2))),
    "lcss_matches" -> (e => LcssMatches(e(0), e(1), e(2))),
    "edr_dist" -> (e => EdrDist(e(0), e(1), e(2))),
    "hausdorff_km" -> (e => HausdorffKm(e(0), e(1))),
    "hausdorff_km_capped" -> (e => HausdorffCapped(e(0), e(1), e(2))),
    "traclus_partition" -> (e => TraclusPartition(e(0))),
    "traclus_dist" -> (e => TraclusDist(e(0), e(1))),
    "traclus_rep" -> (e => TraclusRep(e(0), e(1), e(2))),
    "cell_overlap" -> (e => CellOverlapExpr(e(0), e(1))),
    "traj_near_counts" -> (e => NearCountsExpr(e(0), e(1), e(2), e(3))),
    "lcss_ub" -> (e => LcssUbExpr(e(0), e(1), e(2), e(3))))

  /** [[functions]] in the shape `SparkSessionExtensions.injectFunction` takes. */
  private[graft] def descriptions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    functions.map { case (name, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), build)
    }

  /** Register every entry on a session built without the extension. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    descriptions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
  }
}
