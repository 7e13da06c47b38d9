package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Local plan-shape probe for the trajectory prune tiers: prints the
  * executed plans of the pruned branches (forced on the sf0.001 fixture)
  * plus their observe() survivor metrics — the tool that caught the
  * filter-pushdown-into-BNLJ-condition regression (PREFLIGHT_r15
  * negative result #4). `sbt "Test/runMain graft.ExplainProbe"`. */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val tr = graft.queries.Trajectory.tracks(spark, "/root/testdata/sf0.001")
    val nUsers = tr.count()
    val lhs = tr.select($"user_id".as("u1"), $"track".as("ta"), $"pb".as("sa"))
      .repartition(4)
    val rhs = tr.select($"user_id".as("u2"), $"track".as("tb"), $"pb".as("sb"))
    val qq = graft.queries.Trajectory.hausdorffPruned(spark, tr, nUsers)
    qq.collect()
    println("observed: " + qq.queryExecution.observedMetrics)
    val q = graft.queries.Trajectory.frechetPruned(spark, tr, nUsers)
    q.collect()
    println(q.queryExecution.executedPlan.toString.linesIterator.take(30).mkString("\n"))
    val q2 = graft.queries.Trajectory.lcssPruned(spark, tr, nUsers)
    q2.collect()
    println("==== lcss ====")
    println(q2.queryExecution.executedPlan.toString.linesIterator.take(30).mkString("\n"))
    spark.stop()
  }
}
