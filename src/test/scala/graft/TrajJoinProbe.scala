package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Local decomposition probe: what does the U² pair scan cost with NO
  * kernel, a trivial kernel, and each sketch kernel? Pins where the
  * per-pair microseconds actually go before optimizing the wrong layer.
  * (`sbt "Test/runMain graft.TrajJoinProbe /tmp/graft_x10"`). */
object TrajJoinProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_x10")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val tr = graft.queries.Trajectory.tracks(spark, dir)
    tr.count() // materialize the memoized substrate outside the timings
    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-28s rows=$n%d ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val lhs = tr.select($"user_id".as("u1"), $"track".as("ta"), $"pb".as("sa"), $"cells".as("ca"))
      .repartition(spark.sparkContext.defaultParallelism)
    val rhs = tr.select($"user_id".as("u2"), $"track".as("tb"), $"pb".as("sb"), $"cells".as("cb"))
    def pairs = lhs.join(broadcast(rhs), $"u1" < $"u2")
    timed("join only (count)") { pairs.count() }
    timed("join only again") { pairs.count() }
    timed("+ trivial size(ta)+size(tb)") {
      pairs.select((size($"ta") + size($"tb")).as("x")).agg(sum($"x")).head(); pairs.count()
    }
    timed("+ cell_overlap") {
      pairs.select(graft.functions.TrajSketchFns.cellOverlap($"ca", $"cb").as("x"))
        .agg(sum($"x")).head(); 0L
    }
    timed("+ lcss_sparse") {
      pairs.select(graft.functions.TrajSketchFns.lcssSparse($"sa", $"ta", $"sb", $"tb", 500.0).as("x"))
        .agg(sum($"x")).head(); 0L
    }
    timed("+ edr_sparse") {
      pairs.select(graft.functions.TrajSketchFns.edrSparse($"sa", $"ta", $"sb", $"tb", 500.0).as("x"))
        .agg(sum($"x")).head(); 0L
    }
    timed("+ lcss full DP") {
      pairs.select(graft.functions.TrajSim.lcssMatches($"ta", $"tb", lit(500.0)).as("x"))
        .agg(sum($"x")).head(); 0L
    }
    spark.stop()
  }
}
