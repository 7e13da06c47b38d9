package graft

import graft.operators.{Betweenness, Coreness, Endgame, KTruss, LabelProp, Louvain, Sssp}
import graft.queries.Geo
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The graph-statistics keys (q_graph_triangles, q_graph_clustcoef,
  * m_graph_modularity, q_graph_bfs) compute on the driver below the
  * budget. Each driver result must equal the key's Spark plan
  * (`Endgame.distributed`) row for row, on planted graphs and on the
  * fixture, and a warm key must run no Spark job. */
class GraphStatsSpec extends BaseSpec {
  import spark.implicits._

  private def pairs(es: (Long, Long)*): DataFrame = es.toDF("u1", "u2")
  private def labels(ls: (Long, Long)*): DataFrame = ls.toDF("id", "label")

  /** `q`'s rows on the default path, after asserting that path planned a
    * driver-built `LocalRelation` and that the Spark plan gives the same
    * rows in the same order under the same column names and types. */
  private def bothPathsEqual(what: String)(q: => DataFrame): Seq[Row] = {
    val local = q
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"$what: default path is not driver-resident:\n${local.queryExecution.optimizedPlan}")
    val (dist, distRows) = Endgame.distributed { val d = q; (d, d.collect().toSeq) }
    val rows = local.collect().toSeq
    assert(rows == distRows, s"$what: driver $rows vs Spark plan $distRows")
    assert(local.schema.map(f => (f.name, f.dataType)) == dist.schema.map(f => (f.name, f.dataType)),
      s"$what: driver schema ${local.schema} vs Spark plan ${dist.schema}")
    rows
  }

  private def all4(what: String, es: DataFrame, ls: DataFrame): Seq[Seq[Row]] = Seq(
    bothPathsEqual(s"$what triangles")(Geo.triangles(es)),
    bothPathsEqual(s"$what clustcoef")(Geo.clustCoef(es)),
    bothPathsEqual(s"$what modularity")(Geo.modularity(es, ls)),
    bothPathsEqual(s"$what bfs")(Geo.bfsHistogram(es)))

  test("empty pair set: NULL wedges, edges and modularity; no clustcoef or bfs rows") {
    val Seq(tri, cc, q, bfs) = all4("empty", pairs(), labels())
    assert(tri == Seq(Row(0L, null)))
    assert(cc.isEmpty)
    assert(q == Seq(Row(0L, null, null)))
    assert(bfs.isEmpty)
  }

  test("star: wedges but no triangles, one zero-coefficient bucket") {
    val star = pairs((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val Seq(tri, cc, q, bfs) = all4("star", star, labels((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L)))
    assert(tri == Seq(Row(0L, 6L)))
    assert(cc == Seq(Row(0, 1L, 0.0)))
    assert(q.head.getLong(0) == 2L && q.head.getLong(1) == 4L)
    // seeds 0, 1, 2; leaves 3 and 4 one hop from the centre
    assert(bfs == Seq(Row(0, 3L), Row(1, 2L)))
  }

  test("K4 plus a pendant path: mixed coefficients over three buckets") {
    val k4 = pairs((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    // vertex 6 carries no label and label 99 has no edge: both must drop
    // out exactly as the keyed joins drop them
    val Seq(tri, cc, q, bfs) = all4("k4+path", k4,
      labels((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L), (99L, 99L)))
    assert(tri == Seq(Row(4L, 16L)))
    assert(cc == Seq(Row(0, 1L, 0.0), Row(5, 1L, 0.5), Row(10, 3L, 1.0)))
    assert(q.head.getLong(0) == 2L && q.head.getLong(1) == 8L)
    assert(bfs == Seq(Row(0, 3L), Row(1, 1L), Row(2, 1L), Row(3, 1L)))
  }

  test("two disjoint triangles under label propagation: Q = 1/2 on both paths") {
    val tri = pairs((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L), (10L, 12L))
    val lab = LabelProp.run(spark,
      tri.select($"u1".as("src"), $"u2".as("dst"))
        .unionAll(tri.select($"u2".as("src"), $"u1".as("dst"))))
    val Seq(t, cc, q, _) = all4("two triangles", tri, lab)
    assert(t == Seq(Row(2L, 6L)))
    assert(cc == Seq(Row(10, 6L, 1.0)))
    assert(q == Seq(Row(2L, 6L, 0.5)))
  }

  private val keys = Seq("q_graph_triangles", "q_graph_clustcoef", "m_graph_modularity", "q_graph_bfs")

  test("sf0.001 fixture: every graph-statistics key equals its Spark plan") {
    for (k <- keys) {
      val rows = bothPathsEqual(k)(SparkEntry.queries(k)(spark, sf))
      assert(rows.nonEmpty, s"$k: no rows at sf0.001")
    }
  }

  test("a warm graph-statistics key builds and collects with no Spark job") {
    for (k <- keys) {
      SparkEntry.queries(k)(spark, sf).collect() // fills the pair and label memos
      val jobs = jobsDuring(SparkEntry.queries(k)(spark, sf).collect())
      assert(jobs == 0, s"$k ran $jobs Spark jobs warm")
    }
  }

  test("graph operators over the pinned pair set gate and fetch it with no Spark job") {
    val pinned = Geo.coTravelerPairs(spark, sf, cellDeg = 20.0, minHours = 2).select($"u1", $"u2")
    val arcs = pinned.select($"u1".as("src"), $"u2".as("dst"), lit(1.0).as("w"))
      .unionAll(pinned.select($"u2".as("src"), $"u1".as("dst"), lit(1.0).as("w")))
    val source = pinned.as[(Long, Long)].collect().map(_._1).min
    val ops = Seq[(String, () => DataFrame)](
      "Betweenness" -> (() => Betweenness.run(spark, pinned)),
      "Coreness" -> (() => Coreness.run(spark, pinned)),
      "Sssp" -> (() => Sssp.run(spark, arcs, source)),
      "KTruss" -> (() => KTruss.run(spark, pinned, k = 3)),
      "Louvain" -> (() => Louvain.runMultiLevel(spark, pinned)))
    for ((name, op) <- ops) {
      val jobs = jobsDuring(op())
      assert(jobs == 0, s"$name ran $jobs Spark jobs over the pinned pair set")
    }
  }
}
