package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIVF, SemDedup}

/** m_dedup_semantic — SemDeDup (Abbas et al. 2023): the keep rule on a
  * hand-built assignment, duplicate-group collapse, and the key against a
  * full driver recomputation (pairs → union-find → keep rule → summary)
  * under the same memoized k-means assignment. */
class SemDedupSpec extends BaseSpec {
  import spark.implicits._

  test("keep rule: a duplicate group collapses to its least-centroid-similar member") {
    // cell 0 centred on (1, 0): ids 1 and 3 sit ON the centroid, id 2 is
    // rotated 10° off — all three mutually above τ, so one group of three
    // whose SemDeDup survivor must be the atypical id 2. id 4 (cell 1) is
    // a singleton and keeps itself.
    val th = math.toRadians(10)
    val assigned = Seq(
      (1L, Seq(1.0, 0.0), 0),
      (2L, Seq(math.cos(th), math.sin(th)), 0),
      (3L, Seq(1.0, 0.0), 0),
      (4L, Seq(0.0, 1.0), 1)
    ).toDF("vec_id", "v", "cell")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell", "cv")
    val out = SemDedup.run(spark, assigned, cents, tauCos = 0.9)
      .select($"vec_id", $"comp", $"keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toList
    assert(out.map(_._2) == List(1L, 1L, 1L, 4L), s"components: $out")
    assert(out.map(_._3) == List(false, true, false, true),
      s"survivor must be the off-centroid member: $out")
  }

  test("threshold gates the pairs: below tau nothing merges, everything keeps") {
    val assigned = Seq(
      (1L, Seq(1.0, 0.0), 0),
      (2L, Seq(0.0, 1.0), 0) // orthogonal — cos 0
    ).toDF("vec_id", "v", "cell")
    val cents = Seq((0, Seq(1.0, 0.0))).toDF("cell", "cv")
    val out = SemDedup.run(spark, assigned, cents, tauCos = 0.5)
      .select($"vec_id", $"comp", $"keep").as[(Long, Long, Boolean)]
      .collect().sortBy(_._1).toList
    assert(out == List((1L, 1L, true), (2L, 2L, true)), out.toString)
  }

  test("local endgame == distributed path, exact rows") {
    val (assignedDf, centsDf) =
      AnnIVF.assignments(spark, Tables(spark, sf, "embeddings"), nlist = 16)
    val both = bothPaths.map { dist =>
      onPath(dist)(SemDedup.run(spark, assignedDf, centsDf, tauCos = 0.4)
        .select($"vec_id", $"cell", $"comp", $"ccos", $"keep")
        .as[(Long, Int, Long, Double, Boolean)].collect()).sortBy(_._1).toList
    }
    assert(both(0).nonEmpty)
    // ccos routes through the one shared CosineSim.compute kernel on both
    // paths, so even the doubles must agree BIT-identically
    assert(both(0) == both(1),
      s"first diff: ${both(0).zip(both(1)).find(p => p._1 != p._2)}")
  }

  test("m_dedup_semantic equals a driver pairs/union-find/keep recomputation") {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val (assignedDf, centsDf) =
      AnnIVF.assignments(spark, Tables(spark, sf, "embeddings"), nlist = 16)
    val rows = assignedDf.select($"vec_id", $"v", $"cell")
      .as[(Long, Seq[Double], Int)].collect()
      .map { case (id, v, c) => (id, v.toArray, c) }
    val cvs = centsDf.as[(Int, Seq[Double])].collect()
      .map { case (c, v) => c -> v.toArray }.toMap
    // union-find over within-cell pairs above tau
    val parent = scala.collection.mutable.Map(rows.map(r => r._1 -> r._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for {
      byCell <- rows.groupBy(_._3).values
      i <- byCell.indices; j <- (i + 1) until byCell.length
      if cos(byCell(i)._2, byCell(j)._2) >= 0.4
    } {
      val (ra, rb) = (find(byCell(i)._1), find(byCell(j)._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byComp = rows.groupBy(r => find(r._1))
    val dropped = byComp.values.flatMap { members =>
      // keeper: least centroid cosine, tie → smallest id
      val keeper = members.minBy(r => (cos(r._2, cvs(r._3)), r._1))._1
      members.map(_._1).filter(_ != keeper)
    }.toSet
    val want = rows.groupBy(_._3).map { case (cell, members) =>
      (cell, members.length.toLong,
        members.map(r => find(r._1)).distinct.length.toLong,
        members.count(r => dropped(r._1)).toLong)
    }.toList.sortBy(_._1)
    val got = SparkEntry.queries("m_dedup_semantic")(spark, sf)
      .as[(Int, Long, Long, Long)].collect().toList
    assert(got == want, s"\n got=$got\nwant=$want")
    // the pass must actually deduplicate something on the fixture (the
    // corpus has planted near-dups — q_dedup_embcos finds 66 pairs)
    assert(got.map(_._4).sum > 0, "no semantic duplicates dropped at all")
  }
}
