package graft

import graft.operators.ConnectedComponents

/** Direct coverage of the large-star/small-star connected components:
  * shapes that stress the star-forest fixpoint (long chains need the most
  * contraction rounds; stars and singletons are already fixpoints). */
class CcSpec extends BaseSpec {
  import spark.implicits._

  // The forced distributed scope runs the star rounds; the default takes
  // the driver-local union-find endgame. Both must agree everywhere.
  private def labels(vs: Seq[Long], es: Seq[(Long, Long)],
                     dist: Boolean): Map[Long, Long] = onPath(dist) {
    ConnectedComponents.run(spark, vs.toDF("id"), es.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
  }

  private val modes = Seq("distributed rounds" -> true, "local endgame" -> false)

  for ((mode, dist) <- modes)
  test(s"chain, star, two components, singleton, empty — $mode") {
    // 100-vertex path graph: worst-case diameter for min-propagation.
    val chain = labels(0L until 100L, (0L until 99L).map(i => (i, i + 1)), dist)
    assert(chain.size == 100 && chain.values.forall(_ == 0L))

    // Already a star; plus a separate triangle with reversed/duplicate edges.
    val star = labels(Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 42L),
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (11L, 10L), (12L, 10L), (10L, 12L)), dist)
    assert(Seq(1L, 2L, 3L, 4L).forall(star(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(star(_) == 10L))
    assert(star(42L) == 42L) // isolated vertex labels itself

    assert(labels(Seq(7L), Seq.empty, dist) == Map(7L -> 7L))
    assert(labels(Seq.empty, Seq.empty, dist).isEmpty)
  }

  for ((mode, dist) <- modes)
  test(s"labels are component minima on a random graph — $mode") {
    val rnd = new scala.util.Random(13L)
    val n = 200
    val es = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val got = labels(0L until n.toLong, es, dist)
    // a row-permuted copy of the edges: the identical labelling
    assert(labels(0L until n.toLong, new scala.util.Random(17L).shuffle(es), dist) == got)
    // union-find reference
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val exp = (0 until n).map { i =>
      i.toLong -> (0 until n).filter(j => find(j) == find(i)).min.toLong
    }.toMap
    assert(got == exp)
  }
}
