package graft

import org.apache.spark.sql.functions._

/** m_graph_scc / operators.Scc — exact partition equality against a driver
  * Tarjan (the independent-algorithm oracle: path-doubling closure vs
  * stack-based lowlink DFS share no code path), planted directed shapes
  * where the right answer is known by construction, and the declared
  * |V|-bound failure mode. */
class SccSpec extends BaseSpec {
  import spark.implicits._

  /** Iterative Tarjan (explicit stacks — no recursion depth limit). */
  private def tarjan(edges: Seq[(Long, Long)], verts: Set[Long]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.Stack.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- verts.toList.sorted if !index.contains(root)) {
      // frame = (vertex, remaining successors)
      val work = scala.collection.mutable.Stack[(Long, List[Long])]()
      index(root) = counter; low(root) = counter; counter += 1
      stack.push(root); onStack += root
      work.push((root, adj.getOrElse(root, Nil)))
      while (work.nonEmpty) {
        val (v, succs) = work.pop()
        succs match {
          case w :: rest =>
            work.push((v, rest))
            if (!index.contains(w)) {
              index(w) = counter; low(w) = counter; counter += 1
              stack.push(w); onStack += w
              work.push((w, adj.getOrElse(w, Nil)))
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          case Nil =>
            if (work.nonEmpty) {
              val (p, _) = work.top
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              var members = List.empty[Long]
              var done = false
              while (!done) {
                val w = stack.pop(); onStack -= w; members ::= w
                done = w == v
              }
              val id = members.min
              members.foreach(comp(_) = id)
            }
        }
      }
    }
    comp.toMap
  }

  private def runScc(edges: Seq[(Long, Long)],
                     dist: Boolean = false): Map[Long, Long] = onPath(dist) {
    val e = edges.toDF("src", "dst")
    val v = e.select($"src".as("id")).unionAll(e.select($"dst".as("id"))).distinct()
    graft.operators.Scc.run(spark, v, e).as[(Long, Long)].collect().toMap
  }

  test("planted shapes: two cycles bridged one-way, a DAG, nested cycles") {
    // two 3-cycles joined by a ONE-WAY bridge: exactly two SCCs — the
    // bridge must NOT merge them (the mistake an undirected CC would make)
    val bridged = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L))
    // both the driver-local bitset closure and the distributed rounds; a
    // row-permuted copy of the input must give the identical partition
    for (dist <- bothPaths) {
      val got = runScc(bridged, dist)
      assert(got == tarjan(bridged, Set(1L, 2L, 3L, 10L, 11L, 12L)), s"dist=$dist")
      assert(got.values.toSet.size == 2, s"dist=$dist")
      assert(runScc(bridged.reverse, dist) == got, s"dist=$dist: row order changed the result")
    }
    // a pure DAG: every vertex its own singleton SCC
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    assert(runScc(dag) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // back edge closing the whole diamond into ONE component
    val closed = dag :+ (4L, 1L)
    assert(runScc(closed).values.toSet == Set(1L))
    // long cycle (exercises >1 doubling round: diameter 8)
    val ring = (0L until 8L).map(i => (i, (i + 1) % 8))
    assert(runScc(ring).values.toSet == Set(0L))
    assert(graft.operators.LastIterations.take().exists(_ >= 3)) // closure needs log2(8) rounds
  }

  test("fixture cell-transition graph matches the driver Tarjan exactly") {
    val e = Tables(spark, sf, "events")
      .withColumn("ts_us", unix_micros($"ts"))
      .withColumn("cell",
        expr("(((event_id * 37) % 1700) div 200) * 18 + ((event_id * 131) % 3600) div 200"))
      .withColumn("nxt", lead($"cell", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts_us", $"event_id")))
      .filter($"nxt".isNotNull && $"cell" =!= $"nxt")
      .select($"cell", $"nxt").distinct()
      .as[(Long, Long)].collect().toList
    val verts = e.flatMap(p => List(p._1, p._2)).toSet
    val want = tarjan(e, verts)
    assert(runScc(e) == want)
    // and the KEY's histogram equals the Tarjan partition's histogram
    val hist = SparkEntry.queries("m_graph_scc")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val wantHist = want.groupBy(_._2).map(_._2.size.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(hist == wantHist)
    // cells inside one SCC are mutually reachable by construction of the
    // fixture's formula-derived hops; at least one multi-cell SCC exists
    assert(wantHist.keys.max >= 2L, s"degenerate fixture graph: $wantHist")
  }

  test("an edge list over the budget takes the distributed closure, whatever |V|") {
    // Six vertices pass the local vertex cap, but repeating the bridged
    // cycles' seven edges pushes the list one row past the budget: the
    // edges must pass their own count gate before any collect.
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L))
    def pick(xs: Seq[Long]) =
      element_at(typedLit(xs), ($"id" % base.size.toLong + 1L).cast("int"))
    val e = spark.range(graft.operators.Endgame.Budget + 1)
      .select(pick(base.map(_._1)).as("src"), pick(base.map(_._2)).as("dst"))
    val verts = base.flatMap(p => Seq(p._1, p._2)).toSet
    val v = verts.toSeq.toDF("id")
    val gated = graft.operators.Scc.run(spark, v, e)
    // the driver-local kernel returns a LocalRelation; the distributed
    // closure reads its checkpointed pair frame
    assert(gated.queryExecution.analyzed.collectLeaves()
        .exists(!_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "an over-budget edge list was collected to the driver")
    val got = gated.as[(Long, Long)].collect().toMap
    val forced = onPath(true)(graft.operators.Scc.run(spark, v, e)
      .as[(Long, Long)].collect().toMap)
    assert(got == forced)
    assert(got == tarjan(base, verts))
  }

  test("the |V| closure bound fails loudly, not with an executor OOM") {
    val big = spark.range(0, 50).selectExpr("id AS src", "id + 1 AS dst")
    val v = spark.range(0, 51).select($"id")
    val ex = intercept[IllegalStateException] {
      graft.operators.Scc.run(spark, v, big, maxVertices = 10L)
    }
    assert(ex.getMessage.contains("maxVertices"))
  }
}
