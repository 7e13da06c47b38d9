package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** SURVEY §2.6 + §2.7 — sorts/limits/top-k and set operations.
  *
  * Scale notes: `q_topk` is orderBy+limit → Spark plans
  * TakeOrderedAndProject (per-partition heap + driver merge of k rows, no
  * global sort). `q_topk_group` uses the window-rank formulation — the only
  * per-group top-k that scales (no per-group collect). NULL ordering is
  * pinned explicitly everywhere: Spark defaults ASC→NULLS FIRST while
  * DuckDB defaults NULLS LAST. */
object SortsSets extends QueryGroup {

  val queries: Map[String, QFn] = Map(
    "q_sort_multi" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey", $"c_acctbal")
        .orderBy($"c_nationkey".asc_nulls_first, $"c_acctbal".desc_nulls_last, $"c_custkey")
    }),

    "q_topk" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(dsumR($"o_totalprice", 4).as("total_value"), count(lit(1)).as("n_orders"))
        .orderBy($"total_value".desc, $"o_custkey")
        .limit(10)
    }),

    "q_topk_group" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"rn")
    }),

    // Same result as q_topk_group, computed by the TopKPairs
    // TypedImperativeAggregate: O(k) state per group with map-side
    // combine, so shuffle bytes are k·|groups| instead of the window
    // formulation's full per-partition sort. The oracle is the window SQL
    // — proving the bounded-heap path is result-identical.
    "q_topk_heap" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(graft.functions.TopKPairs.topKPairs($"o_totalprice", $"o_orderkey", 3).as("top"))
        .select($"o_custkey", posexplode($"top").as(Seq("pos", "p")))
        .select($"o_custkey", ($"pos" + 1).cast("long").as("rn"),
                $"p.id".as("o_orderkey"), $"p.score".as("o_totalprice"))
        .orderBy($"o_custkey", $"rn")
    }),
    // Skyline / pareto frontier (minimize p_retailprice, maximize p_size)
    // via a SEGMENTED PREFIX SCAN — never the quadratic dominance join the
    // oracle uses. Stage 1 collapses parts onto distinct price points (one
    // hash agg). Stage 2 builds the dominance test from two monotone
    // running maxima: a per-bucket summary (≤ |price range|/100 rows)
    // whose global prefix-max orders BUCKETS ONLY before broadcasting
    // back, plus a per-bucket window that runs parallel across buckets. A
    // point survives iff its size beats every size at a strictly lower
    // price — i.e. max(prefix max of earlier buckets, running max within
    // its bucket). The data-sized side sees exactly one hash shuffle on
    // price and one bucket-local window; nothing data-sized is ever
    // globally ordered, so the plan survives a 100× price-point blowup.
    "q_skyline" -> ((s, dir) => {
      import s.implicits._
      val pts = t(s, dir, "part")
        .groupBy($"p_retailprice")
        .agg(max($"p_size").as("best_size"), count(lit(1)).as("n_parts"))
        .withColumn("bucket", floor($"p_retailprice" / 100.0))
      val wb = Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, -1)
      val prefix = pts.groupBy($"bucket").agg(max($"best_size").as("bucket_max"))
        .withColumn("before_bucket", max($"bucket_max").over(wb))
        .select($"bucket", $"before_bucket")
      val wp = Window.partitionBy($"bucket").orderBy($"p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
      pts.join(broadcast(prefix), Seq("bucket"))
        .withColumn("dom", greatest(
          coalesce(max($"best_size").over(wp), lit(Int.MinValue)),
          coalesce($"before_bucket", lit(Int.MinValue))))
        .filter($"best_size" > $"dom")
        .select($"p_retailprice", $"best_size", $"n_parts")
        .orderBy($"p_retailprice")
    }),

    "q_set_union" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      val urgent = o.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
      val high   = o.filter($"o_orderpriority" === "2-HIGH").select($"o_custkey")
      val dUnion = urgent.union(high).distinct()
        .agg(count(lit(1)).as("n")).select(lit("union_distinct").as("mode"), $"n")
      val aUnion = urgent.unionAll(high)
        .agg(count(lit(1)).as("n")).select(lit("union_all").as("mode"), $"n")
      dUnion.unionAll(aUnion).orderBy($"mode")
    }),

    "q_set_intersect" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      o.filter($"o_orderstatus" === "F").select($"o_custkey")
        .intersect(o.filter($"o_orderstatus" === "O").select($"o_custkey"))
        .orderBy($"o_custkey")
    }),

    "q_set_except" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      o.filter($"o_orderstatus" === "O").select($"o_custkey")
        .except(o.filter($"o_orderstatus" === "F").select($"o_custkey"))
        .orderBy($"o_custkey")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_sort_multi" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |ORDER BY c_nationkey ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey""".stripMargin,

    "q_topk" ->
      s"""SELECT o_custkey, ${oSumR("o_totalprice", 4)} AS total_value,
         |  COUNT(*) AS n_orders
         |FROM orders GROUP BY o_custkey
         |ORDER BY total_value DESC, o_custkey LIMIT 10""".stripMargin,

    "q_topk_group" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_topk_heap" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    // The oracle is the textbook quadratic NOT EXISTS dominance — an
    // INDEPENDENT formulation of the frontier, so a prefix-scan bug
    // (bucket boundary off-by-one, tie mishandling) cannot self-confirm.
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT p_retailprice, MAX(p_size) AS best_size, COUNT(*) AS n_parts
        |  FROM part GROUP BY p_retailprice)
        |SELECT p_retailprice, best_size, n_parts FROM pts p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts q
        |  WHERE q.p_retailprice < p.p_retailprice AND q.best_size >= p.best_size)
        |ORDER BY p_retailprice""".stripMargin,

    "q_set_union" ->
      """SELECT 'union_distinct' AS mode, COUNT(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t
        |UNION ALL
        |SELECT 'union_all' AS mode, COUNT(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t
        |ORDER BY mode""".stripMargin,

    "q_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin
  )
}
