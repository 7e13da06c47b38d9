package graft

import scala.io.Source

/** Contract-shape checks + golden row counts at sf0.001 (SURVEY §5.4). */
class QueriesSpec extends BaseSpec {

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_pipeline_e2e populates every split — the salted cap rank cannot collude with the split hash") {
    // regression for a real composition bug: ranking the per-source cap
    // by the SAME md5 the split uses keeps only smallest-hash docs, which
    // at scale all land in 'train' (val/test empty). The salted rank key
    // must keep all three splits populated.
    import spark.implicits._
    val splits = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
      .select($"split").distinct().as[String].collect().toSet
    assert(splits == Set("train", "val", "test"), s"got $splits")
  }

  test("golden row counts at sf0.001") {
    val golden = Source.fromFile("src/test/resources/golden_counts_sf0.001.txt")
      .getLines().filter(_.nonEmpty).map { line =>
        val Array(k, v) = line.split(" "); k -> v.toLong
      }.toMap
    // One fresh session (same SparkContext and builder conf): after every
    // key has run, its function registry must still hold only built-ins —
    // the query surface builds its expressions as Columns and writes no
    // session function.
    val s = spark.newSession()
    val failures = golden.flatMap { case (name, expected) =>
      val got = SparkEntry.queries(name)(s, sf).count()
      if (got != expected) Some(s"$name: got $got expected $expected") else None
    }
    assert(failures.isEmpty, failures.mkString("; "))
    val added = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.listFunction().toSet --
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.listFunction()
    assert(added.isEmpty, s"queries wrote session functions: ${added.map(_.funcName).toSeq.sorted}")
  }
}
