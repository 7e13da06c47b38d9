package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project

/** SURVEY §2.12/§4 — the `spark.sql.extensions` installation path: a
  * session built with GraftExtensions resolves the custom expressions
  * from raw SQL (no install calls) and runs the bbox optimizer rule. */
class ExtensionsSpec extends BaseSpec {

  /** Runs `body` on a session built with GraftExtensions that shares the
    * main session's SparkContext, then restores the default and active
    * sessions. */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    spark // force the shared session (and its SparkContext) to exist
    val oldDefault = SparkSession.getDefaultSession
    val oldActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // do NOT stop this session: it shares the SparkContext with the main one
      body(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new GraftExtensions)
        .getOrCreate())
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      oldDefault.foreach(SparkSession.setDefaultSession)
      oldActive.foreach(SparkSession.setActiveSession)
    }
  }

  private val ad = "CAST(NULL AS ARRAY<DOUBLE>)"
  private val al = "CAST(NULL AS ARRAY<BIGINT>)"
  private val ai = "CAST(NULL AS ARRAY<INT>)"
  private val d = "CAST(NULL AS DOUBLE)"
  private val i = "CAST(NULL AS INT)"

  /** One typed-NULL call per [[graft.functions.Sql]] name: the arity and
    * argument types a SQL caller writes. */
  private val calls = Map(
    "haversine_km" -> Seq(d, d, d, d),
    "cosine_sim" -> Seq(ad, ad),
    "euclidean_dist" -> Seq(ad, ad),
    "zorder_key" -> Seq("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)"),
    "jaro_winkler" -> Seq("CAST(NULL AS STRING)", "CAST(NULL AS STRING)"),
    "hull_stats" -> Seq(ad),
    "matrix_profile" -> Seq(ad, i),
    "matrix_profile_block" -> Seq(ad, i, i, i),
    "frechet_km" -> Seq(ad, ad),
    "frechet_km_capped" -> Seq(ad, ad, d),
    "lcss_matches" -> Seq(ad, ad, d),
    "edr_dist" -> Seq(ad, ad, d),
    "hausdorff_km" -> Seq(ad, ad),
    "hausdorff_km_capped" -> Seq(ad, ad, d),
    "traclus_partition" -> Seq(ad),
    "traclus_dist" -> Seq(ad, ad),
    "traclus_rep" -> Seq("CAST(NULL AS ARRAY<ARRAY<DOUBLE>>)", i, d),
    "cell_overlap" -> Seq(ai, ai),
    "traj_near_counts" -> Seq(al, al, al, al),
    "lcss_ub" -> Seq(al, al, al, al))

  /** Every table name resolves from SQL text to the expression of the same
    * pretty name and evaluates a NULL input to NULL. */
  private def assertResolvesAll(s: SparkSession): Unit = {
    assert(calls.keySet == graft.functions.Sql.functions.map(_._1).toSet,
      "the spec's call list must cover exactly the function table")
    for ((name, args) <- calls) {
      val df = s.sql(s"SELECT $name(${args.mkString(", ")}) AS r")
      val resolved = df.queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), _) => e.prettyName
        case other => fail(s"$name: unexpected plan\n$other")
      }
      assert(resolved == name, s"$name resolved to $resolved")
      assert(df.collect().head.isNullAt(0), s"$name: NULL input must yield NULL")
    }
  }

  test("GraftExtensions installs functions and the optimizer rule") {
    withExtensionSession { ext =>
      // functions resolve from SQL text with no install() call
      val d = ext.sql("SELECT round(haversine_km(0.0, 0.0, 0.0, 1.0), 2) AS d")
        .collect().head.getDouble(0)
      assert(math.abs(d - 111.19) < 0.01, s"haversine via extensions: $d")
      val c = ext.sql(
        "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
        .collect().head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-9, s"cosine via extensions: $c")
      // the injected optimizer rule fires without install() (range() is
      // not a LocalRelation, so the filter survives constant folding)
      val df = ext.range(1000)
        .selectExpr("CAST(id DIV 180 AS DOUBLE) AS lat", "CAST(id % 180 AS DOUBLE) AS lon")
        .where("haversine_km(lat, lon, 2.0d, 5.0d) < 500.0d")
      val opt = df.queryExecution.optimizedPlan.toString
      val (latLo, _, _) = graft.plans.HaversineRadiusPruning.bbox(2.0, 5.0, 500.0)
      assert(opt.contains(latLo.toString),
        s"bbox rule did not fire in extension session:\n$opt")
      val expected = (0L until 1000L).count { id =>
        graft.functions.HaversineDist.km((id / 180).toDouble, (id % 180).toDouble, 2.0, 5.0) < 500.0 }
      assert(expected > 0 && df.count() == expected,
        s"rule changed results: got ${df.count()}, want $expected")
    }
  }

  test("every Sql table name resolves from SQL text: extension session and Sql.install") {
    withExtensionSession(assertResolvesAll)
    graft.functions.Sql.install(spark)
    assertResolvesAll(spark)
  }
}
