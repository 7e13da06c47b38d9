package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver-generated parquet testdata (TESTDATA.md).
  *
  * The returned DataFrame is memoized per (session, sfDir, table) in a
  * [[SessionMemo]], so a stopped session's entries are evicted with it.
  * What is cached is the LOGICAL PLAN OBJECT only — never materialized
  * data — so Catalyst still sees the raw scan node and pushes filters /
  * prunes columns into the vectorized parquet reader exactly as with a
  * fresh read. What the memo removes is the per-call driver work of
  * `spark.read.parquet`: file listing and footer/schema inference, which
  * at ~200 table reads across a 92-query bench run is pure fixed overhead
  * (SURVEY §6). At 100 TB the same pattern holds — one resolved relation
  * per table, shared by every query plan, with the scan node as the
  * pushdown target.
  */
object Tables {
  import org.apache.spark.sql.functions._

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private[graft] val memo = new SessionMemo[(String, String), DataFrame]

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo.getOrCompute(spark, (sfDir, name)) {
      if (name == "events") {
        // The generator has shipped `ts` three ways across rounds — parquet
        // TIMESTAMP(NANOS) (Spark 4 rejects it unless read as raw Long via
        // nanosAsLong), native timestamp[us] (reads as TIMESTAMP_NTZ), and
        // plain TIMESTAMP — so the loader dispatches on the file's actual
        // type instead of assuming one layout. Every branch lands on the
        // same contract the 30+ events consumers rely on: `ts` is a µs
        // TimestampType whose unix_micros equal DuckDB's epoch_us over the
        // same file (oracle side: epoch_us(CAST(ts AS TIMESTAMP)) truncates
        // ns and no-ops on µs, so one SQL text covers all layouts).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // NTZ→TIMESTAMP cast interprets the naive value in the session zone;
        // UTC makes it epoch-preserving, matching DuckDB's naive epoch_us.
        // ASSERT rather than set: every entry point (Verify, Bench, the
        // test session, GoldenGen) pins UTC at session construction, and a
        // table load silently mutating session config would change the
        // behavior of unrelated tz-sensitive expressions mid-session
        // depending on whether/when events was first touched.
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events loader requires spark.sql.session.timeZone=UTC (pin it " +
            "at session construction); refusing to mutate session config")
        val raw = spark.read.parquet(s"$sfDir/events.parquet")
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case org.apache.spark.sql.types.TimestampNTZType =>
            raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => raw
        }
      } else {
        spark.read.parquet(s"$sfDir/$name.parquet")
      }
    }
}
