package graft

import org.apache.spark.sql.types._

/** Schema-drift canary over the [[Tables]] catalog.
  *
  * The driver regenerates /root/testdata between rounds and has already
  * shipped the events `ts` column three ways (TIMESTAMP(NANOS), raw-Long
  * nanos, timestamp[us]/NTZ); the round-9 layout change made every
  * events-backed key fail analysis while all other suites stayed green.
  * This suite touches every table and every column through the SAME
  * loader the contract queries use, so the next physical-layout drift
  * fails HERE with a named assertion instead of as 30 silently-missing
  * correctness keys.
  */
class TablesSpec extends BaseSpec {

  // Columns the contract queries consume, per table. A regenerated file
  // may legally ADD columns; dropping or renaming any of these breaks keys.
  private val required: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                        "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                        "l_returnflag", "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label")
  )

  test("every table loads, has rows, and carries its contract columns") {
    Tables.names.foreach { name =>
      val df = Tables(spark, sf, name)
      val missing = required(name).filterNot(df.columns.contains)
      assert(missing.isEmpty, s"$name is missing contract columns: $missing")
      assert(df.count() > 0, s"$name is empty at sf0.001")
    }
  }

  test("events ts normalizes to µs TimestampType whatever the file layout") {
    val ev = Tables(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts must normalize to TimestampType, got ${ev.schema("ts").dataType}")
    // unix_micros must be usable downstream (the 30+ consumers' contract)
    // and land in a sane epoch range (1990..2100), catching an off-by-10³
    // ns/µs/ms mixup that a bare type check would miss.
    import org.apache.spark.sql.functions._
    val Array(lo, hi) = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val y1990 = 631152000000000L
    val y2100 = 4102444800000000L
    assert(lo > y1990 && hi < y2100,
      s"events.ts µs range [$lo, $hi] outside plausible epoch bounds — unit drift?")
  }

  test("the memo returns one object per session and table, and evict drops it") {
    // A child session shares the context, so evicting it leaves the shared
    // session's entries (and every other suite's) in place.
    val child = spark.newSession()
    val region = Tables(child, sf, "region")
    assert(Tables(child, sf, "region") eq region)
    assert(Tables(spark, sf, "region") ne region)
    assert(Tables.memo.sizeFor(child) == 1)
    Tables.memo.evict(child)
    assert(Tables.memo.sizeFor(child) == 0)
    assert(Tables.memo.sizeFor(spark) > 0)
    assert(Tables(child, sf, "region") ne region)
  }

  test("every contract column is selectable end-to-end (no lazy analysis trap)") {
    // Materialize one row of every required column: analysis-only breakage
    // (the round-9 failure mode) surfaces at .collect, not at schema time.
    required.foreach { case (name, cols) =>
      val df = Tables(spark, sf, name)
      df.select(cols.map(org.apache.spark.sql.functions.col): _*).limit(1).collect()
    }
  }
}
