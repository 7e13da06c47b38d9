package graft

import graft.operators.Endgame
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.execution.LogicalRDD

/** The one endgame gate: the budget boundary, the forced distributed
  * scope's nesting, exception safety and thread confinement, and the
  * gate-and-fetch / memo pinning over driver-resident frames. */
class EndgameSpec extends BaseSpec {
  import spark.implicits._

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def pairs(n: Int) = (1 to n).map(i => (i.toLong, i * 7L % 11L)).toDF("a", "b")

  test("local() admits sizes up to the budget, and Budget + 1 is distributed") {
    assert(Endgame.local())
    assert(Endgame.local(0L, Endgame.Budget))
    assert(!Endgame.local(Endgame.Budget + 1))
    assert(!Endgame.local(0L, Endgame.Budget + 1))
  }

  test("the forced scope nests and restores after an exception") {
    Endgame.distributed {
      assert(!Endgame.local() && !Endgame.local(0L))
      Endgame.distributed(assert(!Endgame.local()))
      assert(!Endgame.local(), "leaving the inner scope reopened the gate")
    }
    assert(Endgame.local())
    intercept[IllegalStateException] {
      Endgame.distributed(throw new IllegalStateException("boom"))
    }
    assert(Endgame.local(), "an exception left the gate forced")
  }

  test("a thread running alongside the forced scope keeps the default gate") {
    val inside = new java.util.concurrent.CountDownLatch(1)
    val checked = new java.util.concurrent.CountDownLatch(1)
    @volatile var seen: Option[Boolean] = None
    Endgame.distributed {
      // created inside the scope: an inheritable thread-local would leak
      val other = new Thread(() => {
        inside.await()
        seen = Some(Endgame.local(1L))
        checked.countDown()
      })
      other.start()
      inside.countDown()
      assert(checked.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(!Endgame.local(1L))
      other.join()
    }
    assert(seen.contains(true), s"the other thread saw the forced scope: $seen")
  }

  test("rows over a driver-resident frame fetches it without a job") {
    val df = pairs(5)
    assert(isLocal(df))
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsDuring { got = Endgame.rows(df) } == 0)
    assert(got.map(_.toSeq) == Some(df.collect().toSeq))
  }

  test("rows over a union of driver-resident frames fetches it without a job") {
    // the symmetric edge list over a pinned pair set; the second child's
    // column is nullable, so the union's merged nullability shows
    val df = pairs(5)
    val sym = df.unionAll(df.select($"b".as("a"), when($"a" > 2L, $"a").as("b")))
    assert(sym.queryExecution.optimizedPlan match {
      case u: Union => u.children.forall(_.isInstanceOf[LocalRelation])
      case _ => false
    })
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    var typed: Option[Array[(Long, Option[Long])]] = None
    assert(jobsDuring {
      got = Endgame.rows(sym)
      typed = Endgame.rows(sym.as[(Long, Option[Long])])
    } == 0)
    assert(got.map(_.toSeq) == Some(sym.collect().toSeq))
    assert(typed.map(_.toSeq) == Some(sym.as[(Long, Option[Long])].collect().toSeq))
    // gated on the children's summed length: 10 rows
    assert(Endgame.rows(sym, weight = Endgame.Budget / 10).nonEmpty)
    assert(Endgame.rows(sym, weight = Endgame.Budget / 5).isEmpty)
    val pinned = Endgame.pin(sym)
    assert(isLocal(pinned))
    assert(pinned.schema == sym.schema)
    assert(pinned.collect().toSeq == sym.collect().toSeq)
  }

  test("rows over a distributed frame is count-gated and equals its collect()") {
    val df = pairs(200).repartition(3)
    assert(!isLocal(df))
    val got = Endgame.rows(df).map(_.toSeq.map(r => (r.getLong(0), r.getLong(1))))
    assert(got.map(_.sorted) ==
      Some(df.as[(Long, Long)].collect().toSeq.sorted))
  }

  test("rows says distributed over budget by weight, and inside the forced scope") {
    assert(Endgame.rows(pairs(2), weight = Endgame.Budget).isEmpty)
    assert(Endgame.rows(pairs(2), weight = Endgame.Budget / 2).nonEmpty)
    val df = pairs(50).repartition(3)
    var got: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    // forced: no count, no collect
    assert(jobsDuring { got = Endgame.distributed(Endgame.rows(df)) } == 0)
    assert(got.isEmpty)
    assert(Endgame.distributed(Endgame.rows(pairs(2))).isEmpty)
  }

  test("pin keeps a driver-resident frame as the same object") {
    val df = pairs(4)
    assert(Endgame.pin(df) eq df)
  }

  test("pin rebuilds a small distributed frame as a LocalRelation, same rows in order") {
    // a descending sort over three range partitions: row order is the
    // sort's, not the input's, so a reordering pin shows; the array and
    // string columns show that the held rows are the checkpoint's
    // UnsafeRows, not external rows converted back
    val df = spark.range(0, 60, 1, 3)
      .selectExpr("id", "id % 7 AS m", "array(id * 0.5, id * 1.5) AS xs",
        "sequence(0, id % 5) AS ks", "CAST(id AS STRING) AS s")
      .orderBy($"m".desc, $"id")
    assert(!isLocal(df))
    val pinned = Endgame.pin(df)
    assert(isLocal(pinned))
    assert(pinned.queryExecution.optimizedPlan.asInstanceOf[LocalRelation].data
      .forall(_.isInstanceOf[UnsafeRow]))
    assert(pinned.schema == df.schema)
    assert(pinned.collect().toSeq == df.collect().toSeq)
  }

  test("pin inside the forced scope holds the checkpoint") {
    val pinned = Endgame.distributed(Endgame.pin(pairs(30).repartition(3)))
    assert(pinned.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
    assert(pinned.count() == 30)
    // a driver-resident frame is kept only when the gate admits its length
    val local = Endgame.distributed(Endgame.pin(pairs(30)))
    assert(local.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
    assert(local.collect().toSeq == pairs(30).collect().toSeq)
  }

  test("pin weighs each row: weight × rows at the budget pins, one more is distributed") {
    val df = spark.range(0, 64, 1, 4).selectExpr("id", "id * 3 AS v")
    val w = Endgame.Budget / 64
    assert(isLocal(Endgame.pin(df, weight = w)))
    assert(Endgame.pin(df, weight = w + 1).queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
    // a driver-resident frame: kept as is at the boundary, checkpointed past it
    val local = pairs(64)
    assert(Endgame.pin(local, weight = w) eq local)
    assert(Endgame.pin(local, weight = w + 1).queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
  }

  test("a pin's first touch runs at most two jobs and releases its checkpoint") {
    def cached() = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0).map(_.id).toSet
    val df = spark.range(0, 500, 1, 4).selectExpr("id", "array(id, id + 1) AS xs")
    val before = cached()
    var pinned: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { pinned = Endgame.pin(df) }
    assert(jobs <= 2, s"first touch ran $jobs jobs")
    assert(isLocal(pinned))
    assert(cached() -- before == Set.empty, "the rebuilt pin kept its checkpoint's blocks")
    // above the budget the checkpoint is the memo value, blocks and all
    val held = Endgame.pin(df, weight = Endgame.Budget)
    assert(held.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
    assert((cached() -- before).nonEmpty)
    assert(held.count() == 500)
  }
}
