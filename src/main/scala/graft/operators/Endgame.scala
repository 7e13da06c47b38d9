package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The one path choice of every hybrid operator: distributed rounds at
  * scale, an exact driver-local kernel once the input fits [[Budget]].
  *
  * Below the budget a distributed round is fixed job overhead, not data
  * volume — on a contracted or probe-sized input each round is a handful
  * of tiny AQE-materialized exchanges whatever the size — so the same
  * update rule runs over driver arrays instead. Every gate on a
  * distributed input is a DISTRIBUTED count or aggregate taken before
  * anything is collected, so an input is proven under budget before it
  * reaches the driver. At 100 TB
  * every input exceeds the budget and the distributed path runs unchanged.
  *
  * An input that is already driver-resident needs no such proof: when its
  * optimized plan is a `LocalRelation`, its length is known without a job
  * and [[rows]] gates and fetches it with no job at all. [[pin]] makes
  * memoized substrates driver-resident in the first place — a shared frame
  * proven under budget is held as a `LocalRelation` (exact statistics, so
  * its consumers plan broadcasts; no checkpoint job per read) instead of
  * a checkpointed RDD. A pinned frame stays on the driver heap for the
  * life of its memo entry: on the order of 100 B per narrow row (a
  * generic internal row of boxed values), so up to ~100 MB per memoized
  * substrate at [[Budget]] rows.
  *
  * The choice is made per call from the observed input size, never from a
  * caller-set option. The only override is [[distributed]], the hook that
  * lets a spec or probe run the distributed reference path on a small
  * input.
  */
object Endgame {

  /** Rows a driver-local endgame may collect. A kernel keeps two or three
    * 8 B/row primitive arrays plus the transient `Row[]` of the collect
    * (~60 B/row until the next GC), so 1M rows peaks well under 100 MB of
    * driver heap. */
  val Budget: Long = 1L << 20

  // Plain ThreadLocal, not DynamicVariable: the latter is inheritable, so
  // a pool thread first created inside a forced scope would keep it.
  private val forced = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** True when every size fits [[Budget]] and no [[distributed]] scope is
    * active on this thread; `local()` alone asks only the latter. */
  def local(sizes: Long*): Boolean = !forced.get && sizes.forall(_ <= Budget)

  /** The gate-and-fetch: the rows of `ds` when `weight` × its row count
    * passes [[local]], else `None` (and nothing collected). A
    * driver-resident `ds` is gated on its known length and collected from
    * the driver without a job; any other is counted first. `weight` is the
    * caller's arithmetic over that count (2 for an edge list the kernel
    * symmetrizes, 4 per BFS source). */
  def rows[T](ds: Dataset[T], weight: Long = 1): Option[Array[T]] = {
    val fits = local() && (ds.queryExecution.optimizedPlan match {
      case l: LocalRelation => local(l.data.length * weight)
      case _ => local(ds.count() * weight)
    })
    if (fits) Some(ds.collect()) else None
  }

  /** A memo value's physical form: `df` itself when it is already
    * driver-resident and within [[Budget]]; otherwise one eager
    * checkpoint, rebuilt as a `LocalRelation` of the same rows in the same
    * order when [[rows]] admits it, else the checkpoint itself. */
  def pin(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case l: LocalRelation if local(l.data.length) => df
    case _ =>
      val cp = df.localCheckpoint(eager = true)
      rows(cp).fold(cp)(rs =>
        df.sparkSession.createDataFrame(java.util.Arrays.asList(rs: _*), cp.schema))
  }

  /** Runs `body` with every gate on this thread closed (nests, and restores
    * the outer state on exit or exception). */
  private[graft] def distributed[T](body: => T): T = {
    val outer = forced.get
    forced.set(true)
    try body finally forced.set(outer)
  }
}
