package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.GraftFrames

/** The one path choice of every hybrid operator: distributed rounds at
  * scale, an exact driver-local kernel once the input fits [[Budget]].
  *
  * Below the budget a distributed round is fixed job overhead, not data
  * volume — on a contracted or probe-sized input each round is a handful
  * of tiny AQE-materialized exchanges whatever the size — so the same
  * update rule runs over driver arrays instead. [[rows]] is the one
  * gate-and-fetch of every operator, in one shape:
  * `rows(input).map(kernel).getOrElse { checkpoint; distributed rounds }`,
  * so the count runs only where the gate needs it and the eager checkpoint
  * only on the distributed path. Every gate on a distributed input is a
  * DISTRIBUTED count (or, for a work bound, an aggregate) taken before
  * anything is collected, so an input is proven under budget before it
  * reaches the driver. At 100 TB every input exceeds the budget and the
  * distributed path runs unchanged.
  *
  * An input that is already driver-resident needs no such proof: when its
  * optimized plan is a `LocalRelation`, or a `Union` of them (the
  * symmetric edge list over a pinned pair set), its length is known
  * without a job and [[rows]] gates and fetches it with no job at all.
  * [[pin]] makes memoized substrates driver-resident in the first place
  * (an operator may also return one, as [[Convoy]] does) — a shared frame
  * proven under budget is held as a `LocalRelation` (exact statistics, so
  * its consumers plan broadcasts; no checkpoint job per read) instead of
  * a checkpointed RDD. It holds the checkpoint's own internal rows
  * (`UnsafeRow`s: no boxed values, no external `Row` round trip), and the
  * checkpoint is released once they are collected. A pinned frame stays
  * on the driver heap for the life of its memo entry: on the order of
  * 100 B per narrow row, so up to ~100 MB per memoized substrate at
  * [[Budget]] rows; a memo of wide rows passes a `weight` that keeps it
  * near that figure.
  *
  * The choice is made per call from the observed input size, never from a
  * caller-set option. The only override is [[distributed]], the hook that
  * lets a spec or probe run the distributed reference path on a small
  * input.
  */
object Endgame {

  /** Rows a driver-local endgame may collect. A kernel keeps two or three
    * 8 B/row primitive arrays plus the transient `Row[]` of a [[rows]]
    * collect (~60 B/row until the next GC), so 1M rows peaks well under
    * 100 MB of driver heap. A [[pin]] holds `UnsafeRow`s, with no
    * transient external rows. */
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
    lazy val res = resident(ds)
    val fits = local() && local(res.fold(ds.count())(_._1) * weight)
    if (fits) Some(res.fold(ds)(_._2).collect()) else None
  }

  /** A memo value's physical form, each row weighing `weight` rows of
    * [[Budget]] (a wide row is several narrow ones): `df`'s
    * driver-resident form when it has one within the budget (`df` itself
    * for a `LocalRelation`). Otherwise one job materializes a local
    * checkpoint and returns each partition's row count. When the weighted
    * total passes [[local]], a second job collects the checkpoint's copied
    * internal rows, which are held as a `LocalRelation` of the same rows in
    * the same order, and the checkpoint's blocks are released; else the
    * checkpoint itself is the memo value. */
  def pin(df: DataFrame, weight: Long = 1): DataFrame = resident(df) match {
    case Some((n, r)) if local(n * weight) => r
    case _ =>
      val (cp, rdd, sizes) = GraftFrames.localCheckpoint(df)
      if (!local(sizes.sum * weight)) cp else {
        val data = rdd.collect()
        rdd.unpersist(blocking = true)
        GraftFrames.frame(df.sparkSession,
          LocalRelation(DataTypeUtils.toAttributes(df.schema), data.toSeq))
      }
  }

  /** The row count of `ds`: the known length of a driver-resident `ds`
    * (no job), else `count()`. */
  def size[T](ds: Dataset[T]): Long = resident(ds).fold(ds.count())(_._1)

  /** The `LocalRelation` of a driver-resident `df` when `weight` × its
    * length passes [[local]], else `None`: internal rows positional to
    * its output, with no job and no conversion to external rows. */
  private[graft] def held(df: DataFrame, weight: Long = 1): Option[LocalRelation] =
    resident(df).collect { case (n, r) if local(n * weight) =>
      r.queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    }

  /** The length and jobless form of `ds` when its optimized plan is
    * driver-resident: `ds` itself over a `LocalRelation`; over a `Union`
    * of them, one `LocalRelation` of the children's rows in order (a
    * union is positional, and its output already carries the children's
    * merged nullability). */
  private def resident[T](ds: Dataset[T]): Option[(Long, Dataset[T])] =
    ds.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some((l.data.length.toLong, ds))
      case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
        val data = u.children.flatMap(_.asInstanceOf[LocalRelation].data)
        Some((data.length.toLong, GraftFrames.of(ds, LocalRelation(u.output, data))))
      case _ => None
    }

  /** Runs `body` with every gate on this thread closed (nests, and restores
    * the outer state on exit or exception). */
  private[graft] def distributed[T](body: => T): T = {
    val outer = forced.get
    forced.set(true)
    try body finally forced.set(outer)
  }
}
