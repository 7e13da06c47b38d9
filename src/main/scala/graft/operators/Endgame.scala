package graft.operators

/** The one path choice of every hybrid operator: distributed rounds at
  * scale, an exact driver-local kernel once the input fits [[Budget]].
  *
  * Below the budget a distributed round is fixed job overhead, not data
  * volume — on a contracted or probe-sized input each round is a handful
  * of tiny AQE-materialized exchanges whatever the size — so the same
  * update rule runs over driver arrays instead. Every gate is a
  * DISTRIBUTED count or aggregate taken before anything is collected, so
  * an input is proven under budget before it reaches the driver. At 100 TB
  * every input exceeds the budget and the distributed path runs unchanged.
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

  /** Runs `body` with every gate on this thread closed (nests, and restores
    * the outer state on exit or exception). */
  private[graft] def distributed[T](body: => T): T = {
    val outer = forced.get
    forced.set(true)
    try body finally forced.set(outer)
  }
}
