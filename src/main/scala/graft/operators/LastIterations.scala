package graft.operators

/** The executed-rounds record of the iterative operators.
  *
  * Each iterative operator records its executed-round count when its loop
  * ends; a reader takes the count of whatever ran on its own thread since
  * the last read. The record is thread-confined, so two sessions running
  * the same operator on different threads never see each other's count.
  * Plain ThreadLocal, not DynamicVariable: the latter is inheritable, so a
  * pool thread first created on a thread holding a count would start with
  * it (the same reason as `Endgame`'s forced gate).
  *
  * A key that hits a memoized operator result runs no operator and reads
  * `None`. A reader that skips a read (a failed key, an untimed pass)
  * leaves the count for its thread's next read.
  */
object LastIterations {
  private val rounds = ThreadLocal.withInitial[Option[Int]](() => None)

  /** Records an operator's executed rounds on this thread; the last write
    * before a read wins. */
  private[graft] def record(n: Int): Unit = rounds.set(Some(n))

  /** The rounds recorded on this thread since the last read, and clears
    * them. */
  def take(): Option[Int] = {
    val r = rounds.get
    rounds.set(None)
    r
  }

  /** [[take]] under the name perfbench calls after each successful key.
    * `queryKey` is ignored: the count is whatever ran on this thread since
    * the last read, not a per-key binding. */
  def get(queryKey: String): Option[Int] = take()
}
