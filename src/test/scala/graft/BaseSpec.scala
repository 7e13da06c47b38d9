package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (suites reuse via getOrCreate). */
trait BaseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** Both paths of a hybrid operator, for dual-path specs: `false` keeps
    * the size-gated default (the driver-local kernel on spec inputs),
    * `true` forces the distributed rounds. */
  val bothPaths: Seq[Boolean] = Seq(false, true)

  def onPath[T](distributed: Boolean)(body: => T): T =
    if (distributed) operators.Endgame.distributed(body) else body

  /** Spark jobs launched while `body` runs. */
  def jobsDuring(body: => Unit): Int = workDuring(body)._1

  /** Spark jobs launched, and shuffle records written by tasks, while
    * `body` runs. Listener events are async, so the counters are polled
    * to a plateau, before counting (events of earlier jobs) and after. */
  def workDuring(body: => Unit): (Int, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          shuffled.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten); ()
        }
    }
    def settled(): (Int, Long) = {
      var last = (-1, -1L)
      var cur = (jobs.get(), shuffled.get())
      var spins = 0
      while (cur != last && spins < 50) {
        Thread.sleep(100); last = cur; cur = (jobs.get(), shuffled.get()); spins += 1
      }
      cur
    }
    spark.sparkContext.addSparkListener(l)
    try {
      settled()
      jobs.set(0)
      shuffled.set(0)
      body
      settled()
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
