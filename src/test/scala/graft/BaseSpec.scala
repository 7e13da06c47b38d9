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

  /** Spark jobs launched while `body` runs. Listener events are async, so
    * the counter is polled to a plateau, before counting (events of
    * earlier jobs) and after. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def settled(): Int = {
      var last = -1
      var cur = jobs.get()
      var spins = 0
      while (cur != last && spins < 50) {
        Thread.sleep(100); last = cur; cur = jobs.get(); spins += 1
      }
      cur
    }
    spark.sparkContext.addSparkListener(l)
    try {
      settled()
      jobs.set(0)
      body
      settled()
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
