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
}
