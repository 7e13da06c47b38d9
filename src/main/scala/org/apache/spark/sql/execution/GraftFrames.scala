package org.apache.spark.sql.execution

import org.apache.spark.sql.{Dataset, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Plan → Dataset bridge: wraps an already-built logical plan (a
  * driver-side `LocalRelation`, say) as a Dataset of the caller's type
  * without a round trip through external rows. `classic.Dataset.ofRows`
  * is `private[sql]`, hence this file's package (with [[GraftColumns]] and
  * [[GraftStatsCut]], the library's internal-API touches). */
object GraftFrames {
  def of[T](like: Dataset[T], plan: LogicalPlan): Dataset[T] =
    classic.Dataset.ofRows(like.sparkSession.asInstanceOf[classic.SparkSession], plan)
      .as(like.encoder)
}
