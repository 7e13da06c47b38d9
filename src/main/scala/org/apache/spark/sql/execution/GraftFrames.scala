package org.apache.spark.sql.execution

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}

/** Plan → Dataset bridge: wraps an already-built logical plan (a
  * driver-side `LocalRelation`, say) as a Dataset of the caller's type
  * without a round trip through external rows. `classic.Dataset.ofRows`
  * is `private[sql]`, hence this file's package (with [[GraftColumns]] and
  * [[GraftStatsCut]], the library's internal-API touches). */
object GraftFrames {
  def of[T](like: Dataset[T], plan: LogicalPlan): Dataset[T] =
    frame(like.sparkSession, plan).as(like.encoder)

  /** `plan` as an untyped frame of `spark`. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df.localCheckpoint(eager = true)` whose one job also returns what
    * that job counts and discards: each partition's row count. Also
    * returns the checkpointed RDD of copied internal rows, for a caller
    * that collects it and then releases its blocks. */
  def localCheckpoint(df: DataFrame): (DataFrame, RDD[InternalRow], Array[Long]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
      // runJob checkpoints `rdd` after the job, from the blocks it cached
      val sizes = ds.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
      (frame(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), rdd, sizes)
    }
  }

  /** A frame over a `LocalRelation` as a scan of an RDD of the same rows
    * (any other frame as is): the same rows, which the optimizer cannot
    * fold into a driver-side evaluation, so projections over it run in
    * tasks. Building it runs no job. */
  def scan(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case l: LocalRelation =>
      val s = df.sparkSession.asInstanceOf[classic.SparkSession]
      val rdd = s.sparkContext.parallelize(l.data, math.max(1, s.sparkContext.defaultParallelism))
      frame(s, LogicalRDD(l.output.map(_.newInstance()), rdd)(s))
    case _ => df
  }
}
