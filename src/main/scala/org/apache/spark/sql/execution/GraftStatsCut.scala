package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic

/** Drops the `originStats` annotation a (local)checkpointed Dataset's
  * [[LogicalRDD]] leaf carries (one of the library's internal-API touches,
  * with [[GraftColumns]] and [[GraftFrames]], hence this file's package).
  *
  * Why it exists: `Dataset.localCheckpoint` cuts LINEAGE but propagates the
  * origin plan's COMPUTED `Statistics` into the new leaf. Catalyst's
  * size-only estimator multiplies child sizes through joins, so an
  * iterative operator whose per-round plan references the previous round's
  * checkpoint k ≥ 3 times compounds sizeInBytes as S^k PER ROUND —
  * S^(k^rounds) overall. The BigInt stays mathematically harmless but its
  * DIGIT COUNT grows geometrically, and by round ~8 of a k = 5 loop the
  * planner spends minutes inside `BigInteger.multiply` (Toom-Cook on
  * million-digit operands) just to decide broadcastability. Re-wrapping the
  * same RDD with `originStats = None` resets the leaf to the configured
  * default size — zero data movement, zero semantic change; the loop's
  * joins simply stop pretending to know a size that was fiction anyway.
  * `originConstraints` carries no such blow-up and can still buy the
  * optimizer pruning on the checkpointed frame, so it is PRESERVED —
  * only the stats annotation is cleared.
  *
  * Frames whose plan is not a bare [[LogicalRDD]] pass through unchanged. */
object GraftStatsCut {
  def apply(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case l: LogicalRDD =>
      val session = df.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(session,
        LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          // originConstraints itself is a private ctor val; the public
          // `constraints` IS its materialization on this exact output
          // attribute set, so re-wrapping with it is lossless.
          l.isStreaming, l.stream)(session, None, Some(l.constraints)))
    case _ => df
  }
}
