package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ProjectionLSH.{brpBuckets, euclideanDist}

/** Approximate vector-similarity join via bucketed random projections
  * (SURVEY §2.11 `m_sim_lsh`) — the euclidean LSH scale path for the
  * embedding column, property-tested for recall against the exact cosine
  * truth (`q_sim_cosine` / `q_sim_knn_vec`).
  *
  * Spark-native: bucket ids come from the [[graft.functions.BrpBuckets]]
  * codegen expression (p-stable gaussian projections, deterministic seed),
  * candidates from a (table, bucket) equi-join — bucket-local, never N² —
  * and every candidate is verified with the exact
  * [[graft.functions.EuclideanDist]] before emission, so precision is 1.0
  * by construction and only recall depends on the LSH parameters.
  * bucketLength trades recall for bucket size; pair distances on unit-norm
  * 64-dim vectors concentrate near √2, so thresholds live in [1, 1.4] and
  * bucketLength 2.0 keeps buckets small. */
object VectorLSH {

  val DefaultTables = 4
  val DefaultBucketLen = 2.0
  /** The projection family's seed: one matrix for the batch candidate
    * joins, the probe path and the streaming semantic dedup
    * ([[graft.streaming.StreamOps.semDedupStreamSeeded]]). */
  private[graft] val Seed = 42L

  /** Verified-candidate memo: q_sim_cosine, q_dedup_embcos, and the MlSpec
    * recall properties all want the SAME (cut, tables) candidate set over
    * the Tables-memoized embeddings — one bucket join + exact-distance
    * verify per session instead of one per caller. The plan ends in a lazy
    * localCheckpoint, so the first action materializes it and every later
    * caller reads the cached blocks. Keyed on DataFrame identity; entries
    * evict with the owning session ([[graft.SessionMemo]]). */
  private val candMemo =
    new graft.SessionMemo[(DataFrame, Double, Int, Double), DataFrame]

  /** @param numTables OR-amplification width: P(candidate) =
    *        1 − (1 − p₁)^numTables. 4 tables ≈ 0.98 at the d ≈ 1.1 boundary
    *        (the recall-property operating point); callers that need the
    *        candidate set to be a deterministic superset of a truth set —
    *        e.g. the embedding-dedup verify path — pass a wider width.
    * @param bucketLen projection quantum: smaller buckets hold fewer
    *        vectors (fewer bucket-join rows to verify) at lower per-table
    *        collision probability — trade against numTables. */
  /** Verified candidate pairs with both DOUBLE vectors still attached:
    * (va, vb, v1, v2, edist_exact ≤ maxEuclideanDistance), UNORDERED.
    * Callers that re-score the pairs (e.g. the embedding-dedup cosine
    * verify) build on this directly, so they neither re-join the vector
    * table nor pay a sort that their own final ORDER BY would discard. */
  def candidatesWithVecs(spark: SparkSession, embeddings: DataFrame,
                         maxEuclideanDistance: Double,
                         numTables: Int = DefaultTables,
                         bucketLen: Double = DefaultBucketLen): DataFrame =
    candMemo.getOrCompute(spark,
        (embeddings, maxEuclideanDistance, numTables, bucketLen)) {
      buildCandidatesWithVecs(spark, embeddings, maxEuclideanDistance,
        numTables, bucketLen).localCheckpoint(eager = false)
    }

  private def buildCandidatesWithVecs(spark: SparkSession, embeddings: DataFrame,
                                      maxEuclideanDistance: Double,
                                      numTables: Int,
                                      bucketLen: Double): DataFrame = {
    import spark.implicits._

    // Vectors as ARRAY<DOUBLE>, materialized once: the bucket explode and
    // both sides of the verify join reuse them.
    val vecs = embeddings
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .localCheckpoint(eager = false)

    val buckets = vecs.select($"vec_id",
      posexplode(brpBuckets($"v", numTables, bucketLen, Seed)).as(Seq("tbl", "bkt")))

    val cand = buckets.as("a").join(buckets.as("b"), Seq("tbl", "bkt"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()

    cand
      .join(vecs.select($"vec_id".as("va"), $"v".as("v1")), Seq("va"))
      .join(vecs.select($"vec_id".as("vb"), $"v".as("v2")), Seq("vb"))
      // Threshold on the UNROUNDED distance; round only in output columns.
      .withColumn("edist_exact", euclideanDist($"v1", $"v2"))
      .filter($"edist_exact" <= maxEuclideanDistance)
  }

  /** Candidate (probe_id, vec_id) pairs for a fixed probe set: every vector
    * sharing any of the probe's `numTables` buckets. The probe bucket list
    * is |probes| × numTables rows — broadcast onto the full bucket table,
    * so the plan is one bucket-keyed broadcast join however large the
    * vector table grows. The LSH half of a candidate-generation union. */
  def probeCandidateIds(spark: SparkSession, embeddings: DataFrame,
                        probeIds: Seq[Long],
                        numTables: Int = DefaultTables,
                        bucketLen: Double = DefaultBucketLen): DataFrame = {
    import spark.implicits._
    val vecs = embeddings
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val buckets = vecs.select($"vec_id",
      posexplode(brpBuckets($"v", numTables, bucketLen, Seed)).as(Seq("tbl", "bkt")))
    val pb = buckets.filter($"vec_id".isin(probeIds: _*))
      .select($"vec_id".as("probe_id"), $"tbl", $"bkt")
    broadcast(pb).join(buckets, Seq("tbl", "bkt"))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id")
      .distinct()
  }

  def candidatePairs(spark: SparkSession, embeddings: DataFrame,
                     maxEuclideanDistance: Double,
                     numTables: Int = DefaultTables,
                     bucketLen: Double = DefaultBucketLen): DataFrame = {
    import spark.implicits._
    candidatesWithVecs(spark, embeddings, maxEuclideanDistance, numTables, bucketLen)
      .withColumn("edist", round($"edist_exact", 4))
      .select($"va", $"vb", $"edist")
      .orderBy($"va", $"vb")
  }
}
