package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** SemDeDup (Abbas, Tirumala, Simig, Ganguli & Morcos, arXiv 2303.09540,
  * 2023): SEMANTIC deduplication of an embedding corpus — cluster with a
  * k-means coarse quantizer, find near-duplicate pairs ONLY within each
  * cluster, and keep one representative per duplicate group, chosen as the
  * member LEAST similar to its cluster centroid (the paper's rule: when a
  * semantic group collapses to one example, keep the most atypical one —
  * it preserves more diversity than keeping the medoid).
  *
  * Position in the dedup family: exact-hash (`q_dedup_exact`) catches
  * byte-dups, MinHash/SimHash catch lexical near-dups, embedding-LSH
  * (`q_dedup_embcos`) catches pairwise semantic dups with guaranteed
  * recall at a radius; SemDeDup is the CORPUS-level semantic pass — the
  * cluster structure bounds the pair search (never all-pairs) and the
  * keep rule is global per group, which a pairwise radius join cannot
  * express. The published trade-off is DECLARED: a near-dup pair split
  * across two k-means cells is missed (k-means is not a cover — the
  * paper accepts this; the LSH key is the recall-guaranteed alternative).
  *
  * Scale shape: the pair search is a cell equi-join of the assignment
  * frame against itself — bucket-local, cell population constant when
  * nlist ∝ N (the AnnNsw build argument), so the quadratic is per-cell
  * and bounded; components come from the same star-contraction CC every
  * dedup key uses; the keep rule is one groupBy over the (tiny) duplicate
  * set. The k-means fit is the memoized one-off batch job shared with the
  * IVF/NSW keys ([[AnnIVF.assignments]]) — at 100 TB the cell is the
  * physical partition column and the self-join is partition-local. */
object SemDedup {

  /** @param assigned  (vec_id, v, cell) — [[AnnIVF.assignments]]._1
    * @param centroids (cell, cv) — [[AnnIVF.assignments]]._2
    * @param tauCos    duplicate threshold on exact cosine
    * @return one row per vector: (vec_id, cell, comp, ccos, keep) — comp
    *         is the duplicate-group id (min vec_id, singleton = itself),
    *         ccos the centroid cosine, keep the SemDeDup survivorship */
  def run(spark: SparkSession, assigned: DataFrame, centroids: DataFrame,
          tauCos: Double): DataFrame = {
    import spark.implicits._
    val a = assigned.select($"vec_id", $"v", $"cell")

    // [[Endgame]]: when the assignment frame fits the budget and its
    // cell-local pair work Σ C(|cell|, 2) fits 8·Budget (one distributed
    // aggregate proves both before any collect) the whole tail —
    // cell-local pair scan, union-to-min CC, centroid cosines, the keep
    // rule — runs on the driver over the collected assignment frame. The
    // k-means fit producing `assigned` stays the memoized distributed
    // batch job at every scale; every cosine routes through the ONE
    // shared [[graft.functions.CosineSim.compute]] kernel, so local ≡
    // distributed bit-identically (SemDedupSpec pins both paths). At
    // 100 TB the assignment frame exceeds the budget and the distributed
    // path runs unchanged.
    val (rowCount, pairWork) = a.groupBy($"cell").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum($"n"), lit(0L)),
           coalesce(sum(expr("n * (n - 1L) div 2L")), lit(0L)))
      .as[(Long, Long)].head()
    if (Endgame.local(rowCount) && pairWork <= 8L * Endgame.Budget) {
      val rows = a.select($"vec_id", $"v".cast("array<double>"), $"cell")
        .as[(Long, Array[Double], Long)].collect()
      val cents = centroids.select($"cell", $"cv".cast("array<double>"))
        .as[(Long, Array[Double])].collect().toMap
      // union-to-min CC over the τ-pairs of each cell (i < j, the
      // distributed pair filter's canonical order)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      rows.groupBy(_._3).foreach { case (_, members) =>
        val ms = members.sortBy(_._1)
        var i = 0
        while (i < ms.length) {
          var j = i + 1
          while (j < ms.length) {
            if (graft.functions.CosineSim.compute(ms(i)._2, ms(j)._2) >= tauCos) {
              val ra = find(ms(i)._1); val rb = find(ms(j)._1)
              if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
            }
            j += 1
          }
          i += 1
        }
      }
      val scoredRows = rows.map { case (id, v, cell) =>
        (id, cell, find(id), graft.functions.CosineSim.compute(v, cents(cell)))
      }
      // keep rule: per group, min (ccos, vec_id) — the struct-min order
      val keepId = scoredRows.groupBy(_._3).map { case (comp, g) =>
        comp -> g.minBy(r => (r._4, r._1))._1
      }
      // cast id/cell columns back to the INPUT dtypes (the distributed
      // path preserves them; a hand-built Int cell frame must round-trip)
      val idT = a.schema("vec_id").dataType
      val cellT = a.schema("cell").dataType
      return spark.createDataset(scoredRows.toSeq.map { case (id, cell, comp, ccos) =>
        (id, cell, comp, ccos, id == keepId(comp))
      }).toDF("vec_id", "cell", "comp", "ccos", "keep")
        .select($"vec_id".cast(idT), $"cell".cast(cellT),
          $"comp".cast(idT), $"ccos", $"keep")
    }
    // bucket-local candidate pairs + exact cosine gate, map-side before
    // any distinct (the Traclus discipline)
    val pairs = a.select($"cell", $"vec_id".as("src"), $"v".as("v1"))
      .join(a.select($"cell", $"vec_id".as("dst"), $"v".as("v2")), Seq("cell"))
      .filter($"src" < $"dst")
      .filter(VectorOps.cosineSim($"v1", $"v2") >= tauCos)
      .select($"src", $"dst")
    val comps = ConnectedComponents
      .run(spark, a.select($"vec_id".as("id")), pairs)
      .select($"id".as("vec_id"), $"comp")
    // keep rule: per group, the member least similar to its centroid
    // (tie → smallest vec_id); singletons trivially keep themselves
    val scored = a.join(broadcast(centroids), Seq("cell"))
      .withColumn("ccos", VectorOps.cosineSim($"v", $"cv"))
      .join(comps, Seq("vec_id"))
    val keepers = scored.groupBy($"comp")
      .agg(min(struct($"ccos", $"vec_id")).as("k"))
      .select($"comp", $"k.vec_id".as("keep_id"))
    scored.join(keepers, Seq("comp"))
      .select($"vec_id", $"cell", $"comp", $"ccos",
        ($"vec_id" === $"keep_id").as("keep"))
  }
}
