package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Frequent-itemset mining with the hybrid-endgame discipline the
  * iterative graph family uses ([[ConnectedComponents]] / [[PageRank]]):
  * below a declared input budget the itemsets are mined by a driver-local
  * Eclat DFS (Zaki, IEEE TKDE 2000 — vertical tid-list intersection, the
  * candidate-free depth-first twin of FP-growth); above it MLlib's
  * parallel FP-Growth (Li et al., RecSys 2008) runs unchanged. Both paths
  * emit EXACTLY the same itemset multiset — an itemset of size ≥ 2 is
  * frequent iff ≥ minCount baskets contain it, a set property no
  * algorithm choice can move — and MiningSpec pins the equality on both
  * paths against a driver brute force.
  *
  * Why the hybrid exists (optimization guide §1.2 step 1): at bench scale
  * the PFP fit is ~40 small shuffle/collect jobs of pure fixed overhead
  * plus a driver-side materialization of the genFreqItemsets output —
  * measured 4-5 s on a basket frame whose local mine takes < 0.3 s. At
  * 100 TB the occurrence count exceeds any driver budget and the
  * distributed PFP is the only path, exactly as before.
  */
object FreqItemsets {

  /** Frequent itemsets of size ≥ 2 at count ≥ ceil(minSupport·n) over a
    * basket frame (column `items`: array of distinct item ids, one row
    * per basket).
    *
    * The [[Endgame]] gate is one distributed aggregate taken before
    * anything is collected: total item occurrences ≤ Budget AND total
    * per-basket pair work Σ C(|b|,2) ≤ 8·Budget (a few huge baskets can
    * hide quadratic work behind a small occurrence count). The same
    * aggregate counts the baskets.
    *
    * minCount derives from minSupport with MLlib's own rule
    * (`math.ceil(minSupport * n).toLong`, same double math) so the two
    * paths can never disagree on the bar.
    *
    * @return (items: array&lt;long&gt;, freq: long); the local path emits only
    *         sizes ≥ 2 — callers that also want singletons (MLlib emits
    *         them) must use the distributed path; the declared query
    *         filters to sizes ≥ 2 on both paths. */
  def run(spark: SparkSession, baskets: DataFrame,
          minSupport: Double): DataFrame = {
    import spark.implicits._
    val (occ, pairs, n) = baskets
      .select(size($"items").cast("long").as("sz"))
      .agg(coalesce(sum($"sz"), lit(0L)).as("occ"),
           coalesce(sum(expr("sz * (sz - 1L) div 2L")), lit(0L)).as("pairs"),
           count(lit(1)).as("n"))
      .as[(Long, Long, Long)].head()
    if (Endgame.local(occ) && pairs <= 8L * Endgame.Budget) {
      val minCount = math.ceil(minSupport * n).toLong
      val collected = baskets.select($"items".cast("array<long>"))
        .as[Array[Long]].collect()
      val out = eclat(collected, minCount)
      return spark.createDataset(out.map { case (is, f) => (is.toSeq, f) })
        .toDF("items", "freq")
    }
    import org.apache.spark.ml.fpm.FPGrowth
    new FPGrowth().setItemsCol("items")
      .setMinSupport(minSupport).setMinConfidence(0.5)
      .fit(baskets)
      .freqItemsets
  }

  /** Driver-local Eclat: pair counting over the (distinct-item) baskets,
    * then depth-first tid-list extension of every frequent pair. Items
    * are dense-coded so a pair packs into one Long; extensions follow the
    * dense-id total order (any fixed order enumerates each SET exactly
    * once). Exact by construction — counts are integers, and the output
    * of a frequent-itemset mine is a set property of the baskets. */
  private[graft] def eclat(baskets: Array[Array[Long]],
                           minCount: Long): Array[(Array[Long], Long)] = {
    import scala.collection.mutable
    // dense item coding (packs pairs; bounds hash costs)
    val dense = mutable.HashMap.empty[Long, Int]
    val rev = mutable.ArrayBuffer.empty[Long]
    val bs = baskets.map { b =>
      val a = b.map { it =>
        dense.getOrElseUpdate(it, { rev += it; rev.size - 1 })
      }
      java.util.Arrays.sort(a); a
    }
    def pack(i: Int, j: Int): Long = (i.toLong << 32) | (j.toLong & 0xffffffffL)
    // pass 1: pair supports by SORT, not hash — packed (hi, lo) pair keys
    // hash to hi ^ lo, which collapses dense ids onto a few thousand
    // buckets and degenerates any hash map to linked scans (measured 7 s
    // vs 0.3 s on the 1.2 M-pair fixture); a primitive sort + run scan
    // has no such failure mode
    var nPairs = 0L
    bs.foreach { b => nPairs += b.length.toLong * (b.length - 1) / 2 }
    // run() gates pair work at 8·Budget, far below Int.MaxValue
    val allPairs = new Array[Long](Math.toIntExact(nPairs))
    var w = 0
    bs.foreach { b =>
      var i = 0
      while (i < b.length) {
        var j = i + 1
        while (j < b.length) {
          allPairs(w) = pack(b(i), b(j)); w += 1
          j += 1
        }
        i += 1
      }
    }
    java.util.Arrays.sort(allPairs)
    // frequent pairs = runs of length >= minCount (sorted ascending)
    val fpKeys = mutable.ArrayBuffer.empty[Long]
    val fpCnts = mutable.ArrayBuffer.empty[Long]
    var r = 0
    while (r < allPairs.length) {
      var e = r + 1
      while (e < allPairs.length && allPairs(e) == allPairs(r)) e += 1
      if (e - r >= minCount) { fpKeys += allPairs(r); fpCnts += (e - r).toLong }
      r = e
    }
    val out = mutable.ArrayBuffer.empty[(Array[Long], Long)]
    if (fpKeys.isEmpty) return out.toArray
    val fpArr = fpKeys.toArray
    // pass 2: tid lists for the frequent pairs only (binary search into
    // the sorted frequent-pair array — no pair-key hashing anywhere)
    val pairTids = Array.fill(fpArr.length)(mutable.ArrayBuffer.empty[Int])
    var tid = 0
    while (tid < bs.length) {
      val b = bs(tid)
      var i = 0
      while (i < b.length) {
        var j = i + 1
        while (j < b.length) {
          val idx = java.util.Arrays.binarySearch(fpArr, pack(b(i), b(j)))
          if (idx >= 0) pairTids(idx) += tid
          j += 1
        }
        i += 1
      }
      tid += 1
    }
    // DFS extension: support of prefix+c = |tids of prefix whose basket
    // holds c|; recurse on the (tiny) surviving tid lists
    def extend(prefix: Array[Int], maxId: Int, tids: Array[Int]): Unit = {
      val cand = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
      tids.foreach { t =>
        bs(t).foreach { c =>
          if (c > maxId) cand.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += t
        }
      }
      cand.foreach { case (c, ct) =>
        if (ct.size >= minCount) {
          val ext = prefix :+ c
          out += ((ext.map(rev), ct.size.toLong))
          extend(ext, c, ct.toArray)
        }
      }
    }
    var pi = 0
    while (pi < fpArr.length) {
      val k = fpArr(pi)
      val i = (k >> 32).toInt; val j = k.toInt
      out += ((Array(rev(i), rev(j)), fpCnts(pi)))
      extend(Array(i, j), j, pairTids(pi).toArray)
      pi += 1
    }
    out.toArray
  }
}
