package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Frequent sequential-pattern mining with the hybrid-endgame discipline
  * ([[FreqItemsets]]'s sibling): below a declared input budget the
  * patterns are mined by a driver-local prefix-projection DFS — the
  * PrefixSpan algorithm itself (Pei et al., ICDE 2001), run over earliest-
  * match projections on the driver; above it MLlib's distributed
  * PrefixSpan runs unchanged. The local kernel handles the SINGLETON-
  * itemset case only (every input itemset has one item, so patterns are
  * plain ordered subsequences); a multi-item input is proven by a
  * distributed aggregate and routed to MLlib regardless of size.
  *
  * Both paths emit exactly the same (pattern, freq) set — pattern support
  * (number of sequences containing the pattern as a subsequence) is a set
  * property of the corpus — and MiningSpec pins the equality on both
  * paths against an independent driver subsequence scan.
  */
object SeqPatterns {

  /** Frequent patterns of length ≤ `maxLen` at count ≥ ceil(minSupport·n)
    * over a sequence frame (column `sequence`: array&lt;array&lt;string&gt;&gt;, one
    * row per sequence).
    *
    * [[Endgame]] gate: total item occurrences ≤ Budget AND every itemset
    * a singleton — both proven by one distributed aggregate before any
    * collect, which also counts the sequences. minCount derives from
    * minSupport with MLlib's own rule (`math.ceil(minSupport * n).toLong`,
    * same double math).
    *
    * @return (sequence: array&lt;array&lt;string&gt;&gt;, freq: long) */
  def run(spark: SparkSession, seqs: DataFrame, minSupport: Double,
          maxLen: Int): DataFrame = {
    import spark.implicits._
    val (occ, maxItemset, n) = seqs
      .select(expr("aggregate(sequence, 0L, (a, x) -> a + size(x))").as("occ"),
              coalesce(expr("array_max(transform(sequence, x -> size(x)))"),
                lit(0)).as("mx"))
      .agg(coalesce(sum($"occ"), lit(0L)), coalesce(max($"mx"), lit(0)),
           count(lit(1)))
      .as[(Long, Int, Long)].head()
    if (Endgame.local(occ) && maxItemset <= 1) {
      val minCount = math.ceil(minSupport * n).toLong
      val collected = seqs
        .select(expr("transform(sequence, x -> x[0])").cast("array<string>"))
        .as[Seq[String]].collect()
      val out = prefixSpan(collected.map(_.toArray), minCount, maxLen)
      return spark.createDataset(out.toSeq.map { case (p, f) =>
        (p.map(Seq(_)), f)
      }).toDF("sequence", "freq")
    }
    import org.apache.spark.ml.fpm.PrefixSpan
    new PrefixSpan().setSequenceCol("sequence")
      .setMinSupport(minSupport).setMaxPatternLength(maxLen)
      .findFrequentSequentialPatterns(seqs)
  }

  /** Driver-local PrefixSpan over singleton-itemset sequences: symbols are
    * dense-coded, each DFS node carries the earliest-match projection
    * (sequence id, next scan position); support of prefix+c = number of
    * projected suffixes containing c — earliest-match projection is
    * support-exact for subsequence containment. */
  private[graft] def prefixSpan(seqs: Array[Array[String]], minCount: Long,
                                maxLen: Int): Array[(Seq[String], Long)] = {
    import scala.collection.mutable
    val dense = mutable.HashMap.empty[String, Int]
    val rev = mutable.ArrayBuffer.empty[String]
    val ss = seqs.map(_.map(sym =>
      dense.getOrElseUpdate(sym, { rev += sym; rev.size - 1 })))
    val out = mutable.ArrayBuffer.empty[(Seq[String], Long)]
    // projections: packed (seqIdx, pos) pairs; next-symbol first positions
    def project(proj: Array[Long]): mutable.HashMap[Int, mutable.ArrayBuffer[Long]] = {
      val next = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
      proj.foreach { pk =>
        val si = (pk >> 32).toInt
        var p = pk.toInt
        val s = ss(si)
        val seen = mutable.BitSet.empty
        while (p < s.length) {
          val c = s(p)
          if (seen.add(c))
            next.getOrElseUpdate(c, mutable.ArrayBuffer.empty) +=
              ((si.toLong << 32) | (p + 1).toLong)
          p += 1
        }
      }
      next
    }
    def dfs(pat: List[Int], proj: Array[Long]): Unit = {
      out += ((pat.reverse.map(rev), proj.length.toLong))
      if (pat.length < maxLen) {
        project(proj).foreach { case (c, pr) =>
          if (pr.size >= minCount) dfs(c :: pat, pr.toArray)
        }
      }
    }
    val roots = project(ss.indices.map(si => si.toLong << 32).toArray)
    roots.foreach { case (c, pr) =>
      if (pr.size >= minCount) dfs(c :: Nil, pr.toArray)
    }
    out.toArray
  }
}
