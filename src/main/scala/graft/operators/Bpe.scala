package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (`m_text_bpe`) — the tokenizer-
  * training step of an LLM data pipeline (Sennrich et al. ACL 2016;
  * Gage 1994), expressed in the layout real trainers use at scale:
  *
  *  1. ONE corpus-sized job reduces the text to a (word, freq) table —
  *     after that, every merge round runs over the DISTINCT-WORD
  *     vocabulary, which Heaps' law keeps orders of magnitude smaller
  *     than the corpus (this is also how HuggingFace `tokenizers`
  *     structures BPE training: counts first, merges over counts).
  *  2. Each round: explode each vocab word's adjacent symbol pairs
  *     weighted by word freq (vocab-sized Generate + hash-agg), take the
  *     most frequent pair (count desc, then lexicographic (a, b) — the
  *     DECLARED deterministic tie-break), and rewrite the vocab by
  *     merging that pair everywhere. The driver sees exactly ONE row per
  *     round.
  *  3. The rewrite is a boundary-guarded left-to-right regexp_replace on
  *     the space-joined symbol string — Java's `replaceAll` consumes
  *     matches left to right without overlap, which IS reference BPE's
  *     greedy merge order ("a a a" + merge (a,a) → "aa a").
  *
  * Symbols are the word's characters plus the standard end-of-word
  * marker `</w>`, so merges cannot cross word boundaries and a
  * whole-word merge is representable. Successive merge counts are
  * non-increasing (a merge only creates pairs whose count is bounded by
  * its own), which the spec pins as an invariant alongside exact
  * equality with a driver-side reference trainer.
  */
object Bpe {
  /** One trained merge: (step starting at 1, left symbol, right symbol,
    * weighted pair count at merge time). */
  final case class Merge(step: Int, left: String, right: String, cnt: Long)

  /** Train up to `numMerges` merges from a (word, freq) table. Stops
    * early when no pair occurs at least `minCount` times. */
  def train(spark: SparkSession, words: DataFrame, numMerges: Int,
            minCount: Long = 2L): Seq[Merge] = {
    import spark.implicits._
    // vocab-sized from here on; checkpoint so merge rounds never rescan
    // the corpus behind the word-count aggregate
    var vocab = words
      .select(concat(concat_ws(" ", split($"word", "")), lit(" </w>"))
        .as("sym"), $"freq".cast("long").as("freq"))
      .localCheckpoint(eager = true)
    val merges = Seq.newBuilder[Merge]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val top = vocab
        .withColumn("syms", split($"sym", " "))
        // fully-merged words (one symbol) carry no pairs — and would turn
        // sequence(0, size-2) into a DESCENDING sequence(0, -1)
        .filter(size($"syms") >= 2)
        .select($"freq", explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"a", $"b")
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      top.headOption.filter(_._3 >= minCount) match {
        case None => done = true
        case Some((a, b, cnt)) =>
          step += 1
          merges += Merge(step, a, b, cnt)
          val pat = "(?<=^|\\s)" + java.util.regex.Pattern.quote(a) + " " +
            java.util.regex.Pattern.quote(b) + "(?=\\s|$)"
          val rep = java.util.regex.Matcher.quoteReplacement(a + b)
          vocab = vocab
            .withColumn("sym", regexp_replace($"sym", pat, rep))
            .localCheckpoint(eager = false)
      }
    }
    LastIterations.record(step)
    merges.result()
  }

  /** Apply a trained merge sequence to a frame with a `word` column:
    * adds `n_tok`, the word's BPE token count under `merges` — the
    * ENCODE step between training and token-budget packing. Each merge
    * is the same boundary-guarded left-to-right rewrite the trainer
    * uses, applied in TRAINING ORDER (the reference-BPE encoder
    * semantics: merge priority = training step), so for any word the
    * trainer saw, encode reproduces the trainer's final symbol state
    * exactly. All 8-ish rewrites chain inside ONE projection — per-row
    * codegen'd regexes, no shuffle, no driver loop; callers run it over
    * the DISTINCT-word table (Heaps'-law-sized) and join counts back. */
  def encode(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val sym0 = concat(concat_ws(" ", split(col("word"), "")), lit(" </w>"))
    val sym = merges.foldLeft(sym0) { (c, m) =>
      val pat = "(?<=^|\\s)" + java.util.regex.Pattern.quote(m.left) + " " +
        java.util.regex.Pattern.quote(m.right) + "(?=\\s|$)"
      regexp_replace(c, pat, java.util.regex.Matcher.quoteReplacement(m.left + m.right))
    }
    words.withColumn("n_tok", size(split(sym, " ")).cast("long"))
  }
}
