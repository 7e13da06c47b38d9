package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, LastIterations}

/** m_text_bpe has no SQL oracle (iterative merge training), so this spec
  * IS its correctness contract: an independent driver-side reference
  * trainer (list-walk merges, no regex) must produce the identical merge
  * sequence on the fixture corpus, plus the algebraic invariants —
  * greedy left-to-right overlap handling, deterministic tie-breaks, and
  * non-increasing merge counts.
  */
class BpeSpec extends BaseSpec {
  import spark.implicits._

  /** Reference BPE: symbols as lists, pair counts in a map, merges by an
    * explicit left-to-right walk — deliberately shares no code (or regex)
    * with operators/Bpe. Symbols are CODE POINTS (surrogate pairs stay
    * whole, as Spark's empty-regex split keeps them) and ties compare in
    * code-point order (≡ Spark's UTF8-binary string ordering) — NOT Java
    * String UTF-16 order, which diverges on supplementary-plane chars. */
  private def codePointSyms(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  private val cpOrdering: Ordering[String] = (x: String, y: String) => {
    val a = x.codePoints().toArray; val b = y.codePoints().toArray
    val n = math.min(a.length, b.length)
    var i = 0; var r = 0
    while (i < n && r == 0) { r = Integer.compare(a(i), b(i)); i += 1 }
    if (r != 0) r else Integer.compare(a.length, b.length)
  }

  private def referenceTrain(words: Seq[(String, Long)], numMerges: Int,
                             minCount: Long = 2L): Seq[(Int, String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      words.map { case (w, f) => (codePointSyms(w) :+ "</w>", f) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _         =>
        }
      }
      val best = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, cpOrdering, cpOrdering))
        .headOption
      best.filter(_._2 >= minCount) match {
        case None => done = true
        case Some(((a, b), c)) =>
          step += 1
          out += ((step, a, b, c))
          vocab = vocab.map { case (syms, f) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                nb += (a + b); i += 2
              } else { nb += syms(i); i += 1 }
            }
            (nb.result(), f)
          }
      }
    }
    out.result()
  }

  private def run(df: org.apache.spark.sql.DataFrame): List[(Int, String, String, Long)] =
    df.as[(Int, String, String, Long)].collect().toList.sortBy(_._1)

  test("m_text_bpe equals the driver reference trainer on the fixture corpus") {
    val got = run(SparkEntry.queries("m_text_bpe")(spark, sf))
    val words = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect().toSeq
    val want = referenceTrain(words, numMerges = 8)
    assert(got == want.toList, s"merge sequences differ:\n got $got\nwant $want")
    assert(got.size == 8, "fixture corpus supports all 8 merges")
    // merge counts are non-increasing: a merge only creates pairs whose
    // count is bounded by its own, so the running max cannot rise
    got.map(_._4).sliding(2).foreach {
      case List(c1, c2) => assert(c1 >= c2, s"counts rose: $c1 -> $c2")
      case _            =>
    }
    // (no rounds assertion here: the key's training is
    // session-memoized, so another suite sharing the session may have
    // already trained — got.size == 8 above pins the round count)
  }

  test("greedy overlap and lexicographic ties: the 'aaa' trace") {
    val words = Seq(("aaa", 5L)).toDF("word", "freq")
    val got = Bpe.train(spark, words, numMerges = 8)
      .map(m => (m.step, m.left, m.right, m.cnt))
    // round 1: (a,a) appears twice per word (greedy pairs of "a a a </w>")
    //          → cnt 10, merged left-to-right: "aa a </w>" (NOT "a aa")
    // round 2: (a,</w>) and (aa,a) tie at 5 → lexicographic: "a" < "aa"
    // round 3: the only pair left
    assert(got == Seq((1, "a", "a", 10L), (2, "a", "</w>", 5L),
                      (3, "aa", "a</w>", 5L)))
    assert(LastIterations.take().contains(3), "training stops when no pair remains")
  }

  test("supplementary-plane corpus: surrogate pairs stay whole, ties break by code point") {
    // U+FF01 (！) sorts BELOW U+1F600 (😀) by code point but ABOVE it in
    // Java UTF-16 unit order — the exact divergence the reference trainer
    // must mirror (Spark's orderBy is UTF8-binary ≡ code-point order).
    val corpus = Seq(("😀", 2L), ("！", 2L))
    val got = Bpe.train(spark, corpus.toDF("word", "freq"), numMerges = 2)
      .map(m => (m.step, m.left, m.right, m.cnt))
    val want = referenceTrain(corpus, numMerges = 2).toList
    assert(got == want, s"merge sequences diverge on emoji corpus:\n got $got\nwant $want")
    assert(got.head == ((1, "！", "</w>", 2L)),
      s"code-point tie-break must pick U+FF01 first, got ${got.head}")
  }

  test("minCount floors training: singleton pairs are never merged") {
    val words = Seq(("ab", 1L), ("cd", 1L)).toDF("word", "freq")
    assert(Bpe.train(spark, words, numMerges = 4).isEmpty)
    assert(LastIterations.take().contains(0))
  }

  /** Reference encoder: apply the merge sequence in training order by an
    * explicit list walk — shares no code (or regex) with Bpe.encode. */
  private def referenceEncode(word: String, merges: Seq[(String, String)]): Int = {
    var syms = codePointSyms(word) :+ "</w>"
    merges.foreach { case (a, b) =>
      val nb = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          nb += (a + b); i += 2
        } else { nb += syms(i); i += 1 }
      }
      syms = nb.result()
    }
    syms.length
  }

  private def rnd6(x: Double): Double =
    new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  test("Bpe.encode equals the driver reference encoder on every fixture word") {
    val words = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
    val merges = Bpe.train(spark, words, numMerges = 8)
    val mseq = merges.map(m => (m.left, m.right))
    val got = Bpe.encode(words.select($"word"), merges)
      .as[(String, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (w, n) =>
      assert(n == referenceEncode(w, mseq).toLong,
        s"word '$w': operator $n vs reference ${referenceEncode(w, mseq)}")
    }
    // greedy-merge-order pin: "aaa" under its own trained merge sequence
    // collapses all the way to ONE token (a a a </w> → aa a </w> →
    // aa a</w> → aaa</w>)
    val aaaMerges = Bpe.train(spark, Seq(("aaa", 5L)).toDF("word", "freq"), numMerges = 8)
    val one = Bpe.encode(Seq("aaa").toDF("word"), aaaMerges)
      .as[(String, Long)].collect().head
    assert(one._2 == 1L, s"'aaa' must encode to 1 token, got $one")
  }

  test("q_text_bpe_encode: ws counts match a direct aggregate, fertility exact") {
    val got = SparkEntry.queries("q_text_bpe_encode")(spark, sf)
      .as[(String, Long, Long, Double)].collect().toList
    assert(got.nonEmpty)
    val ws = Tables(spark, sf, "documents")
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(got.map(_._1).toSet == ws.keySet)
    got.foreach { case (src, wsTok, bpeTok, fert) =>
      assert(wsTok == ws(src), s"$src: ws $wsTok vs ${ws(src)}")
      assert(bpeTok >= wsTok, "a word is never fewer than 1 BPE token")
      assert(fert == rnd6(bpeTok.toDouble / wsTok))
    }
  }

  test("q_pack_bpe equals a driver greedy-packing recomputation on reference counts") {
    val got = SparkEntry.queries("q_pack_bpe")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toList.sortBy(r => (r._1, r._2))
    val wordFreq = Tables(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect().toSeq
    val merges = referenceTrain(wordFreq, numMerges = 8).map(m => (m._2, m._3))
    val docs = Tables(spark, sf, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    val perDoc = docs.toList.map { case (id, lang, text) =>
      val n = text.split(" ").filter(_.nonEmpty)
        .map(w => referenceEncode(w, merges).toLong).sum
      (id, lang, n)
    }.filter(_._3 > 0)
    val want = perDoc.groupBy(_._2).toList.flatMap { case (lang, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (_, _, n) =>
        val packId = cum / 2048L; cum += n; (lang, packId, n)
      }
    }.groupBy(t => (t._1, t._2)).map { case ((lang, pid), xs) =>
      (lang, pid, xs.size.toLong, xs.map(_._3).sum)
    }.toList.sortBy(r => (r._1, r._2))
    assert(got == want, s"packings differ:\n got  $got\n want $want")
  }

  test("training is deterministic across runs") {
    val a = run(SparkEntry.queries("m_text_bpe")(spark, sf))
    val b = run(SparkEntry.queries("m_text_bpe")(spark, sf))
    assert(a == b)
  }
}
