package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity as a native Catalyst expression — the
  * fuzzy-name matcher Spark's function library lacks (it ships levenshtein
  * only), built the same way as [[HaversineDist]]: a codegen'd
  * `BinaryExpression` whose generated code calls the one static scorer the
  * interpreted path uses, so the expression stays inside whole-stage
  * codegen instead of forcing a CodegenFallback boundary into every dedup
  * plan that scores candidate pairs.
  *
  * Semantics are pinned to the classic Winkler variant (Winkler, JASA 1990)
  * so the independently-implemented DuckDB `jaro_winkler_similarity` can
  * serve as the oracle: match window `max(0, max(|a|,|b|)/2 − 1)`,
  * transpositions = half the out-of-order matches, boost applied only when
  * jaro > 0.7, common-prefix cap 4, scaling 0.1, and 0.0 when either input
  * is empty (probed behaviors: ''↔'' → 0, 'a'↔'a' → 1, boost really is
  * gated at 0.7). Consumers round the score to 6 decimals BEFORE any
  * threshold compare — the two engines agree on the rational match counts
  * exactly, so only final-arithmetic ulps differ and round(6) erases them.
  *
  * Scale note: the scorer is O(|a|·|b|) worst-case per pair (window-bounded
  * in practice) — it is a VERIFIER for blocked candidate pairs (prefix
  * blocks, LSH buckets), never an all-pairs metric; q_dedup_jaro shuffles
  * on the block key only, same discipline as q_dedup_edit.
  */
case class JaroWinklerSim(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerSim.sim(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinklerSim.sim($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaro_winkler"
}

object JaroWinklerSim {

  /** Static scorer shared by the interpreted and generated paths.
    * Codepoint-exact for ASCII (the fixture corpus is ASCII throughout);
    * non-ASCII inputs score on UTF-16 code units, which matches any
    * char-based oracle on the BMP. */
  def sim(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val l1 = a.length
    val l2 = b.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(i + window + 1, l2)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && a.charAt(i) == b.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // Transpositions: walk matched chars of both strings in order; each
    // positional mismatch is half a transposition.
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val md = m.toDouble
    val jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro > 0.7) {
      var p = 0
      val cap = math.min(4, math.min(l1, l2))
      while (p < cap && a.charAt(p) == b.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }

  def jaroWinkler(a: Column, b: Column): Column =
    column(JaroWinklerSim(expression(a), expression(b)))
}
