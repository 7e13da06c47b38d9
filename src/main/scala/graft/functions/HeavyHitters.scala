package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Misra-Gries heavy-hitters sketch as a `TypedImperativeAggregate`
  * (SURVEY §2.12 sketch surface, beside the built-in HLL of
  * `q_agg_approx`).
  *
  * Why it matters at 100 TB: exact frequent-terms (`q_text_tokens`) hash-
  * aggregates EVERY distinct term through the shuffle — shuffle bytes grow
  * with vocabulary, which for web-scale n-grams is effectively unbounded.
  * This sketch carries a FIXED k counters per group through ordinary
  * partial aggregation (map-side combine merges sketches, not rows), so
  * shuffle bytes are k·|groups| no matter how many distinct terms exist.
  *
  * Guarantees (classical MG, order-independent, so they hold under any
  * partitioning): est ≤ true, and true − est ≤ D where D is the total
  * decrement weight the sketch has absorbed — tracked EXACTLY in the
  * buffer (`dropped`), so the output carries its own certified error
  * bound instead of a loose n/(k+1) upper estimate. Every term with
  * true > D is guaranteed present. Merge = counter sum, then subtract the
  * (k+1)-th largest count and keep positives (Agarwal et al., "Mergeable
  * Summaries" — associative, no accuracy cliff).
  *
  * The result ranks by (est desc, term asc); estimates depend on stream
  * order (any MG/SpaceSaving does), the bounds do not — FunctionsSpec pins
  * the bounds against exact counts.
  */
case class MgTopTerms(
    term: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k > 0, s"k must be positive, got $k")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def children: Seq[Expression] = Seq(term)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(new StructType()
    .add("term", StringType, nullable = false)
    .add("est", LongType, nullable = false)
    .add("max_err", LongType, nullable = false), containsNull = false)

  override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)

  override def update(buf: MgBuffer, input: InternalRow): MgBuffer = {
    val t = term.eval(input)
    if (t != null) buf.offer(t.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: MgBuffer, other: MgBuffer): MgBuffer = {
    buf.absorb(other)
    buf
  }

  override def eval(buf: MgBuffer): Any = {
    val rows = buf.sortedDesc.map { case (t, c) =>
      InternalRow(UTF8String.fromString(t), c, buf.dropped): Any
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: MgBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.dropped)
    out.writeInt(buf.counters.size)
    buf.counters.foreach { case (t, c) => out.writeUTF(t); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new MgBuffer(k)
    buf.dropped = in.readLong()
    val n = in.readInt()
    var j = 0
    while (j < n) { buf.counters.put(in.readUTF(), in.readLong()); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MgTopTerms =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MgTopTerms =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MgTopTerms =
    copy(term = newChildren(0))

  override def prettyName: String = "mg_top_terms"
}

/** k-counter Misra-Gries state. `dropped` is the exact total decrement
  * weight — the certified per-term overcount bound true − est ≤ dropped. */
final class MgBuffer(k: Int) {
  val counters: mutable.HashMap[String, Long] = mutable.HashMap.empty
  var dropped: Long = 0L

  def offer(t: String): Unit = {
    counters.get(t) match {
      case Some(c) => counters.update(t, c + 1)
      case None if counters.size < k => counters.update(t, 1L)
      case None =>
        // decrement-all: one unit from each of k counters plus the arrival
        // itself — k+1 stream units absorbed per decrement round, but the
        // per-term undercount grows by exactly 1 (`dropped` tracks that).
        dropped += 1L
        val dead = mutable.ArrayBuffer.empty[String]
        counters.mapValuesInPlace { (_, c) => c - 1 }
        counters.foreach { case (it, c) => if (c <= 0) dead += it }
        dead.foreach(counters.remove)
    }
  }

  /** Mergeable-summaries combine: sum matched counters, then subtract the
    * (k+1)-th largest count (0 if ≤ k survive) and keep positives. */
  def absorb(other: MgBuffer): Unit = {
    dropped += other.dropped
    other.counters.foreach { case (t, c) =>
      counters.update(t, counters.getOrElse(t, 0L) + c)
    }
    if (counters.size > k) {
      val cut = counters.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      dropped += cut
      val dead = mutable.ArrayBuffer.empty[String]
      counters.mapValuesInPlace { (_, c) => c - cut }
      counters.foreach { case (it, c) => if (c <= 0) dead += it }
      dead.foreach(counters.remove)
    }
  }

  /** (est desc, term asc) — deterministic rank order for a given state. */
  def sortedDesc: Array[(String, Long)] =
    counters.toArray.sortBy { case (t, c) => (-c, t) }
}

object MgTopTerms {
  /** `mg_top_terms(term)` for a fixed k (an operator constant, same
    * pattern as `topk_pairs`). */
  def mgTopTerms(term: Column, k: Int): Column =
    column(MgTopTerms(expression(term), k))
}
