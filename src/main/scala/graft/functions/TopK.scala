package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.sql.types._

/** Bounded-heap grouped top-k as a `TypedImperativeAggregate` — the
  * §2.12 imperative-buffer aggregation surface.
  *
  * Why it matters at 100 TB: the window formulation of per-group top-k
  * (`row_number() OVER (PARTITION BY g ORDER BY s DESC) <= k`) must sort
  * every group's full row set inside each shuffle partition. This
  * aggregate carries O(k) state per group through ordinary partial
  * aggregation: map-side combine reduces each partition to ≤k pairs per
  * group before the shuffle, so shuffle bytes are k·|groups|, independent
  * of input volume — the same contract as `TakeOrderedAndProject` but per
  * group.
  *
  * Ordering: score descending, ties broken by ascending id, so the result
  * is total and engine-independent (the DuckDB oracle uses the identical
  * `ORDER BY score DESC, id` window). Output: `ARRAY<STRUCT<score, id>>`
  * in rank order. */
case class TopKPairs(
    score: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k > 0, s"k must be positive, got $k")

  // Analyzer-time coercion: a decimal score or int id from SQL text is cast
  // here (or rejected) instead of surfacing as a ClassCastException inside
  // update() at execution time.
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(new StructType()
    .add("score", DoubleType, nullable = false)
    .add("id", LongType, nullable = false), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.offer(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.foreach(buf.offer)
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = buf.sortedDesc.map { case (s, i) =>
      InternalRow(s, i): Any
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val items = buf.sortedDesc
    out.writeInt(items.length)
    items.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKBuffer(k)
    var j = 0
    while (j < n) { buf.offer(in.readDouble(), in.readLong()); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKPairs =
    copy(score = newChildren(0), id = newChildren(1))

  override def prettyName: String = "topk_pairs"
}

/** Size-capped min-heap on (score asc, id desc) — the root is the element
  * to evict, so the k kept are the (score desc, id asc) winners. */
final class TopKBuffer(k: Int) {
  // (score asc, id desc): the *worst* retained pair sits at the root.
  private val heap = new java.util.PriorityQueue[(Double, Long)](k,
    (a: (Double, Long), b: (Double, Long)) => {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    })

  def offer(score: Double, id: Long): Unit = {
    if (heap.size < k) heap.add((score, id))
    else {
      val worst = heap.peek()
      val better = score > worst._1 || (score == worst._1 && id < worst._2)
      if (better) { heap.poll(); heap.add((score, id)) }
    }
  }

  def foreach(f: (Double, Long) => Unit): Unit =
    heap.iterator().forEachRemaining(p => f(p._1, p._2))

  /** Rank order: score desc, ties by id asc. */
  def sortedDesc: Array[(Double, Long)] = {
    val arr = heap.toArray(new Array[(Double, Long)](heap.size))
    scala.util.Sorting.stableSort(arr,
      (a: (Double, Long), b: (Double, Long)) =>
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
    arr
  }
}

object TopKPairs {
  /** `topk_pairs(score, id)` for a fixed k (an operator constant, passed
    * like the ProjectionLSH parameters). */
  def topKPairs(score: Column, id: Column, k: Int): Column =
    column(TopKPairs(expression(score), expression(id), k))
}
