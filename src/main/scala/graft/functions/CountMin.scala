package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.GraftColumns.{column, expression}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Count-min sketch point queries as a `TypedImperativeAggregate`
  * (SURVEY §2.12 sketch surface) — the OVERESTIMATE-side twin of
  * [[MgTopTerms]]: Misra-Gries guarantees est ≤ true (undercount bounded
  * by the tracked decrement mass), count-min guarantees **est ≥ true**
  * (each counter is the exact sum of its cell's colliders; min over
  * `depth` rows removes all but the unluckiest collisions). Together the
  * two sketches bracket a stream's true frequencies from both sides with
  * fixed memory.
  *
  * Why it matters at 100 TB: like MG, the buffer is FIXED size —
  * depth×width longs per group — carried through ordinary partial
  * aggregation, so shuffle bytes never grow with vocabulary. Unlike MG,
  * the estimate itself is ORDER-INDEPENDENT: update is counter increment
  * and merge is element-wise sum (both commutative/associative), so a
  * given dataset yields bit-identical estimates under ANY partitioning —
  * FunctionsSpec asserts repartition-invariance as a tested fact, beside
  * the classical bounds true ≤ est ≤ true + εN (ε = e/width with
  * probability 1−(1/e)^depth per query; Cormode & Muthukrishnan 2005).
  *
  * The query-term list is a constructor argument (the `k` pattern of
  * `mg_top_terms`/`topk_pairs`): eval emits one (term, est, n) row per
  * query term, n = the exact stream size the sketch absorbed, so every
  * estimate ships beside the N its error bound is relative to.
  */
case class CmsCounts(
    term: Expression, depth: Int, width: Int, queryTerms: Seq[String],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsBuffer]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(depth > 0 && width > 0, s"depth/width must be positive: $depth x $width")
  require(queryTerms.nonEmpty, "queryTerms must be non-empty")

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def children: Seq[Expression] = Seq(term)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(new StructType()
    .add("term", StringType, nullable = false)
    .add("est", LongType, nullable = false)
    .add("n", LongType, nullable = false), containsNull = false)

  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(depth, width)

  override def update(buf: CmsBuffer, input: InternalRow): CmsBuffer = {
    val t = term.eval(input)
    if (t != null) buf.add(t.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: CmsBuffer, other: CmsBuffer): CmsBuffer = {
    buf.absorb(other)
    buf
  }

  override def eval(buf: CmsBuffer): Any = {
    val rows = queryTerms.sorted.map { t =>
      InternalRow(UTF8String.fromString(t), buf.estimate(t), buf.n): Any
    }
    new GenericArrayData(rows.toArray)
  }

  override def serialize(buf: CmsBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n)
    var i = 0
    while (i < depth * width) { out.writeLong(buf.cells(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new CmsBuffer(depth, width)
    buf.n = in.readLong()
    var i = 0
    while (i < depth * width) { buf.cells(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsCounts =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsCounts =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CmsCounts =
    copy(term = newChildren(0))

  override def prettyName: String = "cms_counts"
}

/** depth×width counter grid + exact stream size. Row r's hash is seeded
  * murmur3 (`MurmurHash3.stringHash(t, r)`) — deterministic across JVMs,
  * independent per row by seed. */
final class CmsBuffer(depth: Int, width: Int) {
  val cells: Array[Long] = new Array[Long](depth * width)
  var n: Long = 0L

  private def slot(t: String, row: Int): Int =
    row * width + java.lang.Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(t, row), width)

  def add(t: String): Unit = {
    n += 1L
    var r = 0
    while (r < depth) { cells(slot(t, r)) += 1L; r += 1 }
  }

  def absorb(other: CmsBuffer): Unit = {
    n += other.n
    var i = 0
    while (i < depth * width) { cells(i) += other.cells(i); i += 1 }
  }

  /** min over rows — ≥ true count always; ≤ true + εN w.h.p. */
  def estimate(t: String): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = cells(slot(t, r))
      if (c < best) best = c
      r += 1
    }
    best
  }
}

object CmsCounts {
  /** `cms_counts(term)` with the sketch shape and query-term list as
    * operator constants (same pattern as `mg_top_terms`). */
  def cmsCounts(term: Column, depth: Int, width: Int, queryTerms: Seq[String]): Column =
    column(CmsCounts(expression(term), depth, width, queryTerms))
}
