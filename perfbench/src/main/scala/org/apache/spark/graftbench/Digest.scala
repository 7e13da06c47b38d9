package org.apache.spark.graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query output: row count, schema and a hash
  * over every column of every row. Computing it is the timed action: unlike
  * `count()`, hashing every column keeps Catalyst from pruning projections
  * whose values a user of the output pays for. */
final case class Digest(rows: Long, schema: String, hash: String)

object Digest {
  /** Maps have no canonical entry order, so they become entry arrays sorted
    * by key and value; nested maps are rewritten recursively. */
  private def canon(c: Column, t: DataType): Column = t match {
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case ArrayType(et, _) if hasMap(et) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.exists(f => hasMap(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(et, _) => hasMap(et)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Computes the digest with one aggregation job over `df`. Columns are
    * hashed in name order, so the digest does not depend on column order
    * (the same convention as the DuckDB parity check). */
  def of(df: DataFrame): Digest = {
    // Positional renaming keeps duplicate or dotted column names hashable.
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toIndexedSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .collect()(0)
    val n = row.getLong(0)
    val s = if (row.isNullAt(1)) "0" else row.getDecimal(1).toPlainString
    val x = if (row.isNullAt(2)) 0L else row.getLong(2)
    Digest(n, df.schema.catalogString, f"$s:$x%016x")
  }

  /** The `count()` action `graft.Bench` times, for comparison runs. */
  def countOnly(df: DataFrame): Digest = Digest(df.count(), df.schema.catalogString, "")
}
