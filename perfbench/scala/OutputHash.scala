package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's timed action and output check in one aggregate.
  *
  * `of(df)` runs a single job-producing aggregate that returns the row count
  * and an order-independent 128-bit hash of every output column. Every column
  * feeds the per-row hash, so Catalyst cannot prune a column or an aggregate
  * the way it prunes a bare `count()`.
  *
  * Canonical form, so that equal results hash equal however they were
  * computed:
  *  - columns are taken in sorted-name order (ties by position), each one
  *    hashed together with its name and a null flag, so a null in column a
  *    never collides with a null in column b;
  *  - `-0.0` hashes as `0.0` and every NaN as the one canonical NaN, at any
  *    nesting depth;
  *  - array elements and struct fields carry their own null flag; maps hash
  *    as their entries sorted by key.
  * Row hashes combine by summing their low and high 32-bit halves as longs,
  * which is exact (no overflow) below 2^31 rows and independent of row order
  * and partitioning, and keeps duplicate rows (unlike XOR).
  */
object OutputHash {

  final case class Result(rows: Long, hash: String)

  /** Canonicalize one value of type `dt` for hashing. */
  def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType =>
      when(isnan(c), lit(Double.NaN)).when(c === lit(0.0), lit(0.0)).otherwise(c)
    case FloatType =>
      when(isnan(c), lit(Float.NaN)).when(c === lit(0.0f), lit(0.0f)).otherwise(c)
    case ArrayType(et, _) =>
      transform(c, x => struct(x.isNull, canon(x, et)))
    case MapType(kt, vt, _) =>
      val entry = StructType(Seq(StructField("key", kt), StructField("value", vt)))
      canon(array_sort(map_entries(c)), ArrayType(entry))
    case StructType(fields) =>
      struct(fields.toSeq.flatMap { f =>
        val v = c.getField(f.name)
        Seq(v.isNull, canon(v, f.dataType))
      }: _*)
    case _: UserDefinedType[_] | _: VariantType | _: CalendarIntervalType =>
      c.cast(StringType)
    case _ => c
  }

  /** The per-row 64-bit hash over all columns of `schema` in sorted-name
    * order; column i is read from the positional name `_c<i>`.
    */
  def rowHash(schema: StructType): Column = {
    val fields = schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    if (fields.isEmpty) lit(0L)
    else xxhash64(fields.toSeq.flatMap { case (f, i) =>
      val c = col(s"_c$i")
      Seq(lit(f.name), c.isNull, canon(c, f.dataType))
    }: _*)
  }

  /** Row count and hash of `df`, computed by one aggregate. */
  def of(df: DataFrame): Result = {
    // positional names keep duplicate or dotted output names unambiguous
    val positional = df.toDF(df.schema.fields.indices.map(i => s"_c$i"): _*)
    val r = positional
      .select(rowHash(df.schema).as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Result(r.getLong(0), f"${r.getLong(1)}%016x${r.getLong(2)}%016x")
  }
}
