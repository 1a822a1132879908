package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest over every row and every column of a result.
  *
  * Each row hashes to a 64-bit xxhash over all of its columns; the digest is
  * the row count plus the sums of the low and high 32-bit halves of those
  * hashes. Sums commute, so neither row order nor partitioning changes the
  * digest, while any changed, missing or duplicated row does. Splitting the
  * hash into halves keeps both sums far from overflow (ANSI mode would throw
  * on a wrapped 64-bit sum).
  *
  * Computing it is the benchmark's timed action: unlike `count()`, it makes
  * the executed plan produce every output column of every row.
  */
object Digest {

  /** Spark refuses to hash maps, whose entry order is not part of their
    * value; hash their entries sorted by key instead. */
  private def hashable(c: Column, dt: DataType): Column = dt match {
    case _: MapType => array_sort(map_entries(c))
    case st: StructType if containsMap(st) => to_json(c)
    case at: ArrayType if containsMap(at) => to_json(c)
    case _ => c
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case st: StructType => st.fields.exists(f => containsMap(f.dataType))
    case at: ArrayType => containsMap(at.elementType)
    case _ => false
  }

  def rowHash(df: DataFrame): Column =
    if (df.schema.isEmpty) lit(0L)
    else xxhash64(df.schema.fields.toSeq.map(f => hashable(df.col(s"`${f.name}`"), f.dataType)): _*)

  /** `rows:lo:hi`, computed in one job over the whole result. */
  def of(df: DataFrame): String = {
    val h = rowHash(df).as("h")
    val r = df.select(h)
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftright(col("h"), 32)))
      .collect()(0)
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$lo:$hi"
  }
}
