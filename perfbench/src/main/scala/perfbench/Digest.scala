package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-insensitive content digest of a query result.
  *
  * Columns are taken in name order, so column order does not matter.
  * Every cell is cast to a string, with null mapped to one sentinel, so
  * nulls compare equal and no null can collide with a value. Doubles
  * get `+ 0.0` first, which turns -0.0 into 0.0. Each row is hashed
  * with xxhash64 and the hashes are summed in two 32-bit halves, which
  * is exact for any row order. The digest reads
  * `rows:hi_sum:lo_sum:column-names`.
  */
object Digest {
  private val NullCell = "\u0000null"

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = fields.map { case (f, i) =>
      val c = col(s"c$i")
      val v = f.dataType match {
        case DoubleType | FloatType => (c.cast(DoubleType) + lit(0.0)).cast("string")
        case _ => c.cast("string")
      }
      coalesce(v, lit(NullCell))
    }
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells.toIndexedSeq: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(shiftrightunsigned(col("h"), 32)), sum(col("h").bitwiseAND(0xffffffffL)))
      .head()
    val hi = if (r.isNullAt(1)) 0L else r.getLong(1)
    val lo = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$hi:$lo:${fields.map(_._1.name).mkString(",")}"
  }

  /** Row count encoded in a digest. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
