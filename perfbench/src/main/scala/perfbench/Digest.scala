package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's full output, computed by Spark in
  * the same action that runs the query.
  *
  * Every output column is read (unlike `count()`, which lets the optimizer
  * prune computed columns away). Doubles are compared at float precision,
  * so partition-order differences in floating-point sums do not count as
  * wrong output. Each row hashes to 64 bits; the digest is the row count
  * plus the sums of the low and high 32-bit halves, which no row order
  * changes and which cannot overflow below 2^31 rows. */
object Digest {
  final case class Value(rows: Long, lo: Long, hi: Long) {
    override def toString: String = s"$rows:$lo:$hi"
  }

  object Value {
    def parse(s: String): Value = {
      val Array(r, l, h) = s.split(":").map(_.toLong)
      Value(r, l, h)
    }
  }

  private def coarse(t: DataType): DataType = t match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(coarse(e), n)
    case MapType(k, v, n) => MapType(coarse(k), coarse(v), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = coarse(f.dataType))))
    case other => other
  }

  private def canonical(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      val t = coarse(f.dataType)
      if (t == f.dataType) c else c.cast(t)
    }

  def of(df: DataFrame): Value = {
    val h = if (df.schema.isEmpty) lit(0L) else xxhash64(canonical(df): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Value(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
