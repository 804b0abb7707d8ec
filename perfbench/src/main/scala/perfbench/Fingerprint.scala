package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: row count plus the sums of the
  * two 32-bit halves of a per-row xxhash64. Top-level floating columns
  * are rendered to 9 significant digits first, so the fingerprint does
  * not depend on the last bits of a sum. Each column also contributes
  * its null flag, since xxhash64 skips nulls. */
object Fingerprint {
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
    case _: MapType => to_json(c)
    case _ if hasFloat(t) => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields
    val pos = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val parts = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"c$i")
      Seq(c.isNull, norm(c, f.dataType))
    }
    val h = xxhash64(parts.toIndexedSeq: _*)
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$lo:$hi"
  }
}
