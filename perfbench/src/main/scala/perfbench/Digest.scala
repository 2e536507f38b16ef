package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Order-independent fingerprint of a frame: its row count plus a sum and an
  * xor of one 64-bit hash per row. Doubles are rounded to 6 decimals first,
  * so a different summation order inside an aggregate cannot change the
  * fingerprint. */
object Digest {
  private val Modulus = 1000000007L

  def of(df: DataFrame): Map[String, Long] = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(Modulus))), bit_xor(h)).head()
    Map("rows" -> r.getLong(0),
      "sum" -> (if (r.isNullAt(1)) 0L else r.getLong(1)),
      "xor" -> (if (r.isNullAt(2)) 0L else r.getLong(2)))
  }
}
