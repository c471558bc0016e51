package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An op's output fingerprint: row count plus the sum of per-row hashes,
  * which no row order can change. Floating values are compared at nine
  * significant digits (a different summation order may move the last
  * bits) and arrays are hashed sorted (collect_list order is not part of
  * a result). */
object Fingerprint {
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.8e", c)
    case ArrayType(et, _) => array_sort(transform(c, x => canon(x, et)))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toIndexedSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      canon(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** "<rows>:<hash sum>" of a frame's full output. */
  def apply(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val rowHash = xxhash64(named.schema.fields.toIndexedSeq.map(f =>
      canon(col(f.name), f.dataType)): _*)
    val r = named.agg(count(lit(1)), sum(rowHash.cast(DecimalType(38, 0)))).head()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$total"
  }
}
