package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a DataFrame's full contents: the row
  * count plus the sum (as a 38-digit decimal, so it cannot overflow) of a
  * 64-bit hash over every column of each row.
  *
  * Floating-point cells are hashed through a 10-significant-digit rendering,
  * so a change that only reorders a floating-point reduction does not read
  * as a wrong answer; anything beyond the last printed digit does. Maps are
  * hashed as their entries sorted by key.
  */
object Fingerprint {

  final case class Value(rows: Long, hash: String)

  def of(df: DataFrame): Value = {
    // positional names: outputs may carry duplicate or dotted column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = named.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val row = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    Value(row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case MapType(kt, vt, _) =>
      canonical(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fields.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }
}
