package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: its row count and the sum
  * of one 64-bit hash per row. Columns are taken in name order, and
  * floating-point values are rendered to 9 significant digits first (the
  * canonical form `tools/compare.py` compares), so the digest does not
  * depend on row order, column order or summation order.
  */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9g", when(c === 0, lit(0.0)).otherwise(c.cast(DoubleType)))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      struct(st.fields.sortBy(_.name).map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def apply(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = xxhash64(fields.map(f => to_json(struct(canon(col(s"`${f.name}`"), f.dataType).as("v")))).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)).as("n"), sum(h2dec(col("h"))).as("s")).collect()(0)
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"))
  }

  private def h2dec(c: Column): Column = c.cast(DecimalType(20, 0))
}
