package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: the row count and
  * the (decimal sum, xor) of a per-row `xxhash64`. Floating-point values
  * are first rendered to nine significant digits, at any depth of
  * nesting, so that summation order cannot change the hash; map entries
  * are sorted so that their order cannot either.
  */
object Fingerprint {

  final case class Value(rows: Long, hash: String)

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, normalize(_, et))
    case StructType(fields) =>
      when(c.isNotNull, struct(fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("k"), normalize(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): Value = {
    // positional names: a result may carry duplicate column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    val hashed = if (cols.isEmpty) named.select(lit(0L).as("h")) else named.select(xxhash64(cols: _*).as("h"))
    val r = hashed.agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), expr("bit_xor(h)")).head()
    Value(r.getLong(0), s"${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}")
  }
}
