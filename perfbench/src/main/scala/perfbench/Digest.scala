package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: the row count, the sum of
  * a 64-bit hash of each row's canonical text, and a hash of the schema.
  * Row order and partitioning do not change it; any changed, missing or
  * duplicated row does. Floating-point values enter rounded to nine
  * significant digits, so the last-bit noise of a parallel sum does not.
  */
object Digest {

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => array_join(transform(c, x => canonical(x, et)), ",", "\u0000")
    case _: StructType | _: MapType => to_json(c)
    case _ => c.cast(StringType)
  }

  def of(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq
    val row = concat_ws("\u0001",
      fields.map(f => coalesce(canonical(col(s"`${f.name}`"), f.dataType), lit("\u0000"))): _*)
    val r = df.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .first()
    val schemaHash = fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",").hashCode
    f"${r.getLong(0)}/${r.getDecimal(1).toPlainString}/$schemaHash%08x"
  }
}
