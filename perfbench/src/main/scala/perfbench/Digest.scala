package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest over every output column of a result.
  *
  * Each row is rendered to one canonical string: doubles rounded to
  * nine significant digits (floats to six), so the last-bit noise of a
  * parallel sum does not change the digest; map entries sorted; NULL
  * distinct from every value. The digest is the row count and two
  * sums of per-row hashes, so it does not depend on row or partition
  * order. Computing it reads every column, so no output column can be
  * pruned away from the plan.
  */
object Digest {
  private val Null = lit("\\N")

  def canon(c: Column, t: DataType): Column = {
    val v: Column = t match {
      case DoubleType => real(c, "%.8e")
      case FloatType => real(c.cast(DoubleType), "%.5e")
      case ArrayType(et, _) =>
        concat(lit("["), array_join(transform(c, x => canon(x, et)), ","), lit("]"))
      case MapType(kt, vt, _) =>
        concat(lit("{"), array_join(array_sort(transform(map_entries(c),
          e => concat(canon(e.getField("key"), kt), lit("="),
            canon(e.getField("value"), vt)))), ","), lit("}"))
      case StructType(fields) =>
        concat(lit("("), concat_ws(",", fields.toSeq.map(f =>
          canon(c.getField(f.name), f.dataType)): _*), lit(")"))
      case BinaryType => hex(c)
      case _ => c.cast(StringType)
    }
    when(c.isNull, Null).otherwise(v)
  }

  private def real(c: Column, fmt: String): Column =
    when(isnan(c), lit("NaN"))
      .when(c === Double.PositiveInfinity, lit("Inf"))
      .when(c === Double.NegativeInfinity, lit("-Inf"))
      .otherwise(format_string(fmt, c + 0.0))

  def rowString(df: DataFrame): Column =
    concat_ws("\u0001", df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)

  /** One-row frame (n, h1, h2) whose collect is the digest action. */
  def frame(df: DataFrame): DataFrame =
    df.select(rowString(df).as("r"))
      .agg(count(lit(1)).as("n"),
        sum(conv(substring(md5(col("r")), 1, 15), 16, 10).cast(DecimalType(38, 0))).as("h1"),
        sum(xxhash64(col("r")).cast(DecimalType(38, 0))).as("h2"))

  /** Digest string from the collected frame row plus the schema. */
  def render(df: DataFrame, row: org.apache.spark.sql.Row): String = {
    val n = row.getLong(0)
    def d(i: Int) = if (row.isNullAt(i)) "0" else row.getDecimal(i).toPlainString
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    s"$n:${d(1)}:${d(2)}:${java.lang.Integer.toHexString(schema.hashCode)}"
  }

  /** Row count encoded in a rendered digest. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong

  def of(df: DataFrame): String = render(df, frame(df).collect().head)
}
