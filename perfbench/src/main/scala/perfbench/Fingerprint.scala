package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's timed action: row count plus an order-independent hash
  * of every output column, so no column can be pruned away (a bare
  * `count()` lets Catalyst drop them).
  *
  * Each row is rendered as a canonical string, columns in name order and
  * separated by U+0001: nulls as `\N`, integers and decimals in plain
  * decimal, booleans as true/false, doubles and floats as the signed long
  * of their IEEE-754 bit image, timestamps as epoch microseconds, dates as
  * epoch days, binaries as upper-case hex, arrays as `[e1,e2,...]`. The
  * row hash is the first 15 hex digits of the string's MD5, and the
  * fingerprint is `count:sum-of-row-hashes`. `check.py` renders a DuckDB
  * oracle result the same way, so the two fingerprints are equal exactly
  * when the outputs are. Maps and structs fall back to JSON, which only
  * the golden comparison covers. */
object Fingerprint {
  private val Null = lit("\\N")

  private def canonical(c: Column, dt: DataType): Column = dt match {
    case StringType => c
    case ByteType | ShortType | IntegerType | LongType | BooleanType | _: DecimalType =>
      c.cast(StringType)
    case DoubleType | FloatType =>
      when(c.isNotNull, call_function("java_method", lit("java.lang.Double"),
        lit("doubleToLongBits"), c.cast(DoubleType)))
    case TimestampType => unix_micros(c).cast(StringType)
    case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast(StringType)
    case DateType => unix_date(c).cast(StringType)
    case BinaryType => hex(c)
    case ArrayType(et, _) =>
      when(c.isNotNull, concat(lit("["),
        concat_ws(",", transform(c, e => coalesce(canonical(e, et), Null))), lit("]")))
    case _ => to_json(c)
  }

  /** One-row frame `(n, h)` whose collection is the timed action. */
  def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts = fields.map { case (f, i) => coalesce(canonical(col(s"c$i"), f.dataType), Null) }
    val row = md5(concat_ws("\u0001", parts.toIndexedSeq: _*))
    named.select(conv(substring(row, 1, 15), 16, 10).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("h"))
  }

  /** `count:hash` from the collected one-row frame. */
  def render(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
}
