package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Materializes a query result into an order-independent digest
  * `rows:bit_xor(h):sum(h)` over `h = xxhash64(row)`, where the row is the
  * result's columns sorted by name and cast to a canonical form shared
  * with the DuckDB oracle side (the rules of the repo's local oracle
  * compare): integral numbers as BIGINT, fractional numbers as DOUBLE
  * (either side fractional makes both fractional), dates and timestamps
  * as strings. The sum keeps duplicate rows from cancelling in the xor.
  */
object Digest {
  private def fractional(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case d: DecimalType => d.scale > 0
    case _ => false
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.scale == 0
    case _ => false
  }

  private def canon(c: Column, t: DataType, otherFractional: Boolean): Column =
    t match {
      case _ if fractional(t) || (integral(t) && otherFractional) =>
        c.cast(DoubleType)
      case _ if integral(t) => c.cast(LongType)
      case DateType => date_format(c, "yyyy-MM-dd")
      case TimestampType | TimestampNTZType =>
        date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
      case _ => c
    }

  /** Names of `df`'s fractional columns, for the other side's canon. */
  def fractionalColumns(df: DataFrame): Set[String] =
    df.schema.fields.filter(f => fractional(f.dataType)).map(_.name).toSet

  /** The one-row aggregate whose collect materializes `df`;
    * `otherFractional` names the columns that are fractional on the side
    * `df` is compared against. */
  def frame(df: DataFrame, otherFractional: Set[String]): DataFrame = {
    val fields = df.schema.fields.sortBy(_.name)
    val row = struct(fields.toIndexedSeq.map { f =>
      canon(col(s"`${f.name.replace("`", "``")}`"), f.dataType,
        otherFractional(f.name)).as(f.name)
    }: _*)
    df.select(xxhash64(row).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"),
        sum(col("h").cast(DecimalType(20, 0))))
  }

  def value(r: Row): String = {
    val s = if (r.isNullAt(2)) "0" else r.getDecimal(2).toPlainString
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:$s"
  }

  def of(df: DataFrame, otherFractional: Set[String]): String =
    value(frame(df, otherFractional).collect()(0))

  /** Sorted column names, for the oracle schema check. */
  def columns(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq.sorted
}
