package graft.meta

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One field of a table partition spec: a source column plus a transform
  * — the Iceberg partition-transform model (identity / days / bucket(n)
  * / truncate(w)) rather than Hive directory partitioning. Data files
  * physically contain every column; the transform OUTPUT's per-file
  * min/max is recorded in the manifest under [[name]], and partition
  * pruning is bounds overlap on that entry. With appends range-clustered
  * by the transform outputs (see GraftTable.appendOp), each file covers
  * a tight transform-value range, so equality predicates prune to a few
  * files — the 100 TB path where a one-day query over a years-long
  * events table must not list, let alone read, the other days.
  */
final case class PartitionField(column: String, transform: String, param: Int = 0) {
  /** Manifest key and stable display name, e.g. `days_ts`, `bucket8_id`. */
  def name: String = transform match {
    case "identity" => column
    case "days"     => s"days_$column"
    case "months"   => s"months_$column"
    case "years"    => s"years_$column"
    case "hours"    => s"hours_$column"
    case "bucket"   => s"bucket${param}_$column"
    case "truncate" => s"trunc${param}_$column"
  }

  /** The transform as a Catalyst expression over the source column.
    * `sourceType` matters only for `truncate`, which is width-bucketing
    * for numerics and PREFIX for strings (Iceberg truncate semantics).
    * The temporal transforms follow Iceberg's output contract — whole
    * units since the 1970 epoch — and are all monotonic non-decreasing
    * in the source, which is what makes their footer-derived bounds
    * exact (GraftTable.footerInventory). */
  def expr(c: Column, sourceType: DataType = NullType): Column = transform match {
    case "identity" => c
    // days since epoch — monotonic in the source timestamp
    case "days"     => datediff(c.cast(DateType), lit("1970-01-01").cast(DateType))
    // months/years since epoch, from the session-zone calendar date
    case "months"   =>
      (year(c.cast(DateType)) - 1970) * 12 + (month(c.cast(DateType)) - 1)
    case "years"    => year(c.cast(DateType)) - 1970
    // hours since epoch — instant math for zoned timestamps. A
    // TimestampNTZ column must NOT round-trip through TimestampType:
    // that cast interprets the local value in the session zone and
    // shifts the hour index, diverging from the zone-independent
    // footer-derived bounds (GraftTable.footerInventory derives the
    // hour straight from the raw local micros, like Iceberg's
    // zone-independent hour transform). day*24 + hour-of-day over the
    // local value equals floorDiv(localMicros, 3600e6) exactly,
    // pre-1970 included.
    case "hours"    => sourceType match {
      case TimestampNTZType =>
        (datediff(c.cast(DateType), lit("1970-01-01").cast(DateType))
          * 24 + hour(c)).cast(IntegerType)
      case _ =>
        floor(unix_micros(c.cast(TimestampType)) / 3600000000L).cast(IntegerType)
    }
    // Murmur3 bucket (Spark's hash); NOT monotonic — prunable only
    // because the manifest stores the transform output's own bounds
    case "bucket"   => pmod(hash(c), lit(param))
    case "truncate" => sourceType match {
      case StringType => substring(c, 1, param)
      case _ => (floor(c.cast(DoubleType) / param) * param).cast(LongType)
    }
    case t => throw new IllegalArgumentException(s"unknown transform $t")
  }

  /** Output type of the transform given the source column's type. */
  def outputType(source: DataType): DataType = transform match {
    case "identity" => source
    case "days" | "months" | "years" | "hours" | "bucket" => IntegerType
    case "truncate" => if (source == StringType) StringType else LongType
    case t => throw new IllegalArgumentException(s"unknown transform $t")
  }
}

object PartitionSpec {
  def identity(column: String): PartitionField =
    PartitionField(column, "identity")
  def days(column: String): PartitionField =
    PartitionField(column, "days")
  def months(column: String): PartitionField =
    PartitionField(column, "months")
  def years(column: String): PartitionField =
    PartitionField(column, "years")
  def hours(column: String): PartitionField =
    PartitionField(column, "hours")
  def bucket(n: Int, column: String): PartitionField =
    PartitionField(column, "bucket", n)
  def truncate(w: Int, column: String): PartitionField =
    PartitionField(column, "truncate", w)
}
