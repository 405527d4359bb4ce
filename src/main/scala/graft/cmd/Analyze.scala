package graft.cmd

import java.time.Clock

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.GraftTable

/** Column statistics: one distributed aggregate pass computing, per
  * column — exact null fraction, approximate NDV (HyperLogLog++),
  * min/max, data size — persisted to `_graft/stats` parquet and surfaced
  * through [[statsRelation]] in Trino's SHOW STATS shape.
  *
  * Reference analogue: `ANALYZE t` / `ANALYZE t WITH (columns =
  * ARRAY[...])` (trino_iceberg_maintenance/__main__.py:180-199) and
  * `SHOW STATS FOR t` (tests/test_maintenance.py:90-92). Contracts the
  * reference tests pin down:
  *   - nulls_fraction is EXACT (asserted == 2/3, tests:123) — so it is
  *     computed from exact counts; only NDV is approximate (Trino uses
  *     Theta sketches, iceberg.properties:10; we use Spark's HLL++).
  *   - column-scoped analyze refreshes ONLY the named columns; others
  *     keep stale stats (tests:145-161) — hence merge-on-write below.
  *   - stats rows surface in schema-column order (tests index rows
  *     positionally, tests:153-154) plus a Trino-style summary row
  *     (NULL column_name, row_count only).
  *
  * Scale: the aggregation is a single `df.agg` over all requested
  * columns — one scan, map-side partial aggregation, no shuffle beyond
  * the final 1-row combine. The persisted store is O(#columns).
  */
object Analyze {
  /** Persisted + surfaced schema (FIXTURES.md §3). */
  val StatsSchema: StructType = StructType(Seq(
    StructField("column_name", StringType, nullable = true),
    StructField("data_size", DoubleType, nullable = true),
    StructField("distinct_values_count", DoubleType, nullable = true),
    StructField("nulls_fraction", DoubleType, nullable = true),
    StructField("row_count", DoubleType, nullable = true),
    StructField("low_value", StringType, nullable = true),
    StructField("high_value", StringType, nullable = true)))

  private def storeDir(table: GraftTable): Path =
    new Path(table.dir, "_graft/stats")

  private def isOrderable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | TimestampType | TimestampNTZType |
         DateType | BooleanType => true
    case _ => false
  }

  def run(table: GraftTable, columns: Option[Seq[String]], clock: Clock): Unit =
    table.writeOp {
      val spark = table.spark
      val schema = table.schema
      // An empty column list means "analyze ALL columns", matching the
      // reference's NULL/empty-array handling (__main__.py:188): the
      // column clause is only emitted when the array is non-empty.
      val targets = columns match {
        case Some(cs) if cs.nonEmpty =>
          schema.fields.filter(f => cs.contains(f.name)).toSeq
        case _ => schema.fields.toSeq
      }
      val aggExprs = targets.flatMap { f =>
        val c = col(f.name)
        val minMax =
          if (isOrderable(f.dataType))
            Seq(min(c).cast(StringType).as(s"min:${f.name}"),
              max(c).cast(StringType).as(s"max:${f.name}"))
          else
            Seq(lit(null).cast(StringType).as(s"min:${f.name}"),
              lit(null).cast(StringType).as(s"max:${f.name}"))
        val size = f.dataType match {
          case StringType => sum(octet_length(c)).cast(DoubleType)
          case BinaryType => sum(length(c)).cast(DoubleType)
          case dt if isOrderable(dt) =>
            (count(c) * lit(dt.defaultSize)).cast(DoubleType)
          case _ => lit(null).cast(DoubleType)
        }
        Seq(count(c).as(s"nn:${f.name}"),
          approx_count_distinct(c).cast(DoubleType).as(s"ndv:${f.name}"),
          size.as(s"sz:${f.name}")) ++ minMax
      }
      val row = table.read
        .agg(count(lit(1)).as("n"), aggExprs: _*)
        .collect()(0)
      val n = row.getLong(row.fieldIndex("n"))

      def opt[T](name: String): Option[T] =
        if (row.isNullAt(row.fieldIndex(name))) None
        else Some(row.getAs[T](name))

      val freshRows = targets.map { f =>
        val nn = row.getLong(row.fieldIndex(s"nn:${f.name}"))
        val fraction: Any =
          if (n == 0) null else (n - nn).toDouble / n.toDouble
        Row(f.name,
          opt[Double](s"sz:${f.name}").orNull,
          opt[Double](s"ndv:${f.name}").orNull,
          fraction,
          null, // row_count lives on the summary row (Trino convention)
          opt[String](s"min:${f.name}").orNull,
          opt[String](s"max:${f.name}").orNull)
      }

      // Merge-on-write: pinned rows survive for columns not re-analyzed
      // (tests/test_maintenance.py:151-161). Only per-column rows are
      // persisted; the summary row_count is always derived live.
      val analyzed = targets.map(_.name).toSet
      val kept = loadStore(table)
        .filter(r => r.getString(0) != null && !analyzed.contains(r.getString(0)))
      saveStore(table, kept ++ freshRows)
    }

  /** One pinned per-column stat row, typed for the CBO bridge
    * ([[graft.sources.GraftStatsRule]]). */
  final case class PinnedColStat(ndv: Option[Double],
                                 nullsFraction: Option[Double],
                                 low: Option[String], high: Option[String])

  /** The persisted per-column ANALYZE stats, by column name — empty if
    * the table was never analyzed. Driver-side, O(#columns). */
  def pinnedStats(table: GraftTable): Map[String, PinnedColStat] =
    loadStore(table).filter(_.getString(0) != null).map { r =>
      def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      def s(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
      r.getString(0) -> PinnedColStat(d(2), d(3), s(5), s(6))
    }.toMap

  private def loadStore(table: GraftTable): Seq[Row] = {
    val dir = storeDir(table)
    if (!table.fileSystem.exists(dir)) Seq.empty
    else table.spark.read.schema(StatsSchema)
      .parquet(dir.toString).collect().toIndexedSeq
  }

  private def saveStore(table: GraftTable, rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    table.spark.createDataFrame(rows.asJava, StatsSchema)
      .coalesce(1).write.mode("overwrite").parquet(storeDir(table).toString)
    table.fileSystem.delete(new Path(storeDir(table), "_SUCCESS"), false)
  }

  /** SHOW STATS-shaped relation: one row per schema column, in schema
    * order, then the Trino-style summary row (NULL column_name,
    * row_count) — deterministic row order, matching the positional
    * indexing the reference tests rely on (SURVEY.md §2.2 "Sorts").
    *
    * Column rows come from two sources, mirroring Trino-over-Iceberg:
    * a column ANALYZEd at least once shows its PINNED stats as of that
    * run; a never-analyzed column shows a LIVE null fraction derived
    * from the current snapshot's per-file manifest statistics. The
    * summary row_count is always live. (Exactly the split
    * tests/test_maintenance.py:108-161 assert.) */
  def statsRelation(table: GraftTable): DataFrame = {
    import scala.jdk.CollectionConverters._
    val byName = loadStore(table).filter(_.getString(0) != null)
      .map(r => r.getString(0) -> r).toMap
    val fields = table.schema.fields.toSeq
    val liveNeeded = fields.map(_.name).filterNot(byName.contains)

    // One tiny aggregate over the current manifest: total rows + per-file
    // null-count sums for columns lacking pinned stats.
    val manifest = table.files
    val (liveAggs, physicalRows) = liveAggRow(manifest, liveNeeded)
    val totalRows = table.currentSnapshot.map(_.totalRows).getOrElse(0L)

    val rows = fields.map { f =>
      byName.getOrElse(f.name, {
        // fraction over PHYSICAL rows: manifest null counts are physical,
        // so on a table with outstanding merge-on-read deletes dividing
        // by the logical count would overstate (even exceed 1.0)
        val fraction: Any = liveAggs.get(f.name) match {
          case Some(nulls) if physicalRows > 0 => nulls.toDouble / physicalRows
          case _ => null
        }
        Row(f.name, null, null, fraction, null, null, null)
      })
    } :+ Row(null, null, null, null, totalRows.toDouble, null, null)
    table.spark.createDataFrame(rows.asJava, StatsSchema)
  }

  /** Sum each named column's null_counts across the live manifest, plus
    * the physical row total (one aggregation pass). */
  private def liveAggRow(manifest: DataFrame,
                         names: Seq[String]): (Map[String, Long], Long) = {
    if (names.isEmpty) return (Map.empty, 0L)
    val aggs = names.zipWithIndex.map { case (n, i) =>
      sum(coalesce(element_at(col("null_counts"), n), lit(0L))).as(s"c$i")
    } :+ coalesce(sum(col("record_count")), lit(0L)).as("physical")
    val row = manifest.agg(aggs.head, aggs.tail: _*).collect()(0)
    (names.zipWithIndex.collect {
      case (n, i) if !row.isNullAt(i) => n -> row.getLong(i)
    }.toMap, row.getLong(names.size))
  }
}
