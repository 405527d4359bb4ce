package graft.sched

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types._

import graft.meta.GraftTable

/** Typed mirror of the reference's `iceberg_maintenance_schedule` row
  * (trino_iceberg_maintenance/__main__.py:41-55 DDL; NamedTuple
  * `MaintenanceProperties` __main__.py:83-99). INTEGER flags keep Python
  * truthiness: nonzero → true, NULL/0 → false (tests insert literal 1,
  * tests/test_maintenance.py:62,104,147).
  */
final case class MaintenanceConfig(
    table_name: String,
    should_analyze: Option[Int],
    last_analyzed_on: Option[Timestamp],
    days_to_analyze: Option[Int],
    columns_to_analyze: Option[Seq[String]],
    should_optimize: Option[Int],
    last_optimized_on: Option[Timestamp],
    days_to_optimize: Option[Int],
    should_expire_snapshots: Option[Int],
    retention_days_snapshots: Option[Int],
    should_remove_orphan_files: Option[Int],
    retention_days_orphan_files: Option[Int]) {
  def analyzeEnabled: Boolean = should_analyze.exists(_ != 0)
  def optimizeEnabled: Boolean = should_optimize.exists(_ != 0)
  def expireEnabled: Boolean = should_expire_snapshots.exists(_ != 0)
  def orphanEnabled: Boolean = should_remove_orphan_files.exists(_ != 0)
}

object MaintenanceConfig {
  /** Exact DDL shape, __main__.py:41-55 / FIXTURES.md §1. */
  val schema: StructType = StructType(Seq(
    StructField("table_name", StringType, nullable = false),
    StructField("should_analyze", IntegerType),
    StructField("last_analyzed_on", TimestampType),
    StructField("days_to_analyze", IntegerType),
    StructField("columns_to_analyze", ArrayType(StringType)),
    StructField("should_optimize", IntegerType),
    StructField("last_optimized_on", TimestampType),
    StructField("days_to_optimize", IntegerType),
    StructField("should_expire_snapshots", IntegerType),
    StructField("retention_days_snapshots", IntegerType),
    StructField("should_remove_orphan_files", IntegerType),
    StructField("retention_days_orphan_files", IntegerType)))
}

/** The self-managed config table, stored as a GraftTable (dogfooding the
  * snapshot layer). UPDATE on immutable parquet is copy-on-write — a
  * read-modify-overwrite commit — which is why stamps serialize under
  * the table's single-writer lock, exactly the discipline the reference
  * imposes with its module-level RLock around the two UPDATEs
  * (__main__.py:18,171,193).
  */
final class ConfigStore(spark: SparkSession, location: String) {
  import spark.implicits._

  /** Logical table name — the last path segment, the coordinate the
    * scheduler's SQL statements address this table by. */
  val tableName: String =
    new org.apache.hadoop.fs.Path(location).getName

  /** `CREATE TABLE IF NOT EXISTS` (__main__.py:40-57). */
  def createIfNotExists(): ConfigStore = {
    if (!GraftTable.exists(spark, location))
      GraftTable.create(spark, location, MaintenanceConfig.schema)
    this
  }

  private[graft] def table: GraftTable = GraftTable.load(spark, location)

  /** Full scan → typed rows, driver-materialized — faithful to the
    * reference's fetchall() (__main__.py:62-63); the config table is
    * O(#maintained tables). */
  def load(): Seq[MaintenanceConfig] =
    table.read.as[MaintenanceConfig].collect().toIndexedSeq

  def dataset(): Dataset[MaintenanceConfig] = table.read.as[MaintenanceConfig]

  def insert(rows: MaintenanceConfig*): Unit =
    table.append(spark.createDataset(rows).toDF())
}

object ConfigStore {
  /** Config-table name, env-overridable — `MAINTENANCE_TABLE`
    * (__main__.py:15). `env` is injectable so the override is testable
    * without mutating process state. */
  def defaultTableName(env: Map[String, String] = sys.env): String =
    env.getOrElse("MAINTENANCE_TABLE", "iceberg_maintenance_schedule")

  /** The store under `warehouseDir` at the env-resolved table name —
    * what a deployment gets when it configures only a warehouse root. */
  def at(spark: SparkSession, warehouseDir: String,
         env: Map[String, String] = sys.env): ConfigStore =
    new ConfigStore(spark, s"$warehouseDir/${defaultTableName(env)}")
}
