package graft

import java.nio.file.Files
import java.time.{Clock, Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Mutable test clock — the engine-side answer to the reference's
  * freezegun day-jumps (tests/test_maintenance.py:75,119,164), possible
  * because every command takes an injected java.time.Clock
  * (SURVEY.md §5, §7.7c). */
final class TestClock(var now: Instant = Instant.parse("2026-01-01T00:00:00Z"))
  extends Clock {
  def advanceDays(d: Long): Unit = now = now.plusSeconds(d * 86400)
  override def getZone = ZoneOffset.UTC
  override def withZone(z: java.time.ZoneId): Clock = this
  override def instant(): Instant = now
}

trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Data files `df`'s scans read, after running it. collect() executes
    * df's OWN queryExecution (count() would build and run a different
    * plan, leaving these metrics at zero). */
  def numFilesScanned(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // int64-micros timestamps (Iceberg's mandated encoding): footer
      // stats exist, unlike deprecated INT96 — enables the footer-
      // inventory commit fast path (GraftTable.footerInventory)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.GraftLocalFileSystem") // fork-free local chmod
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
