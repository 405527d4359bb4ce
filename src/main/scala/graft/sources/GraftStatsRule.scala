package graft.sources

import scala.math.BigInt

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.cmd.Analyze
import graft.meta.GraftTable

/** Feeds ANALYZE's persisted statistics to Catalyst's cost-based
  * optimizer — the reason the reference runs ANALYZE at all: Trino's
  * CBO consumes the Iceberg connector's NDV/null-fraction stats for
  * join ordering and distribution choices
  * (docker/trino/catalog/iceberg.properties:10 enables extended stats
  * precisely for that; __main__.py:190-192 refreshes them).
  *
  * A graft scan arrives at planning as a `LogicalRelation` over
  * [[GraftFileIndex]] with size-only statistics (manifest byte totals).
  * This rule attaches a `CatalogTable` carrying `CatalogStatistics` —
  * live row count from the pinned snapshot plus per-column NDV, null
  * count, and (numeric) min/max from the `_graft/stats` store — so
  * `LogicalRelation.computeStats` serves full plan statistics. Under
  * `spark.sql.cbo.enabled` Catalyst's filter/join estimation then
  * shrinks estimated sizes through selective predicates, flipping
  * sort-merge joins to broadcast (or vice versa) the way a 100 TB
  * multi-join query needs; with CBO off the attached sizeInBytes equals
  * the manifest total the relation already reported, so plans are
  * unchanged.
  *
  * Installed idempotently into `spark.experimental.extraOptimizations`
  * on first graft relation load — no session-construction hook needed. */
object GraftStatsRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case lr: LogicalRelation if lr.catalogTable.isEmpty =>
      lr.relation match {
        case hfs: HadoopFsRelation =>
          hfs.location match {
            case gfi: GraftFileIndex =>
              gfi.catalogTableWithStats match {
                case Some(ct) => lr.copy(catalogTable = Some(ct))
                case None => lr
              }
            case _ => lr
          }
        case _ => lr
      }
  }

  /** Add this rule to the session's extra optimizer rules, once.
    * Extra optimizations run in the LAST optimizer batch — after
    * CostBasedJoinReorder — so this placement feeds stats to PHYSICAL
    * planning (join strategy/broadcast selection). For logical join
    * REORDER, stats must already be present when that batch runs: use
    * [[withStats]] on the DataFrame, or install [[GraftSparkExtensions]]
    * session-wide via `spark.sql.extensions` (injectPreCBORule). */
  def ensureInstalled(spark: SparkSession): Unit =
    GraftRuleInstall.install(spark, this)

  /** Attach pinned ANALYZE statistics to `df`'s graft scans at
    * RESOLUTION time, so every optimizer batch — including Spark's
    * CostBasedJoinReorder, which runs before any user-injectable rule
    * slot except preCBO — sees row counts and NDVs. Under
    * `spark.sql.cbo.joinReorder.enabled` a star query's join order is
    * then chosen by estimated intermediate sizes, exactly what the
    * reference enables extended Iceberg stats in Trino for. */
  def withStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.CatalystShims.ofRows(df.sparkSession,
      apply(df.queryExecution.analyzed))

  /** Build the stats-bearing CatalogTable for a pinned graft snapshot.
    * Row count comes from the snapshot (always live, like Trino's
    * summary row); per-column stats come from the ANALYZE store when
    * present and `planStats` is set — Catalyst reads column stats only
    * under `spark.sql.cbo.enabled` or `spark.sql.cbo.planStats.enabled`
    * (else `LogicalRelation` keeps the size alone), so without them the
    * store is not read. Min/max attach only for plain numeric types — their
    * store rendering (`cast(c as string)`) round-trips through
    * Catalyst's external-string parser; temporal/string renderings are
    * not guaranteed to, and NDV + null count carry most of the
    * estimation value. */
  private[sources] def catalogTableFor(
      table: GraftTable, schema: StructType, snapshot: Option[graft.meta.Snapshot],
      sizeInBytes: Long, planStats: Boolean): Option[CatalogTable] =
    snapshot.map { snap =>
      val rowCount = math.max(snap.totalRows, 0L)
      val colStats: Map[String, CatalogColumnStat] =
        if (!planStats) Map.empty
        else Analyze.pinnedStats(table).flatMap { case (name, st) =>
          schema.fields.find(_.name == name).map { f =>
            val numeric = f.dataType match {
              case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
                   _: FloatType | _: DoubleType => true
              case _ => false
            }
            name -> CatalogColumnStat(
              distinctCount = st.ndv.map(d => BigInt(math.round(d))),
              min = if (numeric) st.low else None,
              max = if (numeric) st.high else None,
              nullCount = st.nullsFraction.map(fr =>
                BigInt(math.round(fr * rowCount))),
              version = 1)
          }
        }.toMap
      CatalogTable(
        identifier = TableIdentifier(
          new org.apache.hadoop.fs.Path(table.location).getName),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = schema,
        provider = Some("graft"),
        stats = Some(CatalogStatistics(
          sizeInBytes = BigInt(math.max(sizeInBytes, 1L)),
          rowCount = Some(BigInt(rowCount)),
          colStats = colStats)))
    }
}

/** Session-wide pre-CBO installation for deployments:
  * `--conf spark.sql.extensions=graft.sources.GraftSparkExtensions`
  * injects [[GraftStatsRule]] into the preCBO slot, which runs BEFORE
  * CostBasedJoinReorder — every graft scan in the session then carries
  * ANALYZE stats for logical join reordering, with no per-DataFrame
  * [[GraftStatsRule.withStats]] call needed. */
class GraftSparkExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectPreCBORule(_ => GraftStatsRule)
    e.injectOptimizerRule(_ => GraftCountRule)
  }
}
