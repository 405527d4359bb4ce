package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, EqualNullSafe, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, NamedExpression, And => CAnd, Or => COr}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Metadata-only aggregates: a global `count(*)` / `count(col)` /
  * `min(col)` / `max(col)` over a graft scan is answered from snapshot
  * metadata — `count(*)` from the pinned snapshot's row total (zero
  * I/O, zero tasks), `count(col)` from the manifests' per-column null
  * counts (`sum(record_count) − sum(null_counts[col])`), min/max from
  * the manifests' per-file bounds (KB-scale metadata, LocalRelation-
  * backed under the ManifestIO gate) — the way Iceberg/Trino serve
  * these from manifest statistics. A `count(*)` under a PARTITION-
  * ALIGNED filter folds too: when every live file's bounds prove
  * all-rows-match or no-rows-match (an exactness test per file, not
  * mere skipping), the count is the manifest sum over the all-match
  * files — the Iceberg/Trino partition-stats answer to
  * `count(*) WHERE day = X`. On a 100 TB table this is the difference
  * between a catalog lookup and a full-corpus scan for the most common
  * sanity queries an operator runs (`count(*)`, `max(ts)` freshness,
  * per-day landing counts).
  *
  * Safety bounds (the rewrite fires ONLY when all hold):
  *   - the aggregate is global (no grouping) and EVERY aggregate
  *     expression is `count(1)`/`count(*)` (non-distinct, unfiltered),
  *     `count(col)` of a directly-scanned column, or `min`/`max` of
  *     one;
  *   - min/max columns are integral, decimal, date, or timestamp —
  *     types whose manifest bound strings round-trip through the SAME
  *     Catalyst cast the file-skipping path already trusts. Float and
  *     double are excluded (footer -0.0 ordering vs Spark's equality
  *     of signed zeros), and strings are excluded (parquet footers may
  *     truncate long binary stats; the inventory's abort contract
  *     covers dropped stats, not truncated ones);
  *   - a file's null bound contributes nothing — by the inventory
  *     contract a null bound means a zero-row file or an all-null
  *     column in that file, both ignorable for min/max (footer stats
  *     that would be WRONG to trust abort to the distributed
  *     inventory, which computes Spark-exact bounds);
  *   - `count(col)` folds only after verifying, against the DRIVER-
  *     LOCAL manifest rows (ManifestIO's size-gated read), that EVERY
  *     live file carries a null count for that column — a missing
  *     entry refuses the fold (and above the local-read gate the
  *     verification itself is unavailable, so the fold refuses there
  *     too rather than trusting unverified metadata);
  *   - the filtered-count fold fires only when every conjunct of the
  *     pushed predicate is decidable per file from bounds + null
  *     counts as ALL-rows-match or NO-rows-match ([[decide]]'s
  *     tri-state; any partial-overlap file refuses), over the same
  *     driver-local manifest rows;
  *   - the child is the bare relation, at most under row-preserving
  *     [[Project]]s (attribute renames are followed) and — for the
  *     filtered count only — ONE pushed [[Filter]]; any Limit/Sample
  *     keeps the scan;
  *   - the pinned snapshot has NO outstanding merge-on-read delete
  *     files (a deleted row may hold the min; with deletes,
  *     [[GraftFileIndex.metadataRowCount]] is None and nothing folds).
  *
  * Time travel composes: an `asOf`-pinned index serves the pinned
  * snapshot's metadata. The rewrite preserves the Aggregate's output
  * attributes (ids, names, types), so nothing upstream re-resolves.
  * Installed beside [[GraftStatsRule]] on first graft relation load;
  * [[GraftSparkExtensions]] injects it session-wide too. */
object GraftCountRule extends Rule[LogicalPlan] {

  private sealed trait FoldSpec
  private case object CountLit extends FoldSpec
  private final case class CountColOf(column: String) extends FoldSpec
  private final case class MinOf(column: String, dt: DataType) extends FoldSpec
  private final case class MaxOf(column: String, dt: DataType) extends FoldSpec

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, exprs, child, _) if exprs.nonEmpty =>
      bareScan(child) match {
        case Some((gfi, colMap)) if gfi.metadataRowCount.isDefined =>
          val specs = exprs.map(e => classify(e, colMap))
          if (specs.exists(_.isEmpty)) agg
          else {
            val flat = specs.map(_.get)
            val countCols =
              flat.collect { case CountColOf(n) => n }.distinct
            if (countCols.nonEmpty && !nullCountsComplete(gfi, countCols)) agg
            else if (flat.forall(_ == CountLit)) {
              // pure count: no plan at all — a LocalRelation literal
              localCount(agg, gfi.metadataRowCount.get)
            } else rewriteToManifestAgg(agg, gfi, flat)
          }
        case Some(_) => agg // MOR deletes outstanding: nothing folds
        case None => foldFilteredCount(agg, child).getOrElse(agg)
      }
  }

  private def localCount(agg: Aggregate, n: Long): LogicalPlan =
    LocalRelation(agg.output,
      Seq(InternalRow.fromSeq(agg.output.map(_ => n))))

  /** The equivalent aggregate over the KB-scale manifest relation —
    * LocalRelation-backed under the ManifestIO size gate, a manifest
    * parquet scan above it; either way metadata, never data files.
    * Bounds re-enter through the same typed decoding the file-skipping
    * rules trust ([[graft.meta.FileSkipping.lowerBound]]). */
  private def rewriteToManifestAgg(agg: Aggregate, gfi: GraftFileIndex,
                                   specs: Seq[FoldSpec]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    val mdf = graft.meta.ManifestIO.relation(gfi.session, gfi.manifestPaths)
    val cols = specs.map {
      case CountLit => coalesce(sum(col("record_count")), lit(0L))
      case CountColOf(n) =>
        // presence of every file's null count was verified against the
        // driver-local manifest rows before this rewrite was chosen
        coalesce(sum(col("record_count")) -
          sum(element_at(col("null_counts"), lit(n))), lit(0L))
      case MinOf(n, dt) => min(graft.meta.FileSkipping.lowerBound(n, dt))
      case MaxOf(n, dt) => max(graft.meta.FileSkipping.upperBound(n, dt))
    }
    val inner = mdf.agg(cols.head, cols.tail: _*).queryExecution.analyzed
    // preserve the original output attributes exactly (id/name/type)
    Project(agg.output.zip(inner.output).map { case (o, i) =>
      Alias(i, o.name)(exprId = o.exprId) }, inner)
  }

  /** Bound-string round-trip allowlist — see the scaladoc rationale. */
  private def foldableMinMax(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  private def classify(e: Expression,
                       cols: Map[ExprId, String]): Option[FoldSpec] = e match {
    case Alias(c, _) => classify(c, cols)
    case AggregateExpression(Count(Seq(l: Literal)), Complete, false, None, _)
        if l.value != null => Some(CountLit)
    case AggregateExpression(Count(Seq(a: AttributeReference)), Complete,
        false, None, _) if cols.contains(a.exprId) =>
      // no type allowlist: null counts are exact longs in the manifest,
      // no bound-string round-trip is involved
      Some(CountColOf(cols(a.exprId)))
    case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _)
        if cols.contains(a.exprId) && foldableMinMax(a.dataType) =>
      Some(MinOf(cols(a.exprId), a.dataType))
    case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _)
        if cols.contains(a.exprId) && foldableMinMax(a.dataType) =>
      Some(MaxOf(cols(a.exprId), a.dataType))
    case _ => None
  }

  /** True iff the manifest rows are driver-locally readable AND every
    * live file carries a (non-null) null count for every named column.
    * The count(col) fold stands on `record_count − null_counts[col]`
    * being exact per file; a file whose entry is absent (e.g. adopted
    * external parquet with dropped stats) makes that arithmetic a lie,
    * so it refuses the fold instead. */
  private def nullCountsComplete(gfi: GraftFileIndex,
                                 names: Seq[String]): Boolean =
    graft.meta.ManifestIO.readLocal(gfi.session, gfi.manifestPaths)
      .exists(_.forall { r =>
        val m = r.get(3).asInstanceOf[scala.collection.Map[String, Any]]
        m != null && names.forall(n => m.get(n).exists(_ != null))
      })

  // ---- partition-aligned filtered count(*) --------------------------------

  /** Tri-state per-file verdict for a pushed predicate: every row
    * matches, no row matches, or undecidable from metadata. */
  private sealed trait Tri
  private case object AllMatch extends Tri
  private case object NoneMatch extends Tri
  private case object Undecided extends Tri

  /** The graft scan under ONE pushed [[Filter]] (row-preserving
    * Projects above and below it are stripped; the predicate's
    * attribute ids resolve through the relation-level map). */
  private def filteredScan(p: LogicalPlan)
      : Option[(GraftFileIndex, Map[ExprId, String], Expression)] = p match {
    case Project(_, c) => filteredScan(c)
    case Filter(cond, c) => bareScan(c).map { case (g, m) => (g, m, cond) }
    case _ => None
  }

  /** `count(*) WHERE pred` folds to `sum(record_count)` over the
    * all-match files iff EVERY live file is decidable as all-match or
    * none-match from its bounds + null counts — an exactness test per
    * file, not mere skipping; one partial-overlap file refuses the
    * whole fold (the scan is then the only exact answer). Decided
    * against the driver-local manifest rows (above ManifestIO's gate
    * the fold refuses — the verification is unavailable there). */
  private def foldFilteredCount(agg: Aggregate,
                                child: LogicalPlan): Option[LogicalPlan] =
    filteredScan(child).flatMap { case (gfi, colMap, cond) =>
      val countOnly = agg.aggregateExpressions
        .forall(e => classify(e, Map.empty).contains(CountLit))
      if (!countOnly || gfi.metadataRowCount.isEmpty) None
      else graft.meta.ManifestIO.readLocal(gfi.session, gfi.manifestPaths)
        .flatMap { rows =>
          val zone = gfi.session.sessionState.conf.sessionLocalTimeZone
          val verdicts = rows.map(r => (decide(cond, colMap, r, zone), r))
          if (verdicts.exists(_._1 == Undecided)) None
          else Some(localCount(agg, verdicts.collect {
            case (AllMatch, r) => r.getLong(2)
          }.sum))
        }
    }

  /** Per-file tri-state evaluation of `e` against one manifest row.
    * Conservative by construction: anything unrecognized — an
    * untranslatable operator, a non-foldable type, a missing
    * statistic — is [[Undecided]], which refuses the fold. Value
    * predicates never match null rows (SQL semantics), so an all-null
    * file is [[NoneMatch]] for them, and [[AllMatch]] additionally
    * requires a PROVEN zero null count. */
  private def decide(e: Expression, cols: Map[ExprId, String],
                     r: org.apache.spark.sql.Row, zone: String): Tri = e match {
    case CAnd(l, rr) => (decide(l, cols, r, zone), decide(rr, cols, r, zone)) match {
      case (NoneMatch, _) | (_, NoneMatch) => NoneMatch
      case (AllMatch, AllMatch) => AllMatch
      case _ => Undecided
    }
    case COr(l, rr) => (decide(l, cols, r, zone), decide(rr, cols, r, zone)) match {
      case (AllMatch, _) | (_, AllMatch) => AllMatch
      case (NoneMatch, NoneMatch) => NoneMatch
      case _ => Undecided
    }
    case Literal(v, BooleanType) =>
      if (v == true) AllMatch else NoneMatch // false AND null are never true
    case IsNull(a: AttributeReference) if cols.contains(a.exprId) =>
      nullCountOf(r, cols(a.exprId)) match {
        case Some(nn) if nn == r.getLong(2) => AllMatch
        case Some(0L) => NoneMatch
        case Some(_) => Undecided
        case None => Undecided
      }
    case IsNotNull(a: AttributeReference) if cols.contains(a.exprId) =>
      nullCountOf(r, cols(a.exprId)) match {
        case Some(0L) => AllMatch
        case Some(nn) if nn == r.getLong(2) => NoneMatch
        case Some(_) => Undecided
        case None => Undecided
      }
    case LiteralFirst(attrFirst) => decide(attrFirst, cols, r, zone)
    case EqualTo(a: AttributeReference, Literal(v, _)) => cmp(a, v, cols, r, zone)(
      none = (lo, hi, ord) => ord.lt(hi, v) || ord.gt(lo, v),
      all = (lo, hi, ord) => ord.equiv(lo, v) && ord.equiv(hi, v))
    case EqualNullSafe(a: AttributeReference, Literal(v, _)) if v != null =>
      decide(EqualTo(a, Literal(v, a.dataType)), cols, r, zone)
    case GreaterThan(a: AttributeReference, Literal(v, _)) => cmp(a, v, cols, r, zone)(
      none = (lo, hi, ord) => ord.lteq(hi, v),
      all = (lo, hi, ord) => ord.gt(lo, v))
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => cmp(a, v, cols, r, zone)(
      none = (lo, hi, ord) => ord.lt(hi, v),
      all = (lo, hi, ord) => ord.gteq(lo, v))
    case LessThan(a: AttributeReference, Literal(v, _)) => cmp(a, v, cols, r, zone)(
      none = (lo, hi, ord) => ord.gteq(lo, v),
      all = (lo, hi, ord) => ord.lt(hi, v))
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => cmp(a, v, cols, r, zone)(
      none = (lo, hi, ord) => ord.gt(lo, v),
      all = (lo, hi, ord) => ord.lteq(hi, v))
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      val vals = vs.collect { case Literal(v, _) if v != null => v }
      cmp(a, vals.headOption.orNull, cols, r, zone)(
        none = (lo, hi, ord) => vals.forall(v => ord.lt(hi, v) || ord.gt(lo, v)),
        all = (lo, hi, ord) => ord.equiv(lo, hi) && vals.exists(ord.equiv(lo, _)))
    case InSet(a: AttributeReference, vs) =>
      val vals = vs.toSeq.filter(_ != null)
      cmp(a, vals.headOption.orNull, cols, r, zone)(
        none = (lo, hi, ord) => vals.forall(v => ord.lt(hi, v) || ord.gt(lo, v)),
        all = (lo, hi, ord) => ord.equiv(lo, hi) && vals.exists(ord.equiv(lo, _)))
    case _ => Undecided
  }

  /** Shared comparison scaffold: resolve the column, decode its bounds
    * through the SAME string→type Catalyst cast the file-skipping path
    * trusts, and apply the op-specific none/all conditions. `v == null`
    * short-circuits to [[NoneMatch]] — a null-literal comparison is
    * never TRUE for any row. */
  private def cmp(a: AttributeReference, v: Any, cols: Map[ExprId, String],
                  r: org.apache.spark.sql.Row, zone: String)(
      none: (Any, Any, Ordering[Any]) => Boolean,
      all: (Any, Any, Ordering[Any]) => Boolean): Tri = {
    if (!cols.contains(a.exprId)) return Undecided
    if (v == null) return NoneMatch
    if (!foldableMinMax(a.dataType)) return Undecided
    val name = cols(a.exprId)
    val rc = r.getLong(2)
    if (rc == 0L) return NoneMatch
    val nulls = nullCountOf(r, name)
    if (nulls.contains(rc)) return NoneMatch // all-null: no value matches
    (boundOf(r, 4, name, a.dataType, zone),
     boundOf(r, 5, name, a.dataType, zone)) match {
      case (Some(lo), Some(hi)) =>
        val ord = TypeUtils.getInterpretedOrdering(a.dataType)
        if (none(lo, hi, ord)) NoneMatch
        else if (nulls.contains(0L) && all(lo, hi, ord)) AllMatch
        else Undecided
      case _ => Undecided
    }
  }

  private def nullCountOf(r: org.apache.spark.sql.Row,
                          name: String): Option[Long] = {
    val m = r.get(3).asInstanceOf[scala.collection.Map[String, Any]]
    if (m == null) None
    else m.get(name).flatMap(Option(_)).map(_.asInstanceOf[Number].longValue)
  }

  /** Manifest bound string → the column's Catalyst-internal value, via
    * the identical Cast the listFiles translation applies. */
  private def boundOf(r: org.apache.spark.sql.Row, field: Int, name: String,
                      dt: DataType, zone: String): Option[Any] = {
    val m = r.get(field).asInstanceOf[scala.collection.Map[String, Any]]
    if (m == null) None
    else m.get(name).flatMap(Option(_)).flatMap { s =>
      Option(Cast(Literal(UTF8String.fromString(s.asInstanceOf[String]),
        StringType), dt, Option(zone)).eval())
    }
  }

  /** The graft index under `p` plus the mapping from `p`'s visible
    * attribute ids to the relation's COLUMN NAMES (renames through
    * row-preserving Projects are followed; computed columns simply
    * don't map, so an aggregate over them refuses the fold). */
  private def bareScan(p: LogicalPlan)
      : Option[(GraftFileIndex, Map[ExprId, String])] = p match {
    case Project(list, c) =>
      bareScan(c).map { case (g, m) =>
        val m2 = list.flatMap {
          case a: AttributeReference =>
            m.get(a.exprId).map(a.exprId -> _)
          case al @ Alias(ar: AttributeReference, _) =>
            m.get(ar.exprId).map(al.exprId -> _)
          case _ => None
        }.toMap
        (g, m2)
      }
    case lr: LogicalRelation =>
      lr.relation match {
        case hfs: HadoopFsRelation =>
          hfs.location match {
            case g: GraftFileIndex =>
              Some((g, lr.output.map(a => a.exprId -> a.name).toMap))
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  /** Idempotent installation into the session's extra optimizer rules
    * (the last optimizer batch — the Aggregate is still logical there). */
  def ensureInstalled(spark: SparkSession): Unit =
    GraftRuleInstall.install(spark, this)
}

/** Serializes extra-optimizer-rule installation: the bare
  * read-modify-write on `spark.experimental.extraOptimizations` is a
  * check-then-act — two concurrent first graft loads (the bench's
  * concurrent warmup) could interleave so that one thread's stale
  * write momentarily DROPPED the other's just-added rule, and a query
  * planned in that window would silently scan where it should fold
  * (x26's plan require() would then fail the gate). One lock per JVM;
  * contains-check inside the lock makes installation exactly-once per
  * (session, rule). */
private[sources] object GraftRuleInstall {
  def install(spark: SparkSession,
              rule: Rule[LogicalPlan]): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(rule))
      spark.experimental.extraOptimizations = cur :+ rule
  }
}
