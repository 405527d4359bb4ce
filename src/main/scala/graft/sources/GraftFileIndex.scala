package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.types._

import graft.meta.{FileSkipping, GraftTable, ManifestIO}

/** A Catalyst [[FileIndex]] over the graft manifest — the integration
  * point that makes file skipping AUTOMATIC: any `WHERE` predicate a
  * query pushes into the scan is tested against each data file's
  * manifest statistics (min/max bounds AND per-column null counts), and
  * non-overlapping files are never listed to the parquet reader. This is
  * the same architecture Delta Lake's TahoeFileIndex and Iceberg's
  * SparkScan use — the table format owns file listing, Catalyst owns
  * everything else (the parquet row-group pruning below us still applies
  * to the files we do list).
  *
  * Scale: the ONLY driver-resident state is the (path, size) pair per
  * live file — the same footprint Spark's own InMemoryFileIndex keeps
  * for any parquet scan. The per-column min/max and null-count maps are
  * evaluated at [[listFiles]] time: pushed predicates are translated to
  * a keep-file Column over the manifest rows ([[FileSkipping]]), and
  * only the surviving (path, size) list is collected. Below the
  * [[ManifestIO.LocalReadMaxBytes]] gate (32 MB of manifest) the
  * manifest is a driver-local relation and the filter folds into it,
  * with no Spark job; above it the manifest is filtered distributively
  * AS A SPARK JOB — at ~1M files the bounds maps would be multi-GB of
  * driver heap if materialized, and there they never leave the
  * executors.
  *
  * Snapshot isolation: the manifest path list is pinned at construction
  * (and re-pinned by [[refresh]]), so a concurrent commit never changes
  * what an already-planned query reads.
  *
  * Unknown or non-translatable predicates keep every file (superset
  * guarantee; the row filter still runs) — and when NO pushed predicate
  * is translatable the manifest filter is skipped entirely and the
  * cached (path, size) list is served.
  *
  * Evolution note: this path serves tables whose schema never evolved
  * (one schema generation). [[GraftTable.read]] handles evolved tables
  * via per-generation aligned scans.
  */
final class GraftFileIndex(spark: SparkSession, table: GraftTable,
                           asOf: Option[graft.meta.Snapshot] = None)
  extends FileIndex {

  /** THE pinned snapshot — captured exactly once at construction (and
    * re-captured only by [[refresh]]), so every view of this index
    * derives from ONE snapshot: the file list, [[sizeInBytes]], the
    * [[metadataRowCount]] the count fold serves, and the stats-bearing
    * catalog table. Deriving any of them from `table.currentSnapshot`
    * at first-access time instead would let a DataFrame held across a
    * concurrent commit fold `count(*)` to the NEW snapshot's total
    * while its `collect()` scans the OLD pinned files — breaking the
    * snapshot isolation documented above (ADVICE r17). */
  @volatile private var pinnedSnap: Option[graft.meta.Snapshot] =
    asOf.orElse(table.currentSnapshot)

  /** (manifest parquet paths of the pinned snapshot, live (path, size)). */
  private var pinned: (Seq[String], Seq[(String, Long)]) = load()
  // listFiles can be re-entered during (re)planning of the same query
  // (AQE, multiple scan nodes over one relation) — memoize per filter
  // set so each distinct predicate pays the manifest job once.
  // Concurrent: two threads may plan queries over one shared DataFrame.
  private val listCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]

  private def load(): (Seq[String], Seq[(String, Long)]) = {
    val manifests = pinnedSnap.map(_.manifests).getOrElse(Seq.empty)
    (manifests, pathSizes(manifests, FileSkipping.KeepAll))
  }

  /** (path, size) of the manifest rows `keep` admits. */
  private def pathSizes(manifests: Seq[String], keep: Column): Seq[(String, Long)] =
    ManifestIO.relation(spark, hadoopConf, manifests).filter(keep)
      .select("path", "size_bytes")
      .collect().toIndexedSeq.map(r => (r.getString(0), r.getLong(1)))

  override def rootPaths: Seq[Path] = Seq(new Path(table.location))

  override def partitionSchema: StructType = new StructType()

  override def sizeInBytes: Long = pinned._2.map(_._2).sum

  /** Stats-bearing CatalogTable for [[GraftStatsRule]] — memoized per
    * pinned snapshot (the ANALYZE store and row count are read at the
    * same consistency as the file list; [[refresh]] invalidates). */
  private var catalogMemo
      : Option[Option[org.apache.spark.sql.catalyst.catalog.CatalogTable]] =
    None
  def catalogTableWithStats
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    synchronized {
      catalogMemo.getOrElse {
        val ct = GraftStatsRule.catalogTableFor(table, pinnedSnap, sizeInBytes)
        catalogMemo = Some(ct)
        ct
      }
    }

  /** For [[GraftCountRule]]'s manifest-aggregate rewrite. */
  private[sources] def session: SparkSession = spark
  private[sources] def hadoopConf: Configuration = table.hadoopConf
  private[sources] def manifestPaths: Seq[String] = pinned._1
  private[sources] def snapshot: Option[graft.meta.Snapshot] = pinnedSnap

  /** The exact LOGICAL row count of the pinned snapshot, when a bare
    * unfiltered scan of this index returns exactly that many rows —
    * i.e. no outstanding merge-on-read delete files (with deletes, the
    * physical scan over-returns and [[GraftCountRule]] must not fire).
    * Snapshot `totalRows` is maintained by every commit. Reads the SAME
    * [[pinnedSnap]] the file list came from, so a count folded here can
    * never disagree with what a scan of this index would return. */
  def metadataRowCount: Option[Long] =
    pinnedSnap.collect {
      case s if s.deleteManifests.isEmpty && s.eqDeleteManifests.isEmpty =>
        s.totalRows
    }

  override def inputFiles: Array[String] = pinned._2.map(_._1).toArray

  override def refresh(): Unit = synchronized {
    // time travel pins the index to a named snapshot; refresh()
    // deliberately re-pins to the SAME one (an as-of read never moves)
    pinnedSnap = asOf.orElse(table.currentSnapshot)
    pinned = load()
    listCache.clear()
    catalogMemo = None
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val conds = dataFilters.flatMap(keepFile)
    val kept =
      if (conds.isEmpty) pinned._2
      else {
        val key = dataFilters.map(_.canonicalized.toString).sorted.mkString("&")
        listCache.computeIfAbsent(key, _ => pathSizes(pinned._1, conds.reduce(_ && _)))
      }
    val statuses = kept.map { case (p, sz) =>
      new FileStatus(sz, false, 1, 128L * 1024 * 1024, 0L, new Path(p)) }
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
  }

  // ---- predicate → manifest-column translation ---------------------------

  /** Translate a pushed predicate into a "this file might contain a
    * matching row" Column over manifest rows ([[FileSkipping]] owns
    * every rule). None = not translatable, or a rule that keeps every
    * file (pruning is only ever a superset). */
  private def keepFile(expr: Expression): Option[Column] = expr match {
    case And(l, r) => (keepFile(l), keepFile(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (a, b) => a.orElse(b) // one translatable conjunct still prunes
    }
    case Or(l, r) =>
      for { a <- keepFile(l); b <- keepFile(r) } yield a || b
    case LiteralFirst(attrFirst) => keepFile(attrFirst)
    case Not(LiteralFirst(attrFirst)) => keepFile(Not(attrFirst))
    case EqualTo(a: AttributeReference, Literal(v, _)) => mayEqual(a, v)
    case EqualNullSafe(a: AttributeReference, Literal(v, _)) =>
      if (v == null) prune(FileSkipping.mayHaveNulls(a.name)) else mayEqual(a, v)
    case EqualNullSafe(Literal(v, _), a: AttributeReference) =>
      if (v == null) prune(FileSkipping.mayHaveNulls(a.name)) else mayEqual(a, v)
    case GreaterThan(a: AttributeReference, Literal(v, _)) => above(a, v, strict = true)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => above(a, v, strict = false)
    case LessThan(a: AttributeReference, Literal(v, _)) => below(a, v, strict = true)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => below(a, v, strict = false)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      mayEqualAny(a, vs.collect { case Literal(v, _) if v != null => v })
    case InSet(a: AttributeReference, vs) =>
      mayEqualAny(a, vs.toSeq.filter(_ != null))
    case IsNull(a: AttributeReference) => prune(FileSkipping.mayHaveNulls(a.name))
    case IsNotNull(a: AttributeReference) => prune(FileSkipping.mayHaveNonNulls(a.name))
    case Not(IsNull(a: AttributeReference)) => prune(FileSkipping.mayHaveNonNulls(a.name))
    case Not(IsNotNull(a: AttributeReference)) => prune(FileSkipping.mayHaveNulls(a.name))
    case Not(EqualTo(a: AttributeReference, Literal(v, _))) =>
      withValue(a, v)(FileSkipping.mayDifferFrom(a.name, a.dataType, _))
    case StartsWith(a: AttributeReference, Literal(p, StringType)) if p != null =>
      prune(FileSkipping.mayStartWith(a.name, p.toString))
    case _ => None
  }

  /** None for a rule that keeps every file, so an index whose pushed
    * predicates prune nothing skips the manifest filter entirely. */
  private def prune(keep: Column): Option[Column] =
    Some(keep).filter(_ != FileSkipping.KeepAll)

  /** A rule over the non-null Catalyst literal `v` of `a`'s type. */
  private def withValue(a: AttributeReference, v: Any)(
      rule: Column => Column): Option[Column] =
    if (v == null) None else prune(rule(CatalystShims.literal(v, a.dataType)))

  private def mayEqual(a: AttributeReference, v: Any): Option[Column] =
    withValue(a, v)(FileSkipping.mayEqual(a.name, a.dataType, _))

  private def mayEqualAny(a: AttributeReference, vs: Seq[Any]): Option[Column] = {
    val opts = vs.map(v => mayEqual(a, v))
    if (vs.isEmpty || opts.exists(_.isEmpty)) None
    else Some(opts.flatten.reduce(_ || _))
  }

  private def above(a: AttributeReference, v: Any, strict: Boolean): Option[Column] =
    withValue(a, v)(FileSkipping.mayHaveAbove(a.name, a.dataType, _, strict))

  private def below(a: AttributeReference, v: Any, strict: Boolean): Option[Column] =
    withValue(a, v)(FileSkipping.mayHaveBelow(a.name, a.dataType, _, strict))
}

/** `literal op attribute` as the equivalent `attribute op' literal`, so
  * the manifest-statistics translators ([[GraftFileIndex]]'s keep-file
  * rules, [[GraftCountRule]]'s fold) match one orientation. `<=>` is
  * left alone: each translator handles its own NULL side. */
private[sources] object LiteralFirst {
  def unapply(e: Expression): Option[Expression] = e match {
    case EqualTo(l: Literal, a: AttributeReference) => Some(EqualTo(a, l))
    case LessThan(l: Literal, a: AttributeReference) => Some(GreaterThan(a, l))
    case LessThanOrEqual(l: Literal, a: AttributeReference) => Some(GreaterThanOrEqual(a, l))
    case GreaterThan(l: Literal, a: AttributeReference) => Some(LessThan(a, l))
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => Some(LessThanOrEqual(a, l))
    case _ => None
  }
}
