package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.types._

import graft.meta.{FileScope, FileSkipping, GraftTable, ManifestEntry, ManifestIO}

/** The one Catalyst [[FileIndex]] over table-owned parquet: every scan
  * of data, position-delete and equality-delete files lists its files
  * here, from the manifest rows of a [[FileScope]] — the (path, size)
  * the manifest already holds, with no listing and no stat. That makes
  * file skipping AUTOMATIC: any `WHERE` predicate a query pushes into
  * the scan is tested against each file's manifest statistics (min/max
  * bounds, null counts, blooms), and non-overlapping files are never
  * listed to the parquet reader. This is the same architecture Delta
  * Lake's TahoeFileIndex and Iceberg's SparkScan use — the table format
  * owns file listing, Catalyst owns everything else (the parquet
  * row-group pruning below us still applies to the files we do list).
  *
  * Scale: the ONLY driver-resident state is the scope's (path, size)
  * entries — the same footprint Spark's own InMemoryFileIndex keeps for
  * any parquet scan. Pushed predicates are translated at [[listFiles]]
  * time to a keep-file Column over the scope's manifest rows
  * ([[FileSkipping]]): a whole snapshot lists just the surviving rows
  * (its full list is never read then), a subset keeps its own files
  * among them ([[ManifestIO.survivingFiles]]). Below the
  * [[ManifestIO.LocalReadMaxBytes]] gate (32 MB of manifest) the
  * keep-file Column is evaluated on the driver over the cached manifest
  * rows, with no query planned or executed; above it the manifest is
  * filtered distributively AS A SPARK JOB — at ~1M files the bounds
  * maps would be multi-GB of driver heap if materialized, and there
  * they never leave the executors.
  *
  * Snapshot isolation: the scope is pinned at construction (and
  * re-pinned by [[refresh]], through `pin`), so a concurrent commit
  * never changes what an already-planned query reads.
  *
  * Only a scope that is a whole snapshot ([[FileScope.whole]]) answers
  * [[metadataRowCount]] or [[catalogTableWithStats]]: a subset scan
  * (one schema generation, an optimize bin, an affected-file set)
  * reports its size only, so [[GraftCountRule]] and [[GraftStatsRule]]
  * never fold it to the table's totals.
  *
  * Unknown or non-translatable predicates keep every file (superset
  * guarantee; the row filter still runs) — and when NO pushed predicate
  * is translatable the manifest filter is skipped entirely and the
  * pinned list is served.
  */
final class GraftFileIndex(spark: SparkSession, table: GraftTable,
                           dataSchema: StructType, pin: () => FileScope)
  extends FileIndex {

  /** THE pinned scope — captured exactly once at construction (and
    * re-captured only by [[refresh]]), so every view of this index
    * derives from it: the file list, [[sizeInBytes]], the
    * [[metadataRowCount]] the count fold serves, and the stats-bearing
    * catalog table. Deriving any of them from `table.currentSnapshot`
    * at first-access time instead would let a DataFrame held across a
    * concurrent commit fold `count(*)` to the NEW snapshot's total
    * while its `collect()` scans the OLD pinned files. */
  @volatile private var scope: FileScope = pin()
  // listFiles can be re-entered during (re)planning of the same query
  // (AQE, multiple scan nodes over one relation) — memoize per filter
  // set so each distinct predicate pays the manifest filter once.
  // Concurrent: two threads may plan queries over one shared DataFrame.
  private val listCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[ManifestEntry]]

  override def rootPaths: Seq[Path] = Seq(new Path(table.location))

  override def partitionSchema: StructType = new StructType()

  override def sizeInBytes: Long = scope.sizeInBytes

  /** Stats-bearing CatalogTable for [[GraftStatsRule]] — whole-snapshot
    * scopes only, memoized per pinned scope and plan-stats setting (the
    * ANALYZE store and row count are read at the same consistency as
    * the file list; [[refresh]] invalidates). */
  private var catalogMemo: Map[Boolean,
      Option[org.apache.spark.sql.catalyst.catalog.CatalogTable]] = Map.empty
  def catalogTableWithStats
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    synchronized {
      val conf = spark.sessionState.conf
      val planStats = conf.cboEnabled || conf.planStatsEnabled
      catalogMemo.getOrElse(planStats, {
        val ct = GraftStatsRule.catalogTableFor(table, dataSchema, scope.whole,
          sizeInBytes, planStats)
        catalogMemo += planStats -> ct
        ct
      })
    }

  /** For [[GraftCountRule]]'s manifest-aggregate rewrite, which runs
    * only where [[metadataRowCount]] is defined: there these are the
    * whole snapshot's manifests. */
  private[sources] def session: SparkSession = spark
  private[sources] def hadoopConf: Configuration = table.hadoopConf
  private[sources] def manifestPaths: Seq[String] = scope.manifests

  /** The exact LOGICAL row count of the pinned snapshot, when this
    * index lists every live file of it and a bare unfiltered scan
    * returns exactly that many rows — i.e. no outstanding merge-on-read
    * delete files (with deletes, the physical scan over-returns and
    * [[GraftCountRule]] must not fire). None for a subset scope.
    * Snapshot `totalRows` is maintained by every commit. */
  def metadataRowCount: Option[Long] =
    scope.whole.collect {
      case s if s.deleteManifests.isEmpty && s.eqDeleteManifests.isEmpty =>
        s.totalRows
    }

  override def inputFiles: Array[String] = scope.files.map(_.path).toArray

  override def refresh(): Unit = synchronized {
    // a time-travel or subset pin re-pins to the SAME scope (an as-of
    // read never moves); the public source's re-pins to the head
    scope = pin()
    listCache.clear()
    catalogMemo = Map.empty
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val s = scope
    val conds = dataFilters.flatMap(keepFile)
    // files no manifest lists yet (a commit's own read-back) have no
    // statistics to prune by
    val kept =
      if (conds.isEmpty || s.manifests.isEmpty) s.files
      else {
        val key = dataFilters.map(_.canonicalized.toString).sorted.mkString("&")
        listCache.computeIfAbsent(key, _ => {
          val survivors = ManifestIO.survivingFiles(spark, hadoopConf, s.manifests,
            conds.reduce(_ && _))
          // a whole snapshot's survivors are its files; a subset keeps
          // its own among them
          if (s.whole.isDefined) survivors
          else {
            val paths = survivors.iterator.map(_.path).toSet
            s.files.filter(f => paths(f.path))
          }
        })
      }
    val statuses = kept.map { f =>
      new FileStatus(f.sizeBytes, false, 1, 128L * 1024 * 1024, 0L, new Path(f.path)) }
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
    case EqualTo(a: AttributeReference, Literal(v, _)) => mayEqualAny(a, Seq(v))
    case EqualNullSafe(a: AttributeReference, Literal(v, _)) =>
      if (v == null) prune(FileSkipping.mayHaveNulls(a.name)) else mayEqualAny(a, Seq(v))
    case EqualNullSafe(Literal(v, _), a: AttributeReference) =>
      if (v == null) prune(FileSkipping.mayHaveNulls(a.name)) else mayEqualAny(a, Seq(v))
    case GreaterThan(a: AttributeReference, Literal(v, _)) => above(a, v, strict = true)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => above(a, v, strict = false)
    case LessThan(a: AttributeReference, Literal(v, _)) => below(a, v, strict = true)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => below(a, v, strict = false)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      mayEqualAny(a, vs.collect { case Literal(v, _) => v })
    case InSet(a: AttributeReference, vs) =>
      mayEqualAny(a, vs.toSeq)
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

  /** `a = v` or `a IN (vs)` (Catalyst values), for a list of any length
    * (a localized key set runs to thousands of values):
    * [[FileSkipping.mayContainAny]], whose expression stays small
    * whatever the list's length. No non-null value keeps every file. */
  private def mayEqualAny(a: AttributeReference, vs: Seq[Any]): Option[Column] = {
    val nn = vs.filter(_ != null)
    if (nn.isEmpty) None
    else prune(FileSkipping.mayContainAny(a.name, a.dataType,
      nn.map(CatalystTypeConverters.convertToScala(_, a.dataType))))
  }

  private def above(a: AttributeReference, v: Any, strict: Boolean): Option[Column] =
    withValue(a, v)(FileSkipping.mayHaveAbove(a.name, a.dataType, _, strict))

  private def below(a: AttributeReference, v: Any, strict: Boolean): Option[Column] =
    withValue(a, v)(FileSkipping.mayHaveBelow(a.name, a.dataType, _, strict))
}

object GraftFileIndex {
  /** The scan relation over `pin`'s files, decoded with `dataSchema`: a
    * plain parquet HadoopFsRelation whose file listing is a
    * [[GraftFileIndex]]'s. Raw rows — outstanding deletes are the
    * caller's to refuse or apply. */
  private[graft] def relation(spark: SparkSession, table: GraftTable,
                              dataSchema: StructType,
                              pin: () => FileScope): HadoopFsRelation = {
    // ANALYZE stats → Catalyst CBO (see GraftStatsRule): installed on
    // first load, rewrites this relation's plan stats at optimize time
    GraftStatsRule.ensureInstalled(spark)
    GraftCountRule.ensureInstalled(spark)
    HadoopFsRelation(
      location = new GraftFileIndex(spark, table, dataSchema, pin),
      partitionSchema = new StructType(),
      // nullable, as a path-list parquet read declares it: a file may
      // hold NULLs a NOT NULL table column was later given (a MERGE
      // INSERT omitting the column)
      dataSchema = dataSchema.toNullable,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** [[relation]] over a fixed scope, as a DataFrame. */
  private[graft] def scan(spark: SparkSession, table: GraftTable,
                          dataSchema: StructType, scope: FileScope): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, table, dataSchema, () => scope))
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
