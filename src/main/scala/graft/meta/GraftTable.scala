package graft.meta

import java.time.Clock
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The "graft table format": a directory of immutable parquet data files
  * plus a `_graft/` metadata tree —
  *
  * {{{
  * <table>/
  *   data/<commit-uuid>/part-*.parquet     immutable data files
  *   _graft/log/v<N>.snapshots.json        versioned table metadata (SnapshotLog):
  *                                         snapshots, refs, tags, schema
  *                                         versions, partition spec, properties
  *   _graft/manifests/<uuid>/              per-snapshot file inventory
  *   _graft/stats/, _graft/stats_inc/      ANALYZE output
  * }}}
  *
  * This re-implements, Spark-native over plain parquet, the Iceberg table
  * semantics the reference drives through Trino (reference:
  * trino_iceberg_maintenance/__main__.py:141-199 — remove_orphan_files,
  * expire_snapshots, optimize, ANALYZE; metadata table "t\$files" used by
  * tests/test_maintenance.py:50). No Iceberg jar exists in this
  * environment (SURVEY.md §0), so the snapshot layer is ours.
  *
  * Scale posture (100 TB): the per-file inventory is a parquet manifest
  * consumed as a DataFrame; orphan-file and snapshot-expiry set algebra
  * run as distributed anti-joins over those manifests, and file deletion
  * fans out over executors. Only the O(#snapshots) log and the final
  * scan-file list ever touch the driver — the latter is the same
  * driver-side listing Spark's own InMemoryFileIndex performs for any
  * parquet scan.
  *
  * Concurrency: two layers. In-process, commits serialize on a JVM-wide
  * per-path lock — the discipline the reference imposes with its
  * module-level RLock (__main__.py:18). ACROSS processes, every log
  * write is an optimistic CAS on the versioned snapshot log, run by the
  * one bounded read-rebuild-retry loop in [[Commit]]: each commit site
  * states its successor snapshot as a function of the fresh head and
  * names its conflict rule, so a cron maintenance job racing ad-hoc
  * writers (the reference's deployment model) never loses a commit.
  */
final class GraftTable private[graft] (val spark: SparkSession, val location: String,
                                       private[graft] val positionIndexMaxBytes: Long) {
  import GraftTable._

  /** A handle on the table at `location`. Position deletes totalling up
    * to [[ManifestIO.LocalReadMaxBytes]] apply through a driver-built
    * index ([[PositionDeletes]]); tests construct a handle with a
    * negative bound to run the distributed join over the same table. */
  def this(spark: SparkSession, location: String) =
    this(spark, location, ManifestIO.LocalReadMaxBytes)

  private val tableDir = new Path(location)
  /** The handle's one Hadoop conf: its FileSystem, footer reads and
    * driver-local manifest I/O all share it (a fresh conf per call
    * would re-read Hadoop's default resources each time). */
  private[graft] val hadoopConf: Configuration =
    spark.sessionState.newHadoopConf()
  private val fs: FileSystem = tableDir.getFileSystem(hadoopConf)
  /** [[hadoopConf]] plus Spark's parquet write-support keys, set once:
    * driver-local manifest writes take it as is. */
  private[graft] lazy val manifestWriteConf: Configuration =
    ManifestIO.writeConf(hadoopConf)
  // JVM-wide lock per table path, not per GraftTable instance — two
  // in-process handles on the same table serialize commits here (cheap);
  // cross-process writers are handled by the log CAS instead.
  private val commitLock = GraftTable.lockFor(location)

  // ---- metadata: one read per op ------------------------------------------

  /** The metadata pinned by the op in progress on this thread (null
    * outside an op). */
  private val pinned = new ThreadLocal[TableMetadata]

  /** The table metadata ([[TableMetadata]]): the value the op in
    * progress pinned, else one read of the log head. Every accessor
    * derives from it. */
  private[graft] def metadata: TableMetadata = pinned.get match {
    case null => SnapshotLog.readState(fs, tableDir)._2
    case m => m
  }

  /** Run `body` as one op: the outermost op reads the metadata once and
    * pins it, each claim the op makes re-pins the claimed value, and the
    * pin ends with the op — nothing is cached across ops. */
  private[graft] def op[T](body: => T): T =
    if (pinned.get != null) body
    else {
      pinned.set(SnapshotLog.readState(fs, tableDir)._2)
      try body finally pinned.remove()
    }

  /** [[op]] under the table's commit lock: the pin is read inside the
    * lock, so it is the head this process's last commit left. */
  private[graft] def writeOp[T](body: => T): T = commitLock.synchronized(op(body))

  /** Claim `step` through the commit loop ([[Commit.claim]]); the op in
    * progress follows the claimed metadata. */
  private[graft] def claim(op: String)(
      step: TableMetadata => Option[TableMetadata]): Option[TableMetadata] = {
    val claimed = Commit.claim(fs, tableDir, op)(step)
    if (pinned.get != null) claimed.foreach(pinned.set)
    claimed
  }

  /** Commit one snapshot on `branch` ([[Commit.snapshot]]). With `rows`,
    * the commit writes table rows, conformed to the op's schema: a head
    * whose schema changed since is refused. */
  private def commitSnapshot(op: String, branch: String, conflict: Commit.Conflict,
                             rows: Boolean)(next: (Long, Option[Snapshot]) => Snapshot): Unit = {
    val schemaId = Option.when(rows)(metadata.schemaId)
    val claimed = Commit.snapshot(fs, tableDir, op, branch, conflict, schemaId)(next)
    if (pinned.get != null) pinned.set(claimed)
  }

  def snapshots: Seq[Snapshot] = metadata.snapshots

  /** Head of `main`: the branch ref once refs are materialized, else
    * the implicit pre-branching head (max snapshot id). */
  def currentSnapshot: Option[Snapshot] = metadata.head("main")

  def schema: StructType = {
    val m = metadata
    if (m.schemas.isEmpty) throw new IllegalArgumentException(s"no graft table at $location")
    m.schema
  }

  // ---- table properties --------------------------------------------------

  /** Table properties — the Iceberg table-property surface. Recognized
    * keys:
    *   - `write.bloom-filter.columns`: comma-separated column names that
    *     get a per-file bloom filter in the manifest at write time
    *     (point-lookup file skipping on columns min/max can't prune).
    *   - `write.bloom-filter.expected-rows`: sizing hint per file
    *     (default 200000; 8 bits/row ⇒ ~2% false-positive rate). */
  def properties: Map[String, String] = metadata.properties

  /** Compaction target size: Iceberg's `write.target-file-size-bytes`
    * table property when set, else the 128 MB Iceberg default. */
  def defaultTargetFileBytes: Long =
    properties.get("write.target-file-size-bytes").map(_.toLong)
      .getOrElse(128L * 1024 * 1024)

  /** The one writer of table-owned parquet (data, position-delete and
    * eq-delete files): `df` into a fresh commit dir `data/<uuid>`,
    * honoring Iceberg's `write.parquet.compression-codec` property
    * (unset keeps Spark's session codec), Spark's `_SUCCESS` marker
    * dropped. Table rows pass [[conform]] before they get here. */
  private[graft] def writeFiles(df: DataFrame): DataFiles = {
    val dir = new Path(tableDir, s"data/${UUID.randomUUID()}")
    properties.get("write.parquet.compression-codec")
      .fold(df.write)(c => df.write.option("compression", c.toLowerCase))
      .parquet(dir.toString)
    fs.delete(new Path(dir, "_SUCCESS"), false)
    DataFiles(dir, listFiles(fs, dir))
  }

  /** The write-schema contract of every table-row write, Iceberg's rule
    * (https://iceberg.apache.org/spec/#schema-evolution): `df`'s columns
    * match the table's `to` BY NAME under the session resolver (a case
    * difference matches, as on read), a type may only be promoted
    * ([[icebergWiden]]), nested types match apart from nullability,
    * and a missing nullable column fills NULL. An unknown, mistyped,
    * ambiguous or missing non-nullable column is refused. The result is
    * projected in table order under the table's spelling — `df` itself
    * when it already is. Schema-only: no Spark job, no row nullability
    * check. Changing the schema goes through [[replace]] or the
    * evolution DDL. */
  private[graft] def conform(df: DataFrame, to: StructType = schema): DataFrame = {
    val sources = writeSources(df.schema, to)
    if (df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        to.fields.map(f => (f.name, f.dataType)).toSeq) df
    else df.select(to.fields.toSeq.zip(sources).map {
      case (t, None) => lit(null).cast(t.dataType).as(t.name)
      case (t, Some(f)) =>
        val c = df.col(s"`${f.name.replace("`", "``")}`")
        (if (icebergWiden(f.dataType, t.dataType)) c.cast(t.dataType) else c).as(t.name)
    }: _*)
  }

  /** Per column of `table`, the column of `frame` that feeds it (None:
    * NULL fill), or the write refused as [[conform]] says. With `adopt`
    * (files taken in as they are, [[addFiles]]) only equal types and
    * names spelled as the table's pass: no byte is rewritten, and the
    * files' footer stats stay keyed by their own spelling while
    * metadata answers look them up under the table's. */
  private[graft] def writeSources(frame: StructType, table: StructType,
                                  adopt: Boolean = false): Seq[Option[StructField]] = {
    val resolver =
      if (adopt) org.apache.spark.sql.catalyst.analysis.caseSensitiveResolution
      else spark.sessionState.conf.resolver
    val unknown = frame.fields.filterNot(f => table.exists(t => resolver(t.name, f.name)))
      .map(f => s"unknown column ${f.name}")
    val sources = table.fields.toSeq.map(t => t -> frame.fields.filter(f => resolver(f.name, t.name)))
    val wrong = sources.collect {
      case (t, Array()) if !t.nullable => s"missing non-nullable column ${t.name}"
      case (t, Array(f)) if !sameIgnoringNullability(f.dataType, t.dataType) &&
          !(!adopt && icebergWiden(f.dataType, t.dataType)) =>
        s"column ${f.name} is ${f.dataType.simpleString}, table has ${t.dataType.simpleString}"
      case (t, fs) if fs.length > 1 => s"ambiguous column ${t.name}: ${fs.map(_.name).mkString(", ")}"
    }
    require(unknown.isEmpty && wrong.isEmpty, s"write schema mismatch: " +
      s"${(unknown ++ wrong).mkString("; ")} (table ${table.simpleString}, " +
      s"frame ${frame.simpleString}); change a schema with replace or the evolution DDL")
    sources.map(_._2.headOption)
  }

  /** Merge properties in (null-valued keys are removed), one claim.
    * Takes effect on the NEXT write — existing files keep whatever stats
    * they have. */
  def setProperties(kv: Map[String, String]): Unit =
    commitLock.synchronized {
      claim("set_properties")(m =>
        Some(m.copy(properties = (m.properties ++ kv).filter(_._2 != null))))
    }

  /** Bloom-filter columns currently configured (∩ the given schema). */
  private def bloomColumns(available: Seq[String]): Seq[String] =
    properties.get("write.bloom-filter.columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .filter(available.contains)

  /** Write sort order from the `sorted_by` table property (Trino
    * Iceberg's `sorted_by = ARRAY['a', 'b DESC']`, canonicalized by the
    * SQL layer to `a, b DESC`): (column, descending) pairs. Appends and
    * compactions range-cluster by these columns so every data file
    * covers a tight value range and min/max file skipping works on the
    * sort columns — Iceberg's write.distribution-mode=range + local
    * sort. Empty when the property is unset. */
  def sortOrder: Seq[(String, Boolean)] =
    properties.get("sorted_by").toSeq
      .flatMap(GraftTable.parseSortOrderProp)

  /** [[sortOrder]] as sort expressions over `df`'s columns. */
  private[graft] def sortExprs(df: DataFrame): Seq[Column] =
    sortExprsFrom(df, sortOrder)

  private def sortExprsFrom(df: DataFrame,
                            order: Seq[(String, Boolean)]): Seq[Column] =
    order.map { case (c, desc) =>
      require(df.columns.contains(c), s"sorted_by column $c not in schema")
      if (desc) df(c).desc else df(c).asc
    }

  /** Metadata relation: one row per live data file — the engine-native
    * analogue of Iceberg's `"t$files"` (tests/test_maintenance.py:50). */
  def files: DataFrame = currentSnapshot match {
    case Some(s) if s.manifests.nonEmpty =>
      ManifestIO.relation(spark, hadoopConf, s.manifests)
    case _ => ManifestIO.emptyRelation(spark)
  }

  /** Scan of the current snapshot. */
  def read: DataFrame = op(readSnapshot(currentSnapshot))

  /** Time travel: scan the table exactly as of `snapshotId`. Expired
    * snapshots read as absent (their manifests are gone). */
  def readAsOf(snapshotId: Long): DataFrame =
    op(readSnapshot(snapshots.find(_.snapshotId == snapshotId)))

  /** Time travel by wall clock: the latest snapshot committed at or
    * before `tsMillis` (Iceberg's `FOR TIMESTAMP AS OF`). */
  def readAsOfTime(tsMillis: Long): DataFrame = op {
    val eligible = snapshots.filter(_.timestampMs <= tsMillis)
    readSnapshot(if (eligible.isEmpty) None else Some(eligible.maxBy(_.snapshotId)))
  }

  /** Incremental append scan (Iceberg's incremental read): ONLY the rows
    * added by snapshots in `(fromId, toId]` — the shape an incremental
    * 100 TB pipeline consumes ("process what arrived since my last
    * checkpoint") without rescanning the table. Planning is
    * metadata-only: `toId`'s manifest filtered on `added_snapshot_id`.
    * Like Iceberg, the range must be append-only — a replacement commit
    * (overwrite/merge/delete) rewrites surviving rows into new files,
    * which would re-surface old rows as "new"; such ranges are refused
    * loudly. Compactions (optimize / z-order) are TRANSPARENT for a
    * caught-up consumer: they add no logical rows, so the scan skips
    * their rewritten files — a nightly optimize no longer breaks every
    * checkpointed stream. The one unrecoverable shape is an UNCONSUMED
    * append that a later in-range compaction already rewrote (its rows
    * were folded into compaction-stamped files, indistinguishable from
    * older rows); that is still refused. */
  def readIncremental(fromId: Long, toId: Long): DataFrame = op {
    require(fromId <= toId, s"bad incremental range ($fromId, $toId]")
    val all = snapshots
    val to = all.find(_.snapshotId == toId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $toId"))
    require(fromId == 0 || all.exists(_.snapshotId == fromId),
      s"no snapshot $fromId")
    val range = all.filter(s => s.snapshotId > fromId && s.snapshotId <= toId)
    def compaction(s: Snapshot) = s.operation.startsWith("optimize")
    require(range.forall(s => s.isAppend || s.isRowNeutral || compaction(s)),
      "incremental scan supports append-only ranges; found: " +
        range.filterNot(s => s.isAppend || s.isRowNeutral || compaction(s))
          .map(_.operation).distinct.mkString(", "))
    range.filter(compaction).foreach { c =>
      val lost = range.filter(s =>
        s.snapshotId < c.snapshotId && s.isAppend)
      require(lost.isEmpty, "incremental scan cannot cross compaction " +
        s"${c.snapshotId}: unconsumed appends " +
        s"${lost.map(_.snapshotId).mkString(", ")} were compacted into " +
        "it and their row lineage is lost")
    }
    if (range.isEmpty || to.manifests.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val compactionIds = range.filter(compaction).map(_.snapshotId)
    readFilesAligned(scopeOf(to,
      col("added_snapshot_id") > fromId && col("added_snapshot_id") <= toId &&
        !col("added_snapshot_id").isin(compactionIds: _*)))
  }

  /** Row-level changelog of `(fromId, toId]` (Delta CDF / Iceberg
    * changelog shape): one row per change event, stamped with
    * `_change_type` ('insert' | 'delete') and `_commit_snapshot_id`,
    * in commit order. Append snapshots emit their added rows as
    * inserts (planned metadata-only from `added_snapshot_id`, exactly
    * like [[readIncremental]]); merge-on-read delete snapshots emit
    * the rows their DELTA delete manifests removed — position entries
    * at (file, pos) ([[PositionDeletes.select]]), equality entries by a key
    * semi-join against the strictly-older files; upserts emit both
    * their delete and insert events under one commit id. A row
    * appended then deleted inside the range appears twice — once per
    * event, as CDC semantics require.
    *
    * Copy-on-write delete/merge commits emit their NET changes by
    * multiset-diffing the files they removed against the files they
    * added (carry-over elimination, the Iceberg
    * `create_changelog_view` shape) — cost scales with the rewritten
    * file set. Compactions (optimize / z-order) move bytes, not
    * logical rows, and emit nothing. Overwrites record no row-level
    * lineage at all and are refused loudly. Ranges must lie within
    * retained (un-expired) history. */
  def readChanges(fromId: Long, toId: Long): DataFrame = op {
    require(fromId <= toId, s"bad changelog range ($fromId, $toId]")
    val all = snapshots
    val byId = all.map(s => s.snapshotId -> s).toMap
    require(byId.contains(toId), s"no snapshot $toId")
    require(fromId == 0 || byId.contains(fromId), s"no snapshot $fromId")
    val range = all.filter(s => s.snapshotId > fromId && s.snapshotId <= toId)
      .sortBy(_.snapshotId)
    // Copy-on-write replacement commits with row-level semantics: their
    // net changes are recoverable by diffing the removed files against
    // the rewritten ones (carry-over elimination, Iceberg's
    // create_changelog_view shape) — cost scales with the REWRITTEN
    // file set, never the table.
    def cowTracked(s: Snapshot) =
      s.operation == "cow_delete" || s.operation == "merge" ||
        s.operation == "update"
    // Compactions rewrite bytes but change no logical rows — zero
    // events, the way Iceberg's incremental scans skip REPLACE
    // snapshots. (A compaction that materializes merge-on-read deletes
    // is still neutral here: those delete events were emitted at the
    // delete's own snapshot.)
    def compaction(s: Snapshot) = s.operation.startsWith("optimize")
    def tracked(s: Snapshot) = s.isAppend || s.isRowNeutral ||
      s.operation == "delete" || s.operation.startsWith("upsert") ||
      s.operation.startsWith("stream_upsert") || cowTracked(s) ||
      compaction(s)
    require(range.forall(tracked),
      "changelog supports append / merge-on-read delete / upsert / " +
        "copy-on-write delete+merge / compaction ranges; found: " +
        range.filterNot(tracked).map(_.operation).distinct.mkString(", "))
    if (range.exists(cowTracked))
      require(schema.fields.forall(f => groupableType(f.dataType)),
        "changelog over copy-on-write commits diffs whole rows, which " +
          "requires every column to be comparable — map-typed columns " +
          "are not; use merge-on-read deletes/upserts on this table")
    // Deltas are computed against each snapshot's PARENT — an expired
    // parent would make carried delete manifests look fresh (spurious
    // delete events) and silently omit expired inserts. Applies to the
    // fromId == 0 whole-history read too: its chain must resolve to a
    // genesis commit (parentId -1), not to an expiry hole.
    range.foreach { s =>
      require(s.parentId == -1L || byId.contains(s.parentId),
        s"changelog range reaches expired history: snapshot " +
          s"${s.snapshotId}'s parent ${s.parentId} is no longer retained")
    }
    // Structural defense against replacement commits that reuse a
    // tracked op name (legacy logs): MOR delete/upsert commits always
    // CARRY the parent's data manifests (append-only list growth); a
    // replacement rewrites the list from scratch and has no row-level
    // lineage to emit. (CoW and compaction commits are replacements by
    // design and are handled by diff / skipped above.)
    range.filterNot(s => s.isAppend || s.isRowNeutral || cowTracked(s) ||
        compaction(s)).foreach { s =>
      require(byId.get(s.parentId)
          .exists(p => s.manifests.startsWith(p.manifests)),
        s"snapshot ${s.snapshotId} (${s.operation}) is a replacement " +
          "commit — it rewrote data files without row-level lineage; " +
          "changelog ranges containing it are not expressible")
    }
    val changeSchema = StructType(schema.fields :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_snapshot_id", LongType, nullable = false))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val parts = range.flatMap { s =>
      // row-neutral reshuffles (rewrite_manifests / rewrite_deletes)
      // replace manifest LISTS without changing logical rows — their
      // "delta" manifests are re-packagings, not new events; ditto
      // compactions (optimize / z-order), which only move bytes
      if (s.isRowNeutral || compaction(s)) Seq.empty else {
      def stamp(df: DataFrame, kind: String): DataFrame = df
        .withColumn("_change_type", lit(kind))
        .withColumn("_commit_snapshot_id", lit(s.snapshotId))
      val parent = byId.get(s.parentId)

      if (cowTracked(s)) {
        // Net row-level changes of a copy-on-write rewrite: diff the
        // removed files (as of the PARENT, its merge-on-read deletes
        // applied) against the files this commit added. Survivor rows
        // the rewrite carried over cancel in the multiset diff; what
        // remains is exactly the deleted rows (cow_delete) or the
        // delete+insert pairs of replaced keys plus new-key inserts
        // (merge).
        val pScope = parent.fold(FileScope.Empty)(scopeOf)
        val sScope = scopeOf(s)
        val pPaths = pScope.files.map(_.path).toSet
        val sPaths = sScope.files.map(_.path).toSet
        val removed = pScope.subset(f => !sPaths(f.path))
        val added = sScope.subset(f => !pPaths(f.path))
        val names = schema.fieldNames.toSeq
        val before =
          if (removed.files.isEmpty || parent.isEmpty) empty
          else morReadFiles(parent.get, removed).select(names.map(col): _*)
        val after =
          if (added.files.isEmpty) empty
          else readFilesAligned(added).select(names.map(col): _*)
        val (dels, ins) = netRowDiff(before, after)
        Seq(stamp(dels, "delete"), stamp(ins, "insert"))
      } else {

      // inserts: rows in files this snapshot added
      val inserts: Option[DataFrame] =
        if (s.manifests.isEmpty) None
        else {
          val added = scopeOf(s, col("added_snapshot_id") === s.snapshotId)
          if (added.files.isEmpty) None
          else Some(stamp(readFilesAligned(added), "insert"))
        }

      // position-delete events: rows the delta pos manifests removed
      val posDeletes: Option[DataFrame] = {
        val prior = parent.map(_.deleteManifests.toSet).getOrElse(Set.empty)
        val dels = listedScope(s.deleteManifests.filterNot(prior))
        if (dels.files.isEmpty) None
        else {
          val scope = scopeOf(s)
          val data = readFilesAligned(scope, Some(MorPathCol), Some(MorPosCol))
          Some(stamp(PositionDeletes.select(this, data, MorPathCol, MorPosCol, dels, scope)
            .drop(MorPathCol, MorPosCol), "delete"))
        }
      }

      // equality-delete events: older rows matching the delta eq keys
      val eqDeletes: Option[DataFrame] = {
        val prior = parent.map(_.eqDeleteManifests.toSet).getOrElse(Set.empty)
        val delta = s.eqDeleteManifests.filterNot(prior)
        if (delta.isEmpty) None
        else {
          // view as of the PARENT (the rows the delete acted on),
          // restricted to key matches — null-safe, one scan over the
          // delta manifests, one semi-join per key set
          val base = parent.map(p => morReadFiles(p, scopeOf(p)))
            .getOrElse(empty)
          val dfs = eqFileInfos(delta).groupBy(_.keys).toSeq
            .map { case (keyNames, group) =>
              val entries = eqEntriesOf(delta, group)
              val cond = keyNames.map(k => base(k) <=> entries(k))
                .reduce(_ && _)
              base.join(entries, cond, "left_semi")
            }
          if (dfs.isEmpty) None
          else Some(stamp(dfs.reduce(_ unionByName _), "delete"))
        }
      }
      // order matters for readability only: deletes before inserts
      posDeletes.toSeq ++ eqDeletes.toSeq ++ inserts.toSeq
      }
      }
    }
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], changeSchema)
    else parts.reduce(_ unionByName _)
  }

  /** Net multiset row difference (before∖after, after∖before) — the
    * carry-over elimination Iceberg's `create_changelog_view` performs
    * for copy-on-write commits. One hash aggregation per side keyed on
    * every column, one null-safe full-outer join; duplicate rows diff
    * by COUNT, so a table holding N identical copies deletes exactly
    * as many events as copies removed. Cost scales with the rewritten
    * file set handed in, never the table. */
  private def netRowDiff(before: DataFrame, after: DataFrame): (DataFrame, DataFrame) = {
    val names = schema.fieldNames.toSeq
    val b = before.groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("__graft_cb"))
    val a = after.groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("__graft_ca"))
      .select(names.map(n => col(n).as(s"__graft_a_$n")) :+
        col("__graft_ca"): _*)
    val merged = b.join(a,
        names.map(n => col(n) <=> col(s"__graft_a_$n")).reduce(_ && _),
        "full_outer")
      .select(names.map(n => coalesce(col(n), col(s"__graft_a_$n")).as(n)) :+
        (coalesce(col("__graft_cb"), lit(0L)) -
          coalesce(col("__graft_ca"), lit(0L))).as("__graft_delta"): _*)
    def dup(df: DataFrame, times: Column) = df
      .withColumn("__graft_dup", explode(sequence(lit(1L), times)))
      .select(names.map(col): _*)
    (dup(merged.filter(col("__graft_delta") > 0), col("__graft_delta")),
      dup(merged.filter(col("__graft_delta") < 0), -col("__graft_delta")))
  }

  /** Whole-row grouping (netRowDiff) works for every type except maps. */
  private def groupableType(dt: DataType): Boolean = dt match {
    case _: MapType => false
    case ArrayType(e, _) => groupableType(e)
    case StructType(fs) => fs.forall(f => groupableType(f.dataType))
    case _ => true
  }

  /** Roll `main` back to an earlier snapshot (Iceberg's
    * `rollback_to_snapshot`): one atomic ref move in the claimed state —
    * no data is touched, later snapshots stay readable by id until
    * expiry, and the next commit chains onto the rolled-back head. */
  def rollback(snapshotId: Long): Unit = commitLock.synchronized {
    claimRefs("rollback") { st =>
      require(st.snapshots.exists(_.snapshotId == snapshotId),
        s"no snapshot $snapshotId")
      st.copy(refs = st.branchRefs + ("main" -> snapshotId))
    }
  }

  private def readSnapshot(snap: Option[Snapshot]): DataFrame = snap match {
    case Some(s) if s.numFiles > 0 && s.manifests.nonEmpty =>
      morReadFiles(s, scopeOf(s))
    case _ =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Every live data file of `s`: the whole-snapshot scope. */
  private[graft] def scopeOf(s: Snapshot): FileScope =
    new FileScope(s.manifests, listedScope(s.manifests).files, Some(s))

  /** The live data files of `s` that `keep` admits (a subset scope). */
  private[graft] def scopeOf(s: Snapshot, keep: Column): FileScope =
    listedScope(s.manifests, keep)

  /** The files `manifests` list (data or delete) that `keep` admits. */
  private def listedScope(manifests: Seq[String],
                          keep: Column = FileSkipping.KeepAll): FileScope =
    FileScope(manifests, ManifestIO.survivingFiles(spark, hadoopConf, manifests, keep))

  private[graft] def liveFiles: IndexedSeq[ManifestEntry] =
    liveFiles(FileSkipping.KeepAll)

  /** The current snapshot's live files that `keep` admits. */
  private def liveFiles(keep: => Column): IndexedSeq[ManifestEntry] =
    currentSnapshot match {
      case Some(s) if s.numFiles > 0 && s.manifests.nonEmpty => scopeOf(s, keep).files
      case _ => IndexedSeq.empty
    }

  /** [[liveFiles]] bounds-pruned to files whose per-key-column value
    * range overlaps the key set's min/max: the candidates of a bulk
    * MERGE's affected-file discovery, whose key set is too large to
    * localize. MERGE key equality is plain `=`
    * ([[FileSkipping.mayMatchKeyRange]]). Only boundable key columns are
    * aggregated: the min/max aggregate is one job over the source key
    * set, skipped when no key column can prune; the manifest filter
    * runs on the driver's cached manifest rows below the local-read
    * gate, with no query. */
  private[graft] def pairsOverlappingKeys(keys: DataFrame,
                                          keyCols: Seq[String]): IndexedSeq[ManifestEntry] =
    liveFiles {
      val tableSchema = schema
      val bounded = keyCols.filter(k => FileSkipping.boundable(tableSchema(k).dataType))
      if (bounded.isEmpty) FileSkipping.KeepAll
      else {
        val aggs = bounded.flatMap(k => Seq(min(col(k)), max(col(k))))
        val st = keys.agg(aggs.head, aggs.tail: _*).head()
        bounded.zipWithIndex.map { case (k, i) =>
          FileSkipping.mayMatchKeyRange(k, tableSchema(k).dataType,
            st.get(2 * i), st.get(2 * i + 1))
        }.reduce(_ && _)
      }
    }

  // ---- merge-on-read position deletes (Iceberg v2) -----------------------

  /** Live position-delete file inventory of the current snapshot (the
    * Iceberg `"t$delete_files"` analogue; empty when the table has no
    * outstanding merge-on-read deletes). */
  def deleteFiles: DataFrame =
    manifestDf(currentSnapshot.map(_.deleteManifests).getOrElse(Seq.empty))

  private def manifestDf(paths: Seq[String]): DataFrame =
    ManifestIO.relation(spark, hadoopConf, paths)

  /** Live equality-delete file inventory of the current snapshot. */
  def eqDeleteFiles: DataFrame =
    manifestDf(currentSnapshot.map(_.eqDeleteManifests).getOrElse(Seq.empty))

  /** The snapshot id that INTRODUCED each eq-delete manifest (the
    * commit whose delete/upsert added it): eq entries apply only to
    * data files added strictly before it — Iceberg's sequence-number
    * rule, which is what lets a later re-insert of a deleted key
    * survive. Log derivation is the LEGACY fallback only: once the
    * introducing snapshot expires, the minimum-lister id drifts upward
    * and could swallow re-inserted keys, so new eq manifests stamp the
    * intro id durably in their own `added_snapshot_id` column. */
  private def eqIntroducedBy(all: Seq[Snapshot]): Map[String, Long] =
    all.sortBy(_.snapshotId)
      .flatMap(s => s.eqDeleteManifests.map(_ -> s.snapshotId))
      .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).min }

  /** One row per eq-delete FILE across the given manifests: (file path,
    * introducing snapshot id, key column names, bounds) — read in ONE
    * Spark job over all manifests, NOT one per manifest. An upsert
    * stream accumulates one eq manifest per micro-batch; per-manifest
    * driver jobs would cost O(#batches) sequential plan time between
    * compactions. The key columns come from the manifest row itself:
    * `null_counts` keys every column of the file, and an eq-delete
    * file's columns ARE its key set (minus the embedded intro column of
    * compacted files). The intro id is the durable per-file stamp
    * (`added_snapshot_id`); log derivation is the legacy fallback. */
  private def eqFileInfos(manifests: Seq[String]): Seq[EqFileInfo] = {
    if (manifests.isEmpty) return Seq.empty
    // (manifest row minus blooms, manifest dir) — one aggregate-gated
    // driver read with per-dir attribution when local; one distributed
    // scan otherwise, with `_metadata.file_path` substituting for the
    // known dir. Defense against zero-row eq files (writers no longer
    // commit them, but a legacy manifest may carry one): null key names
    // → deletes nothing → skip, instead of reading its NULL key record.
    val cols = Seq("path", "size_bytes", "added_snapshot_id", "null_counts",
      "min_values", "max_values")
    val rows: Seq[(Row, String)] =
      ManifestIO.readLocalByDir(hadoopConf, manifests) match {
        case Some(locals) =>
          locals.flatMap { case (m, rs) =>
            rs.map(r => Row.fromSeq(cols.map(c => r.get(ManifestSchema.fieldIndex(c)))) ->
              new Path(m).toUri.getPath)
          }
        case None =>
          // direct parquet read, NOT manifestDf→ManifestIO.relation: a
          // retried relation() could serve a LocalRelation (partial
          // cache warm shrank miss-bytes under the gate), and
          // LocalRelation has no _metadata column — the file-source scan
          // always does (ADVICE r16)
          spark.read.schema(GraftTable.ManifestSchema).parquet(manifests: _*)
            .select(cols.map(col) :+ col("_metadata.file_path"): _*)
            .collect().toSeq.map(r => Row.fromSeq(r.toSeq.init) ->
              new Path(r.getString(cols.size)).getParent.toUri.getPath)
      }
    lazy val fromLog = eqIntroducedBy(snapshots).map { case (m, id) =>
      new Path(m).toUri.getPath -> id
    }
    def mapOf[V](r: Row, i: Int): Map[String, V] =
      if (r.isNullAt(i)) Map.empty else r.getMap[String, V](i).toMap
    rows.collect { case (r, mdir) if !r.isNullAt(3) =>
      val intro =
        if (!r.isNullAt(2)) r.getLong(2)
        else fromLog.getOrElse(mdir, throw new IllegalStateException(
          s"eq manifest $mdir not in log"))
      EqFileInfo(ManifestEntry(r.getString(0), r.getLong(1), intro),
        mapOf(r, 3), mapOf(r, 4), mapOf(r, 5))
    }
  }

  /** Key-column schema for a group of same-keyed eq-delete files: field
    * types from ONE file footer (per key set, not per manifest), plus
    * the nullable embedded intro column compacted files carry — files
    * written without it read as null there. */
  private def eqKeySchema(info: EqFileInfo): StructType = {
    val fileSchema = ManifestIO.parquetSchemaOf(hadoopConf, new Path(info.path))
      .getOrElse(spark.read.parquet(info.path).schema)
    StructType(info.keys.map(k => fileSchema(k)) :+
      StructField(EqIntroCol, LongType, nullable = true))
  }

  /** Scan a group of same-keyed eq-delete files (rows of `manifests`)
    * as (key columns, [[MorEqSnapCol]]): the per-entry intro of
    * compacted files when present, else the per-file stamp broadcast
    * in. */
  private def eqEntriesOf(manifests: Seq[String], group: Seq[EqFileInfo]): DataFrame = {
    import spark.implicits._
    val introDf = broadcast(
      spark.createDataset(group.map(g => (g.path, g.intro)))
        .toDF(MorJoinCol, MorEqSnapCol))
    graft.sources.GraftFileIndex.scan(spark, this, eqKeySchema(group.head),
        FileScope(manifests, group.map(_.file).toIndexedSeq))
      .withColumn(MorJoinCol, normalizeCol(col("_metadata.file_path")))
      .join(introDf, Seq(MorJoinCol))
      .withColumn(MorEqSnapCol,
        coalesce(col(EqIntroCol), col(MorEqSnapCol)))
      .drop(MorJoinCol, EqIntroCol)
  }

  /** Paths of data files targeted by outstanding delete entries, plus
    * the `path`s of `also` — replacement commits (optimize, row-level
    * CoW) rewrite exactly these to materialize the deletes. Position
    * deletes name their files: below the index gate the names are the
    * index's keys ([[PositionDeletes.targets]]), with no job; `also`'s
    * paths (and, above the gate, the entries' names) are collected in
    * ONE job with no shuffle ([[KeySet.distinctRows]]).
    * Equality deletes are pruned metadata-only: a data file is a target
    * only if it was added before the introducing commit AND its
    * manifest bounds overlap the delete file's bounds on EVERY key
    * column (necessary for any entry to match; missing bounds keep the
    * file conservatively) — an upsert touching one key range does not
    * force a whole-table rewrite. Each eq file's bounds and intro id
    * enter one manifest filter as literals: query-free below the
    * local-read gate. */
  private[graft] def deleteTargets(also: Option[DataFrame] = None): Set[String] = {
    val cur = currentSnapshot
    val dels = cur.filter(_.deleteManifests.nonEmpty).map(s => listedScope(s.deleteManifests))
    val indexed = dels.flatMap(PositionDeletes.targets(this, _))
    val joined = if (indexed.isDefined) None else dels.map(d =>
      PositionDeletes.entries(this, d).select(col("file_path").as("path")))
    val named = (also ++ joined).reduceOption(_ unionByName _)
      .fold(Set.empty[String])(KeySet.distinctRows(_).map(_.getString(0)).toSet) ++
      indexed.getOrElse(Set.empty)
    val tableSchema = schema
    cur.toSeq.flatMap(s => eqFileInfos(s.eqDeleteManifests)).map { f =>
      // the per-file intro (max-of-file for compacted files) is a
      // conservative upper bound: exact windows apply at read time
      val older = col("added_snapshot_id").isNull ||
        col("added_snapshot_id") < f.intro
      f.keys.foldLeft(older) { (acc, k) =>
        val dt = tableSchema(k).dataType
        def probe(bounds: Map[String, String]) = lit(bounds.get(k).orNull).try_cast(dt)
        // null-safe equality: the eq file's bounds are the probe range,
        // and its null entries match the data file's nulls
        acc && FileSkipping.mayMatchNullSafe(k,
          FileSkipping.mayOverlap(k, dt, probe(f.lower), probe(f.upper)),
          lit(f.nullCounts.get(k).forall(_ > 0)))
      }
    }.reduceOption(_ || _).fold(named)(keep =>
      named ++ listedScope(cur.get.manifests, keep).files.map(_.path))
  }

  /** Schema-aligned scan of `scope` (files of `s`) with the snapshot's
    * outstanding deletes applied — position deletes by (source file, row
    * ordinal) through [[PositionDeletes]] (a per-file index predicate
    * in the scan's own stage below its gate, an anti-join above it),
    * equality deletes by a key anti-join against data files added
    * strictly before the deleting commit. Files without delete entries
    * stream through untouched. */
  private[graft] def morReadFiles(s: Snapshot, scope: FileScope,
                                  pathCol: Option[String] = None,
                                  posCol: Option[String] = None): DataFrame = {
    val needPos = s.deleteManifests.nonEmpty || posCol.nonEmpty
    val needEq = s.eqDeleteManifests.nonEmpty
    if (!needPos && !needEq) return readFilesAligned(scope, pathCol)
    val p = pathCol.getOrElse(MorPathCol)
    val pos = posCol.getOrElse(MorPosCol)
    var df = applyDeletes(s,
      readFilesAligned(scope, Some(p), if (needPos) Some(pos) else None),
      p, pos, scope)
    if (needPos && posCol.isEmpty) df = df.drop(pos)
    if (pathCol.isEmpty) df.drop(p) else df
  }

  /** Apply `s`'s outstanding deletes (both kinds) to `df0`, which must
    * expose the normalized source path in column `p` and — whenever
    * position deletes exist — the row ordinal in column `pos`. `scope`
    * (the scanned files) bounds the position index and supplies the
    * per-file added ids the equality strictly-before rule compares
    * against. Position deletes apply through [[PositionDeletes]];
    * equality deletes by one anti-join per key set. */
  private def applyDeletes(s: Snapshot, df0: DataFrame, p: String,
                           pos: String, scope: FileScope): DataFrame = {
    var df = df0
    if (s.deleteManifests.nonEmpty)
      df = PositionDeletes.exclude(this, df, p, pos, listedScope(s.deleteManifests), scope)
    if (s.eqDeleteManifests.nonEmpty) {
      // per-row added id via a broadcast of the (tiny) path→added map
      import spark.implicits._
      val pathAdded = broadcast(spark.createDataset(
        scope.files.map(f => (f.path, f.addedSnapshotId))).toDF(MorJoinCol, MorAddedCol))
      df = df.join(pathAdded, df(p) === col(MorJoinCol), "left")
        .drop(MorJoinCol)
      // ONE anti-join per distinct key set, not per manifest — and ONE
      // manifest scan for the whole planning step (eqFileInfos): an
      // upsert stream accumulates one eq manifest per micro-batch, and
      // either per-manifest jobs or per-manifest anti-joins would not
      // survive a 500-batch backlog. Key equality is null-safe (<=>):
      // Iceberg eq-delete semantics match null keys to null rows.
      eqFileInfos(s.eqDeleteManifests).groupBy(_.keys)
        .foreach { case (keyNames, group) =>
          val entries = eqEntriesOf(s.eqDeleteManifests, group)
          val keyCond = keyNames.map(k => df(k) <=> entries(k)).reduce(_ && _)
          df = df.join(entries,
            keyCond && col(MorAddedCol) < entries(MorEqSnapCol), "left_anti")
        }
      df = df.drop(MorAddedCol)
    }
    df
  }

  /** [[morReadFiles]] over `files` of the current snapshot (empty-table
    * safe). */
  private[graft] def morReadLive(files: IndexedSeq[ManifestEntry]): DataFrame =
    currentSnapshot match {
      case Some(s) => morReadFiles(s, FileScope(s.manifests, files))
      case None => readFilesAligned(FileScope.Empty)
    }

  /** Paths of live data files (or of the files `among`) with at least
    * one RAW row in `matching(rows)` — the CoW affected-file discovery,
    * pruned: Catalyst pushes a filter into each generation's
    * [[graft.sources.GraftFileIndex]], so manifest bounds, null counts,
    * and blooms SKIP non-matching files before a row is read (as in
    * [[deleteWhereMOR]]), and a selective CoW delete/update on a
    * clustered 100 TB table scans candidate files, not the table. Raw
    * rows (outstanding MOR deletes NOT applied) make the result a
    * SUPERSET of the MOR-applied affected set per file — and every file
    * whose matches are all MOR-deleted is delete-targeted, which the
    * CoW rewrite unions in anyway, so the final affected set is
    * identical. One column: `path`, once per matching row —
    * [[deleteTargets]] dedupes it without a shuffle. */
  private[graft] def affectedFiles(matching: DataFrame => DataFrame,
                                   among: Option[IndexedSeq[ManifestEntry]] = None): DataFrame =
    matching(readFilesAligned(currentSnapshot.fold(FileScope.Empty)(s =>
        among.fold(scopeOf(s))(FileScope(s.manifests, _))), Some(MorPathCol)))
      .select(col(MorPathCol).as("path"))

  /** Merge-on-read DELETE (Iceberg v2 position deletes): rather than
    * rewriting every affected data file (the copy-on-write
    * [[deleteWhere]]), write a small parquet delete file of
    * (file_path, pos) for the matched rows and commit metadata-only —
    * data files are untouched. Reads apply the entries
    * ([[PositionDeletes]]);
    * `optimize` and the CoW row-level ops materialize and drop them.
    *
    * Cost is O(matched rows) regardless of how large the touched files
    * are — the 100 TB shape for frequent, small deletes (GDPR erasure,
    * record retraction) where CoW would rewrite terabytes to remove
    * kilobytes. The flip side (read-time join cost) is bounded by
    * compacting regularly.
    *
    * Concurrency: composes with concurrent cross-process APPENDS (the
    * CAS retry re-carries the fresh head's manifests; positions in
    * immutable files stay valid). A concurrent REPLACEMENT commit
    * invalidates the scanned positions, so the CAS loop fails loudly —
    * same validation Iceberg's serializable isolation performs.
    *
    * @return number of rows deleted */
  def deleteWhereMOR(cond: Column, clock: Clock = Clock.systemUTC()): Long =
    writeOp {
      val cur = currentSnapshot.getOrElse(return 0L)
      if (cur.numFiles == 0) return 0L
      val matched = coalesce(cond, lit(false))
      val scope = scopeOf(cur)
      // the matching rows, `cond` pushed into each generation's index
      // (manifest bounds, null counts, and blooms SKIP non-matching
      // files before a row is read, so a selective delete on a 100 TB
      // table scans only candidate files), with ALL outstanding deletes
      // (pos + eq) applied; path and position retained for the entries
      val newDeletes = applyDeletes(cur,
          readFilesAligned(scope, Some(MorPathCol), Some(MorPosCol)).filter(matched),
          MorPathCol, MorPosCol, scope)
        .select(col(MorPathCol).as("file_path"), col(MorPosCol).as("pos"))
      writePositionDeletes(cur, newDeletes, clock)
    }

  /** Write `entries` ((file_path, pos) rows naming rows of `cur`'s files)
    * as position-delete files and commit them as one merge-on-read
    * delete on top of `cur`; run inside [[writeOp]]. Returns the entry
    * count (the rows deleted, as [[deleteWhereMOR]] derives them). */
  private[graft] def writePositionDeletes(cur: Snapshot, entries: DataFrame,
                                           clock: Clock): Long = {
    // HASH-cluster by target file: every file's entries land in exactly
    // one output file (contiguous after the sort), and unlike a range
    // shuffle there is no boundary-sampling pass. No partition count:
    // AQE coalesces the shuffle by size, so a small delete writes ONE
    // file whatever the random data paths hash to (a fixed count
    // spread the same delete over 3 or 4 files from run to run).
    // Schema-only files from empty tasks are pruned after the write
    // (pruneEmptyFiles). The deleted-row count rides on the same write
    // via observe, not a separate count job.
    val obs = new org.apache.spark.sql.Observation(
      s"mor-delete-${UUID.randomUUID()}")
    val written = writeFiles(entries
      .observe(obs, count(lit(1)).as("n"))
      .repartition(col("file_path"))
      .sortWithinPartitions("file_path", "pos"))
    // a predicate matching nothing can run ZERO tasks (AQE collapses
    // the empty shuffle) — no task, no accumulator update, empty
    // observation map
    val deleted = obs.get.getOrElse("n", 0L).asInstanceOf[Long]
    if (deleted == 0L) { fs.delete(written.dir, true); return 0L }
    val files = pruneEmptyFiles(written) // shuffle writes emit schema-only files
    // a new delete manifest, written once (no lineage stamp): data
    // manifests are carried from the fresh head each attempt, so
    // concurrent appends compose; positions go stale under any other
    // commit since `cur`
    val manifest = stage(inventory(files))
    manifest.write(None)
    val filesAdded = files.files.size.toLong
    commitSnapshot("delete", "main", Commit.AppendsSince(cur),
        rows = false) { (id, head) =>
      val h = head.get
      h.carried(id, "delete", clock.millis()).copy(
        totalRows = h.totalRows - deleted,
        deleteManifests = h.deleteManifests :+ manifest.path,
        deleteFileCount = h.deleteFileCount.map(_ + filesAdded))
    }
    deleted
  }

  /** Equality delete (Iceberg v2's second merge-on-read delete kind):
    * drop every row whose key columns match a row of `keys` — WITHOUT
    * locating row positions, so nothing but the key columns of
    * bounds-pruned candidate files is ever read (the row count for the
    * log is the only scan). The keys parquet itself becomes the delete
    * file; its schema IS the key-column set. Entries apply only to data
    * files added STRICTLY BEFORE this commit (Iceberg sequence-number
    * semantics) — a later re-insert of a deleted key survives, which is
    * exactly what makes CDC upsert streams expressible. Key equality is
    * NULL-SAFE (Iceberg eq-delete semantics): a null key matches rows
    * with null in that column.
    * @return rows deleted */
  def deleteByKeys(keys: DataFrame, clock: Clock = Clock.systemUTC()): Long =
    writeOp {
      val cur = currentSnapshot.getOrElse(return 0L)
      if (cur.numFiles == 0) return 0L
      eqDeleteCommit("delete", emptyManifest,
        keys.toDF(keyColumns(schema, keys.columns.toSeq): _*), clock).getOrElse(0L)
    }

  /** One-commit UPSERT (the Flink-CDC-into-Iceberg shape): an equality
    * delete on `keys` plus an append of `source`, atomically — readers
    * see either the old rows or the new rows, never both, never
    * neither. The new data files are added AT this commit, so the eq
    * entries (strictly-before rule) do not touch them. Unlike the CoW
    * [[merge]], no existing data file is rewritten — O(source) cost on
    * a 100 TB table, deferred to the next optimize. `source` passes the
    * write rule of [[conform]] before anything is written.
    * @return rows replaced (matched and superseded) */
  def upsert(source: DataFrame, keys: Seq[String],
             clock: Clock = Clock.systemUTC()): Long =
    upsertOp(source, keys, "upsert", clock)

  private[graft] def upsertOp(source: DataFrame, keys: Seq[String],
                              op: String, clock: Clock,
                              extraDeleteKeys: Option[DataFrame] = None): Long = writeOp {
    val tableSchema = schema
    val keyCols = keyColumns(tableSchema, keys)
    require(keys.nonEmpty, "upsert requires at least one key column")
    val rows = conform(source, tableSchema)
    // partitioned tables keep their clustering through upserts, exactly
    // like appends — otherwise upsert files span every transform value
    // and degrade partition pruning
    val written = writeFiles(clusterBySpec(rows))
    // a delete-heavy MERGE can have zero update/insert rows — its
    // append write then emits only schema-only files, which must not
    // ride into the manifest as junk entries
    val files = if (extraDeleteKeys.isDefined) pruneEmptyFiles(written) else written
    val hasData = files.files.nonEmpty
    // the eq-delete keys are those of the rows just written, read back
    // from their files: `source` runs once, so a non-deterministic
    // source cannot delete other keys than it inserts. MERGE's DELETE
    // clause rides the same commit as its own keyed eq-deletes: the
    // union lands in ONE eq file, so delete + update + insert are a
    // single atomic snapshot (Trino MERGE semantics — a reader sees all
    // of the MERGE or none of it)
    val scanned = Option.when(hasData)(scanWritten(files.files, rows.schema))
    val delKeys = (scanned ++ extraDeleteKeys).map(_.select(keyCols.map(col): _*))
      .reduceOption(_ unionByName _)
    // no keys → nothing to delete, nothing to insert: no commit
    val removed = delKeys.flatMap(eqDeleteCommit(op,
      if (hasData) inventory(files) else emptyManifest, _, clock))
    if (removed.isEmpty || !hasData) fs.delete(files.dir, true)
    removed.getOrElse(0L)
  }

  /** `keys` as the table's columns in `tableSchema`, matched under the
    * session resolver like every column of a write ([[conform]]). */
  private def keyColumns(tableSchema: StructType, keys: Seq[String]): Seq[String] = {
    val resolver = spark.sessionState.conf.resolver
    keys.map(k => tableSchema.fields.find(f => resolver(f.name, k)).map(_.name)
      .getOrElse(throw new IllegalArgumentException(s"key column $k not in table schema")))
  }

  /** Commit an equality delete of the distinct tuples of `keys` plus
    * `delta`'s files, as one snapshot; None, and no commit, for an empty
    * key set — its zero-row eq file's manifest row would have a NULL
    * key-schema record (null_counts) and poison every later read's eq
    * planning. Up to [[KeySet.MaxLocal]] tuples are collected once: the
    * eq file is written from them and [[matchingRows]] counts with their
    * null-safe predicate. A larger set is written distributed, and the
    * count semi-joins the eq file just written.
    * @return rows deleted */
  private def eqDeleteCommit(op: String, delta: => DataFrame, keys: DataFrame,
                             clock: Clock): Option[Long] = {
    val keyCols = keys.columns.toSeq
    val local = KeySet.collect(keys)
    val (eqFiles, stats, nKeys) =
      writeEqDeleteFile(local.fold(keys.distinct())(ks =>
        spark.createDataFrame(java.util.Arrays.asList(ks.rows: _*), ks.schema)))
    if (nKeys == 0L) { fs.delete(eqFiles.dir, true); return None }
    val matching: DataFrame => DataFrame = local match {
      case Some(ks) => _.filter(ks.matches(nullSafe = true))
      case None =>
        val kd = scanWritten(eqFiles.files, keys.schema)
        live => live.join(kd,
          keyCols.map(k => live(k) <=> kd(k)).reduce(_ && _), "left_semi")
    }
    var removed = 0L
    val memo = scala.collection.mutable.Map.empty[
      (IndexedSeq[ManifestEntry], Seq[String], Seq[String]), Long]
    commitEqDelete(op, delta, eqFiles, clock) { b =>
      removed = matchingRows(b, keyCols, stats, matching, memo); removed
    }
    Some(removed)
  }

  /** Rows of `b` (all MOR deletes applied) in `matching` — the exact
    * count an eq-delete commit must subtract. The scan is bounds-pruned
    * first: `stats` holds the key set's min, max and NULL count per key
    * column (observed during the eq-file write
    * ([[writeEqDeleteFile]]) — no extra scan), and only data files that
    * may hold a key under null-safe equality are read — an upsert
    * touching one key range counts against overlapping files, not the
    * table.
    *
    * `memo` (one map per commit call) caches the count keyed by the
    * pruned file set plus the basis's delete manifests: a CAS retry
    * whose new basis differs only by non-overlapping appends — the
    * common concurrent-writer case — reuses the prior attempt's count
    * instead of re-paying the pruned scan. A retry where the data or
    * delete state actually changed misses the memo and recounts. */
  private def matchingRows(b: Snapshot, keyCols: Seq[String], stats: Row,
                           matching: DataFrame => DataFrame,
                           memo: scala.collection.mutable.Map[
                             (IndexedSeq[ManifestEntry], Seq[String], Seq[String]),
                             Long]): Long = {
    if (b.numFiles == 0) return 0L
    // per key column: value bounds over the non-null keys AND whether
    // any key is null — null keys match null rows (null-safe eq-delete
    // semantics), so a file qualifies if its value range overlaps OR it
    // may contain nulls while the key set does
    val tableSchema = schema
    val scope = scopeOf(b,
      keyCols.zipWithIndex.map { case (k, i) =>
        // sum over an empty key set observes null — treat as zero
        val nullKeys = Option(stats.get(3 * i + 2)).exists(_.asInstanceOf[Long] > 0)
        FileSkipping.mayMatchNullSafe(k,
          FileSkipping.mayMatchKeyRange(k, tableSchema(k).dataType,
            stats.get(3 * i), stats.get(3 * i + 1)),
          lit(nullKeys))
      }.reduce(_ && _))
    // counted on the plan's rows: one job, where count()'s final
    // aggregate would add a shuffle stage and a second
    if (scope.files.isEmpty) 0L
    else memo.getOrElseUpdate((scope.files, b.deleteManifests, b.eqDeleteManifests),
      matching(morReadFiles(b, scope)).select().queryExecution.toRdd.count())
  }

  /** A scan of `files`, just written and listed by a commit that no
    * manifest names yet. */
  private def scanWritten(files: Seq[LocatedFileStatus], dataSchema: StructType): DataFrame =
    graft.sources.GraftFileIndex.scan(spark, this, dataSchema, FileScope(Seq.empty,
      files.map(f => ManifestEntry(normalize(f.getPath), f.getLen, 0L)).toIndexedSeq))

  /** Remove zero-row parquet files from a freshly written commit dir:
    * a shuffle write emits a schema-only file for an empty task (and
    * always at least one file), which would otherwise ride into the
    * manifest as a junk entry per commit — a long-running delete
    * stream would accumulate hundreds. Row counts come from the
    * footers, driver-side; the file count is bounded by the shuffle
    * partition count. */
  private[graft] def pruneEmptyFiles(written: DataFiles): DataFiles = {
    import scala.jdk.CollectionConverters._
    val (empty, kept) = written.files.partition(f =>
      ManifestIO.footer(hadoopConf, f.getPath).getBlocks.asScala.forall(_.getRowCount == 0L))
    empty.foreach(f => fs.delete(f.getPath, false))
    written.copy(files = kept)
  }

  /** Write a DISTINCT key set as one eq-delete parquet dir, computing
    * the per-key-column (min, max, null-count) stats DURING the write
    * via observe — [[matchingRows]] bounds-prunes with them, so the key
    * set is never scanned a second time just for statistics. Returned
    * stats are laid out `(mn_0, mx_0, nn_0, mn_1, ...)` per key column
    * in `keys.columns` order. */
  private def writeEqDeleteFile(keys: DataFrame): (DataFiles, Row, Long) = {
    val keyCols = keys.columns.toSeq
    val obs = new org.apache.spark.sql.Observation(s"eq-${UUID.randomUUID()}")
    val aggs = count(lit(1)).as("cnt") +: keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"mn_$k"), max(col(k)).as(s"mx_$k"),
        sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"nn_$k")))
    val written = writeFiles(keys.observe(obs, aggs.head, aggs.tail: _*).coalesce(1))
    // an empty key write can run zero tasks → empty observation map;
    // null mins/maxes + zero null-count is what an empty set observes
    val m = obs.get
    val stats = Row(keyCols.flatMap(k =>
      Seq(m.getOrElse(s"mn_$k", null), m.getOrElse(s"mx_$k", null),
        m.getOrElse(s"nn_$k", 0L))): _*)
    (written, stats, m.getOrElse("cnt", 0L).asInstanceOf[Long])
  }

  /** Compact accumulated position-delete files into one clustered
    * delete file (Iceberg's `rewrite_position_delete_files`): a delete
    * or upsert stream leaves one small delete file per commit; this
    * merges them WITHOUT touching data files, so reads are back to one
    * small anti-join input while the expensive data rewrite stays
    * deferred to optimize. Positions are absolute (file, ordinal)
    * coordinates, so merging is order-free and safe; equality deletes
    * have their own compaction ([[rewriteEqDeleteFiles]]), which
    * preserves each entry's applicability window in an embedded intro
    * column.
    * @return number of delete files merged (0 = nothing to do) */
  def rewriteDeleteFiles(clock: Clock = Clock.systemUTC()): Long =
    writeOp {
      val cur = currentSnapshot.getOrElse(return 0L)
      val dels = listedScope(cur.deleteManifests)
      if (dels.files.size <= 1) return 0L
      // size the output from the manifest: delete sets are small, so
      // this is typically ONE file (which also makes the op idempotent)
      val nOut = math.max(1L,
        (dels.files.map(_.sizeBytes).sum + (64L << 20) - 1) / (64L << 20)).toInt
      // shuffle writes emit schema-only files
      val merged = pruneEmptyFiles(writeFiles(PositionDeletes.entries(this, dels)
        .repartition(nOut, col("file_path"))
        .sortWithinPartitions("file_path", "pos")))
      val mergedCount = merged.files.size.toLong
      val manifest = stage(inventory(merged))
      manifest.write(None)
      commitSnapshot("rewrite_deletes", "main", Commit.AppendsSince(cur),
          rows = false) { (id, head) =>
        head.get.carried(id, "rewrite_deletes", clock.millis()).copy(
          deleteManifests = Seq(manifest.path),
          deleteFileCount = Some(mergedCount))
      }
      dels.files.size.toLong
    }

  /** Compact accumulated equality-delete files AND their manifests
    * (the eq half of Iceberg's delete-file maintenance, reached by the
    * reference transitively via `optimize`, __main__.py:161-177): a
    * long-running upsert stream leaves one eq manifest + one tiny
    * delete file per micro-batch; this merges each key-column set's
    * files into ONE file listed by ONE manifest, without touching data
    * files. Each entry's applicability window (its introducing
    * snapshot's strictly-before rule) is preserved EXACTLY by writing
    * the per-entry intro id into an embedded [[EqIntroCol]] column —
    * reads prefer it over the per-file stamp, so a key deleted at
    * batch 7 and re-inserted at batch 12 behaves identically before
    * and after compaction. A key deleted at several intros keeps only
    * the max (the wider window subsumes the narrower). Row-neutral:
    * incremental scans and the changelog read straight through it,
    * like `rewrite_deletes`.
    * @return number of eq-delete files merged (0 = nothing to do) */
  def rewriteEqDeleteFiles(clock: Clock = Clock.systemUTC()): Long =
    writeOp {
      val cur = currentSnapshot.getOrElse(return 0L)
      if (cur.eqDeleteManifests.isEmpty) return 0L
      val infos = eqFileInfos(cur.eqDeleteManifests)
      // already compact: one manifest holding one file per key set
      if (cur.eqDeleteManifests.size <= 1 &&
        infos.groupBy(_.keys).forall(_._2.size <= 1)) return 0L
      val groups = infos.groupBy(_.keys).toSeq
      val mergedDirs = groups.map { case (keyNames, group) =>
        val entries = eqEntriesOf(cur.eqDeleteManifests, group)
          .withColumnRenamed(MorEqSnapCol, EqIntroCol)
        // same key at several intros → keep the max window only
        val merged = entries.groupBy(keyNames.map(col): _*)
          .agg(max(EqIntroCol).as(EqIntroCol))
        (writeFiles(merged.coalesce(1)), group.map(_.intro).max)
      }
      val manifest = stage(mergedDirs.map { case (files, maxIntro) =>
        // file-level stamp = max intro of the folded files: only a
        // conservative pruning bound — reads use the embedded per-entry
        // intro column
        inventory(files).withColumn("added_snapshot_id", lit(maxIntro))
      }.reduce(_ unionByName _))
      manifest.write(None)
      val mergedCount = mergedDirs.map(_._1.files.size.toLong).sum
      commitSnapshot("rewrite_eq_deletes", "main", Commit.AppendsSince(cur),
          rows = false) { (id, head) =>
        head.get.carried(id, "rewrite_eq_deletes", clock.millis()).copy(
          eqDeleteManifests = Seq(manifest.path),
          eqDeleteFileCount = Some(mergedCount))
      }
      infos.size.toLong
    }

  // ---- schema evolution --------------------------------------------------

  /** Every schema version, oldest first: one for an un-evolved table. */
  def schemaVersions: Seq[SchemaVersion] = metadata.schemas

  /** ADD COLUMN (always nullable — existing rows read as NULL). */
  def addColumn(name: String, dataType: DataType): Unit =
    evolveSchema("add_column") { m =>
      val cur = m.schema
      require(!cur.fieldNames.contains(name), s"column $name already exists")
      // Never recycle a dropped column's id — max over every version's
      // gids, or a re-added same-named column would resurrect old bytes.
      val gid = maxGid(m) + 1
      StructType(cur.fields :+ StructField(name, dataType,
        nullable = true, new MetadataBuilder().putLong(GidKey, gid).build()))
    }

  /** RENAME COLUMN — metadata-only: no data file is touched; files
    * written under the old name keep resolving through the stable field
    * id (the Iceberg field-id rename semantics, not a rewrite). */
  def renameColumn(from: String, to: String): Unit =
    evolveSchema("rename_column") { m =>
      val cur = m.schema
      require(cur.fieldNames.contains(from), s"no such column $from")
      require(!cur.fieldNames.contains(to), s"column $to already exists")
      requireNotPartitionSource(m.spec, from, "rename")
      requireNotEqDeleteKey(m, from, "rename")
      StructType(cur.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    }

  /** DROP COLUMN — metadata-only; the bytes stay in old files and stop
    * being projected (and are physically shed by the next optimize). */
  def dropColumn(name: String): Unit =
    evolveSchema("drop_column") { m =>
      val cur = m.schema
      require(cur.fieldNames.contains(name), s"no such column $name")
      require(cur.fields.length > 1, "cannot drop the last column")
      requireNotPartitionSource(m.spec, name, "drop")
      requireNotEqDeleteKey(m, name, "drop")
      StructType(cur.fields.filterNot(_.name == name))
    }

  /** A partition spec references source columns by name — evolving one
    * away would make every later append crash (or mis-cluster). */
  private def requireNotPartitionSource(spec: Seq[PartitionField], column: String,
                                        op: String): Unit =
    require(!spec.exists(_.column == column),
      s"cannot $op $column: it is a partition-spec source column")

  /** An equality-delete file keys its entries by column name, and every
    * read that applies it resolves those names against the current
    * schema — evolving one away would make each such read fail. Any
    * snapshot in the log can be read, so every eq-delete file any of
    * them lists counts until optimize materializes it and expiry drops
    * the snapshots that list it. */
  private def requireNotEqDeleteKey(m: TableMetadata, column: String, op: String): Unit =
    require(!eqFileInfos(m.snapshots.flatMap(_.eqDeleteManifests).distinct)
        .exists(_.keys.contains(column)),
      s"cannot $op $column: it keys an outstanding equality-delete file")

  /** Iceberg's exact type-promotion rules (spec §Schemas, "Type
    * Promotion"): int→long, float→double, decimal precision growth at
    * the SAME scale. Spark's `Cast.canUpCast` is the wrong gate — its
    * numeric-precedence order admits LOSSY conversions (bigint→float,
    * anything→varchar) that would silently corrupt existing values on
    * read. */
  private def icebergWiden(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision >= f.precision
      case _ => false
    }

  /** Widen a column's type (int → long, float → double, decimal
    * precision growth — Iceberg's promotion rules, nothing lossy).
    * Data files keep the narrow type; reads up-cast through the field
    * id. */
  def updateColumnType(name: String, to: DataType): Unit =
    evolveSchema("update_column_type") { m =>
      val cur = m.schema
      require(cur.fieldNames.contains(name), s"no such column $name")
      require(icebergWiden(cur(name).dataType, to),
        s"cannot widen ${cur(name).dataType.simpleString} to " +
          s"${to.simpleString} (Iceberg promotion allows int->bigint, " +
          "real->double, decimal precision growth only)")
      StructType(cur.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
    }

  /** One schema change as a claim: `next` maps the claimed metadata to
    * the new schema (or refuses by throwing). */
  private def evolveSchema(op: String)(next: TableMetadata => StructType): Unit =
    commitLock.synchronized {
      claim(op)(m => Some(withSchema(m, next(stamped(m)))))
    }

  /** `m` with `next` as its current schema: a new version, effective for
    * the files of every snapshot from `m`'s next id on. The first
    * evolution freezes version 1 with field ids = field positions. */
  private def withSchema(m: TableMetadata, next: StructType): TableMetadata = {
    val vs = stamped(m).schemas
    m.copy(schemas = vs :+ SchemaVersion(vs.last.version + 1, m.nextSnapshotId, next))
  }

  private def stamped(m: TableMetadata): TableMetadata =
    if (m.schemas.size != 1) m
    else m.copy(schemas = m.schemas.map(v => v.copy(schema = withGids(v.schema))))

  /** The largest field id any schema version holds (-1: none). */
  private def maxGid(m: TableMetadata): Long =
    m.schemas.flatMap(_.schema.fields.map(gidOf)).foldLeft(-1L)(math.max)

  /** Read data files, each decoded with the schema it was WRITTEN under
    * (resolved from its `added_snapshot_id`), then aligned to the current
    * schema by stable field id: renamed columns resolve, added columns
    * null-fill, dropped columns are not projected, widened types up-cast.
    * `pathCol` additionally exposes the (normalized) source file path as
    * a regular column — the callers that need `_metadata.file_path`
    * can't reach it through the alignment projection/union otherwise.
    * `posCol` likewise exposes `_metadata.row_index` (the row's ordinal
    * within its parquet file) — the position merge-on-read deletes key on.
    *
    * One relation per write-schema generation (an un-evolved table has
    * one; an evolved one a handful at most), each over a
    * [[graft.sources.GraftFileIndex]] listing that generation's files of
    * `scope`, so predicates push through the alignment projection into
    * manifest-bounds pruning. Only a one-generation read at the current
    * schema keeps `scope`'s whole-snapshot standing. */
  private[graft] def readFilesAligned(scope: FileScope,
                                      pathCol: Option[String] = None,
                                      posCol: Option[String] = None): DataFrame = {
    val cur = schema
    val pathProj: Seq[Column] =
      pathCol.map(n => normalizeCol(col("_metadata.file_path")).as(n)).toSeq ++
        posCol.map(n => col("_metadata.row_index").as(n)).toSeq
    if (scope.isEmpty) {
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cur)
      val withPath = pathCol.fold(base)(n =>
        base.withColumn(n, lit(null).cast(StringType)))
      return posCol.fold(withPath)(n =>
        withPath.withColumn(n, lit(null).cast(LongType)))
    }
    val vs = schemaVersions
    val gens: Seq[(StructType, FileScope)] =
      if (vs.size <= 1) Seq(cur -> scope)
      else scope.files.groupBy { f =>
        val elig = vs.filter(_.since <= f.addedSnapshotId)
        if (elig.isEmpty) vs.head else elig.last
      }.toSeq.sortBy(_._1.version).map {
        case (v, fs) if v.schema == cur && fs.size == scope.files.size => cur -> scope
        case (v, fs) => v.schema -> FileScope(scope.manifests, fs)
      }
    gens.map { case (vSchema, gen) =>
      val raw = graft.sources.GraftFileIndex.scan(spark, this, vSchema, gen)
      val aligned =
        if (vSchema == cur) cur.fieldNames.toSeq.map(col)
        else cur.fields.toSeq.map { f =>
          vSchema.fields.find(vf => gidOf(vf) == gidOf(f)) match {
            case Some(vf) => col(vf.name).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
      raw.select(aligned ++ pathProj: _*)
    }.reduce(_ unionByName _)
  }

  /** The table's partition spec (empty = unpartitioned). */
  def partitionSpec: Seq[PartitionField] = metadata.spec

  /** Iceberg partition evolution: replace the partition spec,
    * metadata-only. Already-written files keep their old clustering and
    * old transform bounds — pruning on a NEW spec field conservatively
    * keeps them (no bounds recorded → never pruned), new appends
    * cluster and record bounds by the new spec, and binpack optimize
    * gradually migrates rewritten files to the new layout (it
    * re-clusters candidates by the current spec). No data is rewritten
    * at evolution time — the 100 TB requirement. */
  def updatePartitionSpec(newSpec: Seq[PartitionField]): Unit =
    commitLock.synchronized {
      claim("update_partition_spec") { m =>
        validateSpec(m.schema, newSpec)
        Some(m.copy(spec = newSpec))
      }
    }

  /** Validate a partition spec against a target schema (column
    * existence, transform name/param, field-name uniqueness) — shared by
    * partition evolution (current schema) and [[replace]] (NEW schema:
    * CORTAS partitioning refers to the replacing query's columns). */
  private def validateSpec(s: StructType, newSpec: Seq[PartitionField]): Unit = {
    newSpec.foreach { f =>
      require(s.fieldNames.contains(f.column), s"no such column ${f.column}")
      require(f.transform != "bucket" || f.param > 0,
        "bucket requires a positive bucket count")
      require(f.transform != "truncate" || f.param > 0,
        "truncate requires a positive width")
      f.outputType(s(f.column).dataType) // validates the transform name
    }
    require(newSpec.map(_.name).distinct.size == newSpec.size,
      "duplicate partition fields")
  }

  /** Partition-pruned scan: for each `(specFieldName, value)` predicate
    * (e.g. `"days_ts" -> lit(18000)`, `"bucket8_id" -> lit(3)`), keep
    * only the files whose manifest bounds for that TRANSFORM OUTPUT
    * cover the value. This is Iceberg partition pruning without Hive
    * directories: data files hold all columns; the manifest holds the
    * transform bounds; pruning is metadata-only set algebra. Works for
    * non-monotonic transforms (bucket) where raw-column min/max can't
    * prune. Superset guarantee — callers still apply the row predicate. */
  def readPrunedPartition(preds: (String, Column)*): PrunedScan =
    op(prunedScan(partitionScope(preds)))

  /** Manifest-row predicate: might this file hold rows where each named
    * partition-transform output equals the given value? (missing bounds
    * keep the file — superset guarantee, like all pruning here). */
  private[graft] def partitionScope(preds: Seq[(String, Column)]): Column = {
    require(preds.nonEmpty, "partition scope requires at least one predicate")
    val spec = partitionSpec
    preds.map { case (name, v) =>
      val f = spec.find(_.name == name).getOrElse(throw
        new IllegalArgumentException(s"no partition field named $name"))
      FileSkipping.mayOverlap(name, f.outputType(schema(f.column).dataType), v, v)
    }.reduce(_ && _)
  }

  /** Partition-scoped binpack compaction (Iceberg's rewrite_data_files
    * with a filter): only files whose transform bounds cover the given
    * partition values are compaction candidates — the nightly "compact
    * yesterday's partition" shape, which on a 100 TB table must not
    * even LIST the other partitions' files as rewrite work. Refused on
    * tables with outstanding merge-on-read deletes (a scoped rewrite
    * would drop delete entries targeting out-of-scope files): compact
    * deletes or run the full optimize first. */
  def optimizePartitions(preds: Seq[(String, Column)],
                         targetFileBytes: Long = 0L,
                         clock: Clock = Clock.systemUTC()): Unit =
    writeOp(graft.cmd.Optimize.runScoped(this, preds, targetOr(targetFileBytes), clock))

  /** Stats-pruned scan: read only the data files whose manifest
    * min/max bounds for `column` overlap `[lo, hi]` — Iceberg-style
    * file skipping over the `lower_bounds`/`upper_bounds` analogue kept
    * in the manifest. With range-clustered writes (e.g.
    * `repartitionByRange` on the column before append) this turns a
    * selective scan from O(table) to O(matching range) I/O — at 100 TB
    * the difference between reading everything and reading one
    * partition's worth. Files without recorded bounds are kept (never
    * prune on missing stats). The predicate itself must still be
    * applied by the caller — pruning is a superset guarantee.
    */
  def readPruned(column: String, lo: Column, hi: Column): PrunedScan =
    op(prunedScan(FileSkipping.mayOverlap(column, schema(column).dataType, lo, hi)))

  /** The current snapshot's files that `keep` admits, read schema-aligned
    * (`keep` is built only when the snapshot has files). */
  private def prunedScan(keep: => Column): PrunedScan =
    currentSnapshot match {
      case Some(s) if s.numFiles > 0 =>
        val scope = scopeOf(s, keep)
        PrunedScan(readFilesAligned(scope), scope.files.size.toLong, s.numFiles)
      case _ =>
        PrunedScan(
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), 0L, 0L)
    }

  // ---- commits ----------------------------------------------------------

  /** Append rows as a new snapshot (reference analogue: INSERT INTO,
    * tests/test_maintenance.py:48-49). `df` passes the write rule of
    * [[conform]] — matched by name, promotion only, missing nullable
    * columns NULL — or nothing is written. Writes ONLY the delta
    * manifest for the new files and carries the prior manifest list —
    * commit metadata cost is O(new files), not O(table). */
  def append(df: DataFrame, clock: Clock = Clock.systemUTC()): Unit =
    appendOp(df, "append", clock)

  /** Append with a caller-chosen operation tag in the snapshot log —
    * the streaming sink stamps its (query, batchId) here so replayed
    * micro-batches are detectable atomically with the commit itself.
    * Partitioned tables range-cluster the batch by the spec's transform
    * outputs first, so every data file covers a tight transform-value
    * range and [[readPrunedPartition]] can skip it. */
  private[graft] def appendOp(df: DataFrame, op: String, clock: Clock,
                              branch: String = "main"): Unit =
    writeOp(commitAppend(op, inventory(writeClustered(conform(df))), clock, branch))

  /** Table rows through the one writer, clustered by the partition spec
    * and sort order ([[clusterBySpec]]). Range-clustered writes leave
    * schema-only zero-row files behind for empty shuffle tasks — junk
    * manifest entries otherwise, so those are pruned. */
  private def writeClustered(rows: DataFrame): DataFiles = {
    val clustered = clusterBySpec(rows)
    val written = writeFiles(clustered)
    if (clustered ne rows) pruneEmptyFiles(written) else written
  }

  /** Adopt EXISTING parquet files into the table without copying a
    * byte (Iceberg's `add_files`; Trino: `ALTER TABLE t EXECUTE
    * add_files(location => '...', format => 'PARQUET')`): list the
    * location, build the manifest from footer statistics, and commit
    * ONE append snapshot referencing the files in place — the adoption
    * path for a directory where copy-based ingestion would move 100 TB
    * to say nothing new. The files become TABLE-MANAGED (Iceberg
    * semantics): optimize may rewrite them and expire_snapshots may
    * reclaim them once they leave retained history. The files' footer
    * schema passes the write rule of [[conform]] with no promotion and
    * no case folding (no byte is rewritten, so the types and names must
    * already equal the table's; the order is free);
    * already-referenced paths are refused — adopting the same directory
    * twice would double-count every row. @return files adopted. */
  def addFiles(location: String, clock: Clock = Clock.systemUTC()): Long =
    writeOp {
      val src = new Path(location)
      require(fs.exists(src), s"add_files: no such location $location")
      val srcSchema = ManifestIO.parquetSchemaOf(hadoopConf, src)
        .getOrElse(spark.read.parquet(location).schema)
      writeSources(srcSchema, schema, adopt = true)
      val inv = inventory(src)
      val paths = inv.select("path").collect().map(_.getString(0))
      require(paths.nonEmpty, s"add_files: no parquet files under $location")
      val live = currentSnapshot.toSeq.flatMap(scopeOf(_).files).map(_.path).toSet
      val dup = paths.filter(live)
      require(dup.isEmpty, "add_files: already referenced by the table: " +
        dup.take(3).mkString(", "))
      commitAppend("append", inv, clock)
      paths.length.toLong
    }

  /** Range-cluster a batch by the partition spec's transform outputs
    * (no-op for unpartitioned tables) so every written file covers a
    * tight transform range and partition pruning can skip it. Explicit
    * partition count: without it AQE coalesces the range shuffle (often
    * to ONE partition on small batches), merging every transform value
    * into one file and defeating pruning. */
  private def clusterBySpec(df: DataFrame): DataFrame =
    clusterBy(df, partitionSpec, sortOrder)

  /** [[clusterBySpec]] against an EXPLICIT spec and sort order —
    * [[replace]] clusters by the post-replace spec/order before they
    * are committed. */
  private def clusterBy(df: DataFrame, spec: Seq[PartitionField],
                        order: Seq[(String, Boolean)]): DataFrame = {
    // partition transforms first (coarse grouping), sort order within —
    // the Iceberg range-distribution write shape
    val exprs = spec.map(f =>
      f.expr(df(f.column), df.schema(f.column).dataType)) ++
      sortExprsFrom(df, order)
    if (exprs.isEmpty) df
    else {
      df.repartitionByRange(spark.sessionState.conf.numShufflePartitions,
          exprs: _*)
        .sortWithinPartitions(exprs: _*)
    }
  }

  /** Metadata-only COUNT(*): answered from the snapshot log without
    * touching a single data file (the Iceberg manifest-count shape). */
  def rowCount: Long = currentSnapshot.map(_.totalRows).getOrElse(0L)

  /** Overwrite the table content entirely, keeping its schema: `df`
    * passes the write rule of [[conform]] and is clustered by the
    * partition spec and sort order like an [[append]]. A new schema
    * goes through [[replace]]. */
  def overwrite(df: DataFrame, clock: Clock = Clock.systemUTC()): Unit =
    writeOp {
      // replacing the whole table is last-writer-wins by definition
      commitReplacing("overwrite", inventory(writeClustered(conform(df))), clock,
        Commit.Composes)
    }

  /** CREATE OR REPLACE TABLE semantics (Trino/Iceberg): swap schema AND
    * content in place while KEEPING snapshot history — time travel to a
    * pre-replace snapshot still decodes the old files with their write
    * schema. A column whose (name, type) survives the replace keeps its
    * stable field id; everything else gets a FRESH id, so a replaced
    * column can never resurrect old bytes.
    *
    * Atomicity (Trino's CORTAS is a single metadata swap): the partition
    * spec — `newSpec` if given, else the current spec restricted to
    * surviving columns — is validated against the NEW schema up front,
    * the data is written FIRST (a failed write leaves the table
    * untouched), and then schema, spec, `sorted_by` and the overwrite
    * snapshot land in ONE claim: no new-schema/old-data hybrid is ever
    * visible. Like [[overwrite]], last writer wins. */
  def replace(df: DataFrame, clock: Clock = Clock.systemUTC(),
              newSpec: Option[Seq[PartitionField]] = None,
              newSortedBy: Option[Option[String]] = None): Unit =
    writeOp {
      val spec = newSpec.getOrElse(
        partitionSpec.filter(f => df.schema.fieldNames.contains(f.column)))
      validateSpec(df.schema, spec)
      // sorted_by follows the same definition-swap rule as the spec:
      // outer None (library callers) keeps the surviving columns of the
      // current order; Some(None) clears; Some(Some(v)) sets — always
      // validated against the NEW schema, never the pre-replace one
      val sortProp: Option[String] = newSortedBy.getOrElse(
        properties.get("sorted_by").map(v => GraftTable.parseSortOrderProp(v)
          .filter { case (c, _) => df.schema.fieldNames.contains(c) }
          .map { case (c, d) => if (d) s"$c DESC" else c }.mkString(", "))
          .filter(_.nonEmpty))
      val order = sortProp.toSeq.flatMap(GraftTable.parseSortOrderProp)
      order.foreach { case (c, _) =>
        require(df.schema.fieldNames.contains(c),
          s"sorted_by column $c not in the replacing schema") }
      // Data first: cluster by the POST-replace spec/order so the new
      // files prune on them; nothing visible has changed if this throws.
      val staged = stage(inventory(writeFiles(clusterBy(df, spec, order)), spec))
      val shape = (t: StructType) => t.fields.map(f => (f.name, f.dataType)).toSeq
      claim("overwrite") { m =>
        val evolved =
          if (shape(m.schema) == shape(df.schema)) m
          else {
            val cur = stamped(m)
            withSchema(m, StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
              cur.schema.fields
                .find(o => o.name == f.name && o.dataType == f.dataType) match {
                case Some(o) => f.copy(metadata = o.metadata)
                case None => f.copy(metadata = new MetadataBuilder()
                  .putLong(GidKey, maxGid(cur) + 1 + i).build())
              }
            }))
          }
        val defined = evolved.copy(spec = spec, properties =
          sortProp.fold(m.properties - "sorted_by")(v => m.properties + ("sorted_by" -> v)))
        Some(Commit.successor(defined, "main")(
          replacement(staged, _, "overwrite", clock, m.head("main"))))
      }
    }

  /** Metadata compaction (Iceberg's `rewrite_manifests`): merge the
    * current snapshot's accumulated delta manifests into ONE manifest
    * and commit it as a new snapshot over the SAME data files
    * (original `added_snapshot_id` lineage preserved). After many
    * appends, manifest-list reads touch one file again; superseded
    * manifests stay owned by older snapshots until expiry.
    * @return number of manifests merged (0 = nothing to do) */
  def rewriteManifests(clock: Clock = Clock.systemUTC()): Long =
    writeOp {
      val cur = currentSnapshot.getOrElse(return 0L)
      if (cur.manifests.size <= 1) return 0L
      // Metadata-only: the rows keep their lineage, outstanding MOR
      // delete manifests ride through unchanged, and the logical row
      // count is carried, not recomputed from the (physical) manifest sum
      val manifest = stage(manifestDf(cur.manifests))
      commitSnapshot("rewrite_manifests", "main", Commit.HeadIs(Some(cur)),
          rows = false) { (id, _) =>
        val w = manifest.write(Some(id))
        cur.carried(id, "rewrite_manifests", clock.millis()).copy(
          manifests = Seq(manifest.path), numFiles = w.files,
          totalBytes = w.bytes)
      }
      cur.manifests.size.toLong
    }

  /** [[inventory]] of the files under `commitDir`, listed now. */
  private[graft] def inventory(commitDir: Path): DataFrame =
    inventory(DataFiles(commitDir, listFiles(fs, commitDir)))

  /** Build the (path, size_bytes, record_count, null_counts) inventory
    * of a freshly written commit directory: its listing for path+size,
    * one distributed `_metadata` aggregation for per-file row counts and
    * per-column null counts (files whose rows were all pruned — e.g. an
    * empty append — keep record_count 0). Transform bounds follow
    * `spec`: the table's, or the one a [[replace]] lands with the files.
    */
  private[graft] def inventory(written: DataFiles,
                               spec: Seq[PartitionField] = partitionSpec): DataFrame = {
    val commitDir = written.dir
    val listed = written.files.map(f => (normalize(f.getPath), f.getLen))
    if (listed.isEmpty) return ManifestIO.emptyRelation(spark)
    // schema from the footer's embedded Spark schema JSON (driver-side,
    // no inference job); inference only for non-Spark-written files
    val dataSchema = ManifestIO
      .parquetSchemaOf(hadoopConf, new Path(listed.head._1))
      .getOrElse(spark.read.parquet(commitDir.toString).schema)
    // Small flat commits take the FOOTER path: row counts, null counts,
    // and min/max come from the parquet footers the write already
    // produced — exact, driver-side, no second read of the data. The
    // distributed aggregation below stays for what footers can't give:
    // non-derivable partition-transform bounds, bloom filters, decimals,
    // and large commits (a thousand-file rewrite shouldn't serialize
    // footer reads on the driver). Top-level nested columns (array, map,
    // struct) take the footer path too: they carry no bounds, and their
    // null count comes from a definition-level histogram.
    // A partition field is footer-eligible when its transform output
    // bounds DERIVE from the source column's footer bounds: identity
    // over a boundable column (the column's own entry serves), and the
    // monotonic non-decreasing transforms days / truncate, where
    // transform(min)..transform(max) are exact output bounds. bucket
    // (a hash) is not monotonic — only the distributed path can bound it.
    val specFields = spec.filter(s =>
      dataSchema.fieldNames.contains(s.column))
    val specsDerivable = specFields.forall { s =>
      val dt = dataSchema(s.column).dataType
      s.transform match {
        case "identity" => FileSkipping.boundable(dt)
        case "days" | "months" | "years" | "hours" =>
          dt == DateType || dt == TimestampType || dt == TimestampNTZType
        case "truncate" => dt match {
          case StringType | ByteType | ShortType | IntegerType |
               LongType => true
          case _ => false
        }
        case _ => false
      }
    }
    if (listed.size <= FooterInventoryMaxFiles && specsDerivable &&
        bloomColumns(dataSchema.fieldNames.toSeq).isEmpty &&
        dataSchema.fields.forall(f => f.dataType match {
          case _: DecimalType => false
          case _: NumericType | StringType | BinaryType | BooleanType |
               DateType | TimestampType | TimestampNTZType |
               _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        })) {
      footerInventory(listed, dataSchema, specFields) match {
        case Some(df) =>
          GraftTable.footerInventoryHits.incrementAndGet()
          return df
        case None => () // stats unavailable — fall through to the scan
      }
    }
    // the distributed aggregation: the only branch that needs the
    // commit dir as a relation (a listing plus analysis)
    val data = spark.read.schema(dataSchema).parquet(commitDir.toString)
    val names = data.schema.fieldNames.toSeq
    val bounded = data.schema.fields.filter(f => FileSkipping.boundable(f.dataType))
      .map(_.name).toSeq
    // Partition-transform outputs get their own manifest bounds (e.g.
    // bucket8_id) — identity transforms are already covered by the
    // column's own entry.
    val specs = spec.filter(s =>
      data.columns.contains(s.column) && !bounded.contains(s.name))
    val nullMap = map_from_arrays(
      array(names.map(lit): _*),
      array(names.map(n => sum(when(data(n).isNull, 1L).otherwise(0L))): _*))
    def boundMap(f: Column => Column) = map_from_arrays(
      array((bounded.map(lit) ++ specs.map(s => lit(s.name))): _*),
      array((bounded.map(n => f(data(n)).cast(StringType)) ++
        specs.map(s => f(s.expr(data(s.column), data.schema(s.column).dataType)).cast(StringType))): _*))
    // Per-file bloom filters for the configured point-lookup columns
    // (built in the same aggregation pass as the bounds — no extra scan).
    val bloomCols = bloomColumns(names)
    val expectedRows = properties.get("write.bloom-filter.expected-rows")
      .map(_.toLong).getOrElse(200000L)
    val bloomMap =
      if (bloomCols.isEmpty)
        lit(null).cast(MapType(StringType, BinaryType))
      else map_from_arrays(
        array(bloomCols.map(lit): _*),
        array(bloomCols.map(n => org.apache.spark.sql.graft.CatalystShims
          .bloomAgg(data(n), expectedRows, expectedRows * 8)): _*))
    val counts = data
      .groupBy(col("_metadata.file_path").as("path"))
      .agg(count(lit(1)).as("record_count"), nullMap.as("null_counts"),
        boundMap(min).as("min_values"), boundMap(max).as("max_values"),
        bloomMap.as("blooms"))
      .withColumn("path", normalizeCol(col("path")))
    // NOT broadcast: with blooms configured the counts side carries
    // filter bytes per file — a shuffle of manifest-sized rows is the
    // scale-safe shape (AQE coalesces the tiny case anyway)
    import spark.implicits._
    listed.toDF("path", "size_bytes").join(counts, Seq("path"), "left")
      .select(col("path"), col("size_bytes"),
        coalesce(col("record_count"), lit(0L)).as("record_count"),
        col("null_counts"), col("min_values"), col("max_values"),
        col("blooms"))
  }

  /** Driver-side inventory fast path: per-file row counts, null counts,
    * and min/max bounds read from the parquet FOOTERS the write itself
    * just produced — exact, no second Spark job over the data. Bounds
    * are rendered so that `cast(string as columnType)` on the consumer
    * side (every rule in [[FileSkipping]]) yields
    * exactly the file's true min/max — the same contract the
    * distributed path's `cast(StringType)` provides.
    *
    * Returns None — and [[inventory]] falls back to the distributed
    * aggregation — whenever any footer statistic is unusable: unset
    * null counts, a nested column without a definition-level
    * histogram, INT96 timestamps (no footer stats by spec),
    * non-MICROS timestamp encodings, or a chunk with rows but dropped
    * bounds (float/double containing NaN, oversized binary values).
    * Fallback keeps pruning parity; this path is purely a plan-time
    * optimization for small commits (eq-delete key files,
    * position-delete files, config-table appends and stamps — the
    * per-commit floor of maintenance demos).
    *
    * `specs` are the partition fields whose transform-output bounds
    * must be derived alongside (pre-checked monotonic by the caller):
    * for a monotonic non-decreasing transform f, f(min)..f(max) are
    * exact bounds of f over the file's values. */
  private def footerInventory(listed: Seq[(String, Long)],
                              schema: StructType,
                              specs: Seq[PartitionField]): Option[DataFrame] = {
    import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val tsFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def microsOf(pt: PrimitiveType): Boolean = pt.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == TimeUnit.MICROS
      case _ => false
    }
    // A footer statistic value → the string Spark's cast-to-string
    // contract round-trips. Numerics use Java's shortest-round-trip
    // rendering (exact on cast-back); timestamps format epoch-micros in
    // the session zone at full precision.
    def render(v: AnyRef, dt: DataType, pt: PrimitiveType): Option[String] =
      (dt, pt.getPrimitiveTypeName) match {
        case (ByteType | ShortType | IntegerType, INT32) => Some(v.toString)
        case (LongType, INT64) => Some(v.toString)
        case (FloatType, FLOAT) => Some(v.toString)
        case (DoubleType, DOUBLE) => Some(v.toString)
        case (StringType, BINARY) =>
          Some(new String(v.asInstanceOf[Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8))
        case (DateType, INT32) =>
          Some(java.time.LocalDate.ofEpochDay(
            v.asInstanceOf[Number].longValue).toString)
        case (TimestampType, INT64) if microsOf(pt) =>
          val us = v.asInstanceOf[Number].longValue
          Some(java.time.Instant
            .ofEpochSecond(Math.floorDiv(us, 1000000L),
              Math.floorMod(us, 1000000L) * 1000L)
            .atZone(zone).toLocalDateTime.format(tsFmt))
        case (TimestampNTZType, INT64) if microsOf(pt) =>
          val us = v.asInstanceOf[Number].longValue
          Some(java.time.LocalDateTime
            .ofEpochSecond(Math.floorDiv(us, 1000000L),
              (Math.floorMod(us, 1000000L) * 1000L).toInt,
              java.time.ZoneOffset.UTC).format(tsFmt))
        case _ => None
      }
    // epoch-micros → epoch-day IN THE SESSION ZONE — identical to the
    // distributed path's `datediff(ts.cast(date), '1970-01-01')`
    def epochDay(us: Long): Long = java.time.Instant
      .ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L)
      .atZone(zone).toLocalDate.toEpochDay
    def epochDayNtz(us: Long): Long =
      Math.floorDiv(Math.floorDiv(us, 1000000L), 86400L)
    // derived transform-output bound, rendered like the distributed
    // path's `f(expr).cast(string)`; None = underivable → fall back
    // session-zone calendar date of a footer bound (the temporal
    // transforms months/years derive from it, mirroring the distributed
    // path's `year/month(c.cast(date))`)
    def localDate(v: AnyRef, dt: DataType): Option[java.time.LocalDate] =
      dt match {
        case DateType => Some(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Number].longValue))
        case TimestampType => Some(java.time.LocalDate.ofEpochDay(
          epochDay(v.asInstanceOf[Number].longValue)))
        case TimestampNTZType => Some(java.time.LocalDate.ofEpochDay(
          epochDayNtz(v.asInstanceOf[Number].longValue)))
        case _ => None
      }
    def derive(s: PartitionField, v: AnyRef, dt: DataType): Option[String] =
      s.transform match {
        case "days" => dt match {
          case DateType => Some(v.toString) // int32 IS epoch days
          case TimestampType =>
            Some(epochDay(v.asInstanceOf[Number].longValue).toString)
          case TimestampNTZType =>
            Some(epochDayNtz(v.asInstanceOf[Number].longValue).toString)
          case _ => None
        }
        case "months" => localDate(v, dt).map(d =>
          ((d.getYear - 1970) * 12 + (d.getMonthValue - 1)).toString)
        case "years" => localDate(v, dt).map(d => (d.getYear - 1970).toString)
        case "hours" => dt match {
          // cast-to-timestamp instant micros, floor-divided to hours —
          // identical to `floor(unix_micros(c.cast(timestamp)) / 3600e6)`
          case TimestampType | TimestampNTZType => Some(Math.floorDiv(
            v.asInstanceOf[Number].longValue, 3600000000L).toString)
          case DateType => Some((java.time.LocalDate
            .ofEpochDay(v.asInstanceOf[Number].longValue)
            .atStartOfDay(zone).toInstant.getEpochSecond / 3600L).toString)
          case _ => None
        }
        case "truncate" => dt match {
          case StringType => Some(new String(
            v.asInstanceOf[Binary].getBytes,
            java.nio.charset.StandardCharsets.UTF_8).take(s.param))
          // floor(v/w)*w via double, mirroring the Catalyst expr
          case ByteType | ShortType | IntegerType | LongType =>
            Some((Math.floor(
              v.asInstanceOf[Number].longValue.toDouble / s.param)
              * s.param).toLong.toString)
          case _ => None
        }
        case _ => None // identity: the column's own entry serves
      }
    val boundedNames = schema.fields.filter(f => FileSkipping.boundable(f.dataType))
      .map(_.name).toSeq
    // spec entries the distributed path would emit separately: transform
    // outputs not already covered by the source column's own entry
    val specEntries = specs.filter(s => !boundedNames.contains(s.name))
    // any unusable statistic aborts the WHOLE fast path (never serve
    // half-stats): signalled from arbitrarily deep in the per-column
    // walk with a stackless control throwable
    object Fallback extends Exception with scala.util.control.NoStackTrace
    def fallback(): Nothing = throw Fallback
    // Rows where a top-level nested column is NULL. Footer null counts
    // are per LEAF (an empty list or a null element counts there too),
    // so read the first leaf's definition-level histogram instead: level
    // 0 means the OPTIONAL top-level group itself is absent, one entry
    // per such row. A REQUIRED group holds no nulls.
    def nestedNulls(fileSchema: org.apache.parquet.schema.MessageType,
                    byName: Map[String, Seq[ColumnChunkMetaData]],
                    name: String): Long = {
      import org.apache.parquet.schema.Type.Repetition
      if (!fileSchema.containsField(name)) fallback()
      val top = fileSchema.getType(fileSchema.getFieldIndex(name))
      if (top.isRepetition(Repetition.REQUIRED)) 0L
      else if (!top.isRepetition(Repetition.OPTIONAL)) fallback()
      else {
        val leaf = fileSchema.getColumns.asScala
          .find(_.getPath.head == name).getOrElse(fallback())
        byName.getOrElse(leaf.getPath.mkString("."), fallback()).map { c =>
          val h = Option(c.getSizeStatistics).filter(_.isValid)
            .map(_.getDefinitionLevelHistogram)
            .filter(!_.isEmpty).getOrElse(fallback())
          h.get(0).longValue
        }.sum
      }
    }
    try {
      val rows = listed.map { case (p, size) =>
        val footer = ManifestIO.footer(hadoopConf, new Path(p))
        val blocks = footer.getBlocks.asScala.toSeq
        val n = blocks.map(_.getRowCount).sum
        if (n == 0L) {
          // mirror the distributed path's left-join miss: zero rows,
          // null stat maps
          Row(p, size, 0L, null, null, null, null)
        } else {
          val byName = blocks.flatMap(_.getColumns.asScala)
            .groupBy(_.getPath.toDotString)
          val fileSchema = footer.getFileMetaData.getSchema
          val nulls = schema.fields.map { f =>
            f.name -> (f.dataType match {
              case _: ArrayType | _: MapType | _: StructType =>
                nestedNulls(fileSchema, byName, f.name)
              case _ =>
                byName.getOrElse(f.name, fallback()).map { c =>
                  val st = c.getStatistics
                  if (st == null || !st.isNumNullsSet) fallback()
                  st.getNumNulls
                }.sum
            })
          }.toMap
          // raw footer bound of a column: Some(value), or None when
          // every value is null; aborts when bounds were dropped
          // despite non-null rows (NaN, oversized binary)
          def raw(name: String, wantMax: Boolean): Option[AnyRef] = {
            val chunks = byName(name)
            val pt = chunks.head.getPrimitiveType
            val cmp = pt.comparator()
              .asInstanceOf[java.util.Comparator[AnyRef]]
            val vals = chunks.flatMap { c =>
              val st = c.getStatistics
              if (st.hasNonNullValue)
                Some(if (wantMax) st.genericGetMax else st.genericGetMin)
              else if (st.getNumNulls == c.getValueCount) None
              else fallback()
            }.map(_.asInstanceOf[AnyRef])
            if (vals.isEmpty) Option.empty[AnyRef]
            else Some(vals.reduce((a, b) =>
              if ((cmp.compare(a, b) >= 0) == wantMax) a else b))
          }
          def bound(wantMax: Boolean): Map[String, String] = {
            val own = boundedNames.map { name =>
              val dt = schema(name).dataType
              val pt = byName(name).head.getPrimitiveType
              name -> raw(name, wantMax).map(v =>
                render(v, dt, pt).getOrElse(fallback())).orNull
            }
            val derived = specEntries.map { s =>
              val dt = schema(s.column).dataType
              s.name -> raw(s.column, wantMax).map(v =>
                derive(s, v, dt).getOrElse(fallback())).orNull
            }
            (own ++ derived).toMap
          }
          Row(p, size, n, nulls,
            bound(wantMax = false), bound(wantMax = true), null)
        }
      }
      Some(spark.createDataFrame(rows.asJava,
        StructType(ManifestSchema.fields.dropRight(1))))
    } catch { case Fallback => None }
  }

  /** Stage a manifest of this commit under a fresh UUID dir. */
  private def stage(manifest: DataFrame): Commit.Manifest =
    new Commit.Manifest(fs, manifestWriteConf,
      new Path(tableDir, s"_graft/manifests/${UUID.randomUUID()}"), manifest)

  /** Commit `delta`'s files on top of `branch`'s head (append,
    * add_files, streaming appends): the head's manifest and delete lists
    * are carried and the totals accumulate, so concurrent commits
    * compose. The delta manifest is stamped with the attempt's id,
    * hence written per attempt. */
  private def commitAppend(op: String, delta: DataFrame, clock: Clock,
                           branch: String = "main"): Unit = {
    val manifest = stage(delta)
    commitSnapshot(op, branch, Commit.Composes, rows = true) { (id, head) =>
      withDelta(head.getOrElse(Snapshot.Genesis), id, op, clock, manifest)
    }
  }

  /** `b` carried forward as snapshot `id`, plus the files of `delta`
    * (written now, stamped with `id`). */
  private def withDelta(b: Snapshot, id: Long, op: String, clock: Clock,
                        delta: Commit.Manifest): Snapshot = {
    val w = delta.write(Some(id))
    b.carried(id, op, clock.millis()).copy(
      manifests = b.manifests :+ delta.path, numFiles = b.numFiles + w.files,
      totalBytes = b.totalBytes + w.bytes, totalRows = b.totalRows + w.rows)
  }

  /** Commit an equality delete (deleteByKeys, upsert): `delta`'s files
    * and the eq-delete files in `eqDir` on top of main's head, minus the
    * `matched(head)` rows the keys delete there — recounted per attempt,
    * since concurrent commits compose. The eq manifest is stamped with
    * the attempt's id: the durable introducing-snapshot id its
    * strictly-before rule reads, safe against the intro's expiry. */
  private def commitEqDelete(op: String, delta: DataFrame, eqDir: DataFiles,
                             clock: Clock)(matched: Snapshot => Long): Unit = {
    val data = stage(delta)
    val eq = stage(inventory(eqDir))
    val eqFiles = eqDir.files.size.toLong
    commitSnapshot(op, "main", Commit.Composes, rows = true) { (id, head) =>
      val b = head.getOrElse(Snapshot.Genesis)
      val s = withDelta(b, id, op, clock, data)
      eq.write(Some(id))
      s.copy(totalRows = s.totalRows - matched(b),
        eqDeleteManifests = s.eqDeleteManifests :+ eq.path,
        eqDeleteFileCount = s.eqDeleteFileCount.map(_ + eqFiles))
    }
  }

  /** Commit `manifest` as the whole file list (overwrite, optimize, CoW
    * row-level ops), its lineage-free rows stamped with the attempt's
    * id. Outstanding delete manifests are dropped: the caller has
    * materialized every file they target, or replaced everything. */
  private[graft] def commitReplacing(op: String, manifest: DataFrame,
                                     clock: Clock,
                                     conflict: Commit.Conflict): Unit = {
    val staged = stage(manifest)
    commitSnapshot(op, "main", conflict, rows = true)(replacement(staged, _, op, clock, _))
  }

  /** Snapshot `id` of `op` listing exactly `staged`'s files (written now,
    * stamped with `id`), on top of `head`. */
  private def replacement(staged: Commit.Manifest, id: Long, op: String, clock: Clock,
                          head: Option[Snapshot]): Snapshot = {
    val w = staged.write(Some(id))
    Snapshot(id, clock.millis(), op, Seq(staged.path), w.files, w.bytes,
      w.rows, head.fold(-1L)(_.snapshotId),
      deleteFileCount = Some(0L), eqDeleteFileCount = Some(0L))
  }

  // ---- branches / write-audit-publish -----------------------------------

  /** All branch refs, including the implicit main. */
  def branches: Map[String, Long] = metadata.branchRefs

  /** Claim a ref mutation through the commit loop: recomputed against
    * the fresh state on every attempt (cross-process safe — in-process
    * callers already hold the table lock). */
  private def claimRefs(op: String)(mutate: TableMetadata => TableMetadata): Unit =
    claim(op)(st => Some(mutate(st)))

  /** Create a branch pointing at `at` (default: main's current head) —
    * the "write" staging area of write-audit-publish. */
  def createBranch(name: String, at: Option[Long] = None): Unit =
    commitLock.synchronized {
      claimRefs("create_branch") { st =>
        require(name != "main" && !st.refs.contains(name),
          s"branch $name exists")
        require(!st.tags.contains(name), s"a tag named $name exists")
        val target = at.orElse(st.head("main").map(_.snapshotId))
          .getOrElse(throw new IllegalArgumentException(
            "cannot branch an empty table"))
        require(st.snapshots.exists(_.snapshotId == target),
          s"no snapshot $target")
        st.copy(refs = st.branchRefs + (name -> target))
      }
    }

  /** Scan a branch head (same aligned read path as [[read]]). */
  def readBranch(name: String): DataFrame =
    op(readSnapshot(metadata.head(name)))

  /** Append onto a branch WITHOUT moving main — audited writers land
    * data here, validate via [[readBranch]], then [[fastForward]]. */
  def appendToBranch(branch: String, df: DataFrame,
                     clock: Clock = Clock.systemUTC()): Unit =
    appendOp(df, "append", clock, branch)

  /** Publish: move `to` up to `from`'s head, only if `to`'s head is an
    * ancestor of `from`'s (true fast-forward — no history is lost).
    * The move is ONE atomic refs write: readers of `to` switch from the
    * old state to the audited state instantly. */
  def fastForward(to: String, from: String): Unit =
    commitLock.synchronized {
      claimRefs("fast_forward") { st =>
        require(!st.tags.contains(to) && !st.tags.contains(from),
          "tags are immutable refs — cannot fast-forward a tag")
        val fromHead = st.head(from).map(_.snapshotId)
          .getOrElse(throw new IllegalArgumentException(s"no branch $from"))
        val toHead = st.head(to).map(_.snapshotId).getOrElse(-1L)
        val byId = st.snapshots.map(s => s.snapshotId -> s).toMap
        var c = fromHead
        var ok = toHead == -1L
        while (!ok && c != -1L) {
          if (c == toHead) ok = true
          else c = byId.get(c).map(_.parentId).getOrElse(-1L)
        }
        require(ok, s"$to@$toHead is not an ancestor of $from@$fromHead — " +
          "not a fast-forward")
        st.copy(refs = st.branchRefs + (to -> fromHead))
      }
    }

  /** Delete a branch ref (snapshots stay until expiry). */
  def dropBranch(name: String): Unit = commitLock.synchronized {
    require(name != "main", "cannot drop main")
    claimRefs("drop_branch") { st =>
      require(st.refs.contains(name), s"no branch $name")
      st.copy(refs = st.refs - name)
    }
  }

  // ---- tags (immutable refs) ---------------------------------------------

  /** All tag refs. Tags are Iceberg's immutable ref kind: they pin a
    * snapshot forever — never advanced by commits, never fast-forwarded;
    * expiry keeps their targets like branch heads. */
  def tags: Map[String, Long] = metadata.tags

  /** Create a tag at `at` (default: main's current head). The branch and
    * tag namespaces are shared, like Iceberg's — one name, one ref. */
  def createTag(name: String, at: Option[Long] = None): Unit =
    commitLock.synchronized {
      claimRefs("create_tag") { st =>
        require(name != "main" && !st.refs.contains(name),
          s"a branch named $name exists")
        require(!st.tags.contains(name), s"tag $name exists")
        val target = at.orElse(st.head("main").map(_.snapshotId))
          .getOrElse(throw new IllegalArgumentException(
            "cannot tag an empty table"))
        require(st.snapshots.exists(_.snapshotId == target),
          s"no snapshot $target")
        st.copy(tags = st.tags + (name -> target))
      }
    }

  /** Scan the snapshot a tag pins (same aligned read path as [[read]]). */
  def readTag(name: String): DataFrame = op {
    val st = metadata
    val id = st.tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag $name"))
    readSnapshot(st.snapshots.find(_.snapshotId == id))
  }

  /** Delete a tag (its snapshot stays until expiry un-pins it). */
  def dropTag(name: String): Unit = commitLock.synchronized {
    claimRefs("drop_tag") { st =>
      require(st.tags.contains(name), s"no tag $name")
      st.copy(tags = st.tags - name)
    }
  }

  /** DROP TABLE (reference analogue: tests/test_maintenance.py:20) —
    * removes data, metadata, and the table directory. */
  def drop(): Unit = commitLock.synchronized {
    fs.delete(tableDir, true)
  }

  // ---- maintenance commands (graft.cmd implements the bodies) -----------

  /** A compaction's `targetFileBytes` (0, the default, is
    * [[defaultTargetFileBytes]], read within the op). */
  private def targetOr(targetFileBytes: Long): Long =
    if (targetFileBytes > 0) targetFileBytes else defaultTargetFileBytes

  def optimize(targetFileBytes: Long = 0L,
               clock: Clock = Clock.systemUTC(),
               clusterBy: Seq[String] = Seq.empty): Unit =
    writeOp(graft.cmd.Optimize.run(this, targetOr(targetFileBytes), clock, clusterBy))

  /** Z-order (Morton) compaction: cluster on the interleaved bits of
    * `cols` so file skipping works on every listed dimension. */
  def optimizeZOrder(cols: Seq[String],
                     targetFileBytes: Long = 0L,
                     bits: Int = 16,
                     clock: Clock = Clock.systemUTC()): Unit =
    writeOp(graft.cmd.ZOrder.run(this, cols, targetOr(targetFileBytes), bits, clock))

  def expireSnapshots(retentionDays: Int,
                      clock: Clock = Clock.systemUTC()): Long =
    graft.cmd.ExpireSnapshots.run(this, retentionDays, clock)

  def removeOrphanFiles(retentionDays: Int,
                        clock: Clock = Clock.systemUTC()): Long =
    graft.cmd.RemoveOrphanFiles.run(this, retentionDays, clock)

  def analyze(columns: Option[Seq[String]] = None,
              clock: Clock = Clock.systemUTC()): Unit =
    graft.cmd.Analyze.run(this, columns, clock)

  /** SHOW STATS-shaped relation (tests/test_maintenance.py:90-92). */
  def stats: DataFrame = graft.cmd.Analyze.statsRelation(this)

  /** Drop all collected statistics (Trino Iceberg's
    * `ALTER TABLE t EXECUTE drop_extended_stats`): the ANALYZE store
    * and the incremental sketch store are removed; SHOW STATS falls
    * back to the live manifest-derived values. */
  def dropExtendedStats(): Unit = commitLock.synchronized {
    fs.delete(new Path(tableDir, "_graft/stats"), true)
    fs.delete(new Path(tableDir, "_graft/stats_inc"), true)
  }

  /** Copy-on-write row-level DELETE; rewrites only affected files.
    * @return rows deleted */
  def deleteWhere(cond: Column, clock: Clock = Clock.systemUTC()): Long =
    graft.cmd.RowLevel.delete(this, cond, clock)

  /** Row-level UPDATE (copy-on-write): matched rows get each SET column
    * replaced by its expression, evaluated against the old row. Only
    * files containing matches are rewritten. Each SET expression's type
    * must equal or promote to its column's ([[conform]]), checked
    * before any Spark job. @return matched rows. */
  def updateWhere(cond: Column, sets: Map[String, Column],
                  clock: Clock = Clock.systemUTC()): Long =
    graft.cmd.RowLevel.update(this, cond, sets, clock)

  /** Copy-on-write MERGE (upsert by key); rewrites only affected files.
    * `source` passes the write rule of [[conform]] before any Spark
    * job. */
  def merge(source: DataFrame, keys: Seq[String],
            clock: Clock = Clock.systemUTC()): Unit =
    graft.cmd.RowLevel.merge(this, source, keys, clock)

  /** Incremental ANALYZE: sketch only not-yet-covered live files;
    * returns the number of files scanned. */
  def analyzeIncremental(clock: Clock = Clock.systemUTC()): Long =
    graft.cmd.AnalyzeIncremental.run(this, clock)

  /** SHOW STATS shape merged from the per-file sketch store. */
  def statsIncremental: DataFrame =
    graft.cmd.AnalyzeIncremental.statsRelation(this)

  /** Approximate quantiles of numeric columns merged from the per-file
    * KLL sketch store (populated by [[analyzeIncremental]]). */
  def quantilesIncremental(qs: Seq[Double]): DataFrame =
    graft.cmd.AnalyzeIncremental.quantiles(this, qs)

  // ---- internals shared with graft.cmd ---------------------------------

  private[graft] def fileSystem: FileSystem = fs
  /** Whether a graft table (its snapshot log) lives at [[location]]. */
  def exists: Boolean = SnapshotLog.exists(fs, tableDir)
  private[graft] def dir: Path = tableDir
  private[graft] def lock: Object = commitLock
  private[graft] def emptyManifest: DataFrame =
    ManifestIO.emptyRelation(spark)

  /** Replacement commit (CoW row-level rewrite, binpack optimize): the
    * new manifest is `basis`'s rows minus `removed` — lineage kept —
    * plus the inventory of the `written` files, which the
    * commit stamps with its id. Outstanding delete manifests are
    * dropped; the caller has rewritten every file they target. Under
    * the [[ManifestIO.LocalReadMaxBytes]] gate and with a footer-served
    * inventory the manifest is assembled on the driver, so the commit
    * writes it with no Spark job; otherwise [[replacementManifestScan]]. */
  private[graft] def commitReplacement(op: String, basis: Option[Snapshot],
                                       removed: Set[String], written: DataFiles,
                                       clock: Clock): Unit = {
    val fresh = inventory(written)
    val local = for {
      base <- ManifestIO.readLocal(hadoopConf, basis.toSeq.flatMap(_.manifests))
      added <- ManifestIO.localRowsOf(fresh)
    } yield base.filterNot(r => removed(r.getString(0))) ++
      added.map(r => Row.fromSeq(r.toSeq :+ null))
    val manifest = local match {
      case Some(rows) =>
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.asJava, ManifestSchema)
      case None => replacementManifestScan(basis, removed, fresh)
    }
    commitReplacing(op, manifest, clock, Commit.HeadIs(basis))
  }

  /** Distributed form of [[commitReplacement]]'s manifest: the basis
    * manifest anti-joined with `removed`, unioned with the `fresh`
    * inventory. */
  private[graft] def replacementManifestScan(basis: Option[Snapshot],
                                             removed: Set[String],
                                             fresh: DataFrame): DataFrame = {
    import spark.implicits._
    ManifestIO.relation(spark, hadoopConf, basis.toSeq.flatMap(_.manifests))
      .join(removed.toSeq.toDF("path"), Seq("path"), "left_anti")
      .unionByName(fresh.withColumn("added_snapshot_id", lit(null).cast(LongType)))
  }
}

/** A commit dir [[GraftTable.writeFiles]] filled, and the parquet files
  * it holds. */
final case class DataFiles(dir: Path, files: Seq[LocatedFileStatus])

/** Result of [[GraftTable.readPruned]]: the pruned scan plus the file
  * counts proving (or disproving) that skipping happened. */
final case class PrunedScan(df: DataFrame, filesScanned: Long, filesTotal: Long)

object GraftTable {
  /** Field-metadata key holding a column's stable id across renames. */
  /** Parse the stored `sorted_by` property value (`a, b DESC`) into
    * (column, descending) pairs. */
  private[graft] def parseSortOrderProp(v: String): Seq[(String, Boolean)] =
    v.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { e =>
      val parts = e.split("\\s+").toSeq
      require(parts.length == 1 ||
        (parts.length == 2 && (parts(1).equalsIgnoreCase("ASC") ||
          parts(1).equalsIgnoreCase("DESC"))),
        s"bad sorted_by entry: $e")
      (parts.head, parts.length == 2 && parts(1).equalsIgnoreCase("DESC"))
    }

  /** Equal types, nested nullability aside (`containsNull`,
    * `valueContainsNull`, struct field nullability). */
  private def sameIgnoringNullability(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (ArrayType(x, _), ArrayType(y, _)) => sameIgnoringNullability(x, y)
      case (MapType(k1, v1, _), MapType(k2, v2, _)) =>
        sameIgnoringNullability(k1, k2) && sameIgnoringNullability(v1, v2)
      case (StructType(xs), StructType(ys)) => xs.length == ys.length &&
        xs.zip(ys).forall { case (x, y) =>
          x.name == y.name && sameIgnoringNullability(x.dataType, y.dataType) }
      case _ => a == b
    }

  private[meta] val GidKey = "gid"

  /** Stable field id; pre-evolution schemas have none (-1) — they are
    * stamped positionally when the schema log is first created. */
  private[meta] def gidOf(f: StructField): Long =
    if (f.metadata.contains(GidKey)) f.metadata.getLong(GidKey) else -1L

  private[meta] def withGids(s: StructType): StructType =
    StructType(s.fields.zipWithIndex.map { case (f, i) =>
      if (f.metadata.contains(GidKey)) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(GidKey, i.toLong).build())
    })

  val ManifestCols: Seq[String] = Seq("path", "size_bytes", "record_count",
    "null_counts", "min_values", "max_values", "blooms")
  /** Per-file inventory. `null_counts` (column name → #nulls in this
    * file) is the Iceberg-manifest-style file-level statistic that lets
    * SHOW STATS derive LIVE null fractions for columns never ANALYZEd —
    * the reference tests pin exactly that behavior
    * (tests/test_maintenance.py:151-161: un-analyzed column b's fraction
    * moves immediately after an insert; analyzed column a stays pinned).
    * `min_values`/`max_values` (column name → string-encoded bound over
    * this file's rows) are the Iceberg `lower_bounds`/`upper_bounds`
    * analogue that [[GraftTable.readPruned]] uses for file skipping. */
  /** Commits at or below this many files may take the driver-side
    * footer-statistics inventory path ([[GraftTable.footerInventory]]);
    * larger commits always aggregate distributedly — a thousand-file
    * rewrite must not serialize footer reads on the driver. */
  private[meta] val FooterInventoryMaxFiles = 64

  /** Test hook: count of inventories served from parquet footers, so
    * specs can pin that the fast path actually FIRES (a silent
    * fall-through to the distributed aggregation would still be
    * correct, just slower — exactly the regression worth catching). */
  private[graft] val footerInventoryHits =
    new java.util.concurrent.atomic.AtomicLong

  val ManifestSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("null_counts", MapType(StringType, LongType), nullable = true),
    StructField("min_values", MapType(StringType, StringType), nullable = true),
    StructField("max_values", MapType(StringType, StringType), nullable = true),
    // column name → serialized bloom filter over the file's values, for
    // the columns named by `write.bloom-filter.columns` (absent = none)
    StructField("blooms", MapType(StringType, BinaryType), nullable = true),
    StructField("added_snapshot_id", LongType, nullable = true)))

  /** One live equality-delete file: its manifest entry (the added id
    * is the snapshot that introduced it, per-file stamp or legacy log
    * derivation) and its manifest statistics. */
  private[meta] final case class EqFileInfo(file: ManifestEntry,
                                            nullCounts: Map[String, Long],
                                            lower: Map[String, String],
                                            upper: Map[String, String]) {
    def path: String = file.path
    def intro: Long = file.addedSnapshotId
    /** Every column of the file but the embedded intro column of
      * compacted files, sorted. */
    def keys: Seq[String] = nullCounts.keys.filterNot(_ == EqIntroCol).toSeq.sorted
  }

  /** Per-ENTRY introducing-snapshot column embedded in COMPACTED
    * eq-delete files ([[GraftTable.rewriteEqDeleteFiles]]): merging
    * files from different commits must preserve each entry's
    * strictly-before window, which a single per-file stamp cannot. */
  private[meta] val EqIntroCol = "__graft_eq_intro"

  /** Internal helper column names for the MOR read path — prefixed so
    * they can never collide with user schema columns. */
  private[meta] val MorPathCol = "__graft_mor_path"
  private[meta] val MorPosCol = "__graft_mor_pos"
  private[meta] val MorJoinCol = "__graft_mor_join"
  private[meta] val MorAddedCol = "__graft_mor_added"
  private[meta] val MorEqSnapCol = "__graft_mor_eq_snap"

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[meta] def lockFor(location: String): Object =
    locks.computeIfAbsent(normalize(location), _ => new Object)

  /** `file:///a/b` and `file:/a/b` both → `file:/a/b`. */
  def normalize(p: Path): String = p.toString
  def normalize(s: String): String = new Path(s).toString
  private[meta] def normalizeCol(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.CatalystShims.normalizePath(c)

  /** CREATE: one claim of the empty table with `schema` as version 1
    * and `partitionBy` as its spec, keeping whatever refs, tags and
    * properties a racing CREATE claimed. */
  def create(spark: SparkSession, location: String, schema: StructType,
             partitionBy: Seq[PartitionField] = Seq.empty): GraftTable = {
    val t = new GraftTable(spark, location)
    t.claim("create")(st => Some(st.copy(snapshots = Seq.empty,
      schemas = Seq(SchemaVersion(1, 0L, schema)), spec = partitionBy)))
    t
  }

  def load(spark: SparkSession, location: String): GraftTable =
    new GraftTable(spark, location)

  def exists(spark: SparkSession, location: String): Boolean = {
    val dir = new Path(location)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    SnapshotLog.exists(fs, dir)
  }

  private[graft] def listFiles(fs: FileSystem, dir: Path): Seq[LocatedFileStatus] = {
    if (!fs.exists(dir)) return Seq.empty
    val it = fs.listFiles(dir, true)
    val buf = Seq.newBuilder[LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        buf += f
    }
    buf.result()
  }
}
