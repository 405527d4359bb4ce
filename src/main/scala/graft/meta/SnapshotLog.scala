package graft.meta

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** One committed table version.
  *
  * The per-file inventory is NOT held here — it lives in parquet
  * manifests listed in [[manifests]], read as a DataFrame (scales to
  * millions of files; the log row stays O(#manifests)). Mirrors the
  * Iceberg snapshot-of-manifests model the reference operates on via
  * Trino (reference: trino_iceberg_maintenance/__main__.py:141-177
  * issues ALTER TABLE ... EXECUTE against exactly this structure).
  *
  * An APPEND commit writes only the delta manifest for its new files
  * and carries the prior snapshot's manifest list — commit metadata
  * cost is O(new files), not O(table), which is what keeps a
  * 100 TB/сommit-heavy table writable. Replacement commits (optimize /
  * overwrite / rewrite_manifests) start a fresh single-manifest list.
  * Manifests are therefore SHARED between snapshots; expiry must only
  * delete manifests no retained snapshot lists.
  *
  * @param timestampMs  commit time, epoch millis (driver clock — the
  *                     reference's two-clock split __main__.py:165 vs :174
  *                     is deliberately unified, SURVEY.md §7.7c)
  * @param deleteManifests manifests of POSITION-DELETE files (Iceberg v2
  *                     merge-on-read): each listed manifest inventories
  *                     parquet files of (file_path, pos) rows that reads
  *                     anti-join away. `totalRows` is the LOGICAL row
  *                     count (physical minus outstanding deletes).
  *                     Replacement commits (optimize / overwrite /
  *                     row-level CoW) materialize and drop them; appends
  *                     and further deletes carry them.
  */
final case class Snapshot(
    snapshotId: Long,
    timestampMs: Long,
    operation: String, // append | delete | upsert | optimize | overwrite | rewrite_manifests
    manifests: Seq[String],
    numFiles: Long,
    totalBytes: Long,
    totalRows: Long,
    parentId: Long = -1L, // commit this one was based on; -1 = none/unknown
    deleteManifests: Seq[String] = Seq.empty,
    eqDeleteManifests: Seq[String] = Seq.empty,
    // Iceberg snapshot-summary analogue (total-delete-files /
    // total-equality-deletes): how many POSITION-delete / eq-delete
    // FILES the delete manifests list — monitoring a 100 TB table's
    // outstanding MOR debt must not scan manifests. None = unknown
    // (log written before these fields existed); maintained
    // incrementally by every commit path, never recounted.
    deleteFileCount: Option[Long] = None,
    eqDeleteFileCount: Option[Long] = None) {
  /** This snapshot carried forward as snapshot `id` of `op`: the same
    * manifest lists, totals and counts, parented here. Commit sites
    * state their successor as a copy of this. */
  def carried(id: Long, op: String, timestampMs: Long): Snapshot =
    copy(snapshotId = id, timestampMs = timestampMs, operation = op,
      parentId = snapshotId)

  /** Pure data addition (plain or streaming-sink append) — the commits
    * incremental scans and the streaming source may deliver. */
  def isAppend: Boolean =
    operation == "append" || operation.startsWith("stream_append")

  /** Metadata reshuffles that change NO logical rows and preserve
    * `added_snapshot_id` lineage — transparent to incremental scans
    * and the changelog (they plan from lineage, which survives). */
  def isRowNeutral: Boolean =
    operation == "rewrite_manifests" || operation == "rewrite_deletes" ||
      operation == "rewrite_eq_deletes"
}

object Snapshot {
  /** The empty table's head: what the first commit is carried from
    * (no files, known-zero delete counts, parent id -1). */
  val Genesis: Snapshot = Snapshot(-1L, 0L, "", Seq.empty, 0L, 0L, 0L,
    deleteFileCount = Some(0L), eqDeleteFileCount = Some(0L))
}


/** One committed table schema: effective for files added by snapshots
  * with id >= `since`. Fields carry stable ids ([[GraftTable.gidOf]]) so
  * renames resolve without touching data (Iceberg field-id semantics). */
final case class SchemaVersion(version: Int, since: Long, schema: StructType)

/** The table metadata, claimed whole by every commit: the snapshots, both
  * ref kinds, the schema versions, the partition spec and the
  * properties — the set Iceberg keeps in one table-metadata file
  * (https://iceberg.apache.org/spec/#table-metadata). Refs live in it so
  * a branch advance is atomic with the commit that caused it (a separate
  * refs file would let two cross-process winners write their ref updates
  * out of order); the definition lives in it so a schema, spec or
  * property change is ordered with every commit, and a commit can check
  * the schema its rows were written under. Empty refs = the implicit
  * pre-branching "main" at the max snapshot id.
  *
  * @param schemas every schema version, oldest first; the last is the
  *                current schema. Empty only where no table exists.
  * @param spec    the partition spec (empty = unpartitioned)
  * @param formatVersion the metadata layout the value was read from:
  *                [[TableMetadata.FormatVersion]], or 0 for a layout
  *                that predates it — the next claim writes the current
  *                layout and retires the old one's files
  *                ([[SnapshotLog.tryWriteState]]) */
final case class TableMetadata(
    snapshots: Seq[Snapshot],
    refs: Map[String, Long] = Map.empty,
    tags: Map[String, Long] = Map.empty,
    schemas: Seq[SchemaVersion] = Seq.empty,
    spec: Seq[PartitionField] = Seq.empty,
    properties: Map[String, String] = Map.empty,
    formatVersion: Int = TableMetadata.FormatVersion) {
  def schema: StructType = schemas.last.schema

  /** The current schema's version (0 where no schema exists). */
  def schemaId: Int = schemas.lastOption.fold(0)(_.version)

  /** The id the next snapshot gets: max + 1. */
  def nextSnapshotId: Long = snapshots.map(_.snapshotId).foldLeft(0L)(math.max) + 1

  /** Head of `branch`: its ref once refs are materialized, else (main
    * only) the implicit pre-branching head, the max snapshot id. */
  def head(branch: String): Option[Snapshot] =
    refs.get(branch) match {
      case Some(id) => snapshots.find(_.snapshotId == id)
      case None if branch == "main" => SnapshotLog.current(snapshots)
      case None => None
    }

  /** The branch refs with main's implicit head pinned (no-op once
    * present). */
  def branchRefs: Map[String, Long] =
    if (refs.contains("main")) refs
    else refs ++ SnapshotLog.current(snapshots).map("main" -> _.snapshotId)
}

object TableMetadata {
  /** The layout [[SnapshotLog.encode]] writes. */
  val FormatVersion = 1
  /** No table: no log version and no legacy log. */
  val Empty: TableMetadata = TableMetadata(Seq.empty)
}

/** The table's log: its [[TableMetadata]] as JSON, committed as
  * VERSIONED files `<table>/_graft/log/v<N>.snapshots.json` claimed by
  * rename-WITHOUT-overwrite — optimistic cross-process concurrency, the
  * Iceberg metadata-file CAS shape:
  *
  *   1. writer reads the highest version N (the current metadata),
  *   2. renders the full successor to a hidden temp file,
  *   3. claims `v(N+1)` by renaming the temp WITHOUT the OVERWRITE
  *      flag — if another process claimed N+1 first, the rename fails
  *      (atomically on HDFS; exists-checked on local/object FS) and the
  *      writer re-reads and retries against the new head.
  *
  * This object reads the log and makes one claim ([[tryWriteState]]);
  * the read-recompute-retry loop around the claim is [[Commit.claim]],
  * the only writer.
  *
  * Readers always see a complete file (content is fully written before
  * the claim), and a crashed writer leaves only an unclaimed temp.
  * This replaces the earlier single-file overwrite-rename, which was
  * safe only under the in-process lock — two separate JVMs could race
  * log overwrites and silently drop each other's commits (the
  * reference's deployment model — a cron job racing ad-hoc writers —
  * hits exactly that). In-process writers are additionally serialized
  * by [[GraftTable]]'s per-path lock, so retries only ever happen
  * across processes. Tables written before the metadata moved into the
  * log are read through [[LegacyLayout]] and upgraded by their next
  * claim.
  *
  * The codec is Jackson's tree model ([[encode]], [[decode]]): strings
  * are escaped, unknown keys are ignored, schemas are Spark's own
  * `StructType` JSON.
  */
object SnapshotLog {
  private val LogName = "snapshots.json" // legacy single-file (read fallback)
  private val VersionFile = """v(\d{20})\.snapshots\.json""".r
  /** Versions kept behind the head for stragglers before cleanup. */
  private val KeepVersions = 10

  private[meta] val Json = new ObjectMapper()

  def logPath(tableDir: Path): Path = new Path(tableDir, s"_graft/$LogName")
  private def logDir(tableDir: Path): Path = new Path(tableDir, "_graft/log")
  private def versionPath(tableDir: Path, v: Long): Path =
    new Path(logDir(tableDir), f"v$v%020d.snapshots.json")

  /** A table exists iff it has a committed log (any version) — the
    * empty log written by CREATE TABLE counts. */
  def exists(fs: FileSystem, tableDir: Path): Boolean =
    listVersions(fs, tableDir).nonEmpty || fs.exists(logPath(tableDir))

  private def listVersions(fs: FileSystem, tableDir: Path): Seq[Long] = {
    val d = logDir(tableDir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.flatMap(_.getPath.getName match {
      case VersionFile(v) => Some(v.toLong)
      case _ => None
    }).sorted
  }

  private[meta] def readJson(fs: FileSystem, p: Path): JsonNode = {
    val in = fs.open(p)
    try Json.readTree(in) finally in.close()
  }

  /** Current (version, metadata). Version 0 = no versioned file yet —
    * the content is then the legacy single file, a layout of its own
    * that the next claim retires (or no table). */
  def readState(fs: FileSystem, tableDir: Path): (Long, TableMetadata) = {
    var attempt = 0
    while (true) {
      val vs = listVersions(fs, tableDir)
      if (vs.isEmpty) {
        val legacy = logPath(tableDir)
        return (0L,
          if (fs.exists(legacy))
            parse(fs, tableDir, readJson(fs, legacy)).copy(formatVersion = 0)
          else TableMetadata.Empty)
      }
      try return (vs.last, parse(fs, tableDir, readJson(fs, versionPath(tableDir, vs.last))))
      catch {
        // head cleaned up between list and open (lagging lister) — re-list
        case _: java.io.FileNotFoundException if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Compare-and-swap: publish `meta` as version `expected + 1`.
    * Returns false if another writer claimed that version first, or the
    * claim failed — the caller re-reads and recomputes against the new
    * head. Its one caller is [[Commit.claim]], which bounds the retries;
    * every log write (commits, definition changes, expiry, ref moves,
    * CREATE) goes through it. */
  def tryWriteState(fs: FileSystem, tableDir: Path, expected: Long,
                    meta: TableMetadata): Boolean = {
    val target = versionPath(tableDir, expected + 1)
    fs.mkdirs(target.getParent)
    if (fs.exists(target)) return false // cheap pre-check; rename re-checks
    val tmp = new Path(target.getParent,
      s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(encode(meta).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val claimed =
      try {
        // NO overwrite: an existing target fails the rename — this IS
        // the atomic claim (atomic on HDFS; checked on local FS)
        AtomicRename.claim(fs, tmp, target)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException =>
          fs.delete(tmp, false); false
      }
    if (claimed) {
      // best-effort housekeeping: the upgrading claim retires the old
      // layout's files (their content now lives in the claimed
      // metadata); every claim drops versions behind the window
      try {
        if (meta.formatVersion < TableMetadata.FormatVersion)
          LegacyLayout.retire(fs, tableDir)
        listVersions(fs, tableDir).dropRight(KeepVersions)
          .foreach(v => fs.delete(versionPath(tableDir, v), false))
      } catch { case _: java.io.IOException => }
    }
    claimed
  }

  private def parse(fs: FileSystem, tableDir: Path, head: JsonNode): TableMetadata =
    if (head.has("formatVersion")) decode(head) else LegacyLayout.read(fs, tableDir, head)

  def current(snapshots: Seq[Snapshot]): Option[Snapshot] =
    if (snapshots.isEmpty) None else Some(snapshots.maxBy(_.snapshotId))

  // ---- the codec ----------------------------------------------------------

  /** `m` as the JSON of one log version, at [[TableMetadata.FormatVersion]]. */
  def encode(m: TableMetadata): String = {
    val root = Json.createObjectNode()
    root.put("formatVersion", TableMetadata.FormatVersion)
    val schemas = root.putArray("schemas")
    m.schemas.foreach { case SchemaVersion(version, since, struct) =>
      schemas.addObject().put("version", version).put("since", since)
        .set[JsonNode]("schema", Json.readTree(struct.json))
    }
    val spec = root.putArray("spec")
    m.spec.foreach(f => spec.addObject().put("column", f.column)
      .put("transform", f.transform).put("param", f.param))
    val props = root.putObject("properties")
    m.properties.toSeq.sorted.foreach { case (k, v) => props.put(k, v) }
    putLongs(root.putObject("refs"), m.refs)
    putLongs(root.putObject("tags"), m.tags)
    val snaps = root.putArray("snapshots")
    m.snapshots.foreach { s =>
      val o = snaps.addObject().put("snapshotId", s.snapshotId)
        .put("parentId", s.parentId).put("timestampMs", s.timestampMs)
        .put("operation", s.operation)
      putStrings(o.putArray("manifests"), s.manifests)
      putStrings(o.putArray("deleteManifests"), s.deleteManifests)
      putStrings(o.putArray("eqDeleteManifests"), s.eqDeleteManifests)
      s.deleteFileCount.foreach(n => o.put("deleteFileCount", n))
      s.eqDeleteFileCount.foreach(n => o.put("eqDeleteFileCount", n))
      o.put("numFiles", s.numFiles).put("totalBytes", s.totalBytes)
        .put("totalRows", s.totalRows)
    }
    Json.writeValueAsString(root)
  }

  /** The metadata [[encode]] wrote; unknown keys are ignored. */
  def decode(txt: String): TableMetadata = decode(Json.readTree(txt))

  private def decode(root: JsonNode): TableMetadata = {
    val fv = root.get("formatVersion").asInt
    require(fv <= TableMetadata.FormatVersion, s"table metadata format " +
      s"$fv is newer than this reader's ${TableMetadata.FormatVersion}")
    TableMetadata(snapshotsOf(root.path("snapshots")),
      longsOf(root.path("refs")), longsOf(root.path("tags")),
      elements(root.path("schemas")).map(n => SchemaVersion(
        n.get("version").asInt, n.get("since").asLong, schemaOf(n.get("schema")))),
      specOf(root.path("spec")), stringsOf(root.path("properties")), fv)
  }

  private def putLongs(o: ObjectNode, m: Map[String, Long]): Unit =
    m.toSeq.sorted.foreach { case (k, v) => o.put(k, v) }

  private def putStrings(a: ArrayNode, xs: Seq[String]): Unit =
    xs.foreach(a.add)

  private def elements(n: JsonNode): Seq[JsonNode] = n.elements.asScala.toSeq

  private def entries(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)

  private[meta] def longsOf(n: JsonNode): Map[String, Long] =
    entries(n).map { case (k, v) => k -> v.asLong }.toMap

  private[meta] def stringsOf(n: JsonNode): Map[String, String] =
    entries(n).map { case (k, v) => k -> v.asText }.toMap

  private[meta] def schemaOf(n: JsonNode): StructType =
    DataType.fromJson(n.toString).asInstanceOf[StructType]

  private[meta] def specOf(n: JsonNode): Seq[PartitionField] =
    elements(n).map(f => PartitionField(f.get("column").asText,
      f.get("transform").asText, f.path("param").asInt(0)))

  // parentId, the delete-manifest lists and the delete-file counts are
  // optional: snapshots written before branching, merge-on-read or the
  // summary counts lack them
  private[meta] def snapshotsOf(n: JsonNode): Seq[Snapshot] =
    elements(n).map { s =>
      def strings(k: String) = elements(s.path(k)).map(_.asText)
      def count(k: String) = Option(s.get(k)).filterNot(_.isNull).map(_.asLong)
      Snapshot(s.get("snapshotId").asLong, s.get("timestampMs").asLong,
        s.get("operation").asText, strings("manifests"), s.get("numFiles").asLong,
        s.get("totalBytes").asLong, s.get("totalRows").asLong,
        parentId = s.path("parentId").asLong(-1L),
        deleteManifests = strings("deleteManifests"),
        eqDeleteManifests = strings("eqDeleteManifests"),
        deleteFileCount = count("deleteFileCount"),
        eqDeleteFileCount = count("eqDeleteFileCount"))
    }
}

/** The table layouts that predate [[TableMetadata.FormatVersion]], read
  * once per op through [[read]] and retired by the first claim on the
  * table ([[retire]]). Nothing else knows their files. */
private[meta] object LegacyLayout {
  private val SchemaFile = """v(\d+)_s(\d+)\.json""".r

  /** The metadata of a table whose log `head` predates the current
    * layout: a bare snapshot array (the single-file log, or an early
    * version) or a {refs, tags, snapshots} object, with the definition
    * kept in side files beside the log. Format version 0. */
  def read(fs: FileSystem, tableDir: Path, head: JsonNode): TableMetadata = {
    import SnapshotLog._
    def side(name: String): Option[JsonNode] = {
      val p = new Path(tableDir, s"_graft/$name")
      if (fs.exists(p)) Some(readJson(fs, p)) else None
    }
    // bare arrays kept their refs and tags in refs.json / tags.json
    val (snaps, refs, tags) =
      if (head.isArray) (head, side("refs.json"), side("tags.json"))
      else (head.path("snapshots"), Option(head.get("refs")), Option(head.get("tags")))
    // schema.json is the current schema; _graft/schemas/ holds every
    // version (v<version>_s<since>.json) once the table first evolved
    val versionsDir = new Path(tableDir, "_graft/schemas")
    val versions =
      if (!fs.exists(versionsDir)) Seq.empty
      else fs.listStatus(versionsDir).toSeq.flatMap(st => st.getPath.getName match {
        case SchemaFile(v, since) =>
          Some(SchemaVersion(v.toInt, since.toLong, schemaOf(readJson(fs, st.getPath))))
        case _ => None
      }).sortBy(_.version)
    TableMetadata(snapshotsOf(snaps), refs.fold(Map.empty[String, Long])(longsOf),
      tags.fold(Map.empty[String, Long])(longsOf),
      if (versions.nonEmpty) versions
      else side("schema.json").map(s => SchemaVersion(1, 0L, schemaOf(s))).toSeq,
      side("partition.json").fold(Seq.empty[PartitionField])(specOf),
      side("properties.json").fold(Map.empty[String, String])(stringsOf),
      formatVersion = 0)
  }

  /** Delete the old layout's files: the claimed metadata now holds them. */
  def retire(fs: FileSystem, tableDir: Path): Unit = {
    fs.delete(SnapshotLog.logPath(tableDir), false)
    Seq("refs.json", "tags.json", "schema.json", "partition.json", "properties.json")
      .foreach(n => fs.delete(new Path(tableDir, s"_graft/$n"), false))
    fs.delete(new Path(tableDir, "_graft/schemas"), true)
  }
}
