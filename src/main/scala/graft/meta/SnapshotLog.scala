package graft.meta

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}

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

/** The complete CAS-versioned table state: the snapshot list plus both
  * ref kinds. Refs live IN the claimed log file (Iceberg's
  * metadata.json shape) so a branch advance is atomic with the commit
  * that caused it — a separate refs file would let two cross-process
  * winners write their ref updates out of order (main regressing to a
  * stale head). Empty refs = the implicit pre-branching "main" at the
  * max snapshot id. */
final case class TableState(
    snapshots: Seq[Snapshot],
    refs: Map[String, Long] = Map.empty,
    tags: Map[String, Long] = Map.empty) {
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

/** The table's snapshot log: a small JSON array, committed as VERSIONED
  * files `<table>/_graft/log/v<N>.snapshots.json` claimed by
  * rename-WITHOUT-overwrite — optimistic cross-process concurrency, the
  * Iceberg metadata-file CAS shape:
  *
  *   1. writer reads the highest version N (the current state),
  *   2. renders the full successor log to a hidden temp file,
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
  * across processes. Legacy single-file logs (`_graft/snapshots.json`)
  * are read as version 0 and upgraded on the next commit.
  *
  * Hand-rolled JSON (fixed schema, no string escapes needed beyond
  * paths we generate ourselves) — keeps zero extra dependencies.
  */
object SnapshotLog {
  private val LogName = "snapshots.json" // legacy single-file (read fallback)
  private val VersionFile = """v(\d{20})\.snapshots\.json""".r
  /** Versions kept behind the head for stragglers before cleanup. */
  private val KeepVersions = 10

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

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Current (version, state). Version 0 = no versioned file yet — the
    * content is then the legacy single file (or empty). Version files
    * written before refs were folded in (bare JSON arrays), and the
    * legacy file, take their refs/tags from the standalone
    * `refs.json`/`tags.json` fallback. */
  def readState(fs: FileSystem, tableDir: Path): (Long, TableState) = {
    var attempt = 0
    while (true) {
      val vs = listVersions(fs, tableDir)
      if (vs.isEmpty) {
        val legacy = logPath(tableDir)
        val snaps =
          if (fs.exists(legacy)) parse(readFile(fs, legacy)) else Seq.empty
        return (0L, TableState(snaps,
          Refs.read(fs, tableDir), Refs.readTags(fs, tableDir)))
      }
      try {
        val txt = readFile(fs, versionPath(tableDir, vs.last))
        return (vs.last, parseState(txt) match {
          case Some(st) => st // refs live in the file
          case None => TableState(parse(txt), // pre-state array format
            Refs.read(fs, tableDir), Refs.readTags(fs, tableDir))
        })
      } catch {
        // head cleaned up between list and open (lagging lister) — re-list
        case _: java.io.FileNotFoundException if attempt < 3 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def read(fs: FileSystem, tableDir: Path): Seq[Snapshot] =
    readState(fs, tableDir)._2.snapshots

  /** Compare-and-swap: publish `state` as version `expected + 1`.
    * Returns false if another writer claimed that version first, or the
    * claim failed — the caller re-reads and recomputes against the new
    * head. Its one caller is [[Commit.claim]], which bounds the retries;
    * every log write (commits, expiry, ref moves, CREATE) goes through
    * it. */
  def tryWriteState(fs: FileSystem, tableDir: Path, expected: Long,
                    state: TableState): Boolean = {
    val target = versionPath(tableDir, expected + 1)
    fs.mkdirs(target.getParent)
    if (fs.exists(target)) return false // cheap pre-check; rename re-checks
    val tmp = new Path(target.getParent,
      s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(renderState(state).getBytes(StandardCharsets.UTF_8))
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
      // best-effort housekeeping: retire the legacy/standalone files
      // (their content now lives in the claimed state) and old versions
      try {
        fs.delete(logPath(tableDir), false)
        fs.delete(Refs.path(tableDir), false)
        fs.delete(Refs.tagsPath(tableDir), false)
        listVersions(fs, tableDir).dropRight(KeepVersions)
          .foreach(v => fs.delete(versionPath(tableDir, v), false))
      } catch { case _: java.io.IOException => }
    }
    claimed
  }

  def current(snapshots: Seq[Snapshot]): Option[Snapshot] =
    if (snapshots.isEmpty) None else Some(snapshots.maxBy(_.snapshotId))

  // ---- tiny fixed-schema JSON codec -------------------------------------

  private def renderMap(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (n, id) => s""""$n":$id""" }
      .mkString("{", ",", "}")

  /** refs/tags first, snapshots last — snapshot objects contain no
    * "refs"/"tags" keys, so the block regexes below stay unambiguous. */
  private def renderState(st: TableState): String =
    s"""{"refs":${renderMap(st.refs)},"tags":${renderMap(st.tags)},""" +
      s""""snapshots":${render(st.snapshots)}}"""

  private val RefsBlock = """"refs":\{([^}]*)\}""".r
  private val TagsBlock = """"tags":\{([^}]*)\}""".r
  private val MapEntry = """"([^"]+)":(-?\d+)""".r

  private def parseMap(inner: String): Map[String, Long] =
    MapEntry.findAllMatchIn(inner).map(m => m.group(1) -> m.group(2).toLong).toMap

  /** None = bare-array (pre-state) format. */
  private def parseState(txt: String): Option[TableState] =
    if (txt.trim.startsWith("[")) None
    else Some(TableState(parse(txt),
      RefsBlock.findFirstMatchIn(txt).map(m => parseMap(m.group(1)))
        .getOrElse(Map.empty),
      TagsBlock.findFirstMatchIn(txt).map(m => parseMap(m.group(1)))
        .getOrElse(Map.empty)))

  private def renderList(ps: Seq[String]): String =
    ps.map(p => s""""$p"""").mkString("[", ",", "]")

  private def render(ss: Seq[Snapshot]): String =
    ss.map { s =>
      val counts =
        s.deleteFileCount.map(n => s""""deleteFileCount":$n,""").getOrElse("") +
          s.eqDeleteFileCount.map(n => s""""eqDeleteFileCount":$n,""").getOrElse("")
      s"""{"snapshotId":${s.snapshotId},"parentId":${s.parentId},""" +
        s""""timestampMs":${s.timestampMs},""" +
        s""""operation":"${s.operation}","manifests":${renderList(s.manifests)},""" +
        s""""deleteManifests":${renderList(s.deleteManifests)},""" +
        s""""eqDeleteManifests":${renderList(s.eqDeleteManifests)},""" + counts +
        s""""numFiles":${s.numFiles},"totalBytes":${s.totalBytes},"totalRows":${s.totalRows}}"""
    }.mkString("[\n", ",\n", "\n]")

  // parentId, the delete-manifest lists, and the delete-file counts are
  // optional on parse so logs written before branching / merge-on-read /
  // summary counts stay readable
  private val Entry =
    ("""\{"snapshotId":(-?\d+),(?:"parentId":(-?\d+),)?"timestampMs":(-?\d+),"operation":"([^"]*)",""" +
      """"manifests":\[([^\]]*)\],(?:"deleteManifests":\[([^\]]*)\],)?""" +
      """(?:"eqDeleteManifests":\[([^\]]*)\],)?""" +
      """(?:"deleteFileCount":(-?\d+),)?(?:"eqDeleteFileCount":(-?\d+),)?""" +
      """"numFiles":(\d+),"totalBytes":(\d+),"totalRows":(\d+)\}""").r

  private def parseList(inner: String): Seq[String] =
    if (inner == null || inner.isEmpty) Seq.empty
    else inner.split(",").toSeq.map(_.stripPrefix("\"").stripSuffix("\""))

  private def parse(txt: String): Seq[Snapshot] =
    Entry.findAllMatchIn(txt).map { m =>
      Snapshot(m.group(1).toLong, m.group(3).toLong, m.group(4),
        parseList(m.group(5)), m.group(10).toLong, m.group(11).toLong,
        m.group(12).toLong,
        parentId = Option(m.group(2)).map(_.toLong).getOrElse(-1L),
        deleteManifests = parseList(m.group(6)),
        eqDeleteManifests = parseList(m.group(7)),
        deleteFileCount = Option(m.group(8)).map(_.toLong),
        eqDeleteFileCount = Option(m.group(9)).map(_.toLong))
    }.toSeq
}

/** MIGRATION FALLBACK readers for the standalone `refs.json` /
  * `tags.json` files earlier versions wrote beside the log. Refs and
  * tags now live INSIDE the CAS-claimed [[TableState]] (so a ref
  * advance is atomic with its commit); these files are read only when
  * the log head predates the state format, and are retired by the
  * next claim. */
object Refs {
  private val Name = "refs.json"
  private val TagsName = "tags.json"
  def path(tableDir: Path): Path = new Path(tableDir, s"_graft/$Name")
  def tagsPath(tableDir: Path): Path = new Path(tableDir, s"_graft/$TagsName")
  private val Entry = """"([^"]+)":(-?\d+)""".r

  def read(fs: FileSystem, tableDir: Path): Map[String, Long] =
    readMap(fs, path(tableDir))

  def readTags(fs: FileSystem, tableDir: Path): Map[String, Long] =
    readMap(fs, tagsPath(tableDir))

  private def readMap(fs: FileSystem, p: Path): Map[String, Long] =
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      Entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toLong).toMap
    }
}
