package graft.meta

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The table's commit protocol, written once. Every log write —
  * appends, upserts, deletes, rewrites, optimize, expiry, rollback,
  * branch and tag moves, schema, spec and property changes, CREATE — is
  * a step `TableMetadata => Option[TableMetadata]` run by [[claim]]:
  *
  *   1. read the head metadata (version N),
  *   2. apply the step: the successor, or None for "nothing to commit";
  *      a step refuses a conflicting head by throwing,
  *   3. claim version N+1 ([[SnapshotLog.tryWriteState]]); on a lost
  *      claim re-read and recompute, at most [[MaxAttempts]] times.
  *
  * Snapshot commits run [[snapshot]], which states the successor as a
  * function of the fresh head: it checks one of the three [[Conflict]]
  * rules and the schema the rows were written under, assigns the id and
  * advances the branch ref in the same claim. Their manifests go through
  * the one writer, [[Manifest]].
  *
  * In-process writers are serialized by [[GraftTable]]'s per-path lock,
  * so retries happen across processes (the Iceberg/Delta optimistic
  * protocol: a cron maintenance job racing ad-hoc writers).
  */
private[graft] object Commit {

  /** Claims one commit may lose before it gives up. A store whose rename
    * keeps failing (`tryWriteState` reads any rename error as a lost
    * claim) would otherwise spin forever. */
  val MaxAttempts = 50

  /** Run `step` against the fresh head until its successor is claimed.
    * @return the claimed metadata, or None when the step had nothing to
    *         commit (then nothing was written) */
  def claim(fs: FileSystem, tableDir: Path, op: String)(
      step: TableMetadata => Option[TableMetadata]): Option[TableMetadata] = {
    var attempt = 0
    while (attempt < MaxAttempts) {
      val (version, st) = SnapshotLog.readState(fs, tableDir)
      val next = step(st)
      if (next.forall(SnapshotLog.tryWriteState(fs, tableDir, version, _)))
        return next
      attempt += 1
    }
    throw new IllegalStateException(
      s"snapshot-log CAS retry exhausted for $op after $MaxAttempts attempts")
  }

  /** Commit one snapshot on `branch`: per attempt, check `conflict`
    * against the fresh head and append `next(id, head)` as the branch's
    * new head, the ref advance riding in the same claim. `schemaId` is
    * the schema version the commit's rows were conformed to (None: it
    * writes no table rows); a head at another version is refused — the
    * rows would be read under a schema they were not written for.
    * @return the claimed metadata */
  def snapshot(fs: FileSystem, tableDir: Path, op: String, branch: String,
               conflict: Conflict, schemaId: Option[Int])(
      next: (Long, Option[Snapshot]) => Snapshot): TableMetadata =
    claim(fs, tableDir, op) { st =>
      require(branch == "main" || st.refs.contains(branch),
        s"no branch named $branch — createBranch first")
      schemaId.foreach(v => require(v == st.schemaId,
        s"the table schema changed during $op — its rows were written " +
          s"under schema version $v, the head is at ${st.schemaId}; " +
          "rerun the operation"))
      val head = st.head(branch)
      conflict.check(op, st, head)
      Some(successor(st, branch)(next(_, head)))
    }.get

  /** `st` plus `next(id)` as the head of `branch`, id = max + 1. Once
    * refs exist (or off main) the ref advance is written, pinning main's
    * implicit head on the way; refs-free tables keep the implicit
    * main == max id. */
  def successor(st: TableMetadata, branch: String)(
      next: Long => Snapshot): TableMetadata = {
    val id = st.nextSnapshotId
    val refs =
      if (st.refs.nonEmpty || branch != "main") st.branchRefs + (branch -> id)
      else st.refs
    st.copy(snapshots = st.snapshots :+ next(id), refs = refs)
  }

  /** What a snapshot commit tolerates landing between its planning
    * basis and its claim. Throws (IllegalArgumentException) to refuse. */
  sealed trait Conflict {
    def check(op: String, st: TableMetadata, head: Option[Snapshot]): Unit
  }

  /** Appends and upserts: the successor is recomputed from the fresh
    * head on every attempt, so they compose with any concurrent commit. */
  case object Composes extends Conflict {
    def check(op: String, st: TableMetadata, head: Option[Snapshot]): Unit = ()
  }

  /** MOR delete and the delete-file rewrites: positions and merged
    * delete sets stay valid across appends (immutable files, carried
    * delete lists), but any other commit since `basis` may have
    * rewritten the files or the delete lists they were computed from
    * (Iceberg's serializable-isolation validation). The head must
    * descend from `basis` through appends only — a ref move (rollback)
    * lands no snapshot, so the head's lineage is checked, not the
    * snapshots landed since. */
  final case class AppendsSince(basis: Snapshot) extends Conflict {
    def check(op: String, st: TableMetadata, head: Option[Snapshot]): Unit = {
      val byId = st.snapshots.map(s => s.snapshotId -> s).toMap
      // parent ids strictly decrease, so the walk ends
      @scala.annotation.tailrec
      def descends(s: Snapshot): Boolean =
        s.snapshotId == basis.snapshotId || s.isAppend &&
          (s.parentId == basis.snapshotId || (byId.get(s.parentId) match {
            case Some(p) => descends(p)
            case None => false
          }))
      require(head.exists(descends),
        s"concurrent commit during $op — main no longer descends from " +
          s"snapshot ${basis.snapshotId} through appends only (head: " +
          s"${head.fold("none")(h => s"${h.snapshotId} ${h.operation}")}); " +
          "rerun the operation")
    }
  }

  /** Replacement commits (optimize, CoW row-level ops,
    * rewrite_manifests): their whole file list derives from the scanned
    * state, so ANY commit since `basis` (None: the empty table) would be
    * silently dropped — the head must still be the basis (Iceberg's
    * rewrite validation). */
  final case class HeadIs(basis: Option[Snapshot]) extends Conflict {
    def check(op: String, st: TableMetadata, head: Option[Snapshot]): Unit = {
      val planned = basis.fold(-1L)(_.snapshotId)
      val headId = head.fold(-1L)(_.snapshotId)
      require(headId == planned,
        s"concurrent commit during $op — the rewrite was planned " +
          s"against snapshot $planned but the head is now $headId; " +
          "rerun the operation")
    }
  }

  /** What a written manifest lists. */
  final case class Written(files: Long, bytes: Long, rows: Long)

  /** One manifest of a commit, staged at `dir` (UUID-named, never by
    * snapshot id: two cross-process writers can compute the same next
    * id) and written by the one manifest writer. A driver-resident
    * `df` (footer inventories, metadata-only rewrites) is written on the
    * driver through [[ManifestIO.writeLocal]] — same bytes as the Spark
    * write, no job — and seeds the read cache; any other plan is one
    * single-file Spark write whose summary is observed on the way.
    * `df` has the [[GraftTable.ManifestCols]] and optionally
    * `added_snapshot_id`; its driver rows are collected once. */
  final class Manifest(fs: FileSystem, writeConf: Configuration, dir: Path,
                       df: DataFrame) {
    val path: String = dir.toString

    private val frame = df.select(GraftTable.ManifestCols.map(col) :+
      (if (df.columns.contains("added_snapshot_id")) col("added_snapshot_id")
       else lit(null).cast(LongType)).as("added_snapshot_id"): _*)
    private val local = ManifestIO.localRowsOf(frame)

    /** Write (or rewrite, on a retry) the manifest; `stamp` fills the
      * `added_snapshot_id` of rows that carry no lineage with the
      * attempt's snapshot id. */
    def write(stamp: Option[Long]): Written = local match {
      case Some(rows) =>
        val stamped = stamp.fold(rows)(id => rows.map(r =>
          if (r.isNullAt(7)) Row(r(0), r(1), r(2), r(3), r(4), r(5), r(6), id)
          else r))
        val bytes = ManifestIO.writeLocal(fs, writeConf, dir, stamped)
        ManifestIO.cacheSeed(GraftTable.normalize(dir), stamped, bytes)
        // null-tolerant like the Spark path's coalesce(sum, 0): a
        // lineage-pass-through frame may carry a null stat
        def total(i: Int) =
          rows.iterator.map(r => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
        Written(rows.size.toLong, total(1), total(2))
      case None =>
        val obs = new org.apache.spark.sql.Observation(
          s"manifest-${UUID.randomUUID()}")
        stamp.fold(frame)(id => frame.withColumn("added_snapshot_id",
            coalesce(col("added_snapshot_id"), lit(id))))
          .observe(obs, count(lit(1)).as("files"),
            coalesce(sum("size_bytes"), lit(0L)).as("bytes"),
            coalesce(sum("record_count"), lit(0L)).as("rows"))
          .coalesce(1) // manifests are small relative to data: one file
          .write.mode("overwrite").parquet(path)
        fs.delete(new Path(dir, "_SUCCESS"), false)
        val m = obs.get
        Written(m("files").asInstanceOf[Long], m("bytes").asInstanceOf[Long],
          m("rows").asInstanceOf[Long])
    }
  }
}
