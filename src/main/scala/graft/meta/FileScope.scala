package graft.meta

/** One manifest row as a scan lists it: the file, its size, and the
  * snapshot that added it (0 when the row carries none). */
final case class ManifestEntry(path: String, sizeBytes: Long, addedSnapshotId: Long)

/** The files one [[graft.sources.GraftFileIndex]] lists: `files`, all
  * of them rows of `manifests` (the data manifests of a snapshot, or
  * the delete manifests whose files a delete scan reads). `whole` is
  * the snapshot when `files` are every live data file of it — the one
  * scope whose metadata totals (row count, size, ANALYZE stats)
  * describe the scan; a subset (one schema generation, an optimize bin,
  * a row-level op's affected files, an incremental range) has none.
  *
  * `files` is read from the manifest on first use, so a whole-snapshot
  * scan whose pushed predicates prune reads only the surviving rows. */
final class FileScope(val manifests: Seq[String], list: => IndexedSeq[ManifestEntry],
                      val whole: Option[Snapshot]) {
  lazy val files: IndexedSeq[ManifestEntry] = list

  def isEmpty: Boolean = whole.fold(files.isEmpty)(_.numFiles == 0)

  /** Bytes listed: a whole snapshot's from its commit totals. */
  def sizeInBytes: Long = whole.fold(files.iterator.map(_.sizeBytes).sum)(_.totalBytes)

  /** The files `keep` admits, as a subset scope. */
  def subset(keep: ManifestEntry => Boolean): FileScope =
    FileScope(manifests, files.filter(keep))
}

object FileScope {
  /** An explicit subset of the files `manifests` list. */
  def apply(manifests: Seq[String], files: IndexedSeq[ManifestEntry]): FileScope =
    new FileScope(manifests, files, None)

  val Empty: FileScope = FileScope(Seq.empty, IndexedSeq.empty)
}
