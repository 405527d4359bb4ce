package graft.cmd

import java.time.Clock

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

import graft.meta.{Commit, FileSkipping, GraftTable}

/** File-size compaction, Iceberg `rewrite_data_files` (binpack) shape:
  * SELECT the mis-sized files from the manifest — undersized ones to
  * merge AND oversized ones to split — bin-pack and rewrite just those,
  * and carry every already-compact file through the commit untouched
  * (same path, same `added_snapshot_id` lineage). Replaced files stay
  * on storage, owned by older snapshots, until `expireSnapshots`
  * reclaims them.
  *
  * Reference analogue: `ALTER TABLE t EXECUTE optimize`
  * (trino_iceberg_maintenance/__main__.py:170); the observable contract
  * in the reference tests is file count 2 → 1
  * (tests/test_maintenance.py:51,67,78) — tiny test files are all below
  * the threshold, so the full-compaction behavior is unchanged there.
  *
  * Scale: this is what makes `optimize` a maintenance op instead of a
  * table copy — a 100 TB table with 1% small files rewrites ~1 TB, not
  * 100 TB. File selection is a filter over the manifest; the commit
  * carries the untouched majority of the manifest forward through
  * [[GraftTable.commitReplacement]] — on the driver under the manifest
  * read gate, as a distributed anti-join above it.
  */
object Optimize {
  /** Files below this fraction of the target size are compaction
    * candidates (Iceberg's MIN_FILE_SIZE_DEFAULT_RATIO). */
  private val MinFileSizeRatio = 0.75
  /** Files above this fraction of the target are SPLIT candidates
    * (Iceberg's MAX_FILE_SIZE_DEFAULT_RATIO) — binpack rewrites
    * oversized files into ~size/target pieces, not only small ones. */
  private val MaxFileSizeRatio = 1.8
  /** Fewer small candidates than this → nothing worth compacting
    * (a single oversized file is always worth splitting). */
  private val MinInputFiles = 2

  /** Partition-scoped binpack: like [[run]], but only files inside the
    * partition scope are candidates; everything else is carried
    * untouched with its lineage. See
    * [[graft.meta.GraftTable.optimizePartitions]] for semantics. */
  def runScoped(table: GraftTable, preds: Seq[(String, org.apache.spark.sql.Column)],
                targetFileBytes: Long, clock: Clock): Unit =
    table.writeOp {
      val current = table.currentSnapshot.getOrElse(return)
      require(current.deleteManifests.isEmpty &&
        current.eqDeleteManifests.isEmpty,
        "scoped optimize on a table with outstanding merge-on-read " +
          "deletes would drop delete entries for out-of-scope files; " +
          "run optimize() or rewriteDeleteFiles() first")
      binpack(table, current, Set.empty, table.partitionScope(preds),
        targetFileBytes, clock)
    }

  /** @param clusterBy when non-empty, the rewrite range-partitions and
    *   sorts by these columns instead of bin-packing — sort-order
    *   compaction (Iceberg's rewrite_data_files `sort` strategy). Sort
    *   compaction re-clusters the WHOLE table by definition, so file
    *   selection does not apply there. */
  def run(table: GraftTable, targetFileBytes: Long, clock: Clock,
          clusterBy: Seq[String] = Seq.empty): Unit =
    table.writeOp {
      val current = table.currentSnapshot.getOrElse(return)
      val hasDeletes =
        current.deleteManifests.nonEmpty || current.eqDeleteManifests.nonEmpty
      if (current.numFiles <= 1 && clusterBy.isEmpty && !hasDeletes)
        return // already compact

      if (clusterBy.nonEmpty) {
        // sort-order compaction: full re-cluster, replaces every file
        val nOut = math.max(1L,
          (current.totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
        val written = table.pruneEmptyFiles(table.writeFiles(table.read
          .repartitionByRange(nOut, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)))
        table.commitReplacing("optimize", table.inventory(written), clock,
          Commit.HeadIs(Some(current)))
        return
      }

      // Files targeted by outstanding MOR delete entries are rewritten
      // too (with the deletes applied) — the commit drops the delete
      // manifests, so every entry must be materialized here (Iceberg's
      // rewrite_position_delete_files folded into binpack). Tables
      // without deletes have no targets, found with no job.
      binpack(table, current, table.deleteTargets(), FileSkipping.KeepAll,
        targetFileBytes, clock)
    }

  /** Binpack the live files inside `scope`: rewrite the undersized,
    * oversized, AND delete-laden (`targets`) ones, carry the rest. */
  private def binpack(table: GraftTable, current: graft.meta.Snapshot,
                      targets: Set[String], scope: Column,
                      targetFileBytes: Long, clock: Clock): Unit = {
    val minBytes = (targetFileBytes * MinFileSizeRatio).toLong
    val maxBytes = (targetFileBytes * MaxFileSizeRatio).toLong
    def forced(f: graft.meta.ManifestEntry) = f.sizeBytes > maxBytes || targets(f.path)
    val cands = table.scopeOf(current, scope).files
      .filter(f => f.sizeBytes < minBytes || forced(f))
    // lone small files aren't worth a rewrite; any oversized or
    // delete-laden file always is
    if (cands.count(_.sizeBytes < minBytes) < MinInputFiles && !cands.exists(forced))
      return
    val candBytes = cands.map(_.sizeBytes).sum
    val nOut = math.max(1L,
      (candBytes + targetFileBytes - 1) / targetFileBytes).toInt

    val toRewrite = table.morReadFiles(current,
      graft.meta.FileScope(current.manifests, cands))
    // keep partitioned/sorted tables clustered — a round-robin rewrite
    // would widen every file's transform/sort bounds and kill pruning
    val exprs = table.partitionSpec.map(f =>
      f.expr(toRewrite(f.column), toRewrite.schema(f.column).dataType)) ++
      table.sortExprs(toRewrite)
    val rewritten =
      if (exprs.nonEmpty)
        toRewrite.repartitionByRange(nOut, exprs: _*)
          .sortWithinPartitions(exprs: _*)
      else toRewrite.repartition(nOut)
    val written = table.writeFiles(rewritten)
    table.commitReplacement("optimize", Some(current), cands.map(_.path).toSet,
      if (exprs.nonEmpty) table.pruneEmptyFiles(written) else written, clock)
  }
}
