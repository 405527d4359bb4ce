package graft.cmd

import java.time.Clock
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.meta.{Commit, GraftTable}

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
    table.lock.synchronized {
      val current = table.currentSnapshot.getOrElse(return)
      require(current.deleteManifests.isEmpty &&
        current.eqDeleteManifests.isEmpty,
        "scoped optimize on a table with outstanding merge-on-read " +
          "deletes would drop delete entries for out-of-scope files; " +
          "run optimize() or rewriteDeleteFiles() first")
      binpack(table, current, withoutDeletes(table), table.partitionScope(preds),
        targetFileBytes, clock)
    }

  /** @param clusterBy when non-empty, the rewrite range-partitions and
    *   sorts by these columns instead of bin-packing — sort-order
    *   compaction (Iceberg's rewrite_data_files `sort` strategy). Sort
    *   compaction re-clusters the WHOLE table by definition, so file
    *   selection does not apply there. */
  def run(table: GraftTable, targetFileBytes: Long, clock: Clock,
          clusterBy: Seq[String] = Seq.empty): Unit =
    table.lock.synchronized {
      val current = table.currentSnapshot.getOrElse(return)
      val hasDeletes =
        current.deleteManifests.nonEmpty || current.eqDeleteManifests.nonEmpty
      if (current.numFiles <= 1 && clusterBy.isEmpty && !hasDeletes)
        return // already compact

      if (clusterBy.nonEmpty) {
        // sort-order compaction: full re-cluster, replaces every file
        val commitDir = new Path(table.dir, s"data/${UUID.randomUUID()}")
        val nOut = math.max(1L,
          (current.totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
        table.dataWrite(table.read
          .repartitionByRange(nOut, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*))
          .parquet(commitDir.toString)
        table.fileSystem.delete(new Path(commitDir, "_SUCCESS"), false)
        table.pruneEmptyFiles(commitDir)
        table.commitReplacing("optimize", table.inventory(commitDir), clock,
          Commit.HeadIs(Some(current)))
        return
      }

      // Files targeted by outstanding MOR delete entries are rewritten
      // too (with the deletes applied) — the commit drops the delete
      // manifests, so every entry must be materialized here (Iceberg's
      // rewrite_position_delete_files folded into binpack). Tables
      // without deletes skip the target join entirely.
      val manifest =
        if (!hasDeletes) withoutDeletes(table)
        else table.files.join(
          table.deleteTargets.withColumn("has_deletes", lit(true)),
          Seq("path"), "left")
      binpack(table, current, manifest, lit(true), targetFileBytes, clock)
    }

  private def withoutDeletes(table: GraftTable): DataFrame =
    table.files.withColumn("has_deletes", lit(null).cast("boolean"))

  /** Binpack the `manifest` rows (`has_deletes` marks delete-laden
    * files) inside `scope`: rewrite the undersized, oversized, AND
    * delete-laden ones, carry the rest. */
  private def binpack(table: GraftTable, current: graft.meta.Snapshot,
                      manifest: DataFrame, scope: Column,
                      targetFileBytes: Long, clock: Clock): Unit = {
    val minBytes = (targetFileBytes * MinFileSizeRatio).toLong
    val maxBytes = (targetFileBytes * MaxFileSizeRatio).toLong
    val candidate = scope && (col("size_bytes") < minBytes ||
      col("size_bytes") > maxBytes || col("has_deletes").isNotNull)
    val candRows = manifest.filter(candidate)
      .select("path", "added_snapshot_id", "size_bytes", "has_deletes")
      .collect()
    val numSmall = candRows.count(r => r.getLong(2) < minBytes)
    val numForced = candRows.count(r =>
      !r.isNullAt(3) || r.getLong(2) > maxBytes)
    // lone small files aren't worth a rewrite; any oversized or
    // delete-laden file always is
    if (numSmall < MinInputFiles && numForced == 0) return
    val candPairs = candRows.map(r =>
      (r.getString(0), if (r.isNullAt(1)) 0L else r.getLong(1))).toIndexedSeq
    val candBytes = candRows.map(_.getLong(2)).sum
    val nOut = math.max(1L,
      (candBytes + targetFileBytes - 1) / targetFileBytes).toInt

    val toRewrite = table.morReadFiles(current, candPairs)
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
    val commitDir = new Path(table.dir, s"data/${UUID.randomUUID()}")
    table.dataWrite(rewritten).parquet(commitDir.toString)
    table.fileSystem.delete(new Path(commitDir, "_SUCCESS"), false)
    if (exprs.nonEmpty) table.pruneEmptyFiles(commitDir)
    table.commitReplacement("optimize", Some(current),
      candPairs.map(_._1).toSet, commitDir, clock)
  }
}
