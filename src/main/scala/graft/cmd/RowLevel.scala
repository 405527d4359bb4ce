package graft.cmd

import java.time.Clock
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.meta.GraftTable

/** Copy-on-write row-level DELETE and MERGE (upsert) over the graft
  * table format — the `UPDATE ... WHERE` the reference issues against
  * its config table (trino_iceberg_maintenance/__main__.py:172-176,
  * 194-198) generalized to arbitrary data tables, with Iceberg
  * copy-on-write semantics.
  *
  * Plan shape (the same one Iceberg's Spark CoW uses):
  *   1. find AFFECTED files — the scan is pruned to files that contain
  *      at least one matching row (source file path exposed as a column,
  *      distributed);
  *   2. rewrite ONLY those files without their matched rows (+ the new
  *      rows for MERGE) into a fresh commit directory;
  *   3. commit a snapshot whose manifest = untouched files' rows
  *      (lineage preserved) + the rewrite's delta
  *      ([[GraftTable.commitReplacement]]).
  *
  * Untouched files are never read or rewritten, so the cost scales with
  * the touched-file fraction, not table size — on a 100 TB table an
  * upsert landing in 0.1% of files reads and writes 0.1%.
  *
  * All reads go through the schema-aligned reader, so DELETE/MERGE work
  * unchanged on evolved tables (renamed/added/dropped columns).
  */
object RowLevel {
  private val FP = "__graft_fp"

  /** DELETE WHERE cond. SQL semantics: a row is deleted only where the
    * predicate is TRUE — rows where it evaluates NULL survive (a bare
    * `!cond` filter would silently drop them). Commits op `cow_delete`,
    * NOT `delete`: the MOR delete's op name would make the changelog
    * treat this replacement commit as row-level-tracked and emit the
    * rewritten survivors as spurious inserts. @return rows deleted. */
  def delete(table: GraftTable, cond: Column, clock: Clock): Long =
    table.lock.synchronized {
      val matched = coalesce(cond, lit(false))
      val before = table.currentSnapshot.map(_.totalRows).getOrElse(0L)
      rewrite(table, "cow_delete",
        affected = discover(table, matched),
        survivorsOf = df => df.filter(!matched),
        extra = None, clock)
      before - table.currentSnapshot.map(_.totalRows).getOrElse(0L)
    }

  /** Affected-file discovery for a predicate: the bounds/bloom-pruned
    * raw scan when available ([[GraftTable.affectedFilesRaw]] — on a
    * clustered table a selective predicate reads only candidate files),
    * else the aligned full scan. Raw discovery may over-mark files
    * whose matches are all MOR-deleted; those files are delete-targeted
    * and the rewrite unions [[GraftTable.deleteTargets]], so the final
    * affected set is identical either way. */
  private def discover(table: GraftTable, matched: Column): DataFrame =
    table.affectedFilesRaw(matched).getOrElse {
      table.morReadLive(table.liveFilePairs, Some(FP))
        .filter(matched).select(col(FP).as("path")).distinct()
    }

  /** UPDATE ... SET col = expr WHERE cond (Trino's general row-level
    * UPDATE): copy-on-write over ONLY the files containing matches —
    * each matched row has every SET column replaced by its expression
    * (evaluated against the OLD row, SQL semantics), survivors in the
    * same files are carried byte-equal. Commits op `update`, which the
    * changelog recovers as net delete+insert pairs. @return matched
    * rows. */
  def update(table: GraftTable, cond: Column, sets: Map[String, Column],
             clock: Clock): Long =
    table.lock.synchronized {
      require(sets.nonEmpty, "UPDATE requires at least one SET column")
      sets.keys.foreach(c => require(table.schema.fieldNames.contains(c),
        s"no such column $c"))
      val matched = coalesce(cond, lit(false))
      // SINGLE-PASS (r19, guide §1): the matched-row count (MOR-applied,
      // the return value) rides the rewrite's own scan as an observed
      // aggregate instead of a separate count job over the affected
      // files — one scan of the affected files per UPDATE, not two. The
      // observation sits BELOW the SET projection, so `matched` sees the
      // OLD rows exactly like the separate count did. A zero observed
      // count makes rewrite() abort the staged commit, preserving the
      // previous no-op behavior when raw discovery over-marked files
      // whose matches are all MOR-deleted.
      rewrite(table, "update",
        affected = discover(table, matched),
        // withColumns applies all SETs against the OLD row at once —
        // `SET a = b, b = a` swaps, like SQL requires
        survivorsOf = df => df.withColumns(sets.map { case (c, e) =>
          c -> when(matched, e).otherwise(col(c))
        }),
        extra = None, clock,
        preAgg = Some(sum(when(matched, 1L).otherwise(0L)).cast("long")),
        commitIfAgg = _ > 0L)
    }

  /** Distinct-source-key cap for the localized MERGE path: up to this
    * many key tuples are collected to the driver and reused verbatim for
    * bounds pruning and both joins (≲256 KB of driver state — the
    * upsert shapes the entries exercise are far below it). Within the
    * cap, discovery prunes by the exact key set up to
    * [[graft.meta.FileSkipping.ExactValueCap]] values per column and by
    * the job-free constant-folded hull beyond it. A bulk merge beyond
    * the cap falls back to the DataFrame path (hull aggregate +
    * re-executed source — requires a deterministic source, and pays one
    * count for the insert-bytes estimate, both negligible at bulk
    * scale). */
  private val MaxLocalKeys = 8192

  /** MERGE (upsert): rows in `source` replace table rows with the same
    * key; unmatched source rows are inserted. One commit. The
    * affected-file discovery scans only files whose manifest bounds
    * admit at least one source key ([[GraftTable.pairsMatchingKeySet]],
    * hull fallback [[GraftTable.pairsOverlappingKeys]]): a file whose
    * bounds exclude every key cannot contain a matching row, so on a
    * clustered table an upsert reads only the files its keys land in,
    * not the table. */
  def merge(table: GraftTable, source: DataFrame, keys: Seq[String],
            clock: Clock): Unit =
    table.lock.synchronized {
      val spark = table.spark
      val srcKeysDf = source.select(keys.map(col): _*).distinct()
      val localKeys = srcKeysDf.limit(MaxLocalKeys + 1).collect()
      val (srcKeys, pairs, keyCount) =
        if (localKeys.length <= MaxLocalKeys)
          // LOCALIZED path (r19): the distinct key set is materialized
          // ONCE and reused for bounds pruning, the semi-join, and the
          // anti-join — one job over the source instead of three, a
          // non-deterministic source can no longer disagree between the
          // discovery bounds and the joins (r18 ADVICE), and the per-file
          // overlap test runs against the ACTUAL key tuples
          // ([[GraftTable.pairsMatchingKeySet]]): scattered keys prune to
          // the files containing SOME key, not every file in their
          // min/max hull.
          (spark.createDataFrame(
            java.util.Arrays.asList(localKeys: _*), srcKeysDf.schema),
            table.pairsMatchingKeySet(localKeys.toSeq, srcKeysDf.schema, keys),
            localKeys.length.toLong)
        else
          // bulk fallback: the r18 hull-bounds path. Requires a
          // deterministic source (the key aggregate and the joins
          // re-evaluate it) — the localized path above covers every
          // non-bulk shape.
          (srcKeysDf, table.pairsOverlappingKeys(srcKeysDf, keys),
            srcKeysDf.count())
      val withPath = table.morReadLive(pairs, Some(FP))
      rewrite(table, "merge",
        affected = withPath.join(srcKeys, keys, "left_semi")
          .select(col(FP).as("path")).distinct(),
        survivorsOf = df => df.join(srcKeys, keys, "left_anti"),
        extra = Some(source), clock, extraRowsEst = keyCount)
    }

  /** Shared CoW machinery: rewrite the affected files via `survivorsOf`
    * (plus `extra` rows), keep every other file's manifest row as-is.
    * On a table with outstanding merge-on-read deletes, every
    * delete-targeted file is treated as affected too: the commit drops
    * the delete manifests (its logical row count is the physical
    * manifest sum), so any file still carrying delete entries must have
    * them materialized here — and untouched files are then guaranteed
    * delete-free.
    *
    * `preAgg` (r19): an aggregate observed over the MOR-applied affected
    * rows BEFORE `survivorsOf` transforms them, collected on the
    * rewrite's own write action (no separate job) and returned; when
    * `commitIfAgg` rejects its value the staged commit dir is deleted
    * and nothing is committed (UPDATE's "no matched rows → no commit").
    * `extraRowsEst` sizes `extra`'s contribution to the binpack output
    * partition count — without it an insert-heavy MERGE landing in
    * few/no existing files wrote the whole source through coalesce(1). */
  private def rewrite(table: GraftTable, op: String, affected: DataFrame,
                      survivorsOf: DataFrame => DataFrame,
                      extra: Option[DataFrame], clock: Clock,
                      preAgg: Option[Column] = None,
                      commitIfAgg: Long => Boolean = _ => true,
                      extraRowsEst: Long = 0L): Long = {
    val spark = table.spark
    import spark.implicits._
    val basis = table.currentSnapshot
    val schema = table.schema
    val cols = schema.fieldNames.toSeq.map(col)
    val affectedPaths = affected.unionByName(table.deleteTargets)
      .as[String].collect().toSet

    val preObs = new org.apache.spark.sql.Observation(
      s"cow-pre-${UUID.randomUUID()}")
    val rewrittenRows = {
      val base = table.morReadLive(
        table.liveFilePairs.filter(p => affectedPaths(p._1)))
      val observed = preAgg.fold(base)(a => base.observe(preObs, a.as("pre")))
      val surv = survivorsOf(observed)
      extra.fold(surv.select(cols: _*))(e =>
        surv.select(cols: _*).unionByName(e.select(cols: _*)))
    }
    if (affectedPaths.isEmpty && extra.isEmpty) return 0L // nothing matched

    val commitDir = new Path(table.dir, s"data/${UUID.randomUUID()}")
    // count the rewrite output on the write itself: an empty-source
    // MERGE touching no files must not land a junk empty commit
    val obs = new org.apache.spark.sql.Observation(
      s"cow-${commitDir.getName}")
    // Size the output like optimize's binpack: ceil((affected bytes +
    // estimated inserted bytes) / target-file-size) files. Without this
    // a small CoW rewrite emits one fragment PER TASK (shuffle-partition
    // count), shredding a clustered file into overlapping slivers on
    // every upsert — which both accumulates manifest rows and defeats
    // the next merge's bounds pruning. coalesce never raises
    // parallelism, so large rewrites keep their scan tasks. Inserted
    // rows (merge's `extra`) are estimated at the table's mean manifest
    // row width; with no width evidence (empty table) the write stays
    // unsized rather than guessing (r18 ADVICE).
    val fileStats = table.files.select("path", "size_bytes", "record_count")
      .collect()
    val affectedBytes = fileStats.iterator
      .filter(r => affectedPaths(r.getString(0))).map(_.getLong(1)).sum
    val totBytes = fileStats.iterator.map(_.getLong(1)).sum
    val totRows = fileStats.iterator.map(_.getLong(2)).sum
    val extraBytes: Option[Long] =
      if (extraRowsEst <= 0L) Some(0L)
      else if (totRows > 0L)
        Some(extraRowsEst * math.max(1L, totBytes / totRows))
      else None
    val toWrite = rewrittenRows.observe(obs, count(lit(1)).as("n"))
    val sized = extraBytes match {
      case Some(eb) =>
        val outParts = math.max(1L, (affectedBytes + eb +
          table.defaultTargetFileBytes - 1) / table.defaultTargetFileBytes)
        toWrite.coalesce(outParts.toInt)
      case None => toWrite
    }
    table.dataWrite(sized).parquet(commitDir.toString)
    table.fileSystem.delete(new Path(commitDir, "_SUCCESS"), false)
    val preVal: Long = preAgg.map { _ =>
      preObs.get.get("pre") match {
        case Some(l: java.lang.Long) => l.toLong
        case _ => 0L // no rows flowed through the observation
      }
    }.getOrElse(0L)
    if (preAgg.isDefined && !commitIfAgg(preVal)) {
      table.fileSystem.delete(commitDir, true); return preVal
    }
    if (affectedPaths.isEmpty &&
        obs.get.getOrElse("n", 0L).asInstanceOf[Long] == 0L) {
      table.fileSystem.delete(commitDir, true); return preVal
    }
    // shuffle writes emit schema-only files for empty tasks — junk
    // manifest entries at one per rewrite
    table.pruneEmptyFiles(commitDir)
    table.commitReplacement(op, basis, affectedPaths, commitDir, clock)
    preVal
  }
}
