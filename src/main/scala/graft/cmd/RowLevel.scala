package graft.cmd

import java.time.Clock
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.meta.{GraftTable, KeySet}

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
  /** DELETE WHERE cond. SQL semantics: a row is deleted only where the
    * predicate is TRUE — rows where it evaluates NULL survive (a bare
    * `!cond` filter would silently drop them). Commits op `cow_delete`,
    * NOT `delete`: the MOR delete's op name would make the changelog
    * treat this replacement commit as row-level-tracked and emit the
    * rewritten survivors as spurious inserts. @return rows deleted. */
  def delete(table: GraftTable, cond: Column, clock: Clock): Long =
    table.writeOp {
      val matched = coalesce(cond, lit(false))
      val before = table.currentSnapshot.map(_.totalRows).getOrElse(0L)
      rewrite(table, "cow_delete",
        affected = table.affectedFiles(_.filter(matched)),
        survivorsOf = df => df.filter(!matched),
        extra = None, clock)
      before - table.currentSnapshot.map(_.totalRows).getOrElse(0L)
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
    table.writeOp {
      require(sets.nonEmpty, "UPDATE requires at least one SET column")
      // the SET projection passes the write rule over an empty relation
      // of the table schema: a mistyped or unknown SET column is refused
      // before discovery runs a job
      val schema = table.schema
      table.conform(table.spark.createDataFrame(
        java.util.Collections.emptyList[Row](), schema).withColumns(sets), schema)
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
        affected = table.affectedFiles(_.filter(matched)),
        // withColumns applies all SETs against the OLD row at once —
        // `SET a = b, b = a` swaps, like SQL requires
        survivorsOf = df => df.withColumns(sets.map { case (c, e) =>
          c -> when(matched, e).otherwise(col(c))
        }),
        extra = None, clock,
        preAgg = Some(sum(when(matched, 1L).otherwise(0L)).cast("long")),
        commitIfAgg = _ > 0L)
    }

  /** MERGE (upsert): rows in `source` replace table rows with the same
    * key; unmatched source rows are inserted. One commit. Key equality
    * is plain `=`: NULL keys never match.
    *
    * Up to [[KeySet.MaxLocal]] distinct source keys are collected once
    * (one job, no shuffle) into one key-match predicate. Discovery
    * filters RAW rows by it — its per-column `IN`s prune files by their
    * manifest statistics, so on a clustered table an upsert reads only
    * the files its keys land in — and the rewrite keeps the rows it
    * does not match: no join, no broadcast. A bulk merge beyond the cap
    * stays distributed: files whose bounds overlap the key hull
    * ([[GraftTable.pairsOverlappingKeys]]) semi-joined with the source
    * keys, survivors anti-joined. That path evaluates the source once
    * per use, so it requires a deterministic source. */
  def merge(table: GraftTable, source: DataFrame, keys: Seq[String],
            clock: Clock): Unit =
    table.writeOp {
      val rows = table.conform(source)
      val srcKeys = rows.select(keys.map(col): _*)
      KeySet.collect(srcKeys) match {
        case Some(ks) =>
          val keyMatch = ks.matches(nullSafe = false)
          rewrite(table, "merge",
            affected = table.affectedFiles(_.filter(keyMatch)),
            survivorsOf = _.filter(!coalesce(keyMatch, lit(false))),
            extra = Some(rows), clock, extraRowsEst = ks.rows.size)
        case None =>
          val distinct = srcKeys.distinct()
          rewrite(table, "merge",
            affected = table.affectedFiles(_.join(distinct, keys, "left_semi"),
              Some(table.pairsOverlappingKeys(distinct, keys))),
            survivorsOf = _.join(distinct, keys, "left_anti"),
            extra = Some(rows), clock, extraRowsEst = distinct.count())
      }
    }

  /** Shared CoW machinery: rewrite the affected files via `survivorsOf`
    * (plus `extra` rows, already conformed), keep every other file's
    * manifest row as-is. The rewrite output passes the write rule
    * ([[GraftTable.conform]]).
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
    val basis = table.currentSnapshot
    val affectedPaths = table.deleteTargets(Some(affected))
    val affectedFiles = table.liveFiles.filter(f => affectedPaths(f.path))

    val preObs = new org.apache.spark.sql.Observation(
      s"cow-pre-${UUID.randomUUID()}")
    val rewrittenRows = {
      val base = table.morReadLive(affectedFiles)
      val observed = preAgg.fold(base)(a => base.observe(preObs, a.as("pre")))
      val surv = table.conform(survivorsOf(observed))
      extra.fold(surv)(surv.unionByName(_))
    }
    if (affectedPaths.isEmpty && extra.isEmpty) return 0L // nothing matched

    // count the rewrite output on the write itself: an empty-source
    // MERGE touching no files must not land a junk empty commit
    val obs = new org.apache.spark.sql.Observation(
      s"cow-${UUID.randomUUID()}")
    // Size the output like optimize's binpack: ceil((affected bytes +
    // estimated inserted bytes) / target-file-size) files. Without this
    // a small CoW rewrite emits one fragment PER TASK (shuffle-partition
    // count), shredding a clustered file into overlapping slivers on
    // every upsert — which both accumulates manifest rows and defeats
    // the next merge's bounds pruning. coalesce never raises
    // parallelism, so large rewrites keep their scan tasks. Inserted
    // rows (merge's `extra`) are estimated at the table's mean manifest
    // row width; with no width evidence (empty table) the write stays
    // unsized rather than guessing. The bytes come from the affected
    // files' listing, the totals from the basis snapshot.
    val affectedBytes = affectedFiles.map(_.sizeBytes).sum
    val totBytes = basis.fold(0L)(_.totalBytes)
    val totRows = basis.fold(0L)(_.totalRows)
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
    val written = table.writeFiles(sized)
    val preVal: Long = preAgg.map { _ =>
      preObs.get.get("pre") match {
        case Some(l: java.lang.Long) => l.toLong
        case _ => 0L // no rows flowed through the observation
      }
    }.getOrElse(0L)
    if (preAgg.isDefined && !commitIfAgg(preVal)) {
      table.fileSystem.delete(written.dir, true); return preVal
    }
    if (affectedPaths.isEmpty &&
        obs.get.getOrElse("n", 0L).asInstanceOf[Long] == 0L) {
      table.fileSystem.delete(written.dir, true); return preVal
    }
    // shuffle writes emit schema-only files for empty tasks — junk
    // manifest entries at one per rewrite
    table.commitReplacement(op, basis, affectedPaths,
      table.pruneEmptyFiles(written), clock)
    preVal
  }
}
