package graft.streaming

import java.time.Clock

import org.apache.spark.sql.DataFrame

import graft.meta.GraftTable

/** Structured-Streaming sink into a [[GraftTable]] with EXACTLY-ONCE
  * table semantics over Spark's at-least-once `foreachBatch` replay.
  *
  * Spark guarantees `foreachBatch` delivers every micro-batch with a
  * monotonically increasing `batchId`, but a batch can be REPLAYED after
  * a failure/restart (same id, same data). The sink makes the append
  * idempotent by stamping `(queryName, batchId)` into the snapshot
  * log's operation field — the stamp commits in the SAME atomic log
  * write as the data manifest, so there is no window where data landed
  * but the marker didn't (or vice versa). A replayed batch sees its id
  * already committed and becomes a no-op.
  *
  * This is the standard Iceberg/Delta streaming-sink commit protocol;
  * at 100 TB/day each micro-batch is one O(new files) delta-manifest
  * append, and the dedup check reads only the O(#snapshots) log.
  *
  * Usage:
  * {{{
  *   df.writeStream.foreachBatch(GraftSink.appendBatch(table, "q")).start()
  * }}}
  */
object GraftSink {
  private val OpPrefix = "stream_append"
  private val UpsertPrefix = "stream_upsert"

  private def opFor(prefix: String, queryName: String, batchId: Long): String =
    s"$prefix:q=$queryName:b=$batchId"

  /** Highest batch id this query has committed to the table, if any.
    * Scans the snapshot log only (no data or manifest I/O). */
  def lastBatch(table: GraftTable, queryName: String): Option[Long] = {
    val prefixes =
      Seq(s"$OpPrefix:q=$queryName:b=", s"$UpsertPrefix:q=$queryName:b=")
    val ids = table.snapshots.flatMap(s => prefixes.collectFirst {
      case p if s.operation.startsWith(p) => s.operation.stripPrefix(p).toLong
    })
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** A replayed (marker-skipped) STATEFUL batch must still be
    * PROCESSED, not just dropped: the micro-batch frame carries the
    * query's stateful operators, whose per-partition state commits
    * happen only when the frame executes — an unexecuted replay leaves
    * zero state commits for the batch and fails Spark's state-store
    * commit validation on exactly the crash-recovery restart the
    * marker exists to survive (found by GenerationFaultSpec's
    * lost-commit injection). One pass over the (single, replayed)
    * batch; rows are discarded. Only true MICRO-BATCH frames drain:
    * foreachBatch hands the user a LogicalRDD wrapping the in-flight
    * incremental execution (whose state commits ride on pulling that
    * RDD — the stateful operators themselves are not visible in the
    * user-facing plan), whereas the demos' deliberate MANUAL replays
    * (st03/st11) pass plain batch reads, where draining would just
    * re-scan the source for nothing — the marker check alone must stay
    * free for those. */
  private def drainReplay(df: DataFrame): Unit = {
    val microBatch = df.queryExecution.logical.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    if (microBatch) df.foreach(_ => ())
  }

  /** `foreachBatch` function: append the micro-batch unless this
    * (query, batchId) already committed. With `branch` set, micro-
    * batches stage on that branch instead of main — streaming
    * write-audit-publish: validate `readBranch(branch)` downstream and
    * `fastForward("main", branch)` to publish a batch of batches. */
  def appendBatch(table: GraftTable, queryName: String,
                  clock: Clock = Clock.systemUTC(),
                  branch: String = "main")
                 (df: DataFrame, batchId: Long): Unit =
    table.writeOp {
      if (!lastBatch(table, queryName).exists(_ >= batchId))
        table.appendOp(df, opFor(OpPrefix, queryName, batchId), clock, branch)
      else drainReplay(df)
    }

  /** `foreachBatch` UPSERT function (CDC-stream-into-table): each
    * micro-batch lands as ONE atomic equality-delete + append commit —
    * rows in the batch replace same-keyed table rows, new keys insert
    * ([[GraftTable.upsert]]); replayed batches no-op through the same
    * (query, batchId) marker as the append sink. No data file is
    * rewritten per batch, so sink cost tracks batch size, not table
    * size — compaction is the scheduler's job, not the stream's. */
  def upsertBatch(table: GraftTable, queryName: String, keys: Seq[String],
                  clock: Clock = Clock.systemUTC())
                 (df: DataFrame, batchId: Long): Unit =
    table.writeOp {
      if (!lastBatch(table, queryName).exists(_ >= batchId))
        table.upsertOp(df, keys, opFor(UpsertPrefix, queryName, batchId), clock)
      else drainReplay(df)
    }

  /** `foreachBatch` CDC APPLY tolerant of OUT-OF-ORDER delivery: reduce
    * the micro-batch to its latest row per key (greatest `orderBy`
    * column tuple wins, descending lexicographic), merge against the
    * CURRENT table row for exactly those keys, and land the winners via
    * [[upsertBatch]]. Because the winner of {batch rows, table row} is
    * the MAX under the ordering — and max-combining is commutative and
    * associative — the final table state is independent of how the feed
    * was chunked into batches AND of batch arrival order; a stale row
    * arriving late can never overwrite a newer one. Per-batch cost is
    * O(batch + matched keys): the table-side read is a key semi-join,
    * never a full-table rewrite.
    *
    * PRECONDITION: `orderBy` must TOTALLY order the rows of any one key
    * — include a unique column (sequence number, event id) after the
    * timestamp. If two versions of a key compare equal, `row_number`
    * breaks the tie arbitrarily and the batch-order-independence
    * guarantee degrades to arrival order for exactly those ties. Do NOT
    * use a key column as the tie-break: it is constant within the
    * window partition, so it orders nothing. */
  def applyLatestBatch(table: GraftTable, queryName: String,
                       keys: Seq[String], orderBy: Seq[String],
                       clock: Clock = Clock.systemUTC())
                      (df: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(c => col(c).desc): _*)
    def latest(d: DataFrame): DataFrame =
      d.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    table.writeOp {
      // Marker check BEFORE composing: a replayed batch must not pay
      // the table-side semi-join + window just to be discarded — the
      // raw micro-batch frame alone carries the stateful lineage whose
      // state must still commit (drainReplay).
      if (lastBatch(table, queryName).exists(_ >= batchId)) drainReplay(df)
      else {
        // One window pass: the batch's key set (a cheap distinct, no
        // window) semi-joins the current rows in, then a single
        // `latest` reduces {batch rows, table row} per key. Reducing
        // the batch first and again after the union would shuffle+sort
        // twice for the same result.
        val cur = table.read
          .join(df.select(keys.map(col): _*).distinct(), keys, "left_semi")
        upsertBatch(table, queryName, keys, clock)(
          latest(df.unionByName(cur)), batchId)
      }
    }
  }
}
