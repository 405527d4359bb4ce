package graft.cmd

import java.time.Clock
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.meta.{Commit, FileSkipping, GraftTable}

/** Z-order (Morton-curve) compaction: rewrite the table clustered on the
  * INTERLEAVED bits of several columns, so manifest min/max bounds stay
  * tight on EVERY clustered dimension and `readPruned` skips files for
  * predicates on any of them.
  *
  * Lexicographic sort-order compaction (`optimize(clusterBy = x, y)`)
  * only clusters the leading column — a filter on `y` alone still reads
  * every file. The Morton curve maps nearby (x, y) points to nearby
  * curve positions, so range-partitioning by curve position yields files
  * that are small rectangles in value space: a selective predicate on
  * x OR y overlaps few rectangles. This is the same trade Delta Lake's
  * OPTIMIZE ZORDER BY and Iceberg's sort-order z-ordering make, and it
  * is what makes multi-dimension point-lookup viable on a 100 TB table
  * without a second copy of the data.
  *
  * Implementation is pure Catalyst built-ins (shift/and/or folds —
  * whole-stage-codegen friendly; no UDF): each column is normalized to a
  * `bits`-wide integer rank using the GLOBAL min/max already recorded in
  * the manifest (metadata-only — no extra data pass), then the ranks'
  * bits are interleaved into one long the rewrite range-partitions and
  * sorts by.
  */
object ZOrder {
  /** Interleave the bits of `idx` (each a long in [0, 2^bits)): bit b of
    * input i lands at output position b*n + i — the Morton code. */
  private[cmd] def interleave(idx: Seq[Column], bits: Int): Column = {
    var z = lit(0L)
    for (b <- 0 until bits; (c, i) <- idx.zipWithIndex) {
      val bit = shiftright(c, b).bitwiseAND(lit(1L))
      z = z.bitwiseOR(shiftleft(bit, b * idx.size + i))
    }
    z
  }

  def run(table: GraftTable, cols: Seq[String], targetFileBytes: Long,
          bits: Int, clock: Clock): Unit = table.lock.synchronized {
    require(cols.size >= 2, "z-order needs at least 2 columns")
    require(cols.size * bits <= 63, s"${cols.size} cols x $bits bits > 63")
    val current = table.currentSnapshot.getOrElse(return)
    if (current.numFiles == 0) return
    val df = table.read

    // Temporal types don't cast to DOUBLE directly — route them through
    // TIMESTAMP (epoch seconds) first. Session is UTC, so NTZ is exact.
    def asDouble(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.DateType =>
          c.cast("timestamp").cast("double")
        case _ => c.cast("double")
      }

    // Global per-column bounds from manifest metadata (exact — computed
    // from the data at write time); no scan needed to plan the curve.
    val m = table.files
    val bounds = cols.map { c =>
      val dt = table.schema(c).dataType
      val r = m.agg(
        asDouble(min(FileSkipping.lowerBound(c, dt)), dt).as("lo"),
        asDouble(max(FileSkipping.upperBound(c, dt)), dt).as("hi"))
        .head()
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"no manifest bounds for column $c — not a boundable type?")
      (r.getDouble(0), r.getDouble(1))
    }

    val maxIdx = (1L << bits) - 1
    val ranks = cols.zip(bounds).map { case (c, (lo, hi)) =>
      val dt = table.schema(c).dataType
      if (hi <= lo) lit(0L) // constant column
      else coalesce( // nulls cluster at curve origin
        least(lit(maxIdx), greatest(lit(0L),
          floor((asDouble(df(c), dt) - lit(lo)) / (hi - lo) * maxIdx)
            .cast("long"))),
        lit(0L))
    }

    val nOut = math.max(1L,
      (current.totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val commitDir = new Path(table.dir, s"data/${UUID.randomUUID()}")
    table.dataWrite(df.withColumn("__graft_z", interleave(ranks, bits))
      .repartitionByRange(nOut, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z"))
      .parquet(commitDir.toString)
    table.fileSystem.delete(new Path(commitDir, "_SUCCESS"), false)
    table.commitReplacing("optimize_zorder", table.inventory(commitDir),
      clock, Commit.HeadIs(Some(current)))
  }
}
