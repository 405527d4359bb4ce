package graft.meta

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** A distinct key set held on the driver: the key tuples of a MERGE
  * source, of the rows an upsert just wrote, or of an equality delete,
  * collected once and then used as literals — the key-match predicate
  * a scan's manifest filter prunes by, the rows of an eq-delete file,
  * and the null-safe count of the rows that file deletes. None of these
  * uses shuffles or joins, and a non-deterministic source cannot
  * disagree with itself across them. */
final class KeySet private (val schema: StructType, val rows: IndexedSeq[Row]) {

  /** Rows whose key equals some tuple of the set: under `=` (a tuple
    * with a NULL component matches nothing, and a row with a NULL key
    * evaluates NULL — negate through `coalesce`) or, when `nullSafe`,
    * under `<=>`. Each column contributes an `IN` over its values, which
    * [[graft.sources.GraftFileIndex]] turns into a manifest filter; a
    * multi-column key adds the exact tuple test, a `struct IN` (struct
    * comparison treats NULL fields as equal, which is `<=>`, and under
    * `=` no tuple holds a NULL). */
  def matches(nullSafe: Boolean): Column = {
    val tuples = if (nullSafe) rows else rows.filterNot(_.anyNull)
    if (tuples.isEmpty) return lit(false)
    val names = schema.fieldNames.toSeq
    val perColumn = names.indices.map { i =>
      val vs = tuples.filterNot(_.isNullAt(i)).map(_.get(i)).distinct
      val in =
        if (vs.isEmpty) lit(false)
        else col(names(i)).isin(vs.map(CatalystShims.scalaLiteral(_, schema(i).dataType)): _*)
      if (nullSafe && tuples.exists(_.isNullAt(i))) in || col(names(i)).isNull else in
    }
    val exact =
      if (names.size == 1) Nil
      else Seq(struct(names.map(col): _*).isin(
        tuples.map(CatalystShims.scalaLiteral(_, schema)): _*))
    (perColumn ++ exact).reduce(_ && _)
  }
}

object KeySet {
  /** Cap on a localized key set (≲256 KB of driver state for the key
    * shapes upserts and merges use); a larger set stays distributed. */
  val MaxLocal = 8192

  /** The distinct rows of `keys`, or None — the caller's distributed
    * path — when there are more than [[MaxLocal]] of them or a key
    * column is FLOAT/DOUBLE: SQL `=` holds -0.0 = 0.0, but parquet
    * filter pushdown tests an `IN` list's values bit for bit and skips
    * a stored 0.0 for a -0.0 key, where a join normalizes both.
    *
    * One job with no shuffle: each of the P partitions ships at most
    * ⌈(MaxLocal+1)/P⌉ + 1 of its distinct rows, so the driver accepts
    * about MaxLocal + 2P rows, however many partitions there are. When
    * a partition held more than its share and the union stays within
    * the cap, the set is not known yet: the bounded shuffle
    * `distinct().limit(MaxLocal + 1)` settles it. */
  def collect(keys: DataFrame): Option[KeySet] =
    if (keys.schema.exists(f => f.dataType == FloatType || f.dataType == DoubleType)) None
    else {
      val rdd = keys.rdd
      val share = MaxLocal / rdd.getNumPartitions.max(1) + 1
      val shipped = rdd.mapPartitions(it => Iterator(firstDistinct(it, share + 1))).collect()
      val union = shipped.flatten.distinct.toIndexedSeq
      val rows =
        if (union.size > MaxLocal || shipped.forall(_.length <= share)) union
        else keys.distinct().limit(MaxLocal + 1).collect().toIndexedSeq
      Option.when(rows.size <= MaxLocal)(new KeySet(keys.schema, rows))
    }

  /** The distinct rows of `df` in one job with no shuffle: each
    * partition dedupes its own rows and the driver unions them. For
    * sets the driver holds anyway (a rewrite's file paths). */
  def distinctRows(df: DataFrame): IndexedSeq[Row] =
    df.rdd.mapPartitions(firstDistinct(_, Int.MaxValue).iterator)
      .collect().distinct.toIndexedSeq

  /** Up to `n` distinct rows of `it`, read no further than the n-th. */
  private def firstDistinct(it: Iterator[Row], n: Int): Array[Row] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Row]
    while (it.hasNext && seen.size < n) seen += it.next()
    seen.toArray
  }
}
