package graft.meta

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.types._

/** File skipping by manifest statistics: the one place that decides
  * "might this manifest row's data file hold a matching row?", and the
  * one reader of the per-file statistics that decision uses (the
  * `lower_bounds` / `upper_bounds` / `null_value_counts` analogue of
  * Iceberg's `InclusiveMetricsEvaluator`):
  *   - `min_values` / `max_values`: column → the file's non-null min /
  *     max, rendered with `cast(string)`, present only for
  *     [[boundable]] columns (and partition-transform outputs);
  *   - `null_counts`: column → rows holding NULL in the column;
  *   - `blooms`: column → serialized bloom filter over XxHash64 of the
  *     file's values (`write.bloom-filter.columns` only).
  *
  * Every function returns a Column over manifest rows that is TRUE for
  * every file holding at least one matching row — pruning only ever
  * returns a superset, and the caller's exact step (the row predicate,
  * the join) runs on what survives. [[ManifestIO.survivingFiles]] lists
  * the files a rule admits: evaluated on the driver over the cached
  * manifest rows below the local-read gate, as one Spark job above it,
  * with the same result either way. The conservative rules live here and
  * nowhere else:
  *   - a missing statistic keeps the file (a missing bound on either
  *     side of a range comparison, a missing null count);
  *   - a type that is not [[boundable]] keeps every file ([[KeepAll]]);
  *   - plain `=` never matches NULL (a key set without non-null values
  *     prunes every file), while null-safe `<=>` matches NULL rows
  *     ([[mayMatchNullSafe]]);
  *   - [[ExactValueCap]] bounds the exact per-value key test.
  *
  * `c` names the column (its key in the statistics maps), `dt` is its
  * table type, and `m` picks the manifest side when two manifests meet
  * in one join condition (default: the unqualified manifest columns).
  */
object FileSkipping {

  /** Per-column value-list cap for [[mayContainAny]]'s exact
    * per-value bounds test; larger value sets prune by the
    * (constant-folded, job-free) hull and the bloom alone. */
  private[graft] val ExactValueCap = 1024

  /** Column types whose string-encoded min/max round-trip losslessly
    * through `cast(string)` and back (Spark renders doubles/timestamps
    * shortest-round-trip), so file-skipping comparisons are exact. */
  private[graft] def boundable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Keeps every file: what a rule returns when the statistics cannot
    * decide. Callers may compare against it (`==`) to skip a manifest
    * filter that would prune nothing. */
  val KeepAll: Column = lit(true)

  /** The manifest's typed lower / upper bound of `c` (NULL when
    * missing); public as the probe range of a join between manifests.
    * A bound that does not decode as `dt` reads as missing: a file index
    * over one schema generation filters manifests that also list files
    * written under another (a since-widened or re-added column), whose
    * rows it intersects away but must not fail on. */
  def lowerBound(c: String, dt: DataType, m: String => Column = col(_)): Column =
    element_at(m("min_values"), c).try_cast(dt)
  def upperBound(c: String, dt: DataType, m: String => Column = col(_)): Column =
    element_at(m("max_values"), c).try_cast(dt)

  /** Might the file hold a value in `[lo, hi]`? A missing bound on
    * either side — the file's or the probe's — keeps the file. */
  def mayOverlap(c: String, dt: DataType, lo: Column, hi: Column,
                 m: String => Column = col(_)): Column =
    if (!boundable(dt)) KeepAll
    else mayHaveAbove(c, dt, lo, strict = false, m) &&
      mayHaveBelow(c, dt, hi, strict = false, m)

  /** Might the file hold a value `> v` (strict) / `>= v`? */
  def mayHaveAbove(c: String, dt: DataType, v: Column, strict: Boolean,
                   m: String => Column = col(_)): Column =
    bound(dt, upperBound(c, dt, m), v)(if (strict) _ > _ else _ >= _)

  /** Might the file hold a value `< v` (strict) / `<= v`? */
  def mayHaveBelow(c: String, dt: DataType, v: Column, strict: Boolean,
                   m: String => Column = col(_)): Column =
    bound(dt, lowerBound(c, dt, m), v)(if (strict) _ < _ else _ <= _)

  /** `ok(bound, v)`, kept when either side is missing. */
  private def bound(dt: DataType, b: Column, v: Column)(
      ok: (Column, Column) => Column): Column =
    if (!boundable(dt)) KeepAll else b.isNull || v.isNull || ok(b, v)

  /** Plain `=` against a key set given by its non-null min `lo` and max
    * `hi` (Scala values; `lo` NULL = the set has no non-null key, which
    * matches nothing). */
  def mayMatchKeyRange(c: String, dt: DataType, lo: Any, hi: Any): Column =
    if (!boundable(dt)) KeepAll
    else if (lo == null) lit(false)
    else mayOverlap(c, dt, lit(lo).cast(dt), lit(hi).cast(dt))

  /** `c = v` or `c IN (values)`, the values Scala values of type `dt`,
    * a list of any length: the hull first (array min/max of a literal
    * array constant-fold, so it is O(1) per file and short-circuits the
    * rest; for one value it is the exact bounds test), then the bloom —
    * the point-lookup prune min/max can't provide on unsorted
    * high-cardinality columns — over the values' hashes, computed at
    * planning time from the XxHash64 the write side used (a missing
    * bloom keeps the file). Up to
    * [[ExactValueCap]] values the bloom probes only the values within
    * the file's bounds, so a file is kept only if SOME value passes both
    * tests. Beyond the cap every hash is probed (a linear bounds test of
    * a huge value list per manifest row would not pay for the extra
    * pruning). The values are ONE array literal, so the rule's size, and
    * the time to plan the manifest filter, does not grow with their
    * number. NULL values match nothing and are dropped; no non-null
    * value prunes every file. */
  def mayContainAny(c: String, dt: DataType, values: Seq[Any]): Column = {
    val vs = values.filter(_ != null).distinct
    if (!boundable(dt)) KeepAll
    else if (vs.isEmpty) lit(false)
    else {
      val arr = CatalystShims.scalaLiteral(vs, ArrayType(dt, containsNull = false))
      val hull = mayOverlap(c, dt, array_min(arr), array_max(arr))
      val hashes = vs.map(CatalystShims.xxHash64(_, dt))
      val probes =
        if (vs.size == 1 || vs.size > ExactValueCap)
          CatalystShims.scalaLiteral(hashes, ArrayType(LongType, containsNull = false))
        else {
          val pairs = CatalystShims.scalaLiteral(vs.zip(hashes).map(Row.fromTuple),
            ArrayType(new StructType().add("v", dt, nullable = false)
              .add("h", LongType, nullable = false), containsNull = false))
          transform(filter(pairs, p => mayOverlap(c, dt, p("v"), p("v"))), _("h"))
        }
      // one probe per file reads its bloom once (a Scala UDF would break
      // whole-stage codegen for the distributed manifest filter)
      hull && CatalystShims.bloomProbe(element_at(col("blooms"), c), probes)
    }
  }

  /** Null-safe `<=>` key match: `values` (the non-null rule) holds, or
    * the probe holds a NULL key and the file may hold NULL rows. */
  def mayMatchNullSafe(c: String, values: Column, probeHasNulls: Column,
                       m: String => Column = col(_)): Column =
    values || (probeHasNulls && mayHaveNulls(c, m))

  /** `c IS NULL`: skip files with zero nulls in the column. */
  def mayHaveNulls(c: String, m: String => Column = col(_)): Column = {
    val n = element_at(m("null_counts"), c)
    n.isNull || n > 0
  }

  /** `c IS NOT NULL`: skip files where EVERY row is null in the column
    * (null_count == record_count — e.g. a pre-backfill append). */
  def mayHaveNonNulls(c: String): Column = {
    val n = element_at(col("null_counts"), c)
    n.isNull || n < col("record_count")
  }

  /** `NOT (c = v)`: skippable only when every non-null row equals v
    * (min == max == v); null rows never satisfy the predicate either. */
  def mayDifferFrom(c: String, dt: DataType, v: Column): Column =
    if (!boundable(dt)) KeepAll
    else coalesce(!(lowerBound(c, dt) === v && upperBound(c, dt) === v),
      lit(true))

  /** `c LIKE 'p%'`: truncate the string bounds to the prefix length —
    * prefix-truncation is monotone under lexicographic order, so
    * prefix(min) <= p <= prefix(max) is a necessary condition. */
  def mayStartWith(c: String, p: String): Column = {
    val (mn, mx) = (lowerBound(c, StringType), upperBound(c, StringType))
    mn.isNull || mx.isNull ||
      (substring(mn, 1, p.length) <= p && substring(mx, 1, p.length) >= p)
  }
}
