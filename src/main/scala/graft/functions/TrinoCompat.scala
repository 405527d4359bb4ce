package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{First, HyperLogLogPlusPlus}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Trino-spelled SQL functions for the GraftSql dispatcher, mapped to
  * Spark's native Catalyst expressions — NOT UDFs, so every mapping
  * stays inside whole-stage codegen exactly like the Spark-native
  * spelling would. A Trino user's `cardinality(x)`, `strpos(s, t)`,
  * `date_diff('hour', a, b)`, `date_add('day', 3, ts)`,
  * `to_unixtime(ts)`, `approx_distinct(x)`, `arbitrary(x)` run
  * unchanged through the same general-SELECT path.
  *
  * Only names Spark does NOT already define are registered, and only as
  * session temp functions — nothing shadows a built-in, and other
  * sessions are untouched.
  */
object TrinoCompat {

  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // Trino cardinality(array|map) = Spark size(). In practice Spark
    // DEFINES cardinality as a built-in (INT-returning), and the
    // registry check below deliberately keeps built-ins — so this
    // BIGINT-shaped mapping is only a fallback for a session whose
    // registry lacks the name; dispatcher queries get Spark's INT.
    "cardinality" -> (es => Cast(Size(es.head), LongType)),
    // Trino strpos(string, substring) = 1-based position, 0 if absent;
    // BIGINT in Trino (Spark's StringLocate is INT) — cast to match
    "strpos" -> (es => Cast(StringLocate(es(1), es(0), Literal(1)), LongType)),
    // Trino to_unixtime(ts) = epoch seconds as DOUBLE (fraction kept);
    // Spark's timestamp→double cast has exactly that meaning
    "to_unixtime" -> (es => Cast(es.head, DoubleType)),
    // Trino approx_distinct(x) = HLL++, Spark's approx_count_distinct
    "approx_distinct" -> (es => HyperLogLogPlusPlus(es.head)),
    // Trino arbitrary(x) = any non-null value
    "arbitrary" -> (es => First(es.head, ignoreNulls = true)
      .toAggregateExpression()),
  )

  // `date_diff` / `date_add` are grammar-level in Spark (the unit is a
  // BARE keyword parsed by visitTimestampdiff, never a resolvable
  // function name), so Trino's string-literal-unit spelling must be
  // rewritten BEFORE parsing: date_diff('hour', a, b) →
  // timestampdiff(HOUR, a, b). Only a KNOWN unit name rewrites —
  // Spark's own date_add(date, n) two-arg form and a first argument
  // that merely looks quoted (date_add('20260101', …)) pass through
  // untouched and fail loudly in Spark's parser if actually wrong.
  private val Units =
    "year|quarter|month|week|day|dayofyear|hour|minute|second|millisecond|microsecond"
  private val DateDiffLit = s"""(?i)\\bdate_diff\\(\\s*'($Units)'\\s*,""".r
  private val DateAddLit = s"""(?i)\\bdate_add\\(\\s*'($Units)'\\s*,""".r

  // Trino's length-less CAST(x AS VARCHAR): Spark requires a length
  // for VARCHAR but treats STRING identically. Anchored to a CAST( so
  // an output column aliased `AS varchar` is never renamed; the inner
  // expression may hold one nesting level of parens — a deeper CAST
  // stays unrewritten and fails loudly (DATATYPE_MISSING_SIZE) rather
  // than risking a mis-parse. VARCHAR(n) parses natively either way.
  private val BareVarchar =
    """(?i)\bCAST\s*\(((?:[^()']|'(?:[^']|'')*'|\([^()]*\))*)\s+AS\s+VARCHAR\s*\)""".r

  /** Start offsets (inclusive, exclusive) of single-quoted literals,
    * '' escapes included. */
  private def literalSpans(sql: String): Seq[(Int, Int)] = {
    val spans = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < sql.length) {
      if (sql.charAt(i) == '\'') {
        val start = i; i += 1
        var closed = false
        while (i < sql.length && !closed) {
          if (sql.charAt(i) == '\'') {
            if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
        spans += ((start, i))
      } else i += 1
    }
    spans.result()
  }

  /** Replace each match of `re` by `f(match)` — but a match that STARTS
    * inside a string literal passes through byte-exact (a literal
    * containing `date_diff(` or `AS VARCHAR)` is data, not syntax). */
  private[graft] def outsideLiterals(in: String, re: scala.util.matching.Regex)(
      f: scala.util.matching.Regex.Match => String): String = {
    val spans = literalSpans(in)
    re.replaceAllIn(in, m =>
      if (spans.exists(s => m.start >= s._1 && m.start < s._2))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else scala.util.matching.Regex.quoteReplacement(f(m)))
  }

  /** Rewrite Trino spellings outside string literals. The unit literal
    * inside a real `date_diff('hour', …)` call starts OUTSIDE any
    * enclosing literal, so genuine calls always rewrite. */
  def rewriteSql(sql: String): String = {
    val d = outsideLiterals(sql, DateDiffLit)(
      m => s"timestampdiff(${m.group(1).toUpperCase},")
    val a = outsideLiterals(d, DateAddLit)(
      m => s"timestampadd(${m.group(1).toUpperCase},")
    outsideLiterals(a, BareVarchar)(m => s"CAST(${m.group(1)} AS STRING)")
  }

  /** Idempotently register the compat names into `spark`'s session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
