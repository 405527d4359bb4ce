package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.DataType

/** Column ⇄ Expression bridging for the bloom-filter machinery, which
  * Spark ships in catalyst (it powers its own runtime shuffle-join
  * filters, InjectRuntimeFilter) but does not expose through public
  * `functions._`. Lives under `org.apache.spark.sql` for the same reason
  * as [[GraftStreamSource]]: `ExpressionUtils` is `private[sql]`.
  *
  * Hashing discipline: the aggregate (build side) puts XxHash64(value)
  * longs into the filter, exactly like InjectRuntimeFilter; probes
  * compute the same hash for the same column type, so membership tests
  * are sound. (The probe itself goes through the PUBLIC
  * `org.apache.spark.util.sketch.BloomFilter.mightContainLong` —
  * catalyst's `BloomFilterMightContain` insists on a constant filter,
  * which a per-manifest-row bloom is not.)
  */
object CatalystShims {
  private def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Aggregate: build a bloom filter over a column's values, serialized
    * with `BloomFilter.writeTo` (readable by `BloomFilter.readFrom`). */
  def bloomAgg(child: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new BloomFilterAggregate(new XxHash64(Seq(expr(child))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** XxHash64 of a non-null literal Column (`lit(v)` or [[literal]]),
    * evaluated at planning time — the probe-side hash matching what
    * [[bloomAgg]] put into the filter (None for anything else). */
  def xxHash64Literal(c: Column): Option[Long] = {
    val l = c.node match {
      case org.apache.spark.sql.internal.Literal(v, dt, _) =>
        Some(dt.fold(Literal.create(v))(Literal.create(v, _)))
      case _ => Some(expr(c)).collect { case l: Literal => l }
    }
    l.filter(_.value != null).map(l =>
      new XxHash64(Seq(l)).eval(InternalRow.empty).asInstanceOf[Long])
  }

  /** A Catalyst expression (parsed, possibly unresolved) as a Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A Catalyst-internal value of type `dt` as a literal Column. */
  def literal(value: Any, dt: DataType): Column =
    ExpressionUtils.column(Literal(value, dt))

  /** Per-row bloom probe as a Column (see [[graft.functions.BloomProbe]]
    * — catalyst's own probe insists on a constant filter). */
  def bloomProbe(bloom: Column, hash: Long): Column =
    ExpressionUtils.column(
      graft.functions.BloomProbe(expr(bloom), Literal(hash)))

  /** Manifest-path normalization as a codegen'd Column. */
  def normalizePath(c: Column): Column =
    ExpressionUtils.column(graft.functions.NormalizePath(expr(c)))

  /** DataFrame over an explicit logical plan (`Dataset.ofRows` is
    * `private[sql]`) — lets graft attach ANALYZE statistics to a scan at
    * RESOLUTION time, ahead of optimizer batches that run before user
    * rules (CostBasedJoinReorder). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Clone a session INCLUDING its runtime conf (`cloneSession` is
    * `private[sql]`; `newSession` would reset runtime confs) — the
    * carrier for stream-scoped confs (graft.streaming.StreamOps). */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
}
