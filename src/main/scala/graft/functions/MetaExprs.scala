package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd expressions for the METADATA plane (manifest listings,
  * stats-store upkeep). These jobs are O(files), not O(rows), so a
  * Scala UDF would work — but a UDF in the plan breaks whole-stage
  * codegen for every co-resident expression in the same stage, and the
  * listFiles probe runs inside planning latency, where the constant
  * factor is user-visible. Native expressions keep the whole job in one
  * codegen span.
  */

/** Per-row bloom-filter membership probe: `BloomProbe(bytes, hashes)`
  * is true unless the serialized filter in `bytes` definitely excludes
  * every hash in the `hashes` array — one filter read per row, whatever
  * the number of probes. Catalyst's own `BloomFilterMightContain`
  * requires a CONSTANT (foldable) filter — right for runtime join
  * filters (d18's `graft_might_contain`), unusable for per-FILE blooms
  * where every manifest row carries its own serialized filter. An empty
  * array probes FALSE (no candidate value is left to find); NULL bytes
  * (file has no filter for the column), a NULL array and a NULL element
  * probe TRUE: absence of evidence never prunes a file. */
case class BloomProbe(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BINARY, ARRAY<BIGINT>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  override def eval(input: InternalRow): Any = {
    val hashes = right.eval(input)
    hashes == null || BloomProbe.probe(
      left.eval(input).asInstanceOf[Array[Byte]], hashes.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${l.code}
        ${r.code}
        boolean ${ev.value} = ${r.isNull} ||
          graft.functions.BloomProbe.probe(
            ${l.isNull} ? null : (byte[]) ${l.value}, ${r.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomProbe {
  /** static entry point for generated code (Scala emits a forwarder on
    * the companion class, so Janino sees a plain static method). */
  def probe(bytes: Array[Byte], hashes: ArrayData): Boolean = {
    val n = hashes.numElements()
    if (n == 0) false
    else if (bytes == null) true
    else {
      val filter = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      (0 until n).exists(i => hashes.isNullAt(i) || filter.mightContainLong(hashes.getLong(i)))
    }
  }
}

/** Hadoop-Path normalization of a string column — `file:///a/b` and
  * `file:/a/b` both → `file:/a/b` — the manifest-path canonical form
  * ([[graft.meta.GraftTable.normalize]], called statically from the
  * generated code so the semantics can never fork). */
case class NormalizePath(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires VARCHAR, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_normalize_path"

  override protected def nullSafeEval(s: Any): Any =
    NormalizePath.normalize(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.NormalizePath.normalize($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizePath {
  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.meta.GraftTable.normalize(s.toString))
}
