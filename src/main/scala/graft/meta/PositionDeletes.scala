package graft.meta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.NormalizePath

/** Position deletes (Iceberg v2 position-delete files): parquet files of
  * `(file_path, pos)` entries, each naming a data file by its normalized
  * path and one of its rows by ordinal (`_metadata.row_index`). Every
  * reader of the entries goes through here: the merge-on-read scans
  * (`read`, time travel, the row-level ops' reads), the changelog's
  * delete events and the delete targets replacement commits rewrite.
  *
  * Below [[ManifestIO.LocalReadMaxBytes]] of live delete-file bytes the
  * entries are read on the driver with parquet-mr, on the table
  * handle's conf, each file cached in [[ManifestIO]]'s LRU of immutable
  * paths (delete files live in UUID-named commit dirs, like manifests).
  * They fold into a [[PositionIndex]] (per data file of the scan, its
  * deleted positions, sorted), applied as one deterministic, codegen'd
  * predicate, [[PositionDeleted]], inside the scan's own stage — no
  * join, no broadcast, no job of its own, and a file no entry names
  * passes untouched (Iceberg's per-file position-delete index,
  * https://iceberg.apache.org/spec/#position-delete-files).
  *
  * Above the gate the entries stay distributed: a scan of the delete
  * files, anti-joined to apply and semi-joined to select, the one path
  * that runs for delete sets too large for the driver or for a task
  * binary. */
object PositionDeletes {

  /** Row schema of a position-delete file: the normalized data-file
    * path and the row's ordinal within that file. */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** `df` without the rows `dels`' entries delete. `df` exposes the
    * normalized source path in column `p` and the row ordinal in `pos`;
    * `scope` (the files `df` reads) bounds the index. */
  def exclude(table: GraftTable, df: DataFrame, p: String, pos: String,
              dels: FileScope, scope: FileScope): DataFrame =
    index(table, dels, pathsOf(scope)) match {
      case Some(ix) => if (ix.isEmpty) df else df.filter(!deleted(df(p), df(pos), ix))
      case None => joined(table, df, p, pos, dels, "left_anti")
    }

  /** The rows of `df` that `dels`' entries delete — [[exclude]]'s
    * complement, for the changelog's delete events. */
  def select(table: GraftTable, df: DataFrame, p: String, pos: String,
             dels: FileScope, scope: FileScope): DataFrame =
    index(table, dels, pathsOf(scope)) match {
      case Some(ix) => df.filter(deleted(df(p), df(pos), ix))
      case None => joined(table, df, p, pos, dels, "left_semi")
    }

  /** The data files `dels`' entries name, whether live or not, or None
    * above the gate: there the caller collects them from [[entries]]. */
  def targets(table: GraftTable, dels: FileScope): Option[Set[String]] =
    index(table, dels, None).map(_.files)

  /** The entries of `dels` as a distributed scan. */
  def entries(table: GraftTable, dels: FileScope): DataFrame =
    graft.sources.GraftFileIndex.scan(table.spark, table, Schema, dels)

  /** [[exclude]]/[[select]] above the gate: `df` joined with the
    * entries on (path, ordinal). Tests reach it below the gate through
    * a handle whose gate is negative
    * ([[GraftTable.positionIndexMaxBytes]]). */
  private def joined(table: GraftTable, df: DataFrame, p: String, pos: String,
                     dels: FileScope, how: String): DataFrame = {
    val del = entries(table, dels)
    df.join(del, df(p) === del("file_path") && df(pos) === del("pos"), how)
  }

  /** A whole snapshot's scan may read any live file; a subset reads its own. */
  private def pathsOf(scope: FileScope): Option[Set[String]] =
    if (scope.whole.isDefined) None else Some(scope.files.iterator.map(_.path).toSet)

  /** The index of `dels`' entries naming `among` (None: any file), or
    * None when the delete files total more than the handle's gate
    * ([[GraftTable.positionIndexMaxBytes]]). */
  private def index(table: GraftTable, dels: FileScope,
                    among: Option[Set[String]]): Option[PositionIndex] =
    if (dels.files.iterator.map(_.sizeBytes).sum > table.positionIndexMaxBytes) None
    else {
      val byFile = dels.files.flatMap(f => entriesOf(table.hadoopConf, f.path))
        .filter { case (path, _) => among.forall(_(path)) }
        .groupMap(_._1)(_._2)
        .map {
          case (path, Seq(one)) => path -> one
          case (path, several) => path -> sortedDistinct(several.flatten.toArray)
        }
      Some(new PositionIndex(byFile))
    }

  /** `pos_deleted(path, pos)` as a Column. */
  private def deleted(path: Column, pos: Column, ix: PositionIndex): Column =
    CatalystShims.column(PositionDeleted(
      CatalystShims.expression(path), CatalystShims.expression(pos), ix))

  /** One delete file's entries: per data file, its positions sorted and
    * distinct. Cached in [[ManifestIO]]'s LRU, priced at the decoded
    * size (a delete file compresses its sorted positions far below it). */
  private def entriesOf(conf: Configuration, file: String): Map[String, Array[Long]] = {
    val key = GraftTable.normalize(file)
    ManifestIO.cacheGet(key) match {
      case Some((byFile, _)) => byFile.asInstanceOf[Map[String, Array[Long]]]
      case None =>
        val byFile = read(conf, new Path(key))
        ManifestIO.cachePut(key, byFile,
          byFile.iterator.map { case (p, ps) => 64L + 2L * p.length + 8L * ps.length }.sum)
        byFile
    }
  }

  /** parquet-mr read of one delete file; entries with a NULL field
    * name no row and are skipped. */
  private def read(conf: Configuration, file: Path): Map[String, Array[Long]] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
    val acc = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    try {
      var g = reader.read()
      if (g != null) {
        val pathAt = g.getType.getFieldIndex("file_path")
        val posAt = g.getType.getFieldIndex("pos")
        // entries are written sorted by path: decode a path once per run
        var lastBin: Binary = null
        var last: scala.collection.mutable.ArrayBuilder.ofLong = null
        while (g != null) {
          if (g.getFieldRepetitionCount(pathAt) > 0 && g.getFieldRepetitionCount(posAt) > 0) {
            val b = g.getBinary(pathAt, 0)
            if (lastBin == null || b != lastBin) {
              lastBin = b.copy()
              last = acc.getOrElseUpdate(b.toStringUsingUTF8,
                new scala.collection.mutable.ArrayBuilder.ofLong)
            }
            last += g.getLong(posAt, 0)
          }
          g = reader.read()
        }
      }
    } finally reader.close()
    acc.iterator.map { case (p, b) => p -> sortedDistinct(b.result()) }.toMap
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    if (a.length < 2) a
    else {
      var n = 1
      var i = 1
      while (i < a.length) {
        if (a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
        i += 1
      }
      if (n == a.length) a else java.util.Arrays.copyOf(a, n)
    }
  }
}

/** Position deletes by data file: each file's deleted row ordinals,
  * sorted and distinct. Shipped to tasks inside [[PositionDeleted]]. */
final class PositionIndex private[meta] (byFile: Map[String, Array[Long]])
  extends Serializable {

  /** The data files with at least one entry. */
  def files: Set[String] = byFile.keySet

  def isEmpty: Boolean = byFile.isEmpty

  /** The deleted ordinals of `path` (normalized first when `normalize`),
    * or null when no entry names it. Called once per file change by the
    * generated predicate. */
  def positionsOf(path: UTF8String, normalize: Boolean): Array[Long] = {
    val s = path.toString
    byFile.getOrElse(if (normalize) GraftTable.normalize(s) else s, null)
  }

  private val positions = byFile.valuesIterator.map(_.length.toLong).sum

  override def toString: String = s"PositionIndex(${byFile.size} files, $positions positions)"
}

/** `pos_deleted(path, pos)`: whether the index deletes row `pos` of data
  * file `path` (false when either is NULL). Deterministic and codegen'd
  * in the [[graft.functions.SigKernels]] pattern: the index is a
  * reference object of the generated class, and each task looks a file
  * up once per change of `path` — rows of one file arrive together —
  * then binary-searches its positions per row. The path arrives through
  * [[NormalizePath]] (the scan's path column, its projection inlined by
  * the optimizer): that call is stripped and made once per file change
  * instead of once per row. */
case class PositionDeleted(left: Expression, right: Expression, index: PositionIndex)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (VARCHAR, BIGINT), got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "pos_deleted"

  /** The path before normalization, and whether to normalize it. */
  @transient private lazy val rawPath: (Expression, Boolean) = left match {
    case NormalizePath(raw) => (raw, true)
    case other => (other, false)
  }

  override def eval(input: InternalRow): Any = {
    val (raw, normalize) = rawPath
    val path = raw.eval(input)
    val pos = right.eval(input)
    path != null && pos != null && {
      val ps = index.positionsOf(path.asInstanceOf[UTF8String], normalize)
      ps != null && java.util.Arrays.binarySearch(ps, pos.asInstanceOf[Long]) >= 0
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (raw, normalize) = rawPath
    val ix = ctx.addReferenceObj("posIndex", index, classOf[PositionIndex].getName)
    val utf8 = classOf[UTF8String].getName
    val lastPath = ctx.addMutableState(utf8, "posLastPath")
    val lastPositions = ctx.addMutableState("long[]", "posLastPositions")
    val p = raw.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${p.code}
        ${r.code}
        boolean ${ev.value} = false;
        if (!${p.isNull} && !${r.isNull}) {
          if ($lastPath == null || !$lastPath.equals(${p.value})) {
            $lastPath = ${p.value}.copy();
            $lastPositions = $ix.positionsOf($lastPath, $normalize);
          }
          ${ev.value} = $lastPositions != null &&
            java.util.Arrays.binarySearch($lastPositions, ${r.value}) >= 0;
        }
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
