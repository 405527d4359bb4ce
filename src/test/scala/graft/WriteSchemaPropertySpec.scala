package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meta.GraftTable
import graft.sql.GraftSql
import graft.streaming.GraftSink

/** The write-schema rule against a model: for seeded random table
  * schemas and random frames, every table-row write entry point
  * (`append`, `upsert`, `merge`, the streaming sink's `appendBatch` and
  * SQL `INSERT INTO t SELECT`) accepts a frame exactly when the model
  * says so. An accepted write reads back as the frame cast to the table
  * types; a refused one leaves no snapshot and no new file under
  * `data/`.
  *
  * Tables hold a BIGINT key `k` and two to four more columns of BIGINT,
  * DOUBLE, DECIMAL(10,2), VARCHAR, INTEGER, ARRAY(INTEGER) or
  * ROW(a INTEGER, b VARCHAR), each nullable or not. Frames shuffle the
  * columns and change their case, and per column keep the type, promote
  * it (INTEGER → BIGINT, REAL → DOUBLE, DECIMAL precision growth), flip
  * a nested nullability (all accepted), leave the column out (accepted
  * when it is nullable) or mistype it (refused); some carry an extra
  * column (refused).
  */
class WriteSchemaPropertySpec extends SparkSpec {
  import WriteSchemaPropertySpec._

  private def struct(a: Boolean, b: Boolean) = StructType(Seq(
    StructField("a", IntegerType, a), StructField("b", StringType, b)))

  /** A table type and the frame types that the rule accepts without
    * being equal (promotions and nested-nullability flips) and refuses. */
  private val palette: Seq[Gen[(DataType, Seq[DataType], Seq[DataType])]] = Seq(
    Gen.const((LongType, Seq(IntegerType), Seq(StringType, DoubleType))),
    Gen.const((DoubleType, Seq(FloatType), Seq(LongType, StringType))),
    Gen.const((DecimalType(10, 2), Seq(DecimalType(5, 2), DecimalType(8, 2)),
      Seq(DecimalType(12, 2), DecimalType(10, 3), DoubleType))),
    Gen.const((StringType, Seq.empty, Seq(LongType))),
    Gen.const((IntegerType, Seq.empty, Seq(LongType, StringType))),
    Gen.oneOf(true, false).map(cn => (ArrayType(IntegerType, cn),
      Seq(ArrayType(IntegerType, !cn)), Seq(ArrayType(LongType, cn), StringType))),
    Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false)).map { case (a, b) =>
      (struct(a, b), Seq(struct(!a, b), struct(a, !b)),
        Seq(StructType(Seq(StructField("a", IntegerType, a), StructField("c", StringType, b)))))
    })

  private val columnGen: Gen[ColumnCase] = for {
    (tableType, accepted, wrong) <- Gen.oneOf(palette).flatMap(identity)
    nullable <- Gen.oneOf(true, false)
    frameNullable <- Gen.oneOf(true, false)
    kind <- Gen.frequency(5 -> Same, (if (accepted.isEmpty) 0 else 4) -> Widened,
      1 -> Missing, 1 -> Mistyped)
    frameType <- kind match {
      case Widened => Gen.oneOf(accepted)
      case Mistyped => Gen.oneOf(wrong)
      case _ => Gen.const(tableType)
    }
    upper <- Gen.oneOf(true, false)
  } yield ColumnCase(StructField("", tableType, nullable), kind,
    StructField("", frameType, frameNullable), upper)

  private val caseGen: Gen[Case] = for {
    keyNullable <- Gen.oneOf(true, false)
    keyType <- Gen.oneOf(LongType, IntegerType)
    n <- Gen.choose(2, 4)
    cols <- Gen.listOfN(n, columnGen)
    extra <- Gen.frequency(5 -> false, 1 -> true)
    // a random permutation of the frame's columns
    ranks <- Gen.listOfN(n + 2, Gen.choose(0, 1000))
    rows <- Gen.choose(1, 4)
  } yield {
    val named = cols.zipWithIndex.map { case (c, i) =>
      val name = s"c$i"
      c.copy(table = c.table.copy(name = name),
        frame = c.frame.copy(name = if (c.upper) name.toUpperCase else name))
    }
    val key = ColumnCase(StructField("k", LongType, keyNullable),
      if (keyType == LongType) Same else Widened, StructField("K", keyType, nullable = false),
      upper = true)
    Case(key +: named, extra, (0 until n + 2).sortBy(i => (ranks(i), i)).toList, rows)
  }

  /** A value of frame type `f` that the table type `t` can hold:
    * nested NULLs only where both allow them. */
  private def valueGen(f: DataType, t: DataType, nulls: Boolean): Gen[Any] = {
    val v: Gen[Any] = (f, t) match {
      case (LongType, _) => Gen.choose(-1000L, 1000L)
      case (IntegerType, _) => Gen.choose(-1000, 1000)
      case (DoubleType, _) => Gen.oneOf(0.5, -1.25, 3.0, 1e10)
      case (FloatType, _) => Gen.oneOf(0.5f, -1.25f, 3.0f)
      case (d: DecimalType, _) =>
        val bound = math.pow(10, d.precision.toDouble).toLong - 1
        Gen.choose(-bound, bound).map(java.math.BigDecimal.valueOf(_, d.scale))
      case (StringType, _) => Gen.oneOf("", "a", "Zz", "ünï")
      case (ArrayType(e, fcn), tt) =>
        val tcn = tt match { case ArrayType(_, c) => c; case _ => fcn }
        Gen.choose(0, 3).flatMap(Gen.listOfN(_, valueGen(e, e, fcn && tcn)))
      case (StructType(fs), tt) =>
        val tfs = tt match { case StructType(x) => x.toSeq; case _ => fs.toSeq }
        Gen.sequence[List[Any], Any](fs.toList.zipWithIndex.map { case (x, i) =>
          valueGen(x.dataType, x.dataType,
            x.nullable && tfs.lift(i).forall(_.nullable)) }).map(Row.fromSeq)
      case other => throw new IllegalStateException(s"no values for $other")
    }
    if (nulls) Gen.frequency(1 -> Gen.const(null), 4 -> v) else v
  }

  /** The case's table, frame rows and whether the rule accepts them. */
  private def build(c: Case, seed: Seed): (StructType, DataFrame, Boolean) = {
    val table = StructType(c.cols.map(_.table))
    val present = c.cols.filter(_.kind != Missing)
    val extraField = StructField("extra", StringType)
    val frameFields = (present.map(_.frame) ++ (if (c.extra) Seq(extraField) else Seq.empty))
    val ordered = c.order.filter(_ < frameFields.size).map(frameFields)
    val byFrameName = present.map(p => p.frame.name -> p).toMap
    val rowGen = Gen.sequence[List[Any], Any](ordered.toList.map { f =>
      byFrameName.get(f.name) match {
        case Some(p) if p.kind == Mistyped =>
          valueGen(f.dataType, f.dataType, f.nullable)
        case Some(p) =>
          valueGen(f.dataType, p.table.dataType, f.nullable && p.table.nullable)
        case None => Gen.const("x")
      }
    })
    // distinct keys, so an upsert or merge into the empty table inserts every row
    val rows = (0 until c.rows).map { i =>
      val vs = rowGen.pureApply(Gen.Parameters.default, seed.reseed(100L + i))
      Row.fromSeq(ordered.zip(vs).map {
        case (f, _) if f.name == "K" => if (f.dataType == LongType) i.toLong + 1 else i + 1
        case (_, v) => v
      })
    }
    val frame = spark.createDataFrame(rows.asJava, StructType(ordered))
    val accepted = !c.extra && c.cols.forall(col => col.kind match {
      case Mistyped => false
      case Missing => col.table.nullable
      case _ => true
    })
    (table, frame, accepted)
  }

  /** The frame cast to the table's types, NULL where a column is left
    * out (a nested-nullability flip is not a cast: values pass as is). */
  private def expected(c: Case, frame: DataFrame): DataFrame =
    frame.select(c.cols.map { col =>
      val out: Column = col.kind match {
        case Missing => lit(null).cast(col.table.dataType)
        case Widened if !col.table.dataType.isInstanceOf[ArrayType] &&
            !col.table.dataType.isInstanceOf[StructType] =>
          frame(col.frame.name).cast(col.table.dataType)
        case _ => frame(col.frame.name)
      }
      out.as(col.table.name)
    }: _*)

  private def dataFiles(t: GraftTable): Set[String] =
    GraftTable.listFiles(t.fileSystem, new Path(t.dir, "data"))
      .map(_.getPath.toString).toSet

  private val writes: Seq[(String, (GraftTable, DataFrame, String) => Any)] = Seq(
    "append" -> ((t, df, _) => t.append(df)),
    "upsert" -> ((t, df, _) => t.upsert(df, Seq("k"))),
    "merge" -> ((t, df, _) => t.merge(df, Seq("k"))),
    "appendBatch" -> ((t, df, _) => GraftSink.appendBatch(t, "q")(df, 0L)),
    "INSERT SELECT" -> { (t, df, dir) =>
      val src = GraftTable.create(spark, s"$dir/src", df.schema)
      src.append(df)
      GraftSql.exec(spark, "INSERT INTO t SELECT * FROM src",
        name => if (name == "src") src else t)
    })

  test("each write entry point accepts a frame exactly when the rule does (seeded)") {
    var (acceptedN, refusedN) = (0, 0)
    (0 until Cases).foreach { i =>
      val seed = Seed(1200L + i)
      val c = caseGen.pureApply(Gen.Parameters.default, seed)
      val (tableSchema, frame, accepted) = build(c, seed)
      val label = s"seed ${1200 + i}: table ${tableSchema.simpleString}, " +
        s"frame ${frame.schema.simpleString}"
      def show(rs: Array[Row]) = rs.map(_.toString).sorted.toSeq
      lazy val want = show(expected(c, frame).collect())
      if (accepted) acceptedN += 1 else refusedN += 1
      writes.foreach { case (name, write) =>
        val dir = tmpDir(s"wsprop$i")
        val t = GraftTable.create(spark, s"$dir/t", tableSchema)
        val outcome = scala.util.Try(write(t, frame, dir))
        if (accepted) {
          outcome.failed.foreach(e => fail(s"$label: $name refused an accepted frame: $e", e))
          val got = show(t.read.collect())
          assert(got == want, s"$label: $name read back ${got.diff(want)}, " +
            s"missing ${want.diff(got)}")
        } else {
          outcome match {
            case scala.util.Failure(e: IllegalArgumentException)
                if e.getMessage.contains("write schema mismatch") =>
            case other => fail(s"$label: $name did not refuse the frame: $other")
          }
          assert(t.snapshots.isEmpty, s"$label: $name committed a refused frame")
          assert(dataFiles(t).isEmpty, s"$label: $name left a data file")
        }
      }
    }
    // non-vacuous: the seeds both accept and refuse
    assert(acceptedN >= Cases / 5 && refusedN >= Cases / 5,
      s"accepted $acceptedN, refused $refusedN of $Cases")
  }
}

object WriteSchemaPropertySpec {
  val Cases = 12

  sealed trait Kind
  case object Same extends Kind
  case object Widened extends Kind
  case object Missing extends Kind
  case object Mistyped extends Kind

  /** A table column, what the frame does with it and the frame's field. */
  final case class ColumnCase(table: StructField, kind: Kind, frame: StructField,
                           upper: Boolean)

  /** A table schema's columns (the key first), whether the frame adds a
    * column, the frame's column order and its row count. */
  final case class Case(cols: Seq[ColumnCase], extra: Boolean, order: List[Int], rows: Int)
}
