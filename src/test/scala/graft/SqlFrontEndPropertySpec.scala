package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meta.GraftTable
import graft.sql.GraftSql

/** The SQL expression front end against the DataFrame API: for seeded
  * random tables and random predicates, `DELETE FROM t WHERE <text>`
  * leaves exactly the rows of `NOT coalesce(<predicate>, false)`, where
  * the predicate is built as a DataFrame Column with typed literals.
  *
  * Tables hold BIGINT, INTEGER, DOUBLE, REAL, DECIMAL, VARCHAR, DATE,
  * TIMESTAMP and BOOLEAN columns with NULLs, NaN and -0.0, spread over
  * three files. Predicates mix comparisons (column or literal first),
  * `IN` (with NULLs), `BETWEEN`, `IS [NOT] NULL`, `AND`/`OR`/`NOT`, and
  * double-quoted identifiers. A literal's Column is typed as Trino types
  * it: a number compared with a REAL column is a REAL, a number
  * compared with a VARCHAR column is its text; every other literal keeps
  * its own type.
  */
class SqlFrontEndPropertySpec extends SparkSpec {
  import SqlFrontEndPropertySpec._

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("b", LongType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("r", FloatType),
    StructField("m", DecimalType(10, 2)), StructField("s", StringType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("ok", BooleanType)))

  private val columns = schema.fieldNames.toSeq.tail

  private def day(n: Int) = LocalDate.of(2024, 1, 1).plusDays(n)
  private def hour(h: Int) = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(h * 3600L)

  /** Stored values per column (NULL aside). */
  private val stored: Map[String, Seq[Any]] = Map(
    "b" -> Seq(-3L, 0L, 1L, 2L, 3000000000L),
    "i" -> Seq(-3, 0, 1, 2, 5),
    "d" -> Seq(-0.0, 0.0, Double.NaN, 0.1, 1.5, -2.5),
    "r" -> Seq(-0.0f, 0.0f, Float.NaN, 0.1f, 0.3f, 0.25f, 1.5f),
    "m" -> Seq("0.10", "1.50", "-2.50", "3.00").map(new java.math.BigDecimal(_)),
    "s" -> Seq("", "5", "7", "10", "-1", "0.1", "abc", "a\"b"),
    "dt" -> (0 to 3).map(n => Date.valueOf(day(n))),
    "ts" -> (0 to 3).map(h => Timestamp.from(hour(h))),
    "ok" -> Seq(true, false))

  private val rowGen: Gen[Seq[Any]] = Gen.sequence[List[Any], Any](
    columns.toList.map(c =>
      Gen.frequency(1 -> Gen.const(null), 4 -> Gen.oneOf(stored(c)))))

  // three files of 3-8 rows
  private val tableGen: Gen[Seq[Seq[Seq[Any]]]] =
    Gen.listOfN(3, Gen.choose(3, 8).flatMap(Gen.listOfN(_, rowGen)))

  private def quoted(s: String) = "'" + s.replace("'", "''") + "'"

  private def numbers(texts: String*)(typed: String => Any): Gen[Lit] =
    Gen.oneOf(texts).map(t => Lit(t, lit(typed(t))))

  /** A literal compared with column `c`: its SQL text, its typed Column. */
  private def litGen(c: String): Gen[Lit] = c match {
    case "b" | "i" => Gen.oneOf(
      numbers("-4", "0", "1", "2", "5", "6")(_.toInt),
      numbers("1.5", "-0.5", "2.0")(new java.math.BigDecimal(_)),
      numbers("3000000000")(_.toLong))
    case "d" => Gen.oneOf(
      numbers("0.1", "1.5", "-2.5", "0", "-0.0", "2", "1e-1")(_.toDouble),
      Gen.const(Lit("CAST('NaN' AS DOUBLE)", lit(Double.NaN))))
    case "r" => Gen.oneOf( // REAL against a number: compared as REAL
      numbers("0.1", "0.3", "1e-1", "0.25", "1.5", "0", "-0.0", "2")(_.toFloat),
      Gen.const(Lit("CAST('NaN' AS REAL)", lit(Float.NaN))))
    case "m" => numbers("0.1", "1.5", "3", "-2.50", "0.105")(
      new java.math.BigDecimal(_))
    case "s" => Gen.oneOf(
      Gen.oneOf(stored("s")).map(v => Lit(quoted(v.toString), lit(v))),
      // VARCHAR against a number: compared as text
      numbers("5", "7", "10", "-1", "0.1", "0")(identity))
    case "dt" => for {
      n <- Gen.choose(-1, 4)
      text <- Gen.oneOf(s"DATE '${day(n)}'", s"'${day(n)}'")
    } yield Lit(text, lit(Date.valueOf(day(n))))
    case "ts" => Gen.choose(0, 4).map(h => Lit(
      f"TIMESTAMP '2024-01-01 $h%02d:00:00'", lit(Timestamp.from(hour(h)))))
    case "ok" => Gen.oneOf(true, false).map(v => Lit(v.toString, lit(v)))
  }

  private val comparisons: Seq[(String, String, (Column, Column) => Column)] =
    Seq(("=", "=", _ === _), ("<>", "<>", _ =!= _), ("!=", "!=", _ =!= _),
      ("<", ">", _ < _), ("<=", ">=", _ <= _), (">", "<", _ > _),
      (">=", "<=", _ >= _))

  // REAL and VARCHAR columns, where Trino's typing is not Spark's, come
  // up twice as often as the others
  private val leafGen: Gen[Pred] = for {
    c <- Gen.oneOf(columns ++ Seq("r", "s"))
    name <- Gen.oneOf(c, "\"" + c + "\"")
    x = col(c)
    kind <- Gen.choose(0, 9)
    p <- kind match {
      case 0 | 1 | 2 | 3 => for { // comparison, literal first one time in 4
        cmp <- Gen.oneOf(comparisons)
        v <- litGen(c)
        litFirst <- Gen.choose(0, 3).map(_ == 0)
      } yield {
        val (op, flipped, f) = cmp
        Pred(if (litFirst) s"${v.sql} $flipped $name" else s"$name $op ${v.sql}",
          f(x, v.col))
      }
      case 4 | 5 => for {
        vs <- Gen.choose(1, 3).flatMap(Gen.listOfN(_,
          Gen.frequency(1 -> Gen.const(Lit("NULL", lit(null))), 5 -> litGen(c))))
        not <- Gen.oneOf(true, false)
      } yield {
        val in = x.isin(vs.map(_.col): _*)
        Pred(s"$name ${if (not) "NOT " else ""}IN (${vs.map(_.sql).mkString(", ")})",
          if (not) !in else in)
      }
      case 6 | 7 => for {
        lo <- litGen(c); hi <- litGen(c); not <- Gen.oneOf(true, false)
      } yield {
        val between = x.between(lo.col, hi.col)
        Pred(s"$name ${if (not) "NOT " else ""}BETWEEN ${lo.sql} AND ${hi.sql}",
          if (not) !between else between)
      }
      case _ => Gen.oneOf(true, false).map(not =>
        if (not) Pred(s"$name IS NOT NULL", x.isNotNull)
        else Pred(s"$name IS NULL", x.isNull))
    }
  } yield p

  private def predGen(depth: Int): Gen[Pred] =
    if (depth == 0) leafGen
    else Gen.frequency(
      3 -> leafGen,
      2 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map { case (a, b) =>
        Pred(s"(${a.sql}) AND (${b.sql})", a.col && b.col) },
      2 -> Gen.zip(predGen(depth - 1), predGen(depth - 1)).map { case (a, b) =>
        Pred(s"(${a.sql}) OR (${b.sql})", a.col || b.col) },
      1 -> predGen(depth - 1).map(a => Pred(s"NOT (${a.sql})", !a.col)))

  test("DELETE WHERE text leaves the rows the DataFrame predicate keeps (seeded)") {
    val clock = new TestClock
    var (deletedSome, deletedNone) = (0, 0)
    (0 until Cases).foreach { i =>
      val seed = Seed(9300L + i)
      val files = tableGen.pureApply(Gen.Parameters.default, seed)
        .map(_.map(_.toVector))
      var id = 0
      val rows = files.map(_.map { vs => id += 1; Row.fromSeq(id +: vs) })
      val t = GraftTable.create(spark, tmpDir(s"sqlfeprop$i") + "/t", schema)
      rows.foreach(f => t.append(
        spark.createDataFrame(f.asJava, schema).coalesce(1), clock))
      val base = t.currentSnapshot.get.snapshotId
      val all = spark.createDataFrame(rows.flatten.asJava, schema)
      def show(rs: Array[Row]) = rs.map(_.toString).sorted.toSeq
      (0 until PredicatesPerCase).foreach { j =>
        val p = predGen(2).pureApply(Gen.Parameters.default, seed.reseed(j))
        val label = s"seed ${9300 + i} predicate $j: ${p.sql}"
        val want = show(all.filter(!coalesce(p.col, lit(false))).collect())
        try GraftSql.exec(spark, s"DELETE FROM t WHERE ${p.sql}", _ => t, clock)
        catch { case e: Exception => fail(s"$label failed: $e", e) }
        val got = show(t.read.collect())
        if (got != want) fail(s"$label\n kept ${got.diff(want)}\n" +
          s" deleted ${want.diff(got)}")
        if (got.size < rows.flatten.size) deletedSome += 1 else deletedNone += 1
        if (t.currentSnapshot.get.snapshotId != base) t.rollback(base)
      }
    }
    // non-vacuous: predicates both matched rows and matched none
    val n = Cases * PredicatesPerCase
    assert(deletedSome >= n / 5 && deletedNone >= n / 10,
      s"deleted some rows $deletedSome times, none $deletedNone times of $n")
  }
}

object SqlFrontEndPropertySpec {
  val Cases = 8
  val PredicatesPerCase = 15

  /** A literal: its SQL text and its typed Column. */
  final case class Lit(sql: String, col: Column)

  /** A predicate: its SQL text and the same predicate as a Column. */
  final case class Pred(sql: String, col: Column)
}
