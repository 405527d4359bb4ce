package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meta.{FileSkipping, GraftTable}

/** The superset contract of [[FileSkipping]]: for seeded random small
  * files and random probes, every file holding at least one row that
  * matches a rule's row predicate is kept by the rule.
  *
  * Files carry long, double, string, date and timestamp columns with
  * NULLs, NaN, -0.0 / 0.0 and all-null columns. Each case appends the
  * same files through [[GraftTable.append]] to a plain table (the
  * driver-side footer inventory; files holding NaN fall back) and to a
  * `write.bloom-filter.columns` table (the distributed inventory, with
  * blooms). Matching files come from the data itself: the row
  * predicate evaluated per row next to `_metadata.file_path`. A few
  * predicates per table also go through the `graft` source, whose
  * pruned scan must return exactly the rows a plain scan returns.
  */
class FileSkippingPropertySpec extends SparkSpec {
  import FileSkippingPropertySpec.Probe

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("dt", DateType),
    StructField("ts", TimestampType)))

  private val domain: Map[String, Seq[Any]] = Map(
    "l" -> (-6L to 6L),
    "d" -> Seq(-0.0, 0.0, Double.NaN, 1.5, -2.5, 3.0),
    "s" -> Seq("", "a", "ab", "abc", "b", "ba", "z"),
    "dt" -> (0 to 10).map(i => Date.valueOf(LocalDate.of(2020, 1, 1).plusDays(i))),
    "ts" -> (0 to 10).map(i => Timestamp.from(Instant.parse("2020-01-01T00:00:00Z")
      .plusSeconds(i * 3600L).plusNanos(123456000L))))

  private def valueOf(c: String): Gen[Any] = Gen.oneOf(domain(c))
  private def maybeNull(c: String): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 3 -> valueOf(c))

  // one file: 1-12 rows, each column all-null one time in five
  private val fileGen: Gen[Seq[Row]] = for {
    n <- Gen.choose(1, 12)
    allNull <- Gen.listOfN(schema.size, Gen.choose(0, 4).map(_ == 0))
    rows <- Gen.listOfN(n, Gen.sequence[List[Any], Any](
      schema.fieldNames.toList.zip(allNull).map { case (c, none) =>
        if (none) Gen.const(null) else maybeNull(c) }))
  } yield rows.map(Row.fromSeq(_))

  private val caseGen: Gen[Seq[Seq[Row]]] =
    Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, fileGen))

  private def probeGen(c: String): Gen[Probe] = {
    val v = Gen.frequency(1 -> Gen.const(null), 7 -> valueOf(c))
    val small = Gen.choose(0, 4).flatMap(Gen.listOfN(_, maybeNull(c)))
    val set =
      if (c != "l") small
      else Gen.frequency(4 -> small, 1 -> small.map(_ ++
        (0 until FileSkipping.ExactValueCap + 6).map(i => 100L + 7L * i)))
    for {
      a <- v; b <- v; vs <- set; hasNull <- Gen.oneOf(true, false)
      prefix <- Gen.oneOf("", "a", "ab", "b", "c", "abcd")
    } yield Probe(a, b, vs, hasNull, prefix)
  }

  /** (rule name, manifest keep column, row predicate it must cover). */
  private def rules(c: String, dt: DataType, p: Probe): Seq[(String, Column, Column)] = {
    val x = col(c)
    val (a, b) = (lit(p.a), lit(p.b))
    val range = x >= a && x <= b
    Seq(
      ("mayOverlap", FileSkipping.mayOverlap(c, dt, a, b), range),
      ("mayHaveAbove >", FileSkipping.mayHaveAbove(c, dt, a, strict = true), x > a),
      ("mayHaveAbove >=", FileSkipping.mayHaveAbove(c, dt, a, strict = false), x >= a),
      ("mayHaveBelow <", FileSkipping.mayHaveBelow(c, dt, a, strict = true), x < a),
      ("mayHaveBelow <=", FileSkipping.mayHaveBelow(c, dt, a, strict = false), x <= a),
      ("mayEqual", FileSkipping.mayEqual(c, dt, a), x === a),
      ("bloomMayContain", FileSkipping.bloomMayContain(c, a), x === a),
      ("mayContainAny", FileSkipping.mayContainAny(c, dt, p.set),
        x.isin(p.set.filter(_ != null): _*)),
      ("mayMatchKeyRange", FileSkipping.mayMatchKeyRange(c, dt, p.a, p.b), range),
      ("mayMatchNullSafe", FileSkipping.mayMatchNullSafe(c,
        FileSkipping.mayMatchKeyRange(c, dt, p.a, p.b), lit(p.hasNull)),
        range || (lit(p.hasNull) && x.isNull)),
      ("mayHaveNulls", FileSkipping.mayHaveNulls(c), x.isNull),
      ("mayHaveNonNulls", FileSkipping.mayHaveNonNulls(c), x.isNotNull),
      ("mayDifferFrom", FileSkipping.mayDifferFrom(c, dt, a), x =!= a)) ++
      (if (dt != StringType) Nil
       else Seq(("mayStartWith", FileSkipping.mayStartWith(c, p.prefix),
         x.startsWith(p.prefix))))
  }

  test("no rule ever drops a file holding a matching row (seeded)") {
    val hitsBefore = GraftTable.footerInventoryHits.get
    val pruned = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until 5).foreach { i =>
      val seed = Seed(9100L + i)
      val files = caseGen.pureApply(Gen.Parameters.default, seed)
      Seq(false, true).foreach { blooms =>
        val loc = tmpDir(s"fsprop$i") + "/t"
        val t = GraftTable.create(spark, loc, schema)
        if (blooms)
          t.setProperties(Map("write.bloom-filter.columns" -> "l,d,s,dt,ts"))
        files.foreach(rows => t.append(
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1)))
        val manifest = t.files
        val live = manifest.select("path").collect().map(_.getString(0)).toSeq
        val all = schema.fields.toSeq.zipWithIndex.flatMap { case (f, j) =>
          val p = probeGen(f.name).pureApply(Gen.Parameters.default, seed.reseed(j))
          rules(f.name, f.dataType, p).map { case (name, keep, pred) =>
            (s"$name(${f.name}) $p", name, keep, pred)
          }
        }
        // every row predicate evaluated once per row next to its file,
        // every rule once per manifest row (NULL drops, as in a filter)
        def truth(df: DataFrame, path: Column, cs: Seq[Column]) =
          df.select(path +: cs.map(coalesce(_, lit(false))): _*).collect()
        val data = truth(spark.read.schema(schema).parquet(live: _*),
          col("_metadata.file_path"), all.map(_._4))
        val rows = truth(manifest, col("path"), all.map(_._3))
        def paths(rs: Array[Row], j: Int) = rs.filter(_.getBoolean(j + 1))
          .map(r => GraftTable.normalize(r.getString(0))).toSet
        all.zipWithIndex.foreach { case ((label, name, _, _), j) =>
          val (matching, kept) = (paths(data, j), paths(rows, j))
          assert(matching.subsetOf(kept),
            s"seed ${9100 + i} blooms=$blooms $label dropped matching " +
              s"files ${matching -- kept}; manifest:\n" +
              manifest.filter(col("path").isin((matching -- kept).toSeq: _*))
                .drop("blooms").collect().mkString("\n"))
          pruned(name) += live.size - kept.size
        }
        // the same predicates pushed through the graft source
        val scan = spark.read.format("graft").load(loc)
        val plain = spark.read.schema(schema).parquet(live: _*)
        new scala.util.Random(9100L + i).shuffle(all).take(3).foreach {
          case (label, _, _, pred) =>
            assert(scan.filter(pred).collect().length ==
              plain.filter(pred).collect().length,
              s"seed ${9100 + i} blooms=$blooms graft scan of $label")
        }
      }
    }
    // non-vacuous: both inventory paths ran, and every rule pruned
    assert(GraftTable.footerInventoryHits.get > hitsBefore)
    val idle = (rules("s", StringType, Probe(null, null, Nil, false, "")).map(_._1)
      .toSet -- pruned.filter(_._2 > 0).keySet)
    assert(idle.isEmpty, s"rules that never pruned a file: $idle")
  }
}

object FileSkippingPropertySpec {

  /** One probe of a column: two values (NULL one time in eight), a
    * value set with NULLs (for the long column sometimes beyond
    * [[FileSkipping.ExactValueCap]]), whether the probe holds a NULL
    * key, and a string prefix. */
  final case class Probe(a: Any, b: Any, set: Seq[Any], hasNull: Boolean,
                         prefix: String)
}
