package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystShims
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meta.{FileSkipping, GraftTable, ManifestIO}

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
  *
  * The same rules, over those tables' manifests and over random
  * manifest rows, admit exactly the same files on the driver path
  * (interpreted over the cached rows) as on the Spark path that serves
  * manifests above the local-read gate.
  *
  * A second input is an evolved table (one widened, one renamed and one
  * added column) read through [[GraftTable.read]] with random
  * predicates: pushed through the per-generation alignment projection
  * into each generation's file index, they must return the rows of the
  * plain-parquet reference.
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
      ("mayContainAny =", FileSkipping.mayContainAny(c, dt, Seq(p.a)), x === a),
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

  /** Random manifest rows written straight to a manifest dir: missing
    * stat maps and missing entries, bounds from the value domain (NaN,
    * -0.0 and 0.0 among them) or undecodable, min above max, blooms
    * over random values or none, missing added ids. */
  private def randomManifest(seed: Seed): Seq[Row] = {
    val rnd = new scala.util.Random(seed.long._1)
    def sometimes(pct: Int) = rnd.nextInt(100) < pct
    def bound(c: String): String =
      if (sometimes(10)) Seq("x", "", "1e999", "2020-13-45")(rnd.nextInt(4))
      else String.valueOf(domain(c)(rnd.nextInt(domain(c).size)))
    def bloom(c: String, dt: DataType): Array[Byte] = {
      val f = org.apache.spark.util.sketch.BloomFilter.create(4, 0.05)
      (0 to rnd.nextInt(3)).foreach(_ => f.putLong(CatalystShims.xxHash64(
        domain(c)(rnd.nextInt(domain(c).size)), dt)))
      val out = new java.io.ByteArrayOutputStream
      f.writeTo(out)
      out.toByteArray
    }
    (0 until 12).map { i =>
      val n = 1L + rnd.nextInt(12)
      def statMap[V](pct: Int)(v: StructField => V): Map[String, V] =
        if (sometimes(15)) null
        else schema.fields.filter(_ => sometimes(pct)).map(f => f.name -> v(f)).toMap
      Row(s"file:/fsprop/random/part-$i.parquet", 100L + i, n,
        statMap(85)(_ => java.lang.Long.valueOf(rnd.nextInt(n.toInt + 1).toLong)),
        statMap(80)(f => bound(f.name)), statMap(80)(f => bound(f.name)),
        statMap(50)(f => bloom(f.name, f.dataType)),
        if (sometimes(25)) null else java.lang.Long.valueOf(rnd.nextInt(10).toLong))
    }
  }

  test("the driver path and the Spark path admit the same files (seeded)") {
    val conf = spark.sessionState.newHadoopConf()
    val hitsBefore = ManifestIO.localReadHits.get
    var rulesRun = 0
    var pruning = 0
    (0 until 3).foreach { i =>
      val seed = Seed(9300L + i)
      val files = caseGen.pureApply(Gen.Parameters.default, seed)
      // a written table's manifests, with and without blooms, and a
      // random manifest
      val tables = Seq(false, true).map { blooms =>
        val t = GraftTable.create(spark, tmpDir(s"fspaths$i") + "/t", schema)
        if (blooms)
          t.setProperties(Map("write.bloom-filter.columns" -> "l,d,s,dt,ts"))
        files.foreach(rows => t.append(
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1)))
        s"blooms=$blooms" -> t.currentSnapshot.get.manifests
      }
      val dir = new org.apache.hadoop.fs.Path(tmpDir(s"fspathsm$i"), "manifest")
      ManifestIO.writeLocal(dir.getFileSystem(conf), ManifestIO.writeConf(conf), dir,
        randomManifest(seed))
      (tables :+ ("random" -> Seq(dir.toString))).foreach { case (what, manifests) =>
        val all = ManifestIO.survivingFiles(spark, conf, manifests, FileSkipping.KeepAll)
        val older = ("added before 5", col("added_snapshot_id").isNull ||
          col("added_snapshot_id") < 5)
        val keeps = older +: schema.fields.toSeq.zipWithIndex.flatMap { case (f, j) =>
          val p = probeGen(f.name).pureApply(Gen.Parameters.default, seed.reseed(j))
          rules(f.name, f.dataType, p).map { case (name, keep, _) =>
            (s"$name(${f.name}) $p", keep)
          }
        }
        keeps.foreach { case (label, keep) =>
          // the Spark path lists files in its scan's order
          val driver = ManifestIO.survivingFiles(spark, conf, manifests, keep).sortBy(_.path)
          val distributed = ManifestIO.distributedFiles(spark, manifests, keep).sortBy(_.path)
          assert(driver == distributed,
            s"seed ${9300 + i} $what $label: the driver path kept " +
              s"${driver.map(_.path)}, the Spark path ${distributed.map(_.path)}")
          rulesRun += 1
          if (driver.size < all.size) pruning += 1
        }
      }
    }
    // non-vacuous: the driver path served every listing, and most rules
    // pruned a file somewhere
    assert(ManifestIO.localReadHits.get - hitsBefore >= rulesRun)
    assert(pruning > rulesRun / 2, s"only $pruning of $rulesRun listings pruned a file")
  }

  test("pushdown through the per-generation alignment keeps every match (seeded)") {
    // generation 1 writes l as INT and s under its old name s0; then l
    // widens to BIGINT, s0 is renamed to s and ts is added
    val v1 = StructType(Seq(StructField("l", IntegerType), StructField("d", DoubleType),
      StructField("s0", StringType), StructField("dt", DateType)))
    def gen(fileSchema: StructType, seed: Seed): Seq[Seq[Row]] =
      caseGen.pureApply(Gen.Parameters.default, seed).map(_.map { r =>
        val byName = schema.fieldNames.zip(r.toSeq).toMap
        Row.fromSeq(fileSchema.fieldNames.toSeq.map {
          case "l" if fileSchema("l").dataType == IntegerType =>
            Option(byName("l")).map(_.asInstanceOf[Long].toInt).orNull
          case "s0" => byName("s")
          case c => byName(c)
        })
      })
    def frame(rows: Seq[Row], fileSchema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), fileSchema).coalesce(1)
    var pruned = 0L
    (0 until 3).foreach { i =>
      val seed = Seed(9200L + i)
      val t = GraftTable.create(spark, tmpDir(s"fsevo$i") + "/t", v1)
      val old = gen(v1, seed)
      old.foreach(rows => t.append(frame(rows, v1)))
      t.updateColumnType("l", LongType)
      t.renameColumn("s0", "s")
      t.addColumn("ts", TimestampType)
      val cur = t.schema
      val fresh = gen(cur, seed.reseed(99))
      fresh.foreach(rows => t.append(frame(rows, cur)))
      // the plain-parquet reference: every file read with the schema it
      // was written under, aligned by hand
      val s1 = t.snapshots.map(_.snapshotId).sorted.apply(old.size - 1)
      val files = t.files.select("path", "added_snapshot_id").collect()
      def written(pick: Long => Boolean) = files.filter(r => pick(r.getLong(1)))
        .map(_.getString(0)).toSeq
      val reference = spark.read.schema(v1).parquet(written(_ <= s1): _*)
        .select(col("l").cast(LongType).as("l"), col("d"), col("s0").as("s"),
          col("dt"), lit(null).cast(TimestampType).as("ts"))
        .unionByName(spark.read.schema(cur).parquet(written(_ > s1): _*)
          .select(cur.fieldNames.toSeq.map(col): _*))
      val preds = cur.fields.toSeq.zipWithIndex.flatMap { case (f, j) =>
        val p = probeGen(f.name).pureApply(Gen.Parameters.default, seed.reseed(j))
        rules(f.name, f.dataType, p).map { case (name, _, pred) => (s"$name(${f.name}) $p", pred) }
      }
      def key(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
      new scala.util.Random(9200L + i).shuffle(preds).take(20).foreach {
        case (label, pred) =>
          // the reference filters too, so both sides get Spark's parquet
          // row-group pushdown (which drops 0.0 rows for `IN (-0.0, ..)`)
          val expected = reference.filter(pred).collect().map(key).sorted.toSeq
          val df = t.read.filter(pred)
          val got = df.collect().map(key).sorted.toSeq
          assert(got == expected, s"seed ${9200 + i} $label: read through " +
            "the aligned generations differs from the plain parquet read")
          // a filter over both generations (no exchange, so no adaptive
          // wrapper) lists each generation's files through its own index
          val scans = df.queryExecution.executedPlan.collect {
            case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
          }
          if (scans.size == 2)
            pruned += files.length - scans.map(_.metrics("numFiles").value).sum
      }
    }
    // non-vacuous: pushed predicates pruned files below the alignment
    assert(pruned > 0, "no predicate pruned a file through the alignment")
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
