package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.meta.GraftTable

/** Property-based invariants for copy-on-write row-level operations:
  * for random tables, thresholds, and upsert sources —
  *   - deleteWhere(cond) leaves exactly the rows where cond is not TRUE
  *     (NULL predicate rows survive, SQL DELETE semantics);
  *   - merge(source, keys) produces exactly
  *     source ∪ (table ∖ keys(source)), with every key unique;
  *   - neither operation disturbs rows in untouched files;
  *   - with NULL and two-column keys, merge matches under `=` (a NULL
  *     key component matches nothing) and upsert under `<=>`;
  *   - with DOUBLE keys both match -0.0 with 0.0, as SQL equality does;
  *   - an upsert of a non-deterministic source deletes exactly the keys
  *     it wrote, and its row count stays exact.
  *
  * Fixed-seed ScalaCheck generators, small case counts (each case runs
  * several Spark jobs).
  */
class RowLevelPropertySpec extends SparkSpec {
  import spark.implicits._
  import RowLevelPropertySpec.{Draws, KeyedRow, ZeroRow}

  // (id, v) with nullable v so delete predicates hit the NULL path
  private val rowsGen: Gen[List[(Long, Option[Long])]] =
    Gen.choose(20, 60).flatMap(n => Gen.listOfN(n, for {
      id <- Gen.choose(0L, 500L)
      v <- Gen.option(Gen.choose(0L, 100L))
    } yield (id, v))).map(_.distinctBy(_._1))

  private def cases[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(7L + i)))

  test("deleteWhere complement property (incl. NULL predicates)") {
    cases(rowsGen, 4).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("id", "v")
      val t = GraftTable.create(spark, tmpDir("rlprop") + "/t", df.schema)
      t.append(df.repartitionByRange(4, $"id"))
      val threshold = 20L + i * 15L
      val deleted = t.deleteWhere($"v" < threshold)
      val expectSurvivors = rows.filterNot(_._2.exists(_ < threshold))
      assert(deleted == rows.size - expectSurvivors.size)
      assert(t.read.collect().map(r =>
          (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet == expectSurvivors.toSet)
      assert(t.rowCount == expectSurvivors.size)
    }
  }

  test("MOR delete complement property: matches CoW semantics exactly") {
    cases(rowsGen, 4).zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("id", "v")
      val t = GraftTable.create(spark, tmpDir("morprop") + "/t", df.schema)
      t.append(df.repartitionByRange(4, $"id"))
      val threshold = 20L + i * 15L
      val deleted = t.deleteWhereMOR($"v" < threshold)
      val expectSurvivors = rows.filterNot(_._2.exists(_ < threshold))
      assert(deleted == rows.size - expectSurvivors.size)
      assert(t.read.collect().map(r =>
          (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet == expectSurvivors.toSet)
      assert(t.rowCount == expectSurvivors.size)
      // materialization preserves the survivors bit-for-bit
      t.optimize()
      assert(t.read.collect().map(r =>
          (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet == expectSurvivors.toSet)
      assert(t.rowCount == expectSurvivors.size)
    }
  }

  test("eq-upsert property: result == source ∪ (table ∖ source keys)") {
    val srcGen = Gen.choose(3, 15).flatMap(n => Gen.listOfN(n, for {
      id <- Gen.choose(0L, 500L)
      v <- Gen.option(Gen.choose(500L, 600L))
    } yield (id, v))).map(_.distinctBy(_._1))
    cases(Gen.zip(rowsGen, srcGen), 4).foreach { case (rows, src) =>
      val t = GraftTable.create(spark, tmpDir("equprop") + "/t",
        rows.toDF("id", "v").schema)
      t.append(rows.toDF("id", "v").repartitionByRange(4, $"id"))
      t.upsert(src.toDF("id", "v"), Seq("id"))
      val expect = (src ++ rows.filterNot(r => src.exists(_._1 == r._1))).toSet
      assert(t.read.collect().map(r =>
          (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet == expect)
      assert(t.rowCount == expect.size)
      assert(t.read.groupBy("id").count().filter($"count" > 1).count() == 0)
    }
  }

  test("merge upsert property: result == source ∪ (table ∖ source keys)") {
    val srcGen = Gen.choose(3, 15).flatMap(n => Gen.listOfN(n, for {
      id <- Gen.choose(0L, 700L) // overlaps table ids AND new ids
      v <- Gen.choose(1000L, 2000L)
    } yield (id, Some(v): Option[Long])).map(_.distinctBy(_._1)))
    cases(Gen.zip(rowsGen, srcGen), 4).foreach { case (rows, src) =>
      val df = rows.toDF("id", "v")
      val t = GraftTable.create(spark, tmpDir("rlprop") + "/t", df.schema)
      t.append(df.repartitionByRange(4, $"id"))
      t.merge(src.toDF("id", "v"), Seq("id"))
      val srcKeys = src.map(_._1).toSet
      val expect = (src ++ rows.filterNot(r => srcKeys(r._1))).toSet
      val got = t.read.collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got == expect)
      assert(t.read.groupBy("id").count().filter($"count" > 1).count() == 0,
        "merge must keep keys unique")
    }
  }

  // (a, b, v): nullable keys over small domains, so key collisions,
  // NULL components and duplicate NULL keys all occur; v is unique
  private def keyedGen(n: Gen[Int], vBase: Long): Gen[List[KeyedRow]] =
    n.flatMap(Gen.listOfN(_, for {
      a <- Gen.option(Gen.choose(0L, 12L))
      b <- Gen.option(Gen.choose(0L, 2L))
    } yield (a, b))).map(_.zipWithIndex.map { case ((a, b), i) =>
      KeyedRow(a, b, vBase + i) })

  /** One case per key shape, ("a") and ("a", "b"): the table after
    * `op`, next to `model` — source ∪ (table ∖ the rows that `same`
    * pairs with a source key) — and the table's metadata row count. */
  private def keyedProperty(op: (GraftTable, org.apache.spark.sql.DataFrame,
                                 Seq[String]) => Unit,
                            same: (Option[Long], Option[Long]) => Boolean): Unit = {
    val gen = Gen.zip(keyedGen(Gen.choose(20, 50), 0L), keyedGen(Gen.choose(3, 12), 1000L))
    cases(gen, 3).zipWithIndex.foreach { case ((rows, src), i) =>
      Seq(Seq("a"), Seq("a", "b")).foreach { keys =>
        val t = GraftTable.create(spark, tmpDir("keyedprop") + "/t", rows.toDF().schema)
        t.append(rows.toDF().repartitionByRange(4, $"a"))
        op(t, src.toDF(), keys)
        def key(r: KeyedRow) = if (keys.size == 1) Seq(r.a) else Seq(r.a, r.b)
        def hit(r: KeyedRow) = src.exists(s =>
          key(s).zip(key(r)).forall { case (x, y) => same(x, y) })
        val expect = (src ++ rows.filterNot(hit)).sortBy(_.v)
        val got = t.read.as[KeyedRow].collect().toSeq.sortBy(_.v)
        assert(got == expect, s"case $i keys $keys")
        assert(t.rowCount == expect.size, s"case $i keys $keys: row count")
      }
    }
  }

  test("merge property with NULL and two-column keys: `=` never matches NULL") {
    keyedProperty((t, src, keys) => t.merge(src, keys),
      (x, y) => x.isDefined && x == y)
  }

  test("eq-upsert property with NULL and two-column keys: `<=>` matches NULL") {
    keyedProperty((t, src, keys) => t.upsert(src, keys), _ == _)
  }

  test("merge and eq-upsert properties with DOUBLE keys: -0.0 matches 0.0") {
    // both zeros in table and source, spread over four files, so a
    // -0.0 key meets a file holding only 0.0 and the reverse
    def zeroGen(n: Gen[Int], vBase: Long): Gen[List[ZeroRow]] =
      n.flatMap(Gen.listOfN(_, Gen.option(Gen.oneOf(-0.0, 0.0, 0.5, 1.5))))
        .map(_.zipWithIndex.map { case (d, i) => ZeroRow(d, vBase + i) })
    val gen = Gen.zip(zeroGen(Gen.choose(20, 40), 0L), zeroGen(Gen.choose(2, 6), 1000L))
    cases(gen, 3).zipWithIndex.foreach { case ((rows, src), i) =>
      Seq[(String, (GraftTable, org.apache.spark.sql.DataFrame) => Unit, Boolean)](
        ("merge", (t, s) => t.merge(s, Seq("d")), false),
        ("upsert", (t, s) => t.upsert(s, Seq("d")), true)).foreach {
        case (name, op, nullSafe) =>
          val t = GraftTable.create(spark, tmpDir("zeroprop") + "/t", rows.toDF().schema)
          t.append(rows.toDF().repartition(4, $"v"))
          op(t, src.toDF())
          // SQL equality on doubles: -0.0 == 0.0
          def hit(r: ZeroRow) = src.exists(s => (s.d, r.d) match {
            case (Some(x), Some(y)) => x == y
            case (None, None) => nullSafe
            case _ => false
          })
          val expect = (src ++ rows.filterNot(hit)).map(_.v).sorted
          assert(t.read.as[ZeroRow].collect().map(_.v).toSeq.sorted == expect,
            s"case $i $name")
          assert(t.rowCount == expect.size, s"case $i $name: row count")
      }
    }
  }

  test("upsert of a non-deterministic source: rows written, eq file and totalRows agree") {
    val t = GraftTable.create(spark, tmpDir("nondet") + "/t",
      spark.range(1).select($"id", lit(0L).as("v")).schema)
    t.append(spark.range(0, 300).select($"id", lit(0L).as("v"))
      .repartitionByRange(4, $"id"))
    // every evaluation draws different keys: old and new ones alike
    val draw = udf((_: Long) => Draws.next.getAndIncrement() * 7 % 400)
      .asNondeterministic()
    t.upsert(spark.range(0, 40).select(draw($"id").as("id"), lit(1L).as("v")),
      Seq("id"))
    val head = t.currentSnapshot.get.snapshotId
    def ids(paths: Seq[String]) =
      spark.read.parquet(paths: _*).select("id").as[Long].collect().toSet
    val written = ids(t.files.filter($"added_snapshot_id" === head)
      .select("path").as[String].collect().toSeq)
    val eqKeys = ids(t.eqDeleteFiles.select("path").as[String].collect().toSeq)
    assert(written.size == 40)
    assert(eqKeys == written, "the eq file must hold the keys the upsert wrote")
    assert(t.read.filter($"v" === 0L && $"id".isin(written.toSeq: _*)).count() == 0,
      "an old row survived under a written key")
    assert(t.rowCount == t.read.count())
    assert(t.rowCount == 300 + written.count(_ >= 300))
  }
}

object RowLevelPropertySpec {
  final case class KeyedRow(a: Option[Long], b: Option[Long], v: Long)
  final case class ZeroRow(d: Option[Double], v: Long)

  /** The non-deterministic source's draw counter (one per JVM: tasks
    * run in the driver's under `local[...]`). */
  object Draws { val next = new java.util.concurrent.atomic.AtomicLong }
}
