package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.GraftTable

/** The per-file position-delete index ([[graft.meta.PositionDeletes]], below its
  * gate) and the distributed join (above it) delete the same rows. For
  * seeded random tables, every other one evolved (a renamed and widened
  * column, an added one), the same table is read through a default
  * handle and through one whose gate is negative, so every application
  * joins. Outstanding deletes come from several delete files: a
  * `deleteWhereMOR`, then commits of hand-made entries with duplicates
  * (within a file and across files), positions past a file's end and
  * entries for files a copy-on-write delete already replaced.
  *
  * `read`, `readAsOf`, `readChanges` and `deleteTargets` must agree, and
  * so must the table after a CoW update or an `optimize` run through
  * each handle in turn (rolled back in between).
  */
class PositionDeletesPropertySpec extends SparkSpec {
  import spark.implicits._

  /** A frame of ids `[from, from + n)` in `files` files, every column of
    * the table's current schema derived from the id. */
  private def rowsFor(t: GraftTable, from: Long, n: Long, files: Int): DataFrame =
    spark.range(from, from + n).select(t.schema.fields.toSeq.map { f =>
      (f.dataType match {
        case StringType => concat(lit("s"), col("id"))
        case dt if f.name == "id" => col("id").cast(dt)
        case dt => (col("id") % 7).cast(dt)
      }).as(f.name)
    }: _*).repartitionByRange(files, col("id"))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** The two paths' rows, equal as multisets; a failure names the rows
    * only one of them returned. */
  private def agree(clue: String)(index: DataFrame, join: DataFrame): Unit = {
    val (a, b) = (sorted(index), sorted(join))
    assert(a == b, s"$clue: index path only ${a.diff(b).take(10)}, " +
      s"join path only ${b.diff(a).take(10)}")
  }

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  test("the index path and the join path delete the same rows (seeded)") {
    (0 until 6).foreach { i =>
      val seed = 9300L + i
      val rnd = new scala.util.Random(seed)
      val evolved = i % 2 == 1
      val loc = tmpDir(s"posprop$i") + "/t"
      val ix = GraftTable.create(spark, loc, StructType(Seq(
        StructField("id", LongType), StructField("v", IntegerType))))
      val jn = new GraftTable(spark, loc, -1L)
      val clue = s"seed $seed evolved=$evolved"

      var next = 0L
      def append(): Unit = {
        val n = 20L + rnd.nextInt(60)
        ix.append(rowsFor(ix, next, n, 1 + rnd.nextInt(3)))
        next += n
      }
      append(); append()
      if (evolved) {
        ix.renameColumn("v", "w")
        ix.updateColumnType("w", LongType)
        ix.addColumn("s", StringType)
      }
      append()
      val value = ix.schema.fieldNames(1)
      // replace the files holding the lowest ids: their paths stay named
      // by hand-made entries below
      val before = ix.files.select("path").as[String].collect().toSet
      ix.deleteWhere(col("id") < 5 + rnd.nextInt(10))
      val gone = (before -- ix.files.select("path").as[String].collect()).toSeq.sorted
      assert(gone.nonEmpty, clue)
      val (k, r) = (2 + rnd.nextInt(5), rnd.nextInt(2))
      assert(ix.deleteWhereMOR(col("id") % k === r) > 0, clue)
      val mid = ix.currentSnapshot.get.snapshotId
      append()

      // hand-made delete files: live files' positions with repeats and
      // past the end, stale files' positions
      val live = ix.files.select("path", "record_count").as[(String, Long)]
        .collect().toSeq.sortBy(_._1)
      var made = Seq.empty[(String, Long)]
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val fresh = live.filter(_ => rnd.nextBoolean()).flatMap { case (p, n) =>
          Seq.fill(1 + rnd.nextInt(6))((p, rnd.nextInt(n.toInt + 3).toLong))
        } ++ gone.map(p => (p, rnd.nextInt(5).toLong))
        val repeated = rnd.shuffle(fresh ++ made).take(3)
        val entries = fresh ++ repeated
        ix.writeOp(ix.writePositionDeletes(ix.currentSnapshot.get,
          entries.toDF("file_path", "pos"), java.time.Clock.systemUTC()))
        made ++= entries
      }
      assert(ix.currentSnapshot.get.deleteManifests.size >= 2, clue)

      val physical = live.map(_._2).sum
      assert(ix.read.collect().length < physical, s"$clue: no row deleted")
      assert(joins(ix.read) == 0 && joins(jn.read) > 0, clue)
      agree(s"$clue: read")(ix.read, jn.read)
      agree(s"$clue: readAsOf")(ix.readAsOf(mid), jn.readAsOf(mid))
      val head = ix.currentSnapshot.get.snapshotId
      assert(sorted(ix.readChanges(0L, head)).exists(_.contains("delete")), clue)
      agree(s"$clue: readChanges")(ix.readChanges(0L, head), jn.readChanges(0L, head))
      val targets = ix.deleteTargets()
      assert(gone.toSet.subsetOf(targets), clue)
      assert(targets == jn.deleteTargets(), s"$clue: deleteTargets")

      // each replacement commit through one handle, then the other
      def same(label: String)(op: GraftTable => Any): Unit = {
        val after = Seq(ix, jn).map { t =>
          val result = op(t)
          val rows = sorted(t.read)
          ix.rollback(head)
          (result, rows)
        }
        assert(after(0) == after(1), s"$clue: $label")
      }
      same("update")(_.updateWhere(col("id") % 3 === 1,
        Map(value -> (col(value) + 100).cast(ix.schema(value).dataType))))
      same("optimize") { t =>
        t.optimize()
        t.currentSnapshot.get.deleteManifests
      }
    }
  }
}
