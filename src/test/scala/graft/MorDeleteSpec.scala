package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.meta.GraftTable

/** Merge-on-read position deletes (Iceberg v2 shape): deleteWhereMOR
  * writes (file_path, pos) delete files instead of rewriting data;
  * reads apply them; optimize and the CoW row-level ops
  * materialize them; expiry/orphan reconciliation treats delete files
  * as referenced storage. */
class MorDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", StringType, nullable = true),
    StructField("v", DoubleType, nullable = true)))

  private def seed(n: Int) =
    spark.range(n).select(col("id"),
      concat(lit("g"), (col("id") % 5).cast("string")).as("grp"),
      (col("id") * 1.5).as("v"))

  test("MOR delete removes rows without touching data files") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor1") + "/t", schema)
    t.append(seed(100).repartition(3), clock)
    val filesBefore = t.files.select("path").as[String].collect().toSet

    val deleted = t.deleteWhereMOR(col("id") % 10 === 0, clock)
    assert(deleted === 10)
    assert(t.rowCount === 90)
    assert(t.read.count() === 90)
    assert(t.read.filter(col("id") % 10 === 0).count() === 0)
    // data files are untouched — only a delete file was added
    assert(t.files.select("path").as[String].collect().toSet === filesBefore)
    assert(t.deleteFiles.count() >= 1)
    // the delete file inventories exactly the deleted positions
    val delRows = t.deleteFiles.agg(sum("record_count")).as[Long].head()
    assert(delRows === 10)
  }

  test("MOR deletes compose; NULL-evaluating predicates never match") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor2") + "/t", schema)
    t.append(seed(60).withColumn("v",
      when(col("id") < 10, lit(null)).otherwise(col("v"))), clock)

    // v < 30 matches ids 10..19 (v = id*1.5); NULL for ids 0..9 -> survive
    assert(t.deleteWhereMOR(col("v") < 30.0, clock) === 10)
    val afterFirst = t.rowCount
    assert(afterFirst === 50)
    assert(t.read.filter(col("id") < 10).count() === 10)

    // second delete only sees live rows — overlapping predicate is a no-op
    assert(t.deleteWhereMOR(col("v") < 30.0, clock) === 0)
    assert(t.rowCount === afterFirst)

    // grp g1 <=> id % 5 == 1; ids 10..19 already gone
    assert(t.deleteWhereMOR(col("grp") === "g1", clock) ===
      (0 until 60).count(i => i % 5 == 1 && !(i >= 10 && i < 20)))
  }

  test("time travel sees pre-delete state; incremental read refuses delete ops") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor3") + "/t", schema)
    t.append(seed(50), clock) // snapshot 1
    t.deleteWhereMOR(col("id") >= 40, clock) // snapshot 2
    t.append(seed(10).withColumn("id", col("id") + 1000), clock) // snapshot 3

    assert(t.readAsOf(1L).count() === 50)
    assert(t.readAsOf(2L).count() === 40)
    assert(t.read.count() === 50) // 40 survivors + 10 appended
    val e = intercept[IllegalArgumentException](t.readIncremental(1L, 3L))
    assert(e.getMessage.contains("append-only"))
  }

  test("rewriteDeleteFiles compacts delete files without touching data") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("morrw") + "/t", schema)
    t.append(seed(100).repartition(2), clock)          // s1
    t.deleteWhereMOR(col("id") < 10, clock)            // s2
    t.deleteWhereMOR(col("id") >= 90, clock)           // s3
    t.append(seed(10).withColumn("id", col("id") + 500), clock) // s4
    t.deleteWhereMOR(col("id") === 50, clock)          // s5
    val dataFiles = t.files.select("path").as[String].collect().toSet
    assert(t.deleteFiles.count() >= 3)

    val merged = t.rewriteDeleteFiles(clock)           // s6
    assert(merged >= 3)
    assert(t.deleteFiles.count() === 1)
    assert(t.currentSnapshot.get.deleteManifests.size === 1)
    // data untouched, logical content identical
    assert(t.files.select("path").as[String].collect().toSet === dataFiles)
    assert(t.rowCount === 89)
    assert(t.read.count() === 89)
    assert(t.read.filter(col("id") < 10 || (col("id") >= 90 && col("id") < 500)
      || col("id") === 50).count() === 0)
    // idempotent: one file left -> nothing to merge
    assert(t.rewriteDeleteFiles(clock) === 0)

    // row-neutral: incremental and changelog consumers read through it
    assert(t.readIncremental(5L, 6L).count() === 0)
    assert(t.readChanges(5L, 6L).count() === 0)
    t.append(seed(5).withColumn("id", col("id") + 900), clock) // s7
    assert(t.readIncremental(5L, 7L).count() === 5)
    assert(t.readChanges(4L, 7L)
      .filter(col("_change_type") === "delete").count() === 1) // only s5's
  }

  test("optimize materializes deletes and drops the delete manifests") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor4") + "/t", schema)
    t.append(seed(100).repartition(4), clock)
    t.deleteWhereMOR(col("id") < 30, clock)
    assert(t.deleteFiles.count() >= 1)

    t.optimize(clock = clock)
    val cur = t.currentSnapshot.get
    assert(cur.deleteManifests.isEmpty)
    assert(t.deleteFiles.count() === 0)
    assert(t.rowCount === 70)
    assert(t.read.count() === 70)
    assert(t.read.filter(col("id") < 30).count() === 0)
    // physical manifest row count now equals the logical count
    assert(t.files.agg(sum("record_count")).as[Long].head() === 70)
  }

  test("CoW delete and merge absorb outstanding MOR deletes") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor5") + "/t", schema)
    t.append(seed(100).repartition(2), clock)
    t.deleteWhereMOR(col("id") < 10, clock)

    // CoW delete on a different predicate: both delete sets must apply
    assert(t.deleteWhere(col("id") >= 90, clock) === 10)
    assert(t.currentSnapshot.get.deleteManifests.isEmpty)
    assert(t.read.count() === 80)
    assert(t.rowCount === 80)
    assert(t.read.filter(col("id") < 10 || col("id") >= 90).count() === 0)

    // merge after a fresh MOR delete: deleted keys stay deleted unless upserted
    t.deleteWhereMOR(col("id") === 50, clock)
    val src = Seq((50L, "gX", -1.0), (51L, "gX", -2.0)).toDF("id", "grp", "v")
    t.merge(src, Seq("id"), clock)
    assert(t.currentSnapshot.get.deleteManifests.isEmpty)
    val out = t.read.filter(col("id").isin(50L, 51L))
      .select("id", "grp").as[(Long, String)].collect().toMap
    assert(out === Map(50L -> "gX", 51L -> "gX"))
    assert(t.read.count() === 80) // 80 - 1 (MOR on 50) + 50 re-inserted; 51 replaced in place
  }

  test("a small MOR delete over many data files writes one delete file") {
    val t = GraftTable.create(spark, tmpDir("morone") + "/t", schema)
    t.append(seed(100).repartition(8))
    assert(t.files.count() === 8)
    assert(t.deleteWhereMOR(col("id") % 2 === 0) === 50)
    val Seq(deleteFile) = t.deleteFiles.select("path").as[String].collect().toSeq
    // every data file holds deleted rows, and all their entries share
    // one file however the random data paths hash
    assert(spark.read.parquet(deleteFile).select("file_path").distinct()
      .count() === 8)
    assert(t.read.count() === 50)
  }

  test("appends carry outstanding deletes; rewriteManifests preserves them") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor6") + "/t", schema)
    t.append(seed(40), clock)
    t.deleteWhereMOR(col("id") < 5, clock)
    t.append(seed(10).withColumn("id", col("id") + 500), clock)
    assert(t.rowCount === 45)
    assert(t.read.count() === 45)
    assert(t.read.filter(col("id") < 5).count() === 0)

    assert(t.rewriteManifests(clock) >= 2)
    assert(t.currentSnapshot.get.deleteManifests.nonEmpty)
    assert(t.rowCount === 45) // logical count survives the metadata rewrite
    assert(t.read.count() === 45)
  }

  test("expiry reclaims delete files once no retained snapshot needs them") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor7") + "/t", schema)
    t.append(seed(50), clock)
    t.deleteWhereMOR(col("id") < 20, clock)
    val delFiles = t.deleteFiles.select("path").as[String].collect()
    assert(delFiles.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(t.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    delFiles.foreach(p =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p))))

    clock.advanceDays(11)
    t.optimize(clock = clock) // materializes; old snapshots still hold them
    delFiles.foreach(p =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p))))

    val reclaimed = t.expireSnapshots(retentionDays = 5, clock = clock)
    assert(reclaimed > 0)
    delFiles.foreach(p =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
        s"delete file $p should be reclaimed"))
    assert(t.read.count() === 30)
  }

  test("orphan removal never deletes live position-delete files") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor8") + "/t", schema)
    t.append(seed(50), clock)
    t.deleteWhereMOR(col("id") < 20, clock)
    val delFiles = t.deleteFiles.select("path").as[String].collect()

    clock.advanceDays(11)
    t.removeOrphanFiles(retentionDays = 5, clock = clock)
    val fs = new org.apache.hadoop.fs.Path(t.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    delFiles.foreach(p =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(p)),
        s"live delete file $p must not be treated as an orphan"))
    assert(t.read.count() === 30)
  }

  test("the graft DataSource refuses tables with outstanding deletes") {
    val clock = new TestClock
    val loc = tmpDir("mor9") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(seed(20), clock)
    assert(spark.read.format("graft").load(loc).count() === 20)
    t.deleteWhereMOR(col("id") === 0, clock)
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft").load(loc).count())
    assert(e.getMessage.contains("merge-on-read"))
    // the delete_files metadata table stays readable
    assert(spark.read.format("graft").option("metadata", "delete_files")
      .load(loc).count() >= 1)
    t.optimize(clock = clock)
    assert(spark.read.format("graft").load(loc).count() === 19)
  }

  test("live SHOW STATS fractions stay physical on delete-laden tables") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("morstats") + "/t", schema)
    // 10 of 40 rows have NULL v
    t.append(seed(40).withColumn("v",
      when(col("id") < 10, lit(null)).otherwise(col("v"))), clock)
    def fraction: Double = t.stats
      .filter(col("column_name") === "v").head().getDouble(3)
    assert(math.abs(fraction - 0.25) < 1e-9)
    // MOR-delete 20 non-null rows: physical nulls/rows unchanged at
    // 10/40 — the fraction must not jump to 10/20 (or past 1.0)
    t.deleteWhereMOR(col("id") >= 20, clock)
    assert(t.rowCount === 20)
    assert(math.abs(fraction - 0.25) < 1e-9)
  }

  test("input_file_name() works on a read over outstanding position deletes") {
    val t = GraftTable.create(spark, tmpDir("morifn") + "/t", schema)
    t.append(seed(10))
    t.append(seed(10).withColumn("id", col("id") + 10))
    assert(t.deleteWhereMOR(col("id") === 7) === 1)
    // the merge-on-read plan joined the entries, and the expression
    // refused a plan with two sources
    val Seq(file) = t.read.filter(col("id") === 5).select(input_file_name())
      .as[String].collect().toSeq
    assert(t.files.select("path").as[String].collect().toSet
      .contains(GraftTable.normalize(file)))
    assert(t.read.filter(col("id") === 7).select(input_file_name()).count() === 0)
  }

  test("MOR delete on an evolved table (renamed column) is id-aligned") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("mor10") + "/t", schema)
    t.append(seed(30), clock)
    t.renameColumn("grp", "bucket")
    t.append(seed(10).withColumn("id", col("id") + 100)
      .withColumnRenamed("grp", "bucket"), clock)
    assert(t.deleteWhereMOR(col("bucket") === "g0", clock) ===
      (0 until 30).count(_ % 5 == 0) + (100 until 110).count(_ % 5 == 0))
    assert(t.read.filter(col("bucket") === "g0").count() === 0)
  }
}
