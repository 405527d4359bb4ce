package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.meta.GraftTable
import graft.sched.{ConfigStore, MaintenanceConfig}
import graft.sql.GraftSql

/** Replacement commits (CoW UPDATE / DELETE / MERGE, binpack optimize)
  * build their manifest on the driver: no Spark job runs at commit, and
  * the rows written equal the distributed anti-join path's rows — the
  * untouched files' rows byte-equal with their lineage, the rewritten
  * files' inventory stamped with the new snapshot id. */
class ReplacementCommitSpec extends SparkSpec {
  import spark.implicits._

  /** Four range-clustered files (ids 0-999), then merge-on-read deletes
    * outstanding: a position delete and an upsert's equality delete. */
  private def tableWithDeletes(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("replace") + "/t",
      spark.range(1).select(col("id"), lit("x").as("tag")).schema)
    t.append(spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("tag"))
      .repartitionByRange(4, col("id")))
    t.deleteWhereMOR(col("id").between(600, 610))
    t.upsert(Seq((300L, "up")).toDF("id", "tag"), Seq("id"))
    assert(t.currentSnapshot.get.deleteManifests.nonEmpty &&
      t.currentSnapshot.get.eqDeleteManifests.nonEmpty)
    t
  }

  private def manifestRows(t: GraftTable): Set[Row] =
    t.files.collect().toSet

  /** Runs `op` and checks the committed manifest against the distributed
    * path over the same basis, removed set and commit dir. */
  private def checkReplacement(name: String)(op: GraftTable => Unit): Unit = {
    val t = tableWithDeletes()
    val basis = t.currentSnapshot.get
    val before = manifestRows(t)
    val (_, sites) = JobLog.during(spark)(op(t))
    assert(JobLog.atCommit(sites).isEmpty,
      s"$name ran a job at commit:\n${JobLog.atCommit(sites).mkString("\n---\n")}")

    val head = t.currentSnapshot.get
    assert(head.snapshotId > basis.snapshotId && head.deleteManifests.isEmpty &&
      head.eqDeleteManifests.isEmpty, s"$name must replace the deletes")
    val after = manifestRows(t)
    val fresh = after.filter(_.getAs[Long]("added_snapshot_id") == head.snapshotId)
    val Seq(commitDir) = fresh.toSeq
      .map(r => new Path(r.getString(0)).getParent.toString).distinct
    val removed = before.map(_.getString(0)) -- after.map(_.getString(0))
    assert(removed.nonEmpty && fresh.nonEmpty)
    val scan = t.replacementManifestScan(Some(basis), removed,
        t.inventory(new Path(commitDir)))
      .withColumn("added_snapshot_id",
        coalesce(col("added_snapshot_id"), lit(head.snapshotId)))
      .collect().toSet
    assert(after == scan, s"$name: driver-built manifest differs from the " +
      s"distributed path:\n${(after -- scan).mkString("\n")}\nvs\n" +
      (scan -- after).mkString("\n"))
    // untouched files keep their rows, lineage included
    assert((after -- fresh).subsetOf(before))
  }

  test("driver-built replacement manifests equal the distributed path's rows") {
    checkReplacement("update")(t =>
      assert(t.updateWhere(col("id") < 50, Map("tag" -> lit("U"))) == 50))
    checkReplacement("merge")(t =>
      t.merge(Seq((10L, "A"), (2000L, "B")).toDF("id", "tag"), Seq("id")))
    checkReplacement("cow delete")(t =>
      assert(t.deleteWhere(col("id") < 50) == 50))
    checkReplacement("optimize") { t =>
      // the seed files sit inside the binpack size window, so only the
      // delete-targeted files and the upsert's small file are rewritten
      val seed = t.files.select("size_bytes").as[Long].collect().max
      t.optimize(targetFileBytes = seed)
      assert(t.read.count() == 989)
    }
  }

  test("a config-table stamp through GraftSql runs no job at commit") {
    val clock = new TestClock
    val store = new ConfigStore(spark, tmpDir("stamp") + "/cfg")
      .createIfNotExists()
    store.insert(Seq("a", "b").map(n => MaintenanceConfig(n, Some(1), None,
      Some(1), Some(Seq("x", "y")), Some(1), None, Some(1), None, None, None,
      None)): _*)
    val (_, sites) = JobLog.during(spark)(GraftSql.exec(spark,
      s"""UPDATE "${store.tableName}"
         |SET last_optimized_on = current_timestamp(6)
         |WHERE table_name = 'a'""".stripMargin,
      _ => store.table, clock))
    assert(JobLog.atCommit(sites).isEmpty,
      s"stamp ran a job at commit:\n${JobLog.atCommit(sites).mkString("\n---\n")}")
    val stamped = store.load().map(c => c.table_name -> c.last_optimized_on).toMap
    assert(stamped("a").isDefined && stamped("b").isEmpty)
  }

  test("a binpack optimize runs no job at commit") {
    val t = GraftTable.create(spark, tmpDir("binpack") + "/t",
      spark.range(1).toDF("id").schema)
    t.append(spark.range(0, 5000).toDF("id").coalesce(1))
    val Seq(big) = t.files.select("path", "size_bytes").collect().toSeq
    (0 until 3).foreach(i => t.append(
      spark.range(10000 + i * 10, 10010 + i * 10).toDF("id").coalesce(1)))
    // the big file is compact at this target, so it is carried as-is
    val (_, sites) = JobLog.during(spark)(t.optimize(big.getLong(1)))
    assert(JobLog.atCommit(sites).isEmpty,
      s"optimize ran a job at commit:\n${JobLog.atCommit(sites).mkString("\n---\n")}")
    val paths = t.files.select("path").as[String].collect().toSet
    assert(paths.size == 2 && paths(big.getString(0)))
    assert(t.read.count() == 5030)
  }
}
