package graft

import org.apache.spark.sql.functions._

import graft.meta.GraftTable

/** Snapshot-summary delete-file counts (Iceberg's `total-delete-files`
  * / `total-equality-deletes` analogue): every commit path maintains
  * the counts incrementally, so monitoring a table's outstanding
  * merge-on-read debt is metadata-only — no manifest scan. Logs written
  * before the fields existed read back as unknown (null), never as a
  * wrong zero. */
class SummaryCountsSpec extends SparkSpec {

  private def counts(t: GraftTable): (Option[Long], Option[Long]) = {
    val s = t.currentSnapshot.get
    (s.deleteFileCount, s.eqDeleteFileCount)
  }

  test("counts track the full MOR lifecycle without scanning manifests") {
    import spark.implicits._
    val df = (0 until 400).map(i => (i.toLong, s"g${i % 4}", i * 1.5))
      .toDF("id", "grp", "v")
    val t = GraftTable.create(spark, tmpDir("sumcnt") + "/t", df.schema)
    t.append(df.repartition(2))
    assert(counts(t) == (Some(0L), Some(0L)))

    // two MOR position deletes: each writes at least one delete file
    t.deleteWhereMOR($"id" % 7 === 0)
    val afterFirst = counts(t)._1.get
    assert(afterFirst >= 1L)
    t.deleteWhereMOR($"id" % 11 === 1)
    val afterSecond = counts(t)._1.get
    assert(afterSecond > afterFirst)
    // the count IS the $delete_files row count — pinned against the scan
    assert(afterSecond == t.deleteFiles.count())

    // upserts add one eq-delete file each
    t.upsert(df.filter($"id" % 9 === 0)
      .withColumn("v", $"v" + 1000.0), Seq("id"))
    assert(counts(t)._2.contains(1L))
    t.upsert(df.filter($"id" % 13 === 0)
      .withColumn("v", $"v" + 2000.0), Seq("id"))
    assert(counts(t)._2.contains(2L))
    assert(counts(t)._2.get == t.eqDeleteFiles.count())

    // compactions shrink the counts to the merged file totals
    t.rewriteDeleteFiles()
    assert(counts(t)._1.get == t.deleteFiles.count())
    t.rewriteEqDeleteFiles()
    assert(counts(t)._2.get == t.eqDeleteFiles.count())

    // a metadata-only manifest rewrite carries counts unchanged
    val beforeRm = counts(t)
    t.rewriteManifests()
    assert(counts(t) == beforeRm)

    // optimize materializes all deletes: both counts return to zero
    t.optimize()
    assert(counts(t) == (Some(0L), Some(0L)))
    assert(t.deleteFiles.count() == 0 && t.eqDeleteFiles.count() == 0)
  }

  test("$snapshots exposes the counts; legacy logs read as null, not zero") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "s")
    val loc = tmpDir("sumcnt_meta") + "/t"
    val t = GraftTable.create(spark, loc, df.schema)
    t.append(df)
    t.deleteWhereMOR($"id" === 1L)
    val rows = spark.read.format("graft").option("metadata", "snapshots")
      .load(loc)
      .select("snapshot_id", "delete_file_count", "eq_delete_file_count")
      .orderBy("snapshot_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(1) == 0L && rows(0).getLong(2) == 0L)
    assert(rows(1).getLong(1) == 1L && rows(1).getLong(2) == 0L)

    // legacy log: hand-write a pre-counts format file; parse → unknown
    val legacyLoc = tmpDir("sumcnt_legacy") + "/t"
    val t2 = GraftTable.create(spark, legacyLoc, df.schema)
    val fs = t2.fileSystem
    val logPath = new org.apache.hadoop.fs.Path(legacyLoc,
      f"_graft/log/v${1L}%020d.snapshots.json")
    val legacy =
      """{"refs":{},"tags":{},"snapshots":[
        |{"snapshotId":1,"parentId":-1,"timestampMs":0,"operation":"append","manifests":[],"deleteManifests":[],"eqDeleteManifests":[],"numFiles":0,"totalBytes":0,"totalRows":0}
        |]}""".stripMargin
    val out = fs.create(logPath, true)
    try out.write(legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // that layout kept the schema beside the log
    val schemaOut = fs.create(
      new org.apache.hadoop.fs.Path(legacyLoc, "_graft/schema.json"), true)
    try schemaOut.write(df.schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally schemaOut.close()
    val s = GraftTable.load(spark, legacyLoc).currentSnapshot.get
    assert(s.deleteFileCount.isEmpty && s.eqDeleteFileCount.isEmpty,
      "pre-counts log must read as unknown, not zero")
    // and a commit on top of a legacy parent stays unknown (no false zero)
    val t3 = GraftTable.load(spark, legacyLoc)
    t3.append(df)
    assert(t3.currentSnapshot.get.deleteFileCount.isEmpty)
  }
}
