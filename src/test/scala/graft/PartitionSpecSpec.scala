package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.meta.{GraftTable, PartitionSpec}

/** Iceberg-style partition transforms: appends cluster by transform
  * output, manifests carry transform bounds, and readPrunedPartition
  * skips files on equality predicates — including non-monotonic bucket
  * transforms that raw min/max can never prune. */
class PartitionSpecSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf = {
    val rows = for (d <- 0 until 8; i <- 0 until 50) yield
      (d * 50L + i, Timestamp.valueOf(f"2026-01-${d + 1}%02d 12:00:00"),
        i % 7L, i * 1.5)
    // deliberately unclustered input — the spec must cluster it
    rows.toDF("event_id", "ts", "user_id", "value")
      .repartition(4, $"event_id")
  }

  test("days transform: one-day scan prunes to a file subset, same answer") {
    // an overwrite clusters by the spec exactly like an append
    Seq[(GraftTable, org.apache.spark.sql.DataFrame) => Unit](
      _.append(_), _.overwrite(_)).foreach { write =>
      val t = GraftTable.create(spark, tmpDir("pspec") + "/t", eventsDf.schema,
        partitionBy = Seq(PartitionSpec.days("ts")))
      write(t, eventsDf)
      val day = PartitionSpec.days("ts")
        .expr(lit("2026-01-03 00:00:00").cast("timestamp"))
      val scan = t.readPrunedPartition("days_ts" -> day)
      assert(scan.filesTotal > 1, "the write must produce multiple files")
      assert(scan.filesScanned < scan.filesTotal, "pruning must skip files")
      val got = scan.df.filter(to_date($"ts") === "2026-01-03").count()
      assert(got == 50)
    }
  }

  test("bucket transform prunes equality on the bucketed key") {
    val t = GraftTable.create(spark, tmpDir("pspec") + "/t", eventsDf.schema,
      partitionBy = Seq(PartitionSpec.bucket(4, "user_id")))
    t.append(eventsDf)
    val b = PartitionSpec.bucket(4, "user_id").expr(lit(3L))
    val scan = t.readPrunedPartition("bucket4_user_id" -> b)
    assert(scan.filesScanned < scan.filesTotal,
      s"bucket pruning must skip files (${scan.filesScanned}/${scan.filesTotal})")
    // superset guarantee: residual filter gives the exact answer
    val got = scan.df.filter($"user_id" === 3L).count()
    assert(got == eventsDf.filter($"user_id" === 3L).count())
  }

  test("optimize keeps a partitioned table clustered (pruning survives)") {
    val t = GraftTable.create(spark, tmpDir("pspec") + "/t", eventsDf.schema,
      partitionBy = Seq(PartitionSpec.days("ts")))
    // several small appends, then compact
    (0 until 3).foreach(_ => t.append(eventsDf))
    t.optimize(targetFileBytes = 8 * 1024)
    val day = PartitionSpec.days("ts")
      .expr(lit("2026-01-03 00:00:00").cast("timestamp"))
    val scan = t.readPrunedPartition("days_ts" -> day)
    assert(scan.filesTotal > 1)
    assert(scan.filesScanned < scan.filesTotal,
      s"post-optimize pruning (${scan.filesScanned}/${scan.filesTotal})")
    assert(scan.df.filter(to_date($"ts") === "2026-01-03").count() == 150)
  }

  test("partition-scoped optimize compacts one partition, carries the rest") {
    val t = GraftTable.create(spark, tmpDir("pspec") + "/t", eventsDf.schema,
      partitionBy = Seq(PartitionSpec.days("ts")))
    // three small appends → several files per day partition
    (0 until 3).foreach(i =>
      t.append(eventsDf.filter($"event_id" % 3 === i)))
    val day = PartitionSpec.days("ts")
      .expr(lit("2026-01-02 00:00:00").cast("timestamp"))
    val beforeAll = t.files.select("path").as[String].collect().toSet
    val dayFilesBefore = t.readPrunedPartition("days_ts" -> day).filesScanned
    assert(dayFilesBefore >= 3)

    t.optimizePartitions(Seq("days_ts" -> day))
    val afterAll = t.files.select("path").as[String].collect().toSet
    // the scoped day got compacted; files outside the scope are carried
    val dayFilesAfter = t.readPrunedPartition("days_ts" -> day).filesScanned
    assert(dayFilesAfter < dayFilesBefore)
    assert((beforeAll intersect afterAll).nonEmpty,
      "out-of-scope files must be carried untouched")
    assert(t.read.count() === 400)
    assert(t.rowCount === 400)

    // refused while merge-on-read deletes are outstanding
    t.deleteWhereMOR($"user_id" === 3L)
    val e = intercept[IllegalArgumentException](
      t.optimizePartitions(Seq("days_ts" -> day)))
    assert(e.getMessage.contains("merge-on-read"))
  }

  test("string truncate transform is a prefix; pruning works on it") {
    import org.apache.spark.sql.types.StringType
    val docs = (for (p <- Seq("aa", "bb", "cc", "dd"); i <- 0 until 50)
      yield (s"$p-doc-$i", i.toLong)).toDF("doc_key", "v")
    val t = GraftTable.create(spark, tmpDir("pspec") + "/t", docs.schema,
      partitionBy = Seq(PartitionSpec.truncate(2, "doc_key")))
    t.append(docs.repartition(4, $"v"))
    val pred = PartitionSpec.truncate(2, "doc_key").expr(lit("cc-doc-7"), StringType)
    val scan = t.readPrunedPartition("trunc2_doc_key" -> pred)
    assert(scan.filesScanned < scan.filesTotal,
      s"prefix pruning (${scan.filesScanned}/${scan.filesTotal})")
    assert(scan.df.filter($"doc_key".startsWith("cc")).count() == 50)
  }

  test("the partitions metadata table reports per-partition totals") {
    val loc = tmpDir("pspec") + "/t"
    // 4 days over 4 shuffle partitions → range clustering can give each
    // file a single day (mixed-day files report as partition NULL)
    val df4 = (for (d <- 0 until 4; i <- 0 until 50) yield
      (d * 50L + i, Timestamp.valueOf(f"2026-01-${d + 1}%02d 12:00:00"),
        i % 7L, i * 1.5))
      .toDF("event_id", "ts", "user_id", "value")
      .repartition(4, $"event_id")
    val t = GraftTable.create(spark, loc, df4.schema,
      partitionBy = Seq(PartitionSpec.days("ts")))
    t.append(df4)
    val p = spark.read.format("graft").option("metadata", "partitions")
      .load(loc)
    assert(p.columns.toSeq ==
      Seq("days_ts", "file_count", "record_count", "total_size_bytes"))
    val rows = p.collect()
    assert(rows.map(_.getLong(2)).sum === 200)
    assert(rows.count(!_.isNullAt(0)) >= 2,
      "clustered single-day files must report their partition value")
  }

  test("spec round-trips through the metadata file") {
    val t = GraftTable.create(spark, tmpDir("pspec") + "/t", eventsDf.schema,
      partitionBy = Seq(PartitionSpec.days("ts"), PartitionSpec.bucket(8, "user_id")))
    assert(GraftTable.load(spark, t.location).partitionSpec ==
      Seq(PartitionSpec.days("ts"), PartitionSpec.bucket(8, "user_id")))
  }

  test("partition evolution: metadata-only; optimize migrates old files") {
    val t = GraftTable.create(spark, tmpDir("pspec") + "/t", eventsDf.schema,
      partitionBy = Seq(PartitionSpec.days("ts")))
    t.append(eventsDf) // files clustered + bounded by days_ts only
    val filesBefore = t.files.select("path").collect().map(_.getString(0)).toSet

    // evolve: no data rewritten, old files byte-identical
    t.updatePartitionSpec(Seq(PartitionSpec.bucket(4, "user_id")))
    assert(t.partitionSpec == Seq(PartitionSpec.bucket(4, "user_id")))
    assert(t.files.select("path").collect().map(_.getString(0)).toSet
      == filesBefore, "evolution must not touch data files")
    intercept[IllegalArgumentException](
      t.updatePartitionSpec(Seq(PartitionSpec.identity("nope"))))

    t.append(eventsDf) // new files clustered + bounded by the NEW spec
    val b = PartitionSpec.bucket(4, "user_id").expr(lit(3L))
    val scan = t.readPrunedPartition("bucket4_user_id" -> b)
    // old-spec files have no bucket bounds -> conservatively kept;
    // new-spec files prune, so the scan is a strict subset already
    assert(scan.filesScanned < scan.filesTotal,
      s"new-spec files must prune (${scan.filesScanned}/${scan.filesTotal})")
    assert(scan.df.filter($"user_id" === 3L).count() ==
      2 * eventsDf.filter($"user_id" === 3L).count())

    // binpack rewrite re-clusters by the CURRENT spec -> the migrated
    // files now carry bucket bounds and pruning tightens
    t.optimize(targetFileBytes = 8 * 1024)
    val scan2 = t.readPrunedPartition("bucket4_user_id" -> b)
    assert(scan2.filesScanned.toDouble / scan2.filesTotal <
      scan.filesScanned.toDouble / scan.filesTotal,
      s"optimize must migrate old files to the new layout " +
        s"(${scan2.filesScanned}/${scan2.filesTotal} vs " +
        s"${scan.filesScanned}/${scan.filesTotal})")
    assert(scan2.df.filter($"user_id" === 3L).count() ==
      2 * eventsDf.filter($"user_id" === 3L).count())
  }
}
