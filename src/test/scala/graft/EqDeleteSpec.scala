package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.GraftTable
import graft.streaming.GraftSink

/** Equality deletes and one-commit upserts (Iceberg v2's second
  * merge-on-read delete kind): key-based deletes without position
  * scans, the strictly-before sequence rule, atomic upsert commits,
  * materialization by optimize/CoW, and the streaming upsert sink. */
class EqDeleteSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def rows(lo: Long, hi: Long, tag: String) =
    spark.range(lo, hi).select($"id".as("k"),
      concat(lit(tag), $"id").as("v"))

  test("deleteByKeys removes matching rows without touching data files") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq1") + "/t", schema)
    t.append(rows(0, 50, "a").repartition(3), clock)
    val filesBefore = t.files.select("path").as[String].collect().toSet

    val removed = t.deleteByKeys(
      Seq(1L, 5L, 7L, 999L).toDF("k"), clock)
    assert(removed === 3) // 999 matches nothing
    assert(t.rowCount === 47)
    assert(t.read.filter($"k".isin(1L, 5L, 7L)).count() === 0)
    assert(t.files.select("path").as[String].collect().toSet === filesBefore)
    assert(t.eqDeleteFiles.count() >= 1)
  }

  test("empty-source upsert and empty-key delete are no-ops, never poison reads") {
    val t = GraftTable.create(spark, tmpDir("eqempty") + "/t", schema)
    t.append(rows(0, 20, "a"))
    val head = t.currentSnapshot.get.snapshotId

    assert(t.upsert(rows(0, 0, "x"), Seq("k")) == 0L)
    assert(t.deleteByKeys(rows(0, 0, "x").select("k")) == 0L)
    // no commit happened: an empty upsert's zero-row eq file would
    // carry a NULL key-schema record and brick every later read
    assert(t.currentSnapshot.get.snapshotId == head)
    assert(t.currentSnapshot.get.eqDeleteManifests.isEmpty)

    // the table stays fully readable and writable
    assert(t.read.count() == 20)
    assert(t.upsert(rows(5, 10, "b"), Seq("k")) == 5L)
    assert(t.read.count() == 20)
    assert(t.read.filter($"v" === "b7").count() == 1)
  }

  test("strictly-before rule: a re-inserted key survives the old delete") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq2") + "/t", schema)
    t.append(rows(0, 10, "old"), clock)         // s1
    t.deleteByKeys(Seq(3L).toDF("k"), clock)    // s2: kills old k=3
    t.append(rows(3, 4, "new"), clock)          // s3: re-insert k=3
    assert(t.read.filter($"k" === 3).select("v").as[String].collect().toSeq
      === Seq("new3"))
    assert(t.rowCount === 10)
  }

  test("a key column of an outstanding equality-delete file is not renamed or dropped") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eqevolve") + "/t", schema)
    t.append(rows(0, 10, "a"), clock)          // s1
    t.deleteByKeys(Seq(1L).toDF("k"), clock)   // s2: eq file keyed by k
    Seq[GraftTable => Unit](_.renameColumn("k", "k2"), _.dropColumn("k")).foreach { evolve =>
      val e = intercept[IllegalArgumentException](evolve(t))
      assert(e.getMessage.contains("equality-delete"), e.getMessage)
    }
    // nothing committed: reads still resolve the key; other columns evolve
    assert(t.schema.fieldNames.toSeq == Seq("k", "v"))
    t.renameColumn("v", "w")
    assert(t.read.filter($"w" === "a2").count() == 1)
    assert(t.read.count() == 9)
    // optimize materializes the delete, but s2 still lists the file and
    // can be read as of; once expiry drops it the key evolves
    t.optimize(clock = clock)
    assert(intercept[IllegalArgumentException](t.renameColumn("k", "k2"))
      .getMessage.contains("equality-delete"))
    clock.advanceDays(11)
    t.append(rows(100, 101, "x").withColumnRenamed("v", "w"), clock)
    t.expireSnapshots(retentionDays = 5, clock = clock)
    t.renameColumn("k", "k2")
    assert(t.read.filter($"k2" === 1L).count() == 0)
    assert(t.read.count() == 10)
  }

  test("eq-delete intro id survives expiry of the introducing snapshot") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eqexp") + "/t", schema)
    t.append(rows(0, 10, "old"), clock)         // s1
    t.deleteByKeys(Seq(3L).toDF("k"), clock)    // s2: intro stamped = 2
    t.append(rows(3, 4, "new"), clock)          // s3: re-insert k=3
    clock.advanceDays(11)
    t.append(rows(100, 101, "x"), clock)        // s4 (retained)
    t.expireSnapshots(retentionDays = 5, clock = clock) // drops s1..s3
    assert(t.snapshots.map(_.snapshotId) === Seq(4L))
    // without the durable stamp the log-derived intro would drift to 4
    // and swallow the re-inserted key (added at 3 < 4)
    assert(t.read.filter($"k" === 3).select("v").as[String].collect().toSeq
      === Seq("new3"))
    assert(t.read.count() === 11)
    assert(t.rowCount === 11)
  }

  test("upsert replaces and inserts in one atomic commit") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq3") + "/t", schema)
    t.append(rows(0, 20, "v").repartition(2), clock) // s1
    val snapsBefore = t.snapshots.size
    val filesBefore = t.files.select("path").as[String].collect().toSet

    val src = Seq((5L, "UP5"), (6L, "UP6"), (100L, "NEW")).toDF("k", "v")
    val replaced = t.upsert(src, Seq("k"), clock)    // s2
    assert(replaced === 2)
    assert(t.snapshots.size === snapsBefore + 1)
    assert(t.rowCount === 21)
    assert(t.read.count() === 21)
    val got = t.read.filter($"k".isin(5L, 6L, 100L))
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(got === Map(5L -> "UP5", 6L -> "UP6", 100L -> "NEW"))
    // no existing data file rewritten
    assert(filesBefore.subsetOf(
      t.files.select("path").as[String].collect().toSet))
    // time travel sees the pre-upsert values
    assert(t.readAsOf(1L).filter($"k" === 5).select("v").as[String].head()
      === "v5")
    // chained upsert on the same key wins with the newest value
    t.upsert(Seq((5L, "UP5b")).toDF("k", "v"), Seq("k"), clock) // s3
    assert(t.read.filter($"k" === 5).select("v").as[String].collect().toSeq
      === Seq("UP5b"))
    assert(t.rowCount === 21)
  }

  test("optimize and CoW ops materialize eq deletes; expiry reclaims them") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq4") + "/t", schema)
    t.append(rows(0, 40, "v").repartition(2), clock)
    t.upsert(rows(0, 5, "up"), Seq("k"), clock)
    t.deleteByKeys(Seq(39L).toDF("k"), clock)
    assert(t.currentSnapshot.get.eqDeleteManifests.size === 2)
    val eqFiles = t.eqDeleteFiles.select("path").as[String].collect()

    clock.advanceDays(11)
    t.optimize(clock = clock)
    assert(t.currentSnapshot.get.eqDeleteManifests.isEmpty)
    assert(t.rowCount === 39)
    assert(t.read.count() === 39)
    assert(t.read.filter($"k" < 5).select("v").as[String].collect()
      .forall(_.startsWith("up")))
    assert(t.files.agg(sum("record_count")).as[Long].head() === 39)

    t.expireSnapshots(retentionDays = 5, clock = clock)
    val fs = new org.apache.hadoop.fs.Path(t.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    eqFiles.foreach(p =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p)),
        s"eq delete file $p should be reclaimed after expiry"))
  }

  test("bounds-pruned eq targets: optimize rewrites only overlapping files") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eqprune") + "/t", schema)
    // 4 range-clustered files over k ∈ [0, 400)
    t.append(rows(0, 400, "v").repartitionByRange(4, $"k"), clock)
    val before = t.files.select("path", "size_bytes")
      .as[(String, Long)].collect().toMap
    assert(before.size === 4)

    // upsert touches ONLY the lowest key range — the delete file's key
    // bounds ([1, 2]) overlap a single clustered file
    t.upsert(Seq((1L, "U1"), (2L, "U2")).toDF("k", "v"), Seq("k"), clock)

    // pick a target that makes every ORIGINAL file "in-band" by size
    // (0.75t <= size <= 1.8t), so the only rewrite candidates are the
    // bounds-overlapping delete targets (+ the tiny upsert file)
    val sizes = before.values.toSeq
    assert(sizes.max < 1.8 * sizes.min, "test files must be similar sizes")
    t.optimize(targetFileBytes = sizes.min, clock = clock)

    val after = t.files.select("path").as[String].collect().toSet
    val untouched = before.keySet intersect after
    assert(untouched.size >= 3,
      s"non-overlapping clustered files must be carried, not rewritten " +
        s"(kept ${untouched.size} of ${before.size})")
    assert(t.currentSnapshot.get.eqDeleteManifests.isEmpty)
    assert(t.read.count() === 400)
    assert(t.read.filter($"k" === 1).select("v").as[String].head() === "U1")
    assert(t.rowCount === 400)
  }

  test("optimize materializes eq deletes even on a single-file table") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eqsingle") + "/t", schema)
    t.append(rows(0, 20, "v").coalesce(1), clock)
    assert(t.deleteByKeys(Seq(7L).toDF("k"), clock) === 1)
    t.optimize(clock = clock)
    assert(t.currentSnapshot.get.eqDeleteManifests.isEmpty)
    assert(t.read.count() === 19)
    assert(t.rowCount === 19)
  }

  test("pos and eq deletes compose on one table") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq5") + "/t", schema)
    t.append(rows(0, 30, "v"), clock)
    t.deleteWhereMOR($"k" < 5, clock)              // pos: 0-4
    t.deleteByKeys(Seq(10L, 11L).toDF("k"), clock) // eq: 10,11
    // a pos-delete predicate over the live view must not see eq-deleted rows
    assert(t.deleteWhereMOR($"k" >= 10 && $"k" < 12, clock) === 0)
    assert(t.rowCount === 23)
    assert(t.read.count() === 23)
    val merged = t.read.select("k").as[Long].collect().sorted.toSeq
    assert(merged === ((5L until 10L) ++ (12L until 30L)))
  }

  test("changelog emits upsert delete+insert events under one commit") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq6") + "/t", schema)
    t.append(rows(0, 10, "v"), clock)                          // s1
    t.upsert(Seq((3L, "U3"), (42L, "U42")).toDF("k", "v"),
      Seq("k"), clock)                                         // s2
    val ch = t.readChanges(0L, 2L)
    val events = ch.groupBy($"_commit_snapshot_id", $"_change_type")
      .count().as[(Long, String, Long)].collect().toSet
    assert(events === Set((1L, "insert", 10L),
      (2L, "delete", 1L), (2L, "insert", 2L)))
    assert(ch.filter($"_change_type" === "delete").select("v")
      .as[String].collect().toSeq === Seq("v3"))
  }

  test("streaming upsert sink: replayed batches no-op, keys replace") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq7") + "/t", schema)
    val f = GraftSink.upsertBatch(t, "cdcq", Seq("k"), clock) _
    f(rows(0, 10, "a"), 0L)
    f(Seq((3L, "b3"), (20L, "b20")).toDF("k", "v"), 1L)
    f(Seq((3L, "b3"), (20L, "b20")).toDF("k", "v"), 1L) // replay → no-op
    assert(t.snapshots.size === 2)
    assert(t.rowCount === 11)
    assert(t.read.filter($"k" === 3).select("v").as[String].head() === "b3")
    assert(GraftSink.lastBatch(t, "cdcq").contains(1L))
  }

  test("null keys match null rows (Iceberg null-safe eq-delete semantics)") {
    val clock = new TestClock
    val nullableSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("v", StringType, nullable = true)))
    val t = GraftTable.create(spark, tmpDir("eqnull") + "/t", nullableSchema)
    t.append(Seq((Some(1L), "a"), (None, "n1"), (None, "n2"), (Some(2L), "b"))
      .toDF("k", "v"), clock)
    // a null key deletes the null-key rows, not nothing
    val removed = t.deleteByKeys(Seq(Option.empty[Long]).toDF("k"), clock)
    assert(removed === 2)
    assert(t.rowCount === 2)
    assert(t.read.select("v").as[String].collect().sorted.toSeq
      === Seq("a", "b"))
    // strictly-before still applies: a re-inserted null-key row survives
    t.append(Seq((Option.empty[Long], "n3")).toDF("k", "v"), clock)
    assert(t.read.filter($"k".isNull).select("v").as[String].collect().toSeq
      === Seq("n3"))
    // and an upsert keyed on the nullable column replaces, not duplicates
    val replaced = t.upsert(
      Seq((Option.empty[Long], "n4"), (Some(2L), "b2")).toDF("k", "v"),
      Seq("k"), clock)
    assert(replaced === 2)
    assert(t.rowCount === 3)
    assert(t.read.select("v").as[String].collect().sorted.toSeq
      === Seq("a", "b2", "n4"))
  }

  test("eq-delete planning is O(1) manifest jobs, not O(#upsert batches)") {
    // A CDC upsert stream accumulates one eq manifest per micro-batch;
    // read PLANNING must read them all in one manifest scan — per-batch
    // driver jobs would cost tens of seconds of plan time on a
    // long-running stream between compactions.
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eqjobs") + "/t", schema)
    t.append(rows(0, 50, "v").coalesce(1), clock)
    (0 until 20).foreach { i =>
      t.upsert(Seq((i.toLong, s"up$i")).toDF("k", "v"), Seq("k"), clock)
    }
    assert(t.currentSnapshot.get.eqDeleteManifests.size === 20)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(t.read.count() === 50)
    } finally {
      // the listener bus is async — let it drain before reading the count
      Thread.sleep(1500)
      spark.sparkContext.removeSparkListener(listener)
    }
    val n = jobs.get
    assert(n <= 15,
      s"read over 20 accumulated eq manifests launched $n jobs — " +
        "planning must not scale with the manifest count")
  }

  test("rewriteEqDeleteFiles compacts a 20-batch upsert stream to one manifest") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eqcompact") + "/t", schema)
    t.append(rows(0, 50, "v").coalesce(1), clock)          // s1
    (0 until 20).foreach { i =>
      t.upsert(Seq((i.toLong, s"up$i")).toDF("k", "v"), Seq("k"), clock)
    }
    t.append(rows(3, 4, "re"), clock) // re-insert k=3 AFTER its delete
    val before = t.read.select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq
    val headBefore = t.currentSnapshot.get.snapshotId

    val mergedCount = t.rewriteEqDeleteFiles(clock)
    assert(mergedCount === 20)
    assert(t.currentSnapshot.get.eqDeleteManifests.size === 1)
    assert(t.currentSnapshot.get.operation === "rewrite_eq_deletes")

    // reads are identical before/after; the strictly-before windows of
    // every batch survive the merge (k=3 keeps BOTH values: the upsert
    // one is eq-deleted, the later re-insert is not)
    val after = t.read.select("k", "v").as[(Long, String)]
      .collect().sorted.toSeq
    assert(after === before)
    assert(t.rowCount === t.read.count())
    assert(t.read.filter($"k" === 3).select("v").as[String].collect().sorted
      .toSeq === Seq("re3", "up3"))

    // row-neutral: incremental consumers read straight through it
    t.append(rows(100, 103, "x"), clock)
    val head = t.currentSnapshot.get.snapshotId
    assert(t.readIncremental(headBefore, head).count() === 3)
    assert(t.readChanges(headBefore, head)
      .filter($"_change_type" === "insert").count() === 3)

    // idempotent: a second compaction is a no-op
    assert(t.rewriteEqDeleteFiles(clock) === 0L)

    // a LATER upsert composes with the compacted manifest, and a second
    // compaction folds it back in
    t.upsert(Seq((5L, "up5b"), (200L, "new")).toDF("k", "v"), Seq("k"), clock)
    assert(t.read.filter($"k" === 5).select("v").as[String].collect().toSeq
      === Seq("up5b"))
    assert(t.rewriteEqDeleteFiles(clock) === 2L)
    assert(t.currentSnapshot.get.eqDeleteManifests.size === 1)
    assert(t.read.filter($"k" === 5).select("v").as[String].collect().toSeq
      === Seq("up5b"))
    assert(t.rowCount === t.read.count())
  }

  test("compacted eq manifests still materialize through optimize") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eqcompopt") + "/t", schema)
    t.append(rows(0, 40, "v").repartition(2), clock)
    (0 until 5).foreach { i =>
      t.upsert(Seq((i.toLong, s"up$i")).toDF("k", "v"), Seq("k"), clock)
    }
    t.rewriteEqDeleteFiles(clock)
    t.optimize(clock = clock)
    assert(t.currentSnapshot.get.eqDeleteManifests.isEmpty)
    assert(t.read.count() === 40)
    assert(t.rowCount === 40)
    assert(t.read.filter($"k" < 5).select("v").as[String].collect()
      .forall(_.startsWith("up")))
  }

  test("stream_append commits stay incrementally readable") {
    val clock = new TestClock
    val t = GraftTable.create(spark, tmpDir("eq8") + "/t", schema)
    val f = GraftSink.appendBatch(t, "q", clock) _
    f(rows(0, 10, "a"), 0L)
    f(rows(10, 15, "a"), 1L)
    // the sink's tagged ops are appends — incremental scans accept them
    assert(t.readIncremental(1L, 2L).count() === 5)
    assert(t.readChanges(0L, 2L).filter($"_change_type" === "insert").count()
      === 15)
  }
}
