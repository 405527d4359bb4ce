package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.{Commit, GraftTable, Snapshot, SnapshotLog}

/** Cross-process commit safety: the snapshot log is versioned files
  * claimed by rename-without-overwrite (optimistic CAS). Two writers
  * that share NO JVM lock must both land their commits — the loser of a
  * claim re-reads and retries instead of overwriting the winner. */
class CommitConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("k", LongType)))

  test("a stale claim fails; the retried claim lands on the new head") {
    val loc = tmpDir("cas") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(Seq(1L).toDF("k"))
    val (v, st) = SnapshotLog.readState(t.fileSystem, t.dir)
    assert(st.snapshots.size == 1)
    // "another process" claims v+1 first
    val forged = Snapshot(99L, 0L, "append", Seq.empty, 0L, 0L, 0L)
    assert(SnapshotLog.tryWriteState(t.fileSystem, t.dir, v,
      st.copy(snapshots = st.snapshots :+ forged)))
    // our claim against the stale version must FAIL, not overwrite
    assert(!SnapshotLog.tryWriteState(t.fileSystem, t.dir, v, st))
    // re-read sees the winner; the next claim succeeds
    val (v2, st2) = SnapshotLog.readState(t.fileSystem, t.dir)
    assert(v2 == v + 1 && st2.snapshots.map(_.snapshotId).contains(99L))
    assert(SnapshotLog.tryWriteState(t.fileSystem, t.dir, v2, st2))
  }

  test("two lock-independent writers append concurrently; every commit lands") {
    // A symlinked second spelling of the table path gets its OWN
    // per-path JVM lock while hitting the same storage — the closest
    // single-JVM emulation of two processes racing one table.
    val realParent = tmpDir("casreal")
    val linkParent = tmpDir("caslink")
    val real = s"$realParent/t"
    GraftTable.create(spark, real, schema)
    Files.createSymbolicLink(Paths.get(s"$linkParent/t"), Paths.get(real))
    val tA = GraftTable.load(spark, real)
    val tB = GraftTable.load(spark, s"$linkParent/t")
    assert(!(tA.lock eq tB.lock), "writers must not share a JVM lock")

    val n = 5
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq((tA, 0L), (tB, 1000L)).map { case (tbl, base) =>
      new Thread(() =>
        try (0 until n).foreach(i => tbl.append(Seq(base + i).toDF("k")))
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent appends failed: ${errors.peek()}")

    val t = GraftTable.load(spark, real)
    assert(t.snapshots.size == 2 * n, "every commit must land in the log")
    assert(t.snapshots.map(_.snapshotId).distinct.size == 2 * n)
    assert(t.rowCount == 2 * n)
    assert(t.read.count() == 2 * n)
    assert(t.read.agg(sum("k")).head().getLong(0) ==
      (0 until n).map(_.toLong).sum + (0 until n).map(_ + 1000L).sum)
  }

  test("deleteByKeys stays exact while a lock-independent writer appends") {
    // The matched-row count is memoized across CAS retries (keyed by
    // the pruned file set + delete manifests); racing appends of
    // non-overlapping keys force retries whose basis differs only by
    // those appends — the count must stay exact either way.
    val realParent = tmpDir("casdelreal")
    val linkParent = tmpDir("casdellink")
    val real = s"$realParent/t"
    GraftTable.create(spark, real, schema)
    Files.createSymbolicLink(Paths.get(s"$linkParent/t"), Paths.get(real))
    val tA = GraftTable.load(spark, real)
    val tB = GraftTable.load(spark, s"$linkParent/t")
    tA.append((1L to 10L).toDF("k"))

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    @volatile var removed = -1L
    val appender = new Thread(() =>
      try (0 until 6).foreach(i => tA.append(Seq(10000L + i).toDF("k")))
      catch { case e: Throwable => errors.add(e) })
    val deleter = new Thread(() =>
      try removed = tB.deleteByKeys(Seq(2L, 4L, 6L).toDF("k"))
      catch { case e: Throwable => errors.add(e) })
    appender.start(); deleter.start()
    appender.join(); deleter.join()
    assert(errors.isEmpty, s"racing writers failed: ${errors.peek()}")
    assert(removed == 3L, s"exact matched-row count required, got $removed")

    val t = GraftTable.load(spark, real)
    assert(t.rowCount == 10 - 3 + 6)
    assert(t.read.count() == 13)
    assert(t.read.filter(col("k").isin(2L, 4L, 6L)).count() == 0)
  }

  test("legacy single-file logs read as version 0 and upgrade on commit") {
    val loc = tmpDir("caslegacy") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(Seq(1L).toDF("k"))
    // rewrite the log in the legacy single-file format and drop versions
    val snaps = t.snapshots
    val legacy = SnapshotLog.logPath(t.dir)
    val logDir = new org.apache.hadoop.fs.Path(t.dir, "_graft/log")
    val content = {
      // render via a fresh versioned write, then move the head to the
      // legacy location and remove the versioned dir
      val head = t.fileSystem.listStatus(logDir).map(_.getPath)
        .filter(_.getName.endsWith(".snapshots.json")).maxBy(_.getName)
      val in = t.fileSystem.open(head)
      try new String(in.readAllBytes()) finally in.close()
    }
    val out = t.fileSystem.create(legacy, true)
    try out.write(content.getBytes) finally out.close()
    t.fileSystem.delete(logDir, true)

    val t2 = GraftTable.load(spark, loc)
    assert(GraftTable.exists(spark, loc))
    assert(t2.snapshots.map(_.snapshotId) == snaps.map(_.snapshotId))
    assert(t2.read.count() == 1)
    t2.append(Seq(2L).toDF("k")) // upgrades to a versioned claim
    assert(!t2.fileSystem.exists(legacy), "legacy file retired on commit")
    assert(t2.read.count() == 2)
    assert(SnapshotLog.readState(t2.fileSystem, t2.dir)._1 == 1L)
  }

  test("upserts race appends: both land, logical row count stays exact") {
    // One lock-independent writer streams appends while the other
    // upserts overlapping keys — the upsert's replaced-row count is
    // recomputed against the fresh head on every CAS retry, so
    // rowCount never drifts from the actual table content.
    val realParent = tmpDir("casup")
    val linkParent = tmpDir("casuplink")
    val real = s"$realParent/t"
    val t0 = GraftTable.create(spark, real, schema)
    t0.append(spark.range(0, 50).select($"id".as("k")))
    Files.createSymbolicLink(Paths.get(s"$linkParent/t"), Paths.get(real))
    val tA = GraftTable.load(spark, real)
    val tB = GraftTable.load(spark, s"$linkParent/t")
    assert(!(tA.lock eq tB.lock))

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() =>
      try (0 until 3).foreach(i =>
        tA.append(spark.range(1000L + i * 10, 1000L + i * 10 + 10)
          .select($"id".as("k"))))
      catch { case e: Throwable => errors.add(e) })
    val upserter = new Thread(() =>
      try (0 until 3).foreach(i =>
        tB.upsert(spark.range(i * 5, i * 5 + 10).select($"id".as("k")),
          Seq("k")))
      catch { case e: Throwable => errors.add(e) })
    appender.start(); upserter.start()
    appender.join(); upserter.join()
    assert(errors.isEmpty, s"racing upsert/append failed: ${errors.peek()}")

    val t = GraftTable.load(spark, real)
    assert(t.snapshots.size == 7, "all six commits + seed must land")
    // exactness: the metadata count equals the actual distinct content
    assert(t.rowCount == t.read.count(),
      "logical row count must match the merged content exactly")
    assert(t.read.filter($"k" < 50).count() == 50,
      "every original key survives exactly once (upserts replace, not drop)")
    assert(t.read.groupBy("k").count().filter($"count" > 1).count() == 0,
      "no key may be duplicated by a lost eq-delete")
    // the snapshot-summary eq-delete count must survive the CAS races
    // too: recomputed against the fresh head per attempt, it has to
    // equal what the eq manifests actually list
    assert(t.currentSnapshot.flatMap(_.eqDeleteFileCount)
      .contains(t.eqDeleteFiles.count()),
      "summary eq-delete file count drifted under concurrent commits")
  }

  test("a replacement commit planned against a stale head fails loudly") {
    // Replacement commits (optimize / CoW row-level / rewrite_manifests)
    // derive their manifest content from the state they scanned; a
    // commit landing in between (here: a lock-independent writer's MOR
    // delete) would be silently dropped — the basis check must refuse.
    val loc = tmpDir("casbasis") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(Seq(1L, 2L, 3L).toDF("k"))
    val basis = t.currentSnapshot.get // the rewrite plans against s1
    t.deleteWhereMOR(col("k") === 2L) // "another process" commits s2
    val manifest = t.files
      .select((GraftTable.ManifestCols :+ "added_snapshot_id").map(col): _*)
    val e = intercept[IllegalArgumentException](
      t.commitReplacing("optimize", manifest, java.time.Clock.systemUTC(),
        Commit.HeadIs(Some(basis))))
    assert(e.getMessage.contains("concurrent commit during optimize"))
    // the table is untouched: the MOR delete still applies
    assert(t.read.count() == 2)
  }

  test("refs advance atomically with the claim: main never regresses") {
    // With materialized refs (a branch exists), the main ref rides in
    // the SAME claimed state file as the snapshot — two racing
    // lock-independent writers can never write refs out of order.
    val realParent = tmpDir("casrefs")
    val linkParent = tmpDir("casrefslink")
    val real = s"$realParent/t"
    val t0 = GraftTable.create(spark, real, schema)
    t0.append(Seq(0L).toDF("k"))
    t0.createBranch("frozen") // materializes refs
    Files.createSymbolicLink(Paths.get(s"$linkParent/t"), Paths.get(real))
    val tA = GraftTable.load(spark, real)
    val tB = GraftTable.load(spark, s"$linkParent/t")
    assert(!(tA.lock eq tB.lock))

    val n = 4
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq((tA, 100L), (tB, 200L)).map { case (tbl, base) =>
      new Thread(() =>
        try (0 until n).foreach(i => tbl.append(Seq(base + i).toDF("k")))
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"concurrent appends failed: ${errors.peek()}")

    val t = GraftTable.load(spark, real)
    val maxId = t.snapshots.map(_.snapshotId).max
    assert(t.branches("main") == maxId,
      "main must point at the newest snapshot, never a stale head")
    assert(t.branches("frozen") == 1L, "other branches untouched")
    assert(t.read.count() == 2 * n + 1)
    assert(t.rowCount == 2 * n + 1,
      "carried totals must follow the ref — no lost append")
  }
}
