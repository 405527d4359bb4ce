package graft

import org.apache.spark.sql.functions._

import graft.meta.{GraftTable, KeySet}

/** Copy-on-write DELETE / MERGE: correctness plus the only-touched-files
  * rewrite guarantee. */
class RowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable() = {
    val t = GraftTable.create(spark, tmpDir("rowlevel") + "/t",
      spark.range(1).select(col("id"), lit("x").as("tag")).schema)
    // 4 range-clustered files: ids 0-249 / 250-499 / 500-749 / 750-999
    t.append(spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("tag"))
      .repartitionByRange(4, col("id")))
    t
  }

  test("deleteWhere removes matching rows and rewrites only affected files") {
    val t = freshTable()
    val filesBefore = t.files.select("path", "added_snapshot_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val deleted = t.deleteWhere(col("id") < 100)
    assert(deleted == 100)
    assert(t.read.count() == 900)
    assert(t.read.filter(col("id") < 100).count() == 0)
    val after = t.files.select("path", "added_snapshot_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val untouched = after.keySet.intersect(filesBefore.keySet)
    assert(untouched.nonEmpty, "files without matches must be carried as-is")
    untouched.foreach(p => assert(after(p) == filesBefore(p), "lineage kept"))
    assert(after.keySet != filesBefore.keySet, "affected file was rewritten")
  }

  test("deleteWhere keeps rows where the predicate evaluates NULL") {
    val t = GraftTable.create(spark, tmpDir("rowlevel") + "/t",
      Seq((1L, Some(5L))).toDF("id", "v").schema)
    t.append(Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "v"))
    // SQL DELETE semantics: only TRUE deletes; v=null row must survive
    assert(t.deleteWhere(col("v") < 10) == 1)
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq ==
      Seq(2L, 3L))
  }

  test("deleteWhere with no matches commits nothing") {
    val t = freshTable()
    val snapBefore = t.currentSnapshot.get.snapshotId
    assert(t.deleteWhere(col("id") > 10000) == 0L)
    assert(t.currentSnapshot.get.snapshotId == snapBefore)
  }

  test("merge with an empty source commits nothing") {
    val t = freshTable()
    val head = t.currentSnapshot.get.snapshotId
    t.merge(spark.range(0, 0)
      .select(col("id"), lit("z").as("tag")), Seq("id"))
    assert(t.currentSnapshot.get.snapshotId == head,
      "an empty MERGE must not land a junk commit")
    assert(t.read.count() == 1000)
  }

  test("deleteWhere matching everything leaves zero data files, no empties") {
    val t = freshTable()
    assert(t.deleteWhere(lit(true)) == 1000L)
    assert(t.read.count() == 0)
    // the rewrite's schema-only empty outputs are pruned — the manifest
    // must not carry junk zero-row files
    assert(t.files.count() == 0,
      "delete-everything must leave an empty manifest")
  }

  test("merge affected-file discovery is bounds-pruned to overlapping files") {
    val t = freshTable()
    // 4 range-clustered files (0-249/250-499/500-749/750-999): keys
    // 10..20 overlap exactly one file's bounds
    val one = t.pairsOverlappingKeys(Seq(10L, 20L).toDF("id"), Seq("id"))
    assert(one.size == 1, s"keys 10..20 must prune to 1 of 4 files, got ${one.size}")
    // a spanning key set keeps the files its [min,max] envelope overlaps
    val three = t.pairsOverlappingKeys(Seq(10L, 600L).toDF("id"), Seq("id"))
    assert(three.size == 3, s"keys 10,600 overlap 3 files, got ${three.size}")
    // MERGE equality is plain `=`: an all-null key set matches nothing
    val none = t.pairsOverlappingKeys(
      Seq(Option.empty[Long]).toDF("id"), Seq("id"))
    assert(none.isEmpty, "null-only keys must prune every file")
  }

  test("pruned merge: updates in one key range rewrite only that file") {
    val t = freshTable()
    val filesBefore = t.files.select("path", "added_snapshot_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val source = Seq((10L, "UPDATED"), (20L, "ALSO"), (5000L, "NEW"))
      .toDF("id", "tag")
    t.merge(source, Seq("id"))
    val after = t.files.select("path", "added_snapshot_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val untouched = after.keySet.intersect(filesBefore.keySet)
    assert(untouched.size == 3,
      s"3 of 4 range-clustered files are bounds-disjoint from keys " +
        s"10/20/5000 and must be carried as-is, got ${untouched.size}")
    untouched.foreach(p => assert(after(p) == filesBefore(p), "lineage kept"))
    assert(t.read.count() == 1001)
    val byId = t.read.filter(col("id").isin(10L, 20L, 21L, 5000L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(10L) == "UPDATED" && byId(20L) == "ALSO")
    assert(byId(21L) == "v21", "survivor in the rewritten file carried")
    assert(byId(5000L) == "NEW", "out-of-bounds key still inserts")
  }

  test("key-set discovery prunes scattered keys below the min/max hull (r19)") {
    val t = freshTable()
    // 4 range-clustered files (0-249/250-499/500-749/750-999): keys
    // {10, 900} hull-span every file, but land in only two
    val hull = t.pairsOverlappingKeys(Seq(10L, 900L).toDF("id"), Seq("id"))
    assert(hull.size == 4, s"the hull test keeps every spanned file: ${hull.size}")
    // files the merge discovery scan reads for a localized key set
    def scanned(ks: Seq[Option[Long]]): Long = {
      val keyMatch = KeySet.collect(ks.toDF("id")).get.matches(nullSafe = false)
      numFilesScanned(t.affectedFiles(_.filter(keyMatch)))
    }
    assert(scanned(Seq(Some(10L), Some(900L))) == 2,
      "keys 10/900 land in 2 of 4 files")
    // a long key list (per-value probes past their cap) prunes the same
    assert(scanned(((0L until 20L) ++ (900L until 920L)).map(Some(_))) == 2)
    // null keys match nothing under MERGE's `=`
    assert(scanned(Seq(None)) == 0, "null-only keys must prune every file")
    // a null among real keys is dropped, not match-all
    assert(scanned(Seq(None, Some(10L))) == 1)
  }

  test("merge of exactly KeySet.MaxLocal keys plans in bounded time") {
    val t = freshTable()
    // 8,192 keys, one in three of them an existing id (0, 3, ... 999):
    // the localized path at its cap, where the key-match predicate
    // carries 8,192 literals into the scan's manifest filter
    val src = spark.range(0, KeySet.MaxLocal)
      .select((col("id") * 3).as("id"), lit("K").as("tag"))
    assert(KeySet.collect(src.select("id")).isDefined)
    t.merge(src, Seq("id"))
    assert(t.read.count() == 1000 + KeySet.MaxLocal - 334)
    assert(t.read.filter(col("tag") === "K").count() == KeySet.MaxLocal)
    assert(t.read.filter(col("id") === 4L).as[(Long, String)].collect().toSeq ==
      Seq((4L, "v4")))
  }

  test("merge and upsert beyond KeySet.MaxLocal keys stay distributed and exact") {
    // even ids 0 .. 2(MaxLocal + 99): 500 of them exist (0, 2, ... 998)
    val n = KeySet.MaxLocal + 100
    val src = spark.range(0, n).select((col("id") * 2).as("id"), lit("B").as("tag"))
    assert(KeySet.collect(src.select("id")).isEmpty)
    val m = freshTable()
    m.merge(src, Seq("id"))
    val u = freshTable()
    assert(u.upsert(src, Seq("id")) == 500)
    Seq(m, u).foreach { t =>
      assert(t.read.count() == 1000 + n - 500 && t.rowCount == 1000 + n - 500)
      assert(t.read.filter(col("tag") === "B").count() == n)
    }
  }

  test("KeySet.collect ships a bounded share per partition and stays exact") {
    def collected(df: org.apache.spark.sql.DataFrame) = {
      val (ks, jobs) = JobLog.during(spark)(KeySet.collect(df))
      (ks.map(_.rows.map(_.getLong(0)).toSet), jobs.size)
    }
    // 64 partitions of the same 100 keys: each fits its share (129
    // rows), so one job is exact
    assert(collected(spark.range(0, 6400, 1, 64).select((col("id") % 100).as("id"))) ==
      (Some((0L until 100L).toSet), 1))
    // 500 keys per partition overrun the share while the union (130
    // keys) stays under the cap: the bounded shuffle settles the set
    val (repeated, jobs) =
      collected(spark.range(0, 32000, 1, 64).select((col("id") % 500).as("id")))
    assert(repeated.contains((0L until 500L).toSet) && jobs > 1)
    // one partition holding every key, beside three empty ones
    assert(collected(spark.range(0, 3000, 1, 1).union(spark.range(0, 0, 1, 3)).toDF())._1 ==
      Some((0L until 3000L).toSet))
    // over the cap across 64 partitions: the shares alone say so
    assert(collected(spark.range(0, 2L * KeySet.MaxLocal, 1, 64).toDF()) == (None, 1))
    // FLOAT/DOUBLE keys take the join path (see the signed-zero property)
    assert(KeySet.collect(spark.range(3).select(col("id").cast("double"))).isEmpty)
  }

  test("scattered-key merge rewrites only the landed-in files (r19)") {
    val t = freshTable()
    val filesBefore = t.files.select("path").as[String].collect().toSet
    t.merge(Seq((10L, "A"), (900L, "B")).toDF("id", "tag"), Seq("id"))
    val after = t.files.select("path").as[String].collect().toSet
    assert(filesBefore.intersect(after).size == 2,
      "the two unlanded middle files must be carried as-is")
    assert(t.read.count() == 1000)
    val byId = t.read.filter(col("id").isin(10L, 900L, 500L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(10L) == "A" && byId(900L) == "B" && byId(500L) == "v500")
  }

  test("UPDATE is single-pass: the matched count rides the rewrite scan (r19)") {
    val t = freshTable()
    val (n, jobs) = JobLog.during(spark)(
      t.updateWhere(col("id") >= 10 && col("id") < 20, Map("tag" -> lit("U"))))
    assert(n == 10)
    // discovery + the rewrite write; the commit builds its manifest on
    // the driver. Pinned at the measured 3 so a reintroduced
    // matched-count scan or commit job fails here.
    assert(jobs.size <= 3, s"UPDATE ran ${jobs.size} jobs — " +
      "a separate matched-count scan or a commit job has crept back in")
    assert(t.read.filter(col("tag") === "U").count() == 10)
  }

  test("UPDATE whose raw-affected matches are all MOR-deleted commits nothing") {
    val t = freshTable()
    // MOR-delete the rows the predicate would match: raw discovery still
    // over-marks their file (raw rows match), but zero MOR-live rows do
    t.deleteWhereMOR(col("id") >= 10 && col("id") < 20)
    val head = t.currentSnapshot.get.snapshotId
    val n = t.updateWhere(col("id") >= 10 && col("id") < 20,
      Map("tag" -> lit("U")))
    assert(n == 0, s"all matches are MOR-deleted, got $n")
    assert(t.currentSnapshot.get.snapshotId == head,
      "a zero-match UPDATE must not land a commit")
  }

  test("insert-heavy merge sizes output by source bytes too (r18 ADVICE)") {
    val t = GraftTable.create(spark, tmpDir("rowlevel") + "/t",
      spark.range(1).select(col("id"), lit("x").as("tag")).schema)
    t.append(spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("tag"))
      .repartition(1))
    val seedBytes = t.files.select("size_bytes").as[Long].collect().sum
    t.setProperties(Map("write.target-file-size-bytes" -> seedBytes.toString))
    // a source 4x the table, landing zero existing keys: affectedBytes=0,
    // so pre-fix outParts was coalesce(1); the row-width estimate must
    // size it at ~4 files
    t.merge(spark.range(100000, 104000)
      .select(col("id"), concat(lit("n"), col("id")).as("tag")), Seq("id"))
    assert(t.read.count() == 5000)
    val newFiles = t.files.count()
    assert(newFiles >= 3,
      s"an insert-dominated merge must binpack by estimated source bytes, " +
        s"got $newFiles files")
  }

  test("merge into an empty table (no width evidence) stays unsized and works") {
    val t = GraftTable.create(spark, tmpDir("rowlevel") + "/t",
      spark.range(1).select(col("id"), lit("x").as("tag")).schema)
    t.merge(spark.range(0, 500)
      .select(col("id"), lit("n").as("tag")), Seq("id"))
    assert(t.read.count() == 500)
  }

  test("merge upserts: updates replace by key, inserts append, one commit") {
    val t = freshTable()
    val snapBefore = t.currentSnapshot.get.snapshotId
    val source = Seq((5L, "UPDATED"), (2000L, "NEW")).toDF("id", "tag")
    t.merge(source, Seq("id"))
    assert(t.currentSnapshot.get.snapshotId == snapBefore + 1, "single commit")
    assert(t.read.count() == 1001)
    val byId = t.read.filter(col("id").isin(5L, 6L, 2000L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(5L) == "UPDATED")
    assert(byId(6L) == "v6", "non-matched row in an affected file survives")
    assert(byId(2000L) == "NEW")
  }
}
