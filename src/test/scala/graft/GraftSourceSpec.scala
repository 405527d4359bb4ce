package graft

import org.apache.spark.sql.functions._

import graft.meta.GraftTable

/** The registered `format("graft")` data source: snapshot-isolated
  * listing via the manifest, and AUTOMATIC file skipping — query WHERE
  * clauses prune data files through GraftFileIndex with no
  * graft-specific code at the call site. */
class GraftSourceSpec extends SparkSpec {
  import spark.implicits._

  private def data = spark.range(0, 10000).select(
    col("id").as("k"),
    (col("id") % 97).as("v"),
    concat(lit("s"), col("id")).as("s"))

  test("format(graft) reads the current snapshot only") {
    val loc = tmpDir("src") + "/t"
    val t = GraftTable.create(spark, loc, data.schema)
    t.append(data.repartitionByRange(8, $"k"))
    t.deleteWhere($"k" < 100) // rewrites one file; old file still on disk
    val df = spark.read.format("graft").load(loc)
    assert(df.count() == 9900, "snapshot isolation: replaced file not read")
    assert(df.agg(sum("v")).as[Long].head() ==
      t.read.agg(sum("v")).as[Long].head())
  }

  test("WHERE predicates prune files automatically through the manifest") {
    val loc = tmpDir("src") + "/t"
    val t = GraftTable.create(spark, loc, data.schema)
    t.append(data.repartitionByRange(8, $"k"))
    val total = t.currentSnapshot.get.numFiles
    assert(total >= 8)
    val df = spark.read.format("graft").load(loc)
    val all = numFilesScanned(df)
    val pruned = numFilesScanned(df.filter($"k" >= 2000 && $"k" < 3000))
    assert(all == total, s"unfiltered scan lists all files ($all/$total)")
    assert(pruned < all, s"range predicate must skip files ($pruned/$all)")
    // equality + IN shapes prune too
    assert(numFilesScanned(df.filter($"k" === 5000)) < all)
    assert(numFilesScanned(df.filter($"k".isin(1L, 9999L))) < all)
    // non-prunable predicate keeps everything (superset, still correct)
    assert(df.filter($"s" === "s123").count() == 1)
  }

  test("null-count pruning: IS NULL / IS NOT NULL / <> skip files") {
    val loc = tmpDir("src") + "/t"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val t = GraftTable.create(spark, loc, schema)
    // file A: v entirely NULL (a pre-backfill append); file B: v populated
    t.append(spark.range(0, 100).select($"id".as("k"),
      lit(null).cast("long").as("v")).coalesce(1))
    t.append(spark.range(100, 200).select($"id".as("k"),
      $"id".as("v")).coalesce(1))
    // file C: constant column value (for <> pruning)
    t.append(spark.range(200, 300).select($"id".as("k"),
      lit(7L).as("v")).coalesce(1))
    val df = spark.read.format("graft").load(loc)
    val total = numFilesScanned(df)
    assert(total == 3)
    // IS NOT NULL skips the all-null file
    assert(numFilesScanned(df.filter($"v".isNotNull)) == 2)
    // IS NULL reads only the all-null file (others have null_count = 0)
    assert(numFilesScanned(df.filter($"v".isNull)) == 1)
    // <> 7 skips the constant file (min = max = 7) AND the all-null file
    // (its min/max are absent but no row satisfies v <> 7 ... bounds keep
    // it conservatively; assert only the constant file is skipped)
    assert(numFilesScanned(df.filter($"v" =!= 7L)) <= 2)
    assert(df.filter($"v" =!= 7L).count() == 100) // file B only; nulls excluded
    // correctness unchanged by pruning
    assert(df.filter($"v".isNull).count() == 100)
    assert(df.filter($"v".isNotNull).count() == 200)
  }

  test("prefix (LIKE 'p%') pruning via truncated string bounds") {
    val loc = tmpDir("src") + "/t"
    val t = GraftTable.create(spark, loc,
      data.select($"s", $"k").schema)
    // two files clustered by s: "s0..." range vs "s9..." range
    t.append(data.select($"s", $"k").filter($"s".startsWith("s1")).coalesce(1))
    t.append(data.select($"s", $"k").filter($"s".startsWith("s9")).coalesce(1))
    val df = spark.read.format("graft").load(loc)
    assert(numFilesScanned(df) == 2)
    assert(numFilesScanned(df.filter($"s".startsWith("s9"))) == 1)
    assert(df.filter($"s".startsWith("s9")).count() ==
      data.filter($"s".startsWith("s9")).count())
  }

  test("driver-resident state is (path, size) only — no bounds maps") {
    val loc = tmpDir("src") + "/t"
    val t = GraftTable.create(spark, loc, data.schema)
    t.append(data.repartitionByRange(8, $"k"))
    val df = spark.read.format("graft").load(loc)
    // plan + execute a pruned query so listFiles ran with filters
    df.filter($"k" >= 2000 && $"k" < 3000).collect()
    val idx = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        r.location
    }.collect { case g: graft.sources.GraftFileIndex => g }
      .getOrElse(fail("expected a GraftFileIndex-backed relation"))
    // hunt for any String->String map (the per-file bounds shape) held
    // transitively by any field of the index — there must be none
    def holdsBounds(v: Any, depth: Int = 0): Boolean =
      depth <= 4 && (v match {
        case m: scala.collection.Map[_, _] =>
          m.headOption.exists { case (k, vv) =>
            k.isInstanceOf[String] && vv.isInstanceOf[String] } ||
            m.valuesIterator.exists(holdsBounds(_, depth + 1))
        case s: Iterable[_] => s.exists(holdsBounds(_, depth + 1))
        case p: Product => p.productIterator.exists(holdsBounds(_, depth + 1))
        case _ => false
      })
    val offending = idx.getClass.getDeclaredFields.toSeq
      .map { f => f.setAccessible(true); f.getName -> f.get(idx) }
      .collect { case (n, v) if holdsBounds(v) => n }
    assert(offending.isEmpty,
      s"FileIndex holds per-column bounds maps on the driver: $offending")
  }

  test("SQL over a temp view prunes the same way") {
    val loc = tmpDir("src") + "/t"
    val t = GraftTable.create(spark, loc, data.schema)
    t.append(data.repartitionByRange(8, $"k"))
    spark.read.format("graft").load(loc).createOrReplaceTempView("gsrc")
    val q = spark.sql("SELECT count(*) AS n, sum(v) AS sv FROM gsrc WHERE k BETWEEN 100 AND 199")
    val got = q.collect().head
    assert((got.getLong(0), got.getLong(1)) ==
      data.filter($"k".between(100, 199))
        .agg(count(lit(1)), sum("v")).as[(Long, Long)].head())
    // (file-skipping through the same FileIndex is asserted with scan
    // metrics in the DataFrame test above; SQL resolves to the same
    // relation, checked here for correctness)
  }

  test("write path: save modes map to snapshot commits") {
    val loc = tmpDir("src") + "/t"
    val d1 = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val d2 = Seq((3L, "c")).toDF("id", "tag")
    d1.write.format("graft").save(loc) // creates table, first commit
    assert(spark.read.format("graft").load(loc).count() == 2)
    d2.write.format("graft").mode("append").save(loc)
    assert(spark.read.format("graft").load(loc).count() == 3)
    d2.write.format("graft").mode("overwrite").save(loc)
    assert(spark.read.format("graft").load(loc).count() == 1)
    d1.write.format("graft").mode("ignore").save(loc) // table exists: no-op
    assert(spark.read.format("graft").load(loc).count() == 1)
    intercept[IllegalStateException](
      d1.write.format("graft").mode("errorifexists").save(loc))
    // every write was one snapshot commit; time travel sees each state
    val t = GraftTable.load(spark, loc)
    assert(t.snapshots.map(_.operation) == Seq("append", "append", "overwrite"))
    assert(t.readAsOf(2).count() == 3)
  }

  test("metadata tables: files / snapshots / refs / stats via options") {
    val loc = tmpDir("src") + "/t"
    val t = GraftTable.create(spark, loc, data.schema)
    t.append(data.repartitionByRange(4, $"k"))
    t.append(data.limit(10))
    t.createBranch("audit")
    def meta(m: String) =
      spark.read.format("graft").option("metadata", m).load(loc)
    assert(meta("files").count() == t.currentSnapshot.get.numFiles)
    val snaps = meta("snapshots").orderBy("snapshot_id").collect()
    assert(snaps.map(_.getAs[String]("operation")).toSeq ==
      Seq("append", "append"))
    assert(snaps.last.getAs[Long]("total_rows") == 10010L)
    val refs = meta("refs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(refs == Map("main" -> 2L, "audit" -> 2L))
    assert(meta("stats").columns.contains("nulls_fraction"))
    // history: both appends are current ancestors
    val hist = meta("history").orderBy("snapshot_id").collect()
    assert(hist.map(r => (r.getLong(0), r.getBoolean(4))).toSeq ==
      Seq((1L, true), (2L, true)))
    // manifests: the append chain carries two delta manifests
    assert(meta("manifests").count() ==
      t.currentSnapshot.get.manifests.size)
    // SQL over a metadata view
    meta("files").createOrReplaceTempView("t_files")
    assert(spark.sql("SELECT sum(record_count) FROM t_files")
      .head().getLong(0) == 10010L)
    intercept[IllegalArgumentException](meta("nope").collect())
  }

  test("evolved tables are refused with a pointer to the aligned reader") {
    val loc = tmpDir("src") + "/t"
    val t = GraftTable.create(spark, loc, data.schema)
    t.append(data)
    t.renameColumn("v", "w")
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft").load(loc).count())
    assert(e.getMessage.contains("un-evolved"))
  }
}
