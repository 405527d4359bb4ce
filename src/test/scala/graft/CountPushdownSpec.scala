package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.GraftTable

/** GraftCountRule: a global unfiltered count(*) over a graft scan is
  * answered from snapshot metadata — the optimized plan is a
  * LocalRelation, no file scan — while anything the metadata cannot
  * answer exactly (filters, count(col), MOR deletes, grouping) keeps
  * the scan and stays correct. */
class CountPushdownSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select($"id",
      when($"id" % 3 === 0, lit(null)).otherwise(concat(lit("v"), $"id"))
        .as("v"))

  // metadata-only = no scan over a GraftFileIndex survives optimization
  // (the min/max fold keeps a KB-scale manifest relation — that is
  // still metadata, not the data files)
  private def isMetadataOnly(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
        if lr.relation.isInstanceOf[
             org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
           lr.relation.asInstanceOf[
             org.apache.spark.sql.execution.datasources.HadoopFsRelation]
             .location.isInstanceOf[graft.sources.GraftFileIndex] => lr
    }.isEmpty

  test("bare count(*) folds to the snapshot row count — no scan") {
    val loc = tmpDir("cnt") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(rows(0, 500))
    t.append(rows(500, 800))
    val scan = spark.read.format("graft").load(loc)
    val cnt = scan.groupBy().count()
    assert(isMetadataOnly(cnt), "unfiltered count(*) must fold to metadata:\n" +
      cnt.queryExecution.optimizedPlan.treeString)
    assert(cnt.collect().head.getLong(0) == 800L)
    assert(scan.count() == 800L)
    // SQL spelling folds too
    scan.createOrReplaceTempView("cnt_t")
    val sqlCnt = spark.sql("SELECT count(*) AS n FROM cnt_t")
    assert(isMetadataOnly(sqlCnt))
    assert(sqlCnt.collect().head.getLong(0) == 800L)
    // a projection below the count is row-preserving — still folds
    val projected = scan.select($"id").groupBy().count()
    assert(isMetadataOnly(projected))
    assert(projected.collect().head.getLong(0) == 800L)
  }

  test("min/max of a bounded column fold to manifest bounds — no data scan") {
    val loc = tmpDir("cntmm") + "/t"
    val t = GraftTable.create(spark, loc, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("maybe", LongType, nullable = true),
      StructField("s", StringType, nullable = true))))
    // file 1: ids 10..99, maybe all null (null bound must be IGNORED,
    // not treated as a value); file 2: ids 0..9, maybe = id * 2
    t.append(spark.range(10, 100).select($"id",
      lit(null).cast("long").as("maybe"), lit("a").as("s")))
    t.append(spark.range(0, 10).select($"id", ($"id" * 2).as("maybe"),
      lit("b").as("s")))
    val scan = spark.read.format("graft").load(loc)
    val mm = scan.agg(min($"id").as("lo"), max($"id").as("hi"),
      count(lit(1)).as("n"), min($"maybe").as("mlo"), max($"maybe").as("mhi"))
    assert(isMetadataOnly(mm), "min/max over bounded columns must fold:\n" +
      mm.queryExecution.optimizedPlan.treeString)
    val r = mm.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((0L, 99L, 100L, 0L, 18L)))
    // a rename below the aggregate is followed to the source column
    val renamed = scan.select($"id".as("renamed")).agg(max($"renamed"))
    assert(isMetadataOnly(renamed))
    assert(renamed.collect().head.getLong(0) == 99L)
    // strings are NOT folded (footer truncation hazard) — scan + correct
    val sMin = scan.agg(min($"s"))
    assert(!isMetadataOnly(sMin), "string min/max must keep the scan")
    assert(sMin.collect().head.getString(0) == "a")
    // a computed column can't fold — scan + correct
    val computed = scan.select(($"id" + 1).as("idp")).agg(min($"idp"))
    assert(!isMetadataOnly(computed))
    assert(computed.collect().head.getLong(0) == 1L)
  }

  test("unaligned filters and grouping keep the scan — and stay right") {
    val loc = tmpDir("cntneg") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(rows(0, 300).repartition(1)) // ONE file spanning ids 0..299
    val scan = spark.read.format("graft").load(loc)
    // id < 100 partially overlaps the single file — not decidable as
    // all-or-nothing, so the exactness test refuses and the scan stays
    val filtered = scan.filter($"id" < 100).groupBy().count()
    assert(!isMetadataOnly(filtered), "a partial-overlap count must scan")
    assert(filtered.collect().head.getLong(0) == 100L)
    // a computed predicate is never decidable from bounds
    val computed = scan.filter($"id" % 2 === 0).groupBy().count()
    assert(!isMetadataOnly(computed), "a computed-predicate count must scan")
    assert(computed.collect().head.getLong(0) == 150L)
    val grouped = scan.groupBy($"id" % 2).count()
    assert(!isMetadataOnly(grouped), "grouped counts must scan")
    assert(grouped.collect().map(_.getLong(1)).sum == 300L)
  }

  test("count(col) folds via manifest null counts; a missing entry refuses") {
    val loc = tmpDir("cntcol") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(rows(0, 300)) // 100 of 300 v-nulls (id % 3 == 0)
    t.append(spark.range(300, 340).select($"id",
      lit(null).cast("string").as("v"))) // an ALL-null append
    val scan = spark.read.format("graft").load(loc)
    val countCol = scan.agg(count($"v").as("nv"))
    assert(isMetadataOnly(countCol),
      "count(col) must fold to record_count − null_counts[col]:\n" +
        countCol.queryExecution.optimizedPlan.treeString)
    assert(countCol.collect().head.getLong(0) == 200L)
    // mixed with count(*)/min/max in one aggregate — still metadata
    val mixed = scan.agg(count(lit(1)).as("n"), count($"v").as("nv"),
      max($"id").as("hi"))
    assert(isMetadataOnly(mixed))
    assert(mixed.collect().head.toSeq == Seq(340L, 200L, 339L))
    // DOCTOR one manifest: drop the v entry from null_counts — the
    // exactness arithmetic would lie, so the fold must refuse (and the
    // scan still returns the right answer)
    val dir = t.currentSnapshot.get.manifests.head
    val key = GraftTable.normalize(dir)
    val rows0 = graft.meta.ManifestIO.readLocal(t.hadoopConf, Seq(dir)).get
    val doctored = rows0.map { r =>
      val nc = r.get(3).asInstanceOf[scala.collection.Map[String, Any]]
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2),
        if (nc == null) null else nc.filter(_._1 != "v"),
        r.get(4), r.get(5), r.get(6), r.get(7))
    }
    val bytes = graft.meta.ManifestIO.writeLocal(t.fileSystem,
      t.hadoopConf, new org.apache.hadoop.fs.Path(dir),
      doctored)
    graft.meta.ManifestIO.cacheSeed(key, doctored, bytes)
    val refused = spark.read.format("graft").load(loc).agg(count($"v"))
    assert(!isMetadataOnly(refused),
      "a file missing its null count must refuse the count(col) fold")
    assert(refused.collect().head.getLong(0) == 200L)
  }

  test("partition-aligned filtered count(*) folds; partial overlap refuses") {
    val loc = tmpDir("cntflt") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(rows(0, 100).repartition(1))   // file 1: ids 0..99
    t.append(rows(100, 150).repartition(1)) // file 2: ids 100..149
    val scan = spark.read.format("graft").load(loc)
    // every file decides all-or-nothing → the count is a manifest sum
    val aligned = scan.filter($"id" < 100).groupBy().count()
    assert(isMetadataOnly(aligned),
      "an aligned filtered count must fold:\n" +
        aligned.queryExecution.optimizedPlan.treeString)
    assert(aligned.collect().head.getLong(0) == 100L)
    val ranged = scan.filter($"id" >= 100 && $"id" < 150).groupBy().count()
    assert(isMetadataOnly(ranged))
    assert(ranged.collect().head.getLong(0) == 50L)
    // one partial-overlap file refuses the whole fold (exactness, not
    // skipping) — and the scan answer is of course still right
    val partial = scan.filter($"id" < 120).groupBy().count()
    assert(!isMetadataOnly(partial), "partial overlap must keep the scan")
    assert(partial.collect().head.getLong(0) == 120L)

    // the day = X shape this fold exists for: per-partition-value files
    val loc2 = tmpDir("cntday") + "/t"
    val daySchema = StructType(Seq(
      StructField("day", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val t2 = GraftTable.create(spark, loc2, daySchema)
    t2.append(spark.range(0, 30).select(lit(1L).as("day"), $"id".as("n"))
      .repartition(1))
    t2.append(spark.range(0, 45).select(lit(2L).as("day"), $"id".as("n"))
      .repartition(1))
    val day = spark.read.format("graft").load(loc2)
      .filter($"day" === 1).groupBy().count()
    assert(isMetadataOnly(day),
      "count(*) WHERE day = X over day-clustered files must fold")
    assert(day.collect().head.getLong(0) == 30L)

    // null-count alignment: IS NOT NULL over all-null vs no-null files
    val loc3 = tmpDir("cntnull") + "/t"
    val t3 = GraftTable.create(spark, loc3, schema)
    t3.append(spark.range(0, 40).select($"id",
      lit(null).cast("string").as("v")).repartition(1))
    t3.append(spark.range(40, 100).select($"id",
      concat(lit("x"), $"id").as("v")).repartition(1))
    val nn = spark.read.format("graft").load(loc3)
      .filter($"v".isNotNull).groupBy().count()
    assert(isMetadataOnly(nn), "IS NOT NULL over all-or-nothing null " +
      "files must fold from null counts")
    assert(nn.collect().head.getLong(0) == 60L)

    // composes with time travel: the pinned snapshot's single file
    val pinned = spark.read.format("graft").option("snapshotId", "1")
      .load(loc).filter($"id" < 100).groupBy().count()
    assert(isMetadataOnly(pinned))
    assert(pinned.collect().head.getLong(0) == 100L)
  }

  test("a DataFrame held across a commit folds to ITS pinned snapshot") {
    val loc = tmpDir("cntpin") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(rows(0, 100))
    val df = spark.read.format("graft").load(loc)
    assert(df.collect().length == 100) // index pinned to snapshot 1
    t.append(rows(100, 160)) // a concurrent commit lands AFTER the load
    // snapshot isolation (ADVICE r17): the fold must serve the SAME
    // snapshot the pinned file list came from — never the new head
    val cnt = df.groupBy().count()
    assert(isMetadataOnly(cnt))
    assert(cnt.collect().head.getLong(0) == 100L,
      "count must fold to the pinned snapshot, not the current one")
    assert(df.count() == 100L)
    assert(df.collect().length == 100)
    // and mixed count+min/max stay internally consistent (one snapshot)
    val mm = df.agg(count(lit(1)).as("n"), max($"id").as("hi")).collect().head
    assert((mm.getLong(0), mm.getLong(1)) == ((100L, 99L)))
    // a FRESH load sees the new head
    assert(spark.read.format("graft").load(loc).count() == 160L)
  }

  test("time travel composes: pinned snapshot folds to ITS count") {
    val loc = tmpDir("cnttt") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(rows(0, 100)) // s1
    t.append(rows(100, 250)) // s2
    val pinned = spark.read.format("graft")
      .option("snapshotId", "1").load(loc).groupBy().count()
    assert(isMetadataOnly(pinned))
    assert(pinned.collect().head.getLong(0) == 100L)
  }

  test("outstanding MOR deletes refuse the fold; the read path stays exact") {
    val loc = tmpDir("cntmor") + "/t"
    val t = GraftTable.create(spark, loc, schema)
    t.append(rows(0, 100))
    t.deleteWhereMOR(col("id") < 10) // MOR position delete, no rewrite
    // GraftTable.read plans delete anti-joins above the relation — the
    // bare-child bound alone prevents the fold; the count stays exact
    val viaRead = t.read.groupBy().count()
    assert(viaRead.collect().head.getLong(0) == 90L)
    // and even a forced bare relation must refuse (metadataRowCount None)
    val bare = spark.read.format("graft")
      .option("graft.internal.allowDeletes", "true").load(loc)
      .groupBy().count()
    assert(!isMetadataOnly(bare),
      "a delete-bearing snapshot must never fold count(*) to metadata")
    assert(bare.collect().head.getLong(0) == 100L) // physical rows, pre-join
  }
}
