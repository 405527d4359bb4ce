package graft

import org.apache.spark.sql.functions._

import graft.meta.GraftTable

/** Internal reads list their files from the manifest: every scan of
  * data and delete files goes through [[graft.sources.GraftFileIndex]],
  * so no read lists or stats a file. The table holds more data files
  * than Spark's parallel-listing threshold (32 paths), above which a
  * path-list parquet read starts a `Listing leaf files` job, plus
  * outstanding position and equality deletes. */
class ScanListingSpec extends SparkSpec {
  import spark.implicits._

  private val Files = 36

  private def tableWithDeletes(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("listing") + "/t",
      spark.range(1).select($"id", lit("v").as("tag")).schema)
    t.append(spark.range(0, Files * 50L).repartition(Files)
      .select($"id", concat(lit("v"), $"id").as("tag")))
    assert(t.currentSnapshot.get.numFiles == Files)
    assert(t.deleteWhereMOR(col("id") < 10) == 10)
    assert(t.deleteByKeys(Seq(20L, 21L).toDF("id")) == 2)
    t
  }

  private def noListing(name: String)(op: GraftTable => Unit): Unit = {
    val t = tableWithDeletes()
    val (_, sites) = JobLog.during(spark)(op(t))
    assert(JobLog.listing(sites).isEmpty,
      s"$name listed files:\n${JobLog.listing(sites).mkString("\n---\n")}")
  }

  test("read, changelog, optimize and CoW delete start no file-listing job") {
    noListing("read")(t => assert(t.read.count() == Files * 50L - 12))
    noListing("readChanges") { t =>
      val head = t.currentSnapshot.get.snapshotId
      val kinds = t.readChanges(0L, head).groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(kinds == Map("insert" -> Files * 50L, "delete" -> 12L))
    }
    noListing("optimize") { t =>
      t.optimize()
      assert(t.currentSnapshot.get.numFiles < Files)
      assert(t.read.count() == Files * 50L - 12)
    }
    noListing("CoW deleteWhere")(t =>
      assert(t.deleteWhere(col("id") % 10 === 5) == Files * 5L - 1))
  }
}
