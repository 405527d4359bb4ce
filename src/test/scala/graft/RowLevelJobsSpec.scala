package graft

import org.apache.spark.sql.functions._

import graft.meta.GraftTable

/** Spark jobs per row-level op on a table with outstanding position AND
  * equality deletes, pinned at the measured counts. At this scale a
  * write's latency is mostly job scheduling, so a stage that exists only
  * for bookkeeping — a shuffle to dedupe a small path set, a join of
  * manifest against manifest, a key set derived from the source a
  * second time — shows up here as an extra job. */
class RowLevelJobsSpec extends SparkSpec {
  import spark.implicits._

  /** 1,000 rows in 4 range-clustered files (0-249/250-499/500-749/
    * 750-999), a position delete of ids 100-109 and an equality delete
    * of ids 600 and 601. */
  private def table(): GraftTable = {
    val t = GraftTable.create(spark, tmpDir("rljobs") + "/t",
      spark.range(1).select(col("id"), lit("x").as("tag")).schema)
    t.append(spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("tag"))
      .repartitionByRange(4, col("id")))
    t.deleteWhereMOR(col("id").between(100, 109))
    t.deleteByKeys(Seq(600L, 601L).toDF("id"))
    t
  }

  // (name, jobs pinned at the count measured on local[4], op, rows
  // after). A shuffle to dedupe the affected paths, a manifest join for
  // the eq-delete targets, a MERGE join of the MOR-applied scan with
  // its keys, or an upsert re-deriving its keys from the source takes
  // these to 18, 11, 10, 12 and 12.
  private val ops: Seq[(String, Int, GraftTable => Any, Long)] = Seq(
    ("merge", 7, _.merge(Seq((5L, "M"), (2000L, "N")).toDF("id", "tag"), Seq("id")),
      989L),
    ("upsert", 8, _.upsert(Seq((5L, "U"), (2000L, "N")).toDF("id", "tag"), Seq("id")),
      989L),
    ("deleteByKeys", 7, _.deleteByKeys(Seq(5L, 6L).toDF("id")), 986L),
    ("update", 6, _.updateWhere(col("id").between(300, 309), Map("tag" -> lit("U"))),
      988L),
    ("CoW delete", 6, _.deleteWhere(col("id").between(300, 309)), 978L))

  ops.foreach { case (name, pinned, op, rowsAfter) =>
    test(s"$name runs at most $pinned jobs over outstanding deletes") {
      val t = table()
      val (_, sites) = JobLog.during(spark)(op(t))
      assert(t.read.count() == rowsAfter && t.rowCount == rowsAfter)
      assert(sites.size <= pinned,
        s"$name ran ${sites.size} jobs:\n${sites.mkString("\n---\n")}")
    }
  }
}
