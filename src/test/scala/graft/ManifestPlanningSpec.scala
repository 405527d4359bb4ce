package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.{FileSkipping, GraftTable, ManifestIO}
import graft.sources.GraftFileIndex

/** File listing from manifests plans no query below the local-read
  * gate: a whole-snapshot listing, a pushed-predicate
  * [[GraftFileIndex.listFiles]], a pruned scope and the eq-delete
  * targets of a rewrite are answered from the driver's cached manifest
  * rows without starting a SQL execution. Above the gate the same
  * listings are one Spark job over the manifest parquet. */
class ManifestPlanningSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  /** (body's value, SQL executions started, jobs started) while it runs. */
  private def counted[T](body: => T): (T, Int, Int) = {
    val (executions, jobs) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      TestBus.drain(spark.sparkContext)
      (out, executions.get, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Three files holding k in [0, 10), [10, 20) and [20, 30). */
  private def threeFiles(name: String): GraftTable = {
    val t = GraftTable.create(spark, tmpDir(name) + "/t", schema)
    (0 until 3).foreach(i => t.append(spark.range(i * 10L, i * 10L + 10)
      .select($"id".as("k"), concat(lit("v"), $"id").as("v")).coalesce(1)))
    t
  }

  private def kIs(v: Long) =
    EqualTo(AttributeReference("k", LongType)(), Literal(v))

  private def fileOf(t: GraftTable, k: Long): String =
    t.read.filter($"k" === k).select(input_file_name()).as[String].head()

  /** `listing` over a fresh below-gate table: no SQL execution, one
    * driver-served manifest read. */
  private def queryFree[T](name: String)(listing: GraftTable => T): (GraftTable, T) = {
    val t = threeFiles(name)
    val hits = ManifestIO.localReadHits.get
    val (out, executions, _) = counted(listing(t))
    assert(executions == 0, s"$name started $executions SQL executions")
    assert(ManifestIO.localReadHits.get - hits == 1)
    (t, out)
  }

  test("below the gate, a whole-snapshot listing starts no SQL execution") {
    val (_, whole) = queryFree("planwhole")(t => t.scopeOf(t.currentSnapshot.get).files)
    assert(whole.size == 3)
  }

  test("below the gate, a pushed-predicate listFiles starts no SQL execution") {
    val (t, listed) = queryFree("planlist") { t =>
      val s = t.currentSnapshot.get
      new GraftFileIndex(spark, t, t.schema, () => t.scopeOf(s)).listFiles(Nil, Seq(kIs(15L)))
    }
    assert(listed.flatMap(_.files).map(_.getPath.toString) ==
      Seq(GraftTable.normalize(fileOf(t, 15L))))
  }

  test("below the gate, scopeOf(s, keep) starts no SQL execution") {
    val (t, pruned) = queryFree("planscope")(t => t.scopeOf(t.currentSnapshot.get,
      FileSkipping.mayOverlap("k", LongType, lit(22L), lit(24L))).files)
    assert(pruned.map(_.path) == Seq(GraftTable.normalize(fileOf(t, 22L))))
  }

  test("below the gate, equality-delete targets start no SQL execution") {
    val t = threeFiles("plantargets")
    val target = GraftTable.normalize(fileOf(t, 5L))
    t.deleteByKeys(Seq(5L).toDF("k"))
    val hits = ManifestIO.localReadHits.get
    val (targets, executions, _) = counted(t.deleteTargets())
    assert(targets.map(GraftTable.normalize) == Set(target))
    assert(executions == 0, s"deleteTargets started $executions SQL executions")
    assert(ManifestIO.localReadHits.get - hits == 1)
  }

  test("above the gate, a listing is exactly one manifest job") {
    val t = threeFiles("plangate")
    val s = t.currentSnapshot.get
    // the table's manifest rows again, in a fresh uncached dir, one of
    // them padded past the gate with an incompressible bloom of a
    // column no rule probes
    val rows = ManifestIO.readLocal(t.hadoopConf, s.manifests).get
    val pad = new Array[Byte]((ManifestIO.LocalReadMaxBytes + (1 << 20)).toInt)
    new scala.util.Random(7).nextBytes(pad)
    val padded = rows.head.toSeq.updated(6, Map("pad" -> pad))
    val dir = new Path(tmpDir("plangatem"), "manifest")
    ManifestIO.writeLocal(t.fileSystem, t.manifestWriteConf, dir,
      Row.fromSeq(padded) +: rows.tail)
    val big = s.copy(manifests = Seq(dir.toString))
    val keep = FileSkipping.mayOverlap("k", LongType, lit(22L), lit(24L))
    val expected = t.scopeOf(s, keep).files
    val holding15 = GraftTable.normalize(fileOf(t, 15L))
    val hits = ManifestIO.localReadHits.get

    val (pruned, _, prunedJobs) = counted(t.scopeOf(big, keep).files)
    assert(pruned == expected)
    assert(prunedJobs == 1, s"scopeOf(s, keep) over the gate ran $prunedJobs jobs")

    val index = new GraftFileIndex(spark, t, t.schema, () => t.scopeOf(big))
    val (listed, _, listJobs) = counted(index.listFiles(Nil, Seq(kIs(15L))))
    assert(listed.flatMap(_.files).map(_.getPath.toString) == Seq(holding15))
    assert(listJobs == 1, s"listFiles over the gate ran $listJobs jobs")
    assert(ManifestIO.localReadHits.get == hits, "an over-gate read counted as driver-served")
  }
}
