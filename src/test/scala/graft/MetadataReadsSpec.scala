package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.meta.GraftTable
import graft.sources.GraftRawLocalFileSystem

/** Table metadata read per op: each op reads the log head once and
  * passes that value down, so an op costs one log listing and one log
  * read besides its claims, and touches no other metadata file. The
  * table is [[RowLevelJobsSpec]]'s: 4 files, one position delete and one
  * equality delete outstanding. */
class MetadataReadsSpec extends SparkSpec {
  import spark.implicits._

  private def table(loc: String): Unit = {
    val t = GraftTable.create(spark, loc,
      spark.range(1).select(col("id"), lit("x").as("tag")).schema)
    t.append(spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("tag"))
      .repartitionByRange(4, col("id")))
    t.deleteWhereMOR(col("id").between(100, 109))
    t.deleteByKeys(Seq(600L, 601L).toDF("id"))
  }

  private val ops: Seq[(String, GraftTable => Any)] = Seq(
    ("read", _.read.collect()),
    ("append", _.append(Seq((2000L, "a")).toDF("id", "tag"))),
    ("upsert", _.upsert(Seq((5L, "U"), (2001L, "N")).toDF("id", "tag"), Seq("id"))),
    ("merge", _.merge(Seq((5L, "M"), (2002L, "N")).toDF("id", "tag"), Seq("id"))),
    ("deleteByKeys", _.deleteByKeys(Seq(5L, 6L).toDF("id"))),
    ("updateWhere", _.updateWhere(col("id").between(300, 309), Map("tag" -> lit("U")))),
    ("CoW delete", _.deleteWhere(col("id").between(300, 309))),
    ("MOR delete", _.deleteWhereMOR(col("id").between(400, 409))),
    ("optimize", _.optimize()))

  private val sideFiles =
    Seq("schema.json", "properties.json", "partition.json", "_graft/schemas")

  ops.foreach { case (name, op) =>
    test(s"$name reads the log once besides its claims and no side file") {
      val loc = tmpDir("metareads") + "/t"
      table(loc)
      val calls = CountingFileSystem.during(spark)(op(GraftTable.load(spark, loc)))
      def count(kind: String)(at: Path => Boolean) =
        calls.count { case (k, p) => k == kind && at(p) }
      val claims = count("create")(p => p.getParent.getName == "log" &&
        p.getName.startsWith(".tmp-"))
      val listings = count("list")(p => p.getName == "log" && p.getParent.getName == "_graft")
      val reads = count("open")(_.getName.endsWith(".snapshots.json"))
      val side = calls.collect { case (k, p) if sideFiles.exists(p.toString.contains) => s"$k $p" }
      assert(claims >= (if (name == "read") 0 else 1), s"$name claimed $claims times")
      assert(side.isEmpty, s"$name touched side files:\n${side.mkString("\n")}")
      // a claim lists the log to read its head and again to drop old
      // versions, and reads the head once
      assert(listings - 2 * claims <= 1 && reads - claims <= 1,
        s"$name: $listings log listings and $reads log reads for $claims claims")
    }
  }
}

/** A `file:` filesystem recording every open, listing, stat and create
  * by path, installed as `fs.file.impl` by [[CountingFileSystem.during]]. */
final class CountingFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem) {
  import CountingFileSystem.record

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f); super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    record("list", f); super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    record("stat", f); super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    record("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingFileSystem {
  @volatile private var calls: ConcurrentLinkedQueue[(String, Path)] = null

  private def record(kind: String, p: Path): Unit = {
    val c = calls
    if (c != null) c.add(kind -> p)
  }

  /** Run `body` with handles it creates on `spark` going through a
    * fresh counting filesystem; the calls they made. */
  def during(spark: org.apache.spark.sql.SparkSession)(body: => Any): Seq[(String, Path)] = {
    val c = new ConcurrentLinkedQueue[(String, Path)]
    spark.conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    calls = c
    try body
    finally {
      calls = null
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    c.asScala.toSeq
  }
}
