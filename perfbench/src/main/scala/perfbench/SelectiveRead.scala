package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.meta.{GraftTable, ManifestIO}
import graft.sql.GraftSql

/** The read half of read_search: a seeded mix of point, range,
  * unclustered, count(*) and time-travel queries through Trino-spelled
  * SQL ([[GraftSql.exec]]) and `spark.read.format("graft")`, with no
  * commits. Three copies of one lineitem-shaped table, range-clustered
  * on l_orderkey into the same 16 files:
  *
  *   - `small`: manifests of a few KB, far below
  *     [[ManifestIO.LocalReadMaxBytes]], so planning reads them on the
  *     driver from the manifest cache;
  *   - `large`: the same files with a bloom filter on the key, sized
  *     for 2.25M-row files and written uncompressed, so its manifests
  *     exceed the gate and every plan reads them with a Spark job, the
  *     path a very large table takes;
  *   - `mor`: carries an outstanding merge-on-read delete file and is
  *     read through [[GraftTable.read]]; time travel reads it as of its
  *     first snapshot, before the delete.
  *
  * Each query's rows are checked against the same predicate over a plain
  * parquet read of the source. */
object SelectiveRead {
  val Rows = 16000L
  val Orders: Long = Rows / 4
  val Files = 16
  val BloomColumns = "l_orderkey"
  val BloomExpectedRows = 2250000L
  val Projection: Seq[String] = Seq("l_orderkey", "l_linenumber",
    "l_partkey", "l_extendedprice", "l_shipdate")

  /** The query mix, one round: (query type, table, entry point). */
  val Round: Seq[(String, String, String)] = Seq(
    ("point", "small", "source"), ("point", "large", "source"),
    ("range", "small", "source"), ("range", "large", "source"),
    ("range", "large", "sql"),
    ("unclustered", "small", "source"), ("unclustered", "large", "source"),
    ("count", "small", "sql"), ("count", "large", "source"),
    ("asof", "mor", "sql"), ("mor_point", "mor", "table"),
    ("mor_range", "mor", "table"))

  /** One built copy of the tables, and the key range the delete removed
    * from `mor`. */
  final case class Tables(dir: String, deleted: (Long, Long))

  private object Plans extends AdaptiveSparkPlanHelper

  /** Writes the seeded source as plain parquet: the input the tables are
    * built from and, cached on first use, the reference the checks read. */
  def source(h: Harness): DataFrame = {
    val src = s"${h.workDir}/read/source/lineitem.parquet"
    Data.lineitem(h.spark, Rows, h.seed).write.parquet(src)
    h.spark.read.parquet(src).cache()
  }

  private def clustered(df: DataFrame) =
    df.repartitionByRange(Files, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")

  /** Builds the three tables under a fresh directory, one writer each. */
  def build(h: Harness, source: DataFrame, rep: Int): Tables = {
    val spark = h.spark
    val dir = s"${h.workDir}/read/tables$rep"
    val lo = 1 + (h.rnd.nextDouble() * (Orders - 2000)).toLong
    Harness.parallel(
      () => GraftTable.create(spark, s"$dir/small", source.schema)
        .append(clustered(source)),
      () => {
        // manifests are written with the writing session's codec, so this
        // copy is written from a session of its own with manifests
        // uncompressed; the table property keeps the data compressed
        val codec = "spark.sql.parquet.compression.codec"
        val own = spark.newSession()
        own.conf.set(codec, "uncompressed")
        val t = GraftTable.create(own, s"$dir/large", source.schema)
        t.setProperties(Map("write.bloom-filter.columns" -> BloomColumns,
          "write.bloom-filter.expected-rows" -> BloomExpectedRows.toString,
          "write.parquet.compression-codec" -> spark.conf.get(codec)))
        t.append(clustered(source))
      },
      () => {
        val mor = GraftTable.create(spark, s"$dir/mor", source.schema)
        mor.append(clustered(source))
        mor.deleteWhereMOR(col("l_orderkey").between(lo, lo + 999))
      })
    Tables(dir, (lo, lo + 999))
  }

  /** Records the tables' sizes against the manifest gate, and checks
    * that each table sits on its intended side of it. */
  def describe(h: Harness, t: Tables): Unit = {
    def table(n: String) = GraftTable.load(h.spark, s"${t.dir}/$n")
    val names = Seq("small", "large", "mor")
    val manifestBytes = names.map { n =>
      n -> table(n).currentSnapshot.toSeq.flatMap(s =>
        s.manifests ++ s.deleteManifests).map(p =>
          IngestMaintain.dirBytes(IngestMaintain.localPath(p))).sum
    }.toMap
    h.facts ++= Map("read_rows" -> Rows,
      "read_files" -> names.map(n =>
        n -> table(n).currentSnapshot.map(_.numFiles).getOrElse(0L)).toMap,
      "manifest_bytes" -> manifestBytes,
      "local_read_max_bytes" -> ManifestIO.LocalReadMaxBytes,
      "mor_delete_files" -> table("mor").currentSnapshot
        .flatMap(_.deleteFileCount).getOrElse(0L))
    h.check("small table is planned under the local-read gate")(
      manifestBytes("small") < ManifestIO.LocalReadMaxBytes)
    h.check("large table is planned over the local-read gate")(
      manifestBytes("large") > ManifestIO.LocalReadMaxBytes)
  }

  private def timestampLit(day: Int): String =
    java.time.LocalDate.of(1992, 1, 2).plusDays(day).toString + " 00:00:00"

  private def digest(rows: Array[Row]): (Int, Long) =
    (rows.length, rows.iterator.map(_.toString.hashCode.toLong).sum)

  /** One round of the query mix in a seeded order, as steps. */
  def round(h: Harness, source: DataFrame, t: Tables): Seq[() => Unit] = {
    val spark = h.spark
    def table(n: String) = GraftTable.load(spark, s"${t.dir}/$n")
    val resolve: String => GraftTable = table
    val oldest = table("mor").snapshots.map(_.snapshotId).min
    val notDeleted: Column =
      !col("l_orderkey").between(t.deleted._1, t.deleted._2)

    /** The DataFrame to time, and the same query over the plain source. */
    def query(qtype: String, tname: String, via: String)
        : (() => DataFrame, DataFrame) = {
      val ok = 1 + (h.rnd.nextDouble() * (Orders - 400)).toLong
      val cols = Projection.mkString(", ")
      val (pred, where) = qtype match {
        case "point" | "mor_point" =>
          (col("l_orderkey") === ok, s"l_orderkey = $ok")
        case "range" | "mor_range" | "asof" =>
          (col("l_orderkey").between(ok, ok + 299),
            s"l_orderkey BETWEEN $ok AND ${ok + 299}")
        case "unclustered" =>
          val d = h.rnd.nextInt(2400)
          val (a, b) = (timestampLit(d), timestampLit(d + 2))
          (col("l_shipdate") >= to_timestamp(lit(a)) &&
            col("l_shipdate") < to_timestamp(lit(b)),
            s"l_shipdate >= TIMESTAMP '$a' AND l_shipdate < TIMESTAMP '$b'")
        case "count" => (lit(true), "")
      }
      val loc = s"${t.dir}/$tname"
      def graft = spark.read.format("graft").load(loc)
      def project(df: DataFrame) = df.select(Projection.map(col): _*)
      val run: () => DataFrame = (qtype, via) match {
        case ("count", "sql") => () => GraftSql.exec(spark,
          s"""SELECT count(*) AS n FROM "$tname"""", resolve).get
        case ("count", _) => () => graft.groupBy().count()
        case ("asof", "sql") => () => project(GraftSql.exec(spark,
          s"""SELECT * FROM "$tname" FOR VERSION AS OF $oldest""",
          resolve).get.filter(pred))
        case ("asof", _) => () => project(spark.read.format("graft")
          .option("snapshotId", oldest.toString).load(loc).filter(pred))
        case (_, "sql") => () => GraftSql.exec(spark,
          s"""SELECT $cols FROM "$tname" WHERE $where""", resolve).get
        case (_, "table") => () => project(table(tname).read.filter(pred))
        case _ => () => project(graft.filter(pred))
      }
      val ref = qtype match {
        case "count" => source.groupBy().count()
        case "mor_point" | "mor_range" =>
          project(source.filter(notDeleted && pred))
        case _ => project(source.filter(pred))
      }
      (run, ref)
    }

    h.rnd.shuffle(Round).map { case (qtype, tname, via) => () =>
      val (run, ref) = query(qtype, tname, via)
      var df: DataFrame = null
      h.op(s"sources.$qtype", Map("table" -> tname, "via" -> via)) {
        df = run()
        df.collect()
      }.foreach { rows =>
        val scans = Plans.collect(df.queryExecution.executedPlan) {
          case s: FileSourceScanExec => s
        }
        def metric(name: String) = scans.map(s =>
          s.metrics.get(name).map(_.value).getOrElse(0L)).sum
        val snap = if (qtype == "asof")
          table(tname).snapshots.find(_.snapshotId == oldest)
        else table(tname).currentSnapshot
        h.annotate(Map(
          "files_total" -> snap.map(_.numFiles).getOrElse(0L),
          "files_read" -> metric("numFiles"),
          "bytes_read" -> metric("filesSize"),
          "scans" -> scans.size,
          "plan_ms" -> df.queryExecution.tracker.phases.values
            .map(_.durationMs).sum))
        h.check(s"$qtype on $tname via $via matches the parquet source")(
          digest(rows) == digest(ref.collect()))
      }
    }
  }
}
