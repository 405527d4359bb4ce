package perfbench

import java.nio.file.{Files, Path => JPath, Paths}
import java.time.{Clock, Instant, ZoneId, ZoneOffset}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.GraftTable
import graft.sched.{ConfigStore, MaintenanceConfig, Scheduler}
import graft.sql.GraftSql

/** ingest_maintain: a synthetic write-and-maintain loop. A warehouse of
  * more tables than maintenance workers takes small commits through
  * every write entry point, each kind equally often in a fixed order,
  * with seeded keys and values; after every [[CommitsPerPass]] commits
  * one full maintenance pass runs through the config table. An injected
  * clock moves forward so every pass finds expired snapshots, due
  * optimize and analyze stamps, and the stray files this workload drops
  * under `data/` the way a crashed writer leaves them. The mix is not
  * taken from a trace; README.md gives the reason for each weight and
  * size. */
object IngestMaintain {
  val SeedRows = 5000L
  val Kinds: Seq[String] = Seq("meta.append", "meta.upsert",
    "meta.delete_mor", "cmd.merge", "sql.delete", "sql.update")
  /** One cycle's commits, each kind twice. The order is fixed, so a kind
    * meets the same table state in every run and only its seeded keys
    * and values vary. */
  val CycleKinds: Seq[String] = Kinds ++ Kinds
  val CommitsPerPass: Int = CycleKinds.size
  private val HourMs = 3600000L
  private val DayMs = 24 * HourMs

  /** A clock the workload moves by hand, starting at the current time. */
  final class MovingClock(start: Long) extends Clock {
    @volatile var ms: Long = start
    def advance(d: Long): Unit = ms += d
    override def getZone: ZoneId = ZoneOffset.UTC
    override def withZone(zone: ZoneId): Clock = this
    override def instant(): Instant = Instant.ofEpochMilli(ms)
    override def millis(): Long = ms
  }

  /** Rows of the table schema for the given (k, v) pairs; the other
    * columns derive from k, so the model only tracks k -> v. */
  def rows(spark: SparkSession, kv: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    withDerived(kv.toDF("k", "v"))
  }

  private def withDerived(df: DataFrame): DataFrame = df.select(
    col("k"), col("v"),
    (col("k") % 50 + 1).cast("double").as("qty"),
    element_at(array(lit("A"), lit("N"), lit("R")),
      (col("k") % 3 + 1).cast("int")).as("flag"),
    timestamp_seconds(lit(694224000L) + (col("k") % 2500) * 86400L).as("ship"))

  def run(h: Harness): Unit = {
    val spark = h.spark
    // one worker: the pass runs its tables in a fixed order, so its time
    // does not depend on which tasks happen to overlap
    val workers = 1
    val nTables = workers + 1
    val clock = new MovingClock(System.currentTimeMillis())
    val env = Map("NUM_WORKERS" -> workers.toString)
    h.facts ++= Map("tables" -> nTables, "num_workers" -> workers,
      "seed_rows_per_table" -> SeedRows, "commits_per_pass" -> CommitsPerPass)

    val (wh, models) = h.setup(3) { i =>
      val wh = s"${h.workDir}/ingest/wh$i"
      val seeds = Seq.fill(nTables)(
        (0L until SeedRows).map(k => k -> h.rnd.nextInt(1000).toLong))
      // one writer per table
      Harness.parallel(seeds.indices.map(n => () => {
        GraftTable.create(spark, s"$wh/t$n", rows(spark, Seq(0L -> 0L)).schema)
          .append(rows(spark, seeds(n)), clock)
      }): _*)
      val models = seeds.map(kv => mutable.LongMap(kv: _*))
      ConfigStore.at(spark, wh, env).createIfNotExists()
        .insert((0 until nTables).map(n => MaintenanceConfig(s"t$n",
          should_analyze = Some(1), last_analyzed_on = None,
          days_to_analyze = Some(1), columns_to_analyze = Some(Seq("k", "v")),
          should_optimize = Some(1), last_optimized_on = None,
          days_to_optimize = Some(1), should_expire_snapshots = Some(1),
          retention_days_snapshots = Some(1),
          should_remove_orphan_files = Some(1),
          retention_days_orphan_files = Some(1))): _*)
      (wh, models)
    }
    val nextKey = Array.fill(nTables)(SeedRows)
    def loc(n: Int) = s"$wh/t$n"
    def table(n: Int) = GraftTable.load(spark, loc(n))
    val resolve: String => GraftTable = name => GraftTable.load(spark, s"$wh/$name")

    def existing(n: Int, count: Int): Seq[Long] = {
      val keys = models(n).keysIterator.toIndexedSeq
      Seq.fill(count)(keys(h.rnd.nextInt(keys.size))).distinct
    }
    def fresh(n: Int, count: Int): Seq[Long] = {
      val ks = nextKey(n) until nextKey(n) + count
      nextKey(n) += count
      ks
    }
    /** A key range [lo, lo + width) starting at a live key. */
    def range(n: Int, width: Long): (Long, Long) = {
      val lo = existing(n, 1).head
      (lo, lo + width - 1)
    }
    def newValues(keys: Seq[Long]): Seq[(Long, Long)] =
      keys.map(k => k -> h.rnd.nextInt(1000).toLong)

    def removeRange(m: mutable.LongMap[Long], lo: Long, hi: Long): Unit = {
      val before = m.size
      m.filterInPlace { case (k, _) => k < lo || k > hi }
      h.annotate(Map("rows" -> (before - m.size)))
    }

    def commit(kind: String, n: Int): Unit = {
      val t = table(n)
      val m = models(n)
      val state = metaState(t)
      kind match {
        case "meta.append" =>
          val kv = newValues(fresh(n, 500))
          h.op(kind, state + ("rows" -> kv.size))(
            t.append(rows(spark, kv), clock)).foreach(_ => m ++= kv)
        case "meta.upsert" =>
          val kv = newValues(existing(n, 150) ++ fresh(n, 150))
          h.op(kind, state + ("rows" -> kv.size))(
            t.upsert(rows(spark, kv), Seq("k"), clock)).foreach(_ => m ++= kv)
        case "cmd.merge" =>
          val kv = newValues(existing(n, 100) ++ fresh(n, 100))
          val before = liveFiles(t)
          h.op(kind, state + ("rows" -> kv.size))(
            t.merge(rows(spark, kv), Seq("k"), clock))
            .foreach { _ =>
              m ++= kv
              h.annotate(Map("files_rewritten" ->
                (before.keySet -- liveFiles(t).keySet).size))
            }
        case "meta.delete_mor" =>
          val (lo, hi) = range(n, 200)
          h.op(kind, state)(t.deleteWhereMOR(col("k").between(lo, hi), clock))
            .foreach(_ => removeRange(m, lo, hi))
        case "sql.delete" =>
          val (lo, hi) = range(n, 200)
          h.op(kind, state)(GraftSql.exec(spark,
            s"""DELETE FROM "t$n" WHERE k BETWEEN $lo AND $hi""", resolve, clock))
            .foreach(_ => removeRange(m, lo, hi))
        case "sql.update" =>
          val (lo, hi) = range(n, 300)
          h.op(kind, state)(GraftSql.exec(spark,
            s"""UPDATE "t$n" SET v = v + 1 WHERE k BETWEEN $lo AND $hi""",
            resolve, clock))
            .foreach { _ =>
              val hit = m.keysIterator.filter(k => k >= lo && k <= hi).toSeq
              hit.foreach(k => m(k) += 1)
              h.annotate(Map("rows" -> hit.size))
            }
      }
      clock.advance(HourMs)
    }

    def maintenancePass(): Unit = {
      clock.advance(2 * DayMs)
      val strays = (0 until nTables).map(n => dropStray(loc(n)))
      val before = (0 until nTables).map(n => snapshotIds(table(n)))
      val liveBefore = (0 until nTables).map(n => liveFiles(table(n)))
      val diskBefore = (0 until nTables).map(n => dataFiles(loc(n)))
      val loads = mutable.ArrayBuffer.empty[Double]
      val timedResolve: String => GraftTable = name => {
        val t0 = System.nanoTime()
        val (t, _) = h.trace.span("sched.table_load")(resolve(name))
        loads.synchronized(loads += (System.nanoTime() - t0) / 1e6)
        t
      }
      val results = h.op("sched.pass") {
        new Scheduler(ConfigStore.at(spark, wh, env), timedResolve,
          numWorkers = workers, clock = clock).run()
      }
      results.foreach(_.foreach(r =>
        h.check(s"maintenance task ${r.fold(_.config.table_name, identity)}")(
          r.isRight)))
      // what each command did, read from the snapshot log and the disk
      var removed, expireDeleted, orphanDeleted = 0L
      var filesIn, filesOut, bytesOut = 0L
      (0 until nTables).foreach { n =>
        val t = table(n)
        removed += (before(n) -- snapshotIds(t)).size
        val live = liveFiles(t)
        filesIn += (liveBefore(n).keySet -- live.keySet).size
        val added = live.keySet -- liveBefore(n).keySet
        filesOut += added.size
        bytesOut += added.toSeq.map(live).sum
        val gone = diskBefore(n) -- dataFiles(loc(n))
        orphanDeleted += (gone & Set(strays(n))).size
        expireDeleted += (gone - strays(n)).size
      }
      h.annotate(Map("snapshots_removed" -> removed,
        "expire_files_deleted" -> expireDeleted,
        "orphan_files_deleted" -> orphanDeleted,
        "optimize_files_in" -> filesIn, "optimize_files_out" -> filesOut,
        "optimize_bytes_rewritten" -> bytesOut,
        "table_load_ms" -> loads.toSeq, "space_amp" -> spaceAmp()))
      // the moving clock and the strays must give every command work
      h.check("pass expired snapshots")(removed > 0)
      h.check("pass removed orphan files")(orphanDeleted > 0)
      h.check("pass compacted files")(filesIn > 0)
      (0 until nTables).foreach(n => checkModel(n))
    }

    def spaceAmp(): Double = {
      val disk = (0 until nTables).map(n => dirBytes(Paths.get(loc(n)))).sum
      val live = (0 until nTables).map(n =>
        table(n).currentSnapshot.map(_.totalBytes).getOrElse(0L)).sum
      disk.toDouble / live
    }

    def checkModel(n: Int): Unit = {
      val m = models(n)
      val want = (m.size.toLong, m.keysIterator.sum, m.valuesIterator.sum,
        m.iterator.map { case (k, v) => k * v }.sum)
      val t = table(n)
      h.check(s"t$n scan equals model") {
        val r = t.read.agg(count(lit(1)), sum("k"), sum("v"),
          sum(col("k") * col("v"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == want
      }
      h.check(s"t$n rowCount equals model")(t.rowCount == m.size)
      h.check(s"t$n count(*) fold equals model")(
        spark.read.format("graft").load(loc(n)).count() == m.size)
    }

    // one cycle: the commits, spread evenly over the tables in turn, then
    // a maintenance pass
    var commits = 0
    def commitNext(k: String): Unit = {
      commit(k, commits % nTables)
      commits += 1
    }
    val steps = mutable.Queue.empty[() => Unit]
    val step: () => Unit = () => {
      if (steps.isEmpty) {
        steps ++= CycleKinds.map(k => () => commitNext(k))
        steps += (() => maintenancePass())
      }
      steps.dequeue()()
    }
    // the warm-up is each kind once; the measured pass is the process's
    // first, as for a maintenance job that a scheduler starts afresh
    h.drive(() => Kinds.foreach(commitNext), cycle = CommitsPerPass + 1)(step)
    val live = (0 until nTables).map(n => table(n).currentSnapshot)
    h.facts ++= Map(
      "rows_live" -> live.flatten.map(_.totalRows).sum,
      "live_bytes" -> live.flatten.map(_.totalBytes).sum)
  }

  /** Snapshot-log state of one table before a write: the history the
    * commit has to read and extend. */
  def metaState(t: GraftTable): Map[String, Any] = {
    val snaps = t.snapshots
    val cur = graft.meta.SnapshotLog.current(snaps)
    val logDir = Paths.get(t.location, "_graft", "log")
    val logBytes = if (!Files.isDirectory(logDir)) 0L else {
      val vs = Files.list(logDir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".snapshots.json")).toSeq
      if (vs.isEmpty) 0L else Files.size(vs.maxBy(_.getFileName.toString))
    }
    val manifests = cur.toSeq.flatMap(s =>
      s.manifests ++ s.deleteManifests ++ s.eqDeleteManifests)
    Map("snapshots_live" -> snaps.size, "log_bytes" -> logBytes,
      "manifests" -> manifests.size,
      "manifest_bytes" -> manifests.map(p => dirBytes(localPath(p))).sum,
      "files_live" -> cur.map(_.numFiles).getOrElse(0L),
      "delete_files_live" -> cur.map(s =>
        s.deleteFileCount.getOrElse(0L) + s.eqDeleteFileCount.getOrElse(0L))
        .getOrElse(0L))
  }

  def snapshotIds(t: GraftTable): Set[Long] = t.snapshots.map(_.snapshotId).toSet

  /** Live data files of the current snapshot: path -> size. */
  def liveFiles(t: GraftTable): Map[String, Long] =
    t.files.select("path", "size_bytes").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def localPath(p: String): JPath =
    Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath)

  /** Every regular file under `root`, checksum files included. */
  def dirBytes(root: JPath): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** Data files under `<table>/data`, checksum sidecars excluded. */
  def dataFiles(tableLoc: String): Set[String] = {
    val root = Paths.get(tableLoc, "data")
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(_.toString).toSet
      finally s.close()
    }
  }

  /** A truncated parquet file in a fresh commit directory, as a writer
    * that crashed before its commit leaves behind. */
  def dropStray(tableLoc: String): String = {
    val dir = Paths.get(tableLoc, "data", UUID.randomUUID().toString)
    Files.createDirectories(dir)
    val f = dir.resolve(s"part-00000-${UUID.randomUUID()}-c000.snappy.parquet")
    Files.write(f, "PAR1".getBytes ++ Array.fill[Byte](4096)(7))
    f.toString
  }
}
