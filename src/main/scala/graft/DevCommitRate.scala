package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: commit-rate probe for the maintenance/CDC sink path —
  * the number that bounds micro-batch rate at 100 TB/day. Creates a
  * graft table, appends a seed, then times N small upsert commits
  * (the st11-shaped micro-batch) and N small append commits, printing
  * commits/sec and Spark jobs/commit. The metadata work per commit
  * (manifest write, inventory, log CAS) runs driver-local
  * (ManifestIO); the remaining jobs are the data writes themselves. */
object DevCommitRate {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.GraftLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(); ()
      })
    import graft.meta.GraftTable
    val loc = java.nio.file.Files.createTempDirectory("graft_rate")
      .resolve("t").toString
    val seed = spark.range(0, 100000)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
    val t = GraftTable.create(spark, loc, seed.schema)
    t.append(seed)
    // the listener bus is async: drain it before reading the counter or
    // the tail commits' job events leak into the next probe's baseline
    def settledJobs(): Int = { Thread.sleep(1000); jobs.get() }
    def probe(tag: String)(commit: Int => Unit): Unit = {
      // one untimed pass to warm codegen/classloading
      commit(-1)
      val j0 = settledJobs(); val t0 = System.nanoTime()
      (0 until n).foreach(commit)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""[commitrate] {"op":"$tag","n":$n,"sec":$sec%.2f,""" +
        f""""commits_per_sec":${n / sec}%.1f,""" +
        f""""jobs_per_commit":${(settledJobs() - j0).toDouble / n}%.1f}""")
    }
    probe("upsert") { i =>
      t.upsert(spark.range(0, 200)
        .select((col("id") * 131 + i).as("k"), lit(i.toLong).as("v")),
        Seq("k"))
    }
    // the SUSTAINED shape: a long-running upsert stream accumulates one
    // eq-delete file per commit and degrades unless delete-file
    // compaction runs periodically (the scheduler's job) — this arm
    // interleaves it every 10 commits, the production cadence
    probe("upsert_maintained") { i =>
      t.upsert(spark.range(0, 200)
        .select((col("id") * 137 + 31 * i).as("k"), lit(i.toLong).as("v")),
        Seq("k"))
      if (i % 10 == 9) { t.rewriteEqDeleteFiles(); t.rewriteDeleteFiles(); () }
    }
    probe("append") { i =>
      t.append(spark.range(0, 200)
        .select((col("id") + 1000000L * (i + 10)).as("k"),
          lit(i.toLong).as("v")))
    }

    // r17 item 1 (measured): CoW MERGE affected-file cost on a
    // range-CLUSTERED table vs whole-domain keys. files_touched/commit =
    // manifest rows REWRITTEN (dropped from the live set) per merge —
    // the discovery scan (RowLevel.merge → FileSkipping's key rules) must
    // touch only bounds-overlapping files, so clustered keys rewrite ~1
    // file while whole-domain keys rewrite every file.
    def probeMerge(tag: String, keysOf: Int => org.apache.spark.sql.DataFrame): Unit = {
      val loc = java.nio.file.Files.createTempDirectory("graft_rate")
        .resolve(tag).toString
      val tc = GraftTable.create(spark, loc, seed.schema)
      // 16 range-clustered files over k = 0..100000 (the q31/x13 layout);
      // pin the target file size to one seed file's bytes so CoW rewrites
      // preserve the 16-file granularity at this probe's tiny scale (at
      // the 128 MB default the whole probe table binpacks into one file
      // and both arms degenerate to files_touched=1)
      tc.append(seed.repartitionByRange(16, col("k")))
      val seedFileBytes = tc.files.select("size_bytes")
        .collect().map(_.getLong(0)).min
      tc.setProperties(Map(
        "write.target-file-size-bytes" -> seedFileBytes.toString))
      def liveSet() = tc.files.select("path").collect()
        .map(_.getString(0)).toSet
      var touched = 0L
      def commit(i: Int): Unit = {
        val before = liveSet()
        tc.merge(keysOf(i).select(col("k"), lit(i.toLong).as("v")), Seq("k"))
        if (i >= 0) touched += (before -- liveSet()).size
      }
      commit(-1)
      val j0 = settledJobs(); val t0 = System.nanoTime()
      (0 until n).foreach(commit)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""[commitrate] {"op":"$tag","n":$n,"sec":$sec%.2f,""" +
        f""""commits_per_sec":${n / sec}%.1f,""" +
        f""""jobs_per_commit":${(settledJobs() - j0).toDouble / n}%.1f,""" +
        f""""files_touched_per_commit":${touched.toDouble / n}%.2f}""")
    }
    // clustered: 200 keys inside ONE file's 6250-wide range
    probeMerge("merge_clustered", i =>
      spark.range(0, 200).select((col("id") + 400 * (i % 8)).as("k")))
    // whole-domain: 200 keys spread across the full key space
    probeMerge("merge_whole", i =>
      spark.range(0, 200).select((col("id") * 500 + i % 100).as("k")))
    // scattered (r19 item 6): two tight 100-key clusters at opposite
    // ends of the domain. Their min/max HULL spans nearly every file, so
    // the r18 hull test kept ~all 16; the exact key-set test
    // (FileSkipping.mayContainAny) keeps only the files the clusters land in
    // (~2 + rewrite splits).
    probeMerge("merge_scattered", i =>
      spark.range(0, 100).select((col("id") + 400 * (i % 8)).as("k"))
        .unionAll(spark.range(0, 100)
          .select((col("id") + 93000L + 400 * (i % 8)).as("k"))))
    spark.stop()
  }
}
