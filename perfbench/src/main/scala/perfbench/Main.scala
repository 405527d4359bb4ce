package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `perfbench/run.py` builds and launches it:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json>
  *
  * It synthesizes the workload's inputs from the seed under `workDir`,
  * runs the workload against the engine's public entry points, checks the
  * outputs, and writes the raw run record (op timings, checks, spans, job
  * and stage records) to `out.json`. */
object Main {
  val workloads: Map[String, Harness => Unit] = Map(
    "ingest_maintain" -> IngestMaintain.run,
    "read_search" -> ReadSearch.run)

  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace> <workDir> <out>")
    val Array(workload, seed, seconds, trace, workDir, out) = args
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    // one client thread against local[nproc], as the engine's own mains run
    val jvmUpS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.fs.file.impl", "graft.sources.GraftLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, seed.toLong, seconds.toDouble, trace == "1",
      workDir)
    h.facts ++= Map("jvm_start_s" -> jvmUpS,
      "session_s" -> (System.nanoTime() - t0) / 1e9)
    try {
      run(h)
      h.facts("run_s") = (System.nanoTime() - t0) / 1e9
      Files.writeString(Paths.get(out), Harness.json(h.result(workload)))
    } finally spark.stop()
  }
}
