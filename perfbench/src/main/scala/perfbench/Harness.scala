package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Run state shared by the workloads: the timed-operation log, the output
  * checks, and the per-layer counters a workload reads from outside the
  * engine. Everything here is written once, as JSON, when the run ends;
  * `perfbench/stats.py` turns it into metrics. */
final class Harness(val spark: SparkSession, val seed: Long,
                    val seconds: Double, val traced: Boolean,
                    val workDir: String) {
  val trace = new Trace(spark.sparkContext)
  val rnd = new scala.util.Random(seed)
  val probe = new HostProbe(spark.sparkContext.defaultParallelism)

  /** "warmup", "untraced" or "traced": which part of the run an op is in. */
  var phase = "warmup"
  private val phaseWall = mutable.LinkedHashMap.empty[String, Double]

  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Workload-level values measured once per run (sizes, cache gates). */
  val facts = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  private def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** Times one call into the engine. A call that throws counts as failed
    * and returns None; its time is not recorded as a latency. */
  def op[T](kind: String, attrs: Map[String, Any] = Map.empty)
           (body: => T): Option[T] = {
    attempted += 1
    val probeMs = probe.ms()
    val footer0 = graft.PerfProbe.footerInventoryHits
    val local0 = graft.PerfProbe.manifestLocalHits
    val t0 = System.nanoTime()
    try {
      val (v, span) = trace.span(kind)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      ops += (attrs ++ Map("kind" -> kind, "ms" -> ms, "phase" -> phase,
        "probe_ms" -> probeMs, "span" -> span,
        "footer_hits" -> (graft.PerfProbe.footerInventoryHits - footer0),
        "local_hits" -> (graft.PerfProbe.manifestLocalHits - local0)))
      Some(v)
    } catch {
      case e: Throwable =>
        fail(s"$kind: $e")
        None
    }
  }

  /** Adds attributes measured after an op (file counts, plan times) to
    * the most recent op record. */
  def annotate(attrs: Map[String, Any]): Unit =
    if (ops.nonEmpty) ops(ops.size - 1) = ops.last ++ attrs

  /** One output check; a mismatch or an exception counts as failed. */
  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch {
      case e: Throwable => fail(s"$name: $e"); return
    }
    if (!ok) fail(s"check failed: $name")
  }

  /** Builds the workload's starting state `reps` times and records each
    * build's wall time; returns the last build's result. */
  def setup[T](reps: Int)(build: Int => T): T =
    (0 until reps).map { i =>
      val t0 = System.nanoTime()
      val v = build(i)
      setupS += (System.nanoTime() - t0) / 1e9
      v
    }.last

  /** Runs the untimed `warmup`, then the measured phases. Untraced runs
    * measure one phase of `seconds`; traced runs split the time into a
    * traced half and an untraced half, so the tracing overhead is their
    * difference within one process. A phase ends at the first multiple
    * of `cycle` steps after its time is up, so it always holds whole
    * cycles of the workload's op mix, and at least one. */
  def drive(warmup: () => Unit, cycle: Int)(step: () => Unit): Unit = {
    val w0 = System.nanoTime()
    warmup()
    phaseWall("warmup") = (System.nanoTime() - w0) / 1e9
    def measure(name: String, secs: Double): Unit = {
      phase = name
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      var n = 0
      while (n == 0 || n % cycle != 0 || System.nanoTime() < deadline) {
        step(); n += 1
      }
      phaseWall(name) = (System.nanoTime() - t0) / 1e9
    }
    if (!traced) measure("untraced", seconds)
    else {
      // the traced half runs first, so warming still under way counts
      // against tracing: the overhead is an upper bound
      trace.start()
      try measure("traced", seconds / 2) finally trace.stop()
      measure("untraced", seconds / 2)
    }
    phase = "end"
  }

  def result(workload: String): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
    "traced" -> traced, "cores" -> spark.sparkContext.defaultParallelism,
    "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
    "setup_s" -> setupS.toSeq, "phase_wall_s" -> phaseWall.toMap,
    "rss_peak_mb" -> Harness.rssPeakMb, "facts" -> facts.toMap,
    "ops" -> ops.toSeq, "spans" -> trace.spanRecords,
    "jobs" -> trace.jobRecords, "stages" -> trace.stageRecords)
}

object Harness {
  /** Runs each body on a thread of its own and waits for all of them;
    * the first failure is rethrown. */
  def parallel(bodies: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    try bodies.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = b()
    })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Minimal JSON rendering of maps, sequences, strings and numbers. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
