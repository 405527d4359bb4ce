package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, plus the Spark
  * jobs and stages they caused, kept in memory and written out once.
  *
  * A span sets the Spark local property [[SpanProp]] on the calling
  * thread, so every job it starts carries the span id; pools the engine
  * creates inside the span (the maintenance scheduler's workers) inherit
  * the property. Nothing is recorded until [[start]] is called: the
  * untraced phases run with no listener and no span bookkeeping. */
final class Trace(sc: SparkContext) {
  import Trace._

  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis()
  /** Epoch milliseconds with sub-millisecond resolution — the clock job
    * events use, so span and job intervals can be intersected. */
  def nowMs: Double = millis0 + (System.nanoTime() - nanos0) / 1e6

  @volatile private var on = false
  def enabled: Boolean = on

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val listener = new JobListener

  def start(): Unit = { sc.addSparkListener(listener); on = true }

  /** Stop recording; waits until the listener has seen every event. */
  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.PerfBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Runs `body` inside a span named `name`. Returns the body's value and
    * the span id (0 when tracing is off). */
  def span[T](name: String)(body: => T): (T, Long) =
    if (!on) (body, 0L)
    else {
      val parent = Option(sc.getLocalProperty(SpanProp)).map(_.toLong)
        .getOrElse(0L)
      val op = Option(sc.getLocalProperty(OpProp)).map(_.toLong)
      val id = ids.incrementAndGet()
      val s = Span(id, name, parent, op.getOrElse(id), nowMs)
      sc.setLocalProperty(SpanProp, id.toString)
      if (op.isEmpty) sc.setLocalProperty(OpProp, id.toString)
      try (body, id)
      finally {
        s.end = nowMs
        spans.synchronized(spans += s)
        sc.setLocalProperty(SpanProp, if (parent == 0L) null else parent.toString)
        if (op.isEmpty) sc.setLocalProperty(OpProp, null)
      }
    }

  def spanRecords: Seq[Map[String, Any]] = spans.synchronized(spans.toList)
    .sortBy(_.id).map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end))

  def jobRecords: Seq[Map[String, Any]] = listener.jobs.values.asScala.toSeq
    .sortBy(_.id).map(j => Map("id" -> j.id, "span" -> j.span,
      "start" -> j.start.toDouble, "end" -> j.end.toDouble,
      "stages" -> j.stages, "callsite" -> j.callsite))

  def stageRecords: Seq[Map[String, Any]] =
    listener.stages.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int])
      .map(s => s + ("max_result_bytes" ->
        listener.maxResult.getOrDefault(s("id").asInstanceOf[Int], 0L)))
}

object Trace {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"

  final case class Span(id: Long, name: String, parent: Long, op: Long,
                        start: Double) { var end: Double = start }

  final case class Job(id: Int, span: Long, start: Long, stages: Seq[Int],
                       callsite: String) { @volatile var end: Long = start }

  private final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stages = new ConcurrentHashMap[Int, Map[String, Any]]()
    val maxResult = new ConcurrentHashMap[Int, Long]()
    /** SQL execution id -> the long call site of the thread that started
      * it. Jobs an execution runs on Spark's own pools (broadcasts,
      * adaptive stages) carry only pool frames in their stage details. */
    private val execCallsite = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execCallsite.put(s.executionId, s.details)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      // the result stage is created last, so it has the highest id; its
      // details are the long call site of the action that ran the job
      val stageSite = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).details
      val execSite = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execCallsite.get(id.toLong))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, span, e.time, e.stageIds,
        stageSite + "\n" + execSite))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.put(i.stageId, Map("id" -> i.stageId, "tasks" -> i.numTasks,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "input_bytes" -> m.inputMetrics.bytesRead))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        maxResult.merge(e.stageId, e.taskMetrics.resultSize,
          (a: Long, b: Long) => math.max(a, b))
  }
}
