package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The long call site of every Spark job started while a body runs: the
  * result stage's stack plus that of the SQL execution the job belongs
  * to (jobs a query starts on Spark's own threads carry only pool
  * frames in their stages). */
object JobLog {
  def during[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sites = new ConcurrentLinkedQueue[String]
    val execSites = new ConcurrentHashMap[Long, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val stageSite =
          if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
        val execSite = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id.toLong))).getOrElse("")
        sites.add(stageSite + "\n" + execSite)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(1000) // the listener bus is asynchronous
      (out, sites.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs whose stack passes through the commit (manifest write). */
  def atCommit(sites: Seq[String]): Seq[String] =
    sites.filter(_.contains("graft.meta.GraftTable.commit"))

  /** Jobs whose stack passes through a commit dir's inventory. */
  def inInventory(sites: Seq[String]): Seq[String] =
    sites.filter(_.contains("graft.meta.GraftTable.inventory"))
}
