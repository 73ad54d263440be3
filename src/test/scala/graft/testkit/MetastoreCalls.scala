package graft.testkit

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the metastore round-trips of one block of code, beside
  * [[SparkJobs]]: the Hive client calls it makes
  * (`HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS`) and the SQL executions
  * it starts (`SparkListenerSQLExecutionStart`). The client-call counter is
  * process-wide, so a figure is exact only while no other suite talks to
  * the metastore; forked suites run one at a time. SQL executions are
  * matched by a job tag that the block's thread carries. The metastore
  * budget specs pin their figures with it.
  */
object MetastoreCalls {
  final case class Calls(hiveClient: Long, sqlExecutions: Int)

  def of[A](spark: SparkSession)(body: => A): (A, Calls) = {
    val sc = spark.sparkContext
    val tag = s"graft-test-metastore-${java.util.UUID.randomUUID()}"
    val marker = s"$tag-end"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobTags.find(t => t == tag || t == marker).foreach(seen.add)
        case _ =>
      }
    }
    def tagged[B](t: String)(b: => B): B = {
      sc.addJobTag(t)
      try b finally sc.removeJobTag(t)
    }
    sc.addSparkListener(listener)
    try {
      val counter = HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS
      val before = counter.getCount
      val result = tagged(tag)(body)
      val calls = counter.getCount - before
      // one listener queue delivers events in order: once the marker's
      // execution has been seen, so has every execution `body` started
      tagged(marker)(spark.range(1).collect())
      val deadline = System.currentTimeMillis() + 30000
      def markerSeen = seen.asScala.exists(_ == marker)
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markerSeen, "the marker execution never reached the listener")
      (result, Calls(calls, seen.asScala.count(_ == tag)))
    } finally sc.removeSparkListener(listener)
  }
}
