package graft.testkit

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs one block of code submits, while other suites
  * share the SparkContext: the block's thread carries a job-local tag,
  * which threads it starts (broadcasts, `Par` pools) inherit, and a
  * listener keeps the tagged jobs. The job budget specs pin their
  * figures with it.
  */
object SparkJobs {
  private val Tag = "graft.test.jobBudget"

  /** A job as its call site and the operators its stages run, e.g.
    * `collect at X.scala:12 (Exchange, Scan parquet)`.
    */
  private def describe(e: SparkListenerJobStart): String = {
    val site = e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)
    val ops = e.stageInfos.flatMap(_.rddInfos.flatMap(_.scope.map(_.name.trim)))
      .filterNot(_.startsWith("WholeStageCodegen")).distinct
    s"$site (${ops.mkString(", ")})"
  }

  /** `body`'s result and a description of every job it submitted, in
    * submission order.
    */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val marker = s"$id-end"
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(t =>
          seen.add(t -> describe(e)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, id)
      val result = body
      // one listener queue delivers events in order: once a job started
      // after `body` has been seen, so has every job `body` started
      sc.setLocalProperty(Tag, marker)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      def markerSeen = seen.asScala.exists(_._1 == marker)
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(markerSeen, "the marker job never reached the listener")
      (result, seen.asScala.collect { case (`id`, site) => site }.toSeq)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
