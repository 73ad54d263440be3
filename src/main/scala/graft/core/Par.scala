package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from driver threads — the
  * optimization-guide §2.6 pattern ("actions are only sequential because
  * your driver code calls them sequentially"). The profiled query surface
  * is fixed-overhead bound, not compute bound: the hot lifecycle entries
  * run 30–120 sequential Spark jobs at 2–20% executor utilization, so the
  * wall clock is the SUM of per-job latencies while the cluster idles.
  * Submitting independent actions (store builds over disjoint dirs,
  * read-only audits of different artifacts, per-version check queries)
  * from a small thread pool lets the scheduler back-fill the tail of one
  * job with the next job's tasks — at any scale, this converts
  * sum-of-latencies into max-of-chains without touching a single plan.
  *
  * Semantics: results return in INPUT order (never completion order), so
  * callers assemble deterministic outputs; the first failure propagates
  * its ORIGINAL exception (same observable behavior as the sequential
  * loop it replaces) and CANCELS the sibling thunks' Spark jobs (each
  * pool thread runs under a per-call job group; the failure path
  * cancels the group's in-flight AND future jobs before rethrowing, so
  * a failed leg leaves no orphan sibling jobs writing to stores while
  * the caller unwinds — sibling thunks themselves still run to their
  * next action, which fails fast on the cancelled group). Par calls
  * nested inside a thunk are cancelled with it, including ones that
  * start after the failure. The pool is per-call and daemonized, so a
  * JVM exit is never held up; only a failed call's job-group id
  * outlives the call.
  *
  * Spark-specific notes: concurrent actions on one SparkSession are a
  * supported, documented pattern (FIFO scheduling back-fills by default);
  * job groups/descriptions are thread-local, so concurrent jobs label
  * correctly in the UI. Callers are responsible for independence — no
  * thunk may write where another reads.
  */
private[graft] object Par {

  /** Jobs in flight when [[ParallelismConf]] is unset. The guide's "2–3
    * is plenty" targets long compute jobs on a shared cluster; these are
    * sub-second metadata-heavy jobs on an otherwise-idle driver, where
    * the fixed per-job latency (plan, codegen, schedule, commit) is the
    * cost being hidden — a deeper pool keeps the driver's planning
    * thread and the executors busy at once.
    */
  private val DefaultParallelism = 8

  /** Session conf overriding the in-flight action count. On a SHARED
    * cluster set it to the guide's 2–3: eight concurrent actions from
    * one application would fight real workloads for executors there,
    * while the local default hides sub-second job latency on an
    * otherwise-idle box.
    */
  val ParallelismConf = "spark.graft.par.parallelism"

  private def configuredParallelism: Int =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(ParallelismConf))
      .map { raw =>
        val n = raw.trim.toIntOption.filter(_ >= 1)
        require(n.nonEmpty,
          s"$ParallelismConf must be an integer >= 1, got '$raw'")
        n.get
      }
      .getOrElse(DefaultParallelism)

  private val factory = new ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  private val groupSeq = new java.util.concurrent.atomic.AtomicLong

  /** Groups of failed calls, oldest first. Kept after the call returns,
    * because a job a sibling submitted can outlive the sibling's thread;
    * bounded like Spark's own set of cancelled job groups.
    */
  private val cancelledGroups = new java.util.LinkedHashSet[String]
  private var listening: Option[SparkContext] = None

  private def isCancelled(group: String): Boolean =
    synchronized(cancelledGroups.contains(group))

  /** Spark fails a cancelled group's later jobs at submission, but not
    * the shuffle-map stages adaptive execution submits on its own, nor
    * the jobs of Par calls nested in a thunk (their pool threads inherit
    * the call's group as a job TAG, under a group of their own). This
    * listener cancels both as they start.
    */
  private final class LateJobCanceller(sc: SparkContext)
      extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(JobTagsProp)))
        .toSeq.flatMap(_.split(',')).find(isCancelled)
        .foreach(g => sc.cancelJob(e.jobId, s"Par call $g failed"))
  }
  private val JobTagsProp = "spark.job.tags"

  /** Cancel a failed call's in-flight jobs, nested calls' included, and
    * every job its threads and their nested calls submit later.
    */
  private def cancel(sc: SparkContext, group: String): Unit = {
    synchronized {
      if (!listening.contains(sc)) {
        sc.addSparkListener(new LateJobCanceller(sc))
        listening = Some(sc)
      }
      cancelledGroups.add(group)
      if (cancelledGroups.size > 1000)
        cancelledGroups.remove(cancelledGroups.iterator.next())
    }
    sc.cancelJobGroupAndFutureJobs(group)
    sc.cancelJobsWithTag(group)
  }

  def run[A](thunks: Seq[() => A],
      parallelism: Int = -1): Seq[A] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(t => t())
    val width = if (parallelism > 0) parallelism else configuredParallelism
    val pool = Executors.newFixedThreadPool(
      math.min(width, thunks.size), factory)
    // one job group per call: the failure path cancels exactly this
    // call's sibling jobs, never an outer caller's (job groups and tags
    // are thread-local, set per pool thread; a nested call's threads
    // inherit this call's tag)
    val session =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val group = s"graft-par-${groupSeq.incrementAndGet()}"
    try {
      val fs = thunks.map(t => pool.submit(new Callable[A] {
        def call(): A = {
          session.foreach { s =>
            s.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
            s.sparkContext.addJobTag(group)
          }
          t()
        }
      }))
      fs.map { f =>
        try f.get()
        catch {
          case e: ExecutionException =>
            session.foreach(s => cancel(s.sparkContext, group))
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }

  /** Two-sided convenience: `par2(a, b)` for exactly two independent
    * actions (the dominant case in the kernels).
    */
  def run2[A, B](a: => A, b: => B): (A, B) = {
    val r = run[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
