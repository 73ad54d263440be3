package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Hadoop FS counters of the `file` scheme, summed over every
  * FileSystem class registered for it (driver and local-mode executor
  * threads share one JVM, so this sees every task's I/O too).
  */
final case class FsCounts(bytesRead: Long, bytesWritten: Long,
    readOps: Long, largeReadOps: Long, writeOps: Long) {
  def -(o: FsCounts): FsCounts = FsCounts(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, readOps - o.readOps,
    largeReadOps - o.largeReadOps, writeOps - o.writeOps)
}

object FsCounts {
  @annotation.nowarn("cat=deprecation")
  def now(): FsCounts = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    FsCounts(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum,
      st.map(_.getReadOps.toLong).sum, st.map(_.getLargeReadOps.toLong).sum,
      st.map(_.getWriteOps.toLong).sum)
  }
}

/** One traced interval. Wall time comes from `System.nanoTime`; the epoch
  * millis bound the interval for attributing Spark jobs and tasks, whose
  * listener events carry epoch millis.
  */
final case class Span(id: Int, name: String, parent: Int, traceId: String,
    startMs: Long, endMs: Long, wallS: Double, fs: Option[FsCounts])

/** Spark job and task events, kept in memory. Jobs and tasks are
  * attributed to spans by time: one client runs one operation at a
  * time, so a job submitted inside a span's interval belongs to it, also
  * when engine code submits it from a pool thread.
  */
final class JobRecorder extends SparkListener {
  private val starts = mutable.Map.empty[Int, Long]
  private val ends = mutable.Map.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { starts(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { ends(e.jobId) = e.time }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized { tasks += ((e.taskInfo.launchTime, e.taskInfo.duration)) }

  def jobCounts: (Int, Int) = synchronized { (starts.size, ends.size) }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and the counts stop moving, or until the timeout.
    */
  def drain(timeoutMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = (-1, -1)
    var settled = false
    while (!settled && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val c = jobCounts
      settled = c._1 == c._2 && c == last
      last = c
    }
  }

  final case class Attribution(jobs: Int, jobEnds: Int, tasks: Int,
      taskS: Double, jobWallS: Double)

  def attribute(startMs: Long, endMs: Long): Attribution = synchronized {
    val inSpan = starts.filter { case (_, t) => t >= startMs && t <= endMs }
    val intervals = inSpan.toSeq.map { case (id, t) =>
      (t, math.min(ends.getOrElse(id, endMs), endMs))
    }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    val ts = tasks.filter { case (t, _) => t >= startMs && t <= endMs }
    Attribution(inSpan.size, inSpan.keys.count(ends.contains), ts.size,
      ts.map(_._2).sum / 1000.0, covered / 1000.0)
  }
}

/** The span recorder. While disabled, [[span]] only times its body: the
  * listener is detached and no counters are read.
  */
final class Tracer(sc: SparkContext) {
  val recorder = new JobRecorder
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var on = false

  def enabled: Boolean = on

  /** Attach or detach the listener; detaching first waits for every
    * started job's end event, so no job is left half-recorded.
    */
  def enabled_=(v: Boolean): Unit = if (v != on) {
    if (v) sc.addSparkListener(recorder)
    else { recorder.drain(); sc.removeSparkListener(recorder) }
    on = v
  }

  /** Time `body` under a new top-level span: operations never nest. */
  def span[A](name: String, traceId: String)(body: => A): (A, Double, Span) = {
    val id = nextId
    nextId += 1
    val fs0 = if (on) Some(FsCounts.now()) else None
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val s = Span(id, name, -1, traceId, ms0, System.currentTimeMillis(),
      wall, fs0.map(f => FsCounts.now() - f))
    if (on) spans += s
    (r, wall, s)
  }

  /** Record a span whose bounds are known only after the fact (the Hive
    * workflow's phases, reconstructed from its phase timings).
    */
  def record(name: String, traceId: String, parent: Int, startMs: Long,
      endMs: Long, wallS: Double, fs: Option[FsCounts] = None): Unit =
    if (on) {
      spans += Span(nextId, name, parent, traceId, startMs, endMs, wallS, fs)
      nextId += 1
    }

  /** Spans as JSON lines, written once at the end of the run. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      val a = recorder.attribute(s.startMs, s.endMs)
      val fs = s.fs.map(f => s""","fs":{"bytes_read":${f.bytesRead},""" +
        s""""bytes_written":${f.bytesWritten},"read_ops":${f.readOps},""" +
        s""""large_read_ops":${f.largeReadOps},"write_ops":${f.writeOps}}""")
        .getOrElse("")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""trace":"${s.traceId}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_s":${s.wallS},"jobs":${a.jobs},"job_ends":${a.jobEnds},""" +
        s""""tasks":${a.tasks},"task_s":${a.taskS},"job_wall_s":${a.jobWallS}$fs}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
