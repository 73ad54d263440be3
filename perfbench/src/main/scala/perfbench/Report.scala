package perfbench

/** Turns a finished run into the report line and the result line. A run
  * is correct when the workload's outputs verified and, in a traced run,
  * the trace checks hold: every job start seen has its job end, and each
  * workflow's phase spans sum to its wall within 10%.
  */
final class Report(b: Bench, setupS: Double, sessionS: Double, verifyS: Double,
    verified: Boolean) {
  import Report._

  private val samples = b.samples.toSeq

  /** (name, value, holds) of every trace check. */
  val checks: Seq[(String, Double, Boolean)] = {
    val rec = b.tracer.recorder
    val unended = samples.filter(_.traced).map { s =>
      val a = rec.attribute(s.startMs, s.endMs); a.jobs - a.jobEnds }.sum
    val coverage = b.workload match {
      case w: DeletionWorkflowLoad =>
        w.coverage.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (op, cs) =>
          val xs = cs.map(_._2)
          Seq((s"$op.phase_cover_min", xs.min, xs.min >= 0.9),
            (s"$op.phase_cover_max", xs.max, xs.max <= 1.1))
        }
      case _ => Nil
    }
    (("unended_jobs", unended.toDouble, unended == 0) +: coverage)
      .map { case (n, v, ok) => (n, v, ok || !b.trace) }
  }

  val correct: Boolean = verified && checks.forall(_._3)

  /** Wall times of one operation in untraced rounds. */
  private def walls(op: String): Seq[Double] =
    samples.filter(s => s.op == op && !s.traced).map(_.wallS)

  private def rounds(traced: Boolean): Seq[Double] =
    b.roundWalls.filter(_._1 == traced).map(_._2).toSeq

  /** End-to-end metrics, from untraced rounds. `mix_s` is the time of one
    * of each of the workload's operations: the sum of their medians.
    */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("mix_s", b.workload.ops.map(op => Stats.median(walls(op))).sum, "s"))

  /** Per-layer metrics, from traced rounds; an operation this workload
    * does not run reads 0.
    */
  def perLayer: Seq[(String, Double, String)] = {
    val traced = samples.filter(_.traced)
    def med(op: String)(f: Sample => Double): Double = {
      val xs = traced.filter(_.op == op).map(f)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val rec = b.tracer.recorder
    val phases = for (op <- DeletionWorkflowLoad.Ops; p <- PhaseNames)
      yield (s"$op.${p}_s", med(op)(_.phases.getOrElse(p, 0.0)), "s")
    val spark = AllOps.flatMap { op =>
      def attr(s: Sample) = rec.attribute(s.startMs, s.endMs)
      Seq((s"$op.spark.jobs", med(op)(attr(_).jobs.toDouble), "count"),
        (s"$op.spark.tasks", med(op)(attr(_).tasks.toDouble), "count"),
        (s"$op.spark.task_s", med(op)(attr(_).taskS), "s"),
        (s"$op.spark.job_wall_s", med(op)(attr(_).jobWallS), "s"))
    }
    val driver = AllOps.map { op =>
      (s"$op.driver.uncovered_s",
        med(op)(s => s.wallS - rec.attribute(s.startMs, s.endMs).jobWallS), "s")
    }
    def fs(op: String, f: FsCounts => Long) = med(op)(s => s.fs.map(f).getOrElse(0L).toDouble)
    val fsm = AllOps.flatMap { op =>
      Seq((s"$op.fs.read_ops", fs(op, _.readOps), "count"),
        (s"$op.fs.large_read_ops", fs(op, _.largeReadOps), "count")) ++
      (if (ReadOps(op)) Seq((s"$op.fs.bytes_read", fs(op, _.bytesRead), "B"))
       else Seq((s"$op.fs.write_ops", fs(op, _.writeOps), "count"),
         (s"$op.fs.bytes_written", fs(op, _.bytesWritten), "B")))
    }
    val sources = CommitOps.flatMap { op =>
      Seq((s"$op.sources.files_added", med(op)(_.files.map(_._1).getOrElse(0).toDouble), "count"),
        (s"$op.sources.files_removed", med(op)(_.files.map(_._2).getOrElse(0).toDouble), "count"))
    }
    val parse = traced.flatMap(_.parseS)
    val overhead = 100 * (Stats.median(rounds(true)) / Stats.median(rounds(false)) - 1)
    phases ++ spark ++ driver ++ fsm ++ sources ++
      Seq(("dml.plans.parse_s", if (parse.isEmpty) 0.0 else Stats.median(parse), "s"),
        ("trace.overhead_pct", overhead, "%")) ++
      Seq("cow", "mor").map(k => (s"${k}_bytes_per_deleted_row", storage(k), "B/row"))
  }

  private def storage(kind: String): Double =
    b.workload.extras(b).find(_._1 == s"${kind}_bytes_per_deleted_row")
      .map(_._2).filter(!_.isNaN).getOrElse(0.0)

  /** Every per-kind timing with n and its tail, plus the trace checks. */
  def detail: String = {
    val kinds = b.workload.ops.map { op =>
      val xs = walls(op)
      val (p, tail) = Stats.tail(xs)
      s""""${ReportNames(op)}":{"value":${num(Stats.median(xs))},"unit":"s",""" +
        s""""n":${xs.size},"tail_pct":$p,"tail":${num(tail)}}"""
    }
    // pooled tails over the statements and over the reads
    val pooledTail = Seq("dml_tail_s" -> ((op: String) => !op.startsWith("wf_") && !ReadOps(op)),
        "read_tail_s" -> ReadOps).flatMap { case (n, kind) =>
      val pooled = samples.filter(s => !s.traced && kind(s.op)).map(_.wallS)
      val (p, tail) = Stats.tail(pooled)
      if (pooled.isEmpty) None
      else Some(s""""$n":{"value":${num(tail)},"unit":"s","n":${pooled.size},"tail_pct":$p}""")
    }
    val extras = b.workload.extras(b).map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    val checked = checks.map { case (n, v, ok) => s""""$n":{"value":${num(v)},"ok":$ok}""" }
    val rs = b.roundWalls.map(r => num(r._2)).mkString("[", ",", "]")
    val fields = kinds ++ pooledTail ++ extras
    s"""{"report":"${b.workload.name}","seed":${b.seed},"trace":${b.trace},""" +
      s""""correct":$correct,"attempted":${b.attempted},"failed":${b.failed},""" +
      s""""session_s":${num(sessionS)},"setup_s":${num(setupS)},""" +
      s""""setup_fixture_s":${num(b.fixtureS)},"setup_warmup_s":${num(b.warmupS)},""" +
      s""""rounds_s":$rs,"verify_s":${num(verifyS)},""" +
      s""""metrics":{${fields.mkString(",")}},""" +
      s""""checks":{${checked.mkString(",")}}}"""
  }

  def result: String = {
    val ms = (if (b.trace) perLayer else endToEnd).map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":${b.attempted},"failed":${b.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}

object Report {
  val PhaseNames: Seq[String] = DeletionWorkflowLoad.Phases.map(_._2)
  val AllOps: Seq[String] = DeletionWorkflowLoad.Ops ++ DmlMixLoad.Statements ++ DmlMixLoad.Reads
  val ReadOps: Set[String] = DmlMixLoad.Reads.toSet
  /** Operations that commit to a versioned table. */
  val CommitOps: Seq[String] = DeletionWorkflowLoad.Commits ++ DmlMixLoad.Statements
  val ReportNames: Map[String, String] = Map(
    "wf_hive" -> "workflow_hive_s", "wf_versioned" -> "workflow_versioned_s") ++
    AllOps.filter(o => !o.startsWith("wf_") && !ReadOps(o)).map(o => o -> s"dml_${o}_s") ++
    ReadOps.map(o => o -> s"${o}_s")

  /** A JSON number with all its digits; never NaN. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
}
