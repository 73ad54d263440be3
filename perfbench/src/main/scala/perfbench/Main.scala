package perfbench

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Runs one workload and prints two JSON lines on stdout: a report with
  * every per-kind timing (median, sample count, tail percentile) and
  * storage cost, then the result line with the metrics `BENCHMARK.json`
  * declares: the end-to-end ones, or with `--trace 1` the per-layer ones.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --cpus <n>
  */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "deletion_workflow" -> (() => new DeletionWorkflowLoad),
    "dml_mix" -> (() => new DmlMixLoad))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.getOrElse(opts("workload"),
      sys.error(s"unknown workload ${opts("workload")}"))()
    val work = opts("work")
    val cpus = opts("cpus").toInt
    val t0 = System.nanoTime()
    val trace = opts("trace") == "1"
    val spark = session(work, cpus, hive = workload.isInstanceOf[DeletionWorkflowLoad], trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val b = new Bench(spark, workload, opts("seed").toLong, opts("seconds").toInt,
      trace, work)
    val code = try {
      val setupS = b.runSetup()
      b.runTimed()
      val t1 = System.nanoTime()
      val verified = workload.verify(b)
      val report = new Report(b, setupS, sessionS, (System.nanoTime() - t1) / 1e9, verified)
      println(report.detail)
      println(report.result)
      if (b.trace) b.tracer.write(s"$work/spans.jsonl")
      if (report.correct) 0 else 1
    } finally spark.stop()
    sys.exit(code)
  }

  /** The product session: the engine's fixed confs, UTC, one shuffle
    * partition per core, with every file the run writes kept under `work`.
    * A traced run also counts filesystem operations.
    */
  def session(work: String, cpus: Int, hive: Boolean, trace: Boolean): SparkSession = {
    val counting =
      if (trace) Map("spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName)
      else Map.empty[String, String]
    val s = GraftSession.builder(
        appName = "perfbench",
        master = Some(s"local[$cpus]"),
        hiveSupport = hive,
        shufflePartitions = Some(cpus),
        extraConfs = Map(
          "spark.sql.warehouse.dir" -> s"$work/warehouse",
          "spark.local.dir" -> s"$work/spark-local",
          "spark.ui.enabled" -> "false",
          "spark.hadoop.hive.exec.scratchdir" -> s"$work/hive-scratch",
          "spark.hadoop.hive.exec.local.scratchdir" -> s"$work/hive-local",
          "spark.hadoop.hive.downloaded.resources.dir" -> s"$work/hive-resources") ++ counting)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$work/metastore_db;create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
    require(!trace || fs.isInstanceOf[CountingLocalFileSystem],
      s"traced run needs the counting filesystem, got ${fs.getClass.getName}")
    s
  }
}
