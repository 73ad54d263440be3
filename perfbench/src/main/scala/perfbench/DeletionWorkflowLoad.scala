package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.core.{DeletionWorkflow, VersionedDeletionWorkflow}
import graft.model.{DeletionCriteria, JobConfig, Metrics}
import graft.sources.VersionedTable

/** The product: the 7-step deletion workflow, run on the Hive/ORC backend
  * and then on the versioned backend, against the same ~1M-row fixture
  * (the sf0.1 events stand-in copied 10 times). The seeded window cuts
  * into one day and covers the next two, so each run takes one rewrite
  * and two partition drops. At this size the backup copy, rewrite and validation
  * scans are data-bound while the SQL DML planner does no work.
  *
  * Every sample starts from the same state: after it (untimed) the three
  * touched partitions are overwritten from the source, the sample's
  * backup table is dropped, and the versioned table gets a fresh copy of
  * its pristine directory. Without this, step 7 would list and read
  * every earlier backup table and grow from sample to sample.
  */
final class DeletionWorkflowLoad extends Workload {
  import DeletionWorkflowLoad._

  val name = "deletion_workflow"
  val ops = Ops
  override val minRounds = 3
  val Replicas = 10
  private val Db = "pb"
  private val Tbl = "events"

  private var src: DataFrame = _
  private var pristine: String = _
  private var window: (java.sql.Timestamp, java.sql.Timestamp) = _
  private var touched: Seq[String] = Nil
  private var expected: Map[String, (Long, BigDecimal)] = Map.empty
  private var config: JobConfig = _
  private var pred: Column = _
  private var fresh = 0
  var mismatches = 0
  /** Per sample: sum of phase spans over workflow wall. */
  val coverage = mutable.ArrayBuffer.empty[(String, Double)]

  def setup(b: Bench): Unit = {
    val spark = b.spark
    val rnd = Data.rng(b.seed)
    val day = rnd.nextInt(Data.Days - 3)
    // a mid-day start keeps the rewritten share of the first day alike
    // across seeds
    val hour = 9 + rnd.nextInt(6)
    window = (new java.sql.Timestamp(Data.dayStart(day).getTime + hour * 3600000L),
      Data.dayStart(day + 3))
    touched = (day until day + 3).map(Data.dayId)
    pred = col("ts") >= lit(window._1) && col("ts") < lit(window._2)
    config = JobConfig(Db, Tbl,
      DeletionCriteria(startTime = Some(window._1), endTime = Some(window._2),
        timeColumn = "ts"),
      backupStrategy = "hive_table", validationSampleSize = 10000)

    src = Data.events(spark, b.seed, Replicas)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Db")
    src.write.mode(SaveMode.Overwrite).format("orc")
      .partitionBy("partition_id").saveAsTable(s"$Db.$Tbl")
    pristine = s"${b.work}/vt_pristine"
    VersionedTable.create(src, pristine, "partition_id")
  }

  override def prepare(b: Bench): Unit =
    expected = Data.checksums(src.filter(!pred))

  def round(b: Bench, r: Int): Unit = {
    val spark = b.spark
    val trace = s"$name-$r"

    val hm = new Metrics
    val hs = b.op("wf_hive")(DeletionWorkflow.run(spark, config, hm))
    val hPhases = phaseSeconds(hm)
    coverage += "wf_hive" -> hPhases.values.sum / hs.wallS
    if (b.traced) {
      // no phase hook on this path: bounds are t0 plus cumulative timings
      var t = hs.startMs
      Phases.foreach { case (k, short) =>
        val ms = hm.phaseTimings.getOrElse(k, 0L)
        b.tracer.record(s"wf_hive.$short", trace, hs.spanId, t, t + ms, ms / 1000.0)
        t += ms
      }
    }
    b.amend(hs.copy(phases = hPhases))

    val dir = s"${b.work}/vt_$fresh"
    fresh += 1
    copyTree(Paths.get(pristine), Paths.get(dir))
    val before = if (b.traced) VersionedTable.liveDataFiles(spark, dir).toSet else Set.empty[String]
    val vm = new Metrics
    // exact phase boundaries from the versioned path's hook
    val marks = mutable.ArrayBuffer.empty[(String, Long, Long, Option[FsCounts])]
    def mark(p: String): Unit =
      marks += ((p, System.currentTimeMillis(), System.nanoTime(),
        if (b.traced) Some(FsCounts.now()) else None))
    val vs = b.op("wf_versioned") {
      val ok = VersionedDeletionWorkflow.run(spark, dir, "partition_id", pred, vm,
        onPhase = mark)
      mark("end")
      ok
    }
    if (marks.size > 1) {
      val spans = marks.zip(marks.tail)
      coverage += "wf_versioned" -> spans.map(p => (p._2._3 - p._1._3) / 1e9).sum / vs.wallS
      if (b.traced) spans.foreach { case ((p, ms0, ns0, f0), (_, ms1, ns1, f1)) =>
        val short = Phases.toMap.getOrElse(p, p)
        b.tracer.record(s"wf_versioned.$short", trace, vs.spanId, ms0, ms1,
          (ns1 - ns0) / 1e9, for (a <- f0; z <- f1) yield z - a)
      }
    }
    val files = if (b.traced) {
      val after = VersionedTable.liveDataFiles(spark, dir).toSet
      Some(((after -- before).size, (before -- after).size))
    } else None
    b.amend(vs.copy(phases = phaseSeconds(vm), files = files))

    // the reset rewrites only the touched partitions, so the others are
    // checked once, in verify
    check("hive table", Data.checksums(spark.table(s"$Db.$Tbl")
      .filter(col("partition_id").isin(touched: _*))), touched.toSet)
    check("versioned head", Data.checksums(VersionedTable.readLatest(spark, dir)))
    reset(b, dir)
  }

  private def phaseSeconds(m: Metrics): Map[String, Double] =
    Phases.map { case (k, short) => short -> m.phaseTimings.getOrElse(k, 0L) / 1000.0 }.toMap

  /** Compare with the oracle, restricted to `parts` when given. */
  private def check(what: String, got: Map[String, (Long, BigDecimal)],
      parts: Set[String] = Set.empty): Unit = {
    val want = if (parts.isEmpty) expected else expected.filter(p => parts(p._1))
    if (got != want) {
      mismatches += 1
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      Console.err.println(s"$what differs from the oracle in partitions ${bad.toSeq.sorted.mkString(",")}")
    }
  }

  private def reset(b: Bench, dir: String): Unit = {
    val spark = b.spark
    src.filter(col("partition_id").isin(touched: _*))
      .write.mode(SaveMode.Overwrite).insertInto(s"$Db.$Tbl")
    spark.sql(s"SHOW TABLES IN $Db").collect()
      .map(_.getAs[String]("tableName")).filter(_.startsWith(s"${Tbl}_backup_"))
      .foreach(t => spark.sql(s"DROP TABLE $Db.$t PURGE"))
    deleteTree(Paths.get(dir))
  }

  /** After the last reset the Hive table is the source again; the last
    * round's check already covered the touched partitions.
    */
  def verify(b: Bench): Boolean = {
    check("untouched hive partitions", Data.checksums(b.spark.table(s"$Db.$Tbl")
      .filter(!col("partition_id").isin(touched: _*))),
      expected.keySet -- touched)
    mismatches == 0
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally paths.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    finally paths.close()
  }
}

object DeletionWorkflowLoad {
  val Ops: Seq[String] = Seq("wf_hive", "wf_versioned")
  /** Operations that commit to a versioned table. */
  val Commits: Seq[String] = Seq("wf_versioned")
  /** Engine phase names, in order, and the short names the metrics use. */
  val Phases: Seq[(String, String)] = Seq(
    "1_identify_partitions" -> "identify", "2_pre_validation" -> "pre_validate",
    "3_backup" -> "backup", "4_count_before" -> "count_before",
    "5_deletion" -> "delete", "6_post_validation" -> "post_validate",
    "7_cleanup_backups" -> "cleanup")
}
