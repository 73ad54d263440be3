package graft.core

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Metrics
import graft.sources.VersionedTable
import graft.testkit.SparkTestSession

/** The reference's four golden integration scenarios
  * (HiveTableDeletionJobIntegrationTest.java:109-303, re-run by
  * [[DeletionJobIntegrationSpec]] against the Hive backend) executed
  * against the VERSIONED backend — same fixtures, same expected counts —
  * plus the snapshot-specific contracts: backup is a version pointer
  * (nothing copied), restore is a manifest flip byte-identical to the
  * pre-delete snapshot, and a mid-workflow failure auto-restores.
  */
class VersionedWorkflowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Pattern A (FIXTURES.md §1): ids 1..n, INACTIVE when i%3==2, constant ts. */
  private def sampleData(n: Int = 10, partition: String = "20260213") =
    (1 to n).map { i =>
      val status = if (i % 3 == 2) "INACTIVE" else "ACTIVE"
      (i.toLong, s"User$i", status,
        Timestamp.valueOf("2026-02-13 09:00:00"), partition)
    }.toDF("id", "name", "status", "row_create_ts", "partition_id")

  /** Pattern B: all ACTIVE, ts = 2026-02-13 {8+i}:00:00 for i=1..10. */
  private def sampleDataWithTimestamps() =
    (1 to 10).map { i =>
      (i.toLong, s"User$i", "ACTIVE",
        Timestamp.valueOf(f"2026-02-13 ${8 + i}%02d:00:00"), "20260213")
    }.toDF("id", "name", "status", "row_create_ts", "partition_id")

  private def newTable(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft-vwf").toString
    VersionedTable.create(df, dir, "partition_id")
    dir
  }

  private def ids(dir: String): Seq[Long] =
    VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq

  test("golden 1: delete one record of ten by id within a day window") {
    val dir = newTable(sampleData())
    val metrics = new Metrics
    val pred = col("id") === 5L &&
      col("row_create_ts") >= lit(Timestamp.valueOf("2026-02-13 00:00:00")) &&
      col("row_create_ts") <= lit(Timestamp.valueOf("2026-02-13 23:59:59"))
    assert(VersionedDeletionWorkflow.run(spark, dir, "partition_id", pred, metrics))
    assert(ids(dir) === Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 10L))
    assert(metrics.totalRecordsDeleted === 1)
    assert(metrics.backupCreated && metrics.validationPassed)
  }

  test("golden 2: time-window only, end-exclusive (deletes exactly 2)") {
    val dir = newTable(sampleDataWithTimestamps())
    val metrics = new Metrics
    val pred =
      col("row_create_ts") >= lit(Timestamp.valueOf("2026-02-13 10:00:00")) &&
      col("row_create_ts") < lit(Timestamp.valueOf("2026-02-13 12:00:00"))
    assert(VersionedDeletionWorkflow.run(spark, dir, "partition_id", pred, metrics))
    assert(metrics.totalRecordsDeleted === 2) // 10:00 and 11:00; 12:00 survives
    assert(VersionedTable.readLatest(spark, dir).count() === 8)
    assert(VersionedTable.readLatest(spark, dir).filter(pred).count() === 0)
  }

  test("golden 3: delete by status, no window (deletes 3)") {
    val dir = newTable(sampleData())
    val metrics = new Metrics
    assert(VersionedDeletionWorkflow.run(spark, dir, "partition_id",
      col("status") === "INACTIVE", metrics))
    assert(metrics.totalRecordsDeleted === 3) // ids 2, 5, 8
    assert(ids(dir) === Seq(1L, 3L, 4L, 6L, 7L, 9L, 10L))
  }

  test("golden 4: dry run reports 1 would-delete, data and history untouched") {
    val dir = newTable(sampleData())
    val metrics = new Metrics
    assert(VersionedDeletionWorkflow.run(spark, dir, "partition_id",
      col("id") === 5L, metrics, dryRun = true))
    assert(metrics.totalRecordsDeleted === 1)
    assert(ids(dir).size === 10)
    assert(!metrics.backupCreated, "dry run must not record a backup pointer")
    // stronger than the Hive backend can promise: NOT EVEN a version was
    // committed — the preview left the manifest log untouched
    assert(VersionedTable.versions(spark, dir) === Seq(0))
  }

  test("no affected partitions: success exit without a commit") {
    val dir = newTable(sampleData())
    val metrics = new Metrics
    assert(VersionedDeletionWorkflow.run(spark, dir, "partition_id",
      col("id") === 999L, metrics))
    assert(VersionedTable.versions(spark, dir) === Seq(0))
  }

  test("rollback equals restore: the flipped-to state is byte-identical") {
    val dir = newTable(sampleData())
    val before = VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq
    VersionedTable.delete(spark, dir, "partition_id",
      col("status") === "INACTIVE")
    assert(VersionedTable.readLatest(spark, dir).count() === 7)
    // restore = ONE manifest write pointing back at v0's leaf set
    VersionedTable.rollback(spark, dir, toVersion = 0)
    val after = VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq
    assert(after === before, "restored snapshot must be byte-identical")
    // and history stayed linear: v0 (create), v1 (delete), v2 (rollback)
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1, 2))
  }

  test("a failure after the deletion committed auto-restores the pre-delete snapshot") {
    val dir = newTable(sampleData())
    val before = VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq
    val metrics = new Metrics
    // failpoint at step 6: the deletion has COMMITTED (v1) but validation
    // never passes — the hardest rollback case: the flip must retire a
    // live post-delete head, not just a staged attempt
    val ok = VersionedDeletionWorkflow.run(spark, dir, "partition_id",
      col("status") === "INACTIVE", metrics,
      onPhase = step => if (step == "6_post_validation")
        throw new RuntimeException("injected validation-infrastructure failure"))
    assert(!ok, "workflow must report failure")
    assert(metrics.backupCreated, "failure happened after the backup step")
    val after = VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq
    assert(after === before, "auto-restore must leave the table byte-identical")
    // history: v0 create, v1 the committed-then-abandoned delete, v2 the
    // restore flip — all linear, nothing clobbered
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1, 2))
  }

  test("a matching row committed between the census and the delete is deleted too") {
    val dir = newTable(sampleData())
    val metrics = new Metrics
    // a new partition value the step-1 census never saw; the kernel must
    // notice the head moved past the census version and probe again
    val late = Seq((11L, "User11", "INACTIVE", Timestamp.valueOf("2026-02-14 09:00:00"),
      "20260214")).toDF("id", "name", "status", "row_create_ts", "partition_id")
    val ok = VersionedDeletionWorkflow.run(spark, dir, "partition_id",
      col("status") === "INACTIVE", metrics,
      onPhase = step => if (step == "5_deletion")
        VersionedTable.append(late, dir, "partition_id"))
    assert(ok, "the run must succeed")
    assert(VersionedTable.readLatest(spark, dir).filter(col("status") === "INACTIVE").isEmpty,
      "no matching row may survive")
    assert(ids(dir) === Seq(1L, 3L, 4L, 6L, 7L, 9L, 10L))
  }

  test("a step-7 cleanup failure does NOT roll back a validated deletion") {
    // round-7 advice (medium): a vacuum failure after the deletion had
    // committed and validated used to trigger rollback, resurrecting the
    // just-validated-deleted rows (and, with retention 1, possibly
    // committing a head that references vacuumed-away leaves). Step-7
    // failure is cleanup-only now. Injection: the store lock is held, so
    // the workflow's vacuum is refused loudly at exactly step 7.
    val dir = newTable(sampleData())
    val metrics = new Metrics
    val ok = graft.pipeline.Locking.withStoreLock(spark, dir) {
      VersionedDeletionWorkflow.run(spark, dir, "partition_id",
        col("status") === "INACTIVE", metrics, retainVersions = 1)
    }
    assert(ok, "a cleanup-only failure must not fail the run")
    assert(ids(dir) === Seq(1L, 3L, 4L, 6L, 7L, 9L, 10L),
      "the deletion stands — no resurrection")
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1),
      "vacuum did not run (and no rollback version was committed)")
  }

  test("age-based retention: step 7 vacuums versions older than the window") {
    val dir = newTable(sampleData())
    val metrics = new Metrics
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    // the pre-delete version is 8 days old; the reference GCs backups
    // older than 7 days (HDFSBackupStrategy.java:100-129)
    fs.setTimes(new org.apache.hadoop.fs.Path(s"$dir/manifests/v0.json"),
      now - 8L * 24 * 3600 * 1000, -1)
    assert(VersionedDeletionWorkflow.run(spark, dir, "partition_id",
      col("status") === "INACTIVE", metrics,
      retainAgeMs = Some(7L * 24 * 3600 * 1000)))
    // v0 aged out; the fresh post-delete head survives
    assert(VersionedTable.versions(spark, dir) === Seq(1))
    assert(ids(dir) === Seq(1L, 3L, 4L, 6L, 7L, 9L, 10L))
  }

  test("workflow vacuum erases pre-delete versions (backup retention bound)") {
    val dir = newTable(sampleData())
    val metrics = new Metrics
    assert(VersionedDeletionWorkflow.run(spark, dir, "partition_id",
      col("status") === "INACTIVE", metrics, retainVersions = 1))
    // only the post-delete head survives; the pre-delete snapshot is
    // physically gone, exactly like cleanupOldBackups dropping backup
    // tables past the retention bound
    val vs = VersionedTable.versions(spark, dir)
    assert(vs.size === 1)
    assert(VersionedTable.readVersion(spark, dir, vs.head)
      .filter(col("status") === "INACTIVE").count() === 0)
  }

  test("multi-column spec: affected partitions identify as value TUPLES " +
      "and the workflow deletes exactly the matching rows") {
    val df = (1 to 12).map { i =>
      val status = if (i % 3 == 2) "INACTIVE" else "ACTIVE"
      val day = if (i <= 6) "20260213" else "20260214"
      (i.toLong, s"User$i", status,
        Timestamp.valueOf("2026-02-13 09:00:00"), day,
        if (i % 2 == 0) "a" else "b")
    }.toDF("id", "name", "status", "row_create_ts", "partition_id", "kind")
    val dir = Files.createTempDirectory("graft-vwf-mc").toString
    VersionedTable.create(df, dir, "kind,partition_id")
    val metrics = new Metrics
    assert(VersionedDeletionWorkflow.run(spark, dir, "kind,partition_id",
      col("status") === "INACTIVE", metrics))
    assert(ids(dir) === Seq(1L, 3L, 4L, 6L, 7L, 9L, 10L, 12L))
    // INACTIVE ids are 2,5,8,11 → tuples (a,20260213), (b,20260213),
    // (a,20260214), (b,20260214) — all four counted as affected
    assert(metrics.partitionsProcessed === 4)
  }
}
