package graft.core

import org.apache.spark.sql.{Column, SparkSession}

import graft.model.Metrics
import graft.sources.VersionedTable

/** The reference's fixed 7-step deletion workflow
  * (`HiveTableDeletionJob.java:87-160`, [[DeletionWorkflow]]) on a
  * manifest-versioned table. The steps, dry-run contract, AUDIT lines and
  * `Metrics` are [[DeletionWorkflow]]'s; what changes is the COST MODEL of
  * the safety steps:
  *
  *   - Step 1 reads the head version `v` once and takes one census of it;
  *     the census, the recovery point and the kernel's affected tuples all
  *     name `v`. Step 4 reads the census and runs no count.
  *   - Step 3 (backup): the prior version IS the backup. Nothing is
  *     copied — the step records `v`. The Hive backend pays a full
  *     `saveAsTable` copy of every affected partition here
  *     ([[graft.backup.TableBackupStrategy]]).
  *   - Step 5 is [[VersionedTable.deleteAt]]: partition-granular
  *     copy-on-write (affected partitions rewrite, emptied ones drop,
  *     untouched ones carry by reference — `DeletionExecutor.java:139-230`'s
  *     rewrite unit) that takes step 1's tuples while the head is still
  *     `v` and probes again otherwise.
  *   - Step 6 takes one census of the post-commit head: its rows must be
  *     `v`'s rows less the matching ones, and none may match.
  *   - Failure recovery: restore is [[VersionedTable.rollback]] to `v` —
  *     ONE manifest write (a pointer flip), not a partition copy-back.
  *   - Step 7 (cleanup old backups): [[VersionedTable.vacuum]] — the
  *     retention knob bounds history exactly like
  *     [[graft.backup.BackupManager.cleanupOldBackups]] bounds backup
  *     tables, and doubles as the physical-erasure half of the delete.
  *
  * A dry run touches NOTHING — no backup pointer, no version commit.
  */
object VersionedDeletionWorkflow {
  /** Run the 7-step workflow against a versioned table. Returns true on
    * success (including the no-affected-partitions early exit and
    * dry-run), false on a failure — after rolling the table back to the
    * pre-delete version. A step-7 failure does not fail the run or roll
    * back: after a partial vacuum the pre-delete version's leaves may
    * already be gone. `partCol` is the public comma-joined spec string;
    * affected partitions are its value TUPLES (rendered joined).
    *
    * `retainVersions` is the step-7 retention: how many trailing versions
    * survive the vacuum (≥ 1; the post-delete head always survives).
    * `retainAgeMs`, when set, switches step 7 to AGE-based retention
    * ([[VersionedTable.vacuumOlderThan]]) — the snapshot-backend mirror
    * of the reference's 7-day backup GC
    * (`HDFSBackupStrategy.java:100-129`). `onPhase` is the driver's hook.
    */
  def run(spark: SparkSession, tableDir: String, partCol: String,
      pred: Column, metrics: Metrics, dryRun: Boolean = false,
      retainVersions: Int = 2, retainAgeMs: Option[Long] = None,
      onPhase: String => Unit = _ => ()): Boolean =
    DeletionWorkflow.execute(
      new Versioned(spark, tableDir, partCol, pred, metrics, retainVersions, retainAgeMs),
      metrics, dryRun, onPhase)

  private final class Versioned(spark: SparkSession, tableDir: String,
      partCol: String, pred: Column, metrics: Metrics, retainVersions: Int,
      retainAgeMs: Option[Long]) extends DeletionBackend[Seq[String]](tableDir, pred.toString) {
    private var base = -1
    private var before = PartitionCensus.empty[Seq[String]]
    private var recovery: Option[Int] = None

    private def censusAt(version: Int): PartitionCensus[Seq[String]] = {
      val df = VersionedTable.readVersion(spark, tableDir, version)
      PartitionCensus.of(df, VersionedTable.specKeys(partCol, df), pred)
    }

    override def render(key: Seq[String]): String = key.mkString(",")

    def identify(): Seq[Seq[String]] = {
      base = VersionedTable.latestVersion(spark, tableDir)
      before = censusAt(base)
      before.affected.sortBy(render)
    }

    // the census version is still in the table's history
    def preValidate(affected: Seq[Seq[String]]): Unit =
      require(VersionedTable.versions(spark, tableDir).contains(base),
        s"version $base is gone from $tableDir")

    def recoveryPoint(affected: Seq[Seq[String]]): Unit = {
      recovery = Some(base)
      metrics.markBackupCreated(s"$tableDir@v$base")
    }

    def census(affected: Seq[Seq[String]]): PartitionCensus[Seq[String]] = before

    def delete(affected: Seq[Seq[String]], census: PartitionCensus[Seq[String]]): DeletionResult = {
      VersionedTable.deleteAt(spark, tableDir, partCol, pred, base, affected.toSet)
      DeletionResult(census.matching,
        affected.filter(census.action(_) == PartitionCensus.Action.drop).map(render).toSet)
    }

    def postValidate(affected: Seq[Seq[String]], census: PartitionCensus[Seq[String]],
        result: DeletionResult): Unit = {
      val after = censusAt(VersionedTable.latestVersion(spark, tableDir))
      require(after.total == before.retained,
        s"post-deletion count ${after.total} != expected ${before.retained}")
      require(after.matching == 0, "deleted rows still visible in the post-delete snapshot")
      metrics.markValidationPassed(true)
    }

    // if even the rollback commit fails, the pre-delete version is STILL
    // readable at `base` (nothing is vacuumed on the failure path)
    def restore(cause: Exception): Unit =
      recovery.foreach(v => VersionedTable.rollback(spark, tableDir, v))

    def retention(): Unit = retainAgeMs match {
      case Some(age) => VersionedTable.vacuumOlderThan(spark, tableDir, age)
      case None => VersionedTable.vacuum(spark, tableDir, retainLast = retainVersions)
    }
  }
}
