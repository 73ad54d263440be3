package graft.core

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

import graft.backup.BackupManager
import graft.model.{JobConfig, Metrics}
import graft.recovery.RecoveryManager
import graft.validation.ValidationManager

/** What differs between the deletion workflow's backends; the steps, their
  * order, the dry-run exit, the AUDIT lines, the record and partition
  * `Metrics`, restore-on-failure and the step-7 rule are
  * [[DeletionWorkflow]]'s. `K` is a partition key: a Hive partition value,
  * or a versioned table's spec-value tuple.
  */
private[graft] abstract class DeletionBackend[K](
    /** The table and the criteria, as the AUDIT lines name them. */
    val table: String, val criteria: String) {
  /** A key as logs and `Metrics` show it. */
  def render(key: K): String = key.toString

  /** Step 1: the partitions holding a matching row (empty ⇒ nothing to do). */
  def identify(): Seq[K]
  /** Step 2. */
  def preValidate(affected: Seq[K]): Unit
  /** Step 3, real runs only: make the recovery point and record it in
    * `Metrics` (`markBackupCreated`).
    */
  def recoveryPoint(affected: Seq[K]): Unit
  /** Step 4: the pre-deletion census, covering at least `affected`. */
  def census(affected: Seq[K]): PartitionCensus[K]
  /** Step 5, real runs only; `census` is step 4's, restricted to `affected`. */
  def delete(affected: Seq[K], census: PartitionCensus[K]): DeletionResult
  /** Step 6: throws when the post-deletion state is wrong. */
  def postValidate(affected: Seq[K], census: PartitionCensus[K], result: DeletionResult): Unit
  /** After a failure in steps 1–6: return to the recovery point, if made;
    * a throw here is logged and the run fails as it would have anyway.
    */
  def restore(cause: Exception): Unit
  /** Step 7. */
  def retention(): Unit
}

/** The fixed 7-step workflow DAG (reference:
  * HiveTableDeletionJob.executeDeletionWorkflow,
  * HiveTableDeletionJob.java:87-160; SURVEY.md §3.1), once for every
  * [[DeletionBackend]]:
  *
  *   1. identify affected partitions — empty ⇒ success exit
  *   2. pre-deletion validation
  *   3. recovery point (skipped on a dry run)
  *   4. the pre-deletion [[PartitionCensus]]
  *   5. execute deletion (a dry run logs the census's plan and returns)
  *   6. post-deletion validation
  *   7. retention — a failure here never fails the run and never
  *      restores: the deletion is committed and validated, and a restore
  *      would resurrect the deleted rows
  *
  * The hook `onPhase` is called with the step name before each step; a
  * throw from it fails that step (progress reporting, failpoints in the
  * specs). On a failure in steps 1–6 the backend restores its recovery
  * point. Returns true on success.
  *
  * Every record and partition figure in `Metrics` is read off the census
  * of the affected partitions: a real run records their rows read,
  * retained rows, partition count and per-partition retained rows; a dry
  * run records only the would-delete count.
  */
object DeletionWorkflow {
  private val logger = LoggerFactory.getLogger(getClass)
  private val audit = LoggerFactory.getLogger("AUDIT")

  /** The workflow on a Hive/ORC table. */
  def run(spark: SparkSession, config: JobConfig, metrics: Metrics): Boolean =
    execute(new HiveDeletion(spark, config, metrics), metrics, config.dryRun)

  private[graft] def execute[K](backend: DeletionBackend[K], metrics: Metrics,
      dryRun: Boolean, onPhase: String => Unit = _ => ()): Boolean = {
    // "1_identify_partitions" logs as "Step 1: identify partitions"
    def phase[A](name: String)(body: => A): A = {
      val (n, what) = name.span(_ != '_')
      logger.info(s"Step $n: ${what.tail.replace('_', ' ')}")
      onPhase(name)
      metrics.timePhase(name)(body)
    }
    try {
      val affected = phase("1_identify_partitions")(backend.identify())
      if (affected.isEmpty) {
        logger.warn("No partitions affected by deletion criteria. Exiting.")
        return true
      }
      phase("2_pre_validation")(backend.preValidate(affected))
      // Deliberate delta from the reference, which creates the backup even
      // in dry-run mode (HiveTableDeletionJob.java:112-114): a preview run
      // must not copy terabytes of partitions or register backup tables —
      // dry-run touches nothing. The dry-run integration golden pins this.
      if (!dryRun) phase("3_backup")(backend.recoveryPoint(affected))
      val census = phase("4_count_before") {
        val c = backend.census(affected).over(affected)
        logger.info(s"Records before deletion: ${c.total}, to delete: ${c.matching}, " +
          s"expected after: ${c.retained}")
        c
      }
      val result = phase("5_deletion")(deletion(backend, affected, census, metrics, dryRun))
      if (dryRun) {
        logger.info("Dry run completed. No actual changes made.")
        return true
      }
      phase("6_post_validation")(backend.postValidate(affected, census, result))
    } catch {
      case e: Exception =>
        logger.error(s"Deletion workflow failed: ${e.getMessage}")
        try backend.restore(e)
        catch { case r: Exception => logger.error(s"Restore failed: ${r.getMessage}") }
        return false
    }
    try phase("7_cleanup_backups")(backend.retention())
    catch {
      case e: Exception =>
        logger.error(s"Step 7 cleanup failed: ${e.getMessage}; the deletion is " +
          "committed and validated, so nothing is restored; re-run the cleanup")
    }
    logger.info("Deletion workflow completed successfully")
    true
  }

  /** Step 5 and its `Metrics`; a dry run logs each affected partition's
    * action with its counts and deletes nothing.
    */
  private def deletion[K](backend: DeletionBackend[K], affected: Seq[K],
      census: PartitionCensus[K], metrics: Metrics, dryRun: Boolean): DeletionResult = {
    audit.info(s"DELETION_START - Table: ${backend.table}, " +
      s"Partitions: ${affected.map(backend.render).mkString("[", ", ", "]")}, " +
      s"Criteria: ${backend.criteria}")
    val start = System.currentTimeMillis()
    try {
      val result =
        if (dryRun) {
          val plan = affected.map(k => s"${backend.render(k)} ${census.action(k)} " +
            s"(total ${census(k).total}, matching ${census(k).matching})")
          audit.info(s"DRY_RUN - Would delete ${census.matching} records, " +
            s"retain ${census.retained} records: ${plan.mkString("; ")}")
          DeletionResult(census.matching, Set.empty)
        } else {
          val r = backend.delete(affected, census)
          metrics.recordRecordsRead(census.total)
          metrics.recordRecordsRetained(census.retained)
          metrics.incrementPartitionsProcessed(affected.size)
          affected.foreach(k => metrics.recordPartitionMetric(backend.render(k), census(k).retained))
          r
        }
      metrics.recordRecordsDeleted(result.recordsDeleted)
      audit.info(s"DELETION_SUCCESS - Records deleted: ${result.recordsDeleted}, " +
        s"Duration: ${System.currentTimeMillis() - start} ms")
      result
    } catch {
      case e: Exception =>
        audit.error(s"DELETION_FAILED - Error: ${e.getMessage}")
        throw new RuntimeException("Failed to execute deletion", e)
    }
  }
}

/** The Hive/ORC backend: step 1 probes the date-pruned candidates, the
  * recovery point is a backup copy whose census is step 4's, deletion
  * rewrites or drops partitions ([[DeletionExecutor]]), restore copies the
  * backup back with retries, and retention drops expired backups.
  */
private[graft] final class HiveDeletion(spark: SparkSession, config: JobConfig,
    metrics: Metrics)
    extends DeletionBackend[String](config.fullTableName, config.deletionCriteria.toString) {
  private val handler = new PartitionHandler(spark, config)
  private val validation = new ValidationManager(spark, config, metrics)
  private val backups = BackupManager.create(config, metrics)
  private var backupCensus: Option[PartitionCensus[String]] = None

  def identify(): Seq[String] = handler.identifyAffectedPartitions()
  def preValidate(affected: Seq[String]): Unit = validation.validatePreDeletion(affected)
  def recoveryPoint(affected: Seq[String]): Unit =
    backupCensus = Some(backups.createBackupWithCensus(spark, config, affected)._2)
  def census(affected: Seq[String]): PartitionCensus[String] =
    backupCensus.getOrElse(handler.census(affected))
  def delete(affected: Seq[String], census: PartitionCensus[String]): DeletionResult =
    new DeletionExecutor(spark, config, metrics).executeDeletion(affected, census)
  def postValidate(affected: Seq[String], census: PartitionCensus[String],
      result: DeletionResult): Unit =
    validation.validatePostDeletion(
      affected, result.recordsDeleted, census.retained, result.droppedPartitions)
  // the backup manager records the backup it made for this run, also when
  // the backup's own census failed after the copy committed
  def restore(cause: Exception): Unit = metrics.backupLocation.foreach { location =>
    val recovery = new RecoveryManager(spark, config, backups)
    if (!recovery.recoverFromFailure(Some(location), cause))
      recovery.logManualRecoveryInstructions(Some(location))
  }
  def retention(): Unit = backups.cleanupOldBackups(spark, config)
}
