package graft.core

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

import graft.backup.BackupManager
import graft.model.{JobConfig, Metrics}
import graft.recovery.RecoveryManager
import graft.validation.ValidationManager

/** The fixed 7-step workflow DAG (reference:
  * HiveTableDeletionJob.executeDeletionWorkflow,
  * HiveTableDeletionJob.java:87-160; SURVEY.md §3.1):
  *
  *   1. identify affected partitions — empty ⇒ success exit
  *   2. pre-deletion validation
  *   3. backup, then the pre-deletion [[PartitionCensus]]
  *   4. counts before deletion (read off the census; a dry run, which
  *      takes no backup, takes its census here)
  *   5. execute deletion (dry-run returns here)
  *   6. post-deletion validation
  *   7. cleanup old backups
  *
  * Step 6 takes one more census, of the post-deletion state. Apart from
  * the backup's own count and the integrity check's sample, these two
  * censuses are every count the safety checks compare.
  *
  * On any failure with a backup present: restore-with-retry; failing that,
  * emit the manual-recovery runbook. Returns true on success.
  */
object DeletionWorkflow {
  private val logger = LoggerFactory.getLogger(getClass)

  def run(spark: SparkSession, config: JobConfig, metrics: Metrics): Boolean = {
    val backupManager = BackupManager.create(config, metrics)
    val recoveryManager = new RecoveryManager(spark, config, backupManager)

    try {
      val partitionHandler = new PartitionHandler(spark, config)
      val validationManager = new ValidationManager(spark, config, metrics)

      logger.info("Step 1: Identifying affected partitions")
      val affected = metrics.timePhase("1_identify_partitions") {
        partitionHandler.identifyAffectedPartitions()
      }
      if (affected.isEmpty) {
        logger.warn("No partitions affected by deletion criteria. Exiting.")
        return true
      }

      logger.info("Step 2: Performing pre-deletion validation")
      metrics.timePhase("2_pre_validation") {
        validationManager.validatePreDeletion(affected)
      }

      // Deliberate delta from the reference, which creates the backup even
      // in dry-run mode (HiveTableDeletionJob.java:112-114): a preview run
      // must not copy terabytes of partitions or register backup tables —
      // dry-run touches nothing. The dry-run integration golden pins this.
      val backupCensus =
        if (config.dryRun) { logger.info("Step 3: Skipping backup (dry run)"); None }
        else {
          logger.info("Step 3: Creating backup")
          Some(metrics.timePhase("3_backup") {
            backupManager.createBackupWithCensus(spark, config, affected)._2
          })
        }

      logger.info("Step 4: Counting records before deletion")
      val census = metrics.timePhase("4_count_before") {
        val c = backupCensus.getOrElse(partitionHandler.census(affected))
        logger.info(s"Records before deletion: ${c.total}, to delete: ${c.matching}, " +
          s"expected after: ${c.retained}")
        c
      }

      logger.info("Step 5: Executing deletion")
      val result = metrics.timePhase("5_deletion") {
        new DeletionExecutor(spark, config, metrics).executeDeletion(affected, census)
      }

      if (config.dryRun) {
        logger.info("Dry run completed. No actual changes made.")
        return true
      }

      logger.info("Step 6: Performing post-deletion validation")
      metrics.timePhase("6_post_validation") {
        validationManager.validatePostDeletion(
          affected, result.recordsDeleted, census.retained, result.droppedPartitions)
      }

      logger.info("Step 7: Cleaning up old backups")
      metrics.timePhase("7_cleanup_backups") {
        backupManager.cleanupOldBackups(spark, config)
      }

      logger.info("Deletion workflow completed successfully")
      true
    } catch {
      case e: Exception =>
        logger.error(s"Deletion workflow failed: ${e.getMessage}")
        // the backup manager records the backup it made for this run
        val backupLocation = metrics.backupLocation
        if (backupLocation.isDefined) {
          val recovered = recoveryManager.recoverFromFailure(backupLocation, e)
          if (!recovered) recoveryManager.logManualRecoveryInstructions(backupLocation)
        }
        false
    }
  }
}
