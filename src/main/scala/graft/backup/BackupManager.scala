package graft.backup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.slf4j.LoggerFactory

import graft.core.{PartitionCensus, PartitionHandler}
import graft.model.{JobConfig, Metrics}

/** Backup facade: validate partitions exist → strategy backup → source
  * census and backup count in one job → count equality check → metrics
  * (reference: backup/BackupManager.java; SURVEY.md §2.7 C6/C7/C12). The
  * totals are compared, not per-partition counts: a path backup reads
  * numeric-looking partition values back as numbers.
  */
final class BackupManager(strategy: BackupStrategy, metrics: Metrics) {
  private val logger = LoggerFactory.getLogger(classOf[BackupManager])
  private val audit = LoggerFactory.getLogger("AUDIT")

  /** C6: snapshot the affected partitions before deletion; returns the
    * backup identifier (table name or path).
    */
  def createBackup(spark: SparkSession, config: JobConfig, partitions: Seq[String]): String =
    createBackupWithCensus(spark, config, partitions)._1

  /** [[createBackup]], also returning the census of the source partitions
    * taken right after the copy — the one the backup is validated
    * against, and the workflow's pre-deletion census.
    */
  def createBackupWithCensus(spark: SparkSession, config: JobConfig,
      partitions: Seq[String]): (String, PartitionCensus[String]) = {
    logger.info(s"Starting backup creation for ${partitions.size} partitions")
    audit.info(s"BACKUP_START - Table: ${config.fullTableName}, Partitions: $partitions")
    val start = System.currentTimeMillis()
    val handler = new PartitionHandler(spark, config)
    try {
      handler.validatePartitionsExist(partitions)
      val location = strategy.createBackup(spark, config, partitions)
      // the source census and the backup's row count, in one job
      val (census, backedUp) =
        try {
          val Seq(source, backup) = PartitionCensus.ofEach(Seq(handler.censusInput(partitions),
            (strategy.read(spark, config, location), Nil, lit(false))))
          (source.map(_.head), backup.total)
        } catch {
          case e: Exception =>
            // The copy has committed and nothing is deleted yet. A count
            // that cannot be taken (e.g. a predicate that fails at run
            // time) fails the run after the backup: the copy is recorded
            // as the run's backup, so the workflow restores from it.
            metrics.markBackupCreated(location)
            throw e
        }
      val expected = census.total
      if (backedUp != expected) {
        logger.error(s"Backup validation failed. Expected: $expected, Actual: $backedUp")
        throw new RuntimeException("Backup validation failed")
      }
      logger.info(s"Backup validation passed. Record count: $backedUp")
      val ms = System.currentTimeMillis() - start
      logger.info(s"Backup created successfully in $ms ms. Location: $location")
      audit.info(s"BACKUP_SUCCESS - Location: $location, Records: $expected, Duration: $ms ms")
      metrics.markBackupCreated(location)
      (location, census)
    } catch {
      case e: Exception =>
        audit.error(s"BACKUP_FAILED - Table: ${config.fullTableName}, Error: ${e.getMessage}")
        throw new RuntimeException("Failed to create backup", e)
    }
  }

  /** C7: restore the backup into the original table. */
  def restoreFromBackup(spark: SparkSession, config: JobConfig, backupLocation: String): Unit = {
    logger.info(s"Starting restore from backup: $backupLocation")
    audit.info(s"RESTORE_START - Table: ${config.fullTableName}, Backup: $backupLocation")
    val start = System.currentTimeMillis()
    try {
      strategy.restoreFromBackup(spark, config, backupLocation)
      val ms = System.currentTimeMillis() - start
      audit.info(s"RESTORE_SUCCESS - Table: ${config.fullTableName}, Duration: $ms ms")
    } catch {
      case e: Exception =>
        audit.error(s"RESTORE_FAILED - Table: ${config.fullTableName}, Error: ${e.getMessage}")
        throw new RuntimeException("Failed to restore from backup", e)
    }
  }

  /** C12: retention GC. A failure propagates; the workflow's step-7 rule
    * keeps it from failing the run (BackupManager.java:143-151).
    */
  def cleanupOldBackups(spark: SparkSession, config: JobConfig): Unit = {
    logger.info(s"Cleaning up old backups (retention: ${config.backupRetentionDays} days)")
    strategy.cleanupOldBackups(spark, config)
  }
}

object BackupManager {
  /** Strategy factory (reference: BackupManager.create,
    * BackupManager.java:156-171). `hdfs` is kept as an alias of the
    * path-based strategy for CLI parity.
    */
  def create(config: JobConfig, metrics: Metrics): BackupManager = {
    val strategy = config.backupStrategy.toLowerCase match {
      case "hive_table"    => new TableBackupStrategy
      case "hdfs" | "path" => new PathBackupStrategy
      case other => throw new IllegalArgumentException(s"Unknown backup strategy: $other")
    }
    new BackupManager(strategy, metrics)
  }
}
