package graft.backup

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.JobConfig

/** Pluggable backup strategy (reference: backup/BackupStrategy.java).
  * Two implementations: a catalog-table backup and a path-based backup.
  */
trait BackupStrategy {
  /** Snapshot the given partitions; returns a backup identifier
    * (table name or filesystem path).
    */
  def createBackup(spark: SparkSession, config: JobConfig, partitions: Seq[String]): String

  /** Restore a backup into the original table via dynamic partition
    * overwrite — only the partitions present in the backup are replaced.
    */
  def restoreFromBackup(spark: SparkSession, config: JobConfig, backupLocation: String): Unit

  /** The backup's rows, for the manager's count check (counted in one job
    * with the source partitions' census).
    */
  def read(spark: SparkSession, config: JobConfig, backupLocation: String): DataFrame

  /** Remove backups older than the configured retention. Never fatal. */
  def cleanupOldBackups(spark: SparkSession, config: JobConfig): Unit
}
