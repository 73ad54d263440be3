package graft.backup

import java.text.SimpleDateFormat
import java.util.Date

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.catalog.CatalogOps
import graft.model.JobConfig

/** Backup into a sibling catalog table `<table>_backup_yyyyMMdd_HHmmssSSS`,
  * partitioned like the source, tagged with provenance TBLPROPERTIES
  * (reference: backup/HiveTableBackupStrategy.java). The name has
  * millisecond resolution and the write refuses an existing table, so two
  * runs against one table never share a backup: a clash fails the run
  * instead of replacing the other run's recovery point.
  *
  * Scale note: the backup write is a straight partition-pruned scan →
  * partitioned write with no shuffle (no groupBy/join on the path), so cost
  * is I/O-bound on exactly the affected partitions.
  */
final class TableBackupStrategy extends BackupStrategy {
  private val logger = LoggerFactory.getLogger(classOf[TableBackupStrategy])
  private val tsFormat = new SimpleDateFormat("yyyyMMdd_HHmmssSSS")
  private val propFormat = new SimpleDateFormat("yyyy-MM-dd HH:mm:ss")

  override def createBackup(spark: SparkSession, config: JobConfig, partitions: Seq[String]): String = {
    val backupTable = s"${config.database}.${config.tableName}_backup_${tsFormat.format(new Date)}"
    logger.info(s"Creating backup table: $backupTable")

    spark.table(config.fullTableName)
      .where(col(config.partitionColumn).isin(partitions: _*))
      .write
      .mode(SaveMode.ErrorIfExists)
      .format("orc")
      .partitionBy(config.partitionColumn)
      .saveAsTable(backupTable)

    new CatalogOps(spark).setTableProperties(backupTable, Map(
      "backup_source" -> config.fullTableName,
      "backup_timestamp" -> propFormat.format(new Date),
      "backup_partitions" -> partitions.mkString(",")))

    logger.info(s"Backup table created successfully: $backupTable")
    backupTable
  }

  override def restoreFromBackup(spark: SparkSession, config: JobConfig, backupLocation: String): Unit = {
    logger.info(s"Restoring from backup table: $backupLocation")
    // insertInto + dynamic overwrite: only partitions present in the backup
    // are replaced; never combine with partitionBy (reference TEST_FIX.md).
    read(spark, config, backupLocation)
      .write
      .mode(SaveMode.Overwrite)
      .insertInto(config.fullTableName)
    logger.info("Data restored successfully from backup table")
  }

  override def read(spark: SparkSession, config: JobConfig, backupLocation: String): DataFrame =
    spark.table(backupLocation)

  override def cleanupOldBackups(spark: SparkSession, config: JobConfig): Unit =
    try {
      val catalog = new CatalogOps(spark)
      val prefix = s"${config.tableName}_backup_"
      val cutoff = System.currentTimeMillis() - config.backupRetentionDays * 24L * 60 * 60 * 1000
      // one listing and one properties read for every backup table
      val backups = catalog.listTables(config.database).filter(_.startsWith(prefix))
      catalog.tableProperties(config.database, backups).foreach { case (t, props) =>
        val full = s"${config.database}.$t"
        try {
          props.get("backup_timestamp").foreach { ts =>
            if (propFormat.parse(ts).getTime < cutoff) {
              logger.info(s"Dropping old backup table: $full")
              catalog.dropTable(full)
            }
          }
        } catch {
          case e: Exception => logger.warn(s"Error processing backup table $t: ${e.getMessage}")
        }
      }
    } catch {
      case e: Exception => logger.error(s"Error cleaning up old backups: ${e.getMessage}")
    }
}
