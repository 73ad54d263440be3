package graft.backup

import java.text.SimpleDateFormat
import java.util.Date

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.catalog.CatalogOps
import graft.model.JobConfig

/** Path-based backup: partitioned ORC under
  * `<base>/<yyyyMMdd_HHmmssSSS>` plus a dot-prefixed provenance file
  * ([[PathBackupStrategy.MetadataFileName]]);
  * base defaults to `/backup/<db>/<table>`
  * (reference: backup/HDFSBackupStrategy.java). Works on any Hadoop
  * filesystem (HDFS, file://, s3a://...) via the Path-scoped FS lookup.
  * Like [[TableBackupStrategy]], names have millisecond resolution and the
  * write refuses an existing directory.
  */
final class PathBackupStrategy extends BackupStrategy {
  import PathBackupStrategy.MetadataFileName

  private val logger = LoggerFactory.getLogger(classOf[PathBackupStrategy])
  private val tsFormat = new SimpleDateFormat("yyyyMMdd_HHmmssSSS")
  private val metaFormat = new SimpleDateFormat("yyyy-MM-dd HH:mm:ss")

  private def basePath(config: JobConfig): String =
    config.backupLocation.getOrElse(s"/backup/${config.database}/${config.tableName}")

  override def createBackup(spark: SparkSession, config: JobConfig, partitions: Seq[String]): String = {
    val backupPath = s"${basePath(config)}/${tsFormat.format(new Date)}"
    logger.info(s"Creating path backup at: $backupPath")

    spark.table(config.fullTableName)
      .where(col(config.partitionColumn).isin(partitions: _*))
      .write
      .mode(SaveMode.ErrorIfExists)
      .format("orc")
      .partitionBy(config.partitionColumn)
      .save(backupPath)

    try {
      val meta =
        s"""Source Table: ${config.fullTableName}
           |Backup Timestamp: ${metaFormat.format(new Date)}
           |Partitions: ${partitions.mkString(",")}
           |""".stripMargin
      // Deliberate deviation from the reference's `_metadata.txt`
      // (HDFSBackupStrategy.java:153-175): Spark's file index special-cases
      // names starting with "_metadata" as DATA files (parquet summary
      // legacy), so the reference's own ORC restore/validate read chokes on
      // its provenance file. Dot-prefixed names are always invisible to the
      // reader.
      new CatalogOps(spark).writeTextFile(s"$backupPath/$MetadataFileName", meta)
    } catch {
      case e: Exception => logger.warn(s"Failed to write backup metadata: ${e.getMessage}")
    }

    logger.info(s"Path backup created successfully at: $backupPath")
    backupPath
  }

  override def restoreFromBackup(spark: SparkSession, config: JobConfig, backupLocation: String): Unit = {
    logger.info(s"Restoring from path backup: $backupLocation")
    // Directory-partition type inference may read a numeric-looking
    // partition value (e.g. '20260213') back as INT; insertInto resolves
    // positionally with no implicit cast guarantee — realign to the target
    // table's column order AND types explicitly.
    val targetSchema = spark.table(config.fullTableName).schema
    read(spark, config, backupLocation)
      .select(targetSchema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .write
      .mode(SaveMode.Overwrite)
      .insertInto(config.fullTableName)
    logger.info("Data restored successfully from path backup")
  }

  override def read(spark: SparkSession, config: JobConfig, backupLocation: String): DataFrame =
    spark.read.format("orc").load(backupLocation)

  override def cleanupOldBackups(spark: SparkSession, config: JobConfig): Unit =
    try {
      val catalog = new CatalogOps(spark)
      val cutoff = System.currentTimeMillis() - config.backupRetentionDays * 24L * 60 * 60 * 1000
      catalog.listSubdirectories(basePath(config)).foreach { case (path, modTime) =>
        if (modTime < cutoff) {
          logger.info(s"Deleting old backup directory: $path")
          catalog.deleteDirectory(path)
        }
      }
    } catch {
      case e: Exception => logger.error(s"Error cleaning up old path backups: ${e.getMessage}")
    }
}

object PathBackupStrategy {
  /** Provenance file inside a backup dir; dot-prefixed so every Spark
    * reader ignores it (see createBackup note).
    */
  val MetadataFileName = ".graft_backup_metadata.txt"
}
