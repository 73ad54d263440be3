package graft.backup

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogOps
import graft.model.{DeletionCriteria, JobConfig, Metrics}
import graft.recovery.RecoveryManager
import graft.testkit.{AuditLines, MetastoreCalls, SparkTestSession}

/** Direct coverage for the backup strategies, the facade's validation
  * semantics, retention GC, and the failure→restore recovery loop
  * (reference C6/C7/C8/C12) — previously exercised only as side effects of
  * the integration goldens.
  */
class BackupRecoverySpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestSession.spark
  private val db = "backup_spec_db"
  private val table = s"$db.bk_source"
  private lazy val catalog = new CatalogOps(spark)

  private def criteria = DeletionCriteria(whereClause = Some("status = 'INACTIVE'"))
  private def config(strategy: String = "hive_table",
      location: Option[String] = None, retries: Int = 1,
      autoRecovery: Boolean = true): JobConfig =
    JobConfig(db, "bk_source", criteria, backupStrategy = strategy,
      backupLocation = location, maxRecoveryRetries = retries,
      autoRecoveryEnabled = autoRecovery)

  override def beforeEach(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (id BIGINT, status STRING)
         |PARTITIONED BY (partition_id STRING) STORED AS ORC""".stripMargin)
    Seq("20260101", "20260102").foreach { p =>
      val rows = (1 to 5).map(i => s"(${p.takeRight(1)}0$i, 'ACTIVE')").mkString(", ")
      spark.sql(s"INSERT INTO $table PARTITION (partition_id='$p') VALUES $rows")
    }
  }

  override def afterEach(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    catalog.listTables(db).filter(_.startsWith("bk_source_backup_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
  }

  test("table strategy: backup carries provenance and restores deleted data") {
    val metrics = new Metrics
    val mgr = BackupManager.create(config(), metrics)
    val location = mgr.createBackup(spark, config(), Seq("20260101", "20260102"))

    assert(metrics.backupCreated && metrics.backupLocation.contains(location))
    val props = catalog.tableProperties(db, Seq(location.stripPrefix(s"$db."))).values.head
    assert(props.get("backup_source").contains(table))
    assert(props.get("backup_partitions").contains("20260101,20260102"))
    assert(spark.table(location).count() === 10)

    // simulate a botched deletion, then recover
    spark.sql(s"INSERT OVERWRITE TABLE $table PARTITION (partition_id='20260101') " +
      "VALUES (999, 'BROKEN')")
    assert(spark.table(table).count() === 6)
    val recovered = new RecoveryManager(spark, config(), mgr)
      .recoverFromFailure(Some(location), new RuntimeException("boom"))
    assert(recovered)
    assert(spark.table(table).count() === 10)
    assert(spark.table(table).where("id = 999").count() === 0)
  }

  test("table strategy: retention GC drops only expired backups") {
    val mgr = BackupManager.create(config(), new Metrics)
    val loc = mgr.createBackup(spark, config(), Seq("20260101"))
    // age it past the 7-day retention
    catalog.setTableProperties(loc, Map("backup_timestamp" -> "2020-01-01 00:00:00"))
    mgr.cleanupOldBackups(spark, config())
    assert(!catalog.tableExists(loc), "expired backup must be dropped")

    val fresh = mgr.createBackup(spark, config(), Seq("20260102"))
    mgr.cleanupOldBackups(spark, config())
    assert(catalog.tableExists(fresh), "fresh backup must survive GC")
  }

  test("table strategy: retention GC reads every backup's timestamp in one catalog call") {
    val mgr = BackupManager.create(config(), new Metrics)
    val now = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss").format(new java.util.Date)
    def gcWith(backups: Int): MetastoreCalls.Calls = {
      (1 to backups).foreach(i => spark.sql(
        s"CREATE TABLE IF NOT EXISTS $db.bk_source_backup_gc$i (id BIGINT) STORED AS ORC " +
          s"TBLPROPERTIES ('backup_timestamp'='$now')"))
      MetastoreCalls.of(spark)(mgr.cleanupOldBackups(spark, config()))._2
    }
    val one = gcWith(1)
    val four = gcWith(4)
    assert(one.sqlExecutions == four.sqlExecutions, s"1 backup: $one, 4 backups: $four")
    assert((1 to 4).forall(i => catalog.tableExists(s"$db.bk_source_backup_gc$i")),
      "fresh backups must survive GC")
  }

  test("path strategy: ORC backup with metadata file round-trips") {
    val base = Files.createTempDirectory("graft-bk").toString
    val cfg = config("path", Some(base))
    val mgr = BackupManager.create(cfg, new Metrics)
    val location = mgr.createBackup(spark, cfg, Seq("20260101", "20260102"))

    assert(location.startsWith(base))
    val meta = catalog.readTextFile(s"$location/${PathBackupStrategy.MetadataFileName}")
    assert(meta.contains(table) && meta.contains("20260101,20260102"))

    spark.sql(s"INSERT OVERWRITE TABLE $table PARTITION (partition_id='20260102') " +
      "VALUES (999, 'BROKEN')")
    mgr.restoreFromBackup(spark, cfg, location)
    assert(spark.table(table).count() === 10)
    // numeric-looking partition values must come back as STRING (type realign)
    assert(catalog.listPartitions(table).sorted === Seq("20260101", "20260102"))
  }

  test("backup fails fast on a missing partition and wrong counts") {
    val mgr = BackupManager.create(config(), new Metrics)
    val e = intercept[RuntimeException](
      mgr.createBackup(spark, config(), Seq("20260101", "29990101")))
    assert(e.getCause.getMessage.contains("29990101"))

    // the manager's count check: a copy that lost a row fails the backup,
    // and the run records no backup to restore from
    val metrics = new Metrics
    val (outcome, audit) = AuditLines.of(
      new BackupManager(new LossyCopy, metrics).createBackupWithCensus(spark, config(), Seq("20260101")))
    assert(outcome.failed.get.getCause.getMessage == "Backup validation failed")
    assert(audit.exists(_.startsWith("BACKUP_FAILED")), audit)
    assert(metrics.backupLocation.isEmpty && !metrics.backupCreated)

    // an exact copy passes the same check
    val exact = new Metrics
    val (loc, census) = new BackupManager(new TableBackupStrategy, exact)
      .createBackupWithCensus(spark, config(), Seq("20260101"))
    assert(census.total == 5 && exact.backupLocation.contains(loc))
  }

  /** A table backup whose copy loses the row with id 101. */
  private final class LossyCopy extends BackupStrategy {
    private val table = new TableBackupStrategy
    def createBackup(spark: SparkSession, config: JobConfig, partitions: Seq[String]): String = {
      val loc = s"${config.fullTableName}_backup_lossy"
      spark.table(config.fullTableName)
        .where(col(config.partitionColumn).isin(partitions: _*) && col("id") =!= 101)
        .write.format("orc").partitionBy(config.partitionColumn).saveAsTable(loc)
      loc
    }
    def restoreFromBackup(spark: SparkSession, config: JobConfig, location: String): Unit =
      table.restoreFromBackup(spark, config, location)
    def read(spark: SparkSession, config: JobConfig, location: String): DataFrame =
      table.read(spark, config, location)
    def cleanupOldBackups(spark: SparkSession, config: JobConfig): Unit =
      table.cleanupOldBackups(spark, config)
  }

  test("recovery: disabled auto-recovery, missing backup, and exhausted retries") {
    val mgr = BackupManager.create(config(), new Metrics)
    val rm = new RecoveryManager(spark, config(autoRecovery = false), mgr)
    assert(!rm.recoverFromFailure(Some("anything"), new RuntimeException("e")))

    val rm2 = new RecoveryManager(spark, config(), mgr)
    assert(!rm2.recoverFromFailure(None, new RuntimeException("e")))

    // nonexistent backup table -> every attempt throws -> false (1 retry)
    val rm3 = new RecoveryManager(spark, config(retries = 1), mgr)
    assert(!rm3.recoverFromFailure(Some(s"$db.does_not_exist"), new RuntimeException("e")))
    // the runbook must never throw
    rm3.logManualRecoveryInstructions(Some(s"$db.does_not_exist"))
  }

  test("unknown backup strategy is rejected") {
    intercept[IllegalArgumentException](
      BackupManager.create(config(strategy = "tape"), new Metrics))
  }
}
