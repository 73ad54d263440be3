package graft.backup

import java.nio.file.{Files, Paths}
import java.text.SimpleDateFormat
import java.util.Date

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogOps
import graft.model.{DeletionCriteria, JobConfig}
import graft.testkit.SparkTestSession

/** Backups of one table taken close together never share a name: a
  * second backup within the same second must neither replace the first
  * one's copy nor be replaced by it, and a name that already exists
  * fails the backup instead of being overwritten.
  */
class BackupNamingSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestSession.spark
  private val db = "backup_naming_db"
  private val table = s"$db.bn_source"
  private lazy val catalog = new CatalogOps(spark)

  private def config(strategy: String, location: Option[String] = None): JobConfig =
    JobConfig(db, "bn_source", DeletionCriteria(whereClause = Some("status = 'INACTIVE'")),
      backupStrategy = strategy, backupLocation = location)

  override def beforeEach(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (id BIGINT, status STRING)
         |PARTITIONED BY (partition_id STRING) STORED AS ORC""".stripMargin)
    spark.sql(s"INSERT INTO $table PARTITION (partition_id='20260101') VALUES (1, 'ACTIVE'), (2, 'ACTIVE')")
    spark.sql(s"INSERT INTO $table PARTITION (partition_id='20260102') VALUES (3, 'ACTIVE')")
  }

  override def afterEach(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    catalog.listTables(db).filter(_.startsWith("bn_source_backup_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  /** Back up 20260101, then 20260102, starting at the top of a second so
    * both usually land in the same one; each backup must keep its own rows.
    */
  private def backToBack(strategy: BackupStrategy, cfg: JobConfig, read: String => Set[Long]): Unit =
    (1 to 3).foreach { _ =>
      Thread.sleep(1000 - System.currentTimeMillis() % 1000)
      val first = strategy.createBackup(spark, cfg, Seq("20260101"))
      val second = strategy.createBackup(spark, cfg, Seq("20260102"))
      assert(first != second, "two backups share one name")
      assert(read(first) == Set(1L, 2L), s"backup $first lost its rows")
      assert(read(second) == Set(3L))
    }

  test("table strategy: back-to-back backups within one second keep separate tables") {
    backToBack(new TableBackupStrategy, config("hive_table"), t => ids(spark.table(t)))
  }

  test("path strategy: back-to-back backups within one second keep separate directories") {
    val base = Files.createTempDirectory("graft-bn").toString
    backToBack(new PathBackupStrategy, config("path", Some(base)),
      p => ids(spark.read.format("orc").load(p)))
  }

  test("path strategy: a backup whose name already exists fails and leaves it untouched") {
    val base = Files.createTempDirectory("graft-bn").toString
    // occupy every name the next two seconds can produce
    val stamp = new SimpleDateFormat("yyyyMMdd_HHmmssSSS")
    val t0 = System.currentTimeMillis()
    val taken = (t0 until t0 + 2000).map(ms => Paths.get(base, stamp.format(new Date(ms))))
    taken.foreach(Files.createDirectories(_))
    intercept[Exception](new PathBackupStrategy().createBackup(spark, config("path", Some(base)), Seq("20260101")))
    def empty(d: java.nio.file.Path): Boolean = {
      val entries = Files.list(d)
      try entries.count() == 0 finally entries.close()
    }
    assert(taken.forall(empty), "an existing backup directory was written into")
  }
}
