package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

import graft.partition.PartitionId

/** Thin wrappers over the "metastore algebra" — the catalog DDL surface the
  * reference drives via raw SQL strings (SURVEY.md §2.6 D1–D11) — plus the
  * Hadoop FileSystem operations (S7–S9).
  *
  * Everything here is driver-side metadata work: single-digit-row results,
  * NameNode/metastore RPCs. None of it touches table data, so it is
  * scale-independent — correctness-first, no tuning needed. A command's
  * rows are collected and filtered on the driver: collecting an eagerly
  * run command's result schedules no Spark job, while a Catalyst
  * `count`/`filter`/`select` over it schedules one per lookup.
  */
final class CatalogOps(spark: SparkSession) {
  private val logger = LoggerFactory.getLogger(classOf[CatalogOps])

  private def q(ident: String): String =
    ident.split('.').map(p => s"`$p`").mkString(".")

  /** D1: list partition values of a single-string-partition-column table.
    * Reference parses `partition_id=20260213` with `split("=")(1)`
    * (deletion/PartitionHandler.java:63-74); we keep the single-column
    * assumption but unescape via the same split.
    */
  def listPartitions(table: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS ${q(table)}")
      .collect()
      .map(_.getString(0).split("=", 2)(1))
      .toSeq

  /** D2: probe a single partition's existence. */
  def partitionExists(table: String, partitionColumn: String, value: String): Boolean =
    try {
      spark.sql(
        s"SHOW PARTITIONS ${q(table)} PARTITION (${PartitionId.partitionSpec(partitionColumn, value)})")
        .collect().nonEmpty
    } catch { case _: Exception => false }

  /** D3: table existence/access probe (reference issues DESCRIBE TABLE —
    * validation/ValidationManager.java:110-117; the catalog API is the
    * cleaner Spark-native form, SURVEY.md §2.6).
    */
  def tableExists(table: String): Boolean = spark.catalog.tableExists(table)

  /** D4: physical location of a partition via
    * `DESCRIBE FORMATTED t PARTITION (pc='v')` → row `col_name='Location'`
    * (reference: deletion/DeletionExecutor.java:173-186). Must be read
    * BEFORE the partition is dropped — unreadable after (SURVEY.md §7.4).
    */
  def partitionLocation(table: String, partitionColumn: String, value: String): Option[String] =
    spark.sql(
      s"DESCRIBE FORMATTED ${q(table)} PARTITION (${PartitionId.partitionSpec(partitionColumn, value)})")
      .collect()
      .collectFirst { case r if r.getAs[String]("col_name") == "Location" => r.getAs[String]("data_type") }
      .filter(_.nonEmpty)

  /** D5: drop a partition's metastore entry. For EXTERNAL tables this does
    * NOT remove data files — pair with [[deleteDirectory]]
    * (reference: DeletionExecutor.java:189-197).
    */
  def dropPartition(table: String, partitionColumn: String, value: String): Unit =
    spark.sql(
      s"ALTER TABLE ${q(table)} DROP IF EXISTS PARTITION (${PartitionId.partitionSpec(partitionColumn, value)})")

  /** D6: set table properties (backup provenance tagging —
    * backup/HiveTableBackupStrategy.java:46-52).
    */
  def setTableProperties(table: String, props: Map[String, String]): Unit = {
    // backslash BEFORE quote, like PartitionId.partitionSpec — escaping
    // only quotes turns a trailing backslash into \' (an escaped quote)
    // and unterminates the literal
    def lit(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val kvs = props.map { case (k, v) => s"'${lit(k)}'='${lit(v)}'" }.mkString(", ")
    spark.sql(s"ALTER TABLE ${q(table)} SET TBLPROPERTIES ($kvs)")
  }

  /** D7: list table names in a database (backup GC prefix scan —
    * backup/HiveTableBackupStrategy.java:100-109).
    */
  def listTables(database: String): Seq[String] =
    spark.sql(s"SHOW TABLES IN `$database`")
      .collect().map(_.getAs[String]("tableName")).toSeq

  /** D8: read one table property (backup timestamp for retention GC —
    * backup/HiveTableBackupStrategy.java:117-128).
    */
  def tableProperty(table: String, key: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES ${q(table)}")
      .collect()
      .collectFirst { case r if r.getAs[String]("key") == key => r.getAs[String]("value") }

  /** D9 */
  def dropTable(table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${q(table)}")

  /** D10: metadata resync after partial-write failure
    * (recovery/RecoveryManager.java:113-131). MSCK only applies to
    * partitioned Hive tables; failures are non-fatal by design.
    */
  def refreshAndRepair(table: String): Unit = {
    try spark.sql(s"REFRESH TABLE ${q(table)}")
    catch { case e: Exception => logger.warn(s"REFRESH TABLE $table failed: ${e.getMessage}") }
    try spark.sql(s"MSCK REPAIR TABLE ${q(table)}")
    catch { case e: Exception => logger.warn(s"MSCK REPAIR TABLE $table failed: ${e.getMessage}") }
  }

  /** D11: catalog liveness smoke probe (util/SparkSessionManager.java:90-97). */
  def validateCatalog(): Unit =
    try spark.sql("SHOW DATABASES").count()
    catch {
      case e: Exception =>
        throw new IllegalStateException("SparkSession catalog is not functional", e)
    }

  // ---- Hadoop FileSystem operations (S7–S9) ----

  private def fs(path: Path) =
    // Path-scoped lookup; the returned FS is the process-wide cached
    // instance — never close it (the reference's fs.close() at
    // DeletionExecutor.java:268 closes the shared FS under every other
    // user; deliberate fix per SURVEY.md §7.4).
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** S8: recursive directory delete (external-table partition data). */
  def deleteDirectory(location: String): Boolean = {
    val p = new Path(location)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
    else { logger.warn(s"Directory does not exist: $location"); false }
  }

  /** S7: write a small text metadata file (backup provenance). */
  def writeTextFile(location: String, content: String): Unit = {
    val p = new Path(location)
    val out = fs(p).create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readTextFile(location: String): String = {
    val p = new Path(location)
    val in = fs(p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** S9: list immediate subdirectories with modification times (backup GC). */
  def listSubdirectories(location: String): Seq[(String, Long)] = {
    val p = new Path(location)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(_.isDirectory)
      .map(s => (s.getPath.toString, s.getModificationTime)).toSeq
  }

  def pathExists(location: String): Boolean = {
    val p = new Path(location)
    fs(p).exists(p)
  }
}
