package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogUtils, ExternalCatalogUtils}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In, Literal}
import org.apache.spark.sql.types.StringType
import org.slf4j.LoggerFactory

import graft.partition.PartitionId

/** Thin wrappers over the "metastore algebra" — the catalog surface the
  * reference drives via raw SQL strings (SURVEY.md §2.6 D1–D11) — plus the
  * Hadoop FileSystem operations (S7–S9).
  *
  * Everything here is driver-side metadata work: NameNode/metastore RPCs
  * that never touch table data and run no Spark job. Lookups go through
  * the session catalog (`sessionState.catalog`), not SQL text: a
  * `spark.sql` command pays for parse, analysis, an execution id with its
  * plan string and several metastore client calls on top of the one
  * lookup it wraps. Each lookup takes a set of partitions or tables and
  * costs one catalog call for the set, so a run's metastore traffic grows
  * with its steps, not with its partition count. DDL (drop, set
  * properties, refresh) stays SQL, because the commands also refresh the
  * session's cached relation; partition values reach their `PARTITION
  * (...)` clauses only through `PartitionId.partitionSpec`.
  *
  * Partition lookups assume one STRING partition column, like the
  * reference (deletion/PartitionHandler.java:63-74).
  */
final class CatalogOps(spark: SparkSession) {
  private val logger = LoggerFactory.getLogger(classOf[CatalogOps])

  private def q(ident: String): String =
    ident.split('.').map(p => s"`$p`").mkString(".")

  private def catalog = spark.sessionState.catalog
  private def ident(table: String): TableIdentifier =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  /** D1: the partition values of a single-partition-column table, from the
    * catalog's partition names (`partition_id=20260213`), unescaped.
    */
  def listPartitions(table: String): Seq[String] =
    catalog.listPartitionNames(ident(table))
      .map(n => ExternalCatalogUtils.unescapePathName(n.split("=", 2)(1)))

  /** D3: table existence/access probe (reference issues DESCRIBE TABLE —
    * validation/ValidationManager.java:110-117; the catalog API is the
    * cleaner Spark-native form, SURVEY.md §2.6).
    */
  def tableExists(table: String): Boolean = spark.catalog.tableExists(table)

  /** D4: the physical location of each of `values` that exists, as
    * `DESCRIBE FORMATTED … PARTITION` shows it (reference:
    * deletion/DeletionExecutor.java:173-186), in one filtered partition
    * listing. Must be read BEFORE the partitions are dropped — unreadable
    * after (SURVEY.md §7.4).
    */
  def partitionLocations(table: String, partitionColumn: String,
      values: Seq[String]): Map[String, String] =
    if (values.isEmpty) Map.empty
    else {
      val id = ident(table)
      // the catalog binds the filter by the column's name as it stores it
      val pc = catalog.getTableMetadata(id).partitionColumnNames
        .find(_.equalsIgnoreCase(partitionColumn)).getOrElse(partitionColumn)
      val in = In(AttributeReference(pc, StringType)(), values.map(Literal(_)))
      catalog.listPartitionsByFilter(id, Seq(in)).flatMap { p =>
        p.storage.locationUri.map(u => p.spec(pc) -> CatalogUtils.URIToString(u))
      }.toMap
    }

  /** D5: drop the metastore entries of `values` with ONE `ALTER TABLE …
    * DROP IF EXISTS PARTITION (…), PARTITION (…)`. For EXTERNAL tables this
    * does NOT remove data files — pair with [[deleteDirectory]]
    * (reference: DeletionExecutor.java:189-197).
    */
  def dropPartitions(table: String, partitionColumn: String, values: Seq[String]): Unit =
    if (values.nonEmpty)
      spark.sql(s"ALTER TABLE ${q(table)} DROP IF EXISTS " +
        values.map(v => s"PARTITION (${PartitionId.partitionSpec(partitionColumn, v)})").mkString(", "))

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
    catalog.externalCatalog.listTables(database)

  /** D8: the properties of each of `tables` in `database` that exists, in
    * one catalog call (backup timestamps for retention GC —
    * backup/HiveTableBackupStrategy.java:117-128).
    */
  def tableProperties(database: String, tables: Seq[String]): Map[String, Map[String, String]] =
    if (tables.isEmpty) Map.empty
    else catalog.externalCatalog.getTablesByName(database, tables)
      .map(t => t.identifier.table -> t.properties).toMap

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
