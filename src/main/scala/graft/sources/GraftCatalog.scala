package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The versioned table as a DataSource V2 CATALOG — the SQL surface a
  * Delta/Iceberg user actually types, over the exact same manifest
  * machinery the V1 connector and library calls commit through:
  *
  * {{{
  *   SET spark.sql.catalog.graft = graft.sources.GraftCatalog  // (set
  *       by GraftSession automatically)
  *   SELECT * FROM graft.`/warehouse/events`
  *   SELECT * FROM graft.`/warehouse/events` VERSION AS OF 3
  *   SELECT * FROM graft.`/warehouse/events` TIMESTAMP AS OF '2026-08-01 00:00:00'
  *   INSERT INTO graft.`/warehouse/events` SELECT ...
  *   INSERT OVERWRITE graft.`/warehouse/events` SELECT ...
  *   DELETE FROM graft.`/warehouse/events` WHERE status = 'INACTIVE'
  *   UPDATE graft.`/warehouse/events` SET status = 'CLOSED' WHERE ...
  *   MERGE INTO graft.`/warehouse/events` t USING src s ON t.id = s.id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * `DELETE FROM` IS the reference engine's product as a SQL statement
  * (criteria → affected partitions → rewrite-the-complement,
  * `deletion/DeletionExecutor.java:139-230`); here it executes through
  * [[VersionedTable.delete]]'s copy-on-write kernel. UPDATE and MERGE
  * route through [[VersionedTable.update]]/[[VersionedTable.merge]] via
  * the DML resolution rule in [[graft.plans.GraftExtensions]].
  *
  * V1/V2 COEXISTENCE (deliberate): this catalog is the DML + time-travel
  * SQL surface over the SAME manifest machinery as the V1
  * `graft-snapshot` connector — one read implementation (manifest file
  * index, leaf pruning, sidecar stats skipping, MOR vector anti-join)
  * serves both, so the two can never disagree about a table's contents.
  * With the extensions active, every PURE-READ catalog reference is
  * rewritten to the V1 `LogicalRelation`
  * ([[graft.plans.GraftV2ReadRule]]), so catalog `SELECT`s plan the
  * vectorized `FileSourceScanExec` inside WholeStageCodegen — the
  * 100 TB scan path — and the [[V1Scan]] delegation below remains only
  * as the extension-less fallback (correct, pruned, per-row conversion
  * at the boundary).
  *
  * Identifiers come in TWO spellings (both over the same machinery):
  *
  *   - PATH tables (Delta's power-user shape): the single name part is
  *     the table directory — `graft.`/abs/path``.
  *   - NAMED tables (the Delta/Iceberg default mode): with a warehouse
  *     root configured (`spark.sql.catalog.graft.warehouse = /root`),
  *     `graft.db.t` resolves to `<root>/db/t` through the exact same
  *     path machinery — namespaces are directories, `SHOW TABLES IN
  *     graft.db` lists the directories holding a manifest, `CREATE
  *     NAMESPACE` is mkdir. Without a warehouse, namespaced lookups
  *     refuse (never silently joined into a relative path).
  *
  * Either spelling takes the metadata-table suffix
  * (`…history|detail|partitions|constraints` — the Delta/Iceberg
  * pattern), a read-only driver-metadata-sized frame.
  *
  * Maintenance runs as DSv2 procedures (`CALL graft.vacuum(…)`, see
  * [[GraftProcedures]]), and CTAS stages atomically
  * ([[StagingTableCatalog]]): data files write first, the v0 manifest
  * publishes at commit — no observable empty-shell version, and an
  * aborted CTAS leaves no table at all.
  */
final class GraftCatalog extends TableCatalog with ProcedureCatalog
    with StagingTableCatalog with SupportsNamespaces {

  private var catalogName: String = "graft"
  private var warehouseOpt: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouseOpt = Option(options.get("warehouse")).map(_.stripSuffix("/"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** The named-table root: the initialize option, else the live session
    * conf (`spark.sql.catalog.<name>.warehouse`) — the conf can be set
    * after the catalog instance was built.
    */
  private def warehouse: Option[String] = warehouseOpt.orElse(
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .map(_.stripSuffix("/")))

  /** A namespaced identifier part must be a plain directory name — a
    * separator or dot-dot would silently escape the warehouse root.
    */
  private def requirePlainParts(parts: Seq[String]): Unit =
    parts.foreach(p => require(
      p.nonEmpty && !p.contains("/") && !p.contains("\\") && p != ".." &&
        p != ".",
      s"invalid part '$p' in a namespaced graft identifier — named " +
        "tables are plain directory names under the warehouse root"))

  private def dirOf(ident: Identifier): String =
    if (ident.namespace().isEmpty) ident.name()
    else warehouse match {
      case Some(root) =>
        val parts = ident.namespace().toSeq :+ ident.name()
        requirePlainParts(parts)
        (root +: parts).mkString("/")
      case None => throw new NoSuchTableException(ident)
    }

  private def isTableDir(dir: String): Boolean =
    try { VersionedTable.latestVersion(spark, dir); true }
    catch { case scala.util.control.NonFatal(_) => false }

  private def tableAt(ident: Identifier, version: Option[Int]): Table = {
    val dir = dirOf(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    new GraftV2Table(dir, version)
  }

  /** The directory a metadata-table suffix's PREFIX resolves to, when
    * that prefix is itself a table: `graft.`/dir`.history` (path) and
    * `graft.db.t.history` (named) both land here.
    */
  private def metadataBaseDir(ident: Identifier): Option[String] = {
    val ns = ident.namespace()
    val candidate =
      if (ns.length == 1) Some(ns(0)) // path spelling
      else warehouse.map { root =>
        requirePlainParts(ns.toSeq)
        (root +: ns.toSeq).mkString("/")
      }
    candidate.filter(isTableDir)
  }

  override def loadTable(ident: Identifier): Table =
    if (ident.namespace().nonEmpty &&
        GraftMetadataTable.kinds.contains(ident.name().toLowerCase)) {
      // a REAL table named like a metadata kind wins over the suffix
      // reading of the same identifier
      // NonFatal, not just NoSuchTableException: with a warehouse root
      // configured, a path-spelled prefix ("/abs/dir") fails dirOf's
      // plain-part check — that must fall through to metadataBaseDir,
      // not abort the suffix read.
      val asTable = try Some(dirOf(ident)).filter(isTableDir)
        catch { case scala.util.control.NonFatal(_) => None }
      asTable.map(new GraftV2Table(_, None)).orElse(
        metadataBaseDir(ident)
          .map(new GraftMetadataTable(_, ident.name().toLowerCase)))
        .getOrElse(throw new NoSuchTableException(ident))
    } else tableAt(ident, None)

  /** `VERSION AS OF <v>` — the catalog-level time-travel hook. */
  /** `VERSION AS OF <v>` — a version NUMBER, or a BRANCH/TAG name
    * resolved through the table's named refs ([[VersionedTable.resolveRef]]).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.trim
    if (v.matches("\\d+")) tableAt(ident, Some(v.toInt))
    else tableAt(ident,
      Some(VersionedTable.resolveRef(spark, dirOf(ident), v)))
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands MICROseconds; the manifest
    * clock ([[VersionedTable.versionAtMillis]]) runs on millis.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    val v =
      try VersionedTable.versionAtMillis(spark, dir, timestamp / 1000L)
      catch { case _: java.io.FileNotFoundException =>
        throw new NoSuchTableException(ident)
      }
    tableAt(ident, Some(v))
  }

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true }
    catch { case _: NoSuchTableException => false }

  // ---- namespaces: directories under the warehouse root ----

  private def hadoopFs(p: String) = new Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def namespaceDir(namespace: Array[String]): Option[String] =
    warehouse.map { root =>
      requirePlainParts(namespace.toSeq)
      (root +: namespace.toSeq).mkString("/")
    }

  private def subDirs(dir: String): Seq[String] = {
    val f = hadoopFs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
  }

  /** `SHOW TABLES IN graft.db` — a table is a subdirectory holding a
    * manifest (one listing + one manifest probe per child; a warehouse
    * namespace holds human-scale table counts, not data-scale).
    */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    namespaceDir(namespace) match {
      case Some(dir) => subDirs(dir)
        .filter(d => isTableDir(s"$dir/$d"))
        .map(d => Identifier.of(namespace, d)).toArray
      case None => Array.empty // path catalog: tables are directories
    }

  override def listNamespaces(): Array[Array[String]] =
    warehouse.toSeq.flatMap(root => subDirs(root)
      .filterNot(d => isTableDir(s"$root/$d"))
      .map(d => Array(d))).toArray

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else namespaceDir(namespace) match {
      case Some(dir) if hadoopFs(dir).exists(new Path(dir)) =>
        subDirs(dir).filterNot(d => isTableDir(s"$dir/$d"))
          .map(d => namespace :+ d).toArray
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(name() +: namespace.toSeq)
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    namespaceDir(namespace) match {
      case Some(dir) if hadoopFs(dir).exists(new Path(dir)) &&
          !isTableDir(dir) =>
        Map("location" -> dir).asJava
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(name() +: namespace.toSeq)
    }

  /** `CREATE NAMESPACE graft.db` is mkdir under the warehouse root. */
  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    namespaceDir(namespace) match {
      case Some(dir) => hadoopFs(dir).mkdirs(new Path(dir))
      case None => throw new UnsupportedOperationException(
        "CREATE NAMESPACE needs a warehouse root — set " +
          s"spark.sql.catalog.$catalogName.warehouse")
    }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "ALTER NAMESPACE is not supported — a graft namespace is a plain " +
        "directory with no metadata to alter")

  /** DROP NAMESPACE removes an EMPTY directory only; cascade would
    * destroy version history wholesale, which is a filesystem decision,
    * not a statement (the [[dropTable]] contract, one level up).
    */
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean =
    namespaceDir(namespace) match {
      case Some(dir) =>
        val f = hadoopFs(dir)
        if (!f.exists(new Path(dir))) false
        else {
          if (f.listStatus(new Path(dir)).nonEmpty)
            throw new UnsupportedOperationException(
              "DROP NAMESPACE is refused for a non-empty namespace — " +
                "tables' version histories are the product; delete the " +
                "directory explicitly if you truly mean to destroy them")
          f.delete(new Path(dir), false)
        }
      case None => false
    }

  /** `CREATE TABLE graft.`/dir`` (…) PARTITIONED BY (c1[, c2…])` — an
    * EMPTY v0 commit recording schema + ordered spec, ready for
    * `INSERT INTO`. CTAS works as Spark's non-staging two-step
    * (createTable, then the append write) — the intermediate empty
    * version is visible, which is exactly the honest non-atomic CTAS
    * contract of a non-staging catalog. Only identity partitioning maps
    * onto the directory layout; bucket/days/hours transforms refuse
    * loudly (a user can materialize the derived column and identity-
    * partition on it). An unpartitioned CREATE refuses too: every
    * versioned-table kernel groups work by partition values.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    val dir = dirOf(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val specCols = partitions.toSeq.map(GraftCatalog.transformSpelling)
    require(specCols.nonEmpty,
      "CREATE TABLE through the graft catalog needs PARTITIONED BY — " +
        "every versioned-table kernel (delete/update/merge/maintenance) " +
        "groups its work by partition values")
    val fmt = Option(properties.get("format")).getOrElse("parquet")
    val rowTracking = Option(properties.get("graft.rowTracking"))
      .exists(_.trim.equalsIgnoreCase("true"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    VersionedTable.create(empty, dir, specCols.mkString(","), format = fmt,
      rowTracking = rowTracking)
    new GraftV2Table(dir, None)
  }

  override def capabilities()
      : util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `ALTER TABLE … ADD/DROP CONSTRAINT` maps onto the manifest's CHECK
    * constraint machinery (a metadata commit that first validates every
    * existing row). Only CHECK is supported: UNIQUE/PK/FK need global
    * uniqueness enforcement the storage layout does not carry — refusing
    * is honest; silently recording an unenforced key would not be.
    * `ALTER TABLE … ADD COLUMNS` maps onto the manifest's
    * schema-widening machinery ([[VersionedTable.addColumns]]): a
    * metadata-only commit, old rows read the new columns as null — the
    * exact evolution appends already perform, now without needing a
    * batch. Nullable top-level end-position columns only: a NOT NULL
    * add cannot manufacture values for existing rows, nested/positioned
    * adds would need a rewrite — each refuses naming itself.
    * `ALTER TABLE … DROP COLUMN` is the metadata-only NARROWING commit
    * ([[VersionedTable.dropColumns]]): head reads lose the column,
    * prior versions keep it via time travel; partition-spec and
    * constraint-referenced columns refuse. `ALTER TABLE … RENAME
    * COLUMN` is the metadata-only column-mapping commit
    * ([[VersionedTable.renameColumn]]). Every other ALTER refuses:
    * retypes are out of the evolution contract.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.nonEmpty) {
      adds.foreach { a =>
        if (!a.isNullable)
          throw new UnsupportedOperationException(
            s"ADD COLUMNS '${a.fieldNames().mkString(".")}' must be " +
              "nullable — existing rows cannot manufacture a NOT NULL " +
              "value")
        if (a.position() != null)
          throw new UnsupportedOperationException(
            "ADD COLUMNS with FIRST/AFTER positions is not supported — " +
              "new columns append at the end (a repositioning would " +
              "rewrite every leaf)")
      }
      // nested field adds (`ADD COLUMNS (s.c T)`): metadata-only struct
      // widening through [[VersionedTable.addNestedField]]; no DEFAULT
      // channel for nested fields (refused there)
      adds.filter(_.fieldNames().length > 1).foreach { a =>
        if (a.defaultValue() != null)
          throw new UnsupportedOperationException(
            s"ADD COLUMNS '${a.fieldNames().mkString(".")}': DEFAULT on " +
              "a NESTED field is not supported — the readers' " +
              "EXISTS_DEFAULT fill is per-column")
        VersionedTable.addNestedField(spark, dir,
          a.fieldNames().toIndexedSeq, a.dataType())
      }
      val tops = adds.filter(_.fieldNames().length == 1)
      val cols = tops.map(a => a.fieldNames()(0) -> a.dataType())
      // DEFAULT rides as the frozen-constant column default
      // ([[VersionedTable.addColumns]] validates foldability): existing
      // rows read it through the readers' EXISTS_DEFAULT fill, omitting
      // INSERTs take it via CURRENT_DEFAULT resolution
      val defaults = tops.collect {
        case a if a.defaultValue() != null =>
          a.fieldNames()(0) -> a.defaultValue().getSql
      }.toMap
      if (cols.nonEmpty) VersionedTable.addColumns(spark, dir, cols, defaults)
    }
    // DROP COLUMN: the metadata-only narrowing commit
    // ([[VersionedTable.dropColumns]] — head reads without the column,
    // prior versions keep it; partition/constraint-referenced columns
    // refuse there)
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    if (drops.nonEmpty) {
      // nested drops (`DROP COLUMN s.a`): metadata-only struct
      // narrowing through [[VersionedTable.dropNestedField]]
      drops.filter(_.fieldNames().length > 1).foreach(d =>
        VersionedTable.dropNestedField(spark, dir,
          d.fieldNames().toIndexedSeq))
      val cols = drops.filter(_.fieldNames().length == 1)
        .map(_.fieldNames()(0))
      if (cols.nonEmpty) VersionedTable.dropColumns(spark, dir, cols,
        ifExists = drops.forall(_.ifExists()))
    }
    // RENAME COLUMN: metadata-only through the schema entry's column
    // mapping ([[VersionedTable.renameColumn]] — head reads the new
    // name, time travel keeps the old, leaves untouched)
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    renames.foreach { r =>
      if (r.fieldNames().length > 1)
        // nested rename: the column-mapping commit one tree level down
        VersionedTable.renameNestedField(spark, dir,
          r.fieldNames().toIndexedSeq, r.newName())
      else VersionedTable.renameColumn(spark, dir, r.fieldNames()(0),
        r.newName())
    }
    // ALTER COLUMN TYPE: metadata-only lossless WIDENING
    // ([[VersionedTable.widenColumnType]] — old leaves read through the
    // vectorized readers' type promotion; narrowings refuse there)
    val retypes = changes.collect { case u: TableChange.UpdateColumnType => u }
    retypes.foreach { u =>
      if (u.fieldNames().length > 1)
        // nested widening: the same metadata-only lossless contract one
        // tree level down ([[VersionedTable.widenNestedFieldType]])
        VersionedTable.widenNestedFieldType(spark, dir,
          u.fieldNames().toIndexedSeq, u.newDataType())
      else VersionedTable.widenColumnType(spark, dir, u.fieldNames()(0),
        u.newDataType())
    }
    changes.filterNot(c => c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType]).foreach {
      case add: TableChange.AddConstraint => add.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          VersionedTable.addCheckConstraint(spark, dir, c.name(),
            c.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"only CHECK constraints are supported — got '${other.toDDL}' " +
            "(UNIQUE/PRIMARY KEY/FOREIGN KEY would be recorded but " +
            "unenforced, which is worse than refusing)")
      }
      case drop: TableChange.DropConstraint =>
        if (!(drop.ifExists() && !VersionedTable
            .checkConstraints(spark, dir).exists(_._1 == drop.name())))
          VersionedTable.dropCheckConstraint(spark, dir, drop.name())
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change '$other' is not supported through the " +
          "graft catalog — schema evolution rides appends " +
          "(VersionedTable.append's evolution contract)")
    }
    loadTable(ident)
  }

  /** DROP TABLE is allowed for exactly ONE shape: a v0-only EMPTY shell
    * (what CREATE TABLE just made) — which is also what Spark's
    * non-atomic CTAS hands back for cleanup when its write fails, so
    * that path must not throw and mask the write's real error. Any
    * table with data or history refuses: versions are the product;
    * destroying them is a filesystem decision, not a statement.
    */
  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else {
      val dir = dirOf(ident)
      val emptyShell =
        VersionedTable.versions(spark, dir) == Seq(0) &&
          VersionedTable.liveLeaves(spark, dir).isEmpty
      if (!emptyShell) throw new UnsupportedOperationException(
        "DROP TABLE through the graft catalog is refused for a table " +
          "with data or history — the versions ARE the product; delete " +
          "the directory explicitly if you truly mean to destroy them")
      val p = new Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME through the graft catalog is not supported — a table IS " +
        "its directory; move the directory and re-query")

  // ---- maintenance procedures: CALL graft.vacuum(…) etc. ----

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace().nonEmpty)
      throw new UnsupportedOperationException(
        s"graft procedures live at the catalog root — got namespace " +
          s"${ident.namespace().mkString(".")}")
    GraftProcedures.load(ident.name()).getOrElse(
      throw new UnsupportedOperationException(
        s"unknown graft procedure '${ident.name()}' — available: " +
          GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftProcedures.names
      .map(n => Identifier.of(Array.empty[String], n)).toArray

  // ---- atomic CTAS: stage the data, publish v0 at commit ----

  /** CTAS through the staged path: validation happens HERE (exists
    * check, identity spec, spec non-empty — same contract as
    * [[createTable]]), data files write during the exec's write phase
    * into the table's own `data/add-v0` layout WITHOUT a manifest, and
    * `commitStagedChanges` publishes the v0 manifest as the single
    * atomic step — a reader (or a crash) before that sees NO table, not
    * an empty shell; abort removes the staged files.
    */
  private def stagedSpecCols(info: TableInfo, what: String): Seq[String] = {
    val specCols =
      info.partitions().toSeq.map(GraftCatalog.transformSpelling)
    require(specCols.nonEmpty,
      s"$what through the graft catalog needs " +
        "PARTITIONED BY — every versioned-table kernel groups its work " +
        "by partition values")
    specCols
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    val dir = dirOf(ident)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val specCols = stagedSpecCols(info, "CREATE TABLE AS SELECT")
    val fmt = Option(info.properties().get("format")).getOrElse("parquet")
    new GraftStagedTable(dir, info.schema(), specCols.mkString(","), fmt)
  }

  /** `[CREATE OR] REPLACE TABLE` — truncate-and-load through the SAME
    * staged path as CTAS, committed as a NEW VERSION of the existing
    * table: the replacement's data stages under the next version's
    * add-dir, the commit publishes its manifest (new schema, spec and
    * format; history stays linear and every prior version keeps time-
    * traveling — the version log is the product, and a replace is one
    * more commit in it, never a history wipe). A failed or aborted
    * replace leaves the old head intact and removes only its own
    * staged bytes.
    */
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    val dir = dirOf(ident)
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .CannotReplaceMissingTableException(ident)
    val specCols = stagedSpecCols(info, "REPLACE TABLE")
    val fmt = Option(info.properties().get("format")).getOrElse("parquet")
    new GraftStagedTable(dir, info.schema(), specCols.mkString(","), fmt,
      replaceBase = Some(VersionedTable.latestVersion(spark, dir)))
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable =
    if (tableExists(ident)) stageReplace(ident, info)
    else stageCreate(ident, info)
}

/** One versioned table (optionally pinned to a time-travel version) as a
  * V2 [[Table]]: reads via a V1-delegating scan, appends/overwrites via
  * the V1 write fallback onto the manifest commit path, deletes via
  * [[SupportsDelete]] → [[VersionedTable.delete]]'s COW kernel, and
  * partition management ([[SupportsPartitionManagement]]) for the
  * read-plus-drop subset: `SHOW PARTITIONS` lists value tuples from the
  * manifest (a pruned scan covers only foreign-spec leaves, the delete
  * kernel's own cost model), `ALTER TABLE … DROP PARTITION` is the
  * reference's D5 as a COW delete of exactly that tuple, and
  * ADD/RENAME partition refuse (partitions exist because data does). A
  * pinned (time-traveled) table REFUSES every mutation — history is
  * immutable.
  */
object GraftCatalog {
  /** DSv2 Transform → the manifest's spec spelling. Identity plus the
    * hidden-partitioning transforms ([[SpecField]]): days(col),
    * bucket(n,col), truncate(w,col); anything else refuses naming the
    * supported set.
    */
  private[sources] def transformSpelling(t: Transform): String = {
    val refs = t.references()
    def ref1: String = {
      if (refs.length != 1 || refs(0).fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"partition transform '${t.describe()}' must reference " +
            "exactly one top-level column")
      refs(0).fieldNames()(0)
    }
    def intArg: Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value().toString.toInt
    }.getOrElse(throw new UnsupportedOperationException(
      s"partition transform '${t.describe()}' needs an integer argument"))
    t.name() match {
      case "identity" => ref1
      case "days" => s"days($ref1)"
      case "months" => s"months($ref1)"
      case "years" => s"years($ref1)"
      case "hours" => s"hours($ref1)"
      case "bucket" => s"bucket($intArg,$ref1)"
      case "truncate" => s"truncate($intArg,$ref1)"
      case _ => throw new UnsupportedOperationException(
        s"unsupported partition transform '${t.describe()}' — " +
          "supported: identity, days/months/years/hours(col), " +
          "bucket(n,col), truncate(w,col)")
    }
  }

  /** Spec spelling → DSv2 Transform (the partitioning() report). */
  private[sources] def spellingTransform(s: String): Transform =
    SpecField.parse(s) match {
      case IdentityField(src) => Expressions.identity(src)
      case DaysField(src) => Expressions.days(src)
      case TimeUnitField("months", src) => Expressions.months(src)
      case TimeUnitField("years", src) => Expressions.years(src)
      case TimeUnitField("hours", src) => Expressions.hours(src)
      case TimeUnitField(u, src) => throw new IllegalStateException(
        s"unreachable time unit $u($src)")
      case BucketField(n, src) => Expressions.bucket(n, src)
      case TruncateField(w, src) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(src))
    }
}

final class GraftV2Table(val tableDir: String, val pinnedVersion: Option[Int])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsPartitionManagement {

  private def spark: SparkSession = SparkSession.active

  private[graft] def resolvedVersion: Int = pinnedVersion.getOrElse(
    VersionedTable.latestVersion(spark, tableDir))

  private lazy val view: VersionedTable.VManifest =
    VersionedTable.manifestView(spark, tableDir, resolvedVersion)

  /** The current partition spec as the public comma-joined string every
    * [[VersionedTable]] mutator takes. DML on a legacy manifest (no
    * recorded spec) is refused loudly — a mutation must never guess the
    * grouping it rewrites under.
    */
  private[graft] def specString: String = view.specOpt.getOrElse(
    throw new UnsupportedOperationException(
      s"table $tableDir has no recorded partition spec (legacy " +
        "manifest) — SQL DML needs one; run any append to record it"))

  private[graft] def requireMutable(op: String): Unit =
    if (pinnedVersion.isDefined) throw new UnsupportedOperationException(
      s"$op on a time-traveled table (VERSION/TIMESTAMP AS OF " +
        s"${pinnedVersion.get}) is refused — history is immutable; " +
        "run the statement against the head table")

  override def name(): String = s"graft.`$tableDir`" +
    pinnedVersion.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = view.schemaOpt.getOrElse(
    spark.read.format(view.fmt)
      .load(view.leaves.map(l => s"$tableDir/$l"): _*).schema)

  override def partitioning(): Array[Transform] =
    view.specCols.map(GraftCatalog.spellingTransform).toArray

  override def properties(): util.Map[String, String] =
    Map("format" -> view.fmt, "location" -> tableDir,
      "version" -> resolvedVersion.toString).asJava

  /** The manifest's CHECK constraints, reported through the V2 surface
    * (DESCRIBE TABLE, the analyzer's constraint-aware paths). Enforced:
    * every write path re-validates ([[VersionedTable]]'s
    * requireConstraints), so enforced+validated is the true status.
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    VersionedTable.checkConstraints(spark, tableDir).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql)
        .enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  // AUTOMATIC_SCHEMA_EVOLUTION enables `MERGE WITH SCHEMA EVOLUTION`:
  // Spark's analyzer computes the missing source columns as AddColumn
  // changes and routes them through alterTable — the same metadata-only
  // widening commit as `ALTER TABLE ADD COLUMNS` (so an evolving merge
  // is TWO versions: the schema commit, then the merge; type-widening
  // changes refuse loudly there). The capability gates nothing else.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  // ---- partition management: SHOW PARTITIONS / DROP PARTITION ----

  override def partitionSchema(): StructType = {
    val bySchema = schema().fields.map(f => f.name -> f.dataType).toMap
    StructType(view.specOpt.toSeq.flatMap(_.split(',').toSeq).map(c =>
      org.apache.spark.sql.types.StructField(c,
        bySchema.getOrElse(c, org.apache.spark.sql.types.StringType),
        nullable = false)))
  }

  /** Leaf-dir string value → Catalyst internal value of the partition
    * column's declared type (the dir rendering is Cast-compatible for
    * every type the writer can lay out).
    */
  private def internalValue(v: String,
      dt: org.apache.spark.sql.types.DataType): Any =
    org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(v),
        org.apache.spark.sql.types.StringType),
      dt, Some("UTC")).eval(null)

  override def listPartitionIdentifiers(names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    val rows = VersionedTable.partitionTuples(spark, tableDir).map { t =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        ps.fields.toIndexedSeq.zip(t).map { case (f, v) =>
          internalValue(v, f.dataType)
        })
    }
    // partial spec (SHOW PARTITIONS t PARTITION(kind='a')): keep tuples
    // whose named positions equal the given values
    val idx = names.map(ps.fieldIndex)
    rows.filter(r => idx.indices.forall { i =>
      val dt = ps.fields(idx(i)).dataType
      r.get(idx(i), dt) == ident.get(i, dt)
    }).toArray
  }

  /** `ALTER TABLE … DROP PARTITION (…)` — the reference's DROP PARTITION
    * (`catalog/CatalogOps` D5) on the versioned backend: a COW delete of
    * exactly that value tuple, history intact. Returns false for an
    * absent tuple (Spark's IF EXISTS contract).
    */
  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    requireMutable("DROP PARTITION")
    if (!partitionExists(ident)) false
    else {
      val ps = partitionSchema()
      val pred = ps.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
        col(f.name) === lit(org.apache.spark.sql.catalyst
          .CatalystTypeConverters.convertToScala(
            ident.get(i, f.dataType), f.dataType))
      }.reduce(_ && _)
      VersionedTable.delete(spark, tableDir, specString, pred)
      true
    }
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "ADD PARTITION is not supported — a graft partition exists exactly " +
        "when data for its value tuple exists; INSERT the data instead")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "partition metadata is derived from the manifest and cannot be " +
        "replaced")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : util.Map[String, String] =
    Map("location" -> tableDir).asJava // leaves move across versions;
    // the manifest, not a fixed dir, is the authority

  // ---- read: V1Scan delegation (see the coexistence note above) ----

  /** Reader options carry the DataFrame-API time-travel spelling
    * (`spark.read.option("versionAsOf", 3).table(…)`, Delta's shape) —
    * honored here for the fallback scan and by [[graft.plans
    * .GraftV2ReadRule]] for the vectorized path. The SQL
    * `VERSION/TIMESTAMP AS OF` forms stay authoritative for
    * schema-changing histories (they pin the TABLE, so the old
    * version's own schema resolves); the option form reads through the
    * head relation's schema.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val v = Option(options.get("versionAsOf")).map(_.trim.toInt)
      .orElse(Option(options.get("timestampAsOf"))
        .map(ts => SnapshotConnector.versionAtSpec(spark, tableDir, ts)))
      .getOrElse(resolvedVersion)
    new GraftScanBuilder(tableDir, v, schema())
  }

  // ---- DELETE FROM (translatable predicates; the DML rule in
  //      GraftExtensions handles the rest + UPDATE/MERGE) ----

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinnedVersion.isEmpty &&
      filters.forall(f => SnapshotConnector.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireMutable("DELETE")
    val pred = filters.flatMap(SnapshotConnector.filterColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    VersionedTable.delete(spark, tableDir, specString, pred)
  }

  override def truncateTable(): Boolean = {
    requireMutable("TRUNCATE")
    VersionedTable.delete(spark, tableDir, specString, lit(true))
    true
  }

  // ---- INSERT INTO / INSERT OVERWRITE via the V1 write fallback:
  //      both are manifest COMMITS (append / truncate-and-load as a new
  //      version), never loose files — the exact bypass the V1 surface
  //      refuses SQL INSERT to prevent is structurally closed here ----

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireMutable("INSERT")
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
        with SupportsDynamicOverwrite {
      // append | truncate (whole-table overwrite) | dynamic (replace
      // exactly the partition tuples present in the data — the
      // reference's S4 `insertInto(overwrite=true)` semantics under
      // partitionOverwriteMode=dynamic, as ONE manifest commit) |
      // replace (static `INSERT OVERWRITE … PARTITION (…)` → the Delta
      // replaceWhere shape, one commit)
      private var mode: String = "append"
      private var replacePred: Option[org.apache.spark.sql.Column] = None
      override def truncate(): WriteBuilder = { mode = "truncate"; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) {
          mode = "truncate"
        } else {
          val preds = filters.toSeq.map(f =>
            SnapshotConnector.filterColumn(f).getOrElse(
              throw new UnsupportedOperationException(
                s"INSERT OVERWRITE filter '$f' has no column-predicate " +
                  "translation — use DELETE + INSERT for this slice")))
          replacePred = Some(preds.reduce(_ && _))
          mode = "replace"
        }
        this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = "dynamic"; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val spec = specString
              mode match {
                case "dynamic" =>
                  VersionedTable.overwritePartitions(data, tableDir, spec)
                case "replace" =>
                  VersionedTable.replaceWhere(data, tableDir, spec,
                    replacePred.get)
                case "truncate" =>
                  VersionedTable.overwrite(data, tableDir, spec)
                case _ =>
                  if (overwrite)
                    VersionedTable.overwrite(data, tableDir, spec)
                  else VersionedTable.append(data, tableDir, spec)
              }
            }
          }
      }
    }
  }
}

object GraftMetadataTable {
  /** The metadata-table suffixes `graft.`/dir`.<kind>` resolves. */
  val kinds: Set[String] = Set("history", "detail", "partitions",
    "constraints", "refs", "files")
}

/** A table's metadata as a read-only table — the Delta
  * `DESCRIBE HISTORY` / Iceberg `t.history` surface through plain SQL:
  * `SELECT * FROM graft.`/dir`.history`. Every kind is
  * driver-metadata-sized by construction (manifest parses, never data
  * scans), so the V1Scan row hand-off costs nothing measurable — this
  * is exactly the surface that hand-off exists for.
  */
final class GraftMetadataTable(val tableDir: String, val kind: String)
    extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  private[sources] def frame(spark: SparkSession): DataFrame = kind match {
    case "history" => VersionedTable.history(spark, tableDir)
    case "detail" => VersionedTable.describeDetail(spark, tableDir)
    case "constraints" =>
      val rows = VersionedTable.checkConstraints(spark, tableDir)
      spark.createDataFrame(rows).toDF("name", "check_expr")
    case "refs" =>
      val rows = VersionedTable.tableRefs(spark, tableDir)
      spark.createDataFrame(rows).toDF("name", "kind", "version")
    case "files" => VersionedTable.filesReport(spark, tableDir)
    case "partitions" =>
      val spec = VersionedTable.recordedSpec(spark, tableDir)
        .map(sp => VersionedTable.specDirNames(VersionedTable.specOf(sp)))
        .getOrElse(throw new UnsupportedOperationException(
          s"table $tableDir has no recorded partition spec (legacy " +
            "manifest) — the partitions metadata table needs one"))
      val schemaT = StructType(spec.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType, nullable = false)))
      val rows = VersionedTable.partitionTuples(spark, tableDir)
        .map(t => Row(t: _*))
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schemaT)
  }

  override def name(): String = s"graft.`$tableDir`.$kind"

  override def schema(): StructType = frame(spark).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new V1Scan {
      override def readSchema(): StructType = schema()
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = readSchema()
          override def buildScan(): RDD[Row] =
            frame(context.sparkSession).rdd
        }.asInstanceOf[T]
    }
  }
}

/** The staged CTAS table: its write buffers the data-file publish
  * ([[VersionedTable.stageCreateData]] — files land under the table's
  * own `data/add-v0` layout, NO manifest yet), `commitStagedChanges`
  * publishes the v0 manifest as the one atomic step, and abort removes
  * the staged bytes. A concurrent reader — or a crash at any point
  * before commit — observes a table that does not exist, never a
  * half-created one; the round-11 "documented non-atomic two-step" CTAS
  * note is retired by this path.
  */
final class GraftStagedTable(tableDir: String, ctasSchema: StructType,
    spec: String, fmt: String, replaceBase: Option[Int] = None)
    extends StagedTable with SupportsWrite {

  private def spark: SparkSession = SparkSession.active

  @volatile private var staged: Option[(Seq[String], StructType)] = None

  // what existed BEFORE this stage wrote anything — abort may fold away
  // only the skeleton it created itself
  private val (dirPreExisted, dataPreExisted): (Boolean, Boolean) = {
    val f = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (f.exists(new Path(tableDir)),
      f.exists(new Path(s"$tableDir/data")))
  }

  override def name(): String = s"graft.`$tableDir` (staged)"

  override def schema(): StructType = ctasSchema

  override def partitioning(): Array[Transform] =
    VersionedTable.specOf(spec)
      .map(GraftCatalog.spellingTransform).toArray

  override def properties(): util.Map[String, String] = {
    val base = Map("format" -> fmt, "location" -> tableDir)
    (if (VersionedTable.rowTrackingEnabled(spark, tableDir))
       base + ("graft.rowTracking" -> "true")
     else base).asJava
  }

  // TRUNCATE rides along for the REPLACE spelling: Spark plans
  // OverwriteByExpression(true) against ANY staged [CREATE OR] REPLACE
  // (including the or-create path on a missing table) — the "truncate"
  // is implicit in publishing a manifest that references only the
  // staged leaves, so the builder's truncate() is the identity
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean)
                : Unit = {
              staged = Some((replaceBase match {
                case Some(base) => VersionedTable.stageReplaceData(
                  data, tableDir, spec, fmt, base)
                case None => VersionedTable.stageCreateData(
                  data, tableDir, spec, fmt)
              }, data.schema))
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val (leaves, dataSchema) = staged.getOrElse((Seq.empty, ctasSchema))
    replaceBase match {
      case Some(base) => VersionedTable.commitStagedReplace(spark,
        tableDir, leaves, dataSchema, spec, fmt, base)
      case None => VersionedTable.commitStagedCreate(spark, tableDir,
        leaves, dataSchema, spec, fmt)
    }
  }

  /** Abort: delete ONLY the bytes this CTAS staged — the nonce-unique
    * `data/add-v0-<nonce>` roots of its own staged leaves — then fold
    * away the empty `data/`/table skeleton if this stage created it. A
    * racing successful create, or unrelated pre-existing files in a
    * manifest-less directory, are structurally untouchable: nothing
    * else lives under our nonce roots, and no exists-then-delete of the
    * whole directory remains to race (round-12 advice, medium).
    */
  override def abortStagedChanges(): Unit = {
    val f = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    staged.foreach { case (leaves, _) =>
      leaves.map(VersionedTable.addRootOf).distinct.foreach { rel =>
        val p = new Path(s"$tableDir/$rel")
        if (f.exists(p)) f.delete(p, true)
      }
    }
    def dropIfEmpty(p: Path): Unit =
      if (f.exists(p) && f.listStatus(p).isEmpty) f.delete(p, false)
    if (!dataPreExisted) dropIfEmpty(new Path(s"$tableDir/data"))
    if (!dirPreExisted) dropIfEmpty(new Path(tableDir))
  }
}

/** Column pruning + filter collection for the V1-delegating scan. Every
  * filter is reported back as residual (Spark re-evaluates above — free
  * correctness), while still being applied INSIDE the V1 plan where the
  * manifest index turns it into leaf pruning and sidecar file skipping.
  */
final class GraftScanBuilder(tableDir: String, version: Int,
    fullSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var collected: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    collected = filters
    filters // all residual: Spark keeps its own Filter node above
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftV1Scan(tableDir, version, required, collected)
}

/** The scan itself: hands Spark a V1 `TableScan` whose `buildScan` is
  * the `graft-snapshot` V1 read (manifest index, pruning, skipping, MOR
  * anti-join) with the collected filters and projection applied inside.
  */
final class GraftV1Scan(tableDir: String, version: Int,
    prunedSchema: StructType, filters: Array[Filter]) extends V1Scan {

  override def readSchema(): StructType = prunedSchema

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = prunedSchema
      override def buildScan(): RDD[Row] = {
        val base = context.sparkSession.read.format("graft-snapshot")
          .option("versionAsOf", version.toString).load(tableDir)
        val filtered = filters.flatMap(SnapshotConnector.filterColumn)
          .foldLeft(base)(_ filter _)
        val projected =
          if (prunedSchema.isEmpty) filtered.select() // count(*): 0-field rows
          else filtered.select(
            prunedSchema.fieldNames.toIndexedSeq.map(col): _*)
        projected.rdd
      }
    }.asInstanceOf[T]
}
