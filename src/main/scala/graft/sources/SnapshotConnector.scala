package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider, TableScan}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("graft-snapshot")` — the external read surface of
  * [[VersionedTable]], so a SQL/DataFrame user consumes snapshots without
  * calling library code (the reference's consumers read its Hive tables
  * the same way: through the engine's own source API, not the job's
  * classes). Registered under the short name via the standard
  * `META-INF/services` mechanism, so `USING` DDL works too.
  *
  * Two read paths, chosen per manifest:
  *   - CLEAN snapshot (no delete vectors): a [[ManifestFileIndex]] —
  *     live files enumerated FROM THE MANIFEST (one driver-side listing
  *     per live leaf, no recursive directory discovery, loser-attempt
  *     and vacuum-pending dirs invisible by construction) — plugged into
  *     Spark's own `HadoopFsRelation`, which is the public Delta/Iceberg
  *     integration shape: the planner drives the VECTORIZED parquet
  *     reader with full predicate pushdown and column pruning, and the
  *     index prunes whole leaves by evaluating partition-value
  *     predicates driver-side before any task launches.
  *   - DIRTY snapshot (merge-on-read delete vectors pending): falls back
  *     to [[SnapshotScanRelation]], which serves the vector-applied view
  *     through `PrunedFilteredScan` — pushed filters re-enter the inner
  *     Catalyst plan, so parquet pushdown still applies underneath the
  *     anti-join; only the final Row hand-off is non-codegen. Running
  *     [[VersionedTable.compact]] returns the table to the fast path —
  *     the same cost model Delta documents for DV tables.
  *
  * Read options: `path` (required), `versionAsOf` (optional time
  * travel), `timestampAsOf` (optional — epoch millis or UTC
  * `yyyy-MM-dd HH:mm:ss`, resolved to the latest version whose manifest
  * committed at or before that instant, the same clock
  * `vacuumOlderThan` retention runs on); default = head. Or
  * `readChangeFeed=true` (+ optional `startingVersion`/`endingVersion`)
  * for the BATCH change feed: `_change_type`/`_commit_version` rows
  * between two versions instead of a snapshot ([[ChangeFeedRelation]]).
  *
  * Write path (`df.write.format("graft-snapshot")`): `Append` commits a
  * new version via [[VersionedTable.append]] (schema-evolution
  * contract included), `Overwrite` via [[VersionedTable.overwrite]]
  * (truncate-and-load as a NEW VERSION — history stays readable),
  * `ErrorIfExists`/`Ignore` behave per their contracts; a write to a
  * fresh path creates the table. The partition spec comes from the
  * existing table's manifest, or the `partitionCol` option on first
  * create.
  *
  * 100 TB shape: the file list a query plans over is exactly the
  * manifest's live set — O(live files) driver metadata, no S3/HDFS
  * LIST-recursion storm; partition-value pruning cuts that list before
  * the scan; everything after is Spark's own distributed parquet path.
  */
final class GraftSnapshotSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  /** `df.writeStream.format("graft-snapshot").start(dir)` — the Delta
    * `format("delta").start(path)` idiom onto the versioned table:
    * every micro-batch commits as ONE version through
    * [[VersionedTable.appendOnce]]'s per-channel txn record, so the
    * engine's at-least-once `Sink` contract becomes exactly-once
    * APPENDS (a crash-replayed epoch finds its (channel, batch) already
    * in the head manifest and no-ops). Append mode only — update /
    * complete modes have no append semantics on an immutable-version
    * log (aggregate first, then route the result through
    * [[graft.streaming.StreamingMv]] or `foreachBatch`). The table
    * must already exist: its manifest records the partition spec the
    * writer commits under. `channel` (default "stream") keeps multiple
    * writers' idempotence tracking independent.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val ci = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val tableDir = ci.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot streaming write requires a path: " +
        "df.writeStream.format(\"graft-snapshot\").start(dir)"))
    require(
      outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot streaming write supports Append mode only — got " +
        s"$outputMode; aggregate first and route the result through " +
        "foreachBatch / StreamingMv")
    val spark = sqlContext.sparkSession
    val spec = VersionedTable.recordedSpec(spark, tableDir).getOrElse(
      throw new UnsupportedOperationException(
        s"streaming write needs an EXISTING versioned table at " +
          s"$tableDir with a recorded partition spec — " +
          "VersionedTable.create (or CREATE TABLE) it first"))
    new VersionedAppendSink(tableDir, spec,
      ci.getOrElse("channel", "stream"))
  }

  /** `spark.readStream.format("graft-snapshot")`: the table as a change
    * STREAM — versions are the offsets. Two forms:
    *   - default: append-only rows ([[VersionedChangeSource]]; non-append
    *     commits refuse loudly unless `ignoreChanges`);
    *   - `readChangeFeed=true`: Delta-CDF-style change rows — table
    *     columns + `_change_type` (insert|delete) + `_commit_version` —
    *     representing EVERY commit kind exactly, COW and MOR included
    *     ([[VersionedChangeFeedSource]]).
    */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val ci = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val tableDir = ci.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshot streaming requires a path"))
    val m = VersionedTable.manifestView(spark, tableDir,
      VersionedTable.latestVersion(spark, tableDir))
    val base = m.schemaOpt.getOrElse(spark.read.format(m.fmt)
      .load(m.leaves.map(l => s"$tableDir/$l"): _*).schema)
    val out =
      if (ci.get("readchangefeed").exists(_.trim.toBoolean)) {
        val f0 = VersionedChangeFeedSource.feedSchema(base)
        // a row-tracked table's stream carries the stable id too — the
        // incremental-MV/sync consumer keys its upserts on it
        if (VersionedTable.rowTrackingEnabled(spark, tableDir))
          StructType(f0.fields :+ org.apache.spark.sql.types
            .StructField("_row_id", org.apache.spark.sql.types.LongType))
        else f0
      } else base
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val ci = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val tableDir = ci("path")
    val resolved = sourceSchema(sqlContext, schema, providerName, parameters)._2
    if (ci.get("readchangefeed").exists(_.trim.toBoolean))
      new VersionedChangeFeedSource(sqlContext, tableDir, resolved,
        startingVersion = ci.get("startingversion").map(_.trim.toInt))
    else new VersionedChangeSource(sqlContext, tableDir, resolved,
      startingVersion = ci.get("startingversion").map(_.trim.toInt),
      ignoreChanges = ci.get("ignorechanges").exists(_.trim.toBoolean))
  }

  private def versionAt(spark: SparkSession, tableDir: String,
      spec: String): Int =
    SnapshotConnector.versionAtSpec(spark, tableDir, spec)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val ci = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val tableDir = ci.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot requires a path: spark.read.format(\"graft-snapshot\").load(dir)"))
    // batch CDF (the Delta table_changes shape): change rows between two
    // versions instead of a snapshot — `startingVersion` is INCLUSIVE
    // (changes of startingVersion .. endingVersion), matching both the
    // streaming sources' reading of the same option name and Delta's
    // table_changes; startingVersion=0 (the default) therefore includes
    // version 0's initial snapshot as insert rows. endingVersion
    // defaults to head.
    if (ci.get("readchangefeed").exists(_.trim.toBoolean)) {
      require(!ci.contains("versionasof") && !ci.contains("timestampasof"),
        "readChangeFeed and versionAsOf/timestampAsOf are mutually " +
          "exclusive — the feed IS a version range")
      val from = ci.get("startingversion").map(_.trim.toInt - 1).getOrElse(-1)
      val endV = ci.get("endingversion").map(_.trim.toInt)
        .getOrElse(VersionedTable.latestVersion(spark, tableDir))
      return new ChangeFeedRelation(spark, tableDir, from, endV)
    }
    require(!(ci.contains("versionasof") && ci.contains("timestampasof")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    // a number, or a branch/tag name resolved through the named refs
    val version = ci.get("versionasof").map(_.trim).map(v =>
        if (v.matches("\\d+")) v.toInt
        else VersionedTable.resolveRef(spark, tableDir, v))
      .orElse(ci.get("timestampasof").map(versionAt(spark, tableDir, _)))
      .getOrElse(VersionedTable.latestVersion(spark, tableDir))
    val m = VersionedTable.manifestView(spark, tableDir, version)
    if (m.deletes.nonEmpty) new SnapshotScanRelation(spark, tableDir, version)
    else {
      val schema = m.schemaOpt.getOrElse(spark.read.format(m.fmt)
        .load(m.leaves.map(l => s"$tableDir/$l"): _*).schema)
      val colMap = m.colMap
      HadoopFsRelation(
        location = new ManifestFileIndex(spark, tableDir, m.leaves, schema,
          colMap, m.specCols),
        partitionSchema = new StructType(),
        dataSchema = schema,
        bucketSpec = None,
        fileFormat =
          if (m.fmt == "orc") new ManifestOrcFormat(colMap)
          else new ManifestParquetFormat(colMap),
        options = Map.empty)(spark)
    }
  }

  /** Write path: every mode maps onto a versioned-table commit, so a
    * `df.write` user gets optimistic concurrency, schema-evolution
    * checks and readable history without touching library code.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val ci = parameters.map { case (k, v) => (k.toLowerCase, v) }
    val tableDir = ci.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot requires a path: df.write.format(\"graft-snapshot\").save(dir)"))
    val exists = VersionedTable.versions(spark, tableDir).nonEmpty
    val recordedSpec =
      if (exists) VersionedTable.recordedSpec(spark, tableDir) else None
    lazy val partCol = ci.get("partitioncol").orElse(recordedSpec)
      .getOrElse(throw new IllegalArgumentException(
        "graft-snapshot write requires option(\"partitionCol\", …) when " +
          s"creating a new table at $tableDir"))
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"versioned table already exists at $tableDir (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        VersionedTable.append(data, tableDir, partCol)
      case SaveMode.Overwrite if exists =>
        VersionedTable.overwrite(data, tableDir, partCol)
      case _ =>
        // data-file format applies at CREATE only ("format" option,
        // default parquet); existing tables carry their recorded format
        VersionedTable.create(data, tableDir, partCol,
          format = ci.getOrElse("format", "parquet"))
    }
    createRelation(sqlContext, parameters)
  }
}

/** Parquet with the WRITE seam disabled — the fast-path relation's
  * format. SQL `INSERT INTO` on a registered snapshot table resolves to
  * Spark's `InsertIntoHadoopFsRelationCommand`, which writes files
  * straight into the table dir OUTSIDE any manifest: the insert would
  * look committed and be invisible to every read (and `INSERT
  * OVERWRITE` deletes the output dir before writing). The primary guard
  * is the analysis-time check rule in
  * [[graft.plans.GraftExtensions]] (fires before the command can delete
  * anything); this format-level refusal is the defense in depth for
  * sessions running without the extension — `prepareWrite` is the first
  * format call on any append-mode write path. Reads are untouched
  * vectorized parquet.
  */
private[graft] final class ManifestParquetFormat(
    colMap: Map[String, String] = Map.empty) extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job, options: Map[String, String],
      dataSchema: StructType): org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(SnapshotConnector.InsertRefusal)

  /** Column-mapping seam (RENAME COLUMN): files carry frozen PHYSICAL
    * names, the relation exposes LOGICAL ones. Translating the
    * requested/data schemas and pushed filters here — same field order,
    * names only — keeps the hand-off positional, so the vectorized
    * reader and every plan above it never notice the mapping, and
    * parquet row-group skipping on a renamed column still fires.
    */
  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    if (colMap.isEmpty)
      super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    else
      super.buildReaderWithPartitionValues(sparkSession,
        SnapshotConnector.physSchema(dataSchema, colMap), partitionSchema,
        SnapshotConnector.physSchema(requiredSchema, colMap),
        filters.flatMap(SnapshotConnector.physFilter(_, colMap)),
        options, hadoopConf)
}

/** ORC sibling of [[ManifestParquetFormat]] — the fast-path format for
  * ORC-native versioned tables (the reference engine's storage format),
  * with the same write-seam refusal and column-mapping translation.
  */
private[graft] final class ManifestOrcFormat(
    colMap: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.execution.datasources.orc.OrcFileFormat {
  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job, options: Map[String, String],
      dataSchema: StructType): org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(SnapshotConnector.InsertRefusal)

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    if (colMap.isEmpty)
      super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    else
      super.buildReaderWithPartitionValues(sparkSession,
        SnapshotConnector.physSchema(dataSchema, colMap), partitionSchema,
        SnapshotConnector.physSchema(requiredSchema, colMap),
        filters.flatMap(SnapshotConnector.physFilter(_, colMap)),
        options, hadoopConf)
}

/** Manifest-driven [[FileIndex]]: the planner's view of one snapshot's
  * live files.
  *
  * The partition column is DUPLICATED into the data files
  * ([[VersionedTable]] layout), so this index declares an EMPTY partition
  * schema — partition predicates arrive as ordinary data filters, and
  * [[listFiles]] prunes whole leaves by substituting each leaf's
  * partition value into any deterministic predicate that references only
  * the partition column and evaluating it driver-side (the Delta
  * data-skipping shape: skip only on definite FALSE; TRUE and NULL keep
  * the leaf, so an unevaluable or mixed predicate is never wrong, only
  * conservative). Files a filter can't eliminate here are still skipped
  * row-group-wise by parquet min/max stats, since within one leaf the
  * partition column is constant.
  *
  * Listing cost: ZERO `listStatus` calls for a fully-covered table —
  * each add-dir's `_files.tsv` sidecar ([[FileStats.FileListName]],
  * written with the commit) carries every data file's name+size+mtime,
  * so construction is one tiny sidecar read per ADD DIR (shared with
  * the stats sidecar read), not one namenode listing per leaf. At a
  * million-leaf table that is the difference between a metadata read
  * and a million RPCs per relation build — the Delta `add`-action
  * design. Legacy add-dirs without the sidecar fall back to one
  * `listStatus` per leaf ([[leafListings]] counts them — spec-pinned
  * at zero for covered tables). [[refresh]] re-reads on demand.
  * Foreign-spec leaves (partition-spec evolution) keep their
  * own dir column name and simply never match the current predicate's
  * reference — they are retained, which is the documented
  * lost-pruning-until-rewrite cost model.
  */
final class ManifestFileIndex(spark: SparkSession, tableDir: String,
    leaves: Seq[String], tableSchema: StructType,
    colMap: Map[String, String] = Map.empty,
    specCols: Seq[String] = Nil) extends FileIndex {

  /** Sidecar stats and bloom indexes key on the FILE's column names —
    * the frozen physical names; queries arrive with logical ones.
    */
  private def physName(c: String): String = colMap.getOrElse(c, c)

  /** Per-leaf `listStatus` calls this index has issued — 0 when every
    * add-dir carried its file-level manifest (the instrumentation seam
    * the zero-listing spec pins).
    */
  private[sources] var leafListings: Long = 0L

  /** Per-add-dir SIDECAR reads this index has issued (each counts the
    * `_files.tsv`+`_stats.tsv` pair once). With a manifest checkpoint
    * this is the post-checkpoint TAIL only — spec-pinned ≤
    * [[VersionedTable.CheckpointInterval]] on a many-commit table,
    * where the pre-checkpoint form paid one pair per commit ever made.
    */
  private[sources] var sidecarReads: Long = 0L

  // (leaf rel path, partition (column, value) pairs outermost-first,
  // parquet files) per leaf, plus each referenced add-dir's file-level
  // column stats (one tiny sidecar read per add dir) — both
  // metadata-sized, read once. Multi-column specs carry one pair per
  // nesting level; pruning evaluates predicates at the full tuple.
  private var (leafEntries, statsByAddDir): (
      Seq[(String, Seq[(String, String)], Seq[FileStatus])],
      Map[String, Map[String, Map[String, FileStats.ColStats]]]) = list()

  private def list(): (Seq[(String, Seq[(String, String)], Seq[FileStatus])],
      Map[String, Map[String, Map[String, FileStats.ColStats]]]) = {
    val f = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = leaves.map(VersionedTable.addRootOf).distinct
    // checkpoint first: ONE file covers every root folded at checkpoint
    // time (leaves are immutable, so any checkpoint is a valid cache for
    // any version); only the post-checkpoint TAIL — and any leaf retired
    // before the checkpoint that a time travel resurrects — pays a
    // sidecar read. Without this, a 10k-commit table re-reads ~20k tiny
    // sidecars per relation build, every query, forever.
    val (ckptFiles, ckptStats) =
      VersionedTable.loadLatestCheckpoint(spark, tableDir) match {
        case Some((_, fl, st)) => (fl, st)
        case None => (Map.empty[String, Map[String, (Long, Long)]],
          Map.empty[String, Map[String, Map[String, FileStats.ColStats]]])
      }
    // one sidecar read per NON-checkpointed add dir, legacy dirs → None
    val fileLists: Map[String, Option[Map[String, (Long, Long)]]] =
      roots.map { d =>
        d -> (ckptFiles.get(d) match {
          case hit @ Some(_) => hit
          case None =>
            sidecarReads += 1
            FileStats.loadFileList(f, new Path(s"$tableDir/$d"))
        })
      }.toMap
    val entries = leaves.map { l =>
      val root = VersionedTable.addRootOf(l)
      val leafRel = VersionedTable.leafRelOf(l)
      val fromSidecar: Option[Seq[FileStatus]] =
        fileLists(root).map { m =>
          m.toSeq.collect {
            case (rel, (len, mtime))
                if rel.startsWith(leafRel + "/") &&
                  FileStats.isDataFile(rel) =>
              val name = rel.substring(leafRel.length + 1)
              new FileStatus(len, false, 1, 128L << 20, mtime,
                f.makeQualified(new Path(s"$tableDir/$l/$name")))
          }.sortBy(_.getPath.getName)
        }.filter(_.nonEmpty) // a covered leaf always has files; an empty
                             // slice means a foreign sidecar — list it
      val files = fromSidecar.getOrElse {
        leafListings += 1
        f.listStatus(new Path(s"$tableDir/$l")).toSeq
          .filter(st => st.isFile && FileStats.isDataFile(st.getPath.getName))
      }
      (l, VersionedTable.leafPartPairs(l), files)
    }
    val stats = roots.map { d =>
      // covered-by-checkpoint roots take the folded stats (absent from
      // the stats section = the root had no _stats.tsv = empty map, the
      // exact semantics of reading the sidecar directly)
      d -> (if (ckptFiles.contains(d)) ckptStats.getOrElse(d, Map.empty)
            else FileStats.load(f, new Path(s"$tableDir/$d")))
    }.toMap
    (entries, stats)
  }

  override def rootPaths: Seq[Path] = Seq(new Path(tableDir))

  override def partitionSchema: StructType = new StructType()

  /** The leaf's value at the partition level named `colName` — defined
    * only when that level occurs EXACTLY ONCE in the leaf's pairs (a
    * missing or ambiguous level disqualifies value-exact rewrites for
    * that column), and never the null-partition sentinel (a sentinel at
    * the requested level means the dir value is a string stand-in for
    * NULL — substituting it would be wrong at exactly that leaf).
    */
  private def levelValueOf(pairs: Seq[(String, String)],
      colName: String): Option[String] =
    pairs.filter(_._1 == colName) match {
      case Seq((_, v)) if v != VersionedTable.NullPartSentinel => Some(v)
      case _ => None
    }

  /** A leaf's value TUPLE at the named levels (in `cols` order), or
    * None when ANY named level is missing, ambiguous, or the null
    * sentinel — one bad level disqualifies the leaf for every
    * tuple-exact rewrite, same stance as [[levelValueOf]].
    */
  private def tupleValueOf(pairs: Seq[(String, String)],
      cols: Seq[String]): Option[Seq[String]] =
    cols.foldLeft(Option(Vector.empty[String])) { (acc, c) =>
      acc.flatMap(vs => levelValueOf(pairs, c).map(vs :+ _))
    }

  /** Like [[allFileStats]] but over the leaves whose value TUPLE at the
    * named levels the predicate admits — what the filtered
    * min/max/count rewrite folds, now over ANY subset of a multi-column
    * spec's levels (`WHERE region='EU' AND day='…'` binds both).
    * Refuses (None) when any leaf lacks a usable value at ANY named
    * level (foreign spec, sentinel, mixed depths) or any file lacks
    * sidecar coverage.
    */
  private[sources] def fileStatsForLeavesWhereTuple(cols: Seq[String],
      keep: Seq[String] => Boolean)
      : Option[Seq[Map[String, FileStats.ColStats]]] = {
    if (cols.isEmpty ||
        leafEntries.exists(e => tupleValueOf(e._2, cols).isEmpty)) None
    else {
      val perFile = for {
        (leaf, pairs, files) <- leafEntries
        if keep(tupleValueOf(pairs, cols).get)
        root = VersionedTable.addRootOf(leaf)
        leafRel = VersionedTable.leafRelOf(leaf)
        st <- files
      } yield statsByAddDir.getOrElse(root, Map.empty)
        .get(s"$leafRel/${st.getPath.getName}")
      if (perFile.exists(_.isEmpty)) None else Some(perFile.map(_.get))
    }
  }

  /** Filtered count/stats over a MULTI-level tuple predicate — the
    * conjunctive forms `WHERE region='EU' AND day='…'` rewrite from.
    * One O(files) pass each; refusal scope identical to
    * [[fileStatsForLeavesWhereTuple]].
    */
  private[graft] def metaRowCountWhereTuple(cols: Seq[String],
      keep: Seq[String] => Boolean): Option[Long] =
    fileStatsForLeavesWhereTuple(cols, keep)
      .map(_.map(m => m.values.map(_.rows).max).sum)

  private[graft] def metaColStatsWhereTuple(cols: Seq[String],
      keep: Seq[String] => Boolean,
      statCol: String, dt: org.apache.spark.sql.types.DataType)
      : Option[(Option[String], Option[String], Option[Long], Long)] =
    fileStatsForLeavesWhereTuple(cols, keep)
      .flatMap(foldColStats(_, statCol, dt))

  /** ONE-pass grouping of per-file stats by each leaf's value TUPLE at
    * the named levels — what the GROUP-BY-partition rewrite folds ALL
    * its groups from, single- and multi-column alike. Replaces a
    * per-value rescan of every leaf (O(values × leaves); a
    * 10k-partition table would pay a 10⁸-step driver loop) with a
    * single O(files) pass. Refuses (None) exactly like
    * [[fileStatsForLeavesWhereTuple]]: any leaf without a usable value
    * at any named level, or any file without sidecar coverage.
    */
  private[sources] def fileStatsByTupleAt(cols: Seq[String])
      : Option[Map[Seq[String], Seq[Map[String, FileStats.ColStats]]]] = {
    if (cols.isEmpty ||
        leafEntries.exists(e => tupleValueOf(e._2, cols).isEmpty)) None
    else {
      val perFile
          : Seq[(Seq[String], Option[Map[String, FileStats.ColStats]])] =
        for {
          (leaf, pairs, files) <- leafEntries
          t = tupleValueOf(pairs, cols).get
          root = VersionedTable.addRootOf(leaf)
          leafRel = VersionedTable.leafRelOf(leaf)
          st <- files
        } yield t -> statsByAddDir.getOrElse(root, Map.empty)
          .get(s"$leafRel/${st.getPath.getName}")
      if (perFile.exists(_._2.isEmpty)) None
      else Some(perFile.map { case (t, s) => t -> s.get }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) })
    }
  }

  /** tuple → Σ rows, every group from the single [[fileStatsByTupleAt]]
    * pass. A tuple all of whose leaves are empty maps to 0 only if its
    * leaves still carry (empty) file lists; absent tuples read as 0 at
    * the caller.
    */
  private[graft] def metaRowCountsByTupleAt(cols: Seq[String])
      : Option[Map[Seq[String], Long]] =
    fileStatsByTupleAt(cols).map(_.map { case (t, fss) =>
      t -> fss.map(m => m.values.map(_.rows).max).sum
    })

  /** tuple → folded (min, max, nulls, rows) for ONE column, every group
    * from the single [[fileStatsByTupleAt]] pass. Outer None = coverage
    * refusal (same as [[metaColStatsWhereTuple]]); inner None = that
    * one tuple's fold refused (e.g. oversized stats omitted), letting
    * the caller refuse the rewrite without re-scanning other groups.
    */
  private[graft] def metaColStatsByTupleAt(cols: Seq[String],
      statCol: String, dt: org.apache.spark.sql.types.DataType)
      : Option[Map[Seq[String], Option[(Option[String], Option[String],
        Option[Long], Long)]]] =
    fileStatsByTupleAt(cols).map(_.map { case (t, fss) =>
      t -> foldColStats(fss, statCol, dt)
    })

  /** Sidecar stats entry for EVERY live file regardless of partition
    * value, or None the moment one file lacks coverage — the soundness
    * gate for the metadata-aggregate rewrite
    * ([[graft.plans.MetaAggregateRule]]): a single uncovered file means
    * fall back to the scan, never guess. Deliberately takes NO
    * predicate: value filtering lives in [[fileStatsForLeavesWhereTuple]],
    * which binds the level to filter on; a predicate here would
    * silently go unapplied.
    */
  private[sources] def allFileStats
      : Option[Seq[Map[String, FileStats.ColStats]]] = {
    val perFile = for {
      (leaf, _, files) <- leafEntries
      root = VersionedTable.addRootOf(leaf)
      leafRel = VersionedTable.leafRelOf(leaf)
      st <- files
    } yield statsByAddDir.getOrElse(root, Map.empty)
      .get(s"$leafRel/${st.getPath.getName}")
    if (perFile.exists(_.isEmpty)) None else Some(perFile.map(_.get))
  }

  /** Σ rows over every live file, from the sidecars alone. This equals
    * what a scan of THIS index returns by construction: a bare
    * manifest-relation never applies delete vectors (pending vectors
    * route reads through the anti-join plan, which is not a bare
    * relation), so file row counts are the scan's row count.
    */
  private[graft] def metaRowCount: Option[Long] =
    allFileStats.map(_.map(m => m.values.map(_.rows).max).sum)

  /** Merged (min, max, nulls, rows) for one column across every live
    * file, or None when unanswerable soundly: a file missing the
    * column's entry, or carrying non-null rows without min/max (parquet
    * omits oversized stats) — same refusals as `boundsMeta`, expressed
    * as fall-back instead of throw because the optimizer must never
    * fail a query it could have scanned.
    */
  private[graft] def metaColStats(colName: String, dt: org.apache.spark.sql.types.DataType)
      : Option[(Option[String], Option[String], Option[Long], Long)] =
    allFileStats.flatMap(foldColStats(_, colName, dt))

  /** Folded (min, max, nulls, rows): the whole fold refuses (None) when
    * any file lacks the column or carries non-null rows without min/max;
    * the NULL COUNT alone degrades to None when any file's footer left
    * it unset — min/max stay provable (bounds of the non-null values
    * need no null count) while count(col) consumers must refuse rather
    * than treat "unknown" as 0.
    */
  private def foldColStats(files: Seq[Map[String, FileStats.ColStats]],
      colName: String, dt: org.apache.spark.sql.types.DataType)
      : Option[(Option[String], Option[String], Option[Long], Long)] = {
      files.foldLeft(Option((Option.empty[String], Option.empty[String],
          Option(0L), 0L))) {
        case (None, _) => None
        case (Some((mn, mx, nulls, rows)), m) =>
          m.get(physName(colName)) match {
            case None => None
            case Some(cs) if !cs.allNull && (cs.min.isEmpty || cs.max.isEmpty) =>
              None
            case Some(cs) =>
              def keep(cur: Option[String], cand: Option[String],
                  wantMin: Boolean) = (cur, cand) match {
                case (Some(a), Some(b)) =>
                  Some(if (FileStats.statLess(b, a, dt) == wantMin) b else a)
                case _ => cur.orElse(cand)
              }
              Some((keep(mn, cs.min, wantMin = true),
                keep(mx, cs.max, wantMin = false),
                for (a <- nulls; b <- cs.nulls) yield a + b,
                rows + cs.rows))
          }
      }
    }

  /** Keep a leaf unless some pushed predicate over its partition
    * column(s) evaluates to definite FALSE at the leaf's value tuple.
    * Multi-column specs intersect naturally: a predicate is applicable
    * when EVERY column it references is one of the leaf's partition
    * levels (so `c1 = x`, `c2 = y` and `c1 = x AND c2 = y` all prune),
    * and every reference binds to its own level's value. A
    * null-partition leaf (hive's `__HIVE_DEFAULT_PARTITION__` sentinel —
    * the write path refuses to create one, but a foreign or legacy
    * layout might) is ALWAYS kept: substituting the sentinel as a string
    * value would make `IS NULL` definite-FALSE at exactly the leaf
    * holding the nulls.
    */
  /** Derived (transform) spec fields by directory-level name, paired
    * with their SOURCE column's schema field — what hidden-partition
    * pruning projects predicates through.
    */
  private val derivedByDir
      : Map[String, (SpecField, org.apache.spark.sql.types.StructField)] =
    specCols.map(SpecField.parse).filterNot(_.isIdentity)
      .flatMap(f => tableSchema.fields.find(_.name == f.source)
        .map(sf => f.dirName -> (f, sf)))
      .toMap

  /** Hidden-partitioning leaf pruning: can `f` (a predicate over the
    * TRANSFORM's source column) be proven FALSE for every row of a leaf
    * whose transform value is `leafVal`? The Iceberg inclusive-
    * projection rule: for a MONOTONIC transform T, `src OP lit` admits
    * the leaf iff `T(leafVal') OP-with-boundary T(lit)` — the boundary
    * is always kept (a day directory can contain rows on either side of
    * an intra-day cut). Non-monotonic transforms (bucket) project
    * equality shapes only. Anything unrecognized keeps the leaf.
    * IS NULL skips outright: the write path refuses null partition
    * values, so every row's source is non-null.
    */
  private def derivedKeep(f: Expression, fld: SpecField,
      dt: org.apache.spark.sql.types.DataType, leafVal: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Or => COr}
    def proj(v: Any, lt: org.apache.spark.sql.types.DataType)
        : Option[String] =
      if (v == null) None
      else if (lt == dt) fld.projectLit(v, lt)
      else None // literal typed differently than the source — keep
    def cmpGe(v: Any, lt: org.apache.spark.sql.types.DataType): Boolean =
      !fld.monotonic || proj(v, lt).flatMap(p =>
        fld.compareValues(leafVal, p)).forall(_ >= 0)
    def cmpLe(v: Any, lt: org.apache.spark.sql.types.DataType): Boolean =
      !fld.monotonic || proj(v, lt).flatMap(p =>
        fld.compareValues(leafVal, p)).forall(_ <= 0)
    def eq(v: Any, lt: org.apache.spark.sql.types.DataType): Boolean =
      proj(v, lt).forall(_ == leafVal)
    f match {
      case CAnd(l, r) =>
        derivedKeep(l, fld, dt, leafVal) && derivedKeep(r, fld, dt, leafVal)
      case COr(l, r) =>
        derivedKeep(l, fld, dt, leafVal) || derivedKeep(r, fld, dt, leafVal)
      case EqualTo(_: AttributeReference, Literal(v, lt)) => eq(v, lt)
      case EqualTo(Literal(v, lt), _: AttributeReference) => eq(v, lt)
      case EqualNullSafe(_: AttributeReference, Literal(v, lt)) =>
        v != null && eq(v, lt)
      case EqualNullSafe(Literal(v, lt), _: AttributeReference) =>
        v != null && eq(v, lt)
      case GreaterThan(_: AttributeReference, Literal(v, lt)) => cmpGe(v, lt)
      case GreaterThanOrEqual(_: AttributeReference, Literal(v, lt)) =>
        cmpGe(v, lt)
      case LessThan(_: AttributeReference, Literal(v, lt)) => cmpLe(v, lt)
      case LessThanOrEqual(_: AttributeReference, Literal(v, lt)) =>
        cmpLe(v, lt)
      case GreaterThan(Literal(v, lt), _: AttributeReference) => cmpLe(v, lt)
      case GreaterThanOrEqual(Literal(v, lt), _: AttributeReference) =>
        cmpLe(v, lt)
      case LessThan(Literal(v, lt), _: AttributeReference) => cmpGe(v, lt)
      case LessThanOrEqual(Literal(v, lt), _: AttributeReference) =>
        cmpGe(v, lt)
      case In(_: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, lt) => v != null && eq(v, lt) }
      case IsNull(_: AttributeReference) => false // no null partition rows
      case IsNotNull(_: AttributeReference) => true
      case _ => true
    }
  }

  private def keepLeafDerived(filters: Seq[Expression],
      pairs: Seq[(String, String)]): Boolean =
    derivedByDir.isEmpty || derivedByDir.forall {
      case (dirName, (fld, sf)) =>
        levelValueOf(pairs, dirName) match {
          case None => true // foreign/sentinel level — never pruned
          case Some(v) => filters.forall { f =>
            val applicable = f.deterministic && f.references.nonEmpty &&
              f.references.forall(_.name == fld.source)
            !applicable || derivedKeep(f, fld, sf.dataType, v)
          }
        }
    }

  private def keepLeaf(filters: Seq[Expression],
      pairs: Seq[(String, String)]): Boolean =
    keepLeafDerived(filters, pairs) && (
    pairs.exists(_._2 == VersionedTable.NullPartSentinel) || {
      val valueLits: Map[String, Option[Literal]] = pairs.map {
        case (pcol, pval) =>
          pcol -> tableSchema.fields.find(_.name == pcol).map { field =>
            val cast = Cast(Literal(UTF8String.fromString(pval), StringType),
              field.dataType,
              Some(spark.sessionState.conf.sessionLocalTimeZone))
            Literal.create(cast.eval(null), field.dataType)
          }
      }.toMap
      filters.forall { f =>
        val applicable = f.deterministic && f.references.nonEmpty &&
          f.references.forall(r => valueLits.get(r.name).exists(_.isDefined))
        !applicable || {
          val bound = f.transform {
            case a: AttributeReference if valueLits.contains(a.name) =>
              valueLits(a.name).get
          }
          val r = bound.eval(InternalRow.empty)
          r == null || java.lang.Boolean.TRUE.equals(r)
        }
      }
    })

  /** Can `f` be proven FALSE for every row of a file with these column
    * stats? Interval logic per comparison shape; anything unrecognized
    * (non-literal operand, unsupported type, absent stats) keeps the
    * file. Null semantics make value predicates safe regardless of the
    * file's null count — a null operand fails a filter anyway — and the
    * all-null case short-circuits every value shape.
    */
  private def skipOne(f: Expression,
      cs: Map[String, FileStats.ColStats]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThanOrEqual => Le, LessThan => Lt}
    def statNulls(e: Expression): Option[(FileStats.ColStats, org.apache.spark.sql.types.DataType)] =
      e match {
        case ar: AttributeReference => for {
          s <- cs.get(physName(ar.name))
          fld <- tableSchema.fields.find(_.name == ar.name)
          if FileStats.supported(fld.dataType)
        } yield (s, fld.dataType)
        case _ => None
      }
    // range/equality proofs consume min/max — float/double excluded
    // (NaN ordering, see FileStats.minMaxSafe); null-count shapes keep
    // every supported type
    def stat(e: Expression): Option[(FileStats.ColStats, org.apache.spark.sql.types.DataType)] =
      statNulls(e).filter { case (_, dt) => FileStats.minMaxSafe(dt) }
    def litOf(e: Expression): Option[Any] = e match {
      case Literal(x, _) if x != null => Some(x)
      case _ => None
    }
    def decode(s: String, dt: org.apache.spark.sql.types.DataType): Any =
      Cast(Literal(UTF8String.fromString(s), StringType), dt,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
    def tru(e: Expression): Boolean =
      java.lang.Boolean.TRUE.equals(e.eval(InternalRow.empty))
    def lt(a: Any, b: Any, dt: org.apache.spark.sql.types.DataType) =
      tru(Lt(Literal.create(a, dt), Literal.create(b, dt)))
    def le(a: Any, b: Any, dt: org.apache.spark.sql.types.DataType) =
      tru(Le(Literal.create(a, dt), Literal.create(b, dt)))
    // each proof: "no value in [min, max] can satisfy the predicate"
    def outside(s: FileStats.ColStats, v: Any,
        dt: org.apache.spark.sql.types.DataType) =
      s.min.exists(m => lt(v, decode(m, dt), dt)) ||
        s.max.exists(m => lt(decode(m, dt), v, dt))
    def maxLe(s: FileStats.ColStats, v: Any,
        dt: org.apache.spark.sql.types.DataType) =
      s.max.exists(m => le(decode(m, dt), v, dt))
    def maxLt(s: FileStats.ColStats, v: Any,
        dt: org.apache.spark.sql.types.DataType) =
      s.max.exists(m => lt(decode(m, dt), v, dt))
    def minGe(s: FileStats.ColStats, v: Any,
        dt: org.apache.spark.sql.types.DataType) =
      s.min.exists(m => le(v, decode(m, dt), dt))
    def minGt(s: FileStats.ColStats, v: Any,
        dt: org.apache.spark.sql.types.DataType) =
      s.min.exists(m => lt(v, decode(m, dt), dt))
    def withBoth(a: Expression, v: Expression)(
        proof: (FileStats.ColStats, Any, org.apache.spark.sql.types.DataType) => Boolean) =
      (for ((s, dt) <- stat(a); value <- litOf(v))
        yield s.allNull || proof(s, value, dt)).getOrElse(false)
    f match {
      case EqualTo(a: AttributeReference, v) => withBoth(a, v)(outside(_, _, _))
      case EqualTo(v, a: AttributeReference) => withBoth(a, v)(outside(_, _, _))
      case EqualNullSafe(a: AttributeReference, v) if litOf(v).isDefined =>
        withBoth(a, v)(outside(_, _, _))
      case GreaterThan(a: AttributeReference, v) => withBoth(a, v)(maxLe(_, _, _))
      case GreaterThan(v, a: AttributeReference) => withBoth(a, v)(minGe(_, _, _))
      case GreaterThanOrEqual(a: AttributeReference, v) => withBoth(a, v)(maxLt(_, _, _))
      case GreaterThanOrEqual(v, a: AttributeReference) => withBoth(a, v)(minGt(_, _, _))
      case Lt(a: AttributeReference, v) => withBoth(a, v)(minGe(_, _, _))
      case Lt(v, a: AttributeReference) => withBoth(a, v)(maxLe(_, _, _))
      case Le(a: AttributeReference, v) => withBoth(a, v)(minGt(_, _, _))
      case Le(v, a: AttributeReference) => withBoth(a, v)(maxLt(_, _, _))
      case In(a: AttributeReference, vs) if vs.forall(litOf(_).isDefined) =>
        stat(a).exists { case (s, dt) =>
          s.allNull || vs.flatMap(litOf).forall(v => outside(s, v, dt))
        }
      case InSet(a: AttributeReference, vs) =>
        stat(a).exists { case (s, dt) =>
          s.allNull || vs.forall(v => v == null || outside(s, v, dt))
        }
      case IsNull(a: AttributeReference) =>
        // a PROVEN zero null count — an unknown count keeps the file
        statNulls(a).exists { case (s, _) => s.noNulls }
      case IsNotNull(a: AttributeReference) =>
        statNulls(a).exists { case (s, _) => s.allNull }
      case _ => false
    }
  }

  /** Attached bloom indexes (`<tableDir>/_bloom/<col>.json`): column →
    * (file path → key-might-be-present). Loaded once per relation
    * instance; a new relation picks up newly attached columns. Stale
    * sidecars are SAFE here by construction: pruning starts from the
    * live file list and a file without an entry is always kept — only
    * positive per-file evidence (key outside [min,max] or bloom-absent)
    * ever drops a file, and data files are immutable under their paths.
    */
  private lazy val bloomByCol: Map[String, Map[String, Long => Boolean]] = {
    val f = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$tableDir/_bloom")
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map { st =>
        st.getPath.getName.stripSuffix(".json") ->
          BloomSkipIndex.fileSkippers(spark, st.getPath.toString)
      }.toMap
  }

  /** Long-valued equality keys per referenced column in `f`, when `f`
    * can only pass rows holding one of them — the shapes a bloom probe
    * can refute (EqualTo either way round, IN over literals).
    */
  private def equalityKeys(f: Expression): Option[(String, Seq[Long])] = {
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In}
    def longOf(e: Expression): Option[Long] = e match {
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Int, _) => Some(v.toLong)
      case _ => None
    }
    f match {
      case EqualTo(a: AttributeReference, l) => longOf(l).map(v => (a.name, Seq(v)))
      case EqualTo(l, a: AttributeReference) => longOf(l).map(v => (a.name, Seq(v)))
      case In(a: AttributeReference, vs) =>
        val keys = vs.map(longOf)
        if (keys.forall(_.isDefined)) Some((a.name, keys.flatten))
        else None
      case _ => None
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val probes = dataFilters.flatMap(equalityKeys).flatMap {
      case (colName, keys) =>
        // physical first (indexes attached pre-rename), then logical
        // (attached after — the attach path keys on what it was given)
        bloomByCol.get(physName(colName))
          .orElse(bloomByCol.get(colName))
          .map(skippers => (skippers, keys))
    }
    val kept = leafEntries.collect {
      case (leaf, pairs, files) if keepLeaf(dataFilters, pairs) =>
        val addDir = VersionedTable.addRootOf(leaf)
        val leafRel = VersionedTable.leafRelOf(leaf)
        val stats = statsByAddDir.getOrElse(addDir, Map.empty)
        files.filter { st =>
          stats.get(s"$leafRel/${st.getPath.getName}")
            .forall(cs => !dataFilters.exists(skipOne(_, cs))) &&
          probes.forall { case (skippers, keys) =>
            skippers.get(st.getPath.toUri.getPath)
              .forall(might => keys.exists(might))
          }
        }
    }.flatten
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  override def inputFiles: Array[String] =
    leafEntries.flatMap(_._3.map(_.getPath.toString)).toArray

  override def refresh(): Unit = {
    val (e, s) = list()
    leafEntries = e
    statsByAddDir = s
  }

  override def sizeInBytes: Long = leafEntries.flatMap(_._3.map(_.getLen)).sum
}

/** Fallback relation for snapshots carrying merge-on-read delete vectors:
  * serves [[VersionedTable.readVersion]]'s vector-applied view (clean
  * leaves plain + dirty leaves anti-joined) behind the source API.
  * Pushed-down filters and the column projection are re-applied INSIDE
  * the inner DataFrame, so Catalyst still drives parquet
  * pushdown/pruning underneath the anti-join; `unhandledFilters` stays
  * at its default (everything re-checked above), making the push a pure
  * I/O reduction that can never change results.
  */
final class SnapshotScanRelation(spark: SparkSession, tableDir: String,
    version: Int) extends BaseRelation with PrunedFilteredScan {

  private val view: DataFrame =
    VersionedTable.readVersion(spark, tableDir, version)

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = view.schema

  /** Live data bytes from the file-level manifest — an upper bound on
    * the vector-applied view (deleted rows only shrink it), which is
    * the safe direction for join planning. Without this override the
    * relation inherits `defaultSizeInBytes` (≈Long.Max) and a small
    * DIRTY snapshot could never be auto-broadcast until compacted —
    * at scale that turns a dimension-table join into a full shuffle
    * for exactly the window between a delete and its compaction.
    */
  // lazy: the planner asks BaseRelation.sizeInBytes on demand — on a
  // legacy table without _files.tsv sidecars liveBytes falls back to one
  // listStatus per live leaf, a cost only join planning should ever pay
  override lazy val sizeInBytes: Long =
    VersionedTable.liveBytes(spark, tableDir, version)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val filtered = filters.flatMap(SnapshotConnector.filterColumn)
      .foldLeft(view)(_ filter _)
    val projected =
      if (requiredColumns.isEmpty) filtered.select() // count(*): 0-field rows
      else filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.rdd
  }
}

/** The versioned table as a Structured Streaming SOURCE — versions are
  * the offsets, which is what makes the stream exactly-once for free:
  * the engine's offset log records version ranges, and a replayed range
  * deterministically re-reads the same manifest diff (no dedup state,
  * no receiver). Batch (from, to] = rows in leaves ADDED by versions
  * from+1..to; the first batch is the full snapshot at the stream's
  * start (or the diff from `startingVersion`, Delta's semantics).
  *
  * Non-append commits are REFUSED loudly, not silently wrong: a
  * copy-on-write delete/compact retires leaves (re-reading their
  * replacements would re-emit surviving rows as duplicates) and a
  * merge-on-read delete grows the vector list (appended leaves alone
  * would miss the deletion) — either in a batch range raises unless
  * `ignoreChanges` opts into Delta's documented re-emission behavior.
  * Retention contract: vacuum must retain the stream's lag window —
  * a vacuumed `from`-manifest fails the batch loudly (same as Delta).
  *
  * Projection is pinned to the stream's START schema: added leaves read
  * through `spark.read.schema(...)`, so mid-stream column evolution
  * neither shifts the output schema nor crashes — new columns surface
  * after a restart.
  */
final class VersionedChangeSource(sqlContext: SQLContext, tableDir: String,
    streamSchema: StructType, startingVersion: Option[Int],
    ignoreChanges: Boolean)
  extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val spark = sqlContext.sparkSession

  override def schema: StructType = streamSchema

  override def getOffset: Option[Offset] =
    Some(LongOffset(VersionedTable.latestVersion(spark, tableDir).toLong))

  // offsets arrive as LongOffset from this run or SerializedOffset from a
  // recovered checkpoint; LongOffset's json is its number either way
  private def versionOf(o: Offset): Int = o.json.trim.toInt

  private def emptyBatch: DataFrame =
    org.apache.spark.sql.graft.GraftStreamingBridge.streamingFrame(
      sqlContext, spark.sparkContext.emptyRDD, streamSchema)

  private def asStreaming(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.GraftStreamingBridge.streamingFrame(
      sqlContext,
      df.select(streamSchema.fieldNames.toIndexedSeq.map(col): _*)
        .queryExecution.toRdd,
      streamSchema)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    val fromV = start.map(versionOf).orElse(startingVersion.map(_ - 1))
    fromV match {
      case None =>
        // initial batch: the full snapshot (delete vectors applied)
        asStreaming(VersionedTable.readVersion(spark, tableDir, endV))
      case Some(f) if f >= endV => emptyBatch
      case Some(f) =>
        val from = VersionedTable.manifestView(spark, tableDir, f)
        val to = VersionedTable.manifestView(spark, tableDir, endV)
        val removed = from.leaves.toSet -- to.leaves.toSet
        val vectorsGrew = (to.deletes.toSet -- from.deletes.toSet).nonEmpty
        if ((removed.nonEmpty || vectorsGrew) && !ignoreChanges)
          throw new IllegalStateException(
            s"versions ${f + 1}..$endV at $tableDir contain a non-append " +
              "change (copy-on-write rewrite, compaction or delete " +
              "vector); an append-only change stream cannot represent " +
              "it. Read with readChangeFeed=true for exact " +
              "insert/delete change rows, restart from a fresh " +
              "checkpoint, or set ignoreChanges=true to re-emit " +
              "rewritten rows")
        val added = to.leaves.filterNot(from.leaves.toSet)
        if (added.isEmpty) emptyBatch
        else {
          // RENAME COLUMN mapping: leaves carry frozen physical names.
          // A name absent from the map is its own physical name — which
          // also covers a stream pinned to pre-rename logical names
          // (those ARE the physical names).
          val cm = scala.util.Try(to.colMap)
            .getOrElse(Map.empty[String, String])
          val raw = spark.read
            .schema(SnapshotConnector.physSchema(streamSchema, cm))
            .format(to.fmt).load(added.map(l => s"$tableDir/$l"): _*)
          asStreaming(
            if (cm.isEmpty) raw
            else raw.select(streamSchema.fields.toIndexedSeq.map(f =>
              col(cm.getOrElse(f.name, f.name)).as(f.name)): _*))
        }
    }
  }

  override def commit(offset: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"VersionedChangeSource[$tableDir]"
}

/** The versioned table as a CHANGE FEED stream
  * (`readChangeFeed=true`) — the Delta-CDF shape: every commit between
  * two offsets (versions) emits its exact change rows via
  * [[VersionedTable.changeFeed]]'s manifest-restricted multiset diff, so
  * COW deletes/updates/merges and MOR vectors are all representable —
  * no blanket non-append refusal, no whole-leaf re-emission. A keyed
  * UPDATE/MERGE arrives as `update_preimage`/`update_postimage` pairs
  * (Delta's four change types); carried rows cancel; replaying a
  * committed offset range reproduces identical rows (versions are
  * immutable), which is what makes a downstream `foreachBatch` consumer
  * exactly-once under the engine's offset log. The first batch with no
  * starting version is the current snapshot as `insert` rows — the
  * natural consumer (an incremental MV, a takedown auditor) needs the
  * base state before the deltas.
  */
final class VersionedChangeFeedSource(sqlContext: SQLContext,
    tableDir: String, feedSchema: StructType, startingVersion: Option[Int])
  extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.Offset
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  private val spark = sqlContext.sparkSession

  override def schema: StructType = feedSchema

  override def getOffset: Option[Offset] =
    Some(LongOffset(VersionedTable.latestVersion(spark, tableDir).toLong))

  private def versionOf(o: Offset): Int = o.json.trim.toInt

  private val trackIds = feedSchema.fieldNames.contains("_row_id")

  private def asStreaming(df0: DataFrame): DataFrame = {
    // a step that predates row-tracking ENABLE has no _row_id column —
    // a declared-id stream reads null there (what a head read of that
    // era answers), never an analysis error
    val df = if (trackIds && !df0.columns.contains("_row_id"))
      df0.withColumn("_row_id",
        lit(null).cast(org.apache.spark.sql.types.LongType))
    else df0
    org.apache.spark.sql.graft.GraftStreamingBridge.streamingFrame(
      sqlContext,
      df.select(feedSchema.fieldNames.toIndexedSeq.map(col): _*)
        .queryExecution.toRdd,
      feedSchema)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    val fromV = start.map(versionOf).orElse(startingVersion.map(_ - 1))
    fromV match {
      case None =>
        // initial batch: the current snapshot as insert rows (with the
        // stable id when the stream declares it)
        asStreaming((if (trackIds)
            VersionedTable.readVersionWithRowIds(spark, tableDir, endV)
          else VersionedTable.readVersion(spark, tableDir, endV))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(endV.toLong)))
      case Some(f) if f >= endV =>
        org.apache.spark.sql.graft.GraftStreamingBridge.streamingFrame(
          sqlContext, spark.sparkContext.emptyRDD, feedSchema)
      case Some(f) =>
        asStreaming(VersionedTable.changeFeed(spark, tableDir, f, endV))
    }
  }

  override def commit(offset: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"VersionedChangeFeedSource[$tableDir]"
}

object VersionedChangeFeedSource {
  /** Table schema + the two CDF columns. */
  def feedSchema(base: StructType): StructType = StructType(
    base.fields.toIndexedSeq :+
      org.apache.spark.sql.types.StructField("_change_type", StringType,
        nullable = false) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false))
}

/** The versions-as-epochs streaming SINK ([[GraftSnapshotSource
  * .createSink]]): each `addBatch` anchors the engine's micro-batch
  * frame as a plain batch ([[org.apache.spark.sql.graft
  * .GraftStreamingBridge.batchFrame]] — the epoch plans ONCE, no
  * re-execution) and appends it exactly-once under (channel, epoch).
  */
final class VersionedAppendSink(tableDir: String, spec: String,
    channel: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit =
    VersionedTable.appendOnce(
      org.apache.spark.sql.graft.GraftStreamingBridge.batchFrame(data),
      tableDir, spec, channel, s"b$batchId")
  override def toString: String = s"VersionedAppendSink[$tableDir]"
}

/** BATCH change-feed relation
  * (`spark.read.format("graft-snapshot").option("readChangeFeed","true")
  * .option("startingVersion", f).option("endingVersion", t)`): the same
  * [[VersionedTable.changeFeed]] diff the streaming source serves, as a
  * one-shot frame — Delta's batch `table_changes` shape. Versions are
  * immutable, so the same option pair always returns identical rows.
  */
final class ChangeFeedRelation(spark: SparkSession, tableDir: String,
    fromV: Int, toV: Int) extends BaseRelation with TableScan {

  override def sqlContext: SQLContext =
    spark.sqlContext

  override val schema: StructType = VersionedChangeFeedSource.feedSchema(
    VersionedTable.manifestView(spark, tableDir, toV).schemaOpt.getOrElse(
      VersionedTable.readVersion(spark, tableDir, toV).schema))

  override def buildScan(): RDD[Row] =
    VersionedTable.changeFeed(spark, tableDir, fromV, toV).rdd

  override def toString: String =
    s"ChangeFeedRelation[$tableDir v$fromV..v$toV]"
}

/** Surface entry: the [[VersionedTable.snapshotAsOf]] scenario (create
  * thirds → append rest → copy-on-write delete), consumed ONLY through
  * `spark.read.format("graft-snapshot")` — head and `versionAsOf` 1 side
  * by side, with a partition-value predicate (day-of-month ≤ 15) that the
  * [[ManifestFileIndex]] prunes to a leaf subset before the scan. The
  * DuckDB oracle recomputes both snapshots from the slice predicates, so
  * the connector's manifest→files→vectorized-scan path is hash-checked
  * end-to-end by an independent engine.
  */
object SnapshotConnector {

  /** `timestampAsOf` → version: the latest manifest committed at or
    * before the instant (epoch millis, or UTC `yyyy-MM-dd HH:mm:ss`).
    * An instant predating the table is a loud error, not an empty read.
    * Shared by the V1 read option and the V2 catalog's reader-option
    * time travel ([[GraftV2Table.newScanBuilder]]).
    */
  /** Public alias of [[versionAtSpec]] for the SQL maintenance
    * statements (RESTORE … TO TIMESTAMP AS OF).
    */
  private[graft] def versionAtTimestamp(spark: SparkSession,
      tableDir: String, spec: String): Int =
    versionAtSpec(spark, tableDir, spec)

  private[sources] def versionAtSpec(spark: SparkSession,
      tableDir: String, spec: String): Int = {
    val ts =
      if (spec.trim.matches("\\d+")) spec.trim.toLong
      else java.time.LocalDateTime
        .parse(spec.trim.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    VersionedTable.versionAtMillis(spark, tableDir, ts)
  }

  /** A leaf set as a manifest-driven relation frame — the ONE scan
    * construction the connector and [[VersionedTable]]'s own read path
    * share, so library reads (`readVersion`, the delete/merge pruned
    * scans) get the same leaf pruning and file-level stats skipping as
    * `spark.read.format("graft-snapshot")` users.
    */
  private[sources] def relationFrame(spark: SparkSession, tableDir: String,
      leaves: Seq[String], schema: StructType,
      fmt: String = "parquet",
      colMap: Map[String, String] = Map.empty,
      specCols: Seq[String] = Nil): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(HadoopFsRelation(
        location = new ManifestFileIndex(spark, tableDir, leaves, schema,
          colMap, specCols),
        partitionSchema = new StructType(),
        dataSchema = schema,
        bucketSpec = None,
        fileFormat =
          if (fmt == "orc") new ManifestOrcFormat(colMap)
          else new ManifestParquetFormat(colMap),
        options = Map.empty)(spark))

  /** CBO catalog statistics from the manifest sidecars — METADATA ONLY
    * (the stats maps the file index already folded; no data scan, no
    * listing): row count, live bytes, and per-column min/max +
    * null-count for the types whose footer stats we trust. NDV is not
    * recorded in the sidecars, so integral columns take the textbook
    * bound `min(rowCount, max-min+1)` (exact for dense id columns, an
    * upper bound otherwise — the safe direction for join-cardinality
    * estimates) and booleans take 2; other types report no NDV. None
    * when any live file lacks sidecar coverage — partial statistics
    * would mis-estimate with confidence.
    */
  private[graft] def cboStats(idx: ManifestFileIndex,
      out: Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference])
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    import org.apache.spark.sql.types.{BooleanType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}
    idx.metaRowCount.map { rows =>
      val colStats = out.flatMap { a =>
        val statable = a.dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType | BooleanType => true
          case _ => false
        }
        if (!statable) None
        else idx.metaColStats(a.name, a.dataType).map {
          case (mn, mx, nulls, _) =>
            val ndv = (a.dataType, mn, mx) match {
              case (ByteType | ShortType | IntegerType | LongType,
                  Some(lo), Some(hi)) =>
                scala.util.Try {
                  val span = BigInt(hi.toLong) - BigInt(lo.toLong) + 1
                  span.min(BigInt(rows)).max(BigInt(1))
                }.toOption
              case (BooleanType, _, _) =>
                Some(BigInt(2).min(BigInt(rows).max(BigInt(1))))
              case _ => None
            }
            a.name -> CatalogColumnStat(distinctCount = ndv, min = mn,
              max = mx, nullCount = nulls.map(BigInt(_)))
        }
      }.toMap
      CatalogStatistics(BigInt(idx.sizeInBytes), Some(BigInt(rows)),
        colStats)
    }
  }

  /** Schema with RENAMEd fields carrying their frozen physical names —
    * names only, order and types untouched (the positional identity the
    * format translation relies on). Recurses into struct types: nested
    * renames map by the full DOTTED logical path (`prefix.field`), so a
    * pruned requested struct still translates field-by-field.
    */
  private[sources] def physSchema(s: StructType,
      cm: Map[String, String], prefix: String = ""): StructType =
    StructType(s.fields.map { f =>
      val path = if (prefix.isEmpty) f.name else prefix + "." + f.name
      val dt = f.dataType match {
        case st: StructType => physSchema(st, cm, path)
        case other => other
      }
      f.copy(name = cm.getOrElse(path, f.name), dataType = dt)
    })

  /** Pushed-down filter with attribute names mapped logical→physical;
    * None for shapes we don't recognize — dropping a pushed filter is
    * always safe (Spark re-evaluates every filter above the scan), a
    * mistranslated one would not be. Nested attributes arrive as
    * dot-joined paths: each path PREFIX translates independently
    * (`s.b` → `s2.a` when both the column and the field were renamed).
    * Backtick-quoted segments (a raw name containing a dot) drop the
    * filter instead of risking a mistranslation.
    */
  private[sources] def physFilter(f: Filter,
      cm: Map[String, String]): Option[Filter] = {
    def n(a: String): Option[String] =
      if (a.contains('`')) None
      else if (!a.contains('.')) Some(cm.getOrElse(a, a))
      else {
        val segs = a.split("\\.", -1)
        var prefix = ""
        Some(segs.indices.map { i =>
          prefix = if (i == 0) segs(0) else prefix + "." + segs(i)
          cm.getOrElse(prefix, segs(i))
        }.mkString("."))
      }
    f match {
      case sources.EqualTo(a, v) => n(a).map(sources.EqualTo(_, v))
      case sources.EqualNullSafe(a, v) =>
        n(a).map(sources.EqualNullSafe(_, v))
      case sources.GreaterThan(a, v) => n(a).map(sources.GreaterThan(_, v))
      case sources.GreaterThanOrEqual(a, v) =>
        n(a).map(sources.GreaterThanOrEqual(_, v))
      case sources.LessThan(a, v) => n(a).map(sources.LessThan(_, v))
      case sources.LessThanOrEqual(a, v) =>
        n(a).map(sources.LessThanOrEqual(_, v))
      case sources.In(a, vs) => n(a).map(sources.In(_, vs))
      case sources.IsNull(a) => n(a).map(sources.IsNull(_))
      case sources.IsNotNull(a) => n(a).map(sources.IsNotNull(_))
      case sources.StringStartsWith(a, v) =>
        n(a).map(sources.StringStartsWith(_, v))
      case sources.StringEndsWith(a, v) =>
        n(a).map(sources.StringEndsWith(_, v))
      case sources.StringContains(a, v) =>
        n(a).map(sources.StringContains(_, v))
      case sources.And(l, r) =>
        for (lc <- physFilter(l, cm); rc <- physFilter(r, cm))
          yield sources.And(lc, rc)
      case sources.Or(l, r) =>
        for (lc <- physFilter(l, cm); rc <- physFilter(r, cm))
          yield sources.Or(lc, rc)
      case sources.Not(c) => physFilter(c, cm).map(sources.Not(_))
      case t: sources.AlwaysTrue => Some(t)
      case t: sources.AlwaysFalse => Some(t)
      case _ => None
    }
  }

  /** V1 source filters translated back to Columns where expressible;
    * `None` for shapes we don't evaluate (callers re-apply or refuse).
    * Shared by the dirty-snapshot `PrunedFilteredScan`, the V2 catalog
    * scan, and `DELETE FROM`'s predicate translation.
    */
  private[graft] def filterColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.StringEndsWith(a, s) => Some(col(a).endsWith(s))
    case sources.StringContains(a, s) => Some(col(a).contains(s))
    case sources.And(l, r) =>
      for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
    case sources.Not(c) => filterColumn(c).map(!_)
    case _ => None
  }

  /** Shared refusal text for SQL INSERT against a snapshot table. */
  val InsertRefusal: String =
    "INSERT INTO/OVERWRITE a graft-snapshot table bypasses the manifest " +
      "(files would land outside any committed version) and is not " +
      "supported — append with df.write.format(\"graft-snapshot\")" +
      ".mode(\"append\").save(dir), or call VersionedTable.append/overwrite"

  def connectorRead(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_conn")
    VersionedTable.create(
      events.filter(col("event_id") % 3 === 0), dir, "pdate")
    VersionedTable.append(
      events.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    VersionedTable.delete(spark, dir, "pdate",
      col("event_type") === "click" && col("user_id") % 5 === 2)

    def summarize(df: DataFrame, src: String): DataFrame = df
      .filter(substring(col("pdate"), 9, 2) <= "15")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        sum(round(col("value") * 1e6).cast("long")).cast("long")
          .as("sum_micros"),
        countDistinct(col("pdate")).cast("long").as("n_partitions"))
      .withColumn("src", lit(src))

    val head = spark.read.format("graft-snapshot").load(dir)
    val preDelete = spark.read.format("graft-snapshot")
      .option("versionAsOf", "1").load(dir)
    summarize(head, "head").unionByName(summarize(preDelete, "v1"))
      .select("src", "event_type", "n_rows", "sum_micros", "n_partitions")
      .orderBy("src", "event_type")
  }

  def connectorReadSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events
      |  WHERE CAST(strftime(ts, '%d') AS INT) <= 15)
      |SELECT 'head' AS src, event_type,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(round(value * 1e6)) AS BIGINT) AS sum_micros,
      |  CAST(count(DISTINCT pdate) AS BIGINT) AS n_partitions
      |FROM e WHERE NOT (event_type = 'click' AND user_id % 5 = 2)
      |GROUP BY event_type
      |UNION ALL
      |SELECT 'v1', event_type,
      |  CAST(count(*) AS BIGINT),
      |  CAST(sum(round(value * 1e6)) AS BIGINT),
      |  CAST(count(DISTINCT pdate) AS BIGINT)
      |FROM e GROUP BY event_type
      |ORDER BY src, event_type""".stripMargin
}
