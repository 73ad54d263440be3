package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** The SQL maintenance surface as Spark 4 DSv2 PROCEDURES — the
  * statements a Delta/Iceberg operator types for table upkeep, each a
  * thin `CALL` shim over the library call that already owns the
  * semantics (locking, CAS commit, retention guards):
  *
  * {{{
  *   CALL graft.vacuum('/warehouse/events', 3)
  *   CALL graft.vacuum_dry_run('/warehouse/events', 3)
  *   CALL graft.vacuum_older_than('/warehouse/events', 604800000)
  *   CALL graft.compact('/warehouse/events')
  *   CALL graft.binpack('/warehouse/events', 33554432)
  *   CALL graft.optimize_zorder('/warehouse/events', 'user_id', 'event_id')
  *   CALL graft.optimize('/warehouse/events', 'user_id,event_id,ts',
  *     "day = '2026-01-01'")   -- '' zorder_cols = binpack; '' where = whole table
  *   CALL graft.rollback('/warehouse/events', 2)
  *   CALL graft.evolve_partition_spec('/warehouse/events', 'region,day')
  *   CALL graft.convert_format('/warehouse/events', 'parquet')
  *   CALL graft.clone('/warehouse/events', '/warehouse/events_dev')
  * }}}
  *
  * Each returns a one-row summary [[LocalScan]] (driver-metadata-sized
  * by construction — version lists and leaf counts, never data). The
  * mutating ones inherit the library's store lock
  * ([[graft.Locking.withStoreLock]]) and commit through the same CAS
  * manifest publish as every other writer; `vacuum_dry_run` is the
  * read-only preview (what files/versions/orphans WOULD go).
  *
  * Partition specs come from the MANIFEST, not an argument — a
  * maintenance statement must never re-declare (and possibly
  * contradict) the spec its table commits under.
  */
object GraftProcedures {

  val names: Seq[String] = Seq("vacuum", "vacuum_dry_run",
    "vacuum_older_than", "compact", "binpack", "optimize",
    "optimize_zorder", "rollback", "evolve_partition_spec",
    "convert_format", "clone", "create_branch", "create_tag",
    "drop_ref", "retarget_branch", "checkout_branch",
    "enable_row_tracking")

  def load(name: String): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "vacuum" => Some(Vacuum)
      case "vacuum_dry_run" => Some(VacuumDryRun)
      case "vacuum_older_than" => Some(VacuumOlderThan)
      case "compact" => Some(Compact)
      case "binpack" => Some(Binpack)
      case "optimize" => Some(Optimize)
      case "optimize_zorder" => Some(OptimizeZOrder)
      case "rollback" => Some(Rollback)
      case "evolve_partition_spec" => Some(EvolveSpec)
      case "convert_format" => Some(ConvertFormat)
      case "clone" => Some(Clone)
      case "create_branch" => Some(CreateBranch)
      case "create_tag" => Some(CreateTag)
      case "drop_ref" => Some(DropRef)
      case "retarget_branch" => Some(RetargetBranch)
      case "checkout_branch" => Some(CheckoutBranch)
      case "enable_row_tracking" => Some(EnableRowTracking)
      case _ => None
    }

  private def spark: SparkSession = SparkSession.active

  /** The table's recorded partition spec (comma-joined) — maintenance
    * refuses legacy no-spec manifests loudly, like every mutator.
    */
  private def specOf(dir: String): String = {
    VersionedTable.recordedSpec(spark, dir).getOrElse(
      throw new UnsupportedOperationException(
        s"table $dir has no recorded partition spec (legacy manifest) — " +
          "maintenance procedures need one; run any append to record it"))
  }

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def oneRow(schema: StructType, values: Seq[Any])
      : java.util.Iterator[Scan] = {
    val converted = InternalRow.fromSeq(values.zip(schema.fields).map {
      case (v, f) => CatalystTypeConverters.convertToCatalyst(v)
    })
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(converted)
    }
    java.util.Collections.singletonList(scan).iterator()
  }

  /** Bind-time shim: all graft procedures have fixed parameter lists,
    * so bind() ignores the input shape and Spark's coercion does the
    * rest.
    */
  private abstract class Fixed(procName: String, desc: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  private object Vacuum extends Fixed("vacuum",
      "physically erase versions older than the retained tail") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("retain_last", IntegerType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val retain = input.getInt(1)
      val before = VersionedTable.versions(spark, dir)
      VersionedTable.vacuum(spark, dir, retain)
      val after = VersionedTable.versions(spark, dir)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("versions_dropped", LongType),
        StructField("versions_retained", LongType))),
        Seq(dir, (before.size - after.size).toLong, after.size.toLong))
    }
  }

  private object VacuumDryRun extends Fixed("vacuum_dry_run",
      "preview what vacuum would erase, changing nothing") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("retain_last", IntegerType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val (dead, drop, orphans) =
        VersionedTable.vacuumDryRun(spark, dir, input.getInt(1))
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("would_drop_versions", ArrayType(IntegerType)),
        StructField("n_dead_paths", LongType),
        StructField("n_orphan_dirs", LongType))),
        Seq(dir, drop, dead.size.toLong, orphans.size.toLong))
    }
  }

  private object Compact extends Fixed("compact",
      "fold delete vectors and multi-leaf partitions into one clean " +
        "leaf per partition value") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      VersionedTable.compact(spark, dir, specOf(dir))
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("version", IntegerType))),
        Seq(dir, VersionedTable.latestVersion(spark, dir)))
    }
  }

  private object Binpack extends Fixed("binpack",
      "coalesce small leaves up to the byte floor; large leaves carry " +
        "by reference") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("min_leaf_bytes", LongType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val (packed, carried) =
        VersionedTable.binpack(spark, dir, specOf(dir), input.getLong(1))
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("leaves_packed", IntegerType),
        StructField("leaves_carried", IntegerType))),
        Seq(dir, packed, carried))
    }
  }

  /** The statement form's full shape as one procedure: empty
    * `zorder_cols` = binpack (32 MiB floor), a CSV list = N-column
    * z-order; empty `where` = whole table, a partition predicate =
    * slice-scoped (out-of-slice leaves carry byte-untouched).
    */
  private object Optimize extends Fixed("optimize",
      "partition-scoped re-layout: zorder_cols CSV (empty = binpack), " +
        "where = partition-column slice predicate (empty = whole table)") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("zorder_cols", StringType),
        param("where", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val zcols = input.getUTF8String(1).toString.trim
      val where =
        Some(input.getUTF8String(2).toString.trim).filter(_.nonEmpty)
      val op =
        if (zcols.isEmpty) {
          VersionedTable.binpack(spark, dir, specOf(dir), 32L << 20, where)
          "binpack"
        } else {
          val cs = zcols.split(',').map(_.trim).toSeq
          VersionedTable.optimizeZOrderCols(spark, dir, specOf(dir), cs,
            where = where)
          s"zorder(${cs.mkString(",")})"
        }
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("operation", StringType),
        StructField("version", IntegerType))),
        Seq(dir, op, VersionedTable.latestVersion(spark, dir)))
    }
  }

  private object OptimizeZOrder extends Fixed("optimize_zorder",
      "rewrite the table z-ordered on two columns for 2-D file skipping") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("col1", StringType),
        param("col2", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      VersionedTable.optimizeZOrder(spark, dir, specOf(dir),
        input.getUTF8String(1).toString, input.getUTF8String(2).toString)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("version", IntegerType))),
        Seq(dir, VersionedTable.latestVersion(spark, dir)))
    }
  }

  private object VacuumOlderThan extends Fixed("vacuum_older_than",
      "age-based retention: erase versions whose commit is older than " +
        "the window (the reference's 7-day backup GC shape); the head " +
        "never drops") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("max_age_ms", LongType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val before = VersionedTable.versions(spark, dir)
      VersionedTable.vacuumOlderThan(spark, dir, input.getLong(1))
      val after = VersionedTable.versions(spark, dir)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("versions_dropped", LongType),
        StructField("versions_retained", LongType))),
        Seq(dir, (before.size - after.size).toLong, after.size.toLong))
    }
  }

  private object EvolveSpec extends Fixed("evolve_partition_spec",
      "metadata-only commit switching the spec future writes partition " +
        "under; existing leaves stay readable and migrate on rewrite") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("spec", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val spec = input.getUTF8String(1).toString
      VersionedTable.evolvePartitionSpec(spark, dir, spec)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("spec", StringType),
        StructField("version", IntegerType))),
        Seq(dir, spec, VersionedTable.latestVersion(spark, dir)))
    }
  }

  private object ConvertFormat extends Fixed("convert_format",
      "rewrite the table's live data into another format as one commit " +
        "(e.g. ORC -> parquet, unlocking merge-on-read deletes)") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("format", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val fmt = input.getUTF8String(1).toString
      VersionedTable.convertFormat(spark, dir, specOf(dir), fmt)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("format", StringType),
        StructField("version", IntegerType))),
        Seq(dir, fmt, VersionedTable.latestVersion(spark, dir)))
    }
  }

  private object Clone extends Fixed("clone",
      "zero-copy clone of the head state into a new table dir " +
        "(hard-links where the filesystem allows)") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("source", StringType), param("target", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = input.getUTF8String(0).toString
      val dst = input.getUTF8String(1).toString
      val (files, bytes) = VersionedTable.cloneTable(spark, src, dst)
      oneRow(StructType(Seq(
        StructField("source", StringType),
        StructField("target", StringType),
        StructField("files", LongType),
        StructField("bytes", LongType))),
        Seq(src, dst, files, bytes))
    }
  }

  private object Rollback extends Fixed("rollback",
      "RESTORE: commit a new version whose manifest copies an older " +
        "one's — no data moves") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("to_version", IntegerType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      VersionedTable.rollback(spark, dir, input.getInt(1))
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("restored_from", IntegerType),
        StructField("version", IntegerType))),
        Seq(dir, input.getInt(1), VersionedTable.latestVersion(spark, dir)))
    }
  }

  /** Named refs (Iceberg branch/tag surface): a ref pins its version
    * against every vacuum flavor; tags are immutable, branches
    * retarget; checkout materializes a ref as an independent
    * hard-linked clone for divergent writes.
    */
  private object CreateBranch extends Fixed("create_branch",
      "create a retargetable named pointer at a version (default head)") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("name", StringType),
        param("version", IntegerType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val at = if (input.isNullAt(2)) None else Some(input.getInt(2))
      val v = VersionedTable.createBranch(spark, dir, name, at)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("name", StringType),
        StructField("version", IntegerType))), Seq(dir, name, v))
    }
  }

  private object CreateTag extends Fixed("create_tag",
      "create an immutable named pointer at a version (default head)") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("name", StringType),
        param("version", IntegerType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val at = if (input.isNullAt(2)) None else Some(input.getInt(2))
      val v = VersionedTable.createTag(spark, dir, name, at)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("name", StringType),
        StructField("version", IntegerType))), Seq(dir, name, v))
    }
  }

  private object DropRef extends Fixed("drop_ref",
      "drop a branch or tag; its version re-enters vacuum retention") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("name", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      VersionedTable.dropRef(spark, dir, name)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("dropped", StringType))), Seq(dir, name))
    }
  }

  private object RetargetBranch extends Fixed("retarget_branch",
      "move a branch pointer to another existing version; tags refuse") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("name", StringType),
        param("version", IntegerType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val to = input.getInt(2)
      VersionedTable.retargetBranch(spark, dir, name, to)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("name", StringType),
        StructField("version", IntegerType))), Seq(dir, name, to))
    }
  }

  private object CheckoutBranch extends Fixed("checkout_branch",
      "materialize a ref as an independent hard-linked clone table") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType), param("name", StringType),
        param("dest", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      val name = input.getUTF8String(1).toString
      val dst = input.getUTF8String(2).toString
      val (linked, copied) =
        VersionedTable.checkoutBranch(spark, dir, name, dst)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("dest", StringType),
        StructField("files_linked", LongType),
        StructField("files_copied", LongType))),
        Seq(dir, dst, linked, copied))
    }
  }

  private object EnableRowTracking extends Fixed("enable_row_tracking",
      "backfill per-file row-id bases and commit the tracking flag") {
    override def parameters: Array[ProcedureParameter] =
      Array(param("table", StringType))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = input.getUTF8String(0).toString
      VersionedTable.enableRowTracking(spark, dir)
      oneRow(StructType(Seq(
        StructField("table", StringType),
        StructField("row_id_watermark", LongType))),
        Seq(dir, VersionedTable.rowIdHighWatermark(spark, dir)))
    }
  }
}
