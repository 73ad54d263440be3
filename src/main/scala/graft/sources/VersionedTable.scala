package graft.sources

import scala.util.matching.Regex

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}
import org.json4s.{JArray, JInt, JNothing, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

import graft.pipeline.Locking

/** Manifest-versioned parquet table with partition-granular copy-on-write
  * deletes and time travel — the snapshot layer the reference's deletion
  * job implies but never materializes: its backup/restore pair
  * (`BackupManager.java:21-61`) exists only because the base table has a
  * single mutable state; a versioned table makes every pre-delete state a
  * first-class readable snapshot instead (the public Delta/Iceberg log
  * design, re-expressed minimally).
  *
  * Layout under `tableDir`:
  *   - `data/add-v<N>-<nonce>/<part>=<val>/` — immutable hive-partitioned
  *     parquet leaves, one dir per committing version (the nonce makes
  *     racing writers' staged dirs disjoint). The partition
  *     column is DUPLICATED into the data (`<part>` keeps its value
  *     column; the directory key is `<part>__p`), so snapshot reads union
  *     leaf dirs directly — no partition-discovery reconstruction across
  *     mixed roots. Leaf dir names are SELF-DESCRIBING about which
  *     partition spec wrote them — what [[evolvePartitionSpec]]'s
  *     mixed-spec tables navigate by.
  *   - `manifests/v<N>.json` — the version: an ordered list of live leaf
  *     paths relative to `tableDir`. Committed by writing
  *     `manifests/_staging_v<N>.json` and ONE atomic rename — a crash
  *     leaves an underscore-invisible staging file, never a half manifest
  *     ([[graft.pipeline.Search.appendToIndex]] discipline).
  *
  * Mutation is partition-granular copy-on-write, exactly the reference
  * core's rewrite unit (`DeletionExecutor.java:139-230` rewrites affected
  * partitions, drops emptied ones): a delete prunes the scan to affected
  * leaves, writes survivors into a fresh `add-v<N>` dir, and the new
  * manifest swaps only those leaf entries. Untouched leaves are carried
  * by REFERENCE — shared bytes across versions, which is what makes
  * time travel free and deletes O(affected partitions), not O(table).
  *
  * Scale shape: manifests are leaf-path lists — O(partitions + appends)
  * driver-side metadata, bounded by [[vacuum]]/compaction cadence like
  * every store journal here. Reads are plain multi-root parquet scans, so
  * Catalyst pushdown/pruning applies per leaf.
  *
  * Concurrency: commits are OPTIMISTIC. Every mutation stages its bytes
  * under a writer-unique dir name (`add-v<N>-<nonce>` — two racing
  * writers can never clobber each other's staged files), then CASes on
  * the manifest rename; losing the race raises
  * [[CommitConflictException]] and the public mutators retry against the
  * new head (re-reading it, so a delete retried over a concurrent append
  * sees the appended rows). Loser-attempt dirs become orphans that
  * [[vacuum]] sweeps. The maintenance folds ([[compact]],
  * [[convertFormat]], [[binpack]], [[optimizeZOrderCols]]) retry a lost
  * CAS the same way and also hold the table's store `_LOCK`, so two
  * maintainers never race each other. Only the retention sweeps
  * ([[vacuum]], [[vacuumOlderThan]], [[maintain]]'s vacuum) remain
  * single-writer-only: they erase bytes under the `_LOCK` and never
  * retry (documented there).
  */
object VersionedTable {

  /** A manifest commit lost its CAS to a concurrent committer. Public
    * mutators catch this and retry against the new head.
    */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  private val MaxCommitAttempts = 8

  private def withCommitRetry[A](op: => A): A = {
    var attempt = 1
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(op)
      catch {
        case e: CommitConflictException =>
          if (attempt >= MaxCommitAttempts) throw e
          // jittered backoff desynchronizes lockstep racers (N writers
          // that scan-write-CAS in phase can otherwise burn every
          // attempt on the same collision); bounded so a single retry
          // never stalls a caller noticeably
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(20L, 80L * attempt))
          attempt += 1
      }
    }
    out.get
  }

  /** Short writer-unique suffix for staged dir names — uniqueness across
    * JVMs is the point (two processes racing on the same table), so this
    * is a random token, not a counter.
    */
  private def nonce(): String =
    java.util.UUID.randomUUID().toString.substring(0, 8)

  private val ManifestRe: Regex = "v(\\d+)\\.json".r

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestsDir(tableDir: String) = s"$tableDir/manifests"

  private def partDirCol(partCol: String) = s"${partCol}__p"

  /** Parse the public spec string: a comma-separated ORDERED column
    * list (`"region"`, `"region,day"`). One string keeps every existing
    * single-column call site unchanged while multi-column specs ride
    * the same parameter — the manifest records the parsed list.
    */
  /** Parse the public comma-joined spec string into field spellings —
    * TOP-LEVEL commas only, so transform calls (`bucket(16,id)`) keep
    * their argument commas. Each spelling must parse ([[SpecField]]);
    * duplicate dir names or spellings refuse.
    */
  private[sources] def specOf(partCol: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; val sb = new StringBuilder
    partCol.foreach {
      case '(' => depth += 1; sb.append('(')
      case ')' => depth -= 1; sb.append(')')
      case ',' if depth == 0 => out += sb.result(); sb.clear()
      case c => sb.append(c)
    }
    out += sb.result()
    val cols = out.toSeq.map(_.trim).filter(_.nonEmpty)
    require(cols.nonEmpty, s"empty partition spec: '$partCol'")
    require(cols.distinct == cols,
      s"partition spec repeats a column: '$partCol'")
    val fields = cols.map(SpecField.parse)
    require(fields.map(_.dirName).distinct.size == fields.size,
      s"partition spec's directory names collide: '$partCol'")
    cols
  }

  /** The spec's directory-level names (identity: the column name;
    * transforms: the derived name, e.g. `ts_day`) — what leaf paths
    * carry and what value-exact discovery compares against.
    */
  private[sources] def specDirNames(cols: Seq[String]): Seq[String] =
    cols.map(SpecField.parse(_).dirName)

  /** The underlying SOURCE data columns of the spec (identity: the
    * column itself) — what schema-evolution guards protect.
    */
  private[sources] def specSourceCols(cols: Seq[String]): Seq[String] =
    cols.map(SpecField.parse(_).source)

  /** Project a frame onto the spec's partition-value tuple as strings —
    * the shared shape of every kernel's affected-partition discovery
    * (identity specs: the column itself; transforms: the derived
    * value, matching the leaf directory rendering).
    */
  private def specTupleFrame(cols: Seq[String])(df: DataFrame): DataFrame =
    df.select(specValues(cols, df): _*)

  private def specValues(cols: Seq[String], df: DataFrame): Seq[Column] =
    cols.map(c => SpecField.parse(c).valueIn(df).cast("string"))

  /** Hive's directory spelling for a NULL partition value. The write
    * path refuses to create such a leaf ([[writeDataDirCols]]); readers
    * treat one conservatively (never pruned, disqualifies value-exact
    * metadata rewrites) in case a foreign layout carries it.
    */
  private[graft] val NullPartSentinel = "__HIVE_DEFAULT_PARTITION__"

  /** A version's full state, the one value a commit writes: live data
    * leaves, live position-delete dirs (merge-on-read — see
    * [[deleteMergeOnRead]]), the subset of leaves any delete vector
    * touches (`dirty`), the per-channel latest committed batch ids
    * (`txns`, entries `channel=batchId` — the public Delta `txn` action
    * shape backing [[appendOnce]]'s idempotence), the table SCHEMA as of
    * this version (what makes add-nullable-column evolution safe: reads
    * project every leaf through it), the partition spec, CHECK
    * constraints, format plus feature markers, and the commit's `op`
    * record. Recording `dirty` lets a snapshot read split clean leaves
    * (plain scan) from dirty ones (anti-join) without a discovery job.
    * Kernels derive the next version with `m.copy(...)`.
    */
  private[sources] case class VManifest(leaves: Seq[String],
      deletes: Seq[String] = Nil, dirty: Seq[String] = Nil,
      txns: Seq[String] = Nil, schema: Seq[String] = Nil,
      partcol: Seq[String] = Nil, constraints: Seq[String] = Nil,
      format: Seq[String] = Nil, op: Seq[String] = Nil) {
    /** Data file format of every leaf ("parquet" default — legacy
      * manifests predate the field). One format per table: mixed-format
      * leaf sets are not a thing this design supports.
      */
    def fmt: String = format.headOption.getOrElse("parquet")
    /** ROW TRACKING enabled — the `format` array doubles as the
      * table-feature list (entries past the head are feature markers).
      */
    def rowTracking: Boolean = format.contains(RowTrackingMarker)
    def dirtySet: Set[String] = dirty.toSet
    def schemaOpt: Option[StructType] =
      if (schema.isEmpty) None else Some(decodeSchema(schema))
    /** Current partition spec as the ordered column list; empty on
      * legacy manifests. Multi-column specs nest leaf dirs in this
      * order (`c1__p=v1/c2__p=v2`).
      */
    def specCols: Seq[String] = partcol
    /** Spec as the public comma-joined string ([[specOf]] parses it
      * back); None on legacy manifests.
      */
    def specOpt: Option[String] =
      if (partcol.isEmpty) None else Some(partcol.mkString(","))
    /** Decoded (name, check-expression) pairs. */
    def constraintPairs: Seq[(String, String)] = decodeSchemaPairs(constraints)
    /** This commit's operation record, when the writing kernel left
      * one: (operation name, its key columns) — what lets the change
      * feed pair an UPDATE/MERGE commit's removed×added rows into
      * Delta's `update_preimage`/`update_postimage` change types
      * without row tracking. Unkeyed commits record nothing and keep
      * the exact delete+insert representation.
      */
    def opKeys: Option[(String, Seq[String])] = op match {
      case Nil => None
      case entries =>
        val d = entries.map(urlDecode)
        Some((d.head, d.tail))
    }
    /** logical → physical NAME for RENAMEd columns and nested fields
      * (empty on tables never renamed). Keys are logical paths — a bare
      * name for a top-level column, dotted (`s.b`) for a nested field;
      * the value is the physical name AT THAT TREE NODE (the frozen
      * birth name of the column / field). Leaves carry physical names;
      * every read translates at the file/stats boundary, every write
      * maps back before the files land.
      */
    def colMap: Map[String, String] = decodeSchemaTriples(schema)
      .flatMap {
        case (n, _, Some(seg)) =>
          val (top, nested) = parsePhysSeg(seg)
          top.filter(_ != n).map(p => n -> p).toSeq ++
            nested.map { case (rel, phys) => (n + "." + rel) -> phys }
        case _ => Nil
      }.toMap
    /** logical top-level name → RAW phys segment (the composite
      * `top[/rel=phys,…]` string exactly as recorded). The re-encode
      * seam: every site that rebuilds schema entries from a map must
      * use THIS, not [[colMap]] — the flattened view cannot round-trip
      * nested mappings back into one segment.
      */
    def physSegs: Map[String, String] = decodeSchemaTriples(schema)
      .collect { case (n, _, Some(p)) => n -> p }.toMap
    /** logical name → declared default-value SQL (frozen constants —
      * [[addColumns]] validates foldability at declaration).
      */
    def colDefaults: Map[String, String] = decodeSchemaEntries(schema)
      .collect { case (n, _, _, Some(d)) => n -> d }.toMap
  }

  /** A write was refused because rows violate a table CHECK constraint.
    * SQL-standard semantics: a row violates only when the expression
    * evaluates to definite FALSE (UNKNOWN/null passes — which is why
    * NOT NULL is spelled `col IS NOT NULL`, never null-valued).
    */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** Schema entries are `name:type` tokens with each segment
    * URL-encoded, which keeps them clear of the ':' split char — a
    * struct type's own colons arrive percent-encoded. Types round-trip
    * through `catalogString` / `DataType.fromDDL`.
    */
  private def encodeSchema(s: StructType): Seq[String] =
    s.fields.toSeq.map { f =>
      // a DECLARED DEFAULT on the incoming schema (CREATE TABLE ...
      // DEFAULT 'x' — the analyzer records it as the standard column-
      // default metadata) rides into the manifest's default segment,
      // the same place ADD COLUMNS ... DEFAULT commits it
      val d = if (f.metadata.contains("CURRENT_DEFAULT"))
        Some(f.metadata.getString("CURRENT_DEFAULT")) else None
      encodeSchemaEntry(f.name, f.dataType.catalogString, None, d)
    }

  /** One schema entry with an optional PHYSICAL column name as a third
    * `:`-separated segment (`logical:type:physical`) — the column-
    * mapping seam RENAME COLUMN commits through (Delta's column-mapping
    * idea at this manifest's granularity): the physical name is frozen
    * at column birth, leaves always carry it, and only the logical name
    * ever changes. An identity mapping is never written.
    */
  /** The phys segment is a COMPOSITE: `top[/rel=phys[,rel=phys…]]` —
    * `top` is the frozen physical top-level name (empty ⇒ never
    * renamed at top level), each `rel=phys` entry maps one nested
    * field's logical path RELATIVE to the column (dot-joined) onto its
    * frozen physical field name. The separators (`/` `=` `,` `.`) are
    * safe because the whole segment is URL-encoded in the manifest and
    * nested rename/add refuse names containing them.
    */
  private[sources] def parsePhysSeg(seg: String)
      : (Option[String], Seq[(String, String)]) = {
    val slash = seg.indexOf('/')
    if (slash < 0) (Some(seg).filter(_.nonEmpty), Nil)
    else {
      val top = Some(seg.substring(0, slash)).filter(_.nonEmpty)
      val nested = seg.substring(slash + 1).split(',').toSeq
        .filter(_.nonEmpty).map { kv =>
          val eq = kv.indexOf('=')
          require(eq > 0, s"malformed nested phys mapping '$kv' in '$seg'")
          (kv.substring(0, eq), kv.substring(eq + 1))
        }
      (top, nested)
    }
  }

  private[sources] def buildPhysSeg(top: Option[String],
      nested: Seq[(String, String)]): Option[String] =
    if (nested.isEmpty) top
    else Some(top.getOrElse("") + "/" +
      nested.map { case (r, p) => s"$r=$p" }.mkString(","))

  /** Characters a column/field name must avoid to participate in the
    * column-mapping machinery — the composite's own separators plus
    * backtick (pushed-filter quoting would defeat path translation).
    */
  private[sources] def physSegSafe(name: String): Boolean =
    !name.exists(c => c == '/' || c == '=' || c == ',' || c == '.' ||
      c == '`')

  private def encodeSchemaEntry(name: String, tpe: String,
      phys: Option[String], default: Option[String] = None): String = {
    val p = phys.filter(_ != name)
    val base = urlEncode(name) + ":" + urlEncode(tpe)
    (p, default) match {
      case (None, None) => base
      case (Some(ph), None) => base + ":" + urlEncode(ph)
      // an un-renamed column with a default keeps an EMPTY physical
      // segment so the default always sits at position 3
      case (ph, Some(d)) =>
        base + ":" + ph.map(urlEncode).getOrElse("") + ":" + urlEncode(d)
    }
  }

  /** Encoded per-commit operation record: operation name followed by
    * its pairing-key columns, each URL-encoded.
    */
  private def encodeOp(name: String, keys: Seq[String]): Seq[String] =
    (name +: keys).map(urlEncode)

  /** One decoded schema entry: (logical name, type,
    * physical-name-if-renamed, default-value-SQL-if-declared).
    * URL-encoding percent-escapes every raw ':' inside
    * names/types/expressions, so the segment split is unambiguous; an
    * empty third segment means "not renamed" (it only appears when a
    * default occupies position 4).
    */
  private def decodeSchemaEntries(entries: Seq[String])
      : Seq[(String, String, Option[String], Option[String])] =
    entries.map { e =>
      def opt(s: String) = Some(s).filter(_.nonEmpty).map(urlDecode)
      e.split(':') match {
        case Array(n, t) => (urlDecode(n), urlDecode(t), None, None)
        case Array(n, t, p) => (urlDecode(n), urlDecode(t), opt(p), None)
        case Array(n, t, p, d) =>
          (urlDecode(n), urlDecode(t), opt(p), opt(d))
        case _ => throw new IllegalStateException(
          s"malformed manifest schema entry: '$e'")
      }
    }

  private def decodeSchemaTriples(entries: Seq[String])
      : Seq[(String, String, Option[String])] =
    decodeSchemaEntries(entries).map { case (n, t, p, _) => (n, t, p) }

  private def decodeSchemaPairs(entries: Seq[String]): Seq[(String, String)] =
    decodeSchemaEntries(entries).map { case (n, t, _, _) => (n, t) }

  /** All columns decode nullable: evolved columns read as null from
    * pre-evolution leaves by construction, and parquet scans treat
    * columns as nullable regardless. A DECLARED DEFAULT rides as the
    * standard Spark column-default metadata: EXISTS_DEFAULT makes the
    * parquet/ORC readers fill the column for files written BEFORE it
    * existed (instead of null), CURRENT_DEFAULT lets the analyzer fill
    * it for INSERTs that omit the column — both the same frozen
    * constant here ([[addColumns]] accepts only foldable defaults).
    */
  private def decodeSchema(entries: Seq[String]): StructType =
    StructType(decodeSchemaEntries(entries).map { case (n, t, _, d) =>
      val meta = d.map(sql => new org.apache.spark.sql.types
          .MetadataBuilder()
          .putString("EXISTS_DEFAULT", sql)
          .putString("CURRENT_DEFAULT", sql)
          .build())
        .getOrElse(org.apache.spark.sql.types.Metadata.empty)
      StructField(n, DataType.fromDDL(t), nullable = true, meta)
    })

  /** Versions present, ascending. Staging files are invisible. */
  def versions(spark: SparkSession, tableDir: String): Seq[Int] = {
    val f = fs(spark, tableDir)
    val dir = new Path(manifestsDir(tableDir))
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestRe(n) => Some(n.toInt)
      case _ => None
    }).sorted
  }

  def latestVersion(spark: SparkSession, tableDir: String): Int = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no versioned table at $tableDir")
    vs.last
  }

  private def urlEncode(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def urlDecode(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def jsonArray(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)

  /** An absent key (a manifest older than the key) reads as empty. */
  private def stringsAt(json: JValue, key: String): Seq[String] =
    json \ key match {
      case JNothing => Nil
      case JArray(xs) if xs.forall(_.isInstanceOf[JString]) =>
        xs.collect { case JString(e) => e }
      case other => throw new IllegalStateException(
        s"'$key' is not a string array: ${JsonMethods.compact(other)}")
    }

  /** `manifests/v<N>.json`: `version`, then the [[VManifest]] fields in
    * order as string arrays, compact. `partcol` entries are stored
    * URL-encoded; `schema`, `constraints` and `op` arrive encoded.
    */
  private[sources] def encodeManifest(version: Int, m: VManifest): String =
    JsonMethods.compact(JObject(
      "version" -> JInt(version),
      "leaves" -> jsonArray(m.leaves), "deletes" -> jsonArray(m.deletes),
      "dirty" -> jsonArray(m.dirty), "txns" -> jsonArray(m.txns),
      "schema" -> jsonArray(m.schema),
      "partcol" -> jsonArray(m.partcol.map(urlEncode)),
      "constraints" -> jsonArray(m.constraints),
      "format" -> jsonArray(m.format), "op" -> jsonArray(m.op)))

  /** Inverse of [[encodeManifest]]; `version` is the file name's. A
    * legacy un-encoded `partcol` entry decodes to itself.
    */
  private[sources] def decodeManifest(text: String): VManifest = {
    val json = JsonMethods.parse(text)
    def arr(key: String) = stringsAt(json, key)
    VManifest(arr("leaves"), arr("deletes"), arr("dirty"), arr("txns"),
      arr("schema"), arr("partcol").map(urlDecode), arr("constraints"),
      arr("format"), arr("op"))
  }

  private def readManifestFull(spark: SparkSession, tableDir: String,
      version: Int): VManifest = {
    val f = fs(spark, tableDir)
    val p = new Path(s"${manifestsDir(tableDir)}/v$version.json")
    require(f.exists(p), s"version $version does not exist at $tableDir")
    decodeManifest(readText(f, p))
  }

  private def readHead(spark: SparkSession, tableDir: String): VManifest =
    readManifestFull(spark, tableDir, latestVersion(spark, tableDir))

  /** The head manifest's recorded table schema, when present — the
    * authoritative full-table shape (evolution lands here first), which
    * sidecar indexes should prefer over any schema inferred from a
    * SUBSET of files. One manifest read; no data access.
    */
  def headSchemaOpt(spark: SparkSession,
      tableDir: String): Option[StructType] =
    readHead(spark, tableDir).schemaOpt

  /** Content identity of a committed manifest file — the uniqueness
    * token plan caches key on. A committed version's CONTENT is
    * immutable, but a dropped-and-recreated table at the same path
    * reuses version NUMBERS, and on filesystems with coarse mtime
    * granularity even (mtime, length) can recur across a drop-and-
    * recreate — so this hashes the BYTES. Data-dir names embed a
    * per-commit nonce, so two distinct commits can never hash equal.
    * One small sequential file read; far cheaper than the nested plan
    * analysis the cache exists to avoid.
    */
  def manifestFingerprint(spark: SparkSession, tableDir: String,
      version: Int): String = {
    val p = new Path(s"${manifestsDir(tableDir)}/v$version.json")
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs(spark, tableDir).open(p)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** The head manifest's recorded data-file format ("parquet" default) —
    * what file-granular consumers ([[graft.sources.BloomSkipIndex]])
    * must read [[liveDataFiles]] entries with.
    */
  def headFormat(spark: SparkSession, tableDir: String): String =
    readHead(spark, tableDir).fmt

  // ---- named refs: BRANCHES and TAGS over the version history -------
  //
  // The Iceberg branch/tag idea at this manifest's granularity: a ref
  // is a NAMED pointer into the table's own version chain, stored in a
  // CAS-committed `refs-v<N>.json` chain next to the manifests (the
  // exact no-clobber protocol data commits use, so racing ref updates
  // serialize the same way). Tags are immutable; branches retarget
  // ([[retargetBranch]]). Time travel accepts a ref name anywhere a
  // version number goes (`VERSION AS OF 'audit-2026'`), and EVERY
  // vacuum flavor treats ref'd versions as retained — a tag makes its
  // snapshot immune to retention until the tag drops. DIVERGENT branch
  // writes (a fork of history) are out of the linear-manifest contract
  // and refuse by name: [[checkoutBranch]] materializes the ref as an
  // independent hard-linked clone (full DML immediately; O(live files)
  // metadata, zero data copies on local filesystems) — the supported
  // experiment-branch mechanism.

  private val RefsRe: Regex = "refs-v(\\d+)\\.json".r

  private def refsFileVersions(f: FileSystem, tableDir: String): Seq[Int] = {
    val dir = new Path(manifestsDir(tableDir))
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case RefsRe(n) => Some(n.toInt)
      case _ => None
    }).sorted
  }

  /** All named refs: (name, kind ∈ branch|tag, version), name-sorted. */
  def tableRefs(spark: SparkSession, tableDir: String)
      : Seq[(String, String, Int)] = {
    val f = fs(spark, tableDir)
    refsFileVersions(f, tableDir).lastOption.toSeq.flatMap { n =>
      decodeRefs(readText(f,
        new Path(s"${manifestsDir(tableDir)}/refs-v$n.json")))
    }.sortBy(_._1)
  }

  /** `refs-v<N>.json` text: `{"refs":[...]}`, one `name:kind:version`
    * entry per ref ([[requireRefName]] keeps ':' out of names).
    */
  private[sources] def encodeRefs(refs: Seq[(String, String, Int)]): String =
    JsonMethods.compact(JObject("refs" ->
      jsonArray(refs.map { case (n, k, v) => s"$n:$k:$v" })))

  private[sources] def decodeRefs(text: String): Seq[(String, String, Int)] =
    stringsAt(JsonMethods.parse(text), "refs").map { e =>
      e.split(':') match {
        case Array(name, kind, v) => (name, kind, v.toInt)
        case _ =>
          throw new IllegalStateException(s"malformed ref entry: '$e'")
      }
    }

  /** Resolve a ref name to its version; loud on an unknown name. */
  def resolveRef(spark: SparkSession, tableDir: String, name: String): Int =
    tableRefs(spark, tableDir).collectFirst {
      case (n, _, v) if n == name => v
    }.getOrElse(throw new IllegalArgumentException(
      s"no branch or tag named '$name' at $tableDir — refs are " +
        tableRefs(spark, tableDir).map(_._1).mkString(", ")))

  private def updateRefs(spark: SparkSession, tableDir: String)(
      f: Seq[(String, String, Int)] => Seq[(String, String, Int)]): Unit = {
    val fsys = fs(spark, tableDir)
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val cur = refsFileVersions(fsys, tableDir).lastOption.getOrElse(0)
      val next = f(tableRefs(spark, tableDir))
      if (publishText(fsys,
          new Path(s"${manifestsDir(tableDir)}/refs-v${cur + 1}.json"),
          encodeRefs(next))) return
    }
    throw new IllegalStateException(
      s"ref update lost the CAS race 20 times at $tableDir")
  }

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty && name.matches("[A-Za-z0-9][A-Za-z0-9._-]*") &&
        !name.forall(_.isDigit),
      s"ref name '$name' must be alphanumeric/._- and not all digits " +
        "(a numeric name would be ambiguous with a version number)")

  private def createRef(spark: SparkSession, tableDir: String,
      name: String, kind: String, at: Option[Int]): Int = {
    requireRefName(name)
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no versions to ref at $tableDir")
    val v = at.getOrElse(vs.last)
    require(vs.contains(v),
      s"cannot $kind '$name' at version $v — versions are " +
        s"${vs.head}..${vs.last}")
    updateRefs(spark, tableDir) { refs =>
      require(!refs.exists(_._1 == name),
        s"a ref named '$name' already exists at $tableDir")
      refs :+ ((name, kind, v))
    }
    v
  }

  /** Create a BRANCH (retargetable pointer) at `at` (default: head). */
  def createBranch(spark: SparkSession, tableDir: String, name: String,
      at: Option[Int] = None): Int =
    createRef(spark, tableDir, name, "branch", at)

  /** Create a TAG (immutable pointer) at `at` (default: head). */
  def createTag(spark: SparkSession, tableDir: String, name: String,
      at: Option[Int] = None): Int =
    createRef(spark, tableDir, name, "tag", at)

  /** Move a BRANCH to another existing version (fast-forward or
    * rollback — a pointer move, no data motion); tags refuse.
    */
  def retargetBranch(spark: SparkSession, tableDir: String, name: String,
      to: Int): Unit = {
    val vs = versions(spark, tableDir)
    require(vs.contains(to),
      s"cannot retarget '$name' to version $to — versions are " +
        s"${vs.headOption.getOrElse(-1)}..${vs.lastOption.getOrElse(-1)}")
    updateRefs(spark, tableDir) { refs =>
      refs.find(_._1 == name) match {
        case None => throw new IllegalArgumentException(
          s"no ref named '$name' at $tableDir")
        case Some((_, "tag", _)) => throw new UnsupportedOperationException(
          s"'$name' is a TAG — tags are immutable; drop and re-create, " +
            "or use a branch")
        case Some(_) =>
          refs.map(r => if (r._1 == name) (name, "branch", to) else r)
      }
    }
  }

  /** Drop a ref by name (its version re-enters vacuum retention). */
  def dropRef(spark: SparkSession, tableDir: String, name: String): Unit =
    updateRefs(spark, tableDir) { refs =>
      require(refs.exists(_._1 == name),
        s"no ref named '$name' at $tableDir — refs are " +
          refs.map(_._1).mkString(", "))
      refs.filterNot(_._1 == name)
    }

  /** Materialize a ref as an independent table at `dstDir` — the
    * supported DIVERGENT-write mechanism ([[cloneTable]] at the ref'd
    * version: hard-linked leaves, O(live files)).
    */
  def checkoutBranch(spark: SparkSession, tableDir: String, name: String,
      dstDir: String): (Long, Long) =
    cloneTable(spark, tableDir, dstDir,
      Some(resolveRef(spark, tableDir, name)))

  /** The versions every vacuum flavor must retain because a ref names
    * them (plus transitively nothing — refs pin exactly their version).
    */
  private def refProtected(spark: SparkSession, tableDir: String): Set[Int] =
    tableRefs(spark, tableDir).map(_._3).toSet

  /** Atomically publish `staging` as `committed`, REFUSING an existing
    * destination — the CAS under every commit. HDFS `rename` refuses an
    * existing destination atomically at the NameNode, but POSIX
    * rename(2) (what RawLocalFileSystem delegates to) silently REPLACES
    * it, and an `exists()` probe before the rename is a racy
    * check-then-act — two racing committers could both report success
    * with the loser's manifest clobbering the winner's (round-7 advice,
    * high). On `file://` the no-clobber primitive is therefore a hard
    * link: link(2) fails EEXIST atomically in the kernel, after which
    * the staging name is dropped.
    */
  private def publishNoClobber(f: FileSystem, staging: Path,
      committed: Path): Boolean =
    if (f.getScheme == "file") {
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      try {
        JFiles.createLink(
          JPaths.get(f.makeQualified(committed).toUri.getPath),
          JPaths.get(f.makeQualified(staging).toUri.getPath))
        f.delete(staging, false)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else !f.exists(committed) && f.rename(staging, committed)

  /** Write `text` to `_staging_<name>-<nonce>.<ext>` beside `committed`,
    * then [[publishNoClobber]] it; false (staging file removed) when
    * `committed` already exists.
    */
  private def publishText(f: FileSystem, committed: Path,
      text: String): Boolean = {
    val name = committed.getName
    val (base, ext) = name.splitAt(name.lastIndexOf('.'))
    val staging =
      new Path(committed.getParent, s"_staging_$base-${nonce()}$ext")
    f.mkdirs(committed.getParent)
    val out = f.create(staging, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val ok = publishNoClobber(f, staging, committed)
    if (!ok) f.delete(staging, false)
    ok
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Commit `next` as `version`; losing the CAS to a concurrent
    * committer raises [[CommitConflictException]]. The recorded `op`
    * ([[encodeOp]]) is the argument, never `next.op`, so no commit
    * inherits the operation of the manifest `next` was copied from.
    */
  private[sources] def writeManifest(spark: SparkSession, tableDir: String,
      version: Int, next: VManifest, op: Seq[String] = Nil): Unit = {
    if (!publishText(fs(spark, tableDir),
        new Path(s"${manifestsDir(tableDir)}/v$version.json"),
        encodeManifest(version, next.copy(op = op))))
      throw new CommitConflictException(
        s"version $version already committed at $tableDir")
    // periodic manifest CHECKPOINT (best-effort, never fails a commit):
    // folds every covered add-root's sidecars into one file so relation
    // builds read checkpoint + post-checkpoint tail instead of
    // O(commits) sidecar pairs — a long-lived table's per-query plan
    // cost stops growing with its commit history (the Delta checkpoint
    // cadence; every 10th commit like Delta's default)
    if (version > 0 && version % CheckpointInterval == 0)
      try writeCheckpoint(spark, tableDir, version, next.leaves)
      catch { case _: Exception => () }
  }

  /** Commits between checkpoints — the tail a relation build still pays
    * sidecar reads for. Delta's default cadence.
    */
  val CheckpointInterval = 10

  private def checkpointsDir(tableDir: String) = s"$tableDir/checkpoints"
  private val CheckpointRe = "^v(\\d+)\\.tsv$".r

  /** Write `checkpoints/v<version>.tsv` folding the live leaves'
    * sidecars ([[FileStats.checkpointBody]]); atomic publish, loser
    * skips. Older checkpoints are deleted after a successful publish:
    * leaves are immutable once committed, so ANY checkpoint is a valid
    * cache for any version (missing leaves fall back to their add-dir
    * sidecars) and only the newest is worth keeping. Returns true when
    * a checkpoint was published.
    */
  private[sources] def writeCheckpoint(spark: SparkSession,
      tableDir: String, version: Int, leaves: Seq[String]): Boolean = {
    val f = fs(spark, tableDir)
    val roots = leaves.map(addRootOf).distinct
    FileStats.checkpointBody(f, tableDir, version, roots) match {
      case None => false
      case Some(body) =>
        val ok = publishText(f,
          new Path(s"${checkpointsDir(tableDir)}/v$version.tsv"), body)
        if (ok) f.listStatus(new Path(checkpointsDir(tableDir))).toSeq
          .foreach(st => st.getPath.getName match {
            case CheckpointRe(n) if n.toInt < version =>
              f.delete(st.getPath, false)
            case _ => ()
          })
        ok
    }
  }

  /** The newest committed checkpoint, parsed — or None (young or legacy
    * table). One dir listing + one file read, regardless of history
    * length.
    */
  private[sources] def loadLatestCheckpoint(spark: SparkSession,
      tableDir: String): Option[(Int, Map[String, Map[String, (Long, Long)]],
      Map[String, Map[String, Map[String, FileStats.ColStats]]])] = {
    val f = fs(spark, tableDir)
    val dir = new Path(checkpointsDir(tableDir))
    // A concurrent writer deletes superseded checkpoints AFTER
    // publishing a new one, so the max-version file seen in a listing
    // can vanish before we open it. Mirror the writer's best-effort
    // stance: re-list and retry once (the newer checkpoint is there by
    // then), and fall back to None — sidecar reads are always a valid,
    // merely slower, resolution path. A hot query must never fail on a
    // checkpoint races it only ever treats as a cache.
    def attempt(): Option[(Int, Map[String, Map[String, (Long, Long)]],
        Map[String, Map[String, Map[String, FileStats.ColStats]]])] = {
      if (!f.exists(dir)) return None
      val versions = f.listStatus(dir).toSeq.flatMap(st =>
        st.getPath.getName match {
          case CheckpointRe(n) => Some(n.toInt)
          case _ => None
        })
      if (versions.isEmpty) None
      else {
        Some(FileStats.parseCheckpoint(
          readText(f, new Path(dir, s"v${versions.max}.tsv"))))
      }
    }
    try attempt()
    catch {
      case _: java.io.IOException =>
        try attempt() catch { case _: java.io.IOException => None }
    }
  }

  /** Data file formats a versioned table can commit. ORC is first-class
    * (the reference engine is ORC-native): the writer emits `.orc`
    * leaves, [[FileStats.write]] harvests ORC file statistics for the
    * same sidecars, and the read path scans through Spark's ORC format.
    */
  private[sources] val SupportedFormats = Set("parquet", "orc")

  /** Rename RENAMEd columns back to their frozen physical names right
    * before file bytes land — identity when the table has no mapping.
    * Nested renames rebuild the struct through a same-shape cast (field
    * names change, types/positions don't — a codegen'd no-op on the
    * values).
    */
  private def toPhysical(df: DataFrame,
      colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else {
      val target = SnapshotConnector.physSchema(df.schema, colMap)
      df.select(df.schema.fields.toIndexedSeq.zip(target.fields).map {
        case (f, tf) =>
          val c = if (tf.dataType == f.dataType) col(f.name)
                  else col(f.name).cast(tf.dataType)
          c.as(tf.name)
      }: _*)
    }

  /** A clustered add-dir write (OPTIMIZE ZORDER): RANGE-partition the
    * rows on (spec values…, `key`) into `slices` tasks and sort each task
    * the same way, so every output FILE covers a tight `key` range inside
    * (mostly) one value tuple; `rowGroupBytes` bounds the format's
    * intra-file statistics unit (`parquet.block.size` /
    * `orc.stripe.size`). `key` references PHYSICAL column names — it is
    * evaluated on the frame as written.
    */
  private final case class Clustering(key: Column, slices: Int,
      rowGroupBytes: Int)

  /** Write a frame as a new immutable data dir landing as `version` and
    * return its leaf paths (relative to tableDir). `base` is the
    * manifest the commit derives from — its format, row-tracking flag
    * and column mapping shape the files; create and REPLACE pass the
    * manifest they are about to publish. The spec columns stay in the
    * data; their duplicates drive the directory layout — hash-clustered
    * by value tuple, or range-clustered and sorted under `cluster`.
    */
  private def writeDataDirCols(df: DataFrame, tableDir: String,
      version: Int, partCols: Seq[String], base: VManifest,
      cluster: Option[Clustering] = None): Seq[String] = {
    val fmt = base.fmt
    require(SupportedFormats.contains(fmt),
      s"unsupported versioned-table format '$fmt' — one of " +
        SupportedFormats.mkString("/"))
    val spark = df.sparkSession
    val rt = base.rowTracking
    // leaves always carry PHYSICAL column names (spec columns are
    // unrenamable, so the dir layout never maps)
    val physMapped = toPhysical(df, base.colMap)
    // row tracking, rewrite form: the kernel's frame carries the id
    // column (survivors/updates keep theirs); rows the commit CREATES
    // (merge inserts, replaceWhere adds riding a kernel frame) hold
    // null and fill with fresh ids above the high-watermark. The
    // monotonic offset only needs uniqueness WITHIN this job — the
    // written bytes fix the values, and the next watermark derives
    // from this dir's own sidecar.
    val phys =
      if (rt && physMapped.columns.contains(RowIdCol))
        physMapped.withColumn(RowIdCol, coalesce(col(RowIdCol),
          lit(rowIdHighWatermark(spark, tableDir)) +
            monotonically_increasing_id()))
      else physMapped
    val rel = s"data/add-v$version-${nonce()}"
    val fields = partCols.map(SpecField.parse)
    val pdirs = fields.map(f => partDirCol(f.dirName))
    // identity spec columns stay in the data and their duplicates drive
    // the (possibly nested) directory layout in spec order; TRANSFORM
    // fields derive the dir value from the source column (which itself
    // stays in the data) — the hidden-partitioning contract
    val laid = fields.zip(pdirs).foldLeft(phys) { case (d, (fld, p)) =>
      d.withColumn(p, fld.valueIn(phys))
    }
    val w = cluster match {
      case None => laid.repartition(pdirs.map(col): _*).write
      case Some(c) =>
        // the range partitioning and in-task sort survive the write (no
        // exchange above them); with the footer-stats harvest below the
        // connector skips whole files on the key's columns
        val keys = pdirs.map(col) :+ c.key
        val sizeKey =
          if (fmt == "orc") "orc.stripe.size" else "parquet.block.size"
        laid.repartitionByRange(c.slices, keys: _*)
          .sortWithinPartitions(keys: _*).write
          .option(sizeKey, c.rowGroupBytes.toString)
    }
    w.mode("overwrite").partitionBy(pdirs: _*).format(fmt)
      .save(s"$tableDir/$rel")
    publishDataDir(spark, tableDir, rel, partCols, phys.schema, fmt,
      rowTracking = rt)
  }

  /** Publication contract for a freshly-written add-dir (the tail of
    * [[writeDataDirCols]]): enumerate leaves (one directory level per
    * spec column), refuse NULL-sentinel leaves BEFORE the manifest
    * commit, harvest the file-stats sidecars, return sorted
    * tableDir-relative leaf paths.
    *
    * NULL partition values are REFUSED at EVERY level, not silently
    * written: hive's layout spells them
    * `<col>=__HIVE_DEFAULT_PARTITION__`, a string sentinel that poisons
    * every value-based consumer (leaf pruning would evaluate IS NULL to
    * definite FALSE at exactly the leaf holding the nulls; the metadata
    * rewrites would emit the sentinel as a group value where a scan
    * returns NULL). Detection is free — the written leaf names already
    * say it. Nested listings here are write-path cost over the BATCH's
    * own dirs only — the read path never re-walks them (the
    * `_files.tsv` sidecar).
    */
  private def publishDataDir(spark: SparkSession, tableDir: String,
      rel: String, partCols: Seq[String],
      schema: StructType, fmt: String,
      rowTracking: Boolean = false): Seq[String] = {
    val f = fs(spark, tableDir)
    val pdirs = partCols.map(c => partDirCol(SpecField.parse(c).dirName))
    def level(dirs: Seq[Path], pdir: String): Seq[Path] =
      dirs.flatMap(d => f.listStatus(d).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$pdir="))
        .map(_.getPath))
    val leafDirs = pdirs.foldLeft(Seq(new Path(s"$tableDir/$rel")))(level)
    if (leafDirs.exists(_.toUri.getPath.contains(s"=$NullPartSentinel"))) {
      f.delete(new Path(s"$tableDir/$rel"), true)
      throw new IllegalArgumentException(
        s"batch contains NULL values in partition column(s) " +
          s"'${partCols.mkString(",")}' — null partition values break " +
          "pruning and metadata queries; filter or fill them before writing")
    }
    // file-level column stats next to the commit that wrote the files
    // (footer folds, driver-side, O(batch files)) — what lets the
    // connector's FileIndex skip whole files on data predicates without
    // opening a footer at query time
    FileStats.write(spark, s"$tableDir/$rel", schema, fmt)
    // row tracking: freeze this add-dir's id story in `_rowids.tsv` —
    // materialized files record their max id (from the stats harvest
    // just written), derived files get consecutive bases above the
    // table's high-watermark (footer row counts, metadata-only)
    if (rowTracking) {
      val rootP = new Path(s"$tableDir/$rel")
      val rels = FileStats.loadFileList(f, rootP)
        .map(_.keys.toSeq.sorted).getOrElse(Nil)
      if (rels.nonEmpty) {
        val entries =
          if (schema.fieldNames.contains(RowIdCol)) {
            val stats = FileStats.load(f, rootP)
            rels.map { r =>
              val cs = stats.getOrElse(r, Map.empty).getOrElse(RowIdCol,
                throw new IllegalStateException(
                  s"row-tracked rewrite leaf '$r' carries no $RowIdCol " +
                    "stats — cannot freeze its id range"))
              FileStats.RowIdEntry(r, "m", cs.max.map(_.toLong).getOrElse(
                throw new IllegalStateException(
                  s"row-tracked rewrite leaf '$r' has all-null ids — " +
                    "a base sidecar is missing upstream")), cs.rows)
            }
          } else {
            var w = rowIdHighWatermark(spark, tableDir)
            val counts = FileStats.parquetRowCounts(
              spark.sparkContext.hadoopConfiguration, rootP, rels)
            rels.map { r =>
              val e = FileStats.RowIdEntry(r, "b", w, counts(r))
              w += counts(r)
              e
            }
          }
        FileStats.writeRowIds(f, rootP, entries)
      }
    }
    val rootPath = f.makeQualified(new Path(s"$tableDir/$rel")).toUri.getPath
    leafDirs.map { d =>
      s"$rel/${f.makeQualified(d).toUri.getPath.stripPrefix(rootPath + "/")}"
    }.sorted
  }

  /** The physical data dir a version's commit wrote (test/inspection
    * seam — dir names carry a writer nonce, so specs locate them by
    * version prefix instead of hard-coding the name).
    */
  private[graft] def physicalDataDir(spark: SparkSession, tableDir: String,
      version: Int): String = {
    val f = fs(spark, tableDir)
    val hits = f.listStatus(new Path(s"$tableDir/data")).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith(s"add-v$version-"))
    require(hits.size == 1,
      s"expected exactly one data dir for v$version at $tableDir, got $hits")
    hits.head.toString
  }

  /** Decode a Hive-escaped partition-dir value: ONLY `%XX` sequences
    * decode; everything else — including `+` — stays literal. Spark's
    * partitioned writer escapes leaf values with Hive's
    * `escapePathName`, which never escapes `+`; `URLDecoder` would map
    * a literal `+` to a space, so a string partition value containing
    * '+' would decode wrong — pruning would silently drop its leaf and
    * COW tuple-matching would silently skip it.
    */
  private[sources] def unescapePathValue(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        val code = (Character.digit(s.charAt(i + 1), 16) << 4) +
          Character.digit(s.charAt(i + 2), 16)
        sb.append(code.toChar)
        i += 3
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def leafPartValue(leaf: String): String = {
    val name = leaf.substring(leaf.lastIndexOf('/') + 1)
    // hive leaf names are <key>=<hive-escaped value>
    unescapePathValue(name.substring(name.indexOf('=') + 1))
  }

  /** The partition COLUMN a leaf was written under (leaf dirs are
    * self-describing: `<col>__p=<value>`) — what makes a table with an
    * EVOLVED partition spec navigable: same-spec leaves prune by value,
    * foreign-spec leaves are recognized and handled by scan. For a
    * NESTED (multi-column) leaf this is the DEEPEST segment's column;
    * [[leafPartPairs]] exposes every level.
    */
  private def leafPartCol(leaf: String): String = {
    val name = leaf.substring(leaf.lastIndexOf('/') + 1)
    val raw = name.substring(0, name.indexOf('='))
    if (raw.endsWith("__p")) raw.dropRight(3) else raw
  }

  /** A leaf's ADD-DIR root (`data/add-v<N>-<nonce>`): the prefix the
    * sidecars (`_files.tsv`/`_stats.tsv`) live under. With multi-column
    * specs a leaf nests below the root (`root/c1__p=v1/c2__p=v2`), so
    * "strip the last segment" is no longer the root — this finds the
    * `add-v` segment explicitly, falling back to the parent for any
    * foreign layout.
    */
  private[sources] def addRootOf(leaf: String): String = {
    val segs = leaf.split('/')
    val i = segs.indexWhere(_.startsWith("add-v"))
    if (i >= 0) segs.take(i + 1).mkString("/")
    else leaf.substring(0, leaf.lastIndexOf('/'))
  }

  /** The leaf's path RELATIVE to its add-dir root — the key the sidecar
    * `rel` entries (`<leafRel>/<file>.parquet`) are matched under.
    */
  private[sources] def leafRelOf(leaf: String): String =
    leaf.stripPrefix(addRootOf(leaf) + "/")

  /** Every (column, decoded value) level of a leaf, outermost first —
    * `data/add-v3-x/a__p=1/b__p=2` → `Seq((a,1), (b,2))`. The full spec
    * view pruning and spec-matching consume; single-column leaves yield
    * one pair (= ([[leafPartColOf]], [[leafPartValueOf]])).
    */
  private[sources] def leafPartPairs(leaf: String): Seq[(String, String)] =
    leafRelOf(leaf).split('/').toSeq.filter(_.contains('=')).map { seg =>
      val raw = seg.substring(0, seg.indexOf('='))
      val colName = if (raw.endsWith("__p")) raw.dropRight(3) else raw
      val value = unescapePathValue(seg.substring(seg.indexOf('=') + 1))
      (colName, value)
    }

  /** Refuse a write whose `partCol` is not the table's CURRENT spec —
    * partition-spec changes must go through [[evolvePartitionSpec]], not
    * arrive silently on a write path. Legacy manifests (no recorded
    * spec) accept and start recording.
    */
  private def requireSpec(m: VManifest, partCols: Seq[String],
      op: String): Unit =
    if (m.specCols.nonEmpty) require(m.specCols == partCols,
      s"$op under partition spec '${partCols.mkString(",")}' but the " +
        s"table's current spec is '${m.specCols.mkString(",")}' — change " +
        "specs explicitly with evolvePartitionSpec")

  /** The SAME-SPEC leaves whose partition value tuple satisfies
    * `whereSql` — the slice a partition-scoped `OPTIMIZE … WHERE`
    * addresses (Delta's shape: a 100 TB table re-lays-out incrementally,
    * slice by slice, never whole). The predicate may reference ONLY the
    * table's partition-spec columns (refused loudly otherwise — a
    * data-column predicate cannot be answered from leaf metadata and
    * silently widening to a scan would defeat the incremental contract).
    * Evaluation is manifest-metadata-sized: one tiny local frame of leaf
    * tuples, each spec column cast to its table-schema type, filtered by
    * the predicate — NULL gates through `coalesce(p, false)` (SQL 3VL:
    * an UNKNOWN tuple is NOT selected). Foreign-spec leaves are never in
    * any slice (their migration is [[compact]]'s job); they carry by
    * reference.
    */
  private def leavesInSlice(spark: SparkSession, m: VManifest,
      cols: Seq[String], whereSql: String): Set[String] = {
    val pred = expr(whereSql)
    val refs = spark.sessionState.sqlParser.parseExpression(whereSql)
      .collect { case a: UnresolvedAttribute => a.name }.toSet
    val bad = refs.filterNot(r => cols.exists(_.equalsIgnoreCase(r)))
    require(bad.isEmpty,
      "OPTIMIZE ... WHERE may reference only partition-spec columns (" +
        cols.mkString(", ") + "); non-partition columns: " +
        bad.toSeq.sorted.mkString(", "))
    val sameSpec = m.leaves.filter(l => leafPartPairs(l).map(_._1) == specDirNames(cols))
    if (sameSpec.isEmpty) Set.empty
    else {
      val typeOf: Map[String, DataType] = m.schemaOpt
        .map(s => s.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
      val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
      sameSpec.foreach(l =>
        rows.add(Row.fromSeq(l +: leafPartPairs(l).map(_._2))))
      val schema = StructType(StructField("__vt_leaf", StringType) +:
        cols.map(c => StructField(c, StringType)))
      val typed = cols.foldLeft(spark.createDataFrame(rows, schema)) {
        (d, c) => d.withColumn(c, col(c).cast(typeOf.getOrElse(c,
          StringType)))
      }
      typed.filter(coalesce(pred, lit(false)))
        .select("__vt_leaf").collect().map(_.getString(0)).toSet
    }
  }

  /** Count, in ONE aggregate pass over `df`, how many rows violate each
    * of the manifest's CHECK constraints (violation = expression
    * evaluates to definite FALSE; UNKNOWN passes, per SQL). Returns
    * (name, expression, violations) for every constraint.
    */
  private def constraintViolationCounts(df: DataFrame,
      m: VManifest): Seq[(String, String, Long)] = {
    val cs = m.constraintPairs
    if (cs.isEmpty) return Nil
    val aggs = cs.zipWithIndex.map { case ((_, e), i) =>
      sum(when(!expr(e), 1L).otherwise(0L)).as(s"c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cs.zipWithIndex.map { case ((n, e), i) =>
      (n, e, if (row.isNullAt(i)) 0L else row.getLong(i)) // null = empty df
    }
  }

  /** Enforce the table's CHECK constraints on a batch about to be
    * written: one aggregate pass counting every constraint's violations
    * at once, then a loud [[ConstraintViolationException]] naming each
    * violated constraint and its row count. Runs only when the manifest
    * carries constraints — unconstrained tables pay nothing.
    */
  private def requireConstraints(df: DataFrame, m: VManifest,
      op: String): Unit = {
    val bad = constraintViolationCounts(df, m).filter(_._3 > 0)
    if (bad.nonEmpty)
      throw new ConstraintViolationException(
        s"$op refused: " + bad.map { case (n, e, c) =>
          s"$c row(s) violate CHECK constraint '$n' ($e)"
        }.mkString("; "))
  }

  /** The subset of `leaves` that actually CONTAIN rows selected by
    * `selector` — the scan-based fallback for foreign-spec leaves, whose
    * dir values cannot be pruned against the current spec's predicate.
    * One pass over exactly those leaves; the result is a driver-side
    * leaf list (metadata-sized). This is the Iceberg spec-evolution
    * cost model: old-spec data loses pruning until it is rewritten.
    */
  private def leavesContaining(spark: SparkSession, tableDir: String,
      m: VManifest, leaves: Seq[String],
      selector: DataFrame => DataFrame): Seq[String] =
    if (leaves.isEmpty) Nil
    else {
      val files = distinctTuples(selector(readView(spark, tableDir, m,
          onlyLeaves = Some(leaves), keepPositions = true)).select(PosFile))
        .map(_.head)
      leaves.filter(l => files.exists(_.startsWith(l + "/")))
    }

  /** Create the table at version 0, recording its schema in the manifest. */
  /** Create the table as v0. `txn` optionally records a (channel,
    * batchId) in the very first manifest — what lets a streaming sink
    * LAZILY create a side table from its first non-empty batch and keep
    * exactly-once across a crash-replay: the replay finds the table
    * existing with its (channel, batchId) already recorded, and the
    * [[appendOnce]] it falls through to no-ops.
    */
  def create(df: DataFrame, tableDir: String, partCol: String,
      txn: Option[(String, String)] = None,
      format: String = "parquet",
      rowTracking: Boolean = false): Unit = {
    require(versions(df.sparkSession, tableDir).isEmpty,
      s"table already exists at $tableDir")
    require(!rowTracking || format == "parquet",
      s"row tracking needs _metadata.row_index, which Spark exposes " +
        s"for parquet only — requested format '$format'")
    val born = VManifest(Nil,
      txns = txn.map { case (c, b) => s"$c=$b" }.toSeq,
      schema = encodeSchema(df.schema), partcol = specOf(partCol),
      format = Seq(format) ++
        (if (rowTracking) Seq(RowTrackingMarker) else Nil))
    writeManifest(df.sparkSession, tableDir, 0, born.copy(leaves =
      writeDataDirCols(df, tableDir, 0, born.partcol, born)))
  }

  /** Atomic-CTAS staging, step 1 ([[GraftStagedTable]]): write v0's
    * data files into the table's own layout WITHOUT publishing a
    * manifest — no reader can observe the table yet (existence IS the
    * v0 manifest). Returns the leaf rels for the commit step.
    */
  private[sources] def stageCreateData(df: DataFrame, tableDir: String,
      partCol: String, format: String): Seq[String] = {
    require(versions(df.sparkSession, tableDir).isEmpty,
      s"table already exists at $tableDir")
    writeDataDirCols(df, tableDir, 0, specOf(partCol),
      VManifest(Nil, format = Seq(format)))
  }

  /** Atomic-CTAS staging, step 2: publish the v0 manifest over the
    * staged leaves — the single atomic step that makes the table exist.
    * Re-checks emptiness so a racing CREATE loses loudly instead of
    * silently overwriting.
    */
  private[sources] def commitStagedCreate(spark: SparkSession,
      tableDir: String, leaves: Seq[String], schema: StructType,
      partCol: String, format: String): Unit = {
    require(versions(spark, tableDir).isEmpty,
      s"concurrent create: a manifest appeared at $tableDir while this " +
        "CTAS was staging")
    writeManifest(spark, tableDir, 0, VManifest(leaves,
      schema = encodeSchema(schema), partcol = specOf(partCol),
      format = Seq(format)))
  }

  /** REPLACE TABLE staging, step 1 ([[GraftStagedTable]]): write the
    * replacement's data files under the EXISTING table's next-version
    * add-dir, no manifest yet — readers keep seeing the old head until
    * the commit step. The new definition's columns are born fresh
    * (logical == physical) and untracked, so neither the old rename
    * mapping nor its row tracking applies.
    */
  private[sources] def stageReplaceData(df: DataFrame, tableDir: String,
      partCol: String, format: String, baseVersion: Int): Seq[String] =
    writeDataDirCols(df, tableDir, baseVersion + 1, specOf(partCol),
      VManifest(Nil, format = Seq(format)))

  /** REPLACE TABLE staging, step 2: publish the replacement manifest as
    * version `base + 1` — truncate-and-load that keeps every prior
    * version readable (`VERSION AS OF` time travel intact; vacuum
    * governs erasure). Schema, partition spec and format are the NEW
    * definition's; delete vectors, txn channels and constraints do NOT
    * carry — a replace redefines the table. The manifest's no-clobber
    * publish is the CAS: a commit that landed after staging makes this
    * version exist already, and the replace refuses loudly (abort then
    * removes the staged bytes, leaving the winner untouched).
    */
  private[sources] def commitStagedReplace(spark: SparkSession,
      tableDir: String, leaves: Seq[String], schema: StructType,
      partCol: String, format: String, baseVersion: Int): Unit =
    writeManifest(spark, tableDir, baseVersion + 1, VManifest(leaves,
      schema = encodeSchema(schema), partcol = specOf(partCol),
      format = Seq(format)))

  /** Append a batch as a new version: new leaves are ADDED to the live
    * list; existing leaves are untouched (same-partition batches coexist
    * as multiple leaves until [[compact]]). The prior version's delete
    * vectors and dirty set carry over verbatim — an append after a
    * [[deleteMergeOnRead]] must not resurrect vector-deleted rows (the
    * new leaves are never dirty: no existing vector can reference a file
    * that did not exist when the vector was written).
    *
    * A batch whose columns are a strict SUPERSET of the table's evolves
    * the schema (see [[resolveAppendSchema]]); renames, type changes and
    * dropped columns stay loud refusals.
    */
  def append(df: DataFrame, tableDir: String, partCol: String): Unit =
    withCommitRetry(appendAttempt(df, tableDir, partCol,
      latestVersion(df.sparkSession, tableDir)))

  /** One optimistic append attempt against an explicitly named base
    * version — raises [[CommitConflictException]] if `baseVersion` is no
    * longer the head. Test seam for the retry loop; [[append]] is the
    * public path.
    */
  private[graft] def appendAttempt(df: DataFrame, tableDir: String,
      partCol: String, baseVersion: Int): Unit = {
    val spark = df.sparkSession
    val v = baseVersion + 1
    val m = readManifestFull(spark, tableDir, baseVersion)
    val cols = specOf(partCol)
    requireSpec(m, cols, "append")
    val schema = resolveAppendSchema(df, spark, tableDir, m,
      allowEvolution = true)
    requireConstraints(df, m, "append")
    writeManifest(spark, tableDir, v, m.copy(
      leaves = m.leaves ++ writeDataDirCols(df, tableDir, v, cols, m),
      schema = schema, partcol = cols))
  }

  /** Schema contract for a batch against the table, returning the schema
    * entries the new manifest should record (the Delta/Iceberg
    * add-nullable-column evolution, minimally):
    *
    *   - identical name→type map: accepted, schema unchanged;
    *   - strict SUPERSET (new columns, common types match): accepted when
    *     `allowEvolution` — the manifest commits the widened schema and
    *     reads project pre-evolution leaves with nulls in the new columns
    *     (the manifest schema drives every scan, so nothing depends on
    *     which file multi-root schema sampling happens to pick);
    *   - a TYPE drift on a shared column, or a batch missing a table
    *     column: refused loudly — rename/narrow/retype migrations go
    *     through [[compact]] with the new schema applied. Round-7 advice
    *     (low): the check compares full name→type maps, not name sets, so
    *     an int-vs-long drift can no longer append silently.
    *
    * Legacy manifests (no recorded schema) fall back to one leaf footer
    * read — metadata-sized — and any accepted commit records the schema
    * going forward.
    *
    * Two CONCURRENT evolutions of different columns do not merge: the
    * CAS serializes them, and the loser's retry re-resolves against the
    * winner's widened schema — its batch now lacks the winner's column
    * and is refused LOUDLY (the Delta concurrent-metadata-change
    * behavior), never silently dropped or reordered.
    */
  private def resolveAppendSchema(df: DataFrame, spark: SparkSession,
      tableDir: String, m: VManifest, allowEvolution: Boolean): Seq[String] = {
    val table: Seq[(String, String)] =
      if (m.schema.nonEmpty) decodeSchemaPairs(m.schema)
      else if (m.leaves.isEmpty) return encodeSchema(df.schema)
      else readLeaves(spark, tableDir, m.leaves.take(1), None, m.fmt)
        .schema.fields.toSeq
        .map(f => (f.name, f.dataType.catalogString))
    // physical mapping and declared defaults of existing columns ride
    // through the re-encode (fresh columns are born with logical ==
    // physical and no default) — the RAW composite segments, so nested
    // mappings survive the round trip
    val physOf: Map[String, String] =
      if (m.schema.nonEmpty) m.physSegs else Map.empty
    val defaultOf: Map[String, String] =
      if (m.schema.nonEmpty) m.colDefaults else Map.empty
    val batch = df.schema.fields.toSeq.map(f => (f.name, f.dataType.catalogString))
    val batchMap = batch.toMap
    table.foreach { case (n, t) =>
      batchMap.get(n) match {
        case None => throw new IllegalArgumentException(
          s"append schema mismatch: batch is missing table column '$n' — " +
            "dropping columns is out of contract; rewrite through compact()")
        case Some(bt) if bt != t => throw new IllegalArgumentException(
          s"append schema mismatch: type drift on column '$n' (table $t vs " +
            "batch " + bt + ") — renames/type changes are out of contract; " +
            "rewrite through compact() with the new schema instead")
        case _ => ()
      }
    }
    val tableNames = table.map(_._1).toSet
    val added = batch.filterNot(p => tableNames.contains(p._1))
    if (added.nonEmpty) require(allowEvolution,
      s"schema mismatch: batch adds columns ${added.map(_._1).mkString(",")} " +
        "but this operation does not evolve schema — append the widened " +
        "batch first, then retry")
    (table ++ added).map { case (n, t) =>
      encodeSchemaEntry(n, t, physOf.get(n), defaultOf.get(n))
    }
  }

  /** TRUNCATE-and-load as a NEW VERSION: the head's rows are replaced by
    * `df` wholesale, but every prior snapshot stays readable (and
    * vacuum-governed) — nothing is physically removed here, which is what
    * separates a versioned overwrite from `mode("overwrite")` on a plain
    * path. Schema follows the append contract (identical or
    * strict-superset evolution; drift refused loudly). Delete vectors do
    * NOT carry (they reference only retired leaves); per-channel txn
    * records DO carry — an overwrite between two [[appendOnce]] batches
    * must not reopen a channel's idempotence window.
    */
  def overwrite(df: DataFrame, tableDir: String, partCol: String): Unit =
    withCommitRetry {
      val spark = df.sparkSession
      val base = latestVersion(spark, tableDir)
      val m = readManifestFull(spark, tableDir, base)
      val cols = specOf(partCol)
      requireSpec(m, cols, "overwrite")
      val schema = resolveAppendSchema(df, spark, tableDir, m,
        allowEvolution = true)
      requireConstraints(df, m, "overwrite")
      writeManifest(spark, tableDir, base + 1, m.copy(
        leaves = writeDataDirCols(df, tableDir, base + 1, cols, m),
        deletes = Nil, dirty = Nil, schema = schema, partcol = cols))
    }

  /** DYNAMIC-partition overwrite as ONE manifest commit — the semantics
    * the reference engine's whole delete kernel is built on
    * (`partitionOverwriteMode=dynamic`, SparkSessionManager.java:30-39;
    * the Hive backend's S4 `insertInto(overwrite=true)` rewrite): every
    * partition VALUE TUPLE present in `df` is replaced wholesale, every
    * other partition carries by reference. Same-spec leaves resolve by
    * dir value (driver metadata, no scan); leaves written under an
    * EARLIER spec are selected by a scan restricted to exactly them and
    * their non-replaced survivors migrate to the current spec —
    * [[delete]]'s spec-evolution cost model. Unlike two commits
    * (delete + append), a reader can never observe the gap.
    */
  def overwritePartitions(df: DataFrame, tableDir: String,
      partCol: String): Unit = withCommitRetry {
    val spark = df.sparkSession
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    val cols = specOf(partCol)
    requireSpec(m, cols, "overwritePartitions")
    requireConstraints(df, m, "overwritePartitions")
    val affected = specTuples(cols, Seq(df))
    if (affected.isEmpty) {
      // empty input replaces nothing: a no-op commit, not a truncate
      writeManifest(spark, tableDir, v, m)
      return
    }
    def inAffected(frame: DataFrame): Column = affected.toSeq.map(t =>
      cols.zip(t).map { case (c, value) =>
        SpecField.parse(c).valueIn(frame).cast("string") === lit(value)
      }.reduce(_ && _)).reduce(_ || _)
    // replaced same-spec leaves simply drop out of the manifest — df's
    // rows are their replacement, so unlike [[rewriteCommit]] they are
    // never read
    val split = splitLeaves(spark, tableDir, m, cols, affected,
      f => f.filter(inAffected(f)))
    // foreign-leaf rows OUTSIDE the replaced tuples survive and migrate
    // to the current spec; replaced-tuple rows are dropped in favor of df
    val survivors =
      if (split.hitForeign.isEmpty) df
      else {
        val carried = readView(spark, tableDir, m,
          onlyLeaves = Some(split.hitForeign), withRowIds = m.rowTracking)
        val carriedKept = carried.filter(!inAffected(carried))
        // replaced rows are REPLACED: df's rows take fresh ids, the
        // migrating out-of-slice rows keep theirs
        val left = if (m.rowTracking) withNullRowId(df) else df
        left.unionByName(
          carriedKept.select(left.columns.toIndexedSeq.map(col): _*))
      }
    writeManifest(spark, tableDir, v, split.next(m, cols,
      writeDataDirCols(survivors, tableDir, v, cols, m)))
  }

  /** A version's commit time = its manifest file's mtime — the clock
    * [[vacuumOlderThan]] and the connector's `timestampAsOf` share.
    */
  private[sources] def manifestMtime(spark: SparkSession, tableDir: String,
      version: Int): Long =
    fs(spark, tableDir).getFileStatus(
      new Path(s"${manifestsDir(tableDir)}/v$version.json"))
      .getModificationTime

  /** The latest version committed at or before the instant (epoch
    * millis) — the shared `timestampAsOf` resolution for the V1 read
    * option and the V2 catalog's `TIMESTAMP AS OF`. An instant
    * predating the table is a loud error, not an empty read.
    */
  private[sources] def versionAtMillis(spark: SparkSession,
      tableDir: String, ts: Long): Int = {
    val eligible = versions(spark, tableDir)
      .filter(v => manifestMtime(spark, tableDir, v) <= ts)
    require(eligible.nonEmpty,
      s"timestampAsOf $ts predates the first commit at $tableDir")
    eligible.max
  }

  /** IDEMPOTENT append — the public Delta `txn` (setTransaction) design:
    * the manifest records, per `channel`, the LATEST committed batch id;
    * an append whose (channel, batchId) matches the recorded one is a
    * replayed commit and no-ops. This is exactly the shield an
    * at-least-once writer needs (Structured Streaming's `foreachBatch`
    * replays only the last in-flight batch id on recovery, so latest-only
    * is sufficient); it is NOT a general dedup of arbitrarily old batch
    * ids — batch ids within one channel must be issued in order, which a
    * streaming epoch id satisfies by construction.
    */
  def appendOnce(df: DataFrame, tableDir: String, partCol: String,
      channel: String, batchId: String): Unit = {
    require(channel.matches("[A-Za-z0-9_-]+"), s"unsafe channel: $channel")
    require(batchId.matches("[A-Za-z0-9_-]+"), s"unsafe batchId: $batchId")
    withCommitRetry {
      val spark = df.sparkSession
      val base = latestVersion(spark, tableDir)
      val m = readManifestFull(spark, tableDir, base)
      val entry = s"$channel=$batchId"
      if (m.txns.contains(entry)) return // replayed commit: exactly-once
      val cols = specOf(partCol)
      requireSpec(m, cols, "appendOnce")
      val schema = resolveAppendSchema(df, spark, tableDir, m,
        allowEvolution = true)
      val txns = m.txns.filterNot(_.startsWith(channel + "=")) :+ entry
      requireConstraints(df, m, "appendOnce")
      writeManifest(spark, tableDir, base + 1, m.copy(
        leaves =
          m.leaves ++ writeDataDirCols(df, tableDir, base + 1, cols, m),
        txns = txns, schema = schema, partcol = cols))
    }
  }

  /** Copy-on-write delete: rows matching `pred` disappear from the new
    * version. Only leaves whose partition value contains a matching row
    * are rewritten (pruned scan → survivors → fresh data dir); all other
    * leaves carry over by reference. An emptied partition simply has no
    * survivor leaf — the drop-partition path. Prior versions still read
    * the deleted rows: takedown-grade erasure additionally requires
    * [[vacuum]] of the pre-delete versions (physical removal), the same
    * two-step contract as Delta's DELETE + VACUUM. Survivors are the
    * rows where `pred` is NOT definitely true — SQL DELETE semantics: a
    * NULL-predicate row survives, as it does under
    * [[deleteMergeOnRead]].
    */
  def delete(spark: SparkSession, tableDir: String, partCol: String,
      pred: Column): Unit =
    rewriteCommit(spark, tableDir, partCol, "delete")(
      deletePlan(spark, tableDir, Membership(pred)))

  /** [[delete]] for a caller that has already found `affected`, the
    * tuples ([[specKeys]]) of version `base` holding a matching row. When
    * the head is still `base` the kernel takes them instead of probing
    * again; when it is not (a commit landed in between, or a lost CAS is
    * retried) it probes as [[delete]] does.
    */
  private[graft] def deleteAt(spark: SparkSession, tableDir: String,
      partCol: String, pred: Column, base: Int,
      affected: Set[Seq[String]]): Unit =
    rewriteCommit(spark, tableDir, partCol, "delete", Some(base -> affected))(
      deletePlan(spark, tableDir, Membership(pred)))

  /** The spec-value tuple columns of `df` (spec order, as strings) — the
    * projection the copy-on-write kernels key affected tuples on.
    */
  private[graft] def specKeys(partCol: String, df: DataFrame): Seq[Column] =
    specValues(specOf(partCol), df)

  /** Copy-on-write delete keyed on MEMBERSHIP: rows whose `keys`
    * column tuples each appear in the paired frame (AND all residual
    * conjuncts) disappear — the SQL
    * `DELETE FROM t WHERE k IN (SELECT …) [AND …]` shape (single- or
    * multi-column tuples: `(a, b) IN (SELECT x, y …)`), and the
    * GDPR/takedown id-list delete as one statement. `antiKeys` are the
    * complement — `NOT EXISTS (SELECT … WHERE s.k = t.k)` conjuncts,
    * hitting rows whose tuple appears in NO paired frame. The
    * membership test is a JOIN, never a collected IN-list: the key
    * frames can be table-sized (Spark broadcasts small ones
    * automatically), nothing key-set-sized ever lands on the driver.
    */
  def deleteMatching(spark: SparkSession, tableDir: String,
      partCol: String, keys: Seq[(Seq[String], DataFrame)],
      residual: Option[Column],
      antiKeys: Seq[(Seq[String], DataFrame)] = Nil,
      notInTuples: Seq[(Seq[String], DataFrame)] = Nil,
      scalarJoins: Seq[(Seq[String], DataFrame, String)] = Nil): Unit = {
    val sel = Membership.of("deleteMatching", keys, residual, antiKeys,
      notInTuples, scalarJoins)
    rewriteCommit(spark, tableDir, partCol, "delete")(
      deletePlan(spark, tableDir, sel))
  }

  /** Row selection by tuple MEMBERSHIP — the WHERE clause of every
    * copy-on-write DELETE/UPDATE, the plain predicate form included (no
    * frames, `residual` = the predicate). A row is HIT when the
    * residual is definitely true, its tuple appears in every `keys`
    * frame, in no `antiKeys` frame (NOT EXISTS: an equality
    * correlation never matches a NULL key, so a NULL-keyed row DOES
    * hit — distinct from NOT IN's any-NULL poison), and no
    * `notInTuples` frame null-aware-matches it (tuple NOT IN). The
    * correlated-scalar frames LEFT-join first, because the residual
    * references their value columns; every output projects back to the
    * input's own columns, so helper columns never reach a data file.
    */
  private final case class Membership(residual: Column,
      keys: Seq[(Seq[String], DataFrame)] = Nil,
      antiKeys: Seq[(Seq[String], DataFrame)] = Nil,
      notInTuples: Seq[(Seq[String], DataFrame)] = Nil,
      scalarJoins: Seq[(Seq[String], DataFrame, String)] = Nil) {

    /** LEFT-join each correlated-scalar grouped frame on its outer key
      * columns — one value column per scalar; a key with no subquery
      * rows reads NULL (the SQL scalar-subquery empty result).
      */
    private def withScalars(df: DataFrame): DataFrame =
      scalarJoins.foldLeft(df) { case (acc, (ks, f, _)) =>
        acc.join(f, ks, "left")
      }

    private def distinctKeys(ks: Seq[String], kdf: DataFrame): DataFrame =
      kdf.select(ks.map(col): _*).distinct()

    /** The hit rows: residual filter, then one semi / anti / null-aware
      * anti join per frame (each preserves the left multiset).
      */
    def hits(df: DataFrame): DataFrame = {
      val semi = keys.foldLeft(withScalars(df).filter(residual)) {
        case (acc, (ks, kdf)) => acc.join(distinctKeys(ks, kdf), ks, "left_semi")
      }
      val anti = antiKeys.foldLeft(semi) { case (acc, (ks, kdf)) =>
        acc.join(distinctKeys(ks, kdf), ks, "left_anti")
      }
      notInTuples.foldLeft(anti) { case (acc, (ks, kdf)) =>
        acc.join(notInRight(ks, kdf), notInMatch(ks), "left_anti")
      }.select(df.columns.toIndexedSeq.map(col): _*)
    }

    /** `df` with one LEFT-join marker per key frame (against DISTINCT
      * keys: one output row per input row) and the condition over it
      * that holds exactly on the rows the residual, keys and anti keys
      * hit. Tuple NOT IN has no marker form — a row can
      * null-aware-match several set tuples — so [[keep]] finishes it.
      */
    def marked(df: DataFrame): (DataFrame, Column) = {
      var acc = withScalars(df)
      val cond = (keys.map(_ -> false) ++ antiKeys.map(_ -> true))
        .zipWithIndex.foldLeft(residual) { case (c, (((ks, kdf), anti), i)) =>
          val mCol = s"__vt_in_hit_$i"
          acc = acc.join(distinctKeys(ks, kdf).withColumn(mCol, lit(1)), ks,
            "left")
          c && (if (anti) col(mCol).isNull else col(mCol).isNotNull)
        }
      (acc, cond)
    }

    /** The exact per-row COMPLEMENT of [[hits]] — keep ∪ hits is the
      * input multiset and keep ∩ hits = ∅ row-for-row, so SQL 3VL holds
      * by construction (a row neither definitely hit nor kept cannot
      * exist), with no `exceptAll` full-row exchange. Disjoint branches:
      * rows the marker condition does not definitely hold on, plus, per
      * tuple-NOT-IN frame, the rows that pass every earlier stage but
      * null-aware-MATCH that frame (a left-semi cascade, each branch
      * restricted to the previous frames' anti side).
      */
    def keep(df: DataFrame): DataFrame = {
      val out = df.columns.toIndexedSeq.map(col)
      val (acc, cond) = marked(df)
      val isHit = coalesce(cond, lit(false))
      val failEarly = acc.filter(!isHit).select(out: _*)
      if (notInTuples.isEmpty) failEarly
      else {
        var pass = acc.filter(isHit).select(out: _*)
        val branches = notInTuples.map { case (ks, kdf) =>
          val matched =
            pass.join(notInRight(ks, kdf), notInMatch(ks), "left_semi")
          pass = pass.join(notInRight(ks, kdf), notInMatch(ks), "left_anti")
          matched
        }
        (failEarly +: branches).reduce(_ unionByName _)
      }
    }
  }

  private object Membership {
    /** The membership form of a statement: at least one frame, each
      * with key columns; an absent residual is TRUE.
      */
    def of(what: String, keys: Seq[(Seq[String], DataFrame)],
        residual: Option[Column],
        antiKeys: Seq[(Seq[String], DataFrame)],
        notInTuples: Seq[(Seq[String], DataFrame)],
        scalarJoins: Seq[(Seq[String], DataFrame, String)]): Membership = {
      require(keys.nonEmpty || antiKeys.nonEmpty || notInTuples.nonEmpty ||
          scalarJoins.nonEmpty,
        s"$what needs at least one key frame")
      require((keys ++ antiKeys ++ notInTuples).forall(_._1.nonEmpty) &&
          scalarJoins.forall(_._1.nonEmpty),
        "a key frame needs key columns")
      Membership(residual.getOrElse(lit(true)), keys, antiKeys, notInTuples,
        scalarJoins)
    }
  }

  /** Tuple `NOT IN (subquery)` as a NULL-AWARE anti join (the SQL-spec
    * 3VL, no approximation): a row passes the conjunct iff EVERY set
    * tuple is DEFINITELY unequal — some component pair both-non-null
    * and different. Equivalently the row is dropped iff SOME set tuple
    * null-aware-matches it: every component equal-or-either-side-NULL.
    * [[notInRight]] renames the set frame's key columns so the
    * condition can name both sides; [[notInMatch]] is that per-
    * component condition. The non-equi anti join plans as a broadcast
    * nested-loop against the (already materialized, subquery-sized) set
    * frame — the same physical shape vanilla Spark gives multi-column
    * NOT IN, paid only by rows of HIT leaves.
    */
  private def notInRight(ks: Seq[String], kdf: DataFrame): DataFrame =
    kdf.select(ks.map(k => col(k).as(s"__vt_nit_$k")): _*).distinct()

  private def notInMatch(ks: Seq[String]): Column =
    ks.map(k => col(k) <=> col(s"__vt_nit_$k") ||
      col(k).isNull || col(s"__vt_nit_$k").isNull).reduce(_ && _)

  /** One copy-on-write statement over its base manifest, as
    * [[rewriteCommit]] executes it:
    *   - `probe`: frames whose spec-value tuples are the affected set;
    *   - `foreign`: selects the rows that make a leaf written under an
    *     EARLIER partition spec hit (its dir value cannot be pruned
    *     against the current spec);
    *   - `rewrite`: maps the vector-applied view of the hit leaves to
    *     their replacement rows;
    *   - `add`: rows the statement creates — they ride the same write
    *     and land even when nothing is hit;
    *   - `check`: validate the written rows against the table's CHECK
    *     constraints before any file lands (statements that synthesize
    *     row values; survivors of a delete never re-validate);
    *   - `schema`: schema entries to record instead of the base's;
    *   - `op`: the commit's operation record ([[encodeOp]]).
    */
  private final case class Rewrite(probe: Seq[DataFrame],
      foreign: DataFrame => DataFrame,
      rewrite: DataFrame => DataFrame,
      add: Option[DataFrame] = None,
      check: Boolean = false,
      schema: Option[Seq[String]] = None,
      op: Seq[String] = Nil)

  /** Where a rewrite's affected tuples fall: same-spec leaves hit by dir
    * value (driver metadata, no scan), leaves of an EARLIER spec hit by
    * a scan restricted to exactly them — their survivors rewrite under
    * the CURRENT spec, so every rewrite incrementally migrates old-spec
    * data (the Iceberg spec-evolution cost model) — and the rest, which
    * carry by reference.
    */
  private final case class LeafSplit(hitSame: Seq[String],
      hitForeign: Seq[String], kept: Seq[String]) {
    def hit: Seq[String] = hitSame ++ hitForeign
    /** The rewrite's next manifest: kept leaves plus the new ones. Delete
      * vectors stay; entries pointing at rewritten leaves become inert
      * ([[compact]]/[[vacuum]] fold and erase them).
      */
    def next(m: VManifest, cols: Seq[String],
        newLeaves: Seq[String]): VManifest =
      m.copy(leaves = kept ++ newLeaves, dirty = m.dirty.filter(kept.contains),
        partcol = cols)
  }

  private def splitLeaves(spark: SparkSession, tableDir: String,
      m: VManifest, cols: Seq[String], affected: Set[Seq[String]],
      foreign: DataFrame => DataFrame): LeafSplit =
    if (affected.isEmpty) LeafSplit(Nil, Nil, m.leaves)
    else {
      val (sameSpec, foreignLeaves) =
        m.leaves.partition(l => leafPartPairs(l).map(_._1) == specDirNames(cols))
      val (hitSame, keptSame) =
        sameSpec.partition(l => affected.contains(leafPartPairs(l).map(_._2)))
      val hitForeign = leavesContaining(spark, tableDir, m, foreignLeaves,
        foreign)
      LeafSplit(hitSame, hitForeign,
        keptSame ++ foreignLeaves.filterNot(hitForeign.toSet))
    }

  /** The distinct partition VALUE TUPLES (one value per spec column, spec
    * order) of `frames`' rows in ONE collect — a metadata-sized driver
    * set; of a rewrite's probe frames, its affected set (the reference
    * core's identifyAffectedPartitions shape).
    */
  private def specTuples(cols: Seq[String],
      frames: Seq[DataFrame]): Set[Seq[String]] =
    frames.map(specTupleFrame(cols)).reduceOption(_ union _)
      .fold(Set.empty[Seq[String]])(distinctTuples)

  /** The distinct rows of an all-string frame as a driver set, in ONE
    * job with no exchange: each task folds its rows into a set and the
    * driver unions the per-task sets. Only for metadata-sized values
    * (partition tuples, leaf or file paths), where a task returns at
    * most one row per value; a `distinct()` would plan a shuffle that
    * adaptive execution runs as a separate map job before the collect.
    */
  private def distinctTuples(df: DataFrame): Set[Seq[String]] = {
    val n = df.columns.length
    df.rdd.mapPartitions(rows =>
        rows.map(r => (0 until n).map(r.getString): Seq[String]).toSet.iterator)
      .collect().toSet
  }

  /** The copy-on-write kernel every DML statement commits through: read
    * the head, let `plan` describe the statement over it ([[Rewrite]]),
    * probe the affected tuples, split the leaves, rewrite the hit
    * leaves' VECTOR-APPLIED view (a rewrite must not resurrect rows a
    * merge-on-read delete already removed) together with the created
    * rows in ONE data dir, and commit once. A statement that hits
    * nothing and creates nothing commits the base manifest unchanged.
    * A lost CAS re-runs the whole kernel, `plan` included.
    */
  private def rewriteCommit(spark: SparkSession, tableDir: String,
      partCol: String, what: String,
      known: Option[(Int, Set[Seq[String]])] = None)(
      plan: VManifest => Rewrite): Unit =
    withCommitRetry {
      val v = latestVersion(spark, tableDir) + 1
      val m = readManifestFull(spark, tableDir, v - 1)
      val cols = specOf(partCol)
      requireSpec(m, cols, what)
      val r = plan(m)
      // tuples found on an earlier read count only while that read is
      // still the head; a lost CAS means another commit took version v,
      // so a retry always probes
      val affected = known.collect { case (base, tuples) if base == v - 1 => tuples }
        .getOrElse(specTuples(cols, r.probe))
      if (affected.isEmpty && r.add.isEmpty) {
        writeManifest(spark, tableDir, v, m)
        return
      }
      val split = splitLeaves(spark, tableDir, m, cols, affected, r.foreign)
      val replaced =
        if (split.hit.isEmpty) None
        else Some(r.rewrite(readView(spark, tableDir, m,
          onlyLeaves = Some(split.hit), withRowIds = m.rowTracking)))
      // beside id-carrying rewritten rows, created rows take fresh ids
      val added = r.add.map(a =>
        if (replaced.isDefined && m.rowTracking) withNullRowId(a) else a)
      val newLeaves = (replaced ++ added).reduceOption(_ unionByName _)
        .toSeq.flatMap { rows =>
          if (r.check) requireConstraints(rows, m, what)
          writeDataDirCols(rows, tableDir, v, cols, m)
        }
      val next = split.next(m, cols, newLeaves)
      writeManifest(spark, tableDir, v,
        r.schema.fold(next)(s => next.copy(schema = s)), op = r.op)
    }

  /** A delete's [[Rewrite]]: the hit rows drive the probe and foreign
    * discovery, the survivors of a hit leaf are [[Membership.keep]].
    */
  private def deletePlan(spark: SparkSession, tableDir: String,
      sel: Membership, add: Option[DataFrame] = None)(m: VManifest): Rewrite =
    Rewrite(Seq(sel.hits(readView(spark, tableDir, m,
      withRowIds = m.rowTracking))), sel.hits, sel.keep, add)

  /** REPLACE WHERE — the Delta `replaceWhere` / static
    * `INSERT OVERWRITE t PARTITION (…)` semantics as ONE commit: rows
    * matching `pred` disappear and `df`'s rows land, atomically (a
    * reader sees either the old slice or the new one, never neither).
    * Every incoming row must satisfy `pred` — rows outside the replaced
    * slice refuse loudly (the Delta contract; silently widening the
    * overwrite would clobber data the statement never named). An empty
    * `df` empties the slice.
    */
  def replaceWhere(df: DataFrame, tableDir: String, partCol: String,
      pred: Column): Unit = {
    val spark = df.sparkSession
    val m = readHead(spark, tableDir)
    resolveAppendSchema(df, spark, tableDir, m, allowEvolution = false)
    requireConstraints(df, m, "replaceWhere")
    val outside = df.filter(!coalesce(pred, lit(false))).count()
    require(outside == 0L,
      s"replaceWhere violation: $outside incoming rows do not satisfy " +
        "the replaced-slice predicate — the statement would clobber " +
        "data it never named")
    rewriteCommit(spark, tableDir, partCol, "delete")(
      deletePlan(spark, tableDir, Membership(pred), add = Some(df)))
  }

  /** Copy-on-write UPDATE — the SQL `UPDATE t SET c = e WHERE p` shape,
    * same affected-partition model as [[delete]]: affected value tuples
    * are driver-side metadata, only hit leaves rewrite (matched rows
    * with their assignments applied, unmatched rows carried verbatim),
    * untouched leaves carry by reference. Every assignment RHS
    * evaluates against the OLD row (one `select`, not chained
    * `withColumn`s — SQL UPDATE semantics), casts to the column's
    * declared type, and the updated frame re-validates the table's
    * constraints before any leaf is written. An assignment may target a
    * partition column: the rewrite re-partitions by value, so moved
    * rows land in their new tuple's leaf within the same commit.
    */
  def update(spark: SparkSession, tableDir: String, partCol: String,
      cond: Column, assignments: Seq[(String, Column)]): Unit =
    rewriteCommit(spark, tableDir, partCol, "update")(
      updatePlan(spark, tableDir, Membership(cond), assignments))

  /** Copy-on-write UPDATE keyed on MEMBERSHIP — the SQL
    * `UPDATE t SET … WHERE k IN (SELECT …) [AND …]` shape: rows whose
    * `keys` column values each appear in the paired frame (AND all
    * residual conjuncts) take the assignments, every other row carries
    * verbatim. Membership is a JOIN, never a collected IN-list — same
    * scale contract as [[deleteMatching]]; with tuple-NOT-IN frames the
    * hit rows take the assignments and [[Membership.keep]]'s exact
    * complement carries verbatim.
    */
  def updateMatching(spark: SparkSession, tableDir: String,
      partCol: String, keys: Seq[(Seq[String], DataFrame)],
      residual: Option[Column],
      assignments: Seq[(String, Column)],
      antiKeys: Seq[(Seq[String], DataFrame)] = Nil,
      notInTuples: Seq[(Seq[String], DataFrame)] = Nil,
      scalarJoins: Seq[(Seq[String], DataFrame, String)] = Nil): Unit = {
    val sel = Membership.of("updateMatching", keys, residual, antiKeys,
      notInTuples, scalarJoins)
    rewriteCommit(spark, tableDir, partCol, "update")(
      updatePlan(spark, tableDir, sel, assignments))
  }

  /** An update's [[Rewrite]]: hit rows take the assignments — in place
    * through [[Membership.marked]]'s condition, or, when tuple NOT IN
    * leaves no marker form, as the hit rows beside their exact
    * complement. The written rows re-validate the constraints, and the
    * change feed pairs this commit's removed × added rows on the
    * NON-assigned columns (they carry verbatim) — an update assigning
    * every column records nothing and keeps the exact delete+insert
    * representation.
    */
  private def updatePlan(spark: SparkSession, tableDir: String,
      sel: Membership, assignments: Seq[(String, Column)])(
      m: VManifest): Rewrite = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val assignMap = assignments.toMap
    require(assignMap.size == assignments.size,
      s"duplicate assignment targets in ${assignments.map(_._1)}")
    assignMap.keys.foreach(n => require(!n.startsWith("__vt_"),
      s"cannot assign engine-internal column '$n'"))
    val current = readView(spark, tableDir, m, withRowIds = m.rowTracking)
    assignMap.keys.foreach(n => require(current.columns.contains(n),
      s"UPDATE target column '$n' is not in the table schema " +
        s"${current.columns.mkString("(", ", ", ")")}"))
    def rewrite(view: DataFrame): DataFrame = {
      val types = view.schema.fields.map(f => f.name -> f.dataType).toMap
      def assigned(cond: Option[Column]) = view.columns.toIndexedSeq.map { c =>
        assignMap.get(c).fold(col(c)) { v =>
          val value = v.cast(types(c))
          cond.fold(value)(when(_, value).otherwise(col(c))).as(c)
        }
      }
      if (sel.notInTuples.isEmpty) {
        val (aug, cond) = sel.marked(view)
        aug.select(assigned(Some(cond)): _*)
      } else
        sel.keep(view).unionByName(sel.hits(view).select(assigned(None): _*))
    }
    val pairKey = current.columns.toSeq
      .filterNot(c => assignMap.contains(c) || c == RowIdCol)
    Rewrite(Seq(sel.hits(current)), sel.hits, rewrite, check = true,
      op = if (pairKey.isEmpty) Nil else encodeOp("update", pairKey))
  }

  /** Merge-on-read delete (position delete vectors — the public
    * Iceberg/Delta deletion-vector design): instead of rewriting any data
    * leaf, ONE pass over the current view finds matching rows and writes
    * their physical positions — (tableDir-relative file path,
    * `_metadata.row_index`) pairs — to an immutable `deletes/del-v<N>/`
    * parquet dir; the new manifest carries the same leaves plus the vector
    * and the set of leaves it touches. Write cost is O(matches), not
    * O(affected partitions) — the right trade when deletes are frequent
    * and small relative to partitions (takedowns), with [[compact]]
    * folding vectors back into data on maintenance cadence.
    *
    * Snapshot reads apply vectors as a (file, pos) LEFT ANTI join on the
    * DIRTY leaves only; clean leaves scan plain (the manifest's `dirty`
    * list makes the split free). Positions of already-vector-deleted rows
    * are excluded at write time, so vectors never overlap and each one's
    * size reflects exactly the rows its own delete removed.
    */
  def deleteMergeOnRead(spark: SparkSession, tableDir: String,
      pred: Column): Unit = withCommitRetry {
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    // position vectors anchor on `_metadata.row_index`, which Spark's
    // ORC reader does not expose (parquet-only metadata field) — an ORC
    // table must use the copy-on-write delete; silently mis-anchored
    // vectors would be a correctness hole, so this is a loud refusal
    require(m.fmt == "parquet",
      s"deleteMergeOnRead needs _metadata.row_index, which Spark exposes " +
        s"for parquet only — this table is '${m.fmt}'; use delete() " +
        "(copy-on-write) instead")
    val matches = readView(spark, tableDir, m, keepPositions = true)
      .filter(pred)
      .select(col(PosFile).as("file"), col(PosIdx).as("pos"))
    val rel = s"deletes/del-v$v-${nonce()}"
    matches.write.mode("overwrite").parquet(s"$tableDir/$rel")
    // dirty leaves of THIS vector: parent dirs of the referenced files —
    // a manifest-bounded distinct, computed once at write time so reads
    // never run a discovery job
    val touched = distinctTuples(readVectors(spark, tableDir, Seq(rel))
      .select(regexp_extract(col("file"), "(?s)^(.*)/", 1))).map(_.head)
    if (touched.isEmpty) {
      fs(spark, tableDir).delete(new Path(s"$tableDir/$rel"), true)
      writeManifest(spark, tableDir, v, m)
    } else
      // a commit failure (crash, concurrent-commit collision) must not
      // leave the vector dir as a permanent unreferenced orphan — no
      // manifest will ever point at it, so [[vacuum]]'s referenced-path
      // sweep would otherwise never collect it
      try writeManifest(spark, tableDir, v, m.copy(deletes = m.deletes :+ rel,
        dirty = (m.dirtySet ++ touched).toSeq.sorted))
      catch { case e: Throwable =>
        fs(spark, tableDir).delete(new Path(s"$tableDir/$rel"), true)
        throw e
      }
  }

  /** Scan of a leaf set. With `schema` (the manifest's — every DATA
    * read), the scan goes through the connector's manifest-driven
    * relation ([[SnapshotConnector.relationFrame]]): every leaf projects
    * through the TABLE schema (columns a pre-evolution leaf lacks read
    * as nulls, schema sampling never decides anything) AND the scan gets
    * leaf-level partition pruning plus file-level min/max stats skipping
    * — the library read path and the `spark.read.format` path are the
    * same machinery. Schema-less calls (legacy tables without a
    * recorded schema) stay plain multi-root parquet.
    */
  private def readLeaves(spark: SparkSession, tableDir: String,
      leaves: Seq[String], schema: Option[StructType] = None,
      fmt: String = "parquet",
      colMap: Map[String, String] = Map.empty,
      specCols: Seq[String] = Nil): DataFrame = {
    require(leaves.nonEmpty, "cannot read an empty leaf set")
    schema match {
      case Some(s) =>
        SnapshotConnector.relationFrame(spark, tableDir, leaves, s, fmt,
          colMap, specCols)
      case None =>
        spark.read.format(fmt).load(leaves.map(l => s"$tableDir/$l"): _*)
    }
  }

  /** Delete-vector dirs read with the engine's fixed vector schema —
    * `(file STRING, pos BIGINT)`, what [[deleteMergeOnRead]] writes — so
    * no read runs a footer-inference job. Vectors are ENGINE data, always
    * parquet; only the user-visible leaves follow the table's format.
    */
  private def readVectors(spark: SparkSession, tableDir: String,
      dirs: Seq[String]): DataFrame =
    spark.read.schema(VectorSchema).parquet(dirs.map(d => s"$tableDir/$d"): _*)

  private val VectorSchema =
    StructType(Seq(StructField("file", StringType), StructField("pos", LongType)))

  // internal position column names — double-underscored to stay clear of
  // user schemas; dropped before any view leaves this object
  private val PosFile = "__vt_file"
  private val PosIdx = "__vt_pos"

  // ---- ROW TRACKING (Delta-style stable row ids, public design) -----
  //
  // Opt-in per table (`create(rowTracking = true)` /
  // [[enableRowTracking]]). Every row carries a STABLE long id:
  //   - fresh-append leaves carry NO id column; a row's id derives at
  //     read time as `base + _metadata.row_index`, with per-file bases
  //     frozen in the add-dir's `_rowids.tsv` sidecar at publish — zero
  //     write-path data cost (Delta's "fresh rows" representation);
  //   - COW rewrites read the view WITH ids and write them back as a
  //     materialized physical column (`__vt_row_id`) — survivors and
  //     updated rows keep their ids across arbitrary rewrites
  //     (update/merge/compact/z-order), Delta's "materialized" form;
  //   - rows a commit CREATES (merge inserts, replaceWhere adds) get
  //     fresh ids above the table's high-watermark.
  // The watermark is DERIVED from the `_rowids.tsv` sidecars (max id
  // ceiling over every add-dir, orphans included — orphans only ever
  // raise it, which is the safe direction), not stored in the manifest:
  // a racing commit's CAS loser re-runs its whole kernel and re-derives,
  // so two committed versions can never hand out overlapping ids.
  // Honest limits, documented not hidden: ids are unique among LIVE
  // rows at every version and stable from the enable point forward;
  // time travel BEFORE the enable commit reads null ids; a vacuum that
  // erases the add-dir holding the current maximum can let later
  // commits reuse erased ids (Delta's persisted watermark avoids this —
  // the price here of a zero-manifest-format-change design).
  // Parquet-only: derivation needs `_metadata.row_index`, which Spark
  // exposes for parquet alone (the [[deleteMergeOnRead]] precedent).
  private[sources] val RowIdCol = "__vt_row_id"
  private val RowIdBaseCol = "__vt_rid_base"
  private[sources] val RowTrackingMarker = "rowtracking"

  /** First id strictly above every id any add-dir ever recorded —
    * O(add-dirs) tiny sidecar reads, no data access. The persisted
    * FLOOR ([[sweep]] writes it before erasing add-dirs) keeps the
    * watermark monotone across vacuum: erased sidecars can no longer
    * let a later commit reuse erased ids.
    */
  private[sources] def rowIdHighWatermark(spark: SparkSession,
      tableDir: String): Long = {
    val f = fs(spark, tableDir)
    val dataDir = new Path(s"$tableDir/data")
    val scanned =
      if (!f.exists(dataDir)) 0L
      else f.listStatus(dataDir).toSeq.filter(_.isDirectory).flatMap { st =>
        FileStats.loadRowIds(f, st.getPath, lenient = true)
          .toSeq.flatten.map(_.idCeiling)
      }.foldLeft(0L)(math.max)
    math.max(scanned, readRowIdFloor(f, tableDir))
  }

  private def rowIdFloorPath(tableDir: String): Path =
    new Path(s"${manifestsDir(tableDir)}/rowid-floor.txt")

  private def readRowIdFloor(f: FileSystem, tableDir: String): Long = {
    val p = rowIdFloorPath(tableDir)
    if (!f.exists(p)) 0L else readText(f, p).trim.toLong
  }

  /** (tableDir-relative data file, base id) for every DERIVED-id file
    * under the given leaves' add-roots — the read path's base lookup.
    */
  private def rowIdBases(spark: SparkSession, tableDir: String,
      leaves: Seq[String]): Seq[(String, Long)] = {
    val f = fs(spark, tableDir)
    leaves.map(addRootOf).distinct.flatMap { root =>
      FileStats.loadRowIds(f, new Path(s"$tableDir/$root")).toSeq.flatten
        .filter(_.kind == "b")
        .map(e => s"$root/${e.rel}" -> e.value)
    }
  }

  /** Align a kernel's NEW-rows frame with an id-carrying survivors
    * frame: fresh rows hold null and take watermark-fresh ids at write.
    */
  private def withNullRowId(df: DataFrame): DataFrame =
    df.withColumn(RowIdCol, lit(null).cast(LongType))

  /** Head-manifest row-tracking flag — the connector/catalog probe. */
  private[sources] def rowTrackingEnabled(spark: SparkSession,
      tableDir: String): Boolean =
    readHead(spark, tableDir).rowTracking

  /** Enable row tracking on an existing table: backfill `_rowids.tsv`
    * bases for every live add-root (footer row counts — metadata-only,
    * no data scan), then commit the feature marker. Idempotent;
    * existing rows get their ids here and keep them through every
    * later rewrite. Time travel to PRE-enable versions reads null ids.
    */
  def enableRowTracking(spark: SparkSession, tableDir: String): Unit =
    withCommitRetry {
      val v = latestVersion(spark, tableDir) + 1
      val m = readManifestFull(spark, tableDir, v - 1)
      if (m.rowTracking) return
      require(m.fmt == "parquet",
        s"row tracking needs _metadata.row_index, which Spark exposes " +
          s"for parquet only — this table is '${m.fmt}'")
      require(m.schemaOpt.isDefined,
        "row tracking requires a recorded table schema (legacy table — " +
          "run one schema-recording commit first)")
      val f = fs(spark, tableDir)
      val conf = spark.sparkContext.hadoopConfiguration
      var w = rowIdHighWatermark(spark, tableDir)
      for (root <- m.leaves.map(addRootOf).distinct.sorted) {
        val rootP = new Path(s"$tableDir/$root")
        if (FileStats.loadRowIds(f, rootP).isEmpty) {
          val rels = FileStats.loadFileList(f, rootP)
            .map(_.keys.toSeq.sorted)
            .getOrElse(listDataFileRels(f, rootP))
          val counts = FileStats.parquetRowCounts(conf, rootP, rels)
          val entries = rels.map { rel =>
            val e = FileStats.RowIdEntry(rel, "b", w, counts(rel))
            w += counts(rel)
            e
          }
          FileStats.writeRowIds(f, rootP, entries)
        }
      }
      writeManifest(spark, tableDir, v,
        m.copy(format = m.format :+ RowTrackingMarker))
    }

  /** Fallback file enumeration for a legacy add-root with no
    * `_files.tsv` — the enable path's one-time backfill walk.
    */
  private def listDataFileRels(f: FileSystem, rootP: Path): Seq[String] = {
    val rootAbs = f.makeQualified(rootP).toUri.getPath
    def walk(p: Path): Seq[String] = f.listStatus(p).toSeq.flatMap {
      case st if st.isDirectory => walk(st.getPath)
      case st if st.isFile && FileStats.isDataFile(st.getPath.getName) =>
        Seq(f.makeQualified(st.getPath).toUri.getPath
          .stripPrefix(rootAbs + "/"))
      case _ => Nil
    }
    walk(rootP).sorted
  }

  /** Head read WITH the stable row id surfaced as `_row_id` — the
    * public row-tracking read (tests, CDF consumers, audits).
    */
  def readLatestWithRowIds(spark: SparkSession, tableDir: String): DataFrame =
    readVersionWithRowIds(spark, tableDir, latestVersion(spark, tableDir))

  def readVersionWithRowIds(spark: SparkSession, tableDir: String,
      version: Int): DataFrame = {
    val m = readManifestFull(spark, tableDir, version)
    require(m.rowTracking || {
      // pre-enable versions of a now-tracked table still answer (null
      // ids) — a table that NEVER tracked refuses loudly
      readHead(spark, tableDir).rowTracking
    }, s"table at $tableDir does not track row ids — enable with " +
      "enableRowTracking() or create(rowTracking = true)")
    readView(spark, tableDir, m, withRowIds = true)
      .withColumnRenamed(RowIdCol, "_row_id")
  }

  /** tableDir-relative physical position of each row, anchored on the
    * table's own absolute path (not a `data/add-v<N>` suffix pattern — a
    * tableDir that itself contained such a segment would make a suffix
    * match disagree with manifest leaf paths and silently disable the
    * delete-vector anti-join). `_metadata.file_path` is a qualified URI
    * whose scheme/authority rendering varies by filesystem, so the anchor
    * is the scheme-free normalized path, located then substringed. The
    * URI is percent-decoded first, so a leaf whose directory name holds
    * an escaped partition value (`p__p=z%5Dw`, `p__p=a b`) compares
    * equal to its manifest path; a literal '+' is protected from
    * `url_decode`'s form decoding, which would read it as a space.
    */
  private def withPositions(df: DataFrame, tableDir: String): DataFrame = {
    val marker =
      fs(df.sparkSession, tableDir).makeQualified(new Path(tableDir))
        .toUri.getPath + "/"
    val path = url_decode(
      regexp_replace(col("_metadata.file_path"), "\\+", "%2B"))
    df.withColumn(PosFile,
        path.substr(locate(marker, path) + marker.length, lit(Int.MaxValue)))
      .withColumn(PosIdx, col("_metadata.row_index"))
  }

  /** The vector-applied view of a manifest (optionally restricted to a
    * leaf subset): clean leaves scan plain; dirty leaves scan with
    * positions and LEFT ANTI join the union of delete vectors. With
    * `keepPositions` the internal position columns stay on the output —
    * only [[deleteMergeOnRead]] wants them.
    */
  private def readView(spark: SparkSession, tableDir: String, m: VManifest,
      onlyLeaves: Option[Seq[String]] = None,
      keepPositions: Boolean = false,
      withRowIds: Boolean = false): DataFrame = {
    if (!withRowIds)
      return readViewRaw(spark, tableDir, m, onlyLeaves, keepPositions,
        m.schemaOpt)
    // row-id view: scan with the materialized id column declared
    // (files without it — fresh appends — read null there), keep file
    // positions, and fill the nulls from the per-file base sidecars:
    // id = coalesce(materialized, base + row_index). The base frame is
    // file-count-sized metadata — broadcast, never shuffled.
    require(m.schemaOpt.isDefined,
      "row-id reads need a recorded table schema")
    val sch = StructType(m.schemaOpt.get.fields :+
      StructField(RowIdCol, LongType))
    val base = readViewRaw(spark, tableDir, m, onlyLeaves,
      keepPositions = true, Some(sch))
    val leaves = onlyLeaves.getOrElse(m.leaves)
    val bases = rowIdBases(spark, tableDir, leaves)
    val withId =
      if (bases.isEmpty) base
      else {
        import spark.implicits._
        val bdf = broadcast(bases.toDF(PosFile, RowIdBaseCol))
        base.join(bdf, Seq(PosFile), "left")
          .withColumn(RowIdCol, coalesce(col(RowIdCol),
            col(RowIdBaseCol) + col(PosIdx)))
          .drop(RowIdBaseCol)
      }
    val ordered = withId.select((sch.fieldNames.toIndexedSeq ++
      (if (keepPositions) Seq(PosFile, PosIdx) else Nil)).map(col): _*)
    ordered
  }

  private def readViewRaw(spark: SparkSession, tableDir: String,
      m: VManifest, onlyLeaves: Option[Seq[String]],
      keepPositions: Boolean,
      schemaOpt: Option[StructType]): DataFrame = {
    val leaves = onlyLeaves.getOrElse(m.leaves)
    val sch = schemaOpt
    def finish(df: DataFrame) = if (keepPositions) df else df.drop(PosFile, PosIdx)
    if (m.deletes.isEmpty) {
      val plain = readLeaves(spark, tableDir, leaves, sch, m.fmt, m.colMap,
        m.specCols)
      return if (keepPositions) withPositions(plain, tableDir) else plain
    }
    val (dirty, clean) = leaves.partition(m.dirtySet.contains)
    // the vectors are read only where a dirty leaf is
    val dirtyView = if (dirty.isEmpty) None
      else Some(finish(withPositions(
        readLeaves(spark, tableDir, dirty, sch, m.fmt, m.colMap,
          m.specCols), tableDir)
        .join(readVectors(spark, tableDir, m.deletes)
            .select(col("file").as(PosFile), col("pos").as(PosIdx)),
          Seq(PosFile, PosIdx), "left_anti")))
    val cleanView = if (clean.isEmpty) None
      else {
        val c = readLeaves(spark, tableDir, clean, sch, m.fmt, m.colMap,
          m.specCols)
        Some(if (keepPositions) withPositions(c, tableDir) else c)
      }
    (cleanView, dirtyView) match {
      case (Some(c), Some(d)) => c.unionByName(d)
      case (Some(c), None)    => c
      case (None, Some(d))    => d
      case (None, None) =>
        throw new IllegalStateException("cannot read an empty leaf set")
    }
  }

  /** Connector-facing read of one version's manifest
    * ([[GraftSnapshotSource]], [[GraftV2Table]]).
    */
  private[sources] def manifestView(spark: SparkSession, tableDir: String,
      version: Int): VManifest = readManifestFull(spark, tableDir, version)

  private[sources] def leafPartColOf(leaf: String): String = leafPartCol(leaf)
  private[sources] def leafPartValueOf(leaf: String): String = leafPartValue(leaf)

  /** Snapshot read at a version (time travel), delete vectors applied. */
  def readVersion(spark: SparkSession, tableDir: String, version: Int): DataFrame =
    readView(spark, tableDir, readManifestFull(spark, tableDir, version))

  def readLatest(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir, latestVersion(spark, tableDir))

  /** The parent dir of a sidecar file rel (`a__p=1/b__p=2/f.parquet` →
    * `a__p=1/b__p=2`) — the exact leaf-rel key [[liveBytes]]/
    * [[liveDataFiles]] probe leaf sets with. Root-level rels (no '/')
    * map to "" and never match a leaf.
    */
  private def parentRelOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Fallback-listing counter for [[liveDataFiles]]/[[liveBytes]]: each
    * per-leaf `listStatus` a missing `_files.tsv` forces bumps this —
    * the spec pins it at 0 for sidecar-complete tables (maintenance
    * paths are zero-listing too, not just relation builds) and >0 with
    * identical answers on legacy tables. Test instrumentation only.
    */
  private[sources] var fallbackLeafListings: Long = 0L

  /** Checkpoint-aware per-root file lists: the latest checkpoint
    * answers every root it covers from ONE read; only the tail (and
    * legacy roots) fall to per-root sidecar reads — the same resolution
    * order as the connector's relation build, shared by the maintenance
    * paths below.
    */
  private def fileListsFor(spark: SparkSession, tableDir: String,
      roots: Seq[String]): Map[String, Option[Map[String, (Long, Long)]]] = {
    val f = fs(spark, tableDir)
    val ckpt = loadLatestCheckpoint(spark, tableDir)
      .map(_._2).getOrElse(Map.empty)
    roots.map { root =>
      root -> (ckpt.get(root) match {
        case hit @ Some(_) => hit
        case None => FileStats.loadFileList(f, new Path(s"$tableDir/$root"))
      })
    }.toMap
  }

  /** Byte sum of a version's live data files, answered from the
    * `_files.tsv` sidecars where present (zero listings — the same
    * metadata the connector's FileIndex builds from) with a per-leaf
    * listing fallback for legacy add-dirs. What the MOR fallback
    * relation reports as `sizeInBytes`: without it Spark assumes
    * `defaultSizeInBytes` (≈Long.Max) and a SMALL dirty snapshot can
    * never be auto-broadcast in a join until compacted.
    */
  private[sources] def liveBytes(spark: SparkSession, tableDir: String,
      version: Int): Long = {
    val f = fs(spark, tableDir)
    val m = readManifestFull(spark, tableDir, version)
    val byRoot = m.leaves.groupBy(addRootOf)
    val lists = fileListsFor(spark, tableDir, byRoot.keys.toSeq)
    byRoot.iterator.map { case (root, ls) =>
      lists(root) match {
        case Some(list) =>
          // sidecar rels are exactly `<leafRel>/<file>` (files sit
          // DIRECTLY under their leaf dir), so membership is one hash
          // probe on the file's parent dir — O(files), not the
          // O(files × leaves) prefix scan a 10k-partition table would
          // turn into a 10⁸-step driver loop
          val leafRels = ls.iterator.map(leafRelOf).toSet
          list.iterator.collect {
            case (rel, (len, _))
                if FileStats.isDataFile(rel) &&
                  leafRels.contains(parentRelOf(rel)) =>
              len
          }.sum
        case None => ls.iterator.map { l =>
          fallbackLeafListings += 1
          f.listStatus(new Path(s"$tableDir/$l")).toSeq
            .filter(st => st.isFile && FileStats.isDataFile(st.getPath.getName))
            .map(_.getLen).sum
        }.sum
      }
    }.sum
  }

  /** The head version's live DATA FILES as normalized absolute paths,
    * answered from the `_files.tsv` sidecars where present (one sidecar
    * read per ADD-DIR, zero per-leaf listings — the same metadata the
    * connector's FileIndex builds from) with a per-leaf listing fallback
    * for legacy add-dirs. The file-granular view secondary indexes key
    * on ([[graft.sources.BloomSkipIndex]] tracks files, not leaves, so
    * an incremental refresh can diff against exactly this list) — and
    * the takedown paths call it per store, so at a million-file table
    * the sidecar answer is what keeps MAINTENANCE off the NameNode too,
    * not just queries.
    */
  def liveDataFiles(spark: SparkSession, tableDir: String): Seq[String] = {
    val f = fs(spark, tableDir)
    val m = readHead(spark, tableDir)
    val byRoot = m.leaves.groupBy(addRootOf)
    val lists = fileListsFor(spark, tableDir, byRoot.keys.toSeq)
    byRoot.iterator.flatMap { case (root, ls) =>
      lists(root) match {
        case Some(list) =>
          // one hash probe per file on its parent dir (see liveBytes)
          val leafRels = ls.iterator.map(leafRelOf).toSet
          list.iterator.collect {
            case (rel, _)
                if FileStats.isDataFile(rel) &&
                  leafRels.contains(parentRelOf(rel)) =>
              f.makeQualified(new Path(s"$tableDir/$root/$rel")).toUri.getPath
          }
        case None => ls.iterator.flatMap { l =>
          fallbackLeafListings += 1
          f.listStatus(new Path(s"$tableDir/$l")).toSeq
            .filter(st => st.isFile && FileStats.isDataFile(st.getPath.getName))
            .map(st => st.getPath.toUri.getPath)
        }
      }
    }.toSeq.sorted
  }

  /** The head's live data files as a frame — the Iceberg `t.files`
    * metadata-table surface: one row per file with its leaf partition
    * dir, committing version, size and sidecar row count. Answered
    * entirely from `_files.tsv`/`_stats.tsv` (one read per add-dir,
    * zero per-leaf listings on sidecar-complete tables; legacy roots
    * fall back to listing) — at a million files this is the same
    * metadata the relation build already holds, never a data scan.
    */
  def filesReport(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, tableDir)
    val m = readHead(spark, tableDir)
    val byRoot = m.leaves.groupBy(addRootOf)
    val lists = fileListsFor(spark, tableDir, byRoot.keys.toSeq)
    val VRe = "add-v(\\d+)-.*".r
    val out = byRoot.toSeq.flatMap { case (root, ls) =>
      val rootP = new Path(s"$tableDir/$root")
      val stats = FileStats.load(f, rootP)
      val version = root.split('/')
        .collectFirst { case VRe(v) => v.toLong }.getOrElse(-1L)
      val leafRels = ls.map(leafRelOf).toSet
      def row(rel: String, size: Long) = {
        val nrows = stats.get(rel).flatMap(_.values.headOption)
          .map(_.rows)
        (s"$root/$rel", parentRelOf(rel), version, size, nrows)
      }
      lists(root) match {
        case Some(list) => list.toSeq.collect {
          case (rel, (size, _))
              if FileStats.isDataFile(rel) &&
                leafRels.contains(parentRelOf(rel)) =>
            row(rel, size)
        }
        case None => ls.flatMap { l =>
          fallbackLeafListings += 1
          f.listStatus(new Path(s"$tableDir/$l")).toSeq
            .filter(st => st.isFile &&
              FileStats.isDataFile(st.getPath.getName))
            .map(st => row(s"${leafRelOf(l)}/${st.getPath.getName}",
              st.getLen))
        }
      }
    }
    out.toDF("file", "partition", "version", "size_bytes", "rows")
      .orderBy("file")
  }

  /** MERGE (upsert) a batch by key — the reference's deletion kernel
    * generalized to updates: rows whose `keyCol` matches a batch key are
    * REPLACED by the batch row, unmatched batch rows are inserted, and
    * only affected partitions rewrite. Affected = partitions holding a
    * matching key (a key may MOVE partitions — its old row is retired
    * from wherever it lived) ∪ the batch rows' own partitions. The
    * affected-value list is driver-side metadata (the
    * identifyAffectedPartitions shape); the key retirement itself is a
    * distributed LEFT ANTI join, never an id IN-list, so a batch of any
    * size stays on the cluster.
    */
  def merge(batch: DataFrame, tableDir: String, partCol: String,
      keyCol: String): Unit =
    mergeKeys(batch, tableDir, partCol, Seq(keyCol))

  /** [[merge]] on a COMPOSITE key — `keyCols` joins as a tuple
    * everywhere the single-column form joins its one key (the everyday
    * Delta `ON t.a = s.a AND t.b = s.b` upsert).
    */
  def mergeKeys(batch: DataFrame, tableDir: String, partCol: String,
      keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = batch.sparkSession
    rewriteCommit(spark, tableDir, partCol, "merge") { m =>
      // merge rewrites the union of batch and surviving rows, so the
      // batch must match the table schema exactly — evolution goes
      // through append() first (allowEvolution=false keeps a widened
      // batch loud)
      val schema = resolveAppendSchema(batch, spark, tableDir, m,
        allowEvolution = false)
      requireConstraints(batch, m, "merge") // before any rewrite work
      val batchKeys = batch.select(keyCols.map(col): _*).distinct()
      // affected = partitions holding a batch key ∪ the batch rows' own;
      // foreign-spec leaves holding a batch key are rewritten (delete's
      // migration rule, key-selected instead of predicate-selected)
      Rewrite(Seq(readView(spark, tableDir, m).join(batchKeys, keyCols), batch),
        _.join(batchKeys, keyCols, "left_semi"),
        _.join(batchKeys, keyCols, "left_anti"),
        add = Some(batch), schema = Some(schema),
        op = encodeOp("merge", keyCols))
    }
  }

  /** Generalized MERGE — the Delta clause family over the same COW
    * kernel as [[merge]]: an ordered list of `WHEN MATCHED [AND cond]
    * THEN UPDATE SET … | DELETE` clauses (first applicable clause wins,
    * SQL MERGE order semantics) plus an optional `WHEN NOT MATCHED
    * [AND cond] THEN INSERT …`. `matched` carries `(condition,
    * isDelete, assignments)` triples; conditions AND assignment values
    * reference the target row as `__t.<col>` and the source row as
    * `__s.<col>` (the SQL rule rebinds them that way). Assignments
    * apply COLUMN-WISE — `SET amount = t.amount + s.amount` and
    * partial updates that keep unassigned target columns are exact
    * semantics, not whole-row replacement; each value casts to its
    * column's declared type, so the output is schema-exact by
    * construction. [[merge]] stays the canonical-upsert fast
    * path — it never scans the whole table's keys, because replacing
    * every matched row and inserting every source row needs no
    * matched/not-matched split. This kernel pays that split only when
    * an insert clause is present (one key-projected scan), requires the
    * source key-unique whenever a matched clause exists (several source
    * rows matching one target row would make the applied clause
    * row-arbitrary — the same contract Delta enforces), and lets a
    * delete-only merge (`WHEN MATCHED THEN DELETE` — the takedown
    * idiom) run with a source that carries just the key column.
    *
    * Scale: the matched path joins only HIT leaves against the source
    * on the key (key-partitioned or broadcast — never all-pairs);
    * inserts are written as new leaves without rewriting the partitions
    * they land in; untouched leaves carry by reference.
    *
    * `bySource` carries `WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    * DELETE | UPDATE SET …` clauses as (condition, isDelete,
    * assignments) triples — the table-sync idiom: clauses fire on
    * TARGET rows whose key has no source match, first-applicable wins,
    * updates assign target-side expressions column-wise. Their
    * partition probe is the anti-join complement of the matched probe
    * (restricted to rows some by-source condition definitely hits), so
    * a conditioned sync still rewrites only the partitions it touches.
    */
  def mergeInto(batch: DataFrame, tableDir: String, partCol: String,
      keyCol: String,
      matched: Seq[(Option[Column], Boolean, Seq[(String, Column)])],
      insert: Option[(Option[Column], Seq[(String, Column)])],
      bySource: Seq[(Option[Column], Boolean, Seq[(String, Column)])] = Nil)
      : Unit =
    mergeIntoKeys(batch, tableDir, partCol, Seq(keyCol), matched, insert,
      bySource)

  /** [[mergeInto]] on a COMPOSITE key (`ON t.a = s.a AND t.b = s.b` —
    * the everyday multi-column upsert): `keyCols` joins as a tuple
    * everywhere the single-column form joins its one key; matched /
    * not-matched / by-source semantics are unchanged.
    */
  def mergeIntoKeys(batch: DataFrame, tableDir: String, partCol: String,
      keyCols: Seq[String],
      matched: Seq[(Option[Column], Boolean, Seq[(String, Column)])],
      insert: Option[(Option[Column], Seq[(String, Column)])],
      bySource: Seq[(Option[Column], Boolean, Seq[(String, Column)])] = Nil,
      onResidual: Option[Column] = None)
      : Unit = {
    require(matched.nonEmpty || insert.isDefined || bySource.nonEmpty,
      "mergeInto needs at least one clause")
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    // the full ON condition over the kernel's two aliases: the equality
    // pairs are the join keys (hash-joinable), any residual conjunct
    // (`ON t.k = s.k AND s.ts > t.ts`) rides the SAME join condition —
    // a pair it does not definitely pass is NOT matched (join
    // conditions drop non-TRUE rows, which IS the coalesce-to-false
    // 3VL), so NOT MATCHED inserts and BY SOURCE clauses see exactly
    // the SQL-spec match set
    val onCond: Column =
      (keyCols.map(k => col(s"__t.$k") === col(s"__s.$k")) ++
        onResidual.toSeq).reduce(_ && _)
    val spark = batch.sparkSession
    // clause conditions follow SQL three-valued logic: a clause APPLIES
    // only when its condition is definitely TRUE (a NULL condition must
    // not fire a DELETE — the raw `holds && !prior` would otherwise
    // reach the survivor filter as NULL and silently drop the row)
    def definitely(c: Option[Column]): Column =
      coalesce(c.getOrElse(lit(true)), lit(false))
    // any NOT-MATCHED-BY-SOURCE clause may fire on any unmatched target
    // row — its partition probe is the anti-join complement of the
    // matched probe, restricted to rows some by-source condition hits
    val anyBySource: Option[Column] =
      if (bySource.isEmpty) None
      else Some(bySource.map(c => definitely(c._1)).reduce(_ || _))
    rewriteCommit(spark, tableDir, partCol, "mergeInto") { m =>
      keyCols.foreach(k => require(batch.columns.contains(k),
        s"merge source has no key column '$k' " +
          s"(${batch.columns.mkString(", ")})"))
      val current = readView(spark, tableDir, m, withRowIds = m.rowTracking)
      val tableCols = current.columns.toIndexedSeq
      val types = current.schema.fields.map(f => f.name -> f.dataType).toMap
      if (matched.nonEmpty)
        require(batch.groupBy(keyCols.map(col): _*).count()
            .filter(col("count") > 1).isEmpty,
          s"merge source has several rows sharing a " +
            s"'${keyCols.mkString(",")}' value — with matched clauses " +
            "the applied clause would be row-arbitrary; de-duplicate the " +
            "source first")
      val batchKeys = batch.select(keyCols.map(col): _*).distinct()
      // NOT MATCHED = the key is absent from the WHOLE table, so the
      // insert side pays one key-projected anti-join against the current
      // view; the insert condition (source-only by SQL rules) filters
      // before the join. Assignments build the inserted row column-wise
      // (each cast to its declared type — the output is schema-exact by
      // construction); a column no assignment names inserts as NULL.
      val insertRows: Option[DataFrame] = insert.map { case (condOpt, assigns) =>
        val assignMap = assigns.toMap
        val src = condOpt.foldLeft(batch.alias("__s"))(_ filter _)
        val unmatched = onResidual match {
          case None => src.join(
            current.select(keyCols.map(col): _*).distinct(), keyCols,
            "left_anti")
          // the residual references target columns, so the anti join
          // runs against the aliased view — Catalyst prunes it to the
          // columns the condition actually names
          case Some(_) => src.join(current.alias("__t"), onCond, "left_anti")
        }
        unmatched.select(tableCols.map { c =>
          assignMap.get(c).map(_.cast(types(c)))
            .getOrElse(lit(null).cast(types(c))).as(c)
        }: _*)
      }
      // only partitions holding a MATCHED key (or a by-source hit)
      // rewrite; insert rows land as new leaves without touching
      // existing ones. Probes alias the target frame as `__t`: by-source
      // conditions are pre-qualified to `__t.<col>` by the SQL
      // translation.
      val probeMatched =
        if (matched.isEmpty) None
        else Some(onResidual match {
          case None => current.join(batchKeys, keyCols)
          case Some(_) =>
            current.alias("__t").join(batch.alias("__s"), onCond, "left_semi")
        })
      val probeBySource = anyBySource.map(cond => (onResidual match {
        case None => current.alias("__t").join(batchKeys, keyCols, "left_anti")
        case Some(_) => current.alias("__t").join(batch.alias("__s"),
          onCond, "left_anti")
      }).filter(cond))
      def foreignHits(df: DataFrame): DataFrame =
        (anyBySource, onResidual) match {
          case (None, None) => df.join(batchKeys, keyCols, "left_semi")
          case (None, Some(_)) =>
            df.alias("__t").join(batch.alias("__s"), onCond, "left_semi")
          case (Some(cond), _) =>
            val marked = onResidual match {
              case None => df.alias("__t").join(
                batchKeys.withColumn("__vt_merge_k", lit(1)),
                keyCols, "left")
              case Some(_) => df.alias("__t").join(
                batch.withColumn("__vt_merge_k", lit(1)).alias("__s"),
                onCond, "left")
            }
            val hitExpr =
              if (matched.isEmpty) col("__vt_merge_k").isNull && cond
              else col("__vt_merge_k").isNotNull ||
                (col("__vt_merge_k").isNull && cond)
            marked.filter(hitExpr)
        }
      def survivors(view: DataFrame): DataFrame = {
        val t = view.alias("__t")
        val s = batch.withColumn("__vt_merge_m", lit(true)).alias("__s")
        val j = t.join(s, onCond, "left_outer")
        val isMatched = coalesce(col("__s.__vt_merge_m"), lit(false))
        // first-applicable-clause-wins: applies(i) = matched ∧ cond_i ∧
        // no earlier clause's condition held (conditions gate through
        // `definitely` — a NULL condition never fires a clause)
        var priorHeld: Column = lit(false)
        val applies = matched.map { case (condOpt, _, _) =>
          val holds = isMatched && definitely(condOpt)
          val a = holds && !priorHeld
          priorHeld = priorHeld || holds
          a
        }
        def anyOf(isDelete: Boolean): Column =
          matched.zip(applies)
            .collect { case ((_, d, _), a) if d == isDelete => a }
            .reduceOption(_ || _).getOrElse(lit(false))
        // the NOT-MATCHED-BY-SOURCE side: same first-wins ladder over
        // the UNmatched target rows; updates assign target-side
        // expressions column-wise (never the source row)
        var priorHeldB: Column = lit(false)
        val appliesB = bySource.map { case (condOpt, _, _) =>
          val holds = !isMatched && definitely(condOpt)
          val a = holds && !priorHeldB
          priorHeldB = priorHeldB || holds
          a
        }
        def anyOfB(isDelete: Boolean): Column =
          bySource.zip(appliesB)
            .collect { case ((_, d, _), a) if d == isDelete => a }
            .reduceOption(_ || _).getOrElse(lit(false))
        // assignments apply COLUMN-WISE per clause (matched clauses may
        // reference both __t and __s — `SET amount = t.amount + s.amount`
        // — and an unassigned column keeps the target's value); reverse
        // fold puts the FIRST applicable clause outermost. The matched
        // and by-source ladders are disjoint (isMatched vs its negation)
        // so their relative nesting order is immaterial.
        val outCols = tableCols.map { c =>
          var e: Column = col(s"__t.$c")
          (matched.map(t3 => (t3._2, t3._3)).zip(applies) ++
            bySource.map(t3 => (t3._2, t3._3)).zip(appliesB)).reverse
            .foreach {
              case ((isDel, assigns), a) if !isDel =>
                assigns.toMap.get(c).foreach { v =>
                  e = when(a, v.cast(types(c))).otherwise(e)
                }
              case _ => ()
            }
          e.as(c)
        }
        j.filter(!anyOf(isDelete = true) && !anyOfB(isDelete = true))
          .select(outCols: _*)
      }
      // UPDATE/INSERT clauses synthesize row values — validate the
      // OUTPUT rows (what actually lands), the same guarantee the update
      // kernel gives; a delete-only merge skips the extra pass
      Rewrite(probeMatched.toSeq ++ probeBySource, foreignHits, survivors,
        add = insertRows,
        check = matched.exists(!_._2) || insert.isDefined ||
          bySource.exists(b => !b._2 && b._3.nonEmpty),
        op = encodeOp("merge", keyCols))
    }
  }

  /** CDC between two snapshots: full-outer join on `keyCol`, content
    * compared via a caller-supplied deterministic fingerprint column list
    * (stringable columns — no raw doubles: float formatting is engine-
    * specific, so quantize first). Returns one row per differing key with
    * status added/removed/changed, plus the unchanged keys if
    * `includeUnchanged`. The join is key-partitioned — O(|vA| + |vB|)
    * shuffle, carrying key + fingerprint only, never full rows.
    */
  def versionDiff(spark: SparkSession, tableDir: String, keyCol: String,
      fingerprintCols: Seq[String], fromV: Int, toV: Int,
      includeUnchanged: Boolean = false): DataFrame = {
    def fp(df: DataFrame) = df.select(col(keyCol),
      md5(concat_ws("|", fingerprintCols.map(col): _*)).as("fp"))
    val a = fp(readVersion(spark, tableDir, fromV)).withColumnRenamed("fp", "fp_from")
    val b = fp(readVersion(spark, tableDir, toV)).withColumnRenamed("fp", "fp_to")
    val joined = a.join(b, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("fp_from").isNull, "added")
          .when(col("fp_to").isNull, "removed")
          .when(col("fp_from") =!= col("fp_to"), "changed")
          .otherwise("unchanged").as("status"))
    if (includeUnchanged) joined else joined.filter(col("status") =!= "unchanged")
  }

  /** CHANGE FEED between two versions — Delta-CDF-style rows: every
    * table column plus `_change_type` (`insert` | `delete` |
    * `update_preimage` | `update_postimage` — Delta's four) and
    * `_commit_version` (the commit that produced the change). A keyed
    * UPDATE/MERGE commit left its pairing key in the manifest, so its
    * removed×added rows arrive paired; a COW rewrite's CARRIED rows
    * (unchanged, rewritten into a new leaf) cancel out and emit
    * nothing. Exactness without row tracking comes from a multiset diff
    * (`exceptAll`) — restricted to the leaves that actually changed
    * between the two manifests (removed/added leaves, plus
    * vector-dirty common leaves when a MOR vector landed), so the cost
    * is proportional to the commit's touched bytes, not the table.
    * Rows in common untouched leaves are byte-identical by construction
    * (leaves are immutable) and never enter the diff.
    *
    * Honest cost note: a commit that rewrites a whole partition
    * (COW delete/update) re-reads that partition's old AND new leaves —
    * inherent to diff-based CDF; engines that avoid it carry per-row
    * tracking metadata the storage format here does not.
    */
  def changeFeed(spark: SparkSession, tableDir: String,
      fromV: Int, toV: Int): DataFrame = {
    require(fromV <= toV, s"changeFeed needs fromV <= toV ($fromV > $toV)")
    require(fromV >= -1,
      s"changeFeed fromV must be >= -1 (-1 = include version 0's " +
        s"initial snapshot as inserts) — got $fromV")
    // every step aligns to the range-END schema, so a range crossing a
    // schema-evolution commit unions cleanly: pre-evolution change rows
    // read null in the later-added columns, exactly what a
    // post-evolution scan of the old rows returns
    val mEnd = readManifestFull(spark, tableDir, toV)
    val endSchema: StructType = mEnd.schemaOpt.getOrElse(
      readVersion(spark, tableDir, toV).schema)
    (fromV + 1 to toV).map(v =>
      changeStep(spark, tableDir, v, endSchema, mEnd.colMap))
      // a range crossing the row-tracking ENABLE commit unions pre-
      // enable steps (no _row_id column) with post-enable ones — the
      // earlier rows read null there, exactly what a head read of a
      // pre-enable snapshot answers
      .reduceOption((a, b) =>
        a.unionByName(b, allowMissingColumns = mEnd.rowTracking))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (mEnd.rowTracking)
          StructType(
            VersionedChangeFeedSource.feedSchema(endSchema).fields :+
              StructField("_row_id", LongType))
        else VersionedChangeFeedSource.feedSchema(endSchema)))
  }

  /** One commit's change rows (version `toV` vs `toV - 1`), aligned to
    * `schema` (the caller's range-end schema). Version 0 has no
    * predecessor: its change rows are the initial snapshot as inserts —
    * what makes `fromV = -1` (and an inclusive batch
    * `startingVersion = 0`) mean "the table's whole history".
    */
  private[sources] def changeStep(spark: SparkSession, tableDir: String,
      toV: Int, schema: StructType,
      endColMap: Map[String, String] = Map.empty): DataFrame = {
    // columns align by frozen PHYSICAL name, so a range crossing a
    // RENAME COLUMN commit still cancels unchanged rows instead of
    // null-filling the renamed column on the pre-rename side; a column
    // the side predates fills with its declared DEFAULT when one exists
    // (exactly what a head scan of those rows returns), else null
    def aligned(df: DataFrame, vColMap: Map[String, String]): DataFrame = {
      val srcByPhys = df.columns.toSeq
        .map(n => vColMap.getOrElse(n, n) -> n).toMap
      // NESTED alignment (struct fields): rebuild the struct field-by-
      // field matching era-logical to end-logical through the frozen
      // PHYSICAL field names — a range crossing a nested RENAME still
      // cancels unchanged rows, a nested ADD reads null on the
      // pre-evolution side, a nested DROP is simply not selected
      def alignExpr(src: Column, srcType: DataType, srcPath: String,
          endType: DataType, endPath: String): Column =
        (srcType, endType) match {
          case (s: StructType, e: StructType) =>
            val byPhys = s.fields.toSeq.map { sf =>
              val p = srcPath + "." + sf.name
              vColMap.getOrElse(p, sf.name) -> sf
            }.toMap
            val parts = e.fields.toIndexedSeq.map { ef =>
              val eP = endPath + "." + ef.name
              val phys = endColMap.getOrElse(eP, ef.name)
              (byPhys.get(phys) match {
                case Some(sf) => alignExpr(src.getField(sf.name),
                  sf.dataType, srcPath + "." + sf.name, ef.dataType, eP)
                case None => lit(null).cast(ef.dataType)
              }).as(ef.name)
            }
            // NULL-preserving rebuild: a null struct must stay null (a
            // plain struct() of its fields would fabricate a non-null
            // row of nulls and break the diff's row equality)
            when(src.isNull, lit(null).cast(e))
              .otherwise(struct(parts: _*).cast(e))
          case _ => src
        }
      def needsRebuild(n: String, fld: StructField): Boolean =
        df.schema(n).dataType != fld.dataType ||
          vColMap.keys.exists(_.startsWith(n + ".")) ||
          endColMap.keys.exists(_.startsWith(fld.name + "."))
      df.select(schema.fields.toIndexedSeq.map { fld =>
        srcByPhys.get(endColMap.getOrElse(fld.name, fld.name)) match {
          case Some(n) =>
            if (fld.dataType.isInstanceOf[StructType] && needsRebuild(n, fld))
              alignExpr(col(n), df.schema(n).dataType, n, fld.dataType,
                fld.name).as(fld.name)
            else col(n).as(fld.name)
          case None =>
            val fill =
              if (fld.metadata.contains("EXISTS_DEFAULT"))
                expr(fld.metadata.getString("EXISTS_DEFAULT"))
              else lit(null)
            fill.cast(fld.dataType).as(fld.name)
        }
      } ++ (if (df.columns.contains(RowIdCol)) Seq(col(RowIdCol))
            else Nil): _*)
    }
    if (toV == 0) {
      val m0 = readManifestFull(spark, tableDir, 0)
      return aligned(readView(spark, tableDir, m0,
          withRowIds = m0.rowTracking), m0.colMap)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(0L))
        .transform(d => if (m0.rowTracking)
          d.withColumnRenamed(RowIdCol, "_row_id") else d)
    }
    val mf = readManifestFull(spark, tableDir, toV - 1)
    val mt = readManifestFull(spark, tableDir, toV)
    val removed = mf.leaves.toSet -- mt.leaves.toSet
    val added = mt.leaves.toSet -- mf.leaves.toSet
    // when a vector landed, every common dirty leaf enters BOTH sides —
    // conservative (extra identical rows cancel in the diff), exact
    val commonTouched: Set[String] =
      if (mf.deletes.toSet == mt.deletes.toSet) Set.empty
      else (mf.dirtySet ++ mt.dirtySet)
        .intersect(mf.leaves.toSet.intersect(mt.leaves.toSet))
    val touchedFrom = (removed ++ commonTouched).toSeq.sorted
    val touchedTo = (added ++ commonTouched).toSeq.sorted
    // row tracking (both manifests): each side carries the stable id,
    // the diff keys on it, and pairing becomes EXACT instead of
    // positional-within-key-group
    val rt = mf.rowTracking && mt.rowTracking
    def slice(m: VManifest, leaves: Seq[String]): DataFrame =
      if (leaves.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          if (rt) StructType(schema.fields :+
            StructField(RowIdCol, LongType)) else schema)
      else
        // a pre-evolution side lacks the later-added columns — aligning
        // to the range-end schema reads them as null on both sides, so
        // unchanged rows still cancel in the diff
        aligned(readView(spark, tableDir, m, onlyLeaves = Some(leaves),
          withRowIds = rt), m.colMap)
    val old = slice(mf, touchedFrom)
    val nw = slice(mt, touchedTo)
    // ONE-pass multiset diff: tag each side ±1, group by the full row,
    // keep nonzero signed counts, re-expand to |delta| change rows. The
    // naive two-exceptAll form scans BOTH slices twice and shuffles
    // them twice (it was the profile's #2 shuffle writer); this is one
    // scan of each side and one exchange — the same null-safe multiset
    // semantics (GROUP BY and exceptAll both treat NULL keys as equal),
    // half the bytes on the wire.
    val rowCols = schema.fieldNames.toIndexedSeq
    val diffKeys = if (rt) rowCols :+ RowIdCol else rowCols
    val diff = old.withColumn("__vt_side", lit(-1L))
      .unionByName(nw.withColumn("__vt_side", lit(1L)))
      .groupBy(diffKeys.map(col): _*)
      .agg(sum(col("__vt_side")).as("__vt_delta"))
      .filter(col("__vt_delta") =!= 0L)
      .withColumn("__vt_copy",
        explode(sequence(lit(1L), abs(col("__vt_delta")))))
      .withColumn("_change_type",
        when(col("__vt_delta") < 0, "delete").otherwise("insert"))
      .withColumn("_commit_version", lit(toV.toLong))
      .drop("__vt_delta", "__vt_copy")
    // Delta's four change types: when the commit RECORDED its pairing
    // key (update/merge kernels), removed×added rows join per key into
    // update_preimage/update_postimage pairs; unpaired rows keep their
    // exact delete/insert meaning (merge inserts, matched deletes).
    // Key names translate commit-logical → range-end-logical through
    // the frozen physical names, and pairing refuses silently (falls
    // back to delete+insert) if any key column no longer exists.
    if (rt)
      // id pairing supersedes the op-key record: ANY commit's
      // removed x added rows pair exactly where the id matches (an
      // unkeyed predicate UPDATE pairs too — positional pairing never
      // could), and pure carries cancel in the diff by id
      pairUpdatesById(diff, rowCols)
        .withColumnRenamed(RowIdCol, "_row_id")
    else mt.opKeys match {
      case Some((op, keys))
          if (op == "update" || op == "merge") && keys.nonEmpty =>
        val endByPhys = schema.fieldNames.toSeq
          .map(n => endColMap.getOrElse(n, n) -> n).toMap
        val endKeys = keys.flatMap(k =>
          endByPhys.get(mt.colMap.getOrElse(k, k)))
        if (endKeys.size != keys.size) diff
        else pairUpdates(diff, rowCols, endKeys)
      case _ => diff
    }
  }

  /** Pair one commit's delete×insert change rows on `keys` into
    * `update_preimage`/`update_postimage`. Within one key group the
    * i-th delete (ordered by the full row, for determinism) pairs with
    * the i-th insert; surplus rows on either side keep their original
    * change type. The join is keyed on the CHANGED rows only — O(delta),
    * never O(table) — and key equality is null-safe, so a NULL-keyed
    * update still pairs.
    */
  /** EXACT pairing for a row-tracked commit: the i-th delete pairs with
    * the insert carrying the SAME stable row id — no key heuristics, no
    * within-group ordering, correct under arbitrary multiplicity (the
    * case positional pairing can cross-pair). Ids are unique per side
    * within one commit's diff, so the join is 1:1; a null id (pre-
    * enable era) never pairs and keeps its exact delete/insert meaning.
    */
  private def pairUpdatesById(diff: DataFrame,
      rowCols: Seq[String]): DataFrame = {
    val pinned = diff.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cols = rowCols :+ RowIdCol :+ "_commit_version"
    def side(tag: String, kind: String) =
      pinned.filter(col("_change_type") === kind)
        .select(cols.map(c => col(c).as(s"$tag$c")): _*)
    val d = side("__vt_d_", "delete")
    val i = side("__vt_i_", "insert")
    val j = d.join(i,
      col(s"__vt_d_$RowIdCol") === col(s"__vt_i_$RowIdCol"), "full_outer")
    val dPresent = col("__vt_d__commit_version").isNotNull
    val iPresent = col("__vt_i__commit_version").isNotNull
    def emit(tag: String, changeType: Column) =
      ((rowCols :+ RowIdCol).map(c => col(s"$tag$c").as(c)) :+
        changeType.as("_change_type") :+
        col(s"${tag}_commit_version").as("_commit_version"))
    j.filter(dPresent).select(emit("__vt_d_",
        when(iPresent, "update_preimage").otherwise("delete")): _*)
      .unionByName(j.filter(iPresent).select(emit("__vt_i_",
        when(dPresent, "update_postimage").otherwise("insert")): _*))
  }

  private def pairUpdates(diff: DataFrame, rowCols: Seq[String],
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the diff plan (leaf scans + the grouped multiset diff) feeds FOUR
    // consumers below (two row_number sides, each union branch) — pin
    // its O(commit-delta) rows once instead of re-running the scans per
    // consumer. persist, NOT localCheckpoint: an eager localCheckpoint
    // ran one Spark job per keyed commit at plan-CONSTRUCTION time
    // (including inside the streaming source's getBatch) and its blocks
    // are non-recomputable — an executor loss mid-query failed the CDF
    // read. A lazy persist computes on first use, stays recomputable,
    // and still serves all four consumers from one materialization; the
    // O(delta) blocks are LRU-evicted under pressure.
    val pinned = diff.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(rowCols.map(col): _*)
    def side(tag: String, kind: String) =
      pinned.filter(col("_change_type") === kind)
        .withColumn("__vt_rn", row_number().over(w))
        .select((rowCols :+ "_commit_version" :+ "__vt_rn")
          .map(c => col(c).as(s"$tag$c")): _*)
    val d = side("__vt_d_", "delete")
    val i = side("__vt_i_", "insert")
    val cond = (keys.map(k =>
        col(s"__vt_d_$k") <=> col(s"__vt_i_$k")) :+
      (col("__vt_d___vt_rn") === col("__vt_i___vt_rn"))).reduce(_ && _)
    val j = d.join(i, cond, "full_outer")
    val dPresent = col("__vt_d___vt_rn").isNotNull
    val iPresent = col("__vt_i___vt_rn").isNotNull
    def emit(tag: String, changeType: Column) =
      (rowCols.map(c => col(s"$tag$c").as(c)) :+
        changeType.as("_change_type") :+
        col(s"${tag}_commit_version").as("_commit_version"))
    j.filter(dPresent).select(emit("__vt_d_",
        when(iPresent, "update_preimage").otherwise("delete")): _*)
      .unionByName(j.filter(iPresent).select(emit("__vt_i_",
        when(dPresent, "update_postimage").otherwise("insert")): _*))
  }

  /** Version history as a frame — the DESCRIBE HISTORY surface: one row
    * per retained version with its manifest-level footprint. Pure
    * driver-side metadata (manifest parses), no data scan; with
    * `includeRowCounts` each version additionally pays one vector-applied
    * count job (an audit tool, not a dashboard default).
    */
  def history(spark: SparkSession, tableDir: String,
      includeRowCounts: Boolean = false,
      includeSchema: Boolean = false): DataFrame = {
    import spark.implicits._
    // per-version audit counts are READ-ONLY over committed state —
    // independent across versions, overlapped (guide §2.6) instead of
    // one sequential count job per retained version
    val base = graft.core.Par.run(versions(spark, tableDir).map { v => () =>
      val m = readManifestFull(spark, tableDir, v)
      val rows =
        if (includeRowCounts) readView(spark, tableDir, m).count() else -1L
      // schema rendered as the ordered column list — what makes an
      // evolution commit visible in history (n_cols grows, schema string
      // gains the column)
      val schemaStr = decodeSchemaPairs(m.schema)
        .map { case (n, t) => s"$n:$t" }.mkString(",")
      (v, m.leaves.size.toLong, m.deletes.size.toLong, m.dirty.size.toLong,
        m.txns.size.toLong, rows, m.schema.size.toLong, schemaStr)
    }).toDF("version", "n_leaves", "n_delete_vectors", "n_dirty_leaves",
      "n_txns", "n_rows", "n_cols", "schema")
    if (includeSchema) base else base.drop("n_cols", "schema")
  }

  /** RESTORE as a manifest pointer flip (the public Delta RESTORE shape,
    * roll-FORWARD style): commit a new version whose manifest is a copy
    * of `toVersion`'s — no data moves, history stays linear (the
    * abandoned versions remain time-travelable until [[vacuum]]), and the
    * commit goes through the same CAS as every other mutation. This is
    * what makes "the prior version IS the backup" real for the deletion
    * workflow: restore costs one manifest write, not a table copy.
    */
  def rollback(spark: SparkSession, tableDir: String, toVersion: Int): Unit =
    withCommitRetry {
      val m = readManifestFull(spark, tableDir, toVersion)
      val v = latestVersion(spark, tableDir) + 1
      writeManifest(spark, tableDir, v, m)
    }

  /** PARTITION-SPEC EVOLUTION (the Iceberg capability Delta lacks): a
    * METADATA-ONLY commit switching the spec future writes partition
    * under. Existing leaves are untouched and stay readable — they keep
    * their old `<col>__p=` dir names, which is what makes them
    * recognizable as old-spec ([[leafPartCol]]): same-spec leaves keep
    * value pruning, old-spec leaves are handled by a scan restricted to
    * exactly them ([[leavesContaining]]) and migrate to the current spec
    * whenever a delete/merge rewrites them, or wholesale via [[compact]].
    * The new spec column must exist in the table schema (when recorded)
    * — evolving to a column reads could not produce is refused loudly.
    */
  def evolvePartitionSpec(spark: SparkSession, tableDir: String,
      newPartCol: String): Unit = withCommitRetry {
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    val cols = specOf(newPartCol)
    if (m.schema.nonEmpty) {
      val names = decodeSchemaPairs(m.schema).map(_._1).toSet
      cols.foreach(c => require(names.contains(c),
        s"cannot evolve partition spec to '$c': not a table column"))
    }
    writeManifest(spark, tableDir, v, m.copy(partcol = cols))
  }

  /** ALTER TABLE ADD COLUMNS as a METADATA-ONLY evolution commit: the
    * manifest schema widens with the new nullable columns, every leaf
    * carries by reference, and reads project old leaves through the
    * widened schema so pre-evolution rows fill the new columns with
    * nulls — the same contract append-evolution establishes
    * ([[resolveAppendSchema]]), without requiring a data batch. The
    * next append may then carry the column. A legacy manifest (no
    * recorded schema) first pins the inferred schema it widens — the
    * read path needs a recorded schema to null-fill against.
    */
  def addColumns(spark: SparkSession, tableDir: String,
      newCols: Seq[(String, DataType)],
      defaults: Map[String, String] = Map.empty): Unit = withCommitRetry {
    require(newCols.nonEmpty, "ADD COLUMNS needs at least one column")
    require(newCols.map(_._1).distinct.size == newCols.size,
      s"duplicate column names in ${newCols.map(_._1)}")
    // DEFAULTs are FROZEN CONSTANTS, validated here: foldable (a
    // current_date()-style default would read differently per scan —
    // refused loudly), castable to the column's type, re-serialized
    // from the evaluated literal so the stored SQL is engine-canonical.
    // The frozen constant serves BOTH standard roles: existing rows
    // (files without the column) read it via the readers'
    // EXISTS_DEFAULT fill, and INSERTs that omit the column take it via
    // the analyzer's CURRENT_DEFAULT resolution.
    val newTypes = newCols.toMap
    val storedDefault: Map[String, String] = defaults.map {
      case (n, sqlText) =>
        val dt = newTypes.getOrElse(n, throw new IllegalArgumentException(
          s"DEFAULT declared for '$n', which is not being added"))
        val parsed = spark.sessionState.sqlParser.parseExpression(sqlText)
        if (!parsed.foldable) throw new UnsupportedOperationException(
          s"ADD COLUMNS DEFAULT must be a foldable constant — " +
            s"'$sqlText' for '$n' is not (a non-constant default would " +
            "read differently per scan); compute the value and declare " +
            "it literally")
        val value = org.apache.spark.sql.catalyst.expressions.Cast(
          parsed, dt,
          Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
        require(value != null,
          s"DEFAULT '$sqlText' for '$n' does not cast to ${dt.sql}")
        n -> org.apache.spark.sql.catalyst.expressions
          .Literal(value, dt).sql
    }
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    val table: Seq[(String, String)] =
      if (m.schema.nonEmpty) decodeSchemaPairs(m.schema)
      else {
        require(m.leaves.nonEmpty,
          s"table $tableDir has no recorded schema and no data to infer " +
            "it from — ADD COLUMNS needs one or the other")
        readLeaves(spark, tableDir, m.leaves.take(1), None, m.fmt)
          .schema.fields.toSeq
          .map(f => (f.name, f.dataType.catalogString))
      }
    val existing = table.map(_._1).toSet
    newCols.foreach { case (n, _) => require(!existing.contains(n),
      s"column '$n' already exists at $tableDir") }
    val physOf =
      if (m.schema.nonEmpty) m.physSegs else Map.empty[String, String]
    // physical names are frozen at column birth as the birth LOGICAL
    // name; after RENAME a→b (physical stays 'a'), 'a' is free as a
    // logical name but NOT as a storage name — ADD COLUMNS (a T) would
    // put two columns under physical 'a' (duplicate physSchema fields,
    // and predicates on the new column would consult the RENAMED
    // column's sidecar stats/bloom: silent wrong data skipping)
    newCols.foreach { case (n, _) =>
      val clash = physOf.collectFirst {
        case (log, seg) if parsePhysSeg(seg)._1.contains(n) => log
      }
      clash.foreach(log => throw new IllegalArgumentException(
        s"cannot add column '$n': it collides with the frozen PHYSICAL " +
          s"name of renamed column '$log' (leaves store '$log' under " +
          s"'$n'); pick another name"))
    }
    val defaultOf =
      if (m.schema.nonEmpty) m.colDefaults else Map.empty[String, String]
    val widened = (table ++ newCols.map { case (n, dt) =>
      (n, dt.catalogString)
    }).map { case (n, t) => encodeSchemaEntry(n, t, physOf.get(n),
      defaultOf.get(n).orElse(storedDefault.get(n))) }
    writeManifest(spark, tableDir, v, m.copy(schema = widened))
  }

  /** Lossless type WIDENINGS `ALTER COLUMN … TYPE` accepts: integral
    * upcasts, float→double, and sub-long integrals→double (a double
    * holds every int exactly; long→double would silently lose
    * precision and refuses). Both parquet and ORC vectorized readers
    * promote these at scan time, which is what makes the commit
    * metadata-only — old leaves read through the widened schema with
    * no rewrite.
    */
  private def isWidening(from: DataType, to: DataType): Boolean = {
    val rank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (rank.contains(from) && rank.contains(to) && rank(to) > rank(from)) ||
      (from == FloatType && to == DoubleType) ||
      (rank.get(from).exists(_ <= 3) && to == DoubleType)
  }

  /** ALTER COLUMN TYPE — a metadata-only WIDENING commit (the Delta
    * type-widening feature): the manifest schema records the wider
    * type, every leaf carries by reference, and scans read old leaves
    * through the vectorized readers' type promotion (int32→int64,
    * float→double — verified for both parquet and ORC). Prior versions
    * keep their own type via time travel. Writes after the commit carry
    * the WIDE type (the append contract's exact-type check — widen
    * first, then write wide). Refusals by name: narrowings and lossy
    * changes (only [[isWidening]] shapes pass), partition-spec columns,
    * unknown columns, legacy manifests.
    */
  def widenColumnType(spark: SparkSession, tableDir: String,
      colName: String, newType: DataType): Unit = withCommitRetry {
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    require(m.schema.nonEmpty,
      s"table $tableDir has no recorded schema (legacy manifest) — " +
        "ALTER COLUMN TYPE needs one; run any append to record it")
    val table = decodeSchemaEntries(m.schema)
    val cur = table.find(_._1 == colName).getOrElse(
      throw new IllegalArgumentException(
        s"cannot alter missing column '$colName' — table columns are " +
          table.map(_._1).mkString(", ")))
    val curDt = DataType.fromDDL(cur._2)
    if (specSourceCols(m.specCols).contains(colName))
      throw new UnsupportedOperationException(
        s"cannot alter the type of partition column '$colName' — the " +
          "table's layout is keyed on it; evolve the spec first " +
          "(evolvePartitionSpec)")
    if (!isWidening(curDt, newType))
      throw new UnsupportedOperationException(
        s"ALTER COLUMN TYPE supports only LOSSLESS widenings (integral " +
          s"upcasts, float→double, byte/short/int→double) — " +
          s"'$colName' ${curDt.sql} → ${newType.sql} is not one; a " +
          "narrowing or lossy change needs an explicit rewrite " +
          "(compact with the new schema)")
    val widened = table.map {
      // a declared default keeps its SQL text — the wider type reads
      // the same constant
      case (n, _, p, d) if n == colName =>
        encodeSchemaEntry(n, newType.catalogString, p, d)
      case (n, t, p, d) => encodeSchemaEntry(n, t, p, d)
    }
    writeManifest(spark, tableDir, v, m.copy(schema = widened))
  }

  /** RENAME COLUMN — a metadata-only commit through the schema entry's
    * column mapping: the HEAD (and every later version) reads the new
    * name, every PRIOR version's manifest still records the old one so
    * time travel keeps reading it, and no leaf is touched — the
    * physical column name (frozen at column birth) is recorded in the
    * renamed entry's third segment, readers translate at the file/stats
    * boundary and writers map back before files land, so filter
    * pushdown and stats skipping on the renamed column survive intact.
    *
    * Refusals, each naming itself: partition-spec columns (the layout
    * dirs are keyed on the name), columns referenced by a CHECK
    * constraint (the recorded expression text would silently break),
    * unknown columns, name collisions, and legacy manifests with no
    * recorded schema.
    */
  def renameColumn(spark: SparkSession, tableDir: String,
      oldName: String, newName: String): Unit = withCommitRetry {
    require(oldName != newName,
      s"RENAME COLUMN to the same name '$oldName' is a no-op — refused")
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    require(m.schema.nonEmpty,
      s"table $tableDir has no recorded schema (legacy manifest) — " +
        "RENAME COLUMN needs one; run any append to record it")
    val table = decodeSchemaEntries(m.schema)
    val names = table.map(_._1).toSet
    require(names.contains(oldName),
      s"cannot rename missing column '$oldName' — table columns are " +
        table.map(_._1).mkString(", "))
    require(!names.contains(newName),
      s"cannot rename '$oldName' to '$newName': a column of that name " +
        "already exists")
    // same physical-name freeze as addColumns: newName may equal
    // oldName's OWN frozen physical (renaming back to the birth name is
    // fine) but not another renamed column's physical name — leaves
    // would hold two columns under one storage name
    m.physSegs.collectFirst {
      case (log, seg)
          if parsePhysSeg(seg)._1.contains(newName) && log != oldName =>
        log
    }.foreach(log => throw new IllegalArgumentException(
      s"cannot rename '$oldName' to '$newName': it collides with the " +
        s"frozen PHYSICAL name of renamed column '$log'; pick another " +
        "name"))
    require(physSegSafe(newName),
      s"cannot rename to '$newName': names containing any of " +
        "/ = , . ` are outside the column-mapping contract")
    // a dotted OLD name would put a dotted LOGICAL key into the column
    // map — indistinguishable from a nested-field path
    require(physSegSafe(oldName),
      s"cannot rename column '$oldName': its name contains a column-" +
        "mapping separator (/ = , . `); rewrite through compact() with " +
        "a clean schema instead")
    if (specSourceCols(m.specCols).contains(oldName))
      throw new UnsupportedOperationException(
        s"cannot rename partition column '$oldName' — the table's " +
          "layout is keyed on it; evolve the spec first " +
          "(evolvePartitionSpec)")
    m.constraintPairs.foreach { case (n, sql) =>
      val refs = spark.sessionState.sqlParser.parseExpression(sql)
        .collect { case a: UnresolvedAttribute => a.name }
      if (refs.contains(oldName))
        throw new UnsupportedOperationException(
          s"cannot rename column '$oldName' — CHECK constraint '$n' " +
            s"($sql) references it; DROP CONSTRAINT first")
    }
    val renamed = table.map {
      case (n, t, phys, d) if n == oldName =>
        // composite-aware: the nested part (if any) rides untouched;
        // the TOP part becomes the frozen physical (birth) name, and
        // drops entirely on a rename BACK to it
        val (ptop, pnested) = phys.map(parsePhysSeg).getOrElse((None, Nil))
        val top = Some(ptop.getOrElse(oldName)).filter(_ != newName)
        encodeSchemaEntry(newName, t, buildPhysSeg(top, pnested), d)
      case (n, t, phys, d) => encodeSchemaEntry(n, t, phys, d)
    }
    writeManifest(spark, tableDir, v, m.copy(schema = renamed))
  }

  /** DROP COLUMN — the schema-level complement of the takedown story:
    * a metadata-only NARROWING commit (the column-mapping idea at this
    * manifest's granularity — the recorded schema IS the mapping, and
    * reads project exactly it). Leaves carry by reference; the head and
    * every later version read WITHOUT the column, while every PRIOR
    * version's manifest still records it — time travel keeps reading
    * the full history (history is the product; [[vacuum]] is how it
    * erases). The BYTES remain in carried leaves until the next rewrite
    * ([[compact]]/[[optimizeZOrderCols]] fold the current — narrowed —
    * view, physically retiring the column); for governance-grade
    * erasure run a compact + vacuum after the drop.
    *
    * Refusals, each naming itself: partition-spec columns (the layout
    * is keyed on them), columns referenced by a CHECK constraint (drop
    * the constraint first — silently breaking its expression would be
    * worse), unknown columns (unless `ifExists`), and dropping the
    * whole schema.
    */
  def dropColumns(spark: SparkSession, tableDir: String,
      cols: Seq[String], ifExists: Boolean = false): Unit =
    withCommitRetry {
      require(cols.nonEmpty, "DROP COLUMN needs at least one column")
      val v = latestVersion(spark, tableDir) + 1
      val m = readManifestFull(spark, tableDir, v - 1)
      require(m.schema.nonEmpty,
        s"table $tableDir has no recorded schema (legacy manifest) — " +
          "DROP COLUMN needs one; run any append to record it")
      val table = decodeSchemaEntries(m.schema)
      val names = table.map(_._1).toSet
      val missing = cols.filterNot(names.contains)
      if (!ifExists) require(missing.isEmpty,
        s"cannot drop missing column(s) ${missing.mkString(", ")} — " +
          s"table columns are ${table.map(_._1).mkString(", ")}")
      val dropping = cols.filter(names.contains).toSet
      if (dropping.nonEmpty) {
        specSourceCols(m.specCols).filter(dropping.contains).foreach(c => throw
          new UnsupportedOperationException(
            s"cannot drop partition column '$c' — the table's layout " +
              "is keyed on it; evolve the spec first " +
              "(evolvePartitionSpec)"))
        m.constraintPairs.foreach { case (n, sql) =>
          val refs = spark.sessionState.sqlParser.parseExpression(sql)
            .collect { case a: UnresolvedAttribute => a.name }
          refs.filter(dropping.contains).foreach(c => throw
            new UnsupportedOperationException(
              s"cannot drop column '$c' — CHECK constraint '$n' " +
                s"($sql) references it; DROP CONSTRAINT first"))
        }
        val narrowed = table.filterNot(t => dropping.contains(t._1))
        require(narrowed.nonEmpty, "cannot drop every column")
        writeManifest(spark, tableDir, v, m.copy(schema =
          narrowed.map { case (n, t, p, d) => encodeSchemaEntry(n, t, p, d) }))
      }
    }

  // ---- nested (struct-field) schema evolution -----------------------
  //
  // The same metadata-only contract as the top-level commits, one tree
  // level down: the manifest entry's TYPE string carries the logical
  // struct shape, the phys segment's composite carries nested renames,
  // and the parquet/ORC readers' by-name struct clipping does the rest
  // (an added field reads null from pre-evolution leaves, a dropped one
  // is simply not requested, a renamed one is requested under its
  // frozen physical field name via [[SnapshotConnector.physSchema]]'s
  // recursion). Descents are through STRUCTS only — a path through an
  // array/map element refuses by name (those would need per-element
  // rewrites the carry-by-reference contract cannot do).

  /** Descend `rel` struct fields inside `dt` and rewrite the struct at
    * the end with `f`; refuses non-struct intermediates.
    */
  private def rewriteStructAt(dt: DataType, rel: Seq[String],
      path: String)(f: StructType => StructType): DataType = dt match {
    case st: StructType =>
      if (rel.isEmpty) f(st)
      else {
        val head = rel.head
        require(st.fieldNames.contains(head),
          s"nested path '$path': no field '$head' in " +
            s"struct<${st.fieldNames.mkString(",")}>")
        StructType(st.fields.map { fd =>
          if (fd.name == head)
            fd.copy(dataType = rewriteStructAt(fd.dataType, rel.tail,
              path)(f))
          else fd
        })
      }
    case other => throw new UnsupportedOperationException(
      s"nested path '$path' descends through " +
        s"${other.catalogString} — only struct fields evolve " +
        "(array/map elements would need a per-element rewrite)")
  }

  /** Shared preamble for the nested commits: the head manifest, the
    * target entry, and guards (recorded schema, safe segment names, not
    * a partition column).
    */
  private def nestedEvolutionTarget(spark: SparkSession, tableDir: String,
      path: Seq[String], op: String)
      : (Int, VManifest, Seq[(String, String, Option[String], Option[String])]) = {
    require(path.length >= 2, s"$op needs a nested path (col.field…)")
    path.foreach(seg => require(physSegSafe(seg),
      s"$op: path segment '$seg' contains a column-mapping separator " +
        "(/ = , . `) — outside the nested-evolution contract"))
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    require(m.schema.nonEmpty,
      s"table $tableDir has no recorded schema (legacy manifest) — " +
        s"$op needs one; run any append to record it")
    val table = decodeSchemaEntries(m.schema)
    require(table.exists(_._1 == path.head),
      s"$op: no column '${path.head}' — table columns are " +
        table.map(_._1).mkString(", "))
    if (specSourceCols(m.specCols).contains(path.head))
      throw new UnsupportedOperationException(
        s"$op: '${path.head}' is a partition column — the table's " +
          "layout is keyed on its rendered value")
    (v, m, table)
  }

  private def constraintRefGuard(spark: SparkSession, m: VManifest,
      fullPath: String, op: String): Unit =
    m.constraintPairs.foreach { case (cn, sql) =>
      val refs = spark.sessionState.sqlParser.parseExpression(sql)
        .collect { case a: UnresolvedAttribute => a.name }
      if (refs.exists(r => r == fullPath || r.startsWith(fullPath + ".")))
        throw new UnsupportedOperationException(
          s"$op: CHECK constraint '$cn' ($sql) references '$fullPath'; " +
            "DROP CONSTRAINT first")
    }

  /** ADD a nested struct field (`ALTER TABLE … ADD COLUMNS (s.c T)`):
    * metadata-only — the field appends at the END of its struct, and
    * every pre-evolution leaf reads it as null through the readers'
    * by-name struct clipping. Nullable, no DEFAULT (a nested default
    * has no EXISTS_DEFAULT channel in the readers — refuse loudly
    * rather than fill inconsistently).
    */
  def addNestedField(spark: SparkSession, tableDir: String,
      path: Seq[String], dt: DataType): Unit = withCommitRetry {
    val (v, m, table) =
      nestedEvolutionTarget(spark, tableDir, path, "ADD nested COLUMN")
    val full = path.mkString(".")
    val field = path.last
    val parentRel = path.drop(1).dropRight(1)
    // the new field's physical name is its birth name — refuse if a
    // SIBLING's frozen physical field name already claims it (same
    // silent-wrong-skipping hazard as the top-level check)
    val (_, nested) = m.physSegs.get(path.head).map(parsePhysSeg)
      .getOrElse((None, Seq.empty[(String, String)]))
    val parentRelStr = parentRel.mkString(".")
    nested.foreach { case (rel, phys) =>
      val relParent = rel.lastIndexOf('.') match {
        case -1 => ""
        case i => rel.substring(0, i)
      }
      if (relParent == parentRelStr && phys == field)
        throw new IllegalArgumentException(
          s"cannot add nested field '$full': it collides with the " +
            s"frozen PHYSICAL name of renamed field '${path.head}.$rel'" +
            "; pick another name")
    }
    val rewritten = table.map {
      case (n, t, p, d) if n == path.head =>
        val nt = rewriteStructAt(DataType.fromDDL(t), parentRel, full) {
          st =>
            require(!st.fieldNames.contains(field),
              s"nested field '$full' already exists")
            StructType(st.fields :+ StructField(field, dt, nullable = true))
        }
        encodeSchemaEntry(n, nt.catalogString, p, d)
      case (n, t, p, d) => encodeSchemaEntry(n, t, p, d)
    }
    writeManifest(spark, tableDir, v, m.copy(schema = rewritten))
  }

  /** DROP a nested struct field — the metadata-only narrowing commit at
    * struct granularity: head reads without the field (the readers
    * never request it), prior versions keep it via time travel, bytes
    * remain in carried leaves until the next rewrite.
    */
  def dropNestedField(spark: SparkSession, tableDir: String,
      path: Seq[String]): Unit = withCommitRetry {
    val (v, m, table) =
      nestedEvolutionTarget(spark, tableDir, path, "DROP nested COLUMN")
    val full = path.mkString(".")
    val field = path.last
    val parentRel = path.drop(1).dropRight(1)
    constraintRefGuard(spark, m, full, "DROP nested COLUMN")
    val relPath = path.drop(1).mkString(".")
    val rewritten = table.map {
      case (n, t, p, d) if n == path.head =>
        val nt = rewriteStructAt(DataType.fromDDL(t), parentRel, full) {
          st =>
            require(st.fieldNames.contains(field),
              s"no nested field '$full' — struct fields are " +
                st.fieldNames.mkString(", "))
            require(st.fields.length > 1,
              s"cannot drop '$full': it is the struct's only field — " +
                "drop the whole column instead")
            StructType(st.fields.filterNot(_.name == field))
        }
        // recorded nested mappings under the dropped field go with it
        val (top, nm) = p.map(parsePhysSeg).getOrElse((None, Nil))
        val kept = nm.filterNot(e =>
          e._1 == relPath || e._1.startsWith(relPath + "."))
        encodeSchemaEntry(n, nt.catalogString, buildPhysSeg(top, kept), d)
      case (n, t, p, d) => encodeSchemaEntry(n, t, p, d)
    }
    writeManifest(spark, tableDir, v, m.copy(schema = rewritten))
  }

  /** WIDEN a nested struct field's type — [[widenColumnType]] one tree
    * level down: the same LOSSLESS widenings ([[isWidening]]), the same
    * metadata-only contract (old leaves read the narrow field through
    * the vectorized readers' nested type promotion; prior versions keep
    * their own type via time travel).
    */
  def widenNestedFieldType(spark: SparkSession, tableDir: String,
      path: Seq[String], newType: DataType): Unit = withCommitRetry {
    val (v, m, table) = nestedEvolutionTarget(spark, tableDir, path,
      "ALTER nested COLUMN TYPE")
    val full = path.mkString(".")
    val field = path.last
    val parentRel = path.drop(1).dropRight(1)
    val rewritten = table.map {
      case (n, t, p, d) if n == path.head =>
        val nt = rewriteStructAt(DataType.fromDDL(t), parentRel, full) {
          st =>
            val idx = st.fieldNames.indexOf(field)
            require(idx >= 0,
              s"no nested field '$full' — struct fields are " +
                st.fieldNames.mkString(", "))
            val cur = st.fields(idx).dataType
            if (!isWidening(cur, newType))
              throw new UnsupportedOperationException(
                s"ALTER nested COLUMN TYPE supports only LOSSLESS " +
                  s"widenings (integral upcasts, float→double, " +
                  s"byte/short/int→double) — '$full' is " +
                  s"${cur.catalogString}, requested " +
                  newType.catalogString)
            StructType(st.fields.map(fd =>
              if (fd.name == field) fd.copy(dataType = newType) else fd))
        }
        encodeSchemaEntry(n, nt.catalogString, p, d)
      case (n, t, p, d) => encodeSchemaEntry(n, t, p, d)
    }
    writeManifest(spark, tableDir, v, m.copy(schema = rewritten))
  }

  /** RENAME a nested struct field — the column-mapping commit one tree
    * level down: the TYPE records the new logical field name, the phys
    * composite records the frozen physical (birth) field name, and
    * reads request the physical name via [[SnapshotConnector.physSchema]]'s
    * recursion (both leaf eras stay uniform; writes map back through
    * [[toPhysical]]'s struct cast).
    */
  def renameNestedField(spark: SparkSession, tableDir: String,
      path: Seq[String], newName: String): Unit = withCommitRetry {
    val (v, m, table) =
      nestedEvolutionTarget(spark, tableDir, path, "RENAME nested COLUMN")
    val full = path.mkString(".")
    val field = path.last
    require(field != newName,
      s"RENAME nested COLUMN to the same name '$full' is a no-op — " +
        "refused")
    require(physSegSafe(newName),
      s"cannot rename to '$newName': names containing any of / = , . ` " +
        "are outside the column-mapping contract")
    val parentRel = path.drop(1).dropRight(1)
    val parentRelStr = parentRel.mkString(".")
    val relPath = path.drop(1).mkString(".")
    val newRel = (parentRel :+ newName).mkString(".")
    constraintRefGuard(spark, m, full, "RENAME nested COLUMN")
    val rewritten = table.map {
      case (n, t, p, d) if n == path.head =>
        val (top, nm) = p.map(parsePhysSeg).getOrElse((None, Nil))
        def physLeafOf(rel: String, logical: String): String =
          nm.find(_._1 == rel).map(_._2).getOrElse(logical)
        val ownPhys = physLeafOf(relPath, field)
        val nt = rewriteStructAt(DataType.fromDDL(t), parentRel, full) {
          st =>
            require(st.fieldNames.contains(field),
              s"no nested field '$full' — struct fields are " +
                st.fieldNames.mkString(", "))
            require(!st.fieldNames.contains(newName),
              s"cannot rename '$full' to '$newName': a field of that " +
                "name already exists")
            // sibling frozen-physical collision (rename BACK to the
            // field's own birth name stays allowed)
            st.fieldNames.filterNot(_ == field).foreach { sib =>
              val sibRel =
                if (parentRelStr.isEmpty) sib else parentRelStr + "." + sib
              if (physLeafOf(sibRel, sib) == newName)
                throw new IllegalArgumentException(
                  s"cannot rename '$full' to '$newName': it collides " +
                    "with the frozen PHYSICAL name of sibling field " +
                    s"'$sib'; pick another name")
            }
            StructType(st.fields.map(fd =>
              if (fd.name == field) fd.copy(name = newName) else fd))
        }
        // composite update: the renamed field's entry re-keys to the
        // new logical rel path (dropped on a rename back to its birth
        // name); DESCENDANT rel paths re-key under the new segment
        val rekeyed = nm.flatMap {
          case (r, ph) if r == relPath => None
          case (r, ph) if r.startsWith(relPath + ".") =>
            Some((newRel + r.substring(relPath.length), ph))
          case e => Some(e)
        }
        val withSelf =
          if (ownPhys == newName) rekeyed
          else rekeyed :+ (newRel -> ownPhys)
        encodeSchemaEntry(n, nt.catalogString,
          buildPhysSeg(top, withSelf), d)
      case (n, t, p, d) => encodeSchemaEntry(n, t, p, d)
    }
    writeManifest(spark, tableDir, v, m.copy(schema = rewritten))
  }

  /** ADD CONSTRAINT — record a named CHECK constraint (a boolean SQL
    * expression over table columns) as a metadata-only commit, after
    * verifying the current HEAD data already satisfies it (the Delta
    * `ALTER TABLE ADD CONSTRAINT` contract: existing violations refuse
    * the constraint, they are not grandfathered in). From this version
    * on, every data-adding write (append / appendOnce / overwrite /
    * merge) validates its batch in one aggregate pass and refuses with
    * a per-constraint violation count. Enforcement is SQL-standard:
    * a row violates only when the expression is definite FALSE, so
    * NOT NULL is spelled `col IS NOT NULL`. Constraint entries ride the
    * manifest like the schema does (URL-encoded `name:expr`), so they
    * survive delete/compact/zorder/spec-evolution/clone/rollback and
    * time travel reads see the constraint set of their version.
    */
  def addCheckConstraint(spark: SparkSession, tableDir: String,
      name: String, check: String): Unit = withCommitRetry {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+: '$name'")
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    require(!m.constraintPairs.exists(_._1 == name),
      s"constraint '$name' already exists at $tableDir")
    val head = readView(spark, tableDir, m)
    // resolves the expression against the table schema (loud analysis
    // error on an unknown column) and pins its type to boolean
    require(head.select(expr(check)).schema.head.dataType == BooleanType,
      s"CHECK expression is not boolean: $check")
    val entry = urlEncode(name) + ":" + urlEncode(check)
    requireConstraints(head,
      VManifest(Nil, Nil, Nil, constraints = Seq(entry)),
      s"ADD CONSTRAINT '$name' (existing rows already violate it)")
    writeManifest(spark, tableDir, v,
      m.copy(constraints = m.constraints :+ entry))
  }

  /** DROP CONSTRAINT — metadata-only commit removing a named CHECK
    * constraint; refuses an unknown name loudly.
    */
  def dropCheckConstraint(spark: SparkSession, tableDir: String,
      name: String): Unit = withCommitRetry {
    val v = latestVersion(spark, tableDir) + 1
    val m = readManifestFull(spark, tableDir, v - 1)
    require(m.constraintPairs.exists(_._1 == name),
      s"no constraint '$name' at $tableDir")
    val kept = m.constraints.filterNot(e =>
      decodeSchemaPairs(Seq(e)).head._1 == name)
    writeManifest(spark, tableDir, v, m.copy(constraints = kept))
  }

  /** The head manifest's recorded partition spec (the comma-joined
    * public form every mutator takes); None on legacy manifests — the
    * public seam maintenance surfaces resolve their spec through, so a
    * statement never re-declares (and possibly contradicts) the spec
    * its table commits under.
    */
  def recordedSpec(spark: SparkSession, tableDir: String): Option[String] =
    readHead(spark, tableDir).specOpt

  /** The head's live leaf dirs, relative to the table dir — the ops
    * probe [[binpack]]'s by-reference guarantees are asserted against.
    */
  def liveLeaves(spark: SparkSession, tableDir: String): Seq[String] =
    readHead(spark, tableDir).leaves

  /** The head's distinct partition VALUE TUPLES (current spec order) —
    * the SHOW PARTITIONS answer. Same-spec leaves answer from the
    * manifest alone (driver metadata, zero listings); leaves written
    * under an EARLIER spec have no current-spec dir value, so exactly
    * they are resolved by a scan restricted to those leaves — the
    * delete kernel's spec-evolution cost model. Like Hive's SHOW
    * PARTITIONS, presence is METADATA presence: a leaf whose rows are
    * all vector-deleted still lists until compaction retires it.
    */
  def partitionTuples(spark: SparkSession, tableDir: String)
      : Seq[Seq[String]] = {
    val m = readHead(spark, tableDir)
    val cols = m.specCols
    require(cols.nonEmpty,
      s"table $tableDir has no recorded partition spec (legacy manifest)")
    val (sameSpec, foreign) =
      m.leaves.partition(l => leafPartPairs(l).map(_._1) == specDirNames(cols))
    val metaTuples = sameSpec.map(l => leafPartPairs(l).map(_._2))
    val scanned =
      if (foreign.isEmpty) Set.empty[Seq[String]]
      else specTuples(cols,
        Seq(readView(spark, tableDir, m, onlyLeaves = Some(foreign))))
    (metaTuples ++ scanned).distinct.sortBy(_.mkString("\u0000"))
  }

  /** The head's (name, check-expression) constraint pairs. */
  def checkConstraints(spark: SparkSession, tableDir: String)
      : Seq[(String, String)] =
    readHead(spark, tableDir)
      .constraintPairs

  /** Split a batch by the table's HEAD constraints: (clean rows, labeled
    * violators). The violator frame carries `violated_constraint` — the
    * FIRST failed constraint in declaration order. With no constraints,
    * everything is clean and the violator frame is empty (schema still
    * carries the label column). One projection, no action.
    */
  def splitByConstraints(df: DataFrame, tableDir: String)
      : (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val cs = checkConstraints(spark, tableDir)
    if (cs.isEmpty)
      (df, df.limit(0).withColumn("violated_constraint", lit("")))
    else {
      val reason = coalesce(cs.map { case (n, e) =>
        when(!expr(e), lit(n))
      }: _*)
      val marked = df.withColumn("__graft_viol", reason)
      (marked.filter(col("__graft_viol").isNull).drop("__graft_viol"),
        marked.filter(col("__graft_viol").isNotNull)
          .withColumnRenamed("__graft_viol", "violated_constraint"))
    }
  }

  /** QUARANTINE-ROUTING APPEND — the dead-letter ingestion pattern over
    * CHECK constraints: rows satisfying every constraint append
    * normally; violating rows are routed to a SEPARATE versioned
    * quarantine table (same partition spec) with a `violated_constraint`
    * column naming the FIRST failed constraint in declaration order —
    * so one bad row cannot refuse a whole batch, and nothing is ever
    * silently dropped: every input row lands in exactly one of the two
    * tables. Returns (appended, quarantined).
    *
    * One projection pass computes the routing reason; both legs are
    * ordinary optimistic appends (the clean leg re-validates by
    * construction-clean rows — the paranoid double-check is one
    * aggregate over the batch). At 100 TB the quarantine table is the
    * triage queue: id-partitioned like its source, vacuumable,
    * re-ingestable after repair through this same call.
    */
  def appendQuarantine(df: DataFrame, tableDir: String, partCol: String,
      quarantineDir: String): (Long, Long) = {
    val spark = df.sparkSession
    val m = readHead(spark, tableDir)
    val cs = m.constraintPairs
    if (cs.isEmpty) {
      val n = df.count()
      append(df, tableDir, partCol)
      return (n, 0L)
    }
    // first violated constraint name, in declaration order; null = clean
    val reason = coalesce(cs.map { case (n, e) =>
      when(!expr(e), lit(n))
    }: _*)
    val marked = graft.core.Materialize.once(df.withColumn("__graft_viol", reason))
    val good = marked.filter(col("__graft_viol").isNull).drop("__graft_viol")
    val bad = marked.filter(col("__graft_viol").isNotNull)
      .withColumnRenamed("__graft_viol", "violated_constraint")
    // ONE aggregate over the checkpointed batch answers both counts
    // (total, violators) — the two separate count jobs paid two
    // sequential job round-trips for one pass's information
    val counts = marked.agg(count(lit(1)).cast("long"),
      count(col("__graft_viol")).cast("long")).collect().head
    val (nTotal, nBad) = (counts.getLong(0), counts.getLong(1))
    val nGood = nTotal - nBad
    // the two legs append to DISJOINT tables — independent commits,
    // overlapped (guide §2.6): the quarantine write back-fills the tail
    // of the clean append instead of queueing behind it
    graft.core.Par.run2(
      if (nGood > 0) append(good, tableDir, partCol) else (),
      if (nBad > 0) {
        if (versions(spark, quarantineDir).isEmpty)
          create(bad, quarantineDir, partCol)
        else append(bad, quarantineDir, partCol)
      } else ())
    (nGood, nBad)
  }

  /** Dry-run probe: per-constraint violation counts a batch WOULD incur
    * against the head's constraint set, without writing anything — the
    * pre-flight an ingestion pipeline runs to route bad rows to a
    * quarantine sink instead of failing the whole batch.
    */
  def constraintViolations(df: DataFrame, tableDir: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = readHead(spark, tableDir)
    constraintViolationCounts(df, m)
      .map { case (n, e, c) => (n, e, c) }
      .toDF("constraint", "check_expr", "violations")
  }

  /** What one maintenance fold did: head leaves folded (read through
    * their delete vectors and rewritten), leaves the rewrite wrote, and
    * head leaves carried into the new version by reference. A fold that
    * selects nothing commits nothing and leaves every head leaf in place.
    */
  private[sources] final case class Fold(folded: Int, written: Int,
      carried: Int)

  /** The maintenance fold kernel (the public Delta OPTIMIZE shape):
    * [[compact]], [[convertFormat]], [[binpack]] (with [[maintain]]'s
    * fold) and [[optimizeZOrderCols]] differ only in the leaves `select`
    * picks from the head. One commit, under [[withCommitRetry]] — a lost
    * CAS re-selects against the new head:
    *   - the chosen leaves' vector-applied view (row ids kept on a
    *     tracked table) is rewritten as one fresh data dir, one leaf per
    *     value tuple again, laid out by `cluster` when given;
    *   - every other leaf carries BY REFERENCE, byte-untouched; `dirty`
    *     keeps exactly the carried dirty leaves, whose vectors stay live,
    *     and the delete dirs leave the manifest once no dirty leaf is
    *     carried (every vector folded in);
    *   - `toFormat` replaces the format head only, so feature markers
    *     (row tracking) stay; a legacy manifest gains its schema.
    * An empty selection commits nothing. Prior versions keep reading
    * their own leaves until [[vacuum]]. Callers hold the store `_LOCK`.
    */
  private def foldCommit(spark: SparkSession, tableDir: String,
      partCol: String, what: String, toFormat: Option[String] = None,
      cluster: Option[(VManifest, DataFrame) => Clustering] = None)(
      select: VManifest => Seq[String]): Fold =
    withCommitRetry {
      val v = latestVersion(spark, tableDir) + 1
      val m = readManifestFull(spark, tableDir, v - 1)
      val cols = specOf(partCol)
      requireSpec(m, cols, what)
      val fold = select(m)
      if (fold.isEmpty) Fold(0, 0, m.leaves.size)
      else {
        val kept = m.leaves.filterNot(fold.toSet)
        val keptDirty = m.dirty.filter(kept.contains)
        val next = m.copy(partcol = cols,
          format = toFormat.fold(m.format)(_ +: m.format.drop(1)))
        val folded = readView(spark, tableDir, m, onlyLeaves = Some(fold),
          withRowIds = m.rowTracking)
        val written = writeDataDirCols(folded, tableDir, v, cols, next,
          cluster.map(_(m, folded)))
        writeManifest(spark, tableDir, v, next.copy(
          leaves = (kept ++ written).sorted, dirty = keptDirty,
          deletes = if (keptDirty.isEmpty) Nil else m.deletes,
          schema =
            if (m.schema.nonEmpty) m.schema else encodeSchema(folded.schema)))
        Fold(fold.size, written.size, kept.size)
      }
    }

  /** Small-file maintenance: fold EVERY live leaf — foreign-spec leaves
    * migrate to the current spec and every delete vector folds into the
    * data, so the new manifest carries none. No-op on a table with no
    * leaves. Holds the table's `_LOCK` ([[graft.pipeline.Locking]]).
    */
  def compact(spark: SparkSession, tableDir: String, partCol: String): Unit =
    Locking.withStoreLock(spark, tableDir)(
      foldCommit(spark, tableDir, partCol, "compact")(_.leaves))

  /** FORMAT MIGRATION — rewrite the head into a new data-file format
    * as one versioned commit (the ORC-native-to-parquet-lakehouse move,
    * or the reverse): [[compact]]'s fold with the format switched, so
    * delete vectors fold in, the schema and feature markers carry, and
    * every PRIOR snapshot keeps reading its own leaves in their own
    * format (the manifest records the format per version — time travel
    * across the migration boundary just works). Cost is one full
    * rewrite, the honest price of changing bytes-on-disk; vacuum
    * reclaims the old format's leaves under the normal retention rules.
    */
  def convertFormat(spark: SparkSession, tableDir: String, partCol: String,
      newFormat: String): Unit = {
    require(SupportedFormats.contains(newFormat),
      s"unsupported versioned-table format '$newFormat' — one of " +
        SupportedFormats.mkString("/"))
    Locking.withStoreLock(spark, tableDir)(foldCommit(spark, tableDir,
        partCol, "convertFormat", toFormat = Some(newFormat)) { m =>
      require(!(m.rowTracking && newFormat != "parquet"),
        "cannot convert a row-tracked table away from parquet — fresh " +
          "row-id derivation needs _metadata.row_index (parquet-only)")
      // an empty fold would commit nothing and leave the format as is
      require(m.leaves.nonEmpty,
        s"convertFormat: the table at $tableDir has no leaves to rewrite")
      m.leaves
    })
  }

  /** OPTIMIZE (bin-packing) — the Delta OPTIMIZE / Iceberg
    * rewriteDataFiles shape at THIS table's manifest granularity
    * (leaves): per partition value, live same-spec leaves whose data
    * bytes total under `minLeafBytes` are SMALL; a partition folds when
    * it has ≥ 2 small leaves (coalescing pays) or a small DIRTY leaf
    * (folding purges its delete vectors into the data). Folded leaves
    * rewrite into ONE fresh leaf per partition; everything else — large
    * leaves, single-small clean partitions, foreign-spec leaves (their
    * migration is [[compact]]'s job), out-of-slice leaves under `where`
    * — is carried BY REFERENCE, byte-untouched. Unlike [[compact]], cost
    * is proportional to the small-file debt, not the table: at 100 TB an
    * ingestion cadence produces thousands of small leaves against a
    * petabyte of settled ones, and only the debt is read or written.
    * No-op (no new version) when nothing qualifies. Holds the store
    * `_LOCK`. Returns (folded leaf count, new leaf count).
    */
  def binpack(spark: SparkSession, tableDir: String, partCol: String,
      minLeafBytes: Long, where: Option[String] = None): (Int, Int) = {
    val f = binpackFold(spark, tableDir, partCol, minLeafBytes, where)
    (f.folded, f.written)
  }

  /** [[binpack]] with the whole [[Fold]] — `CALL graft.binpack` reports
    * the carried count too.
    */
  private[sources] def binpackFold(spark: SparkSession, tableDir: String,
      partCol: String, minLeafBytes: Long, where: Option[String]): Fold =
    Locking.withStoreLock(spark, tableDir)(
      foldCommit(spark, tableDir, partCol, "binpack")(
        smallLeafDebt(spark, tableDir, specOf(partCol), minLeafBytes, where)))

  /** [[binpack]]'s selector (see there): the small same-spec, in-slice
    * leaves of every partition value with ≥ 2 of them or a dirty one.
    */
  private def smallLeafDebt(spark: SparkSession, tableDir: String,
      cols: Seq[String], minLeafBytes: Long, where: Option[String])(
      m: VManifest): Seq[String] = {
    val slice = where.map(w => leavesInSlice(spark, m, cols, w))
    val f = fs(spark, tableDir)
    def leafBytes(l: String): Long =
      f.listStatus(new Path(s"$tableDir/$l")).toSeq
        .filter(st => st.isFile && FileStats.isDataFile(st.getPath.getName))
        .map(_.getLen).sum
    m.leaves
      .filter(l => leafPartPairs(l).map(_._1) == specDirNames(cols) &&
        slice.forall(_.contains(l)) &&
        leafBytes(l) < minLeafBytes)
      .groupBy(l => leafPartPairs(l).map(_._2))
      .filter { case (_, ls) => ls.size >= 2 || ls.exists(m.dirtySet.contains) }
      .values.flatten.toSeq.sorted
  }

  /** OPTIMIZE ZORDER BY — [[compact]] with a layout upgrade (the public
    * Delta OPTIMIZE ZORDER shape on the snapshot table): every live leaf
    * folds into one fresh data dir AND each partition's rows are written
    * sorted by the Morton z-value of (c1, c2), so the ROW GROUPS
    * (parquet) / STRIPES (ORC) inside each leaf carry tight min/max on
    * BOTH columns — selective scans skip inside files the way
    * [[graft.sources.Layout]]'s multi-file layout skips files.
    * `rowGroupBytes` bounds the skipping granularity and `numSlices` is
    * the file granularity knob (at scale: slice bytes / target file
    * size) — see [[Clustering]]. Works under ANY partition spec depth:
    * the range repartition and sort key every spec level ahead of z.
    */
  def optimizeZOrder(spark: SparkSession, tableDir: String, partCol: String,
      c1: String, c2: String, rowGroupBytes: Int = 1 << 20,
      numSlices: Int = 8): Unit =
    optimizeZOrderCols(spark, tableDir, partCol, Seq(c1, c2),
      rowGroupBytes, numSlices)

  /** Rank-preserving long encoding of a z-column (Delta supports string
    * and date ZORDER; a bare `cast("long")` NULLs them silently).
    * Numerics/booleans/timestamps cast monotonically; dates map to
    * days-since-epoch; strings take their 7-byte UTF-8 prefix as a
    * big-endian integer (right-zero-padded, so "b" > "aa" holds) —
    * prefix resolution is ample for a ≤ 8-bit quantizer. Anything else
    * refuses loudly: z-order must never silently commit a no-op layout.
    */
  private def zEncode(dt: DataType, c: Column, name: String): Column =
    dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           FloatType | DoubleType | TimestampType | _: DecimalType =>
        c.cast("long")
      case DateType => datediff(c, to_date(lit("1970-01-01")))
        .cast("long")
      case StringType =>
        conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 7)), 14, "0"),
          16, 10).cast("long")
      case other => throw new UnsupportedOperationException(
        s"ZORDER BY on column '$name' of type ${other.sql} is not " +
          "supported — use an integral, floating, decimal, boolean, " +
          "date, timestamp, or string column")
    }

  /** N-column / partition-scoped OPTIMIZE ZORDER (Delta accepts any
    * arity; a 100 TB table re-lays-out incrementally, never whole):
    * `zcols` is the z-map column list (1–7 columns — the Morton code
    * must fit a long at ≥ 8 bits per column; one column degenerates to a
    * plain range-cluster, still a valid layout); `where`, when present,
    * is a partition-column predicate selecting the ONLY leaves that
    * fold and re-sort — every out-of-slice leaf carries by reference,
    * byte-untouched, and the delete vectors of still-carried dirty
    * leaves remain live ([[foldCommit]]'s carry rule). No-op (no new
    * version) when the slice is empty.
    */
  def optimizeZOrderCols(spark: SparkSession, tableDir: String,
      partCol: String, zcols: Seq[String], rowGroupBytes: Int = 1 << 20,
      numSlices: Int = 8, where: Option[String] = None): Unit = {
    require(zcols.nonEmpty && zcols.size <= 7,
      s"ZORDER BY takes 1 to 7 columns (the Morton code must fit a " +
        s"long); got ${zcols.size}: ${zcols.mkString(", ")}")
    Locking.withStoreLock(spark, tableDir)(foldCommit(spark, tableDir,
        partCol, "optimizeZOrder",
        cluster = Some(zCluster(zcols, rowGroupBytes, numSlices))) { m =>
      where.fold(m.leaves)(w =>
        m.leaves.filter(leavesInSlice(spark, m, specOf(partCol), w)))
    })
  }

  /** The z-order [[Clustering]] of a fold: the Morton z-value of the
    * type-wise encodings of `zcols`, each quantized against its min/max
    * over the FOLDED rows — the layout decision is local to the bytes
    * being rewritten.
    */
  private def zCluster(zcols: Seq[String], rowGroupBytes: Int,
      numSlices: Int)(m: VManifest, folded: DataFrame): Clustering = {
    val types = zcols.map(c => folded.schema.fields.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"ZORDER BY column '$c' is not in the table schema: " +
          folded.schema.fieldNames.mkString(", "))).dataType)
    def enc(name: String => String): Seq[Column] =
      zcols.zip(types).map { case (c, t) => zEncode(t, col(name(c)), c) }
    val aggs = enc(identity).flatMap(e => Seq(min(e), max(e)))
    val r = folded.agg(aggs.head, aggs.tail: _*).first()
    def bound(i: Int): Column =
      lit(if (r.isNullAt(i)) 0L else r.getLong(i)) // all-NULL column
    // the key runs on the frame as written: physical names
    Clustering(Layout.zValueN(enc(c => m.colMap.getOrElse(c, c)),
      zcols.indices.map(i => bound(2 * i)),
      zcols.indices.map(i => bound(2 * i + 1)),
      math.min(8, 62 / zcols.size)), numSlices, rowGroupBytes)
  }

  /** Grace period before an unreferenced (orphan) dir is swept: a
    * CONCURRENT optimistic writer's staged dir is indistinguishable from
    * a crashed commit's leftovers by name alone — if other channels
    * committed since that writer read its base, its staged version number
    * is ≤ the head and a graceless sweep would delete its in-flight bytes
    * mid-write (round-7 advice, medium). Age is the discriminator (the
    * public Delta VACUUM retention design): an in-flight write keeps its
    * dir young; a crashed commit's dir only gets older. One hour covers
    * any sane batch write; tests pass 0 to sweep planted orphans
    * immediately.
    */
  val DefaultOrphanGraceMs: Long = 3600L * 1000

  /** A retention rule: which versions a sweep keeps, beyond the head and
    * the ref-pinned versions it always keeps. Each rule refuses
    * parameters that could erase the head.
    */
  private sealed trait Retain
  /** Keep the newest `n` versions. */
  private final case class RetainLast(n: Int) extends Retain {
    require(n >= 1, s"retainLast must be >= 1 (got $n): must retain at " +
      "least the latest version")
  }
  /** Keep the versions committed at most `maxAgeMs` before `nowMs`. */
  private final case class RetainYounger(maxAgeMs: Long, nowMs: Long)
      extends Retain {
    require(maxAgeMs >= 0, "maxAgeMs must be non-negative")
  }

  /** One retention decision: versions to drop and to keep (ascending),
    * the paths the kept manifests reference (`live`), the dropped
    * manifests' paths none of them shares (`dead`, sorted), and whether
    * the head is row-tracked.
    */
  private final case class Retention(drop: Seq[Int], keep: Seq[Int],
      live: Set[String], dead: Seq[String], rowTracking: Boolean)

  /** The retention planner — the only source of (drop, keep, dead) for
    * [[vacuum]], [[vacuumOlderThan]], [[vacuumDryRun]] and [[maintain]].
    * The head is always kept (the table must stay readable), and so is
    * every version a branch or tag names ([[refProtected]]) regardless
    * of `rule`. Commit time is the manifest mtime ([[manifestMtime]]),
    * read only for versions neither the head nor a ref decides. Each
    * manifest is read once. Empty on a table with no versions.
    */
  private def retention(spark: SparkSession, tableDir: String,
      rule: Retain): Retention = {
    val vs = versions(spark, tableDir)
    val pinned = refProtected(spark, tableDir)
    val (keep, drop) = vs.indices.partition(i =>
      i == vs.size - 1 || pinned(vs(i)) || (rule match {
        case RetainLast(n) => i >= vs.size - n
        case RetainYounger(age, now) =>
          manifestMtime(spark, tableDir, vs(i)) >= now - age
      })) match { case (k, d) => (k.map(vs), d.map(vs)) }
    val kept = keep.map(readManifestFull(spark, tableDir, _))
    val live = kept.flatMap(m => m.leaves ++ m.deletes).toSet
    val dead = drop.flatMap { v =>
      val m = readManifestFull(spark, tableDir, v)
      m.leaves ++ m.deletes
    }.toSet -- live
    Retention(drop, keep, live, dead.toSeq.sorted,
      kept.lastOption.exists(_.rowTracking))
  }

  /** Drop all versions older than `retainLast` and physically delete every
    * leaf no retained manifest references — the erasure half of the
    * delete contract, and the metadata bound. Leaf set comparisons are
    * driver-side path lists (O(partitions + appends)). Holds the table's
    * `_LOCK` for the duration (concurrent maintenance refused loudly).
    */
  def vacuum(spark: SparkSession, tableDir: String, retainLast: Int,
      orphanGraceMs: Long = DefaultOrphanGraceMs): Unit =
    Locking.withStoreLock(spark, tableDir)(sweep(spark, tableDir,
      retention(spark, tableDir, RetainLast(retainLast)), orphanGraceMs))

  /** AGE-based retention (the reference's 7-day backup GC,
    * `HDFSBackupStrategy.java:100-129`, on the snapshot backend): drop
    * every version whose manifest is older than `maxAgeMs` — by manifest
    * mtime, i.e. commit time — then run the same physical sweep as
    * [[vacuum]]. The HEAD is never dropped regardless of age: the table
    * must stay readable. `nowMs` is injectable for tests.
    */
  def vacuumOlderThan(spark: SparkSession, tableDir: String, maxAgeMs: Long,
      nowMs: Long = System.currentTimeMillis(),
      orphanGraceMs: Long = DefaultOrphanGraceMs): Unit =
    Locking.withStoreLock(spark, tableDir)(sweep(spark, tableDir,
      retention(spark, tableDir, RetainYounger(maxAgeMs, nowMs)),
      orphanGraceMs))

  /** Top-level data/deletes dirs the orphan rule would collect RIGHT
    * NOW: version-named, at or below `latest`, older than the grace
    * cutoff, and not an ancestor of any live ref. Shared by [[sweep]]
    * (which deletes them) and [[vacuumDryRun]] (which reports them).
    */
  private def orphanDirs(f: FileSystem, tableDir: String, latest: Int,
      ageCutoff: Long, live: Set[String]): Seq[String] = {
    val verRe = "^(?:add|del)-v(\\d+)\\b.*".r
    for {
      root <- Seq("data", "deletes")
      rp = new Path(s"$tableDir/$root")
      if f.exists(rp)
      st <- f.listStatus(rp).toSeq
      name = st.getPath.getName
      rel = s"$root/$name"
      n <- verRe.findFirstMatchIn(name).map(_.group(1).toInt)
      if n <= latest && st.getModificationTime <= ageCutoff &&
        !live.exists(l => l == rel || l.startsWith(rel + "/"))
    } yield rel
  }

  /** The physical sweep of a [[retention]] decision: erase the dead
    * paths, then the dropped manifests, then orphans past the grace
    * period. Callers hold the store lock; no-op on a table with no
    * versions.
    *
    * Orphans: `data/`/`deletes/` version dirs no RETAINED manifest
    * references, plus stale `_staging_*` manifest files (a crash between
    * staging a dir and the manifest CAS leaves both). Only dirs whose
    * version number is ≤ the latest committed version AND whose mtime is
    * older than `orphanGraceMs` are swept — the version bound keeps a
    * fresh table's first commit invisible, the age bound protects an
    * in-flight concurrent writer (see [[DefaultOrphanGraceMs]]).
    */
  private def sweep(spark: SparkSession, tableDir: String, r: Retention,
      orphanGraceMs: Long): Unit = if (r.keep.nonEmpty) {
    val f = fs(spark, tableDir)
    // row tracking: pin the id watermark BEFORE any sidecar-carrying
    // add-dir can be erased (callers hold the store lock, so the plain
    // overwrite is single-writer) — erasure must never regress the
    // watermark into handing out previously-assigned ids
    if (r.rowTracking) {
      val w = rowIdHighWatermark(spark, tableDir)
      val out = f.create(rowIdFloorPath(tableDir), true)
      try out.write(w.toString.getBytes("UTF-8")) finally out.close()
    }
    // remove dead leaves first, manifests second: a crash in between
    // leaves old manifests pointing at missing leaves — unreadable, but
    // re-running vacuum completes; retained versions are never touched
    r.dead.foreach(l => f.delete(new Path(s"$tableDir/$l"), true))
    r.drop.foreach(n =>
      f.delete(new Path(s"${manifestsDir(tableDir)}/v$n.json"), false))
    val ageCutoff = System.currentTimeMillis() - orphanGraceMs
    // scanned AFTER the dead-leaf pass: deleting a child touches the
    // parent dir's mtime, so a dir fully emptied just now waits out a
    // fresh grace period before the orphan rule collects it
    orphanDirs(f, tableDir, r.keep.max, ageCutoff, r.live)
      .foreach(rel => f.delete(new Path(s"$tableDir/$rel"), true))
    val md = new Path(manifestsDir(tableDir))
    if (f.exists(md)) f.listStatus(md).foreach { st =>
      if (st.getPath.getName.startsWith("_staging_") &&
          st.getModificationTime <= ageCutoff)
        f.delete(st.getPath, false)
    }
  }

  /** VACUUM DRY RUN — the (dead leaf dirs, dropped manifest versions,
    * orphan dirs) a `vacuum(retainLast)` would collect right now,
    * computed from the same retention rules, deleting nothing and taking
    * no lock (it reads committed manifests and listings only). The ops
    * answer to "what exactly will this reclaim?" before pointing a
    * destructive sweep at a 100 TB table. Orphans are evaluated against
    * the PRE-sweep dir mtimes, so a dir the real sweep would empty (and
    * thereby freshen) can appear here one run before the sweep collects
    * it — the dry run reports eligibility now, not the sweep's exact
    * same-call deletions.
    */
  def vacuumDryRun(spark: SparkSession, tableDir: String, retainLast: Int,
      orphanGraceMs: Long = DefaultOrphanGraceMs)
      : (Seq[String], Seq[Int], Seq[String]) = {
    val r = retention(spark, tableDir, RetainLast(retainLast))
    if (r.keep.isEmpty) (Nil, Nil, Nil)
    else (r.dead, r.drop, orphanDirs(fs(spark, tableDir), tableDir,
      r.keep.max, System.currentTimeMillis() - orphanGraceMs, r.live).sorted)
  }

  /** Maintenance policy: fold leaf debt only when some partition's
    * count of live leaves exceeds `maxLeavesPerPartition`, then vacuum
    * to `retainLast` under [[vacuum]]'s retention rule (the head and
    * ref-pinned versions stay). The check is pure manifest metadata (no
    * data scan) — the cheap gate an ingestion scheduler calls after every
    * batch so small-file debt is bounded without paying a rewrite per
    * append. The fold is [[binpack]] with an unbounded size threshold,
    * NOT a full [[compact]]: only multi-leaf partitions (and dirty
    * leaves, purging their vectors) rewrite, so the cost is
    * proportional to the debt the appends created — settled single-leaf
    * partitions are carried by reference untouched, which at 100 TB is
    * the difference between rewriting gigabytes and rewriting the
    * table. Both parameters are checked before anything runs. Returns
    * true if a fold committed.
    *
    * The whole call holds the table's `_LOCK`: a second maintainer is
    * refused loudly instead of racing the compaction (round-7 advice,
    * medium); concurrent APPENDERS are safe against the embedded vacuum
    * via the orphan grace period (their staged dirs stay young).
    */
  def maintain(spark: SparkSession, tableDir: String, partCol: String,
      maxLeavesPerPartition: Int = 4, retainLast: Int = 2,
      orphanGraceMs: Long = DefaultOrphanGraceMs): Boolean = {
    require(maxLeavesPerPartition >= 1, "maxLeavesPerPartition must be >= 1")
    val rule = RetainLast(retainLast)
    val cols = specOf(partCol)
    Locking.withStoreLock(spark, tableDir) {
      val ran = foldCommit(spark, tableDir, partCol, "maintain") { m =>
        val sizes = m.leaves.groupBy(leafPartPairs).values.map(_.size)
        if (sizes.exists(_ > maxLeavesPerPartition))
          smallLeafDebt(spark, tableDir, cols, Long.MaxValue, None)(m)
        else Nil
      }.folded > 0
      sweep(spark, tableDir, retention(spark, tableDir, rule), orphanGraceMs)
      ran
    }
  }

  // --------------------------- surface entry

  /** Deterministic version history over the events fixture: v0 = initial
    * load (event_id % 3 = 0), v1 = append of the rest, v2 = copy-on-write
    * delete of (event_type='click' AND user_id % 5 = 2). The query reads
    * ALL THREE snapshots after the delete and summarizes each — pinning
    * that history is preserved (v0/v1 still serve pre-delete states) AND
    * that the delete landed in v2, which is exactly what the DuckDB
    * oracle recomputes from the predicates.
    */
  def snapshotAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    append(events.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    delete(spark, dir, "pdate",
      col("event_type") === "click" && col("user_id") % 5 === 2)
    val summaries = (0 to 2).map { v =>
      readVersion(spark, dir, v).agg(
        lit(v).as("version"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(round(col("value") * 1e6).cast("long")).cast("long").as("sum_micros"),
        countDistinct(col("pdate")).cast("long").as("n_partitions"))
    }
    summaries.reduce(_ unionByName _)
      .select("version", "n_rows", "sum_micros", "n_partitions")
      .orderBy("version")
  }

  /** CHECK-constraint surface entry: create a third of events, add two
    * constraints (metadata-only commits gated on the head data), then
    * attempt an append whose every `event_id % 7 = 0` row has a mangled
    * negative value — the whole batch refuses ATOMICALLY (no version, no
    * rows), the dry-run probe reports the per-constraint violation
    * counts, and the cleaned batch commits. The oracle recomputes every
    * number from the slice predicates alone, so enforcement, atomic
    * refusal and the accounting all hash-check against an independent
    * engine.
    */
  def snapshotConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_ck")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    addCheckConstraint(spark, dir, "value_nonneg", "value >= 0")
    addCheckConstraint(spark, dir, "eid_nonneg", "event_id >= 0")
    val rest = events.filter(col("event_id") % 3 =!= 0)
    val mangled = rest.withColumn("value",
      when(col("event_id") % 7 === 0, -col("value") - lit(1.0))
        .otherwise(col("value")))
    val probe = constraintViolations(mangled, dir)
      .select("constraint", "violations").as[(String, Long)].collect().toMap
    val refused =
      try { append(mangled, dir, "pdate"); false }
      catch { case _: ConstraintViolationException => true }
    require(refused, "the mangled batch must refuse")
    append(rest.filter(col("event_id") % 7 =!= 0), dir, "pdate")
    Seq(
      ("head_rows", readLatest(spark, dir).count()),
      ("head_version", latestVersion(spark, dir).toLong),
      ("n_constraints", checkConstraints(spark, dir).size.toLong),
      ("refused_eid_nonneg", probe("eid_nonneg")),
      ("refused_value_nonneg", probe("value_nonneg")))
      .toDF("metric", "value").orderBy("metric")
  }

  def snapshotConstraintsSql(): String =
    """WITH a AS (SELECT * FROM events WHERE event_id % 3 = 0),
      |b AS (SELECT * FROM events WHERE event_id % 3 <> 0)
      |SELECT 'head_rows' AS metric,
      |  (SELECT count(*) FROM a)
      |    + (SELECT count(*) FROM b WHERE event_id % 7 <> 0) AS value
      |UNION ALL SELECT 'head_version',
      |  3  -- v0 create, v1+v2 add-constraint commits, refused append
      |     -- commits NOTHING, v3 the clean append
      |UNION ALL SELECT 'n_constraints', 2
      |UNION ALL SELECT 'refused_eid_nonneg', 0
      |UNION ALL SELECT 'refused_value_nonneg',
      |  (SELECT count(*) FROM b WHERE event_id % 7 = 0)
      |ORDER BY metric""".stripMargin

  /** Metadata-aggregate pushdown surface entry: load the events fixture
    * into a snapshot table, aggregate through the SQL surface
    * (count(*) / count(col) / min / max on a long and a string column),
    * and pin IN-QUERY that the optimizer answered from the sidecars —
    * `meta_only` is true only when the executed plan contains NO scan
    * node of either kind ([[graft.plans.MetaAggregateRule]]). The oracle
    * recomputes the aggregates from the raw rows and pins `meta_only`
    * TRUE, so a silently-degraded rewrite (falling back to the scan)
    * fails the gate even though the VALUES would still match.
    */
  def snapshotAggPushdown(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_metaagg")
    create(events, dir, "pdate")
    val out = spark.read.format("graft-snapshot").load(dir).agg(
      count(lit(1)).cast("long").as("n_rows"),
      count(col("value")).cast("long").as("n_value"),
      min(col("user_id")).cast("long").as("min_user"),
      max(col("user_id")).cast("long").as("max_user"),
      min(col("event_type")).as("min_type"),
      max(col("event_type")).as("max_type"))
    val planStr = out.queryExecution.executedPlan.toString
    val metaOnly =
      !planStr.contains("FileScan") && !planStr.contains("SnapshotScanRelation")
    out.withColumn("meta_only", lit(metaOnly))
  }

  def snapshotAggPushdownSql(): String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(value) AS BIGINT) AS n_value,
      |  CAST(min(user_id) AS BIGINT) AS min_user,
      |  CAST(max(user_id) AS BIGINT) AS max_user,
      |  min(event_type) AS min_type,
      |  max(event_type) AS max_type,
      |  TRUE AS meta_only
      |FROM events""".stripMargin

  /** Quarantine-routing surface entry — [[snapshotConstraints]]' sibling
    * with routing instead of refusal: the same mangled batch flows
    * through [[appendQuarantine]], clean rows commit, violators land in
    * the quarantine table labeled with the violated constraint, and the
    * oracle recomputes the whole accounting (head rows, quarantine rows,
    * per-constraint labels) from the slice predicates — pinning that
    * every input row landed in exactly one table.
    */
  def snapshotQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_quar")
    val qDir = Stores.temp("graft_vt_quar_q")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    addCheckConstraint(spark, dir, "value_nonneg", "value >= 0")
    addCheckConstraint(spark, dir, "eid_nonneg", "event_id >= 0")
    val rest = events.filter(col("event_id") % 3 =!= 0)
    val mangled = rest.withColumn("value",
      when(col("event_id") % 7 === 0, -col("value") - lit(1.0))
        .otherwise(col("value")))
    val (appended, quarantined) =
      appendQuarantine(mangled, dir, "pdate", qDir)
    // two read-only audits of disjoint tables — overlapped (guide §2.6)
    val (byConstraint, headRows) = graft.core.Par.run2(
      readLatest(spark, qDir)
        .groupBy("violated_constraint").count()
        .as[(String, Long)].collect().toMap,
      readLatest(spark, dir).count())
    Seq(
      ("appended", appended),
      ("head_rows", headRows),
      ("quarantine_eid_nonneg", byConstraint.getOrElse("eid_nonneg", 0L)),
      ("quarantine_rows", quarantined),
      ("quarantine_value_nonneg", byConstraint.getOrElse("value_nonneg", 0L)))
      .toDF("metric", "value").orderBy("metric")
  }

  def snapshotQuarantineSql(): String =
    """WITH a AS (SELECT * FROM events WHERE event_id % 3 = 0),
      |b AS (SELECT * FROM events WHERE event_id % 3 <> 0),
      |bad AS (SELECT * FROM b WHERE event_id % 7 = 0)
      |SELECT 'appended' AS metric,
      |  (SELECT count(*) FROM b WHERE event_id % 7 <> 0) AS value
      |UNION ALL SELECT 'head_rows',
      |  (SELECT count(*) FROM a)
      |    + (SELECT count(*) FROM b WHERE event_id % 7 <> 0)
      |UNION ALL SELECT 'quarantine_eid_nonneg', 0
      |UNION ALL SELECT 'quarantine_rows', (SELECT count(*) FROM bad)
      |UNION ALL SELECT 'quarantine_value_nonneg', (SELECT count(*) FROM bad)
      |ORDER BY metric""".stripMargin

  /** GROUP-BY-partition metadata counts through the SQL surface — the
    * SQL twin of [[snapshotCountMeta]] (which drives the library call):
    * `SELECT pdate, count(*) GROUP BY pdate` over the snapshot relation
    * must fold per-leaf sidecar rows with NO scan, pinned in-query by
    * `meta_only` exactly like [[snapshotAggPushdown]].
    */
  def snapshotCountBySql(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_groupmeta")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    append(events.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    val out = spark.read.format("graft-snapshot").load(dir)
      .groupBy(col("pdate"))
      .agg(count(lit(1)).cast("long").as("n_rows"))
    val planStr = out.queryExecution.executedPlan.toString
    val metaOnly =
      !planStr.contains("FileScan") && !planStr.contains("SnapshotScanRelation")
    out.withColumn("meta_only", lit(metaOnly)).orderBy("pdate")
  }

  def snapshotCountBySqlSql(): String =
    """SELECT strftime(ts, '%Y-%m-%d') AS pdate,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  TRUE AS meta_only
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Grouped metadata STATS through the SQL surface — the per-partition
    * profile (`count(*), count(col), min, max GROUP BY pdate`) answered
    * entirely from sidecars, plan-audited in-query like its siblings.
    * This is the table-profile query every ops dashboard polls; at
    * 100 TB it runs against metadata however often it is asked.
    */
  def snapshotGroupStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_groupstats")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    append(events.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    val out = spark.read.format("graft-snapshot").load(dir)
      .groupBy(col("pdate"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        count(col("user_id")).cast("long").as("n_user"),
        min(col("user_id")).cast("long").as("min_user"),
        max(col("user_id")).cast("long").as("max_user"),
        min(col("event_type")).as("min_type"),
        max(col("event_type")).as("max_type"))
    val planStr = out.queryExecution.executedPlan.toString
    val metaOnly =
      !planStr.contains("FileScan") && !planStr.contains("SnapshotScanRelation")
    out.withColumn("meta_only", lit(metaOnly)).orderBy("pdate")
  }

  def snapshotGroupStatsSql(): String =
    """SELECT strftime(ts, '%Y-%m-%d') AS pdate,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(user_id) AS BIGINT) AS n_user,
      |  CAST(min(user_id) AS BIGINT) AS min_user,
      |  CAST(max(user_id) AS BIGINT) AS max_user,
      |  min(event_type) AS min_type,
      |  max(event_type) AS max_type,
      |  TRUE AS meta_only
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** DESCRIBE HISTORY surface entry over the [[snapshotAsOf]] scenario
    * (create thirds → append rest → COW delete): the oracle recomputes
    * every version's LEAF COUNT from the slice predicates — v0 = distinct
    * partition values of the create slice, v1 adds the append slice's,
    * and v2 = unaffected leaves of both slices plus the affected
    * partitions that still have survivors — so the manifest bookkeeping
    * (carry-by-reference, per-partition rewrite, emptied-partition drop)
    * is hash-checked end-to-end by an independent engine, not just
    * spec-asserted.
    */
  def snapshotHistory(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_hist")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    append(events.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    delete(spark, dir, "pdate",
      col("event_type") === "click" && col("user_id") % 5 === 2)
    history(spark, dir, includeRowCounts = true).orderBy("version")
  }

  def snapshotHistorySql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events),
      |a AS (SELECT * FROM e WHERE event_id % 3 = 0),
      |b AS (SELECT * FROM e WHERE event_id % 3 <> 0),
      |aff AS (SELECT DISTINCT pdate FROM e
      |        WHERE event_type = 'click' AND user_id % 5 = 2)
      |SELECT 0 AS version,
      |  (SELECT CAST(count(DISTINCT pdate) AS BIGINT) FROM a) AS n_leaves,
      |  CAST(0 AS BIGINT) AS n_delete_vectors,
      |  CAST(0 AS BIGINT) AS n_dirty_leaves,
      |  CAST(0 AS BIGINT) AS n_txns,
      |  (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_rows
      |UNION ALL SELECT 1,
      |  (SELECT CAST(count(DISTINCT pdate) AS BIGINT) FROM a)
      |    + (SELECT CAST(count(DISTINCT pdate) AS BIGINT) FROM b),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |  (SELECT CAST(count(*) AS BIGINT) FROM e)
      |UNION ALL SELECT 2,
      |  (SELECT CAST(count(DISTINCT pdate) AS BIGINT) FROM a
      |   WHERE pdate NOT IN (SELECT pdate FROM aff))
      |    + (SELECT CAST(count(DISTINCT pdate) AS BIGINT) FROM b
      |       WHERE pdate NOT IN (SELECT pdate FROM aff))
      |    + (SELECT CAST(count(DISTINCT pdate) AS BIGINT) FROM e
      |       WHERE NOT (event_type = 'click' AND user_id % 5 = 2)
      |         AND pdate IN (SELECT pdate FROM aff)),
      |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |  (SELECT CAST(count(*) AS BIGINT) FROM e
      |   WHERE NOT (event_type = 'click' AND user_id % 5 = 2))
      |ORDER BY version""".stripMargin

  /** Merge-on-read surface entry: v0 = full events load, v1/v2 = two
    * position-delete vectors (no data leaf rewritten — spec-pinned by
    * mtime), v3 = compact folding the vectors into data. The query
    * summarizes ALL FOUR snapshots, pinning time travel across vector
    * versions AND that the fold is a pure representation change (v3 ≡ v2
    * row-for-row, which the oracle states by repeating v2's predicates).
    */
  def snapshotDeleteMor(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_mor")
    create(events, dir, "pdate")
    deleteMergeOnRead(spark, dir,
      col("event_type") === "view" && col("user_id") % 7 === 3)
    deleteMergeOnRead(spark, dir,
      col("event_type") === "click" && col("value") < 10.0)
    compact(spark, dir, "pdate")
    val summaries = (0 to 3).map { v =>
      readVersion(spark, dir, v).agg(
        lit(v).as("version"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(round(col("value") * 1e6).cast("long")).cast("long").as("sum_micros"),
        countDistinct(col("pdate")).cast("long").as("n_partitions"))
    }
    summaries.reduce(_ unionByName _)
      .select("version", "n_rows", "sum_micros", "n_partitions")
      .orderBy("version")
  }

  def snapshotDeleteMorSql(): String =
    """WITH e AS (
      |  SELECT event_type, user_id, value,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events),
      |v AS (
      |  SELECT 0 AS version, * FROM e
      |  UNION ALL
      |  SELECT 1, * FROM e
      |  WHERE NOT (event_type = 'view' AND user_id % 7 = 3)
      |  UNION ALL
      |  SELECT 2, * FROM e
      |  WHERE NOT (event_type = 'view' AND user_id % 7 = 3)
      |    AND NOT (event_type = 'click' AND value < 10.0)
      |  UNION ALL
      |  SELECT 3, * FROM e
      |  WHERE NOT (event_type = 'view' AND user_id % 7 = 3)
      |    AND NOT (event_type = 'click' AND value < 10.0))
      |SELECT version,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros,
      |       CAST(count(DISTINCT pdate) AS BIGINT) AS n_partitions
      |FROM v GROUP BY version ORDER BY version""".stripMargin

  /** Shared history for the merge/CDC entries: v0 = initial load
    * (event_id % 3 = 0, with values pre-quantized to micro-units in a
    * stored column), v1 = one MERGE carrying updates (event_id % 6 = 0,
    * value doubled) and inserts (event_id % 3 = 1).
    */
  private def buildMergeHistory(spark: SparkSession, sfDir: String): String = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("micros", round(col("value") * 1e6).cast("long"))
      .select("event_id", "user_id", "event_type", "value", "micros", "pdate")
    val dir = Stores.temp("graft_vt_merge")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    val updates = events.filter(col("event_id") % 6 === 0)
      .withColumn("value", col("value") * 2)
      .withColumn("micros", round(col("value") * 1e6).cast("long"))
    val inserts = events.filter(col("event_id") % 3 === 1)
    merge(updates.unionByName(inserts), dir, "pdate", "event_id")
    dir
  }

  /** MERGE surface entry: per-type profile of the post-merge snapshot —
    * replaced rows count once with doubled values, inserts appear,
    * untouched rows carry over (all three pinned by the recompute oracle).
    */
  def snapshotMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = buildMergeHistory(spark, sfDir)
    readLatest(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("micros")).cast("long").as("sum_micros"))
      .orderBy("event_type")
  }

  def snapshotMergeSql(): String =
    """WITH v1 AS (
      |  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events WHERE event_id % 3 = 0 AND event_id % 6 <> 0
      |  UNION ALL
      |  SELECT event_type, CAST(round(value * 2 * 1000000) AS BIGINT)
      |  FROM events WHERE event_id % 6 = 0
      |  UNION ALL
      |  SELECT event_type, CAST(round(value * 1000000) AS BIGINT)
      |  FROM events WHERE event_id % 3 = 1)
      |SELECT event_type, count(*) AS n,
      |       CAST(sum(micros) AS BIGINT) AS sum_micros
      |FROM v1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** CDC surface entry: status census of the v0 → v1 merge (added /
    * changed / unchanged; a doubled value that quantizes to the same
    * micro-unit — value 0 — counts unchanged, which the oracle mirrors).
    */
  def snapshotChanges(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = buildMergeHistory(spark, sfDir)
    versionDiff(spark, dir, "event_id",
        Seq("event_type", "user_id", "micros"), 0, 1, includeUnchanged = true)
      .groupBy("status").agg(count(lit(1)).cast("long").as("n"))
      .orderBy("status")
  }

  def snapshotChangesSql(): String =
    """WITH st AS (
      |  SELECT CASE
      |    WHEN event_id % 3 = 1 THEN 'added'
      |    WHEN event_id % 6 = 0
      |         AND CAST(round(value * 2 * 1000000) AS BIGINT)
      |          <> CAST(round(value * 1000000) AS BIGINT) THEN 'changed'
      |    ELSE 'unchanged' END AS status
      |  FROM events WHERE event_id % 3 IN (0, 1))
      |SELECT status, count(*) AS n FROM st GROUP BY 1 ORDER BY 1""".stripMargin

  /** Schema-evolution surface entry: v0 = initial load (event_id % 3 = 0,
    * base columns), v1 = append of the event_id % 3 = 1 slice carrying a
    * NEW nullable `score` column (event_id % 100). The query summarizes
    * both snapshots — pinning that the evolved head reads pre-evolution
    * leaves with NULL score (n_scored counts only the new batch) while v0
    * still reads the original schema, with the oracle recomputing both
    * from the slice predicates in an independent engine.
    */
  def snapshotEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
      .select("event_id", "user_id", "event_type", "pdate")
    val dir = Stores.temp("graft_vt_evolve")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    append(events.filter(col("event_id") % 3 === 1)
      .withColumn("score", (col("event_id") % 100).cast("long")), dir, "pdate")
    val summaries = (0 to 1).map { v =>
      val d = readVersion(spark, dir, v)
      val scored =
        if (d.columns.contains("score")) d
        else d.withColumn("score", lit(null).cast("long"))
      scored.agg(lit(v).as("version"),
        count(lit(1)).cast("long").as("n_rows"),
        count(col("score")).cast("long").as("n_scored"),
        coalesce(sum(col("score")), lit(0L)).cast("long").as("sum_score"))
    }
    summaries.reduce(_ unionByName _)
      .select("version", "n_rows", "n_scored", "sum_score")
      .orderBy("version")
  }

  /** Partition-spec-evolution surface entry: v0 = events slice
    * partitioned by DATE, v1 = metadata-only spec switch to event_type,
    * v2 = a second slice appended under the NEW spec (mixed-spec table),
    * v3 = a user-keyed delete whose matches live in BOTH specs' leaves —
    * the correctness trap: an old-spec leaf pruned by its (wrong-column)
    * dir value would silently keep rows. Each version reports its row
    * count and how many matching rows remain (v3 pins 0); the oracle
    * recomputes all four states from the slice predicates.
    */
  def snapshotSpecEvolve(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
      .select("event_id", "user_id", "event_type", "pdate")
    val dir = Stores.temp("graft_vt_spec")
    create(ev.filter(col("event_id") % 3 === 0), dir, "pdate")
    evolvePartitionSpec(spark, dir, "event_type")
    append(ev.filter(col("event_id") % 3 === 1), dir, "event_type")
    delete(spark, dir, "event_type", col("user_id") % 7 === 3)
    val summaries = (0 to 3).map { v =>
      readVersion(spark, dir, v).agg(
        lit(v).as("version"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("user_id") % 7 === 3, 1L).otherwise(0L)).cast("long")
          .as("n_matching"))
    }
    summaries.reduce(_ unionByName _)
      .select("version", "n_rows", "n_matching")
      .orderBy("version")
  }

  def snapshotSpecEvolveSql(): String =
    """WITH a AS (SELECT event_id, user_id FROM events WHERE event_id % 3 = 0),
      |b AS (SELECT event_id, user_id FROM events WHERE event_id % 3 = 1),
      |ab AS (SELECT * FROM a UNION ALL SELECT * FROM b),
      |st AS (
      |  SELECT 0 AS version, count(*) AS n,
      |         sum(CASE WHEN user_id % 7 = 3 THEN 1 ELSE 0 END) AS m FROM a
      |  UNION ALL SELECT 1, count(*),
      |         sum(CASE WHEN user_id % 7 = 3 THEN 1 ELSE 0 END) FROM a
      |  UNION ALL SELECT 2, count(*),
      |         sum(CASE WHEN user_id % 7 = 3 THEN 1 ELSE 0 END) FROM ab
      |  UNION ALL SELECT 3, count(*),
      |         sum(CASE WHEN user_id % 7 = 3 THEN 1 ELSE 0 END)
      |  FROM ab WHERE user_id % 7 <> 3)
      |SELECT version, CAST(n AS BIGINT) AS n_rows,
      |       CAST(coalesce(m, 0) AS BIGINT) AS n_matching
      |FROM st ORDER BY version""".stripMargin

  /** Plan-evidence gates for the oracle rows below. Evidence failure
    * throws NAMED, like `events_aqe_skew_join`'s skew flag
    * ([[graft.operators.Analytics]]): a pruning/skipping regression must
    * read as THAT regression, not as an inscrutable data-hash mismatch
    * against the oracle side's hardcoded TRUE. Return true so the flag
    * can still ride the gated row (the row only ever ships true; false
    * is unreachable past the throw).
    */
  private[sources] def requireDepth2Prune(tupleFiles: Long,
      levelFiles: Long, allFiles: Long): Boolean = {
    if (!(tupleFiles < levelFiles && levelFiles < allFiles))
      throw new IllegalStateException(
        "snapshot_multicol_spec: depth-2 partition pruning did NOT " +
          s"reduce executed file counts (tuple=$tupleFiles, " +
          s"level=$levelFiles, all=$allFiles) — multi-column pruning " +
          "regression in the manifest file index, not a data mismatch")
    true
  }

  private[sources] def requireOrcSkip(skippedFiles: Long,
      totalFiles: Long): Boolean = {
    if (!(skippedFiles < totalFiles))
      throw new IllegalStateException(
        "snapshot_orc: ORC file statistics did NOT skip any file on an " +
          s"above-max predicate (read $skippedFiles of $totalFiles) — " +
          "sidecar min/max harvesting or skip-planning regression, not " +
          "a data mismatch")
    true
  }

  /** Oracle-gated MULTI-COLUMN partition spec entry: a two-level
    * (event_type, pdate) versioned table built from events — create,
    * append, then a COW delete whose predicate names BOTH levels, so the
    * rewrite touches exactly the affected (type, day) tuples. Every
    * version's census is recomputed by the oracle from the slice
    * predicates alone, and the gated row carries pruning evidence from
    * the EXECUTED head read: the tuple-filtered scan plans strictly
    * fewer files than the one-level filter, which plans strictly fewer
    * than the full scan — the intersection property nested specs exist
    * for. At 100 TB this layout is the hour-under-date (or
    * tenant-under-region) shape: predicates on either level prune
    * without the other, and on both levels prune multiplicatively.
    */
  def snapshotMultiCol(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    // second level is an 8-day bucket, not the raw day: (type, day)
    // would be ~90 tuples per commit at test scale — hundreds of tiny
    // leaf writes that measure file-creation overhead, not the spec
    // machinery. 3 types × ~4 buckets exercises the same nesting,
    // pruning and tuple-rewrite paths at a leaf count a benchmark
    // should pay. (A real deployment picks levels by cardinality for
    // exactly this reason.)
    val ev = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("dbucket",
        concat(lit("b"), ((dayofmonth(col("ts")) - 1) / 8).cast("int")))
      .select("event_id", "user_id", "event_type", "value", "pdate", "dbucket")
    val dir = Stores.temp("graft_vt_mcol")
    create(ev.filter(col("event_id") % 2 === 0), dir, "event_type,dbucket")
    append(ev.filter(col("event_id") % 2 === 1), dir, "event_type,dbucket")
    delete(spark, dir, "event_type,dbucket",
      col("event_type") === "click" && col("user_id") % 5 === 2)
    // executed-plan file counts (AQE stages walked explicitly)
    def filesOf(df: DataFrame): Long = {
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
          case _ => 0L
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here + kids.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val head = spark.read.format("graft-snapshot").load(dir)
    val allFiles = filesOf(head)
    val typeFiles = filesOf(head.filter(col("event_type") === "view"))
    val tupleFiles = filesOf(
      head.filter(col("event_type") === "view" && col("dbucket") === "b0"))
    val pruneOk = requireDepth2Prune(tupleFiles, typeFiles, allFiles)
    val summaries = (0 to 2).map { v =>
      readVersion(spark, dir, v).agg(
        lit(v).as("version"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(round(col("value") * 1e6).cast("long")).cast("long")
          .as("sum_micros"),
        countDistinct(col("pdate")).cast("long").as("n_days"))
    }
    summaries.reduce(_ unionByName _)
      .withColumn("prune_depth2_ok", lit(pruneOk))
      .select("version", "n_rows", "sum_micros", "n_days", "prune_depth2_ok")
      .orderBy("version")
  }

  def snapshotMultiColSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events),
      |v AS (
      |  SELECT 0 AS version, * FROM e WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT 1, * FROM e
      |  UNION ALL
      |  SELECT 2, * FROM e
      |  WHERE NOT (event_type = 'click' AND user_id % 5 = 2))
      |SELECT version, count(*) AS n_rows,
      |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
      |         AS sum_micros,
      |       CAST(count(DISTINCT pdate) AS BIGINT) AS n_days,
      |       TRUE AS prune_depth2_ok
      |FROM v GROUP BY version ORDER BY version""".stripMargin

  /** Oracle-gated ORC surface entry: the create→append→COW-delete
    * lifecycle on an ORC-format versioned table (the reference engine's
    * native format), consumed through `spark.read.format
    * ("graft-snapshot")`. The gated row carries per-version censuses the
    * oracle recomputes from the slice predicates, plus file-skip
    * evidence from the EXECUTED head read: an amount-range predicate
    * plans strictly fewer files than the full scan, proving the ORC
    * footer harvest feeds the same `_stats.tsv` skipping ladder the
    * parquet path uses.
    */
  def snapshotOrc(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 1e6).cast("long").as("micros"), col("pdate"))
    val dir = Stores.temp("graft_vt_orc")
    create(ev.filter(col("event_id") % 3 === 0), dir, "pdate", format = "orc")
    append(ev.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    delete(spark, dir, "pdate",
      col("event_type") === "view" && col("user_id") % 7 === 1)
    def filesOf(df: DataFrame): Long = {
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = {
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        val here = p match {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
          case _ => 0L
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        here + kids.map(walk).sum
      }
      walk(df.queryExecution.executedPlan)
    }
    val head = spark.read.format("graft-snapshot").load(dir)
    // the micros ceiling splits files: value is uniform, so a tight top
    // band proves per-file ORC min/max skipping without a magic constant
    val hiBand = ev.agg(max(col("micros"))).collect()(0).getLong(0)
    val skipOk = requireOrcSkip(
      filesOf(head.filter(col("micros") > lit(hiBand))), filesOf(head))
    val summaries = (0 to 2).map { v =>
      readVersion(spark, dir, v).agg(
        lit(v).as("version"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(col("micros")).cast("long").as("sum_micros"),
        countDistinct(col("pdate")).cast("long").as("n_days"))
    }
    summaries.reduce(_ unionByName _)
      .withColumn("orc_file_skip_ok", lit(skipOk))
      .select("version", "n_rows", "sum_micros", "n_days", "orc_file_skip_ok")
      .orderBy("version")
  }

  def snapshotOrcSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events),
      |v AS (
      |  SELECT 0 AS version, * FROM e WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT 1, * FROM e
      |  UNION ALL
      |  SELECT 2, * FROM e
      |  WHERE NOT (event_type = 'view' AND user_id % 7 = 1))
      |SELECT version, count(*) AS n_rows,
      |       CAST(sum(micros) AS BIGINT) AS sum_micros,
      |       CAST(count(DISTINCT pdate) AS BIGINT) AS n_days,
      |       TRUE AS orc_file_skip_ok
      |FROM v GROUP BY version ORDER BY version""".stripMargin

  /** Oracle-gated FORMAT-MIGRATION entry: an ORC-native table (the
    * reference's storage format) converts to parquet in one commit,
    * then takes a merge-on-read delete — the operation the migration
    * UNLOCKS (position vectors need parquet's `_metadata.row_index`).
    * Censuses per version are oracle-recomputed from the slice
    * predicates; the gated row also carries the physical evidence
    * (pre-convert leaves all `.orc`, post-convert all `.parquet`) as
    * booleans, so the migration itself is hash-checked, not assumed.
    */
  def snapshotConvertFormat(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 1e6).cast("long").as("micros"), col("pdate"))
    val dir = Stores.temp("graft_vt_convert")
    create(ev, dir, "pdate", format = "orc")
    val orcLeavesOk =
      liveDataFiles(spark, dir).forall(_.endsWith(".orc"))
    convertFormat(spark, dir, "pdate", "parquet")
    val parquetLeavesOk =
      liveDataFiles(spark, dir).forall(_.endsWith(".parquet"))
    deleteMergeOnRead(spark, dir,
      col("event_type") === "click" && col("user_id") % 5 === 2)
    val summaries = (0 to 2).map { v =>
      readVersion(spark, dir, v).agg(
        lit(v).as("version"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(col("micros")).cast("long").as("sum_micros"))
    }
    summaries.reduce(_ unionByName _)
      .withColumn("orc_before", lit(orcLeavesOk))
      .withColumn("parquet_after", lit(parquetLeavesOk))
      .select("version", "n_rows", "sum_micros", "orc_before",
        "parquet_after")
      .orderBy("version")
  }

  def snapshotConvertFormatSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events),
      |v AS (
      |  SELECT 0 AS version, * FROM e
      |  UNION ALL
      |  SELECT 1, * FROM e
      |  UNION ALL
      |  SELECT 2, * FROM e
      |  WHERE NOT (event_type = 'click' AND user_id % 5 = 2))
      |SELECT version, count(*) AS n_rows,
      |       CAST(sum(micros) AS BIGINT) AS sum_micros,
      |       TRUE AS orc_before, TRUE AS parquet_after
      |FROM v GROUP BY version ORDER BY version""".stripMargin

  /** Oracle-gated SQL DML entry: the catalog surface end-to-end — the
    * whole mutation lifecycle driven by the statements a Delta/Iceberg
    * user actually types, against one versioned table:
    * v0 `VersionedTable.create`, v1 `INSERT INTO … SELECT`,
    * v2 `DELETE FROM … WHERE` (modulo predicate — no V1 Filter form, so
    * this exercises the DML rule's arbitrary-Catalyst path, not
    * `SupportsDelete`), v3 `UPDATE … SET … WHERE` (RHS reads the old
    * row), v4 canonical-upsert `MERGE INTO` (updates matched keys,
    * inserts new ones — including rows for a partition value that did
    * not exist before). Every version's census is then read back
    * through SQL time travel (`VERSION AS OF v`), and the oracle
    * recomputes all five from the slice predicates alone. `DELETE FROM`
    * IS the reference's product as a statement
    * (deletion/DeletionExecutor.java:139-230).
    */
  def snapshotSqlDml(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 1e6).cast("long").as("micros"))
    val dir = Stores.temp("graft_vt_sqldml")
    create(ev.filter(col("event_id") % 2 === 0), dir, "event_type")
    val t = s"graft.`$dir`"
    ev.filter(col("event_id") % 2 === 1)
      .createOrReplaceTempView("graft_sqldml_odds")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_sqldml_odds")
    spark.sql(
      s"DELETE FROM $t WHERE event_type = 'click' AND user_id % 5 = 2")
    spark.sql(s"UPDATE $t SET micros = micros + user_id " +
      "WHERE event_type = 'view' AND user_id % 7 = 3")
    val synthetic = spark.createDataFrame(Seq(
      (-1L, 0L, "merged", 111L), (-2L, 0L, "merged", 222L)))
      .toDF("event_id", "user_id", "event_type", "micros")
    ev.filter(col("event_id") % 97 === 0)
      .withColumn("micros", col("micros") * 2)
      .unionByName(synthetic)
      .createOrReplaceTempView("graft_sqldml_src")
    spark.sql(s"""MERGE INTO $t tg USING graft_sqldml_src s
      ON tg.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // v5: MERGE with a residual ON conjunct (`AND s.micros > tg.micros`
    // — the dedup-upsert idiom): the residual gates the MATCH itself,
    // so a key-equal-but-not-larger source row fires nothing
    ev.filter(col("event_id") % 11 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("micros") * 3).as("micros"))
      .createOrReplaceTempView("graft_sqldml_res")
    spark.sql(s"""MERGE INTO $t tg USING graft_sqldml_res s
      ON tg.event_id = s.event_id AND s.micros > tg.micros
      WHEN MATCHED THEN UPDATE SET tg.micros = s.micros""")
    (0 to 5).map { v =>
      spark.sql(s"""SELECT $v AS version, count(*) AS n_rows,
        CAST(sum(micros) AS BIGINT) AS sum_micros,
        CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        FROM $t VERSION AS OF $v""")
    }.reduce(_ unionByName _).orderBy("version")
  }

  def snapshotSqlDmlSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events),
      |v2 AS (SELECT * FROM e
      |       WHERE NOT (event_type = 'click' AND user_id % 5 = 2)),
      |v3 AS (SELECT event_id, user_id, event_type,
      |         CASE WHEN event_type = 'view' AND user_id % 7 = 3
      |              THEN micros + user_id ELSE micros END AS micros
      |       FROM v2),
      |src AS (SELECT event_id, user_id, event_type, micros * 2 AS micros
      |        FROM e WHERE event_id % 97 = 0
      |        UNION ALL
      |        SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'merged', CAST(111 AS BIGINT)),
      |                              (CAST(-2 AS BIGINT), CAST(0 AS BIGINT), 'merged', CAST(222 AS BIGINT)))
      |          AS s(event_id, user_id, event_type, micros)),
      |v4 AS (SELECT * FROM v3
      |       WHERE event_id NOT IN (SELECT event_id FROM src)
      |       UNION ALL SELECT * FROM src),
      |res AS (SELECT event_id, micros * 3 AS m3 FROM e
      |        WHERE event_id % 11 = 0),
      |v5 AS (SELECT v4.event_id, v4.user_id, v4.event_type,
      |         CASE WHEN res.m3 IS NOT NULL AND res.m3 > v4.micros
      |              THEN res.m3 ELSE v4.micros END AS micros
      |       FROM v4 LEFT JOIN res ON v4.event_id = res.event_id),
      |u AS (
      |  SELECT 0 AS version, * FROM e WHERE event_id % 2 = 0
      |  UNION ALL SELECT 1, * FROM e
      |  UNION ALL SELECT 2, * FROM v2
      |  UNION ALL SELECT 3, * FROM v3
      |  UNION ALL SELECT 4, * FROM v4
      |  UNION ALL SELECT 5, * FROM v5)
      |SELECT version, count(*) AS n_rows,
      |       CAST(sum(micros) AS BIGINT) AS sum_micros,
      |       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      |FROM u GROUP BY version ORDER BY version""".stripMargin

  /** Oracle-gated SUBQUERY-DML + SYNC entry: the GDPR statement shape —
    * `DELETE FROM t WHERE user_id IN (SELECT …)` and the matching
    * `UPDATE … WHERE … IN (SELECT …)` — running the JOIN-form
    * membership kernels ([[deleteMatching]]/[[updateMatching]]; the
    * key set never collects to the driver), then the table-sync idiom
    * `MERGE … WHEN NOT MATCHED BY SOURCE AND … THEN DELETE` with a
    * key-only source, then the EXISTS family — equality-correlated
    * `EXISTS` DELETE (v4), `NOT EXISTS` + residual + uncorrelated
    * EXISTS DELETE (v5), and `EXISTS` UPDATE (v6) — through the same
    * semi/anti membership kernels. Every key set is itself a subquery
    * over the table's own rows, so the oracle recomputes every census
    * from the slice predicates alone.
    */
  def snapshotSqlSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 1e6).cast("long").as("micros"))
    val dir = Stores.temp("graft_vt_sqlsub")
    create(ev, dir, "event_type")
    val t = s"graft.`$dir`"
    ev.filter(col("user_id") % 13 === 4).select("user_id").distinct()
      .createOrReplaceTempView("graft_sqlsub_takedown")
    spark.sql(s"""DELETE FROM $t
      WHERE user_id IN (SELECT user_id FROM graft_sqlsub_takedown)
        AND event_type = 'click'""")
    spark.sql(s"""UPDATE $t SET micros = 0
      WHERE user_id IN (SELECT user_id FROM graft_sqlsub_takedown)
        AND event_type = 'view'""")
    // v3: table sync — MERGE NOT MATCHED BY SOURCE deletes the clicks
    // whose key is absent from the keep-set (key-only source)
    ev.filter(col("event_id") % 3 === 0).select("event_id").distinct()
      .createOrReplaceTempView("graft_sqlsub_keep")
    spark.sql(s"""MERGE INTO $t tg USING graft_sqlsub_keep s
      ON tg.event_id = s.event_id
      WHEN NOT MATCHED BY SOURCE AND tg.event_type = 'click' THEN DELETE""")
    // v4: equality-correlated EXISTS (the same semi-join membership
    // kernel; the inner uncorrelated conjunct stays inside the key plan)
    spark.sql(s"""DELETE FROM $t tg WHERE EXISTS (
      SELECT 1 FROM graft_sqlsub_takedown s
      WHERE s.user_id = tg.user_id AND s.user_id % 2 = 0)""")
    // v5: NOT EXISTS (anti join) + residual + an uncorrelated EXISTS
    // that resolves to a statement constant at run time
    spark.sql(s"""DELETE FROM $t tg WHERE NOT EXISTS (
      SELECT 1 FROM graft_sqlsub_keep k WHERE k.event_id = tg.event_id)
      AND tg.event_type = 'purchase'
      AND EXISTS (SELECT 1 FROM graft_sqlsub_keep)""")
    // v6: UPDATE through the EXISTS membership form
    spark.sql(s"""UPDATE $t tg SET micros = micros + 1 WHERE EXISTS (
      SELECT 1 FROM graft_sqlsub_keep k WHERE tg.event_id = k.event_id)
      AND tg.event_type = 'signup'""")
    // v7: plant NULL-component rows — the tuple NOT IN 3VL needs them
    spark.sql(s"""INSERT INTO $t VALUES
      (2000001, NULL, 'probe', 11), (2000002, NULL, 'probe', 12),
      (2000003, 5, 'probe', 13), (2000004, 6, 'probe', 14)""")
    // v8: TUPLE NOT IN delete — exact SQL-spec 3VL: a row deletes only
    // when EVERY set tuple is definitely unequal (some component pair
    // both-non-null and different). The set carries a NULL-component
    // tuple (NULL, 'probe'), so every probe row compares UNKNOWN to it
    // and survives; non-kept error rows are definitely outside and go.
    ev.filter(col("user_id") % 4 === 1).select(col("user_id")).distinct()
      .withColumn("event_type", lit("error"))
      .unionByName(spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS user_id, 'probe' AS event_type"))
      .createOrReplaceTempView("graft_sqlsub_tuples")
    spark.sql(s"""DELETE FROM $t
      WHERE (user_id, event_type) NOT IN (
        SELECT user_id, event_type FROM graft_sqlsub_tuples)
      AND event_type IN ('probe', 'error')""")
    // v9: TUPLE NOT IN update — (NULL, 'probe') rows compare UNKNOWN to
    // (5, 'probe') and carry; (6, 'probe') is definitely unequal and
    // takes the assignment; (5, 'probe') is IN and carries
    spark.sql(s"""UPDATE $t SET micros = -5
      WHERE (user_id, event_type) NOT IN (
        SELECT CAST(5 AS BIGINT) AS user_id, 'probe' AS event_type)
      AND event_type = 'probe'""")
    // v10: EQUALITY-CORRELATED SCALAR delete — per-user avg(view
    // micros) as a grouped-aggregate left join; users with no view
    // rows (and the NULL-user probe rows) read NULL → UNKNOWN → survive
    ev.filter(col("event_type") === "view").select("user_id", "micros")
      .createOrReplaceTempView("graft_sqlsub_scal")
    spark.sql(s"""DELETE FROM $t tg WHERE tg.micros < (
      SELECT avg(s.micros) FROM graft_sqlsub_scal s
      WHERE s.user_id = tg.user_id) AND tg.event_type = 'error'""")
    // v11: correlated COUNT update — a key with no subquery rows counts
    // 0 (the left join's null-fill coalesced), never NULL, so signup
    // rows of users with no view events take the assignment
    spark.sql(s"""UPDATE $t tg SET micros = micros + 7 WHERE (
      SELECT count(*) FROM graft_sqlsub_scal s
      WHERE s.user_id = tg.user_id) = 0 AND tg.event_type = 'signup'""")
    (0 to 11).map { v =>
      spark.sql(s"""SELECT $v AS version, count(*) AS n_rows,
        CAST(sum(micros) AS BIGINT) AS sum_micros
        FROM $t VERSION AS OF $v""")
    }.reduce(_ unionByName _).orderBy("version")
  }

  def snapshotSqlSubquerySql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events),
      |t AS (SELECT DISTINCT user_id FROM e WHERE user_id % 13 = 4),
      |v1 AS (SELECT * FROM e
      |       WHERE NOT (user_id IN (SELECT user_id FROM t)
      |                  AND event_type = 'click')),
      |v2 AS (SELECT event_id, user_id, event_type,
      |         CASE WHEN user_id IN (SELECT user_id FROM t)
      |                   AND event_type = 'view'
      |              THEN 0 ELSE micros END AS micros
      |       FROM v1),
      |v3 AS (SELECT * FROM v2
      |       WHERE NOT (event_id % 3 <> 0 AND event_type = 'click')),
      |v4 AS (SELECT * FROM v3
      |       WHERE NOT (user_id % 13 = 4 AND user_id % 2 = 0)),
      |v5 AS (SELECT * FROM v4
      |       WHERE NOT (event_type = 'purchase' AND event_id % 3 <> 0)),
      |v6 AS (SELECT event_id, user_id, event_type,
      |         CASE WHEN event_id % 3 = 0 AND event_type = 'signup'
      |              THEN micros + 1 ELSE micros END AS micros
      |       FROM v5),
      |v7 AS (SELECT * FROM v6
      |       UNION ALL SELECT * FROM (VALUES
      |         (CAST(2000001 AS BIGINT), CAST(NULL AS BIGINT), 'probe', CAST(11 AS BIGINT)),
      |         (CAST(2000002 AS BIGINT), CAST(NULL AS BIGINT), 'probe', CAST(12 AS BIGINT)),
      |         (CAST(2000003 AS BIGINT), CAST(5 AS BIGINT), 'probe', CAST(13 AS BIGINT)),
      |         (CAST(2000004 AS BIGINT), CAST(6 AS BIGINT), 'probe', CAST(14 AS BIGINT)))
      |         AS p(event_id, user_id, event_type, micros)),
      |tup AS (SELECT DISTINCT user_id, 'error' AS event_type FROM e
      |        WHERE user_id % 4 = 1
      |        UNION ALL SELECT CAST(NULL AS BIGINT), 'probe'),
      |-- tuple NOT IN as its SQL-spec expansion: the row goes only when
      |-- EVERY set tuple is definitely unequal, i.e. NO set tuple
      |-- matches with every component equal-or-either-side-NULL
      |v8 AS (SELECT * FROM v7 WHERE NOT (
      |         event_type IN ('probe', 'error')
      |         AND NOT EXISTS (SELECT 1 FROM tup s
      |           WHERE (v7.user_id IS NOT DISTINCT FROM s.user_id
      |                  OR v7.user_id IS NULL OR s.user_id IS NULL)
      |             AND (v7.event_type IS NOT DISTINCT FROM s.event_type
      |                  OR v7.event_type IS NULL OR s.event_type IS NULL)))),
      |v9 AS (SELECT event_id, user_id, event_type,
      |         CASE WHEN event_type = 'probe'
      |                   AND NOT (user_id IS NOT DISTINCT FROM 5
      |                            OR user_id IS NULL)
      |              THEN -5 ELSE micros END AS micros
      |       FROM v8),
      |scal AS (SELECT user_id, micros FROM e WHERE event_type = 'view'),
      |-- correlated SCALAR delete: survivors are NOT-definitely-true
      |-- (COALESCE over the NULL scalar of a no-view user keeps the
      |-- UNKNOWN rows — the engine's 3VL)
      |v10 AS (SELECT * FROM v9 WHERE NOT COALESCE(
      |         micros < (SELECT avg(s.micros) FROM scal s
      |                   WHERE s.user_id = v9.user_id)
      |         AND event_type = 'error', FALSE)),
      |v11 AS (SELECT event_id, user_id, event_type,
      |         CASE WHEN (SELECT count(*) FROM scal s
      |                    WHERE s.user_id = v10.user_id) = 0
      |                   AND event_type = 'signup'
      |              THEN micros + 7 ELSE micros END AS micros
      |       FROM v10),
      |u AS (
      |  SELECT 0 AS version, * FROM e
      |  UNION ALL SELECT 1, * FROM v1
      |  UNION ALL SELECT 2, * FROM v2
      |  UNION ALL SELECT 3, * FROM v3
      |  UNION ALL SELECT 4, * FROM v4
      |  UNION ALL SELECT 5, * FROM v5
      |  UNION ALL SELECT 6, * FROM v6
      |  UNION ALL SELECT 7, * FROM v7
      |  UNION ALL SELECT 8, * FROM v8
      |  UNION ALL SELECT 9, * FROM v9
      |  UNION ALL SELECT 10, * FROM v10
      |  UNION ALL SELECT 11, * FROM v11)
      |SELECT version, count(*) AS n_rows,
      |       CAST(sum(micros) AS BIGINT) AS sum_micros
      |FROM u GROUP BY version ORDER BY version""".stripMargin

  /** Oracle-gated SCHEMA-EVOLUTION entry: one table through the full
    * column lifecycle — `ALTER TABLE ADD COLUMNS` (metadata-only
    * widening; old rows read null), an append CARRYING the new column,
    * `ALTER TABLE DROP COLUMN` (metadata-only narrowing; prior versions
    * keep the column via time travel), then DML over the narrowed
    * schema. The census reads every version back through `VERSION AS
    * OF` with its own schema width and the evolved column's sum, so the
    * oracle independently checks that widening/narrowing are pure
    * METADATA moves (no row ever changes except where a statement says
    * so).
    */
  def snapshotSqlEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 1e6).cast("long").as("micros"))
    val dir = Stores.temp("graft_vt_sqlevo")
    create(ev, dir, "event_type")
    val t = s"graft.`$dir`"
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (flag BIGINT)") // v1
    ev.filter(col("event_id") % 5 === 0)
      .select(col("event_id") + 1000000L, col("user_id"),
        col("event_type"), col("micros"),
        (col("event_id") % 7).as("flag"))
      .createOrReplaceTempView("graft_sqlevo_ins")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_sqlevo_ins") // v2
    spark.sql(s"ALTER TABLE $t DROP COLUMN flag") // v3
    spark.sql(s"DELETE FROM $t " +
      "WHERE event_type = 'error' AND event_id > 1000000") // v4
    // RENAME COLUMN (metadata-only column mapping), then DML through
    // the new name — pre-rename versions keep reading 'micros'
    spark.sql(s"ALTER TABLE $t RENAME COLUMN micros TO qty_micros") // v5
    spark.sql(s"DELETE FROM $t " +
      "WHERE event_type = 'click' AND qty_micros % 3 = 0") // v6
    // ALTER COLUMN TYPE (metadata-only lossless widening): an INT
    // column lands, an append carries INT values, the widen commits,
    // then a post-widen append carries values beyond int range — the
    // census mixes promoted old-leaf and native wide rows in one scan
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (score INT)") // v7
    ev.filter(col("event_id") % 17 === 0)
      .select(col("event_id") + 2000000L, col("user_id"),
        col("event_type"), col("micros").as("qty_micros"),
        (col("event_id") % 1000).cast("int").as("score"))
      .createOrReplaceTempView("graft_sqlevo_ins2")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_sqlevo_ins2") // v8
    spark.sql(s"ALTER TABLE $t ALTER COLUMN score TYPE BIGINT") // v9
    ev.filter(col("event_id") % 23 === 0)
      .select(col("event_id") + 3000000L, col("user_id"),
        col("event_type"), col("micros").as("qty_micros"),
        (col("event_id") + 3000000000L).as("score"))
      .createOrReplaceTempView("graft_sqlevo_ins3")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_sqlevo_ins3") // v10
    // ADD COLUMNS with a DEFAULT (frozen constant): EXISTING rows read
    // it (reader EXISTS_DEFAULT fill, not a null-fill), and an INSERT
    // that OMITS the column takes it (analyzer CURRENT_DEFAULT)
    spark.sql(s"ALTER TABLE $t " +
      "ADD COLUMNS (tier STRING DEFAULT 'std')") // v11
    ev.filter(col("event_id") % 31 === 0)
      .select((col("event_id") + 4000000L).as("event_id"),
        col("user_id"), col("event_type"),
        col("micros").as("qty_micros"))
      .createOrReplaceTempView("graft_sqlevo_ins4")
    spark.sql(s"INSERT INTO $t (event_id, user_id, event_type, " +
      "qty_micros) SELECT * FROM graft_sqlevo_ins4") // v12
    // NESTED (struct-field) era: a struct column lands, an append
    // carries struct values, then the nested lifecycle — ADD a field
    // (old structs read null), RENAME a field (column mapping one tree
    // level down; the UPDATE below filters on the NEW name over OLD
    // leaves, which only answers if the mapping carried the values),
    // UPDATE of one nested field (struct rebuild in the COW kernel),
    // DROP a field (metadata narrowing)
    spark.sql(s"ALTER TABLE $t " +
      "ADD COLUMNS (ctx STRUCT<src: STRING, score: BIGINT>)") // v13
    ev.filter(col("event_id") % 13 === 0)
      .select((col("event_id") + 5000000L).as("event_id"),
        col("user_id"), col("event_type"),
        col("micros").as("qty_micros"),
        lit(null).cast("long").as("score"), lit("x").as("tier"),
        struct(col("event_type").as("src"),
          col("user_id").as("score")).as("ctx"))
      .createOrReplaceTempView("graft_sqlevo_ins5")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_sqlevo_ins5") // v14
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (ctx.lang STRING)") // v15
    spark.sql(s"ALTER TABLE $t RENAME COLUMN ctx.src TO origin") // v16
    spark.sql(s"UPDATE $t SET ctx.score = ctx.score * 2 " +
      "WHERE ctx.origin = 'click'") // v17
    spark.sql(s"ALTER TABLE $t DROP COLUMN ctx.lang") // v18
    (0 to 18).map { v =>
      val snap = spark.sql(s"SELECT * FROM $t VERSION AS OF $v")
      val sumFlag =
        if (snap.columns.contains("flag")) sum(col("flag"))
        else lit(null).cast("long")
      val sumScore =
        if (snap.columns.contains("score")) sum(col("score"))
        else lit(null).cast("long")
      val nStd =
        if (snap.columns.contains("tier"))
          sum(when(col("tier") === "std", 1L).otherwise(0L))
        else lit(null).cast("long")
      val hasCtx = snap.columns.contains("ctx")
      val sumCScore =
        if (hasCtx) sum(col("ctx.score")) else lit(null).cast("long")
      val ctxFields: Column =
        if (hasCtx) lit(snap.schema("ctx").dataType
          .asInstanceOf[StructType].fields.length.toLong)
        else lit(null).cast("long")
      val micros =
        if (snap.columns.contains("micros")) col("micros")
        else col("qty_micros")
      snap.agg(count(lit(1)).as("n_rows"),
          sum(micros).cast("long").as("sum_micros"),
          sumFlag.cast("long").as("sum_flag"),
          sumScore.cast("long").as("sum_score"),
          nStd.cast("long").as("n_std"),
          sumCScore.cast("long").as("sum_cscore"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_micros"),
          lit(snap.columns.length).as("n_cols"), col("sum_flag"),
          col("sum_score"), col("n_std"), col("sum_cscore"),
          ctxFields.as("ctx_fields"))
    }.reduce(_ unionByName _).orderBy("version")
  }

  def snapshotSqlEvolutionSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events),
      |ins AS (SELECT event_id + 1000000 AS event_id, user_id,
      |               event_type, micros, event_id % 7 AS flag
      |        FROM e WHERE event_id % 5 = 0),
      |v2 AS (SELECT event_id, user_id, event_type, micros,
      |              CAST(NULL AS BIGINT) AS flag FROM e
      |       UNION ALL SELECT * FROM ins),
      |v4 AS (SELECT event_id, user_id, event_type, micros FROM v2
      |       WHERE NOT (event_type = 'error' AND event_id > 1000000)),
      |v6 AS (SELECT * FROM v4
      |       WHERE NOT (event_type = 'click' AND micros % 3 = 0)),
      |ins2 AS (SELECT event_id + 2000000 AS event_id, user_id,
      |                event_type, micros, event_id % 1000 AS score
      |         FROM e WHERE event_id % 17 = 0),
      |v8 AS (SELECT event_id, user_id, event_type, micros,
      |              CAST(NULL AS BIGINT) AS score FROM v6
      |       UNION ALL SELECT * FROM ins2),
      |ins3 AS (SELECT event_id + 3000000 AS event_id, user_id,
      |                event_type, micros,
      |                event_id + 3000000000 AS score
      |         FROM e WHERE event_id % 23 = 0),
      |v10 AS (SELECT * FROM v8 UNION ALL SELECT * FROM ins3),
      |ins4 AS (SELECT event_id + 4000000 AS event_id, user_id,
      |                event_type, micros, CAST(NULL AS BIGINT) AS score
      |         FROM e WHERE event_id % 31 = 0),
      |v12 AS (SELECT * FROM v10 UNION ALL SELECT * FROM ins4),
      |-- nested era: the struct column's field values as plain columns
      |-- (the census only aggregates scalars, so the oracle never needs
      |-- a struct type); pre-v14 rows carry a NULL struct
      |ins5 AS (SELECT event_id + 5000000 AS event_id, user_id,
      |                event_type, micros, event_type AS c_src,
      |                user_id AS c_score
      |         FROM e WHERE event_id % 13 = 0),
      |v14 AS (SELECT event_id, user_id, event_type, micros, score,
      |               'std' AS tier, CAST(NULL AS VARCHAR) AS c_src,
      |               CAST(NULL AS BIGINT) AS c_score FROM v12
      |        UNION ALL
      |        SELECT event_id, user_id, event_type, micros,
      |               CAST(NULL AS BIGINT), 'x', c_src, c_score
      |        FROM ins5),
      |v17 AS (SELECT event_id, user_id, event_type, micros, score,
      |               tier, c_src,
      |               CASE WHEN c_src = 'click' THEN c_score * 2
      |                    ELSE c_score END AS c_score
      |        FROM v14),
      |u AS (
      |  SELECT 0 AS version, count(*) AS n_rows,
      |         CAST(sum(micros) AS BIGINT) AS sum_micros, 4 AS n_cols,
      |         CAST(NULL AS BIGINT) AS sum_flag,
      |         CAST(NULL AS BIGINT) AS sum_score,
      |         CAST(NULL AS BIGINT) AS n_std,
      |         CAST(NULL AS BIGINT) AS sum_cscore,
      |         CAST(NULL AS BIGINT) AS ctx_fields FROM e
      |  UNION ALL SELECT 1, count(*), CAST(sum(micros) AS BIGINT), 5,
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM e
      |  UNION ALL SELECT 2, count(*), CAST(sum(micros) AS BIGINT), 5,
      |         CAST(sum(flag) AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v2
      |  UNION ALL SELECT 3, count(*), CAST(sum(micros) AS BIGINT), 4,
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v2
      |  UNION ALL SELECT 4, count(*), CAST(sum(micros) AS BIGINT), 4,
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v4
      |  UNION ALL SELECT 5, count(*), CAST(sum(micros) AS BIGINT), 4,
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v4
      |  UNION ALL SELECT 6, count(*), CAST(sum(micros) AS BIGINT), 4,
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v6
      |  UNION ALL SELECT 7, count(*), CAST(sum(micros) AS BIGINT), 5,
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v6
      |  UNION ALL SELECT 8, count(*), CAST(sum(micros) AS BIGINT), 5,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v8
      |  UNION ALL SELECT 9, count(*), CAST(sum(micros) AS BIGINT), 5,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v8
      |  UNION ALL SELECT 10, count(*), CAST(sum(micros) AS BIGINT), 5,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v10
      |  UNION ALL SELECT 11, count(*), CAST(sum(micros) AS BIGINT), 6,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         count(*), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v10
      |  UNION ALL SELECT 12, count(*), CAST(sum(micros) AS BIGINT), 6,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         count(*), CAST(NULL AS BIGINT),
      |         CAST(NULL AS BIGINT) FROM v12
      |  UNION ALL SELECT 13, count(*), CAST(sum(micros) AS BIGINT), 7,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         count(*), CAST(NULL AS BIGINT),
      |         CAST(2 AS BIGINT) FROM v12
      |  UNION ALL SELECT 14, count(*), CAST(sum(micros) AS BIGINT), 7,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(sum(CASE WHEN tier = 'std' THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(sum(c_score) AS BIGINT), CAST(2 AS BIGINT) FROM v14
      |  UNION ALL SELECT 15, count(*), CAST(sum(micros) AS BIGINT), 7,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(sum(CASE WHEN tier = 'std' THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(sum(c_score) AS BIGINT), CAST(3 AS BIGINT) FROM v14
      |  UNION ALL SELECT 16, count(*), CAST(sum(micros) AS BIGINT), 7,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(sum(CASE WHEN tier = 'std' THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(sum(c_score) AS BIGINT), CAST(3 AS BIGINT) FROM v14
      |  UNION ALL SELECT 17, count(*), CAST(sum(micros) AS BIGINT), 7,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(sum(CASE WHEN tier = 'std' THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(sum(c_score) AS BIGINT), CAST(3 AS BIGINT) FROM v17
      |  UNION ALL SELECT 18, count(*), CAST(sum(micros) AS BIGINT), 7,
      |         CAST(NULL AS BIGINT), CAST(sum(score) AS BIGINT),
      |         CAST(sum(CASE WHEN tier = 'std' THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(sum(c_score) AS BIGINT), CAST(2 AS BIGINT) FROM v17)
      |SELECT version, n_rows, sum_micros, n_cols, sum_flag, sum_score,
      |       n_std, sum_cscore, ctx_fields
      |FROM u ORDER BY version""".stripMargin

  /** Oracle-gated HIDDEN-PARTITIONING entry: a `days(ts)`-partitioned
    * table (Iceberg hidden partitioning over the manifest layout)
    * through create → append → COW delete → COW update, every predicate
    * a PLAIN `ts`/`event_type` condition — no partition column is ever
    * named. The census reads each version back plus a head range probe
    * whose day-directory pruning is spec-pinned
    * ([[graft.sources.HiddenPartitionSpec]]); the oracle recomputes all
    * of it from the raw events, so the derived layout can never change
    * results, only file selection.
    */
  def snapshotHiddenPartition(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"),
      round(col("value") * 1e6).cast("long").as("micros"))
    val dir = Stores.temp("graft_vt_hidden")
    create(ev.filter(col("event_id") % 2 === 0), dir, "days(ts)")
    val t = s"graft.`$dir`"
    ev.filter(col("event_id") % 2 === 1)
      .createOrReplaceTempView("graft_hidden_ins")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_hidden_ins") // v1
    spark.sql(s"DELETE FROM $t " +
      "WHERE ts >= TIMESTAMP'2024-01-10 00:00:00' " +
      "AND ts < TIMESTAMP'2024-01-20 00:00:00' " +
      "AND event_type = 'click'") // v2: affected day tuples rewrite
    spark.sql(s"UPDATE $t SET micros = micros + user_id " +
      "WHERE ts >= TIMESTAMP'2024-01-25 00:00:00' " +
      "AND event_type = 'view'") // v3
    val census = (0 to 3).map { v =>
      spark.sql(s"SELECT * FROM $t VERSION AS OF $v")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("micros")).cast("long").as("sum_micros"),
          countDistinct(col("ts").cast("date")).cast("long").as("n_days"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_micros"),
          col("n_days"))
    }.reduce(_ unionByName _)
    // head probe over a 3-day window — the query whose leaf pruning the
    // spec pins; here its RESULT is what the oracle checks
    val probe = spark.sql(s"SELECT * FROM $t " +
      "WHERE ts >= TIMESTAMP'2024-01-05 00:00:00' " +
      "AND ts < TIMESTAMP'2024-01-08 00:00:00'")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("micros")).cast("long").as("sum_micros"),
        countDistinct(col("ts").cast("date")).cast("long").as("n_days"))
      .select(lit(99).as("version"), col("n_rows"), col("sum_micros"),
        col("n_days"))
    census.unionByName(probe).orderBy("version")
  }

  def snapshotHiddenPartitionSql(): String =
    """WITH e AS (
      |  SELECT event_id, ts, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events),
      |v2 AS (SELECT * FROM e
      |       WHERE NOT (ts >= TIMESTAMP '2024-01-10 00:00:00'
      |                  AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |                  AND event_type = 'click')),
      |v3 AS (SELECT event_id, ts, user_id, event_type,
      |              CASE WHEN ts >= TIMESTAMP '2024-01-25 00:00:00'
      |                        AND event_type = 'view'
      |                   THEN micros + user_id ELSE micros END AS micros
      |       FROM v2),
      |u AS (
      |  SELECT 0 AS version, count(*) AS n_rows,
      |         CAST(sum(micros) AS BIGINT) AS sum_micros,
      |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
      |  FROM e WHERE event_id % 2 = 0
      |  UNION ALL SELECT 1, count(*), CAST(sum(micros) AS BIGINT),
      |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM e
      |  UNION ALL SELECT 2, count(*), CAST(sum(micros) AS BIGINT),
      |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM v2
      |  UNION ALL SELECT 3, count(*), CAST(sum(micros) AS BIGINT),
      |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM v3
      |  UNION ALL SELECT 99, count(*), CAST(sum(micros) AS BIGINT),
      |         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM v3
      |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
      |    AND ts < TIMESTAMP '2024-01-08 00:00:00')
      |SELECT version, n_rows, sum_micros, n_days
      |FROM u ORDER BY version""".stripMargin

  /** Oracle-gated CHANGE FEED entry: one versioned table through four
    * commit kinds — append, COW delete, MOR vector delete, COW update —
    * then [[changeFeed]] over the whole range, aggregated per
    * (commit, change type). The oracle recomputes every commit's exact
    * delta from the slice predicates alone, so the diff engine
    * (manifest-restricted exceptAll, carried-row cancellation, vector
    * application) is hash-checked end-to-end by an independent engine.
    */
  def snapshotChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 1e6).cast("long").as("micros"))
    val dir = Stores.temp("graft_vt_cdf")
    create(ev.filter(col("event_id") % 2 === 0), dir, "event_type")
    append(ev.filter(col("event_id") % 2 === 1), dir, "event_type") // v1
    delete(spark, dir, "event_type",
      col("event_type") === "click" && col("user_id") % 5 === 2) // v2 COW
    deleteMergeOnRead(spark, dir, col("user_id") % 11 === 7) // v3 MOR
    update(spark, dir, "event_type",
      col("event_type") === "view" && col("user_id") % 7 === 3,
      Seq("micros" -> (col("micros") + col("user_id")))) // v4 COW update
    changeFeed(spark, dir, 0, 4)
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("micros")).cast("long").as("sum_micros"))
      .orderBy("version", "change_type")
  }

  /** Row-tracking lifecycle (rowTracking=true table): create + append
    * + COW delete + COW update + compact, then one summary row per
    * version — business columns (row count, micros sum, change-feed
    * row counts) the oracle reproduces in SQL, plus in-query id AUDITS
    * (unique/non-null ids, id stability across every commit, exact
    * pre↔post id pairing) the oracle pins as literal TRUE. The compact
    * version's zero change rows pin "carries cancel by id".
    */
  def snapshotRowTracking(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 1e6).cast("long").as("micros"))
    val dir = Stores.temp("graft_vt_rowid")
    create(ev.filter(col("event_id") % 2 === 0), dir, "event_type",
      rowTracking = true)                                          // v0
    append(ev.filter(col("event_id") % 2 === 1), dir, "event_type") // v1
    delete(spark, dir, "event_type",
      col("event_type") === "click" && col("user_id") % 5 === 2)   // v2
    update(spark, dir, "event_type",
      col("event_type") === "view" && col("user_id") % 7 === 3,
      Seq("micros" -> (col("micros") + col("user_id"))))           // v3
    compact(spark, dir, "event_type")                              // v4
    // the lifecycle above is sequential by nature (v depends on v-1);
    // these per-version audits are READ-ONLY over committed state —
    // independent across versions, so the five chains run as concurrent
    // driver threads (guide §2.6) and within a version the three audit
    // legs (aggregate, stability join, change-feed checks) overlap too
    val rows = graft.core.Par.run((0 to 4).map { v => () =>
      val s = readVersionWithRowIds(spark, dir, v)
      val legs = graft.core.Par.run[Any](Seq(
        () => {
          val agg = s.agg(
            count(lit(1)).cast("long"),
            sum(col("micros")).cast("long"),
            (count(col("_row_id")) === count(lit(1)) &&
              countDistinct(col("_row_id")) === count(lit(1)))).first()
          (agg.getLong(0), agg.getLong(1), agg.getBoolean(2))
        },
        () => v == 0 || {
          val prev = readVersionWithRowIds(spark, dir, v - 1)
            .select(col("event_id"), col("_row_id").as("rid_prev"))
          s.select(col("event_id"), col("_row_id")).join(prev, "event_id")
            .filter(col("_row_id") =!= col("rid_prev")).isEmpty
        },
        () => {
          // ONE evaluation of the feed plan for all three checks (guide
          // §3.3 "materialise an intermediate referenced many times"):
          // the naive form ran the feed THREE times — the per-type count
          // plus one full feed re-execution per exceptAll side — at ~11
          // task-seconds per evaluation (the dominant audit cost). The
          // pre↔post id pairing is the signed-count multiset equality
          // (+1 per preimage rid, -1 per postimage rid; paired ⟺ every
          // per-rid sum is 0 — exceptAll-both-ways semantics in one
          // aggregate over the pinned rows instead of two more actions).
          val feed = changeFeed(spark, dir, v - 1, v).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val byType = feed.groupBy("_change_type").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            val (nPre, nPost) = (byType.getOrElse("update_preimage", 0L),
              byType.getOrElse("update_postimage", 0L))
            val pairedOk = (nPre == 0L && nPost == 0L) ||
              feed.filter(col("_change_type").isin(
                  "update_preimage", "update_postimage"))
                .groupBy(col("_row_id"))
                .agg(sum(when(col("_change_type") === "update_preimage",
                  1L).otherwise(-1L)).as("__delta"))
                .filter(col("__delta") =!= 0L)
                .isEmpty
            (byType.values.sum, nPre, nPost, pairedOk)
          } finally feed.unpersist(blocking = false)
        }))
      val (n, sm, idsOk) = legs(0).asInstanceOf[(Long, Long, Boolean)]
      val stableOk = legs(1).asInstanceOf[Boolean]
      val (nCh, nPre, nPost, pairedOk) =
        legs(2).asInstanceOf[(Long, Long, Long, Boolean)]
      (v.toLong, n, sm, nCh, nPre, nPost, idsOk, stableOk, pairedOk)
    })
    rows.toDF("version", "n_rows", "sum_micros", "n_changes", "n_pre",
        "n_post", "ids_ok", "stable_ok", "paired_ok")
      .orderBy("version")
  }

  def snapshotRowTrackingSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events),
      |v2 AS (SELECT * FROM e
      |       WHERE NOT (event_type = 'click' AND user_id % 5 = 2)),
      |upd AS (SELECT * FROM v2
      |        WHERE event_type = 'view' AND user_id % 7 = 3),
      |v3 AS (SELECT event_id, user_id, event_type,
      |         micros + CASE WHEN event_type = 'view' AND user_id % 7 = 3
      |                       THEN user_id ELSE 0 END AS micros
      |       FROM v2),
      |s AS (
      |  SELECT 0 AS version, count(*) AS n_rows,
      |         sum(micros) AS sum_micros, count(*) AS n_changes,
      |         0 AS n_pre, 0 AS n_post
      |  FROM e WHERE event_id % 2 = 0
      |  UNION ALL SELECT 1, (SELECT count(*) FROM e),
      |    (SELECT sum(micros) FROM e),
      |    (SELECT count(*) FROM e WHERE event_id % 2 = 1), 0, 0
      |  UNION ALL SELECT 2, (SELECT count(*) FROM v2),
      |    (SELECT sum(micros) FROM v2),
      |    (SELECT count(*) FROM e WHERE event_type = 'click'
      |       AND user_id % 5 = 2), 0, 0
      |  UNION ALL SELECT 3, (SELECT count(*) FROM v3),
      |    (SELECT sum(micros) FROM v3),
      |    2 * (SELECT count(*) FROM upd),
      |    (SELECT count(*) FROM upd), (SELECT count(*) FROM upd)
      |  UNION ALL SELECT 4, (SELECT count(*) FROM v3),
      |    (SELECT sum(micros) FROM v3), 0, 0, 0)
      |SELECT CAST(version AS BIGINT) AS version,
      |       CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(sum_micros AS BIGINT) AS sum_micros,
      |       CAST(n_changes AS BIGINT) AS n_changes,
      |       CAST(n_pre AS BIGINT) AS n_pre,
      |       CAST(n_post AS BIGINT) AS n_post,
      |       TRUE AS ids_ok, TRUE AS stable_ok, TRUE AS paired_ok
      |FROM s ORDER BY version""".stripMargin

  def snapshotChangeFeedSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 1000000) AS BIGINT) AS micros
      |  FROM events),
      |d2 AS (SELECT * FROM e
      |       WHERE event_type = 'click' AND user_id % 5 = 2),
      |v2 AS (SELECT * FROM e
      |       WHERE NOT (event_type = 'click' AND user_id % 5 = 2)),
      |d3 AS (SELECT * FROM v2 WHERE user_id % 11 = 7),
      |v3 AS (SELECT * FROM v2 WHERE user_id % 11 <> 7),
      |upd AS (SELECT * FROM v3
      |        WHERE event_type = 'view' AND user_id % 7 = 3),
      |u AS (
      |  SELECT 1 AS version, 'insert' AS change_type, micros
      |  FROM e WHERE event_id % 2 = 1
      |  UNION ALL SELECT 2, 'delete', micros FROM d2
      |  UNION ALL SELECT 3, 'delete', micros FROM d3
      |  UNION ALL SELECT 4, 'update_preimage', micros FROM upd
      |  UNION ALL SELECT 4, 'update_postimage', micros + user_id FROM upd)
      |SELECT CAST(version AS BIGINT) AS version, change_type,
      |       count(*) AS n_rows, CAST(sum(micros) AS BIGINT) AS sum_micros
      |FROM u GROUP BY version, change_type
      |ORDER BY version, change_type""".stripMargin

  def snapshotEvolveSql(): String =
    """WITH a AS (SELECT event_id FROM events WHERE event_id % 3 = 0),
      |b AS (SELECT event_id % 100 AS score FROM events WHERE event_id % 3 = 1)
      |SELECT 0 AS version,
      |  (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_rows,
      |  CAST(0 AS BIGINT) AS n_scored,
      |  CAST(0 AS BIGINT) AS sum_score
      |UNION ALL SELECT 1,
      |  (SELECT CAST(count(*) AS BIGINT) FROM a)
      |    + (SELECT CAST(count(*) AS BIGINT) FROM b),
      |  (SELECT CAST(count(*) AS BIGINT) FROM b),
      |  (SELECT CAST(coalesce(sum(score), 0) AS BIGINT) FROM b)
      |ORDER BY version""".stripMargin

  def snapshotAsOfSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events),
      |v AS (
      |  SELECT 0 AS version, * FROM e WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT 1, * FROM e
      |  UNION ALL
      |  SELECT 2, * FROM e WHERE NOT (event_type = 'click' AND user_id % 5 = 2))
      |SELECT version,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros,
      |       CAST(count(DISTINCT pdate) AS BIGINT) AS n_partitions
      |FROM v GROUP BY version ORDER BY version""".stripMargin

  // ─────────────────────── zero-copy table clone ───────────────────────

  /** ZERO-COPY CLONE of the table's head into a fresh table dir —
    * branch a corpus for an experiment (try a filter, a dedup config, a
    * schema migration) without copying a byte of data. Every live data
    * file, delete-vector file and stats sidecar is HARD-LINKED into the
    * clone (same relative layout, so delete-vector `file` anchors stay
    * valid verbatim), and the clone commits its own v0 manifest carrying
    * the source head's leaves, pending vectors, dirty set, txn channel
    * offsets, schema and partition spec. Cost is O(live files) driver
    * metadata ops; zero data bytes move — the 100 TB branch is as cheap
    * as the 100 MB one.
    *
    * Divergence is total from the instant the clone commits: both sides
    * append/delete/compact/vacuum independently, and because links are
    * refcounted inodes (not manifest references into the source, the
    * Delta/Iceberg shallow-clone design), a VACUUM on either side can
    * NEVER break the other — the FS frees a file only when its last
    * link drops. On a non-local FS (no hardlink API) files are copied
    * instead and counted separately; the returned pair is
    * (filesLinked, filesCopied).
    */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
      atVersion: Option[Int] = None): (Long, Long) = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    require(versions(spark, dstDir).isEmpty,
      s"clone destination is already a table: $dstDir")
    val m = readManifestFull(spark, srcDir,
      atVersion.getOrElse(latestVersion(spark, srcDir)))
    val f = fs(spark, srcDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val local = f.getScheme == "file"
    var linkedN = 0L
    var copiedN = 0L
    def bring(rel: String, fileName: String): Unit = {
      val src = new Path(s"$srcDir/$rel/$fileName")
      val dst = new Path(s"$dstDir/$rel/$fileName")
      f.mkdirs(dst.getParent)
      val linked = local && (try {
        JFiles.createLink(JPaths.get(dst.toUri.getPath),
          JPaths.get(src.toUri.getPath))
        true
      } catch { case _: java.io.IOException => false })
      if (linked) linkedN += 1
      else {
        org.apache.hadoop.fs.FileUtil.copy(f, src, f, dst, false, conf)
        copiedN += 1
      }
    }
    for (rel <- (m.leaves ++ m.deletes).distinct;
         st <- f.listStatus(new Path(s"$srcDir/$rel")).toSeq if st.isFile)
      bring(rel, st.getPath.getName)
    // stats + file-list sidecars live at the add-dir root (parent of
    // the hive leaves) — they ride along so the clone keeps file-level
    // skipping, metadata-only counts AND zero-listing relation builds
    // without a re-harvest (relative paths and sizes are unchanged;
    // hard links even keep the recorded mtimes exact)
    for (root <- m.leaves.map(addRootOf).distinct;
         sidecar <- Seq(FileStats.StatsFileName, FileStats.FileListName,
           FileStats.RowIdFileName)
         if f.exists(new Path(s"$srcDir/$root/$sidecar")))
      bring(root, sidecar)
    // the id-watermark floor rides along: the clone must not reuse ids
    // the source's vacuum already burned
    if (f.exists(rowIdFloorPath(srcDir))) {
      val floor = readRowIdFloor(f, srcDir)
      f.mkdirs(new Path(manifestsDir(dstDir)))
      val out = f.create(rowIdFloorPath(dstDir), true)
      try out.write(floor.toString.getBytes("UTF-8")) finally out.close()
    }
    writeManifest(spark, dstDir, 0, m)
    (linkedN, copiedN)
  }

  /** DESCRIBE DETAIL — the one-row metadata summary every lakehouse
    * table exposes: head version, retained-version count, live
    * leaf/file/byte footprint, pending delete-vector and dirty-leaf
    * counts, current partition spec, schema DDL and streaming txn
    * channels. Pure manifest metadata plus one listing per live leaf
    * (O(files) driver-side, no data scan) — the sibling of [[history]]
    * for the head alone.
    */
  def describeDetail(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no table at $tableDir")
    val head = vs.max
    val m = readManifestFull(spark, tableDir, head)
    val f = fs(spark, tableDir)
    var files = 0L
    var bytes = 0L
    for (leaf <- m.leaves;
         st <- f.listStatus(new Path(s"$tableDir/$leaf")).toSeq
         if st.isFile && FileStats.isDataFile(st.getPath.getName)) {
      files += 1
      bytes += st.getLen
    }
    Seq((tableDir, head, vs.size, m.leaves.size, files, bytes,
        m.deletes.size, m.dirty.size, m.specOpt.getOrElse(""),
        m.schemaOpt.map(_.toDDL).getOrElse(""), m.txns.size,
        m.constraints.size, m.fmt, m.rowTracking))
      .toDF("location", "version", "num_versions", "num_leaves",
        "num_files", "size_bytes", "num_delete_dirs", "num_dirty_leaves",
        "partition_spec", "schema_ddl", "num_txn_channels",
        "num_constraints", "format", "row_tracking")
  }

  // ─────────────────────── metadata-only counts ───────────────────────

  /** METADATA-ONLY per-partition row counts at the head — the answer to
    * `SELECT pdate, count(*) ... GROUP BY pdate` WITHOUT scanning a data
    * byte. Per live leaf, rows come from the footer-stats sidecar the
    * write already harvested ([[FileStats]]); when merge-on-read delete
    * vectors are pending, their cardinality is subtracted per dirty
    * file — vectors are the only thing read, and they are deletion-sized,
    * not table-sized. At 100 TB this is O(files) sidecar folds plus one
    * tiny vector scan where a naive count is a full-corpus scan; it is
    * exactly what lakehouse engines answer `count(*)` from (Delta's
    * numRecords / DV cardinality bookkeeping), hash-gated here against a
    * real count by an independent engine. Keys are each leaf's OWN
    * partition value (on a spec-evolved table, values of mixed columns).
    *
    * Loud refusal when any live file lacks sidecar coverage (table
    * written before harvesting, or an all-unsupported-type schema) —
    * a silently wrong count is worse than a scan.
    */
  def countMeta(spark: SparkSession, tableDir: String): Seq[(String, Long)] = {
    val m = readHead(spark, tableDir)
    val f = fs(spark, tableDir)
    val byRoot = m.leaves.groupBy(addRootOf)
    // file enumeration from the _files.tsv sidecars / checkpoint (zero
    // per-leaf listings, like every other metadata path); only legacy
    // roots without a file manifest fall back to listing
    val lists = fileListsFor(spark, tableDir, byRoot.keys.toSeq)
    val perLeaf = scala.collection.mutable.Map[String, Long]()
    for ((root, leaves) <- byRoot) {
      val stats = FileStats.load(f, new Path(s"$tableDir/$root"))
      for (leaf <- leaves) {
        val leafRel = leafRelOf(leaf)
        val keys: Seq[String] = lists(root) match {
          case Some(list) => list.keysIterator
            .filter(rel => FileStats.isDataFile(rel) &&
              rel.startsWith(leafRel + "/")).toSeq
          case None => f.listStatus(new Path(s"$tableDir/$leaf")).toSeq
            .filter(st => st.isFile && FileStats.isDataFile(st.getPath.getName))
            .map(st => s"$leafRel/${st.getPath.getName}")
        }
        val rows = keys.map { key =>
          val cols = stats.getOrElse(key, throw new IllegalStateException(
            s"no footer stats for $key under $root — countMeta needs the " +
              "sidecar (table written before stats harvesting, or an " +
              "all-unsupported-type schema); run a compact to backfill"))
          cols.values.map(_.rows).max
        }.sum
        perLeaf(leaf) = rows
      }
    }
    // pending delete vectors: subtract DISTINCT (file,pos) cardinality per
    // dirty leaf — the anti-join read path dedups vector entries, so the
    // count must too
    if (m.deletes.nonEmpty && m.dirty.nonEmpty) {
      val dirtySet = m.dirtySet
      val perFile = readVectors(spark, tableDir, m.deletes).distinct()
        .groupBy(col("file")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      for ((file, n) <- perFile; leaf <- dirtySet.find(l => file.startsWith(l + "/")))
        perLeaf(leaf) = perLeaf(leaf) - n
    }
    perLeaf.toSeq
      .map { case (leaf, n) => leafPartValue(leaf) -> n }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
      .toSeq
      // a fully-vector-deleted partition has no group under count(*)
      // GROUP BY — drop exact zeros; a NEGATIVE count would mean broken
      // bookkeeping and stays visible so the oracle fails loudly
      .filter(_._2 != 0L)
      .sortBy(_._1)
  }

  /** METADATA-ONLY column bounds at the head — `SELECT min(c), max(c),
    * count(*) FILTER (c IS NULL)` per requested column, answered from the
    * footer-stats sidecars alone (count(*)'s siblings in the lakehouse
    * metadata-query family; see [[countMeta]]). Strings compare in
    * unsigned UTF-8 byte order — parquet's truncation-free comparator,
    * Spark's UTF8String order and DuckDB's binary collation alike, so all
    * three engines agree on the extremum.
    *
    * Soundness refusals, loud rather than silently wrong:
    * - pending delete vectors (a vector may have removed the extremal
    *   row — compact folds them, then bounds are sound again);
    * - a live file whose sidecar lacks the column, or carries no min/max
    *   despite non-null rows (parquet omits oversized binary stats);
    * - a file whose footer left the null count unset (unknown is not 0);
    * - a float/double extremum that IS NaN — Spark orders NaN above
    *   every double while other engines differ, so a NaN bound from
    *   stats cannot be served as "the" max (non-NaN float extrema are
    *   sound for this library's tables: the closed Spark write path
    *   propagates NaN into footer stats, so NaN-bearing files are
    *   detected here rather than silently skipped);
    * - a legacy manifest without a recorded schema (no comparator).
    * Returns (col, min, max, nulls); min/max are None for an
    * all-null column.
    */
  def boundsMeta(spark: SparkSession, tableDir: String, cols: Seq[String])
      : Seq[(String, Option[String], Option[String], Long)] = {
    val m = readHead(spark, tableDir)
    require(m.deletes.isEmpty, "boundsMeta: pending delete vectors may " +
      "have removed an extremum — compact first, then bounds are sound")
    val sch = m.schemaOpt.getOrElse(throw new IllegalStateException(
      "boundsMeta: legacy manifest without a recorded schema"))
    val types = cols.map { c =>
      val fld = sch.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"boundsMeta: no column '$c'"))
      require(FileStats.supported(fld.dataType),
        s"boundsMeta: unsupported stats type for '$c': ${fld.dataType}")
      c -> fld.dataType
    }.toMap
    def less(a: String, b: String, dt: DataType): Boolean =
      FileStats.statLess(a, b, dt)
    val f = fs(spark, tableDir)
    val acc = scala.collection.mutable.Map[String,
      (Option[String], Option[String], Long)]()
    cols.foreach(c => acc(c) = (None, None, 0L))
    val byRoot = m.leaves.groupBy(addRootOf)
    val lists = fileListsFor(spark, tableDir, byRoot.keys.toSeq)
    for ((root, leaves) <- byRoot) {
      val stats = FileStats.load(f, new Path(s"$tableDir/$root"))
      def keysOf(leaf: String): Seq[String] = lists(root) match {
        case Some(list) => list.keysIterator
          .filter(rel => FileStats.isDataFile(rel) &&
            rel.startsWith(leafRelOf(leaf) + "/")).toSeq
        case None => f.listStatus(new Path(s"$tableDir/$leaf")).toSeq
          .filter(st => st.isFile && FileStats.isDataFile(st.getPath.getName))
          .map(st => s"${leafRelOf(leaf)}/${st.getPath.getName}")
      }
      for (leaf <- leaves; key <- keysOf(leaf)) {
        val fileCols = stats.getOrElse(key, throw new IllegalStateException(
          s"boundsMeta: no footer stats for $key under $root"))
        for (c <- cols) {
          val cs = fileCols.getOrElse(c, throw new IllegalStateException(
            s"boundsMeta: sidecar lacks column '$c' for $key"))
          if (!cs.allNull && (cs.min.isEmpty || cs.max.isEmpty))
            throw new IllegalStateException(
              s"boundsMeta: '$c' has non-null rows but no min/max in $key " +
                "(oversized stats omitted by the writer?) — bounds unknowable")
          val (mn, mx, nulls) = acc(c)
          val dt = types(c)
          if ((dt == FloatType || dt == DoubleType) &&
              (cs.min ++ cs.max).exists(v => v.toDouble.isNaN))
            throw new IllegalStateException(
              s"boundsMeta: '$c' has a NaN extremum in $key — NaN " +
                "ordering differs across engines; bounds refused")
          val csNulls = cs.nulls.getOrElse(throw new IllegalStateException(
            s"boundsMeta: '$c' has no recorded null count in $key — " +
              "unknown is not zero; bounds refused"))
          def keepMin(x: Option[String]) = (mn, x) match {
            case (Some(a), Some(b)) => Some(if (less(b, a, dt)) b else a)
            case _ => mn.orElse(x)
          }
          def keepMax(x: Option[String]) = (mx, x) match {
            case (Some(a), Some(b)) => Some(if (less(a, b, dt)) b else a)
            case _ => mx.orElse(x)
          }
          acc(c) = (keepMin(cs.min), keepMax(cs.max), nulls + csNulls)
        }
      }
    }
    cols.map { c => val (mn, mx, n) = acc(c); (c, mn, mx, n) }
  }

  /** Surface entry: create thirds → append rest → merge-on-read delete,
    * then report per-partition counts derived ONLY from footer-stats
    * sidecars and delete-vector cardinalities — no scan of the base
    * data. The oracle recomputes the surviving counts from the raw rows
    * with an independent engine, so the metadata bookkeeping (footer row
    * counts, distinct-vector subtraction) is hash-checked end-to-end.
    */
  def snapshotCountMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_meta")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    append(events.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    deleteMergeOnRead(spark, dir,
      col("event_type") === "click" && col("user_id") % 5 === 2)
    countMeta(spark, dir).toDF("pdate", "n_rows").orderBy("pdate")
  }

  def snapshotCountMetaSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events)
      |SELECT pdate, count(*) AS n_rows
      |FROM e
      |WHERE NOT (event_type = 'click' AND user_id % 5 = 2)
      |GROUP BY pdate ORDER BY pdate""".stripMargin

  /** Surface entry for [[boundsMeta]]: create thirds → append rest (no
    * pending vectors — bounds refuse those loudly), then report global
    * min/max per column derived ONLY from the sidecars. The oracle
    * recomputes them from the raw rows with an independent engine, so
    * the footer-stats merge (typed comparators, unsigned-UTF-8 strings)
    * is hash-checked end-to-end.
    */
  def snapshotBoundsMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val dir = Stores.temp("graft_vt_bounds")
    create(events.filter(col("event_id") % 3 === 0), dir, "pdate")
    append(events.filter(col("event_id") % 3 =!= 0), dir, "pdate")
    val b = boundsMeta(spark, dir,
        Seq("user_id", "event_type", "pdate", "value"))
      .map { case (c, mn, mx, nulls) => c -> ((mn.get, mx.get, nulls)) }
      .toMap
    def micros(s: String): Long =
      BigDecimal(s.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    Seq((
      b("user_id")._1.toLong, b("user_id")._2.toLong,
      b("event_type")._1, b("event_type")._2,
      b("pdate")._1, b("pdate")._2,
      micros(b("value")._1), micros(b("value")._2)
    )).toDF("min_user", "max_user", "min_type", "max_type",
      "first_date", "last_date", "min_value_micros", "max_value_micros")
  }

  def snapshotBoundsMetaSql(): String =
    """WITH e AS (
      |  SELECT user_id, event_type, value,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events)
      |SELECT CAST(min(user_id) AS BIGINT) AS min_user,
      |       CAST(max(user_id) AS BIGINT) AS max_user,
      |       min(event_type) AS min_type,
      |       max(event_type) AS max_type,
      |       min(pdate) AS first_date,
      |       max(pdate) AS last_date,
      |       CAST(round(min(value) * 1000000) AS BIGINT) AS min_value_micros,
      |       CAST(round(max(value) * 1000000) AS BIGINT) AS max_value_micros
      |FROM e""".stripMargin

  /** Surface entry for [[cloneTable]]: build a two-version table, clone
    * it, then diverge BOTH sides — a copy-on-write delete on the source,
    * an extra-slice append on the clone — and summarize each head. The
    * oracle recomputes both sides from the raw rows, so the clone's
    * independence (neither mutation leaks across the link boundary) is
    * hash-checked, not just spec-asserted.
    */
  def snapshotClone(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.pipeline.Stores
    val events = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
    val src = Stores.temp("graft_vt_clsrc")
    val dst = Stores.temp("graft_vt_cldst")
    create(events.filter(col("event_id") % 3 === 0), src, "pdate")
    append(events.filter(col("event_id") % 3 =!= 0), src, "pdate")
    cloneTable(spark, src, dst)
    // the two divergence commits land on DISJOINT tables (the clone's
    // hard links never rewrite in place — COW) — independent actions,
    // overlapped (guide §2.6)
    graft.core.Par.run2(
      delete(spark, src, "pdate",
        col("event_type") === "click" && col("user_id") % 5 === 2),
      append(events.filter(col("event_id") % 7 === 0), dst, "pdate"))
    Seq("src" -> src, "clone" -> dst).map { case (side, d) =>
      readLatest(spark, d).agg(
        lit(side).as("side"),
        count(lit(1)).cast("long").as("n_rows"),
        sum(round(col("value") * 1e6).cast("long")).cast("long").as("sum_micros"))
    }.reduce(_ unionByName _)
      .select("side", "n_rows", "sum_micros").orderBy("side")
  }

  def snapshotCloneSql(): String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |         strftime(ts, '%Y-%m-%d') AS pdate
      |  FROM events),
      |sides AS (
      |  SELECT 'src' AS side, value FROM e
      |  WHERE NOT (event_type = 'click' AND user_id % 5 = 2)
      |  UNION ALL
      |  SELECT 'clone', value FROM e
      |  UNION ALL
      |  SELECT 'clone', value FROM e WHERE event_id % 7 = 0)
      |SELECT side,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_micros
      |FROM sides GROUP BY side ORDER BY side""".stripMargin
}
