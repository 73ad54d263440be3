package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.apache.hadoop.fs.Path

import graft.pipeline.Stores

/** Per-file partial bloom + stats (top-level: Spark's codegen'd encoder
  * must be able to construct it; a private nested class is invisible to
  * the generated Java).
  */
private[sources] case class BloomPartial(f: String, bloom: Array[Byte],
    n: Long, mn: Long, mx: Long)

/** PER-FILE BLOOM SKIPPING INDEX for point lookups — the Delta/Iceberg
  * bloom-filter-index capability, for the key shape min/max skipping
  * cannot help with: a key UNCORRELATED with the physical layout (uuids,
  * content hashes), where every file's [min,max] spans the whole domain
  * but each key really lives in one file.
  *
  * Build is ONE pass over the table with only sketch bytes ever crossing
  * a shuffle: each input split folds its rows into per-file partial
  * blooms + min/max/count locally (`mapPartitions`, constant memory —
  * a split covers one file, or a few small ones), and only those
  * fixed-size partials shuffle to merge per file (bloom insertion is a
  * bitwise OR, so partial merge is exact and order-independent — the
  * same algebraic-aggregate argument as HLL in `table_stats_approx`).
  * The merged stats collect to the driver FILE-COUNT-sized and land in
  * one JSON sidecar.
  *
  * Lookup prunes DRIVER-SIDE from the sidecar alone: a file is scanned
  * only if some probe key is inside its [min,max] AND its bloom says
  * maybe-present. False positives cost one extra file scan (bounded by
  * fpp × files); false negatives cannot happen (no-false-negative is
  * the bloom contract, spec-pinned against brute force). At 100 TB the
  * sidecar for a million-file table is ~bloomBytes × files — the same
  * metadata-scaling argument as the versioned manifest, and the reason
  * engines bound `fpp` rather than bloom size per file.
  */
object BloomSkipIndex {

  /** Fixed build parameters: every partial MUST use the same (numBits,
    * numHashes) to merge, and determinism of the sidecar bytes (spec:
    * two builds are byte-identical) rides on them being constants.
    */
  val ExpectedPerFile: Long = 100000
  val Fpp: Double = 0.01

  private def ser(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  private def deser(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Build the sidecar at `indexPath` for the LONG key column `keyCol`
    * of `df` — which must be a direct parquet scan (`input_file_name`
    * attributes rows to files). `tableVersion` records which table head
    * the index describes (−1 = unversioned source); [[lookupFresh]]
    * refuses a sidecar whose version is not the current head.
    */
  def build(df: DataFrame, keyCol: String, indexPath: String,
      tableVersion: Int = -1, fmt: String = "parquet"): Unit =
    writeSidecar(df.sparkSession, indexPath, tableVersion, statsFor(df, keyCol),
      Some(df.schema), fmt)

  /** One pass over `df`: per-file partial blooms fold locally, only
    * sketch bytes shuffle, merged stats return file-count-sized. File
    * paths are normalized to the URI path part so FS listings
    * ([[VersionedTable.liveDataFiles]]) and `input_file_name` (which
    * render the same file as `file:/…` vs `file:///…`) diff cleanly.
    */
  private def statsFor(df: DataFrame, keyCol: String): Seq[BloomPartial] = {
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df
      .select(col(keyCol).cast("long").as("_1"), input_file_name().as("_2"))
      .as[(Long, String)]
      .map { case (k, f) => (k, new java.net.URI(f).getPath) }
      .mapPartitions { it =>
        val acc = mutable.HashMap.empty[String, (BloomFilter, Array[Long])]
        it.foreach { case (k, f) =>
          val (b, s) = acc.getOrElseUpdate(f,
            (BloomFilter.create(ExpectedPerFile, Fpp),
              Array(0L, Long.MaxValue, Long.MinValue)))
          b.putLong(k)
          s(0) += 1; if (k < s(1)) s(1) = k; if (k > s(2)) s(2) = k
        }
        acc.iterator.map { case (f, (b, s)) => BloomPartial(f, ser(b), s(0), s(1), s(2)) }
      }
    val merged = partials.groupByKey(_.f).mapGroups { (f, ps) =>
      var bloom: BloomFilter = null
      var (n, mn, mx) = (0L, Long.MaxValue, Long.MinValue)
      ps.foreach { p =>
        val b = deser(p.bloom)
        if (bloom == null) bloom = b else bloom.mergeInPlace(b)
        n += p.n; mn = math.min(mn, p.mn); mx = math.max(mx, p.mx)
      }
      BloomPartial(f, ser(bloom), n, mn, mx)
    }.collect().sortBy(_.f) // file-count-sized; sorted for byte determinism
    merged.toSeq
  }

  private def writeSidecar(spark: SparkSession, indexPath: String,
      tableVersion: Int, entries: Seq[BloomPartial],
      schema: Option[org.apache.spark.sql.types.StructType],
      fmt: String = "parquet"): Unit = {
    val enc = java.util.Base64.getEncoder
    // the indexed frame's schema rides the sidecar (base64 of the
    // StructType json) so a lookup over an EMPTY entry list — index
    // built on an empty table, or every entry dropped by refresh — can
    // still answer with a correctly-shaped empty frame
    val schemaField = schema.map(s =>
      s""""schema":"${enc.encodeToString(s.json.getBytes("UTF-8"))}",""")
      .getOrElse("")
    val json = entries.sortBy(_.f).map { p =>
      s"""{"file":"${p.f}","n":${p.n},"min":${p.mn},"max":${p.mx},""" +
        s""""bloom":"${enc.encodeToString(p.bloom)}"}"""
    }.mkString(
      s"""{"table_version":$tableVersion,"fmt":"$fmt",$schemaField"entries":[""",
      ",", "]}")
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(indexPath), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** INCREMENTAL maintenance against a [[VersionedTable]] head: diff the
    * sidecar's file list against the head's live files, index ONLY the
    * new files (one scan of exactly those bytes — an append's refresh
    * cost is O(batch), never O(table)), drop entries for files no live
    * leaf references (a delete's rewrite retired them), keep surviving
    * entries byte-identical, and stamp the new head version. Returns
    * (newly indexed, kept, dropped) — the accounting the spec pins.
    */
  def refresh(spark: SparkSession, tableDir: String, keyCol: String,
      indexPath: String): (Int, Int, Int) = {
    val head = VersionedTable.latestVersion(spark, tableDir)
    val live = VersionedTable.liveDataFiles(spark, tableDir)
    val liveSet = live.toSet
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // ONE sidecar read recovers both the prior entries and the prior
    // schema (the bloom bytes are the bulk of the sidecar — re-reading
    // it a second time just for the schema doubled the maintenance I/O)
    val tableFmt = VersionedTable.headFormat(spark, tableDir)
    val (old, oldSchema) =
      if (fs.exists(new Path(indexPath))) {
        val (_, entries, sch, _) = readSidecar(spark, indexPath)
        (entries, sch)
      } else (Nil, None)
    val (kept, dropped) = old.partition(st => liveSet.contains(st.f))
    val keptSet = kept.map(_.f).toSet
    val newFiles = live.filterNot(keptSet.contains)
    val (fresh, freshSchema) =
      if (newFiles.isEmpty) (Nil, None)
      else {
        // data files carry frozen PHYSICAL column names — after a
        // RENAME COLUMN the logical key must map through the manifest's
        // column mapping or this direct file read would fail
        val physKey = VersionedTable.manifestView(spark, tableDir, head)
          .colMap.getOrElse(keyCol, keyCol)
        val frame = spark.read.format(tableFmt).load(newFiles: _*)
        (statsFor(frame, physKey), Some(frame.schema))
      }
    val keptEntries = kept.map(st =>
      BloomPartial(st.f, ser(st.bloom), st.n, st.mn, st.mx))
    // recorded schema prefers the MANIFEST's full-table shape: a schema
    // inferred from only the refresh batch's files covers just that
    // batch's columns, and the previously recorded schema is one
    // evolution behind — both diverge from the table after evolution
    val schema = VersionedTable.headSchemaOpt(spark, tableDir)
      .orElse(freshSchema).orElse(oldSchema)
    writeSidecar(spark, indexPath, head, keptEntries ++ fresh, schema,
      tableFmt)
    (fresh.size, kept.size, dropped.size)
  }

  private case class FileStats(f: String, n: Long, mn: Long, mx: Long,
      bloom: BloomFilter)

  private def readSidecar(spark: SparkSession, indexPath: String)
      : (Int, Seq[FileStats], Option[org.apache.spark.sql.types.StructType],
        String) = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(indexPath))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val dec = java.util.Base64.getDecoder
    // hand-rolled parse of the hand-rolled JSON above (house pattern:
    // no JSON lib on the unmanaged classpath); fields are ordered
    val ver = """^\{"table_version":(-?\d+),""".r
      .findFirstMatchIn(text).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"bloom sidecar $indexPath has no table_version header"))
    // data-file format of the indexed files (legacy sidecars: parquet)
    val fmt = """"fmt":"([a-z]+)"""".r.findFirstMatchIn(text)
      .map(_.group(1)).getOrElse("parquet")
    // optional (legacy sidecars lack it) — base64 of StructType json
    val schema = """"schema":"([^"]+)"""".r.findFirstMatchIn(text).map { m =>
      org.apache.spark.sql.types.DataType.fromJson(
        new String(dec.decode(m.group(1)), "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    val entry = """\{"file":"([^"]+)","n":(\d+),"min":(-?\d+),"max":(-?\d+),"bloom":"([^"]+)"\}""".r
    (ver, entry.findAllMatchIn(text).map { m =>
      FileStats(m.group(1), m.group(2).toLong, m.group(3).toLong,
        m.group(4).toLong, deser(dec.decode(m.group(5))))
    }.toSeq, schema, fmt)
  }

  /** Point lookup: prune files from the sidecar, scan only survivors,
    * filter exactly. Returns the rows plus (filesScanned, filesTotal) —
    * the skipping evidence the spec pins.
    */
  def lookup(spark: SparkSession, indexPath: String, keyCol: String,
      keys: Seq[Long]): (DataFrame, Int, Int) = {
    val (_, stats, schema, fmt) = readSidecar(spark, indexPath)
    val kept = stats.filter(st =>
      keys.exists(k => k >= st.mn && k <= st.mx && st.bloom.mightContainLong(k)))
    val df =
      if (kept.nonEmpty) spark.read.format(fmt).load(kept.map(_.f): _*)
      else if (stats.nonEmpty)
        // schema comes from the full file set without scanning data
        spark.read.format(fmt).load(stats.map(_.f): _*).limit(0)
      else schema match {
        // empty entry list (index over an empty table, or refresh
        // dropped everything): zero parquet paths can't even derive a
        // schema, so answer from the one the sidecar recorded
        case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None => throw new IllegalStateException(
          s"bloom sidecar $indexPath has no entries and no recorded " +
            "schema (legacy build over an empty table) — rebuild the index")
      }
    (df.filter(col(keyCol).isin(keys: _*)), kept.size, stats.size)
  }

  /** [[lookup]] with the staleness guard: the sidecar must describe the
    * CURRENT head of `tableDir` — after any append/delete/compact the
    * index is stale (its file list references retired files and misses
    * new ones) and the lookup is refused loudly until [[refresh]] runs.
    * The refusal, not a silent partial answer, is the contract: a stale
    * bloom index can FAIL TO FIND a key that lives in an unindexed file.
    */
  def lookupFresh(spark: SparkSession, tableDir: String, indexPath: String,
      keyCol: String, keys: Seq[Long]): (DataFrame, Int, Int) = {
    val (ver, _, _, _) = readSidecar(spark, indexPath)
    val head = VersionedTable.latestVersion(spark, tableDir)
    require(ver == head,
      s"bloom index at $indexPath describes table version $ver but the " +
        s"head is $head — run BloomSkipIndex.refresh before point lookups")
    lookup(spark, indexPath, keyCol, keys)
  }

  /** Conventional sidecar location for connector-integrated skipping:
    * `<tableDir>/_bloom/<col>.json`. [[attach]] (re)builds it against
    * the current head; [[ManifestFileIndex]] discovers every attached
    * column there and prunes files on equality predicates.
    */
  def attachedPath(tableDir: String, keyCol: String): String =
    s"$tableDir/_bloom/$keyCol.json"

  /** Build-or-refresh the bloom index for `keyCol` at its conventional
    * in-table location. Incremental: only files absent from the sidecar
    * are scanned ([[refresh]]).
    */
  def attach(spark: SparkSession, tableDir: String,
      keyCol: String): (Int, Int, Int) =
    refresh(spark, tableDir, keyCol, attachedPath(tableDir, keyCol))

  /** Per-file membership probes for the connector: file path →
    * (key might be present). Missing files simply have no probe —
    * the caller must KEEP a file it has no entry for, which is what
    * makes a stale sidecar safe (new files unprunable, never wrong).
    */
  private[sources] def fileSkippers(spark: SparkSession,
      indexPath: String): Map[String, Long => Boolean] =
    readSidecar(spark, indexPath)._2.map { st =>
      st.f -> ((k: Long) =>
        k >= st.mn && k <= st.mx && st.bloom.mightContainLong(k))
    }.toMap

  // --------------------------- surface entry

  /** Oracle-gated point-lookup entry: a versioned events table carries a
    * surrogate `uid = xxhash64(event_id)` — decorrelated from the date
    * layout, so every leaf's [min,max] spans the whole uid domain and
    * ONLY the bloom can prune (`event_id` itself is time-ordered and
    * would be pruned by min/max alone — the easy case the layout family
    * already covers). The entry looks up the uids of every
    * `event_id % 1000 = 7` row and returns those rows; the oracle
    * selects the same rows by the id predicate directly. Row equality
    * proves no bloom false negative survived the pruning; the skipping
    * ratio itself is pinned in BloomSkipIndexSpec.
    */
  def pointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("pdate", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("uid", xxhash64(col("event_id")))
      .select("event_id", "uid", "user_id", "event_type", "pdate")
    val dir = Stores.temp("graft_bloomidx")
    VersionedTable.create(ev, dir, "pdate")
    val index = s"$dir/index/bloom-uid.json"
    build(VersionedTable.readLatest(spark, dir), "uid", index,
      tableVersion = VersionedTable.latestVersion(spark, dir))
    val keys = ev.filter(col("event_id") % 1000 === 7)
      .select("uid").collect().map(_.getLong(0)).toSeq
    val (rows, _, _) = lookup(spark, index, "uid", keys)
    rows.select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id")
  }

  val pointLookupSql: String =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE event_id % 1000 = 7 ORDER BY event_id""".stripMargin
}
