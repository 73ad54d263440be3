package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Stores
import graft.sources.VersionedTable
import graft.testkit.SparkTestSession

/** The CDF stream (`readChangeFeed=true`) — Delta-CDF-style
  * `_change_type`/`_commit_version` rows for EVERY commit kind: appends
  * are inserts, a COW delete emits exactly the removed rows as deletes
  * (carried rows cancel — the rewrite re-wrote them byte-identical), an
  * UPDATE is its delete+insert pair, a MOR vector emits the
  * vector-removed rows, and restart from a checkpoint resumes without
  * re-emitting. The batch [[VersionedTable.changeFeed]] behind it is
  * spec-gated through the same cases.
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newTable(rows: (Long, String, Long)*): String = {
    val dir = Files.createTempDirectory("graft-cdf").toString
    VersionedTable.create(rows.toSeq.toDF("id", "pdate", "amount"),
      dir, "pdate")
    dir
  }

  private def appendRows(dir: String, rows: (Long, String, Long)*): Unit =
    VersionedTable.append(rows.toSeq.toDF("id", "pdate", "amount"),
      dir, "pdate")

  /** (change_type, id, commit_version) triples, sorted. */
  private def triples(df: DataFrame): Seq[(String, Long, Long)] =
    df.select("_change_type", "id", "_commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1, t._2)).toSeq

  private def startFeed(dir: String, ckpt: String) = {
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, Long, Long)]]()
    val q = spark.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = triples(df)
        if (got.nonEmpty) batches.add(got)
        ()
      }
      .start()
    (q, batches)
  }

  import scala.jdk.CollectionConverters._

  test("batch changeFeed: append=inserts, COW delete=exact deletes " +
      "(carried rows cancel), MOR vector=deletes, update=pre/postimage") {
    val dir = newTable((1L, "2024-01-01", 10L), (2L, "2024-01-01", 20L),
      (3L, "2024-01-02", 30L))
    appendRows(dir, (4L, "2024-01-02", 40L)) // v1
    VersionedTable.delete(spark, dir, "pdate", $"id" === 1L) // v2 (COW)
    VersionedTable.deleteMergeOnRead(spark, dir, $"id" === 3L) // v3 (MOR)
    VersionedTable.update(spark, dir, "pdate", $"id" === 2L,
      Seq("amount" -> lit(222L))) // v4
    assert(triples(VersionedTable.changeFeed(spark, dir, 0, 1))
      === Seq(("insert", 4L, 1L)))
    // COW: id=1 deleted; id=2 carried into the rewritten leaf — cancels
    assert(triples(VersionedTable.changeFeed(spark, dir, 1, 2))
      === Seq(("delete", 1L, 2L)))
    assert(triples(VersionedTable.changeFeed(spark, dir, 2, 3))
      === Seq(("delete", 3L, 3L)))
    // the UPDATE commit recorded its pairing key (the non-assigned
    // columns), so its removed/added rows arrive as Delta's
    // update_preimage/update_postimage pair, not delete+insert
    assert(triples(VersionedTable.changeFeed(spark, dir, 3, 4))
      === Seq(("update_postimage", 2L, 4L), ("update_preimage", 2L, 4L)))
    // a multi-commit range is the union of its steps
    assert(triples(VersionedTable.changeFeed(spark, dir, 0, 4)) === Seq(
      ("insert", 4L, 1L), ("delete", 1L, 2L), ("delete", 3L, 3L),
      ("update_postimage", 2L, 4L), ("update_preimage", 2L, 4L)))
    // the preimage carries the OLD value, the postimage the NEW one
    val up = VersionedTable.changeFeed(spark, dir, 3, 4)
      .orderBy("_change_type").select("_change_type", "amount")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(up === Seq(("update_postimage", 222L),
      ("update_preimage", 20L)))
  }

  test("an unkeyed commit after a keyed UPDATE keeps delete+insert — " +
      "no commit inherits its base's operation record") {
    val dir = newTable((1L, "2024-01-01", 10L), (2L, "2024-01-01", 20L))
    VersionedTable.update(spark, dir, "pdate", $"id" === 2L,
      Seq("amount" -> lit(222L))) // v1: records update on (id, pdate)
    // v2 removes id=2 and re-adds it with a new amount; REPLACE WHERE
    // records no pairing key, so nothing may pair its rows
    VersionedTable.replaceWhere(
      Seq((2L, "2024-01-01", 999L)).toDF("id", "pdate", "amount"),
      dir, "pdate", $"id" === 2L)
    assert(triples(VersionedTable.changeFeed(spark, dir, 1, 2))
      === Seq(("delete", 2L, 2L), ("insert", 2L, 2L)))
  }

  test("MERGE change rows pair on the merge key: matched updates as " +
      "pre/postimage, fresh keys as plain inserts") {
    val dir = newTable((1L, "2024-01-01", 10L), (2L, "2024-01-01", 20L),
      (3L, "2024-01-02", 30L))
    // upsert: id=2 updated (new amount), id=9 inserted
    VersionedTable.merge(
      Seq((2L, "2024-01-01", 222L), (9L, "2024-01-02", 90L))
        .toDF("id", "pdate", "amount"),
      dir, "pdate", "id") // v1
    assert(triples(VersionedTable.changeFeed(spark, dir, 0, 1)) === Seq(
      ("insert", 9L, 1L),
      ("update_postimage", 2L, 1L), ("update_preimage", 2L, 1L)))
    val vals = VersionedTable.changeFeed(spark, dir, 0, 1)
      .filter($"id" === 2L).orderBy("_change_type")
      .select("_change_type", "amount").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(vals === Seq(("update_postimage", 222L),
      ("update_preimage", 20L)))
    // a MATCHED-DELETE merge emits plain deletes for the removed keys
    VersionedTable.mergeInto(
      Seq((3L, "2024-01-02", 0L)).toDF("id", "pdate", "amount"),
      dir, "pdate", "id",
      matched = Seq((None, true, Nil)), insert = None) // v2
    assert(triples(VersionedTable.changeFeed(spark, dir, 1, 2))
      === Seq(("delete", 3L, 2L)))
  }

  test("CDF stream: initial snapshot as inserts, then exact per-commit " +
      "changes — COW and MOR commits stream instead of refusing") {
    val dir = newTable((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
    val (q, batches) = startFeed(dir, Stores.temp("cdf-ckpt"))
    try {
      q.processAllAvailable()
      VersionedTable.delete(spark, dir, "pdate", $"id" === 1L)
      q.processAllAvailable()
      appendRows(dir, (3L, "2024-01-01", 30L))
      VersionedTable.deleteMergeOnRead(spark, dir, $"id" === 2L)
      q.processAllAvailable()
    } finally q.stop()
    val got = batches.asScala.toSeq
    assert(got.head === Seq(("insert", 1L, 0L), ("insert", 2L, 0L)))
    assert(got.flatten.drop(2) === Seq(("delete", 1L, 1L),
      ("insert", 3L, 2L), ("delete", 2L, 3L)))
  }

  test("restart from the checkpoint resumes the feed without re-emission") {
    val dir = newTable((1L, "2024-01-01", 10L))
    val ckpt = Stores.temp("cdf-restart")
    val (q1, b1) = startFeed(dir, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    assert(b1.asScala.toSeq === Seq(Seq(("insert", 1L, 0L))))
    // commits while the stream is DOWN, including a non-append
    appendRows(dir, (2L, "2024-01-02", 20L))
    VersionedTable.delete(spark, dir, "pdate", $"id" === 1L)
    val (q2, b2) = startFeed(dir, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(b2.asScala.toSeq.flatten ===
      Seq(("insert", 2L, 1L), ("delete", 1L, 2L)))
  }

  test("CDF through the catalog identifier: readChangeFeed=true widens " +
      "the resolved output and resumes through a restart") {
    val dir = newTable((1L, "2024-01-01", 10L))
    val ckpt = Stores.temp("cdf-ident-restart")
    def startIdent() = {
      val batches = new java.util.concurrent
        .ConcurrentLinkedQueue[Seq[(String, Long, Long)]]()
      val q = spark.readStream.option("readChangeFeed", "true")
        .table(s"graft.`$dir`")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val got = triples(df)
          if (got.nonEmpty) batches.add(got)
          ()
        }
        .start()
      (q, batches)
    }
    val (q1, b1) = startIdent()
    try q1.processAllAvailable() finally q1.stop()
    assert(b1.asScala.toSeq === Seq(Seq(("insert", 1L, 0L))))
    // commits while the stream is DOWN, including a non-append
    appendRows(dir, (2L, "2024-01-02", 20L))
    VersionedTable.delete(spark, dir, "pdate", $"id" === 1L)
    val (q2, b2) = startIdent()
    try q2.processAllAvailable() finally q2.stop()
    assert(b2.asScala.toSeq.flatten ===
      Seq(("insert", 2L, 1L), ("delete", 1L, 2L)))
  }

  test("batch CDF through the catalog identifier equals the option " +
      "form; combining with time travel refuses") {
    val dir = newTable((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
    appendRows(dir, (3L, "2024-01-01", 30L))
    VersionedTable.delete(spark, dir, "pdate", $"id" === 1L)
    val viaIdent = spark.read.option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", "2")
      .table(s"graft.`$dir`")
    assert(triples(viaIdent) === Seq(
      ("insert", 1L, 0L), ("insert", 2L, 0L),
      ("insert", 3L, 1L), ("delete", 1L, 2L)))
    val e = intercept[Exception] {
      spark.read.option("readChangeFeed", "true")
        .option("versionAsOf", "1").table(s"graft.`$dir`").collect()
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
  }

  test("batch CDF read option equals the library changeFeed; refuses " +
      "combined with time travel") {
    val dir = newTable((1L, "2024-01-01", 10L), (2L, "2024-01-02", 20L))
    appendRows(dir, (3L, "2024-01-01", 30L))
    VersionedTable.delete(spark, dir, "pdate", $"id" === 1L)
    val viaOption = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", "2")
      .load(dir)
    // startingVersion is INCLUSIVE (the streams' and Delta's reading of
    // the option): version 0's changes are its initial snapshot as
    // insert rows at commit 0
    assert(triples(viaOption) ===
      triples(VersionedTable.changeFeed(spark, dir, -1, 2)))
    assert(triples(viaOption) === Seq(
      ("insert", 1L, 0L), ("insert", 2L, 0L),
      ("insert", 3L, 1L), ("delete", 1L, 2L)))
    // startingVersion=1 = changes of v1..head, the library's (0, head]
    val fromOne = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(dir)
    assert(triples(fromOne) ===
      triples(VersionedTable.changeFeed(spark, dir, 0, 2)))
    // endingVersion defaults to head; startingVersion to 0
    val defaulted = spark.read.format("graft-snapshot")
      .option("readChangeFeed", "true").load(dir)
    assert(triples(defaulted) === triples(viaOption))
    val e = intercept[Exception] {
      spark.read.format("graft-snapshot")
        .option("readChangeFeed", "true").option("versionAsOf", "1")
        .load(dir).collect()
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("schema evolution across the diff: pre-evolution rows align to " +
      "the new schema with nulls") {
    val dir = newTable((1L, "2024-01-01", 10L))
    // evolution append adds a column (v1), then a COW delete (v2)
    VersionedTable.append(
      Seq((2L, "2024-01-02", 20L, "x")).toDF("id", "pdate", "amount", "tag"),
      dir, "pdate")
    VersionedTable.delete(spark, dir, "pdate", $"id" === 1L)
    val step = VersionedTable.changeFeed(spark, dir, 1, 2)
    val rows = step.select("_change_type", "id", "tag").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
      .toSeq
    assert(rows === Seq(("delete", 1L, None)))
    // a RANGE crossing the evolution commit: every step aligns to the
    // range-end schema, so the union is clean and pre-evolution rows
    // read null in the added column
    val range = VersionedTable.changeFeed(spark, dir, -1, 2)
      .select("_change_type", "id", "tag", "_commit_version").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2)),
        r.getLong(3)))
      .toSeq.sortBy(t => (t._4, t._1, t._2))
    assert(range === Seq(
      ("insert", 1L, None, 0L), ("insert", 2L, Some("x"), 1L),
      ("delete", 1L, None, 2L)))
  }

  test("empty range on a fresh v0-only table is an empty feed, not a " +
      "missing-manifest error; fromV=-1 yields the v0 snapshot as inserts") {
    val dir = newTable((1L, "2024-01-01", 10L))
    val empty = VersionedTable.changeFeed(spark, dir, 0, 0)
    assert(empty.columns.takeRight(2).toSeq ===
      Seq("_change_type", "_commit_version"))
    assert(empty.count() === 0L)
    assert(triples(VersionedTable.changeFeed(spark, dir, -1, 0))
      === Seq(("insert", 1L, 0L)))
  }
}
