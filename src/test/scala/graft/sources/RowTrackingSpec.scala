package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

/** ROW TRACKING — Delta-style stable row ids (public design), opt-in
  * per table: fresh appends derive `id = base + _metadata.row_index`
  * from the `_rowids.tsv` sidecar (zero write-path data cost), COW
  * rewrites carry ids as a materialized physical column, and the change
  * feed pairs a commit's removed×added rows EXACTLY on the id — the
  * case positional pairing cross-pairs. Reference context: the
  * reference engine rewrites whole partitions with no row identity at
  * all (DeletionExecutor.java); engine extension.
  */
class RowTrackingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated()
  import spark.implicits._

  private def mk(rowTracking: Boolean = true): String = {
    val dir = Files.createTempDirectory("graft-rowid").toString
    val df = Seq(
      (1L, "a", "web", 10L), (2L, "a", "api", 20L),
      (3L, "b", "web", 30L), (4L, "b", "crawl", 40L)
    ).toDF("id", "kind", "src", "amount")
    VersionedTable.create(df, dir, "kind", rowTracking = rowTracking)
    dir
  }

  private def idMap(dir: String): Map[Long, Long] =
    VersionedTable.readLatestWithRowIds(spark, dir)
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("create(rowTracking): ids are non-null, unique, dense [0, n); " +
      "plain reads never see the id column") {
    val dir = mk()
    val withIds = VersionedTable.readLatestWithRowIds(spark, dir)
    val got = withIds.select("_row_id").as[Long].collect().sorted.toSeq
    assert(got === Seq(0L, 1L, 2L, 3L))
    assert(VersionedTable.readLatest(spark, dir).columns.toSeq ===
      Seq("id", "kind", "src", "amount"))
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").columns.toSeq ===
      Seq("id", "kind", "src", "amount"))
  }

  test("append assigns fresh ids above the watermark; existing ids " +
      "are untouched") {
    val dir = mk()
    val before = idMap(dir)
    VersionedTable.append(Seq((5L, "a", "web", 50L), (6L, "c", "api", 60L))
      .toDF("id", "kind", "src", "amount"), dir, "kind")
    val after = idMap(dir)
    assert(before.forall { case (k, v) => after(k) == v })
    val fresh = Seq(after(5L), after(6L))
    assert(fresh.forall(_ >= 4L) && fresh.distinct.size == 2)
    assert(after.values.toSeq.distinct.size === 6)
  }

  test("COW delete: survivor ids stable, including survivors of the " +
      "REWRITTEN leaf; deleted ids disappear") {
    val dir = mk()
    val before = idMap(dir)
    VersionedTable.delete(spark, dir, "kind", col("id") === 3L)
    val after = idMap(dir)
    assert(after.keySet === Set(1L, 2L, 4L))
    // row 4 shared partition 'b' with the deleted row — its leaf was
    // rewritten, its id must carry through the materialized column
    assert(after(4L) === before(4L))
    assert(after(1L) === before(1L) && after(2L) === before(2L))
  }

  test("UPDATE keeps ids; the change feed pairs EXACTLY by id where " +
      "positional pairing would cross-pair") {
    val dir = Files.createTempDirectory("graft-rowid-u").toString
    // two rows with the SAME key: a->'z', b->'c'. Sorted-positional
    // pairing matches sorted deletes [a,b] with sorted inserts [c,z]
    // (a<->c, b<->z — crossed); id pairing is exact.
    VersionedTable.create(
      Seq((1L, "k", "a"), (1L, "k", "b")).toDF("id", "kind", "v"),
      dir, "kind", rowTracking = true)
    val pre = VersionedTable.readLatestWithRowIds(spark, dir)
      .select("v", "_row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    VersionedTable.update(spark, dir, "kind", col("v") === "a",
      Seq("v" -> lit("z")))
    VersionedTable.update(spark, dir, "kind", col("v") === "b",
      Seq("v" -> lit("c")))
    val post = VersionedTable.readLatestWithRowIds(spark, dir)
      .select("v", "_row_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(post("z") === pre("a"), "update must keep the row's id")
    assert(post("c") === pre("b"))
    val feed = VersionedTable.changeFeed(spark, dir, 0, 2)
      .select("v", "_change_type", "_row_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def one(v: String, t: String): Long =
      feed.collect { case (`v`, `t`, rid) => rid } match {
        case Array(rid) => rid
        case other => fail(s"expected one ($v,$t), got ${other.toSeq}")
      }
    assert(one("a", "update_preimage") === one("z", "update_postimage"))
    assert(one("b", "update_preimage") === one("c", "update_postimage"))
    assert(one("a", "update_preimage") !== one("b", "update_preimage"))
  }

  test("SQL MERGE: matched update keeps the target id, insert gets a " +
      "fresh id; CDF pairs the update by id") {
    val dir = mk()
    val before = idMap(dir)
    Seq((2L, 999L), (9L, 90L)).toDF("id", "amount2")
      .createOrReplaceTempView("rt_src")
    spark.sql(s"MERGE INTO graft.`$dir` t USING rt_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET t.amount = s.amount2 " +
      "WHEN NOT MATCHED THEN INSERT (id, kind, src, amount) " +
      "VALUES (s.id, 'c', 'merge', s.amount2)")
    val after = idMap(dir)
    assert(after(2L) === before(2L), "matched update keeps the id")
    assert(after(9L) >= 4L, "insert takes a fresh id")
    assert(before.filterKeys(_ != 2L).forall {
      case (k, v) => after(k) == v
    })
    val v = VersionedTable.latestVersion(spark, dir)
    val types = VersionedTable.changeFeed(spark, dir, v - 1, v)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types === Map("update_preimage" -> 1L,
      "update_postimage" -> 1L, "insert" -> 1L))
  }

  test("compact and z-order preserve every id") {
    val dir = mk()
    VersionedTable.append(Seq((5L, "a", "x", 50L))
      .toDF("id", "kind", "src", "amount"), dir, "kind")
    val before = idMap(dir)
    VersionedTable.compact(spark, dir, "kind")
    assert(idMap(dir) === before, "compact must not renumber rows")
    VersionedTable.optimizeZOrder(spark, dir, "kind", "id", "amount")
    assert(idMap(dir) === before, "z-order must not renumber rows")
  }

  test("convert_format to parquet keeps row tracking and every id") {
    val dir = mk()
    VersionedTable.append(Seq((5L, "a", "x", 50L))
      .toDF("id", "kind", "src", "amount"), dir, "kind")
    val before = idMap(dir)
    spark.sql(s"CALL graft.convert_format('$dir', 'parquet')").collect()
    assert(VersionedTable.rowTrackingEnabled(spark, dir),
      "the format switch dropped the row-tracking marker")
    assert(idMap(dir) === before, "convertFormat must not renumber rows")
  }

  test("enableRowTracking backfills an existing table: ids dense over " +
      "live rows, stable through a later delete; idempotent") {
    val dir = mk(rowTracking = false)
    intercept[IllegalArgumentException] {
      VersionedTable.readLatestWithRowIds(spark, dir)
    }
    VersionedTable.enableRowTracking(spark, dir)
    VersionedTable.enableRowTracking(spark, dir) // idempotent
    val before = idMap(dir)
    assert(before.values.toSeq.sorted === Seq(0L, 1L, 2L, 3L))
    VersionedTable.delete(spark, dir, "kind", col("id") === 1L)
    val after = idMap(dir)
    assert(after.keySet === Set(2L, 3L, 4L))
    assert(after.forall { case (k, v) => before(k) == v })
  }

  test("merge-on-read delete + row ids: vector-deleted rows drop from " +
      "the id view; CDF emits their exact delete rows by id") {
    val dir = mk()
    val before = idMap(dir)
    VersionedTable.deleteMergeOnRead(spark, dir, col("id") === 2L)
    val after = idMap(dir)
    assert(after.keySet === Set(1L, 3L, 4L))
    assert(after.forall { case (k, v) => before(k) == v })
    val v = VersionedTable.latestVersion(spark, dir)
    val feed = VersionedTable.changeFeed(spark, dir, v - 1, v)
      .select("id", "_change_type", "_row_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(feed.toSeq === Seq((2L, "delete", before(2L))))
  }

  test("clone carries the id story; time travel before a rewrite " +
      "reads the original ids") {
    val dir = mk()
    VersionedTable.delete(spark, dir, "kind", col("id") === 4L)
    val dst = Files.createTempDirectory("graft-rowid-c").toString + "/t"
    VersionedTable.cloneTable(spark, dir, dst)
    assert(idMap(dst) === idMap(dir))
    val v0 = VersionedTable.readVersionWithRowIds(spark, dir, 0)
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v0.keySet === Set(1L, 2L, 3L, 4L))
    assert(idMap(dir).forall { case (k, id) => v0(k) == id })
  }

  test("SQL surface: CREATE TABLE TBLPROPERTIES graft.rowTracking, " +
      "CALL graft.enable_row_tracking, ids survive SQL DML") {
    val dir = Files.createTempDirectory("graft-rowid-sql").toString
    spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, kind STRING, " +
      "amount BIGINT) PARTITIONED BY (kind) " +
      "TBLPROPERTIES ('graft.rowTracking' = 'true')")
    spark.sql(s"INSERT INTO graft.`$dir` VALUES " +
      "(1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    val before = VersionedTable.readLatestWithRowIds(spark, dir)
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before.values.toSeq.distinct.size === 3)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id = 1")
    spark.sql(s"UPDATE graft.`$dir` SET amount = amount + 1 WHERE id = 2")
    val after = VersionedTable.readLatestWithRowIds(spark, dir)
      .select("id", "_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === before.filterKeys(_ != 1L).toMap)
    // procedure path on a plain table
    val dir2 = mk(rowTracking = false)
    val r = spark.sql(
      s"CALL graft.enable_row_tracking('$dir2')").collect().head
    assert(r.getLong(1) === 4L, s"watermark after 4-row backfill: $r")
    assert(idMap(dir2).values.toSeq.sorted === Seq(0L, 1L, 2L, 3L))
  }

  test("streaming CDF on a tracked table declares and delivers " +
      "_row_id; update batches pair by id") {
    val dir = mk()
    val static = spark.readStream.format("graft-snapshot")
      .option("readChangeFeed", "true").load(dir)
    assert(static.schema.fieldNames.contains("_row_id"))
    val ckpt = Files.createTempDirectory("graft-rowid-ck").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[(String, Long, Long)]]()
    val q = static.writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.select("_change_type", "id", "_row_id").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        if (got.nonEmpty) batches.add(got)
        ()
      }.start()
    try {
      q.processAllAvailable() // initial snapshot (insert rows WITH ids)
      val ids = idMap(dir)
      VersionedTable.update(spark, dir, "kind", col("id") === 3L,
        Seq("amount" -> lit(333L)))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val all = batches.asScala.toSeq.flatten
      val init = all.filter(_._1 == "insert")
      assert(init.map(t => t._2 -> t._3).toMap === ids,
        "initial snapshot must carry the real ids")
      val pre = all.filter(_._1 == "update_preimage")
      val post = all.filter(_._1 == "update_postimage")
      assert(pre.map(_._3) === post.map(_._3) &&
        pre.map(_._3).toSeq === Seq(ids(3L)))
    } finally q.stop()
  }

  test("vacuum cannot regress the watermark: erasing the max-id " +
      "add-dir leaves a persisted floor, fresh ids never reuse") {
    val dir = mk()
    // their own partition => the delete drops the whole leaf and the
    // add-dir becomes fully unreferenced (vacuum erases it)
    VersionedTable.append(Seq((5L, "z", "x", 50L), (6L, "z", "y", 60L))
      .toDF("id", "kind", "src", "amount"), dir, "kind")
    val burned = Seq(idMap(dir)(5L), idMap(dir)(6L))
    assert(burned.forall(_ >= 4L))
    VersionedTable.delete(spark, dir, "kind", col("kind") === "z")
    VersionedTable.vacuum(spark, dir, 1, orphanGraceMs = 0L)
    VersionedTable.append(Seq((7L, "c", "w", 70L))
      .toDF("id", "kind", "src", "amount"), dir, "kind")
    val fresh = idMap(dir)(7L)
    assert(!burned.contains(fresh) && fresh >= burned.max + 1,
      s"fresh id $fresh must sit above the erased ids $burned")
  }

  test("plan shape: the id-deriving read is scan + BROADCAST base " +
      "join — no shuffle exchange, no sort") {
    val dir = mk()
    VersionedTable.delete(spark, dir, "kind", col("id") === 1L)
    val plan = VersionedTable.readLatestWithRowIds(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      !plan.contains("Join"), s"base join must broadcast:\n$plan")
    assert(!plan.contains("ShuffleExchange") &&
      !plan.contains("Exchange hashpartitioning"),
      s"id derivation must not shuffle the table:\n$plan")
  }

  test("RACING appends never overlap ids: the CAS loser re-derives " +
      "the watermark over the winner's (and its own orphaned) sidecars") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = mk() // ids 0-3
    val writers = Future.traverse(1 to 4) { t =>
      Future {
        for (b <- 0 until 3) {
          // the invariant under test is ID DISJOINTNESS, not the
          // engine's bounded retry budget — under heavy box load four
          // lockstep writers can exhaust it, so the test tolerates the
          // loud conflict and retries (what a real caller does too)
          var committed = false
          while (!committed) {
            try {
              VersionedTable.append(
                Seq((t * 100L + b, s"p$t", "x", 1L), (t * 100L + b + 50L,
                  s"p$t", "y", 2L)).toDF("id", "kind", "src", "amount"),
                dir, "kind")
              committed = true
            } catch {
              case _: VersionedTable.CommitConflictException => ()
            }
          }
        }
      }
    }
    Await.result(writers, 5.minutes)
    val ids = VersionedTable.readLatestWithRowIds(spark, dir)
      .select("_row_id").as[Long].collect().toSeq
    assert(ids.size === 4 + 4 * 3 * 2)
    assert(ids.distinct.size === ids.size,
      s"duplicate row ids under racing appends: ${ids.sorted}")
  }

  test("snapshot_row_tracking entry: every version's id audits hold " +
      "under the single-evaluation feed (persist + signed-count pairing)") {
    // round-16: the audit leg evaluates the change feed ONCE (persisted)
    // and checks pre↔post pairing as one signed-count aggregate instead
    // of two exceptAll actions — this pins that the rewritten audit
    // still proves what the three-evaluation form proved
    val rows = VersionedTable.snapshotRowTracking(spark,
        "/root/testdata/sf0.001").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getBoolean(6), s"ids_ok failed at version ${r.getLong(0)}")
      assert(r.getBoolean(7), s"stable_ok failed at version ${r.getLong(0)}")
      assert(r.getBoolean(8), s"paired_ok failed at version ${r.getLong(0)}")
    }
    // the update commit (v3) must show a non-empty exactly-paired feed —
    // the case the signed-count form exists for
    val v3 = rows.find(_.getLong(0) == 3L).get
    assert(v3.getLong(4) > 0L && v3.getLong(4) === v3.getLong(5),
      s"v3 should pair preimages with postimages 1:1: $v3")
  }

  test("refusals: row tracking on ORC, converting a tracked table " +
      "away from parquet") {
    val bad = intercept[IllegalArgumentException] {
      val d = Files.createTempDirectory("graft-rowid-o").toString
      VersionedTable.create(Seq((1L, "k")).toDF("id", "kind"), d,
        "kind", format = "orc", rowTracking = true)
    }
    assert(bad.getMessage.contains("parquet"), bad.getMessage)
    val dir = mk()
    val conv = intercept[IllegalArgumentException] {
      VersionedTable.convertFormat(spark, dir, "kind", "orc")
    }
    assert(conv.getMessage.contains("row-tracked"), conv.getMessage)
  }
}
