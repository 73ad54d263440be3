package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

/** Named refs — BRANCHES and TAGS over the version history (the
  * Iceberg branch/tag surface at this manifest's granularity): CAS-
  * committed pointer files next to the manifests, `VERSION AS OF
  * '<name>'` resolution, tag immutability, vacuum immunity for ref'd
  * versions, and checkout (hard-linked clone at the ref) as the
  * divergent-write mechanism. Reference context: the reference's
  * backup tables (`BackupManager.java:21-61`) are ad-hoc named
  * snapshots — a ref is that idea without copying a byte.
  */
class TableRefsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated()
  import spark.implicits._

  /** v0: ids 1-2; v1: +3-4; v2: +5-6 — each version its own leaves. */
  private def mkTable(): String = {
    val dir = Files.createTempDirectory("graft-refs").toString
    def batch(lo: Long) =
      Seq((lo, "a", lo * 10L), (lo + 1, "b", (lo + 1) * 10L))
        .toDF("id", "kind", "amount")
    VersionedTable.create(batch(1), dir, "kind")
    VersionedTable.append(batch(3), dir, "kind")
    VersionedTable.append(batch(5), dir, "kind")
    dir
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("create/read/retarget/drop: tags and branches resolve in " +
      "VERSION AS OF, the connector option, and the refs metadata " +
      "table; tags refuse retargeting; bad names refuse") {
    val dir = mkTable()
    VersionedTable.createTag(spark, dir, "rel-1.0", Some(0))
    VersionedTable.createBranch(spark, dir, "audit") // head = v2
    assert(VersionedTable.tableRefs(spark, dir) ===
      Seq(("audit", "branch", 2), ("rel-1.0", "tag", 0)))
    // SQL time travel by name
    assert(ids(spark.sql(
      s"SELECT * FROM graft.`$dir` VERSION AS OF 'rel-1.0'"))
      === Seq(1L, 2L))
    assert(ids(spark.sql(
      s"SELECT * FROM graft.`$dir` VERSION AS OF 'audit'"))
      === (1L to 6L))
    // connector option spelling
    assert(ids(spark.read.format("graft-snapshot")
      .option("versionAsOf", "rel-1.0").load(dir)) === Seq(1L, 2L))
    // branch retargets (pointer move, no data motion)
    VersionedTable.retargetBranch(spark, dir, "audit", 1)
    assert(ids(spark.sql(
      s"SELECT * FROM graft.`$dir` VERSION AS OF 'audit'"))
      === (1L to 4L))
    // a tag refuses retargeting
    val tag = intercept[UnsupportedOperationException] {
      VersionedTable.retargetBranch(spark, dir, "rel-1.0", 2)
    }
    assert(tag.getMessage.contains("TAG"), tag.getMessage)
    // refs metadata table
    val meta = spark.sql(s"SELECT * FROM graft.`$dir`.refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(meta.toSeq.sorted ===
      Seq(("audit", "branch", 1), ("rel-1.0", "tag", 0)))
    // duplicate and malformed names refuse
    intercept[Exception] {
      VersionedTable.createTag(spark, dir, "audit")
    }
    val numeric = intercept[Exception] {
      VersionedTable.createTag(spark, dir, "2026")
    }
    assert(numeric.getMessage.contains("ambiguous"), numeric.getMessage)
    intercept[Exception] {
      VersionedTable.createBranch(spark, dir, "x", Some(99))
    }
    // unknown name in time travel is loud
    val unknown = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 'nope'")
        .collect()
    }
    assert(unknown.getMessage.contains("nope"), unknown.getMessage)
    // drop
    VersionedTable.dropRef(spark, dir, "audit")
    assert(VersionedTable.tableRefs(spark, dir).map(_._1)
      === Seq("rel-1.0"))
  }

  test("a ref'd version is immune to EVERY vacuum flavor until the " +
      "ref drops; then retention reclaims it") {
    val dir = mkTable()
    VersionedTable.createTag(spark, dir, "keep-v0", Some(0))
    // count-based retention: v0 survives because the tag names it;
    // v1 (unref'd, not in the retained tail) goes
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(VersionedTable.versions(spark, dir) === Seq(0, 2))
    assert(ids(spark.sql(
      s"SELECT * FROM graft.`$dir` VERSION AS OF 'keep-v0'"))
      === Seq(1L, 2L))
    // age-based retention spares it too (everything is "old")
    VersionedTable.vacuumOlderThan(spark, dir, maxAgeMs = 0L,
      nowMs = System.currentTimeMillis() + 3600_000L)
    assert(VersionedTable.versions(spark, dir) === Seq(0, 2))
    // so do the dry run and maintain's vacuum
    assert(VersionedTable.vacuumDryRun(spark, dir, retainLast = 1)._2 === Nil)
    VersionedTable.maintain(spark, dir, "kind", retainLast = 1)
    assert(VersionedTable.versions(spark, dir) === Seq(0, 2))
    assert(ids(spark.sql(
      s"SELECT * FROM graft.`$dir` VERSION AS OF 'keep-v0'"))
      === Seq(1L, 2L))
    // head reads stay intact throughout
    assert(ids(spark.sql(s"SELECT * FROM graft.`$dir`")) === (1L to 6L))
    // drop the tag: the pinned version re-enters retention and goes
    VersionedTable.dropRef(spark, dir, "keep-v0")
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(VersionedTable.versions(spark, dir) === Seq(2))
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 0").collect()
    }
  }

  test("checkout materializes a ref as an independent table: full DML " +
      "on the clone, the parent untouched, vacuum on either side safe " +
      "(hard links)") {
    val dir = mkTable()
    VersionedTable.createBranch(spark, dir, "exp", Some(1))
    val dst = Files.createTempDirectory("graft-refs-co").toString + "/b"
    val (linked, copied) =
      VersionedTable.checkoutBranch(spark, dir, "exp", dst)
    assert(linked + copied > 0)
    // the clone reads the ref'd version and takes divergent DML
    assert(ids(spark.sql(s"SELECT * FROM graft.`$dst`")) === (1L to 4L))
    spark.sql(s"DELETE FROM graft.`$dst` WHERE id = 2")
    spark.sql(s"INSERT INTO graft.`$dst` VALUES (9, 'a', 90)")
    assert(ids(spark.sql(s"SELECT * FROM graft.`$dst`"))
      === Seq(1L, 3L, 4L, 9L))
    // the parent never saw any of it
    assert(ids(spark.sql(s"SELECT * FROM graft.`$dir`")) === (1L to 6L))
    // vacuum the PARENT to the head only: the clone keeps reading
    // (hard-linked files survive the parent's delete)
    VersionedTable.dropRef(spark, dir, "exp")
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(ids(spark.sql(s"SELECT * FROM graft.`$dst`"))
      === Seq(1L, 3L, 4L, 9L))
  }
}
