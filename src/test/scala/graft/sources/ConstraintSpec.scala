package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession
import VersionedTable.ConstraintViolationException

/** Table CHECK constraints: append-time enforcement (SQL semantics —
  * only definite FALSE violates), the add-time existing-data gate, and
  * the carry invariant — the constraint set must survive EVERY lifecycle
  * operation that writes a manifest, because any site that forgets to
  * carry it silently un-constrains the table.
  */
class ConstraintSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture() = Seq(
    (1L, "a", "2024-01-01", 10L), (2L, "b", "2024-01-01", 20L),
    (3L, "a", "2024-01-02", 30L), (4L, "b", "2024-01-02", 40L)
  ).toDF("id", "kind", "pdate", "amount")

  private def mkTable(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft-ck-$tag").toString
    VersionedTable.create(fixture(), dir, "pdate")
    VersionedTable.addCheckConstraint(spark, dir, "amount_pos", "amount > 0")
    dir
  }

  test("violating appends refuse with a per-constraint count; valid ones commit") {
    val dir = mkTable("enforce")
    VersionedTable.addCheckConstraint(spark, dir, "id_not_null", "id IS NOT NULL")
    val bad = Seq((5L, "a", "2024-01-03", -1L), (6L, "a", "2024-01-03", 0L),
      (7L, "a", "2024-01-03", 70L)).toDF("id", "kind", "pdate", "amount")
    val e = intercept[ConstraintViolationException](
      VersionedTable.append(bad, dir, "pdate"))
    assert(e.getMessage.contains("2 row(s)") &&
      e.getMessage.contains("amount_pos"))
    // the refused append left no new version and no extra rows
    assert(VersionedTable.readLatest(spark, dir).count() === 4)
    VersionedTable.append(bad.filter($"amount" > 0), dir, "pdate")
    assert(VersionedTable.readLatest(spark, dir).count() === 5)
  }

  test("UNKNOWN passes: a null under CHECK is not a violation, per SQL") {
    val dir = Files.createTempDirectory("graft-ck-null").toString
    VersionedTable.create(
      Seq((1L, Some(5L), "p1")).toDF("id", "v", "pdate"), dir, "pdate")
    VersionedTable.addCheckConstraint(spark, dir, "v_pos", "v > 0")
    // v = null → (v > 0) is UNKNOWN → passes; v = -1 → FALSE → violates
    VersionedTable.append(
      Seq((2L, Option.empty[Long], "p1")).toDF("id", "v", "pdate"), dir, "pdate")
    assert(VersionedTable.readLatest(spark, dir).count() === 2)
    intercept[ConstraintViolationException](VersionedTable.append(
      Seq((3L, Some(-1L), "p1")).toDF("id", "v", "pdate"), dir, "pdate"))
  }

  test("adding a constraint existing rows violate is refused — no grandfathering") {
    val dir = Files.createTempDirectory("graft-ck-add").toString
    VersionedTable.create(fixture(), dir, "pdate")
    val v = VersionedTable.latestVersion(spark, dir)
    intercept[ConstraintViolationException](
      VersionedTable.addCheckConstraint(spark, dir, "small", "amount < 30"))
    assert(VersionedTable.latestVersion(spark, dir) === v,
      "a refused ADD CONSTRAINT must not commit a version")
    // non-boolean and duplicate-name refusals are loud too
    VersionedTable.addCheckConstraint(spark, dir, "ok", "amount > 0")
    intercept[IllegalArgumentException](
      VersionedTable.addCheckConstraint(spark, dir, "ok", "amount > 1"))
    intercept[IllegalArgumentException](
      VersionedTable.addCheckConstraint(spark, dir, "notbool", "amount + 1"))
  }

  test("every lifecycle operation carries the constraint set forward") {
    val dir = mkTable("carry")
    def names() = VersionedTable.checkConstraints(spark, dir).map(_._1)
    def assertCarried(op: String): Unit =
      assert(names() === Seq("amount_pos"), s"constraints lost by $op")

    VersionedTable.append(Seq((5L, "a", "2024-01-03", 50L))
      .toDF("id", "kind", "pdate", "amount"), dir, "pdate")
    assertCarried("append")
    VersionedTable.appendOnce(Seq((6L, "a", "2024-01-03", 60L))
      .toDF("id", "kind", "pdate", "amount"), dir, "pdate", "ch", "b1")
    assertCarried("appendOnce")
    VersionedTable.merge(Seq((6L, "b", "2024-01-03", 61L))
      .toDF("id", "kind", "pdate", "amount"), dir, "pdate", "id")
    assertCarried("merge")
    VersionedTable.delete(spark, dir, "pdate", $"id" === 5L)
    assertCarried("delete")
    VersionedTable.deleteMergeOnRead(spark, dir, $"id" === 6L)
    assertCarried("deleteMergeOnRead")
    VersionedTable.compact(spark, dir, "pdate")
    assertCarried("compact")
    VersionedTable.optimizeZOrder(spark, dir, "pdate", "id", "amount")
    assertCarried("optimizeZOrder")
    VersionedTable.evolvePartitionSpec(spark, dir, "kind")
    assertCarried("evolvePartitionSpec")
    VersionedTable.rollback(spark, dir, 1)
    assertCarried("rollback")
    val cloneDir = Files.createTempDirectory("graft-ck-clone").toString + "/t"
    VersionedTable.cloneTable(spark, dir, cloneDir)
    assert(VersionedTable.checkConstraints(spark, cloneDir).map(_._1) ===
      Seq("amount_pos"), "constraints lost by cloneTable")
    // and enforcement still works at the end of the whole walk
    intercept[ConstraintViolationException](
      VersionedTable.append(Seq((9L, "a", "2024-01-09", -9L))
        .toDF("id", "kind", "pdate", "amount"), dir, "pdate"))
  }

  test("drop removes enforcement; time travel sees the version's own set") {
    val dir = mkTable("drop")
    val constrainedV = VersionedTable.latestVersion(spark, dir)
    VersionedTable.dropCheckConstraint(spark, dir, "amount_pos")
    assert(VersionedTable.checkConstraints(spark, dir).isEmpty)
    VersionedTable.append(Seq((5L, "a", "2024-01-03", -5L))
      .toDF("id", "kind", "pdate", "amount"), dir, "pdate")
    assert(VersionedTable.readLatest(spark, dir).count() === 5)
    intercept[IllegalArgumentException](
      VersionedTable.dropCheckConstraint(spark, dir, "nope"))
    // the constrained version's manifest still records the constraint
    assert(VersionedTable.describeDetail(spark, dir)
      .select("num_constraints").collect().head.getInt(0) === 0)
    val _ = constrainedV // rollback-style reads use readVersion; detail is head-only
  }

  test("dropping a constraint keeps the table's format and feature markers") {
    val orc = Files.createTempDirectory("graft-ck-drop-orc").toString
    VersionedTable.create(fixture(), orc, "pdate", format = "orc")
    val tracked = Files.createTempDirectory("graft-ck-drop-rt").toString
    VersionedTable.create(fixture(), tracked, "pdate", rowTracking = true)
    for (dir <- Seq(orc, tracked)) {
      VersionedTable.addCheckConstraint(spark, dir, "amount_pos", "amount > 0")
      VersionedTable.dropCheckConstraint(spark, dir, "amount_pos")
    }
    assert(VersionedTable.headFormat(spark, orc) === "orc")
    assert(VersionedTable.readLatest(spark, orc).count() === 4)
    assert(VersionedTable.rowTrackingEnabled(spark, tracked))
  }

  test("quarantine routing: every row lands in exactly one table, labeled") {
    val dir = mkTable("quar")
    VersionedTable.addCheckConstraint(spark, dir, "kind_known", "kind IN ('a','b')")
    val qDir = Files.createTempDirectory("graft-ck-quar-q").toString + "/q"
    val batch = Seq(
      (5L, "a", "2024-01-03", 50L),   // clean
      (6L, "z", "2024-01-03", 60L),   // violates kind_known
      (7L, "z", "2024-01-03", -7L),   // violates BOTH → first in decl order
      (8L, "b", "2024-01-03", 80L)    // clean
    ).toDF("id", "kind", "pdate", "amount")
    val (appended, quarantined) =
      VersionedTable.appendQuarantine(batch, dir, "pdate", qDir)
    assert((appended, quarantined) === ((2L, 2L)))
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 8L))
    val q = VersionedTable.readLatest(spark, qDir)
      .select("id", "violated_constraint").as[(Long, String)]
      .collect().toMap
    // row 7 violates amount_pos AND kind_known: declaration order wins
    assert(q === Map(6L -> "kind_known", 7L -> "amount_pos"))
    // a clean batch through the same call takes the fast path
    val (a2, q2) = VersionedTable.appendQuarantine(
      Seq((9L, "a", "2024-01-04", 90L)).toDF("id", "kind", "pdate", "amount"),
      dir, "pdate", qDir)
    assert((a2, q2) === ((1L, 0L)))
    assert(VersionedTable.readLatest(spark, qDir).count() === 2,
      "a clean batch must not touch the quarantine table")
  }

  test("the dry-run probe reports per-constraint counts without writing") {
    val dir = mkTable("probe")
    VersionedTable.addCheckConstraint(spark, dir, "kind_known", "kind IN ('a','b')")
    val batch = Seq((5L, "z", "2024-01-03", -5L), (6L, "a", "2024-01-03", 6L))
      .toDF("id", "kind", "pdate", "amount")
    val probe = VersionedTable.constraintViolations(batch, dir)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(probe === Map("amount_pos" -> 1L, "kind_known" -> 1L))
    assert(VersionedTable.latestVersion(spark, dir) === 2) // nothing written
  }
}
