package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

/** Every maintenance fold entry point on ONE fixture that combines what
  * a fold must respect at once:
  *   - leaves written under an EARLIER partition spec (`kind`, before
  *     [[VersionedTable.evolvePartitionSpec]] to `region`) beside
  *     current-spec leaves;
  *   - merge-on-read delete vectors on a `region=x` leaf, which every
  *     fold folds, and on a `region=y` leaf, which the `WHERE region =
  *     'x'` forms carry;
  *   - row tracking, a CHECK constraint and an `appendOnce` channel.
  * After each fold: the head and `VERSION AS OF` the previous version
  * hold the pre-fold rows, no vector-deleted row reappears, every row
  * keeps its row id, exactly the unselected leaves carry by reference,
  * `dirty` names only carried leaves, the delete dirs stay exactly while
  * a dirty leaf is carried, and the constraint and the channel survive.
  * The fixture is built once and copied per case.
  */
class MaintenanceMatrixSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated()
  import spark.implicits._

  private val cols = Seq("id", "kind", "region", "amount")
  private type R = (Long, String, String, Long)
  // removed by the fixture's merge-on-read delete: id 7 lives in the
  // first `region=x` leaf, id 10 in the second `region=y` leaf
  private val vectorDeleted = Set(7L, 10L)

  private def frame(rows: R*): DataFrame = rows.toDF(cols: _*)

  /** v0 create (spec `kind`, tracked), v1 CHECK constraint, v2 spec →
    * `region`, v3 append, v4 `appendOnce` (channel `ch`, batch `b1`),
    * v5 merge-on-read delete: two foreign leaves, two leaves in each of
    * `region=x` and `region=y`, one dirty leaf in each.
    */
  private lazy val template: String = {
    val dir = Files.createTempDirectory("graft-maint-matrix").toString
    VersionedTable.create(frame(
      (1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "x", 30L),
      (4L, "b", "y", 40L), (5L, "a", "x", 50L), (6L, "b", "y", 60L)),
      dir, "kind", rowTracking = true)
    VersionedTable.addCheckConstraint(spark, dir, "amount_pos", "amount > 0")
    VersionedTable.evolvePartitionSpec(spark, dir, "region")
    VersionedTable.append(frame((7L, "a", "x", 70L), (8L, "b", "y", 80L)),
      dir, "region")
    VersionedTable.appendOnce(frame((9L, "b", "x", 90L),
      (10L, "a", "y", 100L)), dir, "region", "ch", "b1")
    VersionedTable.deleteMergeOnRead(spark, dir,
      col("id").isin(vectorDeleted.toSeq: _*))
    dir
  }

  /** A private copy of the fixture (manifests and sidecars hold only
    * tableDir-relative paths).
    */
  private def fixture(): String = {
    val src = Paths.get(template)
    val dst = Files.createTempDirectory("graft-maint-case").resolve("t")
    val walk = Files.walk(src)
    try walk.forEach((p: Path) =>
      Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally walk.close()
    dst.toString
  }

  private def rows(df: DataFrame): Seq[R] =
    df.select(cols.map(col): _*).as[R].collect().toSeq.sortBy(_._1)

  private def rowIds(dir: String): Map[Long, Long] =
    VersionedTable.readLatestWithRowIds(spark, dir)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap

  private def manifest(dir: String): VersionedTable.VManifest =
    VersionedTable.manifestView(spark, dir,
      VersionedTable.latestVersion(spark, dir))

  private def inRegion(r: String)(l: String) = l.contains(s"region__p=$r")
  private val all: String => Boolean = _ => true
  private val currentSpec: String => Boolean = _.contains("region__p=")
  private val whereX = Some("region = 'x'")

  /** (entry point, fold over the fixture dir, the head leaves it folds) */
  private val matrix: Seq[(String, String => Unit, String => Boolean)] = Seq(
    ("compact", VersionedTable.compact(spark, _, "region"), all),
    ("convertFormat",
      VersionedTable.convertFormat(spark, _, "region", "parquet"), all),
    // every current-spec partition holds two small leaves; the
    // foreign-spec leaves are compact's job and carry
    ("binpack", VersionedTable.binpack(spark, _, "region", 1L << 30),
      currentSpec),
    ("binpack WHERE",
      VersionedTable.binpack(spark, _, "region", 1L << 30, whereX),
      inRegion("x")),
    ("optimizeZOrderCols",
      VersionedTable.optimizeZOrderCols(spark, _, "region",
        Seq("id", "amount")), all),
    ("optimizeZOrderCols WHERE",
      VersionedTable.optimizeZOrderCols(spark, _, "region",
        Seq("id", "amount"), where = whereX), inRegion("x")))

  matrix.foreach { case (name, fold, folds) =>
    test(s"maintenance $name over foreign-spec leaves, delete vectors, " +
        "row tracking, a constraint and a channel") {
      val dir = fixture()
      val before = manifest(dir)
      assert(before.leaves.count(_.contains("kind__p=")) === 2 &&
        before.leaves.count(inRegion("x")) === 2 &&
        before.leaves.count(inRegion("y")) === 2,
        s"fixture leaves: ${before.leaves}")
      assert(before.dirty.count(inRegion("x")) === 1 &&
        before.dirty.count(inRegion("y")) === 1,
        s"fixture dirty leaves: ${before.dirty}")
      val preRows = rows(VersionedTable.readLatest(spark, dir))
      val preIds = rowIds(dir)
      val v = VersionedTable.latestVersion(spark, dir)

      fold(dir)

      assert(VersionedTable.latestVersion(spark, dir) === v + 1)
      val head = rows(VersionedTable.readLatest(spark, dir))
      assert(head === preRows, "head")
      assert(rows(spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF $v"))
        === preRows, s"VERSION AS OF $v")
      assert(head.map(_._1).filter(vectorDeleted) === Nil,
        "a vector-deleted row reappeared")
      assert(rowIds(dir) === preIds, "a row changed its row id")
      val after = manifest(dir)
      val carried = before.leaves.filterNot(folds)
      assert(after.leaves.filter(before.leaves.contains) === carried,
        "carried by reference")
      assert(after.leaves.size > carried.size, "the fold wrote no leaf")
      assert(after.dirty.forall(after.leaves.contains),
        s"dirty names dropped leaves: ${after.dirty.filterNot(after.leaves.contains)}")
      assert(after.dirty === before.dirty.filter(carried.contains))
      assert(after.deletes ===
        (if (after.dirty.isEmpty) Nil else before.deletes),
        "delete dirs must stay exactly while a dirty leaf is carried")
      assert(after.format === before.format, "format and feature markers")
      assert(VersionedTable.checkConstraints(spark, dir) ===
        Seq(("amount_pos", "amount > 0")))
      // the channel's exactly-once memory survives: replay is a no-op
      VersionedTable.appendOnce(frame((9L, "b", "x", 90L)), dir, "region",
        "ch", "b1")
      assert(VersionedTable.latestVersion(spark, dir) === v + 1)
    }
  }

  test("maintain refuses retainLast = 0 before touching the table") {
    val dir = fixture()
    val vs = VersionedTable.versions(spark, dir)
    val pre = rows(VersionedTable.readLatest(spark, dir))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.maintain(spark, dir, "region",
        maxLeavesPerPartition = 1, retainLast = 0)
    }
    assert(e.getMessage.contains("retainLast"), e.getMessage)
    assert(VersionedTable.versions(spark, dir) === vs)
    assert(rows(VersionedTable.readLatest(spark, dir)) === pre)
  }
}
