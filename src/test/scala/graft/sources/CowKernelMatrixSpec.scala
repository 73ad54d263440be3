package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

/** Every copy-on-write entry point on ONE fixture that combines the
  * three properties a rewrite must respect at once:
  *   - leaves written under an EARLIER partition spec (`kind`, before
  *     [[VersionedTable.evolvePartitionSpec]] to `region`) beside
  *     current-spec leaves;
  *   - merge-on-read delete vectors on a foreign-spec leaf and on a
  *     current-spec leaf, both of which every statement hits;
  *   - row tracking on.
  * After each statement: the head and `VERSION AS OF` the previous
  * version match a plain DataFrame model, no vector-deleted row
  * reappears, unchanged survivors keep their row ids, and the manifest's
  * `dirty` set names only live leaves.
  */
class CowKernelMatrixSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated()
  import spark.implicits._

  private val cols = Seq("id", "kind", "region", "amount")
  private type R = (Long, String, String, Long)
  // removed by the fixture's merge-on-read delete: id 2 lives in the
  // foreign `kind=a` leaf, id 10 in the current-spec `region=y` leaf
  private val vectorDeleted = Set(2L, 10L)

  private def frame(rows: R*): DataFrame = rows.toDF(cols: _*)

  private def fixture(): String = {
    val dir = Files.createTempDirectory("graft-cow-matrix").toString
    VersionedTable.create(frame(
      (1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "a", "x", 30L),
      (4L, "b", "y", 40L), (5L, "b", "x", 50L), (6L, "b", "y", 60L),
      (7L, "c", "x", 70L), (8L, "c", "y", 80L)), dir, "kind",
      rowTracking = true)
    VersionedTable.evolvePartitionSpec(spark, dir, "region")
    VersionedTable.append(frame(
      (9L, "a", "x", 90L), (10L, "b", "y", 100L), (11L, "c", "x", 110L),
      (12L, "a", "y", 120L)), dir, "region")
    VersionedTable.deleteMergeOnRead(spark, dir,
      col("id").isin(vectorDeleted.toSeq: _*))
    dir
  }

  private def rows(df: DataFrame): Seq[R] =
    df.select(cols.map(col): _*).as[R].collect().toSeq.sortBy(_._1)

  private def rowIds(dir: String): Map[Long, Long] =
    VersionedTable.readLatestWithRowIds(spark, dir)
      .select("id", "_row_id").as[(Long, Long)].collect().toMap

  private def manifest(dir: String): VersionedTable.VManifest =
    VersionedTable.manifestView(spark, dir,
      VersionedTable.latestVersion(spark, dir))

  // the tuple NOT IN set of the split forms: (id, region) pairs kept
  // out of a `kind = 'a'` statement — it hits ids 3 (foreign leaf) and
  // 12 (current-spec leaf)
  private def notInSet = Seq(Seq("id", "region") ->
    Seq((1L, "x"), (9L, "x")).toDF("id", "region"))
  private val notInHit: Column =
    col("kind") === "a" && !col("id").isin(1L, 9L)
  private def idKeys(ids: Long*) = Seq(Seq("id") -> ids.toDF("id"))
  private def setAmount(hit: Column, value: Column)(pre: DataFrame) =
    pre.withColumn("amount", when(hit, value).otherwise(col("amount")))

  // replaces the `region=x` slice, which the foreign `kind=a` leaf
  // shares with the vector-deleted id 2
  private val replacement = Seq[R]((21L, "c", "x", 210L))
  private val upsert = Seq[R]((1L, "a", "x", 999L), (12L, "a", "y", 1212L),
    (30L, "b", "y", 300L))
  private val clauseBatch = Seq[R]((3L, "a", "x", 333L),
    (12L, "a", "y", -1L), (31L, "c", "y", 310L))

  /** (entry point, statement over the fixture dir, model over the
    * pre-statement rows)
    */
  private val matrix: Seq[(String, String => Unit, DataFrame => DataFrame)] =
    Seq(
      ("delete",
        dir => VersionedTable.delete(spark, dir, "region",
          col("id").isin(1L, 12L)),
        _.filter(!col("id").isin(1L, 12L))),
      ("deleteMatching (marker)",
        dir => VersionedTable.deleteMatching(spark, dir, "region",
          idKeys(3L, 12L), None),
        _.filter(!col("id").isin(3L, 12L))),
      ("deleteMatching (tuple NOT IN)",
        dir => VersionedTable.deleteMatching(spark, dir, "region", Nil,
          Some(col("kind") === "a"), notInTuples = notInSet),
        _.filter(!notInHit)),
      ("replaceWhere",
        dir => VersionedTable.replaceWhere(frame(replacement: _*), dir,
          "region", col("region") === "x"),
        _.filter(col("region") =!= "x").union(frame(replacement: _*))),
      ("update",
        dir => VersionedTable.update(spark, dir, "region",
          col("id").isin(1L, 12L), Seq("amount" -> (col("amount") + 1000L))),
        setAmount(col("id").isin(1L, 12L), col("amount") + 1000L)),
      ("updateMatching (marker)",
        dir => VersionedTable.updateMatching(spark, dir, "region",
          idKeys(3L, 12L), None, Seq("amount" -> lit(-1L))),
        setAmount(col("id").isin(3L, 12L), lit(-1L))),
      ("updateMatching (split)",
        dir => VersionedTable.updateMatching(spark, dir, "region", Nil,
          Some(col("kind") === "a"), Seq("amount" -> lit(0L)),
          notInTuples = notInSet),
        setAmount(notInHit, lit(0L))),
      ("overwritePartitions",
        dir => VersionedTable.overwritePartitions(frame(replacement: _*),
          dir, "region"),
        _.filter(col("region") =!= "x").union(frame(replacement: _*))),
      ("merge",
        dir => VersionedTable.merge(frame(upsert: _*), dir, "region", "id"),
        _.join(frame(upsert: _*).select("id"), Seq("id"), "left_anti")
          .select(cols.map(col): _*).union(frame(upsert: _*))),
      ("mergeInto",
        dir => VersionedTable.mergeInto(frame(clauseBatch: _*), dir,
          "region", "id",
          matched = Seq(
            (Some(col("__s.amount") < 0L), true, Nil),
            (None, false, Seq("amount" -> col("__s.amount")))),
          insert = Some((None, cols.map(c => c -> col(s"__s.$c"))))),
        pre => setAmount(col("id") === 3L, lit(333L))(pre)
          .filter(col("id") =!= 12L).union(frame(clauseBatch.last))))

  matrix.foreach { case (name, statement, model) =>
    test(s"copy-on-write $name over foreign-spec leaves, delete vectors " +
        "and row tracking") {
      val dir = fixture()
      val before = manifest(dir)
      assert(before.leaves.exists(_.contains("kind__p=")) &&
        before.leaves.exists(_.contains("region__p=")),
        "fixture needs leaves of both specs")
      assert(before.dirty.exists(_.contains("kind__p=")) &&
        before.dirty.exists(_.contains("region__p=")),
        "fixture needs delete vectors on leaves of both specs")
      val pre = VersionedTable.readLatest(spark, dir)
      val preRows = rows(pre)
      val preIds = rowIds(dir)
      val v = VersionedTable.latestVersion(spark, dir)

      statement(dir)

      assert(VersionedTable.latestVersion(spark, dir) === v + 1)
      val want = rows(model(frame(preRows: _*)))
      val head = rows(VersionedTable.readLatest(spark, dir))
      assert(head === want, "head")
      assert(rows(spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF $v"))
        === preRows, s"VERSION AS OF $v")
      assert(head.map(_._1).filter(vectorDeleted) === Nil,
        "a vector-deleted row reappeared")
      val postIds = rowIds(dir)
      assert(postIds.size === head.size && postIds.values.toSet.size ===
        head.size, "row ids are not unique among live rows")
      val unchanged = head.filter(preRows.contains).map(_._1)
      assert(unchanged.nonEmpty)
      unchanged.foreach(id => assert(postIds(id) === preIds(id),
        s"unchanged row $id changed its row id"))
      val after = manifest(dir)
      assert(before.dirty.exists(l => !after.leaves.contains(l)),
        "the statement rewrote no leaf carrying a delete vector")
      assert(after.dirty.forall(after.leaves.contains),
        s"dirty names dropped leaves: ${after.dirty.filterNot(after.leaves.contains)}")
    }
  }
}
