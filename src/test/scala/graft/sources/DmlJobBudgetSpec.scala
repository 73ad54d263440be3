package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.{SparkJobs, SparkTestSession}

/** Pins the Spark job budget of versioned DML on a table that carries a
  * merge-on-read delete vector: vectors read with their fixed schema (no
  * footer-inference job), and the affected-tuple probe and the
  * merge-on-read touched-leaf set in one job each (no shuffle). A
  * refactor that brings back an inferred vector read or a `distinct()`
  * collect fails here.
  */
class DmlJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Three leaves, `p=a` `p=b` `p=c`, two rows each; version 1 is a
    * merge-on-read delete of id 1, so `p=a` is the one dirty leaf. Every
    * read of a view that holds `p=a` broadcasts the vector (one job).
    */
  private lazy val fixture: Path = {
    val dir = Files.createTempDirectory("graft-dml-budget").resolve("t")
    VersionedTable.create(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "b", 40L), (5L, "c", 50L), (6L, "c", 60L)).toDF("id", "p", "v"),
      dir.toString, "p")
    VersionedTable.deleteMergeOnRead(spark, dir.toString, col("id") === 1L)
    dir
  }

  /** A private copy of the fixture, so each case starts from version 1. */
  private def table(): String = {
    val dst = Files.createTempDirectory("graft-dml-budget-case").resolve("t")
    val walk = Files.walk(fixture)
    try walk.iterator.asScala.foreach(p =>
      Files.copy(p, dst.resolve(fixture.relativize(p).toString)))
    finally walk.close()
    dst.toString
  }

  private def rows(dir: String): Seq[(Long, String, Long)] =
    VersionedTable.readLatest(spark, dir)
      .select("id", "p", "v").as[(Long, String, Long)].collect().toSeq.sortBy(_._1)

  private def budget[A](what: String, limit: Int)(body: => A): A = {
    val (result, jobs) = SparkJobs.jobsOf(spark)(body)
    info(s"$what: ${jobs.size} Spark jobs (${jobs.mkString("; ")})")
    assert(jobs.size <= limit,
      s"$what ran ${jobs.size} Spark jobs, budget $limit: ${jobs.mkString("; ")}")
    result
  }

  // probe: vector broadcast, the probe; rewrite: vector broadcast, the
  // write's shuffle map stage, the write
  test("a DELETE that hits every leaf, the vector-carrying one included, takes at most 5 jobs") {
    val dir = table()
    budget("DELETE", 5)(spark.sql(s"DELETE FROM graft.`$dir` WHERE id % 2 = 0"))
    assert(rows(dir) == Seq((3L, "b", 30L), (5L, "c", 50L)))
    assert(VersionedTable.manifestView(spark, dir, 2).dirty.isEmpty)
  }

  // probe over the whole view: vector broadcast, the probe; rewrite of
  // the clean leaf: the write's shuffle map stage, the write
  test("an UPDATE of a clean leaf takes at most 4 jobs") {
    val dir = table()
    budget("UPDATE", 4)(spark.sql(s"UPDATE graft.`$dir` SET v = v + 1 WHERE p = 'b'"))
    assert(rows(dir) == Seq((2L, "a", 20L), (3L, "b", 31L), (4L, "b", 41L),
      (5L, "c", 50L), (6L, "c", 60L)))
  }

  // vector broadcast, the new vector's write, its touched-leaf set
  test("a merge-on-read delete over two leaves takes at most 3 jobs") {
    val dir = table()
    budget("merge-on-read delete", 3)(
      VersionedTable.deleteMergeOnRead(spark, dir, col("id").isin(3L, 6L)))
    assert(rows(dir) == Seq((2L, "a", 20L), (4L, "b", 40L), (5L, "c", 50L)))
    // the new vector's touched set names both of its leaves
    val m = VersionedTable.manifestView(spark, dir, 2)
    assert(m.leaves.size == 3 && m.dirty.toSet == m.leaves.toSet)
  }

  // vector broadcast, the aggregate's shuffle map stage, its result
  test("a VERSION AS OF read of a vector-carrying version takes at most 3 jobs") {
    val dir = table()
    VersionedTable.append(Seq((7L, "a", 70L)).toDF("id", "p", "v"), dir, "p")
    val got = budget("VERSION AS OF", 3)(spark.sql(
      s"SELECT count(*), sum(v) FROM graft.`$dir` VERSION AS OF 1 WHERE p = 'a'").head())
    assert((got.getLong(0), got.getLong(1)) == ((1L, 20L)))
  }
}
