package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogOps
import graft.model.{DeletionCriteria, JobConfig, Metrics}
import graft.sources.VersionedTable
import graft.testkit.{MetastoreCalls, SparkJobs, SparkTestSession}

/** Pins the Spark job budget of the deletion workflow on both backends:
  * one per-partition census before and one after the delete, each sharing
  * its job with the safety check that reads the same state, and metastore
  * lookups that run no job. A refactor that quietly brings back a separate
  * count scan, a second probe of the affected tuples or a Catalyst query
  * over a command result fails here. It also pins the Hive path's
  * metastore round-trips per emptied partition: a lookup or a drop that
  * goes back to one SQL command per partition fails here.
  */
class WorkflowJobBudgetSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestSession.spark
  private val db = "job_budget_db"
  private val table = s"$db.budget_table"
  private def catalog = new CatalogOps(spark)

  /** Jobs of one `DeletionWorkflow.run` that empties one partition and
    * rewrites another: identify 1 (census), backup 2 (copy 1, census with
    * the backup count 1), deletion 1 (the rewrite), post-validation 1
    * (census with the sample check).
    */
  private val WorkflowBudget = 5

  /** Hive client calls one more emptied partition may add to a run; one
    * SQL command per emptied partition costs ~32.
    */
  private val ClientCallsPerEmptied = 12

  /** Jobs of one `VersionedDeletionWorkflow.run` that rewrites one leaf,
    * empties one and leaves one untouched: census 1, the rewrite's write,
    * census 1.
    */
  private val VersionedBudget = 5

  override def beforeEach(): Unit = load()

  /** 20260101: 2 of 6 rows INACTIVE (rewritten); 20260102 and the
    * `moreEmptied` partitions after it: all INACTIVE (emptied).
    */
  private def load(moreEmptied: Int = 0): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (id BIGINT, status STRING)
         |PARTITIONED BY (partition_id STRING) STORED AS ORC""".stripMargin)
    val mixed = (1 to 6).map(i => s"($i, '${if (i % 3 == 0) "INACTIVE" else "ACTIVE"}')")
    spark.sql(s"INSERT INTO $table PARTITION (partition_id='20260101') VALUES ${mixed.mkString(", ")}")
    (2 to 2 + moreEmptied).foreach(d =>
      spark.sql(s"INSERT INTO $table PARTITION (partition_id='2026010$d') VALUES (7, 'INACTIVE'), (8, 'INACTIVE')"))
  }

  override def afterEach(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    catalog.listTables(db).filter(_.startsWith("budget_table_backup_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
  }

  private def config =
    JobConfig(db, "budget_table",
      DeletionCriteria(whereClause = Some("status = 'INACTIVE'")), validationSampleSize = 100)

  private def jobsOf[A](body: => A): (A, Int) = {
    val (result, jobs) = SparkJobs.jobsOf(spark)(body)
    (result, jobs.size)
  }

  /** Runs `workflow` under the job counter and holds it to `budget`. */
  private def withinBudget(budget: Int)(workflow: => Boolean): Unit = {
    val (ok, jobs) = SparkJobs.jobsOf(spark)(workflow)
    assert(ok)
    val listed = jobs.mkString("\n")
    info(s"${jobs.size} Spark jobs:\n$listed")
    assert(jobs.size <= budget, s"workflow ran ${jobs.size} Spark jobs, budget $budget:\n$listed")
  }

  test(s"a workflow run that rewrites one partition and empties another takes at most $WorkflowBudget jobs") {
    val metrics = new Metrics
    withinBudget(WorkflowBudget)(DeletionWorkflow.run(spark, config, metrics))
    assert(metrics.validationPassed)
    assert(metrics.totalRecordsDeleted == 4)
    assert(catalog.listPartitions(table) == Seq("20260101"))
  }

  test(s"a versioned workflow run that rewrites one leaf, empties one and leaves one takes at most $VersionedBudget jobs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vbudget").toString
    // a: 2 of 6 rows INACTIVE (rewritten); b: all INACTIVE (emptied); c: none (untouched)
    val rows = (1 to 6).map(i => (i.toLong, if (i % 3 == 0) "INACTIVE" else "ACTIVE", "a")) ++
      Seq((7L, "INACTIVE", "b"), (8L, "INACTIVE", "b"), (9L, "ACTIVE", "c"))
    VersionedTable.create(rows.toDF("id", "status", "p"), dir, "p")
    val metrics = new Metrics
    withinBudget(VersionedBudget)(
      VersionedDeletionWorkflow.run(spark, dir, "p", col("status") === "INACTIVE", metrics))
    assert(metrics.validationPassed)
    assert(metrics.totalRecordsDeleted == 4)
    assert(VersionedTable.readLatest(spark, dir).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L, 9L))
  }

  test(s"each extra emptied partition adds at most $ClientCallsPerEmptied Hive client calls and no SQL execution") {
    // one untouched partition besides the emptied ones and the rewritten
    // one; the run that empties more goes first, so any warm-up it pays
    // only widens the gap it is held to
    def calls(emptied: Int): MetastoreCalls.Calls = {
      afterEach()
      load(emptied - 1)
      spark.sql(s"INSERT INTO $table PARTITION (partition_id='20260109') VALUES (9, 'ACTIVE')")
      val metrics = new Metrics
      val (ok, c) = MetastoreCalls.of(spark)(DeletionWorkflow.run(spark, config, metrics))
      assert(ok && metrics.totalRecordsDeleted == 2 + 2 * emptied)
      assert(catalog.listPartitions(table).sorted == Seq("20260101", "20260109"))
      info(s"$emptied emptied: $c")
      c
    }
    val three = calls(3)
    val one = calls(1)
    val perEmptied = (three.hiveClient - one.hiveClient) / 2.0
    assert(perEmptied <= ClientCallsPerEmptied,
      s"each extra emptied partition cost $perEmptied Hive client calls ($one vs $three)")
    assert(three.sqlExecutions == one.sqlExecutions,
      s"emptying more partitions ran more SQL executions ($one vs $three)")
  }

  test("metastore lookups run no Spark job") {
    catalog.setTableProperties(table, Map("budget_key" -> "v"))
    def noJobs[A](name: String)(lookup: => A): A = {
      val (r, jobs) = jobsOf(lookup)
      assert(jobs == 0, s"$name ran $jobs Spark jobs")
      r
    }
    assert(noJobs("listPartitions")(catalog.listPartitions(table)).sorted ==
      Seq("20260101", "20260102"))
    val locations = noJobs("partitionLocations")(
      catalog.partitionLocations(table, "partition_id", Seq("20260102", "29990101")))
    assert(locations.keySet == Set("20260102"))
    assert(locations("20260102").endsWith("partition_id=20260102"))
    assert(noJobs("listTables")(catalog.listTables(db)).contains("budget_table"))
    assert(noJobs("tableProperties")(catalog.tableProperties(db, Seq("budget_table", "no_such")))
      .get("budget_table").flatMap(_.get("budget_key")).contains("v"))
  }
}
