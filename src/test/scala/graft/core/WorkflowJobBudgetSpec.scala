package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogOps
import graft.model.{DeletionCriteria, JobConfig, Metrics}
import graft.sources.VersionedTable
import graft.testkit.{SparkJobs, SparkTestSession}

/** Pins the Spark job budget of the deletion workflow on both backends:
  * one per-partition census before and one after the delete, and
  * metastore lookups that run no job. A refactor that quietly brings back
  * a separate count scan, a second probe of the affected tuples or a
  * Catalyst query over a command result fails here.
  */
class WorkflowJobBudgetSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestSession.spark
  private val db = "job_budget_db"
  private val table = s"$db.budget_table"
  private def catalog = new CatalogOps(spark)

  /** Jobs of one `DeletionWorkflow.run` that empties one partition and
    * rewrites another: identify 1 (census), backup 4 (copy 1, census 1,
    * backup count 2), deletion 1 (the rewrite), post-validation 3 (census
    * 1, sample check 2).
    */
  private val WorkflowBudget = 9

  /** Jobs of one `VersionedDeletionWorkflow.run` that rewrites one leaf,
    * empties one and leaves one untouched: census 1, the rewrite's write,
    * census 1.
    */
  private val VersionedBudget = 5

  override def beforeEach(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (id BIGINT, status STRING)
         |PARTITIONED BY (partition_id STRING) STORED AS ORC""".stripMargin)
    // 20260101: 2 of 6 rows INACTIVE (rewritten); 20260102: all INACTIVE (emptied)
    val mixed = (1 to 6).map(i => s"($i, '${if (i % 3 == 0) "INACTIVE" else "ACTIVE"}')")
    spark.sql(s"INSERT INTO $table PARTITION (partition_id='20260101') VALUES ${mixed.mkString(", ")}")
    spark.sql(s"INSERT INTO $table PARTITION (partition_id='20260102') VALUES (7, 'INACTIVE'), (8, 'INACTIVE')")
  }

  override def afterEach(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    catalog.listTables(db).filter(_.startsWith("budget_table_backup_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
  }

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
    val config = JobConfig(db, "budget_table",
      DeletionCriteria(whereClause = Some("status = 'INACTIVE'")), validationSampleSize = 100)
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

  test("metastore lookups run no Spark job") {
    catalog.setTableProperties(table, Map("budget_key" -> "v"))
    def noJobs[A](name: String)(lookup: => A): A = {
      val (r, jobs) = jobsOf(lookup)
      assert(jobs == 0, s"$name ran $jobs Spark jobs")
      r
    }
    assert(noJobs("partitionExists")(catalog.partitionExists(table, "partition_id", "20260101")))
    assert(!noJobs("partitionExists")(catalog.partitionExists(table, "partition_id", "29990101")))
    assert(noJobs("partitionLocation")(catalog.partitionLocation(table, "partition_id", "20260102"))
      .exists(_.endsWith("partition_id=20260102")))
    assert(noJobs("listTables")(catalog.listTables(db)).contains("budget_table"))
    assert(noJobs("tableProperty")(catalog.tableProperty(table, "budget_key")).contains("v"))
  }
}
