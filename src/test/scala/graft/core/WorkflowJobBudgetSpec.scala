package graft.core

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogOps
import graft.model.{DeletionCriteria, JobConfig, Metrics}
import graft.testkit.{SparkJobs, SparkTestSession}

/** Pins the Spark job budget of the Hive deletion workflow: one
  * per-partition census before and one after the delete, and metastore
  * lookups that run no job. A refactor that quietly brings back a
  * separate count scan or a Catalyst query over a command result fails
  * here.
  */
class WorkflowJobBudgetSpec extends AnyFunSuite with BeforeAndAfterEach {
  private lazy val spark = SparkTestSession.spark
  private val db = "job_budget_db"
  private val table = s"$db.budget_table"
  private def catalog = new CatalogOps(spark)

  /** Jobs of one `DeletionWorkflow.run` that empties one partition and
    * rewrites another: identify 2, backup 5 (copy, census, backup count),
    * deletion 1 (the rewrite), post-validation 4 (census, sample check).
    */
  private val WorkflowBudget = 12

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

  test(s"a workflow run that rewrites one partition and empties another takes at most $WorkflowBudget jobs") {
    val config = JobConfig(db, "budget_table",
      DeletionCriteria(whereClause = Some("status = 'INACTIVE'")), validationSampleSize = 100)
    val metrics = new Metrics
    val (ok, jobs) = jobsOf(DeletionWorkflow.run(spark, config, metrics))
    assert(ok && metrics.validationPassed)
    assert(metrics.totalRecordsDeleted == 4)
    assert(catalog.listPartitions(table) == Seq("20260101"))
    info(s"$jobs Spark jobs")
    assert(jobs <= WorkflowBudget, s"workflow ran $jobs Spark jobs, budget $WorkflowBudget")
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
