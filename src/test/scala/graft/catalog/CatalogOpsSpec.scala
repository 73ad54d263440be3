package graft.catalog

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

/** DDL-safety suite for the metastore algebra: partition values flow into
  * `PARTITION (...)` clauses only via PartitionId.partitionSpec, so values
  * containing quotes cannot break (or inject into) the generated SQL —
  * the reference interpolates raw (DeletionExecutor.java:190-194).
  */
class CatalogOpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val db = "catalog_ops_db"
  private val table = s"$db.quoted_parts"
  private lazy val catalog = new CatalogOps(spark)

  // a partition value containing a single quote
  private val evil = "it's-20260101"

  override def beforeAll(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (id BIGINT)
         |PARTITIONED BY (partition_id STRING) STORED AS ORC""".stripMargin)
    spark.sql(s"INSERT INTO $table PARTITION (partition_id='plain') VALUES (1)")
    spark.sql(s"ALTER TABLE $table ADD PARTITION " +
      s"(${graft.partition.PartitionId.partitionSpec("partition_id", evil)})")
  }

  override def afterAll(): Unit = spark.sql(s"DROP TABLE IF EXISTS $table")

  test("partitionSpec escapes backslashes before quotes") {
    import graft.partition.PartitionId.partitionSpec
    assert(partitionSpec("p", "it's") == "p='it\\'s'")
    // a trailing backslash must not swallow the closing quote
    assert(partitionSpec("p", "v\\") == "p='v\\\\'")
    assert(partitionSpec("p", "a\\'b") == "p='a\\\\\\'b'")
  }

  test("listPartitions unescapes a quote-bearing partition value") {
    // the catalog stores the value path-escaped (it%27s-20260101)
    assert(catalog.listPartitions(table).toSet == Set("plain", evil))
  }

  test("partitionLocations resolves quote-bearing partition values in one lookup") {
    val locs = catalog.partitionLocations(table, "partition_id", Seq(evil, "plain", "it's-missing"))
    assert(locs.keySet == Set(evil, "plain"))
    assert(locs.values.forall(_.nonEmpty))
    assert(catalog.pathExists(locs("plain")))
  }

  test("dropPartitions drops quote-bearing partitions in one command without SQL breakage") {
    val backslashed = "v\\"
    spark.sql(s"ALTER TABLE $table ADD PARTITION " +
      s"(${graft.partition.PartitionId.partitionSpec("partition_id", backslashed)})")
    assert(catalog.listPartitions(table).toSet == Set("plain", evil, backslashed))
    catalog.dropPartitions(table, "partition_id", Seq(evil, backslashed, "it's-missing"))
    // sibling untouched
    assert(catalog.listPartitions(table) == Seq("plain"))
  }
}
