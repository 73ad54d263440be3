package graft.core

import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CatalogOps
import graft.model.{DeletionCriteria, JobConfig, Metrics}
import graft.testkit.{PropertyChecks, SparkTestSession}

/** Property-based deletion invariants over random predicates and random
  * fixtures (SURVEY.md §5 port strategy): for every generated criteria on
  * every generated table state,
  *
  *   1. deleted + retained == before          (conservation)
  *   2. retained ∩ predicate == ∅             (completeness)
  *   3. retained == rows not matching          (soundness — nothing extra
  *      disappears, checked as a full multiset of ids)
  *
  * Runs the real kernel (DeletionExecutor over the embedded Hive table,
  * including the per-partition drop/rewrite/skip branches and batching) —
  * not a model of it. Statuses are sometimes NULL, so predicates over
  * them yield NULL for some rows: those rows do not match and survive.
  * A second property runs the whole DeletionWorkflow, dry and real, and
  * checks its Metrics against per-partition counts modelled row by row.
  */
class DeletionPropertySpec extends AnyFunSuite with PropertyChecks with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val db = "prop_db"
  private val table = s"$db.prop_deletion_table"

  override protected val propertyIterations: Int = 12

  override def beforeAll(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table (
         |  id BIGINT, name STRING, status STRING, row_create_ts TIMESTAMP
         |) PARTITIONED BY (partition_id STRING) STORED AS ORC""".stripMargin)
  }

  override def afterAll(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    dropBackups()
  }

  private def dropBackups(): Unit =
    new CatalogOps(spark).listTables(db).filter(_.startsWith("prop_deletion_table_backup_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))

  private val partitions = Seq("20260101", "20260102")

  private case class Fixture(rows: Seq[(Long, String, Option[String], Int, String)])

  private val statusGen = Gen.oneOf("ACTIVE", "INACTIVE", "PENDING")

  private val fixtureGen: Gen[Fixture] = for {
    n <- Gen.choose(8, 36)
    statuses <- Gen.listOfN(n, Gen.frequency(6 -> statusGen.map(Option(_)), 1 -> Gen.const(None)))
    hours <- Gen.listOfN(n, Gen.choose(0, 23))
  } yield Fixture((1 to n).map { i =>
    (i.toLong, s"User$i", statuses(i - 1), hours(i - 1), partitions(i % 2))
  })

  private val whereGen: Gen[String] = {
    val atom = Gen.oneOf(
      statusGen.map(s => s"status = '$s'"),
      statusGen.map(s => s"status <> '$s'"),
      Gen.choose(2, 5).map(k => s"id % $k = 0"),
      Gen.choose(3, 30).map(n => s"id <= $n"),
      Gen.choose(3, 30).map(n => s"id > $n"))
    Gen.oneOf(
      atom,
      for { a <- atom; b <- atom; op <- Gen.oneOf("AND", "OR") } yield s"($a) $op ($b)")
  }

  // optional [start, end) window; can span both fixture days
  private val windowGen: Gen[(Option[String], Option[String])] = for {
    useWindow <- Gen.prob(0.4)
    s <- Gen.choose(0, 23)
    len <- Gen.choose(1, 36)
  } yield
    if (!useWindow) (None, None)
    else {
      val start = java.time.LocalDateTime.of(2026, 1, 1, s, 0)
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      (Some(start.format(fmt)), Some(start.plusHours(len).format(fmt)))
    }

  /** Row timestamps carry their partition's encoded date — the naming
    * convention the coarse partition prune (C2) is entitled to assume.
    */
  private def dayOf(p: String): String = s"${p.take(4)}-${p.slice(4, 6)}-${p.drop(6)}"

  private def loadFixture(fx: Fixture): Unit =
    partitions.foreach { p =>
      val rows = fx.rows.filter(_._5 == p).map { case (id, name, status, hour, _) =>
        val st = status.fold("CAST(NULL AS STRING)")(v => s"'$v'")
        f"($id, '$name', $st, TIMESTAMP '${dayOf(p)} $hour%02d:00:00')"
      }
      if (rows.nonEmpty)
        spark.sql(s"INSERT OVERWRITE TABLE $table PARTITION (partition_id='$p') " +
          s"VALUES ${rows.mkString(", ")}")
      else
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (partition_id='$p')")
    }

  private def criteriaOf(where: String, window: (Option[String], Option[String])): DeletionCriteria = {
    val b = DeletionCriteria.builder().whereClause(where)
    window._1.foreach(s => b.startTime(Timestamp.valueOf(s)))
    window._2.foreach(e => b.endTime(Timestamp.valueOf(e)))
    b.build()
  }

  private def configOf(fx: Fixture, criteria: DeletionCriteria, dryRun: Boolean = false): JobConfig =
    JobConfig(db, "prop_deletion_table", criteria, dryRun = dryRun,
      partitionParallelism = 1 + fx.rows.size % 3) // exercise batching too

  /** Per partition: (rows, rows the predicate is TRUE for), evaluated row
    * by row — a NULL result is no match.
    */
  private def modelCounts(criteria: DeletionCriteria): Map[String, (Long, Long)] =
    spark.table(table)
      .select(col("partition_id"), criteria.deletePredicate.get.as("m"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (p, rs) =>
        p -> ((rs.length.toLong, rs.count(r => !r.isNullAt(1) && r.getBoolean(1)).toLong))
      }

  private def ids(): Set[Long] = spark.table(table).select("id").collect().map(_.getLong(0)).toSet

  test("deletion invariants hold for random predicates and fixtures") {
    forAll(fixtureGen, whereGen, windowGen) { (fx, where, window) =>
      loadFixture(fx)
      val criteria = criteriaOf(where, window)
      val config = configOf(fx, criteria)
      val model = modelCounts(criteria)

      val before = spark.table(table).count()
      val pred = criteria.deletePredicate.get
      val expectedDeletedIds = spark.table(table).where(pred)
        .select("id").collect().map(_.getLong(0)).toSet
      val expectedRetainedIds = fx.rows.map(_._1).toSet -- expectedDeletedIds

      val handler = new PartitionHandler(spark, config)
      val affected = handler.identifyAffectedPartitions()
      val result = new DeletionExecutor(spark, config, new Metrics)
        .executeDeletion(affected, handler.census(affected))

      val retainedIds = ids()
      val clue = s"where=[$where] window=$window rows=${fx.rows.size}"
      // 1. conservation
      assert(result.recordsDeleted + retainedIds.size == before, clue)
      // 2. completeness: no matching row survives
      assert(spark.table(table).where(pred).count() == 0, clue)
      // 3. soundness: exactly the non-matching rows survive
      assert(retainedIds == expectedRetainedIds, clue)
      // the result agrees with the model: rows deleted, and the partitions
      // the fast path dropped (every row matched)
      assert(result.recordsDeleted == model.values.map(_._2).sum, clue)
      assert(result.droppedPartitions ==
        model.collect { case (p, (n, m)) if m == n => p }.toSet, clue)
    }
  }

  test("workflow metrics match the per-row model, dry run and real run") {
    forAll(fixtureGen, whereGen, windowGen) { (fx, where, window) =>
      loadFixture(fx)
      val criteria = criteriaOf(where, window)
      val model = modelCounts(criteria)
      val before = ids()
      val clue = s"where=[$where] window=$window rows=${fx.rows.size}"
      // a partition is affected when a row in it matches
      val affected = model.collect { case (p, (_, m)) if m > 0 => p }.toSet
      val read = affected.toSeq.map(model(_)._1).sum
      val deleted = model.values.map(_._2).sum

      val dry = new Metrics
      assert(DeletionWorkflow.run(spark, configOf(fx, criteria, dryRun = true), dry), clue)
      assert(ids() == before, clue)
      assert(dry.totalRecordsDeleted == deleted, clue)
      assert((dry.totalRecordsRead, dry.totalRecordsRetained, dry.partitionsProcessed) == ((0, 0, 0)), clue)
      assert(dry.partitionMetrics.isEmpty && !dry.backupCreated, clue)

      val real = new Metrics
      assert(DeletionWorkflow.run(spark, configOf(fx, criteria), real), clue)
      assert(real.totalRecordsRead == read, clue)
      assert(real.totalRecordsDeleted == deleted, clue)
      assert(real.totalRecordsRetained == read - deleted, clue)
      assert(real.partitionsProcessed == affected.size, clue)
      assert(real.partitionMetrics.toMap ==
        affected.map(p => p -> (model(p)._1 - model(p)._2)).toMap, clue)
      assert(real.backupCreated == affected.nonEmpty, clue)
      assert(real.validationPassed == affected.nonEmpty, clue)
      assert(spark.table(table).count() == before.size - deleted, clue)
      dropBackups()
    }
  }
}
