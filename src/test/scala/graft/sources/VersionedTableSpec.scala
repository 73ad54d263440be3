package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

class VersionedTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture() = Seq(
    (1L, "a", "2024-01-01", 10L), (2L, "b", "2024-01-01", 20L),
    (3L, "a", "2024-01-02", 30L), (4L, "b", "2024-01-02", 40L),
    (5L, "a", "2024-01-03", 50L), (6L, "a", "2024-01-03", 60L)
  ).toDF("id", "kind", "pdate", "amount")

  test("time travel: every version still reads its exact historical state") {
    val dir = Files.createTempDirectory("graft-vt").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate")
    VersionedTable.append(df.filter($"id" > 4), dir, "pdate")
    VersionedTable.delete(spark, dir, "pdate", $"kind" === "a" && $"pdate" === "2024-01-01")
    def ids(v: Int) = VersionedTable.readVersion(spark, dir, v)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(0) === Seq(1L, 2L, 3L, 4L))
    assert(ids(1) === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    assert(ids(2) === Seq(2L, 3L, 4L, 5L, 6L))
    assert(VersionedTable.latestVersion(spark, dir) === 2)
  }

  test("delete rewrites only affected partitions; emptied partitions drop") {
    val dir = Files.createTempDirectory("graft-vt-cow").toString
    VersionedTable.create(fixture(), dir, "pdate")
    // deletes every 2024-01-03 row (partition empties) + one 01-01 row
    VersionedTable.delete(spark, dir, "pdate",
      $"pdate" === "2024-01-03" || $"id" === 1L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Leaves = fs.listStatus(
        new Path(VersionedTable.physicalDataDir(spark, dir, 1))).toSeq
      .map(_.getPath.getName).filter(_.startsWith("pdate__p=")).sorted
    // the rewrite dir holds ONLY the affected-and-surviving partition —
    // 01-02 is carried by reference, 01-03 emptied out entirely
    assert(v1Leaves === Seq("pdate__p=2024-01-01"))
    val latest = VersionedTable.readLatest(spark, dir)
    assert(latest.filter($"pdate" === "2024-01-03").count() === 0)
    assert(latest.select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))
  }

  test("COW delete keeps NULL-predicate rows — SQL three-valued logic, " +
      "consistent between rewritten and untouched leaves") {
    val dir = Files.createTempDirectory("graft-vt-null").toString
    val df = Seq[(Long, String, Option[String], Long)](
      (1L, "a", Some("X"), 10L), (2L, "a", None, 20L),
      (3L, "b", None, 30L), (4L, "b", Some("Y"), 40L)
    ).toDF("id", "kind", "status", "amount")
    VersionedTable.create(df, dir, "kind")
    // matches id=1 only; partition kind='a' rewrites (it holds a NULL
    // row that must SURVIVE the rewrite), kind='b' has no match and its
    // NULL row carries by reference — both NULL rows must agree
    VersionedTable.delete(spark, dir, "kind", $"status" === "X")
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))
    // the merge-on-read form agrees (it always kept NULL rows)
    VersionedTable.deleteMergeOnRead(spark, dir, $"status" === "Y")
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
  }

  test("deleteMatching / updateMatching: JOIN-form key membership with " +
      "residual conjuncts; NULL keys never match") {
    val dir = Files.createTempDirectory("graft-vt-match").toString
    val df = Seq[(java.lang.Long, String, Long)](
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "b", 40L), (null, "b", 50L)
    ).toDF("id", "kind", "amount")
    VersionedTable.create(df, dir, "kind")
    val keys = Seq(2L, 3L, 99L).toDF("id")
    // residual restricts the membership hit set: only kind='a' deletes
    VersionedTable.deleteMatching(spark, dir, "kind",
      Seq(Seq("id") -> keys), Some($"kind" === "a"))
    assert(VersionedTable.readLatest(spark, dir)
      .select("amount").as[Long].collect().sorted.toSeq
      === Seq(10L, 30L, 40L, 50L))
    // the NULL-id row never matches a key list (IN is NULL there) and
    // survives even when its partition rewrites
    VersionedTable.deleteMatching(spark, dir, "kind",
      Seq(Seq("id") -> keys), None)
    assert(VersionedTable.readLatest(spark, dir)
      .select("amount").as[Long].collect().sorted.toSeq
      === Seq(10L, 40L, 50L))
    // updateMatching assigns only on matched keys passing the residual
    VersionedTable.updateMatching(spark, dir, "kind",
      Seq(Seq("id") -> Seq(1L, 4L).toDF("id")), Some($"amount" > 15L),
      Seq("amount" -> ($"amount" + 1000L)))
    assert(VersionedTable.readLatest(spark, dir)
      .select("amount").as[Long].collect().sorted.toSeq
      === Seq(10L, 50L, 1040L))
  }

  test("vacuum erases dropped versions' unshared leaves but keeps retained reads intact") {
    val dir = Files.createTempDirectory("graft-vt-vac").toString
    val df = fixture()
    VersionedTable.create(df, dir, "pdate")
    VersionedTable.delete(spark, dir, "pdate", $"pdate" === "2024-01-01")
    val keepIds = VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(VersionedTable.versions(spark, dir) === Seq(1))
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === keepIds)
    // the deleted partition's leaf is physically gone (erasure contract)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0Dir = VersionedTable.physicalDataDir(spark, dir, 0)
    assert(!fs.exists(new Path(s"$v0Dir/pdate__p=2024-01-01")))
    // shared leaves referenced by the retained version survive
    assert(fs.exists(new Path(s"$v0Dir/pdate__p=2024-01-02")))
  }

  test("compact folds multi-leaf partitions without changing the snapshot") {
    val dir = Files.createTempDirectory("graft-vt-compact").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" % 2 === 0), dir, "pdate")
    VersionedTable.append(df.filter($"id" % 2 =!= 0), dir, "pdate")
    val before = VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq
    VersionedTable.compact(spark, dir, "pdate")
    assert(VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq === before)
    // post-compact: one leaf per partition value again
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2 = VersionedTable.latestVersion(spark, dir)
    val leaves = fs.listStatus(
        new Path(VersionedTable.physicalDataDir(spark, dir, v2))).toSeq
      .map(_.getPath.getName).filter(_.startsWith("pdate__p=")).sorted
    assert(leaves === Seq("pdate__p=2024-01-01", "pdate__p=2024-01-02", "pdate__p=2024-01-03"))
  }

  test("merge: updates replace by key (even across partitions), inserts land, rest carries") {
    val dir = Files.createTempDirectory("graft-vt-merge").toString
    VersionedTable.create(fixture(), dir, "pdate")
    val batch = Seq(
      (2L, "b2", "2024-01-01", 21L),  // in-place update
      (5L, "a", "2024-01-04", 51L),   // key MOVES from 01-03 to a new partition
      (7L, "c", "2024-01-04", 70L)    // insert
    ).toDF("id", "kind", "pdate", "amount")
    VersionedTable.merge(batch, dir, "pdate", "id")
    val latest = VersionedTable.readLatest(spark, dir)
      .select("id", "kind", "pdate", "amount").as[(Long, String, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(latest === Seq(
      (1L, "a", "2024-01-01", 10L), (2L, "b2", "2024-01-01", 21L),
      (3L, "a", "2024-01-02", 30L), (4L, "b", "2024-01-02", 40L),
      (5L, "a", "2024-01-04", 51L), (6L, "a", "2024-01-03", 60L),
      (7L, "c", "2024-01-04", 70L)))
    // untouched partition 01-02 is carried by reference, not rewritten
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Leaves = fs.listStatus(
        new Path(VersionedTable.physicalDataDir(spark, dir, 1))).toSeq
      .map(_.getPath.getName).filter(_.startsWith("pdate__p=")).sorted
    assert(v1Leaves === Seq("pdate__p=2024-01-01", "pdate__p=2024-01-03", "pdate__p=2024-01-04"))
    // and v0 still reads the pre-merge state (time travel unaffected)
    assert(VersionedTable.readVersion(spark, dir, 0).count() === 6)
  }

  test("versionDiff classifies added/removed/changed/unchanged exactly") {
    val dir = Files.createTempDirectory("graft-vt-diff").toString
    VersionedTable.create(fixture(), dir, "pdate")
    val batch = Seq((2L, "b2", "2024-01-01", 21L), (7L, "c", "2024-01-04", 70L))
      .toDF("id", "kind", "pdate", "amount")
    VersionedTable.merge(batch, dir, "pdate", "id")
    VersionedTable.delete(spark, dir, "pdate", $"id" === 6L)
    val diff = VersionedTable.versionDiff(spark, dir, "id",
        Seq("kind", "pdate", "amount"), 0, 2, includeUnchanged = true)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(diff === Seq(
      (1L, "unchanged"), (2L, "changed"), (3L, "unchanged"), (4L, "unchanged"),
      (5L, "unchanged"), (6L, "removed"), (7L, "added")))
  }

  test("append after a merge-on-read delete carries the delete vectors forward") {
    val dir = Files.createTempDirectory("graft-vt-mor-append").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate")
    VersionedTable.deleteMergeOnRead(spark, dir, $"id" === 2L)
    // regression (round-6 advice, high): append used to write the new
    // manifest with empty deletes/dirty, silently resurrecting every
    // vector-deleted row in this and all later versions
    VersionedTable.append(df.filter($"id" > 4), dir, "pdate")
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L, 4L, 5L, 6L))
    // and a further delete on top still sees the vector too
    VersionedTable.delete(spark, dir, "pdate", $"id" === 5L)
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L, 4L, 6L))
  }

  test("partition values carrying JSON separators (, \" ]) round-trip " +
      "through create, append, delete, update, MoR delete and compact") {
    val dir = Files.createTempDirectory("graft-vt-sep").toString
    val parts = Seq("a,b", "x\"y", "z]w")
    def rows(ids: Range) = ids.map(i => (i.toLong, parts(i % 3), i * 10L))
    type R = (Long, String, Long)
    def sorted(rs: Seq[R]) = rs.sortBy(_._1)
    def read(df: org.apache.spark.sql.DataFrame): Seq[R] =
      sorted(df.select("id", "p", "amount").as[(Long, String, Long)]
        .collect().toSeq)
    // the model: each version's rows, derived by plain Scala from the
    // previous version's
    val model = scala.collection.mutable.ArrayBuffer.empty[Seq[R]]
    def commit(next: Seq[R]): Unit = {
      model += sorted(next)
      assert(read(VersionedTable.readLatest(spark, dir)) === model.last,
        s"head after version ${model.size - 1}")
    }
    VersionedTable.create(rows(1 to 9).toDF("id", "p", "amount"), dir, "p")
    commit(rows(1 to 9))
    VersionedTable.append(rows(10 to 15).toDF("id", "p", "amount"), dir, "p")
    commit(model.last ++ rows(10 to 15))
    VersionedTable.delete(spark, dir, "p", $"p" === "a,b" && $"id" < 7L)
    commit(model.last.filterNot(r => r._2 == "a,b" && r._1 < 7L))
    VersionedTable.update(spark, dir, "p", $"p" === "x\"y",
      Seq("amount" -> ($"amount" + 1L)))
    commit(model.last.map(r => if (r._2 == "x\"y") r.copy(_3 = r._3 + 1L)
      else r))
    VersionedTable.deleteMergeOnRead(spark, dir, $"id" % 2L === 0L)
    commit(model.last.filterNot(_._1 % 2L == 0L))
    // a delete whose affected tuples span every partition, so the probe's
    // tuples come from more than one task
    VersionedTable.delete(spark, dir, "p", $"id" > 10L)
    commit(model.last.filterNot(_._1 > 10L))
    VersionedTable.compact(spark, dir, "p")
    commit(model.last)
    assert(VersionedTable.latestVersion(spark, dir) === model.size - 1)
    model.indices.foreach(v => assert(read(spark.sql(
      s"SELECT * FROM graft.`$dir` VERSION AS OF $v")) === model(v),
      s"VERSION AS OF $v"))
    assert(VersionedTable.partitionTuples(spark, dir) ===
      parts.sorted.map(Seq(_)))
  }

  test("optimistic commits: a stale attempt conflicts, the retry loses no delta") {
    val dir = Files.createTempDirectory("graft-vt-conflict").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 2), dir, "pdate")
    // writer A commits v1 while writer B still believes the head is v0
    VersionedTable.appendAttempt(df.filter($"id" === 3L), dir, "pdate",
      baseVersion = 0)
    intercept[VersionedTable.CommitConflictException] {
      VersionedTable.appendAttempt(df.filter($"id" === 4L), dir, "pdate",
        baseVersion = 0)
    }
    // the public path retries against the new head: both writers' batches
    // are present, nothing lost, versions strictly ordered
    VersionedTable.append(df.filter($"id" === 4L), dir, "pdate")
    assert(VersionedTable.latestVersion(spark, dir) === 2)
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("two genuinely concurrent appenders both land; no batch is lost") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val dir = Files.createTempDirectory("graft-vt-race").toString
    VersionedTable.create(fixture().filter($"id" === 1L), dir, "pdate")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // each writer appends three single-row batches; the shared latch makes
    // the first commits race for the same version number
    for (writer <- 0 to 1) pool.execute { () =>
      start.await()
      try for (b <- 0 to 2) {
        val id = 10L + writer * 3 + b
        VersionedTable.append(
          Seq((id, s"w$writer", "2024-02-0" + (b + 1), id * 10))
            .toDF("id", "kind", "pdate", "amount"), dir, "pdate")
      } catch { case t: Throwable => failures.add(t) }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"concurrent append failed: ${failures.peek()}")
    // all six batches present exactly once, history strictly linear
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq ===
      (Seq(1L) ++ (10L to 15L)))
    assert(VersionedTable.versions(spark, dir) === (0 to 6))
  }

  test("rollback after a bad delete, then vacuum, erases the bad version only") {
    val dir = Files.createTempDirectory("graft-vt-undo").toString
    VersionedTable.create(fixture(), dir, "pdate")
    val before = VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq
    // a mistaken delete lands as v1; rollback restores as v2 (pointer
    // flip); vacuum then physically erases the bad version's rewrite
    VersionedTable.delete(spark, dir, "pdate", $"kind" === "a")
    VersionedTable.rollback(spark, dir, 0)
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq === before,
      "restored state must survive the vacuum (its leaves are referenced)")
    assert(VersionedTable.versions(spark, dir) === Seq(2))
  }

  test("vacuum sweeps orphan data/vector dirs no manifest ever committed") {
    val dir = Files.createTempDirectory("graft-vt-orphan").toString
    VersionedTable.create(fixture(), dir, "pdate")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash between staging and the manifest rename leaves these
    fs.mkdirs(new Path(s"$dir/data/add-v0-deadbeef/pdate__p=2024-09-09"))
    fs.mkdirs(new Path(s"$dir/deletes/del-v0-deadbeef"))
    val before = VersionedTable.readLatest(spark, dir).count()
    // grace 0: the planted orphans are brand new, and this table has no
    // concurrent writer to protect
    VersionedTable.vacuum(spark, dir, retainLast = 1, orphanGraceMs = 0L)
    assert(!fs.exists(new Path(s"$dir/data/add-v0-deadbeef")))
    assert(!fs.exists(new Path(s"$dir/deletes/del-v0-deadbeef")))
    // the committed version is untouched
    assert(VersionedTable.readLatest(spark, dir).count() === before)
  }

  test("a YOUNG orphan (an in-flight concurrent writer's staged dir) survives vacuum") {
    val dir = Files.createTempDirectory("graft-vt-orphan-grace").toString
    VersionedTable.create(fixture(), dir, "pdate")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an optimistic appender staged against a stale base: its version
    // number is <= the head, so only the AGE gate protects its bytes
    // (round-7 advice, medium — maintain/vacuum used to delete these)
    fs.mkdirs(new Path(s"$dir/data/add-v0-inflight0/pdate__p=2024-09-09"))
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(fs.exists(new Path(s"$dir/data/add-v0-inflight0")),
      "default grace must protect a freshly-written staged dir")
  }

  test("delete vectors still apply when tableDir itself contains a data/add-v segment") {
    // round-6 advice: a suffix-pattern extraction of the relative path
    // would mis-anchor here and silently stop removing deleted rows
    val base = Files.createTempDirectory("graft-vt-nest").toString
    val dir = s"$base/data/add-v1-aaaaaaaa/table"
    VersionedTable.create(fixture(), dir, "pdate")
    VersionedTable.deleteMergeOnRead(spark, dir, $"id" === 3L)
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L, 5L, 6L))
  }

  test("an append with a type drift or missing column is refused loudly") {
    val dir = Files.createTempDirectory("graft-vt-schema").toString
    VersionedTable.create(fixture(), dir, "pdate")
    // type drift: amount int vs the table's long — round-7 advice (low):
    // a name-set-only check used to let this through, producing the
    // order-dependent multi-root read corruption the check documents
    val drifted = Seq((7, "a", "2024-01-04", 70))
      .toDF("id", "kind", "pdate", "amount")
      .select($"id".cast("long"), $"kind", $"pdate", $"amount") // amount stays int
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(drifted, dir, "pdate")
    }
    assert(e.getMessage.contains("type drift"))
    // dropping a column is refused too
    val narrow = Seq((7L, "a", "2024-01-04")).toDF("id", "kind", "pdate")
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.append(narrow, dir, "pdate")
    }
    assert(e2.getMessage.contains("missing table column"))
    // same refusal on the idempotent path
    intercept[IllegalArgumentException] {
      VersionedTable.appendOnce(drifted, dir, "pdate", "s", "b0")
    }
    assert(VersionedTable.versions(spark, dir) === Seq(0))
  }

  test("add-nullable-column evolution: old leaves read null, snapshots keep their schema") {
    val dir = Files.createTempDirectory("graft-vt-evolve").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate")
    // a strict-superset batch EVOLVES the schema (Delta/Iceberg
    // add-nullable-column); the manifest schema drives every later read
    val widened = Seq((5L, "a", "2024-01-03", 50L, "hi"),
        (6L, "a", "2024-01-03", 60L, "yo"))
      .toDF("id", "kind", "pdate", "amount", "note")
    VersionedTable.append(widened, dir, "pdate")
    // head: pre-evolution leaves project null into the new column
    val head = VersionedTable.readLatest(spark, dir)
      .select("id", "note").as[(Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(head === Seq(1L -> None, 2L -> None, 3L -> None, 4L -> None,
      5L -> Some("hi"), 6L -> Some("yo")))
    // pre-evolution snapshot still reads its own (narrower) schema
    assert(VersionedTable.readVersion(spark, dir, 0).columns.toSeq ===
      Seq("id", "kind", "pdate", "amount"))
    // history records the schema change
    val h = VersionedTable.history(spark, dir, includeSchema = true)
      .orderBy("version")
      .select("n_cols", "schema").as[(Long, String)].collect().toSeq
    assert(h.map(_._1) === Seq(4L, 5L))
    assert(h(1)._2.endsWith("note:string"))
    // a delete on the evolved head keeps the widened schema working
    VersionedTable.delete(spark, dir, "pdate", $"id" === 1L)
    assert(VersionedTable.readLatest(spark, dir)
      .filter($"note".isNull).count() === 3)
    // merge does NOT evolve — widened batches must go through append
    val e = intercept[IllegalArgumentException] {
      VersionedTable.merge(
        Seq((9L, "z", "2024-01-05", 90L, "x", true))
          .toDF("id", "kind", "pdate", "amount", "note", "flag"),
        dir, "pdate", "id")
    }
    assert(e.getMessage.contains("does not evolve"))
  }

  test("a pre-evolution delete vector still applies after the schema widens") {
    val dir = Files.createTempDirectory("graft-vt-evolve-mor").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate")
    // the vector references (file, pos) of the ORIGINAL leaves; the
    // evolved read projects those same leaves through the widened
    // schema — positions are schema-independent, so the anti-join must
    // keep removing the deleted row
    VersionedTable.deleteMergeOnRead(spark, dir, $"id" === 2L)
    VersionedTable.append(
      Seq((5L, "a", "2024-01-03", 50L, "x"))
        .toDF("id", "kind", "pdate", "amount", "note"), dir, "pdate")
    val head = VersionedTable.readLatest(spark, dir)
    assert(head.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 4L, 5L), "vector-deleted row must stay deleted post-evolution")
    assert(head.filter($"note".isNotNull).count() === 1)
    // a COW delete over the evolved, vector-carrying table still works
    VersionedTable.delete(spark, dir, "pdate", $"id" === 3L)
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 4L, 5L))
  }

  test("schema evolution through the exactly-once path keeps idempotence") {
    val dir = Files.createTempDirectory("graft-vt-evolve-once").toString
    VersionedTable.create(fixture().filter($"id" <= 2), dir, "pdate")
    val widened = Seq((7L, "c", "2024-01-04", 70L, 9L))
      .toDF("id", "kind", "pdate", "amount", "score")
    // a streaming channel's batch may carry the widened schema; the
    // evolution commits once, the replay no-ops (no double evolution,
    // no double rows)
    VersionedTable.appendOnce(widened, dir, "pdate", "s", "b0")
    VersionedTable.appendOnce(widened, dir, "pdate", "s", "b0") // replay
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1))
    val head = VersionedTable.readLatest(spark, dir)
    assert(head.count() === 3)
    assert(head.filter($"score".isNull).count() === 2)
    // the NEXT batch on the same channel may keep the widened schema
    VersionedTable.appendOnce(
      Seq((8L, "d", "2024-01-04", 80L, 2L))
        .toDF("id", "kind", "pdate", "amount", "score"),
      dir, "pdate", "s", "b1")
    assert(VersionedTable.readLatest(spark, dir).count() === 4)
  }

  test("the manifest CAS never lets a losing committer clobber the winner") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val dir = Files.createTempDirectory("graft-vt-cas").toString
    VersionedTable.create(fixture(), dir, "pdate")
    // 8 writers race to commit the SAME version with distinct payloads.
    // POSIX rename(2) silently replaces an existing destination, so a
    // rename-based commit plus an exists() probe is check-then-act: two
    // racers could both report success with the loser overwriting the
    // winner (round-7 advice, high). The hard-link CAS makes exactly one
    // land, and the committed bytes must be the winner's.
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    val won = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    for (w <- 0 until 8) pool.execute { () =>
      start.await()
      try {
        VersionedTable.writeManifest(spark, dir, 1,
          VersionedTable.VManifest(Seq(s"data/fake-w$w")))
        won.add(w)
      } catch { case _: VersionedTable.CommitConflictException => lost.add(w) }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(won.size === 1, s"exactly one committer must win, got $won")
    assert(lost.size === 7)
    // the committed manifest carries the WINNER's payload — no clobber
    val h = VersionedTable.history(spark, dir).orderBy("version").count()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(s"$dir/manifests/v1.json"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(text.contains(s"data/fake-w${won.peek()}"))
    assert(h === 2)
  }

  test("age-based vacuum drops only old versions and never the head") {
    val dir = Files.createTempDirectory("graft-vt-age").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 2), dir, "pdate")   // v0
    VersionedTable.append(df.filter($"id" === 3L), dir, "pdate") // v1
    VersionedTable.append(df.filter($"id" === 4L), dir, "pdate") // v2
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    // age v0 and v1 past a 7-day retention; v2 stays young
    for (v <- Seq(0, 1))
      fs.setTimes(new Path(s"$dir/manifests/v$v.json"),
        now - 8L * 24 * 3600 * 1000, -1)
    VersionedTable.vacuumOlderThan(spark, dir,
      maxAgeMs = 7L * 24 * 3600 * 1000, nowMs = now)
    assert(VersionedTable.versions(spark, dir) === Seq(2))
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // head immunity: even when EVERY manifest is ancient, the head stays
    for (v <- Seq(2))
      fs.setTimes(new Path(s"$dir/manifests/v$v.json"),
        now - 30L * 24 * 3600 * 1000, -1)
    VersionedTable.vacuumOlderThan(spark, dir,
      maxAgeMs = 7L * 24 * 3600 * 1000, nowMs = now)
    assert(VersionedTable.versions(spark, dir) === Seq(2),
      "the head must never be age-collected")
    assert(VersionedTable.readLatest(spark, dir).count() === 4)
  }

  test("concurrent maintenance is refused loudly while the store lock is held") {
    val dir = Files.createTempDirectory("graft-vt-lock").toString
    VersionedTable.create(fixture(), dir, "pdate")
    graft.pipeline.Locking.withStoreLock(spark, dir) {
      val e = intercept[IllegalStateException] {
        VersionedTable.vacuum(spark, dir, retainLast = 1)
      }
      assert(e.getMessage.contains("locked by writer"))
      intercept[IllegalStateException] {
        VersionedTable.maintain(spark, dir, "pdate")
      }
    }
    // released on exit: maintenance proceeds
    VersionedTable.vacuum(spark, dir, retainLast = 1)
    assert(VersionedTable.versions(spark, dir) === Seq(0))
  }

  test("maintain compacts only past the leaf-debt threshold, then vacuums") {
    val dir = Files.createTempDirectory("graft-vt-maint").toString
    val row = (id: Long) => Seq((id, "a", "2024-01-01", id * 10))
      .toDF("id", "kind", "pdate", "amount")
    VersionedTable.create(row(1L), dir, "pdate")
    VersionedTable.append(row(2L), dir, "pdate") // 2 leaves in one partition
    // under the threshold: metadata check only, no compaction version
    assert(!VersionedTable.maintain(spark, dir, "pdate",
      maxLeavesPerPartition = 4, retainLast = 10))
    assert(VersionedTable.latestVersion(spark, dir) === 1)
    VersionedTable.append(row(3L), dir, "pdate")
    VersionedTable.append(row(4L), dir, "pdate")
    VersionedTable.append(row(5L), dir, "pdate") // 5 leaves > 4
    assert(VersionedTable.maintain(spark, dir, "pdate",
      maxLeavesPerPartition = 4, retainLast = 1))
    // folded back to one leaf per partition; history vacuumed to the head
    val h = VersionedTable.history(spark, dir, includeRowCounts = true)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(5))).toSeq
    assert(h.map(_._2) === Seq(1L), "one leaf after the fold")
    assert(h.map(_._3) === Seq(5L), "all five rows survive")
  }

  test("optimizeZOrder: content identical, row groups multi and skippable on BOTH dims") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-vt-optimize").toString
    val n = 40000
    val df = (0 until n).map { i =>
      (i.toLong, if (i % 2 == 0) "p1" else "p2",
        (i % 2000).toLong, ((i.toLong * 7) % 911))
    }.toDF("id", "pcol", "c1", "c2")
    VersionedTable.create(df, dir, "pcol")
    val before = VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq
    VersionedTable.optimizeZOrder(spark, dir, "pcol", "c1", "c2",
      rowGroupBytes = 32 * 1024)
    // content is a pure representation change (compact semantics)
    assert(VersionedTable.readLatest(spark, dir)
      .orderBy("id").collect().toSeq === before)
    // and the prior version still time-travels
    assert(VersionedTable.readVersion(spark, dir, 0).count() === n)
    // footer evidence: inside each optimized leaf, multiple row groups
    // whose c1 min/max form tight z-regions — a bottom-eighth c1
    // predicate must skip a strict subset of row groups (and same for a
    // c2 band, the property a linear sort on c1 cannot give)
    val conf = spark.sparkContext.hadoopConfiguration
    val fsys = new Path(dir).getFileSystem(conf)
    val v1Dir = VersionedTable.physicalDataDir(spark, dir, 1)
    var (groups, hitC1, hitC2) = (0, 0, 0)
    for (leaf <- fsys.listStatus(new Path(v1Dir)) if leaf.isDirectory;
         file <- fsys.listStatus(leaf.getPath)
         if file.getPath.getName.endsWith(".parquet")) {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(file.getPath, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        for (b <- blocks) {
          groups += 1
          def mn(name: String): Long = b.getColumns.asScala
            .find(_.getPath.toDotString == name).get
            .getStatistics.genericGetMin.asInstanceOf[java.lang.Long]
          if (mn("c1") < 250L) hitC1 += 1   // c1 in [0, 2000)
          def mx(name: String): Long = b.getColumns.asScala
            .find(_.getPath.toDotString == name).get
            .getStatistics.genericGetMax.asInstanceOf[java.lang.Long]
          if (mn("c2") < 500L && mx("c2") >= 400L) hitC2 += 1 // c2 band [400,500)
        }
      } finally reader.close()
    }
    assert(groups >= 8, s"expected multiple row groups, got $groups")
    assert(hitC1 > 0 && hitC1 < groups,
      s"c1 bottom-eighth must skip row groups: $hitC1/$groups intersect")
    assert(hitC2 > 0 && hitC2 < groups,
      s"c2 band must skip row groups: $hitC2/$groups intersect")
  }

  test("history reports each version's manifest footprint") {
    val dir = Files.createTempDirectory("graft-vt-hist").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate") // 2 partitions
    VersionedTable.append(df.filter($"id" > 4), dir, "pdate")  // +1 leaf
    VersionedTable.deleteMergeOnRead(spark, dir, $"id" === 2L) // +1 vector
    VersionedTable.appendOnce(
      Seq((9L, "c", "2024-01-05", 90L)).toDF("id", "kind", "pdate", "amount"),
      dir, "pdate", "stream", "b0")                            // +1 txn
    val h = VersionedTable.history(spark, dir, includeRowCounts = true)
      .orderBy("version")
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    assert(h === Seq(
      (0, 2L, 0L, 0L, 0L, 4L),
      (1, 3L, 0L, 0L, 0L, 6L),
      (2, 3L, 1L, 1L, 0L, 5L),
      (3, 4L, 1L, 1L, 1L, 6L)))
  }

  test("a crashed (staged, unrenamed) manifest is invisible") {
    val dir = Files.createTempDirectory("graft-vt-crash").toString
    VersionedTable.create(fixture(), dir, "pdate")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(s"$dir/manifests/_staging_v99.json"), true)
    out.write("""{"version":99,"leaves":[]}""".getBytes("UTF-8")); out.close()
    assert(VersionedTable.versions(spark, dir) === Seq(0))
    assert(VersionedTable.latestVersion(spark, dir) === 0)
  }

  test("partition-spec evolution: old-spec leaves stay readable and deletable") {
    val dir = Files.createTempDirectory("graft-vt-spec").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate") // spec: pdate
    // a write under a different spec without evolving is refused loudly
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.append(df.filter($"id" > 4), dir, "kind")
    }
    assert(ex.getMessage.contains("evolvePartitionSpec"))
    VersionedTable.evolvePartitionSpec(spark, dir, "kind")
    VersionedTable.append(df.filter($"id" > 4), dir, "kind") // new-spec leaves
    // the mixed-spec head reads the full table
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === (1L to 6L))
    // delete by a predicate matching rows in BOTH specs' leaves: kind=a
    // lives in old-spec (ids 1,3) and new-spec (5,6) leaves alike — the
    // spec-evolution correctness trap is an old-spec leaf pruned by its
    // (wrong-column) dir value silently KEEPING rows
    VersionedTable.delete(spark, dir, "kind", $"kind" === "a" && $"id" =!= 3L)
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))
    // the one surviving old-spec row (id 3) migrated or survived; id 2,4
    // (kind=b, old-spec, no match after the id-3 carve-out... id 3 IS
    // kind=a) — pin exact survivors' kinds
    assert(VersionedTable.readLatest(spark, dir)
      .select("kind").as[String].collect().sorted.toSeq === Seq("a", "b", "b"))
  }

  test("spec evolution: untouched foreign-spec leaves carry by reference") {
    val dir = Files.createTempDirectory("graft-vt-spec2").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate")
    VersionedTable.evolvePartitionSpec(spark, dir, "kind")
    VersionedTable.append(df.filter($"id" > 4), dir, "kind")
    val before = VersionedTable.history(spark, dir).collect()
      .map(_.getLong(1)).toSeq
    // delete matching ONLY new-spec rows (pdate 2024-01-03 lives only in
    // the appended kind-spec leaves): every old-spec leaf must keep its
    // exact manifest path (no rewrite, no scan-selected hit)
    val manifestDir = java.nio.file.Paths.get(dir, "manifests")
    def leaves(v: Int): Set[String] = {
      val text = new String(java.nio.file.Files.readAllBytes(
        manifestDir.resolve(s"v$v.json")), "UTF-8")
      """data/[^"]+""".r.findAllIn(text).toSet
    }
    VersionedTable.delete(spark, dir, "kind", $"amount" >= 50L)
    val v = VersionedTable.latestVersion(spark, dir)
    val oldSpecLeaves = leaves(v - 1).filter(_.contains("pdate__p="))
    assert(oldSpecLeaves.nonEmpty)
    assert(oldSpecLeaves.subsetOf(leaves(v)),
      "old-spec leaves with no matching rows must carry by reference")
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === (1L to 4L))
  }

  test("spec evolution: compact migrates every leaf to the current spec") {
    val dir = Files.createTempDirectory("graft-vt-spec3").toString
    val df = fixture()
    VersionedTable.create(df.filter($"id" <= 4), dir, "pdate")
    VersionedTable.evolvePartitionSpec(spark, dir, "kind")
    VersionedTable.append(df.filter($"id" > 4), dir, "kind")
    VersionedTable.compact(spark, dir, "kind")
    val v = VersionedTable.latestVersion(spark, dir)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifests", s"v$v.json")), "UTF-8")
    val leafCols = """data/[^"]+""".r.findAllIn(text).toSeq
      .map(l => l.substring(l.lastIndexOf('/') + 1).takeWhile(_ != '='))
    assert(leafCols.nonEmpty && leafCols.forall(_ == "kind__p"),
      s"compact must rewrite under the current spec, got $leafCols")
    assert(VersionedTable.readLatest(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq === (1L to 6L))
    // evolving to a non-column is refused
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitionSpec(spark, dir, "no_such_col")
    }
    assert(ex.getMessage.contains("not a table column"))
  }
}
