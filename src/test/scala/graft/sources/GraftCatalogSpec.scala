package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

/** The DataSource V2 catalog surface: versioned tables as SQL —
  * SELECT (incl. VERSION/TIMESTAMP AS OF), INSERT INTO/OVERWRITE as
  * manifest commits, and the DML trio (DELETE/UPDATE/MERGE) running the
  * library's copy-on-write executors. The V1 `graft-snapshot` read path
  * and the catalog must agree on every answer — one manifest machinery
  * under two surfaces.
  */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.isolated()
  import spark.implicits._

  private def mkTable(): String = {
    val dir = Files.createTempDirectory("graft-cat").toString
    val df = Seq(
      (1L, "a", "ACTIVE", 10L), (2L, "a", "INACTIVE", 20L),
      (3L, "b", "ACTIVE", 30L), (4L, "b", "INACTIVE", 40L)
    ).toDF("id", "kind", "status", "amount")
    VersionedTable.create(df, dir, "kind")
    dir
  }

  private def sqlTable(dir: String): String = s"graft.`$dir`"

  private def v1(dir: String): DataFrame =
    spark.read.format("graft-snapshot").load(dir)

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("SELECT through the catalog equals the V1 read; filters and " +
      "projections work") {
    val dir = mkTable()
    assert(ids(spark.sql(s"SELECT * FROM ${sqlTable(dir)}")) === (1L to 4L))
    assert(ids(spark.sql(
      s"SELECT id FROM ${sqlTable(dir)} WHERE kind = 'a'")) === Seq(1L, 2L))
    assert(spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(dir)}")
      .collect().head.getLong(0) === 4L)
    assert(ids(v1(dir)) === (1L to 4L))
  }

  test("catalog self-join answers correctly — the V1 plan cache must " +
      "serve each occurrence with FRESH attribute ids (a branch-local " +
      "filter must not leak to the other branch)") {
    val dir = mkTable()
    val j = spark.sql(s"SELECT a.id FROM ${sqlTable(dir)} a JOIN " +
        s"${sqlTable(dir)} b ON a.id = b.id WHERE b.kind = 'a'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(j === Seq(1L, 2L))
    // a non-equi self-join on kind: 2 kinds × 2×2 rows each = 8 —
    // any cross-branch attribute sharing would corrupt the count
    val cnt = spark.sql(s"SELECT count(*) AS n FROM ${sqlTable(dir)} x " +
        s"JOIN ${sqlTable(dir)} y ON x.kind = y.kind")
      .collect().head.getLong(0)
    assert(cnt === 8L)
    // destroy-and-recreate at the SAME path (the documented filesystem
    // path — DROP TABLE refuses data-bearing tables) must NOT serve the
    // stale cached plan: version numbers recur, manifest identities don't
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
    val df = Seq((9L, "z", "ACTIVE", 90L))
      .toDF("id", "kind", "status", "amount")
    VersionedTable.create(df, dir, "kind")
    assert(ids(spark.sql(s"SELECT * FROM ${sqlTable(dir)}")) === Seq(9L))
  }

  test("VERSION AS OF and TIMESTAMP AS OF read each version's own rows") {
    val dir = mkTable()
    VersionedTable.append(
      Seq((5L, "a", "ACTIVE", 50L)).toDF("id", "kind", "status", "amount"),
      dir, "kind")
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)}")) === (1L to 5L))
    // a timestamp far in the future resolves to the head version
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} TIMESTAMP AS OF '2099-01-01 00:00:00'"))
      === (1L to 5L))
    // the DataFrame-API option spelling (Delta's shape) pins the same way
    assert(ids(spark.read.option("versionAsOf", "0")
      .table(sqlTable(dir))) === (1L to 4L))
    assert(ids(spark.read.option("timestampAsOf", "2099-01-01 00:00:00")
      .table(sqlTable(dir))) === (1L to 5L))
  }

  test("INSERT INTO appends a manifest commit; INSERT OVERWRITE is " +
      "dynamic-partition replace under the session default, whole-table " +
      "truncate under static — history intact either way") {
    val dir = mkTable()
    spark.sql(s"INSERT INTO ${sqlTable(dir)} " +
      "VALUES (5, 'b', 'ACTIVE', 50)")
    assert(ids(v1(dir)) === (1L to 5L))
    assert(VersionedTable.latestVersion(spark, dir) === 1)
    // session default is partitionOverwriteMode=dynamic (the reference's
    // correctness-critical conf): only the partitions PRESENT in the
    // data replace — kind='a' rewritten, kind='b' untouched
    spark.sql(s"INSERT OVERWRITE ${sqlTable(dir)} " +
      "VALUES (10, 'a', 'ACTIVE', 100)")
    assert(ids(v1(dir)) === Seq(3L, 4L, 5L, 10L))
    // static mode = whole-table truncate-and-load as a NEW version
    val old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.sql(s"INSERT OVERWRITE ${sqlTable(dir)} " +
        "VALUES (9, 'c', 'ACTIVE', 90)")
      assert(ids(v1(dir)) === Seq(9L))
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    // history is readable: every pre-overwrite version still answers
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 1")) === (1L to 5L))
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 2"))
      === Seq(3L, 4L, 5L, 10L))
  }

  test("DELETE FROM runs the COW kernel: translatable AND " +
      "non-translatable predicates, untouched leaves carried by reference") {
    val dir = mkTable()
    def leafFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val before = leafFiles()
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE status = 'INACTIVE' AND kind = 'a'")
    assert(ids(v1(dir)) === Seq(1L, 3L, 4L))
    val after = leafFiles()
    before.foreach { case (path, mtime) =>
      if (after.contains(path))
        assert(after(path) === mtime, s"leaf rewritten in place: $path")
    }
    // modulo arithmetic has no V1 Filter form — this exercises the DML
    // rule's arbitrary-Catalyst-predicate path, not SupportsDelete
    spark.sql(s"DELETE FROM ${sqlTable(dir)} WHERE id % 2 = 0")
    assert(ids(v1(dir)) === Seq(1L, 3L))
    // every delete is a version: time travel reads the full history
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
  }

  test("UPDATE rewrites only affected partitions; RHS reads the OLD row") {
    val dir = mkTable()
    // swap-shape assignment: both RHS must see pre-update values
    spark.sql(s"UPDATE ${sqlTable(dir)} " +
      "SET amount = amount + id, status = 'CLOSED' WHERE kind = 'a'")
    val got = v1(dir).orderBy("id")
      .select("id", "status", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, "CLOSED", 11L), (2L, "CLOSED", 22L),
      (3L, "ACTIVE", 30L), (4L, "INACTIVE", 40L)))
    // literal assignment casts to the column type (int literal, long col)
    spark.sql(s"UPDATE ${sqlTable(dir)} SET amount = 0 WHERE id = 3")
    assert(v1(dir).filter($"id" === 3L).select("amount")
      .as[Long].collect().toSeq === Seq(0L))
  }

  test("MERGE INTO: canonical upsert updates matched and inserts new; " +
      "exotic shapes refuse loudly") {
    val dir = mkTable()
    Seq((2L, "a", "MERGED", 222L), (9L, "c", "NEW", 90L))
      .toDF("id", "kind", "status", "amount")
      .createOrReplaceTempView("merge_src")
    spark.sql(s"""MERGE INTO ${sqlTable(dir)} t USING merge_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val got = v1(dir).orderBy("id")
      .select("id", "status", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, "ACTIVE", 10L), (2L, "MERGED", 222L),
      (3L, "ACTIVE", 30L), (4L, "INACTIVE", 40L), (9L, "NEW", 90L)))
    // non-identity assignments are COLUMN-WISE exact: values may mix
    // target and source references, unassigned columns keep the
    // target's value (`SET amount = t.amount` means exactly that)
    spark.sql(s"""MERGE INTO ${sqlTable(dir)} t USING merge_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET amount = t.amount + s.amount""")
    val afterExpr = v1(dir).orderBy("id")
      .select("id", "status", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(afterExpr === Seq((1L, "ACTIVE", 10L), (2L, "MERGED", 444L),
      (3L, "ACTIVE", 30L), (4L, "INACTIVE", 40L), (9L, "NEW", 180L)))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table with the source's " +
      "new columns as a metadata commit, then merges") {
    val dir = mkTable()
    Seq((2L, "a", "SRC", 222L, "x2"), (9L, "c", "NEW", 90L, "x9"))
      .toDF("id", "kind", "status", "amount", "tag")
      .createOrReplaceTempView("evo_src")
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO ${sqlTable(dir)} t
      USING evo_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val head = v1(dir)
    assert(head.columns.toSeq ===
      Seq("id", "kind", "status", "amount", "tag"))
    val tags = head.orderBy("id").select("id", "tag").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(tags === Seq((1L, None), (2L, Some("x2")), (3L, None),
      (4L, None), (9L, Some("x9"))))
    // two versions: the widening commit, then the merge — old version
    // still reads the pre-evolution schema
    assert(VersionedTable.latestVersion(spark, dir) === 2)
    assert(spark.sql(s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")
      .columns.toSeq === Seq("id", "kind", "status", "amount"))
  }

  test("MERGE NOT MATCHED BY SOURCE: sync-delete and conditional " +
      "target-side UPDATE of unmatched rows, matched ladder untouched") {
    val dir = mkTable()
    Seq((2L, "a", "SRC", 200L), (9L, "c", "NEW", 90L))
      .toDF("id", "kind", "status", "amount")
      .createOrReplaceTempView("sync_src")
    spark.sql(s"""MERGE INTO ${sqlTable(dir)} t USING sync_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.amount < 30 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'STALE'""")
    // id=1 (amount 10 < 30) sync-deletes; id=2 matched-updates from the
    // source; id=3/4 are unmatched with amount >= 30 → STALE, values
    // otherwise untouched; id=9 inserts
    val got = v1(dir).orderBy("id")
      .select("id", "status", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((2L, "SRC", 200L), (3L, "STALE", 30L),
      (4L, "STALE", 40L), (9L, "NEW", 90L)))
    // a by-source-ONLY merge works with a key-only source (pure sync)
    Seq(2L, 3L).toDF("id").createOrReplaceTempView("sync_keys")
    spark.sql(s"""MERGE INTO ${sqlTable(dir)} t USING sync_keys s
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(ids(v1(dir)) === Seq(2L, 3L))
    // history intact across both statements
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
  }

  test("MERGE clause family: matched DELETE (takedown idiom, key-only " +
      "source), clause conditions, first-clause-wins ordering, " +
      "conditional INSERT") {
    val dir = mkTable()
    // WHEN MATCHED THEN DELETE with a source carrying ONLY the key
    Seq(2L, 9L).toDF("id").createOrReplaceTempView("del_ids")
    spark.sql(s"""MERGE INTO ${sqlTable(dir)} t USING del_ids s
      ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(ids(v1(dir)) === Seq(1L, 3L, 4L))
    // conditional clauses, first applicable wins: id=1 (amount 10 < 100)
    // deletes; id=3 (amount 30, no delete cond) updates from source;
    // id=77 inserts only when its status passes the insert condition
    Seq((1L, "a", "SRC", 100L), (3L, "b", "SRC", 25L),
      (77L, "c", "NEW", 70L), (88L, "c", "SKIP", 80L))
      .toDF("id", "kind", "status", "amount")
      .createOrReplaceTempView("cond_src")
    spark.sql(s"""MERGE INTO ${sqlTable(dir)} t USING cond_src s
      ON t.id = s.id
      WHEN MATCHED AND t.amount < s.amount THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND s.status != 'SKIP' THEN INSERT *""")
    val got = v1(dir).orderBy("id")
      .select("id", "status", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((3L, "SRC", 25L), (4L, "INACTIVE", 40L),
      (77L, "NEW", 70L)))
    // several source rows matching one target key refuse loudly
    Seq((4L, "b", "X", 1L), (4L, "b", "Y", 2L))
      .toDF("id", "kind", "status", "amount")
      .createOrReplaceTempView("dup_src")
    val dup = intercept[Exception] {
      spark.sql(s"""MERGE INTO ${sqlTable(dir)} t USING dup_src s
        ON t.id = s.id
        WHEN MATCHED THEN DELETE""")
    }
    assert(dup.getMessage.contains("de-duplicate"), dup.getMessage)
    // every clause commit is a version — history intact
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
  }

  test("time-traveled tables refuse every mutation; legacy no-spec " +
      "identifiers and namespaces refuse as missing tables") {
    val dir = mkTable()
    VersionedTable.append(
      Seq((5L, "a", "ACTIVE", 50L)).toDF("id", "kind", "status", "amount"),
      dir, "kind")
    val e = intercept[Exception] {
      spark.sql(
        s"DELETE FROM ${sqlTable(dir)} VERSION AS OF 0 WHERE id = 1")
    }
    assert(e.getMessage.contains("immutable") ||
      e.getMessage.toLowerCase.contains("version"), e.getMessage)
    val missing = intercept[Exception] {
      spark.sql("SELECT * FROM graft.`/definitely/not/a/table`").collect()
    }
    assert(missing.getMessage.toLowerCase.contains("table"))
  }

  test("CREATE TABLE makes an empty v0 ready for INSERT; CTAS works as " +
      "the non-staging two-step; non-identity/unpartitioned refuse") {
    val dir = Files.createTempDirectory("graft-ddl").toString + "/t"
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(id BIGINT, kind STRING, amount BIGINT) PARTITIONED BY (kind)")
    assert(v1(dir).count() === 0L)
    assert(VersionedTable.latestVersion(spark, dir) === 0)
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (1, 'a', 10)")
    assert(ids(v1(dir)) === Seq(1L))
    // duplicate CREATE refuses as already-exists
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, kind STRING) " +
        "PARTITIONED BY (kind)")
    }
    // CTAS: create + append (non-atomic, documented)
    val dir2 = Files.createTempDirectory("graft-ddl2").toString + "/t"
    spark.sql(s"CREATE TABLE graft.`$dir2` PARTITIONED BY (kind) " +
      s"AS SELECT * FROM graft.`$dir`")
    assert(ids(v1(dir2)) === Seq(1L))
    // unpartitioned CREATE refuses loudly
    val dir3 = Files.createTempDirectory("graft-ddl3").toString + "/t"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir3` (id BIGINT)")
    }
    assert(e.getMessage.contains("PARTITIONED BY"), e.getMessage)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT rides the manifest CHECK " +
      "machinery; violating writes refuse; non-CHECK kinds refuse") {
    val dir = mkTable()
    spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
      "ADD CONSTRAINT amount_pos CHECK (amount > 0)")
    assert(VersionedTable.checkConstraints(spark, dir)
      .exists(_._1 == "amount_pos"))
    // the constraint ENFORCES on SQL writes (the insert routes through
    // the same commit path as the library API)
    val bad = intercept[Exception] {
      spark.sql(s"INSERT INTO ${sqlTable(dir)} VALUES (9, 'c', 'X', -5)")
    }
    assert(bad.getMessage.contains("amount_pos"), bad.getMessage)
    // adding a constraint existing rows violate refuses the DDL itself —
    // Spark's analyzer validates against the table's data BEFORE calling
    // alterTable (NEW_CHECK_CONSTRAINT_VIOLATION), and the manifest-side
    // addCheckConstraint re-validates as the library-path backstop
    val preViolated = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
        "ADD CONSTRAINT amount_huge CHECK (amount > 1000)")
    }
    assert(preViolated.getMessage.contains("amount_huge") ||
      preViolated.getMessage.contains("CHECK_CONSTRAINT_VIOLATION"),
      preViolated.getMessage)
    assert(!VersionedTable.checkConstraints(spark, dir)
      .exists(_._1 == "amount_huge"))
    spark.sql(s"ALTER TABLE ${sqlTable(dir)} DROP CONSTRAINT amount_pos")
    assert(VersionedTable.checkConstraints(spark, dir).isEmpty)
    spark.sql(s"INSERT INTO ${sqlTable(dir)} VALUES (9, 'c', 'X', -5)")
    assert(ids(v1(dir)).contains(9L))
  }

  test("ALTER TABLE ADD COLUMNS is a metadata-only evolution commit: " +
      "old rows read null, the next INSERT carries the column, history " +
      "keeps each version's own schema") {
    val dir = mkTable()
    spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
      "ADD COLUMNS (note STRING, score BIGINT)")
    val head = v1(dir)
    assert(head.columns.toSeq ===
      Seq("id", "kind", "status", "amount", "note", "score"))
    assert(head.filter($"note".isNull && $"score".isNull).count() === 4)
    // the widened schema is an evolution commit, not a rewrite
    assert(VersionedTable.latestVersion(spark, dir) === 1)
    spark.sql(s"INSERT INTO ${sqlTable(dir)} " +
      "VALUES (5, 'a', 'ACTIVE', 50, 'hello', 7)")
    assert(v1(dir).filter($"id" === 5L).select("note", "score")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("hello", 7L)))
    // time travel reads the PRE-evolution schema at v0
    assert(spark.sql(s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")
      .columns.toSeq === Seq("id", "kind", "status", "amount"))
    // refusals name the unsupported part
    val notNull = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (x INT NOT NULL)")
    }
    assert(notNull.getMessage.toLowerCase.contains("null"),
      notNull.getMessage)
    val positioned = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (y INT AFTER id)")
    }
    assert(positioned.getMessage.contains("FIRST/AFTER"),
      positioned.getMessage)
    val dup = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (note STRING)")
    }
    assert(dup.getMessage.toLowerCase.contains("exists") ||
      dup.getMessage.toLowerCase.contains("duplicate"), dup.getMessage)
  }

  test("ADD COLUMNS with DEFAULT: existing rows read the frozen " +
      "constant (not null), omitting INSERTs take it, explicit values " +
      "and explicit NULLs override; non-constant defaults refuse") {
    val dir = mkTable()
    spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
      "ADD COLUMNS (tier STRING DEFAULT 'basic', bonus BIGINT DEFAULT 7)")
    // metadata-only: one commit, no leaf rewrite
    assert(VersionedTable.latestVersion(spark, dir) === 1)
    // EXISTING rows read the default through the readers' fill — a
    // plain null-fill evolution would return null here
    val head = v1(dir)
    assert(head.filter($"tier" === "basic").count() === 4)
    assert(head.filter($"bonus" === 7L).count() === 4)
    // an INSERT that OMITS the defaulted columns takes the defaults
    spark.sql(s"INSERT INTO ${sqlTable(dir)} (id, kind, status, amount) " +
      "VALUES (5, 'a', 'ACTIVE', 50)")
    assert(v1(dir).filter($"id" === 5L).select("tier", "bonus")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("basic", 7L)))
    // the DEFAULT keyword works too
    spark.sql(s"INSERT INTO ${sqlTable(dir)} " +
      "VALUES (6, 'a', 'ACTIVE', 60, DEFAULT, DEFAULT)")
    assert(v1(dir).filter($"id" === 6L).select("tier").as[String]
      .collect().toSeq === Seq("basic"))
    // explicit values and explicit NULLs are stored verbatim — a
    // post-add NULL must never be refilled as the default
    spark.sql(s"INSERT INTO ${sqlTable(dir)} " +
      "VALUES (7, 'b', 'ACTIVE', 70, NULL, 70)")
    val r7 = v1(dir).filter($"id" === 7L).select("tier", "bonus").collect()
    assert(r7.head.isNullAt(0) && r7.head.getLong(1) === 70L,
      "an explicit NULL must stay NULL")
    // aggregates mix default-filled old rows and stored new rows
    assert(v1(dir).agg(org.apache.spark.sql.functions.sum("bonus"))
      .collect().head.getLong(0) === 4 * 7L + 7L + 7L + 70L)
    // DML over a defaulted column; the COW rewrite materializes it, so
    // the default survives the rewrite
    spark.sql(s"DELETE FROM ${sqlTable(dir)} WHERE id = 1")
    assert(v1(dir).filter($"id" === 2L).select("tier").as[String]
      .collect().toSeq === Seq("basic"))
    // time travel: v0 has no such columns
    assert(spark.sql(s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")
      .columns.toSeq === Seq("id", "kind", "status", "amount"))
    // a non-constant default refuses loudly (it would read differently
    // per scan); nothing commits
    val vBefore = VersionedTable.latestVersion(spark, dir)
    val nonconst = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
        "ADD COLUMNS (seen DATE DEFAULT current_date())")
    }
    assert(nonconst.getMessage.nonEmpty)
    assert(VersionedTable.latestVersion(spark, dir) === vBefore)
  }

  test("CREATE TABLE with column DEFAULTs: declared at birth, omitting " +
      "INSERTs take them, DML and COW rewrites keep them") {
    val dir = Files.createTempDirectory("graft-cdef").toString
    spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, kind STRING, " +
      "tier STRING DEFAULT 'std', bonus BIGINT DEFAULT 3) " +
      "PARTITIONED BY (kind)")
    spark.sql(s"INSERT INTO graft.`$dir` (id, kind) VALUES (1, 'a')")
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (2, 'a', 'gold', 9)")
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (3, 'b', DEFAULT, DEFAULT)")
    val got = spark.sql(s"SELECT id, tier, bonus FROM graft.`$dir`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, "std", 3L), (2L, "gold", 9L),
      (3L, "std", 3L)))
    // the default survives a COW rewrite and a later append
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id = 2")
    spark.sql(s"INSERT INTO graft.`$dir` (id, kind) VALUES (4, 'b')")
    assert(spark.sql(s"SELECT tier FROM graft.`$dir` WHERE id = 4")
      .as[String].collect().toSeq === Seq("std"))
    assert(spark.sql(
      s"SELECT sum(bonus) FROM graft.`$dir`").as[Long].collect().head
      === 3L + 3L + 3L)
  }

  test("DROP TABLE: an empty v0 shell drops (the non-atomic CTAS " +
      "cleanup shape); any table with data or history refuses") {
    val dir = Files.createTempDirectory("graft-drop").toString + "/t"
    spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, kind STRING) " +
      "PARTITIONED BY (kind)")
    spark.sql(s"DROP TABLE graft.`$dir`")
    assert(!new java.io.File(dir).exists())
    // a data-bearing table refuses — versions are the product
    val dataDir = mkTable()
    val e = intercept[Exception] {
      spark.sql(s"DROP TABLE ${sqlTable(dataDir)}")
    }
    assert(e.getMessage.contains("data or history"), e.getMessage)
    assert(ids(v1(dataDir)) === (1L to 4L))
    // so does an EMPTIED table (its history is still readable)
    val truncDir = mkTable()
    spark.sql(s"TRUNCATE TABLE ${sqlTable(truncDir)}")
    intercept[Exception] {
      spark.sql(s"DROP TABLE ${sqlTable(truncDir)}")
    }
  }

  test("SHOW PARTITIONS lists value tuples from the manifest; " +
      "DROP PARTITION is a COW delete of exactly that tuple") {
    val dir = Files.createTempDirectory("graft-parts").toString
    val df = Seq(
      (1L, "a", "2024-01-01", 10L), (2L, "a", "2024-01-02", 20L),
      (3L, "b", "2024-01-01", 30L)
    ).toDF("id", "kind", "pdate", "amount")
    VersionedTable.create(df, dir, "kind,pdate")
    val parts = spark.sql(s"SHOW PARTITIONS ${sqlTable(dir)}")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(parts === Seq("kind=a/pdate=2024-01-01", "kind=a/pdate=2024-01-02",
      "kind=b/pdate=2024-01-01"))
    // partial spec filters
    val onlyA = spark.sql(
      s"SHOW PARTITIONS ${sqlTable(dir)} PARTITION (kind='a')")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(onlyA === Seq("kind=a/pdate=2024-01-01", "kind=a/pdate=2024-01-02"))
    // DROP PARTITION deletes exactly the tuple, as a new version
    spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
      "DROP PARTITION (kind='a', pdate='2024-01-01')")
    assert(ids(v1(dir)) === Seq(2L, 3L))
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 3L))
    // IF EXISTS on an absent tuple no-ops; without it, Spark errors
    spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
      "DROP IF EXISTS PARTITION (kind='zz', pdate='2024-01-01')")
    assert(ids(v1(dir)) === Seq(2L, 3L))
    // ADD PARTITION refuses: partitions exist because data does
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
        "ADD PARTITION (kind='c', pdate='2024-01-01')")
    }
    assert(e.getMessage.contains("INSERT the data"), e.getMessage)
  }

  test("TRUNCATE TABLE empties the head as a new version") {
    val dir = mkTable()
    spark.sql(s"TRUNCATE TABLE ${sqlTable(dir)}")
    assert(v1(dir).count() === 0L)
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
  }

  test("DELETE/UPDATE with uncorrelated IN-subqueries run the JOIN-form " +
      "membership kernel; correlated, NOT IN and scalar shapes refuse " +
      "loudly") {
    val dir = mkTable()
    Seq(2L, 3L, 99L).toDF("the_id").createOrReplaceTempView("sub_ids")
    // id∈{2,3,99} AND INACTIVE → only id=2 deletes (3 is ACTIVE,
    // 4 is INACTIVE but not in the list, 99 absent from the table)
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE id IN (SELECT the_id FROM sub_ids) AND status = 'INACTIVE'")
    assert(ids(v1(dir)) === Seq(1L, 3L, 4L))
    // UPDATE through the same membership form, residual on the partition
    spark.sql(s"UPDATE ${sqlTable(dir)} SET amount = amount + 100 " +
      "WHERE id IN (SELECT the_id FROM sub_ids) AND kind = 'b'")
    val amounts = v1(dir).orderBy("id").select("amount")
      .as[Long].collect().toSeq
    assert(amounts === Seq(10L, 130L, 40L))
    // history intact: both statements committed as versions
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
    // refusals, each naming the unsupported shape
    val correlated = intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
        "WHERE id IN (SELECT the_id FROM sub_ids WHERE the_id = amount)")
    }
    assert(correlated.getMessage.contains("UNCORRELATED"),
      correlated.getMessage)
    // tuple NOT IN runs its exact 3VL (its own test below) — here just
    // prove it composes with a residual without touching this lifecycle
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE (id, amount) NOT IN (SELECT the_id, the_id FROM sub_ids) " +
      "AND kind = 'no-such-kind'")
    assert(ids(v1(dir)) === Seq(1L, 3L, 4L))
    // a NON-equality correlation refuses (equality-correlated EXISTS is
    // supported — its own test below)
    val exists = intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
        "WHERE EXISTS (SELECT 1 FROM sub_ids WHERE the_id > id)")
    }
    assert(exists.getMessage.contains("equality"), exists.getMessage)
    assert(ids(v1(dir)) === Seq(1L, 3L, 4L))
    // uncorrelated SCALAR subqueries materialize to a literal at run
    // time: amounts are (10, 130, 40), avg 60 → only id=3 deletes
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      s"WHERE amount > (SELECT avg(amount) FROM ${sqlTable(dir)})")
    assert(ids(v1(dir)) === Seq(1L, 4L))
    // multi-column tuple membership: (kind, status) pairs
    Seq(("a", "ACTIVE"), ("b", "MISSING")).toDF("k", "s")
      .createOrReplaceTempView("pair_keys")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE (kind, status) IN (SELECT k, s FROM pair_keys)")
    // id=1 is (a, ACTIVE) → deleted; id=4 is (b, INACTIVE) → kept
    assert(ids(v1(dir)) === Seq(4L))
  }

  test("DELETE/UPDATE with equality-correlated SCALAR subqueries run " +
      "as grouped-aggregate left joins; count coalesces to 0, an " +
      "absent key reads NULL (UNKNOWN), non-equality refuses") {
    val dir = mkTable() // (1,a,ACTIVE,10) (2,a,INACTIVE,20)
                        // (3,b,ACTIVE,30) (4,b,INACTIVE,40)
    Seq(("a", 5L), ("a", 15L), ("b", 35L)).toDF("k", "amt")
      .createOrReplaceTempView("scal_src")
    // per-kind max(amt): a→15, b→35 — deletes amount< that max:
    // id=1 (10<15) and id=3 (30<35); 2 (20≥15) and 4 (40≥35) survive
    spark.sql(s"DELETE FROM ${sqlTable(dir)} t WHERE t.amount < " +
      "(SELECT max(s.amt) FROM scal_src s WHERE s.k = t.kind)")
    assert(ids(v1(dir)) === Seq(2L, 4L))
    // UPDATE through sum with a residual: sums a→20, b→35;
    // id=2: 20>20 false; id=4: 40>35 ∧ INACTIVE → amount=0
    spark.sql(s"UPDATE ${sqlTable(dir)} t SET amount = 0 " +
      "WHERE t.amount > (SELECT sum(s.amt) FROM scal_src s " +
      "WHERE s.k = t.kind) AND status = 'INACTIVE'")
    assert(v1(dir).orderBy("id").select("amount").as[Long].collect().toSeq
      === Seq(20L, 0L))
    // count over a key with NO subquery rows is 0, not NULL (the left
    // join's null-fill coalesces): kind b has no scal_one row → id=4
    // deletes; kind a counts 1 → id=2 survives
    Seq(("a", 1L)).toDF("k", "amt").createOrReplaceTempView("scal_one")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} t WHERE " +
      "(SELECT count(*) FROM scal_one s WHERE s.k = t.kind) = 0")
    assert(ids(v1(dir)) === Seq(2L))
    // an absent key under max reads NULL → the comparison is UNKNOWN →
    // no rows (id=2 has kind a WITH a row; make the probe key-less by
    // filtering the subquery empty)
    spark.sql(s"DELETE FROM ${sqlTable(dir)} t WHERE t.amount < " +
      "(SELECT max(s.amt) FROM scal_one s " +
      "WHERE s.k = t.kind AND s.amt > 100)")
    assert(ids(v1(dir)) === Seq(2L))
    // statement history: every statement above committed one version
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
    // non-equality correlation refuses by name
    val ne = intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM ${sqlTable(dir)} t WHERE t.amount < " +
        "(SELECT max(s.amt) FROM scal_src s WHERE s.amt > t.id)")
    }
    assert(ne.getMessage.contains("equality"), ne.getMessage)
    // an unsupported aggregate refuses by name
    val bad = intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM ${sqlTable(dir)} t WHERE t.amount < " +
        "(SELECT any_value(s.amt) FROM scal_src s WHERE s.k = t.kind)")
    }
    assert(bad.getMessage.contains("empty-group") ||
      bad.getMessage.contains("aggregate"), bad.getMessage)
  }

  test("DELETE/UPDATE with equality-correlated EXISTS / NOT EXISTS run " +
      "the semi/anti membership kernels; uncorrelated EXISTS is a " +
      "runtime constant; coerced IN-values unwrap their casts") {
    val dir = mkTable()
    Seq(2L, 3L, 99L).toDF("the_id").createOrReplaceTempView("ex_ids")
    // equality correlation + inner uncorrelated conjunct + residual:
    // {2,3} ∩ INACTIVE → only id=2 deletes
    spark.sql(s"DELETE FROM ${sqlTable(dir)} t WHERE EXISTS (" +
      "SELECT 1 FROM ex_ids s WHERE s.the_id = t.id AND s.the_id < 50) " +
      "AND t.status = 'INACTIVE'")
    assert(ids(v1(dir)) === Seq(1L, 3L, 4L))
    // NOT EXISTS → anti join: ACTIVE rows with no matching key → id=1
    spark.sql(s"DELETE FROM ${sqlTable(dir)} t WHERE NOT EXISTS (" +
      "SELECT 1 FROM ex_ids s WHERE t.id = s.the_id) " +
      "AND t.status = 'ACTIVE'")
    assert(ids(v1(dir)) === Seq(3L, 4L))
    // UPDATE through EXISTS (id=3 matches) and NOT EXISTS (id=4)
    spark.sql(s"UPDATE ${sqlTable(dir)} t SET amount = 0 WHERE EXISTS (" +
      "SELECT 1 FROM ex_ids s WHERE s.the_id = t.id)")
    assert(v1(dir).orderBy("id").select("amount").as[Long]
      .collect().toSeq === Seq(0L, 40L))
    spark.sql(s"UPDATE ${sqlTable(dir)} t SET amount = amount + 5 " +
      "WHERE NOT EXISTS (SELECT 1 FROM ex_ids s WHERE s.the_id = t.id)")
    assert(v1(dir).orderBy("id").select("amount").as[Long]
      .collect().toSeq === Seq(0L, 45L))
    // uncorrelated EXISTS = statement constant: empty probe → no-op
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE EXISTS (SELECT 1 FROM ex_ids WHERE the_id = 12345)")
    assert(ids(v1(dir)) === Seq(3L, 4L))
    // non-empty probe → true, residual picks the row
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE EXISTS (SELECT 1 FROM ex_ids WHERE the_id = 99) AND id = 4")
    assert(ids(v1(dir)) === Seq(3L))
    // analyzer-coerced membership value (id cast to double to match the
    // subquery's type) unwraps to the plain column — not a refusal
    spark.sql("SELECT CAST(the_id AS DOUBLE) AS did FROM ex_ids")
      .createOrReplaceTempView("dbl_ids")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE id IN (SELECT did FROM dbl_ids)")
    assert(v1(dir).count() === 0L)
    // the whole lifecycle stayed versioned
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
  }

  test("NOT IN runs its exact 3VL: empty set selects every row, a NULL " +
      "in the set selects none, a NULL key never matches a non-empty " +
      "set; tuple NOT IN is null-aware per component") {
    val dir = mkTable()
    import org.apache.spark.sql.functions.col
    Seq(Some(2L), Some(3L)).toDF("kid")
      .createOrReplaceTempView("ni_clean")
    // non-empty null-free set {2,3}: rows NOT in it (1, 4) delete
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE id NOT IN (SELECT kid FROM ni_clean)")
    assert(ids(v1(dir)) === Seq(2L, 3L))
    // a NULL among the values: UNKNOWN for EVERY row — nothing deletes
    Seq(Some(2L), None).toDF("kid").createOrReplaceTempView("ni_null")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE id NOT IN (SELECT kid FROM ni_null)")
    assert(ids(v1(dir)) === Seq(2L, 3L))
    // empty set: the conjunct is TRUE everywhere, the residual decides
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE id NOT IN (SELECT kid FROM ni_clean WHERE kid > 100) " +
      "AND kind = 'a'")
    assert(ids(v1(dir)) === Seq(3L))
    // UPDATE through the same 3VL
    spark.sql(s"UPDATE ${sqlTable(dir)} SET amount = -1 " +
      "WHERE id NOT IN (SELECT kid FROM ni_clean WHERE kid = 2)")
    assert(v1(dir).select("amount").as[Long].collect().toSeq === Seq(-1L))
    // a NULL key against a NON-EMPTY set is UNKNOWN — the row survives
    // (the bare anti join would wrongly delete it)
    spark.sql(s"INSERT INTO ${sqlTable(dir)} VALUES (9, 'a', NULL, 90)")
    Seq("NOPE").toDF("s").createOrReplaceTempView("ni_status")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE status NOT IN (SELECT s FROM ni_status)")
    assert(ids(v1(dir)) === Seq(9L),
      "the NULL-status row must survive a non-empty NOT IN")
    assert(v1(dir).filter(col("status").isNull).count() === 1L)
    // ---- TUPLE NOT IN: the per-component SQL-spec 3VL — a row goes
    // only when EVERY set tuple has some component pair both-non-null
    // and different ----
    spark.sql(s"INSERT INTO ${sqlTable(dir)} VALUES " +
      "(10, 'a', 'X', 100), (11, 'a', 'Y', 110), (12, 'a', NULL, 120)")
    Seq((Some("X"), Some(10L)), (None, Some(11L)))
      .toDF("s", "i").createOrReplaceTempView("ni_tup")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE (status, id) NOT IN (SELECT s, i FROM ni_tup)")
    // 10 ('X',10) is IN → kept; 11 ('Y',11) is UNKNOWN against the
    // NULL-component tuple (NULL,11) → kept; 12 (NULL,12) and 9
    // (NULL,9) are DEFINITELY outside (their id disproves every set
    // tuple, NULL status notwithstanding) → deleted
    assert(ids(v1(dir)) === Seq(10L, 11L))
    // an all-NULL set tuple poisons: UNKNOWN for every row, no deletes
    Seq((Option.empty[String], Option.empty[Long]))
      .toDF("s", "i").createOrReplaceTempView("ni_tup_null")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE (status, id) NOT IN (SELECT s, i FROM ni_tup_null)")
    assert(ids(v1(dir)) === Seq(10L, 11L))
    // tuple NOT IN through UPDATE: 11 is definitely outside {('X',10)}
    // → assigned; 10 is IN → carries
    spark.sql(s"UPDATE ${sqlTable(dir)} SET amount = -2 " +
      "WHERE (status, id) NOT IN (SELECT s, i FROM ni_tup WHERE i = 10)")
    assert(v1(dir).orderBy("id").select("amount").as[Long]
      .collect().toSeq === Seq(100L, -2L))
    // an unbounded set refuses loudly (the null-aware anti join
    // broadcasts the set into a nested loop — a silent quadratic at
    // scale would be worse than the refusal)
    spark.range(0, 100001L).selectExpr("CAST(id AS STRING) AS s", "id AS i")
      .createOrReplaceTempView("ni_tup_huge")
    val huge = intercept[UnsupportedOperationException] {
      spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
        "WHERE (status, id) NOT IN (SELECT s, i FROM ni_tup_huge)")
    }
    assert(huge.getMessage.contains("NOT EXISTS"), huge.getMessage)
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
  }

  test("tuple NOT IN keeps exact multiset semantics under duplicate " +
      "rows (the semi/anti survivor branches replacing exceptAll)") {
    // round-16: the split kernels classify survivors per row instead of
    // exceptAll's full-row-grouped multiset difference — identical rows
    // must classify identically, so BOTH copies go or BOTH stay
    val dir = mkTable()
    spark.sql(s"INSERT INTO ${sqlTable(dir)} VALUES " +
      "(20, 'a', 'DUP', 200), (20, 'a', 'DUP', 200), " + // both outside
      "(21, 'a', 'KEEP', 210), (21, 'a', 'KEEP', 210)")  // both IN
    Seq((Some("KEEP"), Some(21L)), (Some("ACTIVE"), Some(1L)),
        (Some("ACTIVE"), Some(3L)), (Some("INACTIVE"), Some(2L)),
        (Some("INACTIVE"), Some(4L)))
      .toDF("s", "i").createOrReplaceTempView("ni_dup_set")
    spark.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE (status, id) NOT IN (SELECT s, i FROM ni_dup_set)")
    val left = v1(dir).orderBy("id").select("id").as[Long].collect().toSeq
    assert(left === Seq(1L, 2L, 3L, 4L, 21L, 21L),
      s"both DUP copies must delete, both KEEP copies must survive: $left")
    // the same duplicates through the split UPDATE kernel
    spark.sql(s"UPDATE ${sqlTable(dir)} SET amount = -3 " +
      "WHERE (status, id) NOT IN (SELECT s, i FROM ni_dup_set WHERE i <> 21)")
    val amounts = v1(dir).filter($"id" === 21L)
      .select("amount").as[Long].collect().toSeq
    assert(amounts === Seq(-3L, -3L),
      s"both KEEP copies must take the assignment: $amounts")
  }

  test("static INSERT OVERWRITE PARTITION is a one-commit replaceWhere: " +
      "the named slice is replaced (or emptied), everything else " +
      "carries, out-of-slice rows refuse") {
    val dir = mkTable()
    // static mode plans OverwriteByExpression with the partition filter
    // (the session default, dynamic, would replace only tuples PRESENT
    // in the data — a different statement)
    val old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.sql(s"INSERT OVERWRITE ${sqlTable(dir)} PARTITION (kind='a') " +
        "VALUES (10, 'FRESH', 100)")
      val got = v1(dir).orderBy("id").select("id", "kind", "status")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq
      assert(got === Seq((3L, "b", "ACTIVE"), (4L, "b", "INACTIVE"),
        (10L, "a", "FRESH")))
      assert(VersionedTable.latestVersion(spark, dir) === 1) // ONE commit
      // an empty source EMPTIES the slice (static overwrite semantics,
      // where the dynamic form would have replaced nothing)
      spark.sql(s"INSERT OVERWRITE ${sqlTable(dir)} PARTITION (kind='b') " +
        s"SELECT id, status, amount FROM graft.`$dir` WHERE id < 0")
      assert(ids(v1(dir)) === Seq(10L))
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    // history intact across both slice overwrites
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 4L))
    // library form: out-of-slice rows refuse loudly
    val bad = intercept[Exception] {
      VersionedTable.replaceWhere(
        Seq((9L, "zz", "X", 9L)).toDF("id", "kind", "status", "amount"),
        dir, "kind", $"kind" === "a")
    }
    assert(bad.getMessage.contains("replaceWhere violation"),
      bad.getMessage)
  }

  test("readStream.table tails the versioned table through the V1 " +
      "change source; readChangeFeed through the identifier widens to " +
      "the CDF schema") {
    val dir = mkTable()
    val q = spark.readStream.table(sqlTable(dir)).writeStream
      .format("memory").queryName("cat_stream").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(ids(spark.table("cat_stream")) === (1L to 4L))
      VersionedTable.append(
        Seq((5L, "a", "ACTIVE", 50L)).toDF("id", "kind", "status", "amount"),
        dir, "kind")
      q.processAllAvailable()
      assert(ids(spark.table("cat_stream")) === (1L to 5L))
    } finally q.stop()
    // CDF via the identifier: table columns + the two CDF columns
    // (behavioral coverage incl. restart lives in ChangeFeedSpec)
    val cdfDf = spark.readStream.option("readChangeFeed", "true")
      .table(sqlTable(dir))
    assert(cdfDf.schema.fieldNames.takeRight(2).toSeq
      === Seq("_change_type", "_commit_version"))
    assert(cdfDf.schema.fieldNames.take(4).toSeq
      === Seq("id", "kind", "status", "amount"))
  }

  test("metadata tables: history/detail/partitions/constraints answer " +
      "through plain SQL, driver-metadata-sized") {
    val dir = mkTable()
    VersionedTable.append(
      Seq((5L, "c", "ACTIVE", 50L)).toDF("id", "kind", "status", "amount"),
      dir, "kind")
    val hist = spark.sql(s"SELECT version, n_leaves FROM graft.`$dir`.history")
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(hist.map(_._1) === Seq(0, 1))
    assert(hist(1)._2 > hist(0)._2) // the append added a leaf
    val detail = spark.sql(s"SELECT * FROM graft.`$dir`.detail")
    assert(detail.count() === 1L)
    val parts = spark.sql(s"SELECT kind FROM graft.`$dir`.partitions")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(parts === Seq("a", "b", "c"))
    spark.sql(s"ALTER TABLE ${sqlTable(dir)} " +
      "ADD CONSTRAINT amount_pos CHECK (amount > 0)")
    val cons = spark.sql(s"SELECT * FROM graft.`$dir`.constraints")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cons === Seq(("amount_pos", "amount > 0")))
    // an unknown suffix is NOT a metadata table — plain missing-table
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$dir`.nonsense").collect()
    }
    // .files: one row per live data file, sidecar-answered (no data
    // scan); sizes positive, sidecar row counts sum to the table's
    val files = spark.sql(s"SELECT partition, version, size_bytes, rows " +
      s"FROM graft.`$dir`.files").collect()
    assert(files.nonEmpty && files.forall(_.getLong(2) > 0L))
    assert(files.map(_.getString(0)).forall(_.startsWith("kind__p=")))
    assert(files.map(_.getLong(1)).toSet === Set(0L, 1L))
    assert(files.map(_.getLong(3)).sum ===
      spark.sql(s"SELECT count(*) FROM graft.`$dir`").as[Long]
        .collect().head)
  }

  test("Delta-style maintenance statements parse: DESCRIBE HISTORY, " +
      "VACUUM RETAIN/DRY RUN, OPTIMIZE [ZORDER BY]; bare VACUUM asks " +
      "for retention; non-graft statements fall through to Spark") {
    val dir = mkTable()
    spark.sql(s"DELETE FROM ${sqlTable(dir)} WHERE id = 1") // v1
    val hist = spark.sql(s"DESCRIBE HISTORY ${sqlTable(dir)}")
      .select("version").as[Int].collect().sorted.toSeq
    assert(hist === Seq(0, 1))
    val dry = spark.sql(s"VACUUM ${sqlTable(dir)} DRY RUN").collect()
    assert(dry.map(_.getString(1)).toSeq === Seq("0")) // would drop v0 only
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1)) // unchanged
    val dryR = spark.sql(
      s"VACUUM ${sqlTable(dir)} RETAIN 2 VERSIONS DRY RUN").collect()
    assert(dryR.map(_.getString(1)).toSeq === Seq("")) // both retained
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1)) // unchanged
    val opt = spark.sql(s"OPTIMIZE ${sqlTable(dir)}").collect().head
    assert(opt.getString(1) === "binpack")
    val z = spark.sql(
      s"OPTIMIZE ${sqlTable(dir)} ZORDER BY (id, amount)").collect().head
    assert(z.getString(1) === "zorder(id,amount)")
    val headBefore = VersionedTable.latestVersion(spark, dir)
    val detail = spark.sql(s"DESCRIBE DETAIL ${sqlTable(dir)}")
      .collect().head
    assert(detail.getAs[String]("partition_spec") === "kind")
    assert(detail.getAs[Int]("num_versions") === headBefore + 1)
    // RESTORE is the manifest pointer flip — id=1 comes back
    val restored = spark.sql(
      s"RESTORE TABLE ${sqlTable(dir)} TO VERSION AS OF 0").collect().head
    assert(restored.getAs[Int]("version") === headBefore + 1)
    assert(ids(v1(dir)) === (1L to 4L))
    // the TIMESTAMP spelling resolves the version at run time (epoch
    // millis accepted); a far-future instant restores to the head-so-far
    val restoredTs = spark.sql(s"RESTORE TABLE ${sqlTable(dir)} " +
      "TO TIMESTAMP AS OF '9999999999999'").collect().head
    assert(restoredTs.getAs[Int]("restored_from") === headBefore + 1)
    assert(ids(v1(dir)) === (1L to 4L))
    // a pre-table instant refuses loudly, never restores to nothing
    intercept[Exception] {
      spark.sql(s"RESTORE TABLE ${sqlTable(dir)} TO TIMESTAMP AS OF '1'")
    }
    spark.sql(s"VACUUM ${sqlTable(dir)} RETAIN 1 VERSIONS")
    assert(VersionedTable.versions(spark, dir).size === 1)
    assert(ids(v1(dir)) === (1L to 4L)) // head (the restore) intact
    val bare = intercept[UnsupportedOperationException] {
      spark.sql(s"VACUUM ${sqlTable(dir)}")
    }
    assert(bare.getMessage.contains("RETAIN"), bare.getMessage)
    // a non-graft VACUUM is NOT intercepted — Spark's own parse error
    intercept[Exception] { spark.sql("VACUUM some_table") }
  }

  test("MERGE on a COMPOSITE key (ON t.a = s.a AND t.b = s.b): " +
      "canonical upsert and the clause kernel both join the full " +
      "tuple; an ON with NO equality anchor refuses") {
    val dir = mkTable()
    Seq((9L, "a", "ACTIVE", 111L), (7L, "c", "NEW", 70L))
      .toDF("id", "kind", "status", "amount")
      .createOrReplaceTempView("ck_src")
    spark.sql(s"MERGE INTO ${sqlTable(dir)} t USING ck_src s " +
      "ON t.kind = s.kind AND t.status = s.status " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // (a, ACTIVE) replaced by id=9; (c, NEW) inserted; others carried
    assert(ids(v1(dir)) === Seq(2L, 3L, 4L, 7L, 9L))
    // clause form: conditional matched update + by-source delete, both
    // keyed on the tuple
    spark.sql(s"MERGE INTO ${sqlTable(dir)} t USING ck_src s " +
      "ON t.kind = s.kind AND t.status = s.status " +
      "WHEN MATCHED AND t.amount > 100 " +
      "THEN UPDATE SET amount = t.amount + s.amount " +
      "WHEN NOT MATCHED BY SOURCE AND t.kind = 'b' THEN DELETE")
    assert(ids(v1(dir)) === Seq(2L, 7L, 9L))
    val amounts = v1(dir).orderBy("id").select("amount")
      .as[Long].collect().toSeq
    assert(amounts === Seq(20L, 70L, 222L))
    // an ON with no same-named equality pair at all refuses naming
    // itself (residual conjuncts need an equality anchor to join on)
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"MERGE INTO ${sqlTable(dir)} t USING ck_src s " +
        "ON t.amount > s.amount WHEN MATCHED THEN DELETE")
    }
    assert(e.getMessage.contains("equality"), e.getMessage)
  }

  test("MERGE with residual ON conjuncts (ON t.k = s.k AND s.ts > t.ts " +
      "— the dedup-upsert idiom): the residual gates the MATCH itself, " +
      "so stale pairs count as not-matched on BOTH sides") {
    val dir = Files.createTempDirectory("graft-resmerge").toString
    VersionedTable.create(
      Seq((1L, "a", 5L, 10L), (2L, "a", 5L, 20L), (3L, "b", 5L, 30L))
        .toDF("id", "kind", "ts", "amount"), dir, "kind")
    Seq((1L, "a", 10L, 100L), (2L, "a", 3L, 200L))
      .toDF("id", "kind", "ts", "amount")
      .createOrReplaceTempView("res_src")
    // update-only merge: id=1 is newer (matched → updated), id=2 is
    // STALE — the residual fails, the pair is NOT matched, nothing fires
    spark.sql(s"MERGE INTO ${sqlTable(dir)} t USING res_src s " +
      "ON t.id = s.id AND s.ts > t.ts " +
      "WHEN MATCHED THEN UPDATE SET t.ts = s.ts, t.amount = s.amount")
    val got = v1(dir).orderBy("id").select("id", "ts", "amount")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 10L, 100L), (2L, 5L, 20L), (3L, 5L, 30L)))
    // with an INSERT clause, SQL-exact semantics: the stale source row
    // is NOT matched, so it INSERTS (a second id=2 row — that is what
    // the standard says; dedup-upserts use the update-only form above)
    Seq((2L, "a", 3L, 222L), (9L, "a", 1L, 90L))
      .toDF("id", "kind", "ts", "amount")
      .createOrReplaceTempView("res_src2")
    spark.sql(s"MERGE INTO ${sqlTable(dir)} t USING res_src2 s " +
      "ON t.id = s.id AND s.ts > t.ts " +
      "WHEN MATCHED THEN UPDATE SET t.ts = s.ts, t.amount = s.amount " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(ids(v1(dir)) === Seq(1L, 2L, 2L, 3L, 9L))
    // BY SOURCE with a residual: a key-matching-but-stale target row IS
    // "not matched by source" — the sync-delete removes it
    Seq((3L, "b", 1L, 0L)).toDF("id", "kind", "ts", "amount")
      .createOrReplaceTempView("res_src3")
    spark.sql(s"MERGE INTO ${sqlTable(dir)} t USING res_src3 s " +
      "ON t.id = s.id AND s.ts > t.ts " +
      "WHEN NOT MATCHED BY SOURCE AND t.id = 3 THEN DELETE")
    assert(ids(v1(dir)) === Seq(1L, 2L, 2L, 9L))
    // every statement committed as its own version; v0 intact
    assert(ids(spark.sql(
      s"SELECT * FROM ${sqlTable(dir)} VERSION AS OF 0")) === (1L to 3L))
  }

  test("CREATE TABLE ... SHALLOW CLONE branches the table zero-copy; " +
      "histories diverge") {
    val dir = mkTable()
    val dst = Files.createTempDirectory("graft-clone-sql").toString + "/c"
    val row = spark.sql(
      s"CREATE TABLE graft.`$dst` SHALLOW CLONE ${sqlTable(dir)}")
      .collect().head
    assert(row.getLong(2) + row.getLong(3) > 0, "files must carry")
    assert(ids(spark.sql(s"SELECT * FROM graft.`$dst`")) === (1L to 4L))
    // divergence: a delete on the clone leaves the source intact
    spark.sql(s"DELETE FROM graft.`$dst` WHERE id = 1")
    assert(ids(v1(dir)) === (1L to 4L))
    assert(ids(spark.sql(s"SELECT * FROM graft.`$dst`"))
      === Seq(2L, 3L, 4L))
    // cloning ONTO an existing table refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dst` SHALLOW CLONE ${sqlTable(dir)}")
    }
  }

  test("CALL procedures: rollback restores by pointer flip, " +
      "vacuum_dry_run previews, vacuum erases history; unknown names " +
      "refuse listing the surface") {
    val dir = mkTable()
    spark.sql(s"DELETE FROM ${sqlTable(dir)} WHERE id % 2 = 0") // v1
    assert(ids(v1(dir)) === Seq(1L, 3L))
    val rb = spark.sql(s"CALL graft.rollback('$dir', 0)").collect().head
    assert(rb.getAs[Int]("restored_from") === 0)
    assert(rb.getAs[Int]("version") === 2)
    assert(ids(v1(dir)) === (1L to 4L)) // v2 == v0, no data moved
    val dry = spark.sql(s"CALL graft.vacuum_dry_run('$dir', 1)")
      .collect().head
    assert(dry.getAs[Seq[Int]]("would_drop_versions") === Seq(0, 1))
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1, 2)) // unchanged
    val vac = spark.sql(s"CALL graft.vacuum('$dir', 1)").collect().head
    assert(vac.getAs[Long]("versions_dropped") === 2L)
    assert(VersionedTable.versions(spark, dir) === Seq(2))
    assert(ids(v1(dir)) === (1L to 4L)) // head intact after the sweep
    // binpack: kind=a's two leaves pack into one; kind=b and kind=c
    // carry by reference
    spark.sql(s"INSERT INTO ${sqlTable(dir)} VALUES " +
      "(5, 'a', 'ACTIVE', 50), (6, 'c', 'ACTIVE', 60)")
    val bp = spark.sql(s"CALL graft.binpack('$dir', 1073741824)")
      .collect().head
    assert(bp.getAs[Int]("leaves_packed") === 2)
    assert(bp.getAs[Int]("leaves_carried") === 2)
    assert(ids(v1(dir)) === (1L to 6L))
    // Spark wraps the catalog's refusal in FAILED_TO_LOAD_ROUTINE; the
    // named surface list rides as the cause
    val unknown = intercept[Exception] {
      spark.sql(s"CALL graft.frobnicate('$dir')")
    }
    assert(unknown.getMessage.contains("frobnicate"), unknown.getMessage)
    // spec evolution, clone and format conversion through CALL too
    val dir2 = mkTable()
    spark.sql(s"CALL graft.evolve_partition_spec('$dir2', 'status')")
    assert(VersionedTable.liveLeaves(spark, dir2)
      .forall(_.contains("kind__p="))) // leaves untouched, spec recorded
    spark.sql(s"DELETE FROM ${sqlTable(dir2)} WHERE id = 1")
    assert(VersionedTable.liveLeaves(spark, dir2)
      .exists(_.contains("status__p="))) // rewrite migrated to new spec
    val cloneDir = Files.createTempDirectory("graft-clone").toString + "/c"
    val cl = spark.sql(s"CALL graft.clone('$dir2', '$cloneDir')")
      .collect().head
    assert(cl.getAs[Long]("files") > 0L)
    assert(ids(v1(cloneDir)) === ids(v1(dir2)))
    val cf = spark.sql(s"CALL graft.convert_format('$cloneDir', 'orc')")
      .collect().head
    assert(cf.getAs[String]("format") === "orc")
    assert(ids(v1(cloneDir)) === ids(v1(dir2)))
  }

  test("CTAS is ATOMIC through the staging catalog: v0 carries the data " +
      "(no empty-shell version), a failed CTAS leaves no table") {
    val src = mkTable()
    val dir = Files.createTempDirectory("graft-ctas").toString + "/t"
    spark.sql(s"CREATE TABLE graft.`$dir` PARTITIONED BY (kind) " +
      s"AS SELECT * FROM graft.`$src`")
    assert(ids(v1(dir)) === (1L to 4L))
    // the one observable version IS the data — no empty shell first
    assert(VersionedTable.versions(spark, dir) === Seq(0))
    // a CTAS whose query fails mid-write aborts to NO table at all
    val dir2 = Files.createTempDirectory("graft-ctas2").toString + "/t"
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir2` PARTITIONED BY (kind) " +
        s"AS SELECT id, kind, status, " +
        s"CAST(raise_error('boom') AS BIGINT) AS amount FROM graft.`$src`")
    }
    assert(VersionedTable.versions(spark, dir2).isEmpty)
    assert(!new java.io.File(dir2).exists())
    // a failed CTAS targeting a PRE-EXISTING directory with unrelated
    // (non-graft) files deletes only its own staged bytes — never the
    // bystanders (abort is scoped to the stage's nonce roots)
    val dir3 = Files.createTempDirectory("graft-ctas3").toString
    val bystander = new java.io.File(dir3, "unrelated.txt")
    java.nio.file.Files.write(bystander.toPath, "keep me".getBytes)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$dir3` PARTITIONED BY (kind) " +
        s"AS SELECT id, kind, status, " +
        s"CAST(raise_error('boom') AS BIGINT) AS amount FROM graft.`$src`")
    }
    assert(bystander.exists(), "abort must not touch unrelated files")
    assert(VersionedTable.versions(spark, dir3).isEmpty)
  }

  test("[CREATE OR] REPLACE TABLE commits truncate-and-load as a NEW " +
      "version: old versions time-travel, a new schema takes, a failed " +
      "replace leaves the old head intact") {
    val src = mkTable()
    val dir = Files.createTempDirectory("graft-replace").toString + "/t"
    spark.sql(s"CREATE TABLE graft.`$dir` PARTITIONED BY (kind) " +
      s"AS SELECT * FROM graft.`$src`")
    assert(ids(v1(dir)) === (1L to 4L))
    // REPLACE with a DIFFERENT schema and content — one new version
    spark.sql(s"REPLACE TABLE graft.`$dir` PARTITIONED BY (kind) " +
      s"AS SELECT id * 100 AS id, kind, amount + 1 AS amt " +
      s"FROM graft.`$src` WHERE kind = 'a'")
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1))
    val head = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(head.schema.fieldNames.toSeq === Seq("id", "kind", "amt"))
    assert(ids(head) === Seq(100L, 200L))
    // the replaced definition still time-travels
    val v0 = spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 0")
    assert(v0.schema.fieldNames.toSeq
      === Seq("id", "kind", "status", "amount"))
    assert(ids(v0) === (1L to 4L))
    // DML keeps working against the replaced head
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id = 100")
    assert(ids(v1(dir)) === Seq(200L))
    // CREATE OR REPLACE on an EXISTING table is the same commit...
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$dir` " +
      s"PARTITIONED BY (kind) AS SELECT * FROM graft.`$src`")
    assert(ids(v1(dir)) === (1L to 4L))
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1, 2, 3))
    // ...and on a MISSING table it is a plain atomic CTAS
    val dir2 = Files.createTempDirectory("graft-replace2").toString + "/t"
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$dir2` " +
      s"PARTITIONED BY (kind) AS SELECT * FROM graft.`$src`")
    assert(VersionedTable.versions(spark, dir2) === Seq(0))
    // a REPLACE whose query fails aborts: old head intact, staged bytes
    // gone (only this replace's nonce roots are removed)
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE graft.`$dir` PARTITIONED BY (kind) " +
        s"AS SELECT id, kind, CAST(raise_error('boom') AS BIGINT) AS x " +
        s"FROM graft.`$src`")
    }
    assert(ids(v1(dir)) === (1L to 4L))
    assert(VersionedTable.versions(spark, dir) === Seq(0, 1, 2, 3))
    // plain REPLACE of a missing table refuses (CREATE OR REPLACE is
    // the spelling that creates)
    val dir3 = Files.createTempDirectory("graft-replace3").toString + "/t"
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE graft.`$dir3` PARTITIONED BY (kind) " +
        s"AS SELECT * FROM graft.`$src`")
    }
    assert(VersionedTable.versions(spark, dir3).isEmpty)
  }

  test("edge cases: 0-row CTAS lands an empty v0; membership UPDATE " +
      "moves rows across partitions; by-source sync rewrites " +
      "foreign-spec leaves; a racing create refuses the staged commit") {
    // 0-row CTAS: the atomic path publishes an empty (but schema-
    // carrying) v0 — INSERT then works
    val src = mkTable()
    val empty = Files.createTempDirectory("graft-edge0").toString + "/t"
    spark.sql(s"CREATE TABLE graft.`$empty` PARTITIONED BY (kind) " +
      s"AS SELECT * FROM graft.`$src` WHERE id < 0")
    assert(VersionedTable.versions(spark, empty) === Seq(0))
    assert(v1(empty).count() === 0L)
    spark.sql(s"INSERT INTO graft.`$empty` VALUES (7, 'z', 'ACTIVE', 70)")
    assert(ids(v1(empty)) === Seq(7L))
    // membership UPDATE may assign the PARTITION column: matched rows
    // move to their new tuple's leaf within the commit
    val dir = mkTable()
    Seq(2L, 3L).toDF("the_id").createOrReplaceTempView("move_ids")
    spark.sql(s"UPDATE ${sqlTable(dir)} SET kind = 'z' " +
      "WHERE id IN (SELECT the_id FROM move_ids)")
    val moved = v1(dir).orderBy("id").select("id", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(moved === Seq((1L, "a"), (2L, "z"), (3L, "z"), (4L, "b")))
    assert(VersionedTable.partitionTuples(spark, dir).map(_.head).sorted
      === Seq("a", "b", "z"))
    // by-source sync across a spec evolution: old-spec (kind) leaves
    // still rewrite when their unmatched rows hit the condition
    val evo = mkTable()
    VersionedTable.evolvePartitionSpec(spark, evo, "status")
    Seq(1L, 4L).toDF("id").createOrReplaceTempView("sync_keep")
    spark.sql(s"""MERGE INTO ${sqlTable(evo)} t USING sync_keep s
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE AND t.amount < 35 THEN DELETE""")
    assert(ids(v1(evo)) === Seq(1L, 4L)) // 2 (20) and 3 (30) synced away
    // a racing normal CREATE makes the staged commit refuse loudly
    val raceDir = Files.createTempDirectory("graft-race").toString + "/t"
    val df = Seq((1L, "a", 1L)).toDF("id", "kind", "n")
    val leaves = VersionedTable.stageCreateData(df, raceDir, "kind",
      "parquet")
    VersionedTable.create(df, raceDir, "kind") // the racer wins
    val race = intercept[IllegalArgumentException] {
      VersionedTable.commitStagedCreate(spark, raceDir, leaves,
        df.schema, "kind", "parquet")
    }
    assert(race.getMessage.contains("concurrent create"), race.getMessage)
  }

  test("catalog SELECTs plan the vectorized V1 scan — FileSourceScanExec, " +
      "never the per-row V1Scan conversion — with leaf pruning intact " +
      "and time travel included") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
    val dir = mkTable()
    // execute THE frame itself with AQE off so scan metrics land on the
    // QueryExecution that ran (same pattern as SnapshotConnectorSpec)
    def run(sql: String): (Seq[Long], Seq[SparkPlan], Long) = {
      val old = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val frame = spark.sql(sql)
        val rows = frame.collect().map(_.getAs[Long]("id")).sorted.toSeq
        val scans = frame.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s
          case s: RowDataSourceScanExec => s
        }
        val files = scans.collect {
          case s: FileSourceScanExec => s.metrics("numFiles").value
        }.sum
        (rows, scans, files)
      } finally spark.conf.set("spark.sql.adaptive.enabled", old)
    }
    def vectorized(scans: Seq[SparkPlan]): Boolean =
      scans.nonEmpty && scans.forall(_.isInstanceOf[FileSourceScanExec])
    val (fullRows, fullScans, fullFiles) =
      run(s"SELECT id FROM ${sqlTable(dir)}")
    assert(fullRows === (1L to 4L))
    assert(vectorized(fullScans), fullScans.toString)
    // leaf pruning survives the swap: the kind='a' filter reads strictly
    // fewer files than the full scan (manifest partition pruning)
    val (prunedRows, prunedScans, prunedFiles) =
      run(s"SELECT id FROM ${sqlTable(dir)} WHERE kind = 'a'")
    assert(prunedRows === Seq(1L, 2L))
    assert(vectorized(prunedScans))
    assert(prunedFiles > 0 && prunedFiles < fullFiles,
      s"pruned=$prunedFiles full=$fullFiles")
    // time travel pins the version through the same vectorized path
    VersionedTable.append(
      Seq((5L, "a", "ACTIVE", 50L)).toDF("id", "kind", "status", "amount"),
      dir, "kind")
    val (ttRows, ttScans, _) =
      run(s"SELECT id FROM ${sqlTable(dir)} VERSION AS OF 0")
    assert(ttRows === (1L to 4L))
    assert(vectorized(ttScans))
    // a subquery over a catalog table vectorizes too
    val (subRows, subScans, _) =
      run(s"SELECT id FROM ${sqlTable(dir)} WHERE amount > " +
        s"(SELECT avg(amount) FROM ${sqlTable(dir)})")
    assert(subRows === Seq(4L, 5L))
    assert(vectorized(subScans), subScans.toString)
  }
}
