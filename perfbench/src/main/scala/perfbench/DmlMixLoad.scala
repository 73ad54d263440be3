package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Six DML statement kinds and three time-travel reads, round-robin, on
  * one versioned table of the sf0.1 events stand-in (100k rows, 30 daily
  * partitions, 1,500 users). Each statement costs about a second on tiny
  * data, so this workload is bound by fixed per-operation overhead
  * (planning, probes, job scheduling, manifest reads and publishes), which
  * is where job fusion shows and where `deletion_workflow` barely moves.
  * The reads (`VERSION AS OF` and `TIMESTAMP AS OF` point aggregates,
  * `DESCRIBE HISTORY`) run over the history the statements build, which
  * crosses several checkpoint intervals of the manifest log within a run,
  * so a change that speeds commits by moving cost to reads shows here too.
  *
  * Every statement is also applied to a plain DataFrame model (filters
  * and unions over the source). After the timed loop the head, several
  * `VERSION AS OF` snapshots and every read's result are compared with it.
  */
final class DmlMixLoad extends Workload {
  val name = "dml_mix"
  val ops = DmlMixLoad.Statements ++ DmlMixLoad.Reads
  private val CowDeletes = Set("delete", "subquery_delete")

  private var src: DataFrame = _
  private var srcRows: Array[Row] = _
  private var dir: String = _
  private def t = s"graft.`$dir`"
  /** The statement log, starting with the create. */
  private val steps = mutable.ArrayBuffer.empty[Step]
  /** Point reads: (statement index, user, engine's (rows, cents)). */
  private val reads = mutable.ArrayBuffer.empty[(Int, Long, (Long, Long))]
  private var historyMismatches = 0
  /** (bytes added to the table directory, rows removed), per delete kind,
    * over traced rounds.
    */
  private val storage = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))

  def setup(b: Bench): Unit = {
    src = Data.events(b.spark, b.seed)
    dir = s"${b.work}/vt_dml"
    VersionedTable.create(src, dir, "partition_id")
    steps += Step("create", identity, 0, System.currentTimeMillis())
  }

  /** The rows the upserts pick their matched keys from. */
  override def prepare(b: Bench): Unit =
    srcRows = src.orderBy("event_id").collect()

  def round(b: Bench, r: Int): Unit = {
    val spark = b.spark
    val rnd = Data.rng(b.seed, r)
    val id0 = (r + 2).toLong * 1000

    val users = Seq.fill(3)(rnd.nextInt(Data.Users).toLong)
    sql(b, "delete", s"DELETE FROM $t WHERE user_id IN (${users.mkString(", ")})")(
      _.filter(!col("user_id").isin(users: _*)))

    val day = Data.dayId(rnd.nextInt(Data.Days))
    val ty = Data.Types(rnd.nextInt(Data.Types.size))
    sql(b, "update", s"UPDATE $t SET value = value + 1.0D " +
        s"WHERE partition_id = '$day' AND event_type = '$ty'")(
      _.withColumn("value", when(col("partition_id") === day && col("event_type") === ty,
        col("value") + 1.0).otherwise(col("value"))))

    // upsert: 25 existing keys take new values, 25 new keys arrive
    val matched = Seq.fill(25)(srcRows(rnd.nextInt(srcRows.length))).distinct
      .map(row => Row(row.getLong(0), row.get(1), row.getLong(2), row.getString(3),
        Data.value(rnd.nextDouble()), row.getString(5)))
    val upsert = spark.createDataFrame((matched ++ newRows(rnd, 10000000L + id0, 25)).asJava,
      src.schema)
    upsert.createOrReplaceTempView("pb_merge_src")
    sql(b, "merge", s"""MERGE INTO $t tg USING pb_merge_src s
      ON tg.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")(
      _.join(upsert.select("event_id"), Seq("event_id"), "left_anti").unionByName(upsert))

    val inserted = newRows(rnd, 20000000L + id0, 5)
    val values = inserted.map { row =>
      val ts = row.getAs[java.sql.Timestamp](1).toInstant.toString
        .replace('T', ' ').stripSuffix("Z")
      s"(${row.getLong(0)}, TIMESTAMP '$ts', ${row.getLong(2)}, '${row.getString(3)}', " +
        s"${java.math.BigDecimal.valueOf(math.round(row.getDouble(4) * 100), 2)}D, " +
        s"'${row.getString(5)}')"
    }
    val insertDf = spark.createDataFrame(inserted.asJava, src.schema)
    sql(b, "insert", s"INSERT INTO $t VALUES ${values.mkString(", ")}")(
      _.unionByName(insertDf))

    // both subquery forms every round: a user takedown through IN, and a
    // tuple NOT IN keep-set under which one user in four loses one day
    val takedown = Seq.fill(3)(rnd.nextInt(Data.Users).toLong)
    spark.range(1).selectExpr(s"explode(array(${takedown.mkString(", ")})) AS user_id")
      .createOrReplaceTempView("pb_takedown")
    sql(b, "subquery_delete",
      s"DELETE FROM $t WHERE user_id IN (SELECT user_id FROM pb_takedown)")(
      _.filter(!col("user_id").isin(takedown: _*)))
    val k = rnd.nextInt(4)
    val d = Data.dayId(rnd.nextInt(Data.Days))
    spark.range(Data.Users).select(col("id").as("user_id"))
      .crossJoin(spark.createDataFrame(Data.Types.map(Tuple1(_))).toDF("event_type"))
      .filter(pmod(col("user_id") + k, lit(4)) =!= 0)
      .createOrReplaceTempView("pb_keep")
    sql(b, "subquery_delete", s"DELETE FROM $t WHERE (user_id, event_type) NOT IN " +
        s"(SELECT user_id, event_type FROM pb_keep) AND partition_id = '$d'")(
      _.filter(!(col("partition_id") === d && pmod(col("user_id") + k, lit(4)) === 0)))

    val mday = Data.dayId(rnd.nextInt(Data.Days))
    val m = rnd.nextInt(5)
    val pred = col("partition_id") === mday && pmod(col("user_id"), lit(5)) === m
    commit(b, "mor_delete", None)(VersionedTable.deleteMergeOnRead(spark, dir, pred))(
      _.filter(!pred))

    val i = rnd.nextInt(steps.size)
    val u = rnd.nextInt(Data.Users).toLong
    var got = (0L, 0L)
    val vq = s"VERSION AS OF ${steps(i).version}"
    if (b.op("read_version") { got = point(b, vq, u); true }.spanId >= 0) reads += ((i, u, got))
    val j = rnd.nextInt(steps.size)
    val ju = rnd.nextInt(Data.Users).toLong
    val at = java.time.Instant.ofEpochMilli(steps(j).at).toString.replace('T', ' ').stripSuffix("Z")
    if (b.op("read_timestamp") { got = point(b, s"TIMESTAMP AS OF '$at'", ju); true }.spanId >= 0)
      reads += ((j, ju, got))
    var history = 0
    b.op("read_history") { history = spark.sql(s"DESCRIBE HISTORY $t").collect().length; true }
    if (history != steps.last.version + 1) {
      historyMismatches += 1
      Console.err.println(s"DESCRIBE HISTORY: $history rows, ${steps.last.version + 1} versions")
    }
  }

  /** Row count and sum of `value` in cents for one user at a snapshot. */
  private def point(b: Bench, asOf: String, user: Long): (Long, Long) = {
    val r = b.spark.sql(s"SELECT count(*), " +
      s"CAST(sum(CAST(value AS DECIMAL(20,2))) * 100 AS BIGINT) " +
      s"FROM $t $asOf WHERE user_id = $user").head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def newRows(rnd: scala.util.Random, id0: Long, n: Int): Seq[Row] =
    (0 until n).map { i =>
      val us = Data.Day0Us + (rnd.nextDouble() * Data.Days * Data.DayUs).toLong
      val ts = new java.sql.Timestamp(us / 1000)
      ts.setNanos(((us % 1000000) * 1000).toInt)
      Row(id0 + i, ts, rnd.nextInt(Data.Users).toLong,
        Data.Types(rnd.nextInt(Data.Types.size)), Data.value(rnd.nextDouble()),
        Data.dayId(((us - Data.Day0Us) / Data.DayUs).toInt))
    }

  private def sql(b: Bench, op: String, text: String)(model: DataFrame => DataFrame): Unit = {
    val parse = if (b.traced) {
      val t0 = System.nanoTime()
      b.spark.sessionState.sqlParser.parsePlan(text)
      Some((System.nanoTime() - t0) / 1e9)
    } else None
    commit(b, op, parse)(b.spark.sql(text))(model)
  }

  /** Run one statement as a timed op; everything else here is untimed.
    * Traced rounds also record live-file deltas and, for deletes, the
    * bytes added to the table directory and the rows removed.
    */
  private def commit(b: Bench, op: String, parse: Option[Double])(body: => Any)(
      model: DataFrame => DataFrame): Unit = {
    val accounted = b.traced && (op == "mor_delete" || CowDeletes(op))
    val before = if (b.traced) VersionedTable.liveDataFiles(b.spark, dir).toSet else Set.empty[String]
    val rows0 = if (accounted) headRows(b) else 0L
    val bytes0 = if (accounted) dirBytes else 0L
    val s = b.op(op) { body; true }
    steps += Step(op, model, VersionedTable.latestVersion(b.spark, dir),
      System.currentTimeMillis())
    val files = if (b.traced) {
      val after = VersionedTable.liveDataFiles(b.spark, dir).toSet
      Some(((after -- before).size, (before -- after).size))
    } else None
    if (accounted) {
      val kind = if (op == "mor_delete") "mor" else "cow"
      val (bytes, rows) = storage(kind)
      storage(kind) = (bytes + dirBytes - bytes0, rows + rows0 - headRows(b))
    }
    b.amend(s.copy(files = files, parseS = parse))
  }

  private def headRows(b: Bench): Long = VersionedTable.readLatest(b.spark, dir).count()

  /** Bytes of every file under the table directory: data, delete
    * vectors, sidecars and manifests.
    */
  private def dirBytes: Long = {
    val paths = Files.walk(Paths.get(dir))
    try paths.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally paths.close()
  }

  override def extras(b: Bench): Seq[(String, Double, String)] =
    Seq("cow", "mor").filter(storage.contains).map { kind =>
      val (bytes, rows) = storage(kind)
      (s"${kind}_bytes_per_deleted_row", if (rows > 0) bytes.toDouble / rows else Double.NaN,
        "B/row")
    }

  def verify(b: Bench): Boolean = {
    val models = steps.toSeq.scanLeft(src)((df, st) => st.model(df)).tail
    def same(what: String, got: DataFrame, want: DataFrame): Boolean = {
      val (g, w) = (Data.checksum(got), Data.checksum(want))
      if (g != w) Console.err.println(s"$what: engine $g, model $w")
      g == w
    }
    val n = steps.size - 1
    val snapshots = Seq(n / 4, n / 2, 3 * n / 4).filter(_ > 0).distinct.map { i =>
      val v = steps(i).version
      same(s"VERSION AS OF $v", b.spark.sql(s"SELECT * FROM $t VERSION AS OF $v"), models(i))
    }
    val head = same("head", b.spark.sql(s"SELECT * FROM $t"), models(n))
    val points = reads.map { case (i, u, got) =>
      val r = models(i).filter(col("user_id") === u)
        .agg(count(lit(1)), sum(functions.round(col("value") * 100).cast("long"))).head()
      val want = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      if (got != want) Console.err.println(s"read of version ${steps(i).version} " +
        s"user $u: engine $got, model $want")
      got == want
    }
    val ok = head && snapshots.forall(identity) && points.forall(identity) &&
      historyMismatches == 0
    if (!ok) {
      // name the first statement whose version disagrees with the model
      val first = (1 to n).find { i =>
        Data.checksum(b.spark.sql(s"SELECT * FROM $t VERSION AS OF ${steps(i).version}")) !=
          Data.checksum(models(i))
      }
      first.foreach(i => Console.err.println(s"first divergence: statement $i (${steps(i).op})"))
    }
    ok
  }
}

object DmlMixLoad {
  /** Operations that commit, in round order. */
  val Statements: Seq[String] =
    Seq("delete", "update", "merge", "insert", "subquery_delete", "mor_delete")
  val Reads: Seq[String] = Seq("read_version", "read_timestamp", "read_history")
}

/** One logged statement: its model step, the version it left as head, and
  * the wall-clock millis just after it returned.
  */
final case class Step(op: String, model: DataFrame => DataFrame, version: Int, at: Long)
