package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-in for the sf0.1 `events` table, generated in Spark from
  * the seed alone so the benchmark needs no input files. It follows the
  * reference table's shape (compare_events.py measures both; the README
  * lists the figures): 100,000 rows at microsecond times over 30 days,
  * `event_id` rising with `ts`, 1,500 users and the five event types
  * drawn uniformly, and `value` exponential with mean 50 at two decimals.
  * Like the legacy workflow bench's fixture it leaves out the `props`
  * column and adds `partition_id`, the `yyyyMMdd` day of `ts`.
  */
object Data {
  val Days = 30
  val Users = 1500
  val Types: Seq[String] = Seq("click", "view", "purchase", "signup", "error")
  val BaseRows = 100000L
  val MeanValue = 50.0
  /** 2024-01-01T00:00:00Z in epoch micros. */
  val Day0Us = 1704067200000000L
  val DayUs = 86400L * 1000000L
  val Columns: Seq[String] =
    Seq("event_id", "ts", "user_id", "event_type", "value", "partition_id")

  private def h(seed: Long, id: Column, k: Int): Column =
    xxhash64(lit(seed), id, lit(k))

  /** A seeded uniform draw in [0, 1). */
  private def u(seed: Long, id: Column, k: Int): Column =
    pmod(h(seed, id, k), lit(1L << 53)) / (1L << 53).toDouble

  /** An event value from a uniform draw: exponential, two decimals. */
  def value(u: Double): Double = math.round(-MeanValue * math.log1p(-u) * 100) / 100.0

  /** `BaseRows` events copied `replicas` times. Copy r shifts event_id by
    * a seeded offset inside [2rn, 2rn + n), so the copies never collide.
    * Each copy is one Spark partition, as one read of the reference file
    * is, so a table written from it holds one file per day and copy.
    */
  def events(spark: SparkSession, seed: Long, replicas: Int = 1): DataFrame = {
    val n = BaseRows
    val spanUs = Days * DayUs
    val base = col("base")
    spark.range(0, replicas * n, 1, replicas)
      .select((col("id") % n).as("base"), expr(s"id div $n").as("copy"))
      .select(
        (base + col("copy") * (2 * n) + pmod(h(seed, col("copy"), 5), lit(n))).as("event_id"),
        // one event per n-th of the span, at a seeded point inside it
        ((base + u(seed, base, 1)) * (spanUs.toDouble / n)).cast("long").as("off_us"),
        pmod(h(seed, base, 2), lit(Users.toLong)).as("user_id"),
        element_at(array(Types.map(lit): _*),
          (pmod(h(seed, base, 3), lit(Types.size.toLong)) + 1).cast("int")).as("event_type"),
        round(-lit(MeanValue) * log1p(-u(seed, base, 4)), 2).as("value"))
      .select(col("event_id"),
        timestamp_micros(lit(Day0Us) + col("off_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        date_format(timestamp_micros(lit(Day0Us) + col("off_us")), "yyyyMMdd")
          .as("partition_id"))
  }

  /** A generator for one use of the seed. `java.util.Random` alone maps
    * neighbouring seeds to the same first draws; SplittableRandom mixes
    * the seed first.
    */
  def rng(seed: Long, stream: Long = 0): scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed * 1000003L + stream).nextLong())

  def dayId(day: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  def dayStart(day: Int): java.sql.Timestamp =
    new java.sql.Timestamp((Day0Us + day * DayUs) / 1000L)

  /** Order-independent content checksum: row count and the exact sum of
    * `xxhash64` over the named columns, per partition.
    */
  def checksums(df: DataFrame): Map[String, (Long, BigDecimal)] =
    df.groupBy("partition_id")
      .agg(count(lit(1)), sum(xxhash64(Columns.map(col): _*)
        .cast("decimal(38,0)")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap

  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(Columns.map(col): _*)
      .cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
