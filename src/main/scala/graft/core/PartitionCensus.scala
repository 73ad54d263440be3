package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{coalesce, lit, struct}

/** Per-partition row counts of one table state: every row, and the rows
  * the delete predicate matches (TRUE only — a NULL predicate result does
  * not match). Taken once per state by [[PartitionCensus.of]], it is the
  * only source of the workflow's record counts: the backup check, the
  * step-4 figures, the drop/rewrite/skip decision, the dry-run plan, the
  * run's `Metrics` and the post-deletion checks all read it instead of
  * scanning the table again.
  *
  * `retained` is exactly `total - matching`, because the rewrite keeps
  * `NOT coalesce(pred, false)` — the complement of the matched rows.
  * Partitions with no rows are absent from `counts` and read as zero.
  * A key is a partition value (Hive) or a spec-value tuple (versioned
  * tables, whose values may themselves contain commas).
  */
final case class PartitionCensus[K](counts: Map[K, PartitionCensus.Counts]) {
  import PartitionCensus.{Action, Counts}

  def apply(key: K): Counts = counts.getOrElse(key, Counts(0, 0))

  /** The census restricted to `keys`. */
  def over(keys: Seq[K]): PartitionCensus[K] =
    PartitionCensus(counts.view.filterKeys(keys.toSet).toMap)

  def map[B](f: K => B): PartitionCensus[B] =
    PartitionCensus(counts.map { case (k, c) => f(k) -> c })

  /** Keys with at least one matching row. */
  def affected: Seq[K] = counts.collect { case (k, c) if c.matching > 0 => k }.toSeq

  /** What a delete does to a partition: drop it when every row matches,
    * rewrite it when some do, skip it when none do (absent ⇒ skip).
    */
  def action(key: K): Action.Value = {
    val c = apply(key)
    if (c.matching == 0) Action.skip else if (c.retained == 0) Action.drop else Action.rewrite
  }

  def total: Long = counts.values.map(_.total).sum
  def matching: Long = counts.values.map(_.matching).sum
  def retained: Long = total - matching
}

object PartitionCensus {
  final case class Counts(total: Long, matching: Long) {
    def retained: Long = total - matching
  }

  object Action extends Enumeration { val drop, rewrite, skip = Value }

  def empty[K]: PartitionCensus[K] = PartitionCensus(Map.empty[K, Counts])

  /** The census of `df` keyed on the string values of `keys`, in ONE job
    * with no exchange: each task folds its rows into a per-key map and
    * the driver sums the per-task maps. Rows stay in Spark's internal
    * form (`queryExecution.toRdd`): the key is one struct value, compared
    * by its bytes against the previous row's (a file's rows share one
    * partition), so a row costs a hash lookup only when its key changes.
    * A grouped aggregate would plan a shuffle that adaptive execution
    * runs as a separate map job before the collect.
    */
  def of(df: DataFrame, keys: Seq[Column], pred: Column): PartitionCensus[Seq[String]] = {
    val n = keys.length
    val rows = df.select(struct(keys.map(_.cast("string")): _*), coalesce(pred, lit(false)))
    val perTask = rows.queryExecution.toRdd.mapPartitions { it =>
      val acc = new java.util.HashMap[InternalRow, Array[Long]]
      var key: InternalRow = null
      var c: Array[Long] = null
      it.foreach { r =>
        val k = r.getStruct(0, n)
        if (c == null || k != key) {
          key = k.copy()
          c = acc.computeIfAbsent(key, _ => Array(0L, 0L))
        }
        c(0) += 1
        if (r.getBoolean(1)) c(1) += 1
      }
      acc.asScala.iterator.map { case (k, c) =>
        ((0 until n).map(i => if (k.isNullAt(i)) null else k.getUTF8String(i).toString): Seq[String]) ->
          Counts(c(0), c(1))
      }
    }.collect()
    PartitionCensus(perTask.groupMapReduce(_._1)(_._2)((a, b) =>
      Counts(a.total + b.total, a.matching + b.matching)))
  }
}
