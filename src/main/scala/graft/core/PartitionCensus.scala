package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, coalesce, lit}

/** Per-partition row counts of one table state: every row, and the rows
  * the delete predicate matches (TRUE only — a NULL predicate result does
  * not match). Taken once per state by [[PartitionCensus.of]], or by
  * [[PartitionCensus.ofEach]] in the same job as the check that reads
  * that state, it is the only source of the workflow's record counts: the
  * backup check, the step-4 figures, the drop/rewrite/skip decision, the
  * dry-run plan, the run's `Metrics` and the post-deletion checks all read
  * it instead of scanning the table again.
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

  /** One input of [[ofEach]]: a frame, its key columns and the delete
    * predicate.
    */
  type Input = (DataFrame, Seq[Column], Column)

  /** The census of `df` keyed on the string values of `keys`, in ONE job
    * with no exchange (see [[ofEach]]).
    */
  def of(df: DataFrame, keys: Seq[Column], pred: Column): PartitionCensus[Seq[String]] =
    ofEach(Seq((df, keys, pred))).head

  /** One census per input, all from ONE job with no exchange: each input
    * is tagged with its index and the inputs are unioned; each task folds
    * its rows into a per-(tag, key) map and the driver sums the per-task
    * maps. Rows stay in Spark's internal form (`queryExecution.toRdd`):
    * the key is one string array, compared by its bytes against the
    * previous row's (a file's rows share one partition), so a row costs a
    * hash lookup only when its key changes. A grouped aggregate would plan
    * a shuffle that adaptive execution runs as a separate map job before
    * the collect, and a job per input would pay each job's fixed cost
    * again. An input with no keys yields one entry, its total and
    * matching rows, under the empty key.
    */
  def ofEach(inputs: Seq[Input]): Seq[PartitionCensus[Seq[String]]] = {
    val n = inputs.length
    val rows = inputs.zipWithIndex.map { case ((df, keys, pred), i) =>
      df.select(lit(i), array(keys.map(_.cast("string")): _*).cast("array<string>"),
        coalesce(pred, lit(false)))
    }.reduce(_ union _)
    val perTask = rows.queryExecution.toRdd.mapPartitions { it =>
      val acc = Array.fill(n)(new java.util.HashMap[ArrayData, Array[Long]])
      var tag = -1
      var key: ArrayData = null
      var c: Array[Long] = null
      it.foreach { r =>
        val t = r.getInt(0)
        val k = r.getArray(1)
        if (c == null || t != tag || k != key) {
          tag = t
          key = k.copy()
          c = acc(t).computeIfAbsent(key, _ => Array(0L, 0L))
        }
        c(0) += 1
        if (r.getBoolean(2)) c(1) += 1
      }
      acc.iterator.zipWithIndex.flatMap { case (m, t) =>
        m.asScala.iterator.map { case (k, c) =>
          (t, (0 until k.numElements()).map(i =>
            if (k.isNullAt(i)) null else k.getUTF8String(i).toString): Seq[String], Counts(c(0), c(1)))
        }
      }
    }.collect()
    val byTag = perTask.groupBy(_._1)
    (0 until n).map { t =>
      PartitionCensus(byTag.getOrElse(t, Array.empty).groupMapReduce(_._2)(_._3)((a, b) =>
        Counts(a.total + b.total, a.matching + b.matching)))
    }
  }
}
