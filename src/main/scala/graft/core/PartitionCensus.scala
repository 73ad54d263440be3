package graft.core

/** Per-partition row counts of one table state: every row, and the rows
  * the delete predicate matches (TRUE only — a NULL predicate result does
  * not match). Taken once per state by [[PartitionHandler.census]], it is
  * the only source of the workflow's record counts: the backup check, the
  * step-4 figures, the executor's drop/rewrite/skip decision and the
  * post-deletion checks all read it instead of scanning the table again.
  *
  * `retained` is exactly `total - matching`, because the rewrite keeps
  * `NOT coalesce(pred, false)` — the complement of the matched rows.
  * Partitions with no rows are absent from `counts` and read as zero.
  */
final case class PartitionCensus(counts: Map[String, PartitionCensus.Counts]) {
  import PartitionCensus.Counts

  def apply(partition: String): Counts = counts.getOrElse(partition, Counts(0, 0))

  /** The census restricted to `partitions`. */
  def over(partitions: Seq[String]): PartitionCensus = {
    val keep = partitions.toSet
    PartitionCensus(counts.filter { case (p, _) => keep(p) })
  }

  def total: Long = counts.values.map(_.total).sum
  def matching: Long = counts.values.map(_.matching).sum
  def retained: Long = total - matching
}

object PartitionCensus {
  final case class Counts(total: Long, matching: Long) {
    def retained: Long = total - matching
  }

  val Empty: PartitionCensus = PartitionCensus(Map.empty)
}
