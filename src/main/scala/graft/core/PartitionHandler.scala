package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.catalog.CatalogOps
import graft.model.JobConfig
import graft.partition.PartitionId

/** Partition discovery, pruning, and counting (reference:
  * deletion/PartitionHandler.java; SURVEY.md §2.7 C1/C2).
  *
  * Scale re-design: the reference probes each candidate partition with its
  * own serial `SELECT COUNT(*)` job (PartitionHandler.java:102-123) — at
  * thousands of partitions that is thousands of sequential Spark jobs. We
  * replace the N probes with ONE grouped aggregation over all candidates
  * (`groupBy(partitionColumn).count()` under the delete predicate): a single
  * scan with map-side partial aggregation, no meaningful shuffle (one row
  * per partition). The reference's per-partition error conservatism
  * ("on probe error include the partition", PartitionHandler.java:118-122)
  * becomes whole-probe conservatism: if the grouped probe fails we include
  * every candidate — a strict superset, still safe.
  */
final class PartitionHandler(spark: SparkSession, config: JobConfig) {
  private val logger = LoggerFactory.getLogger(classOf[PartitionHandler])
  private val catalog = new CatalogOps(spark)

  private def table: DataFrame = spark.table(config.fullTableName)
  private def pc = config.partitionColumn

  /** C1: partitions that contain at least one record matching the deletion
    * criteria. Empty result short-circuits the whole job
    * (HiveTableDeletionJob.java:103-106).
    */
  def identifyAffectedPartitions(): Seq[String] = {
    val all = catalog.listPartitions(config.fullTableName)
    logger.info(s"Total partitions in table: ${all.size}")

    val candidates = filterByDateRange(all)
    logger.info(s"Partitions after date range filter: ${candidates.size}")
    if (candidates.isEmpty) return Seq.empty

    val affected = config.deletionCriteria.deletePredicate match {
      case None => candidates // no criteria ⇒ nothing to probe (validate() prevents this)
      case Some(pred) =>
        try {
          val matched = table
            .where(col(pc).isin(candidates: _*))
            .where(pred)
            .groupBy(col(pc))
            .count()
            .collect()
            .map(_.getString(0))
            .toSet
          candidates.filter(matched.contains)
        } catch {
          // a malformed predicate (typo'd column, bad syntax) is permanent:
          // every later step would hit it again — fail NOW, before the
          // conservative fallback triggers a full backup of all candidates
          // followed by a guaranteed failure + full restore
          case e: org.apache.spark.sql.AnalysisException =>
            logger.error(s"Deletion predicate failed analysis: ${e.getMessage}")
            throw e
          case e: Exception =>
            // transient probe failure: include everything rather than miss
            // a partition — a strict superset, still safe
            logger.error(s"Partition probe failed, conservatively including all candidates: ${e.getMessage}")
            candidates
        }
    }
    if (affected.isEmpty) logger.warn("No partitions match the deletion criteria")
    else logger.info(s"Affected partitions: ${affected.size}")
    affected
  }

  /** C2: coarse driver-side prune by the partition-ID naming convention —
    * knowledge Catalyst cannot have (SURVEY.md §4.1). Any parse/filter
    * error falls back to ALL partitions (PartitionHandler.java:94-96).
    */
  def filterByDateRange(all: Seq[String]): Seq[String] = {
    val crit = config.deletionCriteria
    if (crit.startTime.isEmpty && crit.endTime.isEmpty) all
    else
      try {
        // derive prune dates from the INSTANT in UTC — the same frame the
        // predicate (an instant comparison under session timeZone=UTC) and
        // the partition-ID date convention use. Timestamp.toLocalDateTime
        // would re-render the instant in the driver JVM's default zone and
        // disagree with both on any non-UTC host.
        def utcLdt(t: java.sql.Timestamp): java.time.LocalDateTime =
          t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
        PartitionId.filterByDateRange(
          all,
          crit.startTime.map(utcLdt(_).toLocalDate),
          // end is exclusive over *timestamps*; a partition whose date equals
          // the end date may still hold rows strictly before the end instant,
          // so include the end day unless the cutoff is exactly midnight.
          crit.endTime.map { e =>
            val ldt = utcLdt(e)
            if (ldt.toLocalTime == java.time.LocalTime.MIDNIGHT) ldt.toLocalDate
            else ldt.toLocalDate.plusDays(1)
          }
        )
      }
      catch {
        case e: Exception =>
          logger.warn(s"Error filtering by date range, using all partitions: ${e.getMessage}")
          all
      }
  }

  /** Reference: validatePartitionsExist, PartitionHandler.java:131-141. */
  def validatePartitionsExist(partitions: Seq[String]): Unit = {
    val all = catalog.listPartitions(config.fullTableName).toSet
    partitions.find(!all.contains(_)).foreach { missing =>
      throw new IllegalArgumentException(s"Partition does not exist: $missing")
    }
    logger.info(s"All ${partitions.size} partitions validated successfully")
  }

  /** A1: the [[PartitionCensus]] of the given partitions — one grouped
    * aggregate, `count(1)` and `count(when(deletePredicate, 1))` per
    * partition, in a single partition-pruned scan.
    */
  def census(partitions: Seq[String]): PartitionCensus =
    if (partitions.isEmpty) PartitionCensus.Empty
    else {
      val pred = config.deletionCriteria.deletePredicate
        .getOrElse(throw new IllegalStateException("Deletion criteria is empty"))
      PartitionCensus(table
        .where(col(pc).isin(partitions: _*))
        .groupBy(col(pc))
        .agg(count(lit(1)), count(when(pred, 1)))
        .collect()
        .map(r => r.getString(0) -> PartitionCensus.Counts(r.getLong(1), r.getLong(2)))
        .toMap)
    }
}
