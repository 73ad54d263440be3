package graft.validation

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.catalog.CatalogOps
import graft.core.PartitionCensus
import graft.model.JobConfig

/** Sampling-based post-deletion integrity check (reference:
  * validation/DataIntegrityValidator.java; SURVEY.md §2.7 C11):
  * Bernoulli-sample the retained rows, assert none match the delete
  * predicate, assert the surviving partitions still exist in the catalog.
  *
  * Spark-first deltas:
  *   - the predicate is applied as a composed `Column` directly on the
  *     sampled DataFrame — the reference's temp-view + SQL COUNT detour
  *     (DataIntegrityValidator.java:101-117) is unnecessary;
  *   - the validator plans the sample ([[sample]]) and the caller counts
  *     its matching rows in the same job as its post-deletion census, so
  *     the check adds no Spark job of its own. The fraction is sized from
  *     the expected survivor count, because the census total is not known
  *     while the job is planned;
  *   - the caller passes only partitions that still exist (the reference
  *     checks structure for legitimately dropped partitions too — a false
  *     negative we fix at the call site, SURVEY.md §7.4), and the
  *     structure check reads one partition listing for all of them.
  */
final class DataIntegrityValidator(spark: SparkSession, config: JobConfig) {
  private val logger = LoggerFactory.getLogger(classOf[DataIntegrityValidator])

  /** O1: the census input of the check — a Bernoulli sample without
    * replacement of `partitions`, fraction sized so the expected sample ≈
    * validationSampleSize when they hold `expected` rows; full data when
    * small (DataIntegrityValidator.java:82-96). None when there is nothing
    * to sample or no predicate to check.
    */
  def sample(partitions: Seq[String], expected: Long): Option[PartitionCensus.Input] =
    for (pred <- config.deletionCriteria.deletePredicate if partitions.nonEmpty) yield {
      val data = spark.table(config.fullTableName)
        .where(col(config.partitionColumn).isin(partitions: _*))
      val cap = config.validationSampleSize
      val sampled =
        if (expected <= cap) data
        else data.sample(withReplacement = false, cap.toDouble / expected)
      (sampled, Nil, pred)
    }

  /** `total` is the row count of `partitions`; `sampledMatching` is the
    * number of [[sample]]'s rows that match the delete predicate.
    */
  def validateIntegrity(partitions: Seq[String], total: Long, sampledMatching: Long): Boolean = {
    logger.info("Starting data integrity validation")
    if (partitions.isEmpty) {
      logger.info("No surviving partitions to validate (all records deleted)")
      return true
    }
    try {
      // emptiness comes from the caller's count — an isEmpty probe here
      // would re-scan every surviving partition
      if (total == 0) {
        logger.info("No data to validate (all records deleted)")
        return true
      }
      if (sampledMatching > 0) {
        logger.error(s"Found $sampledMatching sampled records matching deletion criteria")
        return false
      }
      if (!verifyPartitionStructure(partitions)) return false
      logger.info("Data integrity validation passed")
      true
    } catch {
      case e: Exception =>
        logger.error(s"Error during data integrity validation: ${e.getMessage}")
        false
    }
  }

  /** Partition existence, from one catalog listing for all partitions —
    * metadata-only, no data scan.
    */
  private def verifyPartitionStructure(partitions: Seq[String]): Boolean = {
    val existing = new CatalogOps(spark).listPartitions(config.fullTableName).toSet
    partitions.forall { p =>
      val ok = existing.contains(p)
      if (!ok) logger.error(s"Partition structure validation failed for: $p")
      ok
    }
  }
}
