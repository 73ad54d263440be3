package graft.validation

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.catalog.CatalogOps
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
  *   - the sample fraction is sized from the row count the caller's
  *     post-deletion census already holds, so the violation count over
  *     the sample is the only Spark action; the caller passes only
  *     partitions that still exist (the reference checks structure for
  *     legitimately dropped partitions too — a false negative we fix at
  *     the call site, SURVEY.md §7.4).
  */
final class DataIntegrityValidator(spark: SparkSession, config: JobConfig) {
  private val logger = LoggerFactory.getLogger(classOf[DataIntegrityValidator])

  /** `total` is the row count of `partitions`. */
  def validateIntegrity(partitions: Seq[String], total: Long): Boolean = {
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
      if (!verifyNoMatchingRecords(sampleRetainedData(partitions, total))) return false
      if (!verifyPartitionStructure(partitions)) return false
      logger.info("Data integrity validation passed")
      true
    } catch {
      case e: Exception =>
        logger.error(s"Error during data integrity validation: ${e.getMessage}")
        false
    }
  }

  /** O1: Bernoulli sample without replacement, fraction sized so the
    * expected sample ≈ validationSampleSize; full data when small
    * (DataIntegrityValidator.java:82-96).
    */
  private def sampleRetainedData(partitions: Seq[String], total: Long): DataFrame = {
    val data = spark.table(config.fullTableName)
      .where(col(config.partitionColumn).isin(partitions: _*))
    val cap = config.validationSampleSize
    if (total <= cap) data
    else data.sample(withReplacement = false, cap.toDouble / total)
  }

  private def verifyNoMatchingRecords(sampled: DataFrame): Boolean = {
    val pred = config.deletionCriteria.deletePredicate
      .getOrElse(return true)
    val matching = sampled.where(pred).count()
    if (matching > 0) {
      logger.error(s"Found $matching sampled records matching deletion criteria")
      false
    } else true
  }

  /** D2-based partition existence probe, one catalog call per partition —
    * metadata-only, no data scan.
    */
  private def verifyPartitionStructure(partitions: Seq[String]): Boolean = {
    val catalog = new CatalogOps(spark)
    partitions.forall { p =>
      val ok = catalog.partitionExists(config.fullTableName, config.partitionColumn, p)
      if (!ok) logger.error(s"Partition structure validation failed for: $p")
      ok
    }
  }
}
