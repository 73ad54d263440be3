package graft.validation

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

import graft.catalog.CatalogOps
import graft.core.PartitionHandler
import graft.model.{JobConfig, Metrics}

/** Validation failure — fail the job, trigger recovery
  * (reference: ValidationManager.ValidationException).
  */
final class ValidationException(message: String, cause: Throwable = null)
  extends RuntimeException(message, cause)

/** Pre/post deletion invariants (reference: validation/ValidationManager.java;
  * SURVEY.md §2.7 C9/C10).
  */
final class ValidationManager(spark: SparkSession, config: JobConfig, metrics: Metrics) {
  private val logger = LoggerFactory.getLogger(classOf[ValidationManager])
  private val audit = LoggerFactory.getLogger("AUDIT")
  private val handler = new PartitionHandler(spark, config)
  private val integrity = new DataIntegrityValidator(spark, config)

  /** C9: table exists + partitions exist + criteria re-validate. */
  def validatePreDeletion(partitions: Seq[String]): Unit = {
    logger.info("Starting pre-deletion validation")
    audit.info(s"PRE_VALIDATION_START - Partitions: ${partitions.size}")
    try {
      if (!new CatalogOps(spark).tableExists(config.fullTableName))
        throw new ValidationException(
          s"Table does not exist or is not accessible: ${config.fullTableName}")
      handler.validatePartitionsExist(partitions)
      config.deletionCriteria.validate()
      logger.info("Pre-deletion validation passed")
      audit.info("PRE_VALIDATION_SUCCESS")
    } catch {
      case e: Exception =>
        audit.error(s"PRE_VALIDATION_FAILED - Error: ${e.getMessage}")
        throw new ValidationException("Pre-deletion validation failed", e)
    }
  }

  /** C10: count-tolerance + sampled integrity + zero-matching-remain.
    * Skippable via config (ValidationManager.java:75-78). One
    * [[graft.core.PartitionCensus]] of `partitions` counts for all three
    * checks; only the integrity check's Bernoulli sample scans again.
    *
    * `droppedPartitions` — partitions legitimately removed by the
    * whole-partition fast path; they are excluded from the structure check
    * (fixes the reference's false-negative, SURVEY.md §7.4 / C11 note).
    */
  def validatePostDeletion(
      partitions: Seq[String],
      recordsDeleted: Long,
      recordsRetained: Long,
      droppedPartitions: Set[String] = Set.empty): Unit = {
    if (!config.validationEnabled) {
      logger.info("Post-deletion validation is disabled")
      return
    }
    logger.info("Starting post-deletion validation")
    audit.info(s"POST_VALIDATION_START - Expected deleted: $recordsDeleted, " +
      s"Expected retained: $recordsRetained")
    try {
      val census = handler.census(partitions)
      validateRecordCounts(census.total, recordsRetained)
      val surviving = partitions.filterNot(droppedPartitions.contains)
      val survivors = census.over(surviving)
      if (!integrity.validateIntegrity(surviving, survivors.total))
        throw new ValidationException("Data integrity validation failed")
      validateNoMatchingRecordsRemain(survivors.matching)
      logger.info("Post-deletion validation passed")
      audit.info("POST_VALIDATION_SUCCESS")
      metrics.markValidationPassed(true)
    } catch {
      case e: Exception =>
        audit.error(s"POST_VALIDATION_FAILED - Error: ${e.getMessage}")
        metrics.markValidationPassed(false)
        e match {
          case v: ValidationException => throw v
          case _ => throw new ValidationException("Post-deletion validation failed", e)
        }
    }
  }

  /** Count within `expectedRetained ± tolerance%`
    * (ValidationManager.java:142-163).
    */
  private def validateRecordCounts(actual: Long, expectedRetained: Long): Unit = {
    val tolerance = (expectedRetained * config.validationTolerancePercent / 100.0).toLong
    if (actual < expectedRetained - tolerance || actual > expectedRetained + tolerance)
      throw new ValidationException(
        s"Record count validation failed. Expected: $expectedRetained (±$tolerance), Actual: $actual")
    logger.info(s"Record count validation passed. Expected: $expectedRetained, Actual: $actual")
  }

  /** Zero records still matching the delete predicate
    * (ValidationManager.java:181-194).
    */
  private def validateNoMatchingRecordsRemain(matching: Long): Unit = {
    if (matching > 0)
      throw new ValidationException(
        s"Found $matching records still matching deletion criteria after deletion")
    logger.info("Verified no records matching deletion criteria remain")
  }
}
