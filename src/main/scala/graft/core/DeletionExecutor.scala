package graft.core

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

import graft.catalog.CatalogOps
import graft.model.{JobConfig, Metrics}

/** Outcome of a deletion run. */
final case class DeletionResult(recordsDeleted: Long, droppedPartitions: Set[String]) {
  def +(o: DeletionResult): DeletionResult =
    DeletionResult(recordsDeleted + o.recordsDeleted, droppedPartitions ++ o.droppedPartitions)
}

/** The deletion "operator": Hive externals have no ACID DELETE, so deletion =
  * rewrite each affected partition with the retained complement, or drop the
  * partition + delete its directory when it empties entirely
  * (reference: deletion/DeletionExecutor.java; SURVEY.md §2.7 C3–C5).
  *
  * Spark-first / scale re-design vs the reference kernel
  * (DeletionExecutor.java:139-230):
  *
  *   - **No count scans of its own.** The reference runs COUNT(*) then
  *     builds the retained scan and counts it again — three full scans of
  *     the batch including the write. The executor takes the workflow's
  *     pre-deletion [[PartitionCensus]] (per-partition total and matching,
  *     one job shared with the backup check and step 4), so the write is
  *     its only scan; the run's record and partition `Metrics` are
  *     [[DeletionWorkflow]]'s, read off the same census.
  *   - **Per-partition branch, not per-batch.** The reference branches on
  *     batch-TOTAL retained: if a batch mixes a fully-emptied partition with
  *     partially-deleted ones, dynamic partition overwrite writes no rows
  *     for the emptied partition and therefore NEVER TOUCHES it — its
  *     doomed rows silently survive (latent reference bug; deliberate fix
  *     per SURVEY.md §7.4 policy "fix the outright bugs"). We decide
  *     drop-vs-rewrite per partition ([[PartitionCensus.action]]): empty ⇒
  *     metadata drop + directory delete; partial ⇒ rewrite; untouched ⇒
  *     skipped entirely (the reference pointlessly rewrites those).
  *   - **No double execution of the retained plan** (§3.2): the retained
  *     DataFrame is executed exactly once, by the write; counts come from
  *     the census.
  *
  * At 100 TB the rewrite cost is proportional to the affected partitions
  * only: partition pruning via `isin` on the partition column reaches the
  * metastore (spark.sql.hive.metastorePartitionPruning) so unaffected
  * partitions are never read, and dynamic partitionOverwriteMode replaces
  * only written partitions.
  */
final class DeletionExecutor(spark: SparkSession, config: JobConfig, metrics: Metrics) {
  private val logger = LoggerFactory.getLogger(classOf[DeletionExecutor])
  private val audit = LoggerFactory.getLogger("AUDIT")
  private val catalog = new CatalogOps(spark)

  private def pc = config.partitionColumn

  /** C3/C4: delete from `partitions` in batches of
    * `partitionParallelism`; `census` is their pre-deletion census. Returns
    * records deleted plus the partitions removed by the whole-partition
    * fast path (the post-validation structure check must not expect those
    * to still exist — SURVEY.md §7.4 / C11).
    */
  def executeDeletion(partitions: Seq[String], census: PartitionCensus[String]): DeletionResult = {
    val batchSize = math.min(config.partitionParallelism, math.max(partitions.size, 1))
    val batches = partitions.grouped(batchSize).toSeq
    logger.info(s"Processing ${partitions.size} partitions in ${batches.size} batches")
    batches.zipWithIndex.map { case (batch, i) =>
      logger.info(s"Processing batch ${i + 1}/${batches.size} with ${batch.size} partitions")
      processBatch(batch, census)
    }.foldLeft(DeletionResult(0, Set.empty))(_ + _)
  }

  /** C4: the deletion kernel for one batch of partitions. */
  private def processBatch(batch: Seq[String], census: PartitionCensus[String]): DeletionResult = {
    // Per-partition decision (see class doc); absent partitions are skipped
    val byAction = batch.groupBy(census.action).withDefaultValue(Nil)
    val emptied = byAction(PartitionCensus.Action.drop)
    val rewritten = byAction(PartitionCensus.Action.rewrite)
    val counts = census.over(batch)
    logger.info(s"Batch: ${counts.total} records before, ${counts.retained} to retain, " +
      s"${counts.matching} to delete (${emptied.size} partitions emptied, " +
      s"${rewritten.size} rewritten, ${byAction(PartitionCensus.Action.skip).size} untouched)")

    dropPartitionsWithData(emptied)

    if (rewritten.nonEmpty) {
      val retain = config.deletionCriteria.retainPredicate.get
      val dataToRetain = spark.table(config.fullTableName)
        .where(col(pc).isin(rewritten: _*))
        .where(retain)
      // insertInto resolves columns POSITIONALLY; spark.table preserves the
      // table's column order (partition column last), so SELECT * order is
      // kept (SURVEY.md §7.4; reference doc TEST_FIX.md: never combine
      // insertInto with partitionBy).
      dataToRetain.write
        .mode(SaveMode.Overwrite)
        .insertInto(config.fullTableName)
      audit.info(s"PARTITIONS_REWRITTEN - ${rewritten.mkString(",")}")
    }

    DeletionResult(counts.matching, emptied.toSet)
  }

  /** Whole-partition fast path for a batch's emptied partitions: one
    * location lookup → one metastore drop → the physical directory
    * deletes, strictly in that order (the locations are unreadable after
    * the drop; SURVEY.md §7.4). A physical shortcut Spark will not do on
    * its own (SURVEY.md §4.1). The metastore calls take the whole set, so
    * their count does not grow with the partitions emptied.
    */
  private def dropPartitionsWithData(partitions: Seq[String]): Unit = if (partitions.nonEmpty) {
    val locations = failingAs(partitions.mkString(",")) {
      val locs = catalog.partitionLocations(config.fullTableName, pc, partitions)
      catalog.dropPartitions(config.fullTableName, pc, partitions)
      locs
    }
    partitions.foreach { p =>
      audit.info(s"PARTITION_DROPPED - Partition: $pc=$p")
      locations.get(p).foreach { loc =>
        failingAs(p)(catalog.deleteDirectory(loc))
        logger.info(s"Deleted partition directory: $loc")
        audit.info(s"DATA_DELETED - Location: $loc")
      }
    }
  }

  private def failingAs[A](partition: String)(body: => A): A =
    try body
    catch {
      case e: Exception =>
        metrics.incrementPartitionsFailed()
        audit.error(s"PARTITION_DELETE_FAILED - Partition: $pc=$partition, Error: ${e.getMessage}")
        throw new RuntimeException(s"Failed to drop partition and delete data: $partition", e)
    }
}
