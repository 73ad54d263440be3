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
  *     one grouped aggregate shared with the backup check and step 4), so
  *     the write is its only scan.
  *   - **Per-partition branch, not per-batch.** The reference branches on
  *     batch-TOTAL retained: if a batch mixes a fully-emptied partition with
  *     partially-deleted ones, dynamic partition overwrite writes no rows
  *     for the emptied partition and therefore NEVER TOUCHES it — its
  *     doomed rows silently survive (latent reference bug; deliberate fix
  *     per SURVEY.md §7.4 policy "fix the outright bugs"). We decide
  *     drop-vs-rewrite per partition: empty ⇒ metadata drop + directory
  *     delete; partial ⇒ rewrite; untouched (retained == total) ⇒ skipped
  *     entirely (the reference pointlessly rewrites those).
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

  /** C3: entry. Returns records deleted plus the partitions removed by the
    * whole-partition fast path (the post-validation structure check must
    * not expect those to still exist — SURVEY.md §7.4 / C11). `census`
    * is the pre-deletion census of `partitions`.
    */
  def executeDeletion(partitions: Seq[String], census: PartitionCensus): DeletionResult = {
    logger.info(s"Starting deletion execution for ${partitions.size} partitions")
    audit.info(s"DELETION_START - Table: ${config.fullTableName}, " +
      s"Partitions: $partitions, Criteria: ${config.deletionCriteria}")
    val start = System.currentTimeMillis()
    try {
      val result =
        if (config.dryRun) {
          logger.info("DRY RUN MODE - no deletion performed")
          DeletionResult(performDryRun(partitions, census), Set.empty)
        } else performActualDeletion(partitions, census)
      val ms = System.currentTimeMillis() - start
      logger.info(s"Deletion completed. Records deleted: ${result.recordsDeleted}, Duration: $ms ms")
      audit.info(s"DELETION_SUCCESS - Records deleted: ${result.recordsDeleted}, Duration: $ms ms")
      metrics.recordRecordsDeleted(result.recordsDeleted)
      result
    } catch {
      case e: Exception =>
        audit.error(s"DELETION_FAILED - Error: ${e.getMessage}")
        throw new RuntimeException("Failed to execute deletion", e)
    }
  }

  /** C5: dry run — would-delete / would-retain counts, no mutation, read
    * off the census (reference runs two COUNT queries —
    * DeletionExecutor.java:84-96).
    */
  def performDryRun(partitions: Seq[String], census: PartitionCensus): Long = {
    val toDelete = census.matching
    val retained = census.retained
    logger.info(s"DRY RUN RESULTS: delete=$toDelete retain=$retained partitions=$partitions")
    audit.info(s"DRY_RUN - Would delete $toDelete records, retain $retained records")
    toDelete
  }

  private def performActualDeletion(partitions: Seq[String], census: PartitionCensus): DeletionResult = {
    val batchSize = math.min(config.partitionParallelism, math.max(partitions.size, 1))
    val batches = partitions.grouped(batchSize).toSeq
    logger.info(s"Processing ${partitions.size} partitions in ${batches.size} batches")
    batches.zipWithIndex.map { case (batch, i) =>
      logger.info(s"Processing batch ${i + 1}/${batches.size} with ${batch.size} partitions")
      val r = processBatch(batch, census)
      // count PARTITIONS, not batches — the summary metric must agree with
      // the per-partition detail entries
      metrics.incrementPartitionsProcessed(batch.size)
      r
    }.foldLeft(DeletionResult(0, Set.empty))(_ + _)
  }

  /** C4: the deletion kernel for one batch of partitions. */
  private def processBatch(batch: Seq[String], census: PartitionCensus): DeletionResult = {
    val counts = census.over(batch)
    val before = counts.total
    metrics.recordRecordsRead(before)

    // Per-partition decision (see class doc). Partitions absent from the
    // census hold zero rows — nothing to delete or drop.
    val emptied = batch.filter { p => val c = census(p); c.total > 0 && c.retained == 0 }
    val rewritten = batch.filter { p => val c = census(p); c.retained > 0 && c.retained < c.total }
    val untouched = batch.filter(p => census(p).matching == 0)

    val retainedTotal = counts.retained
    metrics.recordRecordsRetained(retainedTotal)
    logger.info(s"Batch: $before records before, $retainedTotal to retain, " +
      s"${before - retainedTotal} to delete " +
      s"(${emptied.size} partitions emptied, ${rewritten.size} rewritten, ${untouched.size} untouched)")

    emptied.foreach(dropPartitionWithData)

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

    batch.foreach(p => metrics.recordPartitionMetric(p, census(p).retained))
    DeletionResult(before - retainedTotal, emptied.toSet)
  }

  /** Whole-partition fast path: location lookup → metastore drop → physical
    * directory delete, strictly in that order (the location is unreadable
    * after the drop; SURVEY.md §7.4). A physical shortcut Spark will not do
    * on its own (SURVEY.md §4.1).
    */
  private def dropPartitionWithData(partition: String): Unit = {
    try {
      val location = catalog.partitionLocation(config.fullTableName, pc, partition)
      catalog.dropPartition(config.fullTableName, pc, partition)
      audit.info(s"PARTITION_DROPPED - Partition: $pc=$partition")
      location.foreach { loc =>
        catalog.deleteDirectory(loc)
        logger.info(s"Deleted partition directory: $loc")
        audit.info(s"DATA_DELETED - Location: $loc")
      }
    } catch {
      case e: Exception =>
        metrics.incrementPartitionsFailed()
        audit.error(s"PARTITION_DELETE_FAILED - Partition: $pc=$partition, Error: ${e.getMessage}")
        throw new RuntimeException(s"Failed to drop partition and delete data: $partition", e)
    }
  }
}
