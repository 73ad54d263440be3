package graft.core

import org.apache.spark.sql.DataFrame

/** Materialize an intermediate that a plan reads more than once (guide
  * §3.3), with one durability rule for every caller: `localCheckpoint`
  * by default (fast, executor-held blocks — the right local-mode
  * choice), and a RELIABLE checkpoint into [[CheckpointDirConf]] when it
  * is set. On a real cluster a localCheckpoint'd block lost to executor
  * churn fails the query outright (the lineage is truncated, nothing can
  * be recomputed).
  */
object Materialize {
  /** When set on the session, [[once]] checkpoints reliably into this
    * directory (an HDFS path on a real cluster) instead of
    * `localCheckpoint`, at the cost of a filesystem round-trip per call.
    */
  val CheckpointDirConf = "spark.graft.dedup.checkpointDir"

  /** `df` materialized. The reliable path persists BEFORE checkpointing:
    * a reliable checkpoint of an uncached plan runs the materializing
    * action and then RE-EXECUTES the lineage in the checkpoint-write job;
    * with the blocks cached the write reads them, so it stays one compute.
    * The reliable path is always eager; `eager = false` defers only a
    * local checkpoint to the frame's first action.
    */
  def once(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(CheckpointDirConf) match {
      case Some(dir) =>
        spark.sparkContext.setCheckpointDir(dir)
        df.persist()
        val cp = df.checkpoint(eager = true)
        df.unpersist()
        cp
      case None => df.localCheckpoint(eager)
    }
  }
}
