package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative fixpoints (pagerank, label
  * propagation, k-core, HyperBall, BPE): every `every`-th generation of
  * the loop state is CHECKPOINTED — its physical result becomes the new
  * plan root — so the analyzed plan stays bounded no matter how many
  * rounds run. Per-round `persist` alone caches execution but the
  * logical plan still deepens by one join+agg per round; past a few
  * dozen rounds analysis/optimization time (and for self-joining loops,
  * plan SIZE) dominates.
  *
  * `every = 0` disables truncation entirely — the default for the
  * shallow fixed-iteration configurations the gate queries run, whose
  * 2-3-round plans do not need it and should not pay the materialization.
  *
  * Checkpoint flavor follows [[graft.ops.Dedup.connectedComponents]]'s
  * contract: if the session has a RELIABLE checkpoint directory
  * configured (`SparkContext.setCheckpointDir` — the cluster deployment
  * mode, survives executor loss), rounds use `checkpoint(eager = true)`;
  * otherwise `localCheckpoint(eager = true)` (executor-block storage —
  * fine single-node, lost on executor churn); see
  * [[Truncator.checkpoint]]. The superseded generation is freed as soon
  * as its successor is materialized — its local blocks or its reliable
  * files — so at most two generations are ever held; the final one is
  * the caller's (reliable files are reclaimed by
  * `spark.cleaner.referenceTracking.cleanCheckpoints` or by deleting the
  * UUID subdir after the result is consumed). Freeing goes through the
  * checkpointed plan's underlying RDD: `Dataset.unpersist` is a
  * CacheManager call, and a localCheckpoint-backed Dataset was never
  * registered there (localCheckpoint persists the internal RDD
  * directly), so the Dataset-level call alone would leave the
  * MEMORY_AND_DISK blocks to the ContextCleaner's GC-driven reclaim.
  *
  * `eagerFree = false` DISABLES that eager reclaim: superseded
  * generations keep their blocks until the ContextCleaner garbage-
  * collects the RDDs. This is REQUIRED for loops that capture per-round
  * DERIVED frames consumed after the loop (the HyperBall per-radius
  * estimate tables): a checkpointed generation's lineage is truncated,
  * so freeing its blocks while a later lazy plan still references them
  * is an unrecoverable use-after-free
  * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), not a recompute. Last-state-only
  * loops (pagerank, LPA, k-core, CC, BPE) keep the default eager free.
  */
final class Truncator(every: Int, eagerFree: Boolean = true) {
  require(every >= 0, s"checkpointEvery must be >= 0 (0 = off), got $every")

  private var round = 0
  private var prev: Option[DataFrame] = None

  /** Pass the new generation of loop state through: on truncation rounds
    * returns the checkpointed (lineage-free) frame; otherwise
    * `orElse(df)` — the hook for loops that persist their non-truncated
    * generations (pass `Caches.persist`). Must be called exactly once
    * per round so the counter tracks the loop.
    */
  def apply(df: DataFrame,
      orElse: DataFrame => DataFrame = identity): DataFrame = {
    round += 1
    if (every > 0 && round % every == 0) {
      val cp = Truncator.checkpoint(df,
        reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      if (eagerFree) prev.foreach(Truncator.free)
      prev = Some(cp)
      cp
    } else orElse(df)
  }
}

object Truncator {

  /** The one checkpoint call of the fixpoint loops: a RELIABLE
    * `checkpoint` into the SparkContext's checkpoint dir when `reliable`,
    * else an executor-local `localCheckpoint`. Eager in both flavors: the
    * state must materialize BEFORE the superseded generation is freed.
    */
  def checkpoint(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Drop a superseded checkpoint generation's storage NOW. The plan of a
    * checkpointed Dataset is a single `LogicalRDD` leaf over the
    * checkpointed RDD. For a localCheckpoint that RDD holds the persisted
    * blocks, so `rdd.unpersist` is the call that actually releases them;
    * for a reliable checkpoint the RDD names its own files
    * (`getCheckpointFile`), which are deleted. The Dataset-level
    * unpersist stays as a belt-and-braces CacheManager sweep for loops
    * that also `persist` their generations.
    */
  def free(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { f =>
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
      case _ => ()
    }
  }
}
