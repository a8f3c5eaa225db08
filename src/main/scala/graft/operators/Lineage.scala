package graft.operators

import org.apache.spark.sql.DataFrame

/** Materialize-once for frames that more than one action reads. */
private[graft] object Lineage {

  /** Eager lineage cut: the frame is computed once, NOW, and the
    * returned frame is a leaf over the stored rows, so every later
    * action reads the snapshot instead of re-running the lineage.
    * RELIABLE `checkpoint()` when the session has a checkpoint dir
    * (cluster deployments — survives executor loss), `localCheckpoint`
    * otherwise (single-node: no replication or DFS round-trip; loss
    * fails the deterministic job, which is re-run). Nothing is
    * registered in the CacheManager: local-checkpoint blocks are
    * reclaimed by ContextCleaner once the returned frame is
    * unreachable, so there is nothing for the caller to unpersist. */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
