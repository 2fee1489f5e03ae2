package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Tracked eager localCheckpoints for iterative operators.
  *
  * Iterative join/aggregate operators (PageRank, label-propagation
  * components) must cut lineage every round — self-referencing plans
  * otherwise re-analyze exponentially — but `Dataset.localCheckpoint`
  * returns no handle to the RDD it materializes, and
  * `spark.catalog.clearCache()` does NOT free RDD-level checkpoint
  * blocks. Checkpointing N rounds therefore parks O(rows × N) blocks in
  * the BlockManager until LRU eviction: monotonic storage-memory growth
  * on any long-running session — the genuine scale-killer at 100 TB.
  *
  * [[checkpointTracked]] takes the checkpointed RDD from the frame it
  * returns — the plan of an eager localCheckpoint is a `LogicalRDD`
  * over exactly the RDD whose blocks it persisted — so the caller gets
  * a release thunk that unpersists that RDD and nothing else, whatever
  * other threads persist on the same session meanwhile. Iterative
  * operators release round N−1 as soon as round N has materialized (the
  * newer checkpoint no longer references the older one), keeping live
  * checkpoint storage at O(rows), not O(rows × rounds).
  */
object Lineage {

  /** Eagerly localCheckpoint `df`; returns the checkpointed frame plus a
    * release thunk that unpersists the checkpoint's storage blocks.
    *
    * A localCheckpoint TRUNCATES lineage: after release() the frame
    * cannot be recomputed, so release a round only once every
    * downstream consumer has either materialized its own checkpoint or
    * finished its action.
    */
  def checkpointTracked(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint(true)
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    (cp, () => { rdd.unpersist(false); () })
  }
}
