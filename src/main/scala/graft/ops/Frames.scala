package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Releasing what a frame pins in the block manager. */
object Frames {

  /** Free the blocks behind `df`, whether it was persisted or
    * checkpointed: uncache its plan, and unpersist the RDD of its root
    * `LogicalRDD`. The second step is what frees a `localCheckpoint`:
    * `Dataset.unpersist()` and `catalog.clearCache()` only drop cached
    * plans, and a checkpointed frame is a `LogicalRDD` over an RDD that
    * stays in `getPersistentRDDs` until the ContextCleaner finds it
    * unreachable. Only the root is released, so pass the checkpointed
    * frame itself, not a projection of it.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(): Unit
      case _ => ()
    }
  }
}
