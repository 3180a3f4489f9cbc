package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of checkpointed frames. An operator that returns a
  * `localCheckpoint`ed frame ([[Incremental.runIncremental]],
  * [[ScaleOps.dhashHammingClusters]]) leaves its blocks on the executors,
  * and the caller owns them. `Dataset.unpersist()` does not free them: it
  * drops cache-manager entries only, and a local checkpoint's blocks belong
  * to the RDD under the frame's `LogicalRDD`. Without [[release]] they stay
  * held until a GC lets the ContextCleaner find them.
  */
object Checkpoints {

  /** Unpersists the RDD of every `LogicalRDD` under `df`'s plan. A frame
    * derived from a checkpoint releases that checkpoint too, so call it once
    * no frame over the same checkpoint is still needed.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
