package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

private[graft] object Checkpoints {

  /** Drop the blocks of every local checkpoint `df` reads, now and
    * irrecoverably: call it only once nothing will read them again.
    * `Dataset.unpersist` only reaches the CacheManager, which never holds
    * a checkpoint, so it would leave them until the driver GC collects
    * the RDD. Walks the plan, so a projection over a checkpoint frees it
    * too. */
  def release(df: DataFrame): Unit = df.queryExecution.logical.foreach {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
