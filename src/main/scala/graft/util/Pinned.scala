package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** A frame whose rows a local checkpoint pinned in the block manager,
  * with the handle that frees them. `Dataset.unpersist` frees nothing
  * on such a frame: its rows are the blocks of the checkpointed RDD
  * under its plan, not a cached plan, and only that RDD's `unpersist`
  * releases them.
  */
final class Pinned private (val df: DataFrame, rdd: RDD[_]) {

  /** Frees the pinned blocks; `df` cannot be read afterwards. */
  def release(): Unit = rdd.unpersist(blocking = false)
}

object Pinned {

  /** An eager local checkpoint of `df`. */
  def apply(df: DataFrame): Pinned = of(df.localCheckpoint())

  /** The handle of a frame that already is a local checkpoint: its plan
    * is the one `LogicalRDD` over the checkpointed rows.
    */
  def of(checkpointed: DataFrame): Pinned =
    checkpointed.queryExecution.analyzed match {
      case r: LogicalRDD => new Pinned(checkpointed, r.rdd)
      case p => throw new IllegalArgumentException(
        s"not a local checkpoint: the plan is ${p.nodeName}")
    }
}
