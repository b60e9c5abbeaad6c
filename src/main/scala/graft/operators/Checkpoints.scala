package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Iterative operators (BPE/WordPiece training, label propagation,
  * components, PageRank, BFS rounds) pin each round with an eager
  * `localCheckpoint`, so every round plans against stored blocks
  * instead of the whole lineage. Those blocks belong to the RDD under
  * the checkpoint's `LogicalRDD`, not to the cache manager, so
  * `Dataset.unpersist` leaves them in place and a long-lived driver
  * keeps every superseded round.
  */
object Checkpoints {

  /** Frees the blocks behind an eagerly checkpointed Dataset; a no-op
    * for anything else (a Dataset derived from a checkpoint owns no
    * blocks of its own). Call it only once every Dataset that reads
    * `df` has been materialized.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false): Unit
    case _ =>
  }
}
