package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

/** The keyed streaming twins fold same-timestamp rows in
  * (t, event_id) order — the batch tie-break discipline — so a replay
  * with different micro-batch boundaries folds them identically.
  */
private[streaming] object TieBreak {

  /** `keys` followed by `event_id` as a long: the source's own when it
    * has one, else the constant 0L (the convention the batch
    * `withTieBreak` applies to id-less sources).
    */
  def withEventId(input: DataFrame, keys: Column*): DataFrame =
    input.select(
      keys :+ (
        if (input.columns.contains("event_id")) col("event_id").cast("long")
        else lit(0L).as("event_id")
      ): _*
    )
}
