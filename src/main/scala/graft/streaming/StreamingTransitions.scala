package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Online per-user event-transition stream — the streaming twin of the
  * batch [[graft.operators.Timeseries.transitionMatrix]]: each user's
  * state is ONE value (their last event type), and every arrival emits
  * the (from, to) transition it completes; a downstream aggregation of
  * the emitted stream reproduces the batch matrix counts EXACTLY on
  * the consumed prefix under any micro-batch carving, because arrivals
  * fold in the engine-wide (t, event_id) tie-break order.
  *
  * Scale shape: ONE stateful exchange keyed by user; state is a single
  * string + two longs per user regardless of stream length (the
  * information floor for first-order transitions); output is one row
  * per arrival after the user's first.
  */
object StreamingTransitions {

  /** (last event type, its t, its event_id). */
  case class LastEvent(et: String, t: Long, eventId: Long)

  case class Transition(user_id: Long, from_type: String, to_type: String, t: Long)

  def transitions(
    spark: SparkSession,
    input: DataFrame // (user_id long, channel string, t long µs [, event_id long])
  ): Dataset[Transition] = {
    import spark.implicits._
    val withId = TieBreak.withEventId(
      input,
      col("user_id").cast("long"),
      col("channel"),
      col("t").cast("long")
    )
    withId
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, Transition](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { case (user, rows, state: GroupState[LastEvent]) =>
        var last = state.getOption.orNull
        val out = Vector.newBuilder[Transition]
        rows.toSeq.sortBy(r => (r._3, r._4)).foreach { case (_, et, t, id) =>
          if (last != null) out += Transition(user, last.et, et, t)
          last = LastEvent(et, t, id)
        }
        if (last != null) state.update(last)
        out.result().iterator
      }
  }
}
