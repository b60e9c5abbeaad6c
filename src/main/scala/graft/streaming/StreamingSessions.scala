package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online sessionization — the streaming twin of the batch
  * [[graft.operators.Timeseries.sessionize]] (which re-expresses the
  * session fold as flag + stitched prefix sum): a live ingest keeps ONE
  * open session per user and emits each session the moment a ≥ gap
  * arrival closes it, producing exactly the closed sessions the batch
  * operator would report on the same prefix (the still-open tail
  * session stays in state, by definition not yet reportable).
  *
  * Scale shape: one stateful exchange on user_id; state is four numbers
  * per user regardless of stream length; each micro-batch folds its
  * samples in (t, event_id) order — the batch tie-break discipline —
  * so the emitted session set is invariant to micro-batch carving
  * (spec sweeps three).
  */
object StreamingSessions {

  case class SessionState(sessionIdx: Long, start: Long, lastT: Long, n: Long)

  case class ClosedSession(
    user_id: Long,
    session_id: Long,
    start: Long,
    end: Long,
    n_events: Long,
    duration_us: Long
  )

  def sessions(
    spark: SparkSession,
    input: DataFrame, // (user_id long, t long µs [, event_id long])
    gapUs: Long
  ): Dataset[ClosedSession] = {
    import spark.implicits._
    val withId = TieBreak.withEventId(input, col("user_id").cast("long"), col("t").cast("long"))
    withId
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { case (user, rows, state: GroupState[SessionState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
        var st = state.getOption.orNull
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, t, _) =>
          st match {
            case null =>
              st = SessionState(1L, t, t, 1L)
            case s if t - s.lastT >= gapUs =>
              out += ClosedSession(user, s.sessionIdx, s.start, s.lastT, s.n, s.lastT - s.start)
              st = SessionState(s.sessionIdx + 1L, t, t, 1L)
            case s =>
              st = s.copy(lastT = t, n = s.n + 1L)
          }
        }
        if (st != null) state.update(st)
        out.iterator
      }
  }
}
