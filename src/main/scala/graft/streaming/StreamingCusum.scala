package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online CUSUM drift alarm — the streaming twin of the batch
  * [[graft.operators.Timeseries.cusumScreen]] (which scans a fixed
  * corpus for the maximum standardized excursion after the fact): the
  * classical one-sided Page recursions
  *
  *   S⁺_t = max(0, S⁺_{t−1} + (x_t − μ₀ − k))
  *   S⁻_t = max(0, S⁻_{t−1} − (x_t − μ₀ + k))
  *
  * against a FIXED reference level μ₀ with slack k, alarming when
  * either side exceeds the decision threshold h — the always-on form a
  * live ingest runs per channel (a recursion over the sample stream,
  * which is exactly what keyed state is for; the batch query instead
  * re-expresses the fold as a distributed prefix sum).
  *
  * Scale shape: ONE stateful exchange on channel; state is four
  * numbers per channel regardless of stream length; each micro-batch
  * folds its partition's samples in event order inside the group
  * iterator. After an alarm the side that fired resets to 0 (standard
  * restart semantics), so repeated drifts re-alarm.
  */
object StreamingCusum {

  case class CusumState(sPos: Double, sNeg: Double, n: Long, alarms: Long)

  /** Per-batch snapshot: current excursions + cumulative alarm count. */
  case class CusumUpdate(
    channel: String,
    n: Long,
    s_pos: Double,
    s_neg: Double,
    alarms: Long,
    alarmed: Boolean
  )

  def alarms(
    spark: SparkSession,
    input: DataFrame, // (channel string, t long, v double)
    mu0: Double,
    k: Double,
    h: Double
  ): Dataset[CusumUpdate] = {
    import spark.implicits._
    require(k >= 0 && h > 0, "slack k must be >= 0 and threshold h > 0")
    // tie-break discipline: the Page recursion is order-sensitive, so
    // same-timestamp samples must fold in the SAME order as the batch
    // twin (cusumScreen sorts by (t, event_id) via withTieBreak) and
    // as any replay with different micro-batch boundaries — carry
    // event_id when the source has one, constant otherwise (the same
    // convention withTieBreak applies to id-less sources)
    val withId = TieBreak.withEventId(
      input,
      col("channel"),
      col("t").cast("long"),
      col("v").cast("double")
    )
    withId
      .as[(String, Long, Double, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[CusumState, CusumUpdate](GroupStateTimeout.NoTimeout) {
        case (channel, rows, state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0.0, 0.0, 0L, 0L))
          var fired = false
          // event order within the batch — the recursion is order-sensitive
          rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, _, v, _) =>
            var sp = math.max(0.0, st.sPos + (v - mu0 - k))
            var sn = math.max(0.0, st.sNeg - (v - mu0 + k))
            var al = st.alarms
            if (sp > h) { al += 1; fired = true; sp = 0.0 }
            if (sn > h) { al += 1; fired = true; sn = 0.0 }
            st = CusumState(sp, sn, st.n + 1L, al)
          }
          state.update(st)
          CusumUpdate(channel, st.n, st.sPos, st.sNeg, st.alarms, fired)
      }
  }
}
