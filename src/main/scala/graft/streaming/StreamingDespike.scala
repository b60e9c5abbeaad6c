package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online Hampel despiker — the streaming twin of the batch
  * [[graft.operators.Timeseries.hampel]] screen (which classifies each
  * sample against its ±k-row neighborhood's median/MAD): a live ingest
  * classifies with a k-SAMPLE DELAY, holding each sample until k newer
  * ones have arrived so its centered window is complete — the standard
  * way a centered filter goes online (identical decisions, bounded
  * latency), matching the realtime artifact-rejection role of the
  * reference's streaming filter path.
  *
  * Scale shape: ONE stateful exchange on channel; state is a ring of
  * exactly 2k+1 (t, event_id, v) tuples per channel REGARDLESS of
  * stream length or micro-batch carving; each micro-batch folds its
  * samples in (t, event_id) order — the batch tie-break discipline —
  * so a replay with different batch boundaries emits the identical
  * outlier stream (spec-asserted against the batch operator).
  */
object StreamingDespike {

  case class Sample(t: Long, eventId: Long, v: Double)
  case class DespikeState(buf: List[Sample])
  case class Outlier(
    channel: String,
    t: Long,
    event_id: Long,
    v: Double,
    v_med: Double,
    v_mad: Double
  )

  /** Append-mode outlier stream over (channel, t, v[, event_id]). */
  def outliers(
    spark: SparkSession,
    input: DataFrame,
    k: Int = 5,
    nSigma: Double = 3.0
  ): Dataset[Outlier] = {
    import spark.implicits._
    require(k > 0, s"window half-width k must be positive, got $k")
    val withId = TieBreak.withEventId(
      input,
      col("channel"),
      col("t").cast("long"),
      col("v").cast("double")
    )
    withId
      .as[(String, Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DespikeState, Outlier](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { case (channel, rows, state: GroupState[DespikeState]) =>
        var buf = state.getOption.map(_.buf).getOrElse(Nil)
        val out = scala.collection.mutable.ArrayBuffer.empty[Outlier]
        // (t, event_id) fold order — same discipline as the batch twin
        rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, t, v, id) =>
          buf = buf :+ Sample(t, id, v)
          if (buf.length == 2 * k + 1) {
            val center = buf(k)
            val vals = buf.map(_.v).sorted
            val med = vals(k)
            val dev = buf.map(s => math.abs(s.v - med)).sorted
            val mad = dev(k)
            if (math.abs(center.v - med) > nSigma * (1.4826 * mad))
              out += Outlier(channel, center.t, center.eventId, center.v, med, mad)
            buf = buf.tail // ring: drop the oldest, keep 2k for the next center
          }
        }
        state.update(DespikeState(buf))
        out.iterator
      }
  }
}
