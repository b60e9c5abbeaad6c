package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online M4 render reduction — the streaming twin of the batch
  * [[graft.operators.Timeseries.m4Downsample]]: a live ingest keeps ONE
  * open bucket of four extremum points per channel and emits the
  * completed M4 row (first/last/min/max) the moment an arrival opens
  * the next bucket — the realtime pixel feed of the reference's live
  * downsample path (server/TimeSeriesFlow.scala realtime messages).
  *
  * Equivalence discipline: each extremum carries its full (t, event_id,
  * v) / (v, t, event_id) tuple and updates by the SAME lexicographic
  * comparison the batch struct min/max uses, with samples folded in
  * (t, event_id) order — so the emitted rows equal the batch rows on
  * every CLOSED bucket under any micro-batch carving (spec sweeps
  * three). State is four tuples + a counter per channel, bounded.
  */
object StreamingM4 {

  case class Pt(t: Long, id: Long, v: Double)

  case class BucketState(
    bkt: Long,
    n: Long,
    first: Pt,
    last: Pt,
    vmin: Pt,
    vmax: Pt
  )

  case class M4Row(
    channel: String,
    bucket: Long,
    n: Long,
    t_first: Long,
    v_first: Double,
    t_last: Long,
    v_last: Double,
    t_min: Long,
    v_min: Double,
    t_max: Long,
    v_max: Double
  )

  // batch struct(t, event_id, v) lexicographic order
  private def firstLt(a: Pt, b: Pt): Boolean =
    a.t < b.t || (a.t == b.t && (a.id < b.id || (a.id == b.id && a.v < b.v)))

  // batch struct(v, t, event_id) lexicographic order
  private def minLt(a: Pt, b: Pt): Boolean =
    a.v < b.v || (a.v == b.v && (a.t < b.t || (a.t == b.t && a.id < b.id)))

  private def emit(channel: String, s: BucketState): M4Row =
    M4Row(
      channel,
      s.bkt,
      s.n,
      s.first.t,
      s.first.v,
      s.last.t,
      s.last.v,
      s.vmin.t,
      s.vmin.v,
      s.vmax.t,
      s.vmax.v
    )

  def reduce(
    spark: SparkSession,
    input: DataFrame, // (channel string, t long µs, v double [, event_id long])
    bucketUs: Long = graft.operators.Timeseries.BucketUs
  ): Dataset[M4Row] = {
    import spark.implicits._
    val withId = TieBreak.withEventId(
      input,
      col("channel"),
      col("t").cast("long"),
      col("v").cast("double")
    )
    withId
      .as[(String, Long, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, M4Row](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { case (channel, rows, state: GroupState[BucketState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[M4Row]
        var st = state.getOption.orNull
        rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, t, v, id) =>
          val bkt = Math.floorDiv(t, bucketUs)
          val p = Pt(t, id, v)
          st match {
            case null =>
              st = BucketState(bkt, 1L, p, p, p, p)
            case s if s.bkt == bkt =>
              st = BucketState(
                bkt,
                s.n + 1L,
                if (firstLt(p, s.first)) p else s.first,
                if (firstLt(s.last, p)) p else s.last,
                if (minLt(p, s.vmin)) p else s.vmin,
                if (minLt(s.vmax, p)) p else s.vmax
              )
            case s =>
              out += emit(channel, s)
              st = BucketState(bkt, 1L, p, p, p, p)
          }
        }
        if (st != null) state.update(st)
        out.iterator
      }
  }
}
