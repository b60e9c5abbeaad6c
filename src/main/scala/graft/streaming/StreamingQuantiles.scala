package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Online per-channel quantile tracking via the P² algorithm (Jain &
  * Chlamtac, "The P² algorithm for dynamic calculation of quantiles
  * and histograms without storing observations", CACM 1985) — the
  * streaming counterpart of the batch
  * [[graft.operators.Timeseries.channelQuantiles]] /
  * `channelQuantilesApprox` pair: each tracked quantile holds exactly
  * FIVE markers (height + position + desired position), adjusted per
  * arrival by a parabolic (fallback linear) interpolation, so state
  * per (channel, quantile) is 15 numbers for an unbounded stream —
  * the information floor the GK sketch trades against.
  *
  * Determinism: arrivals fold in (t, event_id) order — the engine-wide
  * tie-break discipline — and the P² recursion is a pure function of
  * that total order, so snapshots are identical under ANY micro-batch
  * carving (spec sweeps three). Accuracy is distributional (the 1985
  * paper's experiments: ~O(1%) on smooth distributions); the spec
  * bounds it against the exact sample quantile on a planted stream.
  *
  * Scale shape: ONE stateful exchange keyed by channel; per-channel
  * work is O(#quantiles) per arrival, state O(#quantiles), output one
  * snapshot row per (channel, quantile) per micro-batch.
  */
object StreamingQuantiles {

  val DefaultPs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** One P² tracker: five marker heights q, integer positions n,
    * desired positions np; `init` buffers the first five samples.
    */
  case class Tracker(
    p: Double,
    init: Vector[Double],
    q: Vector[Double],
    n: Vector[Long],
    np: Vector[Double]
  )

  case class QState(trackers: Vector[Tracker])

  case class QuantileUpdate(channel: String, p: Double, n: Long, estimate: Double)

  private def newTracker(p: Double): Tracker =
    Tracker(p, Vector.empty, Vector.empty, Vector.empty, Vector.empty)

  /** One P² step (Jain & Chlamtac Box 1, literally). */
  private def step(t: Tracker, x: Double): Tracker = {
    if (t.q.isEmpty) {
      val buf = t.init :+ x
      if (buf.length < 5) t.copy(init = buf)
      else {
        val sorted = buf.sorted
        t.copy(
          init = Vector.empty,
          q = sorted,
          n = Vector(1L, 2L, 3L, 4L, 5L),
          np = Vector(1.0, 1.0 + 2.0 * t.p, 1.0 + 4.0 * t.p, 3.0 + 2.0 * t.p, 5.0)
        )
      }
    } else {
      var q = t.q.toArray
      var n = t.n.toArray
      val np = t.np.toArray
      // cell containing x (clamping the extreme markers to x)
      val k =
        if (x < q(0)) { q(0) = x; 0 }
        else if (x >= q(4)) { q(4) = x; 3 }
        else {
          var i = 0
          while (!(x >= q(i) && x < q(i + 1))) i += 1
          i
        }
      var i = k + 1
      while (i < 5) { n(i) += 1L; i += 1 }
      val dnp = Array(0.0, t.p / 2.0, t.p, (1.0 + t.p) / 2.0, 1.0)
      i = 0
      while (i < 5) { np(i) += dnp(i); i += 1 }
      // adjust the three middle markers
      i = 1
      while (i <= 3) {
        val d = np(i) - n(i)
        if ((d >= 1.0 && n(i + 1) - n(i) > 1L) || (d <= -1.0 && n(i - 1) - n(i) < -1L)) {
          val di = math.signum(d)
          val qp = q(i) + di / (n(i + 1) - n(i - 1)) * (
            (n(i) - n(i - 1) + di) * (q(i + 1) - q(i)) / (n(i + 1) - n(i)) +
              (n(i + 1) - n(i) - di) * (q(i) - q(i - 1)) / (n(i) - n(i - 1))
          )
          q(i) =
            if (q(i - 1) < qp && qp < q(i + 1)) qp
            else q(i) + di * (q((i + di).toInt) - q(i)) / (n((i + di).toInt) - n(i))
          n(i) += di.toLong
        }
        i += 1
      }
      t.copy(q = q.toVector, n = n.toVector, np = np.toVector)
    }
  }

  private def snapshot(channel: String, t: Tracker): QuantileUpdate =
    if (t.q.nonEmpty) QuantileUpdate(channel, t.p, t.n(4), t.q(2))
    else {
      // fewer than five samples: exact discrete quantile of the buffer
      // at index floor(p*(n-1)) — the batch ts_bands convention
      val s = t.init.sorted
      val est = if (s.isEmpty) Double.NaN else s(math.floor(t.p * (s.length - 1)).toInt)
      QuantileUpdate(channel, t.p, s.length.toLong, est)
    }

  def track(
    spark: SparkSession,
    input: DataFrame, // (channel string, t long µs, v double [, event_id long])
    ps: Seq[Double] = DefaultPs
  ): Dataset[QuantileUpdate] = {
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
      .flatMapGroupsWithState[QState, QuantileUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout
      ) { case (channel, rows, state: GroupState[QState]) =>
        var trackers = state.getOption.map(_.trackers).getOrElse(ps.map(newTracker).toVector)
        rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, _, v, _) =>
          trackers = trackers.map(step(_, v))
        }
        state.update(QState(trackers))
        trackers.map(snapshot(channel, _)).iterator
      }
  }
}
