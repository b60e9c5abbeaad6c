package graft.streaming

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Online per-channel OLS trend — the streaming twin of the batch
  * [[graft.operators.Timeseries.olsForecast]]: a live ingest keeps the
  * five OLS moments (n, Σx, Σy, Σxy, Σx²) over CLOSED hourly buckets
  * plus one open-bucket accumulator, and each micro-batch snapshot
  * reports the fit and the one-bucket-ahead prediction over everything
  * seen so far — exactly what the batch operator would compute on the
  * same prefix.
  *
  * Equivalence discipline (same contract as StreamingCusum /
  * StreamingDespike): every sum the batch plan routes through
  * DECIMAL(27,10) is reproduced here as an exact BigDecimal at scale
  * 10 with HALF_UP casts at the same points (v into the bucket sum,
  * the bucket mean, x·m, x²), and the closed-form slope/intercept use
  * the same pinned double expression order — so the snapshot is
  * BIT-IDENTICAL to the batch fit on the consumed prefix, for ANY
  * micro-batch carving (spec sweeps three).
  *
  * Scale shape: ONE stateful exchange on channel; state is five
  * numbers + one open-bucket triple per channel regardless of stream
  * length. Input is assumed channel-monotone in bucket index (the
  * watermarked-ingest contract the other streaming twins share); a
  * late sample for an already-closed bucket folds as its own
  * one-sample bucket (best effort, documented).
  */
object StreamingForecast {

  private val Scale = 10

  private def dec(d: Double): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(d).setScale(Scale, RoundingMode.HALF_UP))

  private def decL(l: Long): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(l).setScale(Scale, RoundingMode.HALF_UP))

  private def rnd(d: Double, s: Int): Double =
    BigDecimal(java.math.BigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)).toDouble

  case class OpenBucket(bkt: Long, n: Long, sum: BigDecimal)

  case class FitState(
    nB: Long,
    sx: BigDecimal,
    sy: BigDecimal,
    sxy: BigDecimal,
    sxx: BigDecimal,
    open: Option[OpenBucket]
  )

  /** Per-batch snapshot: the fit over everything seen so far plus the
    * next-bucket prediction (the batch operator's h=1 row).
    */
  case class ForecastUpdate(
    channel: String,
    n_buckets: Long,
    next_bucket: Long,
    slope: Option[Double],
    intercept: Option[Double],
    yhat: Option[Double]
  )

  private def close(st: FitState, b: OpenBucket, x0: Long): FitState = {
    val xc = b.bkt - x0
    val m = b.sum.toDouble / b.n // decimal sum → double, then /count: batch order
    FitState(
      st.nB + 1L,
      st.sx + decL(xc),
      st.sy + dec(m),
      st.sxy + dec(xc.toDouble * m),
      st.sxx + decL(xc * xc),
      None
    )
  }

  private def snapshot(channel: String, st: FitState, x0: Long): ForecastUpdate = {
    // fold the open bucket in WITHOUT mutating state — the batch fit
    // includes the last (possibly partial) bucket too
    val s = st.open.map(b => close(st, b, x0)).getOrElse(st)
    val lastBkt = st.open.map(_.bkt).getOrElse(Long.MinValue)
    val n = s.nB
    val (sx, sy, sxy, sxx) =
      (s.sx.toDouble, s.sy.toDouble, s.sxy.toDouble, s.sxx.toDouble)
    val den = n * sxx - sx * sx
    if (n == 0L || den == 0.0)
      ForecastUpdate(channel, n, lastBkt + 1L, None, None, None)
    else {
      val slope = (n * sxy - sx * sy) / den
      val a = (sy - slope * sx) / n
      val yhat = a + slope * (lastBkt + 1L - x0)
      ForecastUpdate(
        channel,
        n,
        lastBkt + 1L,
        Some(rnd(slope, 9)),
        Some(rnd(a, 6)),
        Some(rnd(yhat, 6))
      )
    }
  }

  def fit(
    spark: SparkSession,
    input: DataFrame, // (channel string, t long µs, v double [, event_id long])
    bucketUs: Long = graft.operators.Timeseries.BucketUs,
    x0: Long = graft.operators.Timeseries.ForecastX0
  ): Dataset[ForecastUpdate] = {
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
      .mapGroupsWithState[FitState, ForecastUpdate](GroupStateTimeout.NoTimeout) {
        case (channel, rows, state: GroupState[FitState]) =>
          var st = state.getOption.getOrElse(
            FitState(0L, BigDecimal(0), BigDecimal(0), BigDecimal(0), BigDecimal(0), None)
          )
          // same (t, event_id) fold order as the batch tie-break discipline
          rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, t, v, _) =>
            val bkt = Math.floorDiv(t, bucketUs)
            st = st.open match {
              case Some(b) if b.bkt == bkt =>
                st.copy(open = Some(OpenBucket(bkt, b.n + 1L, b.sum + dec(v))))
              case Some(b) =>
                close(st, b, x0).copy(open = Some(OpenBucket(bkt, 1L, dec(v))))
              case None =>
                st.copy(open = Some(OpenBucket(bkt, 1L, dec(v))))
            }
          }
          state.update(st)
          snapshot(channel, st, x0)
      }
  }
}
