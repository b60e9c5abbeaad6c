package graft.streaming

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Online exponentially-weighted moving baseline — the streaming twin
  * of the batch [[graft.operators.Timeseries.ewmaBaseline]]: a live
  * ingest keeps the last K bucket aggregates per channel and, as each
  * bucket CLOSES, emits its final truncated-dyadic-kernel EWMA row;
  * each micro-batch additionally snapshots the open bucket
  * (is_final=false) so dashboards track the live level.
  *
  * Equivalence discipline (the StreamingForecast contract): bucket
  * sums accumulate as exact scale-10 BigDecimals with HALF_UP casts at
  * the same points the batch plan casts to DECIMAL (v into the bucket
  * sum; mean × integer-weight into the kernel term), means and the
  * final ratio use the identical pinned double expression order, so
  * closed-bucket rows are BIT-IDENTICAL to the batch operator's rows
  * for ANY micro-batch carving (spec sweeps three).
  *
  * Scale shape: ONE stateful exchange on channel; state is at most K
  * (bucket, n, Σv) triples per channel regardless of stream length —
  * the kernel only ever looks K−1 buckets back, so everything older
  * prunes on bucket close. Input is assumed channel-monotone in bucket
  * index (the shared watermarked-ingest contract); a late sample for a
  * bucket still inside the K-window folds into that aggregate (its
  * already-emitted row is NOT retracted — best effort, documented),
  * and older ones are dropped.
  */
object StreamingEwma {

  private val Scale = 10

  private def dec(d: Double): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(d).setScale(Scale, RoundingMode.HALF_UP))

  private def rnd(d: Double, s: Int): Double =
    BigDecimal(java.math.BigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)).toDouble

  /** (bucket index, sample count, exact Σv at scale 10). */
  case class BucketAgg(bkt: Long, n: Long, sum: BigDecimal)

  /** Entries ascending by bucket; the last one is the open bucket. */
  case class EwmaState(entries: Vector[BucketAgg])

  case class EwmaUpdate(
    channel: String,
    bucket: Long,
    n: Long,
    mean: Double,
    ewma: Double,
    dev: Double,
    is_final: Boolean
  )

  /** The batch operator's row for `target`, computed from the retained
    * aggregates: num = Σ dec₁₀(mean_b × 2^(K−1−j)), den = Σ 2^(K−1−j)
    * over present buckets at distance j = 0..K−1.
    */
  private def row(channel: String, target: BucketAgg, entries: Vector[BucketAgg], k: Int, isFinal: Boolean): EwmaUpdate = {
    var num = BigDecimal(0)
    var den = 0L
    entries.foreach { e =>
      val j = target.bkt - e.bkt
      if (j >= 0 && j < k) {
        val w = 1L << (k - 1 - j)
        val m = e.sum.toDouble / e.n
        num += dec(m * w)
        den += w
      }
    }
    val mean = target.sum.toDouble / target.n
    val ewma = num.toDouble / den.toDouble
    EwmaUpdate(channel, target.bkt, target.n, rnd(mean, 6), rnd(ewma, 6), rnd(mean - ewma, 6), isFinal)
  }

  def baseline(
    spark: SparkSession,
    input: DataFrame, // (channel string, t long µs, v double [, event_id long])
    bucketUs: Long = graft.operators.Timeseries.BucketUs,
    k: Int = graft.operators.Timeseries.EwmaK
  ): Dataset[EwmaUpdate] = {
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
      .flatMapGroupsWithState[EwmaState, EwmaUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout
      ) { case (channel, rows, state: GroupState[EwmaState]) =>
        var entries = state.getOption.map(_.entries).getOrElse(Vector.empty)
        val closedRows = Vector.newBuilder[EwmaUpdate]
        // same (t, event_id) fold order as the batch tie-break discipline
        rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, t, v, _) =>
          val bkt = Math.floorDiv(t, bucketUs)
          entries.lastOption match {
            case Some(open) if bkt == open.bkt =>
              entries = entries.init :+ BucketAgg(bkt, open.n + 1L, open.sum + dec(v))
            case Some(open) if bkt > open.bkt =>
              // the open bucket closes: its kernel inputs are complete
              closedRows += row(channel, open, entries, k, isFinal = true)
              entries = (entries :+ BucketAgg(bkt, 1L, dec(v))).filter(_.bkt > bkt - k)
            case Some(_) =>
              // late arrival: fold into a still-retained aggregate
              // (no retraction of its emitted row), drop if older
              val i = entries.indexWhere(_.bkt == bkt)
              if (i >= 0) {
                val e = entries(i)
                entries = entries.updated(i, BucketAgg(bkt, e.n + 1L, e.sum + dec(v)))
              }
            case None =>
              entries = Vector(BucketAgg(bkt, 1L, dec(v)))
          }
        }
        state.update(EwmaState(entries))
        val openSnap = entries.lastOption.map(open => row(channel, open, entries, k, isFinal = false))
        (closedRows.result() ++ openSnap).iterator
      }
  }
}
