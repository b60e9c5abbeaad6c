package graft.streaming

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Online per-window DFT band power — the streaming twin of the batch
  * [[graft.operators.Timeseries.bandPower]], and the realtime feature
  * the reference domain (live neural signal monitoring) actually
  * watches: per channel, the open window accumulates one (Σv·cos k,
  * Σv·sin k) pair per harmonic; when a sample from a later window
  * arrives the window CLOSES and emits rows identical to the batch
  * operator's.
  *
  * Equivalence discipline: the Goertzel products use the identical
  * double argument ((t mod W)/W, then 2π·k·frac in the batch's pinned
  * order) and accumulate as exact scale-10 BigDecimals — the same
  * quantization the batch DECIMAL(27,10) sums apply — so closed-window
  * rows are BIT-IDENTICAL to batch under any micro-batch carving
  * (spec sweeps three).
  *
  * Scale shape: ONE stateful exchange on channel; state is
  * 2·|ks| decimals + two longs per channel regardless of stream
  * length. Input is assumed channel-monotone in window index (the
  * shared watermarked-ingest contract); late samples for closed
  * windows drop (documented best effort).
  */
object StreamingBandpower {

  private val Scale = 10
  private val TwoPi = 6.283185307179586

  private def dec(d: Double): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(d).setScale(Scale, RoundingMode.HALF_UP))

  private def rnd(d: Double, s: Int): Double =
    BigDecimal(java.math.BigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)).toDouble

  case class WindowAcc(win: Long, n: Long, c: Vector[BigDecimal], s: Vector[BigDecimal])

  case class BpState(open: Option[WindowAcc])

  case class BandUpdate(channel: String, win: Long, k: Long, n: Long, power: Double, is_final: Boolean)

  private def rows(channel: String, w: WindowAcc, ks: Seq[Int], isFinal: Boolean): Seq[BandUpdate] =
    ks.indices.map { i =>
      val c = w.c(i).toDouble
      val s = w.s(i).toDouble
      val p = (c / w.n) * (c / w.n) + (s / w.n) * (s / w.n)
      BandUpdate(channel, w.win, ks(i).toLong, w.n, rnd(p, 6), isFinal)
    }

  def track(
    spark: SparkSession,
    input: DataFrame, // (channel string, t long µs, v double [, event_id long])
    windowUs: Long,
    ks: Seq[Int] = 1 to 4
  ): Dataset[BandUpdate] = {
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
      .flatMapGroupsWithState[BpState, BandUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout
      ) { case (channel, rowsIn, state: GroupState[BpState]) =>
        var open = state.getOption.flatMap(_.open)
        val out = Vector.newBuilder[BandUpdate]
        val zero = Vector.fill(ks.size)(BigDecimal(0))
        rowsIn.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, t, v, _) =>
          val win = Math.floorDiv(t, windowUs)
          // the batch plan's argument order: frac first, then 2π·k·frac
          val frac = (t % windowUs).toDouble / windowUs.toDouble
          open match {
            case Some(w) if w.win == win =>
              open = Some(
                w.copy(
                  n = w.n + 1L,
                  c = w.c.zipWithIndex.map { case (acc, i) => acc + dec(v * math.cos(TwoPi * ks(i) * frac)) },
                  s = w.s.zipWithIndex.map { case (acc, i) => acc + dec(v * math.sin(TwoPi * ks(i) * frac)) }
                )
              )
            case Some(w) if win > w.win =>
              out ++= rows(channel, w, ks, isFinal = true)
              open = Some(
                WindowAcc(
                  win,
                  1L,
                  zero.zipWithIndex.map { case (_, i) => dec(v * math.cos(TwoPi * ks(i) * frac)) },
                  zero.zipWithIndex.map { case (_, i) => dec(v * math.sin(TwoPi * ks(i) * frac)) }
                )
              )
            case Some(_) => // late sample for a closed window: drop
            case None =>
              open = Some(
                WindowAcc(
                  win,
                  1L,
                  zero.zipWithIndex.map { case (_, i) => dec(v * math.cos(TwoPi * ks(i) * frac)) },
                  zero.zipWithIndex.map { case (_, i) => dec(v * math.sin(TwoPi * ks(i) * frac)) }
                )
              )
          }
        }
        state.update(BpState(open))
        out ++= open.toSeq.flatMap(w => rows(channel, w, ks, isFinal = false))
        out.result().iterator
      }
  }
}
