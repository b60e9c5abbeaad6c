package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.math.RoundingMode

/** Online LTTB render reduction — the streaming twin of the batch
  * [[graft.operators.Timeseries.lttbDownsample]] (the third standard
  * render reduction next to the M4 and pyramid twins): a live ingest
  * keeps the two most recent non-empty buckets per channel and emits
  * bucket P's LTTB pick the moment bucket C (the next non-empty
  * bucket, whose FINAL mean P's triangle needs) closes — i.e. when an
  * arrival opens a newer bucket.
  *
  * Equivalence discipline: the pick reproduces the batch parallel-LTTB
  * selection exactly — neighbor means are the PREVIOUS/NEXT NON-EMPTY
  * bucket means (the batch lag/lead over the bucket grid), bucket means
  * mirror detAvg's DECIMAL(27,10) sum (BigDecimal scale-10 HALF_UP,
  * exact sum, one double division), the area expression keeps the batch
  * operand order, the first bucket (no previous) picks its earliest
  * sample, and ties break by (area desc, t, event_id) — so emitted rows
  * equal the batch rows on every bucket with a closed successor, under
  * any micro-batch carving (spec sweeps three). State per channel is
  * two buckets of samples plus one (bucket, mean) pair — bounded by
  * bucket occupancy, the same bound the batch per-bucket argmax
  * carries.
  *
  * In-order-ingest requirement: the operator assumes buckets arrive
  * per channel in non-decreasing order ACROSS micro-batches (within a
  * batch, rows are sorted before folding). A late arrival for the
  * still-pending bucket P is absorbed (P's pick is not yet emitted);
  * a late arrival whose bucket is older than the open window — bucket
  * < P, or strictly between P and C after C opened — is DROPPED,
  * because its pick or the neighbor means around it are already
  * emitted/frozen and absorbing it would silently corrupt the output.
  * Feeding unordered history requires the batch twin (or a watermarked
  * re-sort upstream).
  */
object StreamingLttb {

  private val Scale = 10

  // the exact mirror of detSum's DECIMAL(27,10) term (StreamingForecast
  // discipline, verified bit-for-bit against the batch OLS)
  private def dec(d: Double): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(d).setScale(Scale, RoundingMode.HALF_UP))

  case class Sample(t: Long, id: Long, v: Double)

  /** `prev` is the (bucket, mean) of the non-empty bucket before `p`
    * (None when `p` is the channel's first); `p` awaits its successor's
    * final mean; `c` is the open bucket (empty only before the second
    * non-empty bucket arrives).
    */
  case class LttbState(
    prev: Option[(Long, Double)],
    pBkt: Long,
    p: List[Sample],
    cBkt: Long,
    c: List[Sample]
  )

  case class LttbRow(channel: String, bucket: Long, t: Long, v: Double)

  private def mean(samples: List[Sample]): Double =
    samples.map(s => dec(s.v)).sum.toDouble / samples.size

  /** The batch pick over one bucket: earliest sample when no previous
    * bucket exists, else the (area desc, t, event_id) argmax against
    * the neighbor means — operand order identical to the batch column
    * expression.
    */
  private def pick(
    channel: String,
    bkt: Long,
    samples: List[Sample],
    prev: Option[(Long, Double)],
    next: (Long, Double),
    bucketUs: Long
  ): LttbRow = {
    val chosen = prev match {
      case None =>
        // batch key = -t with (key desc, t, id) → min (t, id)
        samples.minBy(s => (s.t, s.id))
      case Some((pb, pm)) =>
        val (nb, nm) = next
        val xp = (pb.toDouble + 0.5) * bucketUs
        val xn = (nb.toDouble + 0.5) * bucketUs
        def area(s: Sample): Double =
          math.abs((xp - xn) * (s.v - pm) - (xp - s.t.toDouble) * (nm - pm))
        // argmax by (area desc, t, id): fold in (t, id) order keeping
        // strict-greater so the earliest maximal sample wins
        samples.sortBy(s => (s.t, s.id)).reduceLeft { (best, s) =>
          if (area(s) > area(best)) s else best
        }
    }
    LttbRow(channel, bkt, chosen.t, chosen.v)
  }

  def reduce(
    spark: SparkSession,
    input: DataFrame, // (channel string, t long µs, v double [, event_id long])
    bucketUs: Long = graft.operators.Timeseries.BucketUs
  ): Dataset[LttbRow] = {
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
      .flatMapGroupsWithState[LttbState, LttbRow](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout
      ) { case (channel, rows, state: GroupState[LttbState]) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[LttbRow]
        var st = state.getOption.orNull
        rows.toSeq.sortBy(r => (r._2, r._4)).foreach { case (_, t, v, id) =>
          val bkt = Math.floorDiv(t, bucketUs)
          val s = Sample(t, id, v)
          st match {
            case null =>
              // the channel's first bucket opens (c stays empty until a
              // SECOND non-empty bucket arrives)
              st = LttbState(None, bkt, List(s), bkt, Nil)
            case old if old.c.isEmpty && bkt == old.pBkt =>
              // still filling the first pending bucket
              st = old.copy(p = s :: old.p)
            case old if old.c.isEmpty && bkt > old.pBkt =>
              // second non-empty bucket opens: P now has a successor
              st = old.copy(cBkt = bkt, c = List(s))
            case old if bkt == old.cBkt =>
              st = old.copy(c = s :: old.c)
            case old if bkt == old.pBkt =>
              // late arrival for the still-PENDING bucket (micro-batch
              // carving can deliver it after C opened): P has not been
              // emitted yet, so absorbing it preserves batch equivalence
              st = old.copy(p = s :: old.p)
            case old if bkt > old.cBkt =>
              // a newer bucket opens: C closes, so P's successor mean is
              // final — emit P's pick and shift the pair window
              out += pick(channel, old.pBkt, old.p.reverse, old.prev, (old.cBkt, mean(old.c)), bucketUs)
              st = LttbState(Some((old.pBkt, mean(old.p))), old.cBkt, old.c, bkt, List(s))
            case _ =>
              // out-of-order arrival older than the open window (bucket
              // < pBkt, or strictly between the pair after C opened):
              // its bucket's pick (or the neighbor means around it) may
              // already be emitted/frozen, so absorbing it would emit a
              // WRONG pick or shift the window backwards. Dropped — the
              // in-order-ingest requirement documented on the object.
              ()
          }
        }
        if (st != null) state.update(st)
        out.iterator
      }
  }
}
