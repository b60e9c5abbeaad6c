package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Everything a workload reads is a function of the seed:
  * the recording, the unit streams, the corpus and the request stream.
  */
object Gen {

  // ------------------------------------------------------------ recording

  val PeriodUs = 4000L // 250 Hz
  val Rate: Double = 1e6 / PeriodUs
  val T0Us = 1704067200000000L // 2024-01-01T00:00:00Z, a multiple of PeriodUs
  val BlobBucketUs = 60000000L // one blob per channel-minute
  val EegChannels: Seq[String] = Seq("Fp1", "Fp2", "C3", "C4", "P3", "P4", "O1", "O2")

  /** Bipolar montage pairs a request may ask for. */
  val PairCatalog: Seq[(String, String)] = Seq(
    "Fp1" -> "C3", "C3" -> "P3", "P3" -> "O1", "Fp2" -> "C4",
    "C4" -> "P4", "P4" -> "O2", "C3" -> "C4", "O1" -> "O2"
  )

  /** splitmix64: a stateless seeded hash for sample noise. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** An EEG-like recording: per-channel alpha and slow rhythms, 50 Hz
    * line noise and hash noise, values rounded to 4 decimals. Sample i of
    * channel c is a pure function of (seed, c, i), so the batch store and
    * the live stream carry the same data.
    */
  final case class Recording(seed: Long) {
    private val params: Array[Array[Double]] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(EegChannels.length)(
        Array(20 + rnd.nextDouble() * 40, rnd.nextDouble() * 6.28, 1 + rnd.nextDouble() * 29, 5 + rnd.nextDouble() * 15)
      )
    }

    def t(i: Long): Long = T0Us + i * PeriodUs

    def value(c: Int, i: Long): Double = {
      val p = params(c)
      val x = i / Rate
      val noise = ((mix(seed * 1000003L + c * 7919L + i) >>> 11) * (1.0 / (1L << 53)) - 0.5) * 12.0
      val v = p(0) * math.sin(2 * math.Pi * 10.0 * x + p(1)) + p(3) * math.sin(2 * math.Pi * p(2) * x) +
        8.0 * math.sin(2 * math.Pi * 50.0 * x) + noise
      math.rint(v * 1e4) / 1e4
    }

    /** Samples [first, first + n) of every channel as (channel, t, v, event_id). */
    def frame(spark: SparkSession, first: Long, n: Long): DataFrame = {
      import spark.implicits._
      val nCh = EegChannels.length
      val chans = EegChannels.toArray
      val self = this
      spark
        .range(n * nCh)
        .map { id =>
          val c = (id % nCh).toInt
          val i = first + id / nCh
          (chans(c), self.t(i), self.value(c, i), i)
        }
        .toDF("channel", "t", "v", "event_id")
    }
  }

  // --------------------------------------------------------- unit streams

  val UnitChannels: Seq[String] = Seq("unit1", "unit2", "unit3")
  val SpikePoints = 32
  val SpikeSamplePeriodUs = 33L
  val SpikeGapUs = 125000L // ~8 spikes per second per unit

  /** Seeded spike waveforms: spike k of a unit fires at
    * k·SpikeGapUs ± 40% jitter; each spike is SpikePoints samples.
    */
  def units(spark: SparkSession, seed: Long, durationUs: Long): DataFrame = {
    val spikes = durationUs / SpikeGapUs - 1
    val n = spikes * SpikePoints * UnitChannels.length
    spark
      .range(n)
      .select(
        (col("id") % UnitChannels.length).as("u"),
        expr(s"(id div ${UnitChannels.length}) div $SpikePoints").as("k"),
        expr(s"(id div ${UnitChannels.length}) % $SpikePoints").as("j")
      )
      .select(
        element_at(array(UnitChannels.map(lit): _*), (col("u") + 1).cast("int")).as("channel"),
        (lit(T0Us + SpikeGapUs) + col("k") * SpikeGapUs +
          (pmod(xxhash64(lit(seed), col("u"), col("k")), lit(80001L)) - 40000L) +
          col("j") * SpikeSamplePeriodUs).as("t"),
        round(
          lit(-80.0) * exp(-pow((col("j") - 8) / 3.0, 2)) + lit(30.0) * exp(-pow((col("j") - 16) / 5.0, 2)) +
            (pmod(xxhash64(lit(seed + 1), col("u"), col("k"), col("j")), lit(1001L)) / 1001.0 - 0.5) * 6.0,
          4
        ).as("v")
      )
  }

  // -------------------------------------------------------------- requests

  sealed trait Request { def id: Int; def startUs: Long; def endUs: Long }

  final case class EegRequest(
    id: Int,
    startUs: Long,
    endUs: Long,
    pairs: Seq[(String, String)],
    filter: String,
    params: Seq[Double],
    pixelUs: Long
  ) extends Request {
    def cascade: graft.functions.Butterworth.Cascade = graft.functions.Butterworth.design(filter, Rate, params)
    def padLength: Int = {
      val maxFreq = if (params.length > 2) params(1) + params(2) else params(1)
      graft.functions.Butterworth.transientLength(params.head.toInt, maxFreq, Rate)
    }
    def channels: Seq[String] = pairs.map { case (l, s) => s"$l<->$s" }
  }

  final case class UnitRequest(
    id: Int,
    startUs: Long,
    endUs: Long,
    channels: Seq[String],
    pixelUs: Long,
    spikeDurationUs: Long
  ) extends Request

  /** A seeded filter from the reference's request vocabulary. */
  def filterFor(rnd: scala.util.Random): (String, Seq[Double]) = rnd.nextInt(4) match {
    case 0 => "lowpass" -> Seq(4.0, 30 + rnd.nextInt(16))
    case 1 => "highpass" -> Seq(2.0, 0.5 + rnd.nextInt(4) * 0.5)
    case 2 => "bandpass" -> Seq(2.0, 8 + rnd.nextInt(6), 2 + rnd.nextInt(3))
    case _ => "bandstop" -> Seq(4.0, 50.0, 2 + rnd.nextInt(3))
  }

  /** The viewer's request stream, in cycles of three: a 10-30 s page, a
    * unit page (through unitHotPathWire; every other one on the spike
    * branch) and a second page, which every fourth cycle is a 2-2.5
    * minute overview instead. Pages under 12 s fall on the raw branch of
    * shouldResample. Kinds are fixed by position, so every seed sees the
    * same sequence; the seed picks windows, three montage pairs and the
    * filter of each request.
    */
  def requests(seed: Long, recordingUs: Long): Iterator[Request] = {
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    def window(widthUs: Long, align: Long): (Long, Long) = {
      val slots = (recordingUs - widthUs) / align
      val s = T0Us + (rnd.nextDouble() * slots).toLong * align
      (s, s + widthUs)
    }
    Iterator.from(0).map { id =>
      id % 3 match {
        case 1 =>
          val spikes = id % 6 == 1
          val width = if (spikes) 2000000L else 20000000L
          val (s, e) = window(width, PeriodUs)
          val chans = rnd.shuffle(UnitChannels).take(1 + rnd.nextInt(UnitChannels.length)).sorted
          UnitRequest(id, s, e, chans, width / 1000, 32000L)
        case k =>
          val overview = k == 2 && id % 12 == 11
          val widthS = if (overview) 120 + rnd.nextInt(31) else 10 + rnd.nextInt(21)
          val (s, e) = window(widthS * 1000000L, PeriodUs)
          val pairs = rnd.shuffle(PairCatalog).take(3)
          val (f, p) = filterFor(rnd)
          EegRequest(id, s, e, pairs, f, p, widthS * 1000L)
      }
    }
  }
}
