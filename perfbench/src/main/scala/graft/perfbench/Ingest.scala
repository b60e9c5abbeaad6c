package graft.perfbench

import scala.collection.mutable

import graft.streaming.RealtimeServe
import graft.streaming.RealtimeServe.{Frame, Sample}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `eeg_ingest`: an open loop. One generator thread appends the seeded
  * recording to a MemoryStream on a fixed schedule, at a fixed multiple
  * of real time, while `RealtimeServe.serve` (all eight montage pairs,
  * a seeded filter) runs under a processing-time trigger and a
  * foreachBatch sink timestamps every frame. A drain phase then offers a
  * fixed backlog at once and times how fast the query takes it.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val rec = Gen.Recording(ctx.seed)
  private val pairs = Gen.PairCatalog
  private val (filter, params) = Gen.filterFor(new scala.util.Random(ctx.seed * 31L + 5L))
  private val req = Gen.EegRequest(0, 0L, 1L, pairs, filter, params, PixelUs)
  private val servePixel = Viewer.servePixel(req)
  private val nCh = Gen.EegChannels.length

  /** Samples [first, first + n) of every channel, in time order. */
  private def samples(first: Long, n: Long): Array[Sample] = {
    val out = new Array[Sample]((n * nCh).toInt)
    var k = 0
    var i = first
    while (i < first + n) {
      var c = 0
      while (c < nCh) { out(k) = Sample(Gen.EegChannels(c), rec.t(i), rec.value(c, i)); k += 1; c += 1 }
      i += 1
    }
    out
  }

  private var query: StreamingQuery = _
  private var mem: MemoryStream[Sample] = _
  private val arrivals = mutable.ArrayBuffer[(Frame, Long)]()
  private val progress = new ProgressListener
  private var buildS = 0.0

  private def start(name: String): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[Sample] = org.apache.spark.sql.Encoders.product[Sample]
    mem = MemoryStream[Sample]
    arrivals.clear()
    val (frames, b) = Clock.timed(
      RealtimeServe.serve(mem.toDS(), pairs, Gen.PeriodUs, PixelUs, req.cascade, req.padLength)
    )
    buildS = b
    query = frames.writeStream
      .queryName(name)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (ds: Dataset[Frame], _: Long) =>
        val got = ds.collect()
        val at = Clock.now()
        arrivals.synchronized(got.foreach(f => arrivals += ((f, at))))
      }
      .start()
  }

  /** Nothing to build: the generator computes samples as it appends. */
  def prepare(round: Int): Unit = samples(0L, PrerollSamples)

  /** Start the query and pre-roll enough recording to warm the longest
    * filter pad (and the JIT), so live frames flow from the first second.
    */
  def warmup(): Unit = {
    spark.streams.addListener(progress)
    start("ingest")
    mem.addData(samples(0L, PrerollSamples).toSeq)
    query.processAllAvailable()
    prerollFrames = arrivals.synchronized(arrivals.length)
    prerollBatch = query.lastProgress.batchId
  }

  private var prerollFrames = 0
  private var prerollBatch = 0L

  def run(): Outcome = {
    val r = ctx.rec
    val liveS = ctx.seconds * LiveShare
    val perAppend = (Gen.Rate * OfferedRate * AppendMs / 1000.0).toLong
    // live phase: append on schedule from a generator thread
    // (last sample index, due wall ns, epoch ms appended); a sample is
    // created when its append is due, so a stalled generator shows as lag
    val appended = mutable.ArrayBuffer[(Long, Long, Long)]()
    val late = mutable.ArrayBuffer[Double]()
    // processing-time triggers fire at wall-clock multiples of TriggerMs;
    // starting the schedule at a fixed phase of that grid makes every
    // frame wait the same share of a trigger interval in every run
    val phase = Math.floorMod(PhaseMs - System.currentTimeMillis(), TriggerMs)
    Thread.sleep(phase)
    val t0 = Clock.now()
    val gen = new Thread(() => {
      var k = 0L
      while (Clock.secs(t0, Clock.now()) < liveS) {
        val due = t0 + (k * AppendMs * 1000000L)
        val wait = due - Clock.now()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val batch = samples(PrerollSamples + k * perAppend, perAppend)
        val at = Clock.now()
        mem.addData(batch.toSeq)
        appended.synchronized {
          appended += ((PrerollSamples + (k + 1) * perAppend - 1, due, System.currentTimeMillis()))
          late += Clock.secs(due, at)
        }
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    query.processAllAvailable()
    val liveFrames = arrivals.synchronized(arrivals.drop(prerollFrames).toSeq)
    val liveTriggers = progress.progress.synchronized(progress.progress.toSeq).filter(_.name == "ingest")
    var next = appended.last._1 + 1
    // drain phase: fixed backlogs offered at once. Each is taken by one
    // trigger and timed by that trigger's execution, not by the wait for
    // the trigger to fire.
    val lastLive = query.lastProgress.batchId
    (0 until Drains).foreach { _ =>
      mem.addData(samples(next, DrainSamples).toSeq)
      next += DrainSamples
      query.processAllAvailable()
    }
    val drains = query.recentProgress.toSeq.filter(p => p.batchId > lastLive && p.numInputRows > 0)
    val drainSps = drains.map(_.numInputRows).sum /
      (drains.map(_.durationMs.get("triggerExecution").longValue).sum / 1000.0)
    query.stop()
    spark.streams.removeListener(progress)

    // lag: creation of the newest sample a frame covers -> the frame's
    // arrival at the sink
    val appendedAt = appended.toSeq
    val lags = liveFrames.flatMap { case (f, at) =>
      val newest = (f.startTs + f.nrPoints * servePixel - Gen.T0Us) / Gen.PeriodUs - 1
      appendedAt.find(_._1 >= newest).map { case (_, made, _) => Clock.secs(made, at) }
    }
    val (failures, checkS) = Clock.timed(check(next))
    r.fact("check_s", checkS)
    val lagSample = if (lags.nonEmpty) lags else Seq(Double.PositiveInfinity)
    val (tp, tv, tn) = Stats.tail(lagSample)
    r.put("lag_p50_s", Stats.median(lagSample), "s")
    r.put("lag_tail_s", tv, "s")
    r.put("drain_sps", drainSps, "1/s")
    r.put("latency_p50_s", Stats.median(lagSample), "s")
    r.fact("lag_tail_percentile", tp)
    r.fact("lag_tail_beyond", tn)
    r.fact("live_frames", liveFrames.length)
    r.fact("drains", drains.length)
    r.fact("offered_sps", Gen.Rate * OfferedRate * nCh)
    if (ctx.traced) report(liveTriggers, late.toSeq, appendedAt.map(a => a._3) , perAppend * nCh)
    Outcome(liveFrames.length.toLong + drains.length, failures.toLong)
  }

  /** The prefix property: for every pair, the frames the batch chain
    * computes over the whole consumed stream, except its last frame per
    * pair (cut short where the stream stops), must all have been
    * streamed, byte for byte. The batch side is the sequential
    * [[Reference]], which `eeg_viewer` holds byte-equal to `hotPathWire`
    * on every request; running `hotPathWire` itself here would cost this
    * run a cold compile of the whole batch chain.
    */
  private def check(consumed: Long): Int = {
    val grid = Gen.EegChannels.zipWithIndex.map { case (ch, c) =>
      ch -> (0L until consumed).map(i => rec.t(i) -> Reference.dec10(rec.value(c, i)).doubleValue).toMap
    }.toMap
    val want = Reference.frames(grid, pairs, req.cascade, req.padLength, servePixel)
    val streamed = arrivals.synchronized(arrivals.map(a => (a._1.channel, a._1.startTs) -> a._1.wire).toMap)
    var bad = 0
    def fail(msg: String): Unit = { bad += 1; ctx.rec.error(msg) }
    want.groupBy(_._1._1).foreach { case (ch, frames) =>
      frames.toSeq.sortBy(_._1._2).dropRight(1).foreach { case (k, w) =>
        streamed.get(k) match {
          case Some(got) if java.util.Arrays.equals(got, w) => ()
          case Some(_) => fail(s"streamed frame $k differs from the batch chain")
          case None => fail(s"frame $k of the batch chain was never streamed")
        }
      }
    }
    streamed.keys.filterNot(want.contains).foreach(k => fail(s"streamed frame $k has no batch twin"))
    bad
  }

  private def report(
    triggers: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
    late: Seq[Double],
    appendedMs: Seq[Long],
    rowsPerAppend: Long
  ): Unit = {
    val r = ctx.rec
    Layers.zeros(r)
    val live = triggers.filter(p => p.batchId > prerollBatch && p.numInputRows > 0)
    def dur(k: String) = live.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L) / 1e3)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    r.put("plans.build_s", buildS, "s")
    r.put("plans.plan_s", mean(dur("queryPlanning")), "s")
    r.put("streaming.add_batch_s", mean(dur("addBatch")), "s")
    r.put("streaming.query_planning_s", mean(dur("queryPlanning")), "s")
    r.put("streaming.wal_commit_s", mean(dur("walCommit")), "s")
    r.put("streaming.commit_offsets_s", mean(dur("commitOffsets")), "s")
    r.put("streaming.trigger_s", mean(dur("triggerExecution")), "s")
    r.put("streaming.rows_per_batch", mean(live.map(_.numInputRows.toDouble)), "count")
    // rows offered but not yet taken when each trigger started
    val processedBefore = live.scanLeft(0L)(_ + _.numInputRows)
    val backlog = live.zip(processedBefore).map { case (p, done) =>
      val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
      math.max(0L, appendedMs.count(_ <= ms) * rowsPerAppend - done).toDouble
    }
    r.put("streaming.backlog_rows", mean(backlog), "count")
    val state = live.flatMap(_.stateOperators.headOption)
    r.put("streaming.state_rows", mean(state.map(_.numRowsTotal.toDouble)), "count")
    r.put("streaming.state_mem_bytes", mean(state.map(_.memoryUsedBytes.toDouble)), "bytes")
    r.put("streaming.generator_late_s", mean(late), "s")
    val blob = {
      val f = new java.io.File(ctx.workDir("ingest-blob"), "blob.bin")
      graft.sources.BinarySegments.writeBlob(f.getPath, samples(0L, 15000L).map(_.v))
      java.nio.file.Files.readAllBytes(f.toPath)
    }
    Layers.functionMetrics(r, math.max(1, (mean(live.map(_.numInputRows.toDouble)) / nCh).toInt), blob, 1000, 60)
    ctx.listener.foreach { l =>
      l.settle(spark.sparkContext)
      val keys = live.map(p => s"trigger-${p.batchId}")
      Layers.sparkMetrics(r, l.workFor(keys), live.length, dur("triggerExecution").sum, ctx.cores, Nil)
    }
  }
}

object Ingest {
  // two grid steps per pixel: shouldResample rejects it, so frames carry
  // the raw branch (one grid point per pixel, 1000 samples per frame)
  val PixelUs: Long = 2 * Gen.PeriodUs
  // 4x real time: 1000 samples per channel, one frame per pair, every
  // second of wall time, in step with the trigger
  val OfferedRate = 4.0
  val AppendMs = 100L
  val TriggerMs = 1000L
  // a frame's closing sample is appended half an interval before a trigger
  val PhaseMs = 500L
  val LiveShare = 0.6
  // 28 s of recording: past the longest pad (6000 samples, a 0.5 Hz
  // high-pass) and a whole number of frames, so the phase above holds
  val PrerollSamples = 7000L
  val DrainSamples = 10000L // per channel: 40 s of recording
  val Drains = 2
}
