package graft.perfbench

import scala.collection.mutable

import graft.operators.{Filtering, Timeseries, UnitHotpath}
import graft.sources.{BinarySegments, BlobStore, SegmentProto}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `eeg_viewer`: one client in a closed loop asks for windows of
  * montaged, filtered, min/max-downsampled channel data and receives
  * protobuf frames. EEG windows are read from the blob store through
  * `readRangePartitioned` and served by `hotPathWire`; every third
  * request is a unit page served by `unitHotPathWire`.
  */
final class Viewer(ctx: Ctx) extends Workload {
  import Viewer._
  private val spark = ctx.spark
  import spark.implicits._

  val RecordingS = 180
  private val recordingUs = RecordingS * 1000000L
  private val rec = Gen.Recording(ctx.seed)

  // set by prepare
  private var root: String = _
  private var index: Seq[(String, Long, Long, Long, Double)] = Nil
  private var indexDf: DataFrame = _
  private var unitsPath: String = _

  def prepare(round: Int): Unit = {
    val dir = ctx.workDir(s"viewer-$round")
    root = new java.io.File(dir, "blobs").getAbsolutePath
    index = BlobStore
      .buildStore(rec.frame(spark, 0L, recordingUs / Gen.PeriodUs), root, Gen.PeriodUs, Gen.BlobBucketUs)
      .as[(String, Long, Long, Long, Double)]
      .collect()
      .toSeq
      .sortBy(r => (r._1, r._2))
    indexDf = index.toDF("channel", "bucket", "start_us", "end_us", "rate")
    unitsPath = new java.io.File(dir, "units").getAbsolutePath
    Gen.units(spark, ctx.seed, recordingUs).write.parquet(unitsPath)
  }

  /** One request cycle (two pages and a spike-branch unit page) of
    * another seed's request stream.
    */
  def warmup(): Unit =
    Gen.requests(ctx.seed + 1, recordingUs).take(Cycle).foreach(r => serve(r, s"warmup-${r.id}", prefixes = false))

  private def read(r: Gen.Request): DataFrame =
    BinarySegments.readRangePartitioned(spark, root, indexDf, r.startUs, r.endUs, Gen.BlobBucketUs)

  private def units(r: Gen.UnitRequest): DataFrame =
    spark.read.parquet(unitsPath).filter(col("channel").isin(r.channels: _*))

  /** The request's DataFrame: the call into the operator layer. */
  private def build(r: Gen.Request): DataFrame = r match {
    case e: Gen.EegRequest =>
      Filtering.hotPathWire(spark, read(e), e.pairs, Gen.PeriodUs, e.pixelUs, e.cascade, e.padLength)
    case u: Gen.UnitRequest =>
      UnitHotpath.unitHotPathWire(spark, units(u), u.startUs, u.endUs, u.pixelUs, Gen.SpikePoints, u.spikeDurationUs)
  }

  /** Serve one request: build, plan, execute. With `prefixes`, each
    * prefix of the chain first runs on its own (traced run only), so
    * operator self times can be read as prefix differences. The prefix
    * jobs run before the request's clock starts and under their own job
    * group (`<op>-prefix`), so the listener's counts for `op` are the
    * request's alone.
    */
  private def serve(r: Gen.Request, op: String, prefixes: Boolean): Served = {
    val tr = ctx.tracer
    val pre =
      if (!prefixes) Prefixes.empty
      else {
        spark.sparkContext.setJobGroup(s"$op-prefix", s"$op-prefix", interruptOnCancel = false)
        runPrefixes(r, op)
      }
    spark.sparkContext.setJobGroup(op, op, interruptOnCancel = false)
    val t0 = Clock.now()
    val (rows, buildS, planS) = tr.span(op, "request") {
      val (df, b) = Clock.timed(tr.span(op, "build", "request")(build(r)))
      val (_, p) = Clock.timed(tr.span(op, "plan", "request")(df.queryExecution.executedPlan))
      (tr.span(op, "exec", "request")(df.collect()), b, p)
    }
    Served(r, rows.toSeq, Clock.secs(t0, Clock.now()), buildS, planS, pre)
  }

  private def runPrefixes(r: Gen.Request, op: String): Prefixes = {
    val tr = ctx.tracer
    def stage(name: String)(df: => DataFrame): (Long, Double, DataFrame) =
      tr.span(op, name, "prefix") {
        val t0 = Clock.now()
        val d = df
        val n = Layers.execute(d)
        (n, Clock.secs(t0, Clock.now()), d)
      }
    tr.span(op, "prefix") {
      r match {
        case e: Gen.EegRequest =>
          val (n1, s1, d1) = stage("read")(read(e))
          val blobs = Layers.scanMetric(d1.queryExecution.executedPlan, "numFiles")
          val bytes = Layers.scanMetric(d1.queryExecution.executedPlan, "filesSize")
          val (n2, s2, _) = stage("grid_montage")(Timeseries.montageAlignedGrid(spark, read(e), e.pairs, Gen.PeriodUs))
          def filtered = Filtering
            .applyCascade(spark, Timeseries.montageAlignedGrid(spark, read(e), e.pairs, Gen.PeriodUs), e.cascade,
              e.padLength, gapUs = Gen.PeriodUs)
            .select(col("channel"), col("t"), round(col("fv"), 6).as("v"))
          val (_, s3, _) = stage("filter")(filtered)
          val (_, s4, _) = stage("downsample")(Timeseries.downsample(filtered, servePixel(e)))
          Prefixes(Seq(s1, s2, s3, s4), n1, n2, blobs, bytes)
        case u: Gen.UnitRequest =>
          val (n1, s1, d1) = stage("read")(units(u))
          Prefixes(Seq(s1), n1, 0L, Layers.scanMetric(d1.queryExecution.executedPlan, "numFiles"),
            Layers.scanMetric(d1.queryExecution.executedPlan, "filesSize"))
      }
    }
  }

  /** Whole request cycles while another is expected to end within
    * `seconds` (at least one), so every run measures the same mix of
    * kinds. The traced run serves each request twice, untraced and
    * traced, alternating which goes first so JIT warm-up does not bias
    * the tracing overhead.
    */
  def run(): Outcome = {
    val plain = mutable.ArrayBuffer[Served]()
    val traced = mutable.ArrayBuffer[Served]()
    val reqs = Gen.requests(ctx.seed, recordingUs)
    val t0 = Clock.now()
    var n = 0
    def another = n == 0 || (n % Cycle != 0) || Clock.secs(t0, Clock.now()) * (n + Cycle) / n <= ctx.seconds
    while (another) {
      n += 1
      val r = reqs.next()
      val order = if (!ctx.traced) Seq(false) else if (r.id % 2 == 0) Seq(false, true) else Seq(true, false)
      order.foreach { t =>
        if (t) traced += attempt(r, s"traced-${r.id}", prefixes = true)
        else plain += attempt(r, s"req-${r.id}", prefixes = false)
      }
    }
    val served = (plain ++ traced).toSeq
    val failures = served.count(s => !check(s))
    report(traced.toSeq, plain.toSeq)
    Outcome(served.length.toLong, failures.toLong)
  }

  /** Serve a request, recording a failure (as an infinite latency, which
    * misses every latency limit) instead of dropping it.
    */
  private def attempt(r: Gen.Request, op: String, prefixes: Boolean): Served =
    try serve(r, op, prefixes)
    catch {
      case e: Exception =>
        ctx.rec.error(s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        Served(r, Nil, Double.PositiveInfinity, 0, 0, Prefixes.empty, failed = true)
    }

  // ---------------------------------------------------------------- checks

  /** Output check, outside the timed region: every frame decodes, lies
    * in its window and belongs to a requested channel; EEG frames must
    * also equal the sequential reference byte for byte.
    */
  private def check(s: Served): Boolean = !s.failed && {
    val problems = s.req match {
      case e: Gen.EegRequest => checkEeg(e, s.rows)
      case u: Gen.UnitRequest => checkUnit(u, s.rows)
    }
    problems.foreach(p => ctx.rec.error(s"request ${s.req.id}: $p"))
    problems.isEmpty
  }

  private def checkEeg(e: Gen.EegRequest, rows: Seq[Row]): Seq[String] = {
    val pix = servePixel(e)
    val lo = Math.floorDiv(e.startUs, pix) * pix
    val hi = Math.floorDiv(e.endUs - 1, pix) * pix + pix
    val got = rows.map(r => (r.getString(0), r.getLong(1)) -> (r.getInt(2), r.getAs[Array[Byte]](3))).toMap
    val bad = mutable.Buffer[String]()
    got.foreach { case ((ch, ts), (n, wire)) =>
      val seg = SegmentProto.decodeTimeSeriesMessage(wire).segment
      if (seg.isEmpty || seg.get.source != ch || seg.get.nrPoints != n || seg.get.data.length != 2 * n)
        bad += s"frame ($ch, $ts) does not decode to its row"
      if (ts < lo || ts + n * pix > hi) bad += s"frame ($ch, $ts) lies outside [${e.startUs}, ${e.endUs})"
    }
    if (got.keys.map(_._1).toSet != e.channels.toSet) bad += s"channels ${got.keys.map(_._1).toSet} != ${e.channels}"
    val want = reference(e)
    if (want.keySet != got.keySet) bad += s"frames ${got.size} != reference ${want.size}"
    else if (want.exists { case (k, w) => !java.util.Arrays.equals(w, got(k)._2) })
      bad += "frame bytes differ from the sequential reference"
    bad.toSeq
  }

  private def checkUnit(u: Gen.UnitRequest, rows: Seq[Row]): Seq[String] = {
    val bad = mutable.Buffer[String]()
    val chans = rows.map(_.getString(0))
    if (chans.toSet != u.channels.toSet) bad += s"unit channels ${chans.toSet} != ${u.channels}"
    rows.foreach { r =>
      val ev = SegmentProto.decodeTimeSeriesMessage(r.getAs[Array[Byte]](1)).event
      if (ev.isEmpty || ev.get.source != r.getString(0)) bad += s"unit frame ${r.getString(0)} does not decode"
      else {
        val e = ev.get
        val times = e.times.grouped(2).map(_.head)
        if (e.pageStart != u.startUs || e.pageEnd != u.endUs || times.exists(t => t < u.startUs || t >= u.endUs))
          bad += s"unit frame ${e.source} lies outside its page"
      }
    }
    bad.toSeq
  }

  /** The request recomputed sequentially outside Spark from the blob
    * files: blob decode and grid mean here, the rest in [[Reference]].
    */
  private def reference(e: Gen.EegRequest): Map[(String, Long), Array[Byte]] = {
    val needed = e.pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val grid: Map[String, Map[Long, Double]] = needed.map { ch =>
      val sums = mutable.TreeMap[Long, (java.math.BigDecimal, Long)]()
      index.filter(r => r._1 == ch && r._4 >= e.startUs && r._3 < e.endUs).foreach { r =>
        val f = new java.io.File(root, s"channel=$ch/bucket=${r._2}/data.bin")
        val vals = BinarySegments.decodeBlob(java.nio.file.Files.readAllBytes(f.toPath))
        val period = math.round(1e6 / r._5)
        vals.indices.foreach { i =>
          val t = r._3 + i * period
          if (t >= e.startUs && t < e.endUs) {
            val b = Math.floorDiv(t, Gen.PeriodUs) * Gen.PeriodUs
            val (s, n) = sums.getOrElse(b, (java.math.BigDecimal.ZERO, 0L))
            sums(b) = (s.add(Reference.dec10(vals(i))), n + 1)
          }
        }
      }
      ch -> sums.map { case (b, (s, n)) => b -> s.doubleValue / n }.toMap
    }.toMap
    Reference.frames(grid, e.pairs, e.cascade, e.padLength, servePixel(e))
  }

  // --------------------------------------------------------------- metrics

  private def report(traced: Seq[Served], plain: Seq[Served]): Unit = {
    val r = ctx.rec
    val lat = plain.map(_.latency)
    val (tp, tv, tn) = Stats.tail(lat)
    r.put("latency_p50_s", Stats.median(lat), "s")
    r.put("latency_tail_s", tv, "s")
    r.fact("latency_tail_percentile", tp)
    r.fact("latency_tail_beyond", tn)
    r.fact("requests", lat.length)
    r.fact("latencies_s", plain.map(s => f"${s.latency}%.2f").mkString(" "))
    r.fact("raw_branch_requests", plain.count(_.req match {
      case e: Gen.EegRequest => servePixel(e) == Gen.PeriodUs
      case _ => false
    }))
    if (ctx.traced) {
      // per-layer figures are means per traced request (EEG layers over
      // EEG requests, the unit layer over unit pages)
      Layers.zeros(r)
      val ok = traced.filter(!_.failed)
      val eeg = ok.filter(_.req.isInstanceOf[Gen.EegRequest])
      val unit = ok.filter(_.req.isInstanceOf[Gen.UnitRequest])
      def mean(ss: Seq[Served])(f: Served => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.length
      r.put("plans.build_s", mean(ok)(_.buildS), "s")
      r.put("plans.plan_s", mean(ok)(_.planS), "s")
      r.put("sources.read_s", mean(ok)(_.pre.stageS.head), "s")
      r.put("sources.blobs_read", mean(eeg)(_.pre.blobs.toDouble), "count")
      r.put("sources.bytes_read", mean(eeg)(_.pre.bytes.toDouble), "bytes")
      r.put("sources.samples_decoded", mean(eeg)(_.pre.decoded.toDouble), "count")
      r.put("sources.frames", mean(ok)(_.rows.length.toDouble), "count")
      r.put("sources.wire_bytes", mean(ok)(_.rows.map(row => row.getAs[Array[Byte]](row.length - 1).length).sum.toDouble), "bytes")
      // operator self time: the difference between consecutive prefixes
      def diff(i: Int) = mean(eeg)(s => s.pre.stageS(i) - s.pre.stageS(i - 1))
      r.put("operators.grid_montage_s", diff(1), "s")
      r.put("operators.filter_s", diff(2), "s")
      r.put("operators.downsample_s", diff(3), "s")
      r.put("operators.segments_s", mean(eeg)(s => s.latency - s.pre.stageS(3)), "s")
      r.put("operators.unit_s", mean(unit)(s => s.latency - s.pre.stageS.head), "s")
      val blockSamples = mean(eeg)(s => (s.req.endUs - s.req.startUs).toDouble / Gen.PeriodUs).toInt
      val blob = java.nio.file.Files.readAllBytes(
        new java.io.File(root, s"channel=${index.head._1}/bucket=${index.head._2}/data.bin").toPath)
      Layers.functionMetrics(r, blockSamples, blob, 1000, 60)
      val filteredSamples = mean(eeg)(_.pre.montaged.toDouble)
      val filterS = r.metrics.find(_.name == "operators.filter_s").get.value
      val bw = r.metrics.find(_.name == "functions.butterworth_sps").get.value
      r.put("functions.filter_kernel_share", if (filterS > 0) filteredSamples / bw / filterS else 0.0, "ratio")
      ctx.listener.foreach { l =>
        l.settle(spark.sparkContext)
        Layers.sparkMetrics(r, l.workFor(ok.map(s => s"traced-${s.req.id}")), ok.length,
          ok.map(_.latency).sum, ctx.cores, Nil)
      }
      val overhead = Stats.median(traced.map(_.latency)) - Stats.median(lat)
      r.put("trace.overhead_s", overhead, "s")
      r.put("trace.overhead_frac", overhead / Stats.median(lat), "ratio")
    }
  }
}

object Viewer {

  /** Requests per cycle of the request stream (see Gen.requests). */
  val Cycle = 3

  final case class Prefixes(stageS: Seq[Double], decoded: Long, montaged: Long, blobs: Long, bytes: Long)
  object Prefixes { val empty: Prefixes = Prefixes(Nil, 0L, 0L, 0L, 0L) }

  final case class Served(
    req: Gen.Request,
    rows: Seq[Row],
    latency: Double,
    buildS: Double,
    planS: Double,
    pre: Prefixes,
    failed: Boolean = false
  )

  /** The pixel a request is served at: the requested one, or the grid
    * step when shouldResample rejects it (the raw branch).
    */
  def servePixel(e: Gen.EegRequest): Long =
    if (Timeseries.shouldResample(Gen.Rate, e.pixelUs)) e.pixelUs else Gen.PeriodUs
}
