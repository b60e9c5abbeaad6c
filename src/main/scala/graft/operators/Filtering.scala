package graft.operators

import graft.Tables
import graft.functions.Butterworth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed application of per-channel IIR (Butterworth) filters —
  * the reference's streaming filter path re-expressed block-parallel.
  *
  * Reference semantics (query/TimeSeriesQueryRawHttp.scala:150-313):
  * the filter runs sequentially per channel, but RESETS whenever the
  * next block of data is not contiguous with the last (gap > threshold),
  * and re-warms from a clean state by filtering a reflected copy of the
  * block's first `padLength` samples before emitting. That reset policy
  * is exactly what licenses parallelism: every contiguous block is an
  * independent unit of sequential work.
  *
  * Scale design (100 TB): block assignment is TWO-PHASE and reads its
  * input once. A typed local pass per (channel, time-bucket) numbers
  * rows, counts gap breaks after the bucket's first row and remembers
  * the latest one; a single per-bucket summary (one row per non-empty
  * bucket) settles each bucket's first-row break and carries row,
  * block and break-start prefixes across buckets via per-channel
  * windows over that tiny relation, broadcast back (the same stitch
  * Timeseries' two-phase operators use) — so NO task ever sorts a
  * whole channel. Because the typed pass deserializes every column,
  * the summary and the join back consume one shuffle of the input.
  * Block length is capped at `maxBlockSamples` (oversized contiguous
  * runs restart with the same reflected-prewarm policy the reference
  * applies at resets, bounding executor memory); the blocks then
  * shuffle by (channel, block, chunk) so thousands of blocks filter
  * concurrently regardless of channel skew. The IIR kernel is the one
  * genuinely sequential computation in the engine, so it runs in typed
  * flatMapSortedGroups rather than Catalyst expressions.
  */
object Filtering {

  /** Apply a designed cascade to ts(channel, t, v): per contiguous
    * block (split where t - prev_t > gapUs), reset + reflect-prewarm +
    * filter. Emits (channel, t, v, fv). A null t or v is a missing
    * sample: it emits no row and blocks split on the gaps that remain.
    *
    * `stitchBucketUs` is the two-phase summary granularity — it must be
    * coarse enough that each bucket holds many samples (the summary is
    * one row per non-empty bucket) and is purely a parallelism knob:
    * results are identical for any width.
    */
  def applyCascade(
    spark: SparkSession,
    tsIn: DataFrame,
    cascade: Butterworth.Cascade,
    padLength: Int,
    gapUs: Long,
    maxBlockSamples: Int = 1 << 22,
    stitchBucketUs: Long = 86400000000L
  ): DataFrame = {
    import spark.implicits._

    // sources without per-row ids (blob-decoded uniform-rate data) get
    // a constant tie-break; t is unique per channel there
    val ts =
      if (tsIn.columns.contains("event_id")) tsIn
      else tsIn.withColumn("event_id", lit(0L))

    // Local pass per (channel, bucket) in (t, event_id) order: the row
    // number, the block index counting only breaks AFTER the bucket's
    // first row, and the row number of the latest such break.
    // Whether the first row itself breaks needs the previous bucket's
    // last t, which the summary settles. Missing samples drop here
    // rather than in a Catalyst filter: a pushed-down isnotnull would
    // land on one side of an upstream montage join only, and the two
    // sides would stop sharing their grid aggregate.
    val local = ts
      .select($"channel", $"t", $"v", $"event_id")
      .as[(String, Option[Long], Option[Double], Long)]
      .groupByKey { case (ch, t, _, _) => (ch, t.map(Math.floorDiv(_, stitchBucketUs))) }
      .flatMapSortedGroups($"t", $"event_id") { case ((ch, bkt), rows) =>
        var rn = 0L
        var blk = 0L
        var brkRow = Option.empty[Long]
        var prevT = 0L
        rows.collect { case (_, Some(t), Some(v), id) =>
          rn += 1
          if (rn > 1 && t - prevT > gapUs) { blk += 1; brkRow = Some(rn) }
          prevT = t
          (ch, bkt.get, t, v, id, rn, blk, brkRow)
        }
      }
      .toDF("channel", "__bkt", "t", "v", "event_id", "__rnl", "__blkl", "__bsrnl")

    // Summary: per-bucket totals, then per-channel windows over the tiny
    // summary. The first row breaks when the previous non-empty bucket's
    // last t lies more than gapUs before it. Prefixes over preceding
    // buckets globalize row numbers and block ids; the carry is the
    // global row number of the latest break before the bucket, where a
    // block that began in an earlier bucket starts (asofJoin's carry
    // trick). Window expressions are aliased directly (PlanSpec's __pb_
    // marker on the Window node); nulls from empty frames coalesce.
    val wSum = Window.partitionBy($"channel").orderBy($"__bkt")
    val wSumPrev = wSum.rowsBetween(Window.unboundedPreceding, -1)
    // global row number of the bucket's first row when that row breaks
    val firstBrk = when($"__brk0" === 1L, $"__rnprefix" + 1L)
    val summary = local
      .groupBy($"channel", $"__bkt")
      .agg(
        max($"__rnl").as("__cnt"),
        min($"t").as("__first_t"),
        max($"t").as("__last_t"),
        max($"__blkl").as("__blks"),
        max($"__bsrnl").as("__mbr")
      )
      .withColumn("__pb_prev_t", lag($"__last_t", 1).over(wSum))
      .withColumn("__brk0", when($"__first_t" - $"__pb_prev_t" > gapUs, 1L).otherwise(0L))
      .withColumn("__pb_rnprefix0", sum($"__cnt").over(wSumPrev))
      .withColumn("__pb_blkprefix0", sum($"__blks" + $"__brk0").over(wSumPrev))
      .withColumn("__rnprefix", coalesce($"__pb_rnprefix0", lit(0L)))
      .withColumn("__gbr", coalesce($"__mbr" + $"__rnprefix", firstBrk))
      .withColumn("__pb_carry", last($"__gbr", ignoreNulls = true).over(wSumPrev))
      .select(
        $"channel",
        $"__bkt",
        $"__rnprefix",
        (coalesce($"__pb_blkprefix0", lit(0L)) + $"__brk0").as("__blkoff"),
        // block-start row of the rows before the first in-bucket break
        coalesce(firstBrk, $"__pb_carry").as("__start0")
      )

    // cap contiguous-run length: chunk restarts filter state with the
    // reference's reset+prewarm policy. Within-block position = global
    // row number − the block's first row number (its latest break, or
    // the channel's first row when no break precedes).
    val chunkCol =
      if (maxBlockSamples == Int.MaxValue) lit(0L)
      else {
        val rn = $"__rnl" + $"__rnprefix"
        val blockStart = coalesce($"__bsrnl" + $"__rnprefix", $"__start0", lit(1L))
        ((rn - blockStart) / maxBlockSamples).cast("long")
      }
    val withBlocks = local
      .join(broadcast(summary), Seq("channel", "__bkt"))
      .withColumn("block", $"__blkl" + $"__blkoff")
      .withColumn("chunk", chunkCol)
      .select($"channel", $"block", $"chunk", $"t", $"v", $"event_id")
      .as[(String, Long, Long, Long, Double, Long)]

    val bcCascade = spark.sparkContext.broadcast(cascade)
    withBlocks
      .groupByKey { case (ch, blk, chk, _, _, _) => (ch, blk, chk) }
      .flatMapSortedGroups($"t", $"event_id") { case ((ch, _, _), rows) =>
        val arr = rows.toArray
        val data = new Array[Double](arr.length)
        var i = 0
        while (i < arr.length) { data(i) = arr(i)._5; i += 1 }
        val out = Butterworth.filterBlock(bcCascade.value, data, padLength)
        arr.iterator.zipWithIndex.map { case ((_, _, _, t, v, _), j) => (ch, t, v, out(j)) }
      }
      .toDF("channel", "t", "v", "fv")
  }

  // ---------------------------------------------------------------------
  // Fixed driver query (rows-only: IIR recursion is not ANSI-SQL
  // expressible; correctness is covered by ButterworthSpec golden values
  // and FilteringSpec's sequential-equivalence check)
  // ---------------------------------------------------------------------

  /** Design used by the fixed query: the reference FilterSpec's notch
    * filter, bandstop(order 4, rate 250, center 50, width 3); pad from
    * the reference transient estimate with maxFilterFreq = 50 + 3.
    */
  val FixedCascade: Butterworth.Cascade = Butterworth.bandStop(4, 250.0, 50.0, 3.0)
  val FixedPad: Int = Butterworth.transientLength(4, 53.0, 250.0)

  def tsButterworth(spark: SparkSession, dir: String): DataFrame =
    applyCascade(
      spark,
      Tables.ts(spark, dir),
      FixedCascade,
      FixedPad,
      Timeseries.GapUs
    ).select(col("channel"), col("t"), round(col("fv"), 6).as("fv"))
      .orderBy(col("channel"), col("t"))

  /** Montage→filter chain: virtual channels (lead − secondary on the
    * aligned sample grid) flow straight into the Butterworth cascade —
    * the reference's filtered-montage streaming path applies the same
    * filter flow to montaged output as to raw channels
    * (query/TimeSeriesQueryRawHttp.scala:326-334). The montage output
    * (channel, t, v) IS applyCascade's input contract, so composition
    * is a function call: no re-keying, the filter blocks shuffle by the
    * virtual channel exactly as they would for physical ones. Gap
    * threshold is ONE grid step (applyCascade splits on t−prev >
    * gapUs, strictly): consecutive hourly grid points sit exactly
    * BucketUs apart and stay contiguous, while a single missing bucket
    * (2·BucketUs) resets filter state.
    */
  def tsMontageFilter(spark: SparkSession, dir: String): DataFrame =
    applyCascade(
      spark,
      Timeseries.tsMontageAligned(spark, dir),
      FixedCascade,
      FixedPad,
      gapUs = Timeseries.BucketUs
    ).select(col("channel"), col("t"), round(col("fv"), 6).as("fv"))
      .orderBy(col("channel"), col("t"))

  // ---------------------------------------------------------------------
  // The reference's actual serving workload composed end to end
  // ---------------------------------------------------------------------

  /** The reference hot path — what one websocket request actually
    * costs — as ONE chain: time-range read → grid montage (virtual
    * channels) → Butterworth cascade → shouldResample decision →
    * min/max downsample → fillGaps render pass → Segment assembly →
    * protobuf wire frames (server/TimeSeriesFlow.scala's
    * request-to-frame flow, batch-expressed). Returns one row per
    * emitted Segment with its exact wire bytes.
    *
    * The resample decision is the reference's per-request branch
    * (query/BaseTimeSeriesQuery.scala:58-96): the virtual channels
    * live on the `bucketUs` grid, so their rate is 1e6/bucketUs;
    * when `shouldResample` rejects (under ~3 samples per pixel) the
    * serve falls back to pixel = grid step, where each bucket holds
    * exactly one sample and the min/max band degenerates to the raw
    * stream — the raw branch in the same segment vocabulary.
    *
    * Scale shape: range prunes at the scan; the chain's data-grain
    * shuffles are the grid aggregation, the montage equi-join, the
    * filter's block shuffle, and the downsample aggregation — each
    * keyed by (channel, time), none corpus-global; everything after
    * the downsample is pixel-scale by construction (the SegmentSink
    * argument).
    */
  def hotPathWire(
    spark: SparkSession,
    tsIn: DataFrame,
    pairs: Seq[(String, String)],
    bucketUs: Long,
    pixelUs: Long,
    cascade: Butterworth.Cascade = FixedCascade,
    padLength: Int = FixedPad
  ): DataFrame = {
    import spark.implicits._
    val virt = Timeseries.montageAlignedGrid(spark, tsIn, pairs, bucketUs)
    val filtered = applyCascade(spark, virt, cascade, padLength, gapUs = bucketUs)
      .select(col("channel"), col("t"), round(col("fv"), 6).as("v"))
    val rate = 1e6 / bucketUs.toDouble
    val servePixel = if (Timeseries.shouldResample(rate, pixelUs)) pixelUs else bucketUs
    val down = Timeseries.downsample(filtered, servePixel)
    graft.sources.SegmentSink
      .toSegments(spark, down, servePixel, fillContinuity = true)
      .map(s => (s.source, s.startTs, s.nrPoints, graft.sources.SegmentProto.encodeTimeSeriesMessage(s)))
      .toDF("channel", "start_ts", "nr_points", "wire")
  }

  /** Fixed request window (first ~15 days of the event month) — the
    * [range] stage; pushed into the parquet scan as a t predicate.
    */
  val HotpathRangeStartUs: Long = 1704067200000000L
  val HotpathRangeEndUs: Long = 1705363200000000L

  /** 4 grid steps per pixel → shouldResample(1e6/BucketUs, pixel) is
    * true (ratio 4 > 3): the fixed request serves the downsampled
    * branch, like the reference's default zoomed-out view.
    */
  val HotpathPixelUs: Long = 4L * Timeseries.BucketUs

  /** The composed chain as a driver query: wire frames summarized to
    * (channel, start_ts, nr_points, wire length, wire md5) — rows-only
    * (the IIR stage is not ANSI-SQL-expressible; byte-exactness is
    * carried by the end-to-end golden spec against the sequential
    * kernels).
    */
  def tsHotpath(spark: SparkSession, dir: String): DataFrame =
    hotPathWire(
      spark,
      Tables
        .ts(spark, dir)
        .filter(col("t") >= HotpathRangeStartUs && col("t") < HotpathRangeEndUs),
      Timeseries.MontagePairs,
      Timeseries.BucketUs,
      HotpathPixelUs
    ).select(
      col("channel"),
      col("start_ts"),
      col("nr_points"),
      length(col("wire")).as("wire_bytes"),
      md5(col("wire")).as("wire_md5")
    ).orderBy(col("channel"), col("start_ts"))
}
