package graft

import graft.functions.Butterworth
import graft.operators.Filtering
import org.apache.spark.sql.functions._

class FilteringSpec extends SparkSpec {
  import spark.implicits._

  private val cascade = Butterworth.lowPass(4, 250.0, 20.0)

  "applyCascade" should "match the sequential reference filtering per contiguous block" in {
    // two channels; channel a has a gap at t=500 that must reset state
    val rowsA = (0L until 400L).map(i => ("a", i, math.sin(i / 7.0))) ++
      (900L until 1300L).map(i => ("a", i, math.cos(i / 11.0)))
    val rowsB = (0L until 700L).map(i => ("b", i, math.sin(i / 3.0)))
    val df = (rowsA ++ rowsB).zipWithIndex
      .map { case ((c, t, v), i) => (c, t, v, 0L, i.toLong) }
      .toDF("channel", "t", "v", "user_id", "event_id")

    val pad = 40
    val got = Filtering
      .applyCascade(spark, df, cascade, pad, gapUs = 100L)
      .select($"channel", $"t", $"fv")
      .as[(String, Long, Double)]
      .collect()
      .groupBy(_._1)
      .map { case (ch, rs) => ch -> rs.sortBy(_._2).map(_._3) }

    // driver-side expected: sequential filterBlock per contiguous block
    def expected(blocks: Seq[Seq[Double]]): Array[Double] =
      blocks.flatMap(b => Butterworth.filterBlock(cascade, b.toArray, pad)).toArray

    val expA = expected(
      Seq(
        (0L until 400L).map(i => math.sin(i / 7.0)),
        (900L until 1300L).map(i => math.cos(i / 11.0))
      )
    )
    val expB = expected(Seq((0L until 700L).map(i => math.sin(i / 3.0))))

    got("a").zip(expA).foreach { case (g, e) => g shouldBe e +- 1e-12 }
    got("b").zip(expB).foreach { case (g, e) => g shouldBe e +- 1e-12 }
  }

  it should "restart filter state at maxBlockSamples chunk boundaries" in {
    val df = (0L until 1000L).zipWithIndex
      .map { case (t, i) => ("a", t, math.sin(t / 5.0), 0L, i.toLong) }
      .toSeq
      .toDF("channel", "t", "v", "user_id", "event_id")

    val pad = 40
    val got = Filtering
      .applyCascade(spark, df, cascade, pad, gapUs = 100L, maxBlockSamples = 250)
      .select($"t", $"fv")
      .as[(Long, Double)]
      .collect()
      .sortBy(_._1)
      .map(_._2)

    val exp = (0L until 1000L)
      .map(t => math.sin(t / 5.0))
      .grouped(250)
      .flatMap(chunk => Butterworth.filterBlock(cascade, chunk.toArray, pad))
      .toArray

    got.zip(exp).foreach { case (g, e) => g shouldBe e +- 1e-12 }
  }

  it should "stitch blocks across stitch-bucket boundaries exactly like the sequential kernel" in {
    // stitchBucketUs = 400: the fixture crosses several summary
    // buckets with every boundary shape the two-phase stitch must get
    // right: a contiguous block CROSSING a bucket edge (no reset), a
    // gap landing exactly on a bucket's first row, an entirely empty
    // bucket inside a gap (the carry must reach back 2 buckets), and
    // a block that starts mid-bucket after a gap
    val blocks = Seq(
      (0L until 350L).map(i => (i, math.sin(i / 7.0))),          // crosses the 0/400 edge? no: 0-349 in bucket 0
      (350L until 900L).map(i => (i, math.cos(i / 5.0))),        // contiguous with prev (gap 1) — one block 0..899 crossing buckets 0,1,2
      (2000L until 2100L).map(i => (i, math.sin(i / 3.0))),      // gap 1101 µs: empty bucket 3/4 skipped, block restarts at bucket 5
      (2300L until 2700L).map(i => (i, math.cos(i / 9.0)))       // gap 200 > 100: restart exactly near bucket edge
    )
    val rows = blocks.flatten.zipWithIndex
      .map { case ((t, v), i) => ("a", t, v, 0L, i.toLong) }
    val df = rows.toDF("channel", "t", "v", "user_id", "event_id")

    val pad = 40
    val got = Filtering
      .applyCascade(spark, df, cascade, pad, gapUs = 100L, stitchBucketUs = 400L)
      .select($"t", $"fv")
      .as[(Long, Double)]
      .collect()
      .sortBy(_._1)
      .map(_._2)

    // sequential reference: blocks split ONLY by the >100µs gaps —
    // buckets must leave no trace in the output
    val seqBlocks = Seq(
      (0L until 900L).map(i => if (i < 350) math.sin(i / 7.0) else math.cos(i / 5.0)),
      (2000L until 2100L).map(i => math.sin(i / 3.0)),
      (2300L until 2700L).map(i => math.cos(i / 9.0))
    )
    val exp = seqBlocks.flatMap(b => Butterworth.filterBlock(cascade, b.toArray, pad)).toArray
    got.length shouldBe exp.length
    got.zip(exp).foreach { case (g, e) => g shouldBe e +- 1e-12 }
  }

  it should "restart capped chunks consistently when blocks span stitch buckets" in {
    // one long contiguous run across many 300µs stitch buckets with a
    // 150-sample cap: chunk boundaries derive from the GLOBAL position
    // within the block, which crosses bucket summaries
    val df = (0L until 1000L).zipWithIndex
      .map { case (t, i) => ("a", t, math.sin(t / 5.0), 0L, i.toLong) }
      .toSeq
      .toDF("channel", "t", "v", "user_id", "event_id")
    val pad = 40
    val got = Filtering
      .applyCascade(spark, df, cascade, pad, gapUs = 100L, maxBlockSamples = 150, stitchBucketUs = 300L)
      .select($"t", $"fv")
      .as[(Long, Double)]
      .collect()
      .sortBy(_._1)
      .map(_._2)
    val exp = (0L until 1000L)
      .map(t => math.sin(t / 5.0))
      .grouped(150)
      .flatMap(chunk => Butterworth.filterBlock(cascade, chunk.toArray, pad))
      .toArray
    got.zip(exp).foreach { case (g, e) => g shouldBe e +- 1e-12 }
  }

  it should "equal the sequential kernel exactly for every stitch width and block cap" in {
    // the two-phase stitch is a parallelism device: for ANY stitch
    // width and block cap the output must be bit-identical to
    // filterBlock over the sequential (t, event_id)-ordered blocks.
    // Fixture t-shapes, per width in {7, 50, 300, 1000}:
    //  - gaps landing on a bucket's first row (t = 2100, 3000, 5000, 7350, -50)
    //  - runs of empty buckets (3199 → 5000, 5398 → 7000)
    //  - single-row buckets (step 60 at widths 7/50, step 7 at width 7)
    //    and tiny isolated blocks (7000 with its duplicate, 7301 alone)
    //  - a gap of exactly gapUs (2900 → 3000), which is NOT a break
    //  - duplicate t values ordered by a scrambled event_id
    //  - negative t (floor division below zero)
    val gapUs = 100L
    val tsA: Seq[Long] =
      (0L until 700L) ++                     // long contiguous run (caps bite)
        (760L to 1960L by 60L) ++            // sparse but contiguous
        (2100L until 2400L by 3L) ++         // break lands on 2100
        (2400L to 2900L by 50L) ++           // contiguous
        (3000L until 3200L) ++               // step of exactly gapUs: no break
        (5000L until 5400L by 2L) ++         // break after empty buckets
        Seq(7000L, 7301L) ++                 // isolated tiny blocks
        (7350L to 7700L by 7L)               // break on 7350 = 7·1050
    val dupTs = (5000L until 5400L by 24L) ++ Seq(0L, 699L, 2100L, 7000L)
    val tsB: Seq[Long] = (-500L to -200L by 5L) ++ (-50L to 500L by 5L)
    val raw =
      tsA.map(t => ("a", t)) ++ dupTs.map(t => ("a", t)) ++ tsB.map(t => ("b", t))
    val n = raw.length.toLong
    val rows = raw.zipWithIndex.map { case ((ch, t), i) =>
      val eid = (i * 7919L) % n // distinct, scrambled against t order
      (ch, t, math.sin(t / 7.0) + eid / 1024.0, eid)
    }
    val df = rows.toDF("channel", "t", "v", "event_id")
    val pad = 40

    def reference(cap: Int): Map[(String, Long, Double), Double] =
      rows.groupBy(_._1).toSeq.flatMap { case (ch, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._4))
        val blocks = scala.collection.mutable.ArrayBuffer(Vector.empty[(Long, Double)])
        var prev = Option.empty[Long]
        sorted.foreach { case (_, t, v, _) =>
          if (prev.exists(p => t - p > gapUs)) blocks += Vector.empty
          blocks(blocks.length - 1) = blocks.last :+ ((t, v))
          prev = Some(t)
        }
        blocks.toSeq.flatMap { b =>
          val chunks = if (b.length <= cap) Seq(b) else b.grouped(cap).toSeq
          chunks.flatMap { c =>
            val out = Butterworth.filterBlock(cascade, c.map(_._2).toArray, pad)
            c.zip(out).map { case ((t, v), fv) => (ch, t, v) -> fv }
          }
        }
      }.toMap

    for (cap <- Seq(Int.MaxValue, 1 << 22, 37, 150)) {
      val exp = reference(cap)
      exp.size shouldBe rows.length
      for (width <- Seq(1L << 60, 7L, 50L, 300L, 1000L, 86400000000L)) {
        val got = Filtering
          .applyCascade(spark, df, cascade, pad, gapUs, maxBlockSamples = cap, stitchBucketUs = width)
          .as[(String, Long, Double, Double)]
          .collect()
        withClue(s"stitchBucketUs=$width maxBlockSamples=$cap:") {
          got.length shouldBe exp.size
          got.foreach { case (ch, t, v, fv) => fv shouldBe exp((ch, t, v)) }
        }
      }
    }
  }

  "tsButterworth" should "produce one output row per input row" in {
    val out = Filtering.tsButterworth(spark, sfDir)
    out.count() shouldBe Tables.ts(spark, sfDir).count()
    out.filter(col("fv").isNull).count() shouldBe 0L
  }

  "tsMontageFilter" should "filter montaged virtual channels identically to the sequential kernel" in {
    val got = Filtering
      .tsMontageFilter(spark, sfDir)
      .as[(String, Long, Double)]
      .collect()
    got.length should be > 0

    // sequential expectation: per virtual channel, split the montage
    // grid at the chain's gap threshold (one grid step; a single
    // missing bucket resets), filterBlock each block
    val gapUs = graft.operators.Timeseries.BucketUs
    val mont = graft.operators.Timeseries
      .tsMontageAligned(spark, sfDir)
      .select($"channel", $"t", $"v")
      .as[(String, Long, Double)]
      .collect()
      .groupBy(_._1)
    val expected = mont.flatMap { case (ch, rows) =>
      val sorted = rows.sortBy(_._2)
      val blocks = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])
      var prev = Long.MinValue
      sorted.foreach { case (_, t, v) =>
        if (prev != Long.MinValue && t - prev > gapUs)
          blocks += scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        blocks.last += ((t, v))
        prev = t
      }
      blocks.flatMap { b =>
        val out = Butterworth.filterBlock(Filtering.FixedCascade, b.map(_._2).toArray, Filtering.FixedPad)
        b.zip(out).map { case ((t, _), fv) => (ch, t) -> fv }
      }
    }.toMap

    got.length shouldBe expected.size
    got.foreach { case (ch, t, fv) => fv shouldBe expected((ch, t)) +- 1e-6 }
  }

  "hotPathWire" should "emit byte-exact wire frames for the composed chain" in {
    // golden end-to-end: range-restricted grid → montage → Butterworth
    // → downsample → fillGaps → Segment → protobuf, with the expected
    // bytes built from the SEQUENTIAL kernels (filterBlock is
    // golden-checked against the reference FilterSpec; the proto
    // encoder against golden bytes) and hand-applied bucket algebra
    val bucketUs = 10L
    val n = 32
    val rows = (0 until n).flatMap(i => Seq(("L", i * 10L, i.toDouble), ("S", i * 10L, 0.25)))
    val df = rows.zipWithIndex
      .map { case ((c, t, v), i) => (c, t, v, 0L, i.toLong) }
      .toDF("channel", "t", "v", "user_id", "event_id")

    val out = Filtering
      .hotPathWire(spark, df, Seq(("L", "S")), bucketUs, pixelUs = 40L)
      .as[(String, Long, Int, Array[Byte])]
      .collect()
    out.length shouldBe 1
    val (ch, startTs, nr, wire) = out.head
    ch shouldBe "L<->S"
    startTs shouldBe 0L
    nr shouldBe 8

    // expected: virtual channel = L − S on the grid, one contiguous
    // block through the cascade, rounded 6 (HALF_UP like Spark round)
    val diffs = (0 until n).map(i => i.toDouble - 0.25).toArray
    val filt = Butterworth
      .filterBlock(Filtering.FixedCascade, diffs, Filtering.FixedPad)
      .map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // pixel = 4 grid steps (shouldResample ratio 4 > 3) → min/max per 4
    val buckets = filt.grouped(4).map(g => (g.min, g.max)).toVector
    // fillGaps: stretch each bucket's band to meet a disjoint successor
    val filled = buckets.zipWithIndex.map { case ((lo, hi), i) =>
      val nxt = if (i + 1 < buckets.length) Some(buckets(i + 1)) else None
      (
        nxt.filter(nb => lo > nb._2).map(_._2).getOrElse(lo),
        nxt.filter(nb => hi < nb._1).map(_._1).getOrElse(hi)
      )
    }
    val expSeg = graft.streaming.RealtimeResample.Segment(
      source = "L<->S",
      startTs = 0L,
      samplePeriod = 40.0,
      requestedSamplePeriod = 40L,
      isMinMax = true,
      segmentType = "continuous",
      nrPoints = 8,
      data = filled.flatMap { case (lo, hi) => Seq(lo, hi) }
    )
    wire shouldBe graft.sources.SegmentProto.encodeTimeSeriesMessage(expSeg)
  }

  it should "fall back to the raw-grain serve when shouldResample rejects the pixel" in {
    val rows = (0 until 32).flatMap(i => Seq(("L", i * 10L, i.toDouble), ("S", i * 10L, 0.25)))
    val df = rows.zipWithIndex
      .map { case ((c, t, v), i) => (c, t, v, 0L, i.toLong) }
      .toDF("channel", "t", "v", "user_id", "event_id")
    // 2 grid steps per pixel → ratio 2 < 3 → serve at the grid step:
    // one sample per bucket, the min/max band degenerates to the stream
    val out = Filtering
      .hotPathWire(spark, df, Seq(("L", "S")), bucketUs = 10L, pixelUs = 20L)
      .as[(String, Long, Int, Array[Byte])]
      .collect()
    out.length shouldBe 1
    out.head._3 shouldBe 32
  }
}
