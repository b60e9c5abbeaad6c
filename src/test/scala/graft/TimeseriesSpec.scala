package graft

import graft.operators.Timeseries
import org.apache.spark.sql.functions._

class TimeseriesSpec extends SparkSpec {
  import spark.implicits._

  private def mkTs(rows: Seq[(String, Long, Double)]) =
    rows
      .zipWithIndex
      .map { case ((c, t, v), i) => (c, t, v, 0L, i.toLong) }
      .toDF("channel", "t", "v", "user_id", "event_id")

  "contiguousSpans" should "merge reference contig example: ((1,4),(5,8),(10,12),(13,18)) @ gap 2 -> ((1,8),(10,18))" in {
    // Reference behavior: query/TimeSeriesQueryUtils.scala `contig`
    // (split when gap >= threshold, combine at :316), asserted in
    // ResamplingSpec ("filtering contiguous segments"): intervals
    // (1,4)(5,8) merge (gap 1 < 2), (8)->(10) splits (gap 2 >= 2).
    // Point-sample analog: unit steps inside spans, gap 2 between them.
    val samples = (1L to 8L) ++ (10L to 18L)
    val df = mkTs(samples.map(t => ("ch", t, 1.0)))
    val spans = Timeseries
      .contiguousSpans(df, gapUs = 2L)
      .orderBy("span_id")
      .select("span_start", "span_end")
      .as[(Long, Long)]
      .collect()
      .toList
    spans shouldBe List((1L, 8L), (10L, 18L))
  }

  it should "split mixed-rate channels at their own rate-driven thresholds" in {
    // reference timeGapThreshold = floor(gapMultiple * 1e6 / rate)
    // (query/TimeSeriesQueryUtils.scala:333-335): at gapMultiple=2 a
    // 1000 Hz channel splits at >= 2000 µs while a 10 Hz channel
    // tolerates up to 200 ms — the SAME 5 ms hole in both channels
    // must split only the fast one
    val fast = Seq(0L, 1000L, 2000L, 7000L, 8000L).map(t => ("fast", t, 1.0))
    val slow = Seq(0L, 100000L, 200000L, 205000L, 305000L).map(t => ("slow", t, 1.0))
    val rates = Seq(("fast", 1000.0), ("slow", 10.0)).toDF("channel", "rate")
    val spans = Timeseries
      .contiguousSpans(mkTs(fast ++ slow), rates, gapMultiple = 2.0)
      .orderBy("channel", "span_id")
      .select("channel", "span_start", "span_end")
      .as[(String, Long, Long)]
      .collect()
      .toList
    spans shouldBe List(
      ("fast", 0L, 2000L),
      ("fast", 7000L, 8000L),
      ("slow", 0L, 305000L)
    )
  }

  "downsample" should "produce per-bucket min/max covering all rows" in {
    val df = Tables.ts(spark, sfDir)
    val ds = Timeseries.downsample(df, Timeseries.BucketUs)
    ds.agg(sum("n")).as[Long].head() shouldBe df.count()
    ds.filter(col("vmin") > col("vmax")).count() shouldBe 0L
  }

  "resampleChunks" should "emit only full chunks like the reference (grouped(n).take(floor(total/n)))" in {
    val df = mkTs((1L to 250L).map(t => ("ch", t, t.toDouble)))
    val chunks = Timeseries.resampleChunks(df, 100).orderBy("chunk").collect()
    chunks.length shouldBe 2 // 250 samples -> 2 full chunks, remainder dropped
    chunks.map(_.getAs[Long]("n")).toSet shouldBe Set(100L)
    chunks.head.getAs[Double]("cmin") shouldBe 1.0
    chunks.head.getAs[Double]("cmax") shouldBe 100.0
  }

  "resampleChunksUniform" should "match the sorted path on uniform-rate data without any window sort" in {
    val period = 4000L
    val df = mkTs((0L until 250L).map(i => ("ch", 1000000L + i * period, math.cos(i / 5.0))))
    val uniform = Timeseries
      .resampleChunksUniform(df, t0Us = 1000000L, periodUs = period, chunkSize = 100)
      .orderBy("chunk")
      .select("chunk", "cmin", "cmax", "n")
      .as[(Long, Double, Double, Long)]
      .collect()
      .toList
    val sorted = Timeseries
      .resampleChunks(df, 100)
      .orderBy("chunk")
      .select("chunk", "cmin", "cmax", "n")
      .as[(Long, Double, Double, Long)]
      .collect()
      .toList
    uniform shouldBe sorted
    // and the plan must contain no Window (pure agg)
    Timeseries
      .resampleChunksUniform(df, 1000000L, period, 100)
      .queryExecution
      .optimizedPlan
      .collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w } shouldBe empty
  }

  "montage" should "subtract secondary from lead per bucket" in {
    val df = mkTs(
      Seq(("a", 10L, 5.0), ("a", 20L, 7.0), ("b", 15L, 2.0), ("b", 25L, 2.0))
    )
    val m = Timeseries.montage(spark, df, Seq(("a", "b")), bucketUs = 100L).collect()
    m.length shouldBe 1
    m.head.getAs[String]("channel") shouldBe "a<->b"
    m.head.getAs[Double]("v") shouldBe 4.0 // avg(5,7) - avg(2,2)
  }

  "montageAligned" should "subtract at exact shared timestamps only" in {
    val df = mkTs(
      Seq(("a", 10L, 5.0), ("a", 20L, 7.0), ("a", 30L, 1.0), ("b", 10L, 2.0), ("b", 30L, 4.0))
    )
    val m = Timeseries
      .montageAligned(spark, df, Seq(("a", "b")))
      .orderBy("t")
      .select("channel", "t", "v")
      .as[(String, Long, Double)]
      .collect()
      .toList
    // t=20 has no b sample -> dropped; t=10: 5-2, t=30: 1-4
    m shouldBe List(("a<->b", 10L, 3.0), ("a<->b", 30L, -3.0))
  }

  "asofJoin" should "match a brute-force as-of join on real data" in {
    val ts = Tables.ts(spark, sfDir)
    val left = ts.filter($"channel" === "click").select($"event_id", $"t", $"v")
    val right = ts.filter($"channel" === "error").groupBy($"t").agg(avg($"v").as("rv"))

    val fast = Timeseries
      .asofJoin(left, right, Timeseries.BucketUs)
      .select($"event_id", $"rv")
      .as[(Long, Option[Double])]
      .collect()
      .toMap

    val rightRows = right.as[(Long, Double)].collect().sortBy(_._1)
    val leftRows = left.select($"event_id", $"t").as[(Long, Long)].collect()
    leftRows.length should be > 0
    leftRows.foreach { case (id, t) =>
      val expected = rightRows.takeWhile(_._1 <= t).lastOption.map(_._2)
      fast.getOrElse(id, None) shouldBe expected
    }
  }

  "eventBins" should "use integer (min+max)/2 for avgTime like EventSummary.avgTime" in {
    val df = mkTs(Seq(("ch", 1L, 0.0), ("ch", 4L, 0.0)))
    val bins = Timeseries.eventBins(df, 100L).collect()
    bins.head.getAs[Long]("avg_time") shouldBe 2L // (1+4)/2 integer
  }

  "spikes" should "detect rising crossings only" in {
    val df = mkTs(
      Seq(("ch", 1L, 50.0), ("ch", 2L, 150.0), ("ch", 3L, 160.0), ("ch", 4L, 50.0), ("ch", 5L, 170.0))
    )
    val s = Timeseries.spikes(df, 100.0).orderBy("t").as[(String, Long, Double)].collect()
    s.map(_._2).toList shouldBe List(2L, 5L)
  }

  "mergeAnnotationSpans" should "merge overlapping spans into islands" in {
    val spans = Seq(
      ("ch", 1L, 10L),
      ("ch", 5L, 12L),
      ("ch", 20L, 30L),
      ("ch", 25L, 26L),
      ("ch", 40L, 41L)
    ).toDF("channel", "s", "e")
    val merged = Timeseries
      .mergeAnnotationSpans(spans)
      .orderBy("island")
      .select("span_start", "span_end", "n")
      .as[(Long, Long, Long)]
      .collect()
      .toList
    merged shouldBe List((1L, 12L, 2L), (20L, 30L, 2L), (40L, 41L, 1L))
  }

  "fillGaps" should "reproduce the reference's continuity-fill vectors" in {
    // golden vectors from the reference's own TimeSeriesRequestSpec
    // ("filling gaps in a sequence should leave no gaps"),
    // reference query/TimeSeriesQueryUtils.scala:77-112
    def fill(pairs: Seq[(Double, Double)]): List[(Double, Double)] = {
      val df = pairs.zipWithIndex
        .map { case ((mn, mx), i) => ("ch", i.toLong, mn, mx) }
        .toDF("channel", "bucket", "vmin", "vmax")
      Timeseries
        .fillGaps(df)
        .orderBy("bucket")
        .select("vmin", "vmax")
        .as[(Double, Double)]
        .collect()
        .toList
    }
    val goodSeq = Seq((0.0, 1.0), (1.0, 2.0), (2.0, 3.0), (3.0, 4.0))
    fill(goodSeq) shouldBe goodSeq.toList
    fill(Seq((0.0, 1.0), (1.1, 2.0), (2.1, 3.0), (3.1, 4.0))) shouldBe
      List((0.0, 1.1), (1.1, 2.1), (2.1, 3.1), (3.1, 4.0))
    fill(Seq((3.0, 4.0), (2.0, 2.9))) shouldBe List((2.9, 4.0), (2.0, 2.9))
    fill(Seq((1.0, 10.0), (2.0, 9.0))) shouldBe List((1.0, 10.0), (2.0, 9.0))
    fill(Seq((2.0, 9.0), (1.0, 10.0))) shouldBe List((2.0, 9.0), (1.0, 10.0))
    // channels fill independently; a single bucket is untouched
    fill(Seq((5.0, 6.0))) shouldBe List((5.0, 6.0))
  }

  "shouldResample" should "require more than 3 datapoints per pixel (reference ratio)" in {
    // reference: query/TimeSeriesQueryUtils.scala:175-182
    Timeseries.shouldResample(rate = 250.0, microsecondsPerPixel = 4000) shouldBe false // ratio 1
    Timeseries.shouldResample(rate = 250.0, microsecondsPerPixel = 12000) shouldBe false // ratio 3
    Timeseries.shouldResample(rate = 250.0, microsecondsPerPixel = 12001) shouldBe true
  }

  /** Compares the three two-phase operators against straight sequential
    * single-pass references on arbitrary (channel, t, v) rows.
    */
  private def assertTwoPhaseMatchesSequential(rows: Seq[(String, Long, Double)]): Unit = {
    val B = Timeseries.StitchBucketUs
    val df = mkTs(rows)

    // sequential references
    def seqByChannel[T](f: Seq[(Long, Double, Long)] => T): Map[String, T] =
      rows.zipWithIndex
        .map { case ((c, t, v), i) => (c, t, v, i.toLong) }
        .groupBy(_._1)
        .map { case (c, rs) => c -> f(rs.map(r => (r._2, r._3, r._4)).sortBy(r => (r._1, r._3))) }

    // gaps at threshold B/2: expected spans from a straight scan
    val expSpans = seqByChannel { rs =>
      val ts = rs.map(_._1)
      val spans = scala.collection.mutable.ListBuffer[(Long, Long, Long)]()
      var start = ts.head
      var prev = ts.head
      var n = 0L
      for (t <- ts) {
        if (t - prev >= B / 2) { spans += ((start, prev, n)); start = t; n = 0L }
        prev = t
        n += 1
      }
      spans += ((start, prev, n))
      spans.toList
    }
    val gotSpans = Timeseries
      .contiguousSpans(df, B / 2)
      .orderBy("channel", "span_id")
      .select("channel", "span_start", "span_end", "n")
      .as[(String, Long, Long, Long)]
      .collect()
      .toList
      .groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(r => (r._2, r._3, r._4)) }
    gotSpans shouldBe expSpans

    // spikes at threshold 55: prev-v must cross bucket holes
    val expSpikes = seqByChannel { rs =>
      rs.zip(rs.drop(1)).collect { case ((_, pv, _), (t, v, _)) if v > 55.0 && pv <= 55.0 => (t, v) }.toList
    }
    val gotSpikes = Timeseries
      .spikes(df, 55.0)
      .orderBy("channel", "t", "v")
      .as[(String, Long, Double)]
      .collect()
      .toList
      .groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(r => (r._2, r._3)).sortBy(identity) }
    gotSpikes shouldBe expSpikes.map { case (c, l) => c -> l.sortBy(identity) }.filter(_._2.nonEmpty)

    // chunked resample (chunk = 4): global row numbers must be exact
    // across buckets or chunk contents shift
    val expChunks = seqByChannel { rs =>
      rs.map(_._2).grouped(4).zipWithIndex.collect {
        case (g, i) if g.length == 4 => (i.toLong, g.min, g.max)
      }.toList
    }.filter(_._2.nonEmpty)
    val gotChunks = Timeseries
      .resampleChunks(df, 4)
      .orderBy("channel", "chunk")
      .select("channel", "chunk", "cmin", "cmax")
      .as[(String, Long, Double, Double)]
      .collect()
      .toList
      .groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(r => (r._2, r._3, r._4)) }
    gotChunks shouldBe expChunks
  }

  "two-phase stitching" should "match sequential single-window semantics across 1h stitch buckets" in {
    // curated boundary shapes: samples exactly ON bucket edges, empty
    // buckets mid-stream (carry reaches back >1 bucket), duplicate
    // timestamps at a boundary, channels with different occupancy
    val B = Timeseries.StitchBucketUs
    val tsA = Seq(
      0L, 10L, B - 1, B, B + 1, // dense run across the 0/1 edge
      3 * B, 3 * B + 5, // buckets 1(tail)/2 empty → carry skips
      3 * B + 5, // duplicate timestamp
      6 * B - 1, 6 * B // edge-straddling pair after another hole
    )
    val tsB = Seq(B + 2, B + 3, 5 * B)
    assertTwoPhaseMatchesSequential(
      tsA.zipWithIndex.map { case (t, i) => ("a", t, math.sin(i.toDouble) * 50) } ++
        tsB.zipWithIndex.map { case (t, i) => ("b", t, i * 60.0) }
    )
  }

  it should "match sequential semantics on seeded random multi-bucket channels" in {
    // randomized coverage beyond the curated shapes: 8 channels with
    // varying density over 0..8 buckets, duplicate timestamps likely;
    // fixed seed keeps the case reproducible
    val rnd = new scala.util.Random(20260812L)
    val B = Timeseries.StitchBucketUs
    val rows = (0 until 8).flatMap { c =>
      val n = 30 + rnd.nextInt(120)
      Seq.fill(n)(
        (s"ch$c", (rnd.nextDouble() * 8 * B).toLong / 1000L * 1000L, rnd.nextGaussian() * 60)
      )
    }
    assertTwoPhaseMatchesSequential(rows)
  }

  "stitchBucketUs" should "be a pure parallelism knob — identical results at any width" in {
    val B = Timeseries.StitchBucketUs
    val rows = Seq(
      ("a", 0L, 1.0), ("a", 10L, 120.0), ("a", B, 2.0), ("a", 3 * B, 130.0), ("a", 3 * B + 1, 1.0),
      ("b", B + 2, 50.0), ("b", 5 * B, 140.0)
    )
    val df = mkTs(rows)
    for (width <- Seq(B / 7, B, 5 * B)) {
      Timeseries
        .contiguousSpans(df, B / 2, width)
        .orderBy("channel", "span_id")
        .collect()
        .toList shouldBe Timeseries.contiguousSpans(df, B / 2).orderBy("channel", "span_id").collect().toList
      Timeseries
        .spikes(df, 100.0, width)
        .orderBy("channel", "t")
        .collect()
        .toList shouldBe Timeseries.spikes(df, 100.0).orderBy("channel", "t").collect().toList
      Timeseries
        .resampleChunks(df, 2, width)
        .orderBy("channel", "chunk")
        .collect()
        .toList shouldBe Timeseries.resampleChunks(df, 2).orderBy("channel", "chunk").collect().toList
    }
    // span merge: islands crossing stitch-bucket boundaries (span from
    // bucket 0 covering bucket 1's spans) must merge identically at
    // any width — the cross-bucket prefix-max carry is what's under test
    val spans = Seq(
      ("a", 0L, 3 * B + 5L), ("a", B + 1L, B + 2L), ("a", 2 * B, 2 * B + 1L),
      ("a", 3 * B + 6L, 3 * B + 7L), ("a", 4 * B, 5 * B),
      ("b", 10L, B), ("b", B, 2 * B), ("b", 3 * B, 3 * B + 1L)
    ).toDF("channel", "s", "e")
    val refSpans = Timeseries
      .mergeAnnotationSpans(spans, 1L << 60)
      .orderBy("channel", "island")
      .collect()
      .toList
    for (width <- Seq(7L, B / 7, B, 5 * B)) {
      Timeseries
        .mergeAnnotationSpans(spans, width)
        .orderBy("channel", "island")
        .collect()
        .toList shouldBe refSpans
    }
  }

  "autoResample" should "pick raw vs min/max per channel from the rate catalog" in {
    // fast: 10 samples/pixel → resample; slow: 1 sample per 2 pixels → raw
    val pixel = 1000000L
    val fast = (0 until 100).map(i => ("fast", i * 100000L, i.toDouble))
    val slow = (0 until 10).map(i => ("slow", i * 2000000L, i.toDouble))
    val ts = (fast ++ slow).toDF("channel", "t", "v")
    val rates = Seq(("fast", 10.0), ("slow", 0.5)).toDF("channel", "rate")
    val out = Timeseries.autoResample(ts, rates, pixel)

    val fastRows = out
      .filter($"channel" === "fast")
      .orderBy("t")
      .select("mode", "t", "vmin", "vmax", "n")
      .as[(String, Long, Double, Double, Long)]
      .collect()
      .toList
    fastRows.map(_._1).distinct shouldBe List("resampled")
    fastRows.length shouldBe 10 // 100 samples / 10 per pixel
    fastRows.head shouldBe (("resampled", 0L, 0.0, 9.0, 10L))

    val slowRows = out
      .filter($"channel" === "slow")
      .orderBy("t")
      .select("mode", "t", "vmin", "vmax", "n")
      .as[(String, Long, Double, Double, Long)]
      .collect()
      .toList
    slowRows.map(_._1).distinct shouldBe List("raw")
    slowRows.length shouldBe 10
    slowRows.foreach { case (_, t, mn, mx, n) =>
      mn shouldBe mx
      n shouldBe 1L
      t % 2000000L shouldBe 0L
    }
  }

  it should "route single-sample and zero-span channels to raw instead of erroring" in {
    // (n-1)/span would be 0/0 here; deriveRates must yield 0 (=> raw)
    val ts = Seq(("solo", 100L, 7.0), ("flat", 50L, 1.0), ("flat", 50L, 2.0))
      .toDF("channel", "t", "v")
    val out = Timeseries
      .autoResample(ts, Timeseries.deriveRates(ts), 1000000L)
      .orderBy("channel", "t", "vmin")
      .select("channel", "mode", "vmin", "n")
      .as[(String, String, Double, Long)]
      .collect()
      .toList
    out shouldBe List(
      ("flat", "raw", 1.0, 1L),
      ("flat", "raw", 2.0, 1L),
      ("solo", "raw", 7.0, 1L)
    )
  }

  it should "fail loudly on a channel missing from the rate catalog" in {
    val ts = Seq(("orphan", 0L, 1.0)).toDF("channel", "t", "v")
    val rates = Seq(("other", 1.0)).toDF("channel", "rate")
    val e = intercept[Exception] {
      Timeseries.autoResample(ts, rates, 1000000L).collect()
    }
    e.getMessage should include("no rate for channel")
  }

  "overLimit" should "cap expected sample counts (reference retrieval limit)" in {
    // 10 s at 100 Hz = 1000 samples
    Timeseries.overLimit(0L, 10000000L, 100.0, 1000L) shouldBe Right(())
    Timeseries.overLimit(0L, 10000000L, 100.0, 999L).isLeft shouldBe true
  }

  "spikeWaveforms" should "match the sequential grouped+resample reference semantics" in {
    val n = 1030 // deliberately not a multiple of the waveform size
    val df = mkTs((0L until n.toLong).map(t => ("ch", t, math.sin(t / 3.0) * t)))
    val got = Timeseries
      .spikeWaveforms(spark, df, spikeDataPointCount = 100, chunkCount = 10)
      .orderBy("wf", "chunk")
      .select("wf", "chunk", "wmin", "wmax")
      .as[(Long, Long, Double, Double)]
      .collect()
      .toList

    // reference: data.grouped(spikeDataPointCount).map(g => resample(g, chunkCount))
    val expected = (0L until n.toLong)
      .map(t => math.sin(t / 3.0) * t)
      .grouped(100)
      .zipWithIndex
      .flatMap { case (g, wf) =>
        graft.streaming.RealtimeResample
          .resample(g.toVector, 10)
          .zipWithIndex
          .map { case ((mn, mx), c) => (wf.toLong, c.toLong, mn, mx) }
      }
      .toList
    got shouldBe expected
  }

  it should "be invariant to the stitch bucket width, with t ties ordered by event_id" in {
    // pairs of rows share a t and carry scrambled event_ids, so the
    // stitched row number must order each tie by event_id; t spans
    // negative values, and width 7 leaves empty buckets between rows
    val rows = for {
      ch <- Seq("a", "b")
      i <- 0 until 62
    } yield (ch, (i / 2) * 53L - 400L, math.sin(i * 0.7) * (i + 1), (i * 7919L + ch.head) % 1009L)
    val df = rows.toDF("channel", "t", "v", "event_id")
    def run(width: Long) = Timeseries
      .spikeWaveforms(spark, df, spikeDataPointCount = 5, chunkCount = 2, stitchBucketUs = width)
      .orderBy("channel", "wf", "chunk")
      .as[(String, Long, Long, Double, Double)]
      .collect()
      .toList
    val ref = run(1L << 60)
    // reference: each channel sorted by (t, event_id), grouped(5) and
    // resampled; the 2-row tail waveform is emitted like the rest
    ref shouldBe rows
      .groupBy(_._1)
      .toList
      .sortBy(_._1)
      .flatMap { case (ch, rs) =>
        rs.sortBy(r => (r._2, r._4)).map(_._3).grouped(5).zipWithIndex.flatMap { case (g, wf) =>
          graft.streaming.RealtimeResample.resample(g.toVector, 2).zipWithIndex.map {
            case ((mn, mx), c) => (ch, wf.toLong, c.toLong, mn, mx)
          }
        }
      }
    for (width <- Seq(7L, 300L, 86400000000L)) withClue(s"width $width:") {
      run(width) shouldBe ref
    }
  }

  "rangeQuery" should "trim to the window and keep pushable predicates" in {
    val df = Timeseries.tsRange(spark, sfDir)
    df.count() should be > 0L
    val plan = df.queryExecution.executedPlan.toString
    plan should include("PushedFilters")
  }

  "valueHistogram" should "bin values with floor semantics, negatives included" in {
    val df = mkTs(Seq(("a", 1L, 0.0), ("a", 2L, 0.24), ("a", 3L, 0.25), ("a", 4L, -0.1), ("b", 5L, 1.0)))
    val got = Timeseries
      .valueHistogram(df, binWidth = 0.25)
      .orderBy("channel", "bin")
      .select("channel", "bin", "n")
      .as[(String, Long, Long)]
      .collect()
      .toList
    got shouldBe List(("a", -1L, 1L), ("a", 0L, 2L), ("a", 1L, 1L), ("b", 4L, 1L))
  }

  "lagCorrelation" should "match the sequential pearson over consecutive pairs" in {
    val vals = (0 until 500).map(i => math.sin(i / 7.0) * 10 + (i % 13))
    val df = mkTs(vals.zipWithIndex.map { case (v, i) => ("ch", i.toLong * 1000L, v) })
    // tiny stitch bucket so the two-phase carry is exercised repeatedly
    val got = Timeseries
      .lagCorrelation(df, bucketUs = 50000L)
      .collect()(0)
    got.getAs[Long]("n_pairs") shouldBe 499L
    val pairs = vals.sliding(2).map { case Seq(x, y) => (x, y) }.toList
    val n = pairs.size.toDouble
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val r = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    got.getAs[Double]("acf1") shouldBe (r +- 1e-5)
  }

  it should "be invariant to the stitch-bucket width" in {
    val df = mkTs((0 until 300).map(i => ("ch", i.toLong * 777L, math.cos(i / 5.0) * (i % 7))))
    val a = Timeseries.lagCorrelation(df, bucketUs = 10000L).collect()(0)
    val b = Timeseries.lagCorrelation(df, bucketUs = 1000000L).collect()(0)
    a.getAs[Long]("n_pairs") shouldBe b.getAs[Long]("n_pairs")
    a.getAs[Double]("acf1") shouldBe b.getAs[Double]("acf1")
  }

  "sessionize" should "break sessions at the gap and number them per user" in {
    // user 1: events at 0,10,20 | gap | 100,105 | gap | 300
    // user 2: single event
    val rows = Seq(
      (1L, 0L), (1L, 10L), (1L, 20L), (1L, 100L), (1L, 105L), (1L, 300L),
      (2L, 50L)
    ).zipWithIndex.map { case ((u, t), i) => ("x", t, 0.0, u, i.toLong) }
    val df = rows.toDF("channel", "t", "v", "user_id", "event_id")
    val got = Timeseries
      .sessionize(df, gapUs = 50L, bucketUs = 7L) // tiny buckets: many stitches
      .orderBy("user_id", "t")
      .select("user_id", "t", "session_id")
      .as[(Long, Long, Long)]
      .collect()
      .toList
    got shouldBe List(
      (1L, 0L, 1L), (1L, 10L, 1L), (1L, 20L, 1L),
      (1L, 100L, 2L), (1L, 105L, 2L),
      (1L, 300L, 3L),
      (2L, 50L, 1L)
    )
  }

  it should "assign session ids invariant to the stitch-bucket width" in {
    val rows = (0 until 400).map { i =>
      ("x", i.toLong * 31L + (i % 5) * 200L, 0.0, (i % 3).toLong, i.toLong)
    }
    val df = rows.toDF("channel", "t", "v", "user_id", "event_id")
    def run(w: Long) =
      Timeseries.sessionize(df, gapUs = 120L, bucketUs = w)
        .orderBy("user_id", "t", "session_id")
        .collect()
        .map(_.toString)
        .toList
    run(97L) shouldBe run(100000L)
  }

  "bandPower" should "concentrate a pure harmonic's power at its own k" in {
    val w = 1000000L // window width in µs
    val n = 500
    // v = cos(2π·3·frac): all power at k=3, (1/2)² normalized
    val rows = (0 until n).map { i =>
      val t = i.toLong * (w / n)
      ("ch", t, math.cos(2 * math.Pi * 3 * (t.toDouble / w)))
    }
    val out = Timeseries
      .bandPower(mkTs(rows), windowUs = w, ks = 1 to 4)
      .orderBy("k")
      .select("k", "power")
      .as[(Long, Double)]
      .collect()
      .toMap
    out(3L) shouldBe (0.25 +- 1e-3)
    Seq(1L, 2L, 4L).foreach(k => out(k) should be < 1e-3)
  }

  "spectralCoherence" should "read 1 for phase-locked channels and 0 for phase-flipping ones" in {
    val w = 100L
    val nWin = 4
    // base harmonic at k=1 of the window; 'lock' copies it exactly;
    // 'flip' negates it on odd windows (phase flips by π every window,
    // so the cross-spectral sum cancels over an even window count)
    val rows = (0 until (nWin * 100)).flatMap { i =>
      val t = i.toLong
      val v = math.cos(2 * math.Pi * ((t % w).toDouble / w))
      val sign = if ((t / w) % 2 == 0) 1.0 else -1.0
      Seq(("base", t, v), ("lock", t, v), ("flip", t, sign * v))
    }
    val out = Timeseries
      .spectralCoherence(mkTs(rows), windowUs = w, ks = Seq(1))
      .select("ch_a", "ch_b", "coherence")
      .as[(String, String, Double)]
      .collect()
      .map(r => (r._1, r._2) -> r._3)
      .toMap
    out(("base", "lock")) shouldBe (1.0 +- 1e-9) // identical signals
    out(("base", "flip")) should be < 1e-9 // alternating phase cancels
    out(("flip", "lock")) should be < 1e-9
  }

  "phaseLocking" should "read 1 for a constant phase offset regardless of amplitude and ~0 for scrambled phase" in {
    val w = 100L
    val nWin = 64
    // 'lock' holds a fixed 0.7-rad offset from base but its amplitude
    // SWINGS per window (coherence would down-weight the quiet
    // windows; PLV must not care); 'scramble' draws a deterministic
    // per-window phase
    def mix(x: Long): Double = {
      var z = x * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      ((z >>> 11).toDouble / (1L << 53).toDouble) * 2 * math.Pi
    }
    val rows = (0 until (nWin * 100)).flatMap { i =>
      val t = i.toLong
      val win = t / w
      val ph = 2 * math.Pi * ((t % w).toDouble / w)
      val amp = 0.1 + (win % 7).toDouble
      Seq(
        ("base", t, math.cos(ph)),
        ("lock", t, amp * math.cos(ph + 0.7)),
        ("scramble", t, math.cos(ph + mix(win)))
      )
    }
    val out = Timeseries
      .phaseLocking(mkTs(rows), windowUs = w, ks = Seq(1))
      .select("ch_a", "ch_b", "plv")
      .as[(String, String, Double)]
      .collect()
      .map(r => (r._1, r._2) -> r._3)
      .toMap
    out(("base", "lock")) shouldBe (1.0 +- 1e-6)
    out(("base", "scramble")) should be < 0.25
    out(("lock", "scramble")) should be < 0.25
  }

  "lombScargle" should "recover the true frequency from irregular samples and normalize out amplitude" in {
    val w = 10000L
    // irregularly spaced timestamps (variable stride, ~60% coverage,
    // never a uniform grid) — the case welch/bandpower can't serve
    val times = Iterator
      .iterate(0L)(t => t + 7 + (t % 13) + (if (t % 29 < 11) 15 else 0))
      .takeWhile(_ < w)
      .toSeq
    def series(amp: Double) = times.map { t =>
      val ph = 2 * math.Pi * 3 * (t.toDouble / w)
      ("c", t, amp * math.cos(ph + 0.4))
    }
    def powers(amp: Double): Map[Int, Double] =
      Timeseries
        .lombScargle(mkTs(series(amp)), windowUs = w, ks = 1 to 8)
        .select("k", "power")
        .as[(Long, Double)]
        .collect()
        .map(p => p._1.toInt -> p._2)
        .toMap
    val p1 = powers(1.0)
    // a pure sinusoid at harmonic 3 concentrates the fit there:
    // P(3) ~ n/2, every other harmonic near zero
    p1(3) should be > (times.length / 4.0)
    (1 to 8).filter(_ != 3).foreach { k => p1(k) should be < (p1(3) / 20.0) }
    // the 2sigma^2 normalization makes power amplitude-invariant
    val p5 = powers(5.0)
    (1 to 8).foreach { k => p5(k) shouldBe (p1(k) +- 1e-6) }
  }

  it should "drop degenerate cells: tiny windows are filtered, constant series yield NULL power" in {
    val rows = Seq(("tiny", 1L, 1.0), ("tiny", 2L, 2.0)) ++
      (0 until 50).map(i => ("flat", i.toLong * 11, 3.5))
    val out = Timeseries
      .lombScargle(mkTs(rows), windowUs = 1000L, ks = Seq(1, 2))
      .collect()
    out.map(_.getAs[String]("channel")).distinct.toSeq shouldBe Seq("flat")
    out.foreach { r => r.isNullAt(r.fieldIndex("power")) shouldBe true }
  }

  "dtwDistance" should "warp out a one-bucket shift down to the two corner cells and zero out identical shapes" in {
    // one window = 2400 ticks, 24 buckets of 100; one sample per bucket.
    // 'a' alternates 0,2 -> z exactly -1,+1; 'b' is 'a' shifted one
    // bucket -> z exactly +1,-1; 'c' duplicates 'a'; 'd' is constant
    // (sigma=0, must be filtered). The optimal warp aligns a/b at
    // offset 1 with zero cost except the two pinned corners, each
    // (1-(-1))^2=4 -> dtw = sqrt(8). Two windows, same pattern.
    val rows = (0 until 48).flatMap { bkt =>
      val t = bkt.toLong * 100
      Seq(
        ("a", t, if (bkt % 2 == 0) 0.0 else 2.0),
        ("b", t, if (bkt % 2 == 0) 2.0 else 0.0),
        ("c", t, if (bkt % 2 == 0) 0.0 else 2.0),
        ("d", t, 7.0)
      )
    }
    val out = Timeseries
      .dtwDistance(mkTs(rows), windowUs = 2400L, buckets = 24)
      .collect()
    out.length shouldBe 6 // 3 live channels choose 2, times 2 windows
    out.foreach { r =>
      r.getAs[Int]("n_a") shouldBe 24
      r.getAs[Int]("n_b") shouldBe 24
      val d = r.getAs[Double]("dtw")
      (r.getAs[String]("ch_a"), r.getAs[String]("ch_b")) match {
        case ("a", "c") => d shouldBe 0.0
        case _          => d shouldBe (math.sqrt(8.0) +- 1e-6)
      }
    }
  }

  it should "match a naive full-DP reference on irregular real-valued grids" in {
    // irregular sample counts per bucket and non-trivial values; the
    // engine's nested-fold DP must equal the classic two-array DP run
    // on the engine's own z-grid (read back at bucket grain is not
    // exposed, so recompute PAA/z with the same DECIMAL rounding).
    def r(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w = 1200L
    val nB = 12
    val rows = Seq("p", "q").flatMap { ch =>
      (0 until 120).filter(i => i % 17 != 0 || ch == "q").map { i =>
        val t = i.toLong * 10
        val v = if (ch == "p") math.sin(i / 5.0) + 0.3 * math.cos(i / 2.0)
        else math.sin((i - 7) / 5.0)
        (ch, t, v)
      }
    }
    def grid(ch: String): Array[Double] = {
      val byB = rows.filter(_._1 == ch).groupBy(x => (x._2 % w) / 100).toSeq.sortBy(_._1)
      val paa = byB.map { case (_, xs) =>
        val dec = xs.map(x => BigDecimal(x._3).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
        r((dec.toDouble / xs.length), 9)
      }.toArray
      val s1 = paa.map(BigDecimal(_).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val s2 = paa.map(p => BigDecimal(p * p).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val mu = s1 / nB
      val sig = math.sqrt(math.max(s2 / nB - mu * mu, 0.0))
      paa.map(p => r((p - mu) / sig, 9))
    }
    def naive(a: Array[Double], b: Array[Double], band: Int): Double = {
      val n = a.length; val m = b.length
      val rad = math.max(band, math.abs(n - m))
      var prev = Array.fill(m + 1)(1e300); prev(0) = 0.0
      for (i <- 0 until n) {
        val cur = Array.fill(m + 1)(1e300)
        for (j <- 0 until m if math.abs(i - j) <= rad)
          cur(j + 1) = (a(i) - b(j)) * (a(i) - b(j)) +
            math.min(cur(j), math.min(prev(j + 1), prev(j)))
        prev = cur
      }
      math.sqrt(prev(m))
    }
    val expected = naive(grid("p"), grid("q"), 6)
    val out = Timeseries
      .dtwDistance(mkTs(rows), windowUs = w, buckets = nB)
      .select("dtw")
      .as[Double]
      .collect()
    out.length shouldBe 1
    out.head shouldBe (r(expected, 6) +- 1e-9)
  }

  "mannKendall" should "flag a monotone ramp up, a flat line none, and shrug off one outlier" in {
    val w = 2400L // 24 buckets of 100, one sample per bucket
    val rows = (0 until 24).flatMap { b =>
      val t = b.toLong * 100
      Seq(
        ("ramp", t, b * 0.5),                              // strict increase
        ("flat", t, 3.0),                                  // constant
        ("dirty", t, if (b == 11) 50.0 else b * 0.5)       // ramp + one spike
      )
    }
    val out = Timeseries
      .mannKendall(mkTs(rows), windowUs = w, buckets = 24)
      .collect()
      .map(r => r.getAs[String]("channel") -> r)
      .toMap
    // ramp: every pair positive -> S = 276, no ties, var = n(n-1)(2n+5)/18
    out("ramp").getAs[Long]("s") shouldBe 276L
    out("ramp").getAs[Double]("var_s") shouldBe (24.0 * 23 * 53 / 18) +- 1e-6
    out("ramp").getAs[String]("trend") shouldBe "up"
    out("ramp").getAs[Double]("sen_slope") shouldBe (0.5 +- 1e-9) // 0.5 per bucket index
    // flat: all ties -> S = 0, tie correction kills the variance
    out("flat").getAs[Long]("s") shouldBe 0L
    out("flat").getAs[Double]("var_s") shouldBe 0.0
    out("flat").getAs[String]("trend") shouldBe "none"
    out("flat").getAs[Double]("sen_slope") shouldBe 0.0
    // one outlier flips at most 2*(n-1) pair signs and cannot move the
    // rank-based slope: trend call and Sen estimate survive
    out("dirty").getAs[String]("trend") shouldBe "up"
    out("dirty").getAs[Double]("sen_slope") shouldBe (0.5 +- 1e-9)
    out("dirty").getAs[Long]("s").toDouble should be >= 276.0 - 2 * 23
  }

  it should "compute S by descending ramps as the negated ascending case" in {
    val w = 1200L
    val rows = (0 until 12).map { b => ("down", b.toLong * 100, -b * 1.5) }
    val out = Timeseries
      .mannKendall(mkTs(rows), windowUs = w, buckets = 12)
      .collect()
    out.length shouldBe 1
    out.head.getAs[Long]("s") shouldBe -66L // all 66 pairs negative
    out.head.getAs[String]("trend") shouldBe "down"
    out.head.getAs[Double]("sen_slope") shouldBe (-1.5 +- 1e-9)
  }

  "sampleEntropy" should "score a period-2 oscillation 0 and hashed noise strictly higher" in {
    val w = 2400L // 24 buckets of 100, one sample per bucket
    def mix(x: Long): Double = {
      var z = x * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    val rows = (0 until 24).flatMap { b =>
      val t = b.toLong * 100
      Seq(
        ("osc", t, if (b % 2 == 0) -1.0 else 1.0), // perfectly regular
        ("rnd", t, mix(b.toLong) * 4 - 2)          // deterministic noise
      )
    }
    val out = Timeseries
      .sampleEntropy(mkTs(rows), windowUs = w, buckets = 24)
      .collect()
      .map(r => r.getAs[String]("channel") -> r)
      .toMap
    // period-2: every m=2 template match extends to m=3 -> A/B -> 1,
    // sampen = -ln(A/B) = -ln(253/242) is tiny but >= 0... in fact all
    // templates are one of two alternating patterns, so A=B-? check >= 0 and < 0.1
    val so = out("osc").getAs[Double]("sampen")
    so should be >= 0.0
    so should be < 0.1
    out("osc").getAs[Long]("n_templates") shouldBe 23L
    val sr = Option(out("rnd").getAs[Any]("sampen"))
    // noise: few or no template matches -> NULL (a=0) or clearly above osc
    sr.forall(_.asInstanceOf[Double] > so + 0.5) shouldBe true
  }

  "spectralCoherence" should "be identically 1 over a single window (the degenerate estimate)" in {
    val rows = (0 until 100).flatMap { i =>
      Seq(("a", i.toLong, math.sin(i / 3.0)), ("b", i.toLong, math.cos(i / 7.0) + 0.3))
    }
    val out = Timeseries
      .spectralCoherence(mkTs(rows), windowUs = 1000L, ks = Seq(1, 2))
      .select("coherence")
      .as[Double]
      .collect()
    out.foreach(_ shouldBe (1.0 +- 1e-6))
  }

  "channelQuantiles" should "match sequential linear-interpolation quantiles" in {
    val vals = (0 until 101).map(i => (i * 37 % 101).toDouble)
    val df = mkTs(vals.zipWithIndex.map { case (v, i) => ("ch", i.toLong, v) })
    val row = Timeseries.channelQuantiles(df).collect()(0)
    def q(p: Double): Double = {
      val sorted = vals.sorted
      val rank = p * (sorted.size - 1)
      val lo = sorted(rank.toInt)
      val hi = sorted(math.min(rank.toInt + 1, sorted.size - 1))
      lo + (hi - lo) * (rank - rank.toInt)
    }
    row.getAs[Long]("n") shouldBe 101L
    row.getAs[Double]("p50") shouldBe (q(0.5) +- 1e-6)
    row.getAs[Double]("p90") shouldBe (q(0.9) +- 1e-6)
    row.getAs[Double]("p99") shouldBe (q(0.99) +- 1e-6)
  }

  "channelQuantilesApprox" should "stay within the sketch's rank-error bound of exact" in {
    // real sf data per channel; the sketch guarantee is on RANK: the
    // returned value (an actual data point) sits within ~n/accuracy
    // ranks of the requested rank. Assert that directly against the
    // sorted per-channel values (2εn + 2 slack: GK compression plus
    // the p·n vs p·(n−1) rank-definition gap).
    val ts = Tables.ts(spark, sfDir)
    val acc = 1000
    val approx = Timeseries
      .channelQuantilesApprox(ts, accuracy = acc)
      .collect()
      .map(r => r.getAs[String]("channel") -> r)
      .toMap
    approx should not be empty
    val byChannel = ts
      .select($"channel", $"v")
      .as[(String, Double)]
      .collect()
      .groupBy(_._1)
      .map { case (ch, xs) => ch -> xs.map(_._2).sorted }
    byChannel.foreach { case (ch, sorted) =>
      val n = sorted.length
      val slack = 2.0 * n / acc + 2.0
      Seq(0.5, 0.9, 0.99).foreach { p =>
        val v = approx(ch).getAs[Double](s"p${math.round(p * 100)}")
        val firstIdx = sorted.indexWhere(_ >= v - 1e-9)
        val lastIdx = sorted.lastIndexWhere(_ <= v + 1e-9)
        firstIdx should be >= 0
        val target = p * (n - 1)
        (target >= firstIdx - slack && target <= lastIdx + slack) shouldBe true
      }
    }
  }

  it should "carry no full-value percentile buffer in its plan" in {
    val plan = Timeseries
      .channelQuantilesApprox(Tables.ts(spark, sfDir))
      .queryExecution
      .executedPlan
      .toString
    plan should include("approx_percentile")
    // the exact variant's unbounded-buffer aggregate must be absent
    plan.replace("approx_percentile", "__ap") should not include "percentile("
  }

  "funnel" should "require each step strictly after the user's previous step" in {
    val rows = Seq(
      // user 1: clean ordered funnel
      ("signup", 100L, 1L), ("click", 200L, 1L), ("purchase", 300L, 1L),
      // user 2: purchased BEFORE signup — reaches stage 2 only
      ("purchase", 50L, 2L), ("signup", 100L, 2L), ("click", 400L, 2L),
      // user 3: signup only
      ("signup", 700L, 3L),
      // user 4: click but never signed up — not even stage 1
      ("click", 100L, 4L)
    ).zipWithIndex.map { case ((c, t, u), i) => (c, t, 0.0, u, i.toLong) }
      .toDF("channel", "t", "v", "user_id", "event_id")
    val out = Timeseries
      .funnel(rows, Seq("signup", "click", "purchase"))
      .orderBy("stage")
      .collect()
    out.map(_.getAs[Long]("n_users")).toSeq shouldBe Seq(3L, 2L, 1L)
    // stage-2 mean lag: user1 200-100=100, user2 400-100=300 → 200
    out(1).getAs[Double]("avg_lag_us") shouldBe 200.0
    out(2).getAs[Double]("avg_lag_us") shouldBe 100.0
  }

  "crossCorrelation" should "find the exact lead-lag relation between channels" in {
    // one sample per bucket; b's series is a's delayed by ONE bucket
    // (y_k = x_{k-1} with x_k = k² — nonlinear, so only the true lag
    // lines up to a perfectly linear relation)
    val bk = 1000000L
    val a = (0L until 12L).map(k => ("a", k * bk + 10L, (k * k).toDouble))
    val b = (0L until 12L).map(k => ("b", k * bk + 20L, ((k - 1) * (k - 1)).toDouble))
    val ts = mkTs(a ++ b)
    val out = Timeseries
      .crossCorrelation(spark, ts, Seq("a" -> "b"), bk, maxLag = 2)
      .collect()
      .map(r => r.getAs[Long]("lag") -> r.getAs[Double]("r"))
      .toMap
    out(1L) shouldBe 1.0
    out(0L) should be < 1.0
    out(-1L) should be < out(1L)
  }

  "interpolateGrid" should "lerp across bucket boundaries and return exact hits" in {
    // samples in buckets 0, 2 and 10 (bucket = 1000 µs); grid points in
    // the empty middle buckets must take their bracket from the
    // cross-bucket carry, a grid point ON a sample returns its value,
    // and points outside the bracketed range are dropped
    val ts = mkTs(Seq(("c", 500L, 1.0), ("c", 2000L, 5.0), ("c", 10500L, 3.0)))
    val out = Timeseries
      .interpolateGrid(ts, Seq("c"), 0L, 12000L, 1000L, bucketUs = 1000L)
      .collect()
      .map(r => r.getAs[Long]("t") -> r.getAs[Double]("v"))
      .toMap
    // g=0 (before first sample) and g=11000 (after last) are dropped
    out.keySet shouldBe (1000L to 10000L by 1000L).toSet
    def lerp(g: Long, t0: Long, v0: Double, t1: Long, v1: Double): Double =
      BigDecimal(v0 + (v1 - v0) * ((g - t0).toDouble / (t1 - t0).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    out(1000L) shouldBe lerp(1000L, 500L, 1.0, 2000L, 5.0)
    out(2000L) shouldBe 5.0 // exact hit: its own predecessor
    out(3000L) shouldBe lerp(3000L, 2000L, 5.0, 10500L, 3.0)
    out(10000L) shouldBe lerp(10000L, 2000L, 5.0, 10500L, 3.0)
  }

  it should "break duplicate-timestamp ties deterministically (prev=max v, next=min v)" in {
    val ts = mkTs(
      Seq(("c", 100L, 1.0), ("c", 100L, 9.0), ("c", 200L, 2.0), ("c", 200L, 8.0))
    )
    val out = Timeseries
      .interpolateGrid(ts, Seq("c"), 150L, 151L, 1L, bucketUs = 1000L)
      .collect()
    out.length shouldBe 1
    // bracket: (100, 9.0) — the max-v duplicate — to (200, 2.0) — the
    // min-v duplicate; lerp midpoint = 9 + (2-9)*0.5
    out(0).getAs[Double]("v") shouldBe 5.5
  }

  it should "be invariant to the stitch-bucket width" in {
    val ts = mkTs(
      (0L until 40L).map(i => ("c", i * 777L + 3L, math.sin(i * 0.7) * 10)) ++
        (0L until 25L).map(i => ("d", i * 1311L + 9L, (i % 7).toDouble))
    )
    def run(w: Long) = Timeseries
      .interpolateGrid(ts, Seq("c", "d"), 0L, 30000L, 500L, bucketUs = w)
      .orderBy("channel", "t")
      .collect()
      .map(_.toSeq)
      .toSeq
    run(1000L) shouldBe run(7000L)
    run(1000L) shouldBe run(1000000L) // one bucket = the sequential shape
  }

  "firDecimate" should "pass a linear ramp unchanged and keep every 4th full-tap sample" in {
    // symmetric taps summing to 1 reproduce any affine signal exactly
    val ts = mkTs((0L until 30L).map(i => ("c", i * 100L, 2.0 * i + 5.0)))
    val rows = Timeseries.firDecimate(ts).orderBy($"t").collect()
    // full-tap rows are rn 3..28 → decimated picks rn 3, 7, ..., 27
    rows.map(_.getAs[Long]("t")) shouldBe Array(200L, 600L, 1000L, 1400L, 1800L, 2200L, 2600L)
    rows.foreach { r =>
      r.getAs[Double]("v_filt") shouldBe r.getAs[Double]("v") +- 1e-9
    }
  }

  it should "attenuate an alternating (Nyquist) signal to its mean" in {
    // +-1 alternation: (1 - 4 + 6 - 4 + 1)/16 = 0 — the stopband null
    val ts = mkTs((0L until 40L).map(i => ("c", i * 10L, if (i % 2 == 0) 1.0 else -1.0)))
    val rows = Timeseries.firDecimate(ts).collect()
    rows should not be empty
    rows.foreach(_.getAs[Double]("v_filt") shouldBe 0.0 +- 1e-12)
  }

  "cusumScreen" should "peak at a planted mean shift and stay low on a stationary channel" in {
    // channel d: 0 for 50 samples then 1 for 50 — μ=0.5, σ=0.5; the
    // bridge |P_i − i·μ| peaks at the change point i=50 with value 25,
    // so the statistic is 25/(0.5·√100) = 5. channel r alternates ±1 —
    // μ=0, σ=1, |P_i| ≤ 1, statistic 1/√100 = 0.1
    val d = (0L until 100L).map(i => ("d", i * 1000L, if (i < 50) 0.0 else 1.0))
    val r = (0L until 100L).map(i => ("r", i * 1000L, if (i % 2 == 0) 1.0 else -1.0))
    val out = Timeseries.cusumScreen(mkTs(d ++ r)).collect()
      .map(x => x.getAs[String]("channel") -> x).toMap
    out("d").getAs[Double]("cusum") shouldBe 5.0 +- 1e-6
    out("d").getAs[Long]("t_at") shouldBe 49L * 1000L // peak is the last pre-shift row
    out("d").getAs[Double]("mean") shouldBe 0.5 +- 1e-9
    out("d").getAs[Double]("sigma") shouldBe 0.5 +- 1e-9
    out("r").getAs[Double]("cusum") shouldBe 0.1 +- 1e-6
  }

  it should "be invariant to the stitch bucket width (two-phase ≡ global prefix sum)" in {
    val ts = mkTs((0L until 101L).map(i => ("c", i * 997L, math.sin(i * 0.37) * 5 + (i / 40) * 2.0)))
    val ref = Timeseries.cusumScreen(ts, stitchBucketUs = 1L << 60).collect().map(_.toSeq)
    for (w <- Seq(777L, 10000L, 99999L)) {
      Timeseries.cusumScreen(ts, stitchBucketUs = w).collect().map(_.toSeq) shouldBe ref
    }
  }

  it should "report a zero-variance channel with NULL cusum rather than dropping it" in {
    // sigma = 0 nullifs every score; the channel must still appear in
    // the report (consumers would otherwise lose it with no indication)
    val rows = (0L until 20L).map(i => ("flat", i * 1000L, 7.5)) ++
      (0L until 20L).map(i => ("live", i * 1000L, i.toDouble))
    val out = Timeseries.cusumScreen(mkTs(rows)).collect()
      .map(x => x.getAs[String]("channel") -> x).toMap
    out.keySet shouldBe Set("flat", "live")
    out("flat").getAs[Long]("n") shouldBe 20L
    out("flat").getAs[Double]("mean") shouldBe 7.5 +- 1e-9
    out("flat").getAs[Double]("sigma") shouldBe 0.0
    out("flat").isNullAt(out("flat").fieldIndex("cusum")) shouldBe true
    out("flat").isNullAt(out("flat").fieldIndex("t_at")) shouldBe true
    out("live").isNullAt(out("live").fieldIndex("cusum")) shouldBe false
  }

  "firDecimate" should "be invariant to the halo bucket width (block halo ≡ global window)" in {
    val ts = mkTs((0L until 300L).map { i =>
      val t = i * 137L + (i % 7) * 10000L + (i / 50) * 900000L
      ("c", t, math.sin(i * 0.21) * 4 + (i % 5))
    })
    val ref = Timeseries.firDecimate(ts, factor = 4, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    ref should not be empty
    for (bw <- Seq(1000L, 50000L, 333333L)) {
      Timeseries.firDecimate(ts, factor = 4, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  "seasonalDecompose" should "recover a planted daily cycle riding a linear trend" in {
    val hourUs = 3600000000L
    // 20 days of hourly samples: trend 0.1/h + 24h sinusoid, amplitude 5
    val ts = mkTs((0L until 480L).map { h =>
      val v = 0.1 * h + 5.0 * math.sin(2 * math.Pi * (h % 24) / 24.0)
      ("c", h * hourUs + 1000L, v)
    })
    val rows = Timeseries.seasonalDecompose(ts).collect()
    rows should not be empty
    // additivity: mean = trend + seasonal + resid (to output rounding)
    rows.foreach { r =>
      val lhs = r.getAs[Double]("mean")
      val rhs = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") + r.getAs[Double]("resid")
      lhs shouldBe rhs +- 1e-5
    }
    // the phase profile tracks the planted sinusoid: peak phase ~ +5,
    // trough ~ -5, and residuals are tiny once trend+season explain it
    val byPhase = rows.groupBy(r => r.getAs[Long]("bucket") % 24)
      .map { case (p, rs) => p -> rs.map(_.getAs[Double]("seasonal")).head }
    byPhase(6L) shouldBe 5.0 +- 0.2 // sin peak at hour 6
    byPhase(18L) shouldBe -5.0 +- 0.2 // trough at hour 18
    rows.foreach(r => math.abs(r.getAs[Double]("resid")) should be < 0.5)
    // seasonal component is (near) zero-mean across phases
    val seasMean = byPhase.values.sum / byPhase.size
    math.abs(seasMean) should be < 0.1
  }

  "hampel" should "be invariant to the halo bucket width (block halo ≡ global window)" in {
    val ts = mkTs((0L until 300L).map { i =>
      val t = i * 137L + (i % 7) * 10000L + (i / 50) * 900000L
      val spike = if (i % 47 == 0) 50.0 else 0.0
      ("c", t, math.sin(i * 0.21) * 4 + (i % 5) + spike)
    })
    val ref = Timeseries.hampel(ts, k = 5, nSigma = 3.0, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    ref should not be empty // planted spikes fire under the global run
    for (bw <- Seq(1000L, 50000L, 333333L)) {
      Timeseries.hampel(ts, k = 5, nSigma = 3.0, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  it should "flag exactly the planted spikes and report the neighborhood median" in {
    // flat signal with two isolated spikes: the rolling median never
    // leaves the baseline, so only the spikes cross nSigma·1.4826·MAD
    val ts = mkTs((0L until 100L).map { i =>
      val v = if (i == 30 || i == 71) 100.0 else (i % 3).toDouble
      ("c", i * 1000L, v)
    })
    val rows = Timeseries.hampel(ts, k = 5, nSigma = 3.0).collect()
    rows.map(_.getAs[Long]("t")).sorted shouldBe Array(30000L, 71000L)
    rows.foreach { r =>
      r.getAs[Double]("v") shouldBe 100.0
      r.getAs[Double]("v_med") should be <= 2.0 // a baseline sample, not the spike
    }
    // edge rows (no full ±k window) never appear even if extreme
    val edgy = mkTs((0L until 8L).map(i => ("c", i * 1000L, if (i == 0) 100.0 else 0.0)))
    Timeseries.hampel(edgy, k = 5, nSigma = 3.0).count() shouldBe 0L
  }

  it should "survive a consumer filter on v_med/v_mad over blocks shorter than 2k+1" in {
    // channel "b" never fills a ±5 frame; a filter on the outputs lets
    // Spark index the sorted frames of its short rows before the
    // full-window filter drops them
    val ts = mkTs((0L until 100L).map { i =>
      ("a", i * 1000L, if (i == 30 || i == 71) 100.0 else (i % 3).toDouble)
    } ++ (0L until 4L).map(i => ("b", i * 1000L, if (i == 0) 100.0 else 0.0)))
    val out = Timeseries.hampel(ts, k = 5, nSigma = 3.0)
    val keep = (r: org.apache.spark.sql.Row) => r.getAs[Double]("v_med") >= 1.0 || r.getAs[Double]("v_mad") > 0.0
    val expected = out.collect().filter(keep).map(_.toSeq).sortBy(_.mkString("|"))
    expected should not be empty
    out.filter(col("v_med") >= 1.0 || col("v_mad") > 0.0)
      .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe expected
  }

  "attribution" should "pick window-bounded first/last touches with event_id ties and NULL-survive untouched conversions" in {
    val W = 1000L
    // user 1: conv at t=2000; touches at 1000 (= t_conv - W, included,
    // lives in the PREVIOUS bucket — the two-bucket explode case),
    // 1500 & 1500 (tie → event_id), 2000 (= t_conv, excluded).
    // user 2: conv with no touches in window.
    val rows = Seq(
      ("purchase", 2000L, 0.0, 1L, 100L),
      ("click", 1000L, 0.0, 1L, 10L),
      ("view", 1500L, 0.0, 1L, 11L),
      ("click", 1500L, 0.0, 1L, 12L),
      ("click", 2000L, 0.0, 1L, 13L), // at t_conv: excluded
      ("purchase", 5000L, 0.0, 2L, 101L),
      ("click", 200L, 0.0, 2L, 14L) // far outside user 2's window
    ).toDF("channel", "t", "v", "user_id", "event_id")
    val got = Timeseries
      .attribution(rows, "purchase", Seq("click", "view"), W)
      .orderBy("conv_id")
      .collect()
    got.length shouldBe 2
    val c1 = got(0)
    c1.getAs[Long]("n_touches") shouldBe 3L
    c1.getAs[Long]("first_t") shouldBe 1000L
    c1.getAs[String]("first_type") shouldBe "click"
    c1.getAs[Long]("last_t") shouldBe 1500L
    c1.getAs[String]("last_type") shouldBe "click" // tie at 1500 → max event_id 12
    val c2 = got(1)
    c2.getAs[Long]("n_touches") shouldBe 0L
    c2.isNullAt(c2.fieldIndex("first_t")) shouldBe true
    c2.isNullAt(c2.fieldIndex("last_type")) shouldBe true
  }

  "nearestAlign" should "pick the closest match either direction, backward on ties, NULL beyond tolerance" in {
    val left = Seq((1L, 1000L, 0.0), (2L, 5000L, 0.0), (3L, 90000L, 0.0))
      .toDF("event_id", "t", "v")
    val right = Seq((900L, 1.0), (1200L, 2.0), (5100L, 3.0), (4900L, 4.0))
      .toDF("t", "rv")
    val got = Timeseries.nearestAlign(left, right, toleranceUs = 1000L)
      .orderBy("event_id")
      .collect()
    // left 1 @1000: 900 (dt -100) vs 1200 (dt 200) → backward 900
    got(0).getAs[Long]("nearest_t") shouldBe 900L
    got(0).getAs[Long]("dt") shouldBe -100L
    // left 2 @5000: 4900 (|dt| 100) ties 5100 (|dt| 100) → backward 4900
    got(1).getAs[Long]("nearest_t") shouldBe 4900L
    got(1).getAs[Double]("nearest_v") shouldBe 4.0
    // left 3 @90000: nothing within ±1000 → NULLs survive
    got(2).isNullAt(got(2).fieldIndex("nearest_t")) shouldBe true
  }

  "permutationEntropy" should "score a monotone ramp zero and varied patterns higher" in {
    // strictly increasing: every triple is the same ascending pattern
    val ramp = mkTs((0 until 30).map(i => ("c", i * 1000L, i.toDouble)))
    val r = Timeseries.permutationEntropy(ramp).collect().head
    r.getAs[Long]("n_windows") shouldBe 28L
    r.getAs[Long]("n_patterns") shouldBe 1L
    r.getAs[Double]("perm_entropy") shouldBe 0.0
    // zig-zag: two alternating patterns, equiprobable → H = ln 2
    val zig = mkTs((0 until 30).map(i => ("c", i * 1000L, if (i % 2 == 0) 0.0 else 1.0)))
    val z = Timeseries.permutationEntropy(zig).collect().head
    z.getAs[Long]("n_patterns") shouldBe 2L
    z.getAs[Double]("perm_entropy") shouldBe math.log(2.0) +- 1e-6
  }

  it should "be invariant to the halo bucket width" in {
    val ts = mkTs((0L until 120L).map { i =>
      ("c", i * 733L + (i / 40) * 400000L, math.sin(i * 0.9) * 3 + (i % 4))
    })
    val ref = Timeseries.permutationEntropy(ts, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    for (bw <- Seq(1000L, 44444L)) {
      Timeseries.permutationEntropy(ts, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  "runsTest" should "read oscillation as too many runs and trend as too few" in {
    // alternating: every step flips sign vs the mean → runs = n, z > 0
    val osc = mkTs((0 until 20).map(i => ("c", i * 1000L, if (i % 2 == 0) 0.0 else 10.0)))
    val o = Timeseries.runsTest(osc).collect().head
    o.getAs[Long]("runs") shouldBe 20L
    o.getAs[Double]("z") should be > 2.0
    // monotone ramp: one below-run then one above-run → runs = 2, z < 0
    val ramp = mkTs((0 until 20).map(i => ("c", i * 1000L, i.toDouble)))
    val r = Timeseries.runsTest(ramp).collect().head
    r.getAs[Long]("runs") shouldBe 2L
    r.getAs[Double]("z") should be < -2.0
  }

  "benford" should "bin first significant digits across magnitudes and signs" in {
    // digits: 123.45→1, 0.0042→4, -95.0→9, 1000.0→1, 7.0→7; zero drops
    val vs = Seq(123.45, 0.0042, -95.0, 1000.0, 7.0, 0.0)
    val ts = mkTs(vs.zipWithIndex.map { case (v, i) => ("c", i * 1000L, v) })
    val got = Timeseries.benford(ts)
      .orderBy("digit")
      .select("digit", "n")
      .as[(Long, Long)]
      .collect()
      .toList
    got shouldBe List((1L, 2L), (4L, 1L), (7L, 1L), (9L, 1L))
    val r = Timeseries.benford(ts).filter($"digit" === 1L).collect().head
    r.getAs[Double]("exp_frac") shouldBe 0.30103 +- 1e-6
    r.getAs[Double]("obs_frac") shouldBe 0.4
  }

  "errorRate" should "compute the Wilson interval from conditional counts" in {
    // one hour bucket: 3 errors of 4 events
    val rows = Seq(
      ("error", 1000L, 0.0), ("error", 2000L, 0.0),
      ("error", 3000L, 0.0), ("click", 4000L, 0.0)
    )
    val r = Timeseries.errorRate(mkTs(rows), bucketUs = 1L << 40).collect().head
    r.getAs[Long]("n") shouldBe 4L
    r.getAs[Long]("errors") shouldBe 3L
    r.getAs[Double]("rate") shouldBe 0.75
    val (n, p, z2) = (4.0, 0.75, 3.8416)
    val denom = 1.0 + z2 / n
    val center = p + z2 / (2 * n)
    val half = 1.96 * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    r.getAs[Double]("wilson_lo") shouldBe (center - half) / denom +- 1e-6
    r.getAs[Double]("wilson_hi") shouldBe (center + half) / denom +- 1e-6
    // the interval brackets the point estimate
    r.getAs[Double]("wilson_lo") should be < 0.75
    r.getAs[Double]("wilson_hi") should be > 0.75
  }

  "dauWau" should "count trailing-7-day actives and the stickiness ratio" in {
    val D = 86400000000L
    // day 0: users 1,2; day 1: user 1; day 8: user 1
    val rows = Seq((1L, 0L), (2L, 0L), (1L, 1L), (1L, 8L), (1L, 8L))
      .zipWithIndex
      .map { case ((u, d), i) => ("c", d * D + i * 1000L, 0.0, u, i.toLong) }
      .toDF("channel", "t", "v", "user_id", "event_id")
    val got = Timeseries.dauWau(rows)
      .orderBy("day")
      .as[(Long, Long, Long, Double)]
      .collect()
      .toList
    got shouldBe List(
      (0L, 2L, 2L, 1.0), // WAU(0) = {1,2}
      (1L, 1L, 2L, 0.5), // WAU(1) still sees user 2's day-0 visit
      (8L, 1L, 1L, 1.0) // day-0/1 visits aged out of the 7-day window
    )
  }

  "percentileBands" should "pick the exact lower-interpolation sample per bucket" in {
    // one bucket of 11 values 0..10: idx10 = floor(.1*10) = 1,
    // idx50 = 5, idx90 = 9 → p10=1, p50=5, p90=9
    val ts = mkTs((0 until 11).map(i => ("c", i * 100L, (10 - i).toDouble)))
    val r = Timeseries.percentileBands(ts, bucketUs = 1L << 40).collect().head
    r.getAs[Long]("n") shouldBe 11L
    r.getAs[Double]("p10") shouldBe 1.0
    r.getAs[Double]("p50") shouldBe 5.0
    r.getAs[Double]("p90") shouldBe 9.0
    // single-sample bucket: all three bands are that sample
    val one = Timeseries.percentileBands(mkTs(Seq(("c", 5L, 7.0))), bucketUs = 1L << 40)
      .collect().head
    one.getAs[Double]("p10") shouldBe 7.0
    one.getAs[Double]("p90") shouldBe 7.0
  }

  "pacf" should "match a sequential Durbin-Levinson reference" in {
    val vs = (0 until 200).map(i => math.sin(i * 0.7) * 3 + (i % 5))
    val ts = mkTs(vs.zipWithIndex.map { case (v, i) => ("c", i * 1000L, v) })
    // sequential reference with the global-mean ACF convention
    val n = vs.length
    val mu = vs.sum / n
    val den = vs.map(v => (v - mu) * (v - mu)).sum
    def r(k: Int) = (k until n).map(i => (vs(i) - mu) * (vs(i - k) - mu)).sum / den
    val (r1, r2, r3) = (r(1), r(2), r(3))
    val p22 = (r2 - r1 * r1) / (1 - r1 * r1)
    val p21 = r1 - p22 * r1
    val p33 = (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
    val row = Timeseries.pacf(ts).collect().head
    row.getAs[Double]("r1") shouldBe r1 +- 1e-5
    row.getAs[Double]("pacf1") shouldBe r1 +- 1e-5
    row.getAs[Double]("pacf2") shouldBe p22 +- 1e-5
    row.getAs[Double]("pacf3") shouldBe p33 +- 1e-5
  }

  it should "be invariant to the halo bucket width" in {
    val ts = mkTs((0L until 150L).map { i =>
      ("c", i * 137L + (i / 30) * 500000L, math.cos(i * 0.3) * 2 + (i % 7))
    })
    val ref = Timeseries.pacf(ts, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    for (bw <- Seq(1000L, 77777L)) {
      Timeseries.pacf(ts, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  "welchTTest" should "reproduce the hand-computed t and Welch-Satterthwaite dof" in {
    // a = 1,2,3 (mean 2, var 1); b = 2,4,6 (mean 4, var 4):
    // t = -2/sqrt(1/3 + 4/3) = -1.549193; dof = (5/3)^2 / ((1/9+16/9)/2)
    val rows = Seq(1.0, 2.0, 3.0).zipWithIndex.map { case (v, i) => ("a", i * 1000L, v) } ++
      Seq(2.0, 4.0, 6.0).zipWithIndex.map { case (v, i) => ("b", i * 1000L, v) }
    val got = Timeseries.welchTTest(mkTs(rows)).collect()
    got.length shouldBe 1
    val r = got.head
    r.getAs[String]("ch_a") shouldBe "a"
    r.getAs[Double]("mean_a") shouldBe 2.0
    r.getAs[Double]("mean_b") shouldBe 4.0
    r.getAs[Double]("t_stat") shouldBe -2.0 / math.sqrt(5.0 / 3) +- 1e-6
    r.getAs[Double]("dof") shouldBe 450.0 / 153 +- 1e-6
  }

  "journeyTrigrams" should "count per-user ordered trigrams and never cross users" in {
    // user 1 walks a→b→c→b (trigrams abc, bcb); user 2 walks x→y→z
    // (xyz). No trigram may mix the two users' steps.
    val rows = Seq(
      ("a", 1000L, 0.0, 1L, 1L),
      ("b", 2000L, 0.0, 1L, 2L),
      ("c", 3000L, 0.0, 1L, 3L),
      ("b", 4000L, 0.0, 1L, 4L),
      ("x", 1500L, 0.0, 2L, 5L),
      ("y", 2500L, 0.0, 2L, 6L),
      ("z", 3500L, 0.0, 2L, 7L)
    ).toDF("channel", "t", "v", "user_id", "event_id")
    val got = Timeseries
      .journeyTrigrams(rows, k = 10)
      .select("step1", "step2", "step3", "n")
      .as[(String, String, String, Long)]
      .collect()
      .toSet
    got shouldBe Set(("a", "b", "c", 1L), ("b", "c", "b", 1L), ("x", "y", "z", 1L))
  }

  it should "be invariant to the stitch-bucket width" in {
    val rows = (0L until 200L).map { i =>
      (Seq("a", "b", "c")((i % 3).toInt), i * 777L, 0.0, i % 5, i)
    }.map { case (et, t, v, u, id) => (et, t, v, u, id) }
    val df = rows.toDF("channel", "t", "v", "user_id", "event_id")
    val ref = Timeseries.journeyTrigrams(df, k = 30, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    ref should not be empty
    for (bw <- Seq(1000L, 33333L)) {
      Timeseries.journeyTrigrams(df, k = 30, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  "mutualInfo" should "score a copied channel positive and a constant channel zero" in {
    // channel a: varying hourly means; channel c: exact copy (MI =
    // marginal bin entropy > 0); channel b: constant (one bin → MI 0)
    val W = 1000L
    val rows = (0L until 64L).flatMap { k =>
      val va = (k % 8).toDouble
      Seq(("a", k * W + 10L, va), ("c", k * W + 20L, va), ("b", k * W + 30L, 5.0))
    }
    val got = Timeseries
      .mutualInfo(mkTs(rows), bucketUs = W)
      .collect()
      .map(r => (r.getAs[String]("ch_a"), r.getAs[String]("ch_b")) -> r.getAs[Double]("mi"))
      .toMap
    got(("a", "c")) should be > 1.0 // bijective copy: MI = H(bins) = ln(4) here
    got(("a", "c")) shouldBe math.log(4.0) +- 1e-6
    got(("a", "b")) shouldBe 0.0
    got(("b", "c")) shouldBe 0.0
  }

  "erpTemplate" should "average the waveform envelope per chunk across sweeps" in {
    // 2 waveforms of 4 samples, chunked to 2 (min,max) pairs each:
    // wf0 = 1,5,2,6 → chunks (1,5),(2,6); wf1 = 3,7,4,8 → (3,7),(4,8)
    // template chunk0 = min (1+3)/2=2, max (5+7)/2=6, mid ((3+5)/2+(5+...
    val ts = mkTs(Seq(1.0, 5.0, 2.0, 6.0, 3.0, 7.0, 4.0, 8.0).zipWithIndex
      .map { case (v, i) => ("c", i * 1000L, v) })
    val wf = Timeseries.spikeWaveforms(spark, ts, spikeDataPointCount = 4, chunkCount = 2)
    val rows = Timeseries.erpTemplate(wf).orderBy("chunk").collect()
    rows.length shouldBe 2
    rows.map(_.getAs[Long]("n_wf")) shouldBe Array(2L, 2L)
    rows(0).getAs[Double]("erp_min") shouldBe 2.0
    rows(0).getAs[Double]("erp_max") shouldBe 6.0
    rows(0).getAs[Double]("erp_mid") shouldBe 4.0
    rows(1).getAs[Double]("erp_min") shouldBe 3.0
    rows(1).getAs[Double]("erp_max") shouldBe 7.0
  }

  "dominantFreq" should "pick the planted tone's harmonic with ~all the power" in {
    // pure k=2 tone across one window: harmonic 2 dominates
    val n = 256
    val W = 1000000L
    val ts = mkTs((0 until n).map { i =>
      val frac = i.toDouble / n
      ("c", (frac * W).toLong, math.cos(2 * math.Pi * 2 * frac) * 10)
    })
    val rows = Timeseries.dominantFreq(ts, windowUs = W).collect()
    rows.length shouldBe 1
    rows.head.getAs[Long]("k_dom") shouldBe 2L
    rows.head.getAs[Double]("power_frac") should be > 0.95
  }

  "rqa" should "read a period-4 pattern as fully deterministic with the exact pair count" in {
    // 32 buckets of the pattern [0,5,1,7]: recurrences exist only at
    // diagonal offsets d = 4k, every one on a full-length diagonal
    val pattern = Array(0.0, 5.0, 1.0, 7.0)
    val ts = mkTs((0 until 32).map(i => ("c", i.toLong, pattern(i % 4))))
    val rows = Timeseries.rqa(ts, windowUs = 32L, bucketUs = 1L).collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[Long]("n_points") shouldBe 31L // m=2 embedding of 32 buckets
    // same-phase pairs at d in {4,8,...,28}: sum(31 - 4k) for k=1..7
    r.getAs[Long]("n_rec") shouldBe (1 to 7).map(k => 31 - 4 * k).sum.toLong
    r.getAs[Double]("rr") shouldBe (105.0 / (30 * 29 / 2)) +- 1e-6
    r.getAs[Double]("det") shouldBe 1.0 // every recurrent point on a line >= 2
    r.getAs[Long]("lmax") shouldBe 27L // the d=4 diagonal spans all 27 starts
    // a linear ramp never revisits a state: the d>=2 Chebyshev gap is
    // 2/sigma = 0.217 > eps, so zero recurrences
    val ramp = mkTs((0 until 32).map(i => ("c", i.toLong, i.toDouble)))
    val r2 = Timeseries.rqa(ramp, windowUs = 32L, bucketUs = 1L).collect().head
    r2.getAs[Long]("n_rec") shouldBe 0L
    r2.isNullAt(r2.fieldIndex("det")) shouldBe true
  }

  "engleGranger" should "flag the planted shared-trend pair and clear the independent walk" in {
    // walk w shared by a and b (b = 2w + stationary wobble): their
    // step-1 residual is stationary -> cointegrated; c walks its own
    // path -> the residual inherits a unit root and the test clears it
    val n = 300
    val hr = 3600000000L
    // deterministic +-1 LCG walks: genuinely unit-rooted, unlike
    // bounded sin-sums which are stationary and cointegrate with
    // everything
    def walk(seed0: Long): IndexedSeq[Double] = {
      var s = seed0; var acc = 0.0
      (0 until n).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        acc += (if (s > 0) 1.0 else -1.0)
        acc
      }
    }
    val w1 = walk(42L)
    val w2 = walk(7777L)
    val rows = (0 until n).flatMap { i =>
      Seq(
        ("a", i * hr, w1(i)),
        ("b", i * hr, 2.0 * w1(i) + 0.5 * math.cos(i * 3.7)),
        ("c", i * hr, w2(i))
      )
    }
    val out = Timeseries.engleGranger(mkTs(rows)).collect()
      .map(r => (r.getAs[String]("ch_a"), r.getAs[String]("ch_b")) -> r).toMap
    val ab = out(("a", "b"))
    ab.getAs[Long]("n_buckets") shouldBe n.toLong
    ab.getAs[Double]("gamma") shouldBe 0.5 +- 0.05
    ab.getAs[Double]("adf_t") should be < -3.34
    ab.getAs[Boolean]("cointegrated") shouldBe true
    out(("a", "c")).getAs[Boolean]("cointegrated") shouldBe false
    out(("b", "c")).getAs[Boolean]("cointegrated") shouldBe false
  }

  "psdSlope" should "recover the exponent of a planted 1/k^2 spectrum with r2 ~ 1" in {
    // v = sum_k (1/k) cos(2pi k frac) over one exact window: DFT
    // orthogonality puts power(k) = 1/(4 k^2), so log-power on log-k
    // is an exact line of slope -2 (exponent 2)
    val n = 1024
    val W = 1024L
    val ts = mkTs((0 until n).map { i =>
      val frac = i.toDouble / n
      val v = (1 to 4).map(k => math.cos(2 * math.Pi * k * frac) / k).sum
      ("c", (frac * W).toLong, v)
    })
    val rows = Timeseries.psdSlope(ts, windowUs = W).collect()
    rows.length shouldBe 1
    val r = rows.head
    r.getAs[Long]("n_pts") shouldBe 4L
    r.getAs[Double]("slope") shouldBe -2.0 +- 0.01
    r.getAs[Double]("exponent") shouldBe 2.0 +- 0.01
    r.getAs[Double]("r2") should be > 0.999
    // white spectrum: equal power at every harmonic -> slope ~ 0
    val white = mkTs((0 until n).map { i =>
      val frac = i.toDouble / n
      val v = (1 to 4).map(k => math.cos(2 * math.Pi * k * frac)).sum
      ("c", (frac * W).toLong, v)
    })
    val w = Timeseries.psdSlope(white, windowUs = W).collect().head
    w.getAs[Double]("slope") shouldBe 0.0 +- 0.01
  }

  "peaks" should "mark local maxima above the floor, plateau firsts only, edges never" in {
    // 0,10,0,10,10,0,... : isolated peak at i=1; plateau (i=3,4) marks
    // only i=3; final sample i=9 is high but has no successor — drops
    val vs = Seq(0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 3.0, 2.0, 0.0, 99.0)
    val ts = mkTs(vs.zipWithIndex.map { case (v, i) => ("c", i * 1000L, v) })
    val rows = Timeseries.peaks(ts, minHeight = 2.5).collect()
    rows.map(_.getAs[Long]("t")).sorted shouldBe Array(1000L, 3000L, 6000L)
    val p1 = rows.find(_.getAs[Long]("t") == 1000L).get
    p1.getAs[Double]("rise") shouldBe 10.0
    p1.getAs[Double]("drop") shouldBe 10.0
    val plateau = rows.find(_.getAs[Long]("t") == 3000L).get
    plateau.getAs[Double]("drop") shouldBe 0.0 // at-or-above successor
  }

  it should "be invariant to the halo bucket width (block halo ≡ global window)" in {
    val ts = mkTs((0L until 300L).map { i =>
      val t = i * 137L + (i % 7) * 10000L + (i / 50) * 900000L
      ("c", t, math.sin(i * 0.37) * 5 + (i % 11))
    })
    val ref = Timeseries.peaks(ts, minHeight = 0.0, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    ref.length should be > 10
    for (bw <- Seq(1000L, 50000L, 333333L)) {
      Timeseries.peaks(ts, minHeight = 0.0, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  "levelShifts" should "be invariant to the halo bucket width, including widths with empty buckets" in {
    // sparse irregular times: small widths leave EMPTY calendar
    // buckets between populated ones — the dense re-index must keep
    // halo adjacency across them
    val ts = mkTs((0L until 200L).map { i =>
      val t = i * 137L + (i % 7) * 10000L + (i / 50) * 900000L
      ("c", t, math.sin(i * 0.13) * 3 + (if (i >= 120) 8.0 else 0.0))
    })
    val ref = Timeseries.levelShifts(ts, w = 10, nSigma = 2.0, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    ref should not be empty // the planted step fires under the huge-bucket (global) run
    for (bw <- Seq(1000L, 50000L, 333333L)) {
      Timeseries.levelShifts(ts, w = 10, nSigma = 2.0, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  it should "flag only samples near a planted step change" in {
    // 0 for the first 60 samples, 10 after: a clean level shift at i=60
    val ts = mkTs((0L until 120L).map(i => ("c", i * 100L, if (i < 60) 0.0 else 10.0)))
    val rows = Timeseries.levelShifts(ts, w = 30, nSigma = 3.0).collect()
    rows should not be empty
    val flaggedIdx = rows.map(_.getAs[Long]("t") / 100L)
    // every flag sits within one window of the boundary; nothing fires
    // where both windows lie inside a single regime
    flaggedIdx.foreach { i => i should (be >= 30L and be <= 90L) }
    // the sample adjacent to the step (both windows pure) is flagged
    // with the full 10.0 step between the window means
    val edge = rows.find(_.getAs[Long]("t") == 5900L)
    edge should be (defined)
    edge.get.getAs[Double]("mean_pre") shouldBe 0.0 +- 1e-12
    edge.get.getAs[Double]("mean_post") shouldBe 10.0 +- 1e-12
  }

  it should "stay silent on stationary noise and fire on a ramp only under tighter sigma" in {
    // deterministic alternating noise: window means cancel, sigma = 1
    val noise = mkTs((0L until 200L).map(i => ("c", i * 100L, if (i % 2 == 0) 1.0 else -1.0)))
    Timeseries.levelShifts(noise, w = 30, nSigma = 3.0).count() shouldBe 0L
    // a pure ramp's shift/sigma ratio is slope-INDEPENDENT:
    // (w+1)/sqrt((w^2-1)/12) ~ 3.58 at w=30 — above 3, below 4. The
    // screen is a level test, not a trend test; trend-robust variants
    // detrend first.
    val ramp = mkTs((0L until 200L).map(i => ("c", i * 100L, i * 0.001)))
    Timeseries.levelShifts(ramp, w = 30, nSigma = 4.0).count() shouldBe 0L
    Timeseries.levelShifts(ramp, w = 30, nSigma = 3.0).count() should be > 0L
  }

  "dowProfile" should "bucket by epoch-arithmetic weekday and hour" in {
    // 1970-01-01 (epoch day 0) was a Thursday → dow (0+4)%7 = 4
    val thuMidnight = 0L
    val sunNoon = 3L * 86400000000L + 12L * 3600000000L // 1970-01-04 was a Sunday
    val ts = mkTs(Seq(("c", thuMidnight, 1.0), ("c", sunNoon, 5.0), ("c", sunNoon + 1L, 7.0)))
    val rows = Timeseries
      .dowProfile(ts)
      .orderBy($"dow", $"hod")
      .collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hod"), r.getAs[Long]("n"), r.getAs[Double]("vavg")))
    rows shouldBe Array((0L, 12L, 2L, 6.0), (4L, 0L, 1L, 1.0))
  }

  "pyramid" should "make every rolled-up tier equal the direct aggregate at that width" in {
    val base = 1000L
    val ts = mkTs(
      (0L until 500L).map(i => ("a", i * 37L, math.sin(i * 0.3) * 50)) ++
        (0L until 300L).map(i => ("b", i * 91L + 5L, (i % 13).toDouble - 6))
    )
    val p = Timeseries.pyramid(ts, base, levels = 3)
    for (l <- 0 to 3) {
      val direct = Timeseries
        .downsample(ts, base * (1L << l))
        .select(col("channel"), col("bucket").as("bin"), col("vmin"), col("vmax"), col("n"), col("vavg"))
        .orderBy("channel", "bin")
        .collect()
        .map(_.toSeq)
        .toSeq
      val tier = p
        .filter(col("level") === l)
        .select(col("channel"), col("bin"), col("vmin"), col("vmax"), col("n"), col("vavg"))
        .orderBy("channel", "bin")
        .collect()
        .map(_.toSeq)
        .toSeq
      tier shouldBe direct
    }
  }

  "rollingBaseline" should "compare each bucket mean against the trailing-bucket mean" in {
    val ts = mkTs(
      Seq(
        ("a", 1L, 1.0), ("a", 5L, 3.0), // bucket 0: mean 2
        ("a", 12L, 5.0), // bucket 1: mean 5
        ("a", 21L, 10.0), ("a", 25L, 20.0), ("a", 29L, 30.0), // bucket 2: mean 20
        ("a", 35L, 4.0) // bucket 3: mean 4
      )
    )
    val rows = Timeseries
      .rollingBaseline(ts, bucketUs = 10L, trail = 2)
      .orderBy($"channel", $"bucket")
      .collect()
      .map(r =>
        (
          r.getAs[Long]("bucket"),
          r.getAs[Long]("n"),
          r.getAs[Double]("mean"),
          if (r.isNullAt(r.fieldIndex("trail_n"))) -1L else r.getAs[Long]("trail_n"),
          if (r.isNullAt(r.fieldIndex("dev"))) -999.0 else r.getAs[Double]("dev")
        )
      )
    rows(0) shouldBe ((0L, 2L, 2.0, -1L, -999.0))
    rows(1) shouldBe ((1L, 1L, 5.0, 2L, 3.0)) // vs trailing mean 2
    // bucket 2 trails buckets 0+1: (1+3+5)/3 = 3 -> dev 17
    rows(2) shouldBe ((2L, 3L, 20.0, 3L, 17.0))
    // bucket 3 trails buckets 1+2: (5+60)/4 = 16.25 -> dev -12.25
    rows(3) shouldBe ((3L, 1L, 4.0, 4L, -12.25))
  }

  it should "window only the per-bucket summary, never the raw stream" in {
    // the sole channel-partitioned window must consume the aggregated
    // grid (marker columns __pb_*), per the two-phase discipline
    val plan = Timeseries
      .rollingBaseline(mkTs(Seq(("a", 1L, 1.0))), bucketUs = 10L, trail = 2)
      .queryExecution
      .optimizedPlan
      .toString
    plan should include("__pb_")
  }

  "olsForecast" should "recover a planted linear trend exactly and extrapolate it" in {
    // one sample per hourly bucket => the bucket mean IS the sample, and
    // the bucket means lie exactly on y = 10 + 0.5·(bkt − x0): OLS must
    // return slope 0.5 and every horizon point on the same line
    val x0 = Timeseries.ForecastX0
    val b0 = 473000L
    val rows = (0 until 48).map { i =>
      val bkt = b0 + i
      ("lin", bkt * Timeseries.BucketUs + 5L, 10.0 + 0.5 * (bkt - x0))
    }
    val out = Timeseries
      .olsForecast(mkTs(rows), horizon = 3)
      .orderBy("h")
      .collect()
    out.length shouldBe 3
    out.map(_.getAs[Long]("bucket")).toList shouldBe List(b0 + 48, b0 + 49, b0 + 50)
    out.foreach { r =>
      r.getAs[Long]("n_buckets") shouldBe 48L
      r.getAs[Double]("slope") shouldBe 0.5 +- 1e-9
      val bucket = r.getAs[Long]("bucket")
      r.getAs[Double]("yhat") shouldBe (10.0 + 0.5 * (bucket - x0)) +- 1e-6
    }
  }

  "welchPsd" should "concentrate the averaged PSD at a planted harmonic with near-zero spread" in {
    // 4 windows of a pure k=2 sinusoid sampled 64×/window: every
    // window's periodogram puts (amp/2)² at k=2 and ~0 elsewhere, so
    // the Welch average is stable across windows (std ≈ 0)
    val winUs = 64000L
    val rows = for (w <- 0 until 4; i <- 0 until 64) yield {
      val t = w * winUs + i * 1000L
      val frac = (t % winUs).toDouble / winUs
      ("sin", t, 10.0 * math.cos(2 * 6.283185307179586 * frac))
    }
    val out = Timeseries
      .welchPsd(mkTs(rows), windowUs = winUs, ks = 1 to 4)
      .orderBy("k")
      .collect()
      .map(r =>
        (r.getAs[Long]("k"), r.getAs[Long]("n_windows"), r.getAs[Double]("psd_mean"), r.getAs[Double]("psd_std"))
      )
    out.foreach(_._2 shouldBe 4L)
    val byK = out.map(t => t._1 -> t).toMap
    byK(2L)._3 shouldBe 25.0 +- 0.1 // (amp/2)² = 25
    Seq(1L, 3L, 4L).foreach(k => byK(k)._3 should be < 0.1)
    out.foreach(_._4 should be < 0.01) // identical windows → no spread
  }

  "spectralEntropy" should "go to zero on a pure tone and toward ln(K) on broadband data" in {
    val winUs = 64000L
    val tone = for (w <- 0 until 4; i <- 0 until 64) yield {
      val t = w * winUs + i * 1000L
      val frac = (t % winUs).toDouble / winUs
      ("tone", t, 10.0 * math.cos(2 * 6.283185307179586 * frac))
    }
    // deterministic broadband-ish signal: power spread over harmonics
    val noise = for (w <- 0 until 4; i <- 0 until 64) yield
      ("mix", w * winUs + i * 1000L, ((i * 2654435761L) % 97).toDouble)
    val out = Timeseries
      .spectralEntropy(mkTs(tone ++ noise), windowUs = winUs)
      .collect()
      .map(r => r.getAs[String]("channel") -> (r.getAs[Double]("entropy_norm"), r.getAs[Double]("flatness")))
      .toMap
    out("tone")._1 should be < 0.2 // all mass at one harmonic
    out("tone")._2 should be < 0.05
    out("mix")._1 should be > 0.5 // spread spectrum
  }

  "lttbDownsample" should "keep endpoints and the max-area spike per bucket" in {
    // bucket 0: first bucket keeps its FIRST sample; bucket 2 (last)
    // keeps its LAST; bucket 1 must keep the spike at t=1400 (hand
    // computation: areas 5500 / 14100 / 6100)
    val rows = Seq(
      ("ch", 0L, 0.0), ("ch", 500L, 5.0),
      ("ch", 1000L, 0.0), ("ch", 1400L, 10.0), ("ch", 1600L, 0.0),
      ("ch", 2000L, 0.0), ("ch", 2500L, 7.0)
    )
    val got = Timeseries
      .lttbDownsample(mkTs(rows), bucketUs = 1000L)
      .orderBy("bucket")
      .select("bucket", "t", "v")
      .as[(Long, Long, Double)]
      .collect()
      .toList
    got shouldBe List((0L, 0L, 0.0), (1L, 1400L, 10.0), (2L, 2500L, 7.0))
  }

  "arrivalStats" should "report B = -1 for a periodic channel and positive B for a bursty one" in {
    val periodic = (0L until 50L).map(i => ("per", i * 1000L, 1.0))
    // bursts of tiny gaps separated by huge ones
    val bursty = Seq(0L, 1L, 2L, 3L, 4L, 10000L, 10001L, 10002L, 10003L, 20000L)
      .map(t => ("bur", t, 1.0))
    val out = Timeseries
      .arrivalStats(mkTs(periodic ++ bursty))
      .collect()
      .map(r => r.getAs[String]("channel") -> r)
      .toMap
    out("per").getAs[Double]("std_gap_us") shouldBe 0.0
    out("per").getAs[Double]("burstiness") shouldBe -1.0
    out("per").getAs[Long]("n_gaps") shouldBe 49L
    out("bur").getAs[Double]("burstiness") should be > 0.2
    out("bur").getAs[Double]("cv") should be > 1.0
  }

  "m4Downsample" should "keep first/last/min/max with deterministic tie-breaks" in {
    // one bucket: first (t=0), last (t=900), min v at t=300, max v 9.0
    // appears TWICE (t=400, t=700) — struct order (v, t, id) must pick
    // the earlier one for min-tie semantics and the LATER one for max
    val rows = Seq(
      ("ch", 0L, 5.0), ("ch", 300L, -2.0), ("ch", 400L, 9.0),
      ("ch", 700L, 9.0), ("ch", 900L, 1.0)
    )
    val got = Timeseries.m4Downsample(mkTs(rows), bucketUs = 1000L).collect().head
    got.getAs[Long]("n") shouldBe 5L
    (got.getAs[Long]("t_first"), got.getAs[Double]("v_first")) shouldBe ((0L, 5.0))
    (got.getAs[Long]("t_last"), got.getAs[Double]("v_last")) shouldBe ((900L, 1.0))
    (got.getAs[Long]("t_min"), got.getAs[Double]("v_min")) shouldBe ((300L, -2.0))
    (got.getAs[Long]("t_max"), got.getAs[Double]("v_max")) shouldBe ((700L, 9.0))
  }

  "spanJoin" should "attach exactly the covering span and stay an equi-join" in {
    val ts = mkTs(
      Seq(
        ("a", 10L, 1.0), ("a", 15L, 3.0), ("a", 25L, 100.0), // 25 outside
        ("b", 105L, 7.0), ("b", 99L, 100.0) // 99 outside
      )
    )
    val spans = Seq((1L, 10L, 20L), (2L, 100L, 110L)).toDF("island", "s", "e")
    val df = Timeseries.spanJoin(ts, spans, bucketUs = 100L)
    val got = df
      .orderBy("channel", "island")
      .select("channel", "island", "n_samples", "mean_v")
      .as[(String, Long, Long, Double)]
      .collect()
      .toList
    got shouldBe List(("a", 1L, 2L, 2.0), ("b", 2L, 1L, 7.0))
    // the range join must compile to a bucket-keyed HASH join, never a
    // nested loop over the sample stream
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "BroadcastNestedLoopJoin"
  }

  "olsForecast single-bucket" should "emit NULL fit columns instead of dropping the channel" in {
    val rows = Seq(("one", 473000L * Timeseries.BucketUs, 7.0))
    val out = Timeseries.olsForecast(mkTs(rows), horizon = 2).collect()
    out.length shouldBe 2
    out.foreach { r =>
      r.isNullAt(r.fieldIndex("slope")) shouldBe true
      r.isNullAt(r.fieldIndex("yhat")) shouldBe true
    }
  }

  "extremesScreen" should "fit the Gumbel moments of planted daily maxima" in {
    val dayUs = 86400000000L
    // 40 days, 3 samples/day; the per-day max is exactly 10 + day%4
    // (values 10,11,12,13 each 10 times): mean 11.5, sd sqrt(50/39)
    val ts = mkTs((0L until 40L).flatMap { d =>
      Seq(
        ("c", d * dayUs + 1000L, 1.0),
        ("c", d * dayUs + 2000L, 10.0 + (d % 4)),
        ("c", d * dayUs + 3000L, 5.0)
      )
    })
    val r = Timeseries.extremesScreen(ts).collect()
    r.length shouldBe 1
    r.head.getAs[Long]("n_blocks") shouldBe 40L
    r.head.getAs[Double]("block_mean") shouldBe 11.5 +- 1e-9
    val sd = math.sqrt(50.0 / 39.0)
    r.head.getAs[Double]("block_sd") shouldBe sd +- 1e-6
    val beta = sd * 0.779696801233676
    val mu = 11.5 - 0.5772156649015329 * beta
    r.head.getAs[Double]("gumbel_mu") shouldBe mu +- 1e-6
    r.head.getAs[Double]("rl_365") shouldBe (mu + beta * 5.8985259242227315) +- 1e-6
    r.head.getAs[Double]("observed_max") shouldBe 13.0
    // return levels are monotone in horizon and exceed the location
    r.head.getAs[Double]("rl_365") should be > r.head.getAs[Double]("rl_30")
    r.head.getAs[Double]("rl_30") should be > mu - 1e-9
  }

  it should "drop single-block channels (no spread to fit)" in {
    val ts = mkTs(Seq(("solo", 1000L, 1.0), ("solo", 2000L, 5.0)))
    Timeseries.extremesScreen(ts).collect() shouldBe empty
  }

  "seasonalAnomalies" should "flag exactly the buckets where a planted glitch breaks the cycle" in {
    val hourUs = 3600000000L
    // 20 days of a clean daily sinusoid + trend, with two injected
    // bucket-level glitches well clear of the residual noise floor
    val glitched = Set(197L, 310L)
    val ts = mkTs((0L until 480L).map { h =>
      val base = 0.05 * h + 5.0 * math.sin(2 * math.Pi * (h % 24) / 24.0)
      val v = if (glitched(h)) base + 40.0 else base
      ("c", h * hourUs + 1000L, v)
    })
    val out = Timeseries.seasonalAnomalies(ts).collect()
    // trend-window edges shave the first/last halfTrend buckets, but
    // both glitches sit inside; the seasonal means absorb a little of
    // each spike so a couple of same-phase echoes may flag too — the
    // planted buckets must be the TOP hits
    val flagged = out.map(_.getAs[Long]("bucket")).toSet
    glitched.subsetOf(flagged) shouldBe true
    val top2 = out.sortBy(r => -math.abs(r.getAs[Double]("z"))).take(2).map(_.getAs[Long]("bucket")).toSet
    top2 shouldBe glitched
    out.foreach(r => math.abs(r.getAs[Double]("z")) should be > 2.5)
  }

  it should "find no real residual on a clean seasonal signal" in {
    val hourUs = 3600000000L
    val ts = mkTs((0L until 480L).map { h =>
      ("c", h * hourUs + 1000L, 0.05 * h + 5.0 * math.sin(2 * math.Pi * (h % 24) / 24.0))
    })
    // trend + seasonal explain the signal exactly (the 25h window's
    // sinusoid leakage is phase-periodic, so the seasonal means absorb
    // it): any "flagged" bucket can only be round-6 output dust, never
    // a real residual
    val out = Timeseries.seasonalAnomalies(ts).collect()
    out.foreach(r => math.abs(r.getAs[Double]("resid")) should be < 1e-5)
  }

  "giniScreen" should "score equality at 0 and a whale-dominated channel high" in {
    // "flat": 10 users x 5 events each → Gini 0;
    // "whale": one user with 96 events, 4 users with 1 → Gini near 0.76
    val rows =
      (0 until 50).map(i => ("flat", i.toLong * 1000L, 1.0, (i % 10).toLong, i.toLong)) ++
        (0 until 96).map(i => ("whale", i.toLong * 1000L, 1.0, 0L, 1000L + i)) ++
        (1 to 4).map(u => ("whale", 100000L + u, 1.0, u.toLong, 2000L + u))
    val df = rows.toDF("channel", "t", "v", "user_id", "event_id")
    val got = Timeseries.giniScreen(df).collect()
    val byC = got.map(r => r.getAs[String]("channel") -> r).toMap
    byC("flat").getAs[Double]("gini") shouldBe 0.0
    byC("flat").getAs[Long]("n_users") shouldBe 10L
    // exact: num = 2*Σ_{i<j} m_i m_j |x_i-x_j| = 2*(1*4*95) = 760;
    // G = 760 / (2*5*100) = 0.76
    byC("whale").getAs[Double]("gini") shouldBe 0.76
    byC("whale").getAs[Long]("n_events") shouldBe 100L
  }

  "montage->bandPower composition" should "see only the differential tone, not the common mode" in {
    val hourUs = 3600000000L
    // lead and secondary share a strong common k=1 daily cycle; only
    // the lead carries a k=3 tone — the montage cancels the common
    // mode so the differential spectrum peaks at k=3 alone
    val rows = (0L until 96L).flatMap { h =>
      val common = 10.0 * math.sin(2 * math.Pi * (h % 24) / 24.0)
      val tone = 2.0 * math.sin(2 * math.Pi * 3 * (h % 24) / 24.0)
      Seq(("L", h * hourUs + 1L, common + tone), ("S", h * hourUs + 2L, common))
    }
    val m = Timeseries
      .montage(spark, mkTs(rows), Seq(("L", "S")), hourUs)
      .select(col("channel"), col("bucket").as("t"), col("v"))
    val bp = Timeseries.bandPower(m, windowUs = 24L).collect()
    val byK = bp.groupBy(_.getAs[Long]("k")).view
      .mapValues(_.map(_.getAs[Double]("power")).max).toMap
    byK(3L) shouldBe 1.0 +- 0.05 // (amp/2)^2 of the 2.0 tone
    byK(1L) should be < 0.01 // common mode cancelled
    byK(2L) should be < 0.01
    byK(4L) should be < 0.01
  }

  "forecastBacktest" should "score a clean trend near zero error and beat naive on a steep one" in {
    val hourUs = 3600000000L
    // linear: perfectly forecastable → MAE ~0, MASE ~0;
    // steppy: trend 1.0/bucket with ±2 zigzag — trend fit beats naive
    val rows = (0L until 200L).flatMap { h =>
      Seq(
        ("linear", h * hourUs + 1L, 3.0 + 0.5 * h),
        ("steppy", h * hourUs + 1L, 1.0 * h + (if (h % 2 == 0) 2.0 else -2.0))
      )
    }
    val out = Timeseries.forecastBacktest(mkTs(rows)).collect()
    val byC = out.map(r => r.getAs[String]("channel") -> r).toMap
    byC("linear").getAs[Double]("mae") shouldBe 0.0 +- 1e-6
    byC("linear").getAs[Double]("mase") shouldBe 0.0 +- 1e-6
    byC("linear").getAs[Double]("slope") shouldBe 0.5 +- 1e-6
    // naive one-step error on the zigzag is ~5 (trend 1 + swing 4);
    // the trend fit's holdout error is the ±2 swing → MASE ≈ 0.4
    byC("steppy").getAs[Double]("mase") should be < 0.6
    byC("steppy").getAs[Double]("mae") shouldBe 2.0 +- 0.2
    // split accounting: 200 buckets → cut at b0+159 → 160/40
    byC("linear").getAs[Long]("n_train") shouldBe 160L
    byC("linear").getAs[Long]("n_test") shouldBe 40L
  }

  "transitionMatrix" should "recover a planted deterministic chain with unit probabilities" in {
    // user 1 cycles a->b->c; user 2 bounces a->b->a; rows are exact
    def mk(u: Long, seq: Seq[String]) = seq.zipWithIndex.map { case (c, i) =>
      (c, i.toLong * 1000L, (u * 1000 + i).toLong, u)
    }
    val rows = mk(1L, Seq("a", "b", "c", "a", "b", "c", "a")) ++ mk(2L, Seq("a", "b", "a", "b", "a"))
    val df = rows.toDF("channel", "t", "event_id", "user_id")
    val got = Timeseries.transitionMatrix(df).orderBy("from_type", "to_type")
      .as[(String, String, Long, Long, Double)].collect().toList
    got shouldBe List(
      ("a", "b", 4L, 4L, 1.0), // a always goes to b (both users)
      ("b", "a", 2L, 4L, 0.5), // user 2 bounces back
      ("b", "c", 2L, 4L, 0.5), // user 1 advances
      ("c", "a", 2L, 2L, 1.0)
    )
  }

  it should "be invariant to the stitch-bucket width" in {
    val rows = (0L until 900L).map { i =>
      (Seq("x", "y", "z")((i % 3).toInt), i * 777L, i, i % 7)
    }
    val df = rows.toDF("channel", "t", "event_id", "user_id")
    val ref = Timeseries.transitionMatrix(df, stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    ref should not be empty
    for (bw <- Seq(1000L, 99999L)) {
      Timeseries.transitionMatrix(df, stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  "changepoints" should "recover both planted level shifts through two recursion levels" in {
    // three regimes: 0 (600 pts), 10 (600), 20 (600) + small wiggle.
    // level 1 finds ONE split (the bridge peaks between the regimes);
    // level 2 must then surface the other shift inside one side
    val rows = (0L until 1800L).map { i =>
      val lvl = if (i < 600) 0.0 else if (i < 1200) 10.0 else 20.0
      ("c", i * 1000000L, lvl + (i % 5) * 0.01)
    }
    val out = Timeseries.changepoints(mkTs(rows)).collect()
    val l1 = out.filter(_.getAs[Long]("level") == 1L)
    l1.length shouldBe 1
    l1.head.getAs[Boolean]("significant") shouldBe true
    val cp1 = l1.head.getAs[Long]("t_cp") / 1000000L
    // symmetric staircase: the level-1 argmax lands at a regime edge
    // (the small wiggle can move it a couple of samples)
    def nearEdge(cp: Long): Option[Long] = Seq(600L, 1200L).find(e => math.abs(cp - e) <= 5)
    val edge1 = nearEdge(cp1)
    edge1 should not be empty
    val l2 = out.filter(_.getAs[Long]("level") == 2L)
    l2.length shouldBe 2 // both sides tested and reported
    // the OTHER regime edge surfaces as a significant level-2 cp
    // (the side straddling cp1's few-sample overshoot may flag too —
    // its stragglers are a real, if tiny, shift)
    val sigEdges = l2
      .filter(_.getAs[Boolean]("significant"))
      .flatMap(r => nearEdge(r.getAs[Long]("t_cp") / 1000000L))
    sigEdges should contain(Seq(600L, 1200L).filterNot(edge1.contains).head)
  }

  it should "report stationary channels as tested-but-insignificant, never empty" in {
    val rows = (0L until 500L).map(i => ("flat", i * 1000000L, (i % 7).toDouble))
    val out = Timeseries.changepoints(mkTs(rows)).collect()
    out.length should be >= 1
    out.filter(_.getAs[Long]("level") == 1L).foreach(_.getAs[Boolean]("significant") shouldBe false)
  }

  "haarSpectrum" should "put an alternating signal's energy at level 1 and a slow square wave's deeper" in {
    val hourUs = 3600000000L
    // 64 buckets: channel "alt" flips ±1 every bucket (finest scale);
    // channel "slow" flips ±1 every 8 buckets (scale 8 = level 4 pairs
    // differ... level where left/right 4-blocks differ: l=4 wait —
    // period 16 means 8-blocks alternate, caught at level 4)
    val rows = (0L until 64L).flatMap { b =>
      Seq(
        ("alt", b * hourUs + 5L, if (b % 2 == 0) 1.0 else -1.0),
        ("slow", b * hourUs + 5L, if ((b / 8) % 2 == 0) 1.0 else -1.0)
      )
    }
    val out = Timeseries.haarSpectrum(mkTs(rows)).collect()
    val e = out.map(r => (r.getAs[String]("channel"), r.getAs[Long]("level")) -> r.getAs[Double]("energy")).toMap
    // alt: every level-1 pair is (1,-1) → d=1, 32 pairs, energy 32;
    // all coarser tiers see exact zeros
    e(("alt", 1L)) shouldBe 32.0 +- 1e-6
    e(("alt", 2L)) shouldBe 0.0 +- 1e-9
    e(("alt", 3L)) shouldBe 0.0 +- 1e-9
    e(("alt", 4L)) shouldBe 0.0 +- 1e-9
    // slow: constant inside every 8-block → levels 1-3 zero; level 4
    // pairs are (+1,-1) 8-block means → d=1, 4 pairs
    e(("slow", 1L)) shouldBe 0.0 +- 1e-9
    e(("slow", 2L)) shouldBe 0.0 +- 1e-9
    e(("slow", 3L)) shouldBe 0.0 +- 1e-9
    e(("slow", 4L)) shouldBe 4.0 +- 1e-6
    // pair counts halve per level
    val np = out.filter(_.getAs[String]("channel") == "alt")
      .map(r => r.getAs[Long]("level") -> r.getAs[Long]("n_pairs")).toMap
    np shouldBe Map(1L -> 32L, 2L -> 16L, 3L -> 8L, 4L -> 4L)
  }

  "cadenceDrift" should "flag the hours where a channel's sampling slowed" in {
    val hourUs = 3600000000L
    // 1-per-minute cadence for 10 h, then 1-per-4-minutes for 10 h
    val rows = (0L until 600L).map(i => ("c", i * 60000000L, 1.0)) ++
      (0L until 150L).map(i => ("c", 36000000000L + i * 240000000L, 1.0))
    val out = Timeseries.cadenceDrift(mkTs(rows)).collect()
    val byB = out.map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("drift")).toMap
    // fast-half hours sit well below the mixed baseline, slow ones above
    byB(2L) should be < 0.75
    byB(15L) should be > 2.0
    byB(15L) / byB(2L) shouldBe 4.0 +- 0.2
    out.map(_.getAs[Long]("n_intervals")).sum shouldBe rows.length - 1
  }

  it should "be invariant to the stitch-bucket width" in {
    val rows = (0L until 400L).map(i => ("c", i * 137000L + (i % 7) * 1000L, 1.0)) ++
      (0L until 200L).map(i => ("d", i * 531000L, 2.0))
    val ref = Timeseries.cadenceDrift(mkTs(rows), stitchBucketUs = 1L << 60)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    ref should not be empty
    for (bw <- Seq(1000000L, 7777777L)) {
      Timeseries.cadenceDrift(mkTs(rows), stitchBucketUs = bw)
        .collect().map(_.toSeq).sortBy(_.mkString("|")) shouldBe ref
    }
  }

  "psiScreen" should "score a planted second-half shift high and a stable channel near zero" in {
    // stable: same deterministic wiggle both halves; shifted: +8 level
    // change in the second half
    val rows = (0L until 2000L).flatMap { i =>
      val w = (i % 17).toDouble / 17.0
      Seq(
        ("stable", i * 1000000L, w),
        ("shifted", i * 1000000L, if (i < 1000) w else w + 8.0)
      )
    }
    val out = Timeseries.psiScreen(mkTs(rows)).collect()
    val psi = out.map(r => r.getAs[String]("channel") -> r.getAs[Double]("psi")).toMap
    psi("stable") should be < 0.01
    psi("shifted") should be > 1.0 // total mass migration: far past the 0.25 action bar
    out.find(_.getAs[String]("channel") == "shifted").get.getAs[Boolean]("drifted") shouldBe true
    out.find(_.getAs[String]("channel") == "stable").get.getAs[Boolean]("drifted") shouldBe false
  }

  "ljungBox" should "reject a periodic channel and keep hashed noise under the chi2 bar" in {
    val hr = 3600000000L
    def mix(x: Long): Double = {
      var z = x * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    // one sample per hourly bucket so the grid is the series itself
    val rows = (0 until 500).flatMap { b =>
      Seq(
        ("per", b.toLong * hr, math.sin(b * math.Pi / 12.0)), // 24h cycle
        ("rnd", b.toLong * hr, mix(b.toLong))
      )
    }
    val out = Timeseries.ljungBox(mkTs(rows)).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    out("per").getAs[Boolean]("white_noise_rejected") shouldBe true
    out("per").getAs[Double]("q_stat") should be > 100.0
    // lag-6 autocorrelation of a 24-bucket sine is cos(6*pi/12) = 0
    out("per").getAs[Double]("rho6") shouldBe (0.0 +- 0.05)
    out("per").getAs[Double]("rho1") should be > 0.9 // cos(pi/12) ~ 0.966
    out("rnd").getAs[Boolean]("white_noise_rejected") shouldBe false
    out("rnd").getAs[Double]("q_stat") should be < 12.592
    out("rnd").getAs[Long]("n_buckets") shouldBe 500L
  }

  "dickeyFuller" should "reject the unit root for noise, keep it for a random walk, and match naive OLS" in {
    val hr = 3600000000L
    def mix(x: Long): Double = {
      var z = x * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    val noise = (0 until 400).map(b => mix(b.toLong) - 0.5)
    val walk = noise.scanLeft(0.0)(_ + _).drop(1)
    val rows = (0 until 400).flatMap { b =>
      Seq(("wn", b.toLong * hr, noise(b)), ("rw", b.toLong * hr, walk(b)))
    }
    val out = Timeseries.dickeyFuller(mkTs(rows)).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    // white noise: beta ~ -1, t-stat deeply below the -2.86 bar
    out("wn").getAs[Boolean]("unit_root_rejected") shouldBe true
    out("wn").getAs[Double]("t_stat") should be < -10.0
    out("wn").getAs[Double]("beta") shouldBe (-1.0 +- 0.15)
    // random walk: beta ~ 0, the test must NOT reject the unit root
    out("rw").getAs[Boolean]("unit_root_rejected") shouldBe false
    out("rw").getAs[Double]("beta") shouldBe (0.0 +- 0.15)
    out("rw").getAs[Long]("n_pairs") shouldBe 399L
    // kernel check: the engine's t-stat equals a naive driver-side OLS
    val x = walk.dropRight(1)
    val y = walk.sliding(2).map(p => p(1) - p(0)).toSeq
    val n = x.size.toDouble
    val (sx, sy) = (x.sum, y.sum)
    val cxx = x.map(v => v * v).sum - sx * sx / n
    val cxy = x.zip(y).map { case (a, b) => a * b }.sum - sx * sy / n
    val cyy = y.map(v => v * v).sum - sy * sy / n
    val beta = cxy / cxx
    val s2 = (cyy - beta * cxy) / (n - 2.0)
    val tRef = beta / math.sqrt(s2 / cxx)
    out("rw").getAs[Double]("t_stat") shouldBe (tRef +- 1e-4)
  }

  "varianceRatio" should "hit 1/q on noise levels, 1 on a random walk, and match the naive estimator" in {
    val hr = 3600000000L
    def mix(x: Long): Double = {
      var z = x * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    val noise = (0 until 800).map(b => mix(b.toLong) - 0.5)
    val walk = noise.scanLeft(0.0)(_ + _).drop(1)
    val rows = (0 until 800).flatMap { b =>
      Seq(("wn", b.toLong * hr, noise(b)), ("rw", b.toLong * hr, walk(b)))
    }
    val out = Timeseries.varianceRatio(mkTs(rows)).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    // iid levels: q-step and 1-step diffs share Var = 2σ² -> VR(q) = 1/q
    out("wn").getAs[Double]("vr2") shouldBe (0.5 +- 0.1)
    out("wn").getAs[Double]("vr8") shouldBe (0.125 +- 0.1)
    out("wn").getAs[Boolean]("random_walk_rejected") shouldBe true
    // random walk: variance scales linearly -> VR ~ 1 at every horizon
    out("rw").getAs[Double]("vr2") shouldBe (1.0 +- 0.2)
    out("rw").getAs[Double]("vr8") shouldBe (1.0 +- 0.4)
    out("rw").getAs[Long]("n_diffs") shouldBe 799L
    // kernel check: engine VR(4) equals the naive driver-side estimator
    val d1 = walk.sliding(2).map(p => p(1) - p(0)).toSeq
    val d4 = walk.sliding(5).map(p => p(4) - p(0)).toSeq
    val mu = d1.sum / d1.size
    def ssVar(ds: Seq[Double], k: Int) =
      ds.map(d => (d - k * mu) * (d - k * mu)).sum / (ds.size - 1)
    val vrRef = ssVar(d4, 4) / (4 * ssVar(d1, 1))
    out("rw").getAs[Double]("vr4") shouldBe (vrRef +- 1e-6)
  }

  "hurstRs" should "separate memoryless, anti-persistent and trending series" in {
    val hr = 3600000000L
    def mix(x: Long): Double = {
      var z = x * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    val rows = (0 until 512).flatMap { b =>
      Seq(
        ("wn", b.toLong * hr, mix(b.toLong) - 0.5), // iid noise: H ~ 0.5
        ("alt", b.toLong * hr, if (b % 2 == 0) 1.0 else -1.0), // anti-persistent: H -> 0
        ("trend", b.toLong * hr, b * 0.1 + 0.001 * (mix(b.toLong) - 0.5)) // ramp: H -> 1
      )
    }
    val out = Timeseries.hurstRs(mkTs(rows)).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    // small-sample R/S biases noise upward of 0.5 — accept the band
    out("wn").getAs[Double]("hurst") should (be > 0.4 and be < 0.75)
    out("alt").getAs[Double]("hurst") should be < 0.2
    out("trend").getAs[Double]("hurst") should be > 0.9
    // 512 buckets -> 64+32+16+8 = 120 full blocks across the four sizes
    out("wn").getAs[Long]("n_blocks") shouldBe 120L
    // kernel check at g=8: mean R/S equals the naive per-block estimator
    val xs = (0 until 512).map(b => mix(b.toLong) - 0.5)
    val rsRef = xs.grouped(8).map { blk =>
      val mu = blk.sum / 8
      val z = blk.map(_ - mu).scanLeft(0.0)(_ + _).drop(1)
      val s = math.sqrt(blk.map(v => (v - mu) * (v - mu)).sum / 8)
      (z.max - z.min) / s
    }.toSeq
    out("wn").getAs[Double]("rs8") shouldBe (rsRef.sum / rsRef.size +- 1e-6)
  }

  "kpss" should "keep stationary noise, reject a random walk, and agree with ADF's verdicts" in {
    val hr = 3600000000L
    def mix(x: Long): Double = {
      var z = x * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    val noise = (0 until 600).map(b => mix(b.toLong) - 0.5)
    val walk = noise.scanLeft(0.0)(_ + _).drop(1)
    val rows = (0 until 600).flatMap { b =>
      Seq(("wn", b.toLong * hr, noise(b)), ("rw", b.toLong * hr, walk(b)))
    }
    val ts = mkTs(rows)
    val out = Timeseries.kpss(ts).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    // KPSS null IS stationarity: noise stays under the 0.463 bar,
    // the random walk blows far past it
    out("wn").getAs[Boolean]("stationarity_rejected") shouldBe false
    out("wn").getAs[Double]("eta") should be < 0.463
    out("rw").getAs[Boolean]("stationarity_rejected") shouldBe true
    out("rw").getAs[Double]("eta") should be > 1.0
    out("rw").getAs[Long]("n_buckets") shouldBe 600L
    // two-test protocol: ADF and KPSS must agree on both channels
    val adf = Timeseries.dickeyFuller(ts).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    adf("wn").getAs[Boolean]("unit_root_rejected") shouldBe true
    adf("rw").getAs[Boolean]("unit_root_rejected") shouldBe false
  }

  "matrixProfile" should "zero the planted motif pair, point it at its twin, and isolate the discord" in {
    val hr = 3600000000L
    // ramp base (every pure-ramp subsequence is z-identical -> mp 0);
    // the SAME bump pattern at 20..23 and 100..103 (constant offset
    // -> z-identical twins); a lone spike at 60 (unique shapes)
    val bump = Map(0 -> 5.0, 1 -> 9.0, 2 -> 2.0, 3 -> 7.0)
    def v(b: Int): Double = {
      val r = b * 0.1
      if (b >= 20 && b <= 23) r + bump(b - 20)
      else if (b >= 100 && b <= 103) r + bump(b - 100)
      else if (b == 60) 50.0
      else r
    }
    val rows = (0 until 130).map(b => ("c", b.toLong * hr, v(b)))
    val out = Timeseries.matrixProfile(mkTs(rows), windowUs = 604800000000L)
      .collect()
      .map(r => r.getAs[Long]("i") -> (r.getAs[Double]("mp"), r.getAs[Long]("nn_j")))
      .toMap
    out.size shouldBe 127 // i = 0..126, all sigma > 0 on a ramp
    // motif: the bump and its copy are exact z-twins, including every
    // partial-overlap alignment
    (17 to 23).foreach { i =>
      out(i)._1 shouldBe 0.0
      out(i)._2 shouldBe (i + 80).toLong
    }
    // discord: spike-containing shapes have no exact twin, and the
    // window's MAX profile value sits on the spike
    (57 to 60).foreach { i => out(i)._1 should be > 0.01 }
    val argmax = out.maxBy(_._2._1)._1
    argmax should (be >= 57L and be <= 60L)
    // pure-ramp positions away from bump/spike all have exact twins
    Seq(5, 30, 70, 110).foreach { i => out(i)._1 shouldBe 0.0 }
  }

  "poincareDescriptors" should "recover the closed-form SD1/SD2 split and be stitch-width invariant" in {
    // alternating +-1: d alternates +-2 (mean ~0, var ~4 -> SD1 ~ sqrt(2)),
    // s = 0 always -> SD2 = 0, NULL ratio; ramp i: d = 1 constant ->
    // SD1 = 0, s = 2i+1 has var((2i+1)) = 4*var(i)
    val n = 1000
    val rows = (0 until n).flatMap { i =>
      Seq(
        ("alt", i.toLong * 1000000L, if (i % 2 == 0) 1.0 else -1.0),
        ("ramp", i.toLong * 1000000L, i.toDouble)
      )
    }
    val out = Timeseries.poincareDescriptors(mkTs(rows)).collect()
      .map(r => r.getAs[String]("channel") -> r).toMap
    val m = (n - 1).toDouble // pairs
    out("alt").getAs[Long]("n_pairs") shouldBe (n - 1).toLong
    // d = +-2 over 999 pairs (500 of one sign, 499 of the other)
    val meanD = (500 * -2.0 + 499 * 2.0) / m
    val expSd1 = math.sqrt((4.0 - meanD * meanD) / 2.0)
    out("alt").getAs[Double]("sd1") shouldBe (expSd1 +- 1e-5)
    out("alt").getAs[Double]("sd2") shouldBe 0.0
    out("alt").isNullAt(out("alt").fieldIndex("sd_ratio")) shouldBe true
    out("alt").getAs[Double]("rmssd") shouldBe (2.0 +- 1e-9)
    out("ramp").getAs[Double]("sd1") shouldBe 0.0
    // s_i = 2i+1, i=0..n-2: var = 4 * var(0..n-2)
    val varI = (m * m - 1.0) / 12.0
    out("ramp").getAs[Double]("sd2") shouldBe (math.sqrt(4.0 * varI / 2.0) +- 1e-4)
    out("ramp").getAs[Double]("sd_ratio") shouldBe 0.0
    // stitch width is a pure parallelism knob
    val alt = Timeseries.poincareDescriptors(mkTs(rows), stitchBucketUs = 37000000L)
      .collect().map(r => r.getAs[String]("channel") -> r.toSeq).toMap
    alt("alt") shouldBe out("alt").toSeq
    alt("ramp") shouldBe out("ramp").toSeq
  }

  "ksScreen" should "flag a planted level shift with D=1 and keep a stable channel near zero" in {
    // shifted: halves occupy disjoint value ranges -> the ECDF gap
    // reaches 1 at the boundary bin; stable: the second half replays
    // the first (off-by-one split: 1001 vs 999 rows) -> D stays tiny
    val rows = (0L until 2000L).flatMap { i =>
      val w = (i % 17).toDouble / 17.0
      Seq(
        ("stable", i * 1000000L, w),
        ("shifted", i * 1000000L, if (i < 1000) w else w + 8.0)
      )
    }
    val out = Timeseries.ksScreen(mkTs(rows)).collect()
    val byc = out.map(r => r.getAs[String]("channel") -> r).toMap
    byc("shifted").getAs[Double]("ks_d") shouldBe 1.0
    byc("shifted").getAs[Boolean]("significant") shouldBe true
    byc("stable").getAs[Double]("ks_d") should be < 0.01
    byc("stable").getAs[Boolean]("significant") shouldBe false
    byc("stable").getAs[Long]("n_first") shouldBe 1000L // mid = 999.5e6 -> i <= 999
    // asymptotic statistic: D * sqrt(n1*n2/(n1+n2))
    val r = byc("shifted")
    val n1 = r.getAs[Long]("n_first").toDouble
    val n2 = r.getAs[Long]("n_second").toDouble
    r.getAs[Double]("ks_stat") shouldBe
      (math.rint(math.sqrt(n1 * n2 / (n1 + n2)) * 1e6) / 1e6 +- 1e-9)
  }

  "grangerScreen" should "rank a planted lead-lag driver far above the reverse direction" in {
    val hourUs = 3600000000L
    // x: aperiodic deterministic driver; y follows 0.8*x lagged one
    // bucket plus small independent wiggle; z: unrelated
    def drv(i: Long): Double = ((i * 2654435761L) % 97L) / 97.0
    def wig(i: Long): Double = ((i * 40503L) % 89L) / 890.0
    def zrn(i: Long): Double = ((i * 69069L) % 101L) / 101.0
    val rows = (1L until 300L).flatMap { h =>
      Seq(
        ("x", h * hourUs + 1L, drv(h)),
        ("y", h * hourUs + 2L, 0.8 * drv(h - 1) + wig(h)),
        ("z", h * hourUs + 3L, zrn(h))
      )
    }
    val out = Timeseries.grangerScreen(mkTs(rows)).collect()
    val f = out.map(r => (r.getAs[String]("cause"), r.getAs[String]("effect")) -> r.getAs[Double]("fstat")).toMap
    f.keySet shouldBe Set(("x", "y"), ("y", "x"), ("x", "z"), ("z", "x"), ("y", "z"), ("z", "y"))
    // the planted direction dominates
    f(("x", "y")) should be > 100.0
    f(("x", "y")) should be > 10.0 * math.abs(f(("y", "x")))
    f(("x", "y")) should be > 10.0 * math.abs(f(("x", "z")))
    // the fitted cause coefficient recovers the planted 0.8
    val b = out.filter(r => r.getAs[String]("cause") == "x" && r.getAs[String]("effect") == "y").head
    b.getAs[Double]("beta_cause") shouldBe 0.8 +- 0.05
  }

  "ewmaBaseline" should "equal the hand-rolled truncated dyadic kernel and track a step" in {
    val hourUs = 3600000000L
    // step from 0 to 8 at bucket 50, with a gap (buckets 60-63 empty)
    val hours = (0L until 60L) ++ (64L until 80L)
    val means = hours.map(h => h -> (if (h < 50) 0.0 else 8.0)).toMap
    val ts = mkTs(hours.map(h => ("c", h * hourUs + 5L, means(h))))
    val out = Timeseries.ewmaBaseline(ts).collect()
    out.length shouldBe hours.size
    val k = Timeseries.EwmaK
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val terms = (0 until k).flatMap { j =>
        means.get(b - j).map(m => (m * (1L << (k - 1 - j)), 1L << (k - 1 - j)))
      }
      val expect = terms.map(_._1).sum / terms.map(_._2).sum
      r.getAs[Double]("ewma") shouldBe expect +- 1e-6
    }
    val byB = out.map(r => r.getAs[Long]("bucket") -> r.getAs[Double]("ewma")).toMap
    byB(49L) shouldBe 0.0 +- 1e-9 // pre-step: flat baseline
    byB(50L) shouldBe 4.0 +- 1e-6 // step bucket: half-weight on now
    byB(59L) should be > 7.9 // converged to the new level
    // after the gap the kernel sees only in-window survivors
    byB(64L) should be > 7.9
  }

  "higuchiFd" should "report exactly 1 for a pure trend and 2 for an alternating series" in {
    val hourUs = 3600000000L
    val rows = (0L until 512L).flatMap { h =>
      Seq(
        ("trend", h * hourUs + 1L, h.toDouble),
        ("alt", h * hourUs + 2L, if (h % 2 == 0) 1.0 else -1.0)
      )
    }
    val out = Timeseries.higuchiFd(mkTs(rows)).collect()
    val hfd = out.map(r => r.getAs[String]("channel") -> r.getAs[Double]("hfd")).toMap
    // straight line: L(k) = (N-1)/k, slope -1 -> dimension 1
    hfd("trend") shouldBe 1.0 +- 1e-6
    // alternating: even-k curve lengths are 0 and drop; over odd k
    // L(k) = 2(N-1)/k^2, slope -2 -> dimension 2
    hfd("alt") shouldBe 2.0 +- 1e-6
    out.find(_.getAs[String]("channel") == "alt").get.getAs[Long]("n_k") shouldBe 4L
    out.find(_.getAs[String]("channel") == "trend").get.getAs[Long]("n_k") shouldBe 8L
  }

  it should "match the hand-rolled sequential Higuchi kernel on a deterministic series" in {
    val hourUs = 3600000000L
    def v(i: Long): Double = ((i * 2654435761L) % 997L) / 997.0
    val n = 300
    val rows = (0L until n.toLong).map(h => ("c", h * hourUs + 1L, v(h)))
    val got = Timeseries.higuchiFd(mkTs(rows)).collect().head.getAs[Double]("hfd")
    val xs = (0 until n).map(i => v(i.toLong))
    val pts = (1 to 8).flatMap { k =>
      val lms = (0 until k).flatMap { m =>
        val is = Iterator.iterate(m)(_ + k).takeWhile(_ + k < n).toSeq
        if (is.isEmpty) None
        else {
          val s = is.map(i => math.abs(xs(i + k) - xs(i))).sum
          Some(s * (n - 1).toDouble / (is.size.toDouble * k * k))
        }
      }
      // average over the offsets that produced pairs (all k of them on
      // this full-length series) — the engine/oracle divisor
      val l = lms.sum / lms.size
      if (l > 0) Some((math.log(k.toDouble), math.log(l))) else None
    }
    val nk = pts.size.toDouble
    val sx = pts.map(_._1).sum
    val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val expect = -(nk * sxy - sx * sy) / (nk * sxx - sx * sx)
    got shouldBe expect +- 1e-4
  }


  "dfaAlpha" should "separate white noise (~0.5) from its integral (~1.5)" in {
    val hourUs = 3600000000L
    // splitmix64-mixed stream: an unmixed (a*i mod p) congruence is a
    // quasi-periodic sawtooth, NOT noise, and DFA (correctly) reads it
    // as long-range correlated
    def v(i: Long): Double = {
      var z = i * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    var acc = 0.0
    val rows = (0L until 512L).flatMap { h =>
      acc += v(h)
      Seq(("white", h * hourUs + 1L, v(h)), ("brown", h * hourUs + 2L, acc))
    }
    val out = Timeseries.dfaAlpha(mkTs(rows)).collect()
    val a = out.map(r => r.getAs[String]("channel") -> r.getAs[Double]("alpha")).toMap
    a("white") shouldBe 0.5 +- 0.12
    // finite-size DFA-1 underestimates Brownian alpha at N=512; the
    // diagnostic claim is the wide separation from white noise
    a("brown") should be > 1.2
    a("brown") should be < 1.7
    a("brown") should be > a("white") + 0.7
  }

  it should "match the hand-rolled sequential DFA kernel on a deterministic series" in {
    val hourUs = 3600000000L
    def v(i: Long): Double = ((i * 69069L) % 101L) / 101.0
    val n = 400
    val rows = (0L until n.toLong).map(h => ("c", h * hourUs + 1L, v(h)))
    val got = Timeseries.dfaAlpha(mkTs(rows)).collect().head.getAs[Double]("alpha")
    val xs = (0 until n).map(i => v(i.toLong))
    val mu = xs.sum / n
    val prof = xs.scanLeft(0.0)((acc, x) => acc + (x - mu)).drop(1)
    val pts = Seq(4, 8, 16, 32, 64).flatMap { s =>
      val wins = prof.grouped(s).filter(_.size == s).toSeq
      val msrs = wins.map { w =>
        val m = s.toDouble
        val is = (0 until s).map(_.toDouble)
        val sx = is.sum; val sy = w.sum
        val sxx = is.map(x => x * x).sum
        val sxy = is.zip(w).map { case (x, y) => x * y }.sum
        val syy = w.map(y => y * y).sum
        val beta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
        math.max(syy - sy * sy / m - beta * beta * (sxx - sx * sx / m), 0.0) / m
      }
      val f = math.sqrt(msrs.sum / msrs.size)
      if (f > 0) Some((math.log(s.toDouble), math.log(f))) else None
    }
    val nk = pts.size.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val expect = (nk * sxy - sx * sy) / (nk * sxx - sx * sx)
    got shouldBe expect +- 1e-4
  }


  "saxMotifs" should "recover the exact motif histogram of a periodic series" in {
    val hourUs = 3600000000L
    // strict period-4 square wave over 16 hourly buckets: PAA values
    // {0,0,10,10}, mu=5, sd=5 -> z = -1,-1,+1,+1 -> symbols a,a,d,d
    val rows = (0L until 16L).map { h =>
      ("sq", h * hourUs + 1L, if (h % 4 < 2) 0.0 else 10.0)
    }
    val out = Timeseries
      .saxMotifs(mkTs(rows))
      .select($"word", $"n")
      .as[(String, Long)]
      .collect()
      .toMap
    out shouldBe Map("aad" -> 4L, "add" -> 4L, "dda" -> 3L, "daa" -> 3L)
  }

}
