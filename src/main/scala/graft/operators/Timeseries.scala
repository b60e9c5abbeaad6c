package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Timeseries operators — the reference engine's core domain
  * (Pennsieve/pennsieve-streaming), re-expressed as declarative
  * DataFrame plans over the canonical ts(channel, t µs, v) shape.
  *
  * Reference semantics mapped here (SURVEY.md §1/§2):
  *  - range query + trim:      query/TimeSeriesQueryUtils.scala:114-154
  *  - min/max pixel downsample: query/BaseTimeSeriesQuery.scala:58-96
  *  - chunked resample (cut):   query/TimeSeriesQueryUtils.scala:208-235
  *  - contiguous spans (contig):query/TimeSeriesQueryUtils.scala:303-349
  *  - montage (lead - secondary):server/Montage.scala,
  *                              query/TimeSeriesQueryRawHttp.scala:326-334
  *  - event binning (EventSummary): query/WsClient.scala:102-139
  *  - spike detection analog:   query/TimeSeriesUnitQueryRawHttp.scala
  *  - channel catalog:          server/TSJsonSupport.scala VirtualChannelInfo
  *  - timespan annotations:     server/SegmentService.scala
  *
  * Scale design: every operator groups/windows on (channel, bucket) or
  * (channel) — one shuffle, algebraic aggregates (map-side partial),
  * integer µs arithmetic only (whole-stage codegen, no UDFs). The as-of
  * join avoids the classic global-sort trap via bucketed windows + a
  * tiny bucket-summary carry join (see asofJoin).
  */
object Timeseries {

  /** 1 hour in microseconds — the "pixelWidth" used by the fixed queries. */
  val BucketUs = 3600000000L

  /** 30 min gap threshold for span detection. */
  val GapUs = 1800000000L

  /** Samples per chunk for index-chunked resampling. */
  val ChunkSize = 100

  /** Spike threshold (~q90 of events.value). */
  val SpikeThreshold = 100.0

  /** Query window for the fixed range query: [2024-01-05, 2024-01-20) UTC. */
  val RangeStartUs = 1704412800000000L
  val RangeEndUs = 1705708800000000L

  private def microsBucket(t: Column, width: Long): Column =
    floor(t / lit(width)).cast("long")

  /** Deterministic average: double summation order varies with Spark's
    * partial-aggregation partitioning, so a plain avg() can flip a
    * round(...,6) boundary against any sequential oracle (observed at
    * sf0.1). Summing through DECIMAL is exact and order-independent;
    * the final double division is then deterministic. Matching oracle
    * form: CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*).
    */
  private val dec2710 = org.apache.spark.sql.types.DecimalType(27, 10)
  private def detSum(c: Column): Column = sum(c.cast(dec2710)).cast("double")
  private def detAvg(c: Column): Column = detSum(c) / count(lit(1))

  /** Operators that need a stable within-timestamp order use event_id
    * as the tie-break; sources without per-row ids (e.g. blob-decoded
    * uniform-rate data, where t is unique per channel) get a constant
    * so the same code applies.
    */
  private def withTieBreak(df: DataFrame): DataFrame =
    if (df.columns.contains("event_id")) df else df.withColumn("event_id", lit(0L))

  // ---------------------------------------------------------------------
  // Two-phase window machinery (no per-channel single-task sorts)
  // ---------------------------------------------------------------------
  //
  // Window.partitionBy("channel") concentrates each channel's entire
  // history into ONE task's sort: at the 100 TB design point
  // parallelism collapses to #channels and a hot channel spills or
  // dies. Every sequential per-channel quantity this engine needs —
  // lag, row_number, running sums — decomposes into a
  // (channel, time-bucket)-LOCAL window plus a per-bucket summary that
  // is orders of magnitude smaller than the data: the local pass runs
  // over (channel, bucket) partitions (arbitrarily parallel — buckets
  // subdivide time, so a hot channel splits across tasks), and the
  // summary (one row per non-empty bucket) carries the cross-bucket
  // boundary state through a per-channel window over the TINY summary
  // relation, broadcast back onto the stream. This is the same shape
  // asofJoin has always used for its carry values.
  //
  // Naming convention: every column a summary branch contributes is
  // prefixed __pb_ ("per bucket") — PlanSpec keys off the prefix to
  // machine-assert that the only channel-partitioned windows left in
  // these plans run over summary relations, never over the data
  // stream.
  //
  // Cost model, measured: the summary branch and the main branch share
  // one scan and one shuffle (exchange reuse — records-read confirms
  // the table is scanned twice total: once full-width for the data
  // exchange, once column-pruned for summaries), but the bucket-local
  // SORT + window compute runs once per branch that needs windowed
  // output (operators whose summary aggregates windowed columns, e.g.
  // span prefixes, pay it twice). That is the deliberate trade: ~2×
  // partition-local sort CPU on bucket-sized runs buys unbounded
  // per-channel parallelism, where the old single-window shape
  // serialized a whole channel into one task. Persisting the windowed
  // stream would trade executor memory/spill for that CPU — wrong at
  // the 100 TB design point.

  /** Default stitch-bucket width for the two-phase operators: 1 hour.
    * Summary size is (#channels × span/width); at 1 h a decade-long
    * channel costs ~88 k summary rows — trivially window-able and
    * broadcast-able — while the data-side partitions stay small and
    * uniform. Every two-phase operator exposes the width as a
    * parameter: it is a pure parallelism/memory knob (results are
    * identical for any width) — pick width ≫ the sample period (so
    * summaries stay tiny relative to data) and small enough that one
    * bucket of the fastest channel fits an executor's sort budget
    * (e.g. minutes for kHz-rate channels, the 1 h default for
    * event-scale streams).
    */
  val StitchBucketUs: Long = BucketUs

  /** Adds `__bkt` plus, for each of `cols`, `__prev_<col>` = that
    * column's value on the previous row in (t, tieBreak) order within
    * the channel — the exact semantics of
    * lag(col) over (partition by channel order by t, tieBreak) — with
    * NO per-channel sort: a (channel, __bkt)-local lag covers every
    * row but the bucket's first, and that one takes its predecessor
    * from the per-bucket summary (each bucket's last row, lagged per
    * channel over the summary and broadcast back). Channel-first rows
    * get null, as lag gives.
    */
  private def withStitchedPrev(
    df: DataFrame,
    cols: Seq[String],
    bucketUs: Long,
    tieBreak: Seq[String]
  ): DataFrame = {
    val ord = col("t") +: tieBreak.map(col)
    val ordKey = struct(ord: _*)
    val bkted = df.withColumn("__bkt", microsBucket(col("t"), bucketUs))
    val wLoc = Window.partitionBy(col("channel"), col("__bkt")).orderBy(ord: _*)
    val lastAggs = cols.map(c => max_by(col(c), ordKey).as(s"__last_$c"))
    val wSum = Window.partitionBy(col("channel")).orderBy(col("__bkt"))
    val prevSummary = bkted
      .groupBy(col("channel"), col("__bkt"))
      .agg(lastAggs.head, lastAggs.tail: _*)
      .select(
        col("channel") +: col("__bkt") +:
          cols.map(c => lag(col(s"__last_$c"), 1).over(wSum).as(s"__pb_$c")): _*
      )
    val first = row_number().over(wLoc) === 1
    cols
      .foldLeft(bkted.join(broadcast(prevSummary), Seq("channel", "__bkt"))) { (d, c) =>
        d.withColumn(s"__prev_$c", when(first, col(s"__pb_$c")).otherwise(lag(col(c), 1).over(wLoc)))
      }
      .drop(cols.map(c => s"__pb_$c"): _*)
  }

  /** Adds `__bkt`, `__prev_v` and `__prev2_v` = the previous and
    * second-previous values of `v` in (t, tieBreak) order within the
    * channel — exactly lag(v,1) / lag(v,2) over a per-channel sort —
    * with NO per-channel sort over the data stream. One
    * (channel, __bkt)-local window provides in-bucket lags AND (at
    * each bucket's last row) the bucket's last two values; the
    * per-bucket summary is aggregated from that windowed stream
    * (max_by on the local row number — the local lag at the last row
    * IS the second-to-last value, so no collect_list and no second
    * sort shape). The two values carried INTO a bucket come from a
    * per-channel window over the tiny summary: the second-previous
    * falls back to the bucket before when the previous bucket holds a
    * single row. Rows 1 and 2 of each bucket read the carried values,
    * all later rows use the bucket-local lags; channel-first rows get
    * null, as lag gives.
    */
  private def withStitchedPrev2(
    df: DataFrame,
    bucketUs: Long,
    tieBreak: Seq[String]
  ): DataFrame = {
    val ord = col("t") +: tieBreak.map(col)
    val bkted = df.withColumn("__bkt", microsBucket(col("t"), bucketUs))
    val wLoc = Window.partitionBy(col("channel"), col("__bkt")).orderBy(ord: _*)
    val wSum = Window.partitionBy(col("channel")).orderBy(col("__bkt"))
    val local = bkted
      .withColumn("__rnl", row_number().over(wLoc))
      .withColumn("__lag1", lag(col("v"), 1).over(wLoc))
      .withColumn("__lag2", lag(col("v"), 2).over(wLoc))
    val summary = local
      .groupBy(col("channel"), col("__bkt"))
      .agg(
        max_by(col("v"), col("__rnl")).as("__last1"),
        max_by(col("__lag1"), col("__rnl")).as("__last2"),
        count(lit(1)).as("__n")
      )
    // aliased directly on the window expressions so the __pb_ marker
    // lands on the Window node itself (PlanSpec keys off the prefix)
    val carried = summary
      .select(
        col("channel"),
        col("__bkt"),
        lag(col("__last1"), 1).over(wSum).as("__pb_l1"),
        lag(col("__last2"), 1).over(wSum).as("__pb_l2"),
        lag(col("__n"), 1).over(wSum).as("__pb_pn"),
        lag(col("__last1"), 2).over(wSum).as("__pb_l1b")
      )
      .select(
        col("channel"),
        col("__bkt"),
        col("__pb_l1").as("__pb_prev1"),
        when(col("__pb_pn") >= 2, col("__pb_l2"))
          .otherwise(col("__pb_l1b"))
          .as("__pb_prev2")
      )
    local
      .join(broadcast(carried), Seq("channel", "__bkt"))
      .withColumn(
        "__prev_v",
        when(col("__rnl") === 1, col("__pb_prev1")).otherwise(col("__lag1"))
      )
      .withColumn(
        "__prev2_v",
        when(col("__rnl") === 1, col("__pb_prev2"))
          .when(col("__rnl") === 2, col("__pb_prev1"))
          .otherwise(col("__lag2"))
      )
      .drop("__pb_prev1", "__pb_prev2", "__lag1", "__lag2", "__rnl")
  }

  /** The per-channel frame over a per-bucket summary that carries a
    * running quantity into a bucket: every strictly preceding bucket.
    */
  private val wPrecedingBuckets = Window
    .partitionBy(col("channel"))
    .orderBy(col("__bkt"))
    .rowsBetween(Window.unboundedPreceding, -1)

  /** Adds `__bkt`, `__rn` = the 1-based per-channel row number in
    * `order`, and for each `(name, x)` of `sums` a column `name` = the
    * channel's inclusive running sum of `x` in `order` — exactly
    * row_number() / sum(x) over (partition by channel order by
    * `order`), with no per-channel sort over the data stream. Each is a
    * (channel, __bkt)-local window plus the channel's total over
    * strictly preceding buckets (row count, sum of `x`), all carried on
    * ONE tiny per-bucket summary broadcast back. `__bkt` buckets
    * `order.head` (an input that already carries it, e.g. from
    * [[withStitchedPrev]], keeps its own), so (bucket, order) order ≡
    * `order` order. Integer and DECIMAL addition is associative, so
    * the stitched sums are bit-identical to the global window's.
    * Outputs a caller never reads are pruned from the plan.
    */
  private def withStitchedRunningSums(
    df: DataFrame,
    sums: Seq[(String, Column)],
    bucketUs: Long,
    order: Seq[Column]
  ): DataFrame = {
    val bkted =
      if (df.columns.contains("__bkt")) df
      else df.withColumn("__bkt", microsBucket(order.head, bucketUs))
    val wLoc = Window.partitionBy(col("channel"), col("__bkt")).orderBy(order: _*)
    val wRun = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = bkted
      .groupBy(col("channel"), col("__bkt"))
      .agg(count(lit(1)).as("__cnt"), sums.map { case (n, x) => sum(x).as(s"__s_$n") }: _*)
      // aliased directly on the window expressions (not inside a
      // coalesce) so the __pb_ marker lands on the Window node itself —
      // PlanSpec keys off it; nulls (first bucket) coalesce at use
      .select(
        col("channel") +: col("__bkt") +:
          sum(col("__cnt")).over(wPrecedingBuckets).as("__pb_rnprefix") +:
          sums.map { case (n, _) => sum(col(s"__s_$n")).over(wPrecedingBuckets).as(s"__pb_$n") }: _*
      )
    val withRn = bkted
      .join(broadcast(prefix), Seq("channel", "__bkt"))
      .withColumn(
        "__rn",
        row_number().over(wLoc).cast("long") + coalesce(col("__pb_rnprefix"), lit(0L))
      )
    sums
      .foldLeft(withRn) { case (d, (n, x)) =>
        d.withColumn(n, sum(x).over(wRun) + coalesce(col(s"__pb_$n"), lit(0)))
      }
      .drop("__pb_rnprefix" +: sums.map { case (n, _) => s"__pb_$n" }: _*)
  }

  /** CUSUM drift screen per channel (Page 1954): the maximum absolute
    * standardized cumulative deviation max_i |Σ_{j≤i}(v_j − μ)| /
    * (σ·√n), with the time it peaks. The complement to
    * [[levelShifts]]: a window screen sees a local JUMP, CUSUM
    * integrates a small persistent DRIFT that never individually
    * crosses a window threshold (sensor bias creep, baseline wander) —
    * values ≫ ~1.3 (the Kolmogorov 95% band for the standardized
    * bridge) reject stationarity.
    *
    * Scale shape: the running sum Σ_{j≤i} v_j comes from
    * [[withStitchedRunningSums]] — bucket-local windows plus an exact
    * DECIMAL bucket-summary carry, never a per-channel sort of the
    * data stream; per-channel moments are one partial agg; scoring is
    * a broadcast-stats projection; the argmax resolves with a
    * channel-cardinality max relation broadcast back (one extra pass
    * over the scored stream, no window).
    *
    * Portability: P_i and i are exact (DECIMAL / integer); μ, σ and
    * every per-row double derive from them in one pinned expression
    * order; the statistic rounds to 9 BEFORE max/argmax so both
    * engines rank identical values; argmax ties break to the earliest
    * t.
    */
  def cusumScreen(ts: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val base = withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id"))
    val stats = base
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v").cast(dec2710)).as("__sv"),
        sum((col("v") * col("v")).cast(dec2710)).as("__svv")
      )
      .select(
        col("channel"),
        col("n"),
        (col("__sv").cast("double") / col("n")).as("__mu"),
        round(
          sqrt(
            greatest(
              col("__svv").cast("double") / col("n") -
                (col("__sv").cast("double") / col("n")) * (col("__sv").cast("double") / col("n")),
              lit(0.0)
            )
          ),
          9
        ).as("__sigma")
      )
    val scored = withStitchedRunningSums(
      base,
      Seq("__ps" -> col("v").cast(dec2710)),
      stitchBucketUs,
      Seq(col("t"), col("event_id"))
    )
      .join(broadcast(stats), Seq("channel"))
      .withColumn(
        "__a",
        round(
          abs(
            (col("__ps").cast("double") - col("__rn").cast("double") * col("__mu")) /
              nullif(col("__sigma") * sqrt(col("n").cast("double")), lit(0.0))
          ),
          9
        )
      )
    // ONE argmax pass: lexicographic struct-max picks the max score
    // and, among ties, the max of −t = the EARLIEST t — identical to
    // the max-filter-join formulation but the stream-scale scored
    // relation (a stitched prefix-sum pipeline) executes once, not
    // twice. Zero-variance channels have every __a NULL (sigma 0
    // nullifs the divisor): the when() guard makes their struct-max
    // NULL, so they still appear with NULL cusum/t_at instead of
    // silently vanishing from the report.
    val best = scored
      .groupBy(col("channel"))
      .agg(
        max(when(col("__a").isNotNull, struct(col("__a").as("__aa"), (-col("t")).as("__nt"))))
          .as("__best")
      )
    stats
      .join(best, Seq("channel"))
      .select(
        col("channel"),
        col("n"),
        round(col("__mu"), 6).as("mean"),
        round(col("__sigma"), 6).as("sigma"),
        round(col("__best.__aa"), 6).as("cusum"),
        (-col("__best.__nt")).as("t_at")
      )
  }

  /** Halo-replicated row-number blocks — the two-phase rewrite for any
    * BOUNDED-frame per-channel window: adds `__rn` (the global
    * per-channel row number of [[withStitchedRunningSums]]), `__blk`
    * and `__tgt`. A ±halo-row frame is a pure function of a bounded
    * neighborhood, so partition each channel into blocks of B ≥ 2·halo
    * consecutive rows (by row NUMBER — dense by construction, immune to
    * empty time buckets and skewed arrival rates), replicate each
    * block's first/last `halo` rows into the neighboring block (`__tgt`
    * fans a row to every block that needs it), and evaluate frames over
    * `Window.partitionBy(channel, __tgt).orderBy(__rn)`: on core rows
    * (`__tgt === __blk`, filtered AFTER all frames evaluate) the
    * result is row-for-row identical to the global per-channel window
    * — at ~(1 + 2·halo/B) row overhead instead of a per-channel
    * single-task sort.
    */
  private def withBlockHalo(
    df: DataFrame,
    halo: Int,
    bucketUs: Long,
    tieBreak: Seq[String],
    blockRows: Int = 0
  ): DataFrame = {
    val b = if (blockRows > 0) blockRows else math.max(4 * halo, 64)
    require(b >= 2 * halo, s"blockRows must be >= 2*halo, got $b < ${2 * halo}")
    withStitchedRunningSums(df, Nil, bucketUs, col("t") +: tieBreak.map(col))
      .withColumn("__blk", expr(s"(__rn - 1) div $b"))
      .withColumn("__pos", expr(s"(__rn - 1) % $b"))
      .withColumn(
        "__tgt",
        explode(
          filter(
            array(
              col("__blk"),
              when(col("__pos") >= b - halo, col("__blk") + 1L),
              when(col("__pos") < halo, col("__blk") - 1L)
            ),
            x => x.isNotNull
          )
        )
      )
      .drop("__pos")
  }

  // ---------------------------------------------------------------------
  // Generic operators
  // ---------------------------------------------------------------------

  /** Range query: trim a channel set to [start, end), ordered stream.
    * The channel + time predicates push down to the parquet scan; at
    * scale (time-bucket partitioned layout) this is partition pruning —
    * the Spark-native analog of the reference's Postgres range lookup.
    */
  def rangeQuery(ts: DataFrame, channels: Seq[String], startUs: Long, endUs: Long): DataFrame =
    ts.filter(col("channel").isin(channels: _*) && col("t") >= startUs && col("t") < endUs)

  /** Min/max downsample at a pixel width: the Segment produced for a
    * resampled continuous query. One shuffle on (channel, bucket);
    * min/max/count/avg are algebraic ⇒ partial aggregation map-side.
    */
  /** Zoom levels above the base bin for [[pyramid]] (level l bins are
    * BucketUs·2^l wide — 1 h up to 16 h).
    */
  val PyramidLevels = 4

  /** Anti-aliased FIR decimation — the signal-processing-correct
    * downsample the display-oriented min/max path doesn't give you:
    * convolve each channel with the 5-tap binomial low-pass
    * [1,4,6,4,1]/16 and keep every `factor`-th sample. Unlike the IIR
    * cascade (recursive, sequential by nature), an FIR tap window is a
    * pure function of a bounded neighborhood, so it IS expressible as
    * a per-channel window of lag/leads — fully parallel, no
    * block-stitching machinery needed.
    *
    * Scale shape: taps read from lag/lead over [[withBlockHalo]]'s
    * halo-replicated row blocks (halo = tap radius 2) in one Window
    * stage — no channel-alone window over the data — with the stitched
    * global row number doubling as the decimation phase.
    * Portability: taps are dyadic rationals (x/16 is exact in binary),
    * the convolution is written in one fixed evaluation order, and
    * edge rows without a full tap window are dropped in both engines.
    */
  def firDecimate(ts: DataFrame, factor: Int = 4, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    // taps from lag/lead over halo-replicated row blocks (halo 2 = the
    // tap radius); __rn doubles as the decimation phase — it is the
    // stitched GLOBAL per-channel row number, so the phase is
    // identical to the single-window formulation's
    val padded = withBlockHalo(
      withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id")),
      halo = 2,
      stitchBucketUs,
      Seq("event_id")
    )
    val w = Window.partitionBy(col("channel"), col("__tgt")).orderBy(col("__rn"))
    padded
      .withColumn("__l2", lag(col("v"), 2).over(w))
      .withColumn("__l1", lag(col("v"), 1).over(w))
      .withColumn("__u1", lead(col("v"), 1).over(w))
      .withColumn("__u2", lead(col("v"), 2).over(w))
      .filter(col("__tgt") === col("__blk")) // core rows, after every frame
      .filter(
        col("__l2").isNotNull && col("__l1").isNotNull &&
          col("__u1").isNotNull && col("__u2").isNotNull
      )
      .filter((col("__rn") - 3) % factor === 0) // first full-tap row, then every factor-th
      .select(
        col("channel"),
        col("t"),
        col("event_id"),
        col("v"),
        round(
          (col("__l2") + lit(4.0) * col("__l1") + lit(6.0) * col("v") +
            lit(4.0) * col("__u1") + col("__u2")) / lit(16.0),
          6
        ).as("v_filt")
      )
  }

  /** Hampel outlier screen — flag samples deviating from their ±k-row
    * neighborhood's MEDIAN by more than nSigma robust standard
    * deviations (1.4826·MAD): the robust despiking filter used where
    * a mean/σ z-score would be dragged by the very outliers it hunts.
    *
    * Scale shape: a ±k row frame is a bounded neighborhood, so the
    * frame evaluates over [[withBlockHalo]]'s halo-replicated row
    * blocks (halo = k) — no channel-alone window over the data. The
    * frame itself only COLLECTS the 2k+1 neighbors (one bounded-frame
    * collect_list); median and MAD are then per-row array_sort /
    * transform projections — codegen-friendly, no second window.
    * Portability: the window is always FULL (edge rows without k
    * neighbors on both sides are dropped in both engines), so both
    * medians index the middle of an ODD-length sorted array — an
    * actual sample value, never an interpolation — and the MAD
    * deviations are exact double differences; the nSigma·(1.4826·MAD)
    * threshold multiplies in one pinned order. Equality across
    * engines is therefore bit-exact with no rounding discipline.
    */
  def hampel(
    ts: DataFrame,
    k: Int = 5,
    nSigma: Double = 3.0,
    stitchBucketUs: Long = StitchBucketUs
  ): DataFrame = {
    val padded = withBlockHalo(
      withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id")),
      halo = k,
      stitchBucketUs,
      Seq("event_id")
    )
    val w = Window
      .partitionBy(col("channel"), col("__tgt"))
      .orderBy(col("__rn"))
      .rowsBetween(-k, k)
    padded
      .withColumn("__arr", collect_list(col("v")).over(w))
      .filter(col("__tgt") === col("__blk")) // core rows, after the frame
      .filter(size(col("__arr")) === 2 * k + 1) // full windows only
      // null-safe `get`: a consumer's filter on v_med/v_mad combines
      // with the size filter above, so the indexing can run on short
      // edge frames; those rows are dropped either way
      .withColumn("__med", get(array_sort(col("__arr")), lit(k)))
      .withColumn(
        "__mad",
        get(array_sort(transform(col("__arr"), x => abs(x - col("__med")))), lit(k))
      )
      .filter(abs(col("v") - col("__med")) > lit(nSigma) * (lit(1.4826) * col("__mad")))
      .select(
        col("channel"),
        col("t"),
        col("event_id"),
        col("v"),
        col("__med").as("v_med"),
        col("__mad").as("v_mad")
      )
  }

  /** Day-of-week × hour activity profile per channel — the seasonal
    * heatmap behind capacity planning and anomaly baselines. Both
    * period indices are pure integer arithmetic on the µs timestamp
    * (epoch day + 4 mod 7, 0 = Sunday; hour mod 24), so no calendar
    * or timezone machinery is involved and both engines derive
    * identical keys. One partial aggregation to channel×7×24 rows.
    */
  def dowProfile(ts: DataFrame): DataFrame = {
    val day = 86400000000L
    val hour = 3600000000L
    ts.groupBy(
      col("channel"),
      ((floor(col("t") / lit(day)) + 4) % 7).cast("long").as("dow"),
      (floor(col("t") / lit(hour)) % 24).cast("long").as("hod")
    ).agg(
      count(lit(1)).as("n"),
      min(col("v")).as("vmin"),
      max(col("v")).as("vmax"),
      round(detAvg(col("v")), 6).as("vavg")
    )
  }

  /** Hjorth parameters per channel — activity (signal variance),
    * mobility (sqrt of the variance ratio of the first difference to
    * the signal) and complexity (mobility of the first difference
    * over mobility of the signal): the classic time-domain EEG
    * feature triple (Hjorth 1970), summarizing a whole channel in
    * three moments of its first and second differences. The reference
    * engine serves raw/resampled EEG streams (reference:
    * query/TimeSeriesQueryRawHttp.scala) and leaves feature
    * extraction to clients; at corpus scale the features ARE the
    * query.
    *
    * Scale shape: differences come from [[withStitchedPrev2]] —
    * (channel, bucket)-local lags plus a summary carry, never a
    * per-channel sort of the data — and everything after is ONE
    * partial aggregation to a row per channel. All second moments
    * route through DECIMAL(27,10) sums (exact, order-independent);
    * the derived doubles (variances, ratios, square roots) are
    * computed in one pinned expression order so both engines see
    * bit-identical values. Channel-first rows lack differences and
    * drop out of the difference moments only, matching lag semantics.
    */
  def hjorthParams(ts: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val st = withStitchedPrev2(
      withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id")),
      stitchBucketUs,
      Seq("event_id")
    )
    val dx = col("v") - col("__prev_v")
    val ddx = col("v") - lit(2.0) * col("__prev_v") + col("__prev2_v")
    val agg = st
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n"),
        detSum(col("v")).as("sx"),
        detSum(col("v") * col("v")).as("sxx"),
        count(col("__prev_v")).as("nd"),
        detSum(dx).as("sd"),
        detSum(dx * dx).as("sdd"),
        count(col("__prev2_v")).as("n2"),
        detSum(ddx).as("s2"),
        detSum(ddx * ddx).as("s22")
      )
    def variance(sq: Column, s: Column, n: Column): Column =
      sq / n - (s / n) * (s / n)
    val varX = variance(col("sxx"), col("sx"), col("n"))
    val varD = variance(col("sdd"), col("sd"), col("nd"))
    val varDD = variance(col("s22"), col("s2"), col("n2"))
    val mob = sqrt(greatest(varD / varX, lit(0.0)))
    agg.select(
      col("channel"),
      col("n"),
      round(varX, 6).as("activity"),
      round(mob, 6).as("mobility"),
      round(
        sqrt(greatest(varDD / varD, lit(0.0))) / nullif(mob, lit(0.0)),
        6
      ).as("complexity")
    )
  }

  /** Windowed line-length / turning-point / RMS features per channel
    * time bin — the energy-and-waveform-complexity screen behind
    * seizure detection (line length: Esteller et al. 2001) and
    * turning-point-ratio tests. The bin width doubles as the stitch
    * bucket, so differences crossing bin boundaries still see the
    * true per-channel predecessor (lag semantics), while the plan
    * stays (channel, bin)-parallel: one windowed pass via
    * [[withStitchedPrev2]], one partial aggregation to channel×bin
    * rows. |Δv| and v² route through DECIMAL sums; turning points
    * count strict direction reversals ((v−p1)·(p1−p2) < 0), an
    * exact sign test on doubles — no float-comparison ambiguity.
    */
  def lineLength(ts: DataFrame, binUs: Long = BucketUs): DataFrame = {
    val st = withStitchedPrev2(
      withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id")),
      binUs,
      Seq("event_id")
    )
    val dx = col("v") - col("__prev_v")
    val rev = (dx * (col("__prev_v") - col("__prev2_v"))) < 0.0
    st.groupBy(col("channel"), col("__bkt").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(detSum(when(col("__prev_v").isNotNull, abs(dx))), 6).as("line_length"),
        sum(when(col("__prev2_v").isNotNull && rev, 1L).otherwise(0L)).as("turning_points"),
        round(sqrt(detSum(col("v") * col("v")) / count(lit(1))), 6).as("rms")
      )
      .withColumn("bin_start", col("bin") * lit(binUs))
  }

  /** Multi-resolution downsample pyramid — the tiered zoom contract a
    * display server precomputes so any zoom level is served by a
    * bin-scale read instead of a raw scan (the reference serves
    * resampled views per zoom via shouldResample/pixelWidth,
    * reference: query/TimeSeriesQueryRawHttp.scala:116,
    * query/QuerySequencer.scala:143; this materializes every tier at
    * once).
    *
    * Scale shape: the raw stream is aggregated ONCE at the base
    * resolution — the only corpus-scale shuffle in the plan. Every
    * coarser level rolls up FROM the level below it (bin div 2):
    * min/max/count and the DECIMAL value sum are all re-aggregable,
    * so level l costs |level l−1| rows and the whole pyramid is a
    * geometrically-shrinking chain of bin-scale aggregates. A naive
    * per-level groupBy over raw data would scan and shuffle the
    * corpus L+1 times; at 100 TB that is the difference between one
    * pass and six. The level-0 exchange is also structurally shared
    * by every branch of the final union, so Spark's ReuseExchange
    * serves all levels from one physical shuffle.
    *
    * The average is carried as (DECIMAL sum, count) through the
    * rollup and divided once at the end — exact and
    * order-independent, so the rolled-up tiers are bit-identical to
    * aggregating each tier directly from the raw stream (which is
    * exactly what the oracle does).
    */
  def pyramid(ts: DataFrame, baseUs: Long, levels: Int): DataFrame = {
    var cur = ts
      .groupBy(col("channel"), microsBucket(col("t"), baseUs).as("bin"))
      .agg(
        min(col("v")).as("vmin"),
        max(col("v")).as("vmax"),
        count(lit(1)).as("n"),
        sum(col("v").cast(dec2710)).as("vsum")
      )
    def tier(df: DataFrame, l: Int): DataFrame =
      df.withColumn("level", lit(l))
        .withColumn("bin_start", col("bin") * lit(baseUs * (1L << l)))
    val tiers = Seq.newBuilder[DataFrame]
    tiers += tier(cur, 0)
    for (l <- 1 to levels) {
      cur = cur
        .groupBy(col("channel"), expr("bin div 2").as("bin"))
        .agg(
          min(col("vmin")).as("vmin"),
          max(col("vmax")).as("vmax"),
          sum(col("n")).as("n"),
          sum(col("vsum")).as("vsum")
        )
      tiers += tier(cur, l)
    }
    tiers
      .result()
      .reduce(_ unionByName _)
      .select(
        col("level"),
        col("channel"),
        col("bin"),
        col("bin_start"),
        col("vmin"),
        col("vmax"),
        col("n"),
        round(col("vsum").cast("double") / col("n"), 6).as("vavg")
      )
  }

  def downsample(ts: DataFrame, pixelUs: Long): DataFrame =
    ts.groupBy(col("channel"), microsBucket(col("t"), pixelUs).as("bucket"))
      .agg(
        min(col("v")).as("vmin"),
        max(col("v")).as("vmax"),
        count(lit(1)).as("n"),
        round(detAvg(col("v")), 6).as("vavg")
      )
      .select(
        col("channel"),
        col("bucket"),
        (col("bucket") * lit(pixelUs)).as("bucket_start"),
        col("vmin"),
        col("vmax"),
        col("n"),
        col("vavg")
      )

  /** Continuity fill over a min/max downsample — the reference's
    * `fillGaps` render post-pass (query/TimeSeriesQueryUtils.scala:
    * 77-112, verified against its TimeSeriesRequestSpec vectors):
    * every rendered trace stretches each bucket's (vmin, vmax) to
    * MEET its successor when the two ranges are disjoint, so the
    * drawn min/max band has no vertical holes. Case analysis per
    * bucket b with successor x (the reference's fillGap):
    *  - one range contains the other, or they overlap: unchanged
    *  - b entirely below x (b.vmax < x.vmin): vmax := x.vmin
    *  - b entirely above x (b.vmin > x.vmax): vmin := x.vmax
    *  - last bucket (the reference pads with its own flipped self,
    *    which the contains branch catches): unchanged.
    * Disjointness excludes containment, so the two stretch branches
    * plus pass-through reproduce the reference's four-branch order
    * exactly.
    *
    * Scale shape: runs over the ALREADY-REDUCED (channel, bucket)
    * grid — the lag/lead window costs bucket-grid cardinality
    * (pixels × channels), orders of magnitude below sample scale;
    * the data stream itself is never windowed.
    */
  def fillGaps(buckets: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val nmin = lead(col("vmin"), 1).over(w)
    val nmax = lead(col("vmax"), 1).over(w)
    buckets
      .withColumn("__fmin", when(nmax.isNotNull && col("vmin") > nmax, nmax).otherwise(col("vmin")))
      .withColumn("__fmax", when(nmin.isNotNull && col("vmax") < nmin, nmin).otherwise(col("vmax")))
      .drop("vmin", "vmax")
      .withColumnRenamed("__fmin", "vmin")
      .withColumnRenamed("__fmax", "vmax")
  }

  /** Index-chunked resample: group every `chunkSize` consecutive samples
    * per channel and emit (min,max), dropping the trailing partial chunk
    * exactly like the reference (`grouped(n).take(floor(total/n))`).
    * The per-channel sample index comes from the two-phase
    * [[withStitchedRunningSums]] — bucket-local row_number + summary-carry
    * prefix — so no task ever sorts a whole channel; the chunk agg
    * after it is partial. Uniform-rate channels (the reference's actual
    * storage model) can still use [[resampleChunksUniform]], where the
    * chunk id is pure arithmetic on t and no window exists at all.
    */
  def resampleChunks(tsIn: DataFrame, chunkSize: Int, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val ts = withTieBreak(tsIn).select(col("channel"), col("t"), col("v"), col("event_id"))
    withStitchedRunningSums(ts, Nil, stitchBucketUs, Seq(col("t"), col("event_id")))
      .select(col("channel"), col("v"), expr(s"(__rn - 1) div $chunkSize").as("chunk"))
      .groupBy(col("channel"), col("chunk"))
      .agg(min(col("v")).as("cmin"), max(col("v")).as("cmax"), count(lit(1)).as("n"))
      .filter(col("n") === chunkSize)
  }

  /** Sort-free resample for uniform-rate channels: with period known,
    * the sample index is (t - t0) / period, so the chunk id is
    * arithmetic and the whole operator is scan → map-side partial agg →
    * one shuffle on (channel, chunk) — no per-channel sort, no skew
    * (chunks subdivide time). Trailing partial chunks are dropped like
    * the reference.
    */
  def resampleChunksUniform(
    ts: DataFrame,
    t0Us: Long,
    periodUs: Long,
    chunkSize: Int
  ): DataFrame =
    ts.select(
      col("channel"),
      col("v"),
      ((col("t") - t0Us) / periodUs / chunkSize).cast("long").as("chunk")
    ).groupBy(col("channel"), col("chunk"))
      .agg(min(col("v")).as("cmin"), max(col("v")).as("cmax"), count(lit(1)).as("n"))
      .filter(col("n") === chunkSize)

  /** Contiguous-span detection (`contig`): split each channel's stream
    * where consecutive samples are >= gapUs apart (the reference's
    * combine splits on `first.min - last.max >= threshold`,
    * query/TimeSeriesQueryUtils.scala:316), then emit one row per span.
    * lag + running-sum windows share one (channel) sort.
    */
  def contiguousSpans(ts: DataFrame, gapUs: Long, stitchBucketUs: Long = StitchBucketUs): DataFrame =
    contiguousSpansByThreshold(
      ts.select(col("channel"), col("t"), lit(gapUs).as("__gap")),
      stitchBucketUs
    )

  /** Rate-driven contiguous spans: each channel splits at its OWN
    * threshold floor(gapMultiple · 1e6 / rate) — the reference's
    * normal case, where a 10 kHz channel's 1 ms hole is a gap but a
    * 1 Hz channel's isn't (timeGapThreshold,
    * query/TimeSeriesQueryUtils.scala:333-349). `rates` is a
    * (channel, rate) table — channel-catalog scale, broadcast.
    */
  def contiguousSpans(ts: DataFrame, rates: DataFrame, gapMultiple: Double): DataFrame =
    contiguousSpans(ts, rates, gapMultiple, StitchBucketUs)

  def contiguousSpans(
    ts: DataFrame,
    rates: DataFrame,
    gapMultiple: Double,
    stitchBucketUs: Long
  ): DataFrame =
    contiguousSpansByThreshold(
      withRateCatalog(ts, rates, "contiguousSpans")
        .select(
          col("channel"),
          col("t"),
          floor(lit(gapMultiple) * lit(1e6) / col("rate")).cast("long").as("__gap")
        ),
      stitchBucketUs
    )

  /** LEFT-joins the broadcast (channel, rate) catalog and fails loudly
    * on channels missing from it — an inner join would silently drop
    * them from the output, which is how data vanishes unnoticed. One
    * guard shared by every rate-driven operator.
    */
  private def withRateCatalog(ts: DataFrame, rates: DataFrame, op: String): DataFrame =
    ts.join(broadcast(rates.select(col("channel"), col("rate"))), Seq("channel"), "left")
      .withColumn(
        "rate",
        when(
          col("rate").isNull,
          raise_error(concat(lit(s"$op: no rate for channel "), col("channel")))
        ).otherwise(col("rate"))
      )

  /** Two-phase span assembly: the gap test (lag t) and the running
    * break count both run (channel, __bkt)-locally; the bucket's first
    * row takes its predecessor from the summary, and the running count
    * adds the channel's break total over strictly preceding buckets —
    * so span ids are globally identical to the single-window
    * formulation with no per-channel sort anywhere.
    */
  private def contiguousSpansByThreshold(ts: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val withBrk = withStitchedPrev(ts, Seq("t"), stitchBucketUs, Nil)
      .withColumn("__brk", when(col("t") - col("__prev_t") >= col("__gap"), 1L).otherwise(0L))
    withStitchedRunningSums(withBrk, Seq("span_id" -> col("__brk")), stitchBucketUs, Seq(col("t")))
      .groupBy(col("channel"), col("span_id"))
      .agg(min(col("t")).as("span_start"), max(col("t")).as("span_end"), count(lit(1)).as("n"))
  }

  /** Montage: subtract the secondary channel from the lead channel on
    * aligned time buckets (the set analog of the reference's
    * sample-aligned stream zip). Channel averages are bucket-aggregated
    * first (one shuffle), then joined per montage pair; the pair table
    * is broadcast.
    */
  def montage(
    spark: SparkSession,
    ts: DataFrame,
    pairs: Seq[(String, String)],
    bucketUs: Long
  ): DataFrame = {
    import spark.implicits._
    val chans = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val b = ts
      .filter(col("channel").isin(chans: _*))
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(detAvg(col("v")).as("av"))
    val pairDf = pairs.toDF("lead", "sec")
    val l = b.select(col("channel").as("lead"), col("bucket"), col("av").as("lead_av"))
    val r = b.select(col("channel").as("sec_ch"), col("bucket").as("rbucket"), col("av").as("sec_av"))
    l.join(broadcast(pairDf), "lead")
      .join(r, col("rbucket") === col("bucket") && col("sec_ch") === col("sec"))
      .select(
        concat(col("lead"), lit("<->"), col("sec")).as("channel"),
        col("bucket"),
        round(col("lead_av") - col("sec_av"), 6).as("v")
      )
  }

  /** Sample-aligned montage: subtract the secondary channel from the
    * lead at each exact timestamp — the set analog of the reference's
    * sample-by-sample stream zip for rate-aligned channels
    * (query/TimeSeriesQueryRawHttp.scala:326-334 subtracts the
    * secondary stream element-wise). An equi-join on t; at scale both
    * sides come from the same time-bucket-partitioned layout so the
    * join is co-partitioned, and the tiny pair table is broadcast.
    */
  def montageAligned(
    spark: SparkSession,
    ts: DataFrame,
    pairs: Seq[(String, String)]
  ): DataFrame = {
    import spark.implicits._
    val chans = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val base = ts.filter(col("channel").isin(chans: _*)).select(col("channel"), col("t"), col("v"))
    val pairDf = pairs.toDF("lead", "sec")
    val l = base.select(col("channel").as("lead"), col("t"), col("v").as("lv"))
    val r = base.select(col("channel").as("sec"), col("t"), col("v").as("rv"))
    l.join(broadcast(pairDf), "lead")
      .join(r, Seq("sec", "t"))
      .select(
        concat(col("lead"), lit("<->"), col("sec")).as("channel"),
        col("t"),
        round(col("lv") - col("rv"), 6).as("v")
      )
  }

  /** Unit-event binning: EventSummary(minTime, maxTime, avgTime =
    * (min+max)/2 integer, count) per (channel, pixel bucket) — the
    * reference's unit-channel summary, where here every event row is an
    * "event timestamp".
    */
  def eventBins(ts: DataFrame, pixelUs: Long): DataFrame =
    ts.groupBy(col("channel"), microsBucket(col("t"), pixelUs).as("bucket"))
      .agg(min(col("t")).as("min_time"), max(col("t")).as("max_time"), count(lit(1)).as("n"))
      .select(
        col("channel"),
        col("bucket"),
        col("min_time"),
        col("max_time"),
        floor((col("min_time") + col("max_time")) / 2).cast("long").as("avg_time"),
        col("n")
      )

  /** Fixed-width value histogram per channel: bin = floor(v / width),
    * counts per (channel, bin). One shuffle, algebraic aggregate with
    * map-side combine — the distribution report a monitoring pipeline
    * runs over every channel. The bin arithmetic is a single double
    * division + floor, identical in any engine (width defaults to a
    * power of two so the division is exact).
    */
  def valueHistogram(ts: DataFrame, binWidth: Double = 0.25): DataFrame =
    ts.groupBy(col("channel"), floor(col("v") / lit(binWidth)).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("channel"), col("bin"), (col("bin") * lit(binWidth)).as("bin_lo"), col("n"))

  /** Per-channel lag-1 sample autocorrelation: Pearson correlation of
    * (v, previous v) over consecutive samples in (t, v) order. The
    * consecutive pairing uses the two-phase stitched lag (bucket-local
    * window + per-bucket boundary carry — no per-channel single-task
    * sort), and every sum the correlation needs is DECIMAL-routed so
    * partial-aggregation order cannot move the result (see detSum).
    * Ordering by (t, v) is total up to fully-identical rows, whose
    * exchange cannot change any product — so the statistic is
    * deterministic even with duplicate timestamps.
    */
  def lagCorrelation(ts: DataFrame, bucketUs: Long = StitchBucketUs): DataFrame = {
    val paired = withStitchedPrev(ts.select(col("channel"), col("t"), col("v")), Seq("v"), bucketUs, Seq("v"))
      .filter(col("__prev_v").isNotNull)
    val x = col("__prev_v")
    val y = col("v")
    paired
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_pairs"),
        detSum(x).as("sx"),
        detSum(y).as("sy"),
        detSum(x * x).as("sxx"),
        detSum(y * y).as("syy"),
        detSum(x * y).as("sxy")
      )
      .select(
        col("channel"),
        col("n_pairs"),
        round(
          (col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
            sqrt(
              (col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
                (col("n_pairs") * col("syy") - col("sy") * col("sy"))
            ),
          6
        ).as("acf1")
      )
  }

  /** Windowed DFT band power: for each (channel, window, harmonic k)
    * the normalized spectral power
    * ((Σ v·cos(2πk·frac))/n)² + ((Σ v·sin(2πk·frac))/n)², frac =
    * (t mod W)/W — the per-band energy report an EEG pipeline derives
    * (delta/theta/alpha/beta analog on the harmonic axis), read off
    * the [[dftComps]] kernel. One shuffle, algebraic partial
    * aggregation; the harmonic fan-out runs on the summary grain.
    *
    * Cross-engine float discipline: frac is exact integer-mod then one
    * division; 2π is the same double literal both sides; cos/sin args
    * stay < 2π·max(k) (no large-argument reduction, where libms
    * diverge); the products are DECIMAL-summed (order-independent) and
    * NORMALIZED by n before squaring so a last-ulp libm difference
    * stays ~10 orders below the ROUND(…,6) boundary.
    */
  def bandPower(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 4): DataFrame =
    dftComps(ts, windowUs, ks)
      .select(
        col("channel"),
        col("win"),
        col("k"),
        col("n"),
        round(
          (col("c") / col("n")) * (col("c") / col("n")) + (col("s") / col("n")) * (col("s") / col("n")),
          6
        ).as("power")
      )

  /** Per-(channel, window, k) sample count `n` and DFT components
    * (c, s) — the shared kernel under [[bandPower]],
    * [[spectralCoherence]] and [[phaseLocking]].
    */
  private def dftComps(ts: DataFrame, windowUs: Long, ks: Seq[Int]): DataFrame = {
    val twoPi = 6.283185307179586
    val frac = (col("t") % lit(windowUs)).cast("double") / lit(windowUs.toDouble)
    // ONE aggregation at (channel, win) grain carrying all |ks|
    // harmonics as separate sum columns, fanned out to (channel, win,
    // k) rows on the SUMMARY grain — the former shape exploded every
    // SAMPLE |ks| ways before the partial agg (|ks|× the agg-probe and
    // row volume for the same DECIMAL sums). The trig terms are the
    // identical libm cos/sin of the identical double argument
    // ((2π·k)·frac — k folded as a double literal, the same product the
    // per-row `2π·k·frac` column algebra produced), and DECIMAL sums
    // are order-independent, so every per-cell sum is bit-identical to
    // the exploded formulation and the oracle is unchanged. A consumer
    // that does not read `n` gets its count pruned away.
    val aggCols = Seq(count(lit(1)).as("n")) ++ ks.flatMap { k =>
      val arg = lit(twoPi) * lit(k.toLong) * col("__frac")
      Seq(
        detSum(col("v") * cos(arg)).as(s"__c_$k"),
        detSum(col("v") * sin(arg)).as(s"__s_$k")
      )
    }
    val kFan = array(ks.map { k =>
      struct(lit(k.toLong).as("k"), col(s"__c_$k").as("c"), col(s"__s_$k").as("s"))
    }: _*)
    ts.select(
      col("channel"),
      floor(col("t") / lit(windowUs)).cast("long").as("win"),
      col("v"),
      frac.as("__frac")
    )
      .groupBy(col("channel"), col("win"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("channel"), col("win"), col("n"), explode(kFan).as("__kk"))
      .select(
        col("channel"),
        col("win"),
        col("__kk.k").as("k"),
        col("n"),
        col("__kk.c").as("c"),
        col("__kk.s").as("s")
      )
  }

  /** The channel pairs (ch_a < ch_b) of [[spectralCoherence]] and
    * [[phaseLocking]]: both channels' components (ca, sa) and (cb, sb)
    * of one (window, k), joined on the summary relation.
    */
  private def dftPairs(ts: DataFrame, windowUs: Long, ks: Seq[Int]): DataFrame = {
    val comps = dftComps(ts, windowUs, ks)
    def side(ch: String, c: String, s: String): DataFrame =
      comps.select(col("channel").as(ch), col("win"), col("k"), col("c").as(c), col("s").as(s))
    side("ch_a", "ca", "sa")
      .join(side("ch_b", "cb", "sb"), Seq("win", "k"))
      .filter(col("ch_a") < col("ch_b"))
  }

  /** Welch-style cross-channel spectral coherence — the standard
    * neuro-analytics coupling measure between recording channels:
    * `coh²(a,b,k) = |Σ_w X_a(w)·conj(X_b(w))|² / (Σ_w|X_a(w)|² ·
    * Σ_w|X_b(w)|²)` where X(w) are the per-window DFT components the
    * [[bandPower]] kernel already computes and w runs over the
    * segments being averaged. 1.0 = the channels hold a fixed phase
    * relation at that frequency across every window; near 0 = no
    * coupling. (With a single window the estimate is identically 1 —
    * averaging across windows is what makes it informative.)
    *
    * Scale shape: the sample stream collapses FIRST into per
    * (channel, window, k) components — one partial agg, sample-scale
    * work identical to bandPower; everything after runs on the
    * summary relation (channels × windows × |ks| rows). The pair join
    * is keyed by (window, k) and fans out only channel² within a key
    * — channel-count scale, never sample scale — and the final
    * reduction is one (pair, k)-keyed partial agg. Portability: same
    * trig-on-identical-rationals + DECIMAL-routed sums as bandPower.
    */
  def spectralCoherence(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 4): DataFrame =
    dftPairs(ts, windowUs, ks)
      .groupBy(col("ch_a"), col("ch_b"), col("k"))
      .agg(
        count(lit(1)).as("n_win"),
        detSum(col("ca") * col("cb") + col("sa") * col("sb")).as("__p"),
        detSum(col("sa") * col("cb") - col("ca") * col("sb")).as("__q"),
        detSum(col("ca") * col("ca") + col("sa") * col("sa")).as("__paa"),
        detSum(col("cb") * col("cb") + col("sb") * col("sb")).as("__pbb")
      )
      .select(
        col("ch_a"),
        col("ch_b"),
        col("k"),
        col("n_win"),
        round(
          (col("__p") * col("__p") + col("__q") * col("__q")) /
            nullif(col("__paa") * col("__pbb"), lit(0.0)),
          6
        ).as("coherence")
      )

  /** Phase-locking value per channel pair (Lachaux et al. 1999) — the
    * PHASE-ONLY coupling measure EEG pipelines report beside
    * [[spectralCoherence]]: where coherence weights each window by
    * amplitude, PLV normalizes every window's cross-spectrum to unit
    * modulus first, so a weak-but-phase-locked rhythm scores 1 and an
    * amplitude-correlated-but-phase-random pair scores ~0.
    * PLV(a,b,k) = |1/n Σ_w e^{i(φa−φb)}| with
    * e^{iΔφ} = X_a·conj(X_b)/(|X_a||X_b|) — computed WITHOUT atan2:
    * cosΔφ and sinΔφ are ratios of the same DFT components the
    * bandPower kernel produces, so the only transcendentals are the
    * window trig (identical-rational arguments, the tsCoherence
    * precedent) and correctly-rounded IEEE sqrt.
    *
    * Scale shape: identical to spectralCoherence — one sample-scale
    * partial agg to (channel, window, k) components, a (window,
    * k)-keyed pair join over the summary relation, one (pair, k)
    * reduction. Portability: per-window cosΔφ/sinΔφ are ROUNDed to 9
    * (a ratio of doubles is engine-identical, but the round pins the
    * DECIMAL sum inputs), sums route through DECIMAL, zero-amplitude
    * windows drop via NULLIF in both engines.
    */
  def phaseLocking(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 4): DataFrame = {
    val denom = nullif(
      sqrt(col("ca") * col("ca") + col("sa") * col("sa")) *
        sqrt(col("cb") * col("cb") + col("sb") * col("sb")),
      lit(0.0)
    )
    dftPairs(ts, windowUs, ks)
      .withColumn("__cosd", round((col("ca") * col("cb") + col("sa") * col("sb")) / denom, 9))
      .withColumn("__sind", round((col("sa") * col("cb") - col("ca") * col("sb")) / denom, 9))
      .filter(col("__cosd").isNotNull)
      .groupBy(col("ch_a"), col("ch_b"), col("k"))
      .agg(
        count(lit(1)).as("n_win"),
        detSum(col("__cosd")).as("__sc"),
        detSum(col("__sind")).as("__ss")
      )
      .select(
        col("ch_a"),
        col("ch_b"),
        col("k"),
        col("n_win"),
        round(
          sqrt(col("__sc") * col("__sc") + col("__ss") * col("__ss")) / col("n_win"),
          6
        ).as("plv")
      )
  }

  def tsPlv(spark: SparkSession, dir: String): DataFrame =
    phaseLocking(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("ch_a"), col("ch_b"), col("k"))

  /** PLV oracle: the tsCoherence component CTEs verbatim, then the
    * unit-modulus per-window terms and the modulus-of-mean rollup.
    */
  val tsPlvSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |e AS (
      |  SELECT channel, win, v, frac, ks.k AS k
      |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
      |a AS (
      |  SELECT channel, win, k,
      |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
      |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM e GROUP BY 1, 2, 3),
      |terms AS (
      |  SELECT l.channel AS ch_a, r.channel AS ch_b, l.k,
      |    ROUND((l.c * r.c + l.s * r.s) /
      |      NULLIF(SQRT(l.c * l.c + l.s * l.s) * SQRT(r.c * r.c + r.s * r.s), 0.0), 9) AS cosd,
      |    ROUND((l.s * r.c - l.c * r.s) /
      |      NULLIF(SQRT(l.c * l.c + l.s * l.s) * SQRT(r.c * r.c + r.s * r.s), 0.0), 9) AS sind
      |  FROM a l JOIN a r ON l.win = r.win AND l.k = r.k AND l.channel < r.channel),
      |pr AS (
      |  SELECT ch_a, ch_b, k, COUNT(*) AS n_win,
      |    CAST(SUM(CAST(cosd AS DECIMAL(27,10))) AS DOUBLE) AS sc,
      |    CAST(SUM(CAST(sind AS DECIMAL(27,10))) AS DOUBLE) AS ss
      |  FROM terms WHERE cosd IS NOT NULL
      |  GROUP BY 1, 2, 3)
      |SELECT ch_a, ch_b, k, n_win,
      |  ROUND(SQRT(sc * sc + ss * ss) / n_win, 6) AS plv
      |FROM pr
      |ORDER BY ch_a, ch_b, k""".stripMargin

  /** Lomb-Scargle periodogram (Lomb 1976, Scargle 1982) — the
    * spectral estimate for UNEVENLY sampled series: [[bandPower]] and
    * tsWelch assume a uniform grid; Lomb-Scargle evaluates the
    * least-squares sinusoid fit at each frequency directly on the raw
    * irregular timestamps, so it is the estimator that pairs with this
    * engine's gap story (ts_gaps/ts_fillgaps) when filling is NOT
    * wanted. P(ω) = 1/(2σ²)·[ (Σĉv·cosω(t−τ))²/Σcos²ω(t−τ) +
    * (Σĉv·sinω(t−τ))²/Σsin²ω(t−τ) ] with tan 2ωτ = Σsin2ωt/Σcos2ωt
    * and ĉv the mean-centered values.
    *
    * NO atan2 (libm atan2 is not correctly rounded and diverges
    * between engines): the τ rotation enters only through cos ωτ /
    * sin ωτ, recovered algebraically from the half-angle identities —
    * cos2ωτ = C₂/R, R = √(C₂²+S₂²), cτ = √((1+cos2ωτ)/2),
    * sτ = ±√((1−cos2ωτ)/2) with the sign of S₂. That picks one of the
    * two valid τ branches (P is invariant under τ → τ+π/ω, which
    * flips both squared terms' signs together), identically in both
    * engines; R = 0 degenerates to τ = 0. Every remaining op is IEEE
    * +,·,/,√ on engine-identical inputs.
    *
    * Scale shape: ONE sample-scale partial agg to the (channel,
    * window, k) grain — eight DECIMAL-routed sums + n per cell, trig
    * args bounded rationals (frac = t mod W / W, the bandPower
    * precedent); the τ/normalization algebra runs on the summary
    * grain. Zero joins.
    *
    * Harmonic-lattice trig: the frequency grid is harmonic (kω₀, plus
    * 2kω₀ for the τ terms), so each raw sample computes ONE (cos, sin)
    * pair at the base angle and derives every harmonic up to 2·max(k)
    * by the unrolled angle-addition recurrence
    * cosₖ = c₁·cosₖ₋₁ − s₁·sinₖ₋₁, sinₖ = c₁·sinₖ₋₁ + s₁·cosₖ₋₁ —
    * 2 transcendentals per sample instead of 32 (the dominant cost of
    * the old plan at any scale). The oracle unrolls the IDENTICAL
    * recurrence text (same IEEE op order), so both engines produce the
    * same doubles by construction — the recurrence replaces libm
    * agreement with arithmetic identity.
    */
  def lombScargle(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 8): DataFrame = {
    val twoPi = 6.283185307179586
    val kmax = ks.max * 2
    val frac = (col("t") % lit(windowUs)).cast("double") / lit(windowUs.toDouble)
    var base = ts
      .select(
        col("channel"),
        floor(col("t") / lit(windowUs)).cast("long").as("win"),
        col("v"),
        frac.as("__frac")
      )
      .withColumn("__hc1", cos(lit(twoPi) * col("__frac")))
      .withColumn("__hs1", sin(lit(twoPi) * col("__frac")))
    for (k <- 2 to kmax) {
      base = base
        .withColumn(
          s"__hc$k",
          col("__hc1") * col(s"__hc${k - 1}") - col("__hs1") * col(s"__hs${k - 1}")
        )
        .withColumn(
          s"__hs$k",
          col("__hc1") * col(s"__hs${k - 1}") + col("__hs1") * col(s"__hc${k - 1}")
        )
    }
    // ONE aggregation at (channel, win) grain computes n/Σv/Σv² AND all
    // six per-k sums for every harmonic — 3 + 6·|ks| exact DECIMAL sums
    // in a single pass. The former shape exploded every SAMPLE |ks|
    // ways (each exploded row carrying two 2·kmax-element arrays) into
    // a (channel, win, k) agg, ran a SECOND agg over the same lattice
    // subtree for the k-independent totals (recomputing cos/sin and the
    // whole recurrence per sample), and joined the two — two agg
    // passes + one join + |ks|× hash-agg probes per sample. DECIMAL
    // sums are exact and order-independent, so each per-cell sum here
    // is bit-identical to the exploded formulation's; the k fan-out
    // now happens on the SUMMARY grain (one explode per (channel, win)
    // cell instead of per sample).
    // the unweighted sums Σhc_j / Σhs_j are shared across the k fan
    // (the τ terms at 2k coincide with the base terms at k' = 2k), so
    // each unique harmonic j ∈ ks ∪ 2·ks is summed ONCE — for
    // ks = 1..8 that is 12 cos + 12 sin sums instead of the exploded
    // formulation's 32 (c2_k ≡ c1_{2k} is the same detSum expression,
    // so the reuse is exact by construction)
    val uniqueHs = (ks ++ ks.map(_ * 2)).distinct.sorted
    val aggCols =
      Seq(
        count(lit(1)).as("n"),
        detSum(col("v")).as("sv"),
        detSum(col("v") * col("v")).as("sv2")
      ) ++ ks.flatMap { k =>
        Seq(
          detSum(col("v") * col(s"__hc$k")).as(s"__c1v_$k"),
          detSum(col("v") * col(s"__hs$k")).as(s"__s1v_$k")
        )
      } ++ uniqueHs.flatMap { j =>
        Seq(
          detSum(col(s"__hc$j")).as(s"__hcs_$j"),
          detSum(col(s"__hs$j")).as(s"__hss_$j")
        )
      }
    val cells = base
      .groupBy(col("channel"), col("win"))
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(col("n") > 2)
    val kFan = array(ks.map { k =>
      struct(
        lit(k.toLong).as("k"),
        col(s"__c1v_$k").as("c1v"),
        col(s"__s1v_$k").as("s1v"),
        col(s"__hcs_$k").as("c1"),
        col(s"__hss_$k").as("s1"),
        col(s"__hcs_${2 * k}").as("c2"),
        col(s"__hss_${2 * k}").as("s2")
      )
    }: _*)
    val g = cells
      .select(
        col("channel"),
        col("win"),
        col("n"),
        col("sv"),
        col("sv2"),
        explode(kFan).as("__kk")
      )
      .select(
        col("channel"),
        col("win"),
        col("__kk.k").as("k"),
        col("__kk.c1v").as("c1v"),
        col("__kk.s1v").as("s1v"),
        col("__kk.c1").as("c1"),
        col("__kk.s1").as("s1"),
        col("__kk.c2").as("c2"),
        col("__kk.s2").as("s2"),
        col("n"),
        col("sv"),
        col("sv2")
      )
    val vbar = col("sv") / col("n")
    val cvc = col("c1v") - vbar * col("c1")
    val cvs = col("s1v") - vbar * col("s1")
    val cc = (col("n") + col("c2")) / lit(2.0)
    val ss = (col("n") - col("c2")) / lit(2.0)
    val cs = col("s2") / lit(2.0)
    val r = sqrt(col("c2") * col("c2") + col("s2") * col("s2"))
    val cos2t = when(r === 0.0, lit(1.0)).otherwise(col("c2") / r)
    val ct = sqrt(greatest((lit(1.0) + cos2t) / lit(2.0), lit(0.0)))
    val st = when(col("s2") < 0.0, lit(-1.0)).otherwise(lit(1.0)) *
      sqrt(greatest((lit(1.0) - cos2t) / lit(2.0), lit(0.0)))
    val varr = (col("sv2") - col("sv") * vbar) / (col("n") - lit(1))
    g.withColumn("__ct", ct)
      .withColumn("__st", st)
      .withColumn("__a", col("__ct") * cvc + col("__st") * cvs)
      .withColumn("__b", col("__ct") * cvs - col("__st") * cvc)
      .withColumn(
        "__da",
        col("__ct") * col("__ct") * cc + lit(2.0) * col("__ct") * col("__st") * cs +
          col("__st") * col("__st") * ss
      )
      .withColumn(
        "__db",
        col("__ct") * col("__ct") * ss - lit(2.0) * col("__ct") * col("__st") * cs +
          col("__st") * col("__st") * cc
      )
      .select(
        col("channel"),
        col("win"),
        col("k"),
        col("n"),
        round(
          (col("__a") * col("__a") / nullif(col("__da"), lit(0.0)) +
            col("__b") * col("__b") / nullif(col("__db"), lit(0.0))) /
            (lit(2.0) * nullif(varr, lit(0.0))),
          6
        ).as("power")
      )
  }

  def tsLomb(spark: SparkSession, dir: String): DataFrame =
    lombScargle(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("channel"), col("win"), col("k"))

  /** Lomb-Scargle oracle: the identical unrolled harmonic recurrence
    * (same IEEE op order as the engine's lattice, so the doubles agree
    * by arithmetic identity), the identical eight DECIMAL sums, then
    * the τ-branch and normalization algebra with the same
    * parenthesization.
    */
  val tsLombSql: String = {
    val rec = (2 to 16).map { k =>
      s"""b$k AS (
         |  SELECT *, hc1 * hc${k - 1} - hs1 * hs${k - 1} AS hc$k,
         |    hc1 * hs${k - 1} + hs1 * hc${k - 1} AS hs$k
         |  FROM b${k - 1})""".stripMargin
    }.mkString(",\n")
    val caList = (1 to 16).map(i => s"hc$i").mkString("[", ", ", "]")
    val saList = (1 to 16).map(i => s"hs$i").mkString("[", ", ", "]")
    s"""WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |b1 AS (
      |  SELECT channel, win, v,
      |    cos(6.283185307179586 * frac) AS hc1,
      |    sin(6.283185307179586 * frac) AS hs1
      |  FROM x),
      |$rec,
      |e AS (
      |  SELECT channel, win, v, $caList AS ca, $saList AS sa, ks.k AS k
      |  FROM b16 CROSS JOIN (SELECT UNNEST(range(1, 9)) AS k) ks),
      |tot AS (
      |  SELECT channel, win, COUNT(*) AS n,
      |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) AS sv,
      |    CAST(SUM(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) AS sv2
      |  FROM b16 GROUP BY 1, 2
      |  HAVING COUNT(*) > 2),
      |g AS (
      |  SELECT e.channel, e.win, e.k, tot.n, tot.sv, tot.sv2,
      |    CAST(SUM(CAST(v * ca[CAST(k AS INT)] AS DECIMAL(27,10))) AS DOUBLE) AS c1v,
      |    CAST(SUM(CAST(v * sa[CAST(k AS INT)] AS DECIMAL(27,10))) AS DOUBLE) AS s1v,
      |    CAST(SUM(CAST(ca[CAST(k AS INT)] AS DECIMAL(27,10))) AS DOUBLE) AS c1,
      |    CAST(SUM(CAST(sa[CAST(k AS INT)] AS DECIMAL(27,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(ca[CAST(k * 2 AS INT)] AS DECIMAL(27,10))) AS DOUBLE) AS c2,
      |    CAST(SUM(CAST(sa[CAST(k * 2 AS INT)] AS DECIMAL(27,10))) AS DOUBLE) AS s2
      |  FROM e JOIN tot ON tot.channel = e.channel AND tot.win = e.win
      |  GROUP BY 1, 2, 3, 4, 5, 6),
      |tau AS (
      |  SELECT *,
      |    CASE WHEN SQRT(c2 * c2 + s2 * s2) = 0.0 THEN 1.0
      |         ELSE c2 / SQRT(c2 * c2 + s2 * s2) END AS cos2t
      |  FROM g),
      |rot AS (
      |  SELECT *,
      |    SQRT(GREATEST((1.0 + cos2t) / 2.0, 0.0)) AS ct,
      |    (CASE WHEN s2 < 0.0 THEN -1.0 ELSE 1.0 END) *
      |      SQRT(GREATEST((1.0 - cos2t) / 2.0, 0.0)) AS st
      |  FROM tau),
      |terms AS (
      |  SELECT channel, win, k, n, sv2, sv,
      |    ct * (c1v - (sv / n) * c1) + st * (s1v - (sv / n) * s1) AS a,
      |    ct * (s1v - (sv / n) * s1) - st * (c1v - (sv / n) * c1) AS b,
      |    ct * ct * ((n + c2) / 2.0) + 2.0 * ct * st * (s2 / 2.0) +
      |      st * st * ((n - c2) / 2.0) AS da,
      |    ct * ct * ((n - c2) / 2.0) - 2.0 * ct * st * (s2 / 2.0) +
      |      st * st * ((n + c2) / 2.0) AS db
      |  FROM rot)
      |SELECT channel, win, k, n,
      |  ROUND((a * a / NULLIF(da, 0.0) + b * b / NULLIF(db, 0.0)) /
      |    (2.0 * NULLIF((sv2 - sv * (sv / n)) / (n - 1), 0.0)), 6) AS power
      |FROM terms
      |ORDER BY channel, win, k""".stripMargin
  }

  /** Dynamic-time-warping distance per channel pair (Sakoe & Chiba
    * 1978; Berndt & Clifford 1994) — the shape-similarity measure that
    * tolerates local time misalignment where plain correlation
    * ([[lagCorrelation]], ts_xcorr) does not. The 100 TB shape is the
    * PAA reduction, NOT the DP: raw samples collapse to a per-(channel,
    * window) z-normalized PAA grid of `buckets` means in ONE partial
    * agg (the ts_sax grid discipline), so the O(g·band) banded DP runs
    * on arrays of ≤ `buckets` doubles at SUMMARY grain — bounded flops
    * per pair regardless of the raw sample rate, and the pair join
    * inputs sit strictly above an Aggregate (the ts_coherence rule).
    *
    * The DP itself is declared as nested Catalyst `aggregate`
    * higher-order functions (rolling linear-space recurrence: prev row
    * carried as the fold state, current row grown cell by cell), not a
    * UDF — Catalyst sees one deterministic expression. Out-of-band
    * cells pin to 1e300; the Sakoe-Chiba radius widens to |n−m| so the
    * corner stays reachable. Portability: PAA means, z-scores are
    * ROUND(·,9) off DECIMAL sums, and every DP cell is one IEEE
    * multiply-add + 3-way LEAST on engine-identical doubles, so the
    * oracle (a raster-order recursive CTE carrying the same rolling
    * state) hash-matches cell for cell.
    */
  def dtwDistance(
    ts: DataFrame,
    windowUs: Long,
    buckets: Int = 24,
    band: Int = 6
  ): DataFrame = {
    val bucketUs = windowUs / buckets
    val paa = ts
      .select(
        col("channel"),
        floor(col("t") / lit(windowUs)).cast("long").as("win"),
        floor((col("t") % lit(windowUs)) / lit(bucketUs)).cast("long").as("bucket"),
        col("v")
      )
      .groupBy(col("channel"), col("win"), col("bucket"))
      .agg(round(detSum(col("v")) / count(lit(1)), 9).as("paa"))
    val w = Window.partitionBy(col("channel"), col("win"))
    val s1 = sum(col("paa").cast(dec2710)).over(w).cast("double")
    val s2 = sum((col("paa") * col("paa")).cast(dec2710)).over(w).cast("double")
    val nb = count(lit(1)).over(w)
    val sig = sqrt(greatest(col("__s2") / col("__nb") -
      (col("__s1") / col("__nb")) * (col("__s1") / col("__nb")), lit(0.0)))
    val arrs = paa
      .withColumn("__s1", s1)
      .withColumn("__s2", s2)
      .withColumn("__nb", nb)
      .filter(sig > 0.0)
      .withColumn(
        "z",
        round((col("paa") - col("__s1") / col("__nb")) / nullif(sig, lit(0.0)), 9)
      )
      .groupBy(col("channel"), col("win"))
      .agg(
        expr("transform(array_sort(collect_list(struct(bucket, z))), x -> x.z)").as("arr")
      )
    val lhs = arrs.select(col("channel").as("ch_a"), col("win"), col("arr").as("a"))
    val rhs = arrs.select(col("channel").as("ch_b"), col("win"), col("arr").as("b"))
    val dp =
      """aggregate(
        |  sequence(1, n),
        |  transform(sequence(0, m), jj -> IF(jj = 0, CAST(0.0 AS DOUBLE), 1e300)),
        |  (prev, i) -> aggregate(
        |    sequence(1, m),
        |    array(1e300),
        |    (cur, j) -> array_append(cur,
        |      IF(abs(i - j) <= band,
        |        (element_at(a, i) - element_at(b, j)) * (element_at(a, i) - element_at(b, j)) +
        |          least(element_at(cur, j), element_at(prev, j + 1), element_at(prev, j)),
        |        1e300))),
        |  acc -> element_at(acc, m + 1))""".stripMargin
    lhs
      .join(rhs, Seq("win"))
      .filter(col("ch_a") < col("ch_b"))
      .withColumn("n", size(col("a")))
      .withColumn("m", size(col("b")))
      .withColumn("band", greatest(lit(band), abs(col("n") - col("m"))))
      .select(
        col("ch_a"),
        col("ch_b"),
        col("win"),
        col("n").cast("long").as("n_a"),
        col("m").cast("long").as("n_b"),
        round(sqrt(expr(dp)), 6).as("dtw")
      )
  }

  def tsDtw(spark: SparkSession, dir: String): DataFrame =
    dtwDistance(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("ch_a"), col("ch_b"), col("win"))

  /** DTW oracle: the identical PAA/z grid, then the same rolling
    * linear-space recurrence in raster-cell order — a recursive CTE
    * whose state list carries the last m+1 cells, so every cell's
    * multiply-add + LEAST sees the same operands as the engine's
    * nested-fold form.
    */
  val tsDtwSql: String =
    """WITH RECURSIVE x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win,
      |    (epoch_us(ts) % 86400000000) // 3600000000 AS bucket,
      |    value AS v
      |  FROM events),
      |p AS (
      |  SELECT channel, win, bucket,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 9) AS paa
      |  FROM x GROUP BY 1, 2, 3),
      |st AS (
      |  SELECT channel, win, bucket, paa,
      |    CAST(SUM(CAST(paa AS DECIMAL(27,10))) OVER (PARTITION BY channel, win) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(paa * paa AS DECIMAL(27,10))) OVER (PARTITION BY channel, win) AS DOUBLE) AS s2,
      |    COUNT(*) OVER (PARTITION BY channel, win) AS nb
      |  FROM p),
      |zz AS (
      |  SELECT channel, win, bucket,
      |    ROUND((paa - s1 / nb) /
      |      NULLIF(SQRT(GREATEST(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)), 0.0), 9) AS z
      |  FROM st
      |  WHERE SQRT(GREATEST(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)) > 0.0),
      |arr AS (
      |  SELECT channel, win, list(z ORDER BY bucket) AS arr FROM zz GROUP BY 1, 2),
      |pairs AS (
      |  SELECT l.channel AS ch_a, r.channel AS ch_b, l.win,
      |    l.arr AS a, r.arr AS b, len(l.arr) AS n, len(r.arr) AS m,
      |    GREATEST(6, abs(len(l.arr) - len(r.arr))) AS band
      |  FROM arr l JOIN arr r ON l.win = r.win AND l.channel < r.channel),
      |dp AS (
      |  SELECT ch_a, ch_b, win, a, b, n, m, band, 0 AS c,
      |    list_append(
      |      (list_concat([0.0], list_transform(range(1, m + 1), xx -> 1e300)))[2:],
      |      (a[1] - b[1]) * (a[1] - b[1]) + 0.0) AS s
      |  FROM pairs
      |  UNION ALL
      |  SELECT ch_a, ch_b, win, a, b, n, m, band, c + 1,
      |    list_append(s[2:],
      |      CASE WHEN abs((c + 1) // m - (c + 1) % m) <= band
      |        THEN (a[(c + 1) // m + 1] - b[(c + 1) % m + 1]) *
      |             (a[(c + 1) // m + 1] - b[(c + 1) % m + 1]) +
      |          LEAST(CASE WHEN (c + 1) % m = 0 THEN 1e300 ELSE s[m + 1] END, s[2],
      |                CASE WHEN (c + 1) % m = 0 THEN 1e300 ELSE s[1] END)
      |        ELSE 1e300 END)
      |  FROM dp WHERE c < n * m - 1)
      |SELECT ch_a, ch_b, win, n AS n_a, m AS n_b, ROUND(SQRT(s[m + 1]), 6) AS dtw
      |FROM dp WHERE c = n * m - 1
      |ORDER BY ch_a, ch_b, win""".stripMargin

  /** Mann-Kendall trend test + Sen's slope per (channel, window)
    * (Mann 1945, Kendall 1975, Sen 1968) — the NONPARAMETRIC monotone
    * trend screen that pairs with the parametric ts_cusum/ts_shift
    * family: S = Σ_{i<j} sign(x_j − x_i) is pure integer order
    * statistics, so it is immune to outliers and to the float-sum
    * portability traps, with the normal approximation
    * z = (S∓1)/√Var(S) and the tie-corrected variance
    * Var = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18. Sen's slope is the
    * median pairwise slope — picked by RANK (the two middle order
    * statistics), never by interpolation, because engines disagree on
    * `a+(b−a)·q` vs `(a+b)/2` rounding.
    *
    * Portability (the round-10 driver-red lesson): each pairwise slope
    * is rounded ONCE at scale 0 into integer NANO units
    * (`round(slope·1e9, 0)` — scale-0 double rounding never diverges
    * cross-engine because there is no pre-round multiply: a double
    * exactly at n+0.5 is the same "half away from zero" in BigDecimal
    * HALF_UP and std::round, and any other double is unambiguously on
    * one side), then ranking, median halving and the final
    * micro-rounding are pure INTEGER arithmetic — sign(x)·⌊(|x|+1000)
    * /2000⌋ is HALF_UP of x/2000 — so `sen_slope` is an integer/1e6
    * quotient no ROUND implementation can split, and integer zero
    * divides to +0.0 in every engine (no −0.0 hash skew).
    *
    * Scale shape: raw samples collapse once to the hourly PAA grid
    * (ts_sax discipline); the O(g²) pair set (≤276 rows per
    * channel-window) lives entirely at SUMMARY grain — self-join,
    * rank window and rollup all post-aggregate.
    */
  /** The (channel, win, bucket) PAA grid behind ts_mk, carrying BOTH
    * the declared round-9 value and its raw quotient twin (`paa_q`) so
    * the pre-round straddle audit can scan what the ROUND consumed.
    */
  private def mkPaaGrid(ts: DataFrame, windowUs: Long, buckets: Int): DataFrame = {
    val bucketUs = windowUs / buckets
    ts
      .select(
        col("channel"),
        floor(col("t") / lit(windowUs)).cast("long").as("win"),
        floor((col("t") % lit(windowUs)) / lit(bucketUs)).cast("long").as("bucket"),
        col("v")
      )
      .groupBy(col("channel"), col("win"), col("bucket"))
      .agg(
        round(detSum(col("v")) / count(lit(1)), 9).as("paa"),
        (detSum(col("v")) / count(lit(1))).as("paa_q")
      )
  }

  def mannKendall(ts: DataFrame, windowUs: Long, buckets: Int = 24): DataFrame = {
    val paa = mkPaaGrid(ts, windowUs, buckets).drop("paa_q")
    val l = paa.select(col("channel"), col("win"), col("bucket").as("b1"), col("paa").as("x1"))
    val r = paa.select(col("channel"), col("win"), col("bucket").as("b2"), col("paa").as("x2"))
    // Pairwise Sen slope in PURE INTEGER nano units: the 9-rounded PAA
    // doubles sit on the 1e-9 grid, so paa·1e9 is within 1 ulp of its
    // integer image in BOTH engines (identical doubles, never near a
    // half) and ROUND(·,0) recovers the exact BIGINT. The slope is then
    // a sign-decomposed HALF_UP integer division — no double quotient,
    // no ROUND-mode assumption. (Round-11 forensics measured 732 pair
    // slopes EXACTLY on the scale-0 half grid under the old
    // ROUND(Δpaa/Δb·1e9, 0) form — a cross-engine coin flip this
    // integer form cannot produce.)
    val pairs = l
      .join(r, Seq("channel", "win"))
      .filter(col("b1") < col("b2"))
      .select(
        col("channel"),
        col("win"),
        signum(col("x2") - col("x1")).cast("long").as("sgn"),
        round(col("x2") * lit(1e9), 0).cast("long").as("__n2"),
        round(col("x1") * lit(1e9), 0).cast("long").as("__n1"),
        (col("b2") - col("b1")).as("__db")
      )
      .select(
        col("channel"),
        col("win"),
        col("sgn"),
        (signum(col("__n2") - col("__n1")).cast("long") *
          expr("(abs(__n2 - __n1) * 2 + __db) div (__db * 2)")).as("slope_n")
      )
    val ranked = pairs.withColumn(
      "__rn",
      row_number().over(Window.partitionBy(col("channel"), col("win")).orderBy(col("slope_n")))
    )
    val np = col("__np")
    val mk = ranked
      .withColumn("__np", count(lit(1)).over(Window.partitionBy(col("channel"), col("win"))))
      .filter(
        col("__rn") === floor((np + 1) / lit(2)) || col("__rn") === floor((np + 2) / lit(2))
      )
      .groupBy(col("channel"), col("win"))
      .agg(sum(col("slope_n")).as("__sn"), count(lit(1)).as("__sc"))
      .select(
        col("channel"),
        col("win"),
        when(col("__sc") === 1, col("__sn") * 2).otherwise(col("__sn")).as("__sen2")
      )
      .select(
        col("channel"),
        col("win"),
        (signum(col("__sen2")).cast("long") *
          expr("(abs(__sen2) + 1000) div 2000")).as("__senm")
      )
    val s = pairs.groupBy(col("channel"), col("win")).agg(sum(col("sgn")).as("s"))
    val ties = paa
      .groupBy(col("channel"), col("win"), col("paa"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("channel"), col("win"))
      .agg(
        sum(col("t")).as("nb"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("__tt")
      )
    // var_s = (nb(nb−1)(2nb+5) − Σtᵢ(tᵢ−1)(2tᵢ+5)) / 18 as a HALF_UP
    // integer micro division — the numerator is a nonnegative BIGINT
    // (≤ g·(g−1)·(2g+5) at the bucket-grid grain, far from overflow
    // even with the ·2e6), so the scale-6 output is an exact 1e-6-grid
    // value in both engines with no double 1/18 expansion to straddle.
    val varMicro = expr(
      "((nb * (nb - 1) * (2 * nb + 5) - __tt) * 2000000 + 18) div 36"
    )
    // z's denominator √var_s is irrational, so the quotient stays a
    // double — but its INPUT is now the exact micro-grid var_s, IEEE
    // sqrt/divide are correctly rounded, and the final quantization is
    // an explicit FLOOR(q·1e6 + 0.5)/1e6 (identical in both engines by
    // construction — no engine ROUND-mode dependence at all).
    val vsd = col("__vsm").cast("double") / lit(1e6)
    val zq =
      when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(nullif(vsd, lit(0.0))))
        .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(nullif(vsd, lit(0.0))))
        .otherwise(lit(0.0))
    s.join(ties, Seq("channel", "win"))
      .join(mk, Seq("channel", "win"))
      .filter(col("nb") > 2)
      .withColumn("__vsm", varMicro)
      .select(
        col("channel"),
        col("win"),
        col("nb"),
        col("s"),
        vsd.as("var_s"),
        (floor(zq * lit(1e6) + lit(0.5)) / lit(1e6) + lit(0.0)).as("z"),
        (col("__senm").cast("double") / lit(1000000.0)).as("sen_slope"),
        when(col("s") > 0 && (col("s") - 1).cast("double") / sqrt(nullif(vsd, lit(0.0))) > 1.959964, lit("up"))
          .when(col("s") < 0 && (col("s") + 1).cast("double") / sqrt(nullif(vsd, lit(0.0))) < -1.959964, lit("down"))
          .otherwise(lit("none"))
          .as("trend")
      )
  }

  /** ts_mk's PAA grid parameters, shared with [[tsMkTwins]] so the
    * pre-round twin audit always scans the SAME grid the query rounds
    * over (a drifted copy would silently audit a different grid).
    */
  val TsMkWindowUs: Long = 86400000000L
  val TsMkBuckets: Int = 24

  def tsMk(spark: SparkSession, dir: String): DataFrame =
    mannKendall(Tables.ts(spark, dir), windowUs = TsMkWindowUs, buckets = TsMkBuckets)
      .orderBy(col("channel"), col("win"))

  /** Mann-Kendall oracle: identical PAA grid, integer S and tie
    * rollups, rank-picked Sen median through the same DECIMAL halving.
    */
  val tsMkSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win,
      |    (epoch_us(ts) % 86400000000) // 3600000000 AS bucket,
      |    value AS v
      |  FROM events),
      |p AS (
      |  SELECT channel, win, bucket,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 9) AS paa
      |  FROM x GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT channel, win, sgn,
      |    CAST(SIGN(n2 - n1) AS BIGINT) * ((ABS(n2 - n1) * 2 + db) // (db * 2)) AS slope_n
      |  FROM (
      |    SELECT l.channel, l.win,
      |      CAST(SIGN(r.paa - l.paa) AS BIGINT) AS sgn,
      |      CAST(ROUND(r.paa * 1000000000.0, 0) AS BIGINT) AS n2,
      |      CAST(ROUND(l.paa * 1000000000.0, 0) AS BIGINT) AS n1,
      |      r.bucket - l.bucket AS db
      |    FROM p l JOIN p r
      |      ON l.channel = r.channel AND l.win = r.win AND l.bucket < r.bucket)),
      |ranked AS (
      |  SELECT channel, win, slope_n,
      |    ROW_NUMBER() OVER (PARTITION BY channel, win ORDER BY slope_n) AS rn,
      |    COUNT(*) OVER (PARTITION BY channel, win) AS np
      |  FROM pairs),
      |senr AS (
      |  SELECT channel, win, SUM(slope_n) AS sn, COUNT(*) AS sc
      |  FROM ranked
      |  WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
      |  GROUP BY 1, 2),
      |sen AS (
      |  SELECT channel, win,
      |    CAST(SIGN(CASE WHEN sc = 1 THEN sn * 2 ELSE sn END) AS BIGINT)
      |      * ((ABS(CASE WHEN sc = 1 THEN sn * 2 ELSE sn END) + 1000) // 2000) AS senm
      |  FROM senr),
      |ss AS (
      |  SELECT channel, win, SUM(sgn) AS s FROM pairs GROUP BY 1, 2),
      |ties AS (
      |  SELECT channel, win, SUM(t) AS nb,
      |    SUM(t * (t - 1) * (2 * t + 5)) AS tt
      |  FROM (SELECT channel, win, paa, COUNT(*) AS t FROM p GROUP BY 1, 2, 3)
      |  GROUP BY 1, 2),
      |jj AS (
      |  SELECT ss.channel, ss.win, ties.nb, ss.s, sen.senm,
      |    CAST(((ties.nb * (ties.nb - 1) * (2 * ties.nb + 5) - ties.tt) * 2000000 + 18) // 36
      |      AS DOUBLE) / 1000000.0 AS var_s
      |  FROM ss
      |  JOIN ties ON ss.channel = ties.channel AND ss.win = ties.win
      |  JOIN sen ON ss.channel = sen.channel AND ss.win = sen.win
      |  WHERE ties.nb > 2)
      |SELECT channel, win,
      |  CAST(nb AS BIGINT) AS nb, CAST(s AS BIGINT) AS s,
      |  var_s,
      |  FLOOR(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / SQRT(NULLIF(var_s, 0.0))
      |             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / SQRT(NULLIF(var_s, 0.0))
      |             ELSE 0.0 END * 1000000.0 + 0.5) / 1000000.0 + 0.0 AS z,
      |  CAST(senm AS DOUBLE) / 1000000.0 AS sen_slope,
      |  CASE WHEN s > 0 AND CAST(s - 1 AS DOUBLE) / SQRT(NULLIF(var_s, 0.0)) > 1.959964 THEN 'up'
      |       WHEN s < 0 AND CAST(s + 1 AS DOUBLE) / SQRT(NULLIF(var_s, 0.0)) < -1.959964 THEN 'down'
      |       ELSE 'none' END AS trend
      |FROM jj
      |ORDER BY channel, win""".stripMargin

  /** Pre-round twin frame for [[graft.StraddleAudit.auditTwins]]: the
    * UNROUNDED double each of ts_mk's DOUBLE-QUANTIZED finals consumed
    * — the PAA quotient before its ROUND(·,9) and the z quotient
    * before its FLOOR micro quantization (rebuilt from the output's
    * exact var_s/s, which are the quotient's exact inputs). A value
    * essentially ON its half grid here is the straddle class the
    * OUTPUT scan cannot see (it rounds onto the grid in both engines —
    * possibly to opposite sides).
    *
    * Deliberately ABSENT: the Sen slope and var_s quotients. Those
    * finals are pure sign-decomposed HALF_UP INTEGER divisions —
    * deterministic in both engines even AT an exact half — and exact
    * halves are routine there (this audit's very first run at sf0.1
    * surfaced the 732 exact-half slope quotients the round-11 verdict
    * measured; the integer idiom is what de-fanged them). The twin
    * registry covers only finals quantized FROM a double, where a
    * half-grid park is a genuine cross-engine hazard.
    */
  def tsMkTwins(spark: SparkSession, dir: String): DataFrame = {
    val g = mkPaaGrid(Tables.ts(spark, dir), windowUs = TsMkWindowUs, buckets = TsMkBuckets)
    val zQ = tsMk(spark, dir)
      .select(
        when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(nullif(col("var_s"), lit(0.0))))
          .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(nullif(col("var_s"), lit(0.0))))
          .otherwise(lit(0.0))
          .as("z__s6")
      )
    g.select(col("paa_q").as("paa__s9"))
      .unionByName(zQ, allowMissingColumns = true)
  }

  /** Sample entropy per (channel, window) (Richman & Moorman 2000) —
    * the regularity/complexity screen clinicians run beside the
    * spectral family: SampEn(m, r) = −ln(A/B) where B counts template
    * pairs of length m within Chebyshev tolerance r and A the same at
    * m+1. Low SampEn = self-similar/regular (heartbeat, artifact
    * loops); high = irregular. Self-matches excluded; i<j counting
    * halves A and B together so the ratio is the textbook estimator.
    *
    * Scale shape: raw samples collapse once to the z-normalized PAA
    * grid (ts_sax discipline; r is in z units so the tolerance is
    * amplitude-free), templates form via bucket-continuity LEADs over
    * the summary grid, and the O(g²) pair joins run strictly at
    * summary grain (≤ g² rows per channel-window). Integer counts all
    * the way — the only transcendental is the final ln.
    */
  def sampleEntropy(
    ts: DataFrame,
    windowUs: Long,
    buckets: Int = 24,
    r: Double = 0.2
  ): DataFrame = {
    val bucketUs = windowUs / buckets
    val paa = ts
      .select(
        col("channel"),
        floor(col("t") / lit(windowUs)).cast("long").as("win"),
        floor((col("t") % lit(windowUs)) / lit(bucketUs)).cast("long").as("bucket"),
        col("v")
      )
      .groupBy(col("channel"), col("win"), col("bucket"))
      .agg(round(detSum(col("v")) / count(lit(1)), 9).as("paa"))
    val w = Window.partitionBy(col("channel"), col("win"))
    val s1 = sum(col("paa").cast(dec2710)).over(w).cast("double")
    val s2 = sum((col("paa") * col("paa")).cast(dec2710)).over(w).cast("double")
    val nb = count(lit(1)).over(w)
    val sig = sqrt(greatest(col("__s2") / col("__nb") -
      (col("__s1") / col("__nb")) * (col("__s1") / col("__nb")), lit(0.0)))
    val ord = Window.partitionBy(col("channel"), col("win")).orderBy(col("bucket"))
    val grid = paa
      .withColumn("__s1", s1)
      .withColumn("__s2", s2)
      .withColumn("__nb", nb)
      .filter(sig > 0.0)
      .withColumn(
        "z",
        round((col("paa") - col("__s1") / col("__nb")) / nullif(sig, lit(0.0)), 9)
      )
      .select(col("channel"), col("win"), col("bucket"), col("z"))
      .withColumn("z1", lead(col("z"), 1).over(ord))
      .withColumn("z2", lead(col("z"), 2).over(ord))
      .withColumn("b1", lead(col("bucket"), 1).over(ord))
      .withColumn("b2", lead(col("bucket"), 2).over(ord))
    val t2 = grid
      .filter(col("b1") === col("bucket") + 1)
      .select(col("channel"), col("win"), col("bucket").as("i"), col("z"), col("z1"))
    val t3 = grid
      .filter(col("b1") === col("bucket") + 1 && col("b2") === col("bucket") + 2)
      .select(
        col("channel"),
        col("win"),
        col("bucket").as("i"),
        col("z"),
        col("z1"),
        col("z2")
      )
    def pairs(t: DataFrame, cols: Seq[String]): DataFrame = {
      val l = t.select(Seq(col("channel"), col("win"), col("i")) ++ cols.map(col): _*)
      val rn = t.select(
        Seq(col("channel"), col("win"), col("i").as("j")) ++
          cols.map(c => col(c).as(c + "_r")): _*
      )
      val cheb = cols.map(c => abs(col(c) - col(c + "_r"))).reduce(greatest(_, _))
      l.join(rn, Seq("channel", "win"))
        .filter(col("i") < col("j") && cheb <= lit(r))
        .groupBy(col("channel"), col("win"))
        .agg(count(lit(1)).as(if (cols.size == 2) "b_pairs" else "a_pairs"))
    }
    val base = t2.groupBy(col("channel"), col("win")).agg(count(lit(1)).as("n_templates"))
    base
      .join(pairs(t2, Seq("z", "z1")), Seq("channel", "win"), "left")
      .join(pairs(t3, Seq("z", "z1", "z2")), Seq("channel", "win"), "left")
      .select(
        col("channel"),
        col("win"),
        col("n_templates"),
        coalesce(col("b_pairs"), lit(0L)).as("b_pairs"),
        coalesce(col("a_pairs"), lit(0L)).as("a_pairs"),
        when(
          coalesce(col("a_pairs"), lit(0L)) > 0 && coalesce(col("b_pairs"), lit(0L)) > 0,
          round(
            -log(
              coalesce(col("a_pairs"), lit(0L)).cast("double") /
                coalesce(col("b_pairs"), lit(0L)).cast("double")
            ),
            6
          )
        ).as("sampen")
      )
  }

  def tsSampen(spark: SparkSession, dir: String): DataFrame =
    sampleEntropy(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("channel"), col("win"))

  /** SampEn oracle: identical grid/LEAD templates and integer pair
    * counts; ln only at the end.
    */
  val tsSampenSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win,
      |    (epoch_us(ts) % 86400000000) // 3600000000 AS bucket,
      |    value AS v
      |  FROM events),
      |p AS (
      |  SELECT channel, win, bucket,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 9) AS paa
      |  FROM x GROUP BY 1, 2, 3),
      |st AS (
      |  SELECT channel, win, bucket, paa,
      |    CAST(SUM(CAST(paa AS DECIMAL(27,10))) OVER (PARTITION BY channel, win) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(paa * paa AS DECIMAL(27,10))) OVER (PARTITION BY channel, win) AS DOUBLE) AS s2,
      |    COUNT(*) OVER (PARTITION BY channel, win) AS nb
      |  FROM p),
      |g AS (
      |  SELECT channel, win, bucket,
      |    ROUND((paa - s1 / nb) /
      |      NULLIF(SQRT(GREATEST(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)), 0.0), 9) AS z,
      |    LEAD(bucket, 1) OVER o AS b1, LEAD(bucket, 2) OVER o AS b2
      |  FROM st
      |  WHERE SQRT(GREATEST(s2 / nb - (s1 / nb) * (s1 / nb), 0.0)) > 0.0
      |  WINDOW o AS (PARTITION BY channel, win ORDER BY bucket)),
      |gz AS (
      |  SELECT channel, win, bucket, z, b1, b2,
      |    LEAD(z, 1) OVER (PARTITION BY channel, win ORDER BY bucket) AS z1,
      |    LEAD(z, 2) OVER (PARTITION BY channel, win ORDER BY bucket) AS z2
      |  FROM g),
      |t2 AS (
      |  SELECT channel, win, bucket AS i, z, z1 FROM gz WHERE b1 = bucket + 1),
      |t3 AS (
      |  SELECT channel, win, bucket AS i, z, z1, z2 FROM gz
      |  WHERE b1 = bucket + 1 AND b2 = bucket + 2),
      |bc AS (
      |  SELECT l.channel, l.win, COUNT(*) AS b_pairs
      |  FROM t2 l JOIN t2 r ON l.channel = r.channel AND l.win = r.win AND l.i < r.i
      |  WHERE GREATEST(ABS(l.z - r.z), ABS(l.z1 - r.z1)) <= 0.2
      |  GROUP BY 1, 2),
      |ac AS (
      |  SELECT l.channel, l.win, COUNT(*) AS a_pairs
      |  FROM t3 l JOIN t3 r ON l.channel = r.channel AND l.win = r.win AND l.i < r.i
      |  WHERE GREATEST(ABS(l.z - r.z), ABS(l.z1 - r.z1), ABS(l.z2 - r.z2)) <= 0.2
      |  GROUP BY 1, 2),
      |base AS (
      |  SELECT channel, win, COUNT(*) AS n_templates FROM t2 GROUP BY 1, 2)
      |SELECT base.channel, base.win, base.n_templates,
      |  COALESCE(bc.b_pairs, 0) AS b_pairs,
      |  COALESCE(ac.a_pairs, 0) AS a_pairs,
      |  CASE WHEN COALESCE(ac.a_pairs, 0) > 0 AND COALESCE(bc.b_pairs, 0) > 0
      |    THEN ROUND(-LN(CAST(COALESCE(ac.a_pairs, 0) AS DOUBLE) /
      |      CAST(COALESCE(bc.b_pairs, 0) AS DOUBLE)), 6) END AS sampen
      |FROM base
      |LEFT JOIN bc ON bc.channel = base.channel AND bc.win = base.win
      |LEFT JOIN ac ON ac.channel = base.channel AND ac.win = base.win
      |ORDER BY base.channel, base.win""".stripMargin

  /** Matrix profile per (channel, window) over the hourly PAA grid
    * (Yeh et al. 2016, ICDM — the all-pairs nearest-neighbor
    * subsequence distance that unifies motif discovery (low profile:
    * this shape recurs) and discord/anomaly detection (high profile:
    * nothing else looks like this) in one artifact). Subsequences of
    * m=4 consecutive grid buckets are INDIVIDUALLY z-normalized (the
    * MP distance is shape-only), distances exclude the trivial-match
    * zone |i−j| < m, and each position reports its nearest neighbor
    * and the distance to it.
    *
    * Scale shape: raw samples collapse once to the per-(channel,
    * window) PAA grid in ONE partial agg (the ts_sax/ts_dtw grid
    * discipline); subsequences form via bucket-continuity LEADs over
    * the ≤g-row summary grid; the O(g²) pair join runs strictly at
    * summary grain — bounded by the literal window/bucket ratio
    * (g ≤ 168 at the 7-day/1-hour defaults) regardless of raw sample
    * rate. Portability: PAA rounds at 9; per-subsequence μ/σ and the
    * m-term distance are pinned literal-order expressions (no
    * aggregate over the components); z rounds at 9, the distance at
    * 9 before the min, the reported profile at 6; flat (σ=0)
    * subsequences drop from both sides; the nearest neighbor
    * tie-breaks on the smaller j.
    */
  def matrixProfile(
    ts: DataFrame,
    windowUs: Long,
    bucketUs: Long = BucketUs
  ): DataFrame = {
    val paa = ts
      .select(
        col("channel"),
        floor(col("t") / lit(windowUs)).cast("long").as("win"),
        floor((col("t") % lit(windowUs)) / lit(bucketUs)).cast("long").as("bucket"),
        col("v")
      )
      .groupBy(col("channel"), col("win"), col("bucket"))
      .agg(round(detSum(col("v")) / count(lit(1)), 9).as("paa"))
    val ord = Window.partitionBy(col("channel"), col("win")).orderBy(col("bucket"))
    val grid = paa
      .withColumn("a1", lead(col("paa"), 1).over(ord))
      .withColumn("a2", lead(col("paa"), 2).over(ord))
      .withColumn("a3", lead(col("paa"), 3).over(ord))
      .withColumn("b1", lead(col("bucket"), 1).over(ord))
      .withColumn("b2", lead(col("bucket"), 2).over(ord))
      .withColumn("b3", lead(col("bucket"), 3).over(ord))
      .filter(
        col("b1") === col("bucket") + 1 &&
          col("b2") === col("bucket") + 2 &&
          col("b3") === col("bucket") + 3
      )
    val mu = (col("paa") + col("a1") + col("a2") + col("a3")) / 4.0
    val s2 = (col("paa") * col("paa") + col("a1") * col("a1") +
      col("a2") * col("a2") + col("a3") * col("a3")) / 4.0 - mu * mu
    val sig = sqrt(greatest(s2, lit(0.0)))
    val subs = grid
      .withColumn("__mu", mu)
      .withColumn("__sig", sig)
      .filter(col("__sig") > 0.0)
      .select(
        col("channel"),
        col("win"),
        col("bucket").as("i"),
        round((col("paa") - col("__mu")) / col("__sig"), 9).as("z0"),
        round((col("a1") - col("__mu")) / col("__sig"), 9).as("z1"),
        round((col("a2") - col("__mu")) / col("__sig"), 9).as("z2"),
        round((col("a3") - col("__mu")) / col("__sig"), 9).as("z3")
      )
    val rhs = subs.select(
      col("channel"),
      col("win"),
      col("i").as("j"),
      col("z0").as("y0"),
      col("z1").as("y1"),
      col("z2").as("y2"),
      col("z3").as("y3")
    )
    val d2 = (col("z0") - col("y0")) * (col("z0") - col("y0")) +
      (col("z1") - col("y1")) * (col("z1") - col("y1")) +
      (col("z2") - col("y2")) * (col("z2") - col("y2")) +
      (col("z3") - col("y3")) * (col("z3") - col("y3"))
    // nearest neighbor = lexicographic MIN of (distance, j) — identical
    // row to the former row_number()-over-(d, j)-ORDER rank-1 pick, but
    // as a DeclarativeAggregate it partial-aggregates map-side: the
    // O(g²) pair stream reduces to ≤ g rows per (channel, win) INSIDE
    // the join's partitions (hash partitioning on (channel, win) already
    // satisfies the groupBy's distribution, so no exchange and — unlike
    // the window form — no sort of the whole pair stream).
    subs
      .join(rhs, Seq("channel", "win"))
      .filter(abs(col("i") - col("j")) >= 4)
      .select(
        col("channel"),
        col("win"),
        col("i"),
        struct(round(sqrt(d2), 9).as("d"), col("j").as("j")).as("__dj")
      )
      .groupBy(col("channel"), col("win"), col("i"))
      .agg(min(col("__dj")).as("__nn"))
      .select(
        col("channel"),
        col("win"),
        col("i"),
        col("__nn.j").as("nn_j"),
        round(col("__nn.d"), 6).as("mp")
      )
  }

  def tsMatrixProfile(spark: SparkSession, dir: String): DataFrame =
    matrixProfile(Tables.ts(spark, dir), windowUs = 604800000000L)

  /** MP oracle: identical PAA grid, LEAD continuity, pinned
    * subsequence z-normalization and literal-order distance, the same
    * (distance, j) nearest-neighbor argmin.
    */
  val tsMatrixProfileSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 604800000000 AS win,
      |    (epoch_us(ts) % 604800000000) // 3600000000 AS bucket,
      |    value AS v
      |  FROM events),
      |p AS (
      |  SELECT channel, win, bucket,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 9) AS paa
      |  FROM x GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT channel, win, bucket, paa,
      |    LEAD(paa, 1) OVER o AS a1, LEAD(paa, 2) OVER o AS a2, LEAD(paa, 3) OVER o AS a3,
      |    LEAD(bucket, 1) OVER o AS b1, LEAD(bucket, 2) OVER o AS b2, LEAD(bucket, 3) OVER o AS b3
      |  FROM p
      |  WINDOW o AS (PARTITION BY channel, win ORDER BY bucket)),
      |gs AS (
      |  SELECT channel, win, bucket, paa, a1, a2, a3,
      |    (paa + a1 + a2 + a3) / 4.0 AS mu,
      |    SQRT(GREATEST((paa * paa + a1 * a1 + a2 * a2 + a3 * a3) / 4.0
      |      - ((paa + a1 + a2 + a3) / 4.0) * ((paa + a1 + a2 + a3) / 4.0), 0.0)) AS sig
      |  FROM g
      |  WHERE b1 = bucket + 1 AND b2 = bucket + 2 AND b3 = bucket + 3),
      |subs AS (
      |  SELECT channel, win, bucket AS i,
      |    ROUND((paa - mu) / sig, 9) AS z0, ROUND((a1 - mu) / sig, 9) AS z1,
      |    ROUND((a2 - mu) / sig, 9) AS z2, ROUND((a3 - mu) / sig, 9) AS z3
      |  FROM gs WHERE sig > 0.0),
      |pairs AS (
      |  SELECT l.channel, l.win, l.i, r.i AS j,
      |    ROUND(SQRT((l.z0 - r.z0) * (l.z0 - r.z0) + (l.z1 - r.z1) * (l.z1 - r.z1)
      |      + (l.z2 - r.z2) * (l.z2 - r.z2) + (l.z3 - r.z3) * (l.z3 - r.z3)), 9) AS d
      |  FROM subs l
      |  JOIN subs r ON r.channel = l.channel AND r.win = l.win AND ABS(l.i - r.i) >= 4),
      |rn AS (
      |  SELECT channel, win, i, j, d,
      |    ROW_NUMBER() OVER (PARTITION BY channel, win, i ORDER BY d, j) AS rn
      |  FROM pairs)
      |SELECT channel, win, i, j AS nn_j, ROUND(d, 6) AS mp
      |FROM rn WHERE rn = 1
      |ORDER BY channel, win, i""".stripMargin

  /** Recurrence quantification per (channel, window) (Zbilut & Webber
    * 1992; Marwan et al., Physics Reports 2007 — how often does the
    * trajectory REVISIT a state, and do revisits come in deterministic
    * runs?): m=2 delay embedding of the z-normalized PAA grid, a
    * recurrence when the Chebyshev distance of two templates is ≤ ε,
    * and the three canonical RQA numbers — recurrence rate RR
    * (recurrent share of admissible pairs), determinism DET (share of
    * recurrent points sitting on diagonal lines of length ≥ 2 — runs
    * of (i,j),(i+1,j+1) recurrences = "the system repeats whole
    * SEGMENTS", the signature separating deterministic cycling from
    * incidental revisits), and the longest diagonal Lmax (inverse
    * divergence proxy). Complements [[sampleEntropy]] (which counts
    * the same template matches but reports a rate, not structure) and
    * [[matrixProfile]] (nearest neighbor only; RQA sees ALL
    * neighbors).
    *
    * Scale shape: one partial agg to the PAA grid; per-window moments
    * at (channel, window) grain joined back at summary grain; the
    * O(g²) pair join and the gaps-and-islands diagonal detection
    * (ROW_NUMBER difference per diagonal offset) run strictly on the
    * ≤g-row summary grid — bounded by the window/bucket ratio,
    * regardless of raw sample rate. Portability: PAA/μ/σ/z round-9,
    * the ε compare sees bit-identical doubles both engines, the line
    * machinery is pure integers; RR/DET round at 6. Flat windows
    * (σ=0) and windows with < 3 templates drop.
    */
  def rqa(
    ts: DataFrame,
    windowUs: Long,
    bucketUs: Long = BucketUs,
    eps: Double = 0.2
  ): DataFrame = {
    val paa = ts
      .select(
        col("channel"),
        floor(col("t") / lit(windowUs)).cast("long").as("win"),
        floor((col("t") % lit(windowUs)) / lit(bucketUs)).cast("long").as("bucket"),
        col("v")
      )
      .groupBy(col("channel"), col("win"), col("bucket"))
      .agg(round(detSum(col("v")) / count(lit(1)), 9).as("paa"))
    val stats = paa
      .groupBy(col("channel"), col("win"))
      .agg(
        count(lit(1)).as("__nb"),
        detSum(col("paa")).as("__s1"),
        detSum(col("paa") * col("paa")).as("__s2")
      )
      .withColumn("__mu", round(col("__s1") / col("__nb"), 9))
      .withColumn(
        "__sig",
        round(
          sqrt(greatest(col("__s2") / col("__nb") - col("__mu") * col("__mu"), lit(0.0))),
          9
        )
      )
      .filter(col("__sig") > 0.0)
      .select(col("channel"), col("win"), col("__mu"), col("__sig"))
    val ord = Window.partitionBy(col("channel"), col("win")).orderBy(col("bucket"))
    val emb = paa
      .join(stats, Seq("channel", "win"))
      .withColumn("__z", round((col("paa") - col("__mu")) / col("__sig"), 9))
      .withColumn("__z1", lead(col("__z"), 1).over(ord))
      .withColumn("__b1", lead(col("bucket"), 1).over(ord))
      .filter(col("__b1") === col("bucket") + 1)
      .withColumn("i", row_number().over(ord).cast("long"))
      .select(col("channel"), col("win"), col("i"), col("__z"), col("__z1"))
    val rhs = emb.select(
      col("channel"),
      col("win"),
      col("i").as("j"),
      col("__z").as("__y"),
      col("__z1").as("__y1")
    )
    val rec = emb
      .join(rhs, Seq("channel", "win"))
      .filter(col("j") - col("i") >= 2)
      .filter(greatest(abs(col("__z") - col("__y")), abs(col("__z1") - col("__y1"))) <= eps)
      .select(col("channel"), col("win"), col("i"), col("j"), (col("j") - col("i")).as("d"))
    val lines = rec
      .withColumn(
        "__rn",
        row_number().over(
          Window.partitionBy(col("channel"), col("win"), col("d")).orderBy(col("i"))
        )
      )
      .groupBy(col("channel"), col("win"), col("d"), (col("i") - col("__rn")).as("__isl"))
      .agg(count(lit(1)).as("len"))
    val per = lines
      .groupBy(col("channel"), col("win"))
      .agg(
        sum(col("len")).as("__nrec"),
        sum(when(col("len") >= 2, col("len")).otherwise(lit(0L))).as("__det_num"),
        max(col("len")).as("__lmax")
      )
    val npts = emb.groupBy(col("channel"), col("win")).agg(count(lit(1)).as("n_points"))
    val nAdm = (col("n_points") - 1).cast("double") * (col("n_points") - 2).cast("double") / 2.0
    npts
      .join(per, Seq("channel", "win"), "left")
      .filter(col("n_points") >= 3)
      .select(
        col("channel"),
        col("win"),
        col("n_points"),
        coalesce(col("__nrec"), lit(0L)).as("n_rec"),
        round(coalesce(col("__nrec"), lit(0L)).cast("double") / nAdm, 6).as("rr"),
        when(
          coalesce(col("__nrec"), lit(0L)) > 0,
          round(col("__det_num").cast("double") / col("__nrec"), 6)
        ).as("det"),
        coalesce(col("__lmax"), lit(0L)).as("lmax")
      )
  }

  def tsRqa(spark: SparkSession, dir: String): DataFrame =
    rqa(Tables.ts(spark, dir), windowUs = 604800000000L)
      .orderBy(col("channel"), col("win"))

  /** RQA oracle: identical PAA grid, per-window pinned moments,
    * embedding LEADs, ε compare, and ROW_NUMBER-difference islands.
    */
  val tsRqaSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 604800000000 AS win,
      |    (epoch_us(ts) % 604800000000) // 3600000000 AS bucket,
      |    value AS v
      |  FROM events),
      |p AS (
      |  SELECT channel, win, bucket,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 9) AS paa
      |  FROM x GROUP BY 1, 2, 3),
      |st AS (
      |  SELECT channel, win, mu,
      |    ROUND(SQRT(GREATEST(s2 / nb - mu * mu, 0.0)), 9) AS sig
      |  FROM (
      |    SELECT channel, win, COUNT(*) AS nb,
      |      ROUND(CAST(SUM(CAST(paa AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 9) AS mu,
      |      CAST(SUM(CAST(paa * paa AS DECIMAL(27,10))) AS DOUBLE) AS s2
      |    FROM p GROUP BY 1, 2) t),
      |z AS (
      |  SELECT p.channel, p.win, p.bucket,
      |    ROUND((p.paa - st.mu) / st.sig, 9) AS z
      |  FROM p JOIN st ON st.channel = p.channel AND st.win = p.win AND st.sig > 0.0),
      |e0 AS (
      |  SELECT channel, win, bucket, z,
      |    LEAD(z, 1) OVER o AS z1, LEAD(bucket, 1) OVER o AS b1
      |  FROM z
      |  WINDOW o AS (PARTITION BY channel, win ORDER BY bucket)),
      |emb AS (
      |  SELECT channel, win, z, z1,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY channel, win ORDER BY bucket) AS BIGINT) AS i
      |  FROM e0 WHERE b1 = bucket + 1),
      |rec AS (
      |  SELECT l.channel, l.win, l.i, r.i AS j, r.i - l.i AS d
      |  FROM emb l
      |  JOIN emb r ON r.channel = l.channel AND r.win = l.win AND r.i - l.i >= 2
      |  WHERE GREATEST(ABS(l.z - r.z), ABS(l.z1 - r.z1)) <= 0.2),
      |lines AS (
      |  SELECT channel, win, d, isl, COUNT(*) AS len FROM (
      |    SELECT channel, win, d, i,
      |      i - ROW_NUMBER() OVER (PARTITION BY channel, win, d ORDER BY i) AS isl
      |    FROM rec) t
      |  GROUP BY 1, 2, 3, 4),
      |per AS (
      |  SELECT channel, win,
      |    CAST(SUM(len) AS BIGINT) AS nrec,
      |    CAST(SUM(CASE WHEN len >= 2 THEN len ELSE 0 END) AS BIGINT) AS det_num,
      |    CAST(MAX(len) AS BIGINT) AS lmax
      |  FROM lines GROUP BY 1, 2),
      |np AS (SELECT channel, win, COUNT(*) AS n_points FROM emb GROUP BY 1, 2)
      |SELECT np.channel, np.win, np.n_points,
      |  COALESCE(per.nrec, 0) AS n_rec,
      |  ROUND(CAST(COALESCE(per.nrec, 0) AS DOUBLE)
      |        / (CAST(np.n_points - 1 AS DOUBLE) * CAST(np.n_points - 2 AS DOUBLE) / 2.0), 6) AS rr,
      |  CASE WHEN COALESCE(per.nrec, 0) > 0
      |       THEN ROUND(CAST(per.det_num AS DOUBLE) / per.nrec, 6) END AS det,
      |  COALESCE(per.lmax, 0) AS lmax
      |FROM np LEFT JOIN per ON per.channel = np.channel AND per.win = np.win
      |WHERE np.n_points >= 3
      |ORDER BY np.channel, np.win""".stripMargin

  /** Sessionization over any id column (users here, the classic
    * pipeline op): a session breaks when an id's inter-event gap
    * reaches gapUs; each event gets its id's 1-based session ordinal.
    * Fully two-phase — the break flag comes from the stitched prev-t
    * (bucket-local lag + boundary carry) and the ordinal is a running
    * sum of flags computed as bucket-local cumsum + a per-bucket flag
    * count prefix — so no per-id single-task sort exists anywhere, the
    * same discipline every other windowed operator here follows.
    */
  def sessionize(ts: DataFrame, gapUs: Long, bucketUs: Long = StitchBucketUs): DataFrame = {
    val byUser = withTieBreak(ts.select(col("user_id").as("channel"), col("t"), col("event_id")))
    val flagged = withStitchedPrev(byUser, Seq("t"), bucketUs, Seq("event_id"))
      .withColumn(
        "__flag",
        when(col("__prev_t").isNull || (col("t") - col("__prev_t")) >= gapUs, 1L).otherwise(0L)
      )
    withStitchedRunningSums(
      flagged,
      Seq("session_id" -> col("__flag")),
      bucketUs,
      Seq(col("t"), col("event_id"))
    )
      .select(col("channel").as("user_id"), col("t"), col("session_id"))
  }

  /** Per-channel exact quantiles (linear interpolation at rank
    * p·(n−1) — the quantile_cont definition both engines share).
    * NOTE the scale trade, stated honestly: Spark's exact percentile
    * buffers each group's values, so this is the small-group/report
    * shape; at 100 TB per-channel cardinality, swap in
    * approx_percentile (t-digest, bounded memory, mergeable) — same
    * call shape, documented accuracy bound — or derive quantiles from
    * the valueHistogram sketch.
    */
  def channelQuantiles(ts: DataFrame, ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    ts.groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n"),
        ps.map(p => round(expr(s"percentile(v, $p)"), 6).as(s"p${math.round(p * 100)}")): _*
      )

  /** Per-channel APPROXIMATE quantiles — the 100 TB path for
    * [[channelQuantiles]]. `approx_percentile`'s mergeable
    * Greenwald–Khanna sketch keeps per-group aggregation state bounded
    * by `accuracy` (not by group cardinality), so a hot channel's full
    * history never buffers in one aggregation buffer and partial
    * sketches map-side combine like any algebraic agg. Accuracy bound:
    * the returned value's RANK is within n/accuracy of the requested
    * rank — ±0.01% of the group at the default 10⁴. Same output
    * schema as the exact variant (which stays the small-group/oracle
    * shape), so it is a drop-in swap; values are actual data points
    * (nearest-rank) rather than interpolated, the standard sketch
    * trade.
    */
  def channelQuantilesApprox(
    ts: DataFrame,
    ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
    accuracy: Int = 10000
  ): DataFrame =
    ts.groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n"),
        ps.map(p =>
          round(expr(s"approx_percentile(v, $p, $accuracy)"), 6).as(s"p${math.round(p * 100)}")
        ): _*
      )

  /** The reference's resample decision: only downsample when at least
    * 3 datapoints land in one pixel (reference:
    * query/TimeSeriesQueryUtils.scala:175-182).
    */
  def shouldResample(rate: Double, microsecondsPerPixel: Long): Boolean = {
    val microsecondPerDatapoints = 1e6 / rate
    microsecondsPerPixel.toDouble / microsecondPerDatapoints > 3.0
  }

  /** The reference's FRONT-DOOR behavior composed into one operator:
    * per channel, return raw samples when fewer than ~3 datapoints
    * land per pixel and the min/max-downsampled stream otherwise —
    * [[shouldResample]]'s ratio test driven from the rate catalog
    * (reference: query/BaseTimeSeriesQuery.scala:58-96 chooses the
    * branch per request via TimeSeriesQueryUtils.shouldResample).
    *
    * `rates` is a (channel, rate) catalog — channel-catalog scale,
    * broadcast; a channel missing from it fails loudly (raise_error)
    * rather than silently vanishing. Output rows share one schema:
    * (channel, mode, t, vmin, vmax, n) where raw rows carry
    * t = sample time, vmin = vmax = v, n = 1 and resampled rows carry
    * t = bucket start, the bucket min/max, and the bucket count. Both
    * branches scan with the channel decision pushed as a join against
    * the broadcast catalog; the resample branch is the usual one-
    * shuffle partial aggregation on (channel, bucket).
    */
  def autoResample(ts: DataFrame, rates: DataFrame, pixelUs: Long): DataFrame = {
    val tagged = withRateCatalog(ts, rates, "autoResample")
      .select(
        col("channel"),
        col("t"),
        col("v"),
        (col("rate") * lit(pixelUs.toDouble) / lit(1e6) > lit(3.0)).as("__rs")
      )
    val raw = tagged
      .filter(!col("__rs"))
      .select(
        col("channel"),
        lit("raw").as("mode"),
        col("t"),
        col("v").as("vmin"),
        col("v").as("vmax"),
        lit(1L).as("n")
      )
    val resampled = tagged
      .filter(col("__rs"))
      .groupBy(col("channel"), microsBucket(col("t"), pixelUs).as("bucket"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"), count(lit(1)).as("n"))
      .select(
        col("channel"),
        lit("resampled").as("mode"),
        (col("bucket") * pixelUs).as("t"),
        col("vmin"),
        col("vmax"),
        col("n")
      )
    raw.unionByName(resampled)
  }

  /** Retrieval cap: refuse queries whose expected sample count exceeds
    * the limit (reference: query/TimeSeriesQueryUtils.scala:362-369).
    */
  def overLimit(startUs: Long, endUs: Long, rate: Double, limit: Long): Either[String, Unit] = {
    val samples = ((endUs - startUs) / 1e6) * rate
    if (samples <= limit) Right(()) else Left(s"exceeded retrieval limit of $limit")
  }

  /** Spike waveform snippets: group each channel's ordered samples into
    * waveforms of `spikeDataPointCount` and resample each to
    * `chunkCount` (min,max) pairs with the reference's balanced-cut
    * semantics (reference: query/WsClient.scala:85-97 — grouped +
    * resample). Emits one row per chunk. Waveforms shuffle by
    * (channel, waveform id), so arbitrarily many resample in parallel.
    */
  def spikeWaveforms(
    spark: SparkSession,
    tsIn: DataFrame,
    spikeDataPointCount: Int,
    chunkCount: Int,
    stitchBucketUs: Long = StitchBucketUs
  ): DataFrame = {
    import spark.implicits._
    val ts = withTieBreak(tsIn).select(col("channel"), col("t"), col("v"), col("event_id"))
    withStitchedRunningSums(ts, Nil, stitchBucketUs, Seq(col("t"), col("event_id")))
      .select(
        col("channel"),
        col("t"),
        col("v"),
        col("event_id"),
        expr(s"(__rn - 1) div $spikeDataPointCount").as("wf")
      )
      .as[(String, Long, Double, Long, Long)]
      .groupByKey { case (ch, _, _, _, wf) => (ch, wf) }
      .flatMapSortedGroups($"t", $"event_id") { case ((ch, wf), rows) =>
        val data = rows.map(_._3).toVector
        graft.streaming.RealtimeResample
          .resample(data, chunkCount)
          .iterator
          .zipWithIndex
          .map { case ((mn, mx), i) => (ch, wf, i.toLong, mn, mx) }
      }
      .toDF("channel", "wf", "chunk", "wmin", "wmax")
  }

  /** Rising threshold crossings per channel: v > thresh and previous
    * v <= thresh (unit-channel spike analog). The previous value comes
    * from the two-phase stitched lag — no per-channel sort.
    */
  def spikes(tsIn: DataFrame, thresh: Double, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val ts = withTieBreak(tsIn).select(col("channel"), col("t"), col("v"), col("event_id"))
    withStitchedPrev(ts, Seq("v"), stitchBucketUs, Seq("event_id"))
      .filter(col("v") > thresh && col("__prev_v") <= thresh)
      .select(col("channel"), col("t"), col("v"))
  }

  /** Local-maximum peak detection: samples STRICTLY above their
    * predecessor and at-or-above their successor (so a flat plateau
    * marks exactly its first sample), above a floor `minHeight` — the
    * neighbor-comparison complement of [[spikes]]' rising threshold
    * crossings (a peak is where the signal turns, a spike-crossing is
    * where it enters the band). Emits the turn magnitude on each side
    * (`rise` from the predecessor, `drop` to the successor).
    *
    * Scale shape: a ±1-row frame is a bounded neighborhood, so the
    * lag/lead pair evaluates over [[withBlockHalo]]'s halo-replicated
    * row blocks (halo 1) — no channel-alone window over the data.
    * Portability: edge rows without both neighbors fail the null
    * comparisons in both engines; rise/drop are exact double
    * differences, no rounding needed.
    */
  def peaks(
    tsIn: DataFrame,
    minHeight: Double,
    stitchBucketUs: Long = StitchBucketUs
  ): DataFrame = {
    val padded = withBlockHalo(
      withTieBreak(tsIn).select(col("channel"), col("t"), col("v"), col("event_id")),
      halo = 1,
      stitchBucketUs,
      Seq("event_id")
    )
    val w = Window.partitionBy(col("channel"), col("__tgt")).orderBy(col("__rn"))
    padded
      .withColumn("__pv", lag(col("v"), 1).over(w))
      .withColumn("__nv", lead(col("v"), 1).over(w))
      .filter(col("__tgt") === col("__blk")) // core rows, after both frames
      .filter(col("__pv") < col("v") && col("__nv") <= col("v") && col("v") > minHeight)
      .select(
        col("channel"),
        col("t"),
        col("v"),
        (col("v") - col("__pv")).as("rise"),
        (col("v") - col("__nv")).as("drop")
      )
  }

  /** Distributed as-of join: for every left row, the latest right value
    * with r.t <= l.t. No global sort: both sides are bucketed by coarse
    * time bucket; a within-bucket window fills the running value, and
    * rows before their bucket's first right row fall back to a carry
    * value computed on the tiny per-bucket summary (max #buckets rows)
    * and joined back via broadcast.
    *
    * `right` must be one row per t with column (t, rv); `left` keeps its
    * columns.
    */
  def asofJoin(left: DataFrame, right: DataFrame, bucketUs: Long): DataFrame = {
    val lCols = left.columns
    val lb = left.withColumn("__bucket", microsBucket(col("t"), bucketUs)).withColumn("__src", lit(1))
    val rb = right
      .select(col("t"), col("rv"))
      .withColumn("__bucket", microsBucket(col("t"), bucketUs))
      .withColumn("__src", lit(0))

    val unioned = lb
      .select(
        col("__bucket") +: col("__src") +: col("t") +:
          lit(null).cast("double").as("rv") +:
          lCols.filterNot(_ == "t").map(c => col(c).as(c)): _*
      )
      .unionByName(
        rb.select(
          col("__bucket") +: col("__src") +: col("t") +: col("rv") +:
            lCols.filterNot(_ == "t").map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*
        )
      )

    val inBucket = Window
      .partitionBy(col("__bucket"))
      .orderBy(col("t"), col("__src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__rv_bucket", last(col("rv"), ignoreNulls = true).over(inBucket))

    // Per-bucket last right value, extended to every bucket either side
    // touches, then carry = last right value of any strictly-preceding
    // bucket. The summary has one row per bucket — orders of magnitude
    // smaller than the data — so the unpartitioned window is safe, and
    // the result broadcasts back into the bucket-partitioned stream.
    val perBucket = rb.groupBy(col("__bucket")).agg(max_by(col("rv"), col("t")).as("last_rv"))
    val allBuckets = lb
      .select(col("__bucket"))
      .union(rb.select(col("__bucket")))
      .distinct()
    val byBucket = Window.orderBy(col("__bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val carry = broadcast(
      allBuckets
        .join(perBucket, Seq("__bucket"), "left")
        .withColumn("__carry", last(col("last_rv"), ignoreNulls = true).over(byBucket))
        .select(col("__bucket"), col("__carry"))
    )

    filled
      .filter(col("__src") === 1)
      .join(carry, Seq("__bucket"), "left")
      .select(
        (lCols.map(c => col(c)) :+ coalesce(col("__rv_bucket"), col("__carry")).as("rv")): _*
      )
  }

  /** Per-channel stream statistics (count/avg/stddev/rms/min/max/rate).
    * avg/std/rms are computed from exact decimal sums (S1, S2) so the
    * results are independent of partial-aggregation order — the same
    * closed forms the oracle uses.
    */
  def channelStats(ts: DataFrame): DataFrame = {
    val n = count(lit(1))
    val s1 = detSum(col("v"))
    val s2 = detSum(col("v") * col("v"))
    ts.groupBy(col("channel"))
      .agg(
        n.as("n"),
        round(s1 / n, 6).as("vavg"),
        round(
          when(n > 1, sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), lit(0.0)))),
          6
        ).as("vstd"),
        round(sqrt(s2 / n), 6).as("vrms"),
        min(col("v")).as("vmin"),
        max(col("v")).as("vmax"),
        min(col("t")).as("t0"),
        max(col("t")).as("t1")
      )
  }

  /** Channel catalog (VirtualChannelInfo analog): start/end/counts. */
  def channelCatalog(ts: DataFrame): DataFrame =
    ts.groupBy(col("channel"))
      .agg(
        min(col("t")).as("start"),
        max(col("t")).as("end"),
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users")
      )

  /** Merge overlapping/abutting annotation spans (timespan write path):
    * island detection — a span starts a new island iff its start
    * exceeds the running max end of every preceding span (ordered by
    * (s, e) per channel). Spans here are derived from events:
    * [t, t + value minutes].
    *
    * Scale shape: the span stream can be event-derived (data-scale),
    * so the classic channel-alone cumulative-max window is banned —
    * both running quantities are stitched TWO-PHASE instead. The max
    * is associative, so prev-max(e) = max(bucket-local prev-max,
    * max over all strictly preceding buckets), the latter carried on
    * the per-(channel, bucket) summary relation (one row per
    * non-empty bucket) and broadcast back; the island id is the
    * running count of new-island flags, stitched the same way. `s`
    * buckets monotonically, so (bucket, s, e) order ≡ (s, e) order
    * and the stitched results are identical to the global window's.
    */
  def mergeAnnotationSpans(spans: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val bkted = spans.withColumn("__bkt", microsBucket(col("s"), stitchBucketUs))
    val wLocPrev = Window
      .partitionBy(col("channel"), col("__bkt"))
      .orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // phase 1: per-bucket max(e) summary; strictly-preceding-bucket
    // prefix max carried per channel over the tiny summary relation
    // (aliased directly on the window expression so the __pb_ marker
    // lands on the Window node — PlanSpec keys off it)
    val emax = bkted
      .groupBy(col("channel"), col("__bkt"))
      .agg(max(col("e")).as("__be"))
      .select(col("channel"), col("__bkt"), max(col("__be")).over(wPrecedingBuckets).as("__pb_emaxprefix"))
    // greatest() skips nulls: null iff first row of the first bucket
    val prevMaxEnd = greatest(max(col("e")).over(wLocPrev), col("__pb_emaxprefix"))
    val flagged = bkted
      .join(broadcast(emax), Seq("channel", "__bkt"))
      .withColumn("new_island", when(prevMaxEnd.isNull || col("s") > prevMaxEnd, 1L).otherwise(0L))
      .drop("__pb_emaxprefix")
    // phase 2: island id = stitched running sum of the flags
    withStitchedRunningSums(
      flagged,
      Seq("island" -> col("new_island")),
      stitchBucketUs,
      Seq(col("s"), col("e"))
    )
      .groupBy(col("channel"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"), count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------------
  // Fixed queries for the driver gate (SparkEntry), with oracle SQL
  // ---------------------------------------------------------------------

  def tsRange(spark: SparkSession, dir: String): DataFrame =
    rangeQuery(Tables.ts(spark, dir), Seq("click", "error"), RangeStartUs, RangeEndUs)
      .select(col("channel"), col("t"), col("v"), col("event_id"))
      .orderBy(col("channel"), col("t"), col("event_id"))

  val tsRangeSql: String =
    s"""SELECT event_type AS channel, epoch_us(ts) AS t, value AS v, event_id
       |FROM events
       |WHERE event_type IN ('click','error')
       |  AND epoch_us(ts) >= $RangeStartUs AND epoch_us(ts) < $RangeEndUs
       |ORDER BY channel, t, event_id""".stripMargin

  def tsDownsample(spark: SparkSession, dir: String): DataFrame =
    downsample(Tables.ts(spark, dir), BucketUs)
      .orderBy(col("channel"), col("bucket"))

  val tsDownsampleSql: String =
    s"""SELECT event_type AS channel,
       |  CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |  CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) * $BucketUs AS bucket_start,
       |  MIN(value) AS vmin, MAX(value) AS vmax, COUNT(*) AS n,
       |  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS vavg
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY channel, bucket""".stripMargin

  /** The downsample with the reference's fillGaps continuity pass. */
  def tsFillgaps(spark: SparkSession, dir: String): DataFrame =
    fillGaps(downsample(Tables.ts(spark, dir), BucketUs))
      .select(
        col("channel"),
        col("bucket"),
        col("bucket_start"),
        col("vmin"),
        col("vmax"),
        col("n")
      )
      .orderBy(col("channel"), col("bucket"))

  /** Per-channel stats routed through [[Skew.saltedAgg]] — the hot-key
    * aggregation remedy as a driver query on a NATURALLY skewed
    * grouping: `channel` has single-digit cardinality over the whole
    * events table, so a plain groupBy(channel) hands each reducer a
    * whole channel's history. The salted two-phase agg bounds any one
    * reducer to ~1/salt of a hot key's rows; DECIMAL partial sums make
    * the combined result EXACTLY the single-phase answer, so the
    * oracle is the plain GROUP BY — salting must be invisible in the
    * values.
    */
  def tsSkewStats(spark: SparkSession, dir: String): DataFrame = {
    val stats = Skew.saltedAgg(
      Tables.ts(spark, dir).select(col("channel"), col("v")),
      "channel",
      salt = 8,
      partials = Seq(
        count(lit(1)).as("__n"),
        sum(col("v").cast(dec2710)).as("__s"),
        min(col("v")).as("__mn"),
        max(col("v")).as("__mx")
      ),
      combine = Seq(
        sum(col("__n")).as("n"),
        sum(col("__s")).as("__sv"),
        min(col("__mn")).as("vmin"),
        max(col("__mx")).as("vmax")
      )
    )
    stats
      .select(
        col("channel"),
        col("n"),
        round(col("__sv").cast("double") / col("n"), 6).as("vavg"),
        col("vmin"),
        col("vmax")
      )
      .orderBy(col("channel"))
  }

  val tsSkewStatsSql: String =
    """SELECT event_type AS channel, COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS vavg,
      |  MIN(value) AS vmin, MAX(value) AS vmax
      |FROM events
      |GROUP BY 1
      |ORDER BY channel""".stripMargin

  val tsFillgapsSql: String =
    s"""WITH d AS (
       |  SELECT event_type AS channel,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |    MIN(value) AS vmin, MAX(value) AS vmax, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |x AS (
       |  SELECT channel, bucket, vmin, vmax, n,
       |    LEAD(vmin) OVER (PARTITION BY channel ORDER BY bucket) AS nmin,
       |    LEAD(vmax) OVER (PARTITION BY channel ORDER BY bucket) AS nmax
       |  FROM d)
       |SELECT channel, bucket, bucket * $BucketUs AS bucket_start,
       |  CASE WHEN nmax IS NOT NULL AND vmin > nmax THEN nmax ELSE vmin END AS vmin,
       |  CASE WHEN nmin IS NOT NULL AND vmax < nmin THEN nmin ELSE vmax END AS vmax,
       |  n
       |FROM x
       |ORDER BY channel, bucket""".stripMargin

  def tsPyramid(spark: SparkSession, dir: String): DataFrame =
    pyramid(Tables.ts(spark, dir), BucketUs, PyramidLevels)
      .orderBy(col("level"), col("channel"), col("bin"))

  /** Oracle: each level aggregated directly from events at its own bin
    * width — the rollup-from-previous-level plan must equal the
    * direct-per-level definition exactly (min/max/count are trivially
    * re-aggregable; the average stays exact because both engines sum
    * through DECIMAL before the single double division).
    */
  val tsPyramidSql: String = {
    val levels = (0 to PyramidLevels).map { l =>
      val width = BucketUs * (1L << l)
      s"""  SELECT CAST($l AS INT) AS level, event_type AS channel,
         |    CAST(FLOOR(epoch_us(ts) / $width) AS BIGINT) AS bin,
         |    CAST(FLOOR(epoch_us(ts) / $width) AS BIGINT) * $width AS bin_start,
         |    MIN(value) AS vmin, MAX(value) AS vmax, COUNT(*) AS n,
         |    ROUND(CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS vavg
         |  FROM events GROUP BY 2, 3""".stripMargin
    }
    s"""SELECT * FROM (
       |${levels.mkString("\n  UNION ALL\n")}
       |) p
       |ORDER BY level, channel, bin""".stripMargin
  }

  def tsFir(spark: SparkSession, dir: String): DataFrame =
    firDecimate(Tables.ts(spark, dir))
      .orderBy(col("channel"), col("t"), col("event_id"))

  val tsFirSql: String =
    """SELECT channel, t, event_id, v,
      |  ROUND((l2 + 4.0 * l1 + 6.0 * v + 4.0 * u1 + u2) / 16.0, 6) AS v_filt
      |FROM (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, event_id, value AS v,
      |    LAG(value, 2) OVER w AS l2, LAG(value, 1) OVER w AS l1,
      |    LEAD(value, 1) OVER w AS u1, LEAD(value, 2) OVER w AS u2,
      |    ROW_NUMBER() OVER w AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)) s
      |WHERE l2 IS NOT NULL AND l1 IS NOT NULL AND u1 IS NOT NULL AND u2 IS NOT NULL
      |  AND (rn - 3) % 4 = 0
      |ORDER BY channel, t, event_id""".stripMargin

  def tsHampel(spark: SparkSession, dir: String): DataFrame =
    hampel(Tables.ts(spark, dir))

  /** Oracle: DuckDB evaluates MEDIAN and MAD directly as bounded-frame
    * window aggregates over the canonical per-channel window — the
    * single-window formulation the block-halo plan must equal
    * row-for-row. Full (2k+1)-row frames only, so both engines take
    * the middle element of an odd population (no interpolation).
    */
  val tsHampelSql: String =
    """SELECT channel, t, event_id, v, med AS v_med, mad_ AS v_mad
      |FROM (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, event_id, value AS v,
      |    MEDIAN(value) OVER w AS med,
      |    MAD(value) OVER w AS mad_,
      |    COUNT(*) OVER w AS n
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
      |               ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) s
      |WHERE n = 11 AND ABS(v - med) > 3.0 * (1.4826 * mad_)
      |ORDER BY channel, t, event_id""".stripMargin

  /** Level-shift (change-point) screen — flag samples where the mean
    * of the next `w` values steps away from the mean of the previous
    * `w` values by more than `nSigma` pooled standard deviations: the
    * two-sided sliding-window test behind sensor-drift and regime-
    * change detection (the local-JUMP detector; [[cusumScreen]] is the
    * integrated-DRIFT complement).
    *
    * Scale shape: the statistic is a pure function of a BOUNDED ±w
    * neighborhood, so the per-channel sort-window decomposes into
    * (channel, row-block)-local windows over a halo-replicated stream
    * (see the in-body comment) — w rows of halo per block edge, no
    * channel-alone window over the data anywhere. Both
    * window moments route through DECIMAL(27,10) frame sums — exact,
    * order-independent — and every derived double (mean, variance,
    * pooled sigma) is computed in one pinned expression order, so the
    * flag comparison `|shift| > nSigma·sigma` sees bit-identical
    * doubles in both engines. Edge rows without two full windows are
    * dropped. Portability: round-9 on sigma, round-6 on outputs.
    */
  def levelShifts(
    ts: DataFrame,
    w: Int = 30,
    nSigma: Double = 3.0,
    stitchBucketUs: Long = StitchBucketUs
  ): DataFrame = {
    val padded = withBlockHalo(
      withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id")),
      w,
      stitchBucketUs,
      Seq("event_id")
    )
    val win = Window.partitionBy(col("channel"), col("__tgt")).orderBy(col("__rn"))
    val winCum = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val winAll = Window.partitionBy(col("channel"), col("__tgt"))
    // the pre/post frame sums come from CUMULATIVE decimal sums
    // differenced with lag/lead instead of four sliding frames: Spark
    // re-evaluates a sliding frame per row (O(n·w) decimal adds), while
    // the cumulative frame is O(n) — and because the sums are exact
    // DECIMAL the prefix difference equals the direct frame sum bit
    // for bit (no float cancellation to worry about)
    val zeroDec = lit(java.math.BigDecimal.ZERO).cast(dec2710)
    val cs = sum(col("v").cast(dec2710)).over(winCum)
    val cs2 = sum((col("v") * col("v")).cast(dec2710)).over(winCum)
    def m(s: Column) = s.cast("double") / lit(w.toDouble)
    padded
      .withColumn("__i", row_number().over(win))
      .withColumn("__nrows", count(lit(1)).over(winAll))
      .withColumn("__cs", cs)
      .withColumn("__cs2", cs2)
      .withColumn("__spre", coalesce(lag(col("__cs"), 1).over(win), zeroDec) - coalesce(lag(col("__cs"), w + 1).over(win), zeroDec))
      .withColumn("__spost", lead(col("__cs"), w).over(win) - col("__cs"))
      .withColumn("__s2pre", coalesce(lag(col("__cs2"), 1).over(win), zeroDec) - coalesce(lag(col("__cs2"), w + 1).over(win), zeroDec))
      .withColumn("__s2post", lead(col("__cs2"), w).over(win) - col("__cs2"))
      .withColumn("__mpre", m(col("__spre")))
      .withColumn("__mpost", m(col("__spost")))
      .withColumn("__vpre", m(col("__s2pre")) - m(col("__spre")) * m(col("__spre")))
      .withColumn("__vpost", m(col("__s2post")) - m(col("__spost")) * m(col("__spost")))
      // core rows only — AFTER every frame evaluated over the halo —
      // then the same full-window gate as the global formulation
      // (__i > w ⟺ the pre frame is full; __i ≤ n−w ⟺ the post frame is)
      .filter(col("__tgt") === col("__blk"))
      .filter(col("__i") > w && col("__i") <= col("__nrows") - w)
      .withColumn(
        "__sigma",
        round(sqrt(greatest((col("__vpre") + col("__vpost")) / lit(2.0), lit(0.0))), 9)
      )
      .filter(abs(col("__mpost") - col("__mpre")) > lit(nSigma) * col("__sigma"))
      .select(
        col("channel"),
        col("t"),
        col("event_id"),
        col("v"),
        round(col("__mpre"), 6).as("mean_pre"),
        round(col("__mpost"), 6).as("mean_post"),
        round(
          (col("__mpost") - col("__mpre")) / nullif(col("__sigma"), lit(0.0)),
          6
        ).as("z")
      )
  }

  /** Driver instance runs the screen at nSigma = 0.8: the synthetic
    * events stream is stationary (max window-z ≈ 1.04 at sf0.01), so
    * the production default 3.0 returns zero rows and the oracle
    * compare would exercise nothing — the lowered gate keeps real
    * mean/sigma/z values flowing through the hash check.
    */
  def tsShift(spark: SparkSession, dir: String): DataFrame =
    levelShifts(Tables.ts(spark, dir), nSigma = 0.8)
      .orderBy(col("channel"), col("t"), col("event_id"))

  val tsShiftSql: String = {
    val w = 30
    s"""SELECT channel, t, event_id, v,
       |  ROUND(mpre, 6) AS mean_pre, ROUND(mpost, 6) AS mean_post,
       |  ROUND((mpost - mpre) / NULLIF(sigma, 0.0), 6) AS z
       |FROM (
       |  SELECT channel, t, event_id, v, mpre, mpost,
       |    ROUND(SQRT(GREATEST((vpre + vpost) / 2.0, 0.0)), 9) AS sigma
       |  FROM (
       |    SELECT event_type AS channel, epoch_us(ts) AS t, event_id, value AS v,
       |      COUNT(*) OVER wpre AS npre, COUNT(*) OVER wpost AS npost,
       |      CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER wpre AS DOUBLE) / $w.0 AS mpre,
       |      CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER wpost AS DOUBLE) / $w.0 AS mpost,
       |      CAST(SUM(CAST(value * value AS DECIMAL(27,10))) OVER wpre AS DOUBLE) / $w.0
       |        - (CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER wpre AS DOUBLE) / $w.0)
       |          * (CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER wpre AS DOUBLE) / $w.0) AS vpre,
       |      CAST(SUM(CAST(value * value AS DECIMAL(27,10))) OVER wpost AS DOUBLE) / $w.0
       |        - (CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER wpost AS DOUBLE) / $w.0)
       |          * (CAST(SUM(CAST(value AS DECIMAL(27,10))) OVER wpost AS DOUBLE) / $w.0) AS vpost
       |    FROM events
       |    WINDOW
       |      wpre AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
       |               ROWS BETWEEN $w PRECEDING AND 1 PRECEDING),
       |      wpost AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id
       |                ROWS BETWEEN 1 FOLLOWING AND $w FOLLOWING)) a
       |  WHERE npre = $w AND npost = $w) b
       |WHERE ABS(mpost - mpre) > 0.8 * sigma
       |ORDER BY channel, t, event_id""".stripMargin
  }

  def tsCusum(spark: SparkSession, dir: String): DataFrame =
    cusumScreen(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Oracle: the plain global windows (DuckDB sorts per channel; the
    * operator's stitched prefix sum is bit-identical by decimal
    * associativity), identical moment math, round-9 before max, min-t
    * tie-break.
    */
  val tsCusumSql: String =
    """WITH s AS (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, event_id, value AS v FROM events),
      |ps AS (
      |  SELECT channel, t,
      |    ROW_NUMBER() OVER w AS rn,
      |    SUM(CAST(v AS DECIMAL(27,10))) OVER w AS p
      |  FROM s
      |  WINDOW w AS (PARTITION BY channel ORDER BY t, event_id)),
      |st AS (
      |  SELECT channel, COUNT(*) AS n,
      |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mu,
      |    ROUND(SQRT(GREATEST(CAST(SUM(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*)
      |      - (CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*))
      |        * (CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*)), 0.0)), 9) AS sigma
      |  FROM s GROUP BY channel),
      |sc AS (
      |  SELECT ps.channel, ps.t,
      |    ROUND(ABS((CAST(p AS DOUBLE) - rn * mu) / NULLIF(sigma * SQRT(n), 0.0)), 9) AS a
      |  FROM ps JOIN st ON ps.channel = st.channel),
      |mx AS (SELECT channel, MAX(a) AS amax FROM sc GROUP BY channel),
      |sel AS (
      |  SELECT sc.channel, MIN(sc.t) AS t_at
      |  FROM sc JOIN mx ON sc.channel = mx.channel AND sc.a = mx.amax
      |  GROUP BY sc.channel)
      |SELECT st.channel, st.n, ROUND(st.mu, 6) AS mean, ROUND(st.sigma, 6) AS sigma,
      |  ROUND(mx.amax, 6) AS cusum, sel.t_at
      |FROM st JOIN mx ON st.channel = mx.channel LEFT JOIN sel ON st.channel = sel.channel
      |ORDER BY st.channel""".stripMargin

  def tsDowProfile(spark: SparkSession, dir: String): DataFrame =
    dowProfile(Tables.ts(spark, dir))
      .orderBy(col("channel"), col("dow"), col("hod"))

  val tsDowProfileSql: String =
    """SELECT event_type AS channel,
      |  CAST((FLOOR(epoch_us(ts) / 86400000000) + 4) % 7 AS BIGINT) AS dow,
      |  CAST(FLOOR(epoch_us(ts) / 3600000000) % 24 AS BIGINT) AS hod,
      |  COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS vavg
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY channel, dow, hod""".stripMargin

  def tsHjorth(spark: SparkSession, dir: String): DataFrame =
    hjorthParams(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsHjorthSql: String =
    """WITH s AS (
      |  SELECT event_type AS channel, value AS v,
      |    LAG(value, 1) OVER w AS p1, LAG(value, 2) OVER w AS p2
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
      |), m AS (
      |  SELECT channel, COUNT(*) AS n,
      |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
      |    COUNT(p1) AS nd,
      |    CAST(SUM(CAST(v - p1 AS DECIMAL(27,10))) AS DOUBLE) AS sd,
      |    CAST(SUM(CAST((v - p1) * (v - p1) AS DECIMAL(27,10))) AS DOUBLE) AS sdd,
      |    COUNT(p2) AS n2,
      |    CAST(SUM(CAST(v - 2.0 * p1 + p2 AS DECIMAL(27,10))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST((v - 2.0 * p1 + p2) * (v - 2.0 * p1 + p2) AS DECIMAL(27,10))) AS DOUBLE) AS s22
      |  FROM s GROUP BY channel
      |)
      |SELECT channel, n,
      |  ROUND(sxx / n - (sx / n) * (sx / n), 6) AS activity,
      |  ROUND(SQRT(GREATEST((sdd / nd - (sd / nd) * (sd / nd)) / (sxx / n - (sx / n) * (sx / n)), 0.0)), 6) AS mobility,
      |  ROUND(SQRT(GREATEST((s22 / n2 - (s2 / n2) * (s2 / n2)) / (sdd / nd - (sd / nd) * (sd / nd)), 0.0))
      |    / NULLIF(SQRT(GREATEST((sdd / nd - (sd / nd) * (sd / nd)) / (sxx / n - (sx / n) * (sx / n)), 0.0)), 0.0), 6) AS complexity
      |FROM m
      |ORDER BY channel""".stripMargin

  def tsLinelength(spark: SparkSession, dir: String): DataFrame =
    lineLength(Tables.ts(spark, dir)).orderBy(col("channel"), col("bin"))

  val tsLinelengthSql: String =
    s"""WITH s AS (
       |  SELECT event_type AS channel, value AS v,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bin,
       |    LAG(value, 1) OVER w AS p1, LAG(value, 2) OVER w AS p2
       |  FROM events
       |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
       |)
       |SELECT channel, bin, COUNT(*) AS n,
       |  ROUND(CAST(SUM(CASE WHEN p1 IS NOT NULL THEN CAST(ABS(v - p1) AS DECIMAL(27,10)) END) AS DOUBLE), 6) AS line_length,
       |  CAST(SUM(CASE WHEN p2 IS NOT NULL AND (v - p1) * (p1 - p2) < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS turning_points,
       |  ROUND(SQRT(CAST(SUM(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*)), 6) AS rms,
       |  bin * $BucketUs AS bin_start
       |FROM s
       |GROUP BY channel, bin
       |ORDER BY channel, bin""".stripMargin

  def tsResampleChunk(spark: SparkSession, dir: String): DataFrame =
    resampleChunks(Tables.ts(spark, dir), ChunkSize)
      .orderBy(col("channel"), col("chunk"))

  val tsResampleChunkSql: String =
    s"""SELECT channel, chunk, MIN(v) AS cmin, MAX(v) AS cmax, COUNT(*) AS n FROM (
       |  SELECT event_type AS channel, value AS v,
       |    CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) - 1) / $ChunkSize) AS BIGINT) AS chunk
       |  FROM events) t
       |GROUP BY channel, chunk
       |HAVING COUNT(*) = $ChunkSize
       |ORDER BY channel, chunk""".stripMargin

  def tsGaps(spark: SparkSession, dir: String): DataFrame =
    contiguousSpans(Tables.ts(spark, dir), GapUs)
      .orderBy(col("channel"), col("span_id"))

  val tsGapsSql: String =
    s"""SELECT channel, span_id, MIN(t) AS span_start, MAX(t) AS span_end, COUNT(*) AS n FROM (
       |  SELECT channel, t,
       |    CAST(SUM(brk) OVER (PARTITION BY channel ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_id
       |  FROM (
       |    SELECT event_type AS channel, epoch_us(ts) AS t,
       |      CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)) >= $GapUs
       |           THEN 1 ELSE 0 END AS brk
       |    FROM events) a) b
       |GROUP BY channel, span_id
       |ORDER BY channel, span_id""".stripMargin

  val MontagePairs: Seq[(String, String)] =
    Seq(("click", "view"), ("error", "purchase"), ("signup", "click"))

  def tsMontage(spark: SparkSession, dir: String): DataFrame =
    montage(spark, Tables.ts(spark, dir), MontagePairs, BucketUs)
      .orderBy(col("channel"), col("bucket"))

  /** Montage-name front door: a user's request arrives as VIRTUAL
    * channel NAMES ("Fp1<->F7" / plain "Cz"), not pair tables — this is
    * the reference's buildMontage dispatch (server/Montage.scala:127-217)
    * as one relational answer. Each name parses via
    * [[Montages.montagePair]]: a `lead<->secondary` name dispatches to
    * the montaged subtraction serve, a bare name to the raw-channel
    * serve, and an unparseable name (two separators) is surfaced as an
    * `invalid_name` ROW — as is a name referencing a channel absent
    * from the catalog (`missing_channel`, the reference's
    * PackageMissingChannels error) — instead of failing the request.
    * Valid names carry their served stream summarized to request grain
    * (bucket count, bucket range, DECIMAL-routed value sum).
    *
    * Scale shape: the request is a k-row literal; the data-grain work
    * is exactly the montage/raw bucket aggregation (one
    * (channel, bucket)-keyed partial agg), the catalog is a
    * channel-cardinality distinct, and every join above the stream is
    * against a broadcast request/summary relation.
    */
  def namedMontageServe(
    spark: SparkSession,
    ts: DataFrame,
    names: Seq[String],
    bucketUs: Long
  ): DataFrame = {
    import spark.implicits._
    val parsed = names.map { n =>
      Montages.montagePair(n) match {
        case Left(_) => (n, null: String, null: String, false)
        case Right((l, s)) => (n, l, s.orNull, true)
      }
    }
    val req = parsed.toDF("req_name", "lead", "sec", "parse_ok")
    val cat = ts.select(col("channel")).distinct()
    val st = req
      .join(broadcast(cat.select(col("channel").as("lead"), lit(true).as("__lok"))), Seq("lead"), "left")
      .join(broadcast(cat.select(col("channel").as("sec"), lit(true).as("__sok"))), Seq("sec"), "left")
      .select(
        col("req_name"),
        when(!col("parse_ok"), lit(null).cast("string"))
          .when(col("sec").isNotNull, lit("montaged"))
          .otherwise(lit("raw"))
          .as("kind"),
        nullif(
          concat_ws(
            ",",
            when(col("parse_ok") && col("__lok").isNull, col("lead")),
            when(col("parse_ok") && col("sec").isNotNull && col("__sok").isNull, col("sec"))
          ),
          lit("")
        ).as("missing")
      )
    val montPairs = parsed.collect { case (_, l, s, true) if s != null => (l, s) }
    val rawChans = parsed.collect { case (_, l, s, true) if s == null => l }
    // a pair touching an absent channel simply serves no rows (the
    // isin filter never matches), so its request row reports
    // missing_channel with NULL stats — no data-dependent driver logic
    val mont = montage(spark, ts, montPairs, bucketUs)
    val raw = ts
      .filter(col("channel").isin(rawChans: _*))
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(detAvg(col("v")).as("av"))
      .select(col("channel"), col("bucket"), round(col("av"), 6).as("v"))
    val summ = mont
      .unionByName(raw)
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_buckets"),
        min(col("bucket")).as("bucket_lo"),
        max(col("bucket")).as("bucket_hi"),
        round(sum(col("v").cast(dec2710)).cast("double"), 6).as("v_sum")
      )
      .withColumnRenamed("channel", "req_name")
    st.join(broadcast(summ), Seq("req_name"), "left")
      .select(
        col("req_name"),
        when(col("kind").isNull, lit("invalid_name"))
          .when(col("missing").isNotNull, lit("missing_channel"))
          .otherwise(lit("ok"))
          .as("status"),
        col("kind"),
        col("missing"),
        col("n_buckets"),
        col("bucket_lo"),
        col("bucket_hi"),
        col("v_sum")
      )
  }

  /** Fixed name-request mirroring a real stream request: two valid
    * montaged names, one valid raw name, one pair with an absent
    * secondary, one unparseable name, one absent raw channel.
    */
  val NamedMontageRequest: Seq[String] =
    Seq("a<->b<->c", "click<->ghost", "click<->view", "ghost", "signup<->click", "view")

  def tsMontageNamed(spark: SparkSession, dir: String): DataFrame =
    namedMontageServe(spark, Tables.ts(spark, dir), NamedMontageRequest, BucketUs)
      .orderBy(col("req_name"))

  /** Oracle: the same parse results inlined as a VALUES request (the
    * parse of a literal name list is itself literal), the shared
    * bucket-average relation serving both dispatch arms, identical
    * status algebra.
    */
  val tsMontageNamedSql: String =
    s"""WITH req(req_name, lead, sec, parse_ok) AS (VALUES
       |  ('a<->b<->c', NULL, NULL, FALSE),
       |  ('click<->ghost', 'click', 'ghost', TRUE),
       |  ('click<->view', 'click', 'view', TRUE),
       |  ('ghost', 'ghost', NULL, TRUE),
       |  ('signup<->click', 'signup', 'click', TRUE),
       |  ('view', 'view', NULL, TRUE)),
       |cat AS (SELECT DISTINCT event_type AS channel FROM events),
       |b AS (
       |  SELECT event_type AS ch, CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS av
       |  FROM events GROUP BY 1, 2),
       |mont AS (
       |  SELECT r.req_name, l.bucket, ROUND(l.av - s.av, 6) AS v
       |  FROM req r
       |  JOIN b l ON l.ch = r.lead
       |  JOIN b s ON s.ch = r.sec AND s.bucket = l.bucket
       |  WHERE r.parse_ok AND r.sec IS NOT NULL),
       |raw AS (
       |  SELECT r.req_name, b.bucket, ROUND(b.av, 6) AS v
       |  FROM req r JOIN b ON b.ch = r.lead
       |  WHERE r.parse_ok AND r.sec IS NULL),
       |served AS (SELECT * FROM mont UNION ALL SELECT * FROM raw),
       |summ AS (
       |  SELECT req_name, COUNT(*) AS n_buckets, MIN(bucket) AS bucket_lo,
       |    MAX(bucket) AS bucket_hi,
       |    ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE), 6) AS v_sum
       |  FROM served GROUP BY 1),
       |st AS (
       |  SELECT r.req_name,
       |    CASE WHEN NOT r.parse_ok THEN NULL
       |         WHEN r.sec IS NOT NULL THEN 'montaged' ELSE 'raw' END AS kind,
       |    NULLIF(CONCAT_WS(',',
       |      CASE WHEN r.parse_ok AND cl.channel IS NULL THEN r.lead END,
       |      CASE WHEN r.parse_ok AND r.sec IS NOT NULL AND cs.channel IS NULL THEN r.sec END), '') AS missing
       |  FROM req r
       |  LEFT JOIN cat cl ON cl.channel = r.lead
       |  LEFT JOIN cat cs ON cs.channel = r.sec)
       |SELECT st.req_name,
       |  CASE WHEN st.kind IS NULL THEN 'invalid_name'
       |       WHEN st.missing IS NOT NULL THEN 'missing_channel'
       |       ELSE 'ok' END AS status,
       |  st.kind, st.missing, summ.n_buckets, summ.bucket_lo, summ.bucket_hi, summ.v_sum
       |FROM st LEFT JOIN summ ON summ.req_name = st.req_name
       |ORDER BY st.req_name""".stripMargin

  val tsMontageSql: String =
    s"""WITH b AS (
       |  SELECT event_type AS ch, CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS av
       |  FROM events GROUP BY 1, 2),
       |p(lead, sec) AS (VALUES ('click','view'), ('error','purchase'), ('signup','click'))
       |SELECT p.lead || '<->' || p.sec AS channel, l.bucket AS bucket, ROUND(l.av - r.av, 6) AS v
       |FROM p
       |JOIN b l ON l.ch = p.lead
       |JOIN b r ON r.ch = p.sec AND r.bucket = l.bucket
       |ORDER BY channel, bucket""".stripMargin

  /** Fixed aligned-montage query: irregular event timestamps never
    * collide exactly, so (as in practice with differing-rate channels)
    * each channel is first resampled onto a common grid (hour buckets,
    * deterministic average), then montaged sample-aligned on the grid
    * timestamps via the exact-t join.
    */
  def tsMontageAligned(spark: SparkSession, dir: String): DataFrame =
    montageAlignedGrid(spark, Tables.ts(spark, dir), MontagePairs, BucketUs)
      .orderBy(col("channel"), col("t"), col("v"))

  /** Grid resample + aligned montage as one reusable stage: each
    * channel averages onto the common `bucketUs` grid (deterministic
    * DECIMAL-routed average), then virtual channels form by the
    * sample-aligned subtraction — the front half of the reference's
    * montaged serving path, shared by the fixed aligned-montage query
    * and the composed hot-path chain.
    */
  def montageAlignedGrid(
    spark: SparkSession,
    ts: DataFrame,
    pairs: Seq[(String, String)],
    bucketUs: Long
  ): DataFrame = {
    val grid = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(detAvg(col("v")).as("v"))
      .select(col("channel"), (col("bucket") * bucketUs).as("t"), col("v"))
    montageAligned(spark, grid, pairs)
  }

  val tsMontageAlignedSql: String =
    s"""WITH g AS (
       |  SELECT event_type AS channel,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) * $BucketUs AS t,
       |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS v
       |  FROM events GROUP BY 1, 2),
       |p(lead, sec) AS (VALUES ('click','view'), ('error','purchase'), ('signup','click'))
       |SELECT p.lead || '<->' || p.sec AS channel, l.t AS t, ROUND(l.v - r.v, 6) AS v
       |FROM p
       |JOIN g l ON l.channel = p.lead
       |JOIN g r ON r.channel = p.sec AND r.t = l.t
       |ORDER BY channel, t, v""".stripMargin

  def tsEventBin(spark: SparkSession, dir: String): DataFrame =
    eventBins(Tables.ts(spark, dir), BucketUs)
      .orderBy(col("channel"), col("bucket"))

  val tsEventBinSql: String =
    s"""SELECT event_type AS channel,
       |  CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |  MIN(epoch_us(ts)) AS min_time, MAX(epoch_us(ts)) AS max_time,
       |  CAST(FLOOR((MIN(epoch_us(ts)) + MAX(epoch_us(ts))) / 2) AS BIGINT) AS avg_time,
       |  COUNT(*) AS n
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY channel, bucket""".stripMargin

  /** Fixed auto raw-vs-resample query: 2-hour pixels against rates
    * derived from the channel catalog itself (rate = (n−1)·10⁶/span —
    * pure double arithmetic, identical in both engines). At sf0.01 the
    * ratio clears 3 and every channel resamples; at sf0.001 all stay
    * raw — the oracle follows the same CASE either way, and the
    * mixed-rate path is pinned by TimeseriesSpec.
    */
  val AutoPixelUs = 7200000000L

  /** Rate catalog derived from the data itself: rate = (n−1)·10⁶/span.
    * Single-sample / zero-span channels get rate 0 (⇒ raw): the raw
    * formula would divide 0/0 into NULL/NaN, which raise_errors the
    * catalog guard on the Spark side and silently NULL-drops the
    * channel on the oracle side — an engine divergence on a legal
    * corpus.
    */
  def deriveRates(ts: DataFrame): DataFrame = {
    val n = count(lit(1))
    val span = (max(col("t")) - min(col("t"))).cast("double")
    ts.groupBy(col("channel"))
      .agg(
        when(n > 1 && span > 0, (n - 1).cast("double") * lit(1e6) / span)
          .otherwise(lit(0.0))
          .as("rate")
      )
  }

  def tsAuto(spark: SparkSession, dir: String): DataFrame = {
    val ts = Tables.ts(spark, dir)
    autoResample(ts, deriveRates(ts), AutoPixelUs)
      .orderBy(col("channel"), col("t"), col("vmin"), col("vmax"), col("n"))
  }

  val tsAutoSql: String =
    s"""WITH r AS (
       |  SELECT event_type AS channel,
       |    CASE WHEN COUNT(*) > 1 AND MAX(epoch_us(ts)) - MIN(epoch_us(ts)) > 0
       |         THEN (COUNT(*) - 1) * 1000000.0 / (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))
       |         ELSE 0.0 END AS rate
       |  FROM events GROUP BY 1),
       |d AS (SELECT channel, rate * ${AutoPixelUs}.0 / 1000000.0 > 3.0 AS rs FROM r)
       |SELECT e.event_type AS channel, 'raw' AS mode, epoch_us(e.ts) AS t,
       |  e.value AS vmin, e.value AS vmax, CAST(1 AS BIGINT) AS n
       |FROM events e JOIN d ON d.channel = e.event_type AND NOT d.rs
       |UNION ALL
       |SELECT e.event_type AS channel, 'resampled' AS mode,
       |  CAST(FLOOR(epoch_us(e.ts) / $AutoPixelUs) AS BIGINT) * $AutoPixelUs AS t,
       |  MIN(e.value) AS vmin, MAX(e.value) AS vmax, COUNT(*) AS n
       |FROM events e JOIN d ON d.channel = e.event_type AND d.rs
       |GROUP BY 1, 2, 3
       |ORDER BY channel, t, vmin, vmax, n""".stripMargin

  def tsSpikes(spark: SparkSession, dir: String): DataFrame =
    spikes(Tables.ts(spark, dir), SpikeThreshold)
      // order by every output column: equal-t rows with different v
      // would otherwise interleave engine-dependently
      .orderBy(col("channel"), col("t"), col("v"))

  val tsSpikesSql: String =
    s"""SELECT channel, t, v FROM (
       |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v,
       |    LAG(value) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS pv
       |  FROM events) a
       |WHERE v > $SpikeThreshold AND pv <= $SpikeThreshold
       |ORDER BY channel, t, v""".stripMargin

  def tsPeaks(spark: SparkSession, dir: String): DataFrame =
    peaks(Tables.ts(spark, dir), SpikeThreshold)
      .orderBy(col("channel"), col("t"), col("v"))

  /** Peak oracle: the same lag/lead pair over the per-channel
    * (t, event_id) order; null-neighbor edge rows drop in the WHERE in
    * both engines.
    */
  val tsPeaksSql: String =
    s"""SELECT channel, t, v, v - pv AS rise, v - nv AS drop FROM (
       |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v,
       |    LAG(value) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS pv,
       |    LEAD(value) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS nv
       |  FROM events) a
       |WHERE pv < v AND nv <= v AND v > $SpikeThreshold
       |ORDER BY channel, t, v""".stripMargin

  def tsAsof(spark: SparkSession, dir: String): DataFrame = {
    val ts = Tables.ts(spark, dir)
    val left = ts
      .filter(col("channel") === "click")
      .select(col("event_id"), col("t"), col("v"))
    val right = ts
      .filter(col("channel") === "error")
      .groupBy(col("t"))
      .agg(detAvg(col("v")).as("rv"))
    asofJoin(left, right, BucketUs)
      .select(col("event_id"), col("t"), col("v"), round(col("rv"), 6).as("last_error_v"))
      .orderBy(col("event_id"))
  }

  val tsAsofSql: String =
    """SELECT a.event_id, epoch_us(a.ts) AS t, a.value AS v, ROUND(b.rv, 6) AS last_error_v
      |FROM (SELECT * FROM events WHERE event_type = 'click') a
      |ASOF LEFT JOIN (
      |  SELECT epoch_us(ts) AS rt,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS rv
      |  FROM events WHERE event_type = 'error' GROUP BY 1) b
      |ON epoch_us(a.ts) >= b.rt
      |ORDER BY a.event_id""".stripMargin

  /** Fixed waveform query: 100-sample waveforms resampled to 10
    * (min,max) chunks (balanced-cut semantics; TimeseriesSpec also
    * verifies against the sequential reference kernel).
    */
  def tsWaveforms(spark: SparkSession, dir: String): DataFrame =
    spikeWaveforms(spark, Tables.ts(spark, dir), spikeDataPointCount = 100, chunkCount = 10)
      .orderBy(col("channel"), col("wf"), col("chunk"))

  /** Balanced-cut oracle. The boundary round(x·m/n) (Scala math.round =
    * floor(x+0.5) for positives) equals the pure-integer (x·m + n/2)//n,
    * so a 0-based position p lands in raw chunk c iff
    * (c·m+5)//10 <= p < ((c+1)·m+5)//10; empty chunks vanish and
    * surviving chunks re-index densely — exactly spikeWaveforms.
    */
  val tsWaveformsSql: String =
    """WITH base AS (
      |  SELECT event_type AS channel, value AS v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) - 1 AS rn
      |  FROM events),
      |wfed AS (
      |  SELECT channel, v, rn // 100 AS wf, rn % 100 AS p,
      |    COUNT(*) OVER (PARTITION BY channel, rn // 100) AS m
      |  FROM base),
      |chunked AS (
      |  SELECT w.channel, w.wf, cs.c AS c, w.v
      |  FROM wfed w JOIN (SELECT UNNEST(range(0, 10)) AS c) cs
      |    ON w.p >= (cs.c * w.m + 5) // 10 AND w.p < ((cs.c + 1) * w.m + 5) // 10),
      |aggd AS (
      |  SELECT channel, wf, c, MIN(v) AS wmin, MAX(v) AS wmax
      |  FROM chunked GROUP BY channel, wf, c)
      |SELECT channel, wf,
      |  DENSE_RANK() OVER (PARTITION BY channel, wf ORDER BY c) - 1 AS chunk, wmin, wmax
      |FROM aggd
      |ORDER BY channel, wf, chunk""".stripMargin

  /** Event-locked template (the ERP / spike-triggered average): align
    * every waveform on its chunk index and average the per-chunk
    * (min, max) envelope across all waveforms of a channel — the
    * grand-average template clinicians read, where [[spikeWaveforms]]
    * returns each individual sweep.
    *
    * Scale shape: composes ON the waveform relation (already reduced
    * to chunkCount rows per waveform); the template agg groups by
    * (channel, chunk) — channels × chunkCount output rows — with
    * algebraic DECIMAL-moment sums, partial map-side. No window at
    * any scale.
    */
  def erpTemplate(waveforms: DataFrame): DataFrame =
    waveforms
      .groupBy(col("channel"), col("chunk"))
      .agg(
        count(lit(1)).as("n_wf"),
        round(detAvg(col("wmin")), 6).as("erp_min"),
        round(detAvg(col("wmax")), 6).as("erp_max"),
        round(detAvg((col("wmin") + col("wmax")) / lit(2.0)), 6).as("erp_mid")
      )

  def tsErp(spark: SparkSession, dir: String): DataFrame =
    erpTemplate(
      spikeWaveforms(spark, Tables.ts(spark, dir), spikeDataPointCount = 100, chunkCount = 10)
    ).orderBy(col("channel"), col("chunk"))

  /** ERP oracle: the waveform balanced-cut CTEs verbatim, then the
    * identical DECIMAL-moment averages at (channel, chunk) grain.
    */
  val tsErpSql: String =
    """WITH base AS (
      |  SELECT event_type AS channel, value AS v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) - 1 AS rn
      |  FROM events),
      |wfed AS (
      |  SELECT channel, v, rn // 100 AS wf, rn % 100 AS p,
      |    COUNT(*) OVER (PARTITION BY channel, rn // 100) AS m
      |  FROM base),
      |chunked AS (
      |  SELECT w.channel, w.wf, cs.c AS c, w.v
      |  FROM wfed w JOIN (SELECT UNNEST(range(0, 10)) AS c) cs
      |    ON w.p >= (cs.c * w.m + 5) // 10 AND w.p < ((cs.c + 1) * w.m + 5) // 10),
      |aggd AS (
      |  SELECT channel, wf, c, MIN(v) AS wmin, MAX(v) AS wmax
      |  FROM chunked GROUP BY channel, wf, c),
      |ranked AS (
      |  SELECT channel, wf,
      |    DENSE_RANK() OVER (PARTITION BY channel, wf ORDER BY c) - 1 AS chunk, wmin, wmax
      |  FROM aggd)
      |SELECT channel, chunk, COUNT(*) AS n_wf,
      |  ROUND(CAST(SUM(CAST(wmin AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS erp_min,
      |  ROUND(CAST(SUM(CAST(wmax AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS erp_max,
      |  ROUND(CAST(SUM(CAST((wmin + wmax) / 2.0 AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS erp_mid
      |FROM ranked
      |GROUP BY channel, chunk
      |ORDER BY channel, chunk""".stripMargin

  def tsStats(spark: SparkSession, dir: String): DataFrame =
    channelStats(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsStatsSql: String =
    """WITH s AS (
      |  SELECT event_type AS channel, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(value * value AS DECIMAL(27,10))) AS DOUBLE) AS s2,
      |    MIN(value) AS vmin, MAX(value) AS vmax,
      |    MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1
      |  FROM events
      |  GROUP BY 1)
      |SELECT channel, n,
      |  ROUND(s1 / n, 6) AS vavg,
      |  ROUND(CASE WHEN n > 1 THEN SQRT(GREATEST((s2 - s1 * s1 / n) / (n - 1), 0.0)) END, 6) AS vstd,
      |  ROUND(SQRT(s2 / n), 6) AS vrms,
      |  vmin, vmax, t0, t1
      |FROM s
      |ORDER BY channel""".stripMargin

  def tsHistogram(spark: SparkSession, dir: String): DataFrame =
    valueHistogram(Tables.ts(spark, dir)).orderBy(col("channel"), col("bin"))

  val tsHistogramSql: String =
    """SELECT event_type AS channel,
      |  CAST(FLOOR(value / 0.25) AS BIGINT) AS bin,
      |  CAST(FLOOR(value / 0.25) AS BIGINT) * CAST(0.25 AS DOUBLE) AS bin_lo,
      |  COUNT(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY channel, bin""".stripMargin

  def tsAcf(spark: SparkSession, dir: String): DataFrame =
    lagCorrelation(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Sequential-window oracle for the two-phase stitched pairing: the
    * same (t, v)-ordered lag and the same decimal-exact sums.
    */
  val tsAcfSql: String =
    """WITH p AS (
      |  SELECT event_type AS channel, value AS y,
      |    LAG(value) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), value) AS x
      |  FROM events),
      |s AS (
      |  SELECT channel, COUNT(*) AS n_pairs,
      |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(27,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(27,10))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(27,10))) AS DOUBLE) AS sxy
      |  FROM p WHERE x IS NOT NULL
      |  GROUP BY 1)
      |SELECT channel, n_pairs,
      |  ROUND((n_pairs * sxy - sx * sy) /
      |        SQRT((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)), 6) AS acf1
      |FROM s
      |ORDER BY channel""".stripMargin

  /** Ljung–Box portmanteau white-noise test per channel (Ljung & Box
    * 1978 Biometrika — "is anything left after my model/detrend?"):
    * Q = n(n+2) Σ_{k=1..6} ρ̂ₖ²/(n−k) over the hourly-mean grid, with
    * the χ²₆ 0.95 rejection bar (12.592). [[lagCorrelation]] reports
    * the lag-1 coefficient alone; this pools six lags into the one
    * number the Box–Jenkins residual check wants, and complements
    * [[runsTest]] (signs) with a magnitude-weighted test.
    *
    * Scale shape: raw samples collapse to the (channel, bucket) grid
    * in ONE partial agg; the channel mean broadcasts back as a k-row
    * relation; the six lag products come from six LEADs in a single
    * window pass over the REDUCED grid (the ts_rolling summary-grid
    * precedent — never the raw stream); one final channel-grain agg.
    * Portability: means/products route through DECIMAL in pinned
    * order, each ρ̂ₖ rounds at 9, Q is a literal-order six-term sum
    * rounded at 6. Channels need n > 6 grid buckets and a nonzero
    * denominator; others drop.
    */
  def ljungBox(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val grid = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
    val mu = grid
      .groupBy(col("channel"))
      .agg((sum(col("m").cast(dec2710)).cast("double") / count(lit(1))).as("__mu"))
    val w = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val led = (1 to 6)
      .foldLeft(grid.join(broadcast(mu), Seq("channel"))) { (d, k) =>
        d.withColumn(s"__l$k", lead(col("m"), k).over(w))
      }
    val aggExprs =
      count(lit(1)).as("n_buckets") +:
        sum(((col("m") - col("__mu")) * (col("m") - col("__mu"))).cast(dec3810))
          .cast("double").as("__den") +:
        (1 to 6).map { k =>
          sum(((col("m") - col("__mu")) * (col(s"__l$k") - col("__mu"))).cast(dec3810))
            .cast("double").as(s"__num$k")
        }
    val agged = led
      .groupBy(col("channel"))
      .agg(aggExprs.head, aggExprs.tail: _*)
      .filter(col("n_buckets") > 6 && col("__den") > 0.0)
    val withRho = (1 to 6).foldLeft(agged) { (d, k) =>
      d.withColumn(s"rho$k", round(col(s"__num$k") / col("__den"), 9))
    }
    val n = col("n_buckets").cast("double")
    val q = (1 to 6)
      .map(k => col(s"rho$k") * col(s"rho$k") / (n - k))
      .reduce(_ + _)
    withRho
      .select(
        col("channel") +: col("n_buckets") +:
          (1 to 6).map(k => col(s"rho$k")) :+
          round(n * (n + 2.0) * q, 6).as("q_stat"): _*
      )
      .withColumn("white_noise_rejected", col("q_stat") > 12.592)
  }

  def tsLjungbox(spark: SparkSession, dir: String): DataFrame =
    ljungBox(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Ljung–Box oracle: identical grid/mean/LEAD products, the same
    * round-9 ρ̂ₖ and literal-order Q sum.
    */
  val tsLjungboxSql: String = {
    val nums = (1 to 6)
      .map(k =>
        s"CAST(SUM(CAST((m - mu) * (l$k - mu) AS DECIMAL(38,10))) AS DOUBLE) AS num$k"
      )
      .mkString(",\n      |    ")
    val leads = (1 to 6)
      .map(k => s"LEAD(m, $k) OVER (PARTITION BY g.channel ORDER BY bucket) AS l$k")
      .mkString(",\n      |    ")
    val rhos = (1 to 6).map(k => s"ROUND(num$k / den, 9) AS rho$k").mkString(", ")
    val qTerms = (1 to 6)
      .map(k => s"rho$k * rho$k / (CAST(n_buckets AS DOUBLE) - $k)")
      .mkString(" + ")
    s"""WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |mu AS (
      |  SELECT channel, CAST(SUM(CAST(m AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mu
      |  FROM g GROUP BY 1),
      |led AS (
      |  SELECT g.channel, g.m, mu.mu,
      |    $leads
      |  FROM g JOIN mu ON mu.channel = g.channel),
      |s AS (
      |  SELECT channel, COUNT(*) AS n_buckets,
      |    CAST(SUM(CAST((m - mu) * (m - mu) AS DECIMAL(38,10))) AS DOUBLE) AS den,
      |    $nums
      |  FROM led GROUP BY 1),
      |r AS (
      |  SELECT channel, n_buckets, $rhos
      |  FROM s WHERE n_buckets > 6 AND den > 0.0),
      |f AS (
      |  SELECT channel, n_buckets, rho1, rho2, rho3, rho4, rho5, rho6,
      |    ROUND(CAST(n_buckets AS DOUBLE) * (CAST(n_buckets AS DOUBLE) + 2.0)
      |      * ($qTerms), 6) AS q_stat
      |  FROM r)
      |SELECT channel, n_buckets, rho1, rho2, rho3, rho4, rho5, rho6, q_stat,
      |  q_stat > 12.592 AS white_noise_rejected
      |FROM f
      |ORDER BY channel""".stripMargin
  }

  /** 30-minute user sessions over the event stream. */
  def tsSessions(spark: SparkSession, dir: String): DataFrame =
    sessionize(Tables.ts(spark, dir), gapUs = 1800000000L)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("t")).as("start"), max(col("t")).as("end"), count(lit(1)).as("n_events"))
      .withColumn("duration_us", col("end") - col("start"))
      .orderBy(col("user_id"), col("session_id"))

  /** Sequential-window oracle for the two-phase flag + prefix-sum. */
  val tsSessionsSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
      |f AS (
      |  SELECT user_id, t, event_id,
      |    CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
      |           OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) >= 1800000000
      |         THEN 1 ELSE 0 END AS flag
      |  FROM e),
      |s AS (
      |  SELECT user_id, t,
      |    CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY t, event_id
      |                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM f)
      |SELECT user_id, session_id, MIN(t) AS start, MAX(t) AS "end",
      |  COUNT(*) AS n_events, MAX(t) - MIN(t) AS duration_us
      |FROM s GROUP BY 1, 2
      |ORDER BY user_id, session_id""".stripMargin

  /** Daily-window band power at harmonics 1..4. */
  def tsBandpower(spark: SparkSession, dir: String): DataFrame =
    bandPower(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("channel"), col("win"), col("k"))

  val tsBandpowerSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |e AS (
      |  SELECT channel, win, v, frac, ks.k AS k
      |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
      |a AS (
      |  SELECT channel, win, k, COUNT(*) AS n,
      |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
      |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM e GROUP BY 1, 2, 3)
      |SELECT channel, win, k, n,
      |  ROUND((c / n) * (c / n) + (s / n) * (s / n), 6) AS power
      |FROM a
      |ORDER BY channel, win, k""".stripMargin

  /** Montage → band power composed — the clinical chain: virtual
    * (lead − secondary) channels first, spectral features second, so
    * the spectrum describes the DIFFERENTIAL signal the montage
    * isolates (common-mode trends cancel before any DFT sees them).
    * The montaged bucket index plays the sample clock: 24 hourly
    * buckets per window = a daily differential spectrum.
    *
    * Scale shape: the montage reduces the corpus to the pair-bucket
    * grid (broadcast pair table, bucket-keyed join); bandPower then
    * runs entirely ON that summary relation. Portability: montage
    * values are round-6 doubles, the bandPower discipline (trig on
    * identical rationals, DECIMAL term sums) carries unchanged.
    */
  def tsMontageBandpower(spark: SparkSession, dir: String): DataFrame =
    bandPower(
      montage(spark, Tables.ts(spark, dir), MontagePairs, BucketUs)
        .select(col("channel"), col("bucket").as("t"), col("v")),
      windowUs = 24L
    ).orderBy(col("channel"), col("win"), col("k"))

  val tsMontageBandpowerSql: String =
    s"""WITH b AS (
       |  SELECT event_type AS ch, CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS av
       |  FROM events GROUP BY 1, 2),
       |p(lead, sec) AS (VALUES ('click','view'), ('error','purchase'), ('signup','click')),
       |m AS (
       |  SELECT p.lead || '<->' || p.sec AS channel, l.bucket AS t, ROUND(l.av - r.av, 6) AS v
       |  FROM p
       |  JOIN b l ON l.ch = p.lead
       |  JOIN b r ON r.ch = p.sec AND r.bucket = l.bucket),
       |x AS (
       |  SELECT channel, t // 24 AS win, v,
       |    CAST(t % 24 AS DOUBLE) / 24.0 AS frac
       |  FROM m),
       |e AS (
       |  SELECT channel, win, v, frac, ks.k AS k
       |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
       |a AS (
       |  SELECT channel, win, k, COUNT(*) AS n,
       |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
       |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
       |  FROM e GROUP BY 1, 2, 3)
       |SELECT channel, win, k, n,
       |  ROUND((c / n) * (c / n) + (s / n) * (s / n), 6) AS power
       |FROM a
       |ORDER BY channel, win, k""".stripMargin

  /** Welch-averaged power spectral density per (channel, harmonic):
    * the mean and spread of the per-window band power across all
    * windows (Welch 1967 — averaging periodogram segments trades
    * frequency resolution for variance reduction; ts_coherence already
    * uses the same per-window components for the cross-channel
    * statistic, this is the single-channel PSD estimate itself).
    *
    * Scale shape: everything after bandPower's one sample-scale partial
    * agg runs on the (channels × windows × |ks|) summary relation; the
    * PSD rollup is a second algebraic DECIMAL-moment agg down to
    * channels × |ks| rows. No window function at any scale.
    */
  def welchPsd(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 4): DataFrame =
    bandPower(ts, windowUs, ks)
      .groupBy(col("channel"), col("k"))
      .agg(
        count(lit(1)).as("n_windows"),
        detSum(col("power")).as("__s1"),
        detSum(col("power") * col("power")).as("__s2")
      )
      .select(
        col("channel"),
        col("k"),
        col("n_windows"),
        round(col("__s1") / col("n_windows"), 6).as("psd_mean"),
        round(
          when(
            col("n_windows") > 1,
            sqrt(
              greatest(
                (col("__s2") - col("__s1") * col("__s1") / col("n_windows")) /
                  (col("n_windows") - lit(1L)),
                lit(0.0)
              )
            )
          ),
          6
        ).as("psd_std")
      )

  def tsWelch(spark: SparkSession, dir: String): DataFrame =
    welchPsd(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("channel"), col("k"))

  /** Oracle: the bandpower pipeline nested verbatim, then the identical
    * DECIMAL-moment rollup in the same pinned double order.
    */
  val tsWelchSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |e AS (
      |  SELECT channel, win, v, frac, ks.k AS k
      |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
      |a AS (
      |  SELECT channel, win, k, COUNT(*) AS n,
      |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
      |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM e GROUP BY 1, 2, 3),
      |pw AS (
      |  SELECT channel, win, k,
      |    ROUND((c / n) * (c / n) + (s / n) * (s / n), 6) AS power
      |  FROM a),
      |r AS (
      |  SELECT channel, k, COUNT(*) AS n_windows,
      |    CAST(SUM(CAST(power AS DECIMAL(27,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(power * power AS DECIMAL(27,10))) AS DOUBLE) AS s2
      |  FROM pw GROUP BY 1, 2)
      |SELECT channel, k, n_windows,
      |  ROUND(s1 / n_windows, 6) AS psd_mean,
      |  ROUND(CASE WHEN n_windows > 1
      |        THEN SQRT(GREATEST((s2 - s1 * s1 / n_windows) / (n_windows - 1), 0.0)) END, 6) AS psd_std
      |FROM r
      |ORDER BY channel, k""".stripMargin

  /** Spectral entropy + spectral flatness per channel over the
    * Welch-averaged harmonic powers — the two standard one-number
    * spectrum-shape summaries (Inouye et al. 1991 for EEG spectral
    * entropy; flatness = geometric/arithmetic mean, the "Wiener
    * entropy" tonality measure): entropy near ln(K) / flatness near 1
    * = white-ish spectrum, near 0 = concentrated at one harmonic.
    *
    * Scale shape: composes on the welchPsd summary (channels × |ks|
    * rows) — the per-channel total is a channel-grain agg BROADCAST
    * back, p/ln projections are map-side, and the final agg runs at
    * the same summary grain. The one sample-scale pass is bandPower's.
    * Portability: both transcendentals round to 9 before entering the
    * sums, terms sum through DECIMAL.
    */
  def spectralEntropy(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 4): DataFrame = {
    val psd = welchPsd(ts, windowUs, ks).select(col("channel"), col("k"), col("psd_mean"))
    val tot = psd.groupBy(col("channel")).agg(sum(col("psd_mean").cast(dec2710)).as("__tot"))
    psd
      .join(broadcast(tot), "channel")
      .withColumn(
        "__p",
        when(col("__tot").cast("double") > 0, col("psd_mean") / col("__tot").cast("double"))
      )
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_harmonics"),
        sum(
          when(col("__p") > 0, -col("__p") * round(log(col("__p")), 9)).otherwise(lit(0.0)).cast(dec2710)
        ).cast("double").as("__h"),
        sum(when(col("psd_mean") > 0, round(log(col("psd_mean")), 9)).cast(dec2710))
          .cast("double").as("__lsum"),
        count(when(col("psd_mean") > 0, lit(1))).as("__npos"),
        sum(col("psd_mean").cast(dec2710)).cast("double").as("__s")
      )
      .select(
        col("channel"),
        col("n_harmonics"),
        round(col("__h"), 6).as("entropy"),
        round(col("__h") / round(log(col("n_harmonics").cast("double")), 9), 6)
          .as("entropy_norm"),
        round(
          when(
            col("__npos") === col("n_harmonics"),
            exp(col("__lsum") / col("n_harmonics")) / (col("__s") / col("n_harmonics"))
          ).otherwise(lit(0.0)),
          6
        ).as("flatness")
      )
  }

  def tsSpectralEntropy(spark: SparkSession, dir: String): DataFrame =
    spectralEntropy(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("channel"))

  /** Oracle: the Welch pipeline nested verbatim, identical round-9
    * transcendentals, DECIMAL term sums, pinned flatness order.
    */
  val tsSpectralEntropySql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |e AS (
      |  SELECT channel, win, v, frac, ks.k AS k
      |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
      |a AS (
      |  SELECT channel, win, k, COUNT(*) AS n,
      |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
      |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM e GROUP BY 1, 2, 3),
      |pw AS (
      |  SELECT channel, win, k,
      |    ROUND((c / n) * (c / n) + (s / n) * (s / n), 6) AS power
      |  FROM a),
      |r AS (
      |  SELECT channel, k, COUNT(*) AS n_windows,
      |    CAST(SUM(CAST(power AS DECIMAL(27,10))) AS DOUBLE) AS s1
      |  FROM pw GROUP BY 1, 2),
      |psd AS (SELECT channel, k, ROUND(s1 / n_windows, 6) AS psd_mean FROM r),
      |tot AS (SELECT channel, SUM(CAST(psd_mean AS DECIMAL(27,10))) AS tot FROM psd GROUP BY 1),
      |p AS (
      |  SELECT psd.channel, psd.psd_mean,
      |    CASE WHEN CAST(tot.tot AS DOUBLE) > 0
      |         THEN psd.psd_mean / CAST(tot.tot AS DOUBLE) END AS pp
      |  FROM psd JOIN tot ON tot.channel = psd.channel),
      |agg AS (
      |  SELECT channel, COUNT(*) AS n_harmonics,
      |    CAST(SUM(CAST(CASE WHEN pp > 0 THEN -pp * ROUND(LN(pp), 9) ELSE 0.0 END AS DECIMAL(27,10))) AS DOUBLE) AS h,
      |    CAST(SUM(CAST(CASE WHEN psd_mean > 0 THEN ROUND(LN(psd_mean), 9) END AS DECIMAL(27,10))) AS DOUBLE) AS lsum,
      |    COUNT(CASE WHEN psd_mean > 0 THEN 1 END) AS npos,
      |    CAST(SUM(CAST(psd_mean AS DECIMAL(27,10))) AS DOUBLE) AS sm
      |  FROM p GROUP BY channel)
      |SELECT channel, n_harmonics,
      |  ROUND(h, 6) AS entropy,
      |  ROUND(h / ROUND(LN(CAST(n_harmonics AS DOUBLE)), 9), 6) AS entropy_norm,
      |  ROUND(CASE WHEN npos = n_harmonics
      |        THEN EXP(lsum / n_harmonics) / (sm / n_harmonics) ELSE 0.0 END, 6) AS flatness
      |FROM agg
      |ORDER BY channel""".stripMargin

  /** Aperiodic (1/f) spectral exponent per channel: OLS fit of
    * log-power on log-harmonic over the Welch-averaged spectrum —
    * psd ∝ 1/f^α ⇒ log psd = −α·log f + c, so the NEGATED slope is
    * the aperiodic exponent the FOOOF-style decompositions report
    * (Donoghue et al., Nature Neuroscience 2020): α ≈ 0 = white,
    * ≈ 2 = Brownian/integrated noise; EEG pipelines track α as an
    * arousal/pathology covariate and subtract the fit before calling
    * anything an oscillation. r² says how much of the spectrum the
    * aperiodic line explains (low r² = strong peaked rhythms).
    *
    * Scale shape: runs entirely ON the welchPsd summary relation
    * (channels × |ks| rows — the one sample-scale pass is bandPower's
    * partial agg); the fit is a channel-grain five-moment agg over
    * |ks| points. Portability: both logs round to 9 before the
    * DECIMAL-routed moment sums, slope/intercept/r² evaluate in one
    * pinned expression order, round 6; non-positive powers drop
    * before the log (both engines), channels left with < 2 points
    * drop entirely.
    */
  def psdSlope(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 4): DataFrame = {
    val psd = welchPsd(ts, windowUs, ks)
      .select(col("channel"), col("k"), col("psd_mean"))
      .filter(col("psd_mean") > 0)
    val x = round(log(col("k").cast("double")), 9)
    val y = round(log(col("psd_mean")), 9)
    val n = col("n_pts").cast("double")
    val sdn = n * col("sxy") - col("sx") * col("sy")
    val sdx = n * col("sxx") - col("sx") * col("sx")
    val sdy = n * col("syy") - col("sy") * col("sy")
    psd
      .select(col("channel"), x.as("__x"), y.as("__y"))
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_pts"),
        detSum(col("__x")).as("sx"),
        detSum(col("__y")).as("sy"),
        detSum(col("__x") * col("__x")).as("sxx"),
        detSum(col("__x") * col("__y")).as("sxy"),
        detSum(col("__y") * col("__y")).as("syy")
      )
      .filter(col("n_pts") >= 2)
      .select(
        col("channel"),
        col("n_pts"),
        round(sdn / sdx, 6).as("slope"),
        round(-sdn / sdx, 6).as("exponent"),
        round((col("sy") - (sdn / sdx) * col("sx")) / n, 6).as("intercept"),
        when(sdy > 0, round(sdn * sdn / (sdx * sdy), 6)).as("r2")
      )
  }

  def tsPsdSlope(spark: SparkSession, dir: String): DataFrame =
    psdSlope(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("channel"))

  /** Oracle: the Welch pipeline nested verbatim, identical round-9
    * logs, DECIMAL moment sums, pinned slope/intercept/r² order.
    */
  val tsPsdSlopeSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |e AS (
      |  SELECT channel, win, v, frac, ks.k AS k
      |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
      |a AS (
      |  SELECT channel, win, k, COUNT(*) AS n,
      |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
      |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM e GROUP BY 1, 2, 3),
      |pw AS (
      |  SELECT channel, win, k,
      |    ROUND((c / n) * (c / n) + (s / n) * (s / n), 6) AS power
      |  FROM a),
      |r AS (
      |  SELECT channel, k, COUNT(*) AS n_windows,
      |    CAST(SUM(CAST(power AS DECIMAL(27,10))) AS DOUBLE) AS s1
      |  FROM pw GROUP BY 1, 2),
      |psd AS (
      |  SELECT channel, k, ROUND(s1 / n_windows, 6) AS psd_mean FROM r),
      |pts AS (
      |  SELECT channel,
      |    ROUND(LN(CAST(k AS DOUBLE)), 9) AS lx,
      |    ROUND(LN(psd_mean), 9) AS ly
      |  FROM psd WHERE psd_mean > 0),
      |mo AS (
      |  SELECT channel, COUNT(*) AS n_pts,
      |    CAST(SUM(CAST(lx AS DECIMAL(27,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ly AS DECIMAL(27,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(lx * lx AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(lx * ly AS DECIMAL(27,10))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(ly * ly AS DECIMAL(27,10))) AS DOUBLE) AS syy
      |  FROM pts GROUP BY channel)
      |SELECT channel, n_pts,
      |  ROUND((n_pts * sxy - sx * sy) / (n_pts * sxx - sx * sx), 6) AS slope,
      |  ROUND(-(n_pts * sxy - sx * sy) / (n_pts * sxx - sx * sx), 6) AS exponent,
      |  ROUND((sy - ((n_pts * sxy - sx * sy) / (n_pts * sxx - sx * sx)) * sx) / n_pts, 6) AS intercept,
      |  CASE WHEN n_pts * syy - sy * sy > 0
      |       THEN ROUND((n_pts * sxy - sx * sy) * (n_pts * sxy - sx * sy)
      |                  / ((n_pts * sxx - sx * sx) * (n_pts * syy - sy * sy)), 6) END AS r2
      |FROM mo WHERE n_pts >= 2
      |ORDER BY channel""".stripMargin

  /** Dominant harmonic per channel (the "alpha peak" readout): the k
    * whose Welch-averaged power is largest, with its share of the
    * channel's total harmonic power. Ties break toward the lowest k.
    *
    * Scale shape: runs entirely ON the welchPsd summary relation
    * (channels × |ks| rows) — a per-channel max_by-style rank over the
    * summary plus a broadcast-joined DECIMAL total. The one
    * sample-scale pass is bandPower's partial agg.
    * Portability: psd_mean enters rounded to 6, the total sums through
    * DECIMAL (order-free), the share rounds after one double divide.
    */
  def dominantFreq(ts: DataFrame, windowUs: Long, ks: Seq[Int] = 1 to 4): DataFrame = {
    val psd = welchPsd(ts, windowUs, ks).select(col("channel"), col("k"), col("psd_mean"))
    val tot = psd.groupBy(col("channel")).agg(detSum(col("psd_mean")).as("__tot"))
    val byPower = Window.partitionBy(col("channel")).orderBy(col("psd_mean").desc, col("k"))
    psd
      .withColumn("__r", row_number().over(byPower))
      .filter(col("__r") === 1)
      .join(broadcast(tot), Seq("channel"))
      .select(
        col("channel"),
        col("k").as("k_dom"),
        col("psd_mean"),
        round(
          when(col("__tot") > 0, col("psd_mean") / col("__tot")),
          6
        ).as("power_frac")
      )
  }

  def tsDominantFreq(spark: SparkSession, dir: String): DataFrame =
    dominantFreq(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("channel"))

  /** Oracle: the Welch PSD CTEs verbatim, then the identical
    * (psd_mean DESC, k) rank-1 cut and DECIMAL channel total.
    */
  val tsDominantFreqSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |e AS (
      |  SELECT channel, win, v, frac, ks.k AS k
      |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
      |a AS (
      |  SELECT channel, win, k, COUNT(*) AS n,
      |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
      |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM e GROUP BY 1, 2, 3),
      |pw AS (
      |  SELECT channel, win, k,
      |    ROUND((c / n) * (c / n) + (s / n) * (s / n), 6) AS power
      |  FROM a),
      |r AS (
      |  SELECT channel, k, COUNT(*) AS n_windows,
      |    CAST(SUM(CAST(power AS DECIMAL(27,10))) AS DOUBLE) AS s1
      |  FROM pw GROUP BY 1, 2),
      |psd AS (SELECT channel, k, ROUND(s1 / n_windows, 6) AS psd_mean FROM r),
      |tot AS (SELECT channel, CAST(SUM(CAST(psd_mean AS DECIMAL(27,10))) AS DOUBLE) AS tot
      |        FROM psd GROUP BY 1),
      |ranked AS (
      |  SELECT channel, k, psd_mean,
      |    ROW_NUMBER() OVER (PARTITION BY channel ORDER BY psd_mean DESC, k) AS r
      |  FROM psd)
      |SELECT ranked.channel, k AS k_dom, psd_mean,
      |  ROUND(CASE WHEN tot.tot > 0 THEN psd_mean / tot.tot END, 6) AS power_frac
      |FROM ranked JOIN tot ON tot.channel = ranked.channel
      |WHERE r = 1
      |ORDER BY ranked.channel""".stripMargin

  def tsCoherence(spark: SparkSession, dir: String): DataFrame =
    spectralCoherence(Tables.ts(spark, dir), windowUs = 86400000000L)
      .orderBy(col("ch_a"), col("ch_b"), col("k"))

  val tsCoherenceSql: String =
    """WITH x AS (
      |  SELECT event_type AS channel,
      |    epoch_us(ts) // 86400000000 AS win, value AS v,
      |    CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 86400000000.0 AS frac
      |  FROM events),
      |e AS (
      |  SELECT channel, win, v, frac, ks.k AS k
      |  FROM x CROSS JOIN (SELECT UNNEST(range(1, 5)) AS k) ks),
      |a AS (
      |  SELECT channel, win, k,
      |    CAST(SUM(CAST(v * cos(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS c,
      |    CAST(SUM(CAST(v * sin(6.283185307179586 * k * frac) AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM e GROUP BY 1, 2, 3),
      |pr AS (
      |  SELECT l.channel AS ch_a, r.channel AS ch_b, l.k, COUNT(*) AS n_win,
      |    CAST(SUM(CAST(l.c * r.c + l.s * r.s AS DECIMAL(27,10))) AS DOUBLE) AS p,
      |    CAST(SUM(CAST(l.s * r.c - l.c * r.s AS DECIMAL(27,10))) AS DOUBLE) AS q,
      |    CAST(SUM(CAST(l.c * l.c + l.s * l.s AS DECIMAL(27,10))) AS DOUBLE) AS paa,
      |    CAST(SUM(CAST(r.c * r.c + r.s * r.s AS DECIMAL(27,10))) AS DOUBLE) AS pbb
      |  FROM a l JOIN a r ON l.win = r.win AND l.k = r.k AND l.channel < r.channel
      |  GROUP BY 1, 2, 3)
      |SELECT ch_a, ch_b, k, n_win,
      |  ROUND((p * p + q * q) / NULLIF(paa * pbb, 0.0), 6) AS coherence
      |FROM pr
      |ORDER BY ch_a, ch_b, k""".stripMargin

  def tsQuantiles(spark: SparkSession, dir: String): DataFrame =
    channelQuantiles(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsQuantilesSql: String =
    """SELECT event_type AS channel, COUNT(*) AS n,
      |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(value, 0.99), 6) AS p99
      |FROM events
      |GROUP BY 1
      |ORDER BY channel""".stripMargin

  def tsChannels(spark: SparkSession, dir: String): DataFrame =
    channelCatalog(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsChannelsSql: String =
    """SELECT event_type AS channel,
      |  MIN(epoch_us(ts)) AS start, MAX(epoch_us(ts)) AS "end",
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1
      |ORDER BY channel""".stripMargin

  /** The montage-expanded virtual-channel catalog (reference
    * GetChannelsQuery + Montage.validate composed): [[MontagePairs]]
    * plus one pair referencing a channel absent from the data, so the
    * validation path is exercised at every scale factor.
    */
  val MontageCatalogPairs: Seq[(String, String)] =
    MontagePairs :+ ("view" -> "missing_ref")

  def tsMontageChannels(spark: SparkSession, dir: String): DataFrame =
    Montages
      .virtualChannelCatalog(
        spark,
        channelCatalog(Tables.ts(spark, dir)),
        Montages.Custom(MontageCatalogPairs)
      )
      .orderBy(col("channel"))

  val tsMontageChannelsSql: String = {
    val pairVals = MontageCatalogPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
    s"""WITH c AS (
       |  SELECT event_type AS channel, MIN(epoch_us(ts)) AS s,
       |    MAX(epoch_us(ts)) AS e, COUNT(*) AS n
       |  FROM events GROUP BY 1),
       |j AS (
       |  SELECT p.lead || '<->' || p.sec AS channel,
       |    (l.channel IS NOT NULL AND r.channel IS NOT NULL
       |      AND GREATEST(l.s, r.s) <= LEAST(l.e, r.e)) AS valid,
       |    GREATEST(l.s, r.s) AS js, LEAST(l.e, r.e) AS je,
       |    GREATEST(l.e, r.e) - LEAST(l.s, r.s) AS un, l.n + r.n AS n
       |  FROM (VALUES $pairVals) p(lead, sec)
       |  LEFT JOIN c l ON l.channel = p.lead
       |  LEFT JOIN c r ON r.channel = p.sec)
       |SELECT channel, valid,
       |  CASE WHEN valid THEN js END AS start,
       |  CASE WHEN valid THEN je END AS "end",
       |  CASE WHEN valid THEN n END AS n_events,
       |  CASE WHEN valid AND je > js
       |    THEN ROUND(n * 86400000000.0 / (je - js), 6) END AS events_per_day,
       |  CASE WHEN valid AND un > 0
       |    THEN ROUND(CAST(je - js AS DOUBLE) / un, 6) END AS coverage
       |FROM j
       |ORDER BY channel""".stripMargin
  }

  /** Annotation spans derived from error events: [t, t + value minutes]. */
  def tsAnnotations(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables
      .ts(spark, dir)
      .filter(col("channel") === "error")
      .select(
        col("channel"),
        col("t").as("s"),
        // explicit floor: DuckDB CAST(double AS BIGINT) rounds while
        // Spark's cast truncates — floor on both sides aligns them
        (col("t") + floor(col("v") * lit(60000000.0)).cast("long")).as("e")
      )
    mergeAnnotationSpans(spans).orderBy(col("channel"), col("island"))
  }

  /** Per-bucket z-score anomaly detection: each sample scored against
    * its own (channel, time-bucket) mean/std; rows with |z| above the
    * threshold are the anomaly report (the cheap distributional screen
    * that runs before any model-based detector).
    *
    * Scale shape: bucket statistics are ONE partially-aggregated
    * (channel, bucket)-keyed shuffle; the score join is keyed by the
    * same (channel, bucket), so the exchange is reused/co-partitioned
    * and no window over the data stream exists at all — anomalies are
    * a pure filter. Stats route through decimal sums so z is
    * deterministic; sqrt is IEEE-exact.
    */
  def zscoreAnomalies(ts: DataFrame, bucketUs: Long, threshold: Double): DataFrame = {
    val n = count(lit(1))
    val s1 = detSum(col("v"))
    val s2 = detSum(col("v") * col("v"))
    val stats = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("__bkt"))
      .agg(
        n.as("__n"),
        (s1 / n).as("__mean"),
        sqrt(greatest((s2 - s1 * s1 / n) / n, lit(0.0))).as("__std")
      )
    val z = (col("v") - col("__mean")) / nullif(col("__std"), lit(0.0))
    ts.withColumn("__bkt", microsBucket(col("t"), bucketUs))
      .join(stats, Seq("channel", "__bkt"))
      .filter(abs(z) >= threshold && col("__n") >= 3)
      .select(
        col("channel"),
        col("t"),
        col("v"),
        col("__bkt").as("bucket"),
        round(z, 6).as("z")
      )
  }

  /** Daily buckets, |z| ≥ 3. Output order carries v as the final key:
    * (channel, t) alone is not total when two samples share a
    * timestamp (the same degenerate case ts_interp tie-breaks on).
    */
  def tsZscore(spark: SparkSession, dir: String): DataFrame =
    zscoreAnomalies(Tables.ts(spark, dir), bucketUs = 86400000000L, threshold = 3.0)
      .orderBy(col("channel"), col("t"), col("v"))

  val tsZscoreSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v,
      |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket
      |  FROM events),
      |st AS (
      |  SELECT channel, bucket, COUNT(*) AS n,
      |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) AS s2
      |  FROM e GROUP BY 1, 2),
      |j AS (
      |  SELECT e.channel, e.t, e.v, e.bucket, st.n,
      |    (e.v - s1 / n) / NULLIF(SQRT(GREATEST((s2 - s1 * s1 / n) / n, 0.0)), 0.0) AS z
      |  FROM e JOIN st ON e.channel = st.channel AND e.bucket = st.bucket)
      |SELECT channel, t, v, bucket, ROUND(z, 6) AS z
      |FROM j
      |WHERE ABS(z) >= 3.0 AND n >= 3
      |ORDER BY channel, t, v""".stripMargin

  /** Trailing rolling baseline per channel: each (channel, hour-bucket)
    * mean compared against the mean over the trailing `trail` non-empty
    * buckets — the drift screen that flags an hour whose level moved
    * away from its own recent history (the streaming-ingest QA
    * counterpart of ts_zscore's within-bucket screen).
    *
    * Scale shape: the raw stream collapses to the (channel, bucket)
    * GRID in one map-side partially-aggregated shuffle; the trailing
    * window then runs over that summary relation only (one row per
    * non-empty bucket — time-range/bucket-width cardinality, not data
    * cardinality), per the repo's channel-window-over-summaries-only
    * discipline (__pb_ marker columns). Raw samples never see a window.
    *
    * Portability: bucket sums route through DECIMAL (exact,
    * order-independent); the two double divisions and their difference
    * are written in the identical order in both engines; trailing
    * columns are NULL for a channel's first bucket in both.
    */
  def rollingBaseline(ts: DataFrame, bucketUs: Long, trail: Int): DataFrame = {
    val g = ts
      .withColumn("__bkt", microsBucket(col("t"), bucketUs))
      .groupBy(col("channel"), col("__bkt"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec2710)).as("__s"))
    val w = Window
      .partitionBy(col("channel"))
      .orderBy(col("__bkt"))
      .rowsBetween(-trail, -1)
    val mean = col("__s").cast("double") / col("n")
    val trailMean = col("__pb_ts").cast("double") / col("__pb_tn")
    g.select(
      col("channel"),
      col("__bkt"),
      col("n"),
      col("__s"),
      sum(col("n")).over(w).as("__pb_tn"),
      sum(col("__s")).over(w).as("__pb_ts")
    ).select(
      col("channel"),
      col("__bkt").as("bucket"),
      col("n"),
      round(mean, 6).as("mean"),
      col("__pb_tn").as("trail_n"),
      round(trailMean, 6).as("trail_mean"),
      round(mean - trailMean, 6).as("dev")
    )
  }

  /** Classical seasonal decomposition over the bucket grid: per
    * channel, each hourly bucket's mean splits into TREND (centered
    * ±halfTrend pooled moving average), SEASONAL (mean detrended value
    * at the bucket's phase within `period`), and RESIDUAL — the
    * additive decompose behind anomaly baselines and capacity
    * forecasts (the one-pass classical method; STL's loess loops
    * refine these same three components iteratively).
    *
    * Scale shape: events reduce to the (channel, bucket) grid in ONE
    * partial agg — every window after that runs over the summary
    * relation (grid rows ≈ channels × span/width, orders of magnitude
    * below data scale; the __pb_ marker is PlanSpec's summary-window
    * contract). The seasonal relation is channels × period rows —
    * broadcast back. Trend uses POOLED sums (Σs/Σn over the frame)
    * so the window aggregates exact decimals, order-independent;
    * every derived double divides/subtracts in one pinned order.
    * Buckets without a full ±halfTrend frame drop (both engines).
    */
  def seasonalDecompose(
    ts: DataFrame,
    bucketUs: Long = 3600000000L,
    period: Int = 24,
    halfTrend: Int = 12
  ): DataFrame = {
    val g = ts
      .withColumn("__bkt", microsBucket(col("t"), bucketUs))
      .groupBy(col("channel"), col("__bkt"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec2710)).as("__s"))
    val wT = Window
      .partitionBy(col("channel"))
      .orderBy(col("__bkt"))
      .rowsBetween(-halfTrend, halfTrend)
    val withTrend = g
      .select(
        col("channel"),
        col("__bkt"),
        col("n"),
        (col("__s").cast("double") / col("n")).as("__mean"),
        sum(col("__s")).over(wT).as("__pb_trs"),
        sum(col("n")).over(wT).as("__pb_trn"),
        count(lit(1)).over(wT).as("__pb_trw")
      )
      .filter(col("__pb_trw") === 2 * halfTrend + 1)
      .withColumn("trend", round(col("__pb_trs").cast("double") / col("__pb_trn"), 6))
    val seas = withTrend
      .groupBy(col("channel"), (col("__bkt") % period).as("__phase"))
      .agg(
        round(
          sum((col("__mean") - col("trend")).cast(dec2710)).cast("double") / count(lit(1)),
          6
        ).as("seasonal")
      )
    withTrend
      .withColumn("__phase", col("__bkt") % period)
      .join(broadcast(seas), Seq("channel", "__phase"))
      .select(
        col("channel"),
        col("__bkt").as("bucket"),
        col("n"),
        round(col("__mean"), 6).as("mean"),
        col("trend"),
        col("seasonal"),
        round(col("__mean") - col("trend") - col("seasonal"), 6).as("resid")
      )
  }

  def tsSeasonal(spark: SparkSession, dir: String): DataFrame =
    seasonalDecompose(Tables.ts(spark, dir))
      .orderBy(col("channel"), col("bucket"))

  val tsSeasonalSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket, value AS v
      |  FROM events),
      |g AS (
      |  SELECT channel, bucket, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(27,10))) AS s
      |  FROM e GROUP BY 1, 2),
      |t AS (
      |  SELECT channel, bucket, n,
      |    CAST(s AS DOUBLE) / n AS m,
      |    SUM(s) OVER w AS trs, CAST(SUM(n) OVER w AS BIGINT) AS trn,
      |    COUNT(*) OVER w AS trw
      |  FROM g
      |  WINDOW w AS (PARTITION BY channel ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |tr AS (
      |  SELECT channel, bucket, n, m,
      |    ROUND(CAST(trs AS DOUBLE) / trn, 6) AS trend
      |  FROM t WHERE trw = 25),
      |se AS (
      |  SELECT channel, bucket % 24 AS phase,
      |    ROUND(CAST(SUM(CAST(m - trend AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS seasonal
      |  FROM tr GROUP BY 1, 2)
      |SELECT tr.channel, tr.bucket, tr.n,
      |  ROUND(tr.m, 6) AS mean, tr.trend, se.seasonal,
      |  ROUND(tr.m - tr.trend - se.seasonal, 6) AS resid
      |FROM tr JOIN se ON se.channel = tr.channel AND se.phase = tr.bucket % 24
      |ORDER BY tr.channel, tr.bucket""".stripMargin

  def tsRolling(spark: SparkSession, dir: String): DataFrame =
    rollingBaseline(Tables.ts(spark, dir), bucketUs = 3600000000L, trail = 24)
      .orderBy(col("channel"), col("bucket"))

  val tsRollingSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket, value AS v
      |  FROM events),
      |g AS (
      |  SELECT channel, bucket, COUNT(*) AS n, SUM(CAST(v AS DECIMAL(27,10))) AS s
      |  FROM e GROUP BY 1, 2),
      |t AS (
      |  SELECT channel, bucket, n, s,
      |    CAST(SUM(n) OVER w AS BIGINT) AS tn, SUM(s) OVER w AS tsum
      |  FROM g
      |  WINDOW w AS (PARTITION BY channel ORDER BY bucket ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT channel, bucket, n,
      |  ROUND(CAST(s AS DOUBLE) / n, 6) AS mean,
      |  tn AS trail_n,
      |  ROUND(CAST(tsum AS DOUBLE) / tn, 6) AS trail_mean,
      |  ROUND(CAST(s AS DOUBLE) / n - CAST(tsum AS DOUBLE) / tn, 6) AS dev
      |FROM t
      |ORDER BY channel, bucket""".stripMargin

  /** Weekly cohort retention: users grouped by their FIRST active week
    * (the cohort), counted per week offset from it — the classic
    * retention triangle.
    *
    * Scale shape: one distinct over (user, week) — keyed by user+week,
    * uniform — then a per-user min-week aggregation (one row per
    * user, user-keyed and co-partitioned with the distinct's output),
    * a user-keyed join back, and a (cohort, offset)-keyed count
    * distinct. No window anywhere; every shuffle key contains user_id
    * or the small (cohort, offset) pair.
    */
  def cohortRetention(ts: DataFrame, weekUs: Long = 604800000000L): DataFrame = {
    val uw = ts
      .select(col("user_id"), microsBucket(col("t"), weekUs).as("week"))
      .distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    uw.join(first, "user_id")
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  def tsRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetention(Tables.ts(spark, dir)).orderBy(col("cohort"), col("week_offset"))

  val tsRetentionSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(epoch_us(ts) / 604800000000) AS BIGINT) AS week
      |  FROM events),
      |f AS (SELECT user_id, MIN(week) AS cohort FROM uw GROUP BY 1)
      |SELECT f.cohort, uw.week - f.cohort AS week_offset,
      |  COUNT(DISTINCT uw.user_id) AS n_users
      |FROM uw JOIN f ON uw.user_id = f.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort, week_offset""".stripMargin

  /** Daily channel-count matrix via PIVOT: one row per day, one column
    * per channel — the wide-format report shape. The channel value
    * list is EXPLICIT, which keeps the pivot a single partial-agg
    * shuffle (no extra distinct-values job) and the output schema
    * deterministic; empty cells coalesce to 0 like the oracle's
    * COUNT(*) FILTER.
    */
  def tsPivot(spark: SparkSession, dir: String): DataFrame = {
    val chans = Seq("click", "error", "purchase", "signup", "view")
    Tables
      .ts(spark, dir)
      .groupBy(microsBucket(col("t"), 86400000000L).as("day"))
      .pivot("channel", chans)
      .agg(count(lit(1)))
      .select(col("day") +: chans.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy(col("day"))
  }

  val tsPivotSql: String =
    """SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** Ordered conversion funnel over the event stream: how many users
    * perform step₁, then step₂ AFTER their first step₁, then step₃
    * after that, …; plus the mean lag between consecutive stages. The
    * strict after-the-previous-step ordering is the standard funnel
    * contract (an unordered min-per-step comparison overcounts users
    * who purchased before signing up).
    *
    * Scale shape: one channel-pushed-down scan per step (the step
    * predicate reaches the parquet scan / prunes the channel
    * partition), each reduced by a partial min-aggregation keyed by
    * user BEFORE the next step joins it — every join is between the
    * full step-k stream and the one-row-per-user stage relation, keyed
    * by user_id, so co-partitioning carries through the whole chain
    * and no per-user window over the data stream exists anywhere.
    */
  def funnel(ts: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // stage k relation: (user_id, tk) = first step-k event after tk-1
    val stages: Seq[DataFrame] = steps.zipWithIndex.foldLeft(Seq.empty[DataFrame]) {
      case (acc, (step, i)) =>
        val evts = ts.filter(col("channel") === step).select(col("user_id"), col("t"))
        val stage =
          if (i == 0) evts.groupBy(col("user_id")).agg(min(col("t")).as("t0"))
          else {
            val prev = acc.last.select(col("user_id"), col(s"t${i - 1}"))
            // the step-filtered event stream is still stream-scale at
            // the design point and the prior stage is user-grain —
            // merge-hinted so neither side is ever planned broadcast
            evts
              .join(prev.hint("merge"), "user_id")
              .filter(col("t") > col(s"t${i - 1}"))
              .groupBy(col("user_id"))
              .agg(min(col("t")).as(s"t$i"), min(col(s"t${i - 1}")).as(s"__p$i"))
          }
        acc :+ stage
    }
    val rows = stages.zipWithIndex.map { case (st, i) =>
      val lag =
        if (i == 0) lit(null).cast("double")
        else round(detAvg(col(s"t$i") - col(s"__p$i")), 6)
      st.agg(count(lit(1)).as("n_users"), lag.as("avg_lag_us"))
        .select(lit(i + 1).as("stage"), lit(steps(i)).as("step"), col("n_users"), col("avg_lag_us"))
    }
    rows.reduce(_ unionByName _)
  }

  /** signup → click → purchase over user_id. */
  val FunnelSteps: Seq[String] = Seq("signup", "click", "purchase")

  def tsFunnel(spark: SparkSession, dir: String): DataFrame =
    funnel(Tables.ts(spark, dir), FunnelSteps).orderBy(col("stage"))

  val tsFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type AS channel, epoch_us(ts) AS t FROM events),
      |s1 AS (SELECT user_id, MIN(t) AS t0 FROM e WHERE channel = 'signup' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.t) AS t1, MIN(s1.t0) AS p1
      |  FROM e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.channel = 'click' AND e.t > s1.t0
      |  GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.t) AS t2, MIN(s2.t1) AS p2
      |  FROM e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.channel = 'purchase' AND e.t > s2.t1
      |  GROUP BY 1)
      |SELECT 1 AS stage, 'signup' AS step, COUNT(*) AS n_users,
      |  CAST(NULL AS DOUBLE) AS avg_lag_us FROM s1
      |UNION ALL
      |SELECT 2, 'click', COUNT(*),
      |  ROUND(CAST(SUM(CAST(t1 - p1 AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) FROM s2
      |UNION ALL
      |SELECT 3, 'purchase', COUNT(*),
      |  ROUND(CAST(SUM(CAST(t2 - p2 AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) FROM s3
      |ORDER BY stage""".stripMargin

  /** Semi-structured event properties: extract the JSON `props` field
    * as a STRING (`get_json_object` — the same string-extraction
    * semantics as the oracle's json_extract_string, so a quoted
    * numeric payload {"k":"5"} yields 5 on BOTH engines where a typed
    * from_json schema would yield NULL only here) and try_cast it,
    * then roll the field up per channel. Extraction is map-side in
    * the scan projection; the rollup is one partially-aggregated
    * channel-keyed shuffle with algebraic aggregates only (integer
    * sums ⇒ the average is deterministic without the decimal route).
    */
  def propsRollup(events: DataFrame): DataFrame =
    events
      .select(
        col("event_type").as("channel"),
        expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k")
      )
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_k"),
        sum(col("k")).as("ksum"),
        min(col("k")).as("kmin"),
        max(col("k")).as("kmax"),
        round(sum(col("k")).cast("double") / count(lit(1)), 6).as("kavg")
      )

  def tsProps(spark: SparkSession, dir: String): DataFrame =
    propsRollup(Tables.events(spark, dir)).orderBy(col("channel"))

  val tsPropsSql: String =
    """SELECT event_type AS channel, COUNT(*) AS n, COUNT(k) AS n_k,
      |  CAST(SUM(k) AS BIGINT) AS ksum, MIN(k) AS kmin, MAX(k) AS kmax,
      |  ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS kavg
      |FROM (
      |  SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
      |  FROM events) t
      |GROUP BY 1
      |ORDER BY channel""".stripMargin

  /** Lagged cross-correlation between channel pairs over the aligned
    * time-bucket grid — the multi-channel coupling analysis (EEG
    * coherence screening, metric lead/lag discovery) the reference's
    * montage subtraction is the 1-lag special case of. Each channel is
    * first reduced to its per-bucket mean (the montage grid), then pair
    * (a, b) at lag L correlates a's bucket series against b's shifted
    * by L buckets.
    *
    * Scale shape: ONE (channel, bucket)-keyed partial aggregation
    * reduces the stream to grid size; the pair×lag fan-out joins grid
    * against grid keyed by bucket (co-partitioned at scale when the
    * table is time-bucket partitioned) with the tiny pair×lag relation
    * broadcast; the final rollup has #pairs·#lags groups. All
    * correlation sums route through DECIMAL so r is
    * aggregation-order-independent; sqrt is IEEE-exact in both
    * engines.
    */
  def crossCorrelation(
    spark: SparkSession,
    ts: DataFrame,
    pairs: Seq[(String, String)],
    bucketUs: Long,
    maxLag: Int
  ): DataFrame = {
    import spark.implicits._
    val chans = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val grid = ts
      .filter(col("channel").isin(chans: _*))
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bkt"))
      .agg(detAvg(col("v")).as("m"))
    val pairLags = pairs
      .flatMap { case (a, b) => (-maxLag to maxLag).map(l => (a, b, l.toLong)) }
      .toDF("cha", "chb", "lag")
    val x = grid.select(col("channel").as("cha"), col("bkt"), col("m").as("x"))
    val y = grid.select(col("channel").as("__ych"), col("bkt").as("ybkt"), col("m").as("y"))
    val n = count(lit(1))
    val sx = detSum(col("x"))
    val sy = detSum(col("y"))
    val sxy = detSum(col("x") * col("y"))
    val sxx = detSum(col("x") * col("x"))
    val syy = detSum(col("y") * col("y"))
    x.join(broadcast(pairLags), "cha")
      .join(y, col("__ych") === col("chb") && col("ybkt") === col("bkt") + col("lag"))
      .groupBy(col("cha"), col("chb"), col("lag"))
      .agg(n.as("n"), sx.as("sx"), sy.as("sy"), sxy.as("sxy"), sxx.as("sxx"), syy.as("syy"))
      .select(
        col("cha"),
        col("chb"),
        col("lag"),
        col("n"),
        round(
          when(
            (col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n") * col("syy") - col("sy") * col("sy")) > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt(
                (col("n") * col("sxx") - col("sx") * col("sx")) *
                  (col("n") * col("syy") - col("sy") * col("sy"))
              )
          ),
          6
        ).as("r")
      )
  }

  /** Linear interpolation onto a uniform time grid — the resampling
    * mode the reference's nearest/min-max paths don't cover: each grid
    * point g takes v = v0 + (v1−v0)·(g−t0)/(t1−t0) from its bracketing
    * samples (t0 = latest sample ≤ g, t1 = earliest sample > g; a
    * sample exactly at g contributes (g−t0) = 0 and returns its own
    * value). Grid points without both neighbors are dropped (interior
    * contract).
    *
    * Scale shape: the two-sided as-of lookup runs TWO-PHASE like every
    * sequential per-channel quantity here (§5): grid points and
    * samples union into one (channel, time-bucket)-partitioned stream;
    * bucket-local cumulative windows fill the previous/next sample
    * (value, time) in each direction, and rows whose bracket lies
    * outside their bucket take it from the per-bucket summary (last /
    * first sample per bucket, carried per channel across the TINY
    * summary relation and broadcast back). No per-channel single-task
    * sort anywhere; a hot channel splits across its buckets.
    */
  def interpolateGrid(
    ts: DataFrame,
    channels: Seq[String],
    startUs: Long,
    endUs: Long,
    stepUs: Long,
    bucketUs: Long = StitchBucketUs
  ): DataFrame = {
    val samples = ts
      .filter(col("channel").isin(channels: _*))
      .select(col("channel"), col("t"), lit(0).as("src"), col("v").as("sv"))
    val grid = ts.sparkSession
      .range(1)
      .select(explode(typedlit(channels)).as("channel"))
      .select(
        col("channel"),
        explode(sequence(lit(startUs), lit(endUs - 1), lit(stepUs))).as("t"),
        lit(1).as("src"),
        lit(null).cast("double").as("sv")
      )
    val u = samples
      .unionByName(grid)
      .withColumn("__bkt", microsBucket(col("t"), bucketUs))

    // bucket-local cumulative fills, both directions; at equal t the
    // asc pass orders the sample BEFORE the grid point (an exact hit is
    // its own predecessor) and the desc pass orders the grid point
    // first (the next-neighbor is strictly later). The trailing sv key
    // pins the degenerate two-samples-at-one-µs case to a
    // deterministic pick in both engines (it never orders null against
    // non-null: grid rows are unique at their (t, src))
    val wAsc = Window
      .partitionBy(col("channel"), col("__bkt"))
      .orderBy(col("t"), col("src"), col("sv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window
      .partitionBy(col("channel"), col("__bkt"))
      .orderBy(col("t").desc, col("src").desc, col("sv").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = when(col("sv").isNotNull, col("t"))
    val filled = u
      .withColumn("__pv", last(col("sv"), ignoreNulls = true).over(wAsc))
      .withColumn("__pt", last(st, ignoreNulls = true).over(wAsc))
      .withColumn("__nv", last(col("sv"), ignoreNulls = true).over(wDesc))
      .withColumn("__nt", last(st, ignoreNulls = true).over(wDesc))

    // per-bucket sample extremes, carried across buckets per channel
    // over the summary relation (one row per non-empty bucket)
    val perBucket = u
      .groupBy(col("channel"), col("__bkt"))
      .agg(
        // ordering key (t, sv) — null for grid rows, so they never win —
        // matches the windows' sv tie-break on duplicate timestamps
        max_by(col("sv"), when(col("sv").isNotNull, struct(col("t"), col("sv")))).as("__lv"),
        max(st).as("__lt"),
        min_by(col("sv"), when(col("sv").isNotNull, struct(col("t"), col("sv")))).as("__fv"),
        min(st).as("__ft")
      )
    val wPrev = Window.partitionBy(col("channel")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col("channel")).orderBy(col("__bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = broadcast(
      perBucket.select(
        col("channel"),
        col("__bkt"),
        last(col("__lv"), ignoreNulls = true).over(wPrev).as("__pb_pv"),
        last(col("__lt"), ignoreNulls = true).over(wPrev).as("__pb_pt"),
        last(col("__fv"), ignoreNulls = true).over(wNext).as("__pb_nv"),
        last(col("__ft"), ignoreNulls = true).over(wNext).as("__pb_nt")
      )
    )

    val pt = coalesce(col("__pt"), col("__pb_pt"))
    val pv = coalesce(col("__pv"), col("__pb_pv"))
    val nt = coalesce(col("__nt"), col("__pb_nt"))
    val nv = coalesce(col("__nv"), col("__pb_nv"))
    filled
      .join(carry, Seq("channel", "__bkt"))
      .filter(col("src") === 1 && pt.isNotNull && nt.isNotNull)
      .select(
        col("channel"),
        col("t"),
        round(pv + (nv - pv) * ((col("t") - pt).cast("double") / (nt - pt).cast("double")), 6)
          .as("v"),
        (nt - pt).as("gap_us")
      )
  }

  /** All five testdata channels on a 1-hour grid over the fixed range
    * window.
    */
  val InterpChannels: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val InterpStepUs = 3600000000L

  def tsInterp(spark: SparkSession, dir: String): DataFrame =
    interpolateGrid(Tables.ts(spark, dir), InterpChannels, RangeStartUs, RangeEndUs, InterpStepUs)
      .orderBy(col("channel"), col("t"))

  /** Sequential-window oracle: one union stream per channel, cumulative
    * IGNORE NULLS fills in both directions, identical lerp arithmetic.
    */
  val tsInterpSql: String = {
    val chans = InterpChannels.map(c => s"'$c'").mkString(", ")
    s"""WITH p AS (
       |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v
       |  FROM events WHERE event_type IN ($chans)),
       |grid AS (
       |  SELECT c.channel, g.t
       |  FROM (SELECT UNNEST([$chans]) AS channel) c
       |  CROSS JOIN (SELECT UNNEST(range($RangeStartUs, $RangeEndUs, $InterpStepUs)) AS t) g),
       |u AS (
       |  SELECT channel, t, 0 AS src, v AS sv FROM p
       |  UNION ALL
       |  SELECT channel, t, 1 AS src, NULL AS sv FROM grid),
       |f AS (
       |  SELECT channel, t, src,
       |    last_value(sv IGNORE NULLS) OVER w_asc AS pv,
       |    last_value(CASE WHEN sv IS NOT NULL THEN t END IGNORE NULLS) OVER w_asc AS pt,
       |    last_value(sv IGNORE NULLS) OVER w_desc AS nv,
       |    last_value(CASE WHEN sv IS NOT NULL THEN t END IGNORE NULLS) OVER w_desc AS nt
       |  FROM u
       |  WINDOW
       |    w_asc AS (PARTITION BY channel ORDER BY t, src, sv
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    w_desc AS (PARTITION BY channel ORDER BY t DESC, src DESC, sv DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT channel, t,
       |  ROUND(pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)), 6) AS v,
       |  nt - pt AS gap_us
       |FROM f
       |WHERE src = 1 AND pt IS NOT NULL AND nt IS NOT NULL
       |ORDER BY channel, t""".stripMargin
  }

  /** 6-hour grid, lags -2..2, over the montage pair list. */
  val XcorrBucketUs = 21600000000L
  val XcorrMaxLag = 2

  def tsXcorr(spark: SparkSession, dir: String): DataFrame =
    crossCorrelation(spark, Tables.ts(spark, dir), MontagePairs, XcorrBucketUs, XcorrMaxLag)
      .orderBy(col("cha"), col("chb"), col("lag"))

  val tsXcorrSql: String = {
    val pairVals = MontagePairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
    s"""WITH g AS (
       |  SELECT event_type AS channel,
       |    CAST(FLOOR(epoch_us(ts) / $XcorrBucketUs) AS BIGINT) AS bkt,
       |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
       |  FROM events
       |  GROUP BY 1, 2),
       |pl AS (
       |  SELECT p.cha, p.chb, l.lag
       |  FROM (VALUES $pairVals) p(cha, chb)
       |  CROSS JOIN (SELECT UNNEST(range(-$XcorrMaxLag, $XcorrMaxLag + 1)) AS lag) l),
       |j AS (
       |  SELECT pl.cha, pl.chb, pl.lag, x.m AS x, y.m AS y
       |  FROM pl
       |  JOIN g x ON x.channel = pl.cha
       |  JOIN g y ON y.channel = pl.chb AND y.bkt = x.bkt + pl.lag),
       |s AS (
       |  SELECT cha, chb, lag, COUNT(*) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(27,10))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(27,10))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * y AS DECIMAL(27,10))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(27,10))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(y * y AS DECIMAL(27,10))) AS DOUBLE) AS syy
       |  FROM j GROUP BY 1, 2, 3)
       |SELECT cha, chb, lag, n,
       |  ROUND(CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
       |             THEN (n * sxy - sx * sy) /
       |                  SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
       |        END, 6) AS r
       |FROM s
       |ORDER BY cha, chb, lag""".stripMargin
  }

  val tsAnnotationsSql: String =
    """SELECT channel, island, MIN(s) AS span_start, MAX(e) AS span_end, COUNT(*) AS n FROM (
      |  SELECT channel, s, e,
      |    CAST(SUM(new_island) OVER (PARTITION BY channel ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      |  FROM (
      |    SELECT channel, s, e,
      |      CASE WHEN MAX(e) OVER (PARTITION BY channel ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |             OR s > MAX(e) OVER (PARTITION BY channel ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           THEN 1 ELSE 0 END AS new_island
      |    FROM (
      |      SELECT event_type AS channel, epoch_us(ts) AS s,
      |        epoch_us(ts) + CAST(FLOOR(value * 60000000.0) AS BIGINT) AS e
      |      FROM events WHERE event_type = 'error') raw) flagged) grouped
      |GROUP BY channel, island
      |ORDER BY channel, island""".stripMargin

  // -------------------------------------------------------------------
  // OLS trend forecast
  // -------------------------------------------------------------------

  /** Buckets ahead for the fixed forecast query. */
  val ForecastHorizon = 6

  /** Fixed x-origin (hourly-bucket index ≈ late 2023) subtracted from
    * every bucket index before the fit: the closed-form OLS terms then
    * stay small enough that the double-arithmetic slope/intercept keep
    * full precision (raw epoch-hour indices are ~4.7e5, whose squares
    * cancel catastrophically in n·Σx² − (Σx)²).
    */
  val ForecastX0 = 470000L

  /** Per-channel ordinary-least-squares linear trend over the hourly
    * bucket-grid means, extrapolated `horizon` buckets past each
    * channel's last observed bucket.
    *
    * Reference anchor: the resample/render path reduces each trace to a
    * pixel-bucket grid (reference query/TimeSeriesQueryUtils.scala:208-235);
    * this is the forward-looking trend report over that same grid.
    *
    * Scale shape: events reduce to the (channel, bucket) grid in ONE
    * partial agg; the fit is a second fully-algebraic agg down to
    * channel grain (n, Σx, Σy, Σxy, Σx² as DECIMALs — order-independent
    * and map-side combinable); the horizon explode then runs over the
    * channel-cardinality relation only. Nothing after the first shuffle
    * is data-scale, and no per-channel window is involved at all.
    */
  def olsForecast(
    ts: DataFrame,
    bucketUs: Long = BucketUs,
    horizon: Int = ForecastHorizon,
    x0: Long = ForecastX0
  ): DataFrame = {
    val grid = ts
      .withColumn("__bkt", microsBucket(col("t"), bucketUs))
      .groupBy(col("channel"), col("__bkt"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
      .withColumn("__x", (col("__bkt") - lit(x0)).cast("long"))
    val fit = grid
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("__bkt")).as("__bmax"),
        sum(col("__x").cast(dec2710)).cast("double").as("__sx"),
        sum(col("m").cast(dec2710)).cast("double").as("__sy"),
        sum((col("__x") * col("m")).cast(dec2710)).cast("double").as("__sxy"),
        sum((col("__x") * col("__x")).cast(dec2710)).cast("double").as("__sxx")
      )
      .withColumn("__den", col("n_buckets") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn(
        "__slope",
        when(
          col("__den") =!= 0.0,
          (col("n_buckets") * col("__sxy") - col("__sx") * col("__sy")) / col("__den")
        )
      )
      .withColumn("__a", (col("__sy") - col("__slope") * col("__sx")) / col("n_buckets"))
    fit
      .select(
        col("channel"),
        col("n_buckets"),
        col("__bmax"),
        col("__slope"),
        col("__a"),
        explode(sequence(lit(1L), lit(horizon.toLong))).as("h")
      )
      .select(
        col("channel"),
        col("h"),
        (col("__bmax") + col("h")).as("bucket"),
        col("n_buckets"),
        round(col("__slope"), 9).as("slope"),
        round(col("__a"), 6).as("intercept"),
        round(col("__a") + col("__slope") * (col("__bmax") + col("h") - lit(x0)), 6).as("yhat")
      )
  }

  def tsForecast(spark: SparkSession, dir: String): DataFrame =
    olsForecast(Tables.ts(spark, dir))
      .orderBy(col("channel"), col("h"))

  /** Oracle: identical centered-x DECIMAL OLS terms, identical
    * double-arithmetic fit (same operation order ⇒ same IEEE result).
    */
  val tsForecastSql: String =
    s"""WITH g AS (
       |  SELECT event_type AS channel,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bkt,
       |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
       |  FROM events GROUP BY 1, 2),
       |x AS (
       |  SELECT channel, bkt, m, bkt - $ForecastX0 AS xc FROM g),
       |f AS (
       |  SELECT channel, COUNT(*) AS n_buckets, MAX(bkt) AS bmax,
       |    CAST(SUM(CAST(xc AS DECIMAL(27,10))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(m AS DECIMAL(27,10))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(xc * m AS DECIMAL(27,10))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(xc * xc AS DECIMAL(27,10))) AS DOUBLE) AS sxx
       |  FROM x GROUP BY channel),
       |s AS (
       |  SELECT channel, n_buckets, bmax,
       |    CASE WHEN (n_buckets * sxx - sx * sx) <> 0.0
       |         THEN (n_buckets * sxy - sx * sy) / (n_buckets * sxx - sx * sx) END AS slope,
       |    sx, sy
       |  FROM f),
       |a AS (
       |  SELECT channel, n_buckets, bmax, slope,
       |    (sy - slope * sx) / n_buckets AS a0
       |  FROM s)
       |SELECT channel, h, bmax + h AS bucket, n_buckets,
       |  ROUND(slope, 9) AS slope, ROUND(a0, 6) AS intercept,
       |  ROUND(a0 + slope * (bmax + h - $ForecastX0), 6) AS yhat
       |FROM a CROSS JOIN (SELECT UNNEST(range(1, $ForecastHorizon + 1)) AS h) hs
       |ORDER BY channel, h""".stripMargin

  // -------------------------------------------------------------------
  // LTTB visualization downsample
  // -------------------------------------------------------------------

  /** Largest-Triangle-Three-Buckets downsample, parallel variant: one
    * representative point per (channel, bucket), chosen to maximize the
    * triangle area against the NEIGHBOR BUCKET MEANS (the standard
    * parallelizable relaxation of Steinarsson 2013's sequential LTTB,
    * whose exact form chains each choice to the previous selected
    * point — an IIR-style recursion); first/last buckets keep their
    * endpoint samples as LTTB does. This is the shape-preserving
    * render downsampler the reference's pixel pipeline calls for when
    * min/max envelopes are too coarse (reference render path:
    * query/BaseTimeSeriesQuery.scala:58-96).
    *
    * Scale shape: the bucket-mean grid is ONE partial agg; neighbor
    * means come from a per-channel window over that SUMMARY relation
    * (the __pb_ convention — never the data stream), broadcast back
    * onto the samples by (channel, bucket) key; the per-bucket argmax
    * is a window on the (channel, bucket) key — finer than channel, so
    * a hot channel still splits across tasks.
    */
  def lttbDownsample(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val s = withTieBreak(ts).withColumn("__bkt", microsBucket(col("t"), bucketUs))
    val means = s
      .groupBy(col("channel"), col("__bkt"))
      .agg(detAvg(col("v")).as("__m"))
    val wCh = Window.partitionBy(col("channel")).orderBy(col("__bkt"))
    val nb = means.select(
      col("channel"),
      col("__bkt"),
      lag(col("__bkt"), 1).over(wCh).as("__pb_pb"),
      lag(col("__m"), 1).over(wCh).as("__pb_pm"),
      lead(col("__bkt"), 1).over(wCh).as("__pb_nb"),
      lead(col("__m"), 1).over(wCh).as("__pb_nm")
    )
    val joined = s.join(broadcast(nb), Seq("channel", "__bkt"))
    // triangle area vs (prev bucket center, prev mean) and (next bucket
    // center, next mean); µs bucket centers keep everything integer-ish
    val xp = (col("__pb_pb").cast("double") + 0.5) * bucketUs
    val xn = (col("__pb_nb").cast("double") + 0.5) * bucketUs
    val x = col("t").cast("double")
    val area = abs(
      (xp - xn) * (col("v") - col("__pb_pm")) - (xp - x) * (col("__pb_nm") - col("__pb_pm"))
    )
    val key = when(col("__pb_pb").isNull, -col("t").cast("double"))
      .when(col("__pb_nb").isNull, col("t").cast("double"))
      .otherwise(area)
    val wPick = Window
      .partitionBy(col("channel"), col("__bkt"))
      .orderBy(col("__key").desc, col("t"), col("event_id"))
    joined
      .withColumn("__key", key)
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(col("channel"), col("__bkt").as("bucket"), col("t"), col("v"))
  }

  def tsLttb(spark: SparkSession, dir: String): DataFrame =
    lttbDownsample(Tables.ts(spark, dir))
      .orderBy(col("channel"), col("bucket"))

  /** Oracle: identical bucket means, neighbor window, area expression
    * order, and (key desc, t, event_id) pick.
    */
  val tsLttbSql: String =
    s"""WITH e AS (
       |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v, event_id,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bkt
       |  FROM events),
       |m AS (
       |  SELECT channel, bkt,
       |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
       |  FROM e GROUP BY 1, 2),
       |nb AS (
       |  SELECT channel, bkt,
       |    LAG(bkt) OVER w AS pb, LAG(m) OVER w AS pm,
       |    LEAD(bkt) OVER w AS nbk, LEAD(m) OVER w AS nm
       |  FROM m WINDOW w AS (PARTITION BY channel ORDER BY bkt)),
       |j AS (
       |  SELECT e.channel, e.bkt, e.t, e.v, e.event_id, nb.pb, nb.pm, nb.nbk, nb.nm,
       |    ABS(((CAST(nb.pb AS DOUBLE) + 0.5) * $BucketUs - (CAST(nb.nbk AS DOUBLE) + 0.5) * $BucketUs) * (e.v - nb.pm)
       |      - ((CAST(nb.pb AS DOUBLE) + 0.5) * $BucketUs - CAST(e.t AS DOUBLE)) * (nb.nm - nb.pm)) AS area
       |  FROM e JOIN nb ON nb.channel = e.channel AND nb.bkt = e.bkt),
       |k AS (
       |  SELECT channel, bkt, t, v, event_id,
       |    CASE WHEN pb IS NULL THEN -CAST(t AS DOUBLE)
       |         WHEN nbk IS NULL THEN CAST(t AS DOUBLE)
       |         ELSE area END AS key
       |  FROM j),
       |picked AS (
       |  SELECT channel, bkt, t, v,
       |    ROW_NUMBER() OVER (PARTITION BY channel, bkt ORDER BY key DESC, t, event_id) AS rn
       |  FROM k)
       |SELECT channel, bkt AS bucket, t, v FROM picked WHERE rn = 1
       |ORDER BY channel, bucket""".stripMargin

  // -------------------------------------------------------------------
  // Inter-arrival statistics
  // -------------------------------------------------------------------

  /** Per-channel inter-arrival-time statistics: mean/std/CV of the
    * gaps between consecutive samples plus the Goh–Barabási burstiness
    * B = (σ−μ)/(σ+μ) (Goh & Barabási 2008, EPL 81: B→−1 periodic,
    * B→0 Poisson, B→1 bursty) — the signal-health triage that tells a
    * regular-rate channel from an event-driven one before any
    * resampling decision.
    *
    * Scale shape: gaps come from the stitched two-phase lag (no
    * channel-alone window over the data stream), then ONE algebraic
    * DECIMAL-moment agg to channel grain.
    */
  def arrivalStats(ts: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val withPrev = withStitchedPrev(withTieBreak(ts), Seq("t"), stitchBucketUs, Seq("event_id"))
    val gaps = withPrev
      .filter(col("__prev_t").isNotNull)
      .select(col("channel"), (col("t") - col("__prev_t")).cast("double").as("__dt"))
    // gap² reaches ~e17 µs² — beyond DECIMAL(27,10)'s 17 integer
    // digits once summed; (38,10) holds Σdt² for any realistic stream
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    gaps
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_gaps"),
        detSum(col("__dt")).as("__s1"),
        sum((col("__dt") * col("__dt")).cast(dec3810)).cast("double").as("__s2")
      )
      .withColumn("__mu", col("__s1") / col("n_gaps"))
      .withColumn(
        "__sig",
        sqrt(greatest(col("__s2") / col("n_gaps") - col("__mu") * col("__mu"), lit(0.0)))
      )
      .select(
        col("channel"),
        col("n_gaps"),
        round(col("__mu"), 6).as("mean_gap_us"),
        round(col("__sig"), 6).as("std_gap_us"),
        round(col("__sig") / col("__mu"), 6).as("cv"),
        round((col("__sig") - col("__mu")) / (col("__sig") + col("__mu")), 6).as("burstiness")
      )
  }

  def tsArrivalStats(spark: SparkSession, dir: String): DataFrame =
    arrivalStats(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Oracle: sequential LAG gaps (the stitched lag's exact semantics),
    * identical DECIMAL moments and pinned double chain.
    */
  val tsArrivalStatsSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, event_id FROM events),
      |g AS (
      |  SELECT channel,
      |    CAST(t - LAG(t) OVER (PARTITION BY channel ORDER BY t, event_id) AS DOUBLE) AS dt
      |  FROM e),
      |s AS (
      |  SELECT channel, COUNT(*) AS n_gaps,
      |    CAST(SUM(CAST(dt AS DECIMAL(27,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(dt * dt AS DECIMAL(38,10))) AS DOUBLE) AS s2
      |  FROM g WHERE dt IS NOT NULL
      |  GROUP BY 1),
      |d AS (
      |  SELECT channel, n_gaps, s1 / n_gaps AS mu,
      |    SQRT(GREATEST(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps), 0.0)) AS sig
      |  FROM s)
      |SELECT channel, n_gaps,
      |  ROUND(mu, 6) AS mean_gap_us,
      |  ROUND(sig, 6) AS std_gap_us,
      |  ROUND(sig / mu, 6) AS cv,
      |  ROUND((sig - mu) / (sig + mu), 6) AS burstiness
      |FROM d
      |ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // M4 visualization downsample
  // -------------------------------------------------------------------

  /** M4 downsample (Jugel et al., VLDB 2014): per pixel bucket the
    * FIRST, LAST, MIN and MAX points — the four samples that make a
    * line rendering of the reduced series pixel-identical to the full
    * one. Complements the min/max envelope (ts_downsample) and LTTB
    * (ts_lttb) as the third standard render reduction of the
    * reference's pixel pipeline (query/BaseTimeSeriesQuery.scala:58-96).
    *
    * Scale shape: ONE (channel, bucket)-keyed partial aggregation —
    * every extremum is a lexicographic struct min/max (algebraic,
    * map-side combinable, deterministic ties: value extrema break by
    * (t, event_id), endpoints by (t, event_id) alone). No window, no
    * second pass.
    */
  def m4Downsample(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val s = withTieBreak(ts).withColumn("__bkt", microsBucket(col("t"), bucketUs))
    s.groupBy(col("channel"), col("__bkt"))
      .agg(
        count(lit(1)).as("n"),
        min(struct(col("t"), col("event_id"), col("v"))).as("__first"),
        max(struct(col("t"), col("event_id"), col("v"))).as("__last"),
        min(struct(col("v"), col("t"), col("event_id"))).as("__min"),
        max(struct(col("v"), col("t"), col("event_id"))).as("__max")
      )
      .select(
        col("channel"),
        col("__bkt").as("bucket"),
        col("n"),
        col("__first.t").as("t_first"),
        col("__first.v").as("v_first"),
        col("__last.t").as("t_last"),
        col("__last.v").as("v_last"),
        col("__min.t").as("t_min"),
        col("__min.v").as("v_min"),
        col("__max.t").as("t_max"),
        col("__max.v").as("v_max")
      )
  }

  def tsM4(spark: SparkSession, dir: String): DataFrame =
    m4Downsample(Tables.ts(spark, dir))
      .orderBy(col("channel"), col("bucket"))

  /** Oracle: identical lexicographic struct extrema (field order is
    * the tie-break contract), one aggregation.
    */
  val tsM4Sql: String =
    s"""WITH e AS (
       |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v, event_id,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bkt
       |  FROM events),
       |a AS (
       |  SELECT channel, bkt, COUNT(*) AS n,
       |    MIN({'t': t, 'i': event_id, 'v': v}) AS f,
       |    MAX({'t': t, 'i': event_id, 'v': v}) AS l,
       |    MIN({'v': v, 't': t, 'i': event_id}) AS mn,
       |    MAX({'v': v, 't': t, 'i': event_id}) AS mx
       |  FROM e GROUP BY 1, 2)
       |SELECT channel, bkt AS bucket, n,
       |  f.t AS t_first, f.v AS v_first,
       |  l.t AS t_last, l.v AS v_last,
       |  mn.t AS t_min, mn.v AS v_min,
       |  mx.t AS t_max, mx.v AS v_max
       |FROM a
       |ORDER BY channel, bucket""".stripMargin

  // -------------------------------------------------------------------
  // Point-in-span annotation join
  // -------------------------------------------------------------------

  /** Point-in-span join: every sample of every channel joined to the
    * annotation spans covering its timestamp, rolled up to a per
    * (channel, span) report — the batch twin of StreamingEnrich's
    * interval join and the reference's "what happened during this
    * annotation" view (server/SegmentService.scala span semantics).
    *
    * Scale shape: a naive `t BETWEEN s AND e` join is a
    * BroadcastNestedLoopJoin over the WHOLE stream; here each span
    * (annotation-scale relation) is EXPLODED to the hourly buckets it
    * covers and broadcast, so the sample side joins on the bucket
    * EQUI-key with only a residual range filter — the standard Spark
    * range-join bucketing trick, and the join parallelism follows the
    * sample partitioning.
    */
  def spanJoin(ts: DataFrame, spans: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val sb = spans.select(
      col("island"),
      col("s"),
      col("e"),
      explode(
        sequence(
          floor(col("s") / lit(bucketUs)).cast("long"),
          floor(col("e") / lit(bucketUs)).cast("long")
        )
      ).as("__bkt")
    )
    ts.withColumn("__bkt", microsBucket(col("t"), bucketUs))
      .join(broadcast(sb), Seq("__bkt"))
      .filter(col("t") >= col("s") && col("t") <= col("e"))
      .groupBy(col("channel"), col("island"))
      .agg(
        count(lit(1)).as("n_samples"),
        round(detAvg(col("v")), 6).as("mean_v"),
        min(col("s")).as("span_start"),
        max(col("e")).as("span_end")
      )
  }

  def tsSpanJoin(spark: SparkSession, dir: String): DataFrame = {
    val ts = Tables.ts(spark, dir)
    val spans = mergeAnnotationSpans(
      ts.filter(col("channel") === "error")
        .select(
          col("channel"),
          col("t").as("s"),
          (col("t") + floor(col("v") * lit(60000000.0)).cast("long")).as("e")
        )
    ).select(col("island"), col("span_start").as("s"), col("span_end").as("e"))
    spanJoin(ts, spans).orderBy(col("channel"), col("island"))
  }

  /** Oracle: the annotation-island pipeline nested verbatim, then the
    * BETWEEN join + per-(channel, island) rollup.
    */
  val tsSpanJoinSql: String =
    s"""WITH ann AS ($tsAnnotationsSql),
       |ev AS (SELECT event_type AS channel, epoch_us(ts) AS t, value AS v FROM events),
       |j AS (
       |  SELECT ev.channel, a.island, ev.v, a.span_start, a.span_end
       |  FROM ev JOIN ann a ON ev.t >= a.span_start AND ev.t <= a.span_end)
       |SELECT channel, island, COUNT(*) AS n_samples,
       |  ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS mean_v,
       |  MIN(span_start) AS span_start, MAX(span_end) AS span_end
       |FROM j GROUP BY 1, 2
       |ORDER BY channel, island""".stripMargin

  // -------------------------------------------------------------------
  // Conversion attribution (first-touch / last-touch)
  // -------------------------------------------------------------------

  /** First-/last-touch conversion attribution: for every conversion
    * event, the earliest and latest touch event by the same user
    * inside the lookback window [t_conv − W, t_conv), plus the touch
    * count — the marketing/product-analytics primitive behind "what
    * drove this purchase".
    *
    * Scale shape: a per-user as-of/interval join, NOT a user-alone
    * join — the lookback window W doubles as the bucket width, each
    * touch is exploded to the TWO buckets its window can serve, and
    * the join runs on the (user, bucket) EQUI-key with a residual
    * range filter, so matched pairs are bounded by per-(user, 2W)
    * density, never a hot user's full history. First/last are ONE
    * algebraic lexicographic struct-extrema agg (the M4 trick) at
    * conversion grain — deterministic ties via event_id, no window.
    * Untouched conversions survive the LEFT join with NULL touches.
    */
  def attribution(
    ts: DataFrame,
    convChannel: String,
    touchChannels: Seq[String],
    lookbackUs: Long
  ): DataFrame = {
    val conv = ts
      .filter(col("channel") === convChannel)
      .select(
        col("user_id"),
        col("event_id").as("conv_id"),
        col("t").as("t_conv"),
        expr(s"t div $lookbackUs").as("__bkt")
      )
    val touch = ts
      .filter(col("channel").isin(touchChannels: _*))
      .select(
        col("user_id").as("__tu"),
        col("t").as("t_touch"),
        col("event_id").as("touch_id"),
        col("channel").as("touch_type"),
        explode(
          array(expr(s"t div $lookbackUs"), expr(s"t div $lookbackUs + 1L"))
        ).as("__tbkt")
      )
    conv
      // both sides are event-stream scale — merge-hinted (the
      // (user, bucket) equi keys co-partition the range pairing; a
      // broadcast of either stream would OOM at the design point)
      .join(
        touch.hint("merge"),
        conv("user_id") === touch("__tu") && col("__bkt") === col("__tbkt") &&
          col("t_touch") < col("t_conv") && col("t_touch") >= col("t_conv") - lookbackUs,
        "left"
      )
      .groupBy(col("conv_id"), col("user_id"), col("t_conv"))
      .agg(
        count(col("touch_id")).as("n_touches"),
        min(struct(col("t_touch"), col("touch_id"), col("touch_type"))).as("__f"),
        max(struct(col("t_touch"), col("touch_id"), col("touch_type"))).as("__l")
      )
      .select(
        col("conv_id"),
        col("user_id"),
        col("t_conv"),
        col("n_touches"),
        col("__f.t_touch").as("first_t"),
        col("__f.touch_type").as("first_type"),
        col("__l.t_touch").as("last_t"),
        col("__l.touch_type").as("last_type")
      )
  }

  /** 6-hour lookback, purchases attributed to clicks/views. */
  val AttributionLookbackUs: Long = 21600000000L

  def tsAttribution(spark: SparkSession, dir: String): DataFrame =
    attribution(Tables.ts(spark, dir), "purchase", Seq("click", "view"), AttributionLookbackUs)
      .orderBy(col("conv_id"))

  /** Oracle: the naive per-user range join (DuckDB scale) with the
    * identical struct-extrema first/last and LEFT-join NULL survival.
    */
  val tsAttributionSql: String =
    s"""WITH conv AS (
       |  SELECT user_id, event_id AS conv_id, epoch_us(ts) AS t_conv
       |  FROM events WHERE event_type = 'purchase'),
       |touch AS (
       |  SELECT user_id, epoch_us(ts) AS t_touch, event_id AS touch_id, event_type AS touch_type
       |  FROM events WHERE event_type IN ('click', 'view')),
       |j AS (
       |  SELECT c.conv_id, c.user_id, c.t_conv, t.t_touch, t.touch_id, t.touch_type
       |  FROM conv c LEFT JOIN touch t
       |    ON t.user_id = c.user_id
       |   AND t.t_touch < c.t_conv AND t.t_touch >= c.t_conv - $AttributionLookbackUs)
       |SELECT conv_id, user_id, t_conv,
       |  COUNT(touch_id) AS n_touches,
       |  MIN({'t': t_touch, 'i': touch_id, 'y': touch_type}).t AS first_t,
       |  MIN({'t': t_touch, 'i': touch_id, 'y': touch_type}).y AS first_type,
       |  MAX({'t': t_touch, 'i': touch_id, 'y': touch_type}).t AS last_t,
       |  MAX({'t': t_touch, 'i': touch_id, 'y': touch_type}).y AS last_type
       |FROM j GROUP BY 1, 2, 3
       |ORDER BY conv_id""".stripMargin

  // -------------------------------------------------------------------
  // Nearest-neighbor alignment within a tolerance
  // -------------------------------------------------------------------

  /** Tolerance-bounded nearest-neighbor alignment: for every left row,
    * the right row with the smallest |Δt| within ±`toleranceUs`, ties
    * preferring the BACKWARD match — the sensor-fusion alignment
    * [[asofJoin]]'s backward-only semantics can't give, with the
    * horizon bound that keeps it an interval join rather than an
    * unbounded search.
    *
    * Scale shape: the tolerance doubles as the bucket width; each
    * right row explodes to the three buckets its window can serve, the
    * join runs on the (bucket) equi-key with a residual |Δt| filter,
    * and the winner is ONE lexicographic struct-min agg at left-row
    * grain ((|Δt|, Δt, rt) — deterministic ties). Unmatched rows
    * LEFT-join NULL-survive.
    */
  def nearestAlign(left: DataFrame, right: DataFrame, toleranceUs: Long): DataFrame = {
    val lCols = left.columns
    val lb = left.withColumn("__bkt", expr(s"t div $toleranceUs"))
    val rb = right
      .select(col("t").as("__rt"), col("rv"))
      .withColumn(
        "__bkt",
        explode(
          array(
            expr(s"__rt div $toleranceUs - 1L"),
            expr(s"__rt div $toleranceUs"),
            expr(s"__rt div $toleranceUs + 1L")
          )
        )
      )
    lb.join(
      rb,
      lb("__bkt") === rb("__bkt") &&
        abs(col("__rt") - col("t")) <= toleranceUs,
      "left"
    )
      .groupBy(lCols.map(col): _*)
      .agg(
        min(
          struct(
            abs(col("__rt") - col("t")).as("adt"),
            (col("__rt") - col("t")).as("dt"),
            col("__rt").as("rt"),
            col("rv").as("rv")
          )
        ).as("__w")
      )
      .select(
        lCols.map(col) ++ Seq(
          col("__w.rt").as("nearest_t"),
          col("__w.rv").as("nearest_v"),
          col("__w.dt").as("dt")
        ): _*
      )
  }

  def tsAlign(spark: SparkSession, dir: String): DataFrame = {
    val ts = Tables.ts(spark, dir)
    val left = ts
      .filter(col("channel") === "click")
      .select(col("event_id"), col("t"), col("v"))
    val right = ts
      .filter(col("channel") === "error")
      .groupBy(col("t"))
      .agg(round(detAvg(col("v")), 6).as("rv"))
    nearestAlign(left, right, toleranceUs = 600000000L) // ±10 min
      .orderBy(col("event_id"))
  }

  /** Oracle: the naive |Δt| range join with the identical struct-min
    * winner and LEFT NULL survival.
    */
  val tsAlignSql: String =
    """WITH l AS (
      |  SELECT event_id, epoch_us(ts) AS t, value AS v
      |  FROM events WHERE event_type = 'click'),
      |r AS (
      |  SELECT epoch_us(ts) AS rt,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS rv
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |j AS (
      |  SELECT l.event_id, l.t, l.v,
      |    MIN(CASE WHEN r.rt IS NOT NULL
      |        THEN {'adt': ABS(r.rt - l.t), 'dt': r.rt - l.t, 'rt': r.rt, 'rv': r.rv} END) AS w
      |  FROM l LEFT JOIN r ON ABS(r.rt - l.t) <= 600000000
      |  GROUP BY 1, 2, 3)
      |SELECT event_id, t, v, w.rt AS nearest_t, w.rv AS nearest_v, w.dt AS dt
      |FROM j
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------------
  // Permutation entropy (ordinal-pattern complexity)
  // -------------------------------------------------------------------

  /** Permutation entropy of order 3 (Bandt & Pompe 2002): the Shannon
    * entropy of the ordinal patterns formed by each window of three
    * consecutive samples — the standard model-free complexity measure
    * for physiological signals (regular rhythms concentrate on few
    * patterns → low; noise spreads over all 6 → ln 6). Ties rank the
    * EARLIER sample smaller, the usual convention.
    *
    * Scale shape: the two lags ride [[withBlockHalo]] (halo 2); the
    * pattern id is a pure comparison projection; ONE (channel,
    * pattern) partial agg, then the engine's integer-count entropy
    * discipline (round-9 lns, exact decimal term sums) on ≤ 6·k
    * summary rows.
    */
  def permutationEntropy(tsIn: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val padded = withBlockHalo(
      withTieBreak(tsIn).select(col("channel"), col("t"), col("v"), col("event_id")),
      halo = 2,
      stitchBucketUs,
      Seq("event_id")
    )
    val w = Window.partitionBy(col("channel"), col("__tgt")).orderBy(col("__rn"))
    val patterns = padded
      .withColumn("__a", lag(col("v"), 2).over(w)) // earliest of the triple
      .withColumn("__b", lag(col("v"), 1).over(w))
      .filter(col("__tgt") === col("__blk"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .select(
        col("channel"),
        ((col("__a") <= col("__b")).cast("long") * 4 +
          (col("__a") <= col("v")).cast("long") * 2 +
          (col("__b") <= col("v")).cast("long")).as("pattern")
      )
    val counts = patterns
      .groupBy(col("channel"), col("pattern"))
      .agg(count(lit(1)).as("m"))
    counts
      .groupBy(col("channel"))
      .agg(
        sum(col("m")).as("n_windows"),
        count(lit(1)).as("n_patterns"),
        sum((col("m") * round(log(col("m")), 9)).cast(dec2710)).as("__s")
      )
      .select(
        col("channel"),
        col("n_windows"),
        col("n_patterns"),
        round(
          round(log(col("n_windows")), 9) - col("__s").cast("double") / col("n_windows"),
          6
        ).as("perm_entropy"),
        round(
          (round(log(col("n_windows")), 9) - col("__s").cast("double") / col("n_windows")) /
            round(log(lit(6.0)), 9),
          6
        ).as("perm_entropy_norm")
      )
  }

  def tsPermEntropy(spark: SparkSession, dir: String): DataFrame =
    permutationEntropy(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Oracle: identical double lag, comparison-encoded pattern id, and
    * integer-count entropy discipline.
    */
  val tsPermEntropySql: String =
    """WITH p AS (
      |  SELECT event_type AS channel, value AS v,
      |    LAG(value, 2) OVER w AS a, LAG(value) OVER w AS b
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)),
      |pat AS (
      |  SELECT channel,
      |    CAST(a <= b AS BIGINT) * 4 + CAST(a <= v AS BIGINT) * 2 + CAST(b <= v AS BIGINT) AS pattern
      |  FROM p WHERE a IS NOT NULL AND b IS NOT NULL),
      |c AS (SELECT channel, pattern, COUNT(*) AS m FROM pat GROUP BY 1, 2),
      |s AS (
      |  SELECT channel, CAST(SUM(m) AS BIGINT) AS n_windows, COUNT(*) AS n_patterns,
      |    SUM(CAST(m * ROUND(LN(m), 9) AS DECIMAL(27,10))) AS s
      |  FROM c GROUP BY 1)
      |SELECT channel, n_windows, n_patterns,
      |  ROUND(ROUND(LN(n_windows), 9) - CAST(s AS DOUBLE) / n_windows, 6) AS perm_entropy,
      |  ROUND((ROUND(LN(n_windows), 9) - CAST(s AS DOUBLE) / n_windows)
      |        / ROUND(LN(6.0), 9), 6) AS perm_entropy_norm
      |FROM s
      |ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // Wald–Wolfowitz runs test
  // -------------------------------------------------------------------

  /** Wald–Wolfowitz runs test per channel: is the sequence of
    * above-/below-mean signs random, or does it trend/oscillate? Too
    * FEW runs ⇒ trending (positive autocorrelation), too MANY ⇒
    * oscillating — the order-sensitive randomness screen the
    * order-free moment statistics can't see.
    *
    * Scale shape: channel means are a k-row broadcast; the sign stream
    * reads its predecessor from the stitched two-phase lag (no
    * channel-alone window); one algebraic agg counts runs and signs;
    * E[R], Var and z are pinned projections at channel grain.
    */
  def runsTest(tsIn: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val ts = withTieBreak(tsIn).select(col("channel"), col("t"), col("v"), col("event_id"))
    val means = ts
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("__n"), detSum(col("v")).as("__s1"))
      .select(col("channel"), (col("__s1") / col("__n")).as("__mu"))
    val signed = ts
      .join(broadcast(means), Seq("channel"))
      .withColumn("s", (col("v") > col("__mu")).cast("long"))
    val counted = withStitchedPrev(signed, Seq("s"), stitchBucketUs, Seq("event_id"))
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s")).as("n_above"),
        count(when(col("__prev_s").isNotNull && col("__prev_s") =!= col("s"), lit(1)))
          .as("__trans")
      )
    val n = col("n").cast("double")
    val n1 = col("n_above").cast("double")
    val n2 = n - n1
    val e = lit(2.0) * n1 * n2 / n + lit(1.0)
    val varR = (e - lit(1.0)) * (e - lit(2.0)) / (n - lit(1.0))
    counted
      .filter(col("n") > 1)
      .select(
        col("channel"),
        col("n"),
        col("n_above"),
        (col("__trans") + lit(1L)).as("runs"),
        round(e, 6).as("e_runs"),
        round(
          when(varR > 0, (col("__trans").cast("double") + lit(1.0) - e) / sqrt(varR)),
          6
        ).as("z")
      )
  }

  def tsRuns(spark: SparkSession, dir: String): DataFrame =
    runsTest(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Oracle: identical DECIMAL mean, sign lag, and pinned E/Var/z. */
  val tsRunsSql: String =
    """WITH m AS (
      |  SELECT event_type AS channel,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mu
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT e.event_type AS channel,
      |    CAST(e.value > m.mu AS BIGINT) AS s,
      |    LAG(CAST(e.value > m.mu AS BIGINT))
      |      OVER (PARTITION BY e.event_type ORDER BY epoch_us(e.ts), e.event_id) AS ps
      |  FROM events e JOIN m ON m.channel = e.event_type),
      |c AS (
      |  SELECT channel, COUNT(*) AS n, CAST(SUM(s) AS BIGINT) AS n_above,
      |    COUNT(CASE WHEN ps IS NOT NULL AND ps <> s THEN 1 END) AS trans
      |  FROM p GROUP BY 1)
      |SELECT channel, n, n_above, trans + 1 AS runs,
      |  ROUND(2.0 * n_above * (n - n_above) / n + 1.0, 6) AS e_runs,
      |  ROUND(CASE WHEN (2.0 * n_above * (n - n_above) / n + 1.0 - 1.0)
      |               * (2.0 * n_above * (n - n_above) / n + 1.0 - 2.0) / (n - 1.0) > 0
      |    THEN (CAST(trans AS DOUBLE) + 1.0 - (2.0 * n_above * (n - n_above) / n + 1.0))
      |         / SQRT((2.0 * n_above * (n - n_above) / n + 1.0 - 1.0)
      |                * (2.0 * n_above * (n - n_above) / n + 1.0 - 2.0) / (n - 1.0)) END, 6) AS z
      |FROM c WHERE n > 1
      |ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // Benford first-digit screen
  // -------------------------------------------------------------------

  /** First-significant-digit distribution per channel against Benford's
    * law, with the per-channel χ² statistic — the classic
    * fabricated-/degenerate-data screen for measurement streams.
    *
    * Scale shape: digit extraction is a map-side projection (the one
    * transcendental, log10, rounds to 9 before FLOOR so both engines
    * bin boundary values identically); ONE (channel, digit)-keyed
    * partial agg; totals, expected fractions, and χ² all live on the
    * ≤ 9·k summary rows.
    */
  def benford(ts: DataFrame): DataFrame = {
    val av = abs(col("v"))
    val digit = floor(av / pow(lit(10.0), floor(round(log10(av), 9)))).cast("long")
    val counts = ts
      .filter(av > 0)
      .select(col("channel"), digit.as("digit"))
      .filter(col("digit").between(1, 9))
      .groupBy(col("channel"), col("digit"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("channel")).agg(sum(col("n")).as("__tot"))
    val exp9 = round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 9)
    val scored = counts
      .join(broadcast(totals), Seq("channel"))
      .withColumn("obs_frac", round(col("n").cast("double") / col("__tot"), 6))
      .withColumn("exp_frac", round(exp9, 6))
      .withColumn(
        "__chi",
        round(
          (col("n").cast("double") / col("__tot") - exp9) *
            (col("n").cast("double") / col("__tot") - exp9) / exp9 * col("__tot"),
          9
        )
      )
    val chi = scored
      .groupBy(col("channel"))
      .agg(round(detSum(col("__chi")), 6).as("chi2"))
    scored
      .join(broadcast(chi), Seq("channel"))
      .select(col("channel"), col("digit"), col("n"), col("obs_frac"), col("exp_frac"), col("chi2"))
  }

  def tsBenford(spark: SparkSession, dir: String): DataFrame =
    benford(Tables.ts(spark, dir)).orderBy(col("channel"), col("digit"))

  /** Oracle: identical round-9 log10 digit binning, expected
    * fractions, and χ² terms through the DECIMAL sum.
    */
  val tsBenfordSql: String =
    """WITH b AS (
      |  -- the digit projection guards the log itself (NULLIF) in
      |  -- addition to the row filter: DuckDB vectorizes the SELECT
      |  -- over the scan batch, so LOG10 can see a zero the WHERE is
      |  -- about to drop (observed at sf0.1) and abort the query
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(ABS(value) / POW(10.0, FLOOR(ROUND(LOG10(NULLIF(ABS(value), 0.0)), 9)))) AS BIGINT) AS digit
      |  FROM events WHERE ABS(value) > 0),
      |c AS (
      |  SELECT channel, digit, COUNT(*) AS n FROM b
      |  WHERE digit BETWEEN 1 AND 9 GROUP BY 1, 2),
      |t AS (SELECT channel, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1),
      |s AS (
      |  SELECT c.channel, c.digit, c.n, t.tot,
      |    ROUND(CAST(c.n AS DOUBLE) / t.tot, 6) AS obs_frac,
      |    ROUND(ROUND(LN(1.0 + 1.0 / c.digit) / LN(10.0), 9), 6) AS exp_frac,
      |    ROUND((CAST(c.n AS DOUBLE) / t.tot - ROUND(LN(1.0 + 1.0 / c.digit) / LN(10.0), 9))
      |          * (CAST(c.n AS DOUBLE) / t.tot - ROUND(LN(1.0 + 1.0 / c.digit) / LN(10.0), 9))
      |          / ROUND(LN(1.0 + 1.0 / c.digit) / LN(10.0), 9) * t.tot, 9) AS chi
      |  FROM c JOIN t ON t.channel = c.channel),
      |x AS (
      |  SELECT channel,
      |    ROUND(CAST(SUM(CAST(chi AS DECIMAL(27,10))) AS DOUBLE), 6) AS chi2
      |  FROM s GROUP BY 1)
      |SELECT s.channel, s.digit, s.n, s.obs_frac, s.exp_frac, x.chi2
      |FROM s JOIN x ON x.channel = s.channel
      |ORDER BY s.channel, s.digit""".stripMargin

  // -------------------------------------------------------------------
  // Hourly error proportion with Wilson interval
  // -------------------------------------------------------------------

  /** Hourly error rate with the 95% Wilson score interval — the SRE
    * availability readout: what fraction of this hour's events were
    * errors, with a proportion interval that behaves at small n where
    * the normal approximation collapses.
    *
    * Scale shape: ONE (bucket)-keyed algebraic agg (count + conditional
    * count, partial map-side); the Wilson arithmetic is a pinned-order
    * projection at bucket grain.
    */
  /** The pinned Wilson 95% projection over (n, errors) columns —
    * shared by the batch screen and its streaming twin so both emit
    * the identical doubles. z and z² are both pinned LITERALS (3.8416,
    * not 1.96*1.96): the Scala product rounds differently than the
    * parsed SQL literal. Clamped to [0, 1] — which also normalizes the
    * −0.0 a zero-error bucket's rounding produces in one engine.
    */
  private[graft] def wilsonColumns: Seq[Column] = {
    val z = 1.96
    val n = col("n").cast("double")
    val p = col("errors").cast("double") / n
    val z2 = lit(3.8416)
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (lit(2.0) * n)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    Seq(
      round(p, 6).as("rate"),
      round(greatest((center - half) / denom, lit(0.0)), 6).as("wilson_lo"),
      round(least((center + half) / denom, lit(1.0)), 6).as("wilson_hi")
    )
  }

  def errorRate(ts: DataFrame, bucketUs: Long, errorChannel: String = "error"): DataFrame =
    ts
      .groupBy(microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("channel") === errorChannel, lit(1))).as("errors")
      )
      .select(
        Seq((col("bucket") * bucketUs).as("t"), col("n"), col("errors")) ++ wilsonColumns: _*
      )

  def tsErrorRate(spark: SparkSession, dir: String): DataFrame =
    errorRate(Tables.ts(spark, dir), BucketUs).orderBy(col("t"))

  /** Oracle: identical conditional counts and pinned Wilson order. */
  val tsErrorRateSql: String =
    s"""WITH a AS (
       |  SELECT CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |    COUNT(*) AS n,
       |    COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors
       |  FROM events GROUP BY 1)
       |SELECT bucket * $BucketUs AS t, n, errors,
       |  ROUND(CAST(errors AS DOUBLE) / n, 6) AS rate,
       |  ROUND(GREATEST(((CAST(errors AS DOUBLE) / n) + 3.8416 / (2.0 * n)
       |    - 1.96 * SQRT((CAST(errors AS DOUBLE) / n) * (1.0 - CAST(errors AS DOUBLE) / n) / n
       |                  + 3.8416 / (4.0 * n * n)))
       |    / (1.0 + 3.8416 / n), 0.0), 6) AS wilson_lo,
       |  ROUND(LEAST(((CAST(errors AS DOUBLE) / n) + 3.8416 / (2.0 * n)
       |    + 1.96 * SQRT((CAST(errors AS DOUBLE) / n) * (1.0 - CAST(errors AS DOUBLE) / n) / n
       |                  + 3.8416 / (4.0 * n * n)))
       |    / (1.0 + 3.8416 / n), 1.0), 6) AS wilson_hi
       |FROM a
       |ORDER BY t""".stripMargin

  // -------------------------------------------------------------------
  // DAU / WAU engagement
  // -------------------------------------------------------------------

  /** Daily and trailing-7-day active users with the DAU/WAU stickiness
    * ratio — the product-engagement readout. WAU for day d counts
    * users active in [d−6, d].
    *
    * Scale shape: the stream reduces FIRST to the distinct (user, day)
    * relation (one partial-dedup exchange — rolling distinct never
    * touches raw events); each (user, day) then explodes to the ≤7
    * days it can serve and dedups per (user, served-day) — all at
    * user-day summary grain, never event grain. No window anywhere.
    */
  def dauWau(ts: DataFrame): DataFrame = {
    val DayUs = 86400000000L
    val ud = ts
      .select(col("user_id"), expr(s"t div $DayUs").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .withColumn("__serve", explode(sequence(col("day"), col("day") + lit(6L))))
      .select(col("user_id"), col("__serve").as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("wau"))
    dau
      .join(wau, Seq("day"))
      .select(
        col("day"),
        col("dau"),
        col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness")
      )
  }

  def tsDau(spark: SparkSession, dir: String): DataFrame =
    dauWau(Tables.ts(spark, dir)).orderBy(col("day"))

  /** Oracle: the same user-day reduction, 7-day serve explode, and
    * join restricted to days with actual activity.
    */
  val tsDauSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
      |served AS (
      |  SELECT DISTINCT user_id, day + o AS day
      |  FROM ud, UNNEST(range(0, 7)) AS t(o)),
      |wau AS (SELECT day, COUNT(*) AS wau FROM served GROUP BY 1)
      |SELECT dau.day, dau.dau, wau.wau,
      |  ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
      |FROM dau JOIN wau ON wau.day = dau.day
      |ORDER BY dau.day""".stripMargin

  // -------------------------------------------------------------------
  // Robust percentile bands per bucket
  // -------------------------------------------------------------------

  /** Exact discrete p10/p50/p90 bands per (channel, bucket) — the
    * robust envelope a monitoring view draws where min/max
    * ([[downsample]]) is outlier-dragged and mean±σ assumes symmetry.
    * "Discrete" = the band value is an ACTUAL SAMPLE: the
    * value-ordered element at index ⌊q·(n−1)⌋ (lower interpolation),
    * so no engine-specific quantile interpolation enters — both sides
    * pick the same element by the same integer index formula.
    *
    * Scale shape: the rank window partitions by (channel, bucket) — a
    * finer-than-channel key, hot channels split across buckets — and
    * the band pick is one conditional agg over the ranked rows. No
    * unpartitioned or channel-alone window anywhere.
    */
  def percentileBands(ts: DataFrame, bucketUs: Long): DataFrame = {
    val w = Window
      .partitionBy(col("channel"), col("__bucket"))
      .orderBy(col("v"), col("event_id"))
    def idx(q: Double) = floor(lit(q) * (col("__cnt") - lit(1L))).cast("long")
    withTieBreak(ts)
      .select(col("channel"), microsBucket(col("t"), bucketUs).as("__bucket"), col("v"), col("event_id"))
      .withColumn("__rn", row_number().over(w).cast("long") - 1L)
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("channel"), col("__bucket"))))
      .groupBy(col("channel"), col("__bucket").as("bucket"))
      .agg(
        max(col("__cnt")).as("n"),
        max(when(col("__rn") === idx(0.1), col("v"))).as("p10"),
        max(when(col("__rn") === idx(0.5), col("v"))).as("p50"),
        max(when(col("__rn") === idx(0.9), col("v"))).as("p90")
      )
      .select(col("channel"), (col("bucket") * bucketUs).as("t"), col("n"),
        col("p10"), col("p50"), col("p90"))
  }

  def tsBands(spark: SparkSession, dir: String): DataFrame =
    percentileBands(Tables.ts(spark, dir), BucketUs)
      .orderBy(col("channel"), col("t"))

  /** Oracle: identical rank/index-formula band picks. */
  val tsBandsSql: String =
    s"""WITH e AS (
       |  SELECT event_type AS channel,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket, value AS v, event_id
       |  FROM events),
       |r AS (
       |  SELECT channel, bucket, v,
       |    ROW_NUMBER() OVER (PARTITION BY channel, bucket ORDER BY v, event_id) - 1 AS rn,
       |    COUNT(*) OVER (PARTITION BY channel, bucket) AS cnt
       |  FROM e)
       |SELECT channel, bucket * $BucketUs AS t, MAX(cnt) AS n,
       |  MAX(CASE WHEN rn = CAST(FLOOR(0.1 * (cnt - 1)) AS BIGINT) THEN v END) AS p10,
       |  MAX(CASE WHEN rn = CAST(FLOOR(0.5 * (cnt - 1)) AS BIGINT) THEN v END) AS p50,
       |  MAX(CASE WHEN rn = CAST(FLOOR(0.9 * (cnt - 1)) AS BIGINT) THEN v END) AS p90
       |FROM r GROUP BY channel, bucket
       |ORDER BY channel, t""".stripMargin

  // -------------------------------------------------------------------
  // Partial autocorrelation (Durbin–Levinson over the ACF summary)
  // -------------------------------------------------------------------

  /** Sample autocorrelations at lags 1..3 (global-mean convention,
    * r_k = Σ(v_t−μ)(v_{t−k}−μ) / Σ(v_t−μ)²) and the partial
    * autocorrelations via the Durbin–Levinson recursion — the
    * Box–Jenkins AR-order readout [[lagCorrelation]]'s single
    * Pearson lag-1 doesn't give.
    *
    * Scale shape: the three lags evaluate over [[withBlockHalo]]'s
    * halo-replicated row blocks (halo 3 — no channel-alone window over
    * the data); ONE algebraic DECIMAL agg reduces everything to a
    * k-row channel summary carrying per-lag pair sums; the numerator
    * expansion (Σv_t·v_{t−k} − μ·Σv_t − μ·Σv_{t−k} + m_k·μ²) and the
    * DL recursion are pinned-order projections on those k rows.
    * Portability: r_k rounds to 9 before entering DL; constant
    * channels NULLIF out of the division in both engines.
    */
  def pacf(ts: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val padded = withBlockHalo(
      withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id")),
      halo = 3,
      stitchBucketUs,
      Seq("event_id")
    )
    val w = Window.partitionBy(col("channel"), col("__tgt")).orderBy(col("__rn"))
    val lagged = padded
      .withColumn("__l1", lag(col("v"), 1).over(w))
      .withColumn("__l2", lag(col("v"), 2).over(w))
      .withColumn("__l3", lag(col("v"), 3).over(w))
      .filter(col("__tgt") === col("__blk"))
    def pairSums(k: Int) = Seq(
      count(col(s"__l$k")).as(s"m$k"),
      detSum(when(col(s"__l$k").isNotNull, col("v") * col(s"__l$k"))).as(s"sxy$k"),
      detSum(when(col(s"__l$k").isNotNull, col("v"))).as(s"sx$k"),
      detSum(col(s"__l$k")).as(s"sl$k")
    )
    val agg0 = Seq(
      count(lit(1)).as("n"),
      detSum(col("v")).as("s1"),
      detSum(col("v") * col("v")).as("s2")
    ) ++ pairSums(1) ++ pairSums(2) ++ pairSums(3)
    val stats = lagged.groupBy(col("channel")).agg(agg0.head, agg0.tail: _*)
    val mu = col("s1") / col("n")
    val den = nullif(col("s2") - col("s1") * col("s1") / col("n"), lit(0.0))
    def rk(k: Int) = round(
      (col(s"sxy$k") - mu * col(s"sx$k") - mu * col(s"sl$k") + col(s"m$k") * mu * mu) / den,
      9
    )
    val withR = stats
      .select(col("channel"), col("n"), rk(1).as("r1"), rk(2).as("r2"), rk(3).as("r3"))
    // Durbin–Levinson: φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²);
    // φ21 = φ11 − φ22·φ11; φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2)
    val phi22 = (col("r2") - col("r1") * col("r1")) /
      nullif(lit(1.0) - col("r1") * col("r1"), lit(0.0))
    withR
      .withColumn("__p22", phi22)
      .withColumn("__p21", col("r1") - col("__p22") * col("r1"))
      .select(
        col("channel"),
        col("n"),
        col("r1"),
        col("r2"),
        col("r3"),
        round(col("r1"), 6).as("pacf1"),
        round(col("__p22"), 6).as("pacf2"),
        round(
          (col("r3") - col("__p21") * col("r2") - col("__p22") * col("r1")) /
            nullif(lit(1.0) - col("__p21") * col("r1") - col("__p22") * col("r2"), lit(0.0)),
          6
        ).as("pacf3")
      )
  }

  def tsPacf(spark: SparkSession, dir: String): DataFrame =
    pacf(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Oracle: the three-lag window, the identical numerator expansion,
    * the same round-9 r's and pinned DL arithmetic.
    */
  val tsPacfSql: String =
    """WITH p AS (
      |  SELECT event_type AS channel, value AS v,
      |    LAG(value) OVER w AS l1, LAG(value, 2) OVER w AS l2, LAG(value, 3) OVER w AS l3
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)),
      |s AS (
      |  SELECT channel, COUNT(*) AS n,
      |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) AS s2,
      |    COUNT(l1) AS m1,
      |    CAST(SUM(CAST(CASE WHEN l1 IS NOT NULL THEN v * l1 END AS DECIMAL(27,10))) AS DOUBLE) AS sxy1,
      |    CAST(SUM(CAST(CASE WHEN l1 IS NOT NULL THEN v END AS DECIMAL(27,10))) AS DOUBLE) AS sx1,
      |    CAST(SUM(CAST(l1 AS DECIMAL(27,10))) AS DOUBLE) AS sl1,
      |    COUNT(l2) AS m2,
      |    CAST(SUM(CAST(CASE WHEN l2 IS NOT NULL THEN v * l2 END AS DECIMAL(27,10))) AS DOUBLE) AS sxy2,
      |    CAST(SUM(CAST(CASE WHEN l2 IS NOT NULL THEN v END AS DECIMAL(27,10))) AS DOUBLE) AS sx2,
      |    CAST(SUM(CAST(l2 AS DECIMAL(27,10))) AS DOUBLE) AS sl2,
      |    COUNT(l3) AS m3,
      |    CAST(SUM(CAST(CASE WHEN l3 IS NOT NULL THEN v * l3 END AS DECIMAL(27,10))) AS DOUBLE) AS sxy3,
      |    CAST(SUM(CAST(CASE WHEN l3 IS NOT NULL THEN v END AS DECIMAL(27,10))) AS DOUBLE) AS sx3,
      |    CAST(SUM(CAST(l3 AS DECIMAL(27,10))) AS DOUBLE) AS sl3
      |  FROM p GROUP BY 1),
      |r AS (
      |  SELECT channel, n,
      |    ROUND((sxy1 - (s1 / n) * sx1 - (s1 / n) * sl1 + m1 * (s1 / n) * (s1 / n))
      |          / NULLIF(s2 - s1 * s1 / n, 0.0), 9) AS r1,
      |    ROUND((sxy2 - (s1 / n) * sx2 - (s1 / n) * sl2 + m2 * (s1 / n) * (s1 / n))
      |          / NULLIF(s2 - s1 * s1 / n, 0.0), 9) AS r2,
      |    ROUND((sxy3 - (s1 / n) * sx3 - (s1 / n) * sl3 + m3 * (s1 / n) * (s1 / n))
      |          / NULLIF(s2 - s1 * s1 / n, 0.0), 9) AS r3
      |  FROM s),
      |dl AS (
      |  SELECT channel, n, r1, r2, r3,
      |    (r2 - r1 * r1) / NULLIF(1.0 - r1 * r1, 0.0) AS p22
      |  FROM r),
      |dl2 AS (SELECT *, r1 - p22 * r1 AS p21 FROM dl)
      |SELECT channel, n, r1, r2, r3,
      |  ROUND(r1, 6) AS pacf1,
      |  ROUND(p22, 6) AS pacf2,
      |  ROUND((r3 - p21 * r2 - p22 * r1)
      |        / NULLIF(1.0 - p21 * r1 - p22 * r2, 0.0), 6) AS pacf3
      |FROM dl2
      |ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // Welch two-sample t-test between channels
  // -------------------------------------------------------------------

  /** Welch's unequal-variance two-sample t-test between every channel
    * pair — "do these two streams have the same mean" with the
    * Welch–Satterthwaite effective degrees of freedom, the A/B
    * comparison readout next to [[mutualInfo]]'s dependence screen.
    *
    * Scale shape: ONE algebraic DECIMAL-moment partial agg reduces the
    * stream to a k-row channel summary; the pair cross join and all
    * t/dof arithmetic run on those k rows (broadcast). Portability:
    * sample variance, t and dof are written in one pinned double order
    * over the DECIMAL-summed moments, rounded at the end.
    */
  def welchTTest(ts: DataFrame): DataFrame = {
    val stats = ts
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n"),
        detSum(col("v")).as("__s1"),
        detSum(col("v") * col("v")).as("__s2")
      )
      .filter(col("n") > 1)
      .select(
        col("channel"),
        col("n"),
        (col("__s1") / col("n")).as("__m"),
        // sample variance (n-1): pinned order over the DECIMAL moments
        (greatest(col("__s2") - col("__s1") * col("__s1") / col("n"), lit(0.0)) /
          (col("n") - lit(1L))).as("__var")
      )
    val a = stats.select(
      col("channel").as("ch_a"),
      col("n").as("__na"),
      col("__m").as("__ma"),
      col("__var").as("__va")
    )
    val b = stats.select(
      col("channel").as("ch_b"),
      col("n").as("__nb"),
      col("__m").as("__mb"),
      col("__var").as("__vb")
    )
    val sea = col("__va") / col("__na")
    val seb = col("__vb") / col("__nb")
    a.crossJoin(broadcast(b))
      .filter(col("ch_a") < col("ch_b"))
      .select(
        col("ch_a"),
        col("ch_b"),
        col("__na").as("n_a"),
        col("__nb").as("n_b"),
        round(col("__ma"), 6).as("mean_a"),
        round(col("__mb"), 6).as("mean_b"),
        round((col("__ma") - col("__mb")) / sqrt(sea + seb), 6).as("t_stat"),
        round(
          (sea + seb) * (sea + seb) /
            (sea * sea / (col("__na") - lit(1L)) + seb * seb / (col("__nb") - lit(1L))),
          6
        ).as("dof")
      )
  }

  def tsTtest(spark: SparkSession, dir: String): DataFrame =
    welchTTest(Tables.ts(spark, dir)).orderBy(col("ch_a"), col("ch_b"))

  /** Oracle: identical DECIMAL moments and the same pinned t/dof
    * arithmetic over the k-row channel summary.
    */
  val tsTtestSql: String =
    """WITH s AS (
      |  SELECT event_type AS channel, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(value * value AS DECIMAL(27,10))) AS DOUBLE) AS s2
      |  FROM events GROUP BY 1 HAVING COUNT(*) > 1),
      |m AS (
      |  SELECT channel, n, s1 / n AS mu,
      |    GREATEST(s2 - s1 * s1 / n, 0.0) / (n - 1) AS var
      |  FROM s)
      |SELECT a.channel AS ch_a, b.channel AS ch_b, a.n AS n_a, b.n AS n_b,
      |  ROUND(a.mu, 6) AS mean_a, ROUND(b.mu, 6) AS mean_b,
      |  ROUND((a.mu - b.mu) / SQRT(a.var / a.n + b.var / b.n), 6) AS t_stat,
      |  ROUND((a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n) /
      |        ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
      |         + (b.var / b.n) * (b.var / b.n) / (b.n - 1)), 6) AS dof
      |FROM m a JOIN m b ON a.channel < b.channel
      |ORDER BY ch_a, ch_b""".stripMargin

  // -------------------------------------------------------------------
  // User-journey trigrams (path analysis)
  // -------------------------------------------------------------------

  /** Top user-journey trigrams: the most frequent ordered
    * (event, event, event) sequences users actually walk — the product
    * analytics "common paths" readout next to [[funnel]]'s fixed-order
    * conversion and [[sessionize]]'s grouping.
    *
    * Scale shape: the per-user ordered stream rides the SAME block-halo
    * machinery as the per-channel signal kernels (the user id is just
    * the partition key — [[withBlockHalo]] is key-agnostic), so the
    * 2-step lags evaluate with no user-alone window over a hot user's
    * history; the trigram count is one partial agg over the lagged
    * projection, and the top-k cut is a TakeOrderedAndProject with the
    * rank window over the limited rows.
    */
  def journeyTrigrams(
    ts: DataFrame,
    k: Int = 15,
    stitchBucketUs: Long = StitchBucketUs
  ): DataFrame = {
    val s = ts.select(
      col("channel").as("et"),
      col("t"),
      col("event_id"),
      col("user_id").as("channel")
    )
    val padded = withBlockHalo(s, halo = 2, stitchBucketUs, Seq("event_id"))
    val w = Window.partitionBy(col("channel"), col("__tgt")).orderBy(col("__rn"))
    val grams = padded
      .withColumn("__p1", lag(col("et"), 1).over(w))
      .withColumn("__p2", lag(col("et"), 2).over(w))
      .filter(col("__tgt") === col("__blk"))
      .filter(col("__p1").isNotNull && col("__p2").isNotNull)
      .groupBy(col("__p2").as("step1"), col("__p1").as("step2"), col("et").as("step3"))
      .agg(count(lit(1)).as("n"))
    val top = grams.orderBy(col("n").desc, col("step1"), col("step2"), col("step3")).limit(k)
    val byN = Window.orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
    top
      .withColumn("rank", row_number().over(byN).cast("long"))
      .select(col("rank"), col("step1"), col("step2"), col("step3"), col("n"))
  }

  def tsJourneys(spark: SparkSession, dir: String): DataFrame =
    journeyTrigrams(Tables.ts(spark, dir)).orderBy(col("rank"))

  /** First-order Markov transition matrix over per-user event
    * sequences: P(next = b | current = a) with counts and row
    * totals — the behavioral-model primitive under [[journeyTrigrams]]
    * (which keeps only the top paths; this keeps the full k² matrix a
    * simulator or anomaly scorer consumes).
    *
    * Scale shape: the same user-keyed block-halo lag as journeys (a
    * hot user splits across tasks); the matrix is one
    * (from, to)-keyed partial agg at event-type² cardinality; row
    * totals broadcast back. Probabilities are long/long divisions in
    * pinned double order, round-6.
    */
  def transitionMatrix(ts: DataFrame, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val s = ts.select(
      col("channel").as("et"),
      col("t"),
      col("event_id"),
      col("user_id").as("channel")
    )
    val padded = withBlockHalo(s, halo = 1, stitchBucketUs, Seq("event_id"))
    val w = Window.partitionBy(col("channel"), col("__tgt")).orderBy(col("__rn"))
    val pairs = padded
      .withColumn("__p1", lag(col("et"), 1).over(w))
      .filter(col("__tgt") === col("__blk"))
      .filter(col("__p1").isNotNull)
      .groupBy(col("__p1").as("from_type"), col("et").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("row_n"))
    pairs
      .join(broadcast(totals), Seq("from_type"))
      .select(
        col("from_type"),
        col("to_type"),
        col("n"),
        col("row_n"),
        round(col("n").cast("double") / col("row_n").cast("double"), 6).as("p")
      )
  }

  def tsTransitions(spark: SparkSession, dir: String): DataFrame =
    transitionMatrix(Tables.ts(spark, dir)).orderBy(col("from_type"), col("to_type"))

  val tsTransitionsSql: String =
    """WITH e AS (
      |  SELECT event_type AS et,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS p1
      |  FROM events),
      |g AS (
      |  SELECT p1 AS from_type, et AS to_type, COUNT(*) AS n
      |  FROM e WHERE p1 IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n FROM g GROUP BY 1)
      |SELECT g.from_type, g.to_type, g.n, t.row_n,
      |  ROUND(CAST(g.n AS DOUBLE) / CAST(t.row_n AS DOUBLE), 6) AS p
      |FROM g JOIN t ON t.from_type = g.from_type
      |ORDER BY g.from_type, g.to_type""".stripMargin

  /** Oracle: the double-lag per-user window with the identical
    * (n DESC, steps) cut and rank.
    */
  val tsJourneysSql: String =
    """WITH e AS (
      |  SELECT event_type AS et,
      |    LAG(event_type) OVER w AS p1, LAG(event_type, 2) OVER w AS p2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |g AS (
      |  SELECT p2 AS step1, p1 AS step2, et AS step3, COUNT(*) AS n
      |  FROM e WHERE p1 IS NOT NULL AND p2 IS NOT NULL GROUP BY 1, 2, 3),
      |top AS (SELECT * FROM g ORDER BY n DESC, step1, step2, step3 LIMIT 15)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, step1, step2, step3) AS BIGINT) AS rank,
      |  step1, step2, step3, n
      |FROM top ORDER BY rank""".stripMargin

  // -------------------------------------------------------------------
  // Pairwise mutual information (nonlinear channel dependence)
  // -------------------------------------------------------------------

  /** Mutual information between channel pairs over equal-width-binned
    * hourly means — the NONLINEAR dependence screen that catches what
    * [[spectralCoherence]]'s and xcorr's linear statistics miss
    * (identical bins → MI = marginal entropy; shuffled bins → 0).
    *
    * Scale shape: the stream reduces to (channel, bucket) means FIRST
    * (one algebraic partial agg — the only sample-scale pass); binning
    * joins a broadcast k-row min/max relation; the pair join and every
    * marginal run on the bucket-grain summary, keyed by bucket so
    * pairs distribute (the coherence post-reduction shape). The MI sum
    * itself is pure integers: counts from the joint table feed
    * ln(n_ab·N / (n_a·n_b)) — no double enters until the final
    * projections, which are written in one pinned order both engines
    * share.
    */
  def mutualInfo(ts: DataFrame, bucketUs: Long, bins: Int = 4): DataFrame = {
    val m = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(round(detAvg(col("v")), 6).as("mv"))
    val rng = m.groupBy(col("channel")).agg(min(col("mv")).as("__mn"), max(col("mv")).as("__mx"))
    val binned = m
      .join(broadcast(rng), Seq("channel"))
      .withColumn(
        "bin",
        when(
          col("__mx") > col("__mn"),
          least(
            floor((col("mv") - col("__mn")) / (col("__mx") - col("__mn")) * bins),
            lit((bins - 1).toLong)
          )
        ).otherwise(0L).cast("long")
      )
      .select(col("channel"), col("bucket"), col("bin"))
    val a = binned.select(col("channel").as("ch_a"), col("bucket"), col("bin").as("bin_a"))
    val b = binned.select(col("channel").as("ch_b"), col("bucket"), col("bin").as("bin_b"))
    val joint = a
      .join(b, Seq("bucket"))
      .filter(col("ch_a") < col("ch_b"))
      .groupBy(col("ch_a"), col("ch_b"), col("bin_a"), col("bin_b"))
      .agg(count(lit(1)).as("n_ab"))
    val tot = joint.groupBy(col("ch_a"), col("ch_b")).agg(sum(col("n_ab")).as("__N"))
    val ma = joint.groupBy(col("ch_a"), col("ch_b"), col("bin_a")).agg(sum(col("n_ab")).as("__na"))
    val mb = joint.groupBy(col("ch_a"), col("ch_b"), col("bin_b")).agg(sum(col("n_ab")).as("__nb"))
    joint
      .join(ma, Seq("ch_a", "ch_b", "bin_a"))
      .join(mb, Seq("ch_a", "ch_b", "bin_b"))
      .join(broadcast(tot), Seq("ch_a", "ch_b"))
      .withColumn(
        "__term",
        round(
          (col("n_ab").cast("double") / col("__N").cast("double")) *
            round(
              log(
                (col("n_ab").cast("double") * col("__N").cast("double")) /
                  (col("__na").cast("double") * col("__nb").cast("double"))
              ),
              9
            ),
          9
        )
      )
      .groupBy(col("ch_a"), col("ch_b"))
      .agg(
        max(col("__N")).as("n_buckets"),
        round(detSum(col("__term")), 6).as("mi")
      )
  }

  def tsMi(spark: SparkSession, dir: String): DataFrame =
    mutualInfo(Tables.ts(spark, dir), BucketUs)
      .orderBy(col("ch_a"), col("ch_b"))

  /** Oracle: the bucket-mean/bin/joint/marginal pipeline verbatim with
    * the identical pinned double order and round-9 ln terms.
    */
  val tsMiSql: String =
    s"""WITH m AS (
       |  SELECT event_type AS channel,
       |    CAST(FLOOR(epoch_us(ts) / $BucketUs) AS BIGINT) AS bucket,
       |    ROUND(CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS mv
       |  FROM events GROUP BY 1, 2),
       |rng AS (SELECT channel, MIN(mv) AS mn, MAX(mv) AS mx FROM m GROUP BY 1),
       |binned AS (
       |  SELECT m.channel, m.bucket,
       |    CASE WHEN rng.mx > rng.mn
       |         THEN CAST(LEAST(FLOOR((m.mv - rng.mn) / (rng.mx - rng.mn) * 4), 3) AS BIGINT)
       |         ELSE 0 END AS bin
       |  FROM m JOIN rng ON rng.channel = m.channel),
       |joint AS (
       |  SELECT a.channel AS ch_a, b.channel AS ch_b, a.bin AS bin_a, b.bin AS bin_b,
       |    COUNT(*) AS n_ab
       |  FROM binned a JOIN binned b ON a.bucket = b.bucket AND a.channel < b.channel
       |  GROUP BY 1, 2, 3, 4),
       |tot AS (SELECT ch_a, ch_b, CAST(SUM(n_ab) AS BIGINT) AS N FROM joint GROUP BY 1, 2),
       |ma AS (SELECT ch_a, ch_b, bin_a, SUM(n_ab) AS na FROM joint GROUP BY 1, 2, 3),
       |mb AS (SELECT ch_a, ch_b, bin_b, SUM(n_ab) AS nb FROM joint GROUP BY 1, 2, 3),
       |terms AS (
       |  SELECT j.ch_a, j.ch_b, t.N,
       |    ROUND((CAST(j.n_ab AS DOUBLE) / CAST(t.N AS DOUBLE)) *
       |      ROUND(LN((CAST(j.n_ab AS DOUBLE) * CAST(t.N AS DOUBLE)) /
       |                (CAST(ma.na AS DOUBLE) * CAST(mb.nb AS DOUBLE))), 9), 9) AS term
       |  FROM joint j
       |  JOIN ma ON ma.ch_a = j.ch_a AND ma.ch_b = j.ch_b AND ma.bin_a = j.bin_a
       |  JOIN mb ON mb.ch_a = j.ch_a AND mb.ch_b = j.ch_b AND mb.bin_b = j.bin_b
       |  JOIN tot t ON t.ch_a = j.ch_a AND t.ch_b = j.ch_b)
       |SELECT ch_a, ch_b, MAX(N) AS n_buckets,
       |  ROUND(CAST(SUM(CAST(term AS DECIMAL(27,10))) AS DOUBLE), 6) AS mi
       |FROM terms GROUP BY 1, 2
       |ORDER BY ch_a, ch_b""".stripMargin

  // -------------------------------------------------------------------
  // Extreme-value analysis (block maxima + Gumbel moment fit)
  // -------------------------------------------------------------------

  /** Euler–Mascheroni constant and √6/π — the Gumbel method-of-moments
    * factors; Gumbel return-level quantile factors −ln(−ln(1−1/T)) for
    * T = 30 and 365 days, pinned as literals so both engines use the
    * identical double (no cross-engine libm nesting).
    */
  private val EulerGamma = 0.5772156649015329
  private val Sqrt6OverPi = 0.779696801233676
  private val GumbelY30 = 3.3842944934992527
  private val GumbelY365 = 5.8985259242227315

  /** Extreme-value screen per channel: daily block maxima reduced to a
    * Gumbel method-of-moments fit (β = s·√6/π, μ = m − γβ) plus the
    * 30-day and 365-day return levels μ + β·y_T — the "how bad can a
    * spike get" capacity-planning primitive (Gumbel 1958; the block-
    * maxima route to the extreme-value theorem).
    *
    * Scale shape: one partial agg to (channel, day) block maxima (max
    * is algebraic — combines map-side), one partial agg to channel
    * grain DECIMAL moments, then k-row arithmetic. The corpus is
    * scanned once and never windowed.
    *
    * Portability: the daily maxima are exact doubles (max moves values,
    * never arithmetic); moments sum through DECIMAL; mean/sd and every
    * Gumbel factor derive in one pinned expression order with literal
    * constants.
    */
  def extremesScreen(ts: DataFrame, blockUs: Long = 86400000000L): DataFrame = {
    val dmax = ts
      .groupBy(col("channel"), microsBucket(col("t"), blockUs).as("__day"))
      .agg(max(col("v")).as("__mx"))
    dmax
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("__mx").cast(dec2710)).as("__s1"),
        sum((col("__mx") * col("__mx")).cast(dec2710)).as("__s2"),
        max(col("__mx")).as("observed_max")
      )
      .filter(col("n_blocks") >= 2)
      .withColumn("__m", col("__s1").cast("double") / col("n_blocks"))
      .withColumn(
        "__sd",
        sqrt(
          greatest(
            (col("__s2").cast("double") - col("n_blocks") * col("__m") * col("__m")) /
              (col("n_blocks") - 1),
            lit(0.0)
          )
        )
      )
      .withColumn("__beta", col("__sd") * lit(Sqrt6OverPi))
      .withColumn("__mu", col("__m") - lit(EulerGamma) * col("__beta"))
      .select(
        col("channel"),
        col("n_blocks"),
        round(col("__m"), 6).as("block_mean"),
        round(col("__sd"), 6).as("block_sd"),
        round(col("__mu"), 6).as("gumbel_mu"),
        round(col("__beta"), 6).as("gumbel_beta"),
        round(col("__mu") + col("__beta") * lit(GumbelY30), 6).as("rl_30"),
        round(col("__mu") + col("__beta") * lit(GumbelY365), 6).as("rl_365"),
        col("observed_max")
      )
  }

  def tsExtremes(spark: SparkSession, dir: String): DataFrame =
    extremesScreen(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsExtremesSql: String =
    """WITH dmax AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |    MAX(value) AS mx
      |  FROM events GROUP BY 1, 2),
      |mo AS (
      |  SELECT channel, COUNT(*) AS n_blocks,
      |    SUM(CAST(mx AS DECIMAL(27,10))) AS s1,
      |    SUM(CAST(mx * mx AS DECIMAL(27,10))) AS s2,
      |    MAX(mx) AS observed_max
      |  FROM dmax GROUP BY 1 HAVING COUNT(*) >= 2),
      |f AS (
      |  SELECT channel, n_blocks, observed_max,
      |    CAST(s1 AS DOUBLE) / n_blocks AS m,
      |    SQRT(GREATEST((CAST(s2 AS DOUBLE) - n_blocks * (CAST(s1 AS DOUBLE) / n_blocks)
      |      * (CAST(s1 AS DOUBLE) / n_blocks)) / (n_blocks - 1), 0.0)) AS sd
      |  FROM mo),
      |g AS (
      |  SELECT channel, n_blocks, observed_max, m, sd,
      |    sd * 0.779696801233676 AS beta
      |  FROM f),
      |h AS (
      |  SELECT channel, n_blocks, observed_max, m, sd, beta,
      |    m - 0.5772156649015329 * beta AS mu
      |  FROM g)
      |SELECT channel, n_blocks,
      |  ROUND(m, 6) AS block_mean,
      |  ROUND(sd, 6) AS block_sd,
      |  ROUND(mu, 6) AS gumbel_mu,
      |  ROUND(beta, 6) AS gumbel_beta,
      |  ROUND(mu + beta * 3.3842944934992527, 6) AS rl_30,
      |  ROUND(mu + beta * 5.8985259242227315, 6) AS rl_365,
      |  observed_max
      |FROM h
      |ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // Seasonal-residual anomaly detection
  // -------------------------------------------------------------------

  /** Seasonality-aware anomaly screen: the buckets whose residual after
    * removing trend + daily seasonality ([[seasonalDecompose]]) exceeds
    * k·σ of the channel's residual distribution — the STL-residual
    * anomaly detector. A plain z-score ([[zscoreAnomalies]]) flags
    * every rush hour; subtracting the seasonal profile first is what
    * separates "it is 6 pm" from "something broke".
    *
    * Scale shape: everything downstream of the decompose runs on the
    * bucket-grid summary relation; the residual σ is one channel-grain
    * partial agg broadcast back. Portability: resid is round-6 in both
    * engines, σ derives from Σresid² through DECIMAL in pinned order,
    * and the k·σ comparison is strict on identically-derived doubles.
    */
  def seasonalAnomalies(ts: DataFrame, k: Double = 2.5): DataFrame = {
    val d = seasonalDecompose(ts)
    val stats = d
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("__nb"),
        sum((col("resid") * col("resid")).cast(dec2710)).as("__ss")
      )
      .withColumn("sigma", sqrt(col("__ss").cast("double") / col("__nb")))
      .select(col("channel"), col("sigma"))
    d.join(broadcast(stats), Seq("channel"))
      .filter(abs(col("resid")) > lit(k) * col("sigma"))
      .select(
        col("channel"),
        col("bucket"),
        col("n"),
        col("mean"),
        col("trend"),
        col("seasonal"),
        col("resid"),
        round(col("resid") / col("sigma"), 6).as("z")
      )
  }

  def tsAnomaly(spark: SparkSession, dir: String): DataFrame =
    seasonalAnomalies(Tables.ts(spark, dir)).orderBy(col("channel"), col("bucket"))

  /** Oracle: the seasonal-decompose pipeline nested verbatim, then the
    * residual-σ cut with the identical pinned derivation.
    */
  val tsAnomalySql: String =
    s"""WITH dec AS ($tsSeasonalSql),
       |st AS (
       |  SELECT channel, SQRT(CAST(SUM(CAST(resid * resid AS DECIMAL(27,10))) AS DOUBLE)
       |    / COUNT(*)) AS sigma
       |  FROM dec GROUP BY 1)
       |SELECT dec.channel, dec.bucket, dec.n, dec.mean, dec.trend, dec.seasonal, dec.resid,
       |  ROUND(dec.resid / st.sigma, 6) AS z
       |FROM dec JOIN st ON st.channel = dec.channel
       |WHERE ABS(dec.resid) > 2.5 * st.sigma
       |ORDER BY dec.channel, dec.bucket""".stripMargin

  // -------------------------------------------------------------------
  // Exponentially-weighted moving baseline (truncated dyadic kernel)
  // -------------------------------------------------------------------

  /** EWMA kernel length: weights 2^(K−1−j) for bucket distance
    * j = 0..K−1 — the α = 1/2 exponential kernel scaled to INTEGERS
    * (half-life = one bucket), truncated where the weight reaches 1.
    * Integer weights are the portability trick: every kernel term is
    * mean × exact-long, so no cross-engine pow/rounding drift exists
    * anywhere in the operator.
    */
  val EwmaK = 32

  /** Exponentially-weighted moving baseline over the bucket grid: for
    * each non-empty bucket, the weight-2^{K−1−j} average of the bucket
    * means at distance j = 0..K−1 — the truncated α = ½ EWMA, the
    * recency-weighted complement to [[rollingBaseline]]'s flat window.
    * Missing buckets simply contribute nothing (calendar-aware decay),
    * and the weight sum renormalizes over the buckets present.
    *
    * Scale shape: the corpus reduces to the (channel, bucket) grid in
    * one partial agg; the kernel is an explode(K) + equi-keyed
    * re-aggregation ON THE GRID (summary-scale — never the data
    * stream), then a co-keyed join back. No window, no range join, no
    * per-channel sort anywhere.
    *
    * Portability: bucket means are exact-DECIMAL-sum doubles; each
    * kernel term is mean × integer-weight cast to DECIMAL(38,10) (sum
    * order-independent); the final ratio is one double division.
    */
  def ewmaBaseline(ts: DataFrame, bucketUs: Long = BucketUs, k: Int = EwmaK): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val g = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec2710)).as("__s"))
      .withColumn("__mean", col("__s").cast("double") / col("n"))
    val contrib = g
      .select(col("channel"), col("bucket"), col("__mean"), explode(sequence(lit(0), lit(k - 1))).as("__j"))
      .select(
        col("channel"),
        (col("bucket") + col("__j")).as("bucket"),
        pow(lit(2.0), lit(k - 1) - col("__j")).cast("long").as("__w"),
        (col("__mean") * pow(lit(2.0), lit(k - 1) - col("__j")).cast("long")).cast(dec3810).as("__term")
      )
      .groupBy(col("channel"), col("bucket"))
      .agg(sum(col("__term")).as("__num"), sum(col("__w")).as("__den"))
    g.join(contrib, Seq("channel", "bucket"))
      .select(
        col("channel"),
        col("bucket"),
        col("n"),
        round(col("__mean"), 6).as("mean"),
        round(col("__num").cast("double") / col("__den").cast("double"), 6).as("ewma"),
        round(col("__mean") - col("__num").cast("double") / col("__den").cast("double"), 6).as("dev")
      )
  }

  def tsEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaBaseline(Tables.ts(spark, dir)).orderBy(col("channel"), col("bucket"))

  // -------------------------------------------------------------------
  // Engagement inequality (Gini over per-user activity)
  // -------------------------------------------------------------------

  /** Gini coefficient of per-user event counts per channel — the
    * "whale concentration" readout (how much of the activity a few
    * users carry; 0 = egalitarian, →1 = one user is the product).
    * Computed EXACTLY from the count-value histogram via the pairwise
    * identity G = ΣᵢΣⱼ mᵢmⱼ·|vᵢ−vⱼ| / (2·N·Σx): every quantity stays
    * an integer until the single final division — no sort, no rank,
    * no quantile machinery, fully engine-portable.
    *
    * Scale shape: events → (channel, user) counts (one user-keyed
    * partial agg) → the (channel, count-value) HISTOGRAM (value
    * cardinality — activity counts repeat heavily, so this is tiny) →
    * a per-channel k² pair fan over the histogram. Each mᵢmⱼ|vᵢ−vⱼ|
    * term is computed in DECIMAL(38,0) — the factors are cast BEFORE
    * the multiply, not just the sum, so cell counts near 2^31+ cannot
    * silently wrap in 64-bit intermediate arithmetic at web scale.
    */
  def giniScreen(ts: DataFrame): DataFrame = {
    val dec380 = org.apache.spark.sql.types.DecimalType(38, 0)
    val u = ts
      .groupBy(col("channel"), col("user_id"))
      .agg(count(lit(1)).as("__x"))
    val h = u.groupBy(col("channel"), col("__x")).agg(count(lit(1)).as("__m"))
    val tot = u
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_users"), sum(col("__x")).as("n_events"))
    val a = h.select(col("channel"), col("__x").as("__xa"), col("__m").as("__ma"))
    val b = h.select(col("channel"), col("__x").as("__xb"), col("__m").as("__mb"))
    a.join(b, Seq("channel"))
      .groupBy(col("channel"))
      .agg(
        sum(
          col("__ma").cast(dec380) * col("__mb").cast(dec380) *
            abs(col("__xa") - col("__xb")).cast(dec380)
        ).as("__num")
      )
      .join(broadcast(tot), Seq("channel"))
      .select(
        col("channel"),
        col("n_users"),
        col("n_events"),
        round(
          col("__num").cast("double") /
            (lit(2.0) * col("n_users").cast("double") * col("n_events").cast("double")),
          6
        ).as("gini")
      )
  }

  def tsGini(spark: SparkSession, dir: String): DataFrame =
    giniScreen(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsGiniSql: String =
    """WITH u AS (
      |  SELECT event_type AS channel, user_id, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |h AS (SELECT channel, x, COUNT(*) AS m FROM u GROUP BY 1, 2),
      |t AS (SELECT channel, COUNT(*) AS n_users, CAST(SUM(x) AS BIGINT) AS n_events
      |      FROM u GROUP BY 1),
      |p AS (
      |  SELECT a.channel,
      |    SUM(CAST(a.m AS HUGEINT) * CAST(b.m AS HUGEINT)
      |        * CAST(ABS(a.x - b.x) AS HUGEINT)) AS num
      |  FROM h a JOIN h b ON b.channel = a.channel
      |  GROUP BY 1)
      |SELECT p.channel, t.n_users, t.n_events,
      |  ROUND(CAST(p.num AS DOUBLE) /
      |        (2.0 * CAST(t.n_users AS DOUBLE) * CAST(t.n_events AS DOUBLE)), 6) AS gini
      |FROM p JOIN t ON t.channel = p.channel
      |ORDER BY p.channel""".stripMargin

  // -------------------------------------------------------------------
  // Forecast backtest (holdout MAE / MASE)
  // -------------------------------------------------------------------

  /** Forecast backtest per channel: fit the [[olsForecast]]-style
    * linear trend on the FIRST 80% of the bucket grid, score the last
    * 20% with MAE, and normalize by the in-sample one-step naive error
    * (MASE, Hyndman & Koehler 2006) — MASE < 1 beats "predict the
    * previous bucket", the bar every forecast must clear before
    * anyone trusts it. ts_forecast ships predictions; this ships the
    * EVIDENCE.
    *
    * Scale shape: one corpus partial agg to the grid; the train cut is
    * a k-row broadcast (integer div split point); OLS moments are one
    * train-grain DECIMAL agg; the naive denominator uses a lag over
    * the GRID (summary relation — the ts_rolling precedent); scoring
    * is a broadcast-fit projection + one test-grain agg.
    *
    * Portability: x = bucket − b0 stays integer; every sum routes
    * through DECIMAL; the fit and error expressions derive in pinned
    * double order; MASE divides two DECIMAL-derived means.
    */
  def forecastBacktest(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val g = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("__m"))
    val rng = g
      .groupBy(col("channel"))
      .agg(min(col("bucket")).as("__b0"), max(col("bucket")).as("__b1"))
      .select(col("channel"), col("__b0"), (col("__b0") + expr("(__b1 - __b0) * 4 div 5")).as("__cut"))
    val gg = g.join(broadcast(rng), Seq("channel"))
    val train = gg.filter(col("bucket") <= col("__cut"))
    val fit = train
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_train"),
        sum((col("bucket") - col("__b0")).cast(dec3810)).cast("double").as("__sx"),
        sum(col("__m").cast(dec3810)).cast("double").as("__sy"),
        sum(((col("bucket") - col("__b0")) * col("__m")).cast(dec3810)).cast("double").as("__sxy"),
        sum(((col("bucket") - col("__b0")) * (col("bucket") - col("__b0"))).cast(dec3810))
          .cast("double")
          .as("__sxx")
      )
      .withColumn("__den", col("n_train") * col("__sxx") - col("__sx") * col("__sx"))
      .filter(col("__den") =!= 0.0)
      .withColumn("__slope", (col("n_train") * col("__sxy") - col("__sx") * col("__sy")) / col("__den"))
      .withColumn("__a", (col("__sy") - col("__slope") * col("__sx")) / col("n_train"))
    val wG = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val naive = train
      .withColumn("__pb_prev", lag(col("__m"), 1).over(wG))
      .filter(col("__pb_prev").isNotNull)
      .groupBy(col("channel"))
      .agg(
        (sum(abs(col("__m") - col("__pb_prev")).cast(dec3810)).cast("double") / count(lit(1)))
          .as("__nmae")
      )
      .filter(col("__nmae") > 0.0)
    val test = gg
      .filter(col("bucket") > col("__cut"))
      .join(broadcast(fit), Seq("channel"))
      .withColumn("__err", abs(col("__a") + col("__slope") * (col("bucket") - col("__b0")) - col("__m")))
      .groupBy(col("channel"), col("n_train"), col("__slope"))
      .agg(
        count(lit(1)).as("n_test"),
        (sum(col("__err").cast(dec3810)).cast("double") / count(lit(1))).as("__mae")
      )
    test
      .join(broadcast(naive), Seq("channel"))
      .select(
        col("channel"),
        col("n_train"),
        col("n_test"),
        round(col("__slope"), 9).as("slope"),
        round(col("__mae"), 6).as("mae"),
        round(col("__mae") / col("__nmae"), 6).as("mase")
      )
  }

  def tsForecastEval(spark: SparkSession, dir: String): DataFrame =
    forecastBacktest(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsForecastEvalSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |rng AS (
      |  SELECT channel, MIN(bucket) AS b0,
      |    MIN(bucket) + (MAX(bucket) - MIN(bucket)) * 4 // 5 AS cut
      |  FROM g GROUP BY 1),
      |gg AS (SELECT g.channel, g.bucket, g.m, rng.b0, rng.cut
      |       FROM g JOIN rng ON rng.channel = g.channel),
      |tr AS (SELECT * FROM gg WHERE bucket <= cut),
      |fit AS (
      |  SELECT channel, COUNT(*) AS n_train,
      |    CAST(SUM(CAST(bucket - b0 AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(m AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST((bucket - b0) * m AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST((bucket - b0) * (bucket - b0) AS DECIMAL(38,10))) AS DOUBLE) AS sxx
      |  FROM tr GROUP BY 1),
      |sol AS (
      |  SELECT channel, n_train,
      |    (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) AS slope,
      |    (sy - (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) * sx) / n_train AS a
      |  FROM fit WHERE n_train * sxx - sx * sx <> 0.0),
      |nv AS (
      |  SELECT channel,
      |    CAST(SUM(CAST(ABS(m - pm) AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS nmae
      |  FROM (SELECT channel, m,
      |          LAG(m) OVER (PARTITION BY channel ORDER BY bucket) AS pm
      |        FROM tr) t
      |  WHERE pm IS NOT NULL GROUP BY 1
      |  HAVING CAST(SUM(CAST(ABS(m - pm) AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) > 0.0),
      |te AS (
      |  SELECT gg.channel, sol.n_train, sol.slope, COUNT(*) AS n_test,
      |    CAST(SUM(CAST(ABS(sol.a + sol.slope * (gg.bucket - gg.b0) - gg.m) AS DECIMAL(38,10))) AS DOUBLE)
      |      / COUNT(*) AS mae
      |  FROM gg JOIN sol ON sol.channel = gg.channel
      |  WHERE gg.bucket > gg.cut
      |  GROUP BY 1, 2, 3)
      |SELECT te.channel, te.n_train, te.n_test,
      |  ROUND(te.slope, 9) AS slope,
      |  ROUND(te.mae, 6) AS mae,
      |  ROUND(te.mae / nv.nmae, 6) AS mase
      |FROM te JOIN nv ON nv.channel = te.channel
      |ORDER BY te.channel""".stripMargin

  // -------------------------------------------------------------------
  // Granger-style lead-lag causality screen
  // -------------------------------------------------------------------

  /** Granger-causality screen over the hourly bucket grid: for every
    * ordered channel pair (cause → effect), does the cause's previous
    * bucket improve the one-step autoregression of the effect? The
    * restricted model y_t ~ y_{t−1} and the unrestricted
    * y_t ~ y_{t−1} + x_{t−1} are both closed-form OLS (2×2 normal
    * equations via centered moments), and the F statistic
    * (RSS_r − RSS_u) / (RSS_u / (n−3)) ranks directional lead-lag
    * influence — the screen behind "errors spike an hour before
    * purchases drop". Complements [[mutualInfo]] (symmetric, no
    * direction) and [[lagCorrelation]] (linear, no conditioning on the
    * effect's own history).
    *
    * Scale shape: the corpus reduces to the (channel, bucket) grid in
    * one partial agg; the lag alignment is a three-way equi-join ON
    * THE GRID (bucket-keyed — summary-scale, k-fold fan per bucket);
    * moments are one (cause, effect)-grain partial agg; the OLS
    * algebra runs on k² rows. No window, no per-channel sort.
    *
    * Portability: every moment sums double products through
    * DECIMAL(38,10); the centered moments, normal-equation solve and F
    * derive in one pinned double expression order from identical
    * inputs, so both engines agree bit-for-bit before the round-6.
    */
  def grangerScreen(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val g = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("__m"))
    val gy = g.select(col("channel").as("effect"), col("bucket"), col("__m").as("__y"))
    val gyp = g.select(col("channel").as("__ec"), (col("bucket") + 1L).as("bucket"), col("__m").as("__yp"))
    val gxp = g.select(col("channel").as("cause"), (col("bucket") + 1L).as("bucket"), col("__m").as("__xp"))
    val s = gy
      .join(gyp, gy("effect") === gyp("__ec") && gy("bucket") === gyp("bucket"))
      .drop(gyp("bucket"))
      .join(gxp, gy("bucket") === gxp("bucket") && col("cause") =!= col("effect"))
      .groupBy(col("cause"), col("effect"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("__y").cast(dec3810)).cast("double").as("__sy"),
        sum(col("__yp").cast(dec3810)).cast("double").as("__s1"),
        sum(col("__xp").cast(dec3810)).cast("double").as("__s2"),
        sum((col("__y") * col("__y")).cast(dec3810)).cast("double").as("__syy"),
        sum((col("__y") * col("__yp")).cast(dec3810)).cast("double").as("__s1y"),
        sum((col("__y") * col("__xp")).cast(dec3810)).cast("double").as("__s2y"),
        sum((col("__yp") * col("__yp")).cast(dec3810)).cast("double").as("__s11"),
        sum((col("__xp") * col("__xp")).cast(dec3810)).cast("double").as("__s22"),
        sum((col("__yp") * col("__xp")).cast(dec3810)).cast("double").as("__s12")
      )
      .filter(col("n") > 3)
      .withColumn("__Syy", col("__syy") - col("__sy") * col("__sy") / col("n"))
      .withColumn("__S11", col("__s11") - col("__s1") * col("__s1") / col("n"))
      .withColumn("__S22", col("__s22") - col("__s2") * col("__s2") / col("n"))
      .withColumn("__S1y", col("__s1y") - col("__s1") * col("__sy") / col("n"))
      .withColumn("__S2y", col("__s2y") - col("__s2") * col("__sy") / col("n"))
      .withColumn("__S12", col("__s12") - col("__s1") * col("__s2") / col("n"))
      .filter(col("__S11") > 0 && col("__S22") > 0)
      .withColumn("__rssr", col("__Syy") - col("__S1y") * col("__S1y") / col("__S11"))
      .withColumn("__det", col("__S11") * col("__S22") - col("__S12") * col("__S12"))
      .filter(col("__det") =!= 0.0)
      .withColumn("__b1", (col("__S1y") * col("__S22") - col("__S2y") * col("__S12")) / col("__det"))
      .withColumn("__b2", (col("__S2y") * col("__S11") - col("__S1y") * col("__S12")) / col("__det"))
      .withColumn("__rssu", col("__Syy") - col("__b1") * col("__S1y") - col("__b2") * col("__S2y"))
      .filter(col("__rssu") > 0)
    s.select(
      col("cause"),
      col("effect"),
      col("n"),
      round(col("__b2"), 6).as("beta_cause"),
      round(col("__rssr"), 6).as("rss_r"),
      round(col("__rssu"), 6).as("rss_u"),
      round((col("__rssr") - col("__rssu")) / (col("__rssu") / (col("n") - 3)), 6).as("fstat")
    )
  }

  def tsGranger(spark: SparkSession, dir: String): DataFrame =
    grangerScreen(Tables.ts(spark, dir)).orderBy(col("cause"), col("effect"))

  // -------------------------------------------------------------------
  // Sampling-cadence drift screen
  // -------------------------------------------------------------------

  /** Per-(channel, hour) sampling-cadence report: the mean
    * inter-arrival interval of each hour against the channel's overall
    * mean, as a drift ratio — the "is this sensor slowing down /
    * double-reporting" screen ([[arrivalStats]] gives the channel-level
    * CV; this adds the time axis that shows WHEN cadence moved).
    *
    * Scale shape: inter-arrival deltas come from [[withStitchedPrev]]
    * (bucket-local lag + summary carry — never a per-channel sort of
    * the stream); both the hourly and the channel-grain reductions are
    * partial aggs; the channel baseline broadcasts back.
    * Portability: all deltas are exact integers; means are
    * DECIMAL-sum / count in pinned order; the ratio rounds at 6.
    */
  def cadenceDrift(ts: DataFrame, bucketUs: Long = BucketUs, stitchBucketUs: Long = StitchBucketUs): DataFrame = {
    val base = withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id"))
    val dt = withStitchedPrev(base, Seq("t"), stitchBucketUs, Seq("event_id"))
      .filter(col("__prev_t").isNotNull)
      .select(col("channel"), col("t"), (col("t") - col("__prev_t")).as("__dt"))
    val hourly = dt
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(count(lit(1)).as("n_intervals"), sum(col("__dt").cast(dec2710)).as("__s"))
      .withColumn("__mean", col("__s").cast("double") / col("n_intervals"))
    val overall = dt
      .groupBy(col("channel"))
      .agg((sum(col("__dt").cast(dec2710)).cast("double") / count(lit(1))).as("__mean0"))
    hourly
      .join(broadcast(overall), Seq("channel"))
      .select(
        col("channel"),
        col("bucket"),
        col("n_intervals"),
        // integer-µs totals / 1e6 land ON the round-6 grid (safe in
        // both engines); a per-bucket MEAN would land on the half-grid
        // whenever n divides a power of two, where the two engines'
        // double ROUND disagree — so the mean ships only inside the
        // drift ratio, whose denominator de-rationalizes it
        round(col("__s").cast("double") / lit(1000000.0), 6).as("total_dt_s"),
        round(col("__mean") / col("__mean0"), 6).as("drift")
      )
  }

  def tsCadence(spark: SparkSession, dir: String): DataFrame =
    cadenceDrift(Tables.ts(spark, dir)).orderBy(col("channel"), col("bucket"))

  /** Poincaré-plot descriptors per channel (Brennan et al. 2001 — the
    * HRV geometry standard): over successive sample pairs
    * (vᵢ, vᵢ₊₁), SD1 = √(var(vᵢ₊₁−vᵢ)/2) is the short-term
    * (beat-to-beat) scatter across the identity line, SD2 =
    * √(var(vᵢ₊₁+vᵢ)/2) the long-term scatter along it, plus RMSSD and
    * the SD1/SD2 balance — the nonlinear-dynamics complement to
    * [[hjorthParams]] (mobility is a spectral moment; SD1/SD2 split
    * the same variance by lag-1 geometry).
    *
    * Scale shape: successive pairs come from [[withStitchedPrev]]
    * (bucket-local lag + summary carry — never a per-channel sort of
    * the stream); everything after is ONE channel-grain partial agg
    * over the pair sums/squares. Portability: d and s are exact
    * engine-identical doubles, moments route through DECIMAL(38,10)
    * in pinned order, the three sqrt outputs round at 6, and the
    * ratio divides the two ROUNDED descriptors (so both engines
    * branch and divide on identical values); degenerate SD2 = 0
    * yields a NULL ratio.
    */
  def poincareDescriptors(
    ts: DataFrame,
    stitchBucketUs: Long = StitchBucketUs
  ): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val base = withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id"))
    val pairs = withStitchedPrev(base, Seq("v"), stitchBucketUs, Seq("event_id"))
      .filter(col("__prev_v").isNotNull)
      .select(
        col("channel"),
        (col("v") - col("__prev_v")).as("__d"),
        (col("v") + col("__prev_v")).as("__s")
      )
    val vard = col("__sdd").cast("double") / col("n_pairs") -
      (col("__sd").cast("double") / col("n_pairs")) * (col("__sd").cast("double") / col("n_pairs"))
    val vars = col("__sss").cast("double") / col("n_pairs") -
      (col("__ss").cast("double") / col("n_pairs")) * (col("__ss").cast("double") / col("n_pairs"))
    pairs
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__d").cast(dec3810)).as("__sd"),
        sum((col("__d") * col("__d")).cast(dec3810)).as("__sdd"),
        sum(col("__s").cast(dec3810)).as("__ss"),
        sum((col("__s") * col("__s")).cast(dec3810)).as("__sss")
      )
      .select(
        col("channel"),
        col("n_pairs"),
        round(sqrt(greatest(vard / 2.0, lit(0.0))), 6).as("sd1"),
        round(sqrt(greatest(vars / 2.0, lit(0.0))), 6).as("sd2"),
        round(sqrt(col("__sdd").cast("double") / col("n_pairs")), 6).as("rmssd")
      )
      .withColumn(
        "sd_ratio",
        when(col("sd2") > 0.0, round(col("sd1") / col("sd2"), 6))
      )
  }

  def tsPoincare(spark: SparkSession, dir: String): DataFrame =
    poincareDescriptors(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Poincaré oracle: the stitched lag is plain LAG over the channel
    * order; identical DECIMAL moments and rounded-descriptor ratio.
    */
  val tsPoincareSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v, event_id FROM events),
      |p AS (
      |  SELECT channel, v,
      |    LAG(v) OVER (PARTITION BY channel ORDER BY t, event_id) AS pv
      |  FROM e),
      |d AS (
      |  SELECT channel, v - pv AS d, v + pv AS s FROM p WHERE pv IS NOT NULL),
      |mo AS (
      |  SELECT channel, COUNT(*) AS n_pairs,
      |    CAST(SUM(CAST(d AS DECIMAL(38,10))) AS DOUBLE) AS sd,
      |    CAST(SUM(CAST(d * d AS DECIMAL(38,10))) AS DOUBLE) AS sdd,
      |    CAST(SUM(CAST(s AS DECIMAL(38,10))) AS DOUBLE) AS ss,
      |    CAST(SUM(CAST(s * s AS DECIMAL(38,10))) AS DOUBLE) AS sss
      |  FROM d GROUP BY 1),
      |f AS (
      |  SELECT channel, n_pairs,
      |    ROUND(SQRT(GREATEST((sdd / n_pairs - (sd / n_pairs) * (sd / n_pairs)) / 2.0, 0.0)), 6) AS sd1,
      |    ROUND(SQRT(GREATEST((sss / n_pairs - (ss / n_pairs) * (ss / n_pairs)) / 2.0, 0.0)), 6) AS sd2,
      |    ROUND(SQRT(sdd / n_pairs), 6) AS rmssd
      |  FROM mo)
      |SELECT channel, n_pairs, sd1, sd2, rmssd,
      |  CASE WHEN sd2 > 0.0 THEN ROUND(sd1 / sd2, 6) END AS sd_ratio
      |FROM f
      |ORDER BY channel""".stripMargin

  // -------------------------------------------------------------------
  // Haar wavelet energy spectrum (multi-scale variance decomposition)
  // -------------------------------------------------------------------

  /** Haar wavelet energy spectrum per channel: detail coefficients
    * d_l(p) = (M_{l−1}(2p) − M_{l−1}(2p+1))/2 over dyadic calendar
    * blocks of the bucket-mean grid, and the per-level energy Σd² —
    * "how much variance lives at the 2-hour vs 4-hour vs 16-hour
    * scale", the multi-RESOLUTION complement to the Fourier family
    * ([[welchPsd]] localizes frequency; Haar localizes scale AND
    * time, so a single regime change doesn't smear across every
    * harmonic). Tier means average the children PRESENT (a lone child
    * carries up unchanged); details exist only for complete pairs.
    *
    * Scale shape: the corpus reduces to the hourly grid in one
    * partial agg, then each tier is one (channel, b div 2)-keyed agg
    * over the PREVIOUS tier — L summary-scale shuffles for L levels,
    * the [[pyramid]] rollup shape; per-level energies are one final
    * partial agg over the unioned details. No window, no sort.
    *
    * Portability: tier means derive from exact DECIMAL base sums in
    * pinned (m0+m1)/2 order; d² routes through DECIMAL; round-6 ends.
    */
  def haarSpectrum(ts: DataFrame, bucketUs: Long = BucketUs, levels: Int = 4): DataFrame = {
    val base = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("b"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
    val details = (1 to levels).foldLeft((base, List.empty[DataFrame])) {
      case ((tier, acc), l) =>
        val paired = tier
          .groupBy(col("channel"), expr("b div 2").as("b"))
          .agg(
            max(when(col("b") % 2 === 0, col("m"))).as("__m0"),
            max(when(col("b") % 2 =!= 0, col("m"))).as("__m1")
          )
        val next = paired.select(
          col("channel"),
          col("b"),
          when(
            col("__m0").isNotNull && col("__m1").isNotNull,
            (col("__m0") + col("__m1")) / 2.0
          ).otherwise(coalesce(col("__m0"), col("__m1"))).as("m")
        )
        val det = paired
          .filter(col("__m0").isNotNull && col("__m1").isNotNull)
          .select(
            col("channel"),
            lit(l.toLong).as("level"),
            ((col("__m0") - col("__m1")) / 2.0).as("__d")
          )
        (next, det :: acc)
    }._2
    details
      .reduce(_ union _)
      .groupBy(col("channel"), col("level"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(detSum(col("__d") * col("__d")), 6).as("energy")
      )
  }

  def tsHaar(spark: SparkSession, dir: String): DataFrame =
    haarSpectrum(Tables.ts(spark, dir)).orderBy(col("channel"), col("level"))

  // -------------------------------------------------------------------
  // Binary-segmentation changepoint detection (recursive CUSUM)
  // -------------------------------------------------------------------

  /** Kolmogorov 95% band for the standardized CUSUM bridge — the
    * significance gate both recursion levels apply.
    */
  val CusumThreshold = 1.358

  /** Multiple-changepoint detection by BINARY SEGMENTATION (Scott &
    * Knott 1974; the standard recursive reduction): run the
    * [[cusumScreen]] over each channel, split at the significant
    * argmax, and re-run the SAME screen on each half — each level
    * refines the segmentation, so up to three changepoints emerge from
    * two levels. The single-shot screen reports only the dominant
    * shift; a series with two level changes hides the second until the
    * first is removed — this operator is the loop that removes it.
    *
    * Scale shape: recursion by KEY REWRITE, not by driver iteration
    * over segments — level 2 is ONE run of the unchanged two-phase
    * CUSUM machinery over the composite (channel '#' side) key, so
    * the whole operator is two screen passes + one broadcast of the
    * (k-row) level-1 changepoints, independent of how many channels
    * split. Segments inherit every scale property of the screen
    * (stitched prefix sums, no channel-alone data windows).
    *
    * Portability: the screen's outputs are already engine-pinned;
    * the significance gate compares round-6 values; segment tags are
    * pure string algebra on the equi-joined changepoint.
    */
  def changepoints(
    ts: DataFrame,
    threshold: Double = CusumThreshold,
    minSeg: Long = 20L,
    stitchBucketUs: Long = StitchBucketUs
  ): DataFrame = {
    val base = withTieBreak(ts).select(col("channel"), col("t"), col("v"), col("event_id"))
    val l1 = cusumScreen(base, stitchBucketUs)
    // split at EVERY argmax and report the candidate tree with its
    // significance flags — the full binary-segmentation trace (an
    // all-stationary corpus then reports "tested, nothing significant"
    // instead of an empty relation)
    val cp1 = l1.filter(col("t_at").isNotNull).select(col("channel"), col("t_at").as("__cp"))
    val composite = base
      .join(broadcast(cp1), Seq("channel"))
      .select(
        concat(
          col("channel"),
          lit("#"),
          when(col("t") <= col("__cp"), lit("L")).otherwise(lit("R"))
        ).as("channel"),
        col("t"),
        col("v"),
        col("event_id")
      )
    val l2 = cusumScreen(composite, stitchBucketUs)
      .filter(col("t_at").isNotNull && col("n") >= minSeg)
      .select(
        substring_index(col("channel"), "#", 1).as("channel"),
        lit(2L).as("level"),
        substring_index(col("channel"), "#", -1).as("segment"),
        col("n"),
        col("mean"),
        col("sigma"),
        col("cusum"),
        col("t_at").as("t_cp"),
        (col("cusum") > threshold).as("significant")
      )
    // level 1 keeps EVERY channel — a zero-variance (constant) channel
    // carries NULL cusum/t_cp and significant=false, so the
    // all-stationary corpus really does report "tested, nothing
    // significant" rather than silently dropping constant channels
    val out1 = l1
      .select(
        col("channel"),
        lit(1L).as("level"),
        lit("all").as("segment"),
        col("n"),
        col("mean"),
        col("sigma"),
        col("cusum"),
        col("t_at").as("t_cp"),
        coalesce(col("cusum") > threshold, lit(false)).as("significant")
      )
    out1.union(l2)
  }

  def tsChangepoints(spark: SparkSession, dir: String): DataFrame =
    changepoints(Tables.ts(spark, dir)).orderBy(col("channel"), col("level"), col("segment"))

  /** Oracle: the cusum CTE chain twice — once by channel, once by the
    * composite channel#side key derived from the level-1 argmax.
    */
  val tsChangepointsSql: String = {
    def chain(src: String, sfx: String): String =
      s"""ps$sfx AS (
         |  SELECT channel, t,
         |    ROW_NUMBER() OVER w AS rn,
         |    SUM(CAST(v AS DECIMAL(27,10))) OVER w AS p
         |  FROM $src
         |  WINDOW w AS (PARTITION BY channel ORDER BY t, event_id)),
         |st$sfx AS (
         |  SELECT channel, COUNT(*) AS n,
         |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mu,
         |    ROUND(SQRT(GREATEST(CAST(SUM(CAST(v * v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*)
         |      - (CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*))
         |        * (CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*)), 0.0)), 9) AS sigma
         |  FROM $src GROUP BY channel),
         |sc$sfx AS (
         |  SELECT ps$sfx.channel, ps$sfx.t,
         |    ROUND(ABS((CAST(p AS DOUBLE) - rn * mu) / NULLIF(sigma * SQRT(n), 0.0)), 9) AS a
         |  FROM ps$sfx JOIN st$sfx ON ps$sfx.channel = st$sfx.channel),
         |mx$sfx AS (SELECT channel, MAX(a) AS amax FROM sc$sfx GROUP BY channel),
         |sel$sfx AS (
         |  SELECT sc$sfx.channel, MIN(sc$sfx.t) AS t_at
         |  FROM sc$sfx JOIN mx$sfx ON sc$sfx.channel = mx$sfx.channel AND sc$sfx.a = mx$sfx.amax
         |  GROUP BY sc$sfx.channel),
         |l$sfx AS (
         |  SELECT st$sfx.channel, st$sfx.n, ROUND(st$sfx.mu, 6) AS mean,
         |    ROUND(st$sfx.sigma, 6) AS sigma, ROUND(mx$sfx.amax, 6) AS cusum, sel$sfx.t_at
         |  FROM st$sfx JOIN mx$sfx ON st$sfx.channel = mx$sfx.channel
         |  LEFT JOIN sel$sfx ON st$sfx.channel = sel$sfx.channel)""".stripMargin
    s"""WITH s AS (
       |  SELECT event_type AS channel, epoch_us(ts) AS t, event_id, value AS v FROM events),
       |${chain("s", "1")},
       |cp1 AS (SELECT channel, t_at FROM l1 WHERE t_at IS NOT NULL),
       |s2 AS (
       |  SELECT s.channel || '#' || CASE WHEN s.t <= cp1.t_at THEN 'L' ELSE 'R' END AS channel,
       |    s.t, s.event_id, s.v
       |  FROM s JOIN cp1 ON cp1.channel = s.channel),
       |${chain("s2", "2")}
       |SELECT channel, CAST(1 AS BIGINT) AS level, 'all' AS segment,
       |  n, mean, sigma, cusum, t_at AS t_cp,
       |  COALESCE(cusum > $CusumThreshold, FALSE) AS significant
       |FROM l1
       |UNION ALL
       |SELECT split_part(channel, '#', 1) AS channel, CAST(2 AS BIGINT) AS level,
       |  split_part(channel, '#', 2) AS segment,
       |  n, mean, sigma, cusum, t_at AS t_cp, cusum > $CusumThreshold AS significant
       |FROM l2 WHERE t_at IS NOT NULL AND n >= 20
       |ORDER BY channel, level, segment""".stripMargin
  }

  /** Oracle: the tier chain as explicit CTEs with identical pairing,
    * carry-up and pinned arithmetic.
    */
  val tsHaarSql: String = {
    val tierCtes = (1 to 4)
      .map { l =>
        s"""p$l AS (
           |  SELECT channel, b // 2 AS b,
           |    MAX(CASE WHEN b % 2 = 0 THEN m END) AS m0,
           |    MAX(CASE WHEN b % 2 <> 0 THEN m END) AS m1
           |  FROM t${l - 1} GROUP BY 1, 2),
           |t$l AS (
           |  SELECT channel, b,
           |    CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN (m0 + m1) / 2.0
           |         ELSE COALESCE(m0, m1) END AS m
           |  FROM p$l),
           |d$l AS (
           |  SELECT channel, CAST($l AS BIGINT) AS level, (m0 - m1) / 2.0 AS d
           |  FROM p$l WHERE m0 IS NOT NULL AND m1 IS NOT NULL)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH t0 AS (
       |  SELECT event_type AS channel,
       |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS b,
       |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
       |  FROM events GROUP BY 1, 2),
       |$tierCtes,
       |alld AS (
       |  SELECT * FROM d1 UNION ALL SELECT * FROM d2
       |  UNION ALL SELECT * FROM d3 UNION ALL SELECT * FROM d4)
       |SELECT channel, level, COUNT(*) AS n_pairs,
       |  ROUND(CAST(SUM(CAST(d * d AS DECIMAL(27,10))) AS DOUBLE), 6) AS energy
       |FROM alld
       |GROUP BY 1, 2
       |ORDER BY channel, level""".stripMargin
  }

  val tsCadenceSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, event_id FROM events),
      |d AS (
      |  SELECT channel, t,
      |    t - LAG(t) OVER (PARTITION BY channel ORDER BY t, event_id) AS dt
      |  FROM e),
      |dd AS (SELECT channel, t, dt FROM d WHERE dt IS NOT NULL),
      |h AS (
      |  SELECT channel, CAST(FLOOR(t / 3600000000) AS BIGINT) AS bucket,
      |    COUNT(*) AS n_intervals,
      |    CAST(SUM(CAST(dt AS DECIMAL(27,10))) AS DOUBLE) AS s
      |  FROM dd GROUP BY 1, 2),
      |o AS (
      |  SELECT channel,
      |    CAST(SUM(CAST(dt AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m0
      |  FROM dd GROUP BY 1)
      |SELECT h.channel, h.bucket, h.n_intervals,
      |  ROUND(h.s / 1000000.0, 6) AS total_dt_s,
      |  ROUND((h.s / h.n_intervals) / o.m0, 6) AS drift
      |FROM h JOIN o ON o.channel = h.channel
      |ORDER BY h.channel, h.bucket""".stripMargin

  // -------------------------------------------------------------------
  // Population Stability Index (distribution drift between halves)
  // -------------------------------------------------------------------

  /** PSI epsilon: proportions clamp to this floor before the log so
    * empty cells contribute a finite penalty (the standard practice).
    */
  val PsiEps = 1e-4

  /** Population Stability Index per channel between the first and
    * second half of its time range: values bin into 8 equal-width
    * cells fitted on the FIRST half, and
    * PSI = Σ (p₂−p₁)·ln(p₂/p₁) over cells scores how far the value
    * distribution moved — the standard ML-monitoring drift metric
    * (<0.1 stable, >0.25 action). Complements [[seasonalAnomalies]]
    * (pointwise residuals) with a distribution-level screen that
    * catches variance/shape changes no single bucket triggers.
    *
    * Scale shape: two channel-grain stat passes (time range, then
    * first-half value range) broadcast back as k-row relations; the
    * binning is map-side arithmetic; counts reduce by
    * (channel, bin) with conditional sums for the two halves — no
    * window, no sort, three scans of the channel column total.
    * Portability: bin edges derive from exact min/max; proportions
    * are long/long divisions in pinned double order, clamped at the
    * literal epsilon; ln rounds to 9 before the DECIMAL term sum.
    * Degenerate channels whose events all share one timestamp have an
    * EMPTY second half (mid = t0, every event lands first) — their
    * proportions would be 0/0 = NaN, which Spark's DECIMAL cast nulls
    * while DuckDB's errors, so channels with an empty half are
    * dropped before the term computation in both engines.
    */
  def psiScreen(ts: DataFrame, bins: Int = 8): DataFrame = {
    val trange = ts
      .groupBy(col("channel"))
      .agg(min(col("t")).as("__t0"), max(col("t")).as("__t1"))
      // integer halving (div), NOT /2-and-cast: Spark's double-cast
      // truncates where DuckDB's rounds, so the float route puts odd-
      // width channels' midpoints one µs apart between engines
      .select(col("channel"), (col("__t0") + expr("(__t1 - __t0) div 2")).as("__mid"))
    val withHalf = ts
      .join(broadcast(trange), Seq("channel"))
      .select(col("channel"), col("v"), (col("t") <= col("__mid")).as("__first"))
    val arange = withHalf
      .filter(col("__first"))
      .groupBy(col("channel"))
      .agg(min(col("v")).as("__amin"), max(col("v")).as("__amax"))
    val binned = withHalf
      .join(broadcast(arange), Seq("channel"))
      .select(
        col("channel"),
        col("__first"),
        when(
          col("__amax") > col("__amin"),
          greatest(
            least(
              floor((col("v") - col("__amin")) / (col("__amax") - col("__amin")) * bins),
              lit((bins - 1).toLong)
            ),
            lit(0L)
          )
        ).otherwise(0L).cast("long").as("bin")
      )
    val cells = binned
      .groupBy(col("channel"), col("bin"))
      .agg(
        sum(when(col("__first"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__first"), 1L).otherwise(0L)).as("__cb")
      )
    val totals = cells
      .groupBy(col("channel"))
      .agg(sum(col("__ca")).as("n_first"), sum(col("__cb")).as("n_second"))
    val p1 = greatest(col("__ca").cast("double") / col("n_first").cast("double"), lit(PsiEps))
    val p2 = greatest(col("__cb").cast("double") / col("n_second").cast("double"), lit(PsiEps))
    cells
      .join(broadcast(totals), Seq("channel"))
      .filter(col("n_first") > 0 && col("n_second") > 0)
      .select(
        col("channel"),
        col("n_first"),
        col("n_second"),
        round((p2 - p1) * round(log(p2 / p1), 9), 9).as("__term")
      )
      .groupBy(col("channel"), col("n_first"), col("n_second"))
      .agg(round(detSum(col("__term")), 6).as("psi"))
      .withColumn("drifted", col("psi") > 0.1)
  }

  def tsPsi(spark: SparkSession, dir: String): DataFrame =
    psiScreen(Tables.ts(spark, dir)).orderBy(col("channel"))

  val tsPsiSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v FROM events),
      |tr AS (
      |  SELECT channel,
      |    MIN(t) + (MAX(t) - MIN(t)) // 2 AS mid
      |  FROM e GROUP BY 1),
      |wh AS (
      |  SELECT e.channel, e.v, e.t <= tr.mid AS first
      |  FROM e JOIN tr ON tr.channel = e.channel),
      |ar AS (
      |  SELECT channel, MIN(v) AS amin, MAX(v) AS amax
      |  FROM wh WHERE first GROUP BY 1),
      |b AS (
      |  SELECT wh.channel, wh.first,
      |    CASE WHEN ar.amax > ar.amin
      |         THEN CAST(GREATEST(LEAST(FLOOR((wh.v - ar.amin) / (ar.amax - ar.amin) * 8), 7), 0) AS BIGINT)
      |         ELSE 0 END AS bin
      |  FROM wh JOIN ar ON ar.channel = wh.channel),
      |cells AS (
      |  SELECT channel, bin,
      |    CAST(SUM(CASE WHEN first THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN NOT first THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM b GROUP BY 1, 2),
      |tot AS (
      |  SELECT channel, CAST(SUM(ca) AS BIGINT) AS n_first, CAST(SUM(cb) AS BIGINT) AS n_second
      |  FROM cells GROUP BY 1),
      |terms AS (
      |  SELECT cells.channel, tot.n_first, tot.n_second,
      |    ROUND((GREATEST(CAST(cb AS DOUBLE) / CAST(n_second AS DOUBLE), 0.0001)
      |         - GREATEST(CAST(ca AS DOUBLE) / CAST(n_first AS DOUBLE), 0.0001))
      |      * ROUND(LN(GREATEST(CAST(cb AS DOUBLE) / CAST(n_second AS DOUBLE), 0.0001)
      |               / GREATEST(CAST(ca AS DOUBLE) / CAST(n_first AS DOUBLE), 0.0001)), 9), 9) AS term
      |  FROM cells JOIN tot ON tot.channel = cells.channel
      |  WHERE n_first > 0 AND n_second > 0)
      |SELECT channel, n_first, n_second,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(27,10))) AS DOUBLE), 6) AS psi,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(27,10))) AS DOUBLE), 6) > 0.1 AS drifted
      |FROM terms GROUP BY 1, 2, 3
      |ORDER BY channel""".stripMargin

  /** Two-sample Kolmogorov–Smirnov drift screen per channel between
    * the first and second half of its time range: D = max |F₁−F₂| over
    * a 256-cell binned ECDF (pooled min/max edges), with the
    * asymptotic statistic λ = D·√(n₁n₂/(n₁+n₂)) and the α=0.05 call
    * (λ > 1.36 — Smirnov 1948). The cumulative twin of [[psiScreen]]:
    * PSI weighs per-cell density ratios, KS catches location/shape
    * moves that density clamping dilutes, and neither needs the
    * other's epsilon.
    *
    * Scale shape: the psi discipline end to end — channel-grain time
    * midpoint and pooled value range broadcast back as k-row
    * relations, binning is map-side arithmetic, conditional counts for
    * both halves reduce by (channel, bin) in ONE partial agg; the
    * cumulative sums then run over the ≤`bins`-row summary grid per
    * channel (never the raw sample grain — the ts_rolling reduced-grid
    * precedent), so the window cost is bounded by the literal bin
    * count regardless of sample rate. Portability: ECDF proportions
    * are long/long divisions in pinned order rounded at 9 before the
    * max; the halving is integer div; channels with an empty half
    * drop before the statistic (psi precedent).
    */
  def ksScreen(ts: DataFrame, bins: Int = 256): DataFrame = {
    val trange = ts
      .groupBy(col("channel"))
      .agg(min(col("t")).as("__t0"), max(col("t")).as("__t1"))
      .select(col("channel"), (col("__t0") + expr("(__t1 - __t0) div 2")).as("__mid"))
    val withHalf = ts
      .join(broadcast(trange), Seq("channel"))
      .select(col("channel"), col("v"), (col("t") <= col("__mid")).as("__first"))
    val vrange = withHalf
      .groupBy(col("channel"))
      .agg(min(col("v")).as("__vmin"), max(col("v")).as("__vmax"))
    val cells = withHalf
      .join(broadcast(vrange), Seq("channel"))
      .select(
        col("channel"),
        col("__first"),
        when(
          col("__vmax") > col("__vmin"),
          greatest(
            least(
              floor((col("v") - col("__vmin")) / (col("__vmax") - col("__vmin")) * bins),
              lit((bins - 1).toLong)
            ),
            lit(0L)
          )
        ).otherwise(0L).cast("long").as("bin")
      )
      .groupBy(col("channel"), col("bin"))
      .agg(
        sum(when(col("__first"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__first"), 1L).otherwise(0L)).as("__cb")
      )
    val totals = cells
      .groupBy(col("channel"))
      .agg(sum(col("__ca")).as("n_first"), sum(col("__cb")).as("n_second"))
    val ord = Window
      .partitionBy(col("channel"))
      .orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = abs(
      sum(col("__ca")).over(ord).cast("double") / col("n_first").cast("double") -
        sum(col("__cb")).over(ord).cast("double") / col("n_second").cast("double")
    )
    cells
      .join(broadcast(totals), Seq("channel"))
      .filter(col("n_first") > 0 && col("n_second") > 0)
      .select(col("channel"), col("n_first"), col("n_second"), round(gap, 9).as("__gap"))
      .groupBy(col("channel"), col("n_first"), col("n_second"))
      .agg(max(col("__gap")).as("ks_d"))
      .select(
        col("channel"),
        col("n_first"),
        col("n_second"),
        col("ks_d"),
        round(
          col("ks_d") * sqrt(
            col("n_first").cast("double") * col("n_second").cast("double") /
              (col("n_first") + col("n_second")).cast("double")
          ),
          6
        ).as("ks_stat")
      )
      .withColumn("significant", col("ks_stat") > 1.36)
  }

  def tsKs(spark: SparkSession, dir: String): DataFrame =
    ksScreen(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** KS oracle: identical midpoint/bin/count shape to the engine; the
    * cumulative ECDF gap is the same pinned division order rounded at
    * 9 before MAX.
    */
  val tsKsSql: String =
    """WITH e AS (
      |  SELECT event_type AS channel, epoch_us(ts) AS t, value AS v FROM events),
      |tr AS (
      |  SELECT channel, MIN(t) + (MAX(t) - MIN(t)) // 2 AS mid
      |  FROM e GROUP BY 1),
      |wh AS (
      |  SELECT e.channel, e.v, e.t <= tr.mid AS first
      |  FROM e JOIN tr ON tr.channel = e.channel),
      |vr AS (
      |  SELECT channel, MIN(v) AS vmin, MAX(v) AS vmax FROM wh GROUP BY 1),
      |cells AS (
      |  SELECT wh.channel,
      |    CASE WHEN vr.vmax > vr.vmin
      |         THEN CAST(GREATEST(LEAST(FLOOR((wh.v - vr.vmin) / (vr.vmax - vr.vmin) * 256), 255), 0) AS BIGINT)
      |         ELSE 0 END AS bin,
      |    CAST(SUM(CASE WHEN first THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN NOT first THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM wh JOIN vr ON vr.channel = wh.channel
      |  GROUP BY 1, 2),
      |tot AS (
      |  SELECT channel, CAST(SUM(ca) AS BIGINT) AS n_first, CAST(SUM(cb) AS BIGINT) AS n_second
      |  FROM cells GROUP BY 1),
      |gaps AS (
      |  SELECT cells.channel, tot.n_first, tot.n_second,
      |    ROUND(ABS(
      |      CAST(SUM(ca) OVER w AS DOUBLE) / CAST(n_first AS DOUBLE)
      |      - CAST(SUM(cb) OVER w AS DOUBLE) / CAST(n_second AS DOUBLE)), 9) AS gap
      |  FROM cells JOIN tot ON tot.channel = cells.channel
      |  WHERE n_first > 0 AND n_second > 0
      |  WINDOW w AS (PARTITION BY cells.channel ORDER BY bin
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |d AS (
      |  SELECT channel, n_first, n_second, MAX(gap) AS ks_d
      |  FROM gaps GROUP BY 1, 2, 3)
      |SELECT channel, n_first, n_second, ks_d,
      |  ROUND(ks_d * SQRT(CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE)
      |    / CAST(n_first + n_second AS DOUBLE)), 6) AS ks_stat,
      |  ROUND(ks_d * SQRT(CAST(n_first AS DOUBLE) * CAST(n_second AS DOUBLE)
      |    / CAST(n_first + n_second AS DOUBLE)), 6) > 1.36 AS significant
      |FROM d
      |ORDER BY channel""".stripMargin

  val tsGrangerSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT gx.channel AS cause, gy.channel AS effect,
      |    gy.m AS y, gp.m AS yp, gx.m AS xp
      |  FROM g gy
      |  JOIN g gp ON gp.channel = gy.channel AND gp.bucket = gy.bucket - 1
      |  JOIN g gx ON gx.bucket = gy.bucket - 1 AND gx.channel <> gy.channel),
      |mo AS (
      |  SELECT cause, effect, COUNT(*) AS n,
      |    CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(yp AS DECIMAL(38,10))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(xp AS DECIMAL(38,10))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(y * yp AS DECIMAL(38,10))) AS DOUBLE) AS s1y,
      |    CAST(SUM(CAST(y * xp AS DECIMAL(38,10))) AS DOUBLE) AS s2y,
      |    CAST(SUM(CAST(yp * yp AS DECIMAL(38,10))) AS DOUBLE) AS s11,
      |    CAST(SUM(CAST(xp * xp AS DECIMAL(38,10))) AS DOUBLE) AS s22,
      |    CAST(SUM(CAST(yp * xp AS DECIMAL(38,10))) AS DOUBLE) AS s12
      |  FROM j GROUP BY 1, 2 HAVING COUNT(*) > 3),
      |ce AS (
      |  SELECT cause, effect, n,
      |    syy - sy * sy / n AS cyy,
      |    s11 - s1 * s1 / n AS c11,
      |    s22 - s2 * s2 / n AS c22,
      |    s1y - s1 * sy / n AS c1y,
      |    s2y - s2 * sy / n AS c2y,
      |    s12 - s1 * s2 / n AS c12
      |  FROM mo),
      |sol AS (
      |  SELECT cause, effect, n, cyy, c1y, c2y,
      |    cyy - c1y * c1y / c11 AS rssr,
      |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
      |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
      |  FROM ce
      |  WHERE c11 > 0 AND c22 > 0 AND c11 * c22 - c12 * c12 <> 0.0),
      |fin AS (
      |  SELECT cause, effect, n, b2, rssr,
      |    cyy - b1 * c1y - b2 * c2y AS rssu
      |  FROM sol)
      |SELECT cause, effect, n,
      |  ROUND(b2, 6) AS beta_cause,
      |  ROUND(rssr, 6) AS rss_r,
      |  ROUND(rssu, 6) AS rss_u,
      |  ROUND((rssr - rssu) / (rssu / (n - 3)), 6) AS fstat
      |FROM fin
      |WHERE rssu > 0
      |ORDER BY cause, effect""".stripMargin

  val tsEwmaSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(27,10))) AS s
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT channel, bucket, n, CAST(s AS DOUBLE) / n AS mean FROM g),
      |c AS (
      |  SELECT m.channel, m.bucket + j.j AS bucket,
      |    CAST(POWER(2.0, 31 - j.j) AS BIGINT) AS w,
      |    CAST(m.mean * CAST(POWER(2.0, 31 - j.j) AS BIGINT) AS DECIMAL(38,10)) AS term
      |  FROM m CROSS JOIN generate_series(0, 31) AS j(j)),
      |a AS (
      |  SELECT channel, bucket, SUM(term) AS num, CAST(SUM(w) AS BIGINT) AS den
      |  FROM c GROUP BY 1, 2)
      |SELECT m.channel, m.bucket, m.n,
      |  ROUND(m.mean, 6) AS mean,
      |  ROUND(CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE), 6) AS ewma,
      |  ROUND(m.mean - CAST(a.num AS DOUBLE) / CAST(a.den AS DOUBLE), 6) AS dev
      |FROM m JOIN a ON a.channel = m.channel AND a.bucket = m.bucket
      |ORDER BY m.channel, m.bucket""".stripMargin

  // -------------------------------------------------------------------
  // Higuchi fractal dimension (signal complexity over the bucket grid)
  // -------------------------------------------------------------------

  /** Higuchi fractal dimension per channel (Higuchi 1988) — the
    * signal-complexity index EEG pipelines report next to [[hjorth]]
    * and [[permutationEntropy]]: for lags k = 1..8 the mean normalized
    * curve length L(k) of the bucket-mean series is computed over every
    * phase offset, and the dimension is −slope of ln L(k) on ln k
    * (≈1 for smooth trends, →2 for noise-like series).
    *
    * Scale shape: the event stream reduces to the hourly (channel,
    * bucket) grid in ONE partial agg; the dense sample index is a
    * row_number over the GRID (time-bounded summary — ~10⁴ rows per
    * channel-year, the pacf/granger class, never the event stream);
    * lag alignment is a (channel, idx)-keyed self equi-join with an
    * 8-way literal lag fan; everything after is (channel, k, m)-grain
    * partial aggs and a per-channel closed-form OLS. No event-grain
    * window, nothing collected.
    *
    * Portability: bucket means and |Δ| sums route through DECIMAL
    * (order-independent); L_m, L(k), ln and the 2×2 normal-equation
    * slope derive in one pinned double expression order before the
    * round-6.
    */
  def higuchiFd(ts: DataFrame, bucketUs: Long = BucketUs, kMax: Int = 8): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val g = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(detAvg(col("v")).as("__m"))
    val idxed = g
      .withColumn(
        "idx",
        row_number()
          .over(Window.partitionBy(col("channel")).orderBy(col("bucket")))
          .cast("long")
      )
      .select(col("channel"), col("idx"), col("__m"))
    val nPerCh = idxed.groupBy(col("channel")).agg(count(lit(1)).as("n"))
    val a = idxed
      .withColumn("k", explode(sequence(lit(1L), lit(kMax.toLong))))
      .select(col("channel"), col("k"), col("idx"), col("__m").as("__ma"))
    val b = idxed.select(col("channel"), col("idx").as("__ib"), col("__m").as("__mb"))
    val offs = a
      .join(b, a("channel") === b("channel") && col("__ib") === col("idx") + col("k"))
      .drop(b("channel"))
      .groupBy(col("channel"), col("k"), ((col("idx") - 1L) % col("k")).as("__off"))
      .agg(
        sum(abs(col("__mb") - col("__ma")).cast(dec3810)).cast("double").as("__sabs"),
        count(lit(1)).as("__cnt")
      )
    val lk = offs
      .join(nPerCh, "channel")
      .withColumn(
        "__lm",
        col("__sabs") * (col("n") - 1L).cast("double") /
          (col("__cnt").cast("double") * col("k").cast("double") * col("k").cast("double"))
      )
      .groupBy(col("channel"), col("k"))
      .agg(
        max(col("n")).as("n"),
        // L(k) averages over the offsets that actually produced pairs
        // (count over the offs grain) — the standard estimator; a
        // literal /k would bias L(k) low on channels shorter than ~2k
        // buckets, where some phase offsets yield no pairs
        (sum(col("__lm").cast(dec3810)).cast("double") / count(lit(1)).cast("double")).as("__l")
      )
      .filter(col("__l") > 0.0)
      .select(
        col("channel"),
        col("n"),
        log(col("k").cast("double")).as("__x"),
        log(col("__l")).as("__y")
      )
    lk.groupBy(col("channel"))
      .agg(
        max(col("n")).as("n"),
        count(lit(1)).as("n_k"),
        sum(col("__x").cast(dec3810)).cast("double").as("__sx"),
        sum(col("__y").cast(dec3810)).cast("double").as("__sy"),
        sum((col("__x") * col("__x")).cast(dec3810)).cast("double").as("__sxx"),
        sum((col("__x") * col("__y")).cast(dec3810)).cast("double").as("__sxy")
      )
      .filter(col("n_k") > 1)
      .withColumn("__den", col("n_k") * col("__sxx") - col("__sx") * col("__sx"))
      .filter(col("__den") =!= 0.0)
      .select(
        col("channel"),
        col("n"),
        col("n_k"),
        round(-(col("n_k") * col("__sxy") - col("__sx") * col("__sy")) / col("__den"), 6)
          .as("hfd")
      )
  }

  def tsHiguchi(spark: SparkSession, dir: String): DataFrame =
    higuchiFd(Tables.ts(spark, dir)).orderBy(col("channel"))

  // -------------------------------------------------------------------
  // Detrended fluctuation analysis (long-range correlation exponent)
  // -------------------------------------------------------------------

  /** DFA scaling exponent α per channel (Peng et al. 1994) — the
    * long-range-correlation readout physiological pipelines report
    * beside [[higuchiFd]]: integrate the mean-centered bucket series
    * into a profile, split it into complete windows of s buckets for
    * s ∈ {4,8,16,32,64}, linearly detrend each window in closed form,
    * and fit F(s) ∝ s^α over the per-scale RMS residuals (α ≈ 0.5
    * white noise, ≈ 1 pink/1⁄f, ≈ 1.5 Brownian).
    *
    * Scale shape: one partial agg to the hourly grid; the centered
    * profile is a per-channel running DECIMAL sum over the GRID
    * (summary scale — the higuchi/pacf class, never the event
    * stream); the scale fan is a 5-way literal explode; per-(channel,
    * scale, window) detrending is a closed-form OLS on DECIMAL moments
    * (one partial agg, incomplete tail windows dropped by count); the
    * final fit is a per-channel 5-point OLS. Nothing collected, no
    * event-grain window.
    *
    * Portability: the profile, the within-window residual variance and
    * both OLS fits route every sum through DECIMAL and derive in one
    * pinned double expression order before the round-6.
    */
  def dfaAlpha(ts: DataFrame, bucketUs: Long = BucketUs, scales: Seq[Int] = Seq(4, 8, 16, 32, 64)): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val g = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(detAvg(col("v")).as("__m"))
    val byCh = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val prof = g
      .withColumn("idx", row_number().over(byCh).cast("long"))
      .withColumn("__mu", (sum(col("__m").cast(dec3810)).over(Window.partitionBy(col("channel"))).cast("double")
        / count(lit(1)).over(Window.partitionBy(col("channel")))))
      .withColumn(
        "__y",
        sum((col("__m") - col("__mu")).cast(dec3810))
          .over(byCh.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double")
      )
      .select(col("channel"), col("idx"), col("__y"))
    val fanned = prof
      .withColumn("s", explode(typedlit(scales.map(_.toLong))))
      .withColumn("__w", expr("(idx - 1) div s"))
      .withColumn("__i", ((col("idx") - 1L) % col("s")).cast("double"))
    val seg = fanned
      .groupBy(col("channel"), col("s"), col("__w"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__i").cast(dec3810)).cast("double").as("__sx"),
        sum(col("__y").cast(dec3810)).cast("double").as("__sy"),
        sum((col("__i") * col("__i")).cast(dec3810)).cast("double").as("__sxx"),
        sum((col("__i") * col("__y")).cast(dec3810)).cast("double").as("__sxy"),
        sum((col("__y") * col("__y")).cast(dec3810)).cast("double").as("__syy")
      )
      .filter(col("__n") === col("s")) // complete windows only
      .withColumn("__sxc", col("__sxx") - col("__sx") * col("__sx") / col("__n"))
      .withColumn("__beta", (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")))
      .withColumn(
        "__rss",
        greatest(
          col("__syy") - col("__sy") * col("__sy") / col("__n") -
            col("__beta") * col("__beta") * col("__sxc"),
          lit(0.0)
        )
      )
    val fs = seg
      .groupBy(col("channel"), col("s"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum((col("__rss") / col("__n")).cast(dec3810)).cast("double").as("__msr")
      )
      .withColumn("__f", sqrt(col("__msr") / col("n_windows")))
      .filter(col("__f") > 0.0)
      .select(
        col("channel"),
        col("n_windows"),
        log(col("s").cast("double")).as("__x"),
        log(col("__f")).as("__y")
      )
    fs.groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_scales"),
        sum(col("__x").cast(dec3810)).cast("double").as("__sx"),
        sum(col("__y").cast(dec3810)).cast("double").as("__sy"),
        sum((col("__x") * col("__x")).cast(dec3810)).cast("double").as("__sxx"),
        sum((col("__x") * col("__y")).cast(dec3810)).cast("double").as("__sxy")
      )
      .filter(col("n_scales") > 1)
      .withColumn("__den", col("n_scales") * col("__sxx") - col("__sx") * col("__sx"))
      .filter(col("__den") =!= 0.0)
      .select(
        col("channel"),
        col("n_scales"),
        round((col("n_scales") * col("__sxy") - col("__sx") * col("__sy")) / col("__den"), 6)
          .as("alpha")
      )
  }

  def tsDfa(spark: SparkSession, dir: String): DataFrame =
    dfaAlpha(Tables.ts(spark, dir)).orderBy(col("channel"))

  // -------------------------------------------------------------------
  // SAX motifs (symbolic aggregate approximation over the bucket grid)
  // -------------------------------------------------------------------

  /** SAX motif histogram per channel (Lin et al. 2003): the hourly
    * bucket means are the PAA reduction; each is z-normalized against
    * its channel's PAA distribution and discretized into a 4-letter
    * alphabet at the Gaussian quartile breakpoints (−0.6745, 0,
    * 0.6745); consecutive `w`-letter words are counted — the repeated
    * words are the channel's MOTIFS (recurring shapes), the backbone
    * of classic time-series pattern mining and the cheap input to
    * anomaly-by-rare-word screens.
    *
    * Scale shape: one partial agg to the grid; channel μ/σ is a
    * k-row aggregate joined back (broadcast-legitimate); symbols are a
    * map-side CASE; the w-letter word is two grid-window leads (the
    * higuchi/pacf grid class — summary scale, never the event
    * stream); the histogram is one (channel, word) partial agg.
    *
    * Portability: μ/σ come from DECIMAL sums (bit-identical), z is one
    * pinned double expression, so the breakpoint CASE sees identical
    * bits in both engines; counts are integers; support divides once
    * at the end before the round-6.
    */
  def saxMotifs(ts: DataFrame, bucketUs: Long = BucketUs, w: Int = 3): DataFrame = {
    val g = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg(detAvg(col("v")).as("__m"))
    val stats = g
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("__n"),
        detAvg(col("__m")).as("__mu"),
        (detAvg(col("__m") * col("__m"))).as("__m2")
      )
      .select(
        col("channel"),
        col("__n"),
        col("__mu"),
        sqrt(greatest(col("__m2") - col("__mu") * col("__mu"), lit(0.0))).as("__sd")
      )
      .filter(col("__sd") > 0.0)
    val byCh = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val z = (col("__m") - col("__mu")) / col("__sd")
    val sym = when(z < -0.6745, "a").when(z < 0.0, "b").when(z < 0.6745, "c").otherwise("d")
    val letters = col("__s") +: (1 until w).map(i => lead(col("__s"), i).over(byCh))
    val lettered = g
      .join(broadcast(stats), "channel")
      .withColumn("__s", sym)
      .withColumn("__word", concat(letters: _*))
      .withColumn("__last", lead(col("__s"), w - 1).over(byCh))
      .filter(col("__last").isNotNull)
      .select(col("channel"), col("__n"), col("__word").as("word"))
    lettered
      .groupBy(col("channel"), col("word"))
      .agg(count(lit(1)).as("n"), max(col("__n")).as("__gn"))
      .select(
        col("channel"),
        col("word"),
        col("n"),
        round(col("n").cast("double") / (col("__gn") - lit(w - 1).cast("long")).cast("double"), 6)
          .as("support")
      )
  }

  def tsSax(spark: SparkSession, dir: String): DataFrame =
    saxMotifs(Tables.ts(spark, dir)).orderBy(col("channel"), col("word"))

  /** SAX oracle: identical grid, DECIMAL μ/σ, breakpoint CASE, window
    * leads and word rollup.
    */
  val tsSaxSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT channel, COUNT(*) AS gn,
      |    CAST(SUM(CAST(m AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mu,
      |    SQRT(GREATEST(
      |      CAST(SUM(CAST(m * m AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*)
      |        - (CAST(SUM(CAST(m AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*))
      |          * (CAST(SUM(CAST(m AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*)),
      |      0.0)) AS sd
      |  FROM g GROUP BY 1),
      |lettered AS (
      |  SELECT g.channel, st.gn,
      |    CASE WHEN (g.m - st.mu) / st.sd < -0.6745 THEN 'a'
      |         WHEN (g.m - st.mu) / st.sd < 0.0 THEN 'b'
      |         WHEN (g.m - st.mu) / st.sd < 0.6745 THEN 'c'
      |         ELSE 'd' END AS s,
      |    g.bucket
      |  FROM g JOIN st ON st.channel = g.channel AND st.sd > 0.0),
      |words AS (
      |  SELECT channel, gn,
      |    s || LEAD(s, 1) OVER w || LEAD(s, 2) OVER w AS word,
      |    LEAD(s, 2) OVER w AS s2
      |  FROM lettered
      |  WINDOW w AS (PARTITION BY channel ORDER BY bucket))
      |SELECT channel, word, COUNT(*) AS n,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(gn) - 2 AS DOUBLE), 6) AS support
      |FROM words WHERE s2 IS NOT NULL
      |GROUP BY channel, word
      |ORDER BY channel, word""".stripMargin

  /** DFA oracle: identical profile, window fan, closed-form detrend
    * and pinned OLS algebra.
    */
  val tsDfaSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |prof AS (
      |  SELECT channel,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY channel ORDER BY bucket) AS BIGINT) AS idx,
      |    CAST(SUM(CAST(m - mu AS DECIMAL(38,10))) OVER (
      |      PARTITION BY channel ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS y
      |  FROM (
      |    SELECT channel, bucket, m,
      |      CAST(SUM(CAST(m AS DECIMAL(38,10))) OVER (PARTITION BY channel) AS DOUBLE)
      |        / COUNT(*) OVER (PARTITION BY channel) AS mu
      |    FROM g)),
      |fanned AS (
      |  SELECT p.channel, s.s, (p.idx - 1) // s.s AS w,
      |    CAST((p.idx - 1) % s.s AS DOUBLE) AS i, p.y
      |  FROM prof p JOIN (SELECT UNNEST([4,8,16,32,64]) AS s) s ON TRUE),
      |seg AS (
      |  SELECT channel, s, w, COUNT(*) AS n,
      |    CAST(SUM(CAST(i AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(i * i AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(i * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      |  FROM fanned GROUP BY 1, 2, 3),
      |rss AS (
      |  SELECT channel, s, n,
      |    GREATEST(syy - sy * sy / n
      |      - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
      |        * ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sxx - sx * sx / n),
      |      0.0) AS r
      |  FROM seg WHERE n = s),
      |fs AS (
      |  SELECT channel, s, COUNT(*) AS n_windows,
      |    SQRT(CAST(SUM(CAST(r / n AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*)) AS f
      |  FROM rss GROUP BY 1, 2),
      |pts AS (
      |  SELECT channel, LN(CAST(s AS DOUBLE)) AS x, LN(f) AS y
      |  FROM fs WHERE f > 0.0),
      |sums AS (
      |  SELECT channel, COUNT(*) AS n_scales,
      |    CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy
      |  FROM pts GROUP BY 1)
      |SELECT channel, n_scales,
      |  ROUND((n_scales * sxy - sx * sy) / (n_scales * sxx - sx * sx), 6) AS alpha
      |FROM sums
      |WHERE n_scales > 1 AND n_scales * sxx - sx * sx <> 0.0
      |ORDER BY channel""".stripMargin

  /** Higuchi oracle: identical grid, lag fan, offset-grain sums and
    * pinned OLS algebra.
    */
  val tsHiguchiSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |idxed AS (
      |  SELECT channel, m,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY channel ORDER BY bucket) AS BIGINT) AS idx
      |  FROM g),
      |nch AS (SELECT channel, COUNT(*) AS n FROM idxed GROUP BY 1),
      |offs AS (
      |  SELECT a.channel, k.k, (a.idx - 1) % k.k AS off,
      |    CAST(SUM(CAST(ABS(b.m - a.m) AS DECIMAL(38,10))) AS DOUBLE) AS sabs,
      |    COUNT(*) AS cnt
      |  FROM idxed a
      |  JOIN (SELECT UNNEST(range(1, 9)) AS k) k ON TRUE
      |  JOIN idxed b ON b.channel = a.channel AND b.idx = a.idx + k.k
      |  GROUP BY 1, 2, 3),
      |lk AS (
      |  SELECT o.channel, o.k, MAX(nch.n) AS n,
      |    CAST(SUM(CAST(o.sabs * CAST(nch.n - 1 AS DOUBLE)
      |      / (CAST(o.cnt AS DOUBLE) * CAST(o.k AS DOUBLE) * CAST(o.k AS DOUBLE))
      |      AS DECIMAL(38,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS l
      |  FROM offs o JOIN nch ON nch.channel = o.channel
      |  GROUP BY 1, 2),
      |pts AS (
      |  SELECT channel, n, LN(CAST(k AS DOUBLE)) AS x, LN(l) AS y
      |  FROM lk WHERE l > 0.0),
      |s AS (
      |  SELECT channel, MAX(n) AS n, COUNT(*) AS n_k,
      |    CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy
      |  FROM pts GROUP BY 1)
      |SELECT channel, n, n_k,
      |  ROUND(-(n_k * sxy - sx * sy) / (n_k * sxx - sx * sx), 6) AS hfd
      |FROM s
      |WHERE n_k > 1 AND n_k * sxx - sx * sx <> 0.0
      |ORDER BY channel""".stripMargin

  /** Dickey–Fuller unit-root test per channel (Dickey & Fuller 1979
    * JASA — "is this series a random walk or mean-reverting?", the
    * stationarity gate every downstream model assumes): regress
    * Δm_t = α + β·m_{t−1} + ε over the hourly-mean grid and report
    * the β t-statistic against the −2.86 constant-case 5% bar
    * (MacKinnon large-n). Complements [[lagCorrelation]]/[[ljungBox]]
    * (dependence STRENGTH) with the unit-root DECISION, and [[dfa]]
    * (long-memory exponent) with the classic parametric test.
    *
    * Scale shape: raw samples collapse to the (channel, bucket) grid
    * in ONE partial agg; the lag pair comes from one window pass over
    * the REDUCED grid (ts_rolling discipline); ONE channel-grain
    * moment agg ends the plan — nothing but k rows past the grid.
    * Portability: moments route through DECIMAL(38,10) in pinned
    * order; β rounds at 9 before the residual algebra; the t-stat
    * rounds at 6. Channels need n > 2 pairs, regressor variance > 0
    * and residual variance > 0 (an exact linear fit has no t-stat);
    * others drop.
    */
  def dickeyFuller(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val grid = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
    val w = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val p = grid
      .withColumn("__x", lag(col("m"), 1).over(w))
      .filter(col("__x").isNotNull)
      .withColumn("__y", col("m") - col("__x"))
    val s = p
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__x").cast(dec3810)).cast("double").as("__sx"),
        sum(col("__y").cast(dec3810)).cast("double").as("__sy"),
        sum((col("__x") * col("__x")).cast(dec3810)).cast("double").as("__sxx"),
        sum((col("__x") * col("__y")).cast(dec3810)).cast("double").as("__sxy"),
        sum((col("__y") * col("__y")).cast(dec3810)).cast("double").as("__syy")
      )
    val n = col("n_pairs").cast("double")
    s.filter(col("n_pairs") > 2)
      .withColumn("__cxx", col("__sxx") - col("__sx") * col("__sx") / n)
      .withColumn("__cxy", col("__sxy") - col("__sx") * col("__sy") / n)
      .withColumn("__cyy", col("__syy") - col("__sy") * col("__sy") / n)
      .filter(col("__cxx") > 0.0)
      .withColumn("beta", round(col("__cxy") / col("__cxx"), 9))
      .withColumn("alpha", round((col("__sy") - col("beta") * col("__sx")) / n, 9))
      .withColumn("__rss", greatest(col("__cyy") - col("beta") * col("__cxy"), lit(0.0)))
      .withColumn("__s2", col("__rss") / (n - 2.0))
      .filter(col("__s2") > 0.0)
      .withColumn("t_stat", round(col("beta") / sqrt(col("__s2") / col("__cxx")), 6))
      .withColumn("unit_root_rejected", col("t_stat") < -2.86)
      .select("channel", "n_pairs", "beta", "alpha", "t_stat", "unit_root_rejected")
  }

  def tsAdf(spark: SparkSession, dir: String): DataFrame =
    dickeyFuller(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Dickey–Fuller oracle: identical grid/lag/moment pipeline with the
    * same pinned centering, round-9 β and round-6 t-stat.
    */
  val tsAdfSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT channel, m,
      |    LAG(m) OVER (PARTITION BY channel ORDER BY bucket) AS x
      |  FROM g),
      |q AS (SELECT channel, x, m - x AS y FROM p WHERE x IS NOT NULL),
      |s AS (
      |  SELECT channel, COUNT(*) AS n_pairs,
      |    CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      |  FROM q GROUP BY 1),
      |c AS (
      |  SELECT channel, n_pairs,
      |    sxx - sx * sx / CAST(n_pairs AS DOUBLE) AS cxx,
      |    sxy - sx * sy / CAST(n_pairs AS DOUBLE) AS cxy,
      |    syy - sy * sy / CAST(n_pairs AS DOUBLE) AS cyy,
      |    sx, sy
      |  FROM s WHERE n_pairs > 2),
      |b AS (
      |  SELECT channel, n_pairs, cxx, cxy, cyy, sx, sy,
      |    ROUND(cxy / cxx, 9) AS beta
      |  FROM c WHERE cxx > 0.0),
      |r AS (
      |  SELECT channel, n_pairs, cxx, beta,
      |    ROUND((sy - beta * sx) / CAST(n_pairs AS DOUBLE), 9) AS alpha,
      |    GREATEST(cyy - beta * cxy, 0.0) / (CAST(n_pairs AS DOUBLE) - 2.0) AS s2
      |  FROM b),
      |f AS (
      |  SELECT channel, n_pairs, beta, alpha,
      |    ROUND(beta / SQRT(s2 / cxx), 6) AS t_stat
      |  FROM r WHERE s2 > 0.0)
      |SELECT channel, n_pairs, beta, alpha, t_stat,
      |  t_stat < -2.86 AS unit_root_rejected
      |FROM f
      |ORDER BY channel""".stripMargin

  /** Engle–Granger cointegration test per channel pair (Engle &
    * Granger 1987 Econometrica — "do these two random walks share ONE
    * common trend?"): step 1 regresses m_a on m_b over the aligned
    * hourly grid; step 2 runs the no-constant Dickey–Fuller on the
    * residual u_t = m_a − c − γ·m_b against the −3.34 two-variable 5%
    * bar (MacKinnon). Two individually unit-rooted channels
    * ([[dickeyFuller]]'s verdict) whose residual IS stationary move
    * together long-run — the pairs-relationship [[tsGranger]]'s
    * short-lag causality and [[spectralCoherence]]'s per-band phase
    * locking both miss. Completes the unit-root protocol: ADF/KPSS
    * decide per channel, this decides per pair.
    *
    * Scale shape: raw samples collapse ONCE to the hourly grid; the
    * pair join fans channel² only within a bucket (summary grain —
    * the ts_coherence shape); step-1 is one pair-grain moment agg
    * whose (γ, c) — a channels²-row relation — BROADCASTS back onto
    * the pair-bucket stream; the residual lag is one window pass over
    * the REDUCED grid per pair; step-2 is a second pair-grain moment
    * agg. Portability: moments through DECIMAL(38,10) in pinned
    * order, γ/c/u round-9, β round-9, t round-6; degenerate pairs
    * (regressor variance 0, exact fits) drop at the same guards as
    * [[dickeyFuller]].
    */
  def engleGranger(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val grid = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
    val pairs = grid
      .select(col("channel").as("ch_a"), col("bucket"), col("m").as("ma"))
      .join(
        grid.select(col("channel").as("ch_b"), col("bucket"), col("m").as("mb")),
        Seq("bucket")
      )
      .filter(col("ch_a") < col("ch_b"))
    val n1 = col("n_buckets").cast("double")
    val s1 = pairs
      .groupBy(col("ch_a"), col("ch_b"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("mb").cast(dec3810)).cast("double").as("__sx"),
        sum(col("ma").cast(dec3810)).cast("double").as("__sy"),
        sum((col("mb") * col("mb")).cast(dec3810)).cast("double").as("__sxx"),
        sum((col("mb") * col("ma")).cast(dec3810)).cast("double").as("__sxy")
      )
      .filter(col("n_buckets") > 2)
      .withColumn("__cxx", col("__sxx") - col("__sx") * col("__sx") / n1)
      .withColumn("__cxy", col("__sxy") - col("__sx") * col("__sy") / n1)
      .filter(col("__cxx") > 0.0)
      .withColumn("gamma", round(col("__cxy") / col("__cxx"), 9))
      .withColumn("c0", round((col("__sy") - col("gamma") * col("__sx")) / n1, 9))
      .select(col("ch_a"), col("ch_b"), col("n_buckets"), col("gamma"), col("c0"))
    val resid = pairs
      .join(broadcast(s1), Seq("ch_a", "ch_b"))
      .withColumn("__u", round(col("ma") - col("c0") - col("gamma") * col("mb"), 9))
    val w = Window.partitionBy(col("ch_a"), col("ch_b")).orderBy(col("bucket"))
    val d = resid
      .withColumn("__x", lag(col("__u"), 1).over(w))
      .filter(col("__x").isNotNull)
      .withColumn("__y", col("__u") - col("__x"))
    val n2 = col("__n2").cast("double")
    d.groupBy(col("ch_a"), col("ch_b"), col("n_buckets"), col("gamma"), col("c0"))
      .agg(
        count(lit(1)).as("__n2"),
        sum((col("__x") * col("__x")).cast(dec3810)).cast("double").as("__sxx2"),
        sum((col("__x") * col("__y")).cast(dec3810)).cast("double").as("__sxy2"),
        sum((col("__y") * col("__y")).cast(dec3810)).cast("double").as("__syy2")
      )
      .filter(col("__n2") > 2 && col("__sxx2") > 0.0)
      .withColumn("beta", round(col("__sxy2") / col("__sxx2"), 9))
      .withColumn("__rss", greatest(col("__syy2") - col("beta") * col("__sxy2"), lit(0.0)))
      .withColumn("__s2", col("__rss") / (n2 - 1.0))
      .filter(col("__s2") > 0.0)
      .withColumn("adf_t", round(col("beta") / sqrt(col("__s2") / col("__sxx2")), 6))
      .withColumn("cointegrated", col("adf_t") < -3.34)
      .select("ch_a", "ch_b", "n_buckets", "gamma", "c0", "adf_t", "cointegrated")
  }

  def tsCointegration(spark: SparkSession, dir: String): DataFrame =
    engleGranger(Tables.ts(spark, dir)).orderBy(col("ch_a"), col("ch_b"))

  /** Engle–Granger oracle: identical grid, pair join, two-stage
    * pinned moment algebra with the same round-9/round-6 gates.
    */
  val tsCointegrationSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |pr AS (
      |  SELECT a.channel AS ch_a, b.channel AS ch_b, a.bucket,
      |    a.m AS ma, b.m AS mb
      |  FROM g a JOIN g b ON b.bucket = a.bucket AND a.channel < b.channel),
      |s1 AS (
      |  SELECT ch_a, ch_b, COUNT(*) AS n_buckets,
      |    CAST(SUM(CAST(mb AS DECIMAL(38,10))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ma AS DECIMAL(38,10))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(mb * mb AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(mb * ma AS DECIMAL(38,10))) AS DOUBLE) AS sxy
      |  FROM pr GROUP BY 1, 2),
      |gm AS (
      |  SELECT ch_a, ch_b, n_buckets, gamma,
      |    ROUND((sy - gamma * sx) / CAST(n_buckets AS DOUBLE), 9) AS c0
      |  FROM (
      |    SELECT ch_a, ch_b, n_buckets, sx, sy,
      |      ROUND((sxy - sx * sy / CAST(n_buckets AS DOUBLE))
      |            / (sxx - sx * sx / CAST(n_buckets AS DOUBLE)), 9) AS gamma
      |    FROM s1
      |    WHERE n_buckets > 2
      |      AND sxx - sx * sx / CAST(n_buckets AS DOUBLE) > 0.0) t),
      |u AS (
      |  SELECT p.ch_a, p.ch_b, p.bucket, gm.n_buckets, gm.gamma, gm.c0,
      |    ROUND(p.ma - gm.c0 - gm.gamma * p.mb, 9) AS uu
      |  FROM pr p JOIN gm ON gm.ch_a = p.ch_a AND gm.ch_b = p.ch_b),
      |dl AS (
      |  SELECT ch_a, ch_b, n_buckets, gamma, c0, uu,
      |    LAG(uu) OVER (PARTITION BY ch_a, ch_b ORDER BY bucket) AS x
      |  FROM u),
      |dq AS (
      |  SELECT ch_a, ch_b, n_buckets, gamma, c0, x, uu - x AS y
      |  FROM dl WHERE x IS NOT NULL),
      |s2 AS (
      |  SELECT ch_a, ch_b, n_buckets, gamma, c0, COUNT(*) AS n2,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx2,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy2,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy2
      |  FROM dq GROUP BY 1, 2, 3, 4, 5),
      |b AS (
      |  SELECT ch_a, ch_b, n_buckets, gamma, c0, n2, sxx2,
      |    ROUND(sxy2 / sxx2, 9) AS beta,
      |    GREATEST(syy2 - ROUND(sxy2 / sxx2, 9) * sxy2, 0.0)
      |      / (CAST(n2 AS DOUBLE) - 1.0) AS s2v
      |  FROM s2 WHERE n2 > 2 AND sxx2 > 0.0),
      |f AS (
      |  SELECT ch_a, ch_b, n_buckets, gamma, c0,
      |    ROUND(beta / SQRT(s2v / sxx2), 6) AS adf_t
      |  FROM b WHERE s2v > 0.0)
      |SELECT ch_a, ch_b, n_buckets, gamma, c0, adf_t,
      |  adf_t < -3.34 AS cointegrated
      |FROM f
      |ORDER BY ch_a, ch_b""".stripMargin

  /** Lo–MacKinlay variance-ratio random-walk test per channel (Lo &
    * MacKinlay 1988 RFS — does variance scale LINEARLY with horizon,
    * the random-walk signature?): VR(q) = Var(q-step diff)/(q·Var(
    * 1-step diff)) over the hourly-mean grid at q ∈ {2,4,8}, with the
    * homoskedastic z-statistic z(q) = (VR−1)·√n/√φ(q),
    * φ(q) = 2(2q−1)(q−1)/(3q), two-sided 1.96 bar. VR < 1 flags mean
    * reversion, VR > 1 trending — the DIRECTION [[dickeyFuller]]'s
    * one-sided unit-root decision can't report.
    *
    * Scale shape: ONE partial agg to the grid, one window pass with
    * lags 1/2/4/8 on the REDUCED grid, channel-mean broadcast, ONE
    * channel-grain DECIMAL(38,10) moment agg. Portability: q-step
    * deviations center on q·μ̂ (μ̂ = mean 1-diff, the Lo-MacKinlay
    * drift), variances use n−1; VR rounds at 9 before z, z rounds at
    * 6; φ spelled as the literals 1.0 / 3.5 / 8.75. Channels need
    * var1 > 0 and > 1 diffs at every horizon; others drop.
    */
  def varianceRatio(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val grid = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
    val w = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val lagged = Seq(1, 2, 4, 8).foldLeft(grid) { (d, k) =>
      d.withColumn(s"__d$k", col("m") - lag(col("m"), k).over(w))
    }
    val mu = lagged
      .filter(col("__d1").isNotNull)
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_diffs"),
        (sum(col("__d1").cast(dec3810)).cast("double") / count(lit(1))).as("__mu")
      )
    val devAggs: Seq[Column] = Seq(1, 2, 4, 8).flatMap { k =>
      Seq(
        count(col(s"__d$k")).as(s"__n$k"),
        sum(
          ((col(s"__d$k") - lit(k) * col("__mu")) * (col(s"__d$k") - lit(k) * col("__mu")))
            .cast(dec3810)
        ).cast("double").as(s"__ss$k")
      )
    }
    val s = lagged
      .join(broadcast(mu), Seq("channel"))
      .groupBy(col("channel"), col("n_diffs"), col("__mu"))
      .agg(devAggs.head, devAggs.tail: _*)
      .filter(Seq(1, 2, 4, 8).map(k => col(s"__n$k") > 1).reduce(_ && _))
      .withColumn("__var1", col("__ss1") / (col("__n1") - 1).cast("double"))
      .filter(col("__var1") > 0.0)
    val phi = Map(2 -> 1.0, 4 -> 3.5, 8 -> 8.75)
    val withVr = Seq(2, 4, 8).foldLeft(s) { (d, k) =>
      d.withColumn(
        s"vr$k",
        round(
          col(s"__ss$k") / (col(s"__n$k") - 1).cast("double") / (lit(k) * col("__var1")),
          9
        )
      ).withColumn(
        s"z$k",
        round(
          (col(s"vr$k") - 1.0) * sqrt(col("n_diffs").cast("double")) / math.sqrt(phi(k)),
          6
        )
      )
    }
    withVr
      .withColumn(
        "random_walk_rejected",
        Seq(2, 4, 8).map(k => abs(col(s"z$k")) > 1.96).reduce(_ || _)
      )
      .select(
        col("channel") +: col("n_diffs") +: round(col("__mu"), 9).as("mu_diff") +:
          Seq(2, 4, 8).flatMap(k => Seq(col(s"vr$k"), col(s"z$k"))) :+
          col("random_walk_rejected"): _*
      )
  }

  def tsVr(spark: SparkSession, dir: String): DataFrame =
    varianceRatio(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** Variance-ratio oracle: identical grid/lag/moment pipeline, the
    * same q·μ̂ centering, round-9 VR and round-6 z with literal φ.
    */
  val tsVrSql: String = {
    val lags = Seq(1, 2, 4, 8)
      .map(k => s"m - LAG(m, $k) OVER (PARTITION BY channel ORDER BY bucket) AS d$k")
      .mkString(",\n      |    ")
    val sums = Seq(1, 2, 4, 8)
      .map(k =>
        s"COUNT(d$k) AS n$k,\n      |    CAST(SUM(CAST((d$k - $k * mu) * (d$k - $k * mu) AS DECIMAL(38,10))) AS DOUBLE) AS ss$k"
      )
      .mkString(",\n      |    ")
    val phi = Map(2 -> "1.0", 4 -> "3.5", 8 -> "8.75")
    val vrs = Seq(2, 4, 8)
      .map(k =>
        s"ROUND(ss$k / CAST(n$k - 1 AS DOUBLE) / ($k * var1), 9) AS vr$k"
      )
      .mkString(",\n      |    ")
    val zs = Seq(2, 4, 8)
      .map(k =>
        s"ROUND((vr$k - 1.0) * SQRT(CAST(n_diffs AS DOUBLE)) / SQRT(${phi(k)}), 6) AS z$k"
      )
      .mkString(",\n      |    ")
    s"""WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT channel,
      |    $lags
      |  FROM g),
      |mu AS (
      |  SELECT channel, COUNT(*) AS n_diffs,
      |    CAST(SUM(CAST(d1 AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS mu
      |  FROM d WHERE d1 IS NOT NULL GROUP BY 1),
      |s AS (
      |  SELECT d.channel, mu.n_diffs, mu.mu,
      |    $sums
      |  FROM d JOIN mu ON mu.channel = d.channel
      |  GROUP BY 1, 2, 3),
      |v AS (
      |  SELECT *, ss1 / CAST(n1 - 1 AS DOUBLE) AS var1
      |  FROM s WHERE n1 > 1 AND n2 > 1 AND n4 > 1 AND n8 > 1),
      |r AS (
      |  SELECT channel, n_diffs, ROUND(mu, 9) AS mu_diff,
      |    $vrs
      |  FROM v WHERE var1 > 0.0),
      |f AS (
      |  SELECT channel, n_diffs, mu_diff, vr2, vr4, vr8,
      |    $zs
      |  FROM r)
      |SELECT channel, n_diffs, mu_diff, vr2, z2, vr4, z4, vr8, z8,
      |  ABS(z2) > 1.96 OR ABS(z4) > 1.96 OR ABS(z8) > 1.96 AS random_walk_rejected
      |FROM f
      |ORDER BY channel""".stripMargin
  }

  /** Rescaled-range Hurst exponent per channel (Hurst 1951 / Mandelbrot
    * & Wallis 1969 — long-memory persistence: H > 0.5 trending,
    * H < 0.5 anti-persistent, 0.5 = memoryless; the CLASSIC R/S twin
    * of [[dfa]]'s detrended estimator, kept side by side because the
    * two disagree exactly when nonstationarity is masquerading as
    * memory): split the hourly grid into blocks of g ∈ {8,16,32,64},
    * per block R = range of the cumulative mean-deviation and
    * S = population std, average R/S per size, then the log-log slope.
    *
    * Scale shape: ONE partial agg to the grid, a 4× size explode still
    * at grid grain, two window passes keyed (channel, size, block) —
    * count+mean unordered, the cumulative deviation ordered but
    * BLOCK-bounded (≤ 64 rows per frame) — one block-grain agg, one
    * (channel, size) agg, one channel-grain pivot. Portability: the
    * cumulative sum routes through DECIMAL(38,10) so accumulation
    * association can't skew it; mean R/S rounds at 9; the slope uses
    * the closed form over the dyadic sizes — x−x̄ = (j−4.5)·ln2 for
    * g = 2^j, so H = (−1.5·ln rs₈ − 0.5·ln rs₁₆ + 0.5·ln rs₃₂ +
    * 1.5·ln rs₆₄)/(5·ln2) — rounded at 6. Channels need ≥ 1 full
    * 64-bucket block and all four mean R/S > 0; others drop.
    */
  def hurstRs(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val grid = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
    val idxed = grid.withColumn(
      "__idx",
      row_number().over(Window.partitionBy(col("channel")).orderBy(col("bucket")))
    )
    val sized = idxed
      .withColumn("g", explode(array(Seq(8, 16, 32, 64).map(lit): _*)))
      .withColumn("__blk", floor((col("__idx") - 1).cast("double") / col("g")).cast("long"))
    val wBlk = Window.partitionBy(col("channel"), col("g"), col("__blk"))
    val wRun = wBlk.orderBy(col("__idx")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = sized
      .withColumn("__cnt", count(lit(1)).over(wBlk))
      .withColumn("__mu", sum(col("m").cast(dec3810)).over(wBlk).cast("double") / col("g"))
      .filter(col("__cnt") === col("g"))
      .withColumn("__z", sum((col("m") - col("__mu")).cast(dec3810)).over(wRun))
    val blocks = dev
      .groupBy(col("channel"), col("g"), col("__blk"))
      .agg(
        (max(col("__z")) - min(col("__z"))).cast("double").as("__r"),
        sum(((col("m") - col("__mu")) * (col("m") - col("__mu"))).cast(dec3810))
          .cast("double").as("__ss")
      )
      .withColumn("__s", sqrt(col("__ss") / col("g")))
      .filter(col("__s") > 0.0)
      .withColumn("__rs", col("__r") / col("__s"))
    val bySize = blocks
      .groupBy(col("channel"), col("g"))
      .agg(
        count(lit(1)).as("__n_blocks"),
        round(sum(col("__rs").cast(dec3810)).cast("double") / count(lit(1)), 9).as("__mean_rs")
      )
    val wide = bySize
      .groupBy(col("channel"))
      .agg(
        sum(col("__n_blocks")).as("n_blocks"),
        max(when(col("g") === 8, col("__mean_rs"))).as("rs8"),
        max(when(col("g") === 16, col("__mean_rs"))).as("rs16"),
        max(when(col("g") === 32, col("__mean_rs"))).as("rs32"),
        max(when(col("g") === 64, col("__mean_rs"))).as("rs64")
      )
      .filter(
        col("rs8") > 0.0 && col("rs16") > 0.0 && col("rs32") > 0.0 && col("rs64") > 0.0
      )
    wide.withColumn(
      "hurst",
      round(
        (lit(-1.5) * log(col("rs8")) - lit(0.5) * log(col("rs16")) +
          lit(0.5) * log(col("rs32")) + lit(1.5) * log(col("rs64"))) /
          (lit(5.0) * math.log(2.0)),
        6
      )
    )
  }

  def tsHurst(spark: SparkSession, dir: String): DataFrame =
    hurstRs(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** R/S Hurst oracle: identical grid/block/cumulative pipeline with
    * the same DECIMAL routing, round-9 mean R/S and closed-form slope.
    */
  val tsHurstSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |idxed AS (
      |  SELECT channel, m,
      |    ROW_NUMBER() OVER (PARTITION BY channel ORDER BY bucket) AS idx
      |  FROM g),
      |sized AS (
      |  SELECT channel, m, idx, gs.g AS g,
      |    CAST(FLOOR(CAST(idx - 1 AS DOUBLE) / gs.g) AS BIGINT) AS blk
      |  FROM idxed CROSS JOIN (SELECT UNNEST([8, 16, 32, 64]) AS g) gs),
      |dev AS (
      |  SELECT channel, g, blk, m, idx,
      |    COUNT(*) OVER (PARTITION BY channel, g, blk) AS cnt,
      |    CAST(SUM(CAST(m AS DECIMAL(38,10))) OVER (PARTITION BY channel, g, blk)
      |      AS DOUBLE) / g AS mu
      |  FROM sized),
      |run AS (
      |  SELECT channel, g, blk, m, mu,
      |    SUM(CAST(m - mu AS DECIMAL(38,10))) OVER (
      |      PARTITION BY channel, g, blk ORDER BY idx
      |      ROWS UNBOUNDED PRECEDING) AS z
      |  FROM dev WHERE cnt = g),
      |blocks AS (
      |  SELECT channel, g, blk,
      |    CAST(MAX(z) - MIN(z) AS DOUBLE) AS r,
      |    CAST(SUM(CAST((m - mu) * (m - mu) AS DECIMAL(38,10))) AS DOUBLE) AS ss
      |  FROM run GROUP BY 1, 2, 3),
      |rs AS (
      |  SELECT channel, g, r / SQRT(ss / g) AS rs
      |  FROM blocks WHERE SQRT(ss / g) > 0.0),
      |bysize AS (
      |  SELECT channel, g, COUNT(*) AS n_blocks,
      |    ROUND(CAST(SUM(CAST(rs AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 9) AS mean_rs
      |  FROM rs GROUP BY 1, 2),
      |wide AS (
      |  SELECT channel, CAST(SUM(n_blocks) AS BIGINT) AS n_blocks,
      |    MAX(CASE WHEN g = 8 THEN mean_rs END) AS rs8,
      |    MAX(CASE WHEN g = 16 THEN mean_rs END) AS rs16,
      |    MAX(CASE WHEN g = 32 THEN mean_rs END) AS rs32,
      |    MAX(CASE WHEN g = 64 THEN mean_rs END) AS rs64
      |  FROM bysize GROUP BY 1)
      |SELECT channel, n_blocks, rs8, rs16, rs32, rs64,
      |  ROUND((-1.5 * LN(rs8) - 0.5 * LN(rs16) + 0.5 * LN(rs32) + 1.5 * LN(rs64))
      |    / (5.0 * 0.6931471805599453), 6) AS hurst
      |FROM wide
      |WHERE rs8 > 0.0 AND rs16 > 0.0 AND rs32 > 0.0 AND rs64 > 0.0
      |ORDER BY channel""".stripMargin

  /** KPSS level-stationarity test per channel (Kwiatkowski, Phillips,
    * Schmidt & Shin 1992 J.Econometrics — the REVERSED-null complement
    * of [[dickeyFuller]]: KPSS's null IS stationarity, so running both
    * is the standard two-test protocol that separates "stationary",
    * "unit root" and "not enough evidence either way"): η = (Σ S_t²/n²)
    * / σ̂²_LR over the hourly-mean grid, S_t the cumulative demeaned
    * partial sum and σ̂²_LR the Bartlett long-run variance at lag 4,
    * against the 0.463 level-case 5% bar.
    *
    * Scale shape: ONE partial agg to the grid, channel-mean broadcast,
    * one ordered window pass for the partial sums (REDUCED grid, the
    * ts_rolling discipline) and four LEADs in the same pass, ONE
    * channel-grain DECIMAL(38,10) moment agg. Portability: S_t routes
    * through DECIMAL so accumulation association can't skew it; the
    * Bartlett weights are the literals 0.8/0.6/0.4/0.2; σ̂²_LR rounds
    * at 9 before the ratio, η at 6. Channels need n > 5 grid buckets
    * and σ̂²_LR > 0; others drop.
    */
  def kpss(ts: DataFrame, bucketUs: Long = BucketUs): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val grid = ts
      .groupBy(col("channel"), microsBucket(col("t"), bucketUs).as("bucket"))
      .agg((sum(col("v").cast(dec2710)).cast("double") / count(lit(1))).as("m"))
    val mu = grid
      .groupBy(col("channel"))
      .agg((sum(col("m").cast(dec2710)).cast("double") / count(lit(1))).as("__mu"))
    val w = Window.partitionBy(col("channel")).orderBy(col("bucket"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = grid
      .join(broadcast(mu), Seq("channel"))
      .withColumn("__e", col("m") - col("__mu"))
    val led = (1 to 4).foldLeft(
      base.withColumn("__s", sum(col("__e").cast(dec3810)).over(wRun).cast("double"))
    ) { (d, l) => d.withColumn(s"__e$l", lead(col("__e"), l).over(w)) }
    val aggs: Seq[Column] =
      count(lit(1)).as("n_buckets") +:
        sum((col("__s") * col("__s")).cast(dec3810)).cast("double").as("__ssq") +:
        sum((col("__e") * col("__e")).cast(dec3810)).cast("double").as("__g0") +:
        (1 to 4).map { l =>
          sum((col("__e") * col(s"__e$l")).cast(dec3810)).cast("double").as(s"__g$l")
        }
    val s = led
      .groupBy(col("channel"))
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_buckets") > 5)
    val n = col("n_buckets").cast("double")
    s.withColumn(
      "sigma2_lr",
      round(
        col("__g0") / n + lit(2.0) * (lit(0.8) * col("__g1") / n + lit(0.6) * col("__g2") / n +
          lit(0.4) * col("__g3") / n + lit(0.2) * col("__g4") / n),
        9
      )
    ).filter(col("sigma2_lr") > 0.0)
      .withColumn("eta", round(col("__ssq") / (n * n) / col("sigma2_lr"), 6))
      .withColumn("stationarity_rejected", col("eta") > 0.463)
      .select("channel", "n_buckets", "sigma2_lr", "eta", "stationarity_rejected")
  }

  def tsKpss(spark: SparkSession, dir: String): DataFrame =
    kpss(Tables.ts(spark, dir)).orderBy(col("channel"))

  /** KPSS oracle: identical grid/partial-sum/Bartlett pipeline with
    * the same literal weights, round-9 σ̂²_LR and round-6 η.
    */
  val tsKpssSql: String =
    """WITH g AS (
      |  SELECT event_type AS channel,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM events GROUP BY 1, 2),
      |mu AS (
      |  SELECT channel, CAST(SUM(CAST(m AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS mu
      |  FROM g GROUP BY 1),
      |e AS (
      |  SELECT g.channel, g.bucket, g.m - mu.mu AS e
      |  FROM g JOIN mu ON mu.channel = g.channel),
      |led AS (
      |  SELECT channel, e,
      |    CAST(SUM(CAST(e AS DECIMAL(38,10))) OVER (
      |      PARTITION BY channel ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS s,
      |    LEAD(e, 1) OVER (PARTITION BY channel ORDER BY bucket) AS e1,
      |    LEAD(e, 2) OVER (PARTITION BY channel ORDER BY bucket) AS e2,
      |    LEAD(e, 3) OVER (PARTITION BY channel ORDER BY bucket) AS e3,
      |    LEAD(e, 4) OVER (PARTITION BY channel ORDER BY bucket) AS e4
      |  FROM e),
      |s AS (
      |  SELECT channel, COUNT(*) AS n_buckets,
      |    CAST(SUM(CAST(s * s AS DECIMAL(38,10))) AS DOUBLE) AS ssq,
      |    CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS g0,
      |    CAST(SUM(CAST(e * e1 AS DECIMAL(38,10))) AS DOUBLE) AS g1,
      |    CAST(SUM(CAST(e * e2 AS DECIMAL(38,10))) AS DOUBLE) AS g2,
      |    CAST(SUM(CAST(e * e3 AS DECIMAL(38,10))) AS DOUBLE) AS g3,
      |    CAST(SUM(CAST(e * e4 AS DECIMAL(38,10))) AS DOUBLE) AS g4
      |  FROM led GROUP BY 1),
      |v AS (
      |  SELECT channel, n_buckets,
      |    ROUND(g0 / CAST(n_buckets AS DOUBLE)
      |      + 2.0 * (0.8 * g1 / CAST(n_buckets AS DOUBLE)
      |             + 0.6 * g2 / CAST(n_buckets AS DOUBLE)
      |             + 0.4 * g3 / CAST(n_buckets AS DOUBLE)
      |             + 0.2 * g4 / CAST(n_buckets AS DOUBLE)), 9) AS sigma2_lr,
      |    ssq
      |  FROM s WHERE n_buckets > 5),
      |f AS (
      |  SELECT channel, n_buckets, sigma2_lr,
      |    ROUND(ssq / (CAST(n_buckets AS DOUBLE) * CAST(n_buckets AS DOUBLE))
      |      / sigma2_lr, 6) AS eta
      |  FROM v WHERE sigma2_lr > 0.0)
      |SELECT channel, n_buckets, sigma2_lr, eta,
      |  eta > 0.463 AS stationarity_rejected
      |FROM f
      |ORDER BY channel""".stripMargin
}
