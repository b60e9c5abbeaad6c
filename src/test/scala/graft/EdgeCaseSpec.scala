package graft

import graft.operators.{Dedup, Filtering, TextAnalysis, Timeseries}
import graft.functions.Butterworth
import org.apache.spark.sql.functions._

/** Robustness at the edges: id-less sources, empty inputs, null text. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val emptyTs =
    Seq.empty[(String, Long, Double)].toDF("channel", "t", "v")

  "operators needing a tie-break" should "accept id-less (blob-style) ts data" in {
    val ts = (0L until 300L).map(i => ("c", i * 1000L, math.sin(i / 7.0))).toDF("channel", "t", "v")
    Timeseries.resampleChunks(ts, 100).count() shouldBe 3L
    Timeseries.spikes(ts, 0.9).count() should be > 0L
    Timeseries.spikeWaveforms(spark, ts, 100, 10).count() shouldBe 30L
    Filtering
      .applyCascade(spark, ts, Butterworth.lowPass(2, 250.0, 20.0), padLength = 20, gapUs = 10000L)
      .count() shouldBe 300L
  }

  "timeseries operators" should "return empty results (not fail) on empty input" in {
    Timeseries.downsample(emptyTs, 1000L).count() shouldBe 0L
    Timeseries.contiguousSpans(emptyTs, 10L).count() shouldBe 0L
    Timeseries.resampleChunks(emptyTs, 10).count() shouldBe 0L
    Timeseries.spikes(emptyTs, 1.0).count() shouldBe 0L
    Timeseries.channelStats(emptyTs).count() shouldBe 0L
    Filtering
      .applyCascade(spark, emptyTs, Butterworth.lowPass(2, 250.0, 20.0), 20, 1000L)
      .count() shouldBe 0L
  }

  "applyCascade" should "return no rows (not fail) when every sample is null" in {
    val allNull = (0L until 50L).map(i => ("c", i, Option.empty[Double])).toDF("channel", "t", "v")
    Filtering
      .applyCascade(spark, allNull, Butterworth.lowPass(2, 250.0, 20.0), 20, 10L)
      .count() shouldBe 0L
  }

  it should "drop null samples and filter the rest like the sequential kernel" in {
    // a null t or v is a missing sample: isolated nulls leave 2 µs steps
    // (contiguous under gapUs = 10), the 15-sample null run leaves a
    // 16 µs gap that resets the filter
    val c = Butterworth.lowPass(2, 250.0, 20.0)
    def missing(i: Long) = i % 17 == 3 || (i >= 100 && i < 115)
    val rows = (0L until 200L).map { i =>
      ("c", if (i == 150) None else Some(i), if (missing(i)) None else Some(math.sin(i / 7.0)))
    }
    val got = Filtering
      .applyCascade(spark, rows.toDF("channel", "t", "v"), c, 20, 10L)
      .select($"t", $"fv")
      .as[(Long, Double)]
      .collect()
      .sortBy(_._1)

    val kept = (0L until 200L).filterNot(i => missing(i) || i == 150)
    val (before, after) = kept.partition(_ < 100)
    val exp = Seq(before, after).flatMap { b =>
      b.zip(Butterworth.filterBlock(c, b.map(i => math.sin(i / 7.0)).toArray, 20))
    }
    got.toSeq shouldBe exp
  }

  "hotPathWire" should "serve frames over a montage with a null sample" in {
    val rows = (0 until 32).flatMap { i =>
      Seq(("L", i * 10L, if (i == 9) None else Some(i.toDouble)), ("S", i * 10L, Some(0.25)))
    }
    val out = Filtering
      .hotPathWire(spark, rows.toDF("channel", "t", "v"), Seq(("L", "S")), bucketUs = 10L, pixelUs = 40L)
      .collect()
    out should not be empty
  }

  "text and dedup operators" should "tolerate null and empty text" in {
    val docs = Seq(
      (1L, "normal document with words"),
      (2L, null.asInstanceOf[String]),
      (3L, "")
    ).toDF("doc_id", "text")

    // no exceptions; null/empty rows degrade gracefully
    TextAnalysis.tokenCounts(docs).count() shouldBe 3L
    TextAnalysis.langId(docs).count() shouldBe 3L
    TextAnalysis.fingerprints(docs, 8, 4).filter($"doc_id" === 1L).count() should be > 0L
    Dedup.exact(docs).count() shouldBe 3L // null and '' are distinct groups
    // null-text docs contribute NO shingles and drop out of the
    // near-dup pipeline entirely — the same semantics as the DuckDB
    // oracle (string_split(NULL) unnests to zero rows), so Spark and
    // oracle agree by construction on corpora containing NULLs.
    // Empty text still participates (its shingle set is {''}).
    Dedup.minhashSignatures(docs, 3).select($"doc_id").as[Long].collect().toSet shouldBe Set(1L, 3L)
    Dedup.minhashNearDups(docs).count() shouldBe 0L
  }

  "curation operators" should "tolerate null and empty text" in {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "reach me at a@b.co"),
      (2L, null.asInstanceOf[String]),
      (3L, "")
    ).toDF("doc_id", "text").withColumn("source", lit("s")).withColumn("lang", lit("en"))

    // null text → null counts and null hash (regexp/md5 null-propagate
    // identically in DuckDB), never an exception or a phantom zero
    val pii = Curation.piiScan(docs).orderBy("doc_id").collect()
    pii(0).getAs[Long]("n_email") shouldBe 1L
    pii(1).isNullAt(pii(1).fieldIndex("n_pii")) shouldBe true
    pii(1).isNullAt(pii(1).fieldIndex("redacted_md5")) shouldBe true
    pii(2).getAs[Long]("n_pii") shouldBe 0L
    // stratified sampling keys on doc_id, so null text still samples
    Curation.sampleStratified(docs, k = 5).count() shouldBe 3L
    // the manifest drops null docs (null quality fails the filter, as
    // the oracle's NULL comparison does) and keeps real survivors
    val mix = Curation.trainMix(docs, minQuality = 0.0).collect()
    mix.map(_.getAs[Long]("n_docs")).sum should be <= 2L
  }

  "round-5 text operators" should "tolerate null and empty text" in {
    import graft.operators.{Curation, Search}
    val docs = Seq(
      (1L, "normal document with words and words"),
      (2L, null.asInstanceOf[String]),
      (3L, "")
    ).toDF("doc_id", "text").withColumn("source", lit("s")).withColumn("lang", lit("en"))

    // repetition: null AND empty docs drop (no words), matching the
    // oracle's WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0
    TextAnalysis.repetitionSignals(docs).select($"doc_id").as[Long].collect().toSet shouldBe
      Set(1L)
    // decontamination: null-text docs contribute no shingles on either
    // side and never throw
    Curation.decontaminate(docs, docs.filter($"doc_id" === 2L), w = 8).count() shouldBe 0L
    // bm25 drops null-text docs from the corpus stats and tf stream
    Search.bm25TopK(spark, docs, Seq("q" -> Seq("words")), k = 5).count() shouldBe 1L
  }

  "butterworth kernels" should "handle degenerate block sizes" in {
    val c = Butterworth.lowPass(4, 250.0, 20.0)
    Butterworth.filterBlock(c, Array.empty[Double], 10) shouldBe empty
    Butterworth.filterBlock(c, Array(1.0), 10).length shouldBe 1
    graft.functions.Winnow.fingerprints("", 8, 4) shouldBe empty
    graft.functions.Winnow.fingerprints("ab", 8, 4).length shouldBe 1
  }

  "round-8 grid operators" should "return empty results (not fail) on empty input" in {
    val e = emptyTs.withColumn("user_id", lit(0L)).withColumn("event_id", lit(0L))
    Timeseries.ewmaBaseline(e).count() shouldBe 0L
    Timeseries.haarSpectrum(e).count() shouldBe 0L
    Timeseries.grangerScreen(e).count() shouldBe 0L
    Timeseries.psiScreen(e).count() shouldBe 0L
    Timeseries.extremesScreen(e).count() shouldBe 0L
    Timeseries.cadenceDrift(e).count() shouldBe 0L
    Timeseries.changepoints(e).count() shouldBe 0L
    Timeseries.seasonalAnomalies(e).count() shouldBe 0L
    Timeseries.transitionMatrix(e).count() shouldBe 0L
  }

  it should "degrade gracefully on single-sample channels" in {
    val one = Seq(("solo", 1000L, 5.0, 0L, 0L)).toDF("channel", "t", "v", "user_id", "event_id")
    Timeseries.ewmaBaseline(one).count() shouldBe 1L // its own kernel
    Timeseries.haarSpectrum(one).count() shouldBe 0L // no pair at any level
    Timeseries.grangerScreen(one).count() shouldBe 0L // no lagged rows
    Timeseries.cadenceDrift(one).count() shouldBe 0L // no intervals
    Timeseries.transitionMatrix(one).count() shouldBe 0L // no transition
    // a single sample puts mid = t0 and EVERY event in the first half;
    // the empty-half guard drops the channel rather than emitting the
    // 0/0 = NaN proportions (Spark nulls the NaN, DuckDB errors on it)
    Timeseries.psiScreen(one).count() shouldBe 0L
    noException should be thrownBy Timeseries.changepoints(one).collect()
  }

  "round-8 corpus operators" should "tolerate null and empty text" in {
    import graft.operators.{Curation, Packing, Search, TextAnalysis}
    val docs = Seq(
      (1L, "normal words here", "s"),
      (2L, null.asInstanceOf[String], "s"),
      (3L, "", "s")
    ).toDF("doc_id", "text", "source")
    noException should be thrownBy TextAnalysis.oovRates(docs).collect()
    Curation.trainSplit(docs).select(sum($"n_docs")).as[Long].head() shouldBe 3L
    Packing.trainShards(docs, 100L).select(sum($"n_docs")).as[Long].head() shouldBe 3L
    Search.booleanSearch(spark, docs, Seq(("q", Seq("words"), Seq.empty))).count() shouldBe 1L
    Search.proximitySnippets(docs, "normal", "here", 5).count() shouldBe 1L
  }
}
