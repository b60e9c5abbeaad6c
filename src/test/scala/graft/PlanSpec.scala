package graft

import graft.operators.{Dedup, Relational, Similarity, Timeseries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** Plan-hygiene assertions: the properties that keep these operators
  * viable at 100 TB — filter/column pushdown reaching the scan,
  * partial (map-side) aggregation, broadcast of small sides, bounded
  * shuffle counts — asserted against the actual physical plans.
  */
class PlanSpec extends SparkSpec {

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countShuffles(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collectWithSubqueries { case s: ShuffleExchangeExec => s }.size
  }

  /** Every node of the final adaptive plan after a collect, descending
    * into materialized query stages (leaf nodes to a plain walk); a
    * reused exchange references an already-walked stage, so the walk
    * stays shallow there.
    */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        df.collect()
        val seen = scala.collection.mutable.ArrayBuffer[SparkPlan]()
        def go(n: SparkPlan): Unit = {
          seen += n
          n match {
            case q: QueryStageExec => go(q.plan)
            case _: ReusedExchangeExec => ()
            case other => other.children.foreach(go)
          }
        }
        go(a.executedPlan)
        seen.toSeq
      case p => fail(s"expected adaptive plan, got ${p.getClass}")
    }

  "q1_agg" should "push the shipdate filter into the parquet scan" in {
    val plan = planString(Relational.q1Agg(spark, sfDir))
    plan should include("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
  }

  it should "aggregate partially before its single pre-sort shuffle" in {
    val df = Relational.q1Agg(spark, sfDir)
    planString(df) should include("partial_sum")
    // one shuffle for the aggregate, one range partitioning for the
    // deterministic output ORDER BY
    countShuffles(df) should be <= 2
  }

  "ts_downsample" should "read only the three needed columns and partial-aggregate" in {
    val df = Timeseries.tsDownsample(spark, sfDir)
    val plan = planString(df)
    // ts reads as bigint (nanosAsLong), timestamp, or timestamp_ntz
    // depending on the writer's encoding — the pruning claim is the
    // three-column ReadSchema, not the timestamp physical type
    plan should include regex "ReadSchema: struct<ts:(bigint|timestamp|timestamp_ntz),event_type:string,value:double>"
    plan should include("partial_min")
    countShuffles(df) should be <= 2
  }

  "q14_promo" should "push the shipdate range to the lineitem scan" in {
    val plan = planString(Relational.q14Promo(spark, sfDir))
    plan should include("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate")
  }

  "q16_counts" should "push part predicates and plan the two-phase distinct expansion" in {
    val df = Relational.q16Counts(spark, sfDir)
    val plan = planString(df)
    // part-side pruning reaches the scan
    plan should include regex "PushedFilters: \\[.*p_size.*"
    // COUNT(DISTINCT) group-by = partial dedup on (group, suppkey)
    // before the exchange, then the counting aggregate
    plan should include("partial_count(distinct")
  }

  "q19_bands" should "factor part-only conjuncts out of the disjunction into the part scan" in {
    val plan = planString(Relational.q19Bands(spark, sfDir))
    plan should include regex "PushedFilters: \\[.*p_brand.*"
    // the quantity bound common to all three arms prunes lineitem too
    plan should include regex "PushedFilters: \\[.*l_quantity.*"
  }

  "q13_dist" should "keep zero-order customers through a left outer join" in {
    val plan = planString(Relational.q13Dist(spark, sfDir))
    plan should include("LeftOuter")
  }

  "q15_top" should "broadcast the 1-row max back over the supplier summary" in {
    val plan = planString(Relational.q15Top(spark, sfDir))
    // Catalyst rewrites crossJoin+filter(__rev === __mx) into a hash
    // join keyed on the exact-decimal max, broadcast from the 1-row side
    plan should include regex "BroadcastHashJoin \\[__rev"
  }

  "q17_small" should "decorrelate the per-part average into exactly one extra fact scan" in {
    val plan = planString(Relational.q17Small(spark, sfDir))
    // fact + avg relation = two lineitem scans, nothing per-row
    plan.sliding("lineitem.parquet".length).count(_ == "lineitem.parquet") shouldBe 2
  }

  "q22_anti" should "plan a hash anti-join with the scalar threshold broadcast" in {
    val plan = planString(Relational.q22Anti(spark, sfDir))
    plan should include("LeftAnti")
    (plan should not).include("SortMergeJoin") // key side broadcasts at these sizes
  }

  "embed_silhouette" should "evaluate all centroid distances in a shuffle-free projection" in {
    val df = graft.operators.Similarity.embedSilhouette(
      Tables.embeddings(spark, sfDir), k = 4, iters = 1)
    countShuffles(df) shouldBe 0
  }

  "ts_range" should "push both channel and time predicates to the scan" in {
    val plan = planString(Timeseries.tsRange(spark, sfDir))
    plan should include("PushedFilters:")
    plan should include("In(event_type")
  }

  "q2_join" should "broadcast every dimension table (no shuffle join)" in {
    val df = Relational.q2Join(spark, sfDir)
    val plan = planString(df)
    plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") shouldBe 3
    plan should not include "SortMergeJoin"
  }

  "q3_topk" should "use TakeOrdered instead of a global sort" in {
    planString(Relational.q3TopK(spark, sfDir)) should include("TakeOrderedAndProject")
  }

  "ann_bruteforce" should "broadcast the query side, pre-rank with WindowGroupLimit, and use vec_dot" in {
    val emb = Tables.embeddings(spark, sfDir)
    val df = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
    val plan = planString(df)
    plan should include("BroadcastNestedLoopJoin")
    // top-k per query is limited partially before the shuffle
    plan should include("WindowGroupLimit")
    // the cosine kernel is the native expression (BNLJ stages fall out
    // of whole-stage codegen; VecDot's compiled eval loop still applies —
    // the codegen path itself is asserted in VectorMathSpec)
    plan should include("vec_dot")
  }

  "ann_knn_label" should "column-prune the label lookup scan to (vec_id, label)" in {
    // the second table scan exists only for labels — it must not
    // re-read the embedding column (the dominant bytes)
    val plan = planString(Similarity.annKnnLabel(spark, sfDir))
    plan should include("ReadSchema: struct<vec_id:bigint,label:int>")
  }

  "BucketedLayout" should "plan channel-keyed aggregation and self-join with zero shuffles" in {
    import graft.sources.BucketedLayout
    // a previous JVM's warehouse dir survives while the in-memory
    // catalog does not — clear both so the overwrite is well-defined
    spark.sql("DROP TABLE IF EXISTS ts_bucketed_planspec")
    val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "ts_bucketed_planspec")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(loc)
    }
    BucketedLayout.writeBucketed(
      Tables.ts(spark, sfDir).select(col("channel"), col("t"), col("v")),
      "ts_bucketed_planspec",
      8
    )
    val t = BucketedLayout.readTable(spark, "ts_bucketed_planspec")
    // aggregation keyed by the bucket column: the scan already
    // satisfies the hash distribution
    val agg = t.groupBy(col("channel")).agg(avg(col("v")).as("m"), count(lit(1)).as("n"))
    countShuffles(agg) shouldBe 0
    // channel self-join (raw stream against per-channel summary):
    // both sides read pre-bucketed data — no exchange anywhere
    val joined = t.join(
      BucketedLayout.readTable(spark, "ts_bucketed_planspec")
        .groupBy(col("channel"))
        .agg(max(col("t")).as("mt")),
      Seq("channel")
    )
    countShuffles(joined) shouldBe 0
    joined.count() shouldBe t.count()
    // §5's montage claim, machine-checked: the sample-aligned montage
    // equi-join on (sec, t) is CO-PARTITIONED by the channel bucketing
    // (subset-key compatibility), so even as a sort-merge join — the
    // 100 TB shape, forced here by disabling auto-broadcast — it plans
    // zero exchanges end to end
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val m = Timeseries.montageAligned(spark, t, Seq(("click", "view")))
      m.collect()
      countShuffles(m) shouldBe 0
      planString(m) should include("SortMergeJoin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  "dedup LSH candidate generation" should "never materialize a bucket as a single row" in {
    // a boilerplate mega-bucket must cost one COUNT row, not a
    // collect_list the size of the bucket — assert the counted-bucket
    // shape holds in both banding-based candidate generators
    val docs = Dedup.withPlantedNearDups(Tables.documents(spark, sfDir))
    planString(Dedup.minhashNearDups(docs)) should not include "collect_list"
    planString(Dedup.simhashNearDups(docs)) should not include "collect_list"
  }

  "dedup/graph report plans" should "never broadcast a row-grain relation derived from the corpus scan" in {
    // the OOM class the round-8 audit flagged in dedup_matrix /
    // train_dedup_weights: broadcasting a relation that is still at
    // (or above) corpus row grain — e.g. the doc_id→source map or the
    // doc_id→cluster labels. A broadcast subtree that reaches the
    // documents scan WITHOUT passing any aggregation is exactly that
    // disease (aggregated sides — 1-row totals, k-row cells, counted
    // buckets — are the legitimate broadcast-update shape and pass).
    // Swept over every dedup/graph/report registry entry so the next
    // report query written with the same disease fails here.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def rowGrainCorpus(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",").contains("documents")
      case other => other.children.exists(rowGrainCorpus)
    }
    val guarded = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("dedup_") || n.startsWith("graph_") || n == "train_dedup_weights")
    guarded should not be empty
    for (name <- guarded) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val offenders = root.collectWithSubqueries {
        case b: BroadcastExchangeExec if rowGrainCorpus(b.child) => b
      }
      withClue(s"$name broadcasts a row-grain corpus relation:\n${offenders.mkString("\n")}\n") {
        offenders shouldBe empty
      }
    }
  }

  "bucketed embedding self-join plans" should "never broadcast a row-grain relation derived from the corpus scan" in {
    // the embeddings-table twin of the dedup/graph sweep above, for
    // the operators whose scale story is a bucket-keyed CORPUS
    // self-join (both sides corpus cardinality). The ann_* queries are
    // deliberately NOT swept: their broadcasts are the REQUEST side —
    // a literally-bounded query set that happens to live in the same
    // parquet file in testdata — which is exactly the shape their
    // docstrings declare.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def rowGrainCorpus(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",").contains("embeddings")
      case other => other.children.exists(rowGrainCorpus)
    }
    val guarded = Seq("embed_hubness", "embed_lof", "dedup_embed_blocked", "dedup_semantic", "dedup_semantic_clusters", "embed_dups")
    for (name <- guarded) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val offenders = root.collectWithSubqueries {
        case b: BroadcastExchangeExec if rowGrainCorpus(b.child) => b
      }
      withClue(s"$name broadcasts a row-grain embeddings relation:\n${offenders.mkString("\n")}\n") {
        offenders shouldBe empty
      }
    }
  }

  "timeseries plans" should "never broadcast a row-grain relation derived from the event stream" in {
    // the events-table instance of the same sweep: events IS the
    // 100 TB stream, so any broadcast whose subtree reaches the events
    // scan without an aggregation is a row-grain stream broadcast — the
    // shape that OOMs at the design point. Channel/user/bucket-grain
    // aggregates broadcast back over the stream are the legitimate
    // two-phase pattern and pass. Swept over EVERY ts_ registry entry.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def rowGrainStream(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",").contains("events")
      case other => other.children.exists(rowGrainStream)
    }
    val guarded = SparkEntry.queries.keys.toSeq.sorted.filter(_.startsWith("ts_"))
    guarded.size should be > 70
    for (name <- guarded) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val offenders = root.collectWithSubqueries {
        case b: BroadcastExchangeExec if rowGrainStream(b.child) => b
      }
      withClue(s"$name broadcasts a row-grain event-stream relation:\n${offenders.mkString("\n")}\n") {
        offenders shouldBe empty
      }
    }
  }

  "text-analysis plans" should "never broadcast a vocabulary-grain relation derived from the corpus" in {
    // the round-9 corpus_drift disease class: a broadcast side that IS
    // aggregated (so the row-grain sweep above passes it) but
    // aggregated TO THE WORD KEY — vocabulary grain, 10^8-10^9 distinct
    // tokens on a web corpus, NOT broadcast-sized at the design point.
    // The detector walks each broadcast subtree toward the documents
    // scan: an aggregation whose grouping keys still carry a token-ish
    // column keeps vocabulary grain (descend); an aggregation that
    // drops every such key collapses grain to slice size (stop); a
    // LIMIT bounds cardinality outright (stop). Flag any surviving
    // path that reaches a Generate (the word explode) over documents.
    // The sweep runs with auto-broadcast DISABLED so only AUTHORED
    // broadcast hints are judged: an auto build-side pick flips to
    // shuffle at real scale when the stats grow, but a hint pins the
    // vocabulary relation to the driver no matter the size.
    import org.apache.spark.sql.execution.{
      CollectLimitExec,
      FileSourceScanExec,
      GenerateExec,
      GlobalLimitExec,
      LocalLimitExec,
      SparkPlan,
      TakeOrderedAndProjectExec
    }
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.types.StringType
    def reachesDocs(n: SparkPlan): Boolean = n match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",").contains("documents")
      case other => other.children.exists(reachesDocs)
    }
    // PROVENANCE taint, not names: the round-9 detector matched
    // token-ish COLUMN NAMES, which a relation keyed `w` (the pre-fix
    // corpus_pmi unigram table) slipped straight past. Here an
    // attribute is tainted when its lineage reaches the word-explode
    // Generate over documents; aggregation keeps taint only on
    // grouping keys that still reference tainted STRING columns (the
    // raw token — numeric derivations like hash buckets / sketch
    // registers are bounded-by-construction key transforms and pass),
    // and a LIMIT clears taint outright (cardinality bounded).
    def taintedAttrs(n: SparkPlan): Set[Long] = n match {
      case g: GenerateExec =>
        val below = g.children.map(taintedAttrs).fold(Set.empty[Long])(_ ++ _)
        if (reachesDocs(g))
          below ++ g.generatorOutput.filter(_.dataType == StringType).map(_.exprId.id)
        else below
      case p: ProjectExec =>
        val below = p.children.map(taintedAttrs).fold(Set.empty[Long])(_ ++ _)
        below ++ p.projectList.collect {
          case a: Alias
              if a.dataType == StringType &&
                a.references.exists(r => below(r.exprId.id)) =>
            a.exprId.id
        }
      case a: BaseAggregateExec =>
        val below = a.children.map(taintedAttrs).fold(Set.empty[Long])(_ ++ _)
        a.groupingExpressions.collect {
          case g
              if g.dataType == StringType &&
                g.references.exists(r => below(r.exprId.id)) =>
            g.toAttribute.exprId.id
        }.toSet
      case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec |
          _: CollectLimitExec =>
        Set.empty
      case other => other.children.map(taintedAttrs).fold(Set.empty[Long])(_ ++ _)
    }
    def vocabGrain(n: SparkPlan): Boolean = {
      val t = taintedAttrs(n)
      n.output.exists(o => t(o.exprId.id))
    }
    def offendersOf(df: DataFrame): Seq[SparkPlan] = {
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collectWithSubqueries { case b: BroadcastExchangeExec if vocabGrain(b.child) => b }
    }
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
    // red-bar proof: the pre-fix corpus_drift shape (pair × vocab grid
    // LEFT JOIN broadcast(word-keyed probabilities)) must be CAUGHT —
    // with the key deliberately named the single letter `w`, the exact
    // naming that walked the round-9 name-matching detector straight
    // past the pre-fix corpus_pmi unigram broadcast
    val docs = graft.Tables.documents(spark, sfDir)
    val w = docs
      .filter(col("text").isNotNull)
      .select(col("lang"), explode(expr(graft.operators.TextAnalysis.WordsSql)).as("w"))
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
    val langs = docs.select(col("lang")).distinct()
    val prs = langs
      .select(col("lang").as("la"))
      .join(langs.select(col("lang").as("lb")), col("la") < col("lb"))
    val broken = prs
      .crossJoin(w.select(col("w")).distinct())
      .join(broadcast(w.select(col("lang").as("la"), col("w"), col("c"))), Seq("la", "w"), "left")
    withClue("the detector must flag the grid + broadcast(word-keyed) shape even named `w`:") {
      offendersOf(broken) should not be empty
    }
    // ...and a LIMITed vocabulary head (the corpus_oov shape) must PASS
    val limited = docs
      .filter(col("text").isNotNull)
      .select(col("source"), explode(expr(graft.operators.TextAnalysis.WordsSql)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(100)
    withClue("a LIMIT-bounded vocabulary head is broadcast-legal:") {
      offendersOf(w.join(broadcast(limited), Seq("w"), "left")) shouldBe empty
    }
    // sweep the whole text-analysis driver family. text_decontam (and
    // corpus_funnel, which composes its kernel) broadcast a relation
    // the taint walk flags — the eval-suite shingle set — but that set
    // is bounded by the benchmark suite, not the corpus: the documented
    // decontaminate contract (Curation.scala). DECLARED here instead of
    // silently escaping on a column name.
    val declaredBounded = Set("text_decontam", "corpus_funnel")
    val guarded = SparkEntry.queries.keys.toSeq.sorted.filter(n =>
      n.startsWith("corpus_") || n.startsWith("text_") || n.startsWith("quality_") ||
        n.startsWith("tokenize_")
    )
    guarded.size should be > 25
    for (name <- guarded if !declaredBounded(name)) {
      val offenders = offendersOf(SparkEntry.queries(name)(spark, sfDir))
      withClue(s"$name broadcasts a vocabulary-grain corpus relation:\n${offenders.mkString("\n")}\n") {
        offenders shouldBe empty
      }
    }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  "ts_hotpath" should "push the range to the scan and keep the composed chain's shuffle budget bounded" in {
    val df = graft.operators.Filtering.tsHotpath(spark, sfDir)
    // [range] reaches the events scan as a data filter on the
    // timestamp column — the chain never reads outside the request
    planString(df) should include("1704067200000000")
    // stage budget: grid agg + montage join are the only DATA-grain
    // exchanges; the filter's local-pass shuffle (planned once per
    // consumer, run once through exchange reuse), its summary and
    // block shuffles, downsample, segment assembly and output sort all
    // operate at grid/pixel grain. The composed chain must not silently
    // grow extra stages as its pieces evolve (12 at writing).
    countShuffles(df) should be <= 12
  }

  "ts_unit_hotpath" should "push the range to the scan and keep the composed chain's shuffle budget bounded" in {
    val df = graft.operators.UnitHotpath.tsUnitHotpath(spark, sfDir)
    // the page trim reaches the events scan as a data filter
    planString(df) should include("1704067200000000")
    // stage budget: the event-bin agg, the index-bound agg, the
    // waveform two-phase rank/group machinery and the per-channel
    // message assembly — none corpus-global beyond these; the chain
    // must not silently grow extra data-grain stages as its pieces
    // evolve (9 at writing)
    countShuffles(df) should be <= 12
  }

  "two-phase ts operators" should "never window the data stream by channel alone" in {
    // the 100 TB constraint: a Window partitioned by channel alone
    // concentrates each channel's history into one task. After the
    // two-phase rewrite the ONLY channel-partitioned windows permitted
    // in these plans run over per-bucket summary relations (one row
    // per non-empty bucket — identified by their __pb_* outputs);
    // every window over the data stream must carry a finer key, and
    // nothing may window with no partitioning at all.
    import graft.operators.Filtering
    val plans = Seq(
      "ts_gaps" -> Timeseries.tsGaps(spark, sfDir),
      "ts_spikes" -> Timeseries.tsSpikes(spark, sfDir),
      "ts_resample_chunk" -> Timeseries.tsResampleChunk(spark, sfDir),
      "ts_waveforms" -> Timeseries.tsWaveforms(spark, sfDir),
      "ts_butterworth" -> Filtering.tsButterworth(spark, sfDir),
      "ts_montage_filter" -> Filtering.tsMontageFilter(spark, sfDir),
      "ts_acf" -> Timeseries.tsAcf(spark, sfDir),
      "ts_sessions" -> Timeseries.tsSessions(spark, sfDir),
      "ts_interp" -> Timeseries.tsInterp(spark, sfDir),
      "ts_cusum" -> Timeseries.tsCusum(spark, sfDir),
      "ts_shift" -> Timeseries.tsShift(spark, sfDir),
      "ts_fir" -> Timeseries.tsFir(spark, sfDir),
      "ts_annotations" -> Timeseries.tsAnnotations(spark, sfDir),
      "ts_hampel" -> Timeseries.tsHampel(spark, sfDir),
      "ts_peaks" -> Timeseries.tsPeaks(spark, sfDir),
      // (ts_journeys is excluded: its one empty-partitionSpec rank
      // window runs above the LIMIT-15 reduction, which is sanctioned)
      "ts_pacf" -> Timeseries.tsPacf(spark, sfDir),
      "ts_perm_entropy" -> Timeseries.tsPermEntropy(spark, sfDir),
      "ts_runs" -> Timeseries.tsRuns(spark, sfDir),
      "ts_bands" -> Timeseries.tsBands(spark, sfDir),
      "ts_lttb" -> Timeseries.tsLttb(spark, sfDir),
      "ts_arrival_stats" -> Timeseries.tsArrivalStats(spark, sfDir),
      "ts_cadence" -> Timeseries.tsCadence(spark, sfDir),
      "ts_changepoints" -> Timeseries.tsChangepoints(spark, sfDir),
      "ts_anomaly" -> Timeseries.tsAnomaly(spark, sfDir)
    )
    plans.foreach { case (name, df) =>
      val windows = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      withClue(s"$name:") {
        windows should not be empty
        windows.foreach { w =>
          withClue(s"window over ${w.partitionSpec}:") {
            w.partitionSpec should not be empty
            val parts = w.partitionSpec.collect {
              case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
            }
            if (parts == Seq("channel"))
              w.output.map(_.name).count(_.startsWith("__pb_")) should be > 0
          }
        }
      }
    }
  }

  "ts_skew_stats" should "aggregate the data stream on the SALTED key, combining per channel only above it" in {
    // the hot-key remedy's contract: the data-scale aggregation groups
    // on (channel, __salt) — no reducer ever owns a whole channel —
    // and only the salt-cardinality combine groups on channel alone
    val df = Timeseries.tsSkewStats(spark, sfDir)
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.collect {
          case attr: org.apache.spark.sql.catalyst.expressions.Attribute => attr.name
        }
    }
    aggs.size shouldBe 2
    // one aggregate carries the salt next to channel; the other is the
    // channel-grain combine over salt-cardinality partials
    aggs.count(_.contains("__salt")) shouldBe 1
    aggs.count(g => g == Seq("channel")) shouldBe 1
    planString(df) should include("xxhash64")
  }

  "ts_forecast" should "fit through algebraic aggregations with NO window at all" in {
    // the OLS moments are map-side-combinable decimal sums: the plan
    // must contain zero Window operators (nothing per-channel-ordered
    // ever materializes) — the forecast explode runs at channel grain
    val df = Timeseries.tsForecast(spark, sfDir)
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    } shouldBe empty
  }

  "windowless grid operators" should "compute through aggregations and joins with NO window at all" in {
    // EWMA (explode + re-key), Haar (tier aggs), Granger (lag via
    // bucket+1 self-join), PSI (conditional counts) and extremes all
    // decompose into algebraic partial aggs — zero Window operators
    // means nothing per-channel-ordered ever materializes
    Seq(
      "ts_ewma" -> Timeseries.tsEwma(spark, sfDir),
      "ts_haar" -> Timeseries.tsHaar(spark, sfDir),
      "ts_granger" -> Timeseries.tsGranger(spark, sfDir),
      "ts_psi" -> Timeseries.tsPsi(spark, sfDir),
      "ts_extremes" -> Timeseries.tsExtremes(spark, sfDir)
    ).foreach { case (name, df) =>
      withClue(s"$name:") {
        df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        } shouldBe empty
      }
    }
  }

  "text_repetition" should "compute every signal with ZERO shuffles" in {
    // per-document statistics are a pure map-side kernel projection;
    // the only exchange permitted is the output ORDER BY's range
    // partitioning
    val df = graft.operators.TextAnalysis.textRepetition(spark, sfDir)
    countShuffles(df) should be <= 1
    planString(df) should include("repetition_stats")
  }

  "text_decontam" should "broadcast the eval gram set and probe it map-side" in {
    val df = graft.operators.Curation.textDecontam(spark, sfDir)
    val plan = planString(df)
    plan should include("BroadcastHashJoin")
    // corpus side: no shuffle before the broadcast probe — the only
    // exchanges are the eval-side distinct, the per-doc hit rollup,
    // and the output ordering
    countShuffles(df) should be <= 3
  }

  "bm25_search" should "cap per-query candidates map-side and broadcast the small relations" in {
    val df = graft.operators.Search.bm25Search(spark, sfDir)
    val plan = planString(df)
    plan should include("WindowGroupLimit")
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  "embed_kmeans" should "assign without shuffling the corpus" in {
    // final assignment = projection against literal centroids; the
    // plan has NO exchange except the output ORDER BY
    val df = Similarity.embedKmeans(spark, sfDir)
    countShuffles(df) should be <= 1
    planString(df) should include("vec_dot")
  }

  "ts_xcorr" should "broadcast the pair/lag relation and partial-aggregate the grid" in {
    val df = Timeseries.tsXcorr(spark, sfDir)
    val plan = planString(df)
    plan should include("BroadcastHashJoin")
    plan should include("partial_")
  }

  "ts_orc_range" should "push channel and time predicates into the ORC scan" in {
    val plan = planString(graft.sources.OrcLayout.tsOrcRange(spark, sfDir))
    plan should include("PushedFilters:")
    plan should include("In(channel")
  }

  "sample_stratified" should "push the per-stratum rank limit below the shuffle" in {
    // WindowGroupLimit keeps at most k rows per stratum on the map
    // side, so no task ever sorts a whole stratum
    planString(graft.operators.Curation.sampleStratifiedQ(spark, sfDir)) should
      include("WindowGroupLimit")
  }

  "train_mix" should "compute the whole manifest from ONE corpus scan with no join" in {
    val df = graft.operators.Curation.trainMixQ(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan
    plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j } shouldBe empty
    val scans = plan.collectLeaves()
    scans should have size 1
    // survivor selection windows on the hash group (8-byte key), never
    // on an unpartitioned or low-cardinality spec
    val windows = plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    windows should not be empty
    windows.foreach(_.partitionSpec should not be empty)
  }

  "ann_lsh_layout" should "prune embedding-layout partitions to the multi-probe set" in {
    import graft.sources.EmbLayout
    import graft.operators.Similarity
    val df = EmbLayout.annLshLayout(spark, sfDir)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = root.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.mkString(",").contains("emb_layout") => f
    }
    scans should not be empty
    // the probe IN-filter must reach the partition listing
    val partFilters = scans.head.partitionFilters.map(_.toString).mkString(" ")
    partFilters should include("p_bucket")
    // and the listed directories must be exactly a subset of the
    // driver-computed probe set — strictly fewer than the 2^planes
    // bucket universe (the pruning IS the index)
    val buckets = scans.head.selectedPartitions
      .toPartitionArray
      .map(_.urlEncodedPath)
      .flatMap("p_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toLong))
      .toSet
    buckets should not be empty
    buckets.size should be < (1 << EmbLayout.Planes)
    // value-identity with the flat-table query (the oracle also pins
    // this, but here it is pinned against the in-process plan)
    val flat = Similarity.annLsh(spark, sfDir).collect().toSeq
    val layout = df.collect().toSeq
    layout shouldBe flat
  }

  "ts_layout_range" should "prune layout partitions via rule-derived p_bucket bounds" in {
    import graft.sources.TsLayout
    val df = TsLayout.tsLayoutRange(spark, sfDir)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = root.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    scans should not be empty
    val partFilters = scans.head.partitionFilters.map(_.toString).mkString(" ")
    // the query never mentions p_bucket — DeriveBucketFilter must have
    // conjoined both bounds, and the channel filter must also prune
    partFilters should include("p_bucket")
    partFilters should (include(">=") and include("<="))
    partFilters should include("p_channel")
    // and the derived bounds must be the right ones: only the
    // [start, end) day-buckets of the two channels survive the listing
    val lo = Timeseries.RangeStartUs / TsLayout.DayUs
    val hi = (Timeseries.RangeEndUs - 1) / TsLayout.DayUs
    val buckets = scans.head.selectedPartitions
      .toPartitionArray
      .map(_.urlEncodedPath)
      .flatMap("p_bucket=(\\d+)".r.findFirstMatchIn(_).map(_.group(1).toLong))
    buckets should not be empty
    all(buckets.toSeq) should (be >= lo and be <= hi)
    // result equals the flat-table range scan (modulo event_id)
    val expected = Tables
      .ts(spark, sfDir)
      .filter(
        col("channel").isin("click", "error") &&
          col("t") >= Timeseries.RangeStartUs && col("t") < Timeseries.RangeEndUs
      )
      .select(col("channel"), col("t"), col("v"))
      .collect()
      .map(_.toString)
      .sorted
    df.collect().map(_.toString).sorted shouldBe expected
  }

  "ts_attribution" should "join on the (user, bucket) equi-key, never a nested loop over the stream" in {
    val df = graft.operators.Timeseries.tsAttribution(spark, sfDir)
    val plan = planString(df)
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the range predicate must ride an equi-keyed join as a residual
    plan should include("Join")
  }

  "dedup_spans" should "roll up gram dup counts with partial aggregation and no cross join" in {
    val df = graft.operators.Dedup.dedupSpans(spark, sfDir)
    val plan = planString(df)
    plan should include("partial_count")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // gram counts and the join back share the gram key; the per-doc
    // rollup and output order add the rest — data-scale exchanges stay
    // bounded and key-partial-aggregated
    countShuffles(df) should be <= 5
  }

  "ann_pq" should "scan byte codes once against broadcast query tables" in {
    val emb = Tables.embeddings(spark, sfDir)
    val df = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 5)
    val plan = planString(df)
    // corpus side: encode projection + broadcast join, never shuffled
    plan should include("BroadcastNestedLoopJoin")
    plan should include("WindowGroupLimit")
    plan should include("vec_dot")
    plan should not include "SortMergeJoin"
  }

  "dedup_semantic" should "broadcast the counted-cell admission relations" in {
    val df = Similarity.dedupSemantic(spark, sfDir)
    val plan = planString(df)
    // cell sizes (k rows) and block admission (≤ k·2^subPlanes rows)
    // join broadcast; the corpus-scale pair join is the (cluster,
    // block)-keyed hash join
    plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") should be >= 2
  }

  "ts_montage_channels" should "stay broadcast-join-only over the channel catalog" in {
    val df = Timeseries.tsMontageChannels(spark, sfDir)
    val plan = planString(df)
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    // exchanges: the channel-keyed catalog agg appears once per join
    // side in the static plan (identical subtrees — ReuseExchange
    // collapses them to one at runtime) + the output ordering
    countShuffles(df) should be <= 3
  }

  "ts_pyramid" should "serve every tier from one physical scan and one corpus-scale shuffle" in {
    val seen = executedNodes(Timeseries.tsPyramid(spark, sfDir))
    // every union branch shares the level-0 aggregate: reuse must
    // collapse the five branch scans to ONE materialized events scan
    seen.count(_.isInstanceOf[FileSourceScanExec]) shouldBe 1
    // tiers 1..L reuse the tier below; without reuse the pyramid
    // would rescan the corpus once per level
    seen.count(_.isInstanceOf[ReusedExchangeExec]) should be >= Timeseries.PyramidLevels
  }

  "filtered ts chains" should "read their input once" in {
    // applyCascade's local pass, per-bucket summary and join back all
    // consume ONE shuffle of the filter input (the typed pass needs
    // every column, so the two consumers' exchanges are identical and
    // reuse collapses them); the montage's two grid sides share one
    // grid aggregate the same way
    import graft.operators.Filtering
    Seq(
      "ts_butterworth" -> Filtering.tsButterworth(spark, sfDir),
      "ts_montage_filter" -> Filtering.tsMontageFilter(spark, sfDir),
      "ts_hotpath" -> Filtering.tsHotpath(spark, sfDir)
    ).foreach { case (name, df) =>
      withClue(s"$name:") {
        executedNodes(df).count(_.isInstanceOf[FileSourceScanExec]) shouldBe 1
      }
    }
  }

  "tokenize_bpe" should "encode via a vocab hash join with partial per-doc aggregation" in {
    val df = graft.operators.Tokenizer.bpeEncodeStats(Tables.documents(spark, sfDir), rounds = 3)
    val plan = planString(df)
    // the vocabulary side is broadcast at this scale; never a
    // nested-loop pairing of corpus words against the vocab
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("partial_count")
  }

  "cluster_topics" should "assign by literal-centroid projection and keep joins off corpus scale" in {
    val df = Similarity.clusterTopics(Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir))
    val plan = planString(df)
    // centroid assignment is a projection over literals — the only
    // joins are doc-granular (assignment) and vocabulary-scale (df)
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("partial_count")
    // unpartitioned windows are banned — the rank is per-cluster
    val unpart = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    unpart shouldBe empty
  }

  "mm_audio" should "stay map-side until the output sort" in {
    val df = graft.operators.Multimodal.mmAudio(spark, sfDir)
    // one range partitioning for ORDER BY; decode + framing shuffle nothing
    countShuffles(df) should be <= 1
  }

  "sample_temperature" should "run its normalizing window above the source-cardinality aggregate" in {
    val df = graft.operators.Curation.sampleTemperature(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows should not be empty
    // every unpartitioned window must sit above an Aggregate — the
    // corpus itself never flows through a single-partition window
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggsBelow = w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      aggsBelow should not be empty
    }
  }

  "ts_asof" should "avoid any unpartitioned global-sort window over the data" in {
    val df = Timeseries.tsAsof(spark, sfDir)
    // the only unpartitioned window runs over the tiny per-bucket
    // summary (one row per bucket), never over the event stream: every
    // Window over full-width rows must carry a partition spec
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    windows should not be empty
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    // unpartitioned windows allowed only on the bucket-summary branch
    unpartitioned.foreach { w =>
      w.output.map(_.name) should contain("__carry")
    }
  }

  "dedup_containment" should "count shingle document frequency before any pair forms" in {
    val df = Dedup.dedupContainment(spark, sfDir)
    val plan = planString(df)
    // the counted-df admission: partial counts feed the filter that
    // gates the posting self-join, and no bucket ever materializes as
    // a row (no collect_list anywhere)
    plan should include("partial_count")
    plan should not include "collect_list"
  }

  "corpus_ngrams" should "emit all three orders from ONE corpus scan with a group-limited rank" in {
    val df = graft.operators.TextAnalysis.corpusNgrams(spark, sfDir)
    val plan = planString(df)
    // the tagged-struct concat keeps it to a single documents scan —
    // a UNION shape would scan three times
    plan.sliding("Scan parquet".length).count(_ == "Scan parquet") shouldBe 1
    plan should include("WindowGroupLimit")
    plan should include("partial_count")
  }

  "search_hybrid" should "broadcast the query side of both rankings" in {
    val plan = planString(graft.operators.Search.searchHybrid(spark, sfDir))
    // queries (vectors and word sets) broadcast; the corpus is scanned,
    // never shuffled against itself by a sort-merge join
    plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") should be >= 2
    plan should include("WindowGroupLimit")
  }

  "ts_coherence" should "join channel pairs only after the sample stream has reduced" in {
    val df = Timeseries.tsCoherence(spark, sfDir)
    // every join input must sit above an Aggregate: the pair fan-out
    // touches (channel, window, k) summaries, never raw samples
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    joins should not be empty
    joins.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        side.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a } should not be empty
      }
    }
  }

  "q7_volume" should "broadcast the nation sides and prune the fact scan to the needed columns" in {
    val df = Relational.q7Volume(spark, sfDir)
    val plan = planString(df)
    plan should include("BroadcastHashJoin")
    plan should include("partial_count")
    // column pruning: the lineitem scan must not read unneeded columns
    plan should not include "l_returnflag"
    plan should not include "l_tax"
  }

  "train_dsir" should "aggregate feature counts partially and never explode past the bucket width" in {
    val df = graft.operators.Curation.trainDsir(spark, sfDir)
    val plan = planString(df)
    plan should include("partial_count")
    plan should not include "SortMergeJoin"
  }
}
