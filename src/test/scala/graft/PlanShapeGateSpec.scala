package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** The registry-wide plan-shape regression gate.
  *
  * Two nets, both motivated by the same failure mode: a future edit
  * that silently adds an exchange (or a global sort) to a query whose
  * scale story depends on not having one would previously surface only
  * as a bench diff several artifacts later. Here it fails CI directly.
  *
  * 1. Corpus-grain projections must plan ZERO global sorts. The
  *    round-13 verdict's one remaining avoidable exchange class was a
  *    trailing presentational `.orderBy(doc_id)` on per-document
  *    outputs — free at sf0.01, a corpus-wide range-partition sort at
  *    100 TB, appended to operators whose kernels are otherwise
  *    zero-shuffle map-side projections. The driver's comparator
  *    hashes order-insensitively (tools/compare.py), so output order
  *    on these queries is not semantic. Swept by id so the next
  *    per-doc query written with a trailing sort fails here.
  *
  * 2. Every registry query's (shuffle, sort, broadcast) counts are
  *    pinned to a committed table. Counts are taken from the INITIAL
  *    physical plan (pre-AQE-execution — deterministic for fixed
  *    testdata and confs). Any drift, up or down, fails with the diff;
  *    intentional plan changes regenerate the table by running this
  *    suite with GRAFT_REGEN_PLANSHAPES=1.
  */
class PlanShapeGateSpec extends SparkSpec {

  private def initialRoot(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def shapeOf(df: DataFrame): (Int, Int, Int, Int, Int) = {
    val r = initialRoot(df)
    (
      r.collectWithSubqueries { case s: ShuffleExchangeExec => s }.size,
      r.collectWithSubqueries { case s: SortExec => s }.size,
      r.collectWithSubqueries { case b: BroadcastExchangeExec => b }.size,
      r.collectWithSubqueries { case j: BroadcastNestedLoopJoinExec => j }.size,
      r.collectWithSubqueries { case j: CartesianProductExec => j }.size
    )
  }

  /** The per-document (or per-derived-row, corpus-cardinality) output
    * queries: row count scales with the corpus, so a global output
    * sort is a corpus-wide exchange bought purely for presentation.
    * Queries whose output order IS semantic (ts_range's ordered serve
    * stream, TPC-H's specified ORDER BY over summary-grain results)
    * are deliberately absent.
    */
  private val corpusGrainQueries: Seq[String] = Seq(
    // curation
    "pii_detect", "text_decontam", "train_dsir", "train_curriculum",
    // dedup + dup-graph (labels/spans/pairs at corpus or pair grain)
    "dedup_prefix", "dedup_spans", "dedup_passage", "dedup_substr",
    "dedup_exact", "dedup_exact_hash", "dedup_cross_source", "dedup_bloom",
    "dedup_clusters", "dedup_clusters_star", "train_dedup_weights",
    "graph_pagerank", "graph_triangles", "graph_communities",
    "graph_kcore", "graph_closeness", "graph_betweenness",
    // mined-pair relations (pair count scales with the corpus)
    "dedup_minhash", "dedup_simhash", "dedup_ngram", "dedup_containment",
    "dedup_embed", "dedup_embed_blocked", "dedup_semantic",
    "dedup_semantic_clusters", "graph_jaccard", "mm_phash", "mm_audio_match",
    // per-vector outputs (embeddings are corpus-cardinality)
    "embed_kmeans", "embed_outliers", "embed_silhouette", "embed_hubness",
    "embed_lof", "embed_debias", "embed_dups",
    // multimodal per-doc / per-frame features
    "mm_entropy", "mm_decode", "mm_resize", "mm_frames", "mm_audio",
    "mm_audio_vad", "mm_video_shots", "mm_phash_clusters", "mm_audio_fp",
    // packing / search / tokenizer per-doc outputs
    "pack_sequences", "search_substring",
    "tokenize_bpe", "tokenize_unigram", "tokenize_wordpiece",
    // text-analysis per-doc batteries
    "quality_c4", "quality_fineweb", "quality_gopher", "text_code_detect",
    "text_tokens", "text_quality", "text_entropy", "text_langid",
    "text_fingerprint", "text_perplexity", "text_perplexity2",
    "text_split", "text_repetition", "text_chunk", "corpus_hapax",
    "text_readability",
    // per-sample flags (one row per flagged sample)
    "ts_hampel"
  )

  "corpus-grain projections" should "plan zero global sorts" in {
    corpusGrainQueries.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val globalSorts = df.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s
      }
      withClue(s"$name plans a global sort over corpus-grain output:\n") {
        globalSorts shouldBe empty
      }
    }
  }

  private val pinFile = new java.io.File("src/test/resources/plan_shapes_sf0001.tsv")

  "every registry query" should "match its pinned (shuffle, sort, broadcast, bnlj, cartesian) plan shape" in {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val actual: Seq[(String, (Int, Int, Int, Int, Int))] = names.map { name =>
      name -> shapeOf(SparkEntry.queries(name)(spark, sfDir))
    }
    if (sys.env.get("GRAFT_REGEN_PLANSHAPES").contains("1")) {
      val w = new java.io.PrintWriter(pinFile, "UTF-8")
      try {
        w.println("# query\tshuffles\tsorts\tbroadcasts\tbnlj\tcartesian  (initial physical plan, sf0.001, local[4], shuffle.partitions=4)")
        actual.foreach { case (n, (sh, so, br, nl, ca)) => w.println(s"$n\t$sh\t$so\t$br\t$nl\t$ca") }
      } finally w.close()
      info(s"regenerated ${pinFile.getPath} with ${actual.size} entries")
    } else {
      withClue(s"missing ${pinFile.getPath} — regenerate with GRAFT_REGEN_PLANSHAPES=1:") {
        pinFile.exists() shouldBe true
      }
      val pinned: Map[String, (Int, Int, Int, Int, Int)] =
        scala.io.Source.fromFile(pinFile, "UTF-8").getLines()
          .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
          .map { l =>
            val parts = l.split("\t")
            parts(0) -> ((parts(1).toInt, parts(2).toInt, parts(3).toInt, parts(4).toInt, parts(5).toInt))
          }.toMap
      // registry and pin table must cover each other exactly
      withClue("registry/pin-table id mismatch (regenerate after adding/removing queries):") {
        names.toSet shouldBe pinned.keySet
      }
      val drifted = actual.filter { case (n, t) => pinned(n) != t }
      withClue(
        drifted.map { case (n, (sh, so, br, nl, ca)) =>
          val (psh, pso, pbr, pnl, pca) = pinned(n)
          s"$n: pinned (shuffles=$psh, sorts=$pso, broadcasts=$pbr, bnlj=$pnl, cartesian=$pca)" +
            s" -> now (shuffles=$sh, sorts=$so, broadcasts=$br, bnlj=$nl, cartesian=$ca)"
        }.mkString("plan-shape drift:\n", "\n", "\n(intentional? regenerate with GRAFT_REGEN_PLANSHAPES=1)\n")
      ) {
        drifted shouldBe empty
      }
    }
  }

  /** The join-type ban: a BroadcastNestedLoopJoin or CartesianProduct
    * can arrive SHUFFLE-FREE, so the exchange counts alone would let a
    * corpus×corpus nested loop slip through. Two structural rules,
    * swept registry-wide on the initial physical plan:
    *
    * 1. ZERO CartesianProduct nodes, no exceptions — every declared
    *    exact baseline broadcasts its small side (a BNLJ), so a
    *    Cartesian anywhere means both sides were estimated big: the
    *    exact shape that detonates at 100 TB.
    * 2. Every BNLJ's broadcast side must be a BOUNDED relation:
    *    structurally, its subtree contains an aggregate (summary
    *    grain) or a filter (the pinned-literal query-row selection the
    *    ann/search configs use). A BARE unfiltered scan broadcast into
    *    a nested loop is the banned shape — that side is corpus-grain
    *    and the broadcast is an OOM at scale, not a slowdown. (Which
    *    queries carry BNLJs at all is itself pinned per-query by the
    *    bnlj count above, so a NEW nested loop fails the pin before
    *    this rule even runs.)
    */
  "the registry" should "plan no CartesianProduct and no BNLJ over an unbounded broadcast side" in {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val r = initialRoot(SparkEntry.queries(name)(spark, sfDir))
      withClue(s"$name plans a CartesianProduct (both sides estimated big — banned shape):\n") {
        r.collectWithSubqueries { case j: CartesianProductExec => j } shouldBe empty
      }
      r.collectWithSubqueries { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        val b = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        val bounded = b.collect {
          case a: HashAggregateExec => a: org.apache.spark.sql.execution.SparkPlan
          case a: ObjectHashAggregateExec => a
          case a: SortAggregateExec => a
          case f: org.apache.spark.sql.execution.FilterExec => f
          case l: org.apache.spark.sql.execution.LocalTableScanExec => l
          case g: org.apache.spark.sql.execution.GlobalLimitExec => g
        }
        withClue(s"$name broadcast-nested-loops an UNBOUNDED side (bare scan, no agg/filter/limit):\n${b.treeString}") {
          bounded should not be empty
        }
      }
    }
  }
}
