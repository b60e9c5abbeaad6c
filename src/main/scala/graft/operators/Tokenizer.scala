package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016) — the
  * merge-table learner every LLM data pipeline runs before anything
  * else can count tokens. Each round counts adjacent symbol pairs
  * across the corpus, picks the most frequent pair, and rewrites every
  * occurrence into a merged symbol; the ranked merge list IS the
  * tokenizer.
  *
  * Scale shape — the detail that makes BPE trainable at 100 TB: the
  * corpus is scanned ONCE, reducing to a (word, freq) vocabulary
  * relation (vocabulary-scale, zipf-bounded: orders of magnitude
  * smaller than the corpus), and the entire merge loop runs over that
  * relation — pair counting is a partial aggregation over vocab rows
  * weighted by freq, the argmax is a 1-row collect (the Lloyd
  * broadcast-update shape), and the rewrite is a pure codegen'd
  * higher-order fold over each word's symbol array. No corpus rescan,
  * no shuffle wider than the distinct-pair relation, per round. Vocab
  * state is localCheckpoint'd each round so Catalyst never re-analyzes
  * the growing rewrite lineage (the planner-bound-loop discipline the
  * CC/PageRank loops established).
  *
  * Greedy left-to-right merge semantics: within a word the fold walks
  * symbols once, merging a (lhs, rhs) adjacency only when the
  * accumulator's LAST symbol is an unconsumed lhs — so "aaa" under
  * merge (a,a) becomes [aa, a], never [a, aa], and a freshly merged
  * symbol is never immediately re-merged. The DuckDB oracle replays
  * the identical fold with list_reduce, so the whole merge trajectory
  * is bit-identical across engines.
  */
object Tokenizer {

  /** One merge round's rewrite of a symbol array, as a codegen'd fold.
    * Single-symbol words pass through (slice of length 0 is avoided).
    */
  private def mergeFold(syms: Column, lhs: String, rhs: String): Column =
    when(size(syms) === 1, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        array(element_at(syms, 1)),
        (acc, s) =>
          when(
            element_at(acc, -1) === lit(lhs) && s === lit(rhs),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(lhs + rhs)))
          ).otherwise(concat(acc, array(s)))
      )
    )

  /** Train `rounds` BPE merges over the normalized word stream of
    * `docs`. Returns the ranked merge table (rank, lhs, rhs, merged,
    * pair_count) — pair_count is the corpus-wide weighted adjacency
    * count that won the round.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 10): DataFrame = {
    val (m, vocab) = bpeTrain(docs, rounds)
    Checkpoints.release(vocab)
    m
  }

  /** Train like [[bpeMerges]] but ALSO return the fully-rewritten
    * vocabulary after the last round — (word, freq, syms), where syms
    * is each word's final symbol sequence. Encoding a corpus under the
    * trained tokenizer is then a join against this vocabulary-scale
    * relation; no per-document merge replay is ever needed.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = 10): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (picks, vocab) =
      learnMerges(docs, rounds)(pairCounts(_).orderBy(col("cnt").desc, col("lhs"), col("rhs")))
    val merges = picks.zipWithIndex.map { case (p, i) =>
      val (l, rr) = (p.getAs[String]("lhs"), p.getAs[String]("rhs"))
      (i + 1L, l, rr, l + rr, p.getAs[Long]("cnt"))
    }
    (merges.toDF("rank", "lhs", "rhs", "merged", "pair_count"), vocab)
  }

  /** The corpus's (word, freq) vocabulary — the one corpus scan every
    * tokenizer learner runs before its rounds.
    */
  private def wordVocab(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(explode(split(expr(TextAnalysis.NormSql), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Freq-weighted counts (lhs, rhs, cnt) of every adjacent symbol pair
    * in a (word, freq, syms) vocabulary.
    */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(
        col("freq"),
        explode(
          expr(
            """transform(sequence(1, size(syms) - 1),
              |  i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))""".stripMargin
          )
        ).as("p")
      )
      .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))

  /** The merge-round learner BPE and WordPiece share: seed every word
    * as its characters, then per round take the first row of
    * `ranked(vocab)` — a relation with `lhs` and `rhs` — as the winning
    * pair and fold it into every word, until `rounds` merges or no
    * pair is left. Returns the winning rows in round order and the
    * final vocabulary (word, freq, syms).
    */
  private def learnMerges(docs: DataFrame, rounds: Int)(
    ranked: DataFrame => DataFrame
  ): (Seq[Row], DataFrame) = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    Checkpoints.keeping { pins =>
      var vocab = pins(wordVocab(docs).withColumn("syms", split(col("word"), "")))
      val picks = scala.collection.mutable.Buffer.empty[Row]
      var exhausted = false
      for (_ <- 1 to rounds if !exhausted) {
        val best = ranked(vocab).limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, rr) = (best(0).getAs[String]("lhs"), best(0).getAs[String]("rhs"))
          picks += best(0)
          vocab = pins.replace(vocab, vocab.withColumn("syms", mergeFold(col("syms"), l, rr)))
        }
      }
      (picks.toSeq, vocab)
    }(r => Seq(r._2))
  }

  /** Per-document token statistics under the trained tokenizer: encode
    * every corpus word with the merge table and count the resulting
    * symbols — the token accounting (budget, packing, pricing) step
    * that follows tokenizer training in every pipeline.
    *
    * Scale shape: the training loop already leaves the ENTIRE
    * vocabulary fully rewritten (word → final symbol array), so
    * encoding is a join of the exploded (doc_id, word) stream against
    * that zipf-bounded vocabulary relation — broadcast when it fits,
    * otherwise the same word-keyed hash join any wordcount pays — and
    * a per-doc partial aggregation. No merge fold ever runs over the
    * corpus itself, and no state bigger than the vocabulary exists.
    */
  def bpeEncodeStats(docs: DataFrame, rounds: Int = 10): DataFrame =
    encodedDocWords(docs, bpeTrain(docs, rounds)._2)
      .withColumn("ratio", round(col("n_tokens").cast("double") / col("n_chars"), 6))

  /** (merges, final vocab) for the registry's fixed 10-round training
    * run, an [[Intermediates]] entry per (session, sfDir) read by three
    * consumers (merge table, per-doc encode, per-lang fertility). The
    * final vocabulary is already localCheckpoint'd by the round loop,
    * and the merge table is a driver-size local relation.
    */
  def trainedFor(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Intermediates.getOrBuild(spark, "bpe", Tables.canonDir(dir)) {
      bpeTrain(Tables.documents(spark, dir))
    }

  /** The (doc_id, word) stream + vocabulary join behind every encode
    * consumer: per-doc word/char/token partial sums.
    */
  private def encodedDocWords(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val enc = vocab.select(col("word"), size(col("syms")).cast("long").as("w_tokens"))
    docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(split(expr(TextAnalysis.NormSql), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(enc, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("w_tokens")).as("n_tokens")
      )
  }

  def trainBpe(spark: SparkSession, dir: String): DataFrame =
    trainedFor(spark, dir)._1

  def tokenizeBpe(spark: SparkSession, dir: String): DataFrame =
    encodedDocWords(Tables.documents(spark, dir), trainedFor(spark, dir)._2)
      .withColumn("ratio", round(col("n_tokens").cast("double") / col("n_chars"), 6))

  /** Per-language tokenizer fertility under the trained BPE — the
    * standard multilingual tokenizer-parity report (how many tokens a
    * word costs per language, and how many characters each token
    * carries): a tokenizer trained on a skewed mix over-fragments the
    * under-represented languages, which silently inflates their
    * training/inference cost per character; pipelines gate the merge
    * budget and the language mix on exactly this table.
    *
    * Scale shape: composes the per-doc encode rollup (word-keyed
    * vocabulary join, per-doc partial agg — the proven tokenize_bpe
    * plan) with a doc-keyed attach of the language column and a
    * |langs|-row rollup; nothing wider than the vocabulary relation
    * ever shuffles, and the fertility division happens once per lang
    * row. Portability: integer sums all the way, two pinned round-6
    * divisions at the end.
    */
  def tokenizeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    encodedDocWords(docs, trainedFor(spark, dir)._2)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens")
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_words"),
        col("n_chars"),
        col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_tokens"), 6).as("chars_per_token")
      )
      .orderBy(col("lang"))
  }

  // -------------------------------------------------------------------
  // Unigram-LM tokenizer (SentencePiece-style, Kudo 2018)
  // -------------------------------------------------------------------

  /** Unigram-LM tokenizer training (Kudo 2018, as shipped in
    * SentencePiece) — the OTHER canonical subword learner next to BPE:
    * a vocabulary of pieces with probabilities, fit by EM, where a
    * word's tokenization is its minimum-cost (Viterbi) segmentation
    * under cost(piece) = −ln p(piece). This implementation is the
    * deterministic hard-EM variant: seed pieces are all substrings of
    * length ≤ 4 (every single char, plus the top-48 multi-char
    * substrings by corpus count — ties by piece), and each of the
    * FIXED 2 EM iterations Viterbi-segments the vocabulary and
    * re-estimates p from the segment counts (singles Laplace-smoothed
    * +1 so coverage never collapses; unobserved multis drop out).
    *
    * Scale shape — why this trains at 100 TB: exactly the train_bpe
    * discipline. The corpus reduces ONCE to the zipf-bounded
    * (word, freq) vocabulary; seeding, every Viterbi pass (a ≤4L-entry
    * cost-array build + ONE codegen'd fold per word — no per-position
    * joins, no driver loop over positions), and every M-step are
    * vocabulary-grain; nothing corpus-sized ever shuffles. The piece
    * table is aggregation-derived (never a row-grain broadcast).
    *
    * Portability: piece costs are ROUND(−ln(cnt/total), 9) on integer
    * ratios (the established transcendental discipline); the DP adds
    * the same doubles in the same order in both engines, argmin
    * tie-breaks by smallest piece length via pinned CASE-arm order,
    * and out-of-range DP lookups are clamped behind 1e300 edge costs
    * so they can never win. The oracle replays the DP as a recursive
    * CTE (the ts_dtw pattern) — NOT list_reduce, which DuckDB 1.0.0
    * misaligns across rows for struct accumulators.
    */
  private val UnigramBig = 1e300

  /** The Viterbi fold: costs per position + best path's piece list,
    * over a pre-joined edge-cost array ec with ec[(j-1)*4+k] = cost of
    * the length-k piece ending at position j (1e300 when absent or
    * k > j).
    */
  private val ViterbiFoldSql: String = {
    def ck(k: Int) =
      s"(element_at(acc.cs, greatest(j - ${k - 1}, 1)) + element_at(ec, (j - 1) * 4 + $k))"
    val m = s"least(${ck(1)}, ${ck(2)}, ${ck(3)}, ${ck(4)})"
    def arm(k: Int) =
      s"""WHEN ${ck(k)} = $m THEN concat(
         |  element_at(acc.ps, greatest(j - ${k - 1}, 1)),
         |  array(substring(word, j - ${k - 1}, $k)))""".stripMargin
    s"""aggregate(
       |  sequence(1, length(word)),
       |  named_struct('cs', array(CAST(0.0 AS DOUBLE)),
       |               'ps', array(CAST(array() AS ARRAY<STRING>))),
       |  (acc, j) -> named_struct(
       |    'cs', concat(acc.cs, array($m)),
       |    'ps', concat(acc.ps, array(CASE ${arm(1)} ${arm(2)} ${arm(3)} ELSE concat(
       |      element_at(acc.ps, greatest(j - 3, 1)),
       |      array(substring(word, j - 3, 4))) END))),
       |  acc -> element_at(acc.ps, length(word) + 1))""".stripMargin
  }

  /** One Viterbi pass: (word, freq) × (piece, cost) → (word, freq,
    * pieces). Vocabulary-grain: the (j, k) grid explode, the left join
    * against the piece table and the fold all run at ≤ 4·|word| rows
    * per DISTINCT word.
    */
  private[graft] def viterbiSegment(vocab: DataFrame, costs: DataFrame): DataFrame =
    vocab
      .select(col("word"), col("freq"), explode(expr("sequence(1, length(word))")).as("j"))
      .select(col("word"), col("freq"), col("j"), explode(expr("array(1, 2, 3, 4)")).as("k"))
      .withColumn("piece", expr("IF(k <= j, substring(word, j - k + 1, k), NULL)"))
      .join(costs, Seq("piece"), "left")
      .groupBy(col("word"), col("freq"))
      .agg(
        sort_array(
          collect_list(
            struct(
              expr("(j - 1) * 4 + k").as("idx"),
              coalesce(col("cost"), lit(UnigramBig)).as("c")
            )
          )
        ).as("__ecs")
      )
      .withColumn("ec", expr("transform(__ecs, e -> e.c)"))
      .select(col("word"), col("freq"), expr(ViterbiFoldSql).as("pieces"))

  /** M-step counts from a segmented vocabulary: observed piece counts
    * weighted by word freq; every seed single char kept with +1
    * Laplace smoothing (coverage), unobserved multis dropped.
    */
  private def unigramCounts(assigned: DataFrame, singles: DataFrame): DataFrame = {
    val obs = assigned
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("obs"))
    singles
      .join(obs, Seq("piece"), "left")
      .select(col("piece"), (coalesce(col("obs"), lit(0L)) + 1).as("cnt"))
      .unionByName(
        obs.filter(length(col("piece")) >= 2).select(col("piece"), col("obs").as("cnt"))
      )
  }

  /** cost(piece) = ROUND(−ln(cnt/total), 9); the 1-row total rides a
    * broadcast cross join (the Lloyd broadcast-update shape).
    */
  private def unigramCosts(cnts: DataFrame): DataFrame =
    cnts
      .crossJoin(broadcast(cnts.agg(sum(col("cnt")).as("__total"))))
      .select(
        col("piece"),
        round(-log(col("cnt").cast("double") / col("__total")), 9).as("cost")
      )

  /** Full training run: returns (final piece counts, encoded vocab
    * (word, freq, n_pieces) under the final costs, final singles-count
    * total for the report).
    */
  private[graft] def unigramTrain(docs: DataFrame): (DataFrame, DataFrame) =
    Checkpoints.keeping { pins =>
      val vocab = pins(wordVocab(docs))
      val seed = pins(
        vocab
          .select(col("word"), col("freq"), explode(expr("sequence(1, length(word))")).as("i"))
          .select(col("word"), col("freq"), col("i"), explode(expr("array(1, 2, 3, 4)")).as("k"))
          .filter(expr("i + k - 1 <= length(word)"))
          .select(expr("substring(word, i, k)").as("piece"), col("freq"))
          .groupBy(col("piece"))
          .agg(sum(col("freq")).as("cnt"))
      )
      val singles = seed.filter(length(col("piece")) === 1).select(col("piece"))
      val multis0 = seed
        .filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece"))
        .limit(48)
      val cnt0 = seed.join(singles, Seq("piece")).unionByName(multis0)
      val c0 = pins(unigramCosts(cnt0))
      val n1 = pins(unigramCounts(viterbiSegment(vocab, c0), singles))
      val c1 = pins(unigramCosts(n1))
      val n2 = pins(unigramCounts(viterbiSegment(vocab, c1), singles))
      val c2 = pins(unigramCosts(n2))
      val enc = pins(
        viterbiSegment(vocab, c2)
          .select(col("word"), col("freq"), size(col("pieces")).cast("long").as("w_tokens"))
      )
      (n2, enc)
    } { case (n2, enc) => Seq(n2, enc) }

  /** (final counts, encoded vocab) for the registry's fixed training
    * run, an [[Intermediates]] entry per (session, sfDir) shared by the
    * train and tokenize consumers.
    */
  def unigramFor(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Intermediates.getOrBuild(spark, "unigram", Tables.canonDir(dir)) {
      unigramTrain(Tables.documents(spark, dir))
    }

  /** Top-20 final pieces by (count DESC, piece) with their log
    * probabilities — the trained-tokenizer report.
    */
  def trainUnigram(spark: SparkSession, dir: String): DataFrame = {
    val (n2, _) = unigramFor(spark, dir)
    n2.crossJoin(broadcast(n2.agg(sum(col("cnt")).as("__total"))))
      .orderBy(col("cnt").desc, col("piece"))
      .limit(20)
      .select(
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("cnt").desc, col("piece"))
        ).cast("long").as("rank"),
        col("piece"),
        col("cnt").cast("long").as("cnt"),
        (round(log(col("cnt").cast("double") / col("__total")), 6) + lit(0.0)).as("logprob")
      )
  }

  /** Per-document token accounting under the trained unigram LM — the
    * tokenize_bpe twin: corpus words join the encoded vocabulary (no
    * DP ever runs at corpus grain), per-doc partial sums, and the
    * chars-per-token ratio as HALF_UP integer division into micro
    * units (exactly on the 1e-6 grid — no double ROUND to straddle).
    */
  def tokenizeUnigram(spark: SparkSession, dir: String): DataFrame = {
    val (_, enc) = unigramFor(spark, dir)
    Tables
      .documents(spark, dir)
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(split(expr(TextAnalysis.NormSql), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(enc.select(col("word"), col("w_tokens")), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("w_tokens")).as("n_tokens")
      )
      .withColumn(
        "ratio",
        expr("CAST((n_tokens * 2000000 + n_chars) DIV (n_chars * 2) AS DOUBLE) / 1000000.0")
      )
  }

  /** BPE-vs-unigram tokenizer parity per language — the selection
    * report a pipeline reads before committing to a tokenizer: both
    * trained artifacts encode the same corpus, and each language gets
    * its fertility under each plus the unigram/BPE token-count parity
    * ratio. A parity far from 1 on one language flags that the two
    * learners fragment it differently (the multilingual-budget
    * analogue of tokenize_fertility, across TOKENIZERS instead of
    * languages).
    *
    * Scale shape: BOTH training runs are memoized per (session, dir)
    * ([[trainedFor]], [[unigramFor]]) and both encodings are word-keyed
    * joins against vocabulary-grain relations on the SAME key (one
    * co-partitioned exchange family), then a doc-keyed lang attach and
    * a |langs|-row rollup — the proven tokenize_fertility plan with a
    * second vocabulary join. Portability: integer sums; fertilities
    * and parity are HALF_UP integer micro divisions (exactly on the
    * 1e-6 grid).
    */
  def tokenizeParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bpeVocab = trainedFor(spark, dir)._2
      .select(col("word"), size(col("syms")).cast("long").as("__bt"))
    val uniVocab = unigramFor(spark, dir)._2
      .select(col("word"), col("w_tokens").as("__ut"))
    docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(split(expr(TextAnalysis.NormSql), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(bpeVocab, Seq("word"))
      .join(uniVocab, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("__w"),
        sum(col("__bt")).as("__b"),
        sum(col("__ut")).as("__u")
      )
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__b")).as("bpe_tokens"),
        sum(col("__u")).as("uni_tokens")
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_words"),
        col("bpe_tokens"),
        col("uni_tokens"),
        // numerators through DECIMAL(38,0): per-language token sums are
        // corpus-grain, so token_sum·2e6 wraps signed 64-bit past
        // ~4.6e12 tokens for a dominant language (the
        // dedup_substr_impact overflow class; DuckDB sums are HUGEINT)
        expr("CAST((CAST(bpe_tokens AS DECIMAL(38,0)) * 2000000 + n_words) DIV (n_words * 2) AS DOUBLE) / 1000000.0")
          .as("bpe_fertility"),
        expr("CAST((CAST(uni_tokens AS DECIMAL(38,0)) * 2000000 + n_words) DIV (n_words * 2) AS DOUBLE) / 1000000.0")
          .as("uni_fertility"),
        expr("CAST((CAST(uni_tokens AS DECIMAL(38,0)) * 2000000 + bpe_tokens) DIV (bpe_tokens * 2) AS DOUBLE) / 1000000.0")
          .as("parity")
      )
      .orderBy(col("lang"))
  }

  /** Parity oracle: the two training replays side by side (the BPE
    * merge unroll + the unigram recursive-CTE EM), the shared word
    * stream joined to both final vocabularies, per-lang rollup with
    * the identical micro divisions.
    */
  lazy val tokenizeParitySql: String =
    s"""WITH RECURSIVE ${bpeCtesSql(10)},
       |${unigramCtesSql},
       |pdocw AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0),
       |perdoc AS (
       |  SELECT d.doc_id,
       |    COUNT(*) AS w,
       |    CAST(SUM(len(v.syms)) AS BIGINT) AS b,
       |    CAST(SUM(len(a.pieces)) AS BIGINT) AS u
       |  FROM pdocw d
       |  JOIN vocab10 v ON v.word = d.word
       |  JOIN asg2 a ON a.word = d.word
       |  WHERE LENGTH(d.word) > 0
       |  GROUP BY d.doc_id),
       |bylang AS (
       |  SELECT doc.lang,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(p.w) AS BIGINT) AS n_words,
       |    CAST(SUM(p.b) AS BIGINT) AS bpe_tokens,
       |    CAST(SUM(p.u) AS BIGINT) AS uni_tokens
       |  FROM perdoc p JOIN documents doc ON doc.doc_id = p.doc_id
       |  GROUP BY doc.lang)
       |SELECT lang, n_docs, n_words, bpe_tokens, uni_tokens,
       |  CAST((CAST(bpe_tokens AS HUGEINT) * 2000000 + n_words) // (n_words * 2) AS DOUBLE) / 1000000.0
       |    AS bpe_fertility,
       |  CAST((CAST(uni_tokens AS HUGEINT) * 2000000 + n_words) // (n_words * 2) AS DOUBLE) / 1000000.0
       |    AS uni_fertility,
       |  CAST((CAST(uni_tokens AS HUGEINT) * 2000000 + bpe_tokens) // (bpe_tokens * 2) AS DOUBLE) / 1000000.0
       |    AS parity
       |FROM bylang
       |ORDER BY lang""".stripMargin

  /** The shared oracle CTE chain: vocabulary, substring seeding, and
    * the 2-iteration hard-EM trajectory with each Viterbi pass as a
    * recursive-CTE DP (dp0/dp1/dp2) over the same edge-cost arrays.
    */
  private def unigramCtesSql: String = {
    def wordec(i: Int, costs: String) =
      s"""wordec$i AS (
         |  SELECT g.word, g.freq, g.L,
         |    list(COALESCE(c.cost, 1e300) ORDER BY (g.j - 1) * 4 + g.k) AS ec
         |  FROM (SELECT v.word, v.freq, LENGTH(v.word) AS L,
         |          CAST(u.j AS INT) AS j, CAST(kk.k AS INT) AS k
         |        FROM uvocab v, UNNEST(range(1, LENGTH(v.word) + 1)) u(j),
         |             UNNEST([1, 2, 3, 4]) kk(k)) g
         |  LEFT JOIN $costs c
         |    ON g.k <= g.j AND c.piece = substr(g.word, g.j - g.k + 1, g.k)
         |  GROUP BY g.word, g.freq, g.L)""".stripMargin
    def dp(i: Int) =
      s"""dp$i AS (
         |  SELECT word, freq, L, ec, 0 AS j,
         |    [CAST(0.0 AS DOUBLE)] AS cs, [CAST([] AS VARCHAR[])] AS ps
         |  FROM wordec$i
         |  UNION ALL
         |  SELECT word, freq, L, ec, j + 1,
         |    list_append(cs, LEAST(c1, c2, c3, c4)),
         |    list_append(ps,
         |      CASE WHEN c1 = LEAST(c1, c2, c3, c4)
         |             THEN list_append(ps[GREATEST(j + 1, 1)], substr(word, j + 1, 1))
         |           WHEN c2 = LEAST(c1, c2, c3, c4)
         |             THEN list_append(ps[GREATEST(j, 1)], substr(word, j, 2))
         |           WHEN c3 = LEAST(c1, c2, c3, c4)
         |             THEN list_append(ps[GREATEST(j - 1, 1)], substr(word, j - 1, 3))
         |           ELSE list_append(ps[GREATEST(j - 2, 1)], substr(word, j - 2, 4)) END)
         |  FROM (
         |    SELECT word, freq, L, ec, j, cs, ps,
         |      cs[GREATEST(j + 1, 1)] + ec[j * 4 + 1] AS c1,
         |      cs[GREATEST(j, 1)] + ec[j * 4 + 2] AS c2,
         |      cs[GREATEST(j - 1, 1)] + ec[j * 4 + 3] AS c3,
         |      cs[GREATEST(j - 2, 1)] + ec[j * 4 + 4] AS c4
         |    FROM dp$i WHERE j < L) t),
         |asg$i AS (SELECT word, freq, ps[L + 1] AS pieces FROM dp$i WHERE j = L)""".stripMargin
    def em(i: Int) =
      s"""obs$i AS (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS obs
         |  FROM (SELECT freq, UNNEST(pieces) AS piece FROM asg$i)
         |  GROUP BY piece),
         |n${i + 1} AS (
         |  SELECT s.piece, COALESCE(o.obs, 0) + 1 AS cnt
         |  FROM usingles s LEFT JOIN obs$i o USING (piece)
         |  UNION ALL
         |  SELECT piece, obs AS cnt FROM obs$i WHERE LENGTH(piece) >= 2),
         |c${i + 1} AS (
         |  SELECT piece, ROUND(-LN(CAST(cnt AS DOUBLE) / t.total), 9) AS cost
         |  FROM n${i + 1} CROSS JOIN
         |    (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM n${i + 1}) t)""".stripMargin
    s"""uwords AS (
       |  SELECT UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS w
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0),
       |uvocab AS MATERIALIZED (
       |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM uwords WHERE LENGTH(w) > 0 GROUP BY w),
       |useed AS MATERIALIZED (
       |  SELECT substr(word, CAST(u.i AS INT), CAST(kk.k AS INT)) AS piece,
       |    CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM uvocab, UNNEST(range(1, LENGTH(word) + 1)) u(i), UNNEST([1, 2, 3, 4]) kk(k)
       |  WHERE CAST(u.i AS INT) + CAST(kk.k AS INT) - 1 <= LENGTH(word)
       |  GROUP BY 1),
       |usingles AS (SELECT piece FROM useed WHERE LENGTH(piece) = 1),
       |cnt0 AS (
       |  SELECT s.piece, s.cnt FROM useed s JOIN usingles USING (piece)
       |  UNION ALL
       |  SELECT piece, cnt FROM
       |    (SELECT piece, cnt FROM useed WHERE LENGTH(piece) >= 2
       |     ORDER BY cnt DESC, piece LIMIT 48)),
       |c0 AS MATERIALIZED (
       |  SELECT piece, ROUND(-LN(CAST(cnt AS DOUBLE) / t.total), 9) AS cost
       |  FROM cnt0 CROSS JOIN (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt0) t),
       |${wordec(0, "c0")},
       |${dp(0)},
       |${em(0)},
       |${wordec(1, "c1")},
       |${dp(1)},
       |${em(1)},
       |${wordec(2, "c2")},
       |${dp(2)}""".stripMargin
  }

  val trainUnigramSql: String =
    s"""WITH RECURSIVE ${unigramCtesSql}
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS rank,
       |  piece, CAST(cnt AS BIGINT) AS cnt,
       |  ROUND(LN(CAST(cnt AS DOUBLE) / t.total), 6) + 0.0 AS logprob
       |FROM n2 CROSS JOIN (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM n2) t
       |ORDER BY cnt DESC, piece
       |LIMIT 20""".stripMargin

  val tokenizeUnigramSql: String =
    s"""WITH RECURSIVE ${unigramCtesSql},
       |docw AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0)
       |SELECT d.doc_id,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(LENGTH(d.word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(len(a.pieces)) AS BIGINT) AS n_tokens,
       |  CAST((CAST(SUM(len(a.pieces)) AS BIGINT) * 2000000 + CAST(SUM(LENGTH(d.word)) AS BIGINT))
       |    // (CAST(SUM(LENGTH(d.word)) AS BIGINT) * 2) AS DOUBLE) / 1000000.0 AS ratio
       |FROM docw d JOIN asg2 a ON a.word = d.word
       |WHERE LENGTH(d.word) > 0
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The merge trajectory unrolled round by round in MATERIALIZED CTEs:
    * identical pair grid (1-based adjacent indices), identical
    * (cnt DESC, lhs, rhs) argmax order, and the same greedy
    * left-to-right fold via list_reduce over singleton-wrapped symbols
    * (list_reduce seeds the accumulator with the first element, so
    * symbols are wrapped to lists and unwrapped with cur[1]).
    */
  /** The full training-replay CTE chain (words → vocab0 → pairs/best/
    * vocab per round) shared by the train and encode oracles.
    */
  private def bpeCtesSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""pairs$r AS (
         |  SELECT syms[CAST(u.i AS INT)] AS lhs, syms[CAST(u.i AS INT) + 1] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM vocab${r - 1}, UNNEST(range(1, len(syms))) AS u(i)
         |  WHERE len(syms) >= 2
         |  GROUP BY 1, 2),
         |best$r AS MATERIALIZED (
         |  SELECT lhs, rhs, cnt FROM pairs$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |vocab$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    CASE WHEN len(syms) = 1 THEN syms
         |         ELSE list_reduce(
         |           list_transform(syms, s -> [s]),
         |           (acc, cur) -> CASE WHEN acc[-1] = b.lhs AND cur[1] = b.rhs
         |                              THEN list_append(acc[1:len(acc) - 1], b.lhs || b.rhs)
         |                              ELSE list_append(acc, cur[1]) END) END AS syms
         |  FROM vocab${r - 1} CROSS JOIN best$r b)""".stripMargin
    }
    s"""words AS (
       |  SELECT UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS w
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0),
       |vocab0 AS MATERIALIZED (
       |  SELECT w AS word, COUNT(*) AS freq,
       |    list_transform(range(1, LENGTH(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
       |  FROM words WHERE LENGTH(w) > 0 GROUP BY w),
       |${roundCtes.mkString(",\n")}""".stripMargin
  }

  val trainBpeSql: String = {
    val rounds = 10
    s"""WITH ${bpeCtesSql(rounds)}
       |SELECT rank, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM (
       |${(1 to rounds)
        .map(r => s"  SELECT CAST($r AS BIGINT) AS rank, lhs, rhs, cnt FROM best$r")
        .mkString("\n  UNION ALL\n")}) s
       |ORDER BY rank""".stripMargin
  }

  /** Encode oracle: the identical training replay, then every corpus
    * word joined to the final vocabulary's symbol arrays and rolled up
    * per document.
    */
  val tokenizeBpeSql: String = {
    val rounds = 10
    s"""WITH ${bpeCtesSql(rounds)},
       |docw AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0)
       |SELECT d.doc_id,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(LENGTH(d.word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens,
       |  ROUND(CAST(SUM(len(v.syms)) AS DOUBLE) / CAST(SUM(LENGTH(d.word)) AS DOUBLE), 6) AS ratio
       |FROM docw d JOIN vocab$rounds v ON v.word = d.word
       |WHERE LENGTH(d.word) > 0
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Fertility oracle: the identical training replay and per-doc word
    * join, rolled up per language with the same two round-6 divisions.
    */
  val tokenizeFertilitySql: String = {
    val rounds = 10
    s"""WITH ${bpeCtesSql(rounds)},
       |docw AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0),
       |perdoc AS (
       |  SELECT d.doc_id,
       |    COUNT(*) AS n_words,
       |    CAST(SUM(LENGTH(d.word)) AS BIGINT) AS n_chars,
       |    CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens
       |  FROM docw d JOIN vocab$rounds v ON v.word = d.word
       |  WHERE LENGTH(d.word) > 0
       |  GROUP BY d.doc_id)
       |SELECT doc.lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(p.n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
       |  ROUND(CAST(SUM(p.n_tokens) AS DOUBLE) / CAST(SUM(p.n_words) AS DOUBLE), 6) AS fertility,
       |  ROUND(CAST(SUM(p.n_chars) AS DOUBLE) / CAST(SUM(p.n_tokens) AS DOUBLE), 6) AS chars_per_token
       |FROM perdoc p JOIN documents doc ON doc.doc_id = p.doc_id
       |GROUP BY doc.lang
       |ORDER BY doc.lang""".stripMargin
  }

  // ---------------------------------------------------------------------
  // WordPiece training (likelihood-scored merges)
  // ---------------------------------------------------------------------

  /** WordPiece tokenizer training (Schuster & Nakajima 2012; the BERT
    * tokenizer's learner) — completes the tokenizer triad beside BPE
    * and unigram. The same merge-round learner as [[bpeTrain]]
    * (vocabulary-relation rounds, argmax collect, codegen'd merge fold)
    * with the WordPiece selection rule: instead of raw pair count, each round
    * merges the pair maximizing the likelihood gain
    * score = cnt(pair) / (cnt(lhs)·cnt(rhs)).
    *
    * Portability: the score is ranked as a HALF_UP INTEGER PICO
    * division ((cnt·2e12 + den) div (2·den), den = cnt_l·cnt_r, routed
    * through DECIMAL(38,0) — symbol counts are corpus-grain, so the
    * products overflow BIGINT inside the 100-TB envelope) with
    * (score_pico DESC, lhs, rhs) tie-break — no double quotient ever
    * ranks, so the argmax cannot coin-flip cross-engine.
    *
    * Scale shape: identical to BPE — ONE corpus scan to the zipf-
    * bounded (word, freq) vocabulary, every round a vocab-grain pair
    * partial agg plus a symbol-grain count agg, a 1-row argmax
    * collect, and a map-side fold rewrite; localCheckpoint per round
    * keeps the plan flat.
    */
  def wordpieceTrain(docs: DataFrame, rounds: Int = 10): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (picks, vocab) = learnMerges(docs, rounds) { vocab =>
      val symCnt = vocab
        .select(col("freq"), explode(col("syms")).as("s"))
        .groupBy(col("s"))
        .agg(sum(col("freq")).as("scnt"))
      pairCounts(vocab)
        .join(symCnt.select(col("s").as("lhs"), col("scnt").as("__cl")), Seq("lhs"))
        .join(symCnt.select(col("s").as("rhs"), col("scnt").as("__cr")), Seq("rhs"))
        .withColumn(
          "score_pico",
          expr(
            """(cast(cnt as decimal(38,0)) * 2000000000000 +
              |  cast(__cl as decimal(38,0)) * __cr)
              | div (cast(__cl as decimal(38,0)) * __cr * 2)""".stripMargin
          )
        )
        .orderBy(col("score_pico").desc, col("lhs"), col("rhs"))
    }
    val merges = picks.zipWithIndex.map { case (p, i) =>
      val (l, rr) = (p.getAs[String]("lhs"), p.getAs[String]("rhs"))
      (i + 1L, l, rr, l + rr, p.getAs[Long]("cnt"), p.getAs[Long]("score_pico"))
    }
    (merges.toDF("rank", "lhs", "rhs", "merged", "pair_count", "score_pico"), vocab)
  }

  def wordpieceFor(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    Intermediates.getOrBuild(spark, "wordpiece", Tables.canonDir(dir)) {
      wordpieceTrain(Tables.documents(spark, dir))
    }

  def trainWordpiece(spark: SparkSession, dir: String): DataFrame =
    wordpieceFor(spark, dir)._1

  def tokenizeWordpiece(spark: SparkSession, dir: String): DataFrame =
    encodedDocWords(Tables.documents(spark, dir), wordpieceFor(spark, dir)._2)
      .withColumn("ratio", round(col("n_tokens").cast("double") / col("n_chars"), 6))

  /** The BPE round CTEs with the WordPiece argmax: per round, a symbol
    * count CTE joins into the pair relation and the pick orders by the
    * identical integer pico score.
    */
  private def wordpieceCtesSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""wsym$r AS (
         |  SELECT u.s AS s, CAST(SUM(freq) AS HUGEINT) AS scnt
         |  FROM wvocab${r - 1}, UNNEST(syms) AS u(s)
         |  GROUP BY 1),
         |wpairs$r AS (
         |  SELECT syms[CAST(u.i AS INT)] AS lhs, syms[CAST(u.i AS INT) + 1] AS rhs,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM wvocab${r - 1}, UNNEST(range(1, len(syms))) AS u(i)
         |  WHERE len(syms) >= 2
         |  GROUP BY 1, 2),
         |wbest$r AS MATERIALIZED (
         |  SELECT lhs, rhs, cnt, score_pico FROM (
         |    SELECT p.lhs, p.rhs, p.cnt,
         |      CAST((CAST(p.cnt AS HUGEINT) * 2000000000000 + a.scnt * b.scnt)
         |        // (a.scnt * b.scnt * 2) AS BIGINT) AS score_pico
         |    FROM wpairs$r p
         |    JOIN wsym$r a ON a.s = p.lhs
         |    JOIN wsym$r b ON b.s = p.rhs)
         |  ORDER BY score_pico DESC, lhs, rhs LIMIT 1),
         |wvocab$r AS MATERIALIZED (
         |  SELECT word, freq,
         |    CASE WHEN len(syms) = 1 THEN syms
         |         ELSE list_reduce(
         |           list_transform(syms, s -> [s]),
         |           (acc, cur) -> CASE WHEN acc[-1] = b.lhs AND cur[1] = b.rhs
         |                              THEN list_append(acc[1:len(acc) - 1], b.lhs || b.rhs)
         |                              ELSE list_append(acc, cur[1]) END) END AS syms
         |  FROM wvocab${r - 1} CROSS JOIN wbest$r b)""".stripMargin
    }
    s"""wwords AS (
       |  SELECT UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS w
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0),
       |wvocab0 AS MATERIALIZED (
       |  SELECT w AS word, COUNT(*) AS freq,
       |    list_transform(range(1, LENGTH(w) + 1), i -> substr(w, CAST(i AS INT), 1)) AS syms
       |  FROM wwords WHERE LENGTH(w) > 0 GROUP BY w),
       |${roundCtes.mkString(",\n")}""".stripMargin
  }

  val trainWordpieceSql: String = {
    val rounds = 10
    s"""WITH ${wordpieceCtesSql(rounds)}
       |SELECT rank, lhs, rhs, lhs || rhs AS merged, cnt AS pair_count, score_pico FROM (
       |${(1 to rounds)
        .map(r => s"  SELECT CAST($r AS BIGINT) AS rank, lhs, rhs, cnt, score_pico FROM wbest$r")
        .mkString("\n  UNION ALL\n")}) s
       |ORDER BY rank""".stripMargin
  }

  val tokenizeWordpieceSql: String = {
    val rounds = 10
    s"""WITH ${wordpieceCtesSql(rounds)},
       |wdocw AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0)
       |SELECT d.doc_id,
       |  COUNT(*) AS n_words,
       |  CAST(SUM(LENGTH(d.word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens,
       |  ROUND(CAST(SUM(len(v.syms)) AS DOUBLE) / CAST(SUM(LENGTH(d.word)) AS DOUBLE), 6) AS ratio
       |FROM wdocw d JOIN wvocab$rounds v ON v.word = d.word
       |WHERE LENGTH(d.word) > 0
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }
}
