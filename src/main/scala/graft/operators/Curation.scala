package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * beyond dedup: PII detection/redaction, deterministic stratified
  * sampling, and the end-to-end training-mix manifest that composes
  * dedup + quality + language-ID + token budget + split into the final
  * per-(split, lang) report.
  *
  * Scale shape: every per-document feature here is a pure map-side
  * projection (regexp counts, md5 keys, quality/langid expressions from
  * [[TextAnalysis]]); the only shuffles are the ones the semantics
  * force — one row_number window per stratified sample (pushed to a
  * map-side group-limit by Spark's WindowGroupLimit) and one
  * hash-partition + one aggregation for the training-mix manifest.
  */
object Curation {

  // ---------------------------------------------------------------------
  // PII detection / redaction
  // ---------------------------------------------------------------------

  /** PII patterns, deliberately restricted to syntax Java regex (Spark)
    * and RE2 (the DuckDB oracle) evaluate identically: no backrefs, no
    * lookaround, explicit classes. Leftmost non-overlapping match
    * semantics agree between the engines, so counts and replacements
    * are bit-for-bit comparable.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnPattern = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhonePattern = "\\+?\\(?\\d{3}\\)?[ -]\\d{3}[ -]\\d{4}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Patterns in REDACTION ORDER (emails first: they embed digit runs
    * and dots that the looser numeric patterns could otherwise chew
    * on; then the most specific numeric shapes). The order is part of
    * the operator contract — both engines must apply it identically.
    */
  val RedactionOrder: Seq[(String, String)] = Seq(
    EmailPattern -> "[EMAIL]",
    SsnPattern -> "[SSN]",
    PhonePattern -> "[PHONE]",
    Ipv4Pattern -> "[IP]"
  )

  /** Redacted text as a column: every pattern replaced in order. */
  def redactedColumn(text: Column): Column =
    RedactionOrder.foldLeft(text) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }

  /** Per-document PII scan: match counts per category, a total, and the
    * md5 of the redacted text (the hash keeps the oracle row narrow
    * while still pinning the exact redaction output). Pure map-side.
    */
  def piiScan(docs: DataFrame): DataFrame = {
    val counts = Seq(
      "n_email" -> EmailPattern,
      "n_ssn" -> SsnPattern,
      "n_phone" -> PhonePattern,
      "n_ip" -> Ipv4Pattern
    )
    docs.select(
      col("doc_id") +:
        counts.map { case (name, pat) => regexp_count(col("text"), lit(pat)).cast("long").as(name) } :+
        counts.map { case (_, pat) => regexp_count(col("text"), lit(pat)).cast("long") }
          .reduce(_ + _).as("n_pii") :+
        md5(redactedColumn(col("text"))).as("redacted_md5"): _*
    )
  }

  // ---------------------------------------------------------------------
  // Deterministic stratified sampling
  // ---------------------------------------------------------------------

  /** k documents per (source, lang) stratum, chosen by the 60-bit md5
    * key of the doc id — a deterministic, engine-portable "random"
    * sample that is stable across runs and machines (no RNG, no row
    * order dependence). The rank filter compiles to a map-side
    * WindowGroupLimit: each task keeps at most k rows per stratum
    * before the shuffle, so the window never sorts a whole stratum in
    * one task.
    */
  def sampleStratified(docs: DataFrame, k: Int): DataFrame = {
    val key = expr(Dedup.md5Prefix60Sql("cast(doc_id as string)"))
    val w = Window.partitionBy(col("source"), col("lang")).orderBy(col("__k"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), col("lang"), key.as("__k"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      // long: DuckDB's ROW_NUMBER is BIGINT and the driver compares schemas
      .select(col("doc_id"), col("source"), col("lang"), col("rk").cast("long").as("rk"))
  }

  // ---------------------------------------------------------------------
  // Benchmark decontamination
  // ---------------------------------------------------------------------

  /** N-gram benchmark decontamination (the GPT-3/PaLM-style eval-overlap
    * scan): flag every training document sharing at least one word
    * w-gram with the evaluation set, reporting the overlap fraction.
    * `evalDocs` carries (doc_id, text); shingles come from the same
    * native kernel the dedup pipelines use (distinct per doc,
    * whole-text fallback below w words), so a verbatim excerpt of
    * length ≥ w words is guaranteed to hit.
    *
    * Scale shape: eval sets are benchmark-sized — their distinct gram
    * set BROADCASTS, so the corpus-side stream is a map-side hash-join
    * probe (the corpus never shuffles a gram row that misses) and the
    * per-doc rollup aggregates only hits, keyed by doc_id. At larger
    * eval sets, swap the gram strings for their 60-bit md5 keys (same
    * [[Dedup.md5Prefix60Sql]] both engines) to shrink the broadcast —
    * identity of the report is unchanged up to hash collisions.
    */
  def decontaminate(corpusDocs: DataFrame, evalDocs: DataFrame, w: Int = 8): DataFrame = {
    def sh(d: DataFrame) = d
      .select(col("doc_id"), Dedup.shingles(w).as("__sh"))
      .filter(col("__sh").isNotNull)
    val evalGrams = sh(evalDocs).select(explode(col("__sh")).as("g")).distinct()
    sh(corpusDocs)
      .select(col("doc_id"), size(col("__sh")).as("__n"), explode(col("__sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"), col("__n"))
      .agg(count(lit(1)).as("n_hit"))
      .select(
        col("doc_id"),
        col("__n").cast("long").as("n_grams"),
        col("n_hit"),
        round(col("n_hit").cast("double") / col("__n"), 6).as("contam_frac")
      )
  }

  // ---------------------------------------------------------------------
  // Training-mix manifest (the end-to-end composition)
  // ---------------------------------------------------------------------

  /** The final manifest a training-data pipeline produces: documents
    * are exact-deduped (hash-keyed survivor selection — keep min doc_id
    * per normalized-text group), quality-filtered, language-identified,
    * token-counted, split-assigned, and rolled up per (split, lang):
    * document counts, total token budget, average quality.
    *
    * Dedup precedes the quality filter (the survivor represents its
    * duplicate group, so its quality decides for the group — the usual
    * pipeline order).
    *
    * Plan shape: ONE scan computes every per-row feature (all map-side
    * projections), one 8-byte-key shuffle ranks each hash group for
    * survivor selection (row_number, WindowGroupLimit-capped), and one
    * partially-aggregated groupBy produces the manifest. No self-join:
    * survivor selection happens in the same stream that carries the
    * features.
    */
  def trainMix(
    docs: DataFrame,
    minQuality: Double = 0.5,
    trainPct: Int = 80,
    valPct: Int = 10
  ): DataFrame = {
    val normSql = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
    val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
    docs
      .select(
        col("doc_id"),
        expr(Dedup.md5Prefix60Sql(normSql)).as("__h"),
        TextAnalysis.splitColumn(trainPct, valPct).as("split"),
        TextAnalysis.langPredColumn.as("lang_pred"),
        TextAnalysis.qualityColumn.as("quality"),
        TextAnalysis.reTokensColumn.as("n_tokens")
      )
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("quality") >= minQuality && col("lang_pred") =!= "und")
      .groupBy(col("split"), col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        // decimal-summed average: order-independent, so it matches the
        // sequential oracle bit-for-bit (see Timeseries.detAvg)
        round(
          sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(27, 10)))
            .cast("double") / count(lit(1)),
          6
        ).as("avg_quality")
      )
  }

  /** Temperature-scaled source mixing (the multilingual/multi-source
    * sampling rule of Devlin et al. 2019 app. A / Conneau & Lample
    * 2019 §3): source s is sampled proportionally to n_s^alpha, which
    * flattens the source distribution toward uniform as alpha → 0 —
    * the standard rebalancing step before drawing a training mix from
    * heterogeneous corpora.
    *
    * Scale shape: ONE partial aggregation reduces the corpus to a
    * source-cardinality relation; everything after (power weights,
    * normalization, budget allocation) runs on k rows, with the
    * normalizing sum as a window over the k-row aggregate — the only
    * empty-partitionSpec window in the plan sits above the reduction,
    * never above the corpus.
    *
    * Portability: n^alpha is computed as EXP(ROUND(LN(n),9)·alpha)
    * with ROUND(…,9) after each transcendental (both engines' libm
    * agree well under 1e-9 relative), and the normalizing sum routes
    * through DECIMAL(38,9) so it is order-independent.
    */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.3, budget: Long = 100000L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 9)
    docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", round(exp(round(log(col("n_docs")), 9) * lit(alpha)), 9))
      .withColumn("__w_sum", sum(col("w_raw").cast(dec)).over(Window.partitionBy()).cast("double"))
      .withColumn("weight", round(col("w_raw") / col("__w_sum"), 9))
      .withColumn("target_docs", round(col("weight") * lit(budget), 0).cast("long"))
      .select(col("source"), col("n_docs"), col("w_raw"), col("weight"), col("target_docs"))
  }

  // ---------------------------------------------------------------------
  // Fixed driver queries + oracles
  // ---------------------------------------------------------------------

  def piiDetect(spark: SparkSession, dir: String): DataFrame =
    piiScan(Tables.documents(spark, dir))

  val piiDetectSql: String = {
    def n(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
    val redacted = RedactionOrder.foldLeft("text") { case (s, (pat, rep)) =>
      s"regexp_replace($s, '$pat', '$rep', 'g')"
    }
    s"""SELECT doc_id,
       |  ${n(EmailPattern)} AS n_email,
       |  ${n(SsnPattern)} AS n_ssn,
       |  ${n(PhonePattern)} AS n_phone,
       |  ${n(Ipv4Pattern)} AS n_ip,
       |  ${n(EmailPattern)} + ${n(SsnPattern)} + ${n(PhonePattern)} + ${n(Ipv4Pattern)} AS n_pii,
       |  md5($redacted) AS redacted_md5
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  def sampleStratifiedQ(spark: SparkSession, dir: String): DataFrame =
    sampleStratified(Tables.documents(spark, dir), k = 20)
      .orderBy(col("source"), col("lang"), col("rk"))

  val sampleStratifiedSql: String =
    s"""SELECT doc_id, source, lang, rk FROM (
       |  SELECT doc_id, source, lang,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY source, lang
       |      ORDER BY ${Dedup.md5Prefix60Duck("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
       |  FROM documents) t
       |WHERE rk <= 20
       |ORDER BY source, lang, rk""".stripMargin

  /** Fixed decontamination query: the planted mirror docs (doc_id ≥ 1e6,
    * each a verbatim suffix of a corpus doc — [[Dedup.withPlantedNearDups]])
    * play the benchmark set, so contamination exists at every scale
    * factor by construction; the corpus side is the raw table.
    */
  def textDecontam(spark: SparkSession, dir: String): DataFrame = {
    val planted = Dedup.withPlantedNearDups(Tables.documents(spark, dir))
    decontaminate(
      planted.filter(col("doc_id") < 1000000L),
      planted.filter(col("doc_id") >= 1000000L)
    )
  }

  /** Same shingle CTE shape as the minhash oracle at w=8, over the same
    * planted corpus split into corpus/eval halves.
    */
  val textDecontamSql: String =
    s"""WITH ${Dedup.PlantedCorpusSql},
       |normed AS (
       |  SELECT doc_id, LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS nm
       |  FROM corpus WHERE text IS NOT NULL),
       |words AS (SELECT doc_id, string_split(nm, ' ') AS ws FROM normed),
       |shpos AS (
       |  SELECT doc_id, ws, UNNEST(range(1, GREATEST(len(ws) - 7, 1) + 1)) AS i FROM words),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(ws) >= 8 THEN array_to_string(ws[i:i+7], ' ')
       |         ELSE array_to_string(ws, ' ') END AS g
       |  FROM shpos),
       |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id >= 1000000),
       |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh WHERE doc_id < 1000000 GROUP BY 1),
       |hit AS (
       |  SELECT s.doc_id, COUNT(*) AS n_hit
       |  FROM sh s JOIN ev USING (g)
       |  WHERE s.doc_id < 1000000 GROUP BY 1)
       |SELECT h.doc_id, t.n_grams, h.n_hit,
       |  ROUND(CAST(h.n_hit AS DOUBLE) / t.n_grams, 6) AS contam_frac
       |FROM hit h JOIN tot t USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  def sampleTemperature(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Oracle: same aggregate → round-9 transcendental chain → DECIMAL
    * window sum → budget rounding, step for step.
    */
  val sampleTemperatureSql: String =
    s"""WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |w AS (SELECT source, n_docs,
       |  ROUND(EXP(ROUND(LN(n_docs), 9) * 0.3), 9) AS w_raw FROM s),
       |t AS (SELECT source, n_docs, w_raw,
       |  CAST(SUM(CAST(w_raw AS DECIMAL(38,9))) OVER () AS DOUBLE) AS w_sum FROM w)
       |SELECT source, n_docs, w_raw,
       |  ROUND(w_raw / w_sum, 9) AS weight,
       |  CAST(ROUND(ROUND(w_raw / w_sum, 9) * 100000, 0) AS BIGINT) AS target_docs
       |FROM t
       |ORDER BY source""".stripMargin

  def trainMixQ(spark: SparkSession, dir: String): DataFrame =
    trainMix(Tables.documents(spark, dir)).orderBy(col("split"), col("lang_pred"))

  /** Oracle: the same one-pass feature CTE (reusing the langid
    * greatest-struct semantics as a ranked lateral), survivor selection
    * as the identical hash-group row_number, then the rollup.
    */
  /** Shared oracle fragments: per-language score columns and the
    * lateral VALUES rows of the lang-ID argmax (used by trainMixSql
    * and corpusFunnelSql — identical text, identical semantics).
    */
  private def langScoreColsSql: Seq[String] =
    TextAnalysis.LangProfiles.toSeq.sortBy(_._1).map { case (lang, stops) =>
      val inList = stops.map(s => s"'$s'").mkString(", ")
      s"    CAST(len(list_filter(words, x -> x IN ($inList))) AS DOUBLE) / GREATEST(len(words), 1) AS score_$lang"
    }

  private def langValueRowsSql: String =
    ("zh" +: TextAnalysis.LangProfiles.keys.toSeq.sorted)
      .map(l => s"('$l', score_$l)")
      .mkString(", ")

  val trainMixSql: String = {
    val stopList = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    val scoreCols = langScoreColsSql
    val valueRows = langValueRowsSql
    s"""WITH w AS (
       |  SELECT doc_id, text,
       |    string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ') AS words,
       |    CAST(LENGTH(REGEXP_REPLACE(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)
       |      / GREATEST(LENGTH(text), 1) AS score_zh
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, text, words, score_zh,
       |${scoreCols.mkString(",\n")}
       |  FROM w),
       |lang AS (
       |  SELECT doc_id,
       |    CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
       |  FROM (
       |    SELECT doc_id, t.lang, t.score,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rnk
       |    FROM s CROSS JOIN LATERAL (VALUES $valueRows) t(lang, score)) r
       |  WHERE rnk = 1),
       |feats AS (
       |  SELECT s.doc_id,
       |    ${Dedup.md5Prefix60Duck("LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))")} AS h,
       |    CASE WHEN ${Dedup.md5Prefix60Duck("CAST(s.doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
       |         WHEN ${Dedup.md5Prefix60Duck("CAST(s.doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split,
       |    lang.lang_pred AS lang_pred,
       |    ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(LENGTH(text), 0) * 0.5 +
       |          CAST(len(list_filter(words, x -> x IN ($stopList))) AS DOUBLE) / NULLIF(len(words), 0) * 0.3 +
       |          LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0) * 0.2, 6) AS quality,
       |    len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS n_tokens
       |  FROM s JOIN lang ON lang.doc_id = s.doc_id),
       |kept AS (
       |  SELECT * FROM (
       |    SELECT feats.*, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
       |    FROM feats) f
       |  WHERE rn = 1 AND quality >= 0.5 AND lang_pred <> 'und')
       |SELECT split, lang_pred, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  ROUND(CAST(SUM(CAST(quality AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
       |FROM kept
       |GROUP BY 1, 2
       |ORDER BY split, lang_pred""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DSIR importance weights
  // ---------------------------------------------------------------------

  /** Hashed n-gram importance weights (DSIR, Xie et al. 2023): score
    * every raw document by how target-like it looks under two
    * bag-of-hashed-ngrams models — `w(d) = Σ_f c_f(d) · (ln p̂_t(f) −
    * ln p̂_r(f))` with Laplace smoothing — the importance-resampling
    * selector used to pick pretraining data that matches a target
    * domain. The target here is the corpus's own `lang = 'en'` slice;
    * raw is everything.
    *
    * The defining trick is FEATURE HASHING: word unigrams+bigrams fold
    * through the portable polynomial hash into `buckets` counts, so
    * both models are fixed-size vectors no matter how large the corpus
    * vocabulary grows — the models stay broadcastable at 100 TB by
    * construction. Scale shape: feature extraction + hashing is a
    * map-side kernel projection; per-doc bucket counts are one
    * (doc, bucket)-keyed partial agg; both models reduce to `buckets`
    * rows in a second partial agg and come back as a broadcast join;
    * the final score is one doc-keyed partial agg. The corpus is never
    * self-joined and never shuffled wider than (doc_id, bucket, count).
    *
    * Portability: bucket = polyHash(feature) mod 2⁶¹−1 mod buckets
    * (HUGEINT fold in the oracle); each model's ln runs on an identical
    * rational and is rounded to 9 decimals before the subtraction; the
    * per-doc sum routes through DECIMAL so addition order can't drift.
    */
  def dsirWeights(docs: DataFrame, targetLang: String = "en", buckets: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val dec = org.apache.spark.sql.types.DecimalType(27, 10)
    val withFeatures = docs
      .select(
        col("doc_id"),
        col("lang"),
        split(expr(TextAnalysis.NormSql), " ").as("ws")
      )
      .select(
        col("doc_id"),
        col("lang"),
        expr(
          """concat(ws,
            |  case when size(ws) >= 2
            |       then transform(sequence(1, size(ws) - 1),
            |                      i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
            |       else cast(array() as array<string>) end)""".stripMargin
        ).as("feats")
      )
    val counts = withFeatures
      .select(
        col("doc_id"),
        col("lang"),
        explode(graft.functions.MinhashHash.polyHashes(col("feats"))).as("h")
      )
      .select(col("doc_id"), col("lang"), (col("h") % buckets).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val model = counts
      .groupBy(col("bucket"))
      .agg(
        sum(col("c")).as("cr"),
        sum(when(col("lang") === targetLang, col("c")).otherwise(0L)).as("ct")
      )
    val totals = model.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val logRatio = model
      .crossJoin(broadcast(totals))
      .select(
        col("bucket"),
        (round(log((col("ct") + 1L).cast("double") / (col("nt") + buckets).cast("double")), 9) -
          round(log((col("cr") + 1L).cast("double") / (col("nr") + buckets).cast("double")), 9))
          .as("lr")
      )
    counts
      .join(broadcast(logRatio), "bucket")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_feats"),
        round(sum((col("c").cast("double") * col("lr")).cast(dec)).cast("double"), 6).as("dsir_w")
      )
  }

  def trainDsir(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir))

  val trainDsirSql: String = {
    import graft.functions.Winnow
    val b = 4096
    s"""WITH wsa AS (
       |  SELECT doc_id, lang,
       |    string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ') AS ws
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, lang,
       |    UNNEST(list_concat(ws,
       |      list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) AS f
       |  FROM wsa),
       |hashed AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN LENGTH(f) = 0 THEN CAST(0 AS HUGEINT)
       |         ELSE list_reduce(
       |           list_transform(range(1, LENGTH(f) + 1),
       |                          j -> CAST(unicode(substr(f, CAST(j AS INT), 1)) AS HUGEINT)),
       |           (h, c) -> (h * ${Winnow.Base} + c) % ${Winnow.P}) END AS h
       |  FROM feats),
       |counts AS (
       |  SELECT doc_id, lang, CAST(h % $b AS BIGINT) AS bucket, COUNT(*) AS c
       |  FROM hashed GROUP BY doc_id, lang, h % $b),
       |model AS (
       |  SELECT bucket, SUM(c) AS cr,
       |    SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
       |  FROM counts GROUP BY bucket),
       |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM model),
       |lr AS (
       |  SELECT bucket,
       |    ROUND(LN(CAST(ct + 1 AS DOUBLE) / CAST(nt + $b AS DOUBLE)), 9) -
       |    ROUND(LN(CAST(cr + 1 AS DOUBLE) / CAST(nr + $b AS DOUBLE)), 9) AS lr
       |  FROM model CROSS JOIN tot)
       |SELECT c.doc_id, CAST(SUM(c.c) AS BIGINT) AS n_feats,
       |  ROUND(CAST(SUM(CAST(CAST(c.c AS DOUBLE) * lr.lr AS DECIMAL(27,10))) AS DOUBLE), 6) AS dsir_w
       |FROM counts c JOIN lr ON lr.bucket = c.bucket
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Quality-classifier training
  // ---------------------------------------------------------------------

  /** Logistic-regression classifier head trained by full-batch
    * gradient descent over the embedding table — the linear probe a
    * pipeline trains on frozen embeddings to score "belongs to the
    * target domain" (y = one-vs-rest on `label == posLabel`; swap in
    * any 0/1 labeling). Returns the per-epoch trajectory (epoch,
    * loss, acc), each row measured with the weights BEFORE that
    * epoch's update, so epoch 1 is the all-zero model (loss = ln 2)
    * and the decline is the training curve a run report plots.
    *
    * Scale shape: each epoch is two scans of the corpus projection
    * (id, y, x) — score + stats, then a dim-keyed partial aggregation
    * for the gradient — with the weight vector riding along as a
    * LITERAL (the same broadcast-update loop as
    * [[Similarity.topPrincipalComponent]] and the Lloyd kmeans): the
    * corpus is scanned per epoch, never cached or shuffled, and the
    * driver only ever holds dim-sized vectors.
    *
    * Portability: z = VecDot against the literal weights (left-to-
    * right fold == list_dot_product); σ(z) and both ln's round to 9
    * decimals on identical inputs (p clamped to [1e-9, 1−1e-9]
    * before ln); gradient sums route through DECIMAL(27,10); weights
    * and bias re-round to 9 decimals after every update — the whole
    * trajectory is bit-identical in the oracle's unrolled CTEs.
    */
  def classifierTrajectory(
    embeds: DataFrame,
    posLabel: Int = 0,
    epochs: Int = 4,
    lr: Double = 2.0
  ): DataFrame = {
    require(epochs > 0, s"epochs must be positive, got $epochs")
    val spark = embeds.sparkSession
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(27, 10)
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e = embeds
      .select(
        col("vec_id"),
        (col("label") === posLabel).cast("int").as("y"),
        col("embedding").cast("array<double>").as("x")
      )
    val n = e.count()
    val d = e.select(size(col("x"))).first().getInt(0)
    var w = Array.fill(d)(0.0)
    var bias = 0.0
    val stats = scala.collection.mutable.Buffer.empty[(Long, Double, Double)]
    for (ep <- 1 to epochs) {
      val scored = e.select(
        col("vec_id"),
        col("y"),
        col("x"),
        least(
          greatest(
            round(
              lit(1.0) /
                (lit(1.0) + exp(-(graft.functions.VectorMath.dot(col("x"), typedlit(w.toSeq)) + bias))),
              9
            ),
            lit(1e-9)
          ),
          lit(1.0 - 1e-9)
        ).as("p")
      )
      val st = scored
        .agg(
          round(
            (-sum(
              (col("y") * round(log(col("p")), 9) +
                (lit(1) - col("y")) * round(log(lit(1.0) - col("p")), 9)).cast(dec)
            )).cast("double") / n,
            6
          ).as("loss"),
          round(
            sum(when((col("p") >= 0.5).cast("int") === col("y"), 1).otherwise(0))
              .cast("double") / n,
            6
          ).as("acc"),
          sum((col("p") - col("y")).cast(dec)).cast("double").as("gb")
        )
        .head()
      val g = scored
        .select((col("p") - col("y")).as("r"), posexplode(col("x")).as(Seq("d", "val")))
        .groupBy(col("d"))
        .agg(sum((col("r") * col("val")).cast(dec)).cast("double").as("g"))
        .orderBy(col("d"))
        .select(col("g"))
        .collect()
        .map(_.getDouble(0))
      w = w.zip(g).map { case (wj, gj) => round9(wj - lr * gj / n) }
      bias = round9(bias - lr * st.getAs[Double]("gb") / n)
      stats += ((ep.toLong, st.getAs[Double]("loss"), st.getAs[Double]("acc")))
    }
    stats.toSeq.toDF("epoch", "loss", "acc")
  }

  def trainClassifier(spark: SparkSession, dir: String): DataFrame =
    classifierTrajectory(Tables.embeddings(spark, dir))

  /** The trajectory unrolled epoch by epoch in MATERIALIZED CTEs (the
    * oracle-side iteration discipline the kmeans/PageRank/PCA oracles
    * established): identical left-to-right dots, DECIMAL gradient
    * sums, round-9 sigmoid/ln/update arithmetic written in the same
    * evaluation order as the Spark side.
    */
  val trainClassifierSql: String = {
    val epochs = 4
    val epochCtes = (1 to epochs).map { e =>
      s"""p$e AS MATERIALIZED (
         |  SELECT e.vec_id, e.y,
         |    LEAST(GREATEST(ROUND(1.0 / (1.0 + EXP(-(list_dot_product(e.x, w.wv) + b.bias))), 9),
         |                   0.000000001), 0.999999999) AS p
         |  FROM e CROSS JOIN w${e - 1} w CROSS JOIN b${e - 1} b),
         |stat$e AS (
         |  SELECT CAST($e AS BIGINT) AS epoch,
         |    ROUND(CAST(-SUM(CAST(y * ROUND(LN(p), 9)
         |                         + (1 - y) * ROUND(LN(1.0 - p), 9) AS DECIMAL(27,10))) AS DOUBLE)
         |          / (SELECT n FROM nn), 6) AS loss,
         |    ROUND(CAST(SUM(CASE WHEN (CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) = y
         |                        THEN 1 ELSE 0 END) AS DOUBLE)
         |          / (SELECT n FROM nn), 6) AS acc
         |  FROM p$e),
         |g$e AS MATERIALIZED (
         |  SELECT t.d,
         |    CAST(SUM(CAST((p.p - p.y) * t.val AS DECIMAL(27,10))) AS DOUBLE) AS g
         |  FROM vals t JOIN p$e p ON p.vec_id = t.vec_id
         |  GROUP BY t.d),
         |w$e AS MATERIALIZED (
         |  SELECT list(ROUND(w.wv[g.d + 1] - 2.0 * g.g / (SELECT n FROM nn), 9) ORDER BY g.d) AS wv
         |  FROM g$e g CROSS JOIN w${e - 1} w),
         |b$e AS (
         |  SELECT ROUND((SELECT bias FROM b${e - 1})
         |               - 2.0 * gb / (SELECT n FROM nn), 9) AS bias
         |  FROM (SELECT CAST(SUM(CAST(p - y AS DECIMAL(27,10))) AS DOUBLE) AS gb FROM p$e) s)""".stripMargin
    }
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
       |    CAST(embedding AS DOUBLE[]) AS x
       |  FROM embeddings),
       |vals AS MATERIALIZED (
       |  SELECT vec_id, CAST(u.i - 1 AS INT) AS d, x[u.i] AS val
       |  FROM e, UNNEST(range(1, len(x) + 1)) AS u(i)),
       |nn AS (SELECT COUNT(*) AS n FROM e),
       |dims AS (SELECT len(x) AS d FROM e LIMIT 1),
       |w0 AS (SELECT list_transform(range(1, CAST(d AS INT) + 1), i -> 0.0) AS wv FROM dims),
       |b0 AS (SELECT 0.0 AS bias),
       |${epochCtes.mkString(",\n")}
       |SELECT epoch, loss, acc FROM (
       |${(1 to epochs).map(e => s"  SELECT * FROM stat$e").mkString("\n  UNION ALL\n")}) s
       |ORDER BY epoch""".stripMargin
  }

  // ---------------------------------------------------------------------
  // End-to-end curation funnel
  // ---------------------------------------------------------------------

  /** The whole curation pipeline as ONE query — the number every data
    * team reports first: how many documents (and tokens) survive each
    * cumulative stage of raw → quality gate → language-ID → exact-dedup
    * survivor selection → eval-set decontamination. The eval set is the
    * planted derived corpus (ids ≥ 1000000), matching text_decontam's
    * convention.
    *
    * Plan shape: one scan computes every per-doc feature map-side
    * (quality, lang argmax, token count, 60-bit md5 dedup key); one
    * 8-byte-key window ranks survivors WITHIN each (hash, passed-gates)
    * group — rank among gate-passers only, so a failing earlier copy
    * can't absorb the group's survivorship; the decontam probe is a
    * broadcast semi-join of 8-gram hits rolled up per doc; the funnel
    * itself is ONE partial aggregation emitting five conditional sums,
    * unpivoted with `stack`. The corpus is scanned twice (features +
    * decontam grams) and never self-joined.
    */
  def corpusFunnel(docs: DataFrame, minQuality: Double = 0.3, maxContam: Double = 0.2): DataFrame = {
    val normSql = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
    val evalDocs = Dedup.withPlantedNearDups(docs).filter(col("doc_id") >= 1000000L)
    val contam = decontaminate(docs, evalDocs).select(col("doc_id"), col("contam_frac"))
    val base = docs
      .select(
        col("doc_id"),
        expr(Dedup.md5Prefix60Sql(normSql)).as("__h"),
        TextAnalysis.qualityColumn.as("quality"),
        TextAnalysis.langPredColumn.as("lang_pred"),
        TextAnalysis.reTokensColumn.as("n_tokens")
      )
      .withColumn("s1", col("quality") >= minQuality)
      .withColumn("s2", col("s1") && col("lang_pred") =!= "und")
    val ranked = base.withColumn(
      "__rn",
      row_number().over(Window.partitionBy(col("__h"), col("s2")).orderBy(col("doc_id")))
    )
    val flags = ranked
      .withColumn("s3", col("s2") && col("__rn") === 1)
      .join(contam, Seq("doc_id"), "left")
      .withColumn("s4", col("s3") && (col("contam_frac").isNull || col("contam_frac") < maxContam))
    def d(flag: Column) = coalesce(sum(when(flag, 1L)), lit(0L))
    def t(flag: Column) = sum(when(flag, col("n_tokens")))
    flags
      .agg(
        count(lit(1)).as("d0"),
        sum(col("n_tokens")).as("t0"),
        d(col("s1")).as("d1"),
        t(col("s1")).as("t1"),
        d(col("s2")).as("d2"),
        t(col("s2")).as("t2"),
        d(col("s3")).as("d3"),
        t(col("s3")).as("t3"),
        d(col("s4")).as("d4"),
        t(col("s4")).as("t4")
      )
      .selectExpr(
        """stack(5,
          |  0L, 'raw',      d0, t0,
          |  1L, 'quality',  d1, t1,
          |  2L, 'language', d2, t2,
          |  3L, 'dedup',    d3, t3,
          |  4L, 'decontam', d4, t4
          |) as (stage, stage_name, n_docs, total_tokens)""".stripMargin
      )
      .orderBy(col("stage"))
  }

  def corpusFunnelQ(spark: SparkSession, dir: String): DataFrame =
    corpusFunnel(Tables.documents(spark, dir))

  /** Oracle: the trainMix feature CTEs (same lang argmax + quality
    * formula), the (hash, gate)-partitioned survivor rank, the
    * textDecontam 8-gram probe, then five conditional aggregates
    * unioned into the funnel.
    */
  val corpusFunnelSql: String = {
    val stopList = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    val scoreCols = langScoreColsSql
    val valueRows = langValueRowsSql
    s"""WITH w AS (
       |  SELECT doc_id, text,
       |    string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ') AS words,
       |    CAST(LENGTH(REGEXP_REPLACE(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)
       |      / GREATEST(LENGTH(text), 1) AS score_zh
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, text, words, score_zh,
       |${scoreCols.mkString(",\n")}
       |  FROM w),
       |lang AS (
       |  SELECT doc_id,
       |    CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
       |  FROM (
       |    SELECT doc_id, t.lang, t.score,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rnk
       |    FROM s CROSS JOIN LATERAL (VALUES $valueRows) t(lang, score)) r
       |  WHERE rnk = 1),
       |feats AS (
       |  SELECT s.doc_id,
       |    ${Dedup.md5Prefix60Duck("LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))")} AS h,
       |    lang.lang_pred AS lang_pred,
       |    ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / NULLIF(LENGTH(text), 0) * 0.5 +
       |          CAST(len(list_filter(words, x -> x IN ($stopList))) AS DOUBLE) / NULLIF(len(words), 0) * 0.3 +
       |          LEAST(CAST(len(words) AS DOUBLE) / 100.0, 1.0) * 0.2, 6) AS quality,
       |    len(regexp_extract_all(text, '${TextAnalysis.TokenPattern}')) AS n_tokens
       |  FROM s JOIN lang ON lang.doc_id = s.doc_id),
       |gated AS (
       |  SELECT *,
       |    (quality >= 0.3) AS s1,
       |    ((quality >= 0.3) AND lang_pred <> 'und') AS s2
       |  FROM feats),
       |rnk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY h, s2 ORDER BY doc_id) AS rn FROM gated),
       |${Dedup.PlantedCorpusSql},
       |normed2 AS (
       |  SELECT doc_id, LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS nm
       |  FROM corpus WHERE text IS NOT NULL),
       |words2 AS (SELECT doc_id, string_split(nm, ' ') AS ws FROM normed2),
       |shpos2 AS (
       |  SELECT doc_id, ws, UNNEST(range(1, GREATEST(len(ws) - 7, 1) + 1)) AS i FROM words2),
       |sh2 AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(ws) >= 8 THEN array_to_string(ws[i:i+7], ' ')
       |         ELSE array_to_string(ws, ' ') END AS g
       |  FROM shpos2),
       |ev AS (SELECT DISTINCT g FROM sh2 WHERE doc_id >= 1000000),
       |tot2 AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh2 WHERE doc_id < 1000000 GROUP BY 1),
       |hit2 AS (
       |  SELECT s.doc_id, COUNT(*) AS n_hit
       |  FROM sh2 s JOIN ev USING (g)
       |  WHERE s.doc_id < 1000000 GROUP BY 1),
       |contam AS (
       |  SELECT h.doc_id, ROUND(CAST(h.n_hit AS DOUBLE) / t.n_grams, 6) AS cf
       |  FROM hit2 h JOIN tot2 t USING (doc_id)),
       |flags AS (
       |  SELECT f.*, (f.s3 AND (c.cf IS NULL OR c.cf < 0.2)) AS s4
       |  FROM (SELECT r.*, (s2 AND rn = 1) AS s3 FROM rnk r) f
       |  LEFT JOIN contam c ON c.doc_id = f.doc_id)
       |SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM flags
       |UNION ALL SELECT CAST(1 AS BIGINT), 'quality', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM flags WHERE s1
       |UNION ALL SELECT CAST(2 AS BIGINT), 'language', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM flags WHERE s2
       |UNION ALL SELECT CAST(3 AS BIGINT), 'dedup', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM flags WHERE s3
       |UNION ALL SELECT CAST(4 AS BIGINT), 'decontam', COUNT(*), CAST(SUM(n_tokens) AS BIGINT) FROM flags WHERE s4
       |ORDER BY stage""".stripMargin
  }

  // -------------------------------------------------------------------
  // Length-based curriculum staging
  // -------------------------------------------------------------------

  /** Curriculum staging by sequence length (short→long is the standard
    * length curriculum; see e.g. "Curriculum Learning", Bengio et al.,
    * ICML 2009 and the sequence-length warmups used by large LM
    * pretraining runs): every document is assigned to one of `nStages`
    * training stages by which corpus length quartile it falls in.
    *
    * Scale shape: per-doc word counts are a zero-shuffle projection;
    * the stage boundaries are ONE exact-percentile aggregate collapsed
    * to a single broadcast row (never a global sort — no ntile/rank
    * over the corpus); the stage label is then a map-side comparison
    * against the broadcast cuts. The only data-scale exchange is the
    * percentile's partial aggregation.
    *
    * Portability: percentile boundaries interpolate linearly over
    * INTEGER word counts in both engines (Spark `percentile` ≡ DuckDB
    * `quantile_cont`), and the comparisons use the unrounded cut
    * values on both sides.
    */
  def curriculumStages(docs: DataFrame, nStages: Int = 4): DataFrame = {
    require(nStages >= 2, s"nStages must be at least 2, got $nStages")
    val words = docs
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        col("source"),
        size(split(expr(TextAnalysis.NormSql), " ")).cast("long").as("n_words")
      )
    val fracs = (1 until nStages).map(_.toDouble / nStages)
    val cuts = words.agg(
      percentile(col("n_words"), array(fracs.map(lit): _*)).as("__cuts")
    )
    val stage = fracs.indices
      .map(i => when(col("n_words") > col("__cuts").getItem(i), 1L).otherwise(0L))
      .reduce(_ + _) + 1L
    words
      .crossJoin(broadcast(cuts))
      .select(
        col("doc_id"),
        col("source"),
        col("n_words"),
        stage.as("stage"),
        round(col("__cuts").getItem(0), 6).as("cut_1"),
        round(col("__cuts").getItem(nStages - 2), 6).as("cut_top")
      )
  }

  def trainCurriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumStages(Tables.documents(spark, dir))

  /** Oracle: identical quantile_cont boundaries, identical unrounded
    * comparisons, identical stage arithmetic.
    */
  val trainCurriculumSql: String =
    """WITH w AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_words
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT quantile_cont(n_words, [0.25, 0.5, 0.75]) AS cuts FROM w)
      |SELECT doc_id, source, n_words,
      |  1 + (n_words > cuts[1])::BIGINT + (n_words > cuts[2])::BIGINT
      |    + (n_words > cuts[3])::BIGINT AS stage,
      |  ROUND(cuts[1], 6) AS cut_1,
      |  ROUND(cuts[3], 6) AS cut_top
      |FROM w CROSS JOIN c
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // Token-budget allocation with epoch caps
  // -------------------------------------------------------------------

  /** Data-constrained token-budget allocation: temperature weights
    * (n_tokens^α, the sample_temperature chain applied at TOKEN grain)
    * split a fixed training budget across sources, and each source
    * reports the epoch factor its allocation implies
    * (allocated / available) plus the excess beyond a repeat cap —
    * the planning report behind data-constrained scaling (Muennighoff
    * et al., NeurIPS 2023: repeating data beyond ~4 epochs stops
    * helping, so over-cap allocations should be re-balanced).
    *
    * Scale shape: per-doc word counts are a zero-shuffle projection;
    * ONE source-grain partial agg carries (docs, tokens); the whole
    * temperature/allocation chain runs at source cardinality (the only
    * empty-partition window is over that source-cardinality relation —
    * the sample_temperature precedent).
    */
  def budgetAllocation(
    docs: DataFrame,
    alpha: Double = 0.3,
    budgetTokens: Long = 500000L,
    maxEpochs: Double = 4.0
  ): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 9)
    docs
      .filter(col("text").isNotNull)
      .select(
        col("source"),
        size(split(expr(TextAnalysis.NormSql), " ")).cast("long").as("__nw")
      )
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nw")).as("n_tokens"))
      .withColumn("w_raw", round(exp(round(log(col("n_tokens")), 9) * lit(alpha)), 9))
      .withColumn("__w_sum", sum(col("w_raw").cast(dec)).over(Window.partitionBy()).cast("double"))
      .withColumn("weight", round(col("w_raw") / col("__w_sum"), 9))
      .withColumn("alloc_tokens", round(col("weight") * lit(budgetTokens), 0).cast("long"))
      .withColumn("epochs", round(col("alloc_tokens").cast("double") / col("n_tokens"), 6))
      .withColumn(
        "excess_tokens",
        greatest(
          round(col("alloc_tokens") - lit(maxEpochs) * col("n_tokens"), 0).cast("long"),
          lit(0L)
        )
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        col("weight"),
        col("alloc_tokens"),
        col("epochs"),
        col("excess_tokens")
      )
  }

  // -------------------------------------------------------------------
  // Deterministic weighted sampling
  // -------------------------------------------------------------------

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006:
    * draw u~U(0,1) per item, keep the top-m by key u^(1/w)) made fully
    * DETERMINISTIC by deriving u from a salted md5 of the doc id — the
    * standard curation move when a sample must favor long/high-quality
    * documents yet stay reproducible across engines and reruns. Ranking
    * uses ln(u)/w (monotone in the key, numerically tame).
    *
    * Scale shape: u/key are zero-shuffle projections; the top-m cut is
    * orderBy+limit (TakeOrderedAndProject — each task keeps m rows, no
    * global sort materializes); the rank window runs over the
    * already-limited m rows.
    */
  def weightedSample(docs: DataFrame, m: Int = 50): DataFrame = {
    // 60-bit md5 prefix → u in (0, 1]: (h+1) / 2^60 (2^60 is exactly
    // representable, so the division is the same double in any engine)
    val uSql =
      "((cast(conv(substring(md5(concat('es:', cast(doc_id as string))), 1, 15), 16, 10) as bigint) + 1)" +
        " / 1152921504606846976.0)"
    val keyed = docs
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        col("source"),
        size(split(expr(TextAnalysis.NormSql), " ")).cast("long").as("n_words"),
        expr(uSql).as("__u")
      )
      .filter(col("n_words") > 0)
      .withColumn("key", round(log(col("__u")), 9) / col("n_words"))
    val top = keyed.orderBy(col("key").desc, col("doc_id")).limit(m)
    val byKey = Window.orderBy(col("key").desc, col("doc_id"))
    top
      .withColumn("rank", row_number().over(byKey).cast("long"))
      .select(
        col("rank"),
        col("doc_id"),
        col("source"),
        col("n_words"),
        round(col("key"), 9).as("key")
      )
  }

  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir)).orderBy(col("rank"))

  /** Oracle: identical salted-md5 uniform, identical round-9 ln chain,
    * identical (key desc, doc_id) cut and rank.
    */
  val sampleWeightedSql: String =
    """WITH w AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_words,
      |    (CAST('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1)
      |      / 1152921504606846976.0 AS u
      |  FROM documents WHERE text IS NOT NULL),
      |k AS (
      |  SELECT doc_id, source, n_words, ROUND(LN(u), 9) / n_words AS key
      |  FROM w WHERE n_words > 0),
      |top AS (SELECT * FROM k ORDER BY key DESC, doc_id LIMIT 50)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, source, n_words, ROUND(key, 9) AS key
      |FROM top
      |ORDER BY rank""".stripMargin

  def trainBudget(spark: SparkSession, dir: String): DataFrame =
    budgetAllocation(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Oracle: identical token counts, the sample_temperature transcendental
    * chain at token grain, identical allocation/epoch arithmetic.
    */
  val trainBudgetSql: String =
    """WITH w AS (
      |  SELECT source,
      |    CAST(len(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS nw
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (SELECT source, COUNT(*) AS n_docs, SUM(nw) AS n_tokens FROM w GROUP BY source),
      |r AS (SELECT source, n_docs, n_tokens,
      |  ROUND(EXP(ROUND(LN(n_tokens), 9) * 0.3), 9) AS w_raw FROM s),
      |t AS (SELECT source, n_docs, n_tokens, w_raw,
      |  CAST(SUM(CAST(w_raw AS DECIMAL(38,9))) OVER () AS DOUBLE) AS w_sum FROM r),
      |a AS (
      |  SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      |    ROUND(w_raw / w_sum, 9) AS weight,
      |    CAST(ROUND(ROUND(w_raw / w_sum, 9) * 500000, 0) AS BIGINT) AS alloc_tokens
      |  FROM t)
      |SELECT source, n_docs, n_tokens, weight, alloc_tokens,
      |  ROUND(CAST(alloc_tokens AS DOUBLE) / n_tokens, 6) AS epochs,
      |  GREATEST(CAST(ROUND(alloc_tokens - 4.0 * n_tokens, 0) AS BIGINT), 0) AS excess_tokens
      |FROM a
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------------
  // Deterministic train/val/test split manifest
  // ---------------------------------------------------------------------

  /** Split fractions in percent: [0,80) train, [80,90) val, rest test. */
  val SplitTrainPct = 80L
  val SplitValPct = 90L

  /** Deterministic train/val/test split manifest: every document lands
    * in a split by its doc_id's 60-bit md5 bucket mod 100 — stable
    * under corpus growth (a doc never migrates), uniform by the hash,
    * reproducible in any engine — reported per (source, split) with
    * doc/token counts and the within-source fraction, so leakage
    * checks and per-source balance audits read off one relation.
    *
    * Scale shape: the split key is map-side hash arithmetic in the
    * scan projection; ONE (source, split) partial agg plus a k-row
    * per-source total broadcast back. Nothing shuffles at doc grain.
    */
  def trainSplit(docs: DataFrame): DataFrame = {
    val h = expr(Dedup.md5Prefix60Sql("cast(doc_id as string)")) % 100L
    val toks = coalesce(size(expr(TextAnalysis.WordsSql)).cast("long"), lit(0L))
    val tagged = docs
      .select(
        col("source"),
        toks.as("__tok"),
        when(h < SplitTrainPct, "train").when(h < SplitValPct, "val").otherwise("test").as("split")
      )
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
    val totals = tagged.groupBy(col("source")).agg(sum(col("n_docs")).as("__tot"))
    tagged
      .join(broadcast(totals), Seq("source"))
      .select(
        col("source"),
        col("split"),
        col("n_docs"),
        col("n_tokens"),
        round(col("n_docs").cast("double") / col("__tot").cast("double"), 6).as("doc_frac")
      )
  }

  def trainSplitQ(spark: SparkSession, dir: String): DataFrame =
    trainSplit(graft.Tables.documents(spark, dir)).orderBy(col("source"), col("split"))

  val trainSplitSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    COALESCE(CAST(LEN(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT), 0) AS tok,
       |    CASE WHEN ${Dedup.md5Prefix60Duck("CAST(doc_id AS VARCHAR)")} % 100 < $SplitTrainPct THEN 'train'
       |         WHEN ${Dedup.md5Prefix60Duck("CAST(doc_id AS VARCHAR)")} % 100 < $SplitValPct THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |g AS (
       |  SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
       |  FROM d GROUP BY 1, 2),
       |t AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS tot FROM g GROUP BY 1)
       |SELECT g.source, g.split, g.n_docs, g.n_tokens,
       |  ROUND(CAST(g.n_docs AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS doc_frac
       |FROM g JOIN t ON t.source = g.source
       |ORDER BY g.source, g.split""".stripMargin
}
