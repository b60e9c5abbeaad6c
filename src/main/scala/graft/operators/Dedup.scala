package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard verify, and
  * embedding-cosine near-dup.
  *
  * Shape discipline (the 100 TB design):
  *  - per-document signature work (MinHash minima, SimHash votes) is a
  *    MAP-SIDE kernel over that document's own token array — a
  *    signature is a function of one row, so no explode/re-aggregate
  *    shuffle exists in any signature stage;
  *  - set intersections (Jaccard verify) join each candidate pair to
  *    its two docs' SORTED element arrays and count |A∩B| with one
  *    native merge walk (MinhashHash.interCount), never a nested
  *    higher-order lambda — Spark HOF lambdas are interpreted and
  *    re-evaluate inner expressions per element — and the arrays exist
  *    only for candidate docs;
  *  - mega buckets (boilerplate that collides everywhere) are dropped
  *    by a counted bucket-size cap BEFORE any bucket materializes, the
  *    guard against O(n²) pair blowup inside one bucket.
  *
  * Note on persistence: no operator here caches. An intermediate that
  * a result reads more than once (the MinHash and SimHash signatures,
  * the blocked embedding miner's bucketed vectors) is a pin in a
  * [[Checkpoints.scoped]] pin set; the pin lives while the result's
  * plan reads it and nothing is left in the session's cache manager,
  * so a long-running session needs no spark.catalog.clearCache().
  */
object Dedup {

  /** Whitespace-collapsed lowercase text — the canonical form used for
    * exact dedup and shingling.
    */
  def normText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** 60-bit md5-prefix key, identical in both engines: 15 hex digits
    * keep the value inside a SIGNED 64-bit long on each side, which is
    * the load-bearing portability invariant — widen the prefix and the
    * DuckDB 0x-cast overflows. One definition feeds every consumer
    * (hash-keyed exact dedup, deterministic splits) on both the Spark
    * and the oracle side.
    */
  private[graft] def md5Prefix60Sql(x: String): String =
    s"cast(conv(substring(md5($x), 1, 15), 16, 10) as bigint)"

  private[operators] def md5Prefix60Duck(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  private val NormSql = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
  private val WordsSql = s"split($NormSql, ' ')"

  /** Dynamic planted-id offset: greatest(1_000_000, max(doc_id) + 1).
    * The planted-dup wrappers below re-issue documents at
    * doc_id + k·OFF; a FIXED 1e6 offset collided with real ids once
    * the decade-3 rehearsal corpus crossed a million documents — one
    * doc_id then carries two texts, the verify element streams double
    * up, and |A|+|B|−|A∩B| reaches zero (the sf100docs DIVIDE_BY_ZERO
    * abort). At testdata scale the expression still evaluates to
    * exactly 1e6, so every oracle hash is unchanged; the oracle
    * computes the identical scalar ([[PlantOffDuck]]). The max probe
    * is one bounded parquet-stats job at plan-build time — the same
    * driver-size discipline as the centroid/seed collects.
    */
  private[graft] def plantOffset(docs: DataFrame): Long = {
    val row = docs.agg(max(col("doc_id"))).head
    val mx = if (row.isNullAt(0)) 0L else row.getLong(0)
    math.max(1000000L, mx + 1L)
  }

  /** The oracle's twin of [[plantOffset]] — a DuckDB scalar subquery. */
  private[operators] val PlantOffDuck =
    "(SELECT GREATEST(1000000, MAX(doc_id) + 1) FROM documents)"

  /** Distinct word w-shingles of normalized `text` — the native
    * single-pass kernel (graft.functions.Shingling); the former
    * interpreted-HOF formulation was the top cost of dedup_minhash.
    * Short documents fall back to one whole-text shingle.
    */
  def shingles(w: Int): Column =
    graft.functions.Shingling.wordShingles(normText(col("text")), w)

  /** Distinct character n-grams of normalized `text` (native kernel). */
  def charNgrams(n: Int): Column =
    graft.functions.Shingling.charNgrams(normText(col("text")), n)

  // ---------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------

  /** Exact dedup on normalized text: one surviving row per distinct
    * normalized document, keeping the smallest doc_id. One shuffle,
    * algebraic aggregates. (At scale, group on xxhash64(norm) instead of
    * the full text to shrink shuffle width; the testdata query groups on
    * the text itself to stay oracle-comparable.)
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(normText(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** The 100 TB exact-dedup shape: group on a 60-bit prefix of
    * md5(normalized text) instead of the text itself, so the shuffle
    * key is 8 bytes rather than the document (the whole corpus no
    * longer moves through the exchange). Collisions are ~n²/2⁶¹ —
    * vanishing below 10¹⁰⁄₂-doc corpora, and a collision only merges
    * two groups (keeps min id), never loses rows. 15 hex digits keep
    * the key within a signed 64-bit value in BOTH engines, which is
    * what makes this variant oracle-checkable (DuckDB
    * CAST('0x'||substr(md5(norm),1,15) AS BIGINT)).
    */
  def exactByHash(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(md5Prefix60Sql(NormSql)).as("__h"))
      .groupBy(col("__h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Lead-fingerprint dedup: group on a 60-bit md5 prefix of the first
    * `w` normalized WORDS — the cheap industrial screen (the CCNet /
    * RefinedWeb lineage of URL-and-lead heuristics) for re-crawls and
    * mirrors that differ only in appended footers, timestamps or
    * injected trailing boilerplate, which [[exact]] misses entirely.
    * Reports, per lead group, how many members there are and how many
    * DISTINCT full texts hide inside it: `fuzzy_only = true` rows are
    * exactly the catches full-text dedup would have lost.
    *
    * Same 100 TB shape as [[exactByHash]]: both keys are 8-byte md5
    * prefixes, so only (lead-hash, full-hash, doc_id) crosses the
    * exchange — never the text. One shuffle, algebraic aggregates.
    */
  def prefixDedup(docs: DataFrame, w: Int = 50): DataFrame =
    docs
      .select(
        col("doc_id"),
        expr(md5Prefix60Sql(s"array_join(slice($WordsSql, 1, $w), ' ')")).as("__hp"),
        expr(md5Prefix60Sql(NormSql)).as("__hf")
      )
      .groupBy(col("__hp"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("__hf")).as("n_distinct_full")
      )
      .withColumn("fuzzy_only", col("n_distinct_full") > 1)
      .select("doc_id", "n_copies", "n_distinct_full", "fuzzy_only")

  /** The fixed query plants guaranteed footer-variant duplicates from
    * the data itself (for doc_id % 9 == 0 with ≥ 50 words, a copy with
    * a trailing footer appended as doc_id + 3000000) so fuzzy_only
    * rows exist at every scale factor; the oracle mirrors the corpus.
    */
  def dedupPrefix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val off = plantOffset(docs)
    val planted = docs
      .filter(col("doc_id") % 9 === 0 && size(expr(WordsSql)) >= 50)
      .select(
        (col("doc_id") + lit(3L * off)).as("doc_id"),
        concat(col("text"), lit(" planted trailing footer")).as("text")
      )
    prefixDedup(docs.unionByName(planted))
  }

  val dedupPrefixSql: String = {
    val norm = "LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))"
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3 * $PlantOffDuck AS doc_id, text || ' planted trailing footer' AS text
       |  FROM documents
       |  WHERE doc_id % 9 = 0 AND len(string_split($norm, ' ')) >= 50),
       |h AS (
       |  SELECT doc_id,
       |    ${md5Prefix60Duck(s"array_to_string((string_split($norm, ' '))[1:50], ' ')")} AS hp,
       |    ${md5Prefix60Duck(norm)} AS hf
       |  FROM corpus)
       |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
       |  COUNT(DISTINCT hf) AS n_distinct_full,
       |  COUNT(DISTINCT hf) > 1 AS fuzzy_only
       |FROM h
       |GROUP BY hp
       |ORDER BY doc_id""".stripMargin
  }

  /** Cross-source contamination report: exact-duplicate groups whose
    * members span MORE THAN ONE source — the check a training pipeline
    * runs to catch benchmark/eval text leaking into training corpora
    * (identical text appearing under several origins). Same one-shuffle
    * group shape as [[exact]] with a distinct-source count; only
    * spanning groups survive.
    */
  def crossSourceExactDups(docs: DataFrame): DataFrame =
    docs
      .groupBy(normText(col("text")).as("norm"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources")
      )
      .filter(col("n_sources") > 1)
      .select(col("doc_id"), col("n_copies"), col("n_sources"))

  /** Build a Bloom filter over `h` (a LongType hash column) with
    * Spark's native BloomFilterAggregate — one partial aggregation,
    * numBits/8 bytes of result regardless of input size.
    */
  def bloomBuild(df: DataFrame, h: Column, expectedItems: Long, numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(
      GraftSqlBridge.expression(h),
      Literal(expectedItems),
      Literal(numBits)
    ).toAggregateExpression()
    df.select(GraftSqlBridge.column(agg).as("bf")).head().getAs[Array[Byte]]("bf")
  }

  /** Map-side membership probe against a built Bloom filter (Spark's
    * native BloomFilterMightContain over the serialized sketch).
    */
  def bloomMight(bloom: Array[Byte], h: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    GraftSqlBridge.column(
      new BloomFilterMightContain(Literal(bloom), GraftSqlBridge.expression(h))
    )
  }

  /** Cross-corpus membership dedup with a Bloom prefilter — Spark's
    * runtime-filter pattern applied to curation. The base corpus's
    * content-hash set is sketched into a size-bounded Bloom filter
    * (numBits/8 bytes however big the corpus), shipped as a literal
    * into a MAP-SIDE might_contain probe over the incoming corpus, and
    * only the surviving ~(dup_rate + fpp) fraction ever reaches the
    * exact-verify semi join. At 100 TB that is the difference between
    * shuffling the whole incoming corpus into a join and dropping
    * non-members at the scan: the probe is a codegen'd projection.
    *
    * The final answer stays EXACT — Bloom false positives die in the
    * verify join on the full normalized text — which is why the SQL
    * oracle is the plain membership semi join with no sketch at all.
    */
  def bloomCrossDups(
      base: DataFrame,
      incoming: DataFrame,
      expectedItems: Long = 1L << 20,
      numBits: Long = 1L << 23
  ): DataFrame = {
    val an = base.filter(col("text").isNotNull).select(expr(NormSql).as("nm"))
    val bn = incoming.filter(col("text").isNotNull).select(col("doc_id"), expr(NormSql).as("nm"))
    val bloom = bloomBuild(an, xxhash64(col("nm")), expectedItems, numBits)
    bn.filter(bloomMight(bloom, xxhash64(col("nm"))))
      .join(an.distinct(), Seq("nm"), "left_semi")
      .select(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  val MinhashSeeds = 64

  /** MinHash signatures as a pure MAP-SIDE projection — no shuffle.
    * A document's signature is a function of its own shingle set, which
    * already lives in one row, so exploding to rows and re-aggregating
    * 64 mins through a shuffle (the previous shape) moved data for
    * nothing. The MinhashSignature kernel computes all 64 per-seed
    * minima in one pass (shingle hashed once, polynomial mod 2⁶¹−1;
    * seeds are affine derivations — reproducible in the DuckDB oracle,
    * graft.functions.MinhashHash). At 100 TB the signature stage is an
    * embarrassingly parallel scan that pipelines into the banding
    * shuffle.
    */
  def minhashSignatures(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("doc_id"), shingles(w).as("__sh"))
      .select(col("doc_id"), graft.functions.MinhashHash.signature(col("__sh")).as("__sig"))
      // null-text docs have no shingles and no signature — drop them
      // (the oracle's string_split(NULL) does the same); keeping them
      // would put every null doc in one all-null bucket per band
      .filter(col("__sig").isNotNull)
      .select(
        col("doc_id") +:
          (0 until MinhashSeeds).map(s => element_at(col("__sig"), s + 1).as(s"h$s")): _*
      )

  /** Candidate pairs from LSH banding over the signature columns: band b
    * hashes signature values [b*r, b*r+r); docs colliding on any band
    * hash become a candidate pair. Buckets above maxBucketSize are
    * dropped (boilerplate guard).
    *
    * No bucket is EVER materialized as a single row: bucket sizes are
    * counted first (algebraic agg, map-side combined), inadmissible
    * buckets are dropped, and pairs come from a self-join of the
    * surviving (band, bandHash, doc_id) rows on the bucket key. A
    * boilerplate mega-bucket therefore costs one count row — not a
    * collect_list the size of the bucket — so no executor ever holds a
    * bucket in memory.
    */
  def lshCandidates(sigs: DataFrame, bands: Int, maxBucketSize: Int): DataFrame = {
    require(
      bands > 0 && bands <= MinhashSeeds && MinhashSeeds % bands == 0,
      s"bands must evenly divide $MinhashSeeds signature values, got $bands"
    )
    // bucket key = the band's signature slice PACKED into one long by a
    // polynomial fold mod 2⁶¹−1 (MinhashHash.bandPack): what shuffles
    // per (doc, band) row is 8 bytes of key, not rowsPerBand longs of
    // array. The DuckDB oracle computes the identical HUGEINT fold, so
    // bucket equality stays bit-for-bit engine-portable even across the
    // (astronomically unlikely) packing collisions.
    val packed = graft.functions.MinhashHash
      .bandKeys(array((0 until MinhashSeeds).map(s => col(s"h$s")): _*), bands)
    // (band, bandKey, doc_id) rows feed the count and both sides of
    // the self-join. NOT pinned: callers pin `sigs` (one row per
    // doc), and re-deriving the band keys from pinned signatures is
    // cheaper than materializing docs×bands rows into the block store
    val bucketRows = sigs
      .select(col("doc_id"), posexplode(packed).as(Seq("band", "bandKey")))
    val admissible = bucketRows
      .groupBy(col("band"), col("bandKey"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > 1 && col("sz") <= maxBucketSize)
      .select(col("band"), col("bandKey"))
    val member = bucketRows.join(admissible, Seq("band", "bandKey"), "left_semi")
    member
      .select(col("band"), col("bandKey"), col("doc_id").as("doc_a"))
      .join(
        member.select(col("band"), col("bandKey"), col("doc_id").as("doc_b")),
        Seq("band", "bandKey")
      )
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Exact set Jaccard for candidate pairs (doc_a, doc_b) over `sets`
    * (doc_id, set): one row per document holding its elements as an
    * ASCENDING-sorted array (`array_sort`). Each pair joins its two
    * arrays and counts |A∩B| with one merge walk
    * (MinhashHash.interCount: ca·cb per equal value, the count an
    * equi-join of the exploded elements produces); |A| and |B| are the
    * array sizes and |A∪B| = |A| + |B| − |A∩B|. A document with a null
    * or empty set has no elements to match, so its pairs drop out.
    *
    * Why arrays: a verify over exploded element rows moves one row per
    * element of every candidate doc through two shuffled joins on the
    * element, a count and three joins back; the arrays cross the two
    * pair joins once per document.
    */
  def setJaccard(pairs: DataFrame, sets: DataFrame): DataFrame = {
    def side(s: String) =
      sets.filter(size(col("set")) > 0).select(col("doc_id").as(s"doc_$s"), col("set").as(s"set_$s"))
    // the sets are candidate-doc grain (a corpus-scale relation at
    // crawl scale), never broadcastable: shuffle-hash hints keep both
    // joins broadcast-free without a sort — join 1 builds on the
    // candidate-capped pair relation, join 2 on the sets
    val inter = graft.functions.MinhashHash.interCount(col("set_a"), col("set_b"))
    pairs
      .hint("shuffle_hash")
      .join(side("a"), "doc_a")
      .join(side("b").hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"), inter.as("n_inter"),
        size(col("set_a")).as("na"), size(col("set_b")).as("nb"))
      .select(
        col("doc_a"),
        col("doc_b"),
        // |A∪B| = 0 means BOTH element sets are empty — the docs
        // normalize to the same (empty) content, i.e. exact duplicates:
        // Jaccard 1.0, not 0/0. Empty docs are a real corpus class at
        // crawl scale (punctuation-only text normalizes to ""), they
        // share identical minhash signatures so they pair up in every
        // band, and the decade-3 rehearsal (5M docs) aborted on exactly
        // this division under ANSI mode before the guard existed.
        when(col("na") + col("nb") - col("n_inter") > 0,
          col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
          .otherwise(lit(1.0)).as("jaccard")
      )
  }

  /** The full candidate relation with exact Jaccard, BEFORE the τ cut —
    * the verified-pair miner minus its last filter, shared by
    * [[minhashNearDups]] and the lshTuningCurve calibration report.
    *
    * The signatures (one row per doc) are read four times: the band
    * count, both sides of the bucket self-join and the candidate-id
    * semi-join. They are a scope pin, taken once; the scope keeps the
    * pin while the result's plan reads it. A lazy `persist` here cost
    * jobs: under AQE each read of the cached relation became its own
    * table-cache stage, so no exchange above them was reused and the
    * band count ran twice (43 jobs per [[minhashNearDups]] call at
    * sf0.01, 14 with the pin and the array verify), and the
    * cache-manager entry outlived the call.
    */
  def minhashJaccard(
    docs: DataFrame,
    w: Int = 3,
    bands: Int = 16,
    maxBucketSize: Int = 64
  ): DataFrame = Checkpoints.scoped(minhashJaccardIn(_, docs, w, bands, maxBucketSize))

  private def minhashJaccardIn(
    pins: Checkpoints.Pins,
    docs: DataFrame,
    w: Int,
    bands: Int,
    maxBucketSize: Int
  ): DataFrame = {
    val docsSel = docs.select(col("doc_id"), col("text"))
    val sigs = pins(minhashSignatures(docsSel, w))
    val pairs = lshCandidates(sigs, bands, maxBucketSize)
    // the verify reads only docs that appear in a candidate pair —
    // semi-join the corpus down BEFORE any shingle set is built
    val candidateIds = pairs
      .select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // HASHED VERIFY SETS: each candidate doc's shingles as sorted
    // polyHash(shingle) longs — the same 2⁶¹−1 fold the signature
    // kernel and the containment postings use, reproduced fold-for-fold
    // in the oracle's h1 CTE, so intersection counts stay bit-for-bit
    // engine-portable, and the merge walk compares 8-byte longs instead
    // of ~25-byte strings. Cross-shingle hash collisions (P ≈ 2.3e18)
    // would inflate n_inter identically in both engines; the same trade
    // every hashed-key dedup stage accepts. polyHashes maps each
    // shingle to one hash, so each array's size is the doc's shingle
    // count.
    val sets = docsSel
      .join(candidateIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_sort(graft.functions.MinhashHash.polyHashes(shingles(w))).as("set"))
    setJaccard(pairs, sets)
  }

  /** Verified near-dup pairs: LSH candidates whose exact shingle-set
    * Jaccard >= tau.
    */
  def minhashNearDups(
    docs: DataFrame,
    w: Int = 3,
    bands: Int = 16,
    tau: Double = 0.5,
    maxBucketSize: Int = 64
  ): DataFrame =
    minhashJaccard(docs, w, bands, maxBucketSize)
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** The shared pre-τ candidate relation (doc_a, doc_b, jaccard-raw)
    * over [[withPlantedNearDups]] at the registry's fixed mining
    * parameters (w=3, bands=16), one [[Intermediates]] entry per
    * (session, sfDir) that the dedup/graph reports all read. It is
    * pinned with localCheckpoint (truncates lineage; blocks live in the
    * local block manager, MEMORY_AND_DISK). The relation is
    * pair-bounded — candidate-capped by maxBucketSize, orders of
    * magnitude below corpus row count — so pinning it is cheap at any
    * scale; at a real 100 TB run this would be a parquet table written
    * by the mining job, which downstream reports scan.
    */
  def minedJaccardFor(spark: SparkSession, dir: String): DataFrame =
    Intermediates.getOrBuild(spark, "mined_jaccard", Tables.canonDir(dir)) {
      // one scope for the miner's signature pin and the mined pin: the
      // mined pin reads no signatures, so the scope frees them
      Checkpoints.scoped { pins =>
        pins(minhashJaccardIn(pins, withPlantedNearDups(Tables.documents(spark, dir)), 3, 16, 64))
      }
    }

  /** Verified near-dup pairs (τ = 0.5) from the shared memo — the
    * relation [[dedupClusters]] / [[dedupReport]] / [[dedupMatrix]] /
    * [[trainDedupWeights]] / the graph_* queries consume. Identical to
    * `minhashNearDups(withPlantedNearDups(documents), w=3, tau=0.5)`
    * (the τ filter and rounding are applied on top of the memoized
    * pre-τ relation), so every oracle keeps inlining the CTE chain.
    */
  def minedPairsFor(spark: SparkSession, dir: String): DataFrame =
    minedJaccardFor(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** LSH index-tuning calibration: the theoretical banding S-curve
    * P(candidate | j) = 1 − (1 − j^r)^b for the configured (b, r)
    * against the EMPIRICAL similarity histogram of the candidates the
    * index actually surfaced — the report that says whether the band
    * threshold sits where the τ cut needs it (Mining of Massive
    * Datasets §3.4's curve, computed instead of eyeballed).
    *
    * Scale shape: the mining pipeline is the existing bucketed miner;
    * the histogram is ONE pair-scale partial agg to 20 bins; the grid
    * and theory curve are a 20-row generated relation.
    */
  def lshTuningCurve(docs: DataFrame, w: Int = 3, bands: Int = 16): DataFrame =
    lshTuningCurveFrom(minhashJaccard(docs, w, bands), bands)

  /** [[lshTuningCurve]] over a pre-mined candidate relation (doc_a,
    * doc_b, jaccard) — the entry point the memoized registry query
    * uses so the calibration report reads the shared mined relation
    * instead of re-running the miner.
    */
  def lshTuningCurveFrom(jac: DataFrame, bands: Int = 16): DataFrame = {
    val r = MinhashSeeds / bands
    val emp = jac
      .select(floor(col("jaccard") / 0.05).cast("long").as("bin"), col("jaccard"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_cand_pairs"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_verified")
      )
    val jMid = col("bin") / 20.0 + 0.025
    jac.sparkSession
      .range(0, 20)
      .select(col("id").as("bin"))
      .join(emp, Seq("bin"), "left")
      .select(
        col("bin"),
        round(col("bin") / 20.0, 3).as("j_lo"),
        round(lit(1.0) - pow(lit(1.0) - pow(jMid, r.toDouble), bands.toDouble), 6).as("p_theory"),
        coalesce(col("n_cand_pairs"), lit(0L)).as("n_cand_pairs"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified")
      )
  }

  def dedupTuning(spark: SparkSession, dir: String): DataFrame =
    lshTuningCurveFrom(minedJaccardFor(spark, dir))
      .orderBy(col("bin"))

  /** Tuning oracle: the shared pipeline's pre-τ jac relation binned
    * identically, the same POWER chain rounded to 6. Lazy:
    * MinhashPipelineCtes is declared further down the file.
    */
  lazy val dedupTuningSql: String =
    s"""WITH $MinhashPipelineCtes,
       |emp AS (
       |  SELECT CAST(FLOOR(j / 0.05) AS BIGINT) AS bin, COUNT(*) AS n_cand_pairs,
       |    CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
       |  FROM jac GROUP BY 1),
       |grid AS (SELECT CAST(UNNEST(range(0, 20)) AS BIGINT) AS bin)
       |SELECT g.bin, ROUND(g.bin / 20.0, 3) AS j_lo,
       |  ROUND(1.0 - POWER(1.0 - POWER(g.bin / 20.0 + 0.025, ${MinhashSeeds / 16}), 16), 6) AS p_theory,
       |  COALESCE(e.n_cand_pairs, 0) AS n_cand_pairs,
       |  COALESCE(e.n_verified, 0) AS n_verified
       |FROM grid g LEFT JOIN emp e ON e.bin = g.bin
       |ORDER BY g.bin""".stripMargin

  /** Per-document duplicated-SPAN statistics (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * substring-level signal document-level dedup misses): for every
    * document, the fraction of its distinct word w-grams that appear
    * in at least one OTHER document. Boilerplate headers, license
    * blocks and templated text score high even when no whole document
    * duplicates.
    *
    * Scale shape: one gram-keyed partial-agg shuffle counts documents
    * per gram; the gram→count join is keyed identically (exchange
    * reuse / co-partition); the per-doc rollup is one doc-keyed
    * partial agg. Nothing is ever collected, no bucket materializes
    * as a row. At 100 TB the exchange key compresses to the 8-byte
    * polynomial gram hash (MinhashHash.polyHash — collision odds
    * ~n²/2⁶¹) with the string dropped after hashing; the string key
    * here keeps the oracle exact.
    */
  def spanDupStats(docs: DataFrame, w: Int = 5): DataFrame = {
    val grams = docs.select(col("doc_id"), explode(shingles(w)).as("gram"))
    val counts = grams.groupBy(col("gram")).agg(count(lit(1)).as("__nd"))
    grams
      .join(counts, "gram")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_dup_grams")
      )
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_dup_grams"),
        round(col("n_dup_grams").cast("double") / col("n_grams"), 6).as("dup_frac")
      )
  }

  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    spanDupStats(withPlantedNearDups(Tables.documents(spark, dir)))

  /** Distinct word-5-gram sets per doc (the minhash shingle shape at
    * w=5), doc counts per gram, per-doc dup fraction. Lazy:
    * PlantedCorpusSql is declared further down the file.
    */
  lazy val dedupSpansSql: String =
    s"""WITH $PlantedCorpusSql,
       |normed AS (
       |  SELECT doc_id, LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS nm FROM corpus),
       |words AS (SELECT doc_id, string_split(nm, ' ') AS ws FROM normed),
       |shpos AS (
       |  SELECT doc_id, ws, UNNEST(range(1, GREATEST(len(ws) - 4, 1) + 1)) AS i FROM words),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(ws) >= 5 THEN array_to_string(ws[i:i+4], ' ')
       |         ELSE array_to_string(ws, ' ') END AS gram
       |  FROM shpos),
       |cnt AS (SELECT gram, COUNT(*) AS nd FROM sh GROUP BY gram)
       |SELECT s.doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |  ROUND(CAST(SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_frac
       |FROM sh s JOIN cnt c USING (gram)
       |GROUP BY s.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Passage-grain exact dedup (the "passage/tile" pass production
    * pipelines run BETWEEN document-level and span-level dedup — e.g.
    * Lee et al. 2022 §3's ExactSubstr operates on substrings; the tile
    * variant here cuts each document into fixed non-overlapping w-word
    * tiles and removes every tile whose exact content already occurred
    * earlier in the corpus, keeping the first occurrence by
    * (doc_id, tile_idx)): per document, how many tiles it has, how many
    * are duplicated anywhere, how many the keep-first pass would REMOVE,
    * and the surviving fraction — the removal budget a passage-dedup
    * run reports before rewriting the corpus.
    *
    * Scale shape: tiles hash map-side to the 60-bit md5 prefix — the
    * ONLY shuffle key is that 8-byte hash carrying (doc_id, tile_idx);
    * tile text never crosses an exchange. The keeper per hash is one
    * key-grain agg (lexicographic min struct — deterministic in both
    * engines); the join back is on the same key (co-keyed exchange);
    * the per-doc rollup is algebraic. Nothing is collected; no bucket
    * materializes as a list.
    */
  def passageDedup(docs: DataFrame, w: Int = 20): DataFrame = {
    val tiles = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr(WordsSql).as("__ws"))
      // local invariant: __nt >= 1 below must not depend on split("")
      // returning [""] — an empty word array would make sequence(0,
      // __nt - 1) = sequence(0, -1) emit [0, -1] (descending default
      // step) and create phantom tiles
      .filter(size(col("__ws")) > 0)
      .withColumn("__nt", ceil(size(col("__ws")).cast("double") / w).cast("long"))
      .withColumn("tile_idx", explode(sequence(lit(0L), col("__nt") - 1L)))
      .withColumn(
        "__tile",
        array_join(slice(col("__ws"), (col("tile_idx") * w + 1).cast("int"), lit(w)), " ")
      )
      .select(col("doc_id"), col("tile_idx"), expr(md5Prefix60Sql("__tile")).as("__h"))
    val keepers = tiles
      .groupBy(col("__h"))
      .agg(
        count(lit(1)).as("__n"),
        min(struct(col("doc_id"), col("tile_idx"))).as("__keep")
      )
    // both join sides are TILE grain (corpus-cardinality rows × the
    // key-grain keeper relation) — merge-hinted so toy-scale stats
    // never plan either as a broadcast; the identical __h key
    // co-partitions the exchange pair
    tiles
      .join(keepers.hint("merge"), "__h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tiles"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_tiles"),
        sum(
          when(
            col("__keep.doc_id") === col("doc_id") &&
              col("__keep.tile_idx") === col("tile_idx"),
            0L
          ).otherwise(1L)
        ).as("n_removed")
      )
      .select(
        col("doc_id"),
        col("n_tiles"),
        col("n_dup_tiles"),
        col("n_removed"),
        round(lit(1.0) - col("n_removed").cast("double") / col("n_tiles"), 6).as("keep_frac")
      )
  }

  def dedupPassage(spark: SparkSession, dir: String): DataFrame =
    passageDedup(withPlantedNearDups(Tables.documents(spark, dir)))

  /** Passage oracle: identical tiling (DuckDB's clamping list slice ≡
    * Spark's clamping `slice`), the shared 60-bit md5-prefix key, and a
    * lexicographic MIN over the (doc_id, tile_idx) ROW — DuckDB orders
    * structs lexicographically, matching Spark's struct ordering.
    */
  lazy val dedupPassageSql: String =
    s"""WITH $PlantedCorpusSql,
       |ws AS (
       |  SELECT doc_id, string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ') AS w
       |  FROM corpus WHERE text IS NOT NULL),
       |tiles AS (
       |  SELECT doc_id, i AS tile_idx,
       |    ${md5Prefix60Duck("array_to_string(w[(CAST(i AS BIGINT)*20+1):(CAST(i AS BIGINT)*20+20)], ' ')")} AS h
       |  FROM ws, UNNEST(range(0, CAST(CEIL(len(w) / 20.0) AS BIGINT))) AS t(i)),
       |keepers AS (
       |  SELECT h, COUNT(*) AS n, MIN(ROW(doc_id, tile_idx)) AS keep
       |  FROM tiles GROUP BY h)
       |SELECT t.doc_id, COUNT(*) AS n_tiles,
       |  CAST(SUM(CASE WHEN k.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tiles,
       |  CAST(SUM(CASE WHEN k.keep = ROW(t.doc_id, t.tile_idx) THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       |  ROUND(1.0 - CAST(SUM(CASE WHEN k.keep = ROW(t.doc_id, t.tile_idx) THEN 0 ELSE 1 END) AS DOUBLE)
       |    / COUNT(*), 6) AS keep_frac
       |FROM tiles t JOIN keepers k USING (h)
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** ExactSubstr span dedup proper (Lee et al. 2022 §4): the maximal
    * substrings of ≥ w tokens that occur MORE THAN ONCE anywhere in the
    * corpus, reported as per-document (start, end) token spans — the
    * pass that removes a license header mid-document where document-
    * and tile-grain dedup both miss it (dedup_passage is the
    * fixed-tile approximation; this is the sliding-window real thing).
    * The published algorithm sorts a suffix array; the equivalent
    * Spark-native shape is the SLIDING w-gram form: a span of L ≥ w
    * tokens is duplicated iff all of its L − w + 1 covering w-windows
    * are duplicated, so duplicated maximal spans = run-length-merged
    * runs of duplicated window starts. No suffix array, no driver
    * state — a sorted gram stream with boundary stitching per doc.
    *
    * Scale shape: windows hash map-side to the 60-bit md5 prefix (the
    * dedup_passage discipline — window text never crosses an
    * exchange); ONE key-grain counted agg gates to the ≥2-occurrence
    * hashes; the join back is co-keyed on the same 8-byte hash;
    * the run-length merge is a per-doc window function over the
    * DUPLICATED starts only — a doc-length-bounded reduced grid, never
    * corpus-wide. Output integers only, so nothing rounds.
    */
  def exactSubstrSpans(docs: DataFrame, w: Int = 30): DataFrame = {
    val wins = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr(WordsSql).as("__ws"))
      .filter(size(col("__ws")) >= w)
      .withColumn("i", explode(sequence(lit(1L), size(col("__ws")).cast("long") - (w - 1))))
      .select(
        col("doc_id"),
        col("i"),
        expr(md5Prefix60Sql(s"array_join(slice(__ws, cast(i as int), $w), ' ')")).as("__h")
      )
    val dupKeys = wins
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("__h"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("i"))
    wins
      .join(dupKeys.hint("merge"), "__h")
      .select(col("doc_id"), col("i"))
      .withColumn(
        "__new",
        // sentinel -1000000: any real first i (≥ 1) exceeds it + w, so
        // the first duplicated start always opens an island (and no
        // Long.MinValue + w overflow)
        when(col("i") > coalesce(lag(col("i"), 1).over(byDoc), lit(-1000000L)) + w, 1L)
          .otherwise(0L)
      )
      .withColumn("__island", sum(col("__new")).over(byDoc))
      .groupBy(col("doc_id"), col("__island"))
      .agg(
        min(col("i")).as("span_start"),
        (max(col("i")) + (w - 1)).as("span_end"),
        count(lit(1)).as("n_windows")
      )
      .select(
        col("doc_id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows")
      )
  }

  def dedupSubstr(spark: SparkSession, dir: String): DataFrame =
    exactSubstrSpans(withPlantedNearDups(Tables.documents(spark, dir)))

  /** The sliding-window span chain (words → hashed windows → counted
    * gate → LAG/SUM islands) as shared oracle CTEs over the planted
    * corpus — consumed by dedupSubstrSql and dedupSubstrImpactSql so
    * the span grammar exists in exactly one place (the
    * MinhashPipelineCtes discipline).
    */
  private lazy val ExactSubstrSpanCtes: String =
    s"""ws AS (
       |  SELECT doc_id, string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ') AS w
       |  FROM corpus WHERE text IS NOT NULL),
       |wins AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS i,
       |    ${md5Prefix60Duck("array_to_string(w[CAST(i AS INT):CAST(i AS INT) + 29], ' ')")} AS h
       |  FROM ws, UNNEST(range(1, len(w) - 28)) AS t(i)
       |  WHERE len(w) >= 30),
       |dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
       |d AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i > COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i),
       |                           -1000000) + 30 THEN 1 ELSE 0 END AS nw
       |  FROM wins JOIN dup USING (h)),
       |isl AS (
       |  SELECT doc_id, i,
       |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY i
       |                  ROWS UNBOUNDED PRECEDING) AS island
       |  FROM d)""".stripMargin

  /** ExactSubstr oracle: identical sliding windows over the planted
    * corpus, the shared 60-bit hash, the same counted gate and the
    * same LAG/SUM island grammar.
    */
  lazy val dedupSubstrSql: String =
    s"""WITH $PlantedCorpusSql,
       |$ExactSubstrSpanCtes
       |SELECT doc_id,
       |  MIN(i) AS span_start,
       |  MAX(i) + 29 AS span_end,
       |  MAX(i) + 29 - MIN(i) + 1 AS span_tokens,
       |  COUNT(*) AS n_windows
       |FROM isl
       |GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** The ExactSubstr removal budget in ONE row — what a pipeline reads
    * before deciding to run the span rewrite: how many documents carry
    * any duplicated ≥w-token span, how many tokens those spans cover,
    * and the corpus-wide duplicated-token fraction. The per-span
    * detail is [[exactSubstrSpans]]; this is its algebraic rollup plus
    * the corpus token denominator.
    *
    * Scale shape: the span relation is already doc-bounded; the
    * denominator is ONE corpus-scan partial sum of per-doc word
    * counts; the final row is two 1-row aggregates cross-joined
    * (broadcast). Integer sums; the fraction is HALF_UP integer micro
    * division.
    */
  def exactSubstrImpact(docs: DataFrame, w: Int = 30): DataFrame = {
    val spans = exactSubstrSpans(docs, w)
      .agg(
        countDistinct(col("doc_id")).as("docs_with_dups"),
        count(lit(1)).as("n_spans"),
        coalesce(sum(col("span_tokens")), lit(0L)).as("dup_tokens"),
        coalesce(max(col("span_tokens")), lit(0L)).as("max_span_tokens")
      )
    val tok = docs
      .filter(col("text").isNotNull)
      .select(size(expr(WordsSql)).cast("long").as("__n"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("total_tokens"))
    tok
      .crossJoin(broadcast(spans))
      .select(
        col("n_docs"),
        col("total_tokens"),
        col("docs_with_dups"),
        col("n_spans"),
        col("dup_tokens"),
        col("max_span_tokens"),
        // numerator through DECIMAL(38,0): dup_tokens is corpus-grain, so
        // dup_tokens·2e6 wraps signed 64-bit past ~4.6e12 tokens — well
        // inside the 100-TB envelope (DuckDB's HUGEINT sum is already wide)
        expr(
          "CASE WHEN total_tokens <= 0 THEN 0.0 ELSE CAST((CAST(dup_tokens AS DECIMAL(38,0)) * 2000000 + total_tokens) DIV (total_tokens * 2) AS DOUBLE) / 1000000.0 END"
        ).as("dup_token_frac")
      )
  }

  def dedupSubstrImpact(spark: SparkSession, dir: String): DataFrame =
    exactSubstrImpact(withPlantedNearDups(Tables.documents(spark, dir)))

  /** Impact oracle: the span chain verbatim, rolled to one row beside
    * the corpus token denominator.
    */
  lazy val dedupSubstrImpactSql: String =
    s"""WITH $PlantedCorpusSql,
       |$ExactSubstrSpanCtes,
       |spans AS (
       |  SELECT doc_id, MAX(i) + 29 - MIN(i) + 1 AS span_tokens
       |  FROM isl GROUP BY doc_id, island),
       |sp AS (
       |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_with_dups,
       |    CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(COALESCE(SUM(span_tokens), 0) AS BIGINT) AS dup_tokens,
       |    CAST(COALESCE(MAX(span_tokens), 0) AS BIGINT) AS max_span_tokens
       |  FROM spans),
       |tok AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(w)) AS BIGINT) AS total_tokens
       |  FROM ws)
       |SELECT n_docs, total_tokens, docs_with_dups, n_spans, dup_tokens,
       |  max_span_tokens,
       |  CASE WHEN total_tokens <= 0 THEN 0.0
       |       ELSE CAST((CAST(dup_tokens AS HUGEINT) * 2000000 + total_tokens)
       |         // (total_tokens * 2) AS DOUBLE) / 1000000.0 END AS dup_token_frac
       |FROM tok CROSS JOIN sp""".stripMargin

  /** Boilerplate gram report: the actual REPEATED WORD SPANS across the
    * corpus (license headers, templates, navigation chrome), ranked by
    * how many documents carry them — the strings a cleaning pass would
    * strip, where dedup_spans only scores how contaminated each doc is.
    *
    * Scale shape: distinct per-doc w-grams explode map-side (the
    * dedup_spans kernel), ONE gram-keyed partial agg to document
    * frequencies, then a TakeOrderedAndProject top-k with the rank
    * window over the limited rows; n_docs is a 1-row broadcast.
    */
  def boilerplateReport(docs: DataFrame, w: Int = 5, minDf: Int = 2, k: Int = 25): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(shingles(w)).as("gram"))
    val nDocs = docs.agg(count(lit(1)).as("__nd"))
    val dfc = sh
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val top = dfc.orderBy(col("df").desc, col("gram")).limit(k)
    val byDf = org.apache.spark.sql.expressions.Window.orderBy(col("df").desc, col("gram"))
    top
      .withColumn("rank", row_number().over(byDf).cast("long"))
      .crossJoin(broadcast(nDocs))
      .select(
        col("rank"),
        col("gram"),
        col("df"),
        round(col("df").cast("double") / col("__nd"), 6).as("doc_frac")
      )
  }

  def corpusBoilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateReport(Tables.documents(spark, dir)).orderBy(col("rank"))

  /** Cross-source shingle overlap: for every source pair, the Jaccard
    * and containment of their distinct word-5-gram vocabularies — the
    * "how much of source B is already in source A" report that decides
    * whether ingesting a new crawl slice adds anything (the
    * source-grain complement of [[crossSourceDups]]' doc-grain
    * contamination check: wholesale near-copy mirrors show up here
    * even when no single document matches exactly).
    *
    * Scale shape: the corpus reduces map-side to distinct (source,
    * gram) — one gram+source-keyed partial dedup; the pair counts are
    * a gram-keyed co-join whose per-gram fan is bounded by S² (S =
    * number of sources, a catalog constant); per-source vocabulary
    * sizes are S-row aggregates (legitimate broadcasts). Pair grain
    * everywhere after the join — nothing at corpus row grain moves.
    */
  def sourceOverlap(docs: DataFrame, w: Int = 5): DataFrame = {
    val sh = docs
      .select(col("source"), explode(shingles(w)).as("gram"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val a = sh.select(col("source").as("src_a"), col("gram"))
    val b = sh.select(col("source").as("src_b"), col("gram"))
    a.join(b, Seq("gram"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("src_a"), col("__n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("__n").as("n_b")), "src_b")
      .select(
        col("src_a"),
        col("src_b"),
        col("n_a"),
        col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")), 6)
          .as("jaccard"),
        round(col("n_common").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("containment")
      )
  }

  def corpusOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables.documents(spark, dir)).orderBy(col("src_a"), col("src_b"))

  /** Overlap oracle: the dedup_spans shingle CTEs at source grain. */
  val corpusOverlapSql: String =
    """WITH normed AS (
      |  SELECT source, LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))) AS nm
      |  FROM documents WHERE text IS NOT NULL),
      |words AS (SELECT source, string_split(nm, ' ') AS ws FROM normed),
      |shpos AS (
      |  SELECT source, ws, UNNEST(range(1, GREATEST(len(ws) - 4, 1) + 1)) AS i FROM words),
      |sh AS (
      |  SELECT DISTINCT source,
      |    CASE WHEN len(ws) >= 5 THEN array_to_string(ws[i:i+4], ' ')
      |         ELSE array_to_string(ws, ' ') END AS gram
      |  FROM shpos),
      |sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON b.gram = a.gram AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT i.src_a, i.src_b,
      |  sa.n AS n_a, sb.n AS n_b, i.n_common,
      |  ROUND(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard,
      |  ROUND(CAST(i.n_common AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
      |FROM inter i
      |JOIN sizes sa ON sa.source = i.src_a
      |JOIN sizes sb ON sb.source = i.src_b
      |ORDER BY i.src_a, i.src_b""".stripMargin

  /** Per-source duplication impact: how many documents and tokens each
    * source LOSES to exact dedup (survivor = min doc_id per content
    * group) — the budget view of dedup next to [[dedupReport]]'s global
    * histogram and trainDedupWeights' per-cluster weights: "which
    * source is actually paying for the cleaning".
    *
    * Scale shape: the corpus reduces map-side to (8-byte md5-prefix
    * key, source, token count); the survivor relation is one key-grain
    * agg; the join back is on the same 8-byte key (one co-keyed
    * exchange — the document text never moves); the source rollup is
    * algebraic.
    */
  def dedupImpact(docs: DataFrame): DataFrame = {
    val keyed = docs.select(
      col("doc_id"),
      col("source"),
      expr(md5Prefix60Sql(NormSql)).as("__h"),
      expr(s"cast(size(split($NormSql, ' ')) as bigint)").as("__nw")
    )
    val surv = keyed.groupBy(col("__h")).agg(min(col("doc_id")).as("__surv"))
    keyed
      .join(surv, Seq("__h"))
      .withColumn("__dup", col("doc_id") =!= col("__surv"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("__dup"), lit(1))).as("n_dups"),
        sum(col("__nw")).as("total_tokens"),
        coalesce(sum(when(col("__dup"), col("__nw"))), lit(0L)).as("dup_tokens")
      )
      .select(
        col("source"),
        col("n_docs"),
        col("n_dups"),
        col("total_tokens"),
        col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6).as("dup_token_frac")
      )
  }

  /** The fixed query plants the same mirror copies dedupCrossSource
    * uses (doc_id % 7 → exact copy under 'planted-mirror') so impact
    * is non-zero at every scale factor.
    */
  def dedupImpactQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val planted = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(2L * plantOffset(docs))).as("doc_id"), col("text"), lit("planted-mirror").as("source"))
    dedupImpact(docs.unionByName(planted)).orderBy(col("source"))
  }

  /** Impact oracle: identical hash groups over the same planted-mirror
    * corpus, the same min-survivor and token arithmetic.
    */
  val dedupImpactSql: String = {
    val norm = "LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))"
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2 * $PlantOffDuck, 'planted-mirror', text FROM documents WHERE doc_id % 7 = 0),
       |d AS (
       |  SELECT doc_id, source,
       |    ${md5Prefix60Duck(norm)} AS h,
       |    CAST(len(string_split($norm, ' ')) AS BIGINT) AS nw
       |  FROM corpus),
       |s AS (SELECT h, MIN(doc_id) AS surv FROM d GROUP BY h),
       |j AS (SELECT d.source, d.nw, d.doc_id <> s.surv AS dup FROM d JOIN s ON s.h = d.h)
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(CASE WHEN dup THEN 1 END) AS n_dups,
       |  CAST(SUM(nw) AS BIGINT) AS total_tokens,
       |  COALESCE(CAST(SUM(CASE WHEN dup THEN nw END) AS BIGINT), 0) AS dup_tokens,
       |  ROUND(CAST(COALESCE(CAST(SUM(CASE WHEN dup THEN nw END) AS BIGINT), 0) AS DOUBLE)
       |        / CAST(SUM(nw) AS BIGINT), 6) AS dup_token_frac
       |FROM j GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Boilerplate oracle: the dedup_spans distinct-gram CTE shape over
    * the RAW corpus, df cut, identical (df desc, gram) rank.
    */
  val corpusBoilerplateSql: String =
    """WITH normed AS (
      |  SELECT doc_id, LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))) AS nm FROM documents),
      |words AS (SELECT doc_id, string_split(nm, ' ') AS ws FROM normed),
      |shpos AS (
      |  SELECT doc_id, ws, UNNEST(range(1, GREATEST(len(ws) - 4, 1) + 1)) AS i FROM words),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(ws) >= 5 THEN array_to_string(ws[i:i+4], ' ')
      |         ELSE array_to_string(ws, ' ') END AS gram
      |  FROM shpos),
      |nd AS (SELECT COUNT(*) AS n FROM documents),
      |dfc AS (SELECT gram, COUNT(*) AS df FROM sh GROUP BY gram HAVING COUNT(*) >= 2),
      |top AS (SELECT gram, df FROM dfc ORDER BY df DESC, gram LIMIT 25)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY df DESC, gram) AS BIGINT) AS rank,
      |  gram, df, ROUND(CAST(df AS DOUBLE) / nd.n, 6) AS doc_frac
      |FROM top CROSS JOIN nd
      |ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // Cluster formation / survivor selection
  // ---------------------------------------------------------------------

  /** Group verified near-dup PAIRS into connected components — the step
    * a real training-data dedup runs after pair mining: pairs (a,b),
    * (b,c) form one cluster {a,b,c}; keep the min doc_id, drop the
    * rest.
    *
    * Shortcut label propagation (Stergiou et al., "Shortcutting Label
    * Propagation for Distributed Connected Components", WSDM 2018) over
    * the edge set EXTENDED WITH SELF-LOOPS. Round 0 is one aggregation,
    * label(u) = min of u's closed neighborhood (labels start as the ids
    * themselves, so no initialization join). Every later round is the
    * min-label step plus one pointer jump against the previous round's
    * labels:
    *
    *  - hop(u) = min over v in N(u) ∪ {u} of label(v) (one join on v +
    *    one partial-aggregated groupBy on u; the self-loop keeps the
    *    node's own label in the min);
    *  - label'(u) = label(hop(u)) (one join on the node id).
    *
    * Plain min-label needs O(diameter) rounds; the jump lets a node
    * adopt the label its best neighbor's label already points at, so
    * on a path the distance a label has travelled grows as 2d + 1 per
    * round and a path of n nodes settles in O(log n) rounds (a 1000-deep
    * chain settles in round 9 and round 10 witnesses it). Each step is a
    * join or a groupBy on a node id, so no component ever has to fit in
    * one task.
    *
    * Exact fixpoint witness: label(v) ≤ v for every node, so
    * label'(u) = label(hop(u)) ≤ hop(u) ≤ label(u) and labels never
    * increase. An unchanged exact decimal label sum therefore means
    * every label is unchanged. At that fixpoint hop(u) = label(u) for
    * every u, so neighbors share a label, and since a label is a member
    * id no larger than any member it is the component minimum. The sum
    * rides the action that pins the round (an `Observation` on the
    * top-level pinned Dataset), so each round is one pinned relation;
    * a missing metric throws instead of reading as converged. Rounds
    * past maxIter throw: unconverged labels are wrong labels.
    *
    * Output: (node, cluster) for every doc appearing in a pair, with
    * cluster = the component's minimum doc_id. A self-pair (a, a) makes
    * a a node, so a doc seen only paired with itself is a singleton.
    */
  def connectedComponents(pairsIn: DataFrame, maxIter: Int = 25): DataFrame =
    Checkpoints.scoped { pins =>
      // both orientations plus one self-loop per end of each pair, in
      // one pass over the pairs ((u,u) appears deg(u) times; duplicates
      // do not change a min). Pinned, so each round plans against
      // (LogicalRDD join LogicalRDD) instead of re-optimizing the
      // whole mining pipeline under every round.
      def edge(u: String, v: String) = struct(col(u).as("u"), col(v).as("v"))
      val edges = pins(
        pairsIn.select(
          inline(array(edge("doc_a", "doc_b"), edge("doc_b", "doc_a"), edge("doc_a", "doc_a"), edge("doc_b", "doc_b")))
        )
      )
      // Empty input sums to SQL NULL — normalize to zero so an empty
      // pair set converges after one round.
      def checkpointWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
        val obs = org.apache.spark.sql.Observation()
        val ck = pins(
          df.observe(obs, sum(col("cluster").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
        )
        val s = obs.get("s").asInstanceOf[java.math.BigDecimal]
        (ck, if (s == null) java.math.BigDecimal.ZERO else s)
      }
      var (labels, prevSum) = checkpointWithSum(
        edges
          .groupBy(col("u").as("node"))
          .agg(min(col("v")).as("cluster"))
      )
      var iter = 1
      var converged = false
      while (!converged && iter < maxIter) {
        // both joins read labels through the same projection, so the
        // jump reuses the exchange (broadcast or shuffle) of the first
        val byV = labels.select(col("node").as("v"), col("cluster"))
        val (updated, s) = checkpointWithSum(
          edges
            .join(byV, "v")
            .groupBy(col("u").as("node"))
            .agg(min(col("cluster")).as("v")) // hop(u)
            .join(byV, "v") // label(hop(u))
            .select(col("node"), col("cluster"))
        )
        converged = s.compareTo(prevSum) == 0
        labels = pins.replace(labels, updated)
        prevSum = s
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(s"connectedComponents did not converge within $maxIter rounds")
      labels
    }

  /** Components + survivor flag: survivor = the cluster's min doc_id. */
  def clustersWithSurvivors(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .select(
        col("node").as("doc_id"),
        col("cluster"),
        (col("node") === col("cluster")).as("survivor")
      )

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash per doc as a pure MAP-SIDE projection — no
    * shuffle: a doc's signature is a function of its own word multiset,
    * so the SimhashSignature kernel accumulates the 64 ±1 bit votes in
    * one pass over the words array instead of exploding words to rows
    * and re-voting through a groupBy (the previous shape). The word
    * bits are two 32-bit md5 limbs — a hash BOTH engines derive
    * identically from the hex digest (`CAST('0x'||substr(md5(w),p,8)
    * AS BIGINT)` in DuckDB), which is what makes the whole pipeline
    * oracle-checkable end to end. Null text drops out, as exploding
    * a null array always did.
    */
  def simhashSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.SimhashSig.signature(expr(WordsSql)).as("sig"))
      .filter(col("sig").isNotNull)

  /** SimHash near-dup pairs: band the 64-bit signature into four 16-bit
    * chunks (any-equal-chunk ⇒ candidate; by pigeonhole this catches all
    * pairs with hamming distance <= 3), then verify
    * bit_count(xor) <= maxHamming.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3, maxBucketSize: Int = 256): DataFrame =
    Checkpoints.scoped { pins =>
      // one row per doc, re-read by every bucket-shape branch below —
      // pin the signatures, not the docs×bands bucket rows
      val signed = pins(simhashSignatures(docs))
      val chunks = (0 until 4).map(b => shiftright(col("sig"), b * 16).bitwiseAND(65535))
      // same counted-bucket shape as lshCandidates: no bucket is ever one
      // row — count, drop inadmissible, left-semi, self-join on bucket key
      val bucketRows = signed
        .select(col("doc_id"), col("sig"), posexplode(array(chunks: _*)).as(Seq("band", "chunk")))
      val admissible = bucketRows
        .groupBy(col("band"), col("chunk"))
        .agg(count(lit(1)).as("sz"))
        .filter(col("sz") > 1 && col("sz") <= maxBucketSize)
        .select(col("band"), col("chunk"))
      val member = bucketRows.join(admissible, Seq("band", "chunk"), "left_semi")
      member
        .select(col("band"), col("chunk"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
        .join(
          member.select(col("band"), col("chunk"), col("doc_id").as("doc_b"), col("sig").as("sig_b")),
          Seq("band", "chunk")
        )
        .filter(col("doc_a") < col("doc_b"))
        .select(
          col("doc_a"),
          col("doc_b"),
          // long, not int: the DuckDB oracle's SUM yields int64
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming")
        )
        .distinct()
        .filter(col("hamming") <= maxHamming)
    }

  // ---------------------------------------------------------------------
  // Character n-gram Jaccard (exact verify path)
  // ---------------------------------------------------------------------

  /** Exact char n-gram Jaccard for a given candidate-pair table
    * (doc_a, doc_b) — the precise verify path applied after any
    * blocking strategy.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3): DataFrame = {
    // only docs that appear in a candidate pair need their grams —
    // a semi-join before the gram sets skips the (usually much larger)
    // rest of the corpus entirely
    val candidateIds = pairs
      .select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val sets = docs
      .join(candidateIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_sort(charNgrams(n)).as("set"))
    setJaccard(pairs, sets)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------------
  // Embedding-cosine near-dup
  // ---------------------------------------------------------------------

  /** Pairs of embeddings with cosine similarity >= tau. Norms are
    * precomputed per row before the pair join; the pairwise dot product
    * is the custom codegen'd VecDot kernel on the raw float32 arrays
    * (float→double widening is exact, so results match a
    * cast-to-double oracle bit-for-bit). This is the O(n²) exact path —
    * `Similarity.annLsh` is the blocked variant for scale.
    */
  def embedNearDups(emb: DataFrame, tau: Double): DataFrame = {
    import graft.functions.VectorMath
    val prepped = emb
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", VectorMath.norm(col("v")))
    val a = prepped.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = prepped.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VectorMath.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** The 100 TB path for embedding near-dup mining: random-hyperplane
    * blocking instead of the all-pairs product. Each vector lands in
    * one sign-pattern bucket; candidate pairs are same-bucket pairs
    * plus 1-bit-probe pairs (catching near-dups straddling one
    * hyperplane), and only candidates pay the exact-cosine verify.
    * Expected verify cost ≈ n²·(probes+1)/2^planes instead of n²/2 —
    * planes tunes the trade between recall and candidate volume.
    * Same counted-bucket discipline as the text LSH: mega-buckets are
    * dropped by cap before any pair is formed.
    */
  def embedNearDupsBlocked(
    emb: DataFrame,
    tau: Double,
    planes: Int = 8,
    maxBucketSize: Int = 4096
  ): DataFrame =
    blockedPairs(emb, tau, planes, _ => lit(planes), maxBucketSize)

  /** Count-adaptive blocking: the fixed-planes variant keeps bucket
    * COUNT constant, so a 4× corpus quadruples bucket occupancy and
    * the verify stage pays 16× — the round-13 scale rehearsal measured
    * the blocked path LOSING to the exact baseline at sf1.0 for
    * exactly this reason. Here the bucket-bit count derives from the
    * corpus count through a pure-integer threshold ladder (bits =
    * minPlanes + |{k : n > targetOcc·2^k}|, identical arithmetic in
    * the DuckDB oracle — no float log2 to diverge), which pins
    * EXPECTED OCCUPANCY at ~targetOcc for any corpus size: verify cost
    * stays n·targetOcc·(bits+1)/2 instead of n²/2^planes. At the
    * driver SFs: 500 vecs → 2 bits, 2000 → 4 (bit-identical to the
    * previous fixed-4 behavior at the bench SF), 8000 → 6.
    */
  def embedNearDupsBlockedAdaptive(
    emb: DataFrame,
    tau: Double,
    targetOcc: Int = 128,
    minPlanes: Int = 2,
    maxPlanes: Int = 12,
    maxBucketSize: Int = 4096
  ): DataFrame = {
    val bitsFor = (n: Column) =>
      (minPlanes until maxPlanes)
        .map(k => when(n > lit(targetOcc.toLong << k), 1).otherwise(0))
        .reduce(_ + _) + lit(minPlanes)
    blockedPairs(emb, tau, maxPlanes, bitsFor, maxBucketSize)
  }

  /** Pure mirror of the adaptive bits ladder (same expression the
    * engine evaluates as a Column and the oracle inlines as CASE
    * terms) — exists so specs can pin the ladder's values without
    * running a plan.
    */
  def adaptiveBits(
    n: Long,
    targetOcc: Int = 128,
    minPlanes: Int = 2,
    maxPlanes: Int = 12
  ): Int =
    minPlanes + (minPlanes until maxPlanes).count(k => n > (targetOcc.toLong << k))

  /** Shared blocked near-dup core. `bitsFor` maps the corpus count to
    * the number of LOW hyperplane bits actually used for bucketing
    * (≤ maxPlanes; the full maxPlanes-bit signature is computed once
    * per row and masked): the 1-row bits relation broadcasts, so the
    * only corpus-scale exchanges remain the (bucket, id) hash joins.
    */
  private def blockedPairs(
    emb: DataFrame,
    tau: Double,
    maxPlanes: Int,
    bitsFor: Column => Column,
    maxBucketSize: Int
  ): DataFrame = Checkpoints.scoped { pins =>
    import graft.functions.VectorMath
    val hp = Similarity.hyperplanes(maxPlanes, 64)
    val raw = emb
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", VectorMath.norm(col("v")))
      .withColumn("bf", Similarity.hyperplaneBucket(col("v"), hp))
    val cfg = raw.agg(bitsFor(count(lit(1))).cast("int").as("bits"))
    // five reads (probes, sizes, home buckets, two verify sides): one pin
    val prepped = pins(
      raw
        .crossJoin(broadcast(cfg))
        .withColumn("b0", expr("bf & (shiftleft(CAST(1 AS BIGINT), bits) - 1)"))
    )
    // probe buckets: own bucket + each 1-bit flip of the USED bits;
    // for a pair straddling one hyperplane, EACH side's flipped probe
    // lands in the other's home bucket, so the pair survives as long
    // as either home bucket is admissible
    val probed = prepped.select(
      col("vec_id"),
      col("v"),
      col("nrm"),
      col("b0"),
      explode(expr(
        "concat(array(b0), transform(sequence(0, bits - 1), " +
          "p -> b0 ^ shiftleft(CAST(1 AS BIGINT), p)))")).as("bucket")
    )
    val admissible = prepped
      .groupBy(col("b0").as("bucket"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= maxBucketSize)
      .select(col("bucket"))
    // left side probes, right side sits in its exact bucket; the
    // bucket join shuffles only (bucket, id) rows — vectors rejoin
    // AFTER the id-pair distinct so symmetric probe hits are deduped
    // on 16 bytes, not on embedding arrays. Pairs are canonicalized
    // with least/greatest AFTER the join (not pre-filtered by id
    // order): a straddling pair meets in BOTH flipped-bucket
    // orientations, and when one side's home bucket is over the cap
    // the surviving orientation may carry the ids in either order
    val lhs = probed
      .select(col("bucket"), col("vec_id").as("id_l"))
      .join(admissible, Seq("bucket"), "left_semi")
    val rhs = prepped
      .select(col("b0").as("bucket"), col("vec_id").as("id_r"))
      .join(admissible, Seq("bucket"), "left_semi")
    val cand = lhs
      .join(rhs, Seq("bucket"))
      .filter(col("id_l") =!= col("id_r"))
      .select(least(col("id_l"), col("id_r")).as("id_a"), greatest(col("id_l"), col("id_r")).as("id_b"))
      .distinct()
    cand
      .join(prepped.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(prepped.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("cosine", VectorMath.cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  // ---------------------------------------------------------------------
  // Fixed driver queries
  // ---------------------------------------------------------------------

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir))

  val dedupExactSql: String =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))
      |ORDER BY doc_id""".stripMargin

  def dedupExactHash(spark: SparkSession, dir: String): DataFrame =
    exactByHash(Tables.documents(spark, dir))

  val dedupExactHashSql: String =
    s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
       |FROM (
       |  SELECT doc_id,
       |    ${md5Prefix60Duck("LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))")} AS h
       |  FROM documents) t
       |GROUP BY h
       |ORDER BY doc_id""".stripMargin

  /** The synthetic corpus has no real near-dups, so the fixed minhash /
    * simhash / ngram queries plant them deterministically from the data
    * itself: for doc_id % 10 == 0 a copy with the first 2 words dropped
    * is added as doc_id + 1000000. The operators must recover those
    * pairs (covered precisely in DedupSpec; rows>0 for the driver).
    */
  private[graft] def withPlantedNearDups(docs: DataFrame): DataFrame = {
    val planted = docs
      .filter(col("doc_id") % 10 === 0)
      .select(
        (col("doc_id") + lit(plantOffset(docs))).as("doc_id"),
        expr("concat_ws(' ', slice(split(text, ' '), 3, size(split(text, ' '))))").as("text")
      )
    docs.select(col("doc_id"), col("text")).unionByName(planted)
  }

  /** The fixed query plants guaranteed cross-source duplicates from
    * the data itself (for doc_id % 7 == 0 an exact copy under source
    * 'planted-mirror' is added as doc_id + 2000000) so the query has
    * rows at every scale factor. The operator reports ALL spanning
    * groups — planted mirrors plus any naturally-occurring cross-source
    * duplicates (sf0.1 ships 8 such groups); that is its purpose, and
    * the oracle mirrors the same corpus.
    */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val planted = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(2L * plantOffset(docs))).as("doc_id"), col("text"), lit("planted-mirror").as("source"))
    crossSourceExactDups(docs.unionByName(planted))
  }

  val dedupCrossSourceSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2 * $PlantOffDuck AS doc_id, text, 'planted-mirror' AS source
      |  FROM documents WHERE doc_id % 7 = 0)
      |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM corpus
      |GROUP BY LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))
      |HAVING COUNT(DISTINCT source) > 1
      |ORDER BY doc_id""".stripMargin

  /** Fixed Bloom-prefilter query: incoming = verbatim mirrors of the
    * doc_id % 7 == 0 slice (true members) plus tail-perturbed copies of
    * the % 7 == 1 slice (guaranteed non-members) — so both the prune
    * path and the verify path are exercised at every scale factor.
    */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val off = plantOffset(docs)
    val incoming = docs
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(3L * off)).as("doc_id"), col("text"))
      .unionByName(
        docs
          .filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + lit(4L * off)).as("doc_id"), concat(col("text"), lit(" zz")).as("text"))
      )
    bloomCrossDups(docs, incoming)
  }

  /** Bloom oracle: the exact membership semi join — the sketch is a
    * pure prefilter, so it must be invisible in the result.
    */
  val dedupBloomSql: String =
    s"""WITH inc AS (
      |  SELECT doc_id + 3 * $PlantOffDuck AS doc_id, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 4 * $PlantOffDuck AS doc_id, text || ' zz' AS text FROM documents WHERE doc_id % 7 = 1),
      |an AS (
      |  SELECT DISTINCT LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS nm
      |  FROM documents WHERE text IS NOT NULL),
      |bn AS (
      |  SELECT doc_id, LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS nm
      |  FROM inc WHERE text IS NOT NULL)
      |SELECT b.doc_id FROM bn b WHERE b.nm IN (SELECT nm FROM an)
      |ORDER BY doc_id""".stripMargin

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashNearDups(withPlantedNearDups(Tables.documents(spark, dir)), w = 3, tau = 0.5)

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashNearDups(withPlantedNearDups(Tables.documents(spark, dir)), maxHamming = 3)

  /** The planted corpus as a DuckDB CTE — mirror of withPlantedNearDups. */
  private[operators] val PlantedCorpusSql: String =
    s"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $PlantOffDuck AS doc_id,
      |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
      |  FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Full-pipeline MinHash oracle: word shingles → polynomial base hash
    * h1 mod 2⁶¹−1 (list_reduce in HUGEINT) → derived h2 = (A·h1+B) mod
    * P (A/B inlined literals from MinhashHash) → 64 two-hash seed
    * minima MIN((h1 + s·h2) mod P) → 16 packed band keys (polynomial
    * fold of each band's 4 values mod P, the same fold
    * MinhashHash.bandPack runs) → bucket cap → candidate pairs → exact
    * Jaccard ≥ τ. Every stage mirrors minhashNearDups exactly,
    * including the packing, so bucket equality is bit-for-bit
    * identical across engines.
    */
  private val MinhashPipelineCtes: String = {
    import graft.functions.{MinhashHash, Winnow}
    s"""$PlantedCorpusSql,
       |normed AS (
       |  SELECT doc_id, LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS nm FROM corpus),
       |words AS (SELECT doc_id, string_split(nm, ' ') AS ws FROM normed),
       |shpos AS (
       |  SELECT doc_id, ws, UNNEST(range(1, GREATEST(len(ws) - 2, 1) + 1)) AS i FROM words),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(ws) >= 3 THEN array_to_string(ws[i:i+2], ' ')
       |         ELSE array_to_string(ws, ' ') END AS shingle
       |  FROM shpos),
       |h1 AS (
       |  SELECT doc_id, shingle,
       |    CASE WHEN LENGTH(shingle) = 0 THEN CAST(0 AS HUGEINT)
       |         ELSE list_reduce(
       |           list_transform(range(1, LENGTH(shingle) + 1),
       |                          j -> CAST(unicode(substr(shingle, CAST(j AS INT), 1)) AS HUGEINT)),
       |           (h, c) -> (h * ${Winnow.Base} + c) % ${Winnow.P}) END AS h1
       |  FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |h2 AS (
       |  SELECT doc_id, h1,
       |    (CAST(${MinhashHash.deriveA} AS HUGEINT) * h1 + ${MinhashHash.deriveB})
       |      % ${Winnow.P} AS h2
       |  FROM h1),
       |mins AS (
       |  SELECT doc_id, seeds.s AS s, MIN((h1 + seeds.s * h2) % ${Winnow.P}) AS mh
       |  FROM h2 CROSS JOIN (SELECT UNNEST(range(0, ${MinhashHash.Seeds})) AS s) seeds
       |  GROUP BY doc_id, seeds.s),
       |bandkeys AS (
       |  SELECT doc_id, s // 4 AS band,
       |    CAST(list_reduce(list(mh ORDER BY s),
       |                     (h, x) -> (h * ${Winnow.Base} + x) % ${Winnow.P}) AS BIGINT) AS bk
       |  FROM mins GROUP BY doc_id, s // 4),
       |admissible AS (
       |  SELECT band, bk FROM bandkeys GROUP BY band, bk
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= 64),
       |member AS (
       |  SELECT m.doc_id, m.band, m.bk FROM bandkeys m
       |  JOIN admissible a ON m.band = a.band AND m.bk = a.bk),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM member x JOIN member y ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |inter AS (
       |  -- the engine's hashed verify keys: intersection counted on
       |  -- h1 = polyHash(shingle) exactly as minhashJaccard joins on
       |  -- the 8-byte hash (h1 rows are 1:1 with sh rows, so the
       |  -- count is the same multiset intersection in both engines)
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
       |  FROM cand c
       |  JOIN h1 a ON a.doc_id = c.doc_a
       |  JOIN h1 b ON b.doc_id = c.doc_b AND b.h1 = a.h1
       |  GROUP BY c.doc_a, c.doc_b),
       |jac AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CASE WHEN sa.n + sb.n - COALESCE(i.n_inter, 0) > 0
       |      THEN CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
       |        (sa.n + sb.n - COALESCE(i.n_inter, 0))
       |      ELSE 1.0 END AS j
       |  FROM cand c
       |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b)""".stripMargin
  }

  val dedupMinhashSql: String =
    s"""WITH $MinhashPipelineCtes
       |SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard FROM jac
       |WHERE j >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clustersWithSurvivors(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** Cluster-size histogram + singleton row from a corpus and its
    * cluster labels — the run report every dedup job publishes: how
    * many clusters of each size, how many documents they cover, and
    * how many rows deletion removes (size − 1 per cluster). Row
    * cluster_size = 1 counts documents in NO cluster, so n_docs sums
    * to the corpus and Σ n_removed / corpus = the dedup ratio.
    *
    * Scale shape: two tiny aggregations over the label relation
    * (cluster-count rows, then size-count rows) plus two 1-row count
    * aggregates broadcast-crossed for the singleton row — nothing
    * here is larger than the cluster count.
    */
  private[graft] def sizeReport(corpus: DataFrame, labels: DataFrame): DataFrame = {
    val hist = labels
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_removed")
      )
      .select(col("sz").as("cluster_size"), col("n_clusters"), col("n_docs"), col("n_removed"))
    val singles = corpus
      .agg(count(lit(1)).as("total"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("clustered"))))
      .select(
        lit(1L).as("cluster_size"),
        (col("total") - col("clustered")).as("n_clusters"),
        (col("total") - col("clustered")).as("n_docs"),
        lit(0L).as("n_removed")
      )
    hist.unionByName(singles)
  }

  /** The [[dedupClusters]] pipeline summarized by [[sizeReport]]. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedNearDups(Tables.documents(spark, dir))
    sizeReport(
      corpus,
      clustersWithSurvivors(
        minedPairsFor(spark, dir).select(col("doc_a"), col("doc_b"))
      )
    ).orderBy(col("cluster_size"))
  }

  /** Dedup-aware sampling weights: every document gets weight
    * 1/|its near-dup cluster| (singletons weight 1), so a training
    * sampler that draws by weight sees each CONTENT once regardless
    * of how many copies the crawl collected — the soft alternative to
    * hard deletion (duplicates still contribute, their mass split
    * among the copies).
    *
    * Scale shape: the mined label relation aggregates to cluster sizes
    * at cluster cardinality and joins back onto labels keyed by
    * cluster; the labeled relation then joins the corpus id stream
    * with a doc_id-keyed shuffle equi-join (merge-hinted — labels is
    * bounded by 2·pairs, a corpus FRACTION at a crawl-scale corpus
    * where 30-50% of documents are near-dups, so it is NOT
    * broadcastable at the design point). The corpus side is already
    * reduced to bare 8-byte ids, so the shuffle is as cheap as a
    * shuffle gets.
    */
  def trainDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedNearDups(Tables.documents(spark, dir)).select(col("doc_id"))
    val labels = clustersWithSurvivors(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    ).select(col("doc_id"), col("cluster"))
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    corpus
      .join(labels.join(sizes, "cluster").hint("merge"), Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("cluster_size"), lit(1L)), 9).as("weight")
      )
  }

  /** Report oracle: the dedup_clusters transitive closure aggregated
    * to (size → clusters/docs/removed) plus the corpus-minus-clustered
    * singleton row; sums cast back to BIGINT (DuckDB SUM widens to
    * HUGEINT).
    */
  val dedupReportSql: String =
    s"""WITH RECURSIVE $MinhashPipelineCtes,
       |vpairs AS (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |cedges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM vpairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM vpairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM cedges) n
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN cedges e ON e.u = r.v),
       |labels AS (SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u),
       |hist AS (
       |  SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
       |    CAST(SUM(sz) AS BIGINT) AS n_docs,
       |    CAST(SUM(sz - 1) AS BIGINT) AS n_removed
       |  FROM (SELECT cluster, COUNT(*) AS sz FROM labels GROUP BY cluster) c
       |  GROUP BY sz),
       |tot AS (SELECT COUNT(*) AS total FROM corpus),
       |ctot AS (SELECT COUNT(*) AS clustered FROM labels)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS cluster_size, total - clustered AS n_clusters,
       |    total - clustered AS n_docs, CAST(0 AS BIGINT) AS n_removed
       |  FROM tot, ctot
       |  UNION ALL
       |  SELECT cluster_size, n_clusters, n_docs, n_removed FROM hist) r
       |ORDER BY cluster_size""".stripMargin

  /** Source×source near-dup contamination matrix: verified near-dup
    * pairs rolled up by the UNORDERED source pair of their endpoints —
    * the "which sources mirror which" audit a curation pipeline runs
    * before deciding per-source sampling weights (a source whose
    * near-dups all point at one other source is a scrape/mirror, not
    * independent coverage). n_pairs counts verified pairs, n_docs the
    * distinct documents those pairs touch.
    *
    * Scale shape: the corpus map-side-reduces to (doc_id, source) — an
    * 8-byte id plus a dictionary-encoded source string — and BOTH pair
    * endpoints resolve with co-keyed shuffle equi-joins at pair grain
    * (merge-hinted so neither side is ever planned as a broadcast: the
    * source map is corpus-cardinality and the mined pair list is only
    * candidate-capped, and neither is guaranteed driver-size at a
    * crawl-scale corpus). The rollups then run at source² cardinality.
    */
  def sourceMatrix(docSources: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docSources.select(col("doc_id"), col("source"))
    val labeled = pairs
      .select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("__sa")).hint("merge"), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("__sb")).hint("merge"), Seq("doc_b"))
      .select(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("doc_a"),
        col("doc_b")
      )
    val np = labeled.groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("n_pairs"))
    val nd = labeled
      .select(col("source_a"), col("source_b"), explode(array(col("doc_a"), col("doc_b"))).as("__d"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(countDistinct(col("__d")).as("n_docs"))
    np.join(nd, Seq("source_a", "source_b"))
  }

  /** Fixed matrix query over the SAME planted corpus + mined pairs the
    * other minhash queries share; planted docs carry source
    * 'planted-mirror' so cross-source cells exist at every SF.
    */
  def dedupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = minedPairsFor(spark, dir).select(col("doc_a"), col("doc_b"))
    val srcs = docs
      .select(col("doc_id"), col("source"))
      .unionByName(
        docs
          .filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(plantOffset(docs))).as("doc_id"), lit("planted-mirror").as("source"))
      )
    sourceMatrix(srcs, pairs).orderBy(col("source_a"), col("source_b"))
  }

  val dedupMatrixSql: String =
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |srcs AS (
       |  SELECT doc_id, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + $PlantOffDuck AS doc_id, 'planted-mirror' AS source
       |  FROM documents WHERE doc_id % 10 = 0),
       |lab AS (
       |  SELECT LEAST(sa.source, sb.source) AS source_a,
       |    GREATEST(sa.source, sb.source) AS source_b, v.doc_a, v.doc_b
       |  FROM vpairs v
       |  JOIN srcs sa ON v.doc_a = sa.doc_id
       |  JOIN srcs sb ON v.doc_b = sb.doc_id),
       |np AS (SELECT source_a, source_b, COUNT(*) AS n_pairs FROM lab GROUP BY 1, 2),
       |nd AS (
       |  SELECT source_a, source_b, COUNT(DISTINCT d) AS n_docs FROM (
       |    SELECT source_a, source_b, doc_a AS d FROM lab
       |    UNION ALL
       |    SELECT source_a, source_b, doc_b AS d FROM lab) u
       |  GROUP BY 1, 2)
       |SELECT np.source_a, np.source_b, np.n_pairs, nd.n_docs
       |FROM np JOIN nd USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // PageRank over the near-dup graph
  // ---------------------------------------------------------------------

  /** PageRank over the undirected verified near-dup graph — the
    * centrality that ranks which documents sit at the CORE of a
    * duplication neighborhood (canonical sources, heavily-mirrored
    * templates) versus its fringe; a curation pipeline uses it to pick
    * cluster representatives and to audit scraper amplification.
    * Fixed `iters` power iterations of `r' = (1−d)/N + d·Σ r(u)/deg(u)`
    * over in-neighbors; every node has deg ≥ 1 by construction (nodes
    * exist only via pairs), so there is no dangling mass.
    *
    * Scale shape: the rank relation is node-cardinality, keyed by id.
    * Degrees are folded into the edge relation ONCE and the result is
    * hash-partitioned on src before pinning, so each iteration is
    * exactly one join in which ONLY the rank relation moves (the
    * weighted-edge side reuses its partitioning) plus one dst-keyed
    * partial agg — the standard Pregel-style iteration expressed
    * relationally, at one shuffle of node-scale data per round.
    * Rounds ride localCheckpoint(eager) in a [[Checkpoints.scoped]]
    * pin set, exactly like [[connectedComponents]], so lineage stays
    * flat and superseded rounds free their blocks.
    *
    * Portability: contributions divide identical doubles by identical
    * integer degrees; each round's sum routes through DECIMAL(27,10)
    * (order-independent); the damping constants are literal 0.85/0.15
    * on both engines, so the whole trajectory is bit-identical and the
    * DuckDB oracle simply unrolls the same `iters` rounds as CTEs.
    */
  def pageRank(pairsIn: DataFrame, iters: Int = 8, damping: Double = 0.85): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    val dec = org.apache.spark.sql.types.DecimalType(27, 10)
    val edges = pairsIn
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairsIn.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    Checkpoints.scoped { pins =>
      // degree folded into the edges once, partitioned on the join key —
      // and LOCALLY CHECKPOINTED, not merely persisted: a persist leaves
      // the mining pipeline's full logical plan under every round, and
      // Catalyst re-analyzes/re-optimizes that whole tree for each
      // round's new QueryExecution (measured: ~3 s of DRIVER time per
      // round against ~0.02 s of executor time — the loop was
      // planner-bound, not data-bound). The checkpoint truncates the
      // tree to a LogicalRDD, so every round's plan is iteration-sized.
      val wedges = pins(edges.join(deg, "src").repartition(col("src")))
      val nodes = pins(wedges.select(col("src").as("node"), col("deg")).distinct())
      val n = nodes.count() // node count: one metadata-scale job
      val nD = n.toDouble
      val reset = 1.0 - damping
      var ranks = pins(nodes.select(col("node"), (lit(1.0) / lit(nD)).as("r")))
      var i = 0
      while (i < iters) {
        ranks = pins.replace(
          ranks,
          wedges
            .join(ranks.select(col("node").as("src"), col("r")), "src")
            .select(col("dst"), (col("r") / col("deg")).as("c"))
            .groupBy(col("dst").as("node"))
            .agg((lit(reset) / lit(nD) + lit(damping) * sum(col("c").cast(dec)).cast("double")).as("r"))
        )
        i += 1
      }
      // the result reads the nodes pin and the last round's ranks: the
      // scope keeps those two and frees wedges and every earlier round.
      // Local-checkpoint blocks are stored MEMORY_AND_DISK, so under
      // memory pressure they spill to disk; they are never dropped and
      // recomputed.
      ranks
        .join(nodes.select(col("node"), col("deg").as("n_links")), "node")
        .select(col("node").as("doc_id"), col("n_links"), round(col("r"), 6).as("pagerank"))
    }
  }

  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    pageRank(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** PageRank oracle: the minhash pair pipeline feeds the identical
    * power iteration, unrolled as one CTE per round — every round's
    * DECIMAL-routed sum makes the whole trajectory bit-identical.
    */
  val graphPagerankSql: String = {
    val iters = 8
    val iterCtes = (1 to iters)
      .map { i =>
        s"""r$i AS (
           |  SELECT e.dst AS node,
           |    0.15 / CAST(nn.n AS DOUBLE) +
           |    0.85 * CAST(SUM(CAST(r.r / d.deg AS DECIMAL(27,10))) AS DOUBLE) AS r
           |  FROM edges e
           |  JOIN deg d ON d.src = e.src
           |  JOIN r${i - 1} r ON r.node = e.src
           |  CROSS JOIN nn
           |  GROUP BY e.dst, nn.n)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM vpairs),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg),
       |r0 AS (SELECT src AS node, 1.0 / CAST(nn.n AS DOUBLE) AS r FROM deg CROSS JOIN nn),
       |$iterCtes
       |SELECT r.node AS doc_id, d.deg AS n_links, ROUND(r.r, 6) AS pagerank
       |FROM r$iters r JOIN deg d ON d.src = r.node
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected pair graph (canonical doc_a < doc_b edges) — the
    * near-dup-graph density diagnostic: high clustering says the mined
    * pairs form tight template families (safe to collapse to one
    * survivor), low clustering with high degree says chains of
    * borderline matches are bridging unrelated documents (lower the
    * band threshold before collapsing).
    *
    * Scale shape: triangles enumerate via the ordered wedge join
    * (a<b<c), so each triangle materializes exactly once; both joins
    * key on node ids over the POST-MINING pair relation — already
    * bucket-capped and orders of magnitude below corpus scale. At the
    * 100 TB design point the wedge side would additionally be oriented
    * low-degree→high-degree (the compact-forward bound of
    * Latapy 2008, Theory Comp. Sci. 407) — id order stands in here to
    * keep the relational oracle exact.
    */
  def triangleStats(pairsIn: DataFrame): DataFrame = {
    // eager localCheckpoint, not persist: the mining pipeline feeding
    // this is re-referenced four times (e1/e2/e3/deg) and a persist
    // would leave its full logical plan under each — the checkpoint
    // truncates to a LogicalRDD so the wedge joins plan at pair scale
    val pairs = pairsIn
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint(true)
    val wedges = pairs
      .as("e1")
      .join(pairs.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val tri = wedges.join(
      pairs.as("e3"),
      col("a") === col("e3.u") && col("c") === col("e3.v")
    )
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__nt"))
    val deg = pairs
      .select(col("u").as("doc_id"))
      .union(pairs.select(col("v").as("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("degree"))
    deg
      .join(perNode, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("degree"),
        coalesce(col("__nt"), lit(0L)).as("n_triangles"),
        round(
          when(
            col("degree") > 1,
            coalesce(col("__nt"), lit(0L)).cast("double") * 2.0 /
              (col("degree").cast("double") * (col("degree") - lit(1L)).cast("double"))
          ).otherwise(lit(0.0)),
          6
        ).as("clustering")
      )
  }

  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleStats(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** Triangle oracle: the shared minhash pair pipeline feeding the
    * identical ordered wedge join and degree rollup.
    */
  val graphTrianglesSql: String =
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM vpairs e1
       |  JOIN vpairs e2 ON e2.doc_a = e1.doc_b
       |  JOIN vpairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       |pern AS (
       |  SELECT u.n AS doc_id, COUNT(*) AS nt
       |  FROM tri t, UNNEST([t.a, t.b, t.c]) AS u(n)
       |  GROUP BY 1),
       |deg AS (
       |  SELECT n AS doc_id, COUNT(*) AS degree FROM (
       |    SELECT doc_a AS n FROM vpairs UNION ALL SELECT doc_b AS n FROM vpairs) e
       |  GROUP BY 1)
       |SELECT d.doc_id, d.degree,
       |  CAST(COALESCE(p.nt, 0) AS BIGINT) AS n_triangles,
       |  ROUND(CASE WHEN d.degree > 1
       |        THEN CAST(COALESCE(p.nt, 0) AS DOUBLE) * 2.0 /
       |             (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE))
       |        ELSE 0.0 END, 6) AS clustering
       |FROM deg d LEFT JOIN pern p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Synchronous label propagation communities over the mined pair
    * graph (Raghavan et al. 2007) — the density-based community view
    * that complements the connectivity view of [[dedup_clusters]]:
    * connected components merge template families bridged by ONE
    * borderline pair; LPA's majority vote keeps loosely-bridged dense
    * families apart, which is the granularity a curation pass
    * deduplicates at. Fixed `rounds` SYNCHRONOUS updates (label_0 =
    * own id; label_{r+1} = most frequent neighbor label, ties to the
    * smallest label) — fully deterministic, no RNG, so the whole
    * trajectory is oracle-reproducible round for round.
    *
    * Scale shape: each round is one edges⋈labels join co-keyed on the
    * node id plus a (node, label)-grain count and a WindowGroupLimit
    * argmax — all at POST-MINING pair scale (bucket-capped, orders
    * below corpus), labels eagerly checkpointed per round so the plan
    * stays flat (the pageRank discipline). Integer-only: no float
    * portability surface at all.
    */
  def labelPropagation(pairsIn: DataFrame, rounds: Int = 4): DataFrame =
    Checkpoints.scoped { pins =>
      val pairs = pins(pairsIn.select(col("doc_a").as("u"), col("doc_b").as("v")))
      val edges = pins(pairs.union(pairs.select(col("v").as("u"), col("u").as("v"))))
      var labels = pins(
        edges
          .select(col("u").as("node"))
          .distinct()
          .withColumn("lbl", col("node"))
      )
      for (_ <- 1 to rounds) {
        labels = pins.replace(
          labels,
          edges
            .join(labels.select(col("node").as("__v2"), col("lbl")), col("v") === col("__v2"))
            .groupBy(col("u"), col("lbl"))
            .agg(count(lit(1)).as("__c"))
            .withColumn(
              "__rn",
              row_number().over(
                Window.partitionBy(col("u")).orderBy(col("__c").desc, col("lbl"))
              )
            )
            .filter(col("__rn") === 1)
            .select(col("u").as("node"), col("lbl"))
        )
      }
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
      labels
        .join(sizes, Seq("lbl"))
        .select(col("node").as("doc_id"), col("lbl").as("community"), col("community_size"))
    }

  def graphCommunities(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** LPA oracle: the shared minhash pair pipeline feeding the
    * identical synchronous rounds, unrolled one CTE per round with the
    * same (count desc, label asc) argmax — integer-exact throughout.
    */
  val graphCommunitiesSql: String = {
    val rounds = 4
    val iterCtes = (1 to rounds)
      .map { i =>
        s"""l$i AS (
           |  SELECT u AS node, lbl FROM (
           |    SELECT e.u, p.lbl, COUNT(*) AS c,
           |      ROW_NUMBER() OVER (PARTITION BY e.u
           |                         ORDER BY COUNT(*) DESC, p.lbl) AS rn
           |    FROM cedges e JOIN l${i - 1} p ON p.node = e.v
           |    GROUP BY e.u, p.lbl) t
           |  WHERE rn = 1)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |cedges AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM vpairs
       |  UNION ALL
       |  SELECT doc_b AS u, doc_a AS v FROM vpairs),
       |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM cedges),
       |$iterCtes,
       |csizes AS (SELECT lbl, COUNT(*) AS community_size FROM l$rounds GROUP BY lbl)
       |SELECT l.node AS doc_id, l.lbl AS community, s.community_size
       |FROM l$rounds l JOIN csizes s ON s.lbl = l.lbl
       |ORDER BY doc_id""".stripMargin
  }

  /** Degree assortativity of the near-dup graph (Newman 2002, Phys.
    * Rev. Lett. 89): the Pearson correlation of the degrees at the two
    * ends of an edge, over BOTH orientations of each undirected edge
    * (the standard symmetric treatment — Σx = Σy, so one moment set
    * serves both axes). r → 1 means hubs pair with hubs (one template
    * family snowballing), r → −1 means hubs pair with leaves (a few
    * canonical documents each matched by many one-off variants) — the
    * structural triage beside [[triangleStats]]' density view that
    * tells a curator whether collapsing clusters keeps or destroys
    * the long tail.
    *
    * Scale shape: degrees are one node-grain agg over the POST-MINING
    * pair relation (bucket-capped, orders below corpus scale); the
    * two degree attachments key on node ids; ONE final partial agg of
    * DECIMAL moments reduces everything to a single row. Portability:
    * degrees are exact longs, moments route through DECIMAL(38,10) in
    * pinned order, r divides rounded-9 covariance by rounded-9
    * variance and rounds at 6; a degree-regular graph (variance 0)
    * yields NULL.
    */
  def degreeAssortativity(pairsIn: DataFrame): DataFrame = {
    val dec3810 = org.apache.spark.sql.types.DecimalType(38, 10)
    val pairs = pairsIn
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint(true)
    val edges = pairs.union(pairs.select(col("v").as("u"), col("u").as("v")))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val ends = edges
      .join(deg.select(col("u"), col("deg").as("__dx")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("deg").as("__dy")), Seq("v"))
    val mean = col("__sx").cast("double") / col("m_directed")
    val varx = col("__sxx").cast("double") / col("m_directed") - mean * mean
    val cov = col("__sxy").cast("double") / col("m_directed") - mean * mean
    ends
      .agg(
        count(lit(1)).as("m_directed"),
        sum(col("__dx").cast(dec3810)).as("__sx"),
        sum((col("__dx") * col("__dx")).cast(dec3810)).as("__sxx"),
        sum((col("__dx") * col("__dy")).cast(dec3810)).as("__sxy")
      )
      .select(
        expr("m_directed div 2").as("n_edges"),
        round(mean, 6).as("mean_degree"),
        round(cov, 9).as("__cov"),
        round(varx, 9).as("__var")
      )
      .select(
        col("n_edges"),
        col("mean_degree"),
        when(col("__var") > 0.0, round(col("__cov") / col("__var"), 6)).as("assortativity")
      )
  }

  def graphAssortativity(spark: SparkSession, dir: String): DataFrame =
    degreeAssortativity(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** Assortativity oracle: the shared minhash pair pipeline feeding
    * the identical both-orientations moment aggregation.
    */
  val graphAssortativitySql: String =
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |aedges AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM vpairs
       |  UNION ALL
       |  SELECT doc_b AS u, doc_a AS v FROM vpairs),
       |adeg AS (SELECT u, COUNT(*) AS deg FROM aedges GROUP BY u),
       |ends AS (
       |  SELECT dx.deg AS dxv, dy.deg AS dyv
       |  FROM aedges e
       |  JOIN adeg dx ON dx.u = e.u
       |  JOIN adeg dy ON dy.u = e.v),
       |mo AS (
       |  SELECT COUNT(*) AS m_directed,
       |    CAST(SUM(CAST(dxv AS DECIMAL(38,10))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(dxv * dxv AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(dxv * dyv AS DECIMAL(38,10))) AS DOUBLE) AS sxy
       |  FROM ends),
       |f AS (
       |  SELECT m_directed // 2 AS n_edges,
       |    ROUND(sx / m_directed, 6) AS mean_degree,
       |    ROUND(sxy / m_directed - (sx / m_directed) * (sx / m_directed), 9) AS cov,
       |    ROUND(sxx / m_directed - (sx / m_directed) * (sx / m_directed), 9) AS var
       |  FROM mo)
       |SELECT n_edges, mean_degree,
       |  CASE WHEN var > 0.0 THEN ROUND(cov / var, 6) END AS assortativity
       |FROM f""".stripMargin

  /** Coreness of every node in the near-dup graph by the iterated
    * h-index fixpoint (Lü, Chen, Ren, Zhou, Zhang & Stanley, Nature
    * Communications 2016: h⁰ = degree; hⁿ⁺¹(u) = H(hⁿ over u's
    * neighbors); hⁿ → coreness) — the density ladder BETWEEN
    * [[triangleStats]]' local view and [[labelPropagation]]'s
    * communities: a node's coreness says how deep it sits inside a
    * template family (coreness 1 = tail variant hanging off the
    * family, ≥ 3 = member of a dense re-crawl clique), which is the
    * signal a curator ranks survivors by before collapsing a cluster.
    * Fixed synchronous `rounds` — deterministic, integer-only,
    * oracle-reproducible round for round; on bucket-capped mined
    * graphs the fixpoint lands in a handful of rounds (monotone
    * non-increasing, bounded below by the true coreness).
    *
    * Scale shape: every round is one edges⋈values join co-keyed on
    * the node id, a per-node window over the NEIGHBOR LIST (bounded by
    * degree, which is bucket-capped post-mining — never corpus-grain),
    * and a per-node max — all at mined-pair scale; values eagerly
    * checkpointed per round (the LPA/pageRank plan-flatness
    * discipline). The h-index itself is max(min(value, rank)) over
    * neighbors sorted by value descending — rank-tie order cannot move
    * it, but the sort still pins a (value desc, v) total order so both
    * engines window identically.
    */
  def kcoreness(pairsIn: DataFrame, rounds: Int = 4): DataFrame =
    Checkpoints.scoped { pins =>
      val pairs = pins(pairsIn.select(col("doc_a").as("u"), col("doc_b").as("v")))
      val edges = pins(pairs.union(pairs.select(col("v").as("u"), col("u").as("v"))))
      val deg = pins(edges.groupBy(col("u")).agg(count(lit(1)).as("deg")))
      var h = deg.select(col("u").as("node"), col("deg").cast("long").as("hv"))
      for (_ <- 1 to rounds) {
        h = pins.replace(
          h,
          edges
            .join(h.select(col("node").as("__v2"), col("hv")), col("v") === col("__v2"))
            .withColumn(
              "__rn",
              row_number().over(
                Window.partitionBy(col("u")).orderBy(col("hv").desc, col("v"))
              )
            )
            .groupBy(col("u"))
            .agg(max(least(col("hv"), col("__rn").cast("long"))).as("hv"))
            .select(col("u").as("node"), col("hv"))
        )
      }
      deg
        .join(h, col("u") === col("node"))
        .select(col("u").as("doc_id"), col("deg").as("degree"), col("hv").as("coreness"))
    }

  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    kcoreness(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** Coreness oracle: the shared minhash pair pipeline feeding the
    * identical synchronous h-index rounds, unrolled one CTE per round
    * with the same (value desc, v) neighbor ranking — integer-exact.
    */
  val graphKcoreSql: String = {
    val rounds = 4
    val iterCtes = (1 to rounds)
      .map { i =>
        s"""kh$i AS (
           |  SELECT u AS node, MAX(LEAST(hv, rn)) AS hv FROM (
           |    SELECT e.u, p.hv,
           |      ROW_NUMBER() OVER (PARTITION BY e.u
           |                         ORDER BY p.hv DESC, e.v) AS rn
           |    FROM kedges e JOIN kh${i - 1} p ON p.node = e.v) t
           |  GROUP BY u)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |kedges AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM vpairs
       |  UNION ALL
       |  SELECT doc_b AS u, doc_a AS v FROM vpairs),
       |kdeg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM kedges GROUP BY u),
       |kh0 AS (SELECT u AS node, deg AS hv FROM kdeg),
       |$iterCtes
       |SELECT d.u AS doc_id, d.deg AS degree, CAST(h.hv AS BIGINT) AS coreness
       |FROM kdeg d JOIN kh$rounds h ON h.node = d.u
       |ORDER BY doc_id""".stripMargin
  }

  /** Sampled closeness centrality over the mined near-dup graph
    * (Eppstein & Wang 2001): BFS from a FIXED pinned source sample
    * (the `nSources` smallest node ids — deterministic, no RNG) gives
    * every node its distance to each reachable source, and
    * closeness(v) ≈ reached(v)/Σ_s d(s,v). The centrality that ranks
    * which template family sits nearest everything else — pagerank
    * weights endorsement, coreness weights density; closeness weights
    * REACH, and the sampled estimator is the published way to get it
    * without APSP.
    *
    * Scale shape: `maxHops` SYNCHRONOUS frontier expansions, each one
    * frontier⋈edges join co-keyed on the node id plus a left-anti
    * visited check against the accumulated distance relation — all at
    * post-mining pair scale with per-round localCheckpoint (the
    * pagerank/LPA loop discipline). Distances beyond `maxHops` count
    * as unreached in BOTH engines (declared estimator cut). Integer
    * arithmetic throughout; the final ratio is a HALF_UP integer
    * micro division (exactly on the 1e-6 grid).
    */
  def sampledCloseness(
    pairsIn: DataFrame,
    nSources: Int = 4,
    maxHops: Int = 6
  ): DataFrame = Checkpoints.scoped { pins =>
    val pairs = pairsIn.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val edges = pins(pairs.unionByName(pairs.select(col("v").as("u"), col("u").as("v"))).distinct())
    val nodes = pins(edges.select(col("u").as("doc_id")).distinct())
    val sources = nodes.orderBy(col("doc_id")).limit(nSources).select(col("doc_id").as("src"))
    var dist = pins(sources.select(col("src"), col("src").as("node"), lit(0L).as("d")))
    var frontier = dist
    for (r <- 1 to maxHops) {
      val nxt = pins(
        frontier
          .join(edges, frontier("node") === edges("u"))
          .select(col("src"), col("v").as("node"))
          .distinct()
          .join(dist.select(col("src"), col("node")), Seq("src", "node"), "left_anti")
          .withColumn("d", lit(r.toLong))
      )
      dist = pins.replace(dist, dist.unionByName(nxt))
      // nxt supersedes the previous frontier (at hop 1 that is the
      // seed round of dist, already freed just above)
      frontier = pins.replace(frontier, nxt)
    }
    val agg = dist
      .filter(col("d") > 0)
      .groupBy(col("node").as("doc_id"))
      .agg(count(lit(1)).as("n_reached"), sum(col("d")).as("sum_dist"))
    nodes
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist")
      )
      .withColumn(
        "closeness",
        expr(
          "CASE WHEN sum_dist <= 0 THEN 0.0 ELSE CAST((n_reached * 2000000 + sum_dist) DIV (sum_dist * 2) AS DOUBLE) / 1000000.0 END"
        )
      )
  }

  def graphCloseness(spark: SparkSession, dir: String): DataFrame =
    sampledCloseness(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** Closeness oracle: the shared minhash pair pipeline feeding the
    * identical pinned-source BFS, unrolled one level CTE per hop with
    * a NOT EXISTS visited check against the cumulative relation —
    * integer-exact, same micro division.
    */
  val graphClosenessSql: String = {
    val hops = 6
    val levelCtes = (1 to hops)
      .map { r =>
        s"""gl$r AS (
           |  SELECT DISTINCT f.src, e.v AS node, CAST($r AS BIGINT) AS d
           |  FROM gl${r - 1} f JOIN gedges e ON e.u = f.node
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM gc${r - 1} x WHERE x.src = f.src AND x.node = e.v)),
           |gc$r AS (SELECT * FROM gc${r - 1} UNION ALL SELECT * FROM gl$r)""".stripMargin
      }
      .mkString(",\n")
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |gedges AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT doc_a AS u, doc_b AS v FROM vpairs
       |    UNION ALL
       |    SELECT doc_b AS u, doc_a AS v FROM vpairs)),
       |gnodes AS (SELECT DISTINCT u AS doc_id FROM gedges),
       |gsrc AS (SELECT doc_id AS src FROM gnodes ORDER BY doc_id LIMIT 4),
       |gl0 AS (SELECT src, src AS node, CAST(0 AS BIGINT) AS d FROM gsrc),
       |gc0 AS (SELECT * FROM gl0),
       |$levelCtes,
       |gagg AS (
       |  SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_reached,
       |    CAST(SUM(d) AS BIGINT) AS sum_dist
       |  FROM gc$hops WHERE d > 0 GROUP BY node)
       |SELECT n.doc_id,
       |  COALESCE(a.n_reached, 0) AS n_reached,
       |  COALESCE(a.sum_dist, 0) AS sum_dist,
       |  CASE WHEN COALESCE(a.sum_dist, 0) <= 0 THEN 0.0
       |       ELSE CAST((COALESCE(a.n_reached, 0) * 2000000 + a.sum_dist)
       |         // (a.sum_dist * 2) AS DOUBLE) / 1000000.0 END AS closeness
       |FROM gnodes n LEFT JOIN gagg a ON a.doc_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Sampled betweenness centrality (Brandes 2001 with the standard
    * source-sampling estimator; Brandes & Pich 2007) over the mined
    * near-dup graph — the "bridge" view the other centralities miss:
    * a node with modest degree and reach can still carry most shortest
    * paths BETWEEN template families, and removing it (the dedup
    * survivor decision) disconnects them. From each of the same 4
    * pinned sources: a forward level-synchronous BFS accumulating
    * shortest-path counts σ, then Brandes' backward dependency pass
    * δ(v) = Σ_w (σᵥ/σ_w)(1+δ_w) over the next level's neighbors;
    * bc(v) = Σ_src δ(v)/2 (undirected halving, source excluded).
    * Paths longer than `maxHops` are cut identically in both engines
    * (declared truncated-BFS estimator).
    *
    * Scale shape: 6 forward rounds (frontier⋈edges, left-anti visited,
    * (src, node)-grain σ partial sum) + 6 backward rounds (level ⋈
    * edges ⋈ next-level δ, (src, node)-grain DECIMAL sum), all at
    * post-mining pair scale with per-round localCheckpoint. σ is
    * integer; each δ term and each level δ round at 9; the final
    * halving runs in INTEGER nano units (the ts_mk sen_slope idiom) so
    * `betweenness` is an integer/1e6 quotient no ROUND can split.
    */
  def sampledBetweenness(
    pairsIn: DataFrame,
    nSources: Int = 4,
    maxHops: Int = 6
  ): DataFrame = Checkpoints.scoped { pins =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 10)
    val pairs = pairsIn.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val edges = pins(pairs.unionByName(pairs.select(col("v").as("u"), col("u").as("v"))).distinct())
    val nodes = pins(edges.select(col("u").as("doc_id")).distinct())
    val sources = nodes.orderBy(col("doc_id")).limit(nSources).select(col("doc_id").as("src"))
    var vis = pins(sources.select(col("src"), col("src").as("node"), lit(0L).as("d"), lit(1L).as("sigma")))
    var frontier = vis
    for (r <- 1 to maxHops) {
      val nxt = pins(
        frontier
          .join(edges, frontier("node") === edges("u"))
          .select(col("src"), col("v").as("node"), col("sigma"))
          .join(vis.select(col("src"), col("node")), Seq("src", "node"), "left_anti")
          .groupBy(col("src"), col("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .withColumn("d", lit(r.toLong))
          .select(col("src"), col("node"), col("d"), col("sigma"))
      )
      vis = pins.replace(vis, vis.unionByName(nxt))
      frontier = pins.replace(frontier, nxt)
    }
    var prevDelta = pins(
      vis
        .filter(col("d") === maxHops)
        .select(col("src"), col("node"), lit(0.0).as("delta"))
    )
    var acc = prevDelta
    for (l <- (maxHops - 1) to 0 by -1) {
      val lvl = vis.filter(col("d") === l).select(col("src"), col("node"), col("sigma"))
      val deeper = vis
        .filter(col("d") === l + 1)
        .select(col("src"), col("node").as("w"), col("sigma").as("sw"))
        .join(
          prevDelta.select(col("src"), col("node").as("w"), col("delta").as("dw")),
          Seq("src", "w")
        )
      val contrib = lvl
        .join(edges, lvl("node") === edges("u"))
        .select(col("src"), col("node"), col("sigma"), col("v").as("w"))
        .join(deeper, Seq("src", "w"))
        .select(
          col("src"),
          col("node"),
          round((col("sigma").cast("double") / col("sw")) * (lit(1.0) + col("dw")), 9).as("term")
        )
        .groupBy(col("src"), col("node"))
        .agg(round(sum(col("term").cast(dec)).cast("double"), 9).as("delta"))
      val dlvl = pins(
        lvl
          .select(col("src"), col("node"))
          .join(contrib, Seq("src", "node"), "left")
          .select(col("src"), col("node"), coalesce(col("delta"), lit(0.0)).as("delta"))
      )
      acc = pins.replace(acc, acc.unionByName(dlvl))
      prevDelta = pins.replace(prevDelta, dlvl)
    }
    val bsum = acc
      .filter(col("node") =!= col("src"))
      .groupBy(col("node").as("doc_id"))
      .agg((sum(col("delta").cast(dec)) * lit(1000000000L)).cast("long").as("__nano"))
    nodes
      .join(bsum, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        expr(
          "CAST((COALESCE(__nano, 0) + 1000) DIV 2000 AS DOUBLE) / 1000000.0"
        ).as("betweenness")
      )
  }

  def graphBetweenness(spark: SparkSession, dir: String): DataFrame =
    sampledBetweenness(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** Betweenness oracle: the shared minhash pair pipeline feeding the
    * identical pinned-source forward BFS (unrolled level CTEs carrying
    * σ partial sums) and the identical unrolled backward dependency
    * levels, with the same round-9 terms, DECIMAL sums and integer
    * nano halving.
    */
  val graphBetweennessSql: String = {
    val hops = 6
    val fwd = (1 to hops)
      .map { r =>
        s"""bf$r AS (
           |  SELECT f.src, e.v AS node, CAST($r AS BIGINT) AS d,
           |    CAST(SUM(f.sigma) AS BIGINT) AS sigma
           |  FROM bf${r - 1} f JOIN gedges e ON e.u = f.node
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM bcum${r - 1} x WHERE x.src = f.src AND x.node = e.v)
           |  GROUP BY f.src, e.v),
           |bcum$r AS (SELECT * FROM bcum${r - 1} UNION ALL SELECT src, node, d, sigma FROM bf$r)""".stripMargin
      }
      .mkString(",\n")
    val bwd = ((hops - 1) to 0 by -1)
      .map { l =>
        s"""bd$l AS (
           |  SELECT lv.src, lv.node,
           |    COALESCE(ROUND(CAST(SUM(CAST(ROUND(
           |      (CAST(lv.sigma AS DOUBLE) / dp.sigma) * (1.0 + dp.delta), 9)
           |      AS DECIMAL(38,10))) AS DOUBLE), 9), 0.0) AS delta
           |  FROM bf$l lv
           |  LEFT JOIN gedges e ON e.u = lv.node
           |  LEFT JOIN (
           |    SELECT f.src, f.node, f.sigma, dd.delta
           |    FROM bf${l + 1} f JOIN bd${l + 1} dd
           |      ON dd.src = f.src AND dd.node = f.node) dp
           |    ON dp.src = lv.src AND dp.node = e.v
           |  GROUP BY lv.src, lv.node)""".stripMargin
      }
      .mkString(",\n")
    val ball = (0 to hops).map(l => s"SELECT * FROM bd$l").mkString("\n  UNION ALL\n  ")
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |gedges AS MATERIALIZED (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT doc_a AS u, doc_b AS v FROM vpairs
       |    UNION ALL
       |    SELECT doc_b AS u, doc_a AS v FROM vpairs)),
       |gnodes AS (SELECT DISTINCT u AS doc_id FROM gedges),
       |gsrc AS (SELECT doc_id AS src FROM gnodes ORDER BY doc_id LIMIT 4),
       |bf0 AS (SELECT src, src AS node, CAST(0 AS BIGINT) AS d,
       |  CAST(1 AS BIGINT) AS sigma FROM gsrc),
       |bcum0 AS (SELECT * FROM bf0),
       |$fwd,
       |bd$hops AS (SELECT src, node, CAST(0.0 AS DOUBLE) AS delta FROM bf$hops),
       |$bwd,
       |ball AS (
       |  $ball),
       |bsum AS (
       |  SELECT node AS doc_id,
       |    CAST(SUM(CAST(delta AS DECIMAL(38,10))) * 1000000000 AS BIGINT) AS nano
       |  FROM ball WHERE node <> src GROUP BY node)
       |SELECT n.doc_id,
       |  CAST((COALESCE(b.nano, 0) + 1000) // 2000 AS DOUBLE) / 1000000.0 AS betweenness
       |FROM gnodes n LEFT JOIN bsum b ON b.doc_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Cluster oracle: the full minhash pipeline CTEs feed a recursive
    * transitive closure (UNION dedups, so cycles terminate); each
    * node's cluster is the minimum id it can reach, survivor = itself.
    */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE $MinhashPipelineCtes,
       |vpairs AS (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |cedges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM vpairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM vpairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM cedges) n
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN cedges e ON e.u = r.v)
       |SELECT u AS doc_id, MIN(v) AS cluster, u = MIN(v) AS survivor
       |FROM reach GROUP BY u
       |ORDER BY doc_id""".stripMargin

  /** Weight oracle: the clusters oracle's transitive closure feeding a
    * size rollup, left-joined onto the full planted corpus so
    * singletons carry weight 1.
    */
  val trainDedupWeightsSql: String =
    s"""WITH RECURSIVE $MinhashPipelineCtes,
       |vpairs AS (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |cedges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM vpairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM vpairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM cedges) n
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN cedges e ON e.u = r.v),
       |labels AS (SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u),
       |csizes AS (SELECT cluster, COUNT(*) AS cluster_size FROM labels GROUP BY cluster)
       |SELECT c.doc_id,
       |  COALESCE(l.cluster, c.doc_id) AS cluster,
       |  COALESCE(s.cluster_size, 1) AS cluster_size,
       |  ROUND(1.0 / COALESCE(s.cluster_size, 1), 9) AS weight
       |FROM corpus c
       |LEFT JOIN labels l ON l.doc_id = c.doc_id
       |LEFT JOIN csizes s ON s.cluster = l.cluster
       |ORDER BY c.doc_id""".stripMargin

  /** Full-pipeline SimHash oracle: md5-limb word bits → ±1 votes →
    * per-band 16-bit chunks → bucket cap → candidate pairs → hamming.
    * Long format (doc_id, j, bit) instead of a packed 64-bit signature
    * so plain SQL aggregation expresses the fold.
    */
  val dedupSimhashSql: String =
    s"""WITH $PlantedCorpusSql,
       |words AS (
       |  SELECT doc_id,
       |    UNNEST(string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ')) AS word
       |  FROM corpus),
       |hashed AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS htop,
       |    CAST('0x' || substr(md5(word), 9, 8) AS BIGINT) AS hlo
       |  FROM words),
       |votes AS (
       |  SELECT doc_id, js.j AS j,
       |    SUM((CASE WHEN js.j < 32 THEN (hlo >> js.j) & 1 ELSE (htop >> (js.j - 32)) & 1 END) * 2 - 1) AS v
       |  FROM hashed CROSS JOIN (SELECT UNNEST(range(0, 64)) AS j) js
       |  GROUP BY doc_id, js.j),
       |bits AS (SELECT doc_id, j, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
       |chunks AS (
       |  SELECT doc_id, j // 16 AS band, SUM(bit << (j % 16)) AS chunk
       |  FROM bits GROUP BY doc_id, j // 16),
       |admissible AS (
       |  SELECT band, chunk FROM chunks GROUP BY band, chunk
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= 256),
       |member AS (
       |  SELECT c.doc_id, c.band, c.chunk FROM chunks c
       |  JOIN admissible a ON c.band = a.band AND c.chunk = a.chunk),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM member x JOIN member y ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id),
       |ham AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
       |  FROM cand c
       |  JOIN bits ba ON ba.doc_id = c.doc_a
       |  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.j = ba.j
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
    val off = plantOffset(base)
    val docs = withPlantedNearDups(base)
    val pairs = docs
      .filter(col("doc_id") >= lit(off))
      .select((col("doc_id") - lit(off)).as("doc_a"), col("doc_id").as("doc_b"))
    ngramJaccard(docs, pairs, n = 3)
  }

  /** Exact char-3-gram Jaccard oracle over the planted pairs: distinct
    * grams per doc, relational intersection count, |A∪B| by
    * inclusion-exclusion — mirrors charNgrams + setJaccard.
    */
  val dedupNgramSql: String =
    s"""WITH $PlantedCorpusSql,
       |normed AS (
       |  SELECT doc_id, LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS s FROM corpus),
       |idx AS (
       |  SELECT doc_id, s, UNNEST(range(1, GREATEST(LENGTH(s) - 2, 1) + 1)) AS i FROM normed),
       |grams AS (SELECT DISTINCT doc_id, substr(s, i, 3) AS gram FROM idx),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
       |pairs AS (
       |  SELECT doc_id AS doc_a, doc_id + $PlantOffDuck AS doc_b
       |  FROM documents WHERE doc_id % 10 = 0),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
       |  FROM pairs p
       |  JOIN grams ga ON ga.doc_id = p.doc_a
       |  JOIN grams gb ON gb.doc_id = p.doc_b AND gb.gram = ga.gram
       |  GROUP BY p.doc_a, p.doc_b)
       |SELECT p.doc_a, p.doc_b,
       |  ROUND(CASE WHEN sa.n + sb.n - COALESCE(i.n_inter, 0) > 0
       |    THEN CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
       |      (sa.n + sb.n - COALESCE(i.n_inter, 0))
       |    ELSE 1.0 END, 6) AS jaccard
       |FROM pairs p
       |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |JOIN sizes sa ON sa.doc_id = p.doc_a
       |JOIN sizes sb ON sb.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  // ---------------------------------------------------------------------
  // Containment (asymmetric) near-dup
  // ---------------------------------------------------------------------

  /** Containment near-dup mining: pairs where one document's shingle
    * set is (mostly) a SUBSET of the other's — `C(A,B) = |A∩B| / |A|`.
    * Symmetric Jaccard misses exactly these: a quote, excerpt, or
    * truncated mirror of a long document has Jaccard ≈ |A|/|B| (small)
    * but containment ≈ 1. This is the screen for subsumption dups —
    * boilerplate-wrapped article copies, chapter extractions, quoted
    * posts — that survive a MinHash pass.
    *
    * Candidates come from RARE-SHINGLE blocking, not all pairs: a
    * shingle's document frequency is counted as a whole-partition
    * window over the shingle-partitioned posting stream (df and
    * admission in the SAME postings pass — the former shingle-keyed
    * count agg re-shuffled the postings a second time to join the df
    * relation back on, and built a distinct-shingle hash map besides;
    * the window's partition sort is the same (shingle) sort the
    * candidate merge join needs on its posting side, so it is shared,
    * not added), and only shingles with `2 <= df <= maxDf` admit their
    * postings into the pair join. A stopword shingle's window group is
    * corpus-sized but spills through the window buffer and admits
    * nothing; worst bucket fan-out is maxDf² by construction — the
    * same counted-bucket discipline as [[lshCandidates]]. A single
    * shared rare shingle is far too weak a signal to verify on (at
    * sf0.1 it admits 8% of ALL pairs — 1.2M candidates for 878 true
    * results), so candidates must share at least `min(minShared, |A|,
    * |B|)` admissible shingles: the pair relation is GROUP-COUNTED
    * (map-side combined — the same rows a distinct would shuffle)
    * and gated before the exact-verify joins ever see a pair. The
    * gate is recall-safe for the operator's contract: a true pair at
    * τ has ≥ τ·|A| intersecting shingles, all of df ≥ 2, so it is
    * missed only if all but minShared−1 of them are corpus-common
    * (df > maxDf) — at which point the contained doc is boilerplate,
    * not content (the same trade the docstring's previous paragraph
    * already accepts).
    *
    * PREFIX FILTER (the round-14 rehearsal's fix): the posting
    * self-join's candidate-pair stream is linear with a ~maxDf/2
    * worst constant (Σ df·(df−1)/2 ≤ maxDf/2 · postings) — a
    * multi-hundred-GB shuffle transient at 5M docs that disk-bound a
    * single box. Only one side of the join needs full postings: sort
    * each doc's admissible shingles by (df, shingle) — rarest first,
    * one global canonical order — and emit just the first
    * ⌊(1−τ)·n⌋ + minShared as PROBE keys (n = the doc's FULL
    * distinct-shingle count). τ-correctness is the standard
    * prefix-filter argument, run per passing side: if
    * C(A,B) = |A∩B|/|A| ≥ τ then A has ≤ (1−τ)·|A| shingles outside
    * the intersection, so of A's ⌊(1−τ)·|A|⌋ + minShared rarest
    * admissible shingles at least minShared sit in A∩B — each one a
    * (prefix_A × full-posting_B) match — and symmetrically via B when
    * the pair passes on the B side; when a doc has fewer admissible
    * shingles than the prefix length the whole admissible set is the
    * prefix and the bound degrades exactly to the pre-filter gate's
    * (the corpus-common trade above). The pair stream therefore
    * shrinks from Σ df² to Σ prefix_df·df — ~(1−τ)× the volume at
    * equal df mix — while every pair that can pass the τ gate still
    * surfaces with ≥ min(minShared, |A|, |B|) visible matches, which
    * is exactly what the count gate now counts (distinct matched
    * shingles across both prefix directions). One semantic caveat,
    * shared with the bounded-sample verify below: a pair whose EXACT
    * containment is under τ but whose bottom-sampleK estimate lands
    * ≥ τ is only guaranteed to surface by the exact-side argument, so
    * the borderline-noise band (|exact − τ| within the sampling std,
    * ~2.7% at sampleK=128 on long docs) can differ from an unfiltered
    * run — the oracle mirrors the prefix cut, so both engines agree
    * exactly; consumers needing exact ratios on long documents raise
    * `sampleK` past their length ceiling (the whole-set fast path
    * then makes the estimate exact). Verification computes
    * containment over gated
    * pairs only, and — the round-13 watch item's fix — over a BOUNDED
    * per-doc sample rather than the full shingle set: verify cost was
    * the one surviving super-linear term (measured exponent 1.08
    * across two rehearsal decades; pairs × per-doc shingle-set size,
    * the set growing with document length). Each doc's verification
    * fingerprint is its `sampleK` smallest shingles by md5 — a
    * deterministic min-K sketch, identically computable in the oracle —
    * and `cont_a` becomes `|Â ∩ B| / |Â|` (the sample intersected with
    * the OTHER side's FULL set, so a true subset pair still scores
    * exactly 1.0: every sampled shingle of a contained doc is in the
    * container; for non-subset pairs it is the standard unbiased
    * bottom-K containment estimate). Per-pair verify work is now
    * ≤ 2·sampleK regardless of document length.
    */
  def containmentNearDups(docs: DataFrame, w: Int, tau: Double, maxDf: Int,
                          minShared: Int = 3, sampleK: Int = 128): DataFrame = {
    require(w > 0 && maxDf > 1 && minShared > 0 && sampleK > 0,
      s"need w > 0, maxDf > 1, minShared > 0, sampleK > 0; got w=$w maxDf=$maxDf minShared=$minShared sampleK=$sampleK")
    // HASHED POSTINGS (the round-15 sf0.1 profile: the posting-stream
    // shuffles/sorts/joins on ~25-byte shingle STRINGS were ~60% of
    // the query — the df window, the prefix rank, the prefix×posting
    // join and both verify joins all key on the shingle). Every
    // posting-side relation here carries polyHash(shingle) — the same
    // 2⁶¹−1 polynomial hash the MinHash/DSIR/spans pipelines already
    // shuffle (graft.functions.MinhashHash.polyHash), reproduced
    // fold-for-fold in the DuckDB oracle, so bucket/df/intersection
    // equality stays bit-for-bit engine-portable — an 8-byte long key
    // instead of the string. Collisions (P ≈ 2.3e18) would merge two
    // shingles' postings; the same astronomically-unlikely trade every
    // hashed-key stage in the dedup family already accepts, and the
    // oracle computes the identical hash so both engines agree
    // exactly either way. The VERIFY SAMPLE is still selected by
    // md5-of-string (the sketch itself is unchanged); only the join
    // key it emits is the hash.
    val hashed = (c: Column) => graft.functions.MinhashHash.polyHashes(c)
    val sh = docs.select(col("doc_id"), explode(hashed(shingles(w))).as("shingle"))
    // per-doc distinct-shingle count: a function of the doc's own
    // shingle array — one map-side projection, never a stream agg
    val sizes = docs.select(col("doc_id"), size(shingles(w)).cast("long").as("n"))
    // deterministic per-doc verify sample: the sampleK smallest
    // shingles by (md5, shingle) — computed MAP-SIDE from the doc's own
    // shingle array (sort + slice over the per-row array), never as a
    // window over the exploded stream: a min-K sketch is a function of
    // one document, so it costs one projection, not a corpus-explosion
    // shuffle. The shingle tiebreak is unreachable (shingles are
    // distinct per doc) but pins the order against hash collisions.
    // docs whose whole set fits in the sample skip the hash+sort
    // entirely (min-K of a ≤K set IS the set; the explode consumes it
    // as a set, so order is irrelevant) — at today's corpus that is
    // most docs, and at scale the md5 cost applies only to the long
    // tail that actually needs bounding
    val sampled = docs.select(
      col("doc_id"),
      explode(
        hashed(
          when(size(shingles(w)) <= sampleK, shingles(w)).otherwise(
            transform(
              slice(
                array_sort(transform(shingles(w), s =>
                  struct(md5(s.cast("binary")).as("h"), s.as("s")))),
                1, sampleK),
              x => x.getField("s"))))
      ).as("shingle")
    )
    // document frequency and admission in ONE postings pass: count(df)
    // as a whole-partition window over the shingle-partitioned stream,
    // then filter 2 <= df <= maxDf. The former shape (shingle-keyed
    // count agg, then a shuffle-hash join of the agg back against a
    // SECOND shuffle of the exploded stream) moved the postings across
    // exchanges twice and built a distinct-shingle hash map besides;
    // the window form shuffles postings ONCE, and its partition sort is
    // the same (shingle) sort the candidate merge join needs on its
    // posting side, so the sort is shared, not added. n (the doc's
    // FULL distinct-shingle count) is carried MAP-SIDE from the row's
    // own array, so the prefix rank needs no sizes join.
    //
    // TWO-LEVEL df for the hot keys: count-over-window has no partial
    // aggregation, so a boilerplate shingle with df ≈ 0.3·N lands its
    // ENTIRE posting list in one window group on one task — it spills
    // rather than OOMs, and the df filter drops it immediately after,
    // but at 10⁹–10¹⁰ docs that group is 10⁸–10⁹ rows through a single
    // task's spill path: the classic skewed-key single-reducer
    // straggler (guide §2.5). The SUPER-HOT set (df > maxDf) is found
    // first with a skew-immune map-side-combined count agg and
    // broadcast anti-joined out of the stream BEFORE the window, so no
    // surviving window group exceeds maxDf rows — bounded task memory
    // and wall time at any corpus size. The hot relation is tiny BY
    // CONSTRUCTION: |hot| ≤ postings / maxDf distinct 8-byte keys
    // (86k at the 5M-doc decade census), and maxDf is corpus-relative
    // in deployment, so the bound tightens as the corpus grows. The
    // exclusion changes nothing the old plan kept: every dropped
    // shingle had df > maxDf and was discarded by the admission filter
    // anyway, and surviving groups' counts are untouched.
    val postings = docs
      .select(col("doc_id"), size(shingles(w)).cast("long").as("n"),
        explode(hashed(shingles(w))).as("shingle"))
    val hotShingles = postings
      .groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("shingle"))
    val member = postings
      .join(broadcast(hotShingles), Seq("shingle"), "left_anti")
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .filter(col("df") > 1 && col("df") <= maxDf)
    // per-doc prefix: the ⌊(1−τ)·n⌋ + minShared rarest admissible
    // shingles in the global (df, shingle) order, n = the doc's FULL
    // distinct-shingle count (carried map-side — a function of the
    // row's own array). The rank is a doc-partitioned window over the
    // member relation: ONE shuffle+sort linear in postings, the price
    // that deletes the df² pair transient. The shingle tiebreak is
    // unreachable (shingles are distinct per doc) but pins the order.
    val prefix = member
      .withColumn("__rk",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .filter(col("__rk") <= floor(lit(1.0d - tau) * col("n")) + lit(minShared.toLong))
      .select(col("doc_id"), col("shingle"))
    // the posting relation and the verify-side shingle stream are
    // corpus-EXPLOSION grain — never broadcastable (toy-scale stats
    // would otherwise tempt the planner; at 100 TB that broadcast is
    // an OOM, not a slowdown). The prefix×posting join stays
    // merge-hinted (both sides unbounded — SMJ spills gracefully); the
    // verify joins use shuffle-hash builds on the gated candidate
    // relation / the per-partition slice of the shingle stream,
    // avoiding SMJ's sort of the exploded streams
    val cand = prefix
      .as("x")
      .join(member.select(col("doc_id"), col("shingle")).as("y").hint("merge"), Seq("shingle"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      // a pair can surface through either side's prefix (and a shingle
      // through both), so normalize the orientation and count DISTINCT
      // matched shingles — the prefix-visible twin of the old count
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        col("shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(countDistinct(col("shingle")).as("n_shared"))
      // sizes is a MAP-SIDE projection of the documents scan — doc
      // cardinality, so never broadcastable at the design point (the
      // row-grain broadcast ban); the shuffle-hash hint pins the
      // honest 100 TB join shape against toy-scale stats
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")).hint("shuffle_hash"), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")).hint("shuffle_hash"), "doc_b")
      .filter(col("n_shared") >= least(lit(minShared.toLong), col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
    // ONE tagged verify chain for both containments: each pair probes
    // twice — side 'a' sends Â (doc_a's min-K sample) against doc_b's
    // full set, side 'b' the symmetric probe — so the sampled stream
    // and the full shingle stream each shuffle exactly ONCE, and the
    // per-pair fan-out is ≤ 2·sampleK rows regardless of doc length.
    val probes = cand.select(
      col("doc_a"), col("doc_b"),
      explode(array(
        struct(lit("a").as("side"), col("doc_a").as("sample_doc"), col("doc_b").as("probe_doc")),
        struct(lit("b").as("side"), col("doc_b").as("sample_doc"), col("doc_a").as("probe_doc"))
      )).as("__p")
    ).select(col("doc_a"), col("doc_b"), col("__p.side").as("side"),
      col("__p.sample_doc").as("sample_doc"), col("__p.probe_doc").as("probe_doc"))
    val inter = probes
      .hint("shuffle_hash")
      .join(sampled.select(col("doc_id").as("sample_doc"), col("shingle")), "sample_doc")
      .join(sh.select(col("doc_id").as("probe_doc"), col("shingle")).hint("shuffle_hash"),
        Seq("probe_doc", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        count(when(col("side") === "a", 1)).as("ia"),
        count(when(col("side") === "b", 1)).as("ib")
      )
    val contA = coalesce(col("ia"), lit(0L)).cast("double") / least(col("na"), lit(sampleK.toLong))
    val contB = coalesce(col("ib"), lit(0L)).cast("double") / least(col("nb"), lit(sampleK.toLong))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      // the filter runs on the UNROUNDED ratio (identical int/int
      // division on both engines); rounding is presentation only
      .filter(greatest(contA, contB) >= tau)
      .select(
        col("doc_a"),
        col("doc_b"),
        round(contA, 6).as("cont_a"),
        round(contB, 6).as("cont_b")
      )
  }

  /** Corpus with planted PREFIX TRUNCATIONS: for doc_id % 9 == 0 the
    * first ⌈n/3⌉ (min 3) words are re-issued as doc_id + 3000000 — a
    * subsumption dup with Jaccard ≈ 1/3 (below the MinHash query's
    * τ = 0.5) but containment 1.0. Exactly the pair class this
    * operator exists to catch.
    */
  private[operators] def withPlantedContainment(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), split(normText(col("text")), " ").as("ws"))
    val planted = base
      .filter(col("doc_id") % 9 === 0)
      .select(
        (col("doc_id") + lit(3L * plantOffset(docs))).as("doc_id"),
        expr("slice(ws, 1, greatest(cast(ceil(size(ws) / 3.0) as int), 3))").as("ws")
      )
    base.unionByName(planted).select(col("doc_id"), array_join(col("ws"), " ").as("text"))
  }

  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentNearDups(withPlantedContainment(Tables.documents(spark, dir)), w = 3, tau = 0.9, maxDf = 256)

  /** Full-pipeline containment oracle: planted prefix corpus → distinct
    * word 3-shingles (short-doc whole-text fallback, mirroring the
    * Shingling kernel) → df-admissible postings → per-doc rarest-first
    * prefix keys → prefix×posting candidate pairs (distinct-counted
    * shared-shingle gate) → min-128-by-md5 verify samples (identical to the engine's
    * deterministic sketch — DuckDB and Spark md5 agree on UTF-8 bytes
    * and lowercase hex ordering) → bounded intersections → containment
    * estimates, filtered unrounded.
    */
  val dedupContainmentSql: String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    string_split(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))), ' ') AS ws
      |  FROM documents),
      |corpus AS (
      |  SELECT doc_id, ws FROM base
      |  UNION ALL
      |  SELECT doc_id + 3 * $PlantOffDuck AS doc_id,
      |    ws[1:GREATEST(CAST(CEIL(len(ws) / 3.0) AS INT), 3)] AS ws
      |  FROM base WHERE doc_id % 9 = 0),
      |shpos AS (
      |  SELECT doc_id, ws, UNNEST(range(1, GREATEST(len(ws) - 2, 1) + 1)) AS i FROM corpus),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(ws) >= 3 THEN array_to_string(ws[i:i+2], ' ')
      |         ELSE array_to_string(ws, ' ') END AS shingle
      |  FROM shpos),
      |-- the engine's hashed posting key: polyHash(shingle) mod 2⁶¹−1,
      |-- the identical HUGEINT fold the minhash oracle runs — posting
      |-- joins/df/prefix all key on the 8-byte hash in both engines
      |hs AS (
      |  SELECT doc_id, shingle AS s,
      |    CAST(CASE WHEN LENGTH(shingle) = 0 THEN CAST(0 AS HUGEINT)
      |         ELSE list_reduce(
      |           list_transform(range(1, LENGTH(shingle) + 1),
      |                          j -> CAST(unicode(substr(shingle, CAST(j AS INT), 1)) AS HUGEINT)),
      |           (h, c) -> (h * ${graft.functions.Winnow.Base} + c) % ${graft.functions.Winnow.P}) END
      |      AS BIGINT) AS h
      |  FROM sh),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |adm AS (
      |  SELECT h, COUNT(*) AS df FROM hs GROUP BY h
      |  HAVING COUNT(*) > 1 AND COUNT(*) <= 256),
      |member AS (SELECT s.doc_id, s.h, a.df FROM hs s JOIN adm a USING (h)),
      |pfx AS (
      |  -- the engine's prefix filter: ⌊(1−τ)·n⌋ + minShared rarest
      |  -- admissible shingles per doc in (df, hash) order; the
      |  -- constant is the IEEE double 1.0 − 0.9, cast so DuckDB's
      |  -- decimal literal parsing cannot diverge from Spark's double
      |  SELECT doc_id, h FROM (
      |    SELECT m.doc_id, m.h,
      |      row_number() OVER (PARTITION BY m.doc_id ORDER BY m.df, m.h) AS rk,
      |      sz.n AS n
      |    FROM member m JOIN sizes sz ON sz.doc_id = m.doc_id)
      |  WHERE rk <= FLOOR(CAST(0.09999999999999998 AS DOUBLE) * n) + 3),
      |cand AS (
      |  SELECT c.doc_a, c.doc_b, sa.n AS na, sb.n AS nb
      |  FROM (
      |    SELECT LEAST(x.doc_id, y.doc_id) AS doc_a,
      |           GREATEST(x.doc_id, y.doc_id) AS doc_b,
      |           COUNT(DISTINCT x.h) AS n_shared
      |    FROM pfx x JOIN member y ON x.h = y.h AND x.doc_id <> y.doc_id
      |    GROUP BY 1, 2) c
      |  JOIN sizes sa ON sa.doc_id = c.doc_a
      |  JOIN sizes sb ON sb.doc_id = c.doc_b
      |  WHERE c.n_shared >= LEAST(3, sa.n, sb.n)),
      |samp AS (
      |  -- selection is STILL by md5 of the shingle string (the min-K
      |  -- sketch is unchanged); only the emitted join key is the hash
      |  SELECT doc_id, h FROM (
      |    SELECT doc_id, h,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY md5(s), s) AS rk
      |    FROM hs) WHERE rk <= 128),
      |ia AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS ia
      |  FROM cand c
      |  JOIN samp a ON a.doc_id = c.doc_a
      |  JOIN hs b ON b.doc_id = c.doc_b AND b.h = a.h
      |  GROUP BY 1, 2),
      |ib AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS ib
      |  FROM cand c
      |  JOIN samp b ON b.doc_id = c.doc_b
      |  JOIN hs a ON a.doc_id = c.doc_a AND a.h = b.h
      |  GROUP BY 1, 2)
      |SELECT c.doc_a, c.doc_b,
      |  ROUND(CAST(COALESCE(ia.ia, 0) AS DOUBLE) / LEAST(c.na, 128), 6) AS cont_a,
      |  ROUND(CAST(COALESCE(ib.ib, 0) AS DOUBLE) / LEAST(c.nb, 128), 6) AS cont_b
      |FROM cand c
      |LEFT JOIN ia ON ia.doc_a = c.doc_a AND ia.doc_b = c.doc_b
      |LEFT JOIN ib ON ib.doc_a = c.doc_a AND ib.doc_b = c.doc_b
      |WHERE GREATEST(CAST(COALESCE(ia.ia, 0) AS DOUBLE) / LEAST(c.na, 128),
      |               CAST(COALESCE(ib.ib, 0) AS DOUBLE) / LEAST(c.nb, 128)) >= 0.9
      |ORDER BY c.doc_a, c.doc_b""".stripMargin

  def dedupEmbed(spark: SparkSession, dir: String): DataFrame =
    embedNearDups(Tables.embeddings(spark, dir), tau = 0.4)

  def dedupEmbedBlocked(spark: SparkSession, dir: String): DataFrame =
    embedNearDupsBlockedAdaptive(Tables.embeddings(spark, dir), tau = 0.4)

  /** Blocked-embedding oracle: same inlined-hyperplane bucket bits as
    * the ann_lsh oracle, count-adaptive bit masking through the SAME
    * pure-integer threshold ladder as the engine, 1-bit probe fan-out
    * over the used bits, bucket cap, id-pair dedup, exact-cosine
    * verify.
    */
  val dedupEmbedBlockedSql: String = {
    val (targetOcc, minPlanes, maxPlanes) = (128, 2, 12)
    val hp = Similarity.hyperplanes(maxPlanes, 64)
    val bucketExpr =
      hp.zipWithIndex
        .map { case (p, i) =>
          val pl = p.mkString("[", ", ", "]")
          s"(CASE WHEN list_dot_product(v, $pl) > 0.0 THEN ${1L << i} ELSE 0 END)"
        }
        .mkString("(", " + ", ")")
    val bitsLadder = (minPlanes until maxPlanes)
      .map(k => s"(CASE WHEN COUNT(*) > ${targetOcc.toLong << k} THEN 1 ELSE 0 END)")
      .mkString(s"$minPlanes + ", " + ", "")
    s"""WITH n AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |cfg AS (SELECT $bitsLadder AS bits FROM n),
       |bktf AS (SELECT vec_id, v, nrm, $bucketExpr AS bf FROM n),
       |bkt AS (
       |  SELECT vec_id, v, nrm,
       |         bf & ((CAST(1 AS BIGINT) << bits) - 1) AS b0
       |  FROM bktf CROSS JOIN cfg),
       |admissible AS (SELECT b0 AS bucket FROM bkt GROUP BY b0 HAVING COUNT(*) <= 4096),
       |probed AS (
       |  SELECT vec_id,
       |         UNNEST(list_prepend(b0, list_transform(range(bits),
       |           p -> xor(b0, CAST(1 AS BIGINT) << p)))) AS bucket
       |  FROM bkt CROSS JOIN cfg),
       |lhs AS (SELECT p.bucket, p.vec_id AS id_l FROM probed p JOIN admissible a ON p.bucket = a.bucket),
       |rhs AS (SELECT b.b0 AS bucket, b.vec_id AS id_r FROM bkt b JOIN admissible a ON b.b0 = a.bucket),
       |cand AS (
       |  SELECT DISTINCT LEAST(l.id_l, r.id_r) AS id_a, GREATEST(l.id_l, r.id_r) AS id_b
       |  FROM lhs l JOIN rhs r ON l.bucket = r.bucket AND l.id_l <> r.id_r)
       |SELECT c.id_a, c.id_b,
       |  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
       |FROM cand c
       |JOIN n a ON a.vec_id = c.id_a
       |JOIN n b ON b.vec_id = c.id_b
       |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
       |ORDER BY c.id_a, c.id_b""".stripMargin
  }

  val dedupEmbedSql: String =
    """WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------------
  // Structural neighbor similarity (link prediction over the dup graph)
  // -------------------------------------------------------------------

  /** Neighbor-set Jaccard between node pairs of the mined near-dup
    * graph: |N(a)∩N(b)| / |N(a)∪N(b)| for every pair sharing at least
    * one neighbor — the classic link-prediction / structural-roles
    * primitive. Pairs with high overlap that are NOT already edges
    * (is_edge=false) are the near-dups the pairwise miner likely
    * MISSED (two docs each similar to the same third); that makes this
    * the graph-level recall check on the mining threshold.
    *
    * Scale shape: same wedge-bounded cost as [[triangleStats]] — the
    * symmetric edge relation wedge-joins through the shared neighbor
    * (equi-key x), so candidate pairs are bounded by Σ deg², a
    * post-reduction quantity, never corpus². The pair list is
    * localCheckpoint'd once for its four references (e1/e2/deg/edge
    * flag), truncating the mining plan exactly as the triangle op
    * does.
    */
  def neighborJaccard(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .localCheckpoint(true)
    val edges = pairs.union(pairs.select(col("v").as("u"), col("u").as("v")))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("degree"))
    val e1 = edges.select(col("u").as("doc_a"), col("v").as("__x"))
    val e2 = edges.select(col("u").as("doc_b"), col("v").as("__x"))
    e1.join(e2, Seq("__x"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common_neighbors"))
      .join(deg.select(col("u").as("doc_a"), col("degree").as("degree_a")), Seq("doc_a"))
      .join(deg.select(col("u").as("doc_b"), col("degree").as("degree_b")), Seq("doc_b"))
      .join(
        pairs.select(col("u").as("doc_a"), col("v").as("doc_b"), lit(true).as("__e")),
        Seq("doc_a", "doc_b"),
        "left"
      )
      .select(
        col("doc_a"),
        col("doc_b"),
        col("common_neighbors"),
        col("degree_a"),
        col("degree_b"),
        round(
          col("common_neighbors").cast("double") /
            (col("degree_a") + col("degree_b") - col("common_neighbors")).cast("double"),
          6
        ).as("jaccard"),
        coalesce(col("__e"), lit(false)).as("is_edge")
      )
  }

  def graphJaccard(spark: SparkSession, dir: String): DataFrame =
    neighborJaccard(
      minedPairsFor(spark, dir)
        .select(col("doc_a"), col("doc_b"))
    )

  /** Oracle: the shared minhash pair pipeline feeding the identical
    * symmetric-edge wedge join and degree algebra.
    */
  val graphJaccardSql: String =
    s"""WITH $MinhashPipelineCtes,
       |vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE j >= 0.5),
       |ed AS (
       |  SELECT doc_a AS u, doc_b AS v FROM vpairs
       |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM vpairs),
       |deg AS (SELECT u, COUNT(*) AS degree FROM ed GROUP BY 1),
       |co AS (
       |  SELECT e1.u AS doc_a, e2.u AS doc_b, COUNT(*) AS common
       |  FROM ed e1 JOIN ed e2 ON e2.v = e1.v AND e1.u < e2.u
       |  GROUP BY 1, 2)
       |SELECT co.doc_a, co.doc_b, co.common AS common_neighbors,
       |  da.degree AS degree_a, db.degree AS degree_b,
       |  ROUND(CAST(co.common AS DOUBLE) /
       |        CAST(da.degree + db.degree - co.common AS DOUBLE), 6) AS jaccard,
       |  p.doc_a IS NOT NULL AS is_edge
       |FROM co
       |JOIN deg da ON da.u = co.doc_a
       |JOIN deg db ON db.u = co.doc_b
       |LEFT JOIN vpairs p ON p.doc_a = co.doc_a AND p.doc_b = co.doc_b
       |ORDER BY co.doc_a, co.doc_b""".stripMargin
}
