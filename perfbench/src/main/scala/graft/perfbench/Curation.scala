package graft.perfbench

import scala.collection.mutable

import graft.operators.{Dedup, Packing, Tokenizer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `corpus_curation`: one cold pipeline pass at a time over a seeded
  * corpus with planted duplicates: exact dedup by hash, MinHash near-dup
  * mining, connected components with survivors, BPE token statistics of
  * the kept documents and sequence packing.
  *
  * Each pass clears Spark's cache and calls the parametric operators on
  * fresh DataFrames. It never goes through the registry's memoized
  * `(spark, dir)` entries, which would serve every shared intermediate
  * from a per-JVM memo and hide its build. Stage outputs are small; each
  * is collected and handed to the next stage as a local relation.
  */
final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark
  import spark.implicits._

  private var docsPath: String = _
  private var docCount = 0L
  private var texts: Map[Long, String] = Map.empty

  def prepare(round: Int): Unit = {
    val dir = ctx.workDir(s"curation-$round")
    docsPath = new java.io.File(dir, "documents").getAbsolutePath
    val docs = corpus(ctx.seed, Docs)
    docCount = docs.length.toLong
    texts = docs.map(d => d._1 -> d._2).toMap
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(ctx.cores).write.parquet(docsPath)
  }

  /** One pass over the first SliceDocs documents. Its outputs are the
    * ones the launcher checks stage by stage against the DuckDB oracle,
    * whose MinHash SQL grows past a minute on larger corpora.
    */
  def warmup(): Unit = {
    val (out, _) = pass(spark.read.parquet(docsPath).filter(col("doc_id") < SliceDocs), "warmup")
    writeForOracle(out, "slice")
  }

  private def pass(docs: DataFrame, op: String): (PassOut, Double) = {
    val tr = ctx.tracer
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(op, op, interruptOnCancel = false)
    def stage(name: String)(build: => DataFrame): (Seq[Row], DataFrame) =
      tr.span(op, name, "pass") {
        val df = tr.span(op, "build", name)(build)
        tr.span(op, "plan", name)(df.queryExecution.executedPlan)
        val rows = tr.span(op, "exec", name)(df.collect().toSeq)
        storage += Layers.storageBytes(spark)
        (rows, spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
      }
    val t0 = Clock.now()
    val out = tr.span(op, "pass") {
      val (exact, exactDf) = stage("exact")(Dedup.exactByHash(docs))
      val (pairs, pairsDf) =
        stage("minhash")(Dedup.minhashNearDups(Dedup.withPlantedNearDups(docs), w = 3, tau = Tau))
      val (clusters, clustersDf) =
        stage("components")(Dedup.clustersWithSurvivors(pairsDf.select(col("doc_a"), col("doc_b"))))
      val kept = docs
        .join(exactDf.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .join(clustersDf.filter(!col("survivor")).select(col("doc_id")), Seq("doc_id"), "left_anti")
      val (tokens, _) = stage("tokenize")(Tokenizer.bpeEncodeStats(kept))
      val (pack, _) = stage("pack")(Packing.packSequences(kept, SeqLen, ShardWidth))
      PassOut(exact, pairs, clusters, tokens, pack, tokens.length.toLong, 0L)
    }
    (out, Clock.secs(t0, Clock.now()))
  }

  private val storage = mutable.ArrayBuffer[Long]()

  private def attempt(tag: String, k: Int): (PassOut, Double) =
    try pass(spark.read.parquet(docsPath), s"$tag-$k")
    catch {
      case e: Exception =>
        ctx.rec.error(s"$tag $k: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        (null, Double.PositiveInfinity)
    }

  /** The LSH candidate count of a traced pass's corpus, for
    * `operators.lsh_precision`. It runs after the pass, outside its
    * clock, under its own job group (`<op>-candidates`).
    */
  private def withCandidates(p: (PassOut, Double), k: Int): (PassOut, Double) =
    if (p._1 == null) p
    else {
      val op = s"traced-$k-candidates"
      spark.sparkContext.setJobGroup(op, op, interruptOnCancel = false)
      val docs = Dedup.withPlantedNearDups(spark.read.parquet(docsPath))
      (p._1.copy(candidates = Dedup.minhashJaccard(docs, 3, 16, 64).count()), p._2)
    }

  /** Cold passes while another one is expected to end within `seconds`
    * (at least one). The traced run makes each pass twice, untraced and
    * traced, alternating which goes first, after one unmeasured pass of
    * the full corpus: a ten-second run makes one pair of passes, and the
    * first full-size pass of a JVM is slower than the ones after it.
    */
  def run(): Outcome = {
    val r = ctx.rec
    if (ctx.traced) attempt("prime", 0)
    val plain = mutable.ArrayBuffer[(PassOut, Double)]()
    val traced = mutable.ArrayBuffer[(PassOut, Double)]()
    val t0 = Clock.now()
    var k = 0
    def step = (plain ++ traced).map(_._2).sum / math.max(k, 1)
    while (k == 0 || Clock.secs(t0, Clock.now()) + step <= ctx.seconds) {
      val order = if (!ctx.traced) Seq(false) else if (k % 2 == 0) Seq(false, true) else Seq(true, false)
      order.foreach(t => if (t) traced += withCandidates(attempt("traced", k), k) else plain += attempt("pass", k))
      k += 1
    }
    val passes = (plain ++ traced).toSeq
    var failures = passes.count(_._1 == null)
    val times = plain.map(_._2).toSeq
    r.put("pipeline_p50_s", Stats.median(times), "s")
    r.put("latency_p50_s", Stats.median(times), "s")
    r.fact("passes", times.length)
    val ok = passes.map(_._1).filter(_ != null)
    ok.zipWithIndex.foreach { case (p, i) =>
      val problems = checkNearDups(p)
      problems.foreach(e => ctx.rec.error(s"pass $i: $e"))
      if (problems.nonEmpty) failures += 1
    }
    // every pass must reproduce the first; the launcher checks the
    // first's exact, tokenize and pack stages against the DuckDB oracle
    ok.headOption.foreach { first =>
      ok.zipWithIndex.drop(1).foreach { case (p, i) =>
        if (canon(p) != canon(first)) {
          failures += 1
          ctx.rec.error(s"pass $i differs from pass 0")
        }
      }
      writeForOracle(first, "full")
    }
    if (ctx.traced) {
      report(traced.map(_._1).filter(_ != null).toSeq, traced.length)
      val overhead = Stats.median(traced.map(_._2).toSeq) - Stats.median(times)
      r.put("trace.overhead_s", overhead, "s")
      r.put("trace.overhead_frac", overhead / Stats.median(times), "ratio")
    }
    Outcome(passes.length.toLong, failures.toLong)
  }

  /** Near-dup check of a pass, outside its clock, against a sequential
    * reference in the benchmark JVM: every reported pair's Jaccard of
    * normalized word 3-shingles, recomputed here, equals the reported
    * one and reaches tau; every planted near-duplicate (a doc_id % 10 == 0
    * document without its first two words) is among the pairs; the
    * clusters are the union-find closure of the reported pairs, labelled
    * by their smallest doc_id, the label the survivor.
    */
  private def checkNearDups(p: PassOut): Seq[String] = {
    val bad = mutable.Buffer[String]()
    val offset = math.max(1000000L, texts.keys.max + 1)
    val all = texts ++ texts.collect {
      case (id, t) if id % 10 == 0 => (id + offset) -> t.split(" ", -1).drop(2).mkString(" ")
    }
    def shingles(t: String): Set[String] =
      graft.functions.Shingling.wordShingles(t.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT), 3)
        .map(_.toString).toSet
    val pairs = p.pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairs.foreach { case (a, b, j) =>
      val (sa, sb) = (shingles(all(a)), shingles(all(b)))
      val exact = (sa & sb).size.toDouble / (sa | sb).size
      if (a >= b || j < Tau || math.abs(exact - j) > 1e-6) bad += s"pair ($a, $b) reports Jaccard $j, recomputed $exact"
    }
    val found = pairs.map(q => (q._1, q._2)).toSet
    val missed = texts.keys.filter(_ % 10 == 0).filterNot(id => found((id, id + offset)))
    if (missed.nonEmpty) bad += s"${missed.size} planted near-duplicates missing from the pairs, e.g. ${missed.min}"
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val q = parent.getOrElseUpdate(x, x)
      if (q == x) x else { val root = find(q); parent(x) = root; root }
    }
    found.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.toSeq.map(n => (n, find(n), n == find(n))).toSet
    val got = p.clusters.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    if (got != want) bad += s"clusters (${got.size} rows) differ from the closure of the pairs (${want.size} rows)"
    bad.toSeq
  }

  private def canon(p: PassOut): Seq[Seq[String]] =
    Seq(p.exact, p.pairs, p.clusters, p.tokens, p.pack).map(_.map(_.toString).sorted)

  /** Stage outputs of one pass as parquet under `<work>/oracle/<name>`,
    * plus the corpus location and the registry's oracle SQL in
    * `<work>/oracle/oracle.json`.
    */
  private def writeForOracle(p: PassOut, name: String): Unit = {
    val dir = ctx.workDir(s"oracle/$name")
    val docs = spark.read.parquet(docsPath)
    val schemas = Map(
      "exact" -> Dedup.exactByHash(docs).schema,
      "pairs" -> Dedup.minhashNearDups(Dedup.withPlantedNearDups(docs)).schema,
      "clusters" -> Dedup.clustersWithSurvivors(Seq((0L, 1L)).toDF("doc_a", "doc_b")).schema,
      "tokens" -> Tokenizer.bpeEncodeStats(docs.limit(0), 1).schema,
      "pack" -> Packing.packSequences(docs.limit(0), SeqLen, ShardWidth).schema
    )
    Seq("exact" -> p.exact, "pairs" -> p.pairs, "clusters" -> p.clusters, "tokens" -> p.tokens, "pack" -> p.pack)
      .foreach { case (stage, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schemas(stage))
          .coalesce(1).write.parquet(new java.io.File(dir, stage).getAbsolutePath)
      }
    val sql = graft.SparkEntry.oracleSql
    val entries = Seq(
      "documents" -> docsPath,
      "slice_docs" -> SliceDocs.toString,
      "exact" -> sql("dedup_exact_hash"),
      "pairs" -> sql("dedup_minhash"),
      "clusters" -> sql("dedup_clusters"),
      "tokens" -> sql("tokenize_bpe"),
      "pack" -> sql("pack_sequences")
    )
    val w = new java.io.PrintWriter(new java.io.File(dir.getParentFile, "oracle.json"), "UTF-8")
    try w.println(entries.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
    finally w.close()
  }

  /** Per-layer figures: means over the traced passes `ok`, of `n`. */
  private def report(ok: Seq[PassOut], n: Int): Unit = {
    val r = ctx.rec
    Layers.zeros(r)
    val tr = ctx.tracer
    val passSpans = tr.spans.filter(s => s.name == "pass" && s.op.startsWith("traced-")).toSeq
    val ops = passSpans.map(_.op).toSet
    def per(name: String) = tr.spans.filter(s => s.name == name && ops(s.op)).map(_.secs).sum / math.max(n, 1)
    r.put("plans.build_s", per("build"), "s")
    r.put("plans.plan_s", per("plan"), "s")
    Seq("exact", "minhash", "components", "tokenize", "pack").foreach(s => r.put(s"operators.${s}_s", per(s), "s"))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    r.put("operators.docs_in", docCount.toDouble, "count")
    r.put("operators.docs_kept", mean(ok.map(_.kept.toDouble)), "count")
    val cand = mean(ok.map(_.candidates.toDouble))
    val verified = mean(ok.map(_.pairs.length.toDouble))
    r.put("operators.candidate_pairs", cand, "count")
    r.put("operators.verified_pairs", verified, "count")
    r.put("operators.lsh_precision", if (cand > 0) verified / cand else 0.0, "ratio")
    val blob = {
      val f = new java.io.File(ctx.workDir("curation-blob"), "blob.bin")
      graft.sources.BinarySegments.writeBlob(f.getPath, Array.tabulate(15000)(i => math.sin(i * 0.01)))
      java.nio.file.Files.readAllBytes(f.toPath)
    }
    Layers.functionMetrics(r, 5000, blob, 1000, MeanWords - 2)
    ctx.listener.foreach { l =>
      l.settle(spark.sparkContext)
      Layers.sparkMetrics(r, l.workFor(ops), n, passSpans.map(_.secs).sum, ctx.cores, storage.toSeq)
    }
  }
}

object Curation {

  /** The stage outputs of one pass, as collected rows. */
  final case class PassOut(exact: Seq[Row], pairs: Seq[Row], clusters: Seq[Row], tokens: Seq[Row], pack: Seq[Row],
    kept: Long, candidates: Long)
  val Docs = 2000
  val SliceDocs = 150
  val MeanWords = 50
  val Tau = 0.5
  val SeqLen = 128
  val ShardWidth = 64L

  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "de", "pa", "qu", "xe", "bo", "fi",
    "gu", "ha", "je", "wo", "yu", "zi")

  /** Seeded documents (doc_id, text, lang, source, n_chars). Words are
    * drawn log-uniformly from a seeded vocabulary, so frequencies fall
    * off like Zipf's law. About 4% of documents are exact copies of an
    * earlier one up to case and whitespace, and about 6% are copies with
    * one to three words replaced.
    */
  def corpus(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val rnd = new scala.util.Random(seed * 104729L + 3L)
    val vocab = Array.fill(4000)((0 until 2 + rnd.nextInt(3)).map(_ => Syllables(rnd.nextInt(Syllables.length))).mkString)
    def word() = vocab((math.exp(rnd.nextDouble() * math.log(vocab.length.toDouble)) - 1).toInt)
    val langs = Seq("en", "de", "fr", "es", "zh")
    val texts = mutable.ArrayBuffer[Array[String]]()
    (0 until n).map { i =>
      val u = rnd.nextDouble()
      val words =
        if (i > 10 && u < 0.04) texts(rnd.nextInt(i)).clone()
        else if (i > 10 && u < 0.10) {
          val w = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = word())
          w
        } else Array.fill(MeanWords / 2 + rnd.nextInt(MeanWords))(word())
      texts += words
      val text =
        if (u < 0.04) words.map(w => if (rnd.nextBoolean()) w.capitalize else w).mkString(if (rnd.nextBoolean()) "  " else " ")
        else words.mkString(" ")
      (i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}", text.length.toLong)
    }
  }
}
