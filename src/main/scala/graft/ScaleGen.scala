package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor rehearsal data generator: tiles a driver testdata
  * directory R× into a larger synthetic scale factor, following the
  * driver's own observed scaling law between sf0.01 and sf0.1:
  *
  *  - TPC-H tables scale linearly in rows with a FIXED date range
  *    (replicas get disjoint key ranges: custkey/orderkey/partkey/
  *    suppkey offset by replica·span, FK columns remapped together so
  *    referential integrity holds per replica);
  *  - `events` densifies inside the SAME 30-day span (10× rows, 10×
  *    users, same 5 channels — exactly what sf0.01→sf0.1 does), with
  *    a deterministic per-replica jitter of r·5 µs + [0, 5 µs): the
  *    per-replica ranges are DISJOINT (offset ≥ range width), so two
  *    replicas of the same source event can never collide on a
  *    timestamp, and the total stays < 1 ms for every R ≤ 200.
  *    Consequence for bin invariants: a ≥1 s bin's population scales
  *    by exactly R provided no source timestamp sits within the
  *    jitter bound (< 1 ms) of a bin edge — events ON an edge would
  *    spill their jittered replicas into the next bin;
  *  - `documents` scale linearly with a deterministic per-replica
  *    token perturbation (~50% of tokens get a replica suffix chosen
  *    by xxhash64(token, r)): WITHIN a replica, identical texts stay
  *    identical (exact/near-dup structure preserved), while ACROSS
  *    replicas 5-gram shingle survival collapses to ≈ 0.5⁵ ≈ 3% —
  *    pure tiling would instead make every doc a member of an
  *    R-clique of near-dups, growing pair density by R² and unfairly
  *    inflating the dedup family's scaling exponent;
  *  - `embeddings` scale at the driver's own sublinear rate (4× per
  *    10× sf: 500→2000 between sf0.01 and sf0.1) via per-replica
  *    orthogonal transforms (seeded dimension permutation + sign
  *    flips): norms and within-replica cluster geometry are EXACTLY
  *    preserved, replica subspaces are decorrelated, so ANN index
  *    build/probe costs scale honestly.
  *
  * Dev tool for SCALING.md — never part of the driver contract.
  * Usage: runMain graft.ScaleGen <inDir> <outDir> [replicas=10] [embReplicas=4] [tables=all|docs] [skew]
  *
  *  - `tables=docs` generates only documents + embeddings (the third
  *    rehearsal decade targets those two readers; tiling 60M lineitem
  *    rows again just to measure dedup_containment would waste the
  *    sandbox's disk);
  *  - `skew` turns on the HOT-KEY mode: ~30% of event rows are
  *    re-labeled to one hot channel and ~30% of documents to one hot
  *    source (deterministic by xxhash64) — real crawls are Zipf, and
  *    the uniform tiling would never exercise the salting/AQE-skew
  *    remedies. Skew mode is for runtime-ratio measurements at a FIXED
  *    scale, not for exponent fits (it changes per-key populations);
  *  - `boiler` turns on the BOILERPLATE mode: ~30% of documents
  *    (deterministic by xxhash64(doc_id)) get one SHARED ~40-word
  *    template block prepended — the dedup family's own hot key is a
  *    hot SHINGLE/band bucket (template boilerplate on a real crawl),
  *    which the source relabel of `skew` never produces. Same paired-
  *    generation discipline: ratio measurements at fixed scale against
  *    an identically-generated uniform twin.
  */
object ScaleGen {

  /** 0..r-1 replica fan-out column. */
  private def fan(df: DataFrame, r: Int): DataFrame =
    df.withColumn("__r", explode(array((0 until r).map(i => lit(i.toLong)): _*)))

  /** Per-replica timestamp jitter in NANOSECONDS: r·5000 + [0, 5000).
    * Ranges are disjoint across replicas (offset ≥ range width) and
    * the total is < 1 ms for every R ≤ 200. Public so ScaleGenSpec can
    * pin the bound arithmetic at the default R without a full run.
    */
  def jitterNs(r: org.apache.spark.sql.Column, eventId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    r * lit(5000L) + pmod(xxhash64(eventId, r), lit(5000L))

  /** Microsecond twin for timestamp-typed sources: r·5 + [0, 5) µs. */
  def jitterUs(r: org.apache.spark.sql.Column, eventId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    r * lit(5L) + pmod(xxhash64(eventId, r), lit(5L))

  private def keySpan(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val cpus = LocalSession.cpus
    val spark = LocalSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args(1),
      if (args.length > 2) args(2).toInt else 10,
      if (args.length > 3) args(3).toInt else 4,
      docsOnly = args.drop(4).contains("tables=docs"),
      skewHot = args.drop(4).contains("skew"),
      boilerHot = args.drop(4).contains("boiler"))
    spark.stop()
  }

  /** The shared template block the `boiler` mode prepends: ~40 words of
    * deterministic filler, long enough that its 3/5-gram shingles and
    * minhash bands dominate short documents — the hot-bucket shape the
    * counted-cap admissions must absorb.
    */
  val BoilerTemplate: String =
    (1 to 20).map(i => s"boilerplate${i % 8} clause$i").mkString(" ")

  def run(spark: SparkSession, inDir: String, outDir: String,
          replicas: Int, embReplicas: Int,
          docsOnly: Boolean = false, skewHot: Boolean = false,
          boilerHot: Boolean = false): Unit = {
    // the jitter ranges (r·5000 + [0, 5000) ns and the µs twin) stay
    // disjoint and total < 1 ms ONLY for R ≤ 200 — beyond that the
    // bin-scaling invariant the docstring promises silently breaks
    require(replicas >= 1 && replicas <= 200,
      s"replicas must be in [1, 200] (jitter disjointness/<1 ms bound); got $replicas")

    // output split count grows with the tiling factor, exactly as a
    // real ingest layout would: a fixed file count would cap SCAN
    // parallelism at the base SF's task count and masquerade as a
    // super-linear operator in the exponent measurements (round-13
    // lesson: 4-file documents made map-only quality scans read as
    // exponent ~1.1 — 10x work on the same 4 tasks)
    // chained docs-only decades must COMPOUND the split count (the
    // round-13 lesson: a fixed file count caps scan parallelism and
    // masquerades as a super-linear scan) — derive baseParts from the
    // INPUT's actual file count so sf10→sf100 grows 20→100 files, not
    // 20→20
    def inputFileCount(name: String): Int =
      Option(new java.io.File(s"$inDir/$name.parquet").listFiles())
        .map(_.count(_.getName.endsWith(".parquet"))).filter(_ > 0).getOrElse(1)
    def save(df: DataFrame, name: String, defaultBase: Int): Unit = {
      val base = if (docsOnly) inputFileCount(name) else defaultBase
      val parts = base * math.max(1, replicas / 2)
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows ($parts files)")
    }

    if (!docsOnly) {
    // fixed dimension tables: copy as-is (TPC-H keeps them SF-invariant)
    save(Tables.region(spark, inDir), "region", 1)
    save(Tables.nation(spark, inDir), "nation", 1)

    val cust = Tables.customer(spark, inDir)
    val ord = Tables.orders(spark, inDir)
    val prt = Tables.part(spark, inDir)
    val supp = Tables.supplier(spark, inDir)
    val li = Tables.lineitem(spark, inDir)
    val spanC = keySpan(cust, "c_custkey")
    val spanO = keySpan(ord, "o_orderkey")
    val spanP = keySpan(prt, "p_partkey")
    val spanS = keySpan(supp, "s_suppkey")

    save(fan(cust, replicas)
      .withColumn("c_custkey", col("c_custkey") + col("__r") * spanC)
      .drop("__r"), "customer", 2)
    save(fan(supp, replicas)
      .withColumn("s_suppkey", col("s_suppkey") + col("__r") * spanS)
      .drop("__r"), "supplier", 1)
    save(fan(prt, replicas)
      .withColumn("p_partkey", col("p_partkey") + col("__r") * spanP)
      .drop("__r"), "part", 2)
    save(fan(ord, replicas)
      .withColumn("o_orderkey", col("o_orderkey") + col("__r") * spanO)
      .withColumn("o_custkey", col("o_custkey") + col("__r") * spanC)
      .drop("__r"), "orders", 4)
    save(fan(li, replicas)
      .withColumn("l_orderkey", col("l_orderkey") + col("__r") * spanO)
      .withColumn("l_partkey", col("l_partkey") + col("__r") * spanP)
      .withColumn("l_suppkey", col("l_suppkey") + col("__r") * spanS)
      .drop("__r"), "lineitem", 16)

    // events: densify in place — same span, same channels, R× users.
    // Disjoint per-replica jitter ranges (< 1 ms total for R ≤ 200):
    // no cross-replica timestamp collisions; second-and-coarser bins
    // scale exactly when source timestamps sit ≥ 1 ms off bin edges.
    val ev = Tables.events(spark, inDir)
    val spanE = keySpan(ev, "event_id")
    val spanU = keySpan(ev, "user_id")
    val evFan = fan(ev, replicas)
    val jittered = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanosAsLong: ts is Long nanoseconds — jitter in integer nanos
        evFan.withColumn("ts",
          when(col("__r") === 0L, col("ts"))
            .otherwise(col("ts") + jitterNs(col("__r"), col("event_id"))))
      case _ =>
        evFan.withColumn("ts",
          when(col("__r") === 0L, col("ts"))
            .otherwise(timestamp_micros(unix_micros(col("ts").cast("timestamp")) +
              jitterUs(col("__r"), col("event_id")))))
    }
    // hot-key mode: ~30% of ALL event rows collapse onto one channel
    // (deterministic by id hash) — the Zipf head a uniform tiling never
    // produces, for measuring the salting/AQE-skew remedies
    val labeled =
      if (!skewHot) jittered
      else {
        val hot = ev.agg(min(col("event_type"))).head.getString(0)
        jittered.withColumn("event_type",
          when(pmod(xxhash64(col("event_id"), col("__r"), lit("skew")), lit(10L)) < 3L, lit(hot))
            .otherwise(col("event_type")))
      }
    save(labeled
      .withColumn("event_id", col("event_id") + col("__r") * spanE)
      .withColumn("user_id", col("user_id") + col("__r") * spanU)
      .drop("__r"), "events", 8)
    } // !docsOnly

    // documents: replica 0 byte-identical; replicas >0 perturb ~50% of
    // tokens deterministically by (token, r) so same-replica duplicate
    // pairs survive and cross-replica near-dup pairs do not (5-gram
    // shingle survival ≈ 0.5⁵ ≈ 3%, far under every minhash band bar).
    val docs = Tables.documents(spark, inDir)
    val spanD = keySpan(docs, "doc_id")
    val perturbed = fan(docs, replicas)
      .withColumn("text",
        when(col("__r") === 0L, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "), t =>
              when(t =!= "" && pmod(xxhash64(t, col("__r")), lit(2L)) === 0L,
                concat(t, lit("~"), col("__r"))).otherwise(t)),
            " ")))
      // preserve the source column's BIGINT type — length() returns INT
      // and the typed verify red-bars output-type-class drift
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("doc_id", col("doc_id") + col("__r") * spanD)
      .drop("__r")
    // hot-key mode: ~30% of documents collapse onto one source
    val sourced =
      if (!skewHot) perturbed
      else {
        val hotSrc = docs.agg(min(col("source"))).head.getString(0)
        perturbed.withColumn("source",
          when(pmod(xxhash64(col("doc_id"), lit("skew")), lit(10L)) < 3L, lit(hotSrc))
            .otherwise(col("source")))
      }
    // boilerplate mode: ~30% of documents share one injected template
    // block — the dedup family's hot shingle/band bucket
    val boiled =
      if (!boilerHot) sourced
      else sourced
        .withColumn("text",
          when(pmod(xxhash64(col("doc_id"), lit("boiler")), lit(10L)) < 3L,
            concat(lit(BoilerTemplate), lit(" "), col("text")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    save(boiled, "documents", 4)

    // embeddings: driver law is ~4× per decade; per-replica orthogonal
    // transform (dimension permutation + sign flips) keeps unit norms
    // and within-replica geometry, decorrelates replicas.
    val emb = Tables.embeddings(spark, inDir)
    val spanV = keySpan(emb, "vec_id")
    val dims = emb.select(size(col("embedding"))).head.getInt(0)
    val replicaDfs = (0 until embReplicas).map { r =>
      val base = emb.withColumn("vec_id", col("vec_id") + lit(r.toLong * spanV))
      if (r == 0) base
      else {
        val rng = new scala.util.Random(0x5ca1e000L + r)
        val perm = rng.shuffle((0 until dims).toVector)
        val sign = Vector.fill(dims)(if (rng.nextBoolean()) 1.0f else -1.0f)
        base.withColumn("embedding",
          array((0 until dims).map(j =>
            element_at(col("embedding"), perm(j) + 1) * lit(sign(j))): _*)
            .cast("array<float>"))
      }
    }
    save(replicaDfs.reduce(_ unionAll _), "embeddings", 2)
  }
}
