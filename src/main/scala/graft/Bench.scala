package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall seconds at the
  * SPARK_GRAFT_SF_DIR scale factor.
  *
  * A full untimed warmup pass runs first at sf0.001 so the timed pass
  * measures steady-state execution (codegen compilation, parquet
  * reader + shuffle machinery initialization, and JIT otherwise land
  * on whichever query happens to run first and distort it by seconds).
  *
  * Noise defenses (a one-sample bench is not defensible evidence):
  *  - each query is timed SPARK_GRAFT_BENCH_REPS times (default 3) and
  *    reports the per-query MINIMUM — the run least polluted by page
  *    cache misses, GC pauses, or co-tenant load;
  *  - a GC is requested between reps; no operator caches (a scope pin
  *    lives while its result reads it), so every rep starts from the
  *    same state apart from the session's shared Intermediates;
  *  - driver heap is pinned by build.sbt's javaOptions (-Xmx from
  *    SPARK_DRIVER_MEM, default 8g) rather than inherited ambience.
  *  - the JSON carries the box's BOOT ID plus TWO fixed calibration
  *    stamps: a single-thread splitmix loop (calib_sec — cross-boot
  *    speed) and the same loop run on all cpus threads at once
  *    (calib_par_sec — parallel throughput). Same-code totals have
  *    measured 15-25% swings across VM boots and ~2× inflation under
  *    co-tenant load that leaves calib_sec NORMAL (rounds 4 and 6);
  *    a record is trustworthy only when boot_id matches and
  *    calib_par_sec ≈ calib_sec (quiet box).
  *
  * Record gate (round-14 lesson: a full-registry record taken after
  * hours of rehearsal benching on the same boot read 1.44× of the
  * prior round while per-query restamps showed 2-4× inflation —
  * drift-contaminated, unusable as a baseline):
  *  - calib_par is measured BEFORE and AFTER the timed pass; if a
  *    rolling reference is available (bench/calib_ref.json, overridable
  *    via SPARK_GRAFT_CALIB_REF seconds) and either stamp deviates
  *    more than 15% from it, the record is REFUSED — written to
  *    `<out>.rejected` with "calib_ok":false instead of the record
  *    path, so a contaminated stamp can never silently become the
  *    round's baseline;
  *  - when a prior full record is supplied (SPARK_GRAFT_BENCH_REF=
  *    path), queries whose time inflated past 1.3× of the reference
  *    (and are > 0.2 s there — sub-noise-grain timings swing freely)
  *    are auto-RESTAMPED with another min-of-reps pass before the
  *    record persists, top 10 worst first; the final time is the min
  *    across both passes and the restamped ids are recorded in the
  *    JSON ("restamped") so the record documents its own salvage.
  */
object Bench {

  /** At most this many inflated queries are restamped (worst first). */
  private val RestampN = 10

  private def splitmixLoop(): Long = {
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0L
    while (i < 400000000L) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    acc
  }

  /** Fixed single-thread splitmix64 workload (~1 s): a pure-CPU yard
    * stick for cross-boot comparisons.
    */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    val acc = splitmixLoop()
    val sec = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) Console.err.println("calibration sentinel") // defeat DCE
    sec
  }

  /** The SAME splitmix workload run simultaneously on `n` threads —
    * wall time until the slowest finishes. On a quiet box with ≥ n
    * free cores this ≈ calib_sec; co-tenant load steals parallel
    * throughput that a single-thread probe cannot see (rounds 4 and 6
    * both recorded ~2× query inflation at a NORMAL calib_sec), so
    * calib_par ≫ calib_sec flags a contended record.
    */
  private def calibratePar(n: Int): Double = {
    val accs = new java.util.concurrent.atomic.AtomicLong(0L)
    val threads = (0 until n).map { _ =>
      val th = new Thread(() => { accs.addAndGet(splitmixLoop()): Unit })
      th.setDaemon(true)
      th
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    val sec = (System.nanoTime() - t0) / 1e9
    if (accs.get() == 42L) Console.err.println("calibration sentinel") // defeat DCE
    sec
  }

  /** Gate-grade parallel stamp: JIT-warmed, self-noise-quiesced,
    * min-of-3. The stamp's job is measuring AMBIENT (co-tenant) load,
    * and three JVM-side transients masquerade as it:
    *  - C2 compilation landing inside the timed region when the stamp
    *    is the JVM's first splitmixLoop execution (measured 0.93-1.02
    *    cold vs 0.74-0.83 warm on the same quiet boot) — one untimed
    *    single-thread pass compiles the loop;
    *  - first-touch heap expansion on a big-heap launch (a 24g fork's
    *    FIRST parallel pass read 1.23 on an idle box, its post stamp
    *    0.68) — one DISCARDED parallel pass absorbs it;
    *  - the GC/kernel page-reclaim tail right after a heavy shuffle
    *    pass (post stamp read 1.07 on an idle box with
    *    kvfree_rcu_reclaim workers still draining) — System.gc() plus
    *    a short settle lets the cleanup finish outside the timed
    *    region. Genuine co-tenant load spanning the whole stamp still
    *    reads hot through all of this: the discard/settle absorbs a
    *    few seconds of JVM transient, not a competing process.
    */
  private def calibrateParStable(n: Int): Double = {
    val warm = splitmixLoop()
    if (warm == 42L) Console.err.println("calibration sentinel") // defeat DCE
    System.gc()
    calibratePar(n) // discarded: absorbs heap-expansion / reclaim transient
    Thread.sleep(2000)
    Seq(calibratePar(n), calibratePar(n), calibratePar(n)).min
  }

  /** The tail-surviving summary: everything the driver's comparison
    * needs (total, calibration stamps, gate verdict) in one flat JSON
    * object guaranteed under 300 chars — no per-query map, no nesting,
    * values rounded to 3 decimals.
    */
  private[graft] def compactSummary(total: Double, nQueries: Int, sfDir: String,
      boot: String, calib: Double, calibPar: Double, calibParPre: Double,
      calibOk: Boolean, cpus: Int): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir",""" +
      f""""n_queries":$nQueries,"boot_id":"$boot","calib_sec":$calib%.3f,""" +
      f""""calib_par_sec":$calibPar%.3f,"calib_par_pre_sec":$calibParPre%.3f,""" +
      f""""calib_ok":$calibOk,"calib_par_threads":$cpus}"""

  private def bootId(): String =
    try {
      val p = java.nio.file.Paths.get("/proc/sys/kernel/random/boot_id")
      new String(java.nio.file.Files.readAllBytes(p)).trim
    } catch { case _: Throwable => "unknown" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    // reducer count sizes to the DATA, not the core count: a cluster
    // deployment runs thousands of shuffle partitions so per-partition
    // hash-join builds and sorts fit in executor memory, and the
    // decade rehearsals (5M docs on one box) need the same lever —
    // 32 partitions at sf100docs put ~160k docs' exploded streams in
    // each shuffle-hash build and OOM ("not enough memory to build
    // hash map"). Default stays cpus for the sf0.1 record.
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").map(_.toInt).getOrElse(cpus)
    val spark = LocalSession.builder(cpus, shuffleParts).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Execute the ACTUAL physical plan: df.count() would wrap the plan
    // in a count aggregate, letting Catalyst eliminate the output sorts
    // and prune computed columns — measuring a cheaper plan than Verify
    // runs. toRdd materializes every row of the plan as-is.
    def execute(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Unit = {
      fn(spark, dir).queryExecution.toRdd.count(): Unit
    }

    // optional focus set for profiling single queries
    // (SPARK_GRAFT_BENCH_ONLY=dedup_clusters,dedup_minhash)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }

    // the PRE gate stamp runs BEFORE the warmup pass: its job is
    // detecting co-tenant load on the box before we start, and the
    // warmup itself leaves a JIT-compile/GC backlog (hundreds of
    // codegen classes) that measured +20% on the parallel loop for a
    // while after — self-noise the per-query min-of-reps already
    // defends, not ambient contamination the gate should refuse on
    val calibParPre = calibrateParStable(cpus)

    val warmupDir = "/root/testdata/sf0.001"
    selected.foreach { case (_, fn) =>
      try execute(fn, warmupDir)
      catch { case _: Throwable => () }
    }

    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3).max(1)
    def stamp(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val times = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val ok =
          try { execute(fn, sfDir); true }
          catch { case _: Throwable => false }
        // failed queries report -1 instead of masquerading as fast runs
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      if (times.contains(-1.0)) -1.0 else times.min
    }

    // the rolling quiet-boot parallel-calibration reference: env wins,
    // else the committed bench/calib_ref.json ({"calib_par_sec": S,
    // "calib_par_threads": N}) — the file's stamp only applies when
    // this run uses the SAME thread count (calib_par scales with it)
    val calibRef: Option[Double] = sys.env.get("SPARK_GRAFT_CALIB_REF").map(_.toDouble).orElse {
      try {
        val p = java.nio.file.Paths.get("bench/calib_ref.json")
        if (java.nio.file.Files.exists(p)) {
          val s = new String(java.nio.file.Files.readAllBytes(p))
          def num(k: String) =
            ("\"" + k + "\"\\s*:\\s*([0-9.eE+-]+)").r.findFirstMatchIn(s).map(_.group(1).toDouble)
          num("calib_par_threads") match {
            case Some(t) if t.toInt == cpus => num("calib_par_sec")
            case _ => None
          }
        } else None
      } catch { case _: Throwable => None }
    }
    calibRef.foreach { ref =>
      if (math.abs(calibParPre - ref) / ref > 0.15)
        Console.err.println(
          f"[bench] WARNING: pre-pass calib_par $calibParPre%.3f s deviates >15%% from reference $ref%.3f s — box not quiet, record will be refused")
    }

    val first = selected.map { case (name, fn) => name -> stamp(name, fn) }

    // per-query reference record (a prior bench_full JSON): restamp the
    // worst inflations min-of-reps before persisting
    val benchRef: Map[String, Double] = sys.env.get("SPARK_GRAFT_BENCH_REF").map { path =>
      try {
        val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
        val q = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
        "\"([^\"]+)\"\\s*:\\s*(-?[0-9.eE+-]+)".r.findAllMatchIn(q)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case e: Throwable => Console.err.println(s"[bench] ref record unreadable: ${e.getMessage}"); Map.empty[String, Double] }
    }.getOrElse(Map.empty)
    val outliers = first
      .flatMap { case (name, t) =>
        benchRef.get(name).collect {
          case ref if ref > 0.2 && t > 0 && t / ref > 1.3 => (name, t / ref)
        }
      }
      .toSeq.sortBy(-_._2).take(RestampN).map(_._1)
    val results = first.map { case (name, t) =>
      if (outliers.contains(name)) {
        val t2 = stamp(name, selected(name))
        name -> (if (t < 0 || t2 < 0) math.max(t, t2) else math.min(t, t2))
      } else name -> t
    }
    if (outliers.nonEmpty)
      Console.err.println(s"[bench] restamped ${outliers.size} outliers vs reference: ${outliers.mkString(", ")}")

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val calib = calibrate()
    val calibPar = calibrateParStable(cpus)
    // the gate: BOTH the pre- and post-pass parallel stamps must sit
    // within 15% of the rolling reference for the record to persist
    val calibOk = calibRef.forall(ref =>
      math.abs(calibParPre - ref) / ref <= 0.15 && math.abs(calibPar - ref) / ref <= 0.15)
    val restampedJson = outliers.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""boot_id":"${bootId()}","calib_sec":$calib,"calib_par_sec":$calibPar,""" +
        s""""calib_par_pre_sec":$calibParPre,"calib_ok":$calibOk,"restamped":$restampedJson,""" +
        s""""calib_par_threads":$cpus}"""
    println(line)
    // The driver keeps only the LAST 2000 chars of stdout; the full
    // record line above is ~8 KB at 276 queries, so its opening brace —
    // and with it the whole JSON — has been truncated out of every
    // driver artifact since round 12 (BENCH_r12..r15 all read
    // "parsed": null). Print a COMPACT summary as the FINAL stdout
    // line (~250 chars, no per-query map) so a complete, parseable
    // JSON object always survives the tail. The full line stays for
    // any consumer that reads whole stdout, and the complete record
    // still persists to SPARK_GRAFT_BENCH_OUT below.
    println(compactSummary(total, results.size, sfDir, bootId(), calib, calibPar,
      calibParPre, calibOk, cpus))
    // the driver's artifact truncates to the last 2000 chars of stdout,
    // which loses most of the per-query record — persist the COMPLETE
    // line to a file too so cross-round comparisons can diff every query
    try {
      // default under target/ so the artifact never lands in the repo
      // root where it could be committed by accident — per-round
      // records are deliberate bench_full_r{N}.json copies
      val requested = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
      )
      // contaminated stamps are REFUSED the record path: they land in
      // `<out>.rejected` so the round baseline stays trustworthy
      val out =
        if (calibOk) requested
        else requested.resolveSibling(requested.getFileName.toString + ".rejected")
      if (!calibOk)
        Console.err.println(
          f"[bench] REFUSED record (calib_par pre=$calibParPre%.3f post=$calibPar%.3f vs ref=${calibRef.getOrElse(Double.NaN)}%.3f, >15%% off) -> $out")
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent): Unit
      java.nio.file.Files.writeString(out, line + "\n"): Unit
    }
    catch { case e: Throwable => Console.err.println(s"[bench] file write failed: ${e.getMessage}") }
    spark.stop()
  }
}
