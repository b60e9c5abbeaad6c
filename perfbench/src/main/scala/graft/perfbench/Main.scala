package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What a workload's measured phase reports back. */
final case class Outcome(attempted: Long, failed: Long)

trait Workload {

  /** One preparation round: generate the inputs and build what the
    * workload reads. Rounds are repeated so their time is a median; the
    * last round's inputs are the ones measured.
    */
  def prepare(round: Int): Unit

  /** Warm the JIT and Spark's caches with operations outside the
    * measured request stream.
    */
  def warmup(): Unit

  /** The measured phase, its output checks and its metrics. */
  def run(): Outcome
}

/** Everything a workload needs from the harness. */
final class Ctx(
  val spark: SparkSession,
  val seed: Long,
  val seconds: Double,
  val traced: Boolean,
  val cores: Int,
  work: java.io.File
) {
  val rec = new Record
  val tracer = new Tracer(traced)
  val listener: Option[EngineListener] =
    if (traced) Some(new EngineListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)

  def workDir(name: String): java.io.File = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d
  }
}

/** Entry point of the benchmark JVM. Arguments:
  *
  *   --workload eeg_viewer|eeg_ingest|corpus_curation --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE --launch-ms EPOCH_MS
  *   --cores N --spans FILE
  *
  * Writes one JSON record to FILE; the launcher turns it into the result.
  */
object Main {

  /** Preparation rounds per run; set-up time takes their median. */
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new java.io.File(args("work"))
    val cores = args("cores").toInt
    val launchMs = args("launch-ms").toLong

    val spark = graft.GraftSession
      .builder(cores)
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new java.io.File(work, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0

    val ctx = new Ctx(spark, seed, seconds, traced, cores, work)
    val wl: Workload = workload match {
      case "eeg_viewer" => new Viewer(ctx)
      case "eeg_ingest" => new Ingest(ctx)
      case "corpus_curation" => new Curation(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    // set-up time = session start + median preparation round + warm-up
    val prepS = (0 until SetupRounds).map(r => Clock.timed(wl.prepare(r))._2)
    val warmS = Clock.timed(wl.warmup())._2
    ctx.rec.put("setup_s", sessionS + Stats.median(prepS) + warmS, "s")
    ctx.rec.fact("setup_session_s", sessionS)
    ctx.rec.fact("setup_prepare_rounds_s", prepS.map(s => f"$s%.3f").mkString(" "))
    ctx.rec.fact("setup_warmup_s", warmS)

    // a measured phase that throws still reports: every operation failed
    val out =
      try wl.run()
      catch {
        case e: Exception =>
          ctx.rec.error(s"measured phase failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          Outcome(1, 1)
      }
    if (traced) ctx.tracer.write(new java.io.File(args("spans")))
    val json = ctx.rec.toJson(workload, seed, traced, out.attempted, out.failed, ctx.rec.errors.isEmpty)
    val w = new java.io.PrintWriter(new java.io.File(args("out")), "UTF-8")
    try w.println(json)
    finally w.close()
    spark.stop()
  }
}
