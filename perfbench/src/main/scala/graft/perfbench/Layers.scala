package graft.perfbench

import graft.functions.{Butterworth, MinhashHash}
import graft.sources.{BinarySegments, SegmentProto}
import graft.streaming.RealtimeResample.Segment
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec

/** Layer measurements taken from outside the engine: plan metrics of the
  * executed plan, the listener's counts per operation and kernel
  * throughput on workload-sized arrays.
  */
object Layers extends AdaptiveSparkPlanHelper {

  /** Run a DataFrame's physical plan as-is (no count rewrite) and return
    * its row count.
    */
  def execute(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Sum of a file-scan metric over the executed plan, subqueries and
    * adaptive stages included.
    */
  def scanMetric(plan: SparkPlan, name: String): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s.metrics.get(name).map(_.value).getOrElse(0L) }.sum

  /** Bytes held by cached and checkpointed blocks right now. */
  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  /** The `spark.*` metrics, per operation, for the operations whose job
    * groups are `keys` and which took `wallS` seconds in total.
    */
  def sparkMetrics(rec: Record, w: Work, ops: Int, wallS: Double, cores: Int, storage: Seq[Long]): Unit = {
    val n = math.max(ops, 1).toDouble
    rec.put("spark.jobs", w.jobs / n, "count")
    rec.put("spark.stages", w.stages / n, "count")
    rec.put("spark.tasks", w.tasks / n, "count")
    rec.put("spark.task_cpu_s", w.cpuNs / 1e9 / n, "s")
    rec.put("spark.task_run_s", w.runMs / 1e3 / n, "s")
    rec.put("spark.max_task_s", w.maxTaskMs / 1e3, "s")
    rec.put("spark.scheduler_delay_s", w.schedDelayMs / 1e3 / n, "s")
    rec.put("spark.cpu_util", if (wallS > 0) w.cpuNs / 1e9 / (wallS * cores) else 0.0, "ratio")
    rec.put("spark.shuffle_write_bytes", w.shuffleWrite / n, "bytes")
    rec.put("spark.shuffle_read_bytes", w.shuffleRead / n, "bytes")
    rec.put("spark.spill_bytes", w.spill / n, "bytes")
    rec.put("spark.gc_s", w.gcMs / 1e3 / n, "s")
    rec.put("spark.storage_mem_bytes", if (storage.isEmpty) 0.0 else storage.sum.toDouble / storage.length, "bytes")
  }

  /** Calls per second of `f`, over at least `minS` seconds. */
  private def rate(minS: Double)(f: => Unit): Double = {
    f // warm
    var calls = 0L
    val t0 = Clock.now()
    var el = 0.0
    while (el < minS) { f; calls += 1; el = Clock.secs(t0, Clock.now()) }
    calls / el
  }

  /** Kernel throughput on arrays the size of the workload's blocks:
    * `blockSamples` samples per filter block and per blob, `points`
    * pixels per segment frame, `shingles` shingles per document.
    */
  def functionMetrics(rec: Record, blockSamples: Int, blobBytes: Array[Byte], points: Int, shingles: Int): Unit = {
    val rnd = new scala.util.Random(blockSamples.toLong)
    val block = Array.fill(math.max(blockSamples, 1))(rnd.nextGaussian())
    val cascade = Butterworth.bandStop(4, Gen.Rate, 50.0, 3.0)
    val pad = Butterworth.transientLength(4, 53.0, Gen.Rate)
    rec.put("functions.butterworth_sps", rate(0.3)(Butterworth.filterBlock(cascade, block, pad)) * block.length, "1/s")
    val blobSamples = BinarySegments.decodeBlob(blobBytes).length
    rec.put("functions.decode_sps", rate(0.3)(BinarySegments.decodeBlob(blobBytes)) * blobSamples, "1/s")
    val seg = Segment("a<->b", Gen.T0Us, 16000.0, 16000L, isMinMax = true, "continuous", points,
      Seq.fill(points * 2)(rnd.nextGaussian()))
    rec.put("functions.encode_sps", rate(0.3)(SegmentProto.encodeTimeSeriesMessage(seg)) * points, "1/s")
    val sh = Array.tabulate(math.max(shingles, 1))(i => s"w${rnd.nextInt(5000)} w${rnd.nextInt(5000)} w$i")
    rec.put("functions.minhash_sigs_per_s", rate(0.3)(MinhashHash.signature(sh)), "1/s")
  }

  /** Every per-layer metric, set to zero; a workload then overwrites the
    * layers it exercises, so each traced record names every metric.
    */
  def zeros(rec: Record): Unit = {
    Seq("plans.build_s", "plans.plan_s", "sources.read_s", "operators.grid_montage_s", "operators.filter_s",
      "operators.downsample_s", "operators.segments_s", "operators.unit_s", "operators.exact_s",
      "operators.minhash_s", "operators.components_s", "operators.tokenize_s", "operators.pack_s",
      "streaming.add_batch_s", "streaming.query_planning_s", "streaming.wal_commit_s",
      "streaming.commit_offsets_s", "streaming.trigger_s", "streaming.generator_late_s",
      "trace.overhead_s").foreach(rec.put(_, 0.0, "s"))
    Seq("sources.blobs_read", "sources.samples_decoded", "sources.frames", "operators.docs_in",
      "operators.docs_kept", "operators.candidate_pairs", "operators.verified_pairs",
      "streaming.rows_per_batch", "streaming.backlog_rows", "streaming.state_rows").foreach(rec.put(_, 0.0, "count"))
    Seq("sources.bytes_read", "sources.wire_bytes", "streaming.state_mem_bytes").foreach(rec.put(_, 0.0, "bytes"))
    Seq("operators.lsh_precision", "functions.filter_kernel_share", "trace.overhead_frac").foreach(rec.put(_, 0.0, "ratio"))
  }
}
