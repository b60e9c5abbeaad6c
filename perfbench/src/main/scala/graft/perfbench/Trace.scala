package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed interval of one operation. `op` is the operation's identifier
  * (and its Spark job group); `parent` names the enclosing span of the
  * same operation, empty for the operation's root span.
  */
final case class Span(op: String, name: String, parent: String, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory span buffer. When disabled, `span` only runs its body, so
  * the untraced run pays nothing for it. Spans are written out once, when
  * the run ends.
  */
final class Tracer(val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()

  def span[A](op: String, name: String, parent: String = "")(f: => A): A =
    if (!enabled) f
    else {
      val t0 = Clock.now()
      try f
      finally spans.synchronized(spans += Span(op, name, parent, t0, Clock.now()))
    }

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(
        s"""{"op":${Json.str(s.op)},"name":${Json.str(s.name)},"parent":${Json.str(s.parent)},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
      )
    } finally w.close()
  }
}

/** Work Spark's engine did for one job group (one request, trigger or
  * pipeline pass).
  */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var maxTaskMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs); schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill; gcMs += o.gcMs
  }
}

/** The harness's own SparkListener: counts jobs, stages and task metrics
  * per job group. Structured Streaming runs each micro-batch under the
  * query's job group, so jobs carrying a batch id are keyed
  * `trigger-<batchId>` instead.
  */
final class EngineListener extends SparkListener {
  private val byKey = mutable.HashMap[String, Work]()
  private val stageKey = mutable.HashMap[Int, String]()
  private var open = 0

  private def keyOf(props: java.util.Properties): String =
    Option(props)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map(b => s"trigger-$b")
        .orElse(Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("")

  private def work(k: String): Work = byKey.getOrElseUpdate(k, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    work(k).jobs += 1
    e.stageInfos.foreach(s => stageKey(s.stageId) = k)
    open += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(open -= 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (!stageKey.contains(e.stageInfo.stageId)) stageKey(e.stageInfo.stageId) = keyOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageKey.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageKey.getOrElse(e.stageId, ""))
    w.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.runMs += m.executorRunTime
      w.maxTaskMs = math.max(w.maxTaskMs, info.duration)
      // the UI's scheduler delay: task wall time not spent deserializing,
      // running, serializing the result or shipping it back
      w.schedDelayMs += math.max(
        0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
      )
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.gcMs += m.jvmGCTime
    }
  }

  /** Wait (bounded) until every started job has ended and the event
    * stream has been quiet for a moment, so the counts are complete.
    */
  def settle(sc: SparkContext, maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var quiet = 0
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      val seen = synchronized(byKey.values.map(_.tasks).sum + open * 1000000L)
      val busy = synchronized(open > 0) || sc.statusTracker.getActiveJobIds().nonEmpty
      if (!busy && seen == last) quiet += 1 else quiet = 0
      last = seen
      Thread.sleep(50)
    }
  }

  def workFor(keys: Iterable[String]): Work = synchronized {
    val w = new Work
    keys.flatMap(byKey.get).foreach(w.add)
    w
  }
}

/** Collects every progress report of the streaming queries. */
final class ProgressListener extends StreamingQueryListener {
  val progress: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
