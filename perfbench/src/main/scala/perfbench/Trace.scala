package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval on the tracer's clock (System.nanoTime).
  * `parentKey` is the key of the enclosing span; Spark jobs and stages
  * are parented through the job group or the streaming batch id. */
final class Span(val key: String, val name: String, val layer: String,
    val parentKey: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  val attrs: mutable.Map[String, Double] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Double]()).asScala

  def toMap(t0: Long): Map[String, Any] = Map(
    "key" -> key, "name" -> name, "layer" -> layer, "parent" -> parentKey,
    "start_ms" -> (startNs - t0) / 1e6, "end_ms" -> (endNs - t0) / 1e6,
    "attrs" -> attrs.toMap)
}

/** In-memory span store. With tracing off, spans are still handed out
  * (callers never branch) but nothing is kept. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Convert a Spark event time (epoch ms) to the tracer's clock. */
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def open(name: String, layer: String, parent: String): Span =
    record(new Span(s"s${ids.incrementAndGet()}", name, layer, parent,
      System.nanoTime()))

  def close(s: Span): Unit = s.endNs = System.nanoTime()

  def span[T](name: String, layer: String, parent: String)(body: Span => T): T = {
    val s = open(name, layer, parent)
    try body(s) finally close(s)
  }

  /** A span timed elsewhere (listener events, engine progress reports). */
  def add(key: String, name: String, layer: String, parent: String,
      startNs: Long, endNs: Long, attrs: (String, Double)*): Span = {
    val s = new Span(key, name, layer, parent, startNs)
    s.endNs = endNs
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    record(s)
  }

  private def record(s: Span): Span = { if (on) spans.add(s); s }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Spark job, stage and task counts, registered by the benchmark itself
  * in the traced run only. Jobs are attributed to the job group set by
  * the client (a query span's key) or to the streaming batch id the
  * micro-batch engine stamps on its jobs. */
final class SparkTrace(tracer: Tracer) extends SparkListener {
  private val jobParent = new ConcurrentHashMap[Int, String]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val jobStages = new ConcurrentHashMap[Int, AtomicInteger]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSchedMs = new ConcurrentHashMap[Int, Long]()

  private def parentOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      // the micro-batch engine sets its own job group too; the batch id
      // is the finer attribution
      Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _)
        .orElse(Option(p.getProperty("spark.jobGroup.id")))
    }.getOrElse("unattributed")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobParent.put(e.jobId, parentOf(e.properties))
    jobStartMs.put(e.jobId, e.time)
    jobStages.put(e.jobId, new AtomicInteger(0))
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStartMs.remove(e.jobId)).getOrElse(e.time)
    val stages = Option(jobStages.remove(e.jobId)).map(_.get).getOrElse(0)
    tracer.add(s"job:${e.jobId}", s"job ${e.jobId}", "spark.job",
      Option(jobParent.remove(e.jobId)).getOrElse("unattributed"),
      tracer.fromEpochMs(start), tracer.fromEpochMs(e.time),
      "stages" -> stages.toDouble,
      "failed" -> (if (e.jobResult == JobSucceeded) 0.0 else 1.0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val delay = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
      stageSchedMs.merge(e.stageId, delay, (a: Long, b: Long) => a + b)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = Option(stageJob.get(si.stageId))
    job.foreach(j => Option(jobStages.get(j)).foreach(_.incrementAndGet()))
    val m = si.taskMetrics
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    val start = si.submissionTime.getOrElse(end)
    tracer.add(s"stage:${si.stageId}.${si.attemptNumber()}",
      s"stage ${si.stageId}", "spark.stage",
      job.map(j => s"job:$j").getOrElse("unattributed"),
      tracer.fromEpochMs(start), tracer.fromEpochMs(end),
      "tasks" -> si.numTasks.toDouble,
      "executor_run_ms" -> (if (m == null) 0.0 else m.executorRunTime.toDouble),
      "executor_cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
      "gc_ms" -> (if (m == null) 0.0 else m.jvmGCTime.toDouble),
      "shuffle_read_bytes" ->
        (if (m == null) 0.0 else m.shuffleReadMetrics.totalBytesRead.toDouble),
      "shuffle_write_bytes" ->
        (if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten.toDouble),
      "spill_bytes" -> (if (m == null) 0.0
        else (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble),
      "task_sched_delay_ms" ->
        Option(stageSchedMs.remove(si.stageId)).map(_.toDouble).getOrElse(0.0))
  }
}

/** Planning phase durations (ms) of one action, and when it started. */
final case class Phases(startNs: Long, ms: Map[String, Double])

/** Driver-side planning phases of every action the client session runs
  * (analysis, optimization, physical planning, from the query's own
  * QueryPlanningTracker). Delivered asynchronously; the benchmark
  * attributes each to the query span whose interval holds it. */
final class PlanTrace(tracer: Tracer) extends QueryExecutionListener {
  val seen = new ConcurrentLinkedQueue[Phases]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val start = ph.values.map(_.startTimeMs).min
      seen.add(Phases(tracer.fromEpochMs(start),
        ph.map { case (k, v) => k -> v.durationMs.toDouble }))
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Progress reports of the benchmark's stream, kept in arrival order.
  * Always registered: the offset range of each batch is what maps a
  * ring sequence number to the batch that delivered it. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
