package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: `parent` 0 is a root; times are epoch microseconds. */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "trace" -> trace, "name" -> name, "start_us" -> startUs,
    "end_us" -> endUs, "attrs" -> attrs)
}

/** In-memory spans for the traced passes. The benchmark opens a span
  * around each call into an engine layer and tags the calling thread
  * with it (job group plus a `perfbench.span` local property, which
  * threads the engine starts inherit). A [[SparkListener]] turns every
  * job, stage and task into a child span linked by those tags, so the
  * engine itself carries no tracing code. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val out = new ConcurrentLinkedQueue[Span]()
  private val traceOf = new ConcurrentHashMap[Long, String]()
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()

  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000
  def newId(): Long = ids.incrementAndGet()
  def spans: Seq[Span] = out.asScala.toSeq

  def add(s: Span): Unit = { traceOf.put(s.id, s.trace); out.add(s) }

  /** Runs `body` inside a new span; jobs it submits become its children. */
  def span[T](name: String, trace: String, parent: Long)(body: Long => T): T = {
    val id = newId()
    traceOf.put(id, trace)
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    val prevSpan = sc.getLocalProperty(SpanKey)
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowUs()
    try body(id)
    finally {
      add(Span(id, parent, trace, name, t0, nowUs(), Map.empty))
      sc.clearJobGroup()
      if (prevGroup != null) sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      sc.setLocalProperty(SpanKey, prevSpan)
    }
  }

  // job id -> (span id, parent span id, start us)
  private val jobs = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  // stage id -> job span id
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  // (stage id, attempt) -> stage span id
  private val stageSpan = new ConcurrentHashMap[(Int, Int), Long]()

  private def stageId(stage: Int, attempt: Int): Long =
    stageSpan.computeIfAbsent((stage, attempt), _ => newId())

  private def traceFor(id: Long): String = traceOf.getOrDefault(id, "")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(JobGroupKey)))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)
      .orElse(props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong))
      .getOrElse(0L)
    val id = newId()
    traceOf.put(id, traceFor(parent))
    jobs.put(e.jobId, (id, parent, e.time * 1000))
    e.stageIds.foreach(s => stageJob.put(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (id, parent, start) =>
      add(Span(id, parent, traceFor(id), "job", start, e.time * 1000,
        Map("job_id" -> e.jobId.toDouble)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val parent = stageJob.getOrDefault(i.stageId, 0L)
    val end = i.completionTime.getOrElse(System.currentTimeMillis())
    add(Span(stageId(i.stageId, i.attemptNumber()), parent, traceFor(parent),
      "stage", i.submissionTime.getOrElse(end) * 1000, end * 1000,
      Map("tasks" -> i.numTasks.toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val parent = stageId(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Double): Double =
      m.map(f).getOrElse(0.0)
    add(Span(newId(), parent, traceFor(stageJob.getOrDefault(e.stageId, 0L)),
      "task", info.launchTime * 1000, info.finishTime * 1000, Map(
        "cpu_s" -> metric(_.executorCpuTime / 1e9),
        "run_s" -> metric(_.executorRunTime / 1e3),
        "gc_s" -> metric(_.jvmGCTime / 1e3),
        "in_bytes" -> metric(_.inputMetrics.bytesRead.toDouble),
        "in_rows" -> metric(_.inputMetrics.recordsRead.toDouble),
        "shuffle_write_bytes" -> metric(_.shuffleWriteMetrics.bytesWritten.toDouble),
        "shuffle_read_bytes" -> metric(_.shuffleReadMetrics.totalBytesRead.toDouble),
        "shuffle_fetch_wait_s" -> metric(_.shuffleReadMetrics.fetchWaitTime / 1e3),
        "spill_bytes" -> metric(_.diskBytesSpilled.toDouble),
        "failed" -> (if (info.successful) 0.0 else 1.0))))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-"
  val SpanKey = "perfbench.span"
  val JobGroupKey = "spark.jobGroup.id"
}

/** Micro-batch progress of every stream the workload runs, traced or not
  * (its durations are the streaming layer's own breakdown), as
  * `stream.batch` spans. A batch is tied to the query that started its
  * stream: `onQueryStarted` runs on the stream's thread, which inherited
  * the starter's local properties, before the stream runs any batch. */
final class StreamBatches(sc: SparkContext) extends StreamingQueryListener {
  import StreamingQueryListener._

  /** Set by the benchmark around each query execution: (pass, query). */
  @volatile var current: (Int, String) = (-1, "")

  private val runs = new ConcurrentHashMap[java.util.UUID, ((Int, String), Long)]()
  private val out = new ConcurrentLinkedQueue[Map[String, Any]]()

  def batches: Seq[Map[String, Any]] = out.asScala.toSeq

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val span = Option(sc.getLocalProperty(Tracer.SpanKey)).map(_.toLong).getOrElse(0L)
    runs.put(e.runId, (current, span))
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ((pass, query), span) = runs.getOrDefault(p.runId, (current, 0L))
    def d(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
    out.add(Map("name" -> "stream.batch", "pass" -> pass, "query" -> query,
      "parent" -> span, "batch_id" -> p.batchId, "start_us" -> start,
      "end_us" -> (start + (d("triggerExecution") * 1000).toLong),
      "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
      "wal_commit_ms" -> d("walCommit"), "planning_ms" -> d("queryPlanning"),
      "commit_offsets_ms" -> d("commitOffsets"),
      "input_rows" -> p.numInputRows,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
