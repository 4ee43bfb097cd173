package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every span: epoch microseconds, advanced by nanoTime,
  * so spans the benchmark times and spans Spark reports (epoch ms) land
  * on the same axis.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A span: what ran, when, and which span caused it. `parent` 0 is the
  * root. Jobs of streaming micro-batches carry their query id and batch
  * id in `key` and are linked to the batch span when the trace is
  * written.
  */
final case class Span(id: Long, parent: Long, name: String, startUs: Long,
    endUs: Long, key: String = "")

/** In-memory span store, written once when the run ends. */
final class Spans {
  private val seq = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = seq.incrementAndGet()
  def add(s: Span): Unit = { done.add(s); () }
  def time[T](parent: Long, name: String)(body: Long => T): T = {
    val id = nextId()
    val t0 = Clock.nowUs
    try body(id) finally add(Span(id, parent, name, t0, Clock.nowUs))
  }
  def all: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.startUs, s.id))
}

/** The local property that ties a Spark job to the benchmark span that
  * submitted it.
  */
object SpanProperty {
  val Key = "perfbench.span"
  def under[T](spark: SparkSession, span: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, span.toString)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** Engine counters from the scheduler's own events: jobs, stages and
  * tasks, and task metrics summed over every task that ended while the
  * listener was registered.
  */
final class EngineListener(spans: Spans) extends SparkListener {
  val counters: Map[String, LongAdder] = Seq(
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.task_failures", "executor.run_ms", "executor.cpu_ns",
    "executor.gc_ms", "executor.deserialize_ms", "shuffle.read_bytes",
    "shuffle.write_bytes", "shuffle.fetch_wait_ms", "scan.bytes",
    "scan.records", "spill.memory_bytes", "spill.disk_bytes", "write.bytes",
    "write.records").map(_ -> new LongAdder).toMap
  private def add(k: String, v: Long): Unit = counters(k).add(v)
  private val open = new ConcurrentHashMap[Int, (Long, Long, String)]()

  private def parentOf(p: Properties): (Long, String) =
    if (p == null) (0L, "")
    else {
      val span = Option(p.getProperty(SpanProperty.Key)).map(_.toLong).getOrElse(0L)
      val q = p.getProperty("sql.streaming.queryId")
      val b = p.getProperty("streaming.sql.batchId")
      (span, if (q != null && b != null) s"$q/$b" else "")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("scheduler.jobs", 1)
    val (parent, key) = parentOf(e.properties)
    open.put(e.jobId, (e.time * 1000L, parent, key))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (start, parent, key) =>
      spans.add(Span(spans.nextId(), parent, s"job ${e.jobId}", start,
        e.time * 1000L, key))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("scheduler.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("scheduler.tasks", 1)
    if (e.reason != Success) add("scheduler.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ns", m.executorCpuTime)
      add("executor.gc_ms", m.jvmGCTime)
      add("executor.deserialize_ms", m.executorDeserializeTime)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("scan.bytes", m.inputMetrics.bytesRead)
      add("scan.records", m.inputMetrics.recordsRead)
      add("spill.memory_bytes", m.memoryBytesSpilled)
      add("spill.disk_bytes", m.diskBytesSpilled)
      add("write.bytes", m.outputMetrics.bytesWritten)
      add("write.records", m.outputMetrics.recordsWritten)
    }
  }
}

/** Driver phases and cached-relation scans of every finished query
  * execution (batch actions; streaming micro-batches report their
  * planning time through progress instead).
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val counters: Map[String, LongAdder] = Seq("driver.analysis_ms",
    "driver.optimization_ms", "driver.planning_ms", "session_stages.cache_scans")
    .map(_ -> new LongAdder).toMap

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => counters(s"driver.${p}_ms").add(s.durationMs))
    }
    counters("session_stages.cache_scans").add(
      collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Every progress event of every streaming query, plus one span per
  * query (start to termination) and per executed micro-batch.
  */
final class ProgressListener(spans: Spans) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val started = new ConcurrentHashMap[String, Long]()
  /** query id → span id, for linking micro-batches to their leg. */
  val querySpan = new ConcurrentHashMap[String, Long]()
  /** "queryId/batchId" → micro-batch span id, for linking jobs. */
  val batchSpan = new ConcurrentHashMap[String, Long]()
  @volatile var parent: Long = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    started.put(e.id.toString, Clock.nowUs)
    querySpan.put(e.id.toString, spans.nextId())
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add(p)
    if (p.durationMs.containsKey("addBatch")) {
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      val id = spans.nextId()
      batchSpan.put(s"${p.id}/${p.batchId}", id)
      spans.add(Span(id, querySpan.getOrDefault(p.id.toString, 0L),
        s"batch ${p.batchId}", startUs,
        startUs + p.durationMs.get("triggerExecution") * 1000L))
    }
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    val q = e.id.toString
    spans.add(Span(querySpan.getOrDefault(q, spans.nextId()), parent, s"query $q",
      started.getOrDefault(q, Clock.nowUs), Clock.nowUs))
  }
}

/** The listeners of a traced run. `Tracer.attach(spark, enabled =
  * false)` registers nothing, which is what every untraced run calls.
  */
final class Tracer private (spark: SparkSession) {
  val spans = new Spans
  val engine = new EngineListener(spans)
  val plans = new PlanListener
  val progress = new ProgressListener(spans)
  @volatile private var on = false
  /** The workload's span: the parent of every traced pass. */
  private val root = spans.nextId()
  private val startUs = Clock.nowUs

  def install(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    spark.streams.addListener(progress)
    on = true
  }
  def remove(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(progress)
    on = false
  }
  def drain(): Unit = PerfbenchAccess.drain(spark.sparkContext)

  /** Run one pass with the listeners registered; the pass's span is the
    * parent of what it causes (the body gets its id).
    */
  def pass[T](label: String)(body: Long => T): T = {
    install()
    val id = spans.nextId()
    progress.parent = id
    val t0 = Clock.nowUs
    try body(id) finally {
      spans.add(Span(id, root, label, t0, Clock.nowUs))
      remove()
    }
  }

  /** The workload span (from attach until now) and every span, with
    * streaming jobs linked to their micro-batch.
    */
  def linkedSpans(workload: String): Seq[Span] =
    Span(root, 0L, workload, startUs, Clock.nowUs) +: spans.all.map { s =>
      if (s.parent == 0L && s.key.nonEmpty)
        s.copy(parent = progress.batchSpan.getOrDefault(s.key, 0L))
      else s
    }
}

object Tracer {
  def attach(spark: SparkSession, enabled: Boolean): Option[Tracer] =
    if (enabled) Some(new Tracer(spark)) else None

  /** The benchmark's own listeners registered on the three buses the
    * tracer uses (Spark registers and keeps some of its own per
    * streaming query; those are not counted).
    */
  def listenerCount(spark: SparkSession): Int =
    (PerfbenchAccess.sparkListeners(spark.sparkContext) ++
      PerfbenchAccess.executionListeners(spark) ++
      spark.streams.listListeners().toSeq)
      .count(_.getClass.getName.startsWith("perfbench."))

  /** Self time outside jobs: each span's duration minus the part of it
    * its job children cover, summed over the given parent spans.
    */
  def outsideJobsUs(all: Seq[Span], parents: Set[Long]): Long = {
    val jobs = all.filter(s => parents.contains(s.parent) && s.name.startsWith("job "))
      .groupBy(_.parent)
    all.filter(s => parents.contains(s.id)).map { p =>
      val ivs = jobs.getOrElse(p.id, Nil)
        .map(j => (math.max(j.startUs, p.startUs), math.min(j.endUs, p.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      (p.endUs - p.startUs) - covered
    }.sum
  }
}
