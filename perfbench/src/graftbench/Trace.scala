package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the span that caused it (0: none);
  * times are epoch microseconds so harness spans and Spark listener
  * events, which carry epoch milliseconds, share one axis. */
final case class Span(
    id: Int, parent: Int, name: String, layer: String, kind: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty) {
  def json: String = Serialization.write(Map(
    "id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
    "kind" -> kind, "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs))(DefaultFormats)
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Spans recorded around the harness's calls into graft, kept in memory
  * and written out once at the end. The open span's id travels to Spark
  * as a local property, so every job (including AQE stage jobs submitted
  * from other threads, which inherit local properties) names the span
  * that caused it. Disabled, `span` is a plain call. */
final class Tracer(sc: SparkContext) {
  val SpanProperty = "graftbench.span"
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(1)
  @volatile private var stack: List[Int] = Nil

  def current: Int = stack.headOption.getOrElse(0)
  def newId(): Int = ids.getAndIncrement()
  def record(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)

  def span[T](name: String, layer: String, kind: String,
      attrs: => Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = Clock.nowUs
      try body
      finally {
        val t1 = Clock.nowUs
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
        record(Span(id, parent, name, layer, kind, t0, t1, attrs))
      }
    }
}

/** Scheduler, compute, shuffle and source counters from task and stage
  * events, plus one `scheduler` span per job. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = new ConcurrentHashMap[Int, (Long, Int)]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  // per finished stage: (task time, max task / median task)
  private val stragglers = mutable.ArrayBuffer.empty[(Double, Double)]

  private def add(k: String, v: Double): Unit = synchronized { counters(k) += v }

  def snapshot(): Map[String, Double] = synchronized {
    val tw = stragglers.map(_._1).sum
    val ratio = if (tw > 0) stragglers.map { case (w, r) => w * r }.sum / tw else 1.0
    counters.toMap + ("compute.straggler_ratio" -> ratio)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobStart.put(e.jobId, (e.time * 1000L, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    add("scheduler.jobs", 1)
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
      tracer.record(Span(tracer.newId(), parent, s"job ${e.jobId}", "scheduler",
        "job", t0, math.max(t0, e.time * 1000L)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("scheduler.stages", 1)
    val id = e.stageInfo.stageId
    stageSubmit.remove(id)
    synchronized {
      stageTasks.remove(id).filter(_.size >= 2).foreach { ds =>
        val sorted = ds.sorted
        val median = sorted(sorted.size / 2).toDouble
        if (median > 0) stragglers += ((ds.sum.toDouble, sorted.last / median))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("scheduler.tasks", 1)
    val info = e.taskInfo
    val submitted = stageSubmit.getOrDefault(e.stageId, info.launchTime)
    add("scheduler.task_wait_ms", math.max(0L, info.launchTime - submitted).toDouble)
    synchronized {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
    val m = e.taskMetrics
    if (m != null) {
      add("compute.task_s", m.executorRunTime / 1e3)
      add("compute.cpu_s", m.executorCpuTime / 1e9)
      add("compute.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("sources.rows_read", m.inputMetrics.recordsRead.toDouble)
      add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
    }
  }
}

/** Driver phases of every executed query, from its QueryPlanningTracker. */
final class PlanListener extends QueryExecutionListener {
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Shuffle exchanges in the final plan of the last query executed. */
  @volatile var lastExchanges = 0
  def snapshot(): Map[String, Double] = synchronized(counters.toMap)

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, summary) =>
      counters(s"driver.${phase}_ms") += summary.durationMs.toDouble
    }
    lastExchanges = Plans.exchanges(qe.executedPlan)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

/** One `streaming` span per microbatch, ending when its progress is
  * reported; its phase durations ride along as attributes. */
final class BatchListener(tracer: Tracer) extends StreamingQueryListener {
  import scala.jdk.CollectionConverters._
  // onQueryStarted runs synchronously inside start(), so the open span
  // is the one that started the query
  @volatile private var parent = 0
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    parent = tracer.current
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp)
    val t0 = start.getEpochSecond * 1000000L + start.getNano / 1000L
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    tracer.record(Span(tracer.newId(), parent, s"batch ${p.batchId}", "streaming",
      "batch", t0, t0 + p.batchDuration * 1000L, phases))
  }
}

/** Listeners are registered only for the traced part of a traced run. */
final class Tracing(spark: SparkSession) {
  val tracer = new Tracer(spark.sparkContext)
  val jobs = new JobListener(tracer)
  val plans = new PlanListener
  val batches = new BatchListener(tracer)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(batches)
    tracer.enabled = true
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def counters(): Map[String, Double] = { drain(); jobs.snapshot() ++ plans.snapshot() }
}

object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

  /** ShuffleExchangeExec nodes, looking through AQE's final plan and its
    * query stages (both are leaves to a plain `collect`). */
  def exchanges(p: SparkPlan): Int = p.collect {
    case _: ShuffleExchangeExec => 1
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
  }.sum
}
