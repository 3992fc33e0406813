package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region of the benchmark: one call into a layer. `parent` is the
  * id of the enclosing span (0 at the top); times are epoch milliseconds so
  * spans line up with listener event times.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Double, endMs: Double)

/** Spans, always on: a span costs two clock reads. Nesting is per thread,
  * and a thread that starts an operation on behalf of another names the
  * parent explicitly.
  */
final class Spans {
  private val nextId = new AtomicInteger(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def current: Int = stack.get.headOption.getOrElse(0)

  def apply[T](name: String, layer: String, parent: Int = -1)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val p = if (parent >= 0) parent else current
    val t0 = System.nanoTime(); val wall0 = System.currentTimeMillis().toDouble
    stack.set(id :: stack.get)
    try body finally {
      stack.set(stack.get.tail)
      val dur = (System.nanoTime() - t0) / 1e6
      done.add(Span(id, p, name, layer, wall0, wall0 + dur))
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Executor CPU summed over the tasks of timed regions (jobs whose phase
  * property is "run"); the one listener that stays registered with tracing
  * off, because `cpu_s` is an end-to-end metric.
  */
final class CpuMeter extends SparkListener {
  val cpuNs = new AtomicLong()
  private val timedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(p => p.getProperty(Tracer.PhaseKey) == "run"))
      e.stageIds.foreach(timedStages.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && timedStages.contains(e.stageId))
      cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** The traced run's collector over Spark's public listener surfaces:
  * scheduler events, finished queries' planning trackers and streaming
  * progress. It keeps raw records; `perfbench/layers.py` turns them into
  * the per-layer metrics.
  *
  * A job or stage without both a submission and a completion time is not
  * given a default: it is skipped and counted in `dropped`.
  */
final class Tracer extends SparkListener {
  import Tracer._

  val dropped = new AtomicInteger()
  private val jobStarts = mutable.Map.empty[Int, SparkListenerJobStart]
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId) match {
      case Some(s) if s.time > 0 && e.time > 0 =>
        val props = Option(s.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.add(Job(e.jobId, s.time, e.time, prop(Tracer.OpKey),
          prop(Tracer.PhaseKey), s.stageIds))
      case _ => dropped.incrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    (i.submissionTime, i.completionTime) match {
      case (Some(s), Some(c)) => stages.add(Stage(i.stageId, i.attemptNumber(), s, c, i.numTasks))
      case _ => dropped.incrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || e.taskInfo == null) { dropped.incrementAndGet(); return }
    val r = m.shuffleReadMetrics; val w = m.shuffleWriteMetrics
    tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory, w.bytesWritten,
      r.totalBytesRead, r.recordsRead, r.fetchWaitTime, m.memoryBytesSpilled,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten))
  }

  /** Catalyst phase times of every query that runs an action. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPlan(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPlan(funcName, qe)
  }

  /** Also called directly for plans the benchmark executes itself. Phases
    * carry their own times, so they are matched to operations by time.
    */
  def addPlan(funcName: String, qe: QueryExecution): Unit =
    plans.add(Plan(funcName,
      qe.tracker.phases.toSeq.map { case (k, v) => (k, v.startTimeMs, v.endTimeMs) }))

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L)
      if (dur < 0) dropped.incrementAndGet()
      else progress.add(Progress(p.id.toString, p.batchId, dur, p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** The raw records, tasks as rows under a header to keep the file small. */
  def toJson(spans: Seq[Span]): String = {
    val taskCols = Seq("stage", "dur_ms", "run_ms", "cpu_ns", "gc_ms", "peak_mem",
      "sh_write", "sh_read", "sh_read_recs", "fetch_wait_ms", "spill_mem", "spill_disk",
      "in_bytes", "out_bytes", "out_recs")
    Json(Map(
      "dropped_events" -> dropped.get,
      "spans" -> spans,
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "task_cols" -> taskCols,
      "tasks" -> tasks.asScala.toSeq.map(_.productIterator.toSeq),
      "plans" -> plans.asScala.toSeq.map(p => Map("func" -> p.funcName,
        "phases" -> p.phases.map { case (n, s, e) => Seq(n, s, e) })),
      "stream" -> progress.asScala.toSeq))
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  final case class Job(id: Int, startMs: Long, endMs: Long, group: String, phase: String,
                       stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitMs: Long, doneMs: Long, tasks: Int)
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        peakMem: Long, shWrite: Long, shRead: Long, shReadRecs: Long,
                        fetchWaitMs: Long, spillMem: Long, spillDisk: Long,
                        inBytes: Long, outBytes: Long, outRecs: Long)
  final case class Plan(funcName: String, phases: Seq[(String, Long, Long)])
  final case class Progress(query: String, batch: Long, durMs: Long, inRows: Long,
                            stateRows: Long)

  /** Local properties naming the operation a job belongs to and the part of
    * it. Unlike the job group, which a streaming query replaces with its run
    * id, threads a builder starts inherit them.
    */
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
