package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Host counters read at span boundaries in a traced run. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** Machine-wide hypervisor steal in ms (field 8 of /proc/stat's cpu line,
    * 100 jiffies per second); -1 where unavailable. */
  def stealMs(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toLong * 10L else -1L
    } finally src.close()
  } catch { case _: Exception => -1L }

  def processCpuMs(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1000000L
    case _ => -1L
  }

  /** Peak resident set of this process in kB (VmHWM), -1 where unavailable. */
  def peakRssKb(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Exception => -1L }

  def counters(): Map[String, Long] =
    Map("steal_ms" -> stealMs(), "process_cpu_ms" -> processCpuMs())
}

/** One timed call. Times are ms since the trace origin. */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String) {
  var startMs: Double = 0
  var endMs: Double = 0
  var ok: Boolean = true
  var error: String = ""
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var before: Map[String, Long] = Map.empty
  var after: Map[String, Long] = Map.empty
}

/** Spans for one workload run, kept in memory and written out at the end.
  *
  * Every run records its spans' names and times: the end-to-end metrics are
  * read off them. Only a traced run also reads host counters at each
  * boundary and tags Spark jobs with the span that submitted them (the
  * [[StageTally]] listener attributes stages and tasks by that tag).
  */
final class Trace(val spark: SparkSession, val traced: Boolean) {
  val id: String = java.util.UUID.randomUUID().toString
  val originEpochMs: Long = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private val nextId = new AtomicInteger(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  def epochMs(t: Double): Double = originEpochMs + t

  /** Runs `body` as a span under `parent` (0 for a root). A throwing body
    * marks the span failed and rethrows. `counted` reads the host counters
    * at its boundaries even in an untraced run. */
  def span[T](name: String, layer: String, parent: Span = null, counted: Boolean = false)(
      body: Span => T): T = {
    val s = new Span(nextId.getAndIncrement(), Option(parent).fold(0)(_.id), name, layer)
    spans.add(s)
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Trace.SpanProp)
    if (traced || counted) s.before = Host.counters()
    if (traced) sc.setLocalProperty(Trace.SpanProp, s.id.toString)
    s.startMs = nowMs
    try body(s)
    catch { case e: Throwable =>
      s.ok = false
      s.error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      throw e
    } finally {
      s.endMs = nowMs
      if (traced || counted) s.after = Host.counters()
      if (traced) sc.setLocalProperty(Trace.SpanProp, outer)
    }
  }

  /** Like [[span]] but a failure is recorded, not rethrown. */
  def attempt(name: String, layer: String, parent: Span = null)(body: Span => Unit): Boolean =
    try { span(name, layer, parent)(body); true }
    catch { case _: Throwable => false }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Trace {
  /** Spark local property carrying the id of the span that submits a job. */
  val SpanProp = "perfbench.span"

  /** Waits until the listener bus has delivered every posted event, so
    * listener state is complete. `listenerBus` is private[spark] in source
    * but public in bytecode, hence the reflection. */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus")
      .map(_.invoke(sc)).getOrElse(return)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }
}

/** Per-span totals of the Spark work a span submitted. */
final class Tally {
  var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead, spill, gcMs,
      peakMem, recordsWritten, recordsRead = 0L
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_run_ms" -> runMs,
    "task_cpu_ms" -> cpuNs / 1000000L, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill, "gc_ms" -> gcMs,
    "peak_exec_mem_bytes" -> peakMem, "records_written" -> recordsWritten,
    "records_read" -> recordsRead)
}

/** Attributes jobs, stages and task metrics to the span whose id the
  * submitting thread carried in [[Trace.SpanProp]]. */
final class StageTally extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Tally]()
  private def tally(span: Int) = bySpan.computeIfAbsent(span, _ => new Tally)

  def get(span: Int): Option[Tally] = Option(bySpan.get(span))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .filter(_.nonEmpty).map(_.toInt).foreach { span =>
        val t = tally(span); t.synchronized(t.jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val t = tally(span); t.synchronized(t.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span == 0 || m == null) return
    val t = tally(span)
    t.synchronized {
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.gcMs += m.jvmGCTime
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      t.recordsWritten += m.outputMetrics.recordsWritten
      t.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** Keeps the executed plan of the latest successful action, so a traced
  * run can count the exchanges in AQE's final plan. */
final class LastPlan extends QueryExecutionListener {
  private val last = new AtomicReference[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last.set(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Option[QueryExecution] = Option(last.getAndSet(null))
}

object Plans {
  /** Shuffle exchanges in a plan, looking through AQE to its final plan. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}

/** Every micro-batch's progress, as Spark reports it. */
final class ProgressLog extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val state = p.stateOperators.toSeq
    batches.add(Map(
      "run_id" -> p.runId.toString,
      "batch_id" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> state.map(_.numRowsTotal).sum,
      "state_rows_updated" -> state.map(_.numRowsUpdated).sum,
      "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark).sum,
      "state_custom" -> state.flatMap(_.customMetrics.asScala)
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.longValue).sum }))
  }
  def forRun(runId: String): Seq[Map[String, Any]] =
    batches.asScala.toSeq.filter(_("run_id") == runId).sortBy(_("batch_id").asInstanceOf[Long])
}
