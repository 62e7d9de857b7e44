package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program's layers. With
  * tracing off `span` is a plain call; with it on, every span records
  * (name, start, end, parent, request) in memory and tags the Spark jobs
  * its thread submits with the span name (a SparkContext local property),
  * so scheduler and executor work can be charged to the layer that
  * caused it. */
object Trace {
  @volatile var on = false
  @volatile private var sc: SparkContext = _
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, req: Long,
                        startNs: Long, endNs: Long)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def enable(context: SparkContext): Unit = { sc = context; on = true }

  def forRequest[T](req: Long)(body: => T): T = {
    request.set(req)
    try body finally request.set(-1L)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set((id, name) :: outer)
      sc.setLocalProperty(SpanProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, outer.headOption.map(_._1).getOrElse(0L),
          request.get(), t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(SpanProperty, outer.headOption.map(_._2).orNull)
      }
    }

  /** Finished spans named `name` that started at or after `sinceNs`. */
  def named(name: String, sinceNs: Long): Seq[Span] =
    spans.asScala.filter(s => s.name == name && s.startNs >= sinceNs).toSeq
}

/** Listener-side counters, kept per layer (the innermost span that
  * submitted the job; "other" when none did). Reset at the start of a
  * measured phase, read after the listener bus has drained. */
final class Counters {
  val jobs, stages, tasks, jobNs, taskWaitNs, taskWaits = new LongAdder
  val runMs, cpuNs, gcMs, bytesRead = new LongAdder
  val shuffleRead, shuffleWrite, spillMem, spillDisk, resultBytes = new LongAdder
}

object Listen extends SparkListener {
  private val layers = new ConcurrentHashMap[String, Counters]()
  private val jobLayer = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  def layer(name: String): Counters = layers.computeIfAbsent(name, _ => new Counters)
  def reset(): Unit = { layers.clear(); jobLayer.clear(); jobStart.clear() }

  /** Sum one counter over every layer. */
  def total(f: Counters => LongAdder): Long = layers.values.asScala.map(f(_).sum).sum

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .getOrElse("other")
    jobLayer.put(e.jobId, name)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageLayer.put(_, name))
    val c = layer(name)
    c.jobs.increment()
    c.stages.add(e.stageInfos.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    val name = jobLayer.remove(e.jobId)
    if (t0 != null && name != null) layer(name).jobNs.add((e.time - t0) * 1000000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageSubmit.remove(e.stageInfo.stageId)
    stageLayer.remove(e.stageInfo.stageId)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val submitted = stageSubmit.get(e.stageId)
    val c = layer(stageLayer.getOrDefault(e.stageId, "other"))
    c.tasks.increment()
    if (submitted != null) {
      c.taskWaitNs.add((e.taskInfo.launchTime - submitted) * 1000000L)
      c.taskWaits.increment()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = layer(stageLayer.getOrDefault(e.stageId, "other"))
    c.runMs.add(m.executorRunTime)
    c.cpuNs.add(m.executorCpuTime)
    c.gcMs.add(m.jvmGCTime)
    c.bytesRead.add(m.inputMetrics.bytesRead)
    c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
    c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
    c.spillMem.add(m.memoryBytesSpilled)
    c.spillDisk.add(m.diskBytesSpilled)
    c.resultBytes.add(m.resultSize)
  }
}

/** Catalyst phase times from each executed QueryExecution's planning
  * tracker, counted once per QueryExecution (a prepared plan that runs
  * again is not re-planned), and the rows its scan leaves produced.
  * Registered for every session through the static
  * `spark.sql.queryExecutionListeners` conf. */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Catalyst.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Catalyst.record(qe)
}

object Catalyst extends AdaptiveSparkPlanHelper {
  /** Scan rows already charged per QueryExecution: a plan that runs again
    * keeps adding to the same SQL metrics, so each run adds the increase. */
  private val seen = new java.util.WeakHashMap[QueryExecution, java.lang.Long]()
  val queries, analysisMs, optimizationMs, planningMs, planChars, scanRows = new LongAdder

  def reset(): Unit = Seq(queries, analysisMs, optimizationMs, planningMs, planChars, scanRows)
    .foreach(_.reset())

  /** Rows produced by the plan's table scans (cached relations, files,
    * v2 sources), after zone-map and partition pruning: the rows a query
    * actually read, unlike the input metrics of a cached block, which
    * count one record per cached batch. */
  def scannedRows(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case s @ (_: InMemoryTableScanExec | _: DataSourceScanExec | _: DataSourceV2ScanExecBase) =>
      s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum

  def record(qe: QueryExecution): Unit = {
    val rows = scannedRows(qe.executedPlan)
    val before = seen.synchronized(seen.put(qe, rows))
    scanRows.add(rows - (if (before == null) 0L else before.longValue))
    if (before == null) {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      queries.increment()
      analysisMs.add(ms("analysis"))
      optimizationMs.add(ms("optimization"))
      planningMs.add(ms("planning"))
      planChars.add(qe.executedPlan.toString.length)
    }
  }
}

/** JVM-side gauges: GC time, and the live heap after a full collection
  * (the cached working set plus retained plans) at the checkpoints a
  * workload calls. Explicit collections keep the number independent of
  * when the collector happened to run. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  @volatile private var peakLive = 0L

  /** Full collection, then record the heap still in use. Collected
    * broadcasts and shuffles free their blocks only after Spark's cleaner
    * sees them gone, so a second collection follows a short pause. */
  def checkpoint(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    peakLive = math.max(peakLive, rt.totalMemory - rt.freeMemory)
  }

  def peakLiveMb: Double = peakLive / 1048576.0
}
