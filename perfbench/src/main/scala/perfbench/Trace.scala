package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch microseconds, monotonic within the run. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `parent` is -1 for an op's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startUs: Long, endUs: Long)

/** Counters one op (or the whole window) accumulates. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes = 0L
  var scanFiles, scanBytes, scanRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var expensiveExprs = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; runMs += o.runMs
    schedDelayMs += o.schedDelayMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; inputBytes += o.inputBytes
    scanFiles += o.scanFiles; scanBytes += o.scanBytes; scanRows += o.scanRows
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; expensiveExprs += o.expensiveExprs
  }
}

/** The traced run's recorder: spans opened by the bench around its calls
  * into each layer, plus a SparkListener (jobs, stages, tasks, cached
  * blocks) and a QueryExecutionListener (planning phases, scan-node SQL
  * metrics, expensive expressions in executed plans). Spark jobs are
  * attributed to the innermost open span through the `perfbench.op` and
  * `perfbench.span` local properties; query executions are attributed by
  * time, since ops run one at a time on one thread. Everything stays in
  * memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val OpKey = "perfbench.op"
  private val SpanKey = "perfbench.span"

  private var nextId = 0L
  private val stack = mutable.Stack[Long]()
  private var currentOp = -1L
  val spans = mutable.ArrayBuffer[Span]()
  private val opWindows = mutable.ArrayBuffer[(Long, Long, Long)]()

  /** Runs `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(-1L)
    stack.push(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = Clock.us()
    try body
    finally {
      val t1 = Clock.us()
      stack.pop()
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
      synchronized { spans += Span(id, parent, currentOp, name, t0, t1) }
    }
  }

  /** Runs one op as a root span carrying the op id. */
  def op[T](opId: Long, name: String)(body: => T): T = {
    currentOp = opId
    sc.setLocalProperty(OpKey, opId.toString)
    val t0 = Clock.us()
    try span(name)(body)
    finally {
      synchronized { opWindows += ((opId, t0, Clock.us())) }
      sc.setLocalProperty(OpKey, null)
      currentOp = -1L
    }
  }

  // ---- Spark listener side (listener-bus thread) ----
  private val jobOp = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  private val perOp = new ConcurrentHashMap[Long, Counters]()
  private def countersOf(op: Long): Counters = perOp.computeIfAbsent(op, _ => new Counters)
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  @volatile private var cachedBytes = 0L
  @volatile var cachedPeakBytes = 0L
  @volatile private var markerSeen = false

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = prop(e.properties, OpKey)
    jobOp.put(e.jobId, (op, prop(e.properties, SpanKey), e.time * 1000L))
    e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
    if (op >= 0) countersOf(op).synchronized { countersOf(op).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOp.get(e.jobId)).foreach { case (op, parent, startUs) =>
      if (op == Tracer.MarkerOp) markerSeen = true
      else synchronized {
        spans += Span(-e.jobId - 1L, parent, op, "exec.job", startUs, e.time * 1000L)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.getOrDefault(e.stageInfo.stageId, -1L)
    if (op >= 0) countersOf(op).synchronized { countersOf(op).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrDefault(e.stageId, -1L)
    if (op < 0) return
    val c = countersOf(op)
    c.synchronized {
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // Parquet file scans add only their footer reads here (the
        // self-test bounds it on q01), so task input bytes are the reads
        // of cached and checkpointed blocks; file scan bytes come from the
        // scan nodes' SQL metrics instead.
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        synchronized {
          val before = Option(blockBytes.put(b.name, now)).getOrElse(0L)
          cachedBytes += now - before
          cachedPeakBytes = math.max(cachedPeakBytes, cachedBytes)
        }
      case _ =>
    }
  }

  // ---- query execution listener side ----
  private val seenMetric = new ConcurrentHashMap[Long, Long]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Counters)]()
  private val phaseSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val Expensive = "(?i).*(split|regexp|percentile|tokencount|ngram|shingle).*".r

  private def delta(m: org.apache.spark.sql.execution.metric.SQLMetric): Long = {
    val v = m.value
    val before = Option(seenMetric.put(m.id, v)).getOrElse(0L)
    v - before
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = new Counters
    var startUs = Long.MaxValue
    qe.tracker.phases.foreach { case (name, p) =>
      val ms = p.durationMs
      name match {
        case "analysis" => c.analysisMs += ms
        case "optimization" => c.optimizationMs += ms
        case "planning" => c.planningMs += ms
        case _ =>
      }
      startUs = math.min(startUs, p.startTimeMs * 1000L)
      phaseSpans.add((s"plan.$name", p.startTimeMs * 1000L, p.endTimeMs * 1000L))
    }
    // scans under an in-memory cache count once, when the cache fills:
    // metrics are read as deltas per metric id
    def walk(plan: SparkPlan): Seq[SparkPlan] = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      nodes ++ nodes.collect { case m: InMemoryTableScanExec => walk(m.relation.cachedPlan) }.flatten
    }
    val nodes = walk(qe.executedPlan)
    nodes.foreach {
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").foreach(m => c.scanFiles += delta(m))
        s.metrics.get("filesSize").foreach(m => c.scanBytes += delta(m))
        s.metrics.get("numOutputRows").foreach(m => c.scanRows += delta(m))
      case _ =>
    }
    c.expensiveExprs += nodes.iterator.flatMap(_.expressions).map { e =>
      e.collect { case x if Expensive.matches(x.getClass.getSimpleName) => 1 }.size
    }.sum
    pendingQe.add((if (startUs == Long.MaxValue) Clock.us() else startUs, c))
  }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Waits until every event posted so far reached this listener: the
    * marker job's end arrives after all earlier events on the queue. */
  def drain(): Unit = {
    markerSeen = false
    sc.setLocalProperty(OpKey, Tracer.MarkerOp.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Per-op counters after `drain`, query executions attributed by time. */
  def countersByOp(): Map[Long, Counters] = {
    val windows = synchronized(opWindows.toList)
    pendingQe.asScala.foreach { case (t, c) =>
      windows.find { case (_, a, b) => t >= a - 1000 && t <= b }
        .foreach { case (op, _, _) => countersOf(op).synchronized(countersOf(op).add(c)) }
    }
    pendingQe.clear()
    perOp.asScala.toMap.filter(_._1 >= 0)
  }

  /** Planning-phase intervals as spans, parented to the innermost bench
    * span that covers them. */
  def allSpans(): Seq[Span] = {
    val bench = synchronized(spans.toList)
    val planSpans = phaseSpans.asScala.toList.zipWithIndex.map { case ((n, a, b), i) =>
      val parent = bench.filter(s => s.name != "exec.job" && s.startUs <= a + 1000 && s.endUs >= b - 1000)
        .sortBy(s => s.endUs - s.startUs).headOption
      Span(-1000000L - i, parent.map(_.id).getOrElse(-1L), parent.map(_.op).getOrElse(-1L), n, a, b)
    }
    bench ++ planSpans
  }
}

object Tracer {
  /** Op id of the marker job `drain` runs; never a real op's id. */
  val MarkerOp = -7L
}
