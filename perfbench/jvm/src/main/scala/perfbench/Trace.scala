package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation share `op`;
  * `parent` is the enclosing span (-1 at an operation's root). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span: jobs, stages and tasks run, and
  * the stages' summed task metrics. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    spillBytes += o.spillBytes
  }
}

/** One executed query as Catalyst reported it: when planning started,
  * the summed analysis/optimization/planning phases, and the number and
  * bytes of the files its scans read (the scans' own metrics: task
  * input metrics miss reads that parquet's vectored IO issues from
  * other threads). */
final case class Planned(startMs: Long, planMs: Double, filesRead: Long, bytesRead: Long)

/** Span recorder plus the listeners that count Spark's work per span.
  *
  * Until [[start]], it only runs the wrapped code: the untraced run
  * pays for nothing but a branch. Started, every span tags the jobs it starts
  * with a local property, so a `SparkListener` can attribute jobs,
  * stages and task metrics to the exact span that caused them, and a
  * `QueryExecutionListener` reads each query's planning phases from
  * `QueryExecution.tracker` (nothing is planned twice to measure it).
  * Listener events arrive asynchronously; [[stop]] waits for them. */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanProp

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1

  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val planned = new java.util.concurrent.ConcurrentLinkedQueue[Planned]()
  private val events = new AtomicLong()

  private def counters(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val s = spanOf(e.properties)
      counters(s).synchronized { counters(s).jobs += 1 }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val info = e.stageInfo
      val c = counters(stageSpan.getOrDefault(info.stageId, -1))
      val m = info.taskMetrics
      c.synchronized {
        c.stages += 1
        c.tasks += info.numTasks
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        def metric(name: String) = scans.map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
        planned.add(Planned(phases.map(_.startTimeMs).min,
          phases.map(_.durationMs).sum.toDouble, metric("numFiles"), metric("filesSize")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  @volatile private var on = false
  def enabled: Boolean = on

  /** Registers the listeners; spans record from here on. */
  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  /** Waits for the listeners to see every event posted so far, then
    * unregisters them; spans become pass-through again. */
  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    on = false
  }

  /** Runs `body` as operation `op`: spans opened inside belong to it. */
  def op[T](op: Int, name: String)(body: => T): T = {
    currentOp = op
    try span(name)(body) finally currentOp = -1
  }

  /** Runs `body` inside a span named `name`, a child of the open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      open = id :: open
      val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans += Span(id, parent, currentOp, name, n0, System.nanoTime(),
                      m0, System.currentTimeMillis())
        open = open.tail
        sc.setLocalProperty(SpanProp, outer)
      }
    }

  /** Waits until the listeners have seen every event posted so far
    * (no new event for 300 ms, at most 10 s). */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    var last = -1L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  def allSpans: Seq[Span] = spans.toSeq
  def countersOf(span: Int): Counters = Option(bySpan.get(span)).getOrElse(new Counters)
  def plannedQueries: Seq[Planned] = planned.asScala.toSeq
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** A span's duration minus the part of it its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val covered = children.sortBy(_.startNs).foldLeft((0L, span.startNs)) {
      case ((sum, from), c) =>
        val s = math.max(c.startNs, from)
        val e = math.min(c.endNs, span.endNs)
        if (e > s) (sum + (e - s), e) else (sum, from)
    }._1
    (span.endNs - span.startNs - covered) / 1e6
  }
}
