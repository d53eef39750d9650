package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters, read from Spark's own listener events.
  *
  * Operations run one at a time, so the counters' change across one
  * operation (read after [[Observer.drain]]) is that operation's use. */
final class Counters {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs = new LongAdder
  val shuffleWriteBytes, spillBytes, recordsRead = new LongAdder
  val analysisMs, optimizationMs, planningMs, execNs = new LongAdder
  val peakExecMem = new AtomicLong

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble,
    "tasks" -> tasks.sum.toDouble,
    "executor_run_s" -> runMs.sum / 1e3, "executor_cpu_s" -> cpuNs.sum / 1e9,
    "gc_s" -> gcMs.sum / 1e3,
    "shuffle_write_bytes" -> shuffleWriteBytes.sum.toDouble,
    "spill_bytes" -> spillBytes.sum.toDouble,
    "records_read" -> recordsRead.sum.toDouble,
    "analysis_s" -> analysisMs.sum / 1e3,
    "optimization_s" -> optimizationMs.sum / 1e3,
    "planning_s" -> planningMs.sum / 1e3, "exec_s" -> execNs.sum / 1e9,
    "compiles" -> Observer.compileCount.toDouble)
}

/** One traced interval. Times are epoch microseconds; `parent` is 0 for
  * a root span. */
final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
    parent: Long)

/** In-memory span recorder. Spans of calls on the calling thread nest
  * through a stack; the span id is also set as a Spark local
  * property so that the jobs a call submits are parented to it. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil
  private val offsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L

  def nowUs(): Long = System.nanoTime() / 1000L + offsetUs
  def newId(): Long = nextId.getAndIncrement()
  def current: Long = stack.headOption.getOrElse(0L)
  def record(s: Span): Unit = spans.add(s)

  def span[A](name: String)(body: => A): A = {
    val id = newId()
    val parent = current
    stack = id :: stack
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
    val start = nowUs()
    try body
    finally {
      record(Span(id, name, start, nowUs(), parent))
      stack = stack.tail
      spark.sparkContext.setLocalProperty(Tracer.SpanKey,
        if (stack.isEmpty) null else stack.head.toString)
    }
  }

  def all: Seq[Span] = {
    val b = Seq.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time per span name: each span's duration minus the part of
    * its interval that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, (Long, Double)] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, (Long, Double)]
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      val self = (s.endUs - s.startUs - covered) / 1e6
      val (n, t) = out.getOrElse(s.name, (0L, 0.0))
      out(s.name) = (n + 1, t + self)
    }
    out.toMap
  }
}

/** Attaches to the session as both a SparkListener (jobs, stages,
  * tasks and their metrics) and a QueryExecutionListener (planning
  * phases of every action). With a tracer set, Spark jobs, stages and
  * tasks are also recorded as spans, parented through the local
  * property the tracer sets before each call. */
final class Observer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  val counters = new Counters
  @volatile var tracer: Tracer = _
  private val jobSpans = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageSpans = new ConcurrentHashMap[Int, Long]()
  private val stageParent = new ConcurrentHashMap[Int, Long]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit =
    org.apache.spark.scheduler.GraftScheduler.waitListenerBusEmpty(
      spark.sparkContext, 60000L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    counters.jobs.increment()
    val t = tracer
    if (t != null) {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)
      val id = t.newId()
      jobSpans.put(e.jobId, (id, e.time * 1000L, parent))
      e.stageIds.foreach(s => stageParent.put(s, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t = tracer
    if (t != null) Option(jobSpans.remove(e.jobId)).foreach {
      case (id, start, parent) =>
        t.record(Span(id, "spark.job", start, e.time * 1000L, parent))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    counters.stages.increment()
    val t = tracer
    val info = e.stageInfo
    if (t != null) {
      val id = stageSpans.computeIfAbsent(info.stageId, _ => t.newId())
      val parent = Option(stageParent.get(info.stageId)).getOrElse(0L)
      t.record(Span(id, "spark.stage",
        info.submissionTime.getOrElse(0L) * 1000L,
        info.completionTime.getOrElse(0L) * 1000L, parent))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    counters.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      counters.runMs.add(m.executorRunTime)
      counters.cpuNs.add(m.executorCpuTime)
      counters.gcMs.add(m.jvmGCTime)
      counters.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      counters.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      counters.recordsRead.add(m.inputMetrics.recordsRead)
      counters.peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
    val t = tracer
    if (t != null) {
      val parent = stageSpans.computeIfAbsent(e.stageId, _ => t.newId())
      t.record(Span(t.newId(), "spark.task", e.taskInfo.launchTime * 1000L,
        e.taskInfo.finishTime * 1000L, parent))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    counters.execNs.add(durationNs)
    val phases = qe.tracker.phases
    def ms(k: String): Long =
      phases.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    counters.analysisMs.add(ms("analysis"))
    counters.optimizationMs.add(ms("optimization"))
    counters.planningMs.add(ms("planning"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Observer {
  /** Janino compilations so far in this JVM (Spark's codegen metric). */
  def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
