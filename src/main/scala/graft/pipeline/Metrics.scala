package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession

/** Observability surface mirroring the reference's Prometheus metrics
  * (app/configuration/MetricsConfiguration.kt:21-105 — 20+ counters/
  * gauges pushed to a gateway; app/services/impl/
  * PushGatewayServiceImpl.kt:19-41), Spark-first:
  *
  *  - job-level counters/gauges live in a [[MetricsRegistry]] fed from
  *    DATA (writer accounting, skip summaries) — never from
  *    accumulators, which double-count under task retry
  *    (SURVEY §7.4 risk 5);
  *  - executor-side effort (records read, bytes, task time, spills;
  *    jobs and stages) comes from a [[TaskMetricsListener]] on the standard
  *    SparkListener bus — the engine-native replacement for
  *    hand-rolled per-thread counters;
  *  - [[MetricsRegistry.expositionFormat]] renders the Prometheus text
  *    format, so the local file sink is swap-compatible with a real
  *    pushgateway.
  */
object Metrics {

  final class MetricsRegistry {
    private val counters = new ConcurrentHashMap[String, LongAdder]()
    // Boxed values: a ConcurrentHashMap[String, Double] would unbox a
    // missing key's null to 0.0 before Option could see it, making
    // absent gauges indistinguishable from real zeros.
    private val gauges = new ConcurrentHashMap[String, java.lang.Double]()

    def inc(name: String, by: Long = 1L): Unit =
      counters.computeIfAbsent(name, _ => new LongAdder).add(by)
    def setGauge(name: String, v: Double): Unit =
      gauges.put(name, java.lang.Double.valueOf(v))
    def counter(name: String): Long =
      Option(counters.get(name)).map(_.sum).getOrElse(0L)
    def gauge(name: String): Option[Double] =
      Option(gauges.get(name)).map(_.doubleValue)

    /** Prometheus text exposition format (one line per sample). */
    def expositionFormat: String = {
      import scala.jdk.CollectionConverters._
      val cs = counters.asScala.toSeq.sortBy(_._1).map { case (n, v) =>
        s"# TYPE $n counter\n$n ${v.sum}"
      }
      val gs = gauges.asScala.toSeq.sortBy(_._1).map { case (n, v) =>
        s"# TYPE $n gauge\n$n $v"
      }
      (cs ++ gs).mkString("", "\n", "\n")
    }

    /** Local push target (the pushgateway stand-in). */
    def pushTo(path: java.nio.file.Path): Unit =
      java.nio.file.Files.writeString(path, expositionFormat)
  }

  /** Executor-effort metrics off the listener bus. Register with
    * `spark.sparkContext.addSparkListener`, remove when done — or let
    * [[instrumented]] do both and drain it. */
  final class TaskMetricsListener extends SparkListener {
    val recordsRead = new LongAdder
    val bytesRead = new LongAdder
    val recordsWritten = new LongAdder
    val shuffleBytesWritten = new LongAdder
    val executorRunTimeMs = new LongAdder
    val memoryBytesSpilled = new LongAdder
    val tasksCompleted = new LongAdder
    val jobsStarted = new LongAdder
    /** Every completed stage, in completion order. */
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()

    // Sentinel-drain state: the job group whose END signals that every
    // earlier event has been delivered to THIS listener (bus ordering
    // is per-listener FIFO). The sentinel job's own stages are excluded
    // from the metrics.
    @volatile private[Metrics] var sentinelGroup: String = _
    @volatile private[Metrics] var sentinelLatch: CountDownLatch = _
    @volatile private var sentinelJobId: Int = -1
    private val sentinelStages = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
      val group = Option(jobStart.properties)
        .map(_.getProperty("spark.jobGroup.id")).orNull
      if (sentinelGroup != null && sentinelGroup == group) {
        sentinelJobId = jobStart.jobId
        jobStart.stageIds.foreach(id => sentinelStages.add(id))
      } else jobsStarted.increment()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!sentinelStages.contains(e.stageInfo.stageId)) stages.add(e.stageInfo)

    override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit =
      if (jobEnd.jobId == sentinelJobId && sentinelLatch != null)
        sentinelLatch.countDown()

    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
      val m = taskEnd.taskMetrics
      if (m != null && !sentinelStages.contains(taskEnd.stageId)) {
        recordsRead.add(m.inputMetrics.recordsRead)
        bytesRead.add(m.inputMetrics.bytesRead)
        recordsWritten.add(m.outputMetrics.recordsWritten)
        shuffleBytesWritten.add(m.shuffleWriteMetrics.bytesWritten)
        executorRunTimeMs.add(m.executorRunTime)
        memoryBytesSpilled.add(m.memoryBytesSpilled)
        tasksCompleted.increment()
      }
    }

    def fill(reg: MetricsRegistry): Unit = {
      reg.inc("graft_records_read_total", recordsRead.sum)
      reg.inc("graft_bytes_read_total", bytesRead.sum)
      reg.inc("graft_records_written_total", recordsWritten.sum)
      reg.inc("graft_shuffle_bytes_written_total", shuffleBytesWritten.sum)
      reg.inc("graft_executor_run_time_ms_total", executorRunTimeMs.sum)
      reg.inc("graft_memory_bytes_spilled_total", memoryBytesSpilled.sum)
      reg.inc("graft_tasks_completed_total", tasksCompleted.sum)
      reg.inc("graft_jobs_started_total", jobsStarted.sum)
      reg.inc("graft_stages_completed_total", stages.size)
    }
  }

  // ------------------------------------------------ push gateway loop

  /** Push-target seam: a real pushgateway client or the local file
    * stand-in both fit behind it. */
  trait PushTarget {
    def push(groupingKey: Map[String, String], exposition: String): Unit
    def delete(groupingKey: Map[String, String]): Unit
  }

  /** Local pushgateway stand-in: one file per grouping key. */
  final class FilePushTarget(dir: java.nio.file.Path) extends PushTarget {
    private def fileFor(key: Map[String, String]) =
      dir.resolve(key.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("metrics_", "_", ".prom").replaceAll("[^A-Za-z0-9_.=-]", "_"))
    override def push(key: Map[String, String], exposition: String): Unit =
      java.nio.file.Files.writeString(fileFor(key), exposition)
    override def delete(key: Map[String, String]): Unit =
      java.nio.file.Files.deleteIfExists(fileFor(key))
  }

  /** The reference's scheduled metrics pusher
    * (PushGatewayServiceImpl.kt:19-41): a fixed-rate push of the
    * current exposition under a grouping key (type/topic/instance/
    * correlation_id/export_date), a final push that first cancels the
    * schedule, and a post-scrape delete gated on a flag. The scrape
    * wait is an injectable sleeper so tests run without wall-clock
    * stalls. */
  final class PushGatewayScheduler(
      registry: MetricsRegistry,
      target: PushTarget,
      groupingKey: Map[String, String],
      pushRateMs: Long = 20000L,
      initialDelayMs: Long = 10000L,
      deleteOnFinal: Boolean = true,
      scrapeWaitMs: Long = 70000L,
      sleeper: Long => Unit = Thread.sleep) {

    private val executor =
      java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-metrics-push"); t.setDaemon(true); t
      })
    @volatile private var scheduled: java.util.concurrent.ScheduledFuture[_] = _

    def pushMetrics(): Unit = target.push(groupingKey, registry.expositionFormat)

    def start(): Unit = synchronized {
      if (scheduled == null)
        scheduled = executor.scheduleAtFixedRate(() => pushMetrics(),
          initialDelayMs, pushRateMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    }

    def pushFinalMetrics(): Unit = synchronized {
      if (scheduled != null) { scheduled.cancel(false); scheduled = null }
      executor.shutdown()
      pushMetrics()
      deleteMetrics()
    }

    def deleteMetrics(): Unit =
      if (deleteOnFinal) {
        sleeper(scrapeWaitMs) // let the scraper collect the final push
        target.delete(groupingKey)
      }
  }

  /** Run `body` with a task-metrics listener attached; returns (result,
    * registry with executor metrics + whatever `body` recorded).
    *
    * Drain: the listener bus is async, so after `body` returns its
    * task events may still be in flight. A SENTINEL job (own job
    * group, excluded from the metrics) is submitted after `body`; the
    * bus delivers events to each listener in posting order, so when
    * our listener observes the sentinel's JobEnd every event `body`
    * produced has already been delivered. Bounded by a latch await —
    * no sleep-poll, no wall-clock nondeterminism. Pass `listener` to
    * read what the registry does not carry (its completed stages). */
  def instrumented[A](spark: SparkSession,
      listener: TaskMetricsListener = new TaskMetricsListener)(
      body: MetricsRegistry => A): (A, MetricsRegistry) = {
    val reg = new MetricsRegistry
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body(reg)
      val latch = new CountDownLatch(1)
      val group = s"graft-metrics-sentinel-${System.nanoTime()}"
      listener.sentinelLatch = latch
      listener.sentinelGroup = group
      val sc = spark.sparkContext
      sc.setJobGroup(group, "graft metrics listener drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      // A dropped sentinel event (listener-bus stall/overflow) must be
      // DETECTABLE: silently filling the registry would report
      // partial task metrics as complete ones.
      if (!latch.await(30, TimeUnit.SECONDS)) {
        System.err.println(
          "[metrics] listener drain timed out after 30s; task metrics may be incomplete")
        reg.setGauge("graft_metrics_drain_timed_out", 1.0)
      }
      listener.fill(reg)
      (out, reg)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
