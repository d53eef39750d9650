package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Metrics surface spec (reference: MetricsConfiguration.kt counters +
  * PushGatewayServiceImpl push loop): executor effort off the listener
  * bus, job counters from data, Prometheus exposition output. */
class MetricsSpec extends SparkSuite {

  test("instrumented pipeline run yields task + data metrics and exposition output") {
    val ((nOk, nSkipped), reg) = Metrics.instrumented(spark) { reg =>
      val out = ExportPipeline.run(
        Fixture.generate(spark, 500, corrupt = true), Fixture.Topic,
        Fixture.keyService)
      val summary = ExportPipeline.skipSummary(out).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // job-level counters come from DATA (not accumulators)
      reg.inc("graft_records_exported_total", summary.getOrElse("ok", 0L))
      summary.filterNot(_._1 == "ok").foreach { case (k, v) =>
        reg.inc(s"graft_records_skipped_total", v)
      }
      (summary("ok"), summary.filterNot(_._1 == "ok").values.sum)
    }
    assert(nOk == 485 && nSkipped == 15)
    assert(reg.counter("graft_records_exported_total") == 485)
    assert(reg.counter("graft_records_skipped_total") == 15)
    assert(reg.counter("graft_tasks_completed_total") > 0)
    assert(reg.counter("graft_executor_run_time_ms_total") > 0)

    val expo = reg.expositionFormat
    assert(expo.contains("# TYPE graft_records_exported_total counter"))
    assert(expo.contains("graft_records_exported_total 485"))

    val target = Files.createTempFile("graft-metrics", ".prom")
    reg.pushTo(target)
    assert(Files.readString(target).contains("graft_tasks_completed_total"))
  }

  test("jobs, stages and tasks count the body's work, not the drain's sentinel job") {
    val (_, reg) = Metrics.instrumented(spark)(_ =>
      spark.sparkContext.parallelize(1 to 10, 2).count())
    assert(reg.counter("graft_jobs_started_total") === 1)
    assert(reg.counter("graft_stages_completed_total") === 1)
    assert(reg.counter("graft_tasks_completed_total") === 2)
  }

  test("gauges and repeated counter increments") {
    val reg = new Metrics.MetricsRegistry
    reg.inc("c", 2); reg.inc("c", 3)
    reg.setGauge("g", 1.5); reg.setGauge("g", 2.5)
    assert(reg.counter("c") == 5)
    assert(reg.gauge("g").contains(2.5))
    assert(reg.expositionFormat.contains("# TYPE g gauge\ng 2.5"))
  }

  private class RecordingTarget extends Metrics.PushTarget {
    val pushes = new scala.collection.mutable.ListBuffer[String]
    @volatile var deleted = 0
    override def push(key: Map[String, String], exposition: String): Unit =
      synchronized { pushes += exposition }
    override def delete(key: Map[String, String]): Unit = deleted += 1
  }

  private val groupingKey = Map("type" -> "full", "topic" -> "db.database.collection",
    "instance" -> "local", "correlation_id" -> "cid", "export_date" -> "2020-06-05")

  test("push loop pushes at the fixed rate until the final push cancels it " +
      "(PushGatewayServiceImpl.kt:19-41)") {
    val reg = new Metrics.MetricsRegistry
    reg.inc("graft_test_counter", 7)
    val target = new RecordingTarget
    val svc = new Metrics.PushGatewayScheduler(reg, target, groupingKey,
      pushRateMs = 20, initialDelayMs = 0, scrapeWaitMs = 0, sleeper = _ => ())
    svc.start()
    val deadline = System.nanoTime() + 5_000_000_000L
    while (target.synchronized(target.pushes.size) < 2 && System.nanoTime() < deadline)
      Thread.`yield`()
    assert(target.synchronized(target.pushes.size) >= 2, "scheduled pushes missing")
    svc.pushFinalMetrics()
    val after = target.synchronized(target.pushes.size)
    assert(target.pushes.last.contains("graft_test_counter 7"))
    assert(target.deleted == 1, "final push must delete the grouping key")
    Thread.sleep(100)
    assert(target.synchronized(target.pushes.size) == after,
      "schedule must stop after the final push")
  }

  test("delete-on-final is gated on the flag") {
    val reg = new Metrics.MetricsRegistry
    val target = new RecordingTarget
    val svc = new Metrics.PushGatewayScheduler(reg, target, groupingKey,
      deleteOnFinal = false, scrapeWaitMs = 0, sleeper = _ => ())
    svc.pushFinalMetrics()
    assert(target.pushes.size == 1 && target.deleted == 0)
  }

  test("file push target writes and deletes one exposition file per grouping key") {
    val dir = Files.createTempDirectory("graft-pushgw")
    val target = new Metrics.FilePushTarget(dir)
    val reg = new Metrics.MetricsRegistry
    reg.inc("x", 1)
    target.push(groupingKey, reg.expositionFormat)
    val files = Files.list(dir).toArray
    assert(files.length == 1)
    assert(Files.readString(files(0).asInstanceOf[java.nio.file.Path]).contains("x 1"))
    target.delete(groupingKey)
    assert(Files.list(dir).count() == 0)
  }
}
