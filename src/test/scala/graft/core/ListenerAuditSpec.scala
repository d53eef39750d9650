package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** One listener in src/main: every Spark-listener reading (task, job
  * and stage counts, executor run time, completed stages) goes through
  * `Metrics.TaskMetricsListener`, attached and drained by
  * `Metrics.instrumented`'s sentinel job. A tool that attaches a
  * listener of its own has to wait for the asynchronous bus by some
  * other means (a sleep, a bus-wide wait) and duplicates the counters;
  * this spec fails on the first such `addSparkListener`.
  */
class ListenerAuditSpec extends AnyFunSuite {

  test("addSparkListener appears in src/main only in pipeline/Metrics.scala") {
    val root = java.nio.file.Path.of("src/main/scala")
    val s = java.nio.file.Files.walk(root)
    val hits = try s.filter(_.toString.endsWith(".scala")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.readString(p).contains("addSparkListener"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
    finally s.close()
    assert(hits.toSet === Set("graft/pipeline/Metrics.scala"),
      "a Spark listener outside Metrics — read it through Metrics.instrumented")
  }
}
