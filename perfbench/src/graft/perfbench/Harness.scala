package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: an export, a micro-batch or a query execution.
  * `records` is the input it processed; `eng` the change of the engine
  * and service counters across it. */
final case class Op(name: String, ns: Long, ok: Boolean, records: Double,
    eng: Map[String, Double])

/** A workload: its inputs are built by `setup` (timed, repeated),
  * `warm` runs untimed operations until caches and JIT are warm, and
  * `op(i)` runs the i-th timed operation. */
trait Workload {
  def minOps: Int
  /** Operations in one pass; a window ends on a pass boundary. */
  def passOps: Int = 1
  def setup(): Unit
  def warm(): Unit
  def op(i: Int): Op
  /** Per-layer metrics from the untraced timed operations. */
  def perLayer(ops: Seq[Op]): Map[String, Double]
  /** Extra per-layer measurements of the traced run (ladders, the
    * count() gap); the second value goes to the trace file. */
  def traceExtras(ops: Seq[Op]): (Map[String, Double], Map[String, Any]) =
    (Map.empty, Map.empty)
  /** Queries whose verified output the runner checks against DuckDB. */
  def oracle: Seq[Map[String, Any]] = Nil
  /** Bytes one pass writes per byte of the input it reads. */
  def outBytesPerInByte: Double
}

final class Harness(val spark: SparkSession, val observer: Observer,
    val runDir: Path, val seed: Long, val seconds: Double) {

  var tracer: Option[Tracer] = None
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def dir(name: String): Path = Files.createDirectories(runDir.resolve(name))

  def fail(msg: String): Unit = {
    if (errors.size < 50) errors += msg
    System.err.println(s"[perfbench] $msg")
  }

  private def engine(): Map[String, Double] =
    observer.counters.snapshot() ++
      ServiceCounters.snapshot().map { case (k, v) => s"svc.$k" -> v }

  /** Runs one operation closed-loop: waits for the listener bus before
    * and after (outside the timed interval), counts it as attempted,
    * and counts an exception or a failed check as a failed operation.
    * `body` returns whether its output checked out and the input
    * records it processed. */
  def op(name: String)(body: => (Boolean, Double)): Op = {
    observer.drain()
    val before = engine()
    attempted += 1
    val t0 = System.nanoTime()
    val (ok, records) =
      try tracer.fold(body)(_.span(name)(body))
      catch {
        case e: Throwable =>
          fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          (false, 0.0)
      }
    val ns = System.nanoTime() - t0
    observer.drain()
    val after = engine()
    if (!ok) failed += 1
    System.err.println(f"[perfbench] $name%s ${ns / 1e6}%.1f ms${if (ok) "" else " FAILED"}%s")
    Op(name, ns, ok, records, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
  }

  /** Runs `w`'s operations until `seconds` have passed, at least
    * `w.minOps` operations ran and the last pass is complete. */
  def window(w: Workload): Seq[Op] = {
    val out = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var i = 0
    while (out.size < w.minOps || out.size % w.passOps != 0 ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      out += w.op(i)
      i += 1
    }
    out.toSeq
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The end-to-end time and throughput metrics, computed alike for
    * every workload from its successful timed operations. A pass is
    * one operation of each name (one export, or every query once); its
    * time and input are sums over names. Each name's time is its best repetition in the
    * run: on a shared machine noise only adds time (CPU steal comes in
    * bursts), so the best of k estimates the program's own time, and
    * the median over runs handles what is left. */
  def endToEnd(ops: Seq[Op]): Map[String, Double] = {
    val byName = ops.filter(_.ok).groupBy(_.name).values.toSeq
    val ms = byName.map(v => v.map(_.ns / 1e6).min)
    val passS = ms.sum / 1e3
    Map(
      "pass_s" -> passS,
      "op_geomean_ms" ->
        (if (ms.isEmpty) 0.0 else math.exp(ms.map(math.log).sum / ms.size)),
      "records_per_s" ->
        (if (passS > 0) byName.map(v => median(v.map(_.records))).sum / passS else 0.0))
  }

  /** Engine metrics per successful operation. */
  def enginePerOp(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    def m(k: String) = mean(ok.map(_.eng.getOrElse(k, 0.0)))
    Map(
      "spark.jobs" -> m("jobs"), "spark.stages" -> m("stages"),
      "spark.tasks" -> m("tasks"),
      "spark.executor_run_s" -> m("executor_run_s"),
      "spark.executor_cpu_s" -> m("executor_cpu_s"),
      "spark.gc_s" -> m("gc_s"),
      "spark.shuffle_write_bytes" -> m("shuffle_write_bytes"),
      "spark.spill_bytes" -> m("spill_bytes"),
      "catalyst.analysis_s" -> m("analysis_s"),
      "catalyst.optimization_s" -> m("optimization_s"),
      "catalyst.planning_s" -> m("planning_s"),
      "exec_s" -> m("exec_s"),
      "codegen.compiles" -> m("compiles"))
  }
}
