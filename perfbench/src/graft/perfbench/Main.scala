package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark harness, launched by `perfbench/run.py`:
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --run-dir <dir> --cpus <n> --data-dir <dir>
  *        [--records <n> --stream-batch <n> | --queries <family:query,...>]
  * }}}
  *
  * Builds the seeded inputs (timed, several times), warms up untimed,
  * then runs operations closed-loop, one at a time, for `--seconds`.
  * With `--trace 1` a second, traced window follows the untraced one,
  * plus the workload's layer ladders; spans go to `<run-dir>/trace.json`.
  * Writes `<run-dir>/result.json`; the runner adds the oracle checks
  * and prints the result line. */
object Main {

  /** Set-up runs this often and reports its median: the first run also
    * pays class loading and JIT warm-up, which the median leaves out. */
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val traced = opt("trace") == "1"

    val spark = graft.core.Sessions.local(opt("cpus"))
    System.err.println("[perfbench] session started")
    val observer = new Observer(spark)
    val h = new Harness(spark, observer, runDir, opt("seed").toLong,
      opt("seconds").toDouble)
    val w: Workload = workload match {
      case "export_batch" =>
        new ExportBatch(h, opt("records").toLong, opt("stream-batch").toInt)
      case "queries" =>
        val fam = opt("queries").split(",").map { e =>
          val Array(f, q) = e.split(":", 2)
          q -> f
        }
        new Queries(h, opt("data-dir"), fam.map(_._1).toSeq, fam.toMap)
      case other => sys.error(s"unknown workload $other")
    }

    try {
      val setupS = (0 until SetupReps).map(_ => h.timeS(w.setup()))
      System.err.println(s"[perfbench] setup ${setupS.mkString(" ")}")
      w.warm()
      observer.counters.peakExecMem.set(0L)
      val ops = h.window(w)
      observer.drain()
      val peakMb = observer.counters.peakExecMem.get / 1048576.0
      val endToEnd = Stats.endToEnd(ops) ++ Map(
        "setup_s" -> Stats.median(setupS), "peak_exec_mem_mb" -> peakMb,
        "out_bytes_per_in_byte" -> w.outBytesPerInByte)
      var perLayer = Stats.enginePerOp(ops) ++ w.perLayer(ops)
      if (traced) {
        val tracer = new Tracer(spark, s"$workload-${opt("seed")}")
        observer.tracer = tracer
        h.tracer = Some(tracer)
        val tops = tracer.span("window")(h.window(w))
        val (extra, extraTrace) = tracer.span("extras")(w.traceExtras(ops))
        observer.drain()
        observer.tracer = null
        h.tracer = None
        val untracedS = endToEnd("pass_s")
        val tracedS = Stats.endToEnd(tops)("pass_s")
        perLayer = perLayer ++ extra ++ Map(
          "trace.overhead_pct" ->
            (if (untracedS > 0) 100.0 * (tracedS / untracedS - 1) else 0.0))
        val spans = tracer.all
        val self = Tracer.selfTimes(spans)
        val trace = extraTrace ++ Map(
          "run_id" -> tracer.runId,
          "untraced_pass_s" -> untracedS, "traced_pass_s" -> tracedS,
          "self_time_s" -> self.map { case (k, (n, s)) => k -> Map("spans" -> n, "self_s" -> s) },
          "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
            "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent,
            "run_id" -> tracer.runId)))
        Files.writeString(runDir.resolve("trace.json"), Json.render(trace))
      }
      val result = Map(
        "attempted" -> h.attempted, "failed" -> h.failed,
        "correct" -> (h.failed == 0 && h.errors.isEmpty),
        "errors" -> h.errors.toSeq,
        "end_to_end" -> endToEnd, "per_layer" -> perLayer,
        "oracle" -> w.oracle, "ops" -> ops.size)
      Files.writeString(runDir.resolve("result.json"), Json.render(result),
        StandardCharsets.UTF_8)
    } finally spark.stop()
  }
}

object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
