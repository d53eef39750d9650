package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.GraftScheduler
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.pipeline.Metrics

/** Driver-phase profiler for the query surface. Per selected query:
  * one untimed warm pass (JIT, fixtures, managed caches, PlanMemo),
  * then `reps` timed reps, each split into
  *   - build: query-fn construction (a memo hit is `ofRows` plus the
  *     eager analysis); `construct_jobs` reads the scheduler's
  *     synchronous job counter as PlanMemo's purity probe does: 0 on a
  *     hit, > 0 on an impure or still-cold construction
  *   - prep:  the query's own QueryExecution up to the executed plan
  *   - exec:  full compute of that QueryExecution (`toRdd.count()`:
  *     every column of every row, nothing pruned)
  * plus its Catalyst tracker phases, codegen compiles, and the rep's
  * jobs, stages, tasks and executor run time from
  * [[Metrics.instrumented]]'s sentinel-drained listener. Each stage of
  * 100 ms or more and each streaming micro-batch's progress print a
  * line of their own.
  *
  * Usage: `sbt "runMain graft.tools.Profile <sfDir> [prefix,...] [reps]"`
  * (default: every query, 1 rep). One CSV row per query and rep on
  * stderr, the aggregate footer on stdout.
  */
object Profile {

  final case class Rep(query: String, rep: Int, rows: Long, wall: Double,
      build: Double, prep: Double, exec: Double, analysis: Double,
      optimization: Double, planning: Double, compiles: Long,
      constructJobs: Long, jobs: Long, stages: Long, tasks: Long,
      runMs: Long) {
    def csv: String = productIterator.map {
      case d: Double => f"$d%.4f"
      case x => x.toString
    }.mkString(",")
  }

  private val CsvHeader = "query,rep,rows,wall_s,build_s,prep_s,exec_s," +
    "analysis_s,optimization_s,planning_s,compiles,construct_jobs,jobs," +
    "stages,tasks,run_ms"

  /** One timed rep of `name`; prints its stages of 100 ms or more. */
  def rep(spark: SparkSession, sfDir: String, name: String, i: Int): Rep = {
    val sc = spark.sparkContext
    val listener = new Metrics.TaskMetricsListener
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val (r, reg) = Metrics.instrumented(spark, listener) { _ =>
      val (c0, j0) = (compiles.getCount, GraftScheduler.jobsSubmitted(sc))
      val t0 = System.nanoTime()
      val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
      val t1 = System.nanoTime()
      val constructJobs = GraftScheduler.jobsSubmitted(sc) - j0
      qe.executedPlan
      val t2 = System.nanoTime()
      val rows = qe.toRdd.count()
      val t3 = System.nanoTime()
      def ph(k: String): Double = qe.tracker.phases.get(k)
        .map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      Rep(name, i, rows, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9, ph("analysis"), ph("optimization"), ph("planning"),
        compiles.getCount - c0, constructJobs, 0L, 0L, 0L, 0L)
    }
    listener.stages.forEach { s =>
      val wall = (for (t0 <- s.submissionTime; t1 <- s.completionTime)
        yield t1 - t0).getOrElse(-1L)
      if (wall >= 100)
        System.err.println(f"[profile-stage] $name rep $i ${s.stageId}%4d " +
          f"$wall%6d ms tasks=${s.numTasks}%3d ${s.name.linesIterator.next().take(120)}")
    }
    r.copy(jobs = reg.counter("graft_jobs_started_total"),
      stages = reg.counter("graft_stages_completed_total"),
      tasks = reg.counter("graft_tasks_completed_total"),
      runMs = reg.counter("graft_executor_run_time_ms_total"))
  }

  /** Warm pass plus `reps` timed reps per query; a query that throws
    * prints one line and is left out of the result. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Seq[Rep] = names.flatMap { n =>
    try {
      graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count() // warm
      (1 to reps).map { i =>
        val r = rep(spark, sfDir, n, i)
        System.err.println(r.csv)
        r
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[profile] $n FAILED: $e"); Nil
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val reps = args.lift(2).fold(1)(_.toInt)
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(s"[profile-stream] ${p.name} batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=${p.durationMs} state=" +
          p.stateOperators.map(so =>
            s"(commit=${so.commitTimeMs}ms mem=${so.memoryUsedBytes})").mkString(","))
      }
    })
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    System.err.println(CsvHeader)
    val rs = run(spark, sfDir, names, reps)
    def secs(f: Rep => Double) = f"${rs.map(f).sum}%.1f s"
    def count(f: Rep => Long) = rs.map(f).sum
    println(s"[profile] n=${rs.size} wall=${secs(_.wall)} build=${secs(_.build)} " +
      s"prep=${secs(_.prep)} exec=${secs(_.exec)} | catalyst: " +
      s"analysis=${secs(_.analysis)} optimization=${secs(_.optimization)} " +
      s"planning=${secs(_.planning)} | compiles=${count(_.compiles)} " +
      s"construct_jobs=${count(_.constructJobs)} jobs=${count(_.jobs)} " +
      s"stages=${count(_.stages)} tasks=${count(_.tasks)} run=${secs(_.runMs / 1e3)}")
    spark.stop()
  }
}
