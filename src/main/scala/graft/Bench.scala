package graft

import graft.core.Sessions

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line.
  *
  * Throttle-resilient methodology: this VM CPU-throttles under
  * sustained load (a single-pass harness once reported 27.97 s for a
  * query that measures 6.53 s in isolation), so a one-shot timing
  * cannot distinguish a regression from a thermal event. Each query
  * gets one UNTIMED warmup pass (JIT + code cache + any managed
  * relation caches) followed by SPARK_GRAFT_BENCH_REPS timed passes
  * (default 3) run INTERLEAVED round-robin — pass 1 of every query,
  * then pass 2, then pass 3 — so a sustained throttle WINDOW inflates
  * one rep of many queries instead of every rep of a few (back-to-back
  * reps once shipped a 10.06 s artifact for a 0.12 s query because one
  * window covered all three of its reps; min-of-reps absorbs spikes,
  * only interleaving absorbs windows). The `queries` map reports the
  * per-query MINIMUM — the best observation is the least-throttled
  * one — and the `spread` map reports max-min per query. Queries whose
  * spread still exceeds 2× their min get one rescue rep (again
  * round-robin) so a window covering a whole interleaved pass cannot
  * pin the min high.
  *
  * Always-emit contract (round 20): the round-19 driver board died
  * rc=124/`parsed: null` because the harness printed its ONLY JSON
  * line after ALL phases (~35 min wall on a slow window) and the
  * driver's time cap killed it mid-secondary-phase — forfeiting the
  * already-measured primary board. Three defenses, none changing the
  * happy-path contract (exactly one JSON line on stdout, printed by
  * main at the end):
  *
  *  1. BUDGET GATES: SPARK_GRAFT_BENCH_BUDGET_S (default 1440 s from
  *     main start, sized for a ~30 min driver cap minus sbt/JVM
  *     startup) is checked before each secondary phase against a
  *     cost estimate derived from the primary measurements; a phase
  *     that does not fit is skipped with `"sf2_skipped"` /
  *     `"export_skipped"` flags in the artifact instead of overrun.
  *  2. SECONDARY-PHASE TRIMS: the sf2 scaling pass runs
  *     SPARK_GRAFT_BENCH_REPS2 reps (default 2) over only the queries
  *     with primary min >= SPARK_GRAFT_SF2_MIN_S (default 0.2 s) —
  *     the curve exists to catch growth-vs-data, which sub-0.2 s
  *     queries cannot exhibit meaningfully; `sf2_pruned_n` records
  *     how many were dropped (no silent caps).
  *  3. KILL-PATH EMISSION: a shutdown hook prints the best board
  *     measured so far (progressively updated after the primary
  *     warmup, after every primary rep, and at each phase boundary)
  *     if — and only if — main has not already printed its line, so
  *     even a SIGTERM mid-phase yields a parseable board in the
  *     output tail. The hook first silences the per-query failure
  *     logging (the r19 tail was filled by our own kill-time stack
  *     trace, scrolling any JSON out of the driver's 2000-char
  *     window) and briefly lets Spark's own shutdown noise land
  *     before printing, so the JSON line is the LAST output. Lines
  *     printed for an incomplete phase carry `"partial"` with the
  *     checkpoint label.
  *
  * Scaling curve: unless SPARK_GRAFT_SF_DIR2 is set empty, the same
  * warmup+interleaved-reps methodology runs a SECOND time at the
  * smaller scale (default /root/testdata/sf0.01) and the artifact
  * file carries `queries_sf2` plus a per-query `ratio` column
  * (primary/secondary wall time). At a 10× data ratio, ratio ≈ 10 is
  * linear scaling, ratio ≈ 1 is fixed-overhead-dominated (fixture
  * pipeline queries, streaming state-store commit rounds), and
  * ratio >> 10 is the superlinear smell the curve exists to catch —
  * those names land in `superlinear` and a count lands on stdout.
  *
  * Export-fixture curve: the export battery (PipelineQueries — q40…
  * q52, q88/q92, q207–q209) generates its fixtures at a fixed record
  * count, so the sf curve reads ≈ 1 for it regardless of plan quality.
  * Unless SPARK_GRAFT_EXPORT_N ≤ 10000, that family is re-measured at
  * the larger fixture (default 30k = 3×) via
  * `PipelineQueries.withFixtureN`, and `ratio_export` /
  * `superlinear_export` land in the artifact with the same
  * 1.5×-data-ratio alarm the sf curve uses.
  *
  * A query that throws is reported as -1 in the `queries` map (a
  * CAPPED trace goes to stderr — exception chain plus the top frames,
  * never a full printStackTrace, which at several KB can scroll the
  * board line out of the driver's output tail) so a broken query can
  * never masquerade as a fast one; `total` sums successful queries
  * only.
  */
object Bench {

  private final case class Pass(samples: Map[String, Vector[Double]],
      warmups: Map[String, Option[Double]], failed: Set[String])

  // ---- machine-drift canary -------------------------------------
  // This VM's wall-clock drifts ±25-40 % on identical code within a
  // session (three same-code r13 boards: 128.5 / 160.8 / 149.3 s), so
  // raw round-over-round per-query ratios confound code changes with
  // machine state. The canary is a FIXED amount of sealed CPU work —
  // xorshift64* mixing, no IO, no allocation, no Spark — timed
  // interleaved with the board (one sample before each pass's warmup
  // and one before every timed rep pass), so each board carries its
  // own machine-speed measurement, in TWO legs (plus the un-anchored
  // Spark-stack leg below, covering what neither CPU kernel sees):
  //
  //  - single-threaded (`canary_s`): clock/thermal state. Min of
  //    samples — the least-throttled window, matching the min-of-reps
  //    query methodology — over `canary_ref_s` gives `drift`; a
  //    query's drift-normalized time is measured/drift
  //    (`queries_norm`), and cross-round comparisons divide
  //    normalized values.
  //  - multi-threaded (`canary_mt_s`): the same kernel on
  //    availableProcessors threads at once, reported as the mean
  //    per-thread seconds. The st leg is BLIND to core contention (a
  //    concurrent build, IO-scheduler pressure slow a 32-way board
  //    but not one register-bound thread — the r14 +21 %-on-steady-
  //    canary gap); mt/st divergence beyond the idle-machine baseline
  //    IS that contention, and `drift_mt` anchors it cross-round.
  //
  // `canary_p50`, the full per-leg sample lists, and the per-pass
  // mins (file artifact) expose intra-board throttle windows and
  // a throttled primary pass masked by a clean sf2 pass (or vice
  // versa) that the pooled min alone would hide. Reading rule:
  // `drift` (hence queries_norm/total_norm) uses the POOLED min for
  // cross-round definition stability — if canary_pass_min shows the
  // pooled min came from a NON-primary pass, the primary queries ran
  // under a worse machine state than drift credits; renormalize by
  // canary_pass_min["primary"] from the file artifact before
  // trusting per-query comparisons.
  private val CanaryIters = 200000000L
  /** Per-ITERATION anchors, so a retuned `CanaryIters` rescales the
    * reference seconds instead of silently corrupting `drift` and
    * every `*_norm` value (the ref/iters coupling is THROUGH these
    * constants now, not beside them). Values are pinned from
    * calibration runs on an otherwise idle VM and NOT re-derived per
    * round — drift is only meaningful against a fixed anchor:
    * st = 0.470 s / 2e8 iters (round 14); mt = 0.493 s / 2e8 iters
    * (round 15 calibration: idle-machine mt/st per-thread ratio
    * 1.0485 — the 32-thread SMT/turbo cost — times the st anchor, so
    * idle-machine drift_mt ≈ drift and a drift_mt EXCESS over drift
    * reads directly as core contention; the mt leg is intrinsically
    * noisier sample-to-sample, which min-of-samples absorbs).
    *
    * SCOPE: the mt anchor bakes in THIS 32-core board's idle mt/st
    * ratio while `canaryMtOnce` spawns `availableProcessors` threads,
    * so on any other core count drift_mt is mis-anchored and its
    * excess over drift misreads as contention. The artifact emits
    * `canary_mt_threads` beside `canary_mt_s` so a board reader can
    * reject (or re-anchor) mt comparisons when the count ≠ 32; st
    * drift is core-count-independent and stays valid everywhere. */
  private val CanaryRefSecPerIter = 0.470 / 2e8
  private val CanaryMtRefSecPerIter = 0.493 / 2e8
  val CanaryRefSec: Double = CanaryRefSecPerIter * CanaryIters
  val CanaryMtRefSec: Double = CanaryMtRefSecPerIter * CanaryIters
  @volatile private var canarySink = 0L // defeats dead-code elimination
  private def canaryKernel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    while (i < CanaryIters) {
      // xorshift64* core: three shifts + a multiply per iteration —
      // pure register work, immune to memory/GC state
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    canarySink = acc
    (System.nanoTime() - t0) / 1e9
  }
  private def canaryMtOnce(): Double = {
    val n = Runtime.getRuntime.availableProcessors
    val times = new Array[Double](n)
    val threads = Array.tabulate(n)(i =>
      new Thread(() => times(i) = canaryKernel(), s"graft-canary-mt-$i"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    times.sum / n
  }
  // ---- Spark-stack canary leg (round 18) ------------------------
  // The st/mt legs are register-bound probes; rounds 17-18 proved
  // they UNDER-measure board-wide windows: two same-code boards read
  // +22% raw vs round 16 while drift said 3-7% — the slowdown lived
  // in the parts of a query the CPU kernel never touches (task
  // scheduling, shuffle write/fetch, codegen, IO). This leg times a
  // FIXED tiny end-to-end Spark job — a 32-partition range scan,
  // hash projection, one 32-partition shuffle, tiny collect —
  // interleaved with the board like the other legs. Deliberately NO
  // ref anchor and NO participation in drift/total_norm (their
  // definitions stay cross-round stable, and an anchor calibrated in
  // the known-slow window this leg was born in would misread every
  // steady window as drift > 1): readers compare `canary_sp_s`
  // BETWEEN boards directly — when two boards' canary_sp_s diverge
  // far beyond their st drift gap, the window hit the Spark stack
  // and raw cross-board query ratios are not code-attributable.
  @volatile private var canarySparkSession: org.apache.spark.sql.SparkSession = _
  private def canarySparkOnce(): Double =
    if (canarySparkSession == null) -1.0
    else {
      val t0 = System.nanoTime()
      canarySparkSession.range(0L, 4000000L, 1L, 32)
        .selectExpr("xxhash64(id) % 1000 AS k", "id")
        .groupBy("k").count()
        .count()
      (System.nanoTime() - t0) / 1e9
    }

  // (pass label, single-thread seconds, mean per-thread mt seconds,
  //  spark-stack seconds)
  private val canarySamples =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
  private def sampleCanary(pass: String): Unit =
    canarySamples += ((pass, canaryKernel(), canaryMtOnce(), canarySparkOnce()))

  // ---- always-emit plumbing (round 20) --------------------------
  // `bestLine` is the most complete board line measured so far; the
  // shutdown hook prints it only when main's own println never ran
  // (the CAS makes the two paths mutually exclusive). `shuttingDown`
  // silences per-query failure logging the moment the hook starts:
  // after a SIGTERM the main thread keeps running and every remaining
  // query fails fast — dozens of logged exceptions would scroll the
  // rescue line out of the driver's 2000-char output tail.
  @volatile private var bestLine: String = _
  @volatile private var shuttingDown = false
  private val boardPrinted = new java.util.concurrent.atomic.AtomicBoolean(false)
  /** Prints `line` iff no board was printed yet; returns whether THIS
    * call won the print (the r20 ADVICE race: the hook checked
    * `boardPrinted` once, lost the CAS to main, and still wrote the
    * stale partial file + a delayed duplicate println — making an
    * OUTDATED partial line the last stdout line a tail-scanning
    * driver would parse). */
  private def emitBoard(line: String): Boolean =
    if (line != null && boardPrinted.compareAndSet(false, true)) {
      println(line)
      System.out.flush()
      true
    } else false

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - tStart) / 1e9
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      shuttingDown = true // freezes checkpoints + silences query-failure logs
      val l = bestLine
      // print IMMEDIATELY: when the driver's timeout TERMs sbt, the
      // sbt JVM (which pumps the forked JVM's stdout) exits within
      // a moment — measured in the round-20 kill test, a delayed
      // print never reaches the captured output even though this
      // fork lives on. The file write is the delay-proof copy.
      // Everything below is gated on WINNING the CAS: if main printed
      // (or prints concurrently and wins), the hook must not write a
      // stale partial file nor re-print an outdated line after main's
      // complete board (both r20 ADVICE items). The kill-path dump
      // gets its OWN filename — BENCH_PARTIAL.json is the
      // BENCH_ONLY-filtered iteration artifact (a different payload
      // shape), and a killed full run must not clobber or
      // masquerade as one.
      if (emitBoard(l)) {
        try java.nio.file.Files.writeString(
          java.nio.file.Path.of("BENCH_KILLED.json"), l + "\n")
        catch { case _: Exception => }
        // Spark's own shutdown logging races the first copy on the
        // combined-output capture; if the pump is still alive once
        // that noise settles, a second identical copy makes the
        // board line the LAST thing in the driver's 2000-char tail
        // (identical lines parse identically whichever one a
        // line-scanning reader picks up).
        try Thread.sleep(800) catch { case _: InterruptedException => }
        println(l)
        System.out.flush()
      }
    }, "graft-bench-board-emit"))

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sfDir2 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR2",
      "/root/testdata/sf0.01") match {
      case d if d.isEmpty || d == sfDir => None
      case d if !java.nio.file.Files.isDirectory(java.nio.file.Path.of(d)) => None
      case d => Some(d)
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // effective primary/export rep count; may drop by 1 after the
    // warmup-based budget projection (adaptive gate below)
    var primaryReps = reps
    // secondary-phase knobs (methodology at the top of the file)
    val reps2 = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS2", "2").toInt.max(1)
    val sf2MinS = sys.env.getOrElse("SPARK_GRAFT_SF2_MIN_S", "0.2").toDouble
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1440").toDouble
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    canarySparkSession = spark

    // local-iteration aid, mirroring Verify: SPARK_GRAFT_BENCH_ONLY=q63,q147
    // benches only the named prefixes; absent = all (driver).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))

    def timeOnce(dir: String)(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, dir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          if (!shuttingDown) {
            System.err.println(s"[bench] FAILED: $e")
            e.getStackTrace.take(6).foreach(f => System.err.println(s"\tat $f"))
            var cause = e.getCause
            var depth = 0
            while (cause != null && depth < 4) {
              System.err.println(s"\tcaused by: $cause")
              cause = cause.getCause
              depth += 1
            }
          }
          None
      }
    }

    def fmt(d: Double): String = BigDecimal(d)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(pairs: Seq[(String, String)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def pctl(sorted: Vector[Double], p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(((sorted.size - 1) * p).round.toInt.min(sorted.size - 1))

    // stdout gets the COMPACT line only: every shipped BENCH_r*.json
    // carries a 2000-char stdout tail, so if the driver parses within
    // that window the printed line must FIT it. With 278 queries the
    // full per-query map is ~5 KB — adaptively collapse queries faster
    // than a rising floor into {"fast_n","fast_sum"} until the line
    // fits 1800 chars (sbt noise can still precede it in the window);
    // the file copy below always carries the complete map.
    // With 180+ queries the fast-set collapse hides distribution
    // shifts (a floor-wide slowdown moves fast_sum but not which
    // queries are slow) — p50/p95 of the collapsed set restore that
    // signal at 2 scalars' cost.
    def compactLine(vals: Seq[(String, Double)], failedNames: Seq[String],
        extras: String): String = {
      val total = vals.map(_._2).sum
      def lineFor(floor: Double): String = {
        val kept = vals.filter(_._2 >= floor)
        val qsKept = jmap(kept.map { case (k, v) => k -> fmt(v) } ++
          failedNames.map(_ -> "-1"))
        val fast = vals.filter(_._2 < floor)
        val fastPart =
          if (fast.isEmpty) ""
          else {
            val sortedFast = fast.map(_._2).sorted.toVector
            s""","fast_n":${fast.size},"fast_sum":${fmt(sortedFast.sum)}""" +
              s""","fast_p50":${fmt(pctl(sortedFast, 0.5))}""" +
              s""","fast_p95":${fmt(pctl(sortedFast, 0.95))}"""
          }
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qsKept$fastPart$extras,"reps":$primaryReps,"sf":"$sfDir"}"""
      }
      Seq(0.0, 0.05, 0.1, 0.2, 0.5, 1.0, 2.0).map(lineFor)
        .find(_.length <= 1800).getOrElse(lineFor(Double.MaxValue))
    }

    /** One full warmup + interleaved-reps + rescue measurement of
      * `qnames` at `dir` (the round-robin methodology above); `pass`
      * labels this pass's canary samples for the per-pass mins.
      * `checkpoint` sees the interim Pass after the warmup and after
      * every completed rep — the primary pass uses it to keep
      * `bestLine` current for the kill-path shutdown hook. */
    def measure(dir: String, qnames: Seq[String] = names,
        pass: String = "primary", repsFor: Int = reps,
        checkpoint: Pass => Unit = _ => (),
        planReps: Map[String, Option[Double]] => Int = null): Pass = {
      sampleCanary(pass) // machine-speed sample bracketing the warmup pass
      val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
      val warmupsBuf = scala.collection.mutable.Map.empty[String, Option[Double]]
      val failed = scala.collection.mutable.Set.empty[String]
      // checkpoints freeze once the shutdown hook fires: after a
      // SIGTERM the main thread races through the remaining queries
      // failing fast, and a checkpoint taken then would pollute the
      // emitted board with kill-artifact -1 entries
      def cp(): Unit = if (!shuttingDown)
        checkpoint(Pass(samples.toMap.withDefaultValue(Vector.empty),
          warmupsBuf.toMap, failed.toSet))
      // checkpoint every 25 warmed queries too: the warmup pass alone
      // is minutes long on the full board, and a kill inside it must
      // still find a board worth emitting
      for ((n, i) <- qnames.zipWithIndex) {
        val r = timeOnce(dir)(SparkEntry.queries(n))
        warmupsBuf(n) = r
        if (r.isEmpty) failed += n
        if ((i + 1) % 25 == 0) cp()
      }
      val warmups: Map[String, Option[Double]] = warmupsBuf.toMap
      cp()
      // the adaptive-reps seam: planReps (primary pass only) sees the
      // completed warmup and may shrink the rep count to fit the budget
      val effReps = if (planReps == null) repsFor else planReps(warmups)
      for (_ <- 1 to effReps) {
        sampleCanary(pass) // interleaved: one sample per timed rep pass
        for (n <- qnames if !failed(n))
          timeOnce(dir)(SparkEntry.queries(n)) match {
            case Some(t) => samples(n) = samples(n) :+ t
            case None => failed += n
          }
        cp()
      }
      // rescue pass: one extra rep for queries whose spread exceeds 2x
      // their min (a throttle window spanning a whole interleaved pass)
      val noisy = qnames.filter { n =>
        !failed(n) && samples(n).size == effReps && effReps > 1 &&
          (samples(n).max - samples(n).min) > 2 * samples(n).min
      }
      if (noisy.nonEmpty && !shuttingDown)
        System.err.println(s"[bench] rescue rep at $dir for noisy: ${noisy.mkString(", ")}")
      for (n <- noisy)
        timeOnce(dir)(SparkEntry.queries(n)).foreach(t => samples(n) = samples(n) :+ t)
      Pass(samples.toMap.withDefaultValue(Vector.empty), warmups, failed.toSet)
    }

    // ---- adaptive primary-reps gate (round 21; the r20 verdict's #1 ask)
    // r20's primary phase alone consumed 1347 s of the 1440 s budget on
    // a slow window, so BOTH secondary phases were budget-skipped and
    // the round shipped no growth-vs-data or export-scaling signal.
    // Project the full-board cost from the measured warmup pass and
    // drop primary reps 3→2 when primary-at-3 + sf2 + export won't
    // fit: min-of-2 vs min-of-3 moves the min estimator marginally
    // (the rescue pass still covers throttle-window outliers), while a
    // skipped secondary phase is a whole missing signal. Cost model
    // from the r17–r20 artifacts: per-rep ≈ 0.66 × warmup_total (r19:
    // warmup_total/total = 1.48); sf2 and export per-rep factors as in
    // the phase gates below (0.6 × pruned-set, 0.7 × data-ratio ×
    // family). The export pass runs at primaryReps too, so one drop
    // shrinks both of the remaining reps-bound phases.
    val exportN = sys.env.getOrElse("SPARK_GRAFT_EXPORT_N", "30000").toLong
    val exportNames = names.filter(graft.queries.PipelineQueries.queries.contains)
    val exportDataRatio = exportN / 10000.0
    def planPrimaryReps(warmups: Map[String, Option[Double]]): Int = {
      val wt = warmups.values.flatten.sum
      val estMin = warmups.collect { case (k, Some(v)) => k -> 0.66 * v }
      val estSf2W =
        if (sfDir2.isEmpty) 0.0
        else (1.5 + reps2 + 0.3) * 0.6 *
          estMin.valuesIterator.filter(_ >= sf2MinS).sum + 3.0 * (reps2 + 1)
      val estExportW =
        if (exportN <= 10000 || exportNames.isEmpty) 0.0
        else (1.5 + reps + 0.3) * 0.7 * exportDataRatio *
          estMin.collect { case (k, v) if exportNames.contains(k) => v }.sum +
          3.0 * (reps + 1)
      val primaryRemaining = reps * 0.66 * wt + 0.15 * wt + 2.0 * (reps + 1)
      if (reps >= 3 &&
          elapsedS + primaryRemaining + 1.25 * (estSf2W + estExportW) > budgetS) {
        primaryReps = reps - 1
        System.err.println(f"[bench] primary reps $reps -> $primaryReps: " +
          f"projected full board ${elapsedS + primaryRemaining +
            1.25 * (estSf2W + estExportW)}%.0f s exceeds budget $budgetS%.0f s " +
          f"(elapsed $elapsedS%.0f, primary-rem $primaryRemaining%.0f, " +
          f"sf2 $estSf2W%.0f, export $estExportW%.0f)")
      }
      primaryReps
    }
    val p1 = measure(sfDir, names, "primary", reps, planReps = planPrimaryReps,
      checkpoint = interim => {
      // kill-path board: min of timed samples where available, else
      // the warmup observation — labeled partial so a reader knows
      // these are not full min-of-reps values
      val vals = names.flatMap { n =>
        val s = interim.samples(n)
        // a query that sampled in earlier reps but failed later must
        // appear ONLY as -1 (r20 ADVICE: the old `s.nonEmpty` branch
        // emitted it twice — min AND -1, a duplicate JSON key with
        // conflicting values — and summed its time into the partial
        // total while the per-query key read -1)
        if (s.nonEmpty && !interim.failed(n)) Some(n -> s.min)
        else if (!interim.failed(n)) interim.warmups.getOrElse(n, None).map(n -> _)
        else None
      }
      val nReps = names.iterator.map(n => interim.samples(n).size)
        .maxOption.getOrElse(0)
      bestLine = compactLine(vals, names.filter(interim.failed),
        s""","partial":"primary-${if (nReps == 0) "warmup" else s"rep$nReps"}"""")
    })
    def ok(p: Pass, r: Int)(n: String): Boolean = !p.failed(n) && p.samples(n).size >= r
    def minOf(p: Pass)(n: String): Double = p.samples(n).min

    names.filterNot(ok(p1, primaryReps)).foreach(n =>
      System.err.println(s"[bench] $n FAILED (reported as -1)"))

    val primaryVals = names.collect { case k if ok(p1, primaryReps)(k) => k -> minOf(p1)(k) }
    val primaryFailed = names.filterNot(ok(p1, primaryReps))
    // Cold-path observability: a cold-path regression moves
    // `warmup_total` even when the warm mins hold steady.
    val warmupsJson = jmap(names.collect { case k if p1.warmups(k).isDefined =>
      k -> fmt(p1.warmups(k).get) })
    val warmupTotal = p1.warmups.values.flatten.sum
    val total = primaryVals.map(_._2).sum
    val nFailed = primaryFailed.size
    if (nFailed > 0)
      System.err.println(s"[bench] $nFailed queries failed (reported as -1)")

    // ---- drift canary scalars (methodology at the top of the file):
    // canary_s anchors this board's machine speed; drift = canary_s /
    // canary_ref_s; a cross-round comparison divides each board's
    // per-query numbers by ITS drift before taking ratios. total_norm
    // is the board total already so normalized. The mt leg reads core
    // contention: drift_mt >> drift means the board was slowed by
    // something the st leg can't see. Recomputed at each phase
    // boundary (samples only grow) so every bestLine checkpoint and
    // the final line carry current values.
    def canaryPartNow(): String = {
      val canaryStAll = canarySamples.map(_._2)
      val canaryMtAll = canarySamples.map(_._3)
      val canarySpAll = canarySamples.map(_._4).filter(_ >= 0)
      val canaryS = canaryStAll.min
      val canaryP50 = pctl(canaryStAll.sorted.toVector, 0.5)
      val drift = canaryS / CanaryRefSec
      val canaryMtS = canaryMtAll.min
      val driftMt = canaryMtS / CanaryMtRefSec
      val canarySpS = if (canarySpAll.isEmpty) -1.0 else canarySpAll.min
      val canarySpP50 =
        if (canarySpAll.isEmpty) -1.0
        else pctl(canarySpAll.sorted.toVector, 0.5)
      s""","canary_s":${fmt(canaryS)},"canary_p50":${fmt(canaryP50)}""" +
        s""","canary_ref_s":${fmt(CanaryRefSec)},"drift":${fmt(drift)}""" +
        s""","canary_mt_s":${fmt(canaryMtS)},"drift_mt":${fmt(driftMt)}""" +
        s""","canary_mt_threads":${Runtime.getRuntime.availableProcessors}""" +
        s""","canary_sp_s":${fmt(canarySpS)},"canary_sp_p50":${fmt(canarySpP50)}""" +
        s""","total_norm":${fmt(total / drift)}"""
    }
    bestLine = compactLine(primaryVals, primaryFailed,
      canaryPartNow() + s""","phases":"primary"""")

    // ---- scaling curve at the secondary sf ----
    // Pruned to queries with a meaningful primary time (sub-sf2MinS
    // queries are fixed-overhead-dominated at BOTH scales — their
    // ratio carries no superlinearity signal) and run at reps2: the
    // full 278-query × (1+3+rescue)-pass sweep cost >= 13 min of
    // mostly per-query fixed overhead on the r19 slow window and blew
    // the driver's budget. Cost estimate for the gate: per-rep sf2
    // time ≈ 0.6× the pruned set's primary time (measured r17-r19:
    // total_sf2/total ≈ 0.60 at 10× data), warmup ≈ 1.5 reps (r19:
    // warmup_total/total = 1.48), + 0.3 rescue slack, + ~3 s canary
    // per pass; ×1.25 window margin at the comparison.
    val sf2Names = names.filter(n => ok(p1, primaryReps)(n) && minOf(p1)(n) >= sf2MinS)
    val sf2PrunedN = primaryVals.size - sf2Names.size
    val estSf2 = (1.5 + reps2 + 0.3) * 0.6 * sf2Names.map(minOf(p1)).sum +
      3.0 * (reps2 + 1)
    val sf2Skipped = sfDir2.isDefined &&
      (elapsedS + 1.25 * estSf2 > budgetS || sf2Names.isEmpty)
    // diagnosable skip cause (r20 ADVICE): an empty prune set is not a
    // budget overrun — branch the log and carry the reason in the
    // artifact so the two are distinguishable from the board alone
    val sf2SkipReason =
      if (!sf2Skipped) ""
      else if (sf2Names.isEmpty) "empty-prune-set"
      else "budget"
    if (sf2Skipped && sf2Names.isEmpty)
      System.err.println(s"[bench] sf2 pass SKIPPED: no query at or above " +
        s"$sf2MinS s (nothing to curve)")
    else if (sf2Skipped)
      System.err.println(f"[bench] sf2 pass SKIPPED: elapsed $elapsedS%.0f s + " +
        f"est ${1.25 * estSf2}%.0f s exceeds budget $budgetS%.0f s")
    val p2 = if (sf2Skipped) None else sfDir2.map { d =>
      System.err.println(s"[bench] scaling-curve pass at $d " +
        s"(${sf2Names.size} queries >= $sf2MinS s, $sf2PrunedN pruned, " +
        f"reps=$reps2, est ${estSf2}%.0f s, elapsed $elapsedS%.0f s)")
      measure(d, sf2Names, "sf2", reps2)
    }
    val ratios: Map[String, Double] = (for {
      p <- p2.toSeq
      n <- sf2Names
      if ok(p, reps2)(n) && minOf(p)(n) > 0
    } yield n -> minOf(p1)(n) / minOf(p)(n)).toMap
    // 10x data between sf0.1 and sf0.01: a query whose time grows
    // materially FASTER than the data is superlinear. 15 allows
    // constant-factor noise on sub-second denominators.
    val superlinear = sf2Names.filter(n => ratios.getOrElse(n, 0.0) > 15.0)
    if (superlinear.nonEmpty)
      System.err.println(s"[bench] superlinear vs ${sfDir2.getOrElse("?")}: ${superlinear.mkString(", ")}")
    // name the max carriers: ratio_max alone is unattributable from
    // the artifact (which query drifted?) — top3 (query → ratio,
    // descending) makes scaling drift diagnosable without a re-run
    def top3(rs: Map[String, Double]): String =
      jmap(rs.toSeq.sortBy(-_._2).take(3).map { case (k, v) => k -> fmt(v) })
    val sfRatioScalars = if (ratios.isEmpty) ""
    else {
      val rs = ratios.values.toVector.sorted
      s""","ratio_p50":${fmt(pctl(rs, 0.5))},"ratio_max":${fmt(rs.last)}""" +
        s""","ratio_top3":${top3(ratios)}""" +
        s""","superlinear_n":${superlinear.size}"""
    }
    if (p2.nonEmpty)
      bestLine = compactLine(primaryVals, primaryFailed,
        sfRatioScalars + canaryPartNow() + s""","phases":"primary,sf2"""")
    val sf2Part = (p2, sfDir2) match {
      case (Some(p), Some(d2)) =>
        val qs2 = jmap(sf2Names.map(k =>
          k -> (if (ok(p, reps2)(k)) fmt(minOf(p)(k)) else "-1")))
        val total2 = sf2Names.collect { case k if ok(p, reps2)(k) => minOf(p)(k) }.sum
        val ratioJson = jmap(sf2Names.collect { case k if ratios.contains(k) =>
          k -> fmt(ratios(k)) })
        val slJson = superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","sf2":"$d2","total_sf2":${fmt(total2)},"queries_sf2":$qs2""" +
          s""","sf2_reps":$reps2,"sf2_min_s":$sf2MinS,"sf2_pruned_n":$sf2PrunedN""" +
          s""","ratio":$ratioJson,"superlinear":$slJson"""
      case _ if sf2Skipped =>
        s""","sf2_skipped":true,"sf2_skip_reason":"$sf2SkipReason""""
      case _ => ""
    }

    // ---- export-fixture scaling curve ----
    // The parquet-backed sf curve can't see the export battery: its
    // fixtures are GENERATED at a fixed record count, so the sf ratio
    // ≈ 1 measures only fixed overhead. Re-measure just that family at
    // a larger fixture (default 30k = 3x the oracle size) under the
    // same methodology and alarm on superlinear growth the same way —
    // threshold 1.5x the data ratio, the slack the sf curve allows
    // (15 on 10x), floored at 3 for sub-second denominator noise.
    // Budget gate mirrors sf2's: per-rep export time ≈ 0.7× data-ratio
    // × the family's primary time (r19: 27 s/rep at 3× vs ~13 s
    // primary), warmup 1.5 reps + 0.3 rescue + canary.
    val estExport = (1.5 + primaryReps + 0.3) * 0.7 * exportDataRatio *
      exportNames.collect { case k if ok(p1, primaryReps)(k) => minOf(p1)(k) }.sum +
      3.0 * (primaryReps + 1)
    val exportWanted = exportN > 10000 && exportNames.nonEmpty
    val exportSkipped = exportWanted && elapsedS + 1.25 * estExport > budgetS
    if (exportSkipped)
      System.err.println(f"[bench] export pass SKIPPED: elapsed $elapsedS%.0f s + " +
        f"est ${1.25 * estExport}%.0f s exceeds budget $budgetS%.0f s")
    val pE: Option[Pass] =
      if (exportWanted && !exportSkipped) {
        System.err.println(s"[bench] export-scaling pass at fixture N=$exportN " +
          f"(est ${estExport}%.0f s, elapsed $elapsedS%.0f s)")
        Some(graft.queries.PipelineQueries.withFixtureN(exportN) {
          measure(sfDir, exportNames, "export", primaryReps)
        })
      } else None
    val ratiosE: Map[String, Double] = (for {
      p <- pE.toSeq
      n <- exportNames
      if ok(p1, primaryReps)(n) && ok(p, primaryReps)(n) && minOf(p1)(n) > 0
    } yield n -> minOf(p)(n) / minOf(p1)(n)).toMap
    val superlinearE = exportNames.filter(n =>
      ratiosE.getOrElse(n, 0.0) > math.max(3.0, 1.5 * exportDataRatio))
    if (superlinearE.nonEmpty)
      System.err.println(
        s"[bench] superlinear at fixture N=$exportN: ${superlinearE.mkString(", ")}")
    val exportPart = pE match {
      case Some(p) =>
        val qsE = jmap(exportNames.map(k =>
          k -> (if (ok(p, primaryReps)(k)) fmt(minOf(p)(k)) else "-1")))
        val ratioJson = jmap(exportNames.collect { case k if ratiosE.contains(k) =>
          k -> fmt(ratiosE(k)) })
        val slJson = superlinearE.map("\"" + _ + "\"").mkString("[", ",", "]")
        s""","export_n":$exportN,"queries_export":$qsE""" +
          s""","ratio_export":$ratioJson,"superlinear_export":$slJson"""
      case None if exportSkipped => s""","export_skipped":true"""
      case None => ""
    }

    val ratioScalars = {
      val ex = if (ratiosE.isEmpty) ""
      else {
        val rs = ratiosE.values.toVector.sorted
        s""","export_ratio_p50":${fmt(pctl(rs, 0.5))}""" +
          s""","export_ratio_max":${fmt(rs.last)}""" +
          s""","export_ratio_top3":${top3(ratiosE)}""" +
          s""","superlinear_export_n":${superlinearE.size}"""
      }
      sfRatioScalars + ex
    }
    val skipFlags = (if (sf2Skipped)
        s""","sf2_skipped":true,"sf2_skip_reason":"$sf2SkipReason""""
      else "") +
      (if (exportSkipped) s""","export_skipped":true""" else "")
    sampleCanary("close") // closing sample
    val canaryPart = canaryPartNow()
    val line = compactLine(primaryVals, primaryFailed,
      ratioScalars + skipFlags + canaryPart)
    emitBoard(line)
    // The file copy carries the full diagnostics (spread = max-min per
    // query; warmup = the one cold pass; queries_sf2/ratio = the
    // scaling curve vs the secondary sf; queries_norm = min/drift per
    // query — the cross-round comparable; canary_samples = every
    // interleaved machine-speed observation, exposing throttle windows
    // within the board).
    val qs = jmap(names.map(k =>
      k -> (if (ok(p1, primaryReps)(k)) fmt(minOf(p1)(k)) else "-1")))
    val spread = jmap(names.collect { case k if ok(p1, primaryReps)(k) =>
      k -> fmt(p1.samples(k).max - p1.samples(k).min) })
    val drift = canarySamples.map(_._2).min / CanaryRefSec
    val qsNorm = jmap(names.collect { case k if ok(p1, primaryReps)(k) =>
      k -> fmt(minOf(p1)(k) / drift) })
    def passMins(leg: ((String, Double, Double, Double)) => Double): String =
      jmap(canarySamples.map(_._1).distinct.toSeq.map { p =>
        // the sp leg records the -1.0 null-session sentinel when a
        // sample lands before canarySparkSession is assigned (or after
        // clear) — drop sentinels so every canary_*_pass_min shares
        // the valid-samples definition of canary_*_s/canary_*_p50; a
        // pass with zero valid samples reports -1 like canary_sp_s
        // does (the st/mt legs are raw timings, always >= 0, so the
        // filter is a no-op there)
        val vs = canarySamples.filter(_._1 == p).map(leg).filter(_ >= 0)
        p -> fmt(if (vs.isEmpty) -1.0 else vs.min)
      })
    val canaryFull = canaryPart +
      s""","canary_mt_ref_s":${fmt(CanaryMtRefSec)}""" +
      s""","canary_samples":${canarySamples.map(_._2).map(fmt).mkString("[", ",", "]")}""" +
      s""","canary_mt_samples":${canarySamples.map(_._3).map(fmt).mkString("[", ",", "]")}""" +
      s""","canary_sp_samples":${canarySamples.map(_._4).filter(_ >= 0).map(fmt).mkString("[", ",", "]")}""" +
      s""","canary_pass_min":${passMins(_._2)}""" +
      s""","canary_mt_pass_min":${passMins(_._3)}""" +
      s""","canary_sp_pass_min":${passMins(_._4)}""" +
      s""","queries_norm":$qsNorm"""
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"spread":$spread,"warmup":$warmupsJson,"warmup_total":${fmt(warmupTotal)}$sf2Part$exportPart$canaryFull,"elapsed_s":${fmt(elapsedS)},"reps":$primaryReps,"sf":"$sfDir"}"""
    // a BENCH_ONLY-filtered iteration must never clobber the full-board
    // artifact the round workflow compares against — partial runs go to
    // a side file unless SPARK_GRAFT_BENCH_OUT overrides explicitly
    val defaultOut =
      if (only.isEmpty) "BENCH_LATEST.json" else "BENCH_PARTIAL.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Path.of(outFile), full + "\n")
    catch { case e: Exception => System.err.println(s"[bench] write $outFile: $e") }
    spark.stop()
  }
}
