package graft.queries

import scala.collection.mutable

import org.apache.spark.scheduler.GraftScheduler
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite

/** ExpensiveExprSweepSpec's defect class (the SAME non-cheap call
  * evaluated twice within one operator — alias-inlining pushdown's
  * signature) applied to the two families that spec rightly skips:
  * the export pipeline and streaming queries, whose `fn` IS the work,
  * so planning them means running them. Here we embrace that: run
  * each family query once at sf0.001 with a QueryExecutionListener
  * capturing EVERY internal batch execution's optimized plan (the
  * fixture builds, the decrypt/export jobs, q56's foreachBatch
  * batches — strictly more plans than the single returned DataFrame),
  * then sweep all captured plans plus each returned DataFrame's own
  * optimized plan.
  *
  * Coverage note: pure micro-batch sink executions (IncrementalExecution
  * inside memory-sink streams — q57/q61/q64/q83/q91/q126/q193/q237)
  * do not route through QueryExecutionListener; their batch-side
  * setup/result actions and the returned plans ARE captured. The
  * incremental templates share the same DataFrame construction code
  * as the captured batch sides, so a duplicate-call regression there
  * would surface in what this spec does see.
  */
class PipelinePlanSweepSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Adjudicated (query, prettyName) → accepted within-operator
    * duplicate counts, each with its argument.
    *
    * THE VERSION PROJECT (`regexp_extract` × 5): the HFile/sorted-run
    * export summaries extract the record version from the raw cell
    * value 5× within one Project — deduped by ProjectExec's
    * subexpression elimination; bounded and cold (runs once per
    * summary row, not per corpus row).
    *
    * No export-parse entry: `ExportPipeline.records` fences its `err`
    * column (`graft_fence`), so the skip filter is not pushed below the
    * pipeline's projections with the `err` chain (hundreds of envelope
    * parses) inlined; the stage expressions are in
    * [[ExpensiveSweep.Expensive]], so such a Filter fails here. */
  private val Adjudicated: Map[(String, String), Set[Int]] = {
    val versionProjected = Set(
      "q47_multiversion_export", "q207_sortedrun_export",
      "q210_hfile_store", "q243_hfile_v3_store", "q247_hfile_compaction",
      "q276_tombstone_export")
    versionProjected.map(q => (q, "regexp_extract") -> Set(5)).toMap
  }

  test("pipeline/streaming internals never evaluate the same expensive call twice per row") {
    val fams = (PipelineQueries.queries.toSeq ++
      StreamingQueries.queries.toSeq).sortBy(_._1)
    assert(fams.size >= 20, s"family population collapsed: ${fams.size}")

    val captured = mutable.ArrayBuffer.empty[(String, QueryExecution)]
    @volatile var current = ""
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += ((s"$current/$funcName", qe)) }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val offenders = mutable.ArrayBuffer.empty[String]
    try {
      for ((name, fn) <- fams) {
        current = name
        val returned = fn(spark, dir)
        // drain the async listener bus BEFORE advancing `current`, so
        // this query's executions are tagged under its own name — a
        // late delivery tagged with the next query's name would dodge
        // (or wrongly borrow) the Adjudicated entry
        GraftScheduler.waitListenerBusEmpty(spark.sparkContext, 30000)
        // the returned relation's plan is NOT acted on yet — sweep it
        // directly (optimizing it runs no jobs)
        for ((node, f, n, call) <- ExpensiveSweep.duplicates(
            returned.queryExecution.optimizedPlan)
            if !Adjudicated.getOrElse((name, f), Set.empty)(n))
          offenders += s"$name(returned) $node: ${n}x $f — ${call.take(90)}"
      }
      current = "<done>"
      GraftScheduler.waitListenerBusEmpty(spark.sparkContext, 30000)
    } finally spark.listenerManager.unregister(listener)

    val plans = captured.synchronized(captured.toVector)
    // population floor: the pipeline runs MANY internal actions — a
    // collapse means the capture broke, not that the engine got clean
    assert(plans.size >= 30, s"captured-plan population collapsed: ${plans.size}")
    // a captured command whose optimizedPlan cannot be rendered (e.g.
    // a write command over a fixture its query already cleaned up) is
    // COUNTED, not silently skipped: fatal errors propagate, and a
    // floor below asserts the sweep still saw a healthy population
    var planFailures = 0
    for ((tag, qe) <- plans) {
      val dups =
        try ExpensiveSweep.duplicates(qe.optimizedPlan)
        catch {
          case scala.util.control.NonFatal(_) => planFailures += 1; Seq.empty
        }
      val name = tag.takeWhile(_ != '/')
      for ((node, f, n, call) <- dups
          if !Adjudicated.getOrElse((name, f), Set.empty)(n))
        offenders += s"$tag $node: ${n}x $f — ${call.take(90)}"
    }
    assert(plans.size - planFailures >= 30,
      s"swept-plan population collapsed: ${plans.size} captured, " +
        s"$planFailures unplannable")
    assert(offenders.distinct.isEmpty,
      "a pipeline/streaming internal operator evaluates the same " +
        "non-cheap call twice per row — name the subexpression in its " +
        "own projection and gate BEFORE the derived alias (see " +
        "Dedup.minhashPairsFrom), or adjudicate with the argument:\n  " +
        offenders.distinct.mkString("\n  "))

    // The export-pipeline leg of the round-18 verdict's ask #2: apply
    // JoinKeyNullabilitySpec's equi-join key check to these families'
    // EXECUTED plans (the declarative surface is covered there; these
    // plans only exist after running the work, which we just did).
    // Probes run against whatever the captured side read — a side over
    // a temp fixture its query already cleaned up reports as
    // unprobeable (info, not a pass): the static non-nullable /
    // constraint checks still ran on it.
    var pJoins = 0
    var pKeys = 0
    var walkFailures = 0
    val pend = mutable.ArrayBuffer.empty[JoinKeyAudit.Pending]
    for ((tag, qe) <- plans) {
      val w = try JoinKeyAudit.walk(tag, qe.optimizedPlan)
        catch {
          case scala.util.control.NonFatal(_) =>
            walkFailures += 1; JoinKeyAudit.Walk(0, 0, Nil)
        }
      pJoins += w.joins; pKeys += w.keys; pend ++= w.pending
    }
    // floors: the export families plan real joins every round — a
    // joins collapse means the walk went blind — and walk failures are
    // COUNTED (mirroring planFailures above), so the pJoins floor
    // can't be passed by a handful of walkable plans while the walk
    // silently breaks on the rest of the population
    assert(pJoins >= 5, s"executed-plan join population collapsed: $pJoins")
    assert(plans.size - walkFailures >= 30,
      s"walked-plan population collapsed: ${plans.size} captured, " +
        s"$walkFailures unwalkable")
    val memo = mutable.Map.empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Seq[org.apache.spark.sql.catalyst.expressions.Expression]), Long]
    val (nullOffenders, unprobeable) =
      JoinKeyAudit.probe(spark, pend.toSeq, memo)
    assert(nullOffenders.isEmpty,
      "an executed pipeline/streaming join ships real null-keyed rows " +
        "through its exchange (InferFiltersFromConstraints is excluded " +
        "engine-wide — add .isNotNull at the operator):\n  " +
        nullOffenders.mkString("\n  "))
    info(s"swept ${plans.size} captured executions + ${fams.size} returned plans")
    info(s"join-key audit over executed plans: $pJoins joins / $pKeys keys, " +
      s"${pend.size} probed (${memo.size} distinct), " +
      s"${unprobeable.size} unprobeable" +
      (if (unprobeable.isEmpty) "" else s":\n  ${unprobeable.mkString("\n  ")}"))
  }
}
