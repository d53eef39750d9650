package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.catalyst.expressions.Expression

/** Whole-surface generalization of SingleEvaluationPinSpec's Jaccard
  * pin (round-17 verdict ask #4): the q23/q104/q148 defect class is a
  * non-cheap expression evaluated MORE THAN ONCE PER ROW, and its
  * mechanical signature is the SAME call (canonicalized, so argument
  * ids match) appearing twice WITHIN ONE operator's expressions —
  * exactly what alias-inlining predicate pushdown produces (the
  * `jaccard` alias referenced `inter` twice, so the pushed join
  * predicate carried two identical `array_intersect` calls). Counts
  * across DIFFERENT operators are deliberately out of scope: a filter
  * evaluating per candidate and a projection per survivor run at
  * different cardinalities (that trade is pinned per-query in
  * SingleEvaluationPinSpec), partial/final aggregates and union
  * branches evaluate on disjoint rows, and logical-plan CSE does not
  * exist to merge within-operator duplicates — within one operator,
  * a duplicate call is pure per-row waste.
  *
  * Swept over the OPTIMIZED logical plan: post-rewrite, so both
  * hand-written duplicates and optimizer-introduced ones (pushdown
  * inlining, constraint inference) are visible; pre-physical, so
  * partial/final aggregate splitting and cached-plan rendering add no
  * textual noise.
  *
  * Audited set: every query except the pipeline + streaming families
  * (their `fn` IS the work — fixture generation, snapshot writes,
  * micro-batch execution — so planning them here would run real jobs;
  * same exclusion and reasoning as SparkOrderAuditSpec). */
/** The sweep core, shared with PipelinePlanSweepSpec (which applies the
  * same defect signature to the pipeline/streaming families' executed
  * plans). */
private[queries] object ExpensiveSweep {

  /** Non-cheap expressions worth never paying twice per row: array-set
    * ops (O(n) with allocation), sorts, regex ops (automaton
    * execution), JSON parsing, the higher-order functions
    * (per-element lambda interpretation), and the export pipeline's
    * stage expressions (a JSON parse, a key-service call, JSON tree
    * rewrites). Matched by prettyName. */
  val Expensive = Set(
    "array_intersect", "array_union", "array_except", "array_distinct",
    "array_sort", "sort_array", "arrays_zip", "array_repeat",
    "regexp_extract_all", "regexp_extract", "regexp_replace",
    "regexp_count", "rlike", "from_json", "to_json", "str_to_map",
    "zip_with", "map_zip_with", "sentences", "aggregate", "transform",
    "filter", "exists", "forall", "reduce",
    "graft_envelope", "graft_unwrap_key", "graft_business_audit",
    "graft_validate", "graft_equality_wrap")

  /** Every within-operator duplicate expensive call in `plan`:
    * (nodeName, prettyName, occurrence count, canonicalized call). */
  def duplicates(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[(String, String, Int, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, String)]
    plan.foreach { node =>
      val calls = node.expressions.flatMap(_.collect {
        case e: Expression if Expensive(e.prettyName) =>
          (e.prettyName, e.canonicalized.toString)
      })
      for (((fn, call), occ) <- calls.groupBy(identity) if occ.size >= 2)
        out += ((node.nodeName, fn, occ.size, call))
    }
    out.toSeq
  }
}

class ExpensiveExprSweepSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Adjudicated (query, prettyName) → set of within-operator
    * duplicate call counts accepted there, each with its argument
    * read from the plan. Empty = the healthy state: the round-18
    * integer-threshold restructuring (Dedup.minhashPairsFrom,
    * Curation q104, Dedup q148) removed every live instance. */
  private val Adjudicated: Map[(String, String), Set[Int]] = Map.empty

  test("no operator evaluates the same expensive call twice per row") {
    val skip = PipelineQueries.queries.keySet ++ StreamingQueries.queries.keySet
    val audit = (graft.SparkEntry.queries.keySet -- skip).toSeq.sorted
    assert(audit.size >= 200, s"audit population collapsed: ${audit.size}")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- audit) {
      val opt = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      for ((nodeName, fn, n, call) <- ExpensiveSweep.duplicates(opt)
          if !Adjudicated.getOrElse((name, fn), Set.empty)(n))
        offenders += s"$name $nodeName: ${n}x $fn — ${call.take(90)}"
    }
    assert(offenders.distinct.isEmpty,
      "an operator evaluates the same non-cheap call twice per row " +
        "(alias-inlining pushdown or a hand-written duplicate) — name " +
        "the subexpression in its own projection and gate BEFORE the " +
        "derived alias like Dedup.minhashPairsFrom, or adjudicate " +
        "with the argument:\n  " + offenders.distinct.mkString("\n  "))
  }
}
