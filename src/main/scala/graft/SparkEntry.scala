package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Curation, Dedup, EventAnalytics, GraphOps, Integrity, Multimodal, PipelineQueries, Relational, Sampling, Similarity, StreamingQueries, TextAnalysis, TpchSuite}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY §2.3 Q1–Q16 plus the
  * training-data-pipeline operators: dedup, similarity, text analysis);
  * `oracleSql` carries the DuckDB twin of each SQL-expressible query.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q18TpchQ3(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * The declarative families go through [[graft.core.PlanMemo]] — a
    * prepared-statement cache over the optimized logical plan (repeat
    * invocations skip DataFrame-API construction and the optimizer
    * fixpoint; analysis check, one cheap optimizer pass, planning and
    * execution still run per call, and a
    * purity probe pins any query whose construction runs Spark jobs
    * as non-memoizable). The export pipeline and streaming families
    * are never wrapped: their fn IS the work (fixture generation,
    * snapshot writes, micro-batch execution). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.core.PlanMemo.wrap(
      Relational.queries ++ Dedup.queries ++ TextAnalysis.queries ++
        Similarity.queries ++ Multimodal.queries ++
        EventAnalytics.queries ++ Sampling.queries ++
        Curation.queries ++ GraphOps.queries ++ Integrity.queries ++
        TpchSuite.queries) ++
      PipelineQueries.queries ++ StreamingQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Dedup.oracles ++ TextAnalysis.oracles ++
      Similarity.oracles ++ PipelineQueries.oracles ++ Multimodal.oracles ++
      StreamingQueries.oracles ++ EventAnalytics.oracles ++ Sampling.oracles ++
      Curation.oracles ++ GraphOps.oracles ++ Integrity.oracles ++
      TpchSuite.oracles
}
