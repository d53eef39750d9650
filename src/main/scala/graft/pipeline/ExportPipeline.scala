package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{AesCtrDecrypt, BusinessAudit, EqualityWrap, FilterFence, UnwrapKey, ValidateRecord}

/** The end-to-end export pipeline, Spark-first:
  *
  * {{{
  *   raw scan → Envelope.parse (graft_envelope, columnar)
  *            → decrypt (graft_unwrap_key over the per-executor key
  *              cache, then graft_aes_ctr_decrypt)
  *            → businessAudit transform (gated graft_business_audit)
  *            → validate/normalize (graft_validate over the Jackson
  *              tree rewrite)
  *            → sanitise (codegen'd column chain)
  *            → equality transform (gated graft_equality_wrap)
  * }}}
  *
  * mirroring the reference's composite ItemProcessor
  * (app/configuration/JobConfiguration.kt:71-76: HBaseResultProcessor →
  * DecryptionProcessor → SanitisationProcessor →
  * TransformationProcessor, with Validator inside decryption).
  *
  * Every stage is a native Catalyst expression
  * (graft/expressions/ExportExpressions.scala) whose generated code
  * calls the unchanged Scala stage function ([[Validator.validate]],
  * [[Transforms]], the [[KeyService]]) through `ExprRuntime`: no
  * `from_json`, no ScalaUDF. So building the pipeline resolves no UDF
  * encoders, and the whole pipeline stays inside whole-stage codegen.
  *
  * Skip semantics as data, not exceptions: every stage carries an `err`
  * column forward (`missing:*`, `decrypt_failed`, `bad_decrypted`,
  * `audit_failed` — the typed skip list of JobConfiguration.kt:57-61);
  * [[records]] / [[skipSummary]] split the stream at the tail for
  * queries, and the snapshot sink counts and drops skipped rows in the
  * export's one write (see [[SnapshotWriter.export]]). Counts
  * read from the data itself, never from accumulators (at-least-once on
  * task retry — SURVEY §7.4 risk 5).
  *
  * Scale: no shuffle anywhere — the pipeline is embarrassingly
  * parallel over source partitions, so it scales linearly with
  * executors at 100 TB.
  */
object ExportPipeline {

  /** Decrypt stage (reference: DecryptionProcessor.kt:34-46), split
    * for the hot path:
    *  1. data-key unwrap via the (memoised, per-executor) KeyService —
    *     `graft_unwrap_key`, amortized to a cache hit per distinct
    *     wrapped key; NULL on any failure;
    *  2. the per-record AES-CTR decrypt via `graft_aes_ctr_decrypt`
    *     (see [[graft.expressions.AesCtrDecrypt]]).
    * Any failure surfaces as NULL → `decrypt_failed`
    * (DecryptionFailureException semantics). */
  def decrypt(parsed: DataFrame, keys: KeyService): DataFrame =
    parsed
      .withColumn("data_key", when(col("err").isNull,
        ColumnBridge.of(col("kek_id"), col("enc_key"))(e => UnwrapKey(keys, e(0), e(1)))))
      .withColumn("decrypted", when(col("err").isNull,
        ColumnBridge.of(col("data_key"), col("iv"), col("db_object"))(e =>
          AesCtrDecrypt(e(0), e(1), e(2)))))
      .withColumn("err", coalesce(col("err"),
        when(col("decrypted").isNull, "decrypt_failed")))
      .drop("data_key")

  /** businessAudit context lift, gated on (db, collection)
    * (reference: DecryptionProcessor.kt:47-49,59-73). */
  def auditTransform(df: DataFrame): DataFrame = {
    val gate = col("err").isNull &&
      col("db") === Transforms.BusinessAuditDb &&
      col("collection") === Transforms.BusinessAuditCollection
    df.withColumn("aud", when(gate, ColumnBridge.of(col("decrypted"),
        col("last_modified"))(e => BusinessAudit(e(0), e(1)))))
      .withColumns(scala.collection.immutable.ListMap(
        "decrypted" ->
          when(gate, col("aud.decrypted")).otherwise(col("decrypted")),
        "err" -> coalesce(col("err"), col("aud.err"))))
      .drop("aud")
  }

  /** Validation/normalization stage (reference: Validator.kt:31-69 via
    * DecryptionProcessor.kt:46). Emits the normalized document and the
    * manifest columns. `snapshotType` flips the per-record manifest
    * timestamp preference (Validator.kt:172-193): full → cell ts,
    * incremental → `_lastModifiedDateTime`-first with `createdDateTime`
    * fallback, each computed from the record's own fields. */
  def validate(df: DataFrame, snapshotType: String = "full"): DataFrame =
    // single withColumns pass for the struct expansion (was 10 chained
    // passes, each re-analyzing the whole pipeline tree — see
    // Envelope.parse for the per-micro-batch rationale)
    df.withColumn("val",
        when(col("err").isNull,
          ColumnBridge.of(col("decrypted"), col("id_json"), col("ts"),
            col("db"), col("collection"), col("outer_type"),
            col("inner_type"))(ValidateRecord(snapshotType, _))))
      .withColumns(scala.collection.immutable.ListMap(
        "doc" -> col("val.doc"),
        "m_id" -> col("val.m_id"),
        "m_ts" -> col("val.m_ts"),
        "m_db" -> col("val.m_db"),
        "m_collection" -> col("val.m_collection"),
        "m_source" -> col("val.m_source"),
        "m_outer" -> col("val.m_outer"),
        "m_inner" -> col("val.m_inner"),
        "m_original_id" -> col("val.m_original_id"),
        "err" -> coalesce(col("err"), col("val.err"))))
      .drop("val")

  /** Sanitisation: pure column chain (see [[Sanitise.sanitiseCol]]). */
  def sanitise(df: DataFrame): DataFrame =
    df.withColumn("doc",
      when(col("err").isNull,
        Sanitise.sanitiseCol(col("doc"), col("db"), col("collection"))))

  /** equality re-wrap, gated on topic
    * (reference: TransformationProcessor.kt:21-46). */
  def equalityTransform(df: DataFrame, topic: String): DataFrame =
    if (topic != Transforms.EqualityTopic) df
    else df.withColumn("doc", when(col("err").isNull,
      ColumnBridge.of(col("doc"), col("m_inner"))(e => EqualityWrap(e(0), e(1)))))

  /** Full pipeline over a raw scan DataFrame
    * (hbase_id binary, ts long, value string). */
  def run(raw: DataFrame, topic: String, keys: KeyService,
      snapshotType: String = "full"): DataFrame =
    equalityTransform(
      sanitise(validate(auditTransform(
        decrypt(Envelope.parse(raw, topic), keys)), snapshotType)),
      topic)

  /** Successfully exported records: the query-side view of the
    * pipeline output (q41, the writer queries, the streaming export
    * and the specs). [[ExportJob]] does not use it; its writer takes the
    * whole output ([[SnapshotWriter.export]]). The `err` column passes
    * through `graft_fence` ([[graft.expressions.FilterFence]]) before
    * the filter. Without it, Catalyst's PushDownPredicates would push
    * the filter below the pipeline's projections with the whole `err`
    * chain inlined (hundreds of copies of the envelope parse, and the
    * unwrap, decrypt, audit and validate calls): each record would run
    * the pipeline about three times, and the inlined Filter would
    * outgrow the 64 KB limit of a generated method. With it, the
    * pipeline runs once per record and the filter reads its `err`. */
  def records(pipelineOut: DataFrame): DataFrame =
    pipelineOut
      .withColumn("err", ColumnBridge.of(col("err"))(e => FilterFence(e.head)))
      .filter(col("err").isNull)

  /** Typed skip accounting, read from the data (not accumulators): the
    * query-side view (q41 and the specs). [[ExportJob]] takes the same
    * counts from its single write ([[SnapshotWriter.export]]). */
  def skipSummary(pipelineOut: DataFrame): DataFrame =
    pipelineOut.groupBy(coalesce(col("err"), lit("ok")).as("outcome"))
      .agg(count(lit(1)).as("n"))
      .orderBy("outcome")
}
