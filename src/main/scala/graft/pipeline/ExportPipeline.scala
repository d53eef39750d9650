package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end export pipeline, Spark-first:
  *
  * {{{
  *   raw scan → Envelope.parse (from_json, columnar)
  *            → decrypt (UDF over AES-CTR + per-executor key cache)
  *            → businessAudit transform (gated UDF)
  *            → validate/normalize (UDF over the Jackson tree rewrite)
  *            → sanitise (codegen'd column chain)
  *            → equality transform (gated UDF)
  * }}}
  *
  * mirroring the reference's composite ItemProcessor
  * (app/configuration/JobConfiguration.kt:71-76: HBaseResultProcessor →
  * DecryptionProcessor → SanitisationProcessor →
  * TransformationProcessor, with Validator inside decryption).
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
  * Scale: decrypt + validate are per-row UDFs (crypto and JSON-tree
  * recursion are opaque to Catalyst by nature); everything else is
  * columnar and stays inside whole-stage codegen. No shuffle anywhere —
  * the pipeline is embarrassingly parallel over source partitions, so
  * it scales linearly with executors at 100 TB.
  */
object ExportPipeline {

  final case class DecryptOut(decrypted: String, err: String)
  final case class ValidateOut(doc: String, m_id: String, m_ts: Long,
      m_db: String, m_collection: String, m_source: String,
      m_outer: String, m_inner: String, m_original_id: String, err: String)

  /** Decrypt stage (reference: DecryptionProcessor.kt:34-46), split
    * for the hot path:
    *  1. data-key unwrap via the (memoised, per-executor) KeyService —
    *     a UDF, but amortized to a cache hit per distinct wrapped key;
    *  2. the per-record AES-CTR decrypt via the NATIVE Catalyst
    *     expression `graft_aes_ctr_decrypt` (codegen'd, no UDF boxing —
    *     see [[graft.expressions.AesCtrDecrypt]]).
    * Any failure surfaces as NULL → `decrypt_failed`
    * (DecryptionFailureException semantics). */
  def decrypt(parsed: DataFrame, keys: KeyService): DataFrame = {
    graft.expressions.GraftFunctions.ensureRegistered(parsed.sparkSession)
    val unwrapUdf = udf { (kekId: String, encKey: String) =>
      try keys.decryptKey(kekId, encKey) catch { case _: Exception => null }
    }
    parsed
      .withColumn("data_key",
        when(col("err").isNull, unwrapUdf(col("kek_id"), col("enc_key"))))
      .withColumn("decrypted",
        when(col("err").isNull,
          expr("graft_aes_ctr_decrypt(data_key, iv, db_object)")))
      .withColumn("err", coalesce(col("err"),
        when(col("decrypted").isNull, "decrypt_failed")))
      .drop("data_key")
  }

  /** businessAudit context lift, gated on (db, collection)
    * (reference: DecryptionProcessor.kt:47-49,59-73). */
  def auditTransform(df: DataFrame): DataFrame = {
    val auditUdf = udf { (decrypted: String, lastModified: String) =>
      Transforms.businessAudit(decrypted, lastModified) match {
        case Right(doc) => DecryptOut(doc, null)
        case Left(_) => DecryptOut(null, "audit_failed")
      }
    }
    val gate = col("err").isNull &&
      col("db") === Transforms.BusinessAuditDb &&
      col("collection") === Transforms.BusinessAuditCollection
    df.withColumn("aud", when(gate, auditUdf(col("decrypted"), col("last_modified"))))
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
  def validate(df: DataFrame, snapshotType: String = "full"): DataFrame = {
    val validateUdf = udf { (decrypted: String, idJson: String, ts: Long,
        db: String, collection: String, outer: String, inner: String) =>
      Validator.validate(decrypted, idJson, ts, db, collection, outer, inner,
        snapshotType) match {
        case Right(v) => ValidateOut(v.doc, v.manifest.id, v.manifest.timestamp,
          v.manifest.db, v.manifest.collection, v.manifest.source,
          v.manifest.outerSource, v.manifest.innerSource,
          v.manifest.originalId, null)
        case Left(_) => ValidateOut(null, null, 0L, null, null, null, null,
          null, null, "bad_decrypted")
      }
    }
    // single withColumns pass for the struct expansion (was 10 chained
    // passes, each re-analyzing the whole pipeline tree — see
    // Envelope.parse for the per-micro-batch rationale)
    df.withColumn("val",
        when(col("err").isNull,
          validateUdf(col("decrypted"), col("id_json"), col("ts"),
            col("db"), col("collection"), col("outer_type"), col("inner_type"))))
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
  }

  /** Sanitisation: pure column chain (see [[Sanitise.sanitiseCol]]). */
  def sanitise(df: DataFrame): DataFrame =
    df.withColumn("doc",
      when(col("err").isNull,
        Sanitise.sanitiseCol(col("doc"), col("db"), col("collection"))))

  /** equality re-wrap, gated on topic
    * (reference: TransformationProcessor.kt:21-46). */
  def equalityTransform(df: DataFrame, topic: String): DataFrame =
    if (topic != Transforms.EqualityTopic) df
    else {
      val wrapUdf = udf { (doc: String, inner: String) =>
        Transforms.equalityWrap(doc, inner)
      }
      df.withColumn("doc",
        when(col("err").isNull, wrapUdf(col("doc"), col("m_inner"))))
    }

  /** Full pipeline over a raw scan DataFrame
    * (hbase_id binary, ts long, value string). */
  def run(raw: DataFrame, topic: String, keys: KeyService,
      snapshotType: String = "full"): DataFrame =
    equalityTransform(
      sanitise(validate(auditTransform(
        decrypt(Envelope.parse(raw, topic), keys)), snapshotType)),
      topic)

  /** Successfully exported records: the query-side view of the
    * pipeline output (q41 and the specs). [[ExportJob]] does not use
    * it; its writer takes the whole output ([[SnapshotWriter.export]]),
    * because Catalyst's PushDownPredicates inlines this filter's `err`
    * chain, and with it the decrypt and validate work, into the Filter. */
  def records(pipelineOut: DataFrame): DataFrame =
    pipelineOut.filter(col("err").isNull)

  /** Typed skip accounting, read from the data (not accumulators): the
    * query-side view (q41 and the specs). [[ExportJob]] takes the same
    * counts from its single write ([[SnapshotWriter.export]]). */
  def skipSummary(pipelineOut: DataFrame): DataFrame =
    pipelineOut.groupBy(coalesce(col("err"), lit("ok")).as("outcome"))
      .agg(count(lit(1)).as("n"))
      .orderBy("outcome")
}
