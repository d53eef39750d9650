package graft.pipeline

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.Base64

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.GraftScheduler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, ScalaUDF}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite
import graft.expressions.{EnvelopeFields, UnwrapKey, ValidateRecord}
import graft.pipeline.Completion._
import graft.pipeline.Control.{CollectionStatus, ExportCompletionStatus, InMemoryStatusService, JobOutcome}

/** Whole-job orchestration spec: gate → scan → pipeline → writer →
  * per-file accounting → completion fan-out, against the reference's
  * end-to-end expectations (UberTestSpec.kt "Correct messages sent":
  * one FIFO snapshot-sender message per written file carrying its
  * path, plus the no-files / blocked / failed flows). */
class ExportJobSpec extends SparkSuite {

  private val noSleep: Long => Unit = _ => ()

  private def harness(topic: String = Fixture.Topic) = {
    val outDir = java.nio.file.Files.createTempDirectory("graft-job-out")
    val manDir = java.nio.file.Files.createTempDirectory("graft-job-man")
    val cfg = Config(
      topicName = topic, snapshotType = "full", exportDate = "2020-06-05",
      correlationId = "job-correlation", s3Prefix = outDir.toString,
      monitoringTopicArn = "arn:mon", fullTopicArn = "arn:full")
    val writerCfg = SnapshotWriter.Config(outDir.toString, manDir.toString,
      topic, maxBatchBytes = 20000, compression = "gz")
    val status = new InMemoryStatusService
    val product = new InMemoryProductStatusService(cfg.correlationId, sleeper = noSleep)
    val sqs = new RecordingSqs
    val sns = new RecordingSns
    (cfg, writerCfg, status, product, sqs, sns,
      new SqsMessagingService(cfg, sqs, sleeper = noSleep),
      new SnsPublishingService(cfg, sns, sleeper = noSleep))
  }

  /** q41's corpus size: each typed skip takes 1 in 100 records. */
  private val N = 10000L

  private def corruptRun(faultFirstAttemptAfter: Int = 0): ExportJobSpec.CorruptRun = {
    val (cfg, writerCfg, status, product, _, _, messaging, snsService) = harness()
    val before = ExportJobSpec.unwraps.sum
    val (result, reg) = Metrics.instrumented(spark) { _ =>
      ExportJob.run(spark, s => Fixture.generate(s, N, corrupt = true), cfg,
        writerCfg.copy(faultFirstAttemptAfter = faultFirstAttemptAfter),
        new ExportJobSpec.CountingKeys(Fixture.keyService), status, product,
        messaging, snsService)
    }
    ExportJobSpec.CorruptRun(result, Path.of(writerCfg.outputDir),
      Path.of(writerCfg.manifestDir), ExportJobSpec.unwraps.sum - before,
      reg.counter("graft_records_read_total"))
  }

  private lazy val clean = corruptRun()

  /** Every regular file under `dir`, relative path → bytes. */
  private def tree(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  /** Single-evaluation pin for the export. It guards against
    * Catalyst's PushDownPredicates: an unfenced `err IS NULL` filter
    * over the pipeline output gets pushed below the pipeline's
    * projections with the whole `err` chain (the envelope parse, the
    * unwrap, graft_aes_ctr_decrypt, the audit and validate calls)
    * inlined into it, so the pipeline runs about three times per row;
    * a separate `skipSummary(out)` action then reads the source a
    * second time. Together that is four unwraps per record and two
    * source passes. Fed the unfiltered output, with the skips counted
    * in the sink, each record with a `dbObject` is unwrapped once and
    * the source is read once. A rise in either count means a filter or
    * a second action crept back. */
  test("one ExportJob.run reads the source once and unwraps each record's key once") {
    val withDbObject = N - N / 100 // the MissingFieldSlot records never reach decrypt
    assert(clean.unwraps == withDbObject,
      s"${clean.unwraps} unwraps for $withDbObject records with a dbObject")
    assert(clean.recordsRead == N,
      s"the source was read ${clean.recordsRead.toDouble / N} times")
  }

  test("ExportPipeline.records runs the pipeline once per record: its filter is not pushed down") {
    val n = 2000L
    val before = ExportJobSpec.unwraps.sum
    val recs = ExportPipeline.records(ExportPipeline.run(
      Fixture.generate(spark, n, corrupt = true), Fixture.Topic,
      new ExportJobSpec.CountingKeys(Fixture.keyService)))
    recs.write.format("noop").mode("overwrite").save()
    // one unwrap per record with a dbObject; a pushed-down filter
    // re-derives `err` and unwraps about three times per record
    assert(ExportJobSpec.unwraps.sum - before == n - n / 100)
    assert(recs.count() == n - 3 * n / 100)
  }

  test("conservation: read = written + typed skips, with q41's seeded shares") {
    val r = clean.result
    assert(r.outcome == JobOutcome(completed = true))
    val written = r.files.map(_.records).sum
    val typed = r.skips - "ok"
    assert(written + typed.values.sum == clean.recordsRead)
    assert(typed == Map("bad_decrypted" -> 100L, "decrypt_failed" -> 100L,
      "missing:dbObject" -> 100L))
    val manifestLines = tree(clean.manDir).collect {
      case (name, bytes) if name.endsWith(".csv") => bytes.count(_ == '\n').toLong
    }.sum
    assert(r.skips("ok") == written && manifestLines == written)
  }

  test("a retried writer task's partial counts never merge: counts and files equal a fault-free run") {
    val before = SnapshotWriter.faultsInjected.get()
    val faulted = corruptRun(faultFirstAttemptAfter = 1000)
    assert(SnapshotWriter.faultsInjected.get() - before > 0,
      "no writer fault fired, so the run proves nothing")
    assert(faulted.result.outcome == JobOutcome(completed = true))
    assert(faulted.result.skips == clean.result.skips)
    assert(faulted.result.files.toSet == clean.result.files.toSet)
    assert(tree(faulted.outDir) == tree(clean.outDir))
    assert(tree(faulted.manDir) == tree(clean.manDir))
  }

  /** Pipeline output against the parent's from_json + ScalaUDF form
    * ([[ExportJobSpec.UdfReference]]): same rows, both ways. */
  private def assertSameAsUdfForm(raw: DataFrame, topic: String,
      snapshotType: String): Unit = {
    val keys = Fixture.keyService
    val native = ExportPipeline.run(raw, topic, keys, snapshotType)
    val udf = ExportJobSpec.UdfReference.run(raw, topic, keys, snapshotType)
    assert(native.schema.map(f => (f.name, f.dataType)) ==
      udf.schema.map(f => (f.name, f.dataType)))
    val n = udf.count()
    assert(native.count() == n && n > 0)
    val (onlyNative, onlyUdf) = (native.exceptAll(udf), udf.exceptAll(native))
    assert(onlyNative.isEmpty && onlyUdf.isEmpty,
      s"$topic/$snapshotType: ${onlyNative.count()} rows only in the native pipeline, " +
        s"${onlyUdf.count()} only in the UDF form; e.g. " +
        onlyNative.take(2).mkString("; ") + " vs " + onlyUdf.take(2).mkString("; "))
    // the comparison covered real skips and real documents
    val outcomes = native.select(coalesce(col("err"), lit("ok"))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(outcomes("ok"), s"$topic/$snapshotType: no record survived")
  }

  test("stages equal the parent's UDF forms: corrupt fixture, full and incremental") {
    val raw = Fixture.generate(spark, 2000, corrupt = true)
    assertSameAsUdfForm(raw, Fixture.Topic, "full")
    assertSameAsUdfForm(raw, Fixture.Topic, "incremental")
  }

  test("stages equal the parent's UDF forms: businessAudit with good and missing context") {
    val payloads = Seq(
      """{"context":{"AUDIT_ID":"1","USER":"u"},"auditType":"T"}""",
      """{"auditType":"T"}""",
      """{"context":null,"auditType":"T"}""",
      """{"context":"not an object","auditType":"T"}""",
      """{"context":{"AUDIT_ID":"2"}}""",
      """{"context":{"AUDIT_ID":"3","createdDateTime":"2015-03-20T12:23:25.183Z"},"auditType":"T"}""",
      "[1, 2]", "{{{")
    val raw = ExportJobSpec.auditCells(spark, payloads)
      .unionByName(Fixture.generateBusinessAudit(spark, 1000, corrupt = true))
    assertSameAsUdfForm(raw, "db.data.businessAudit", "full")
    val skips = ExportPipeline.skipSummary(
      ExportPipeline.run(raw, "db.data.businessAudit", Fixture.keyService))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(skips.getOrElse("audit_failed", 0L) >= 10L + 4L, s"audit skips: $skips")
  }

  test("stages equal the parent's UDF forms: the data.equality topic") {
    assertSameAsUdfForm(Fixture.generateEquality(spark, 1000), Transforms.EqualityTopic, "full")
  }

  test("ExportJob.run's executed write plan holds no ScalaUDF and no JsonToStructs") {
    val captured = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.synchronized { captured += qe }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val (cfg, writerCfg, status, product, _, _, messaging, snsService) = harness()
    spark.listenerManager.register(listener)
    val result = try {
      val r = ExportJob.run(spark, s => Fixture.generate(s, 1000, corrupt = true), cfg,
        writerCfg, Fixture.keyService, status, product, messaging, snsService)
      GraftScheduler.waitListenerBusEmpty(spark.sparkContext, 30000)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(result.outcome == JobOutcome(completed = true))
    val exprs = captured.synchronized(captured.toVector)
      .flatMap(qe => ExportJobSpec.planNodes(qe.executedPlan))
      .flatMap(_.expressions).flatMap(_.collect { case e: Expression => e })
    // positive control: the walk reaches the pipeline's expressions
    assert(exprs.exists(_.isInstanceOf[EnvelopeFields]) &&
      exprs.exists(_.isInstanceOf[UnwrapKey]) && exprs.exists(_.isInstanceOf[ValidateRecord]),
      s"the write's executed plan was not reached (${captured.size} executions)")
    assert(!exprs.exists(e => e.isInstanceOf[ScalaUDF] || e.isInstanceOf[JsonToStructs]),
      exprs.filter(e => e.isInstanceOf[ScalaUDF] || e.isInstanceOf[JsonToStructs])
        .map(_.prettyName).distinct.mkString(", "))
  }

  test("happy path: one snapshot-sender message per written file, counts + statuses land") {
    val (cfg, writerCfg, status, product, sqs, _, messaging, snsService) = harness()
    val result = ExportJob.run(spark, s => Fixture.generate(s, 500), cfg,
      writerCfg, Fixture.keyService, status, product, messaging, snsService)

    assert(result.outcome == JobOutcome(completed = true))
    assert(result.completionStatus == ExportCompletionStatus.CompletedSuccessfully)
    assert(result.files.nonEmpty && result.files.map(_.records).sum == 500)
    assert(result.skips == Map("ok" -> 500L))

    // one FIFO message per file, body carrying the object's full path
    val senderBodies = sqs.sent.filter(_.messageGroupId.isDefined).map(_.body)
    assert(senderBodies.size == result.files.size)
    result.files.foreach { fa =>
      assert(senderBodies.exists(_.contains(
        s""""s3_full_folder": "${writerCfg.outputDir}/${fa.file}"""")),
        s"missing per-file message for ${fa.file}")
    }
    assert(status.exportedFilesCount(cfg.topicName) == result.files.size)
    assert(status.statuses() == Seq(CollectionStatus.Exported.name))
    assert(product.currentStatus.contains("COMPLETED"))
  }

  test("empty source: zero files -> the no-files-exported message fires instead") {
    val (cfg, writerCfg, status, product, sqs, _, messaging, snsService) = harness()
    val result = ExportJob.run(spark, s => Fixture.generate(s, 0), cfg,
      writerCfg, Fixture.keyService, status, product, messaging, snsService)
    assert(result.files.isEmpty)
    assert(result.skips.isEmpty)
    assert(result.completionStatus == ExportCompletionStatus.CompletedSuccessfully)
    val bodies = sqs.sent.map(_.body)
    assert(bodies.size == 1 && bodies.head.contains("\"files_exported\": 0"))
  }

  test("blocked topic: Blocked_Topic status, counts as run-level success (quirk)") {
    val (cfg, writerCfg, status, product, sqs, sns, messaging, snsService) = harness()
    val result = ExportJob.run(spark,
      s => fail("source must not be read for a blocked topic"), cfg,
      writerCfg, Fixture.keyService, status, product, messaging, snsService,
      blockedTopics = s"other.topic,${cfg.topicName}")
    assert(result.outcome.blockedTopic)
    assert(status.statuses() == Seq(CollectionStatus.BlockedTopic.name))
    assert(result.completionStatus == ExportCompletionStatus.CompletedSuccessfully)
    assert(sqs.sent.isEmpty, "no snapshot-sender messages for a blocked topic")
    assert(sns.published.map(_.payload).exists(_.contains("Collection failed")))
    assert(product.currentStatus.contains("COMPLETED"))
  }

  test("unavailable table maps to Table_Unavailable (counts as success)") {
    val (cfg, writerCfg, status, product, _, _, messaging, snsService) = harness()
    val result = ExportJob.run(spark,
      _ => throw Control.TableUnavailableException("database:collection"), cfg,
      writerCfg, Fixture.keyService, status, product, messaging, snsService)
    assert(result.outcome.tableUnavailable)
    assert(status.statuses() == Seq(CollectionStatus.TableUnavailable.name))
    assert(result.completionStatus == ExportCompletionStatus.CompletedSuccessfully)
  }

  test("any other failure maps to Export_Failed + FAILED product status") {
    val (cfg, writerCfg, status, product, _, sns, messaging, snsService) = harness()
    val result = ExportJob.run(spark,
      _ => throw new RuntimeException("scan exploded"), cfg,
      writerCfg, Fixture.keyService, status, product, messaging, snsService)
    assert(result.outcome == JobOutcome(completed = false))
    assert(status.statuses() == Seq(CollectionStatus.ExportFailed.name))
    assert(result.completionStatus == ExportCompletionStatus.CompletedUnsuccessfully)
    assert(product.currentStatus.contains("FAILED"))
    assert(sns.published.map(_.payload).exists(_.contains("Export finished - failed")))
  }
}

object ExportJobSpec {
  /** One `ExportJob.run` over the corrupt fixture, with the data-key
    * unwraps it made and the source records its tasks read (off the
    * sentinel-drained listener of [[Metrics.instrumented]]). */
  final case class CorruptRun(result: ExportJob.Result,
      outDir: Path, manDir: Path, unwraps: Long, recordsRead: Long)

  /** JVM-wide unwrap count: under `local[N]` the task-side copies of
    * [[CountingKeys]] run in this JVM, so their calls land here. */
  val unwraps = new java.util.concurrent.atomic.LongAdder

  final class CountingKeys(inner: KeyService) extends KeyService {
    override def decryptKey(keyEncryptionKeyId: String, encryptedKey: String): String = {
      unwraps.increment()
      inner.decryptKey(keyEncryptionKeyId, encryptedKey)
    }
    override def batchDataKey(): DataKeyResult = inner.batchDataKey()
  }

  /** Every node of an executed plan, through adaptive plans and their
    * query stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** `data:businessAudit` envelopes around the given decrypted payloads. */
  def auditCells(spark: org.apache.spark.sql.SparkSession,
      payloads: Seq[String]): DataFrame = {
    import spark.implicits._
    val ks = Fixture.keyService
    val dek = ks.batchDataKey().plaintextDataKey
    val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)
    payloads.zipWithIndex.map { case (payload, i) =>
      val iv = MessageDigest.getInstance("MD5").digest(s"audit-iv:$i".getBytes("UTF-8"))
      val ct = Crypto.encrypt(dek, iv, payload.getBytes("UTF-8"))
      val ivB64 = Base64.getEncoder.encodeToString(iv)
      val value = s"""{"@type":"O","message":{"db":"data","collection":"businessAudit","_id":{"id":"a$i"},"@type":"I","_lastModifiedDateTime":"2018-12-14T15:01:02.000+0000","encryption":{"keyEncryptionKeyId":"${Fixture.MasterKeyId}","encryptedEncryptionKey":"$encKey","initialisationVector":"$ivB64"},"dbObject":"$ct"}}"""
      (Array[Byte](0, 0, 0, 0) ++ s"""{"id":"a$i"}""".getBytes("UTF-8"), 1000L, value)
    }.toDF("hbase_id", "ts", "value")
  }

  /** The parent's pipeline: `from_json` envelope parse
    * ([[EnvelopeSpec.FromJsonReference]]) and ScalaUDF stages — the
    * reference for the native stage expressions. */
  object UdfReference {
    final case class DecryptOut(decrypted: String, err: String)
    final case class ValidateOut(doc: String, m_id: String, m_ts: Long,
        m_db: String, m_collection: String, m_source: String,
        m_outer: String, m_inner: String, m_original_id: String, err: String)

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

    def validate(df: DataFrame, snapshotType: String): DataFrame = {
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

    def equalityTransform(df: DataFrame, topic: String): DataFrame =
      if (topic != Transforms.EqualityTopic) df
      else {
        val wrapUdf = udf { (doc: String, inner: String) =>
          Transforms.equalityWrap(doc, inner)
        }
        df.withColumn("doc",
          when(col("err").isNull, wrapUdf(col("doc"), col("m_inner"))))
      }

    def run(raw: DataFrame, topic: String, keys: KeyService,
        snapshotType: String): DataFrame =
      equalityTransform(
        ExportPipeline.sanitise(validate(auditTransform(
          decrypt(EnvelopeSpec.FromJsonReference.parse(raw, topic), keys)),
          snapshotType)),
        topic)
  }
}
