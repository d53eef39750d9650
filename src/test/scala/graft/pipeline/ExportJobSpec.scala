package graft.pipeline

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
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
    * Catalyst's PushDownPredicates: fed `ExportPipeline.records(out)`,
    * an `err IS NULL` filter, the writer's plan gets that filter pushed
    * below the pipeline's projections with the whole `err` coalesce
    * chain (from_json, the unwrap UDF, graft_aes_ctr_decrypt, the audit
    * and validate UDFs) inlined into it, so the pipeline runs about
    * three times per row; a separate `skipSummary(out)` action then
    * reads the source a second time. Together that is four unwraps per
    * record and two source passes. Fed the unfiltered output, with the
    * skips counted in the sink, each record with a `dbObject` is
    * unwrapped once and the source is read once. A rise in either
    * count means a filter or a second action crept back. */
  test("one ExportJob.run reads the source once and unwraps each record's key once") {
    val withDbObject = N - N / 100 // the MissingFieldSlot records never reach decrypt
    assert(clean.unwraps == withDbObject,
      s"${clean.unwraps} unwraps for $withDbObject records with a dbObject")
    assert(clean.recordsRead == N,
      s"the source was read ${clean.recordsRead.toDouble / N} times")
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
}
