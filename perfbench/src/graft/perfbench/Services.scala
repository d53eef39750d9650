package graft.perfbench

import java.util.concurrent.atomic.LongAdder

import graft.pipeline.{Completion, Control, DataKeyResult, KeyService}

/** Counts of calls into the services `ExportJob.run` takes as
  * parameters. JVM-global: in local mode the key service's task-side
  * copies run in this JVM, so their calls land here too. */
object ServiceCounters {
  val unwrapCalls = new LongAdder
  val controlCalls = new LongAdder
  val controlNs = new LongAdder
  val messages = new LongAdder

  def snapshot(): Map[String, Double] = Map(
    "unwrap_calls" -> unwrapCalls.sum.toDouble,
    "control_calls" -> controlCalls.sum.toDouble,
    "control_s" -> controlNs.sum / 1e9,
    "messages" -> messages.sum.toDouble)

  /** Times one control-plane call, as a span when tracing. */
  def control[A](tracer: Option[Tracer], name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.fold(body)(_.span(name)(body))
    finally {
      controlNs.add(System.nanoTime() - t0)
      controlCalls.increment()
    }
  }
}

final class CountingKeyService(inner: KeyService) extends KeyService {
  override def decryptKey(keyEncryptionKeyId: String, encryptedKey: String): String = {
    ServiceCounters.unwrapCalls.increment()
    inner.decryptKey(keyEncryptionKeyId, encryptedKey)
  }
  override def batchDataKey(): DataKeyResult = inner.batchDataKey()
}

final class CountingStatusService(inner: Control.ExportStatusService,
    tracer: Option[Tracer]) extends Control.ExportStatusService {
  private def c[A](body: => A): A =
    ServiceCounters.control(tracer, "control.status")(body)
  override def setStatus(collection: String, status: Control.CollectionStatus): Unit =
    c(inner.setStatus(collection, status))
  override def incrementExportedCount(collection: String): Unit =
    c(inner.incrementExportedCount(collection))
  override def exportedFilesCount(collection: String): Int =
    c(inner.exportedFilesCount(collection))
  override def incrementSentCount(collection: String): Unit =
    c(inner.incrementSentCount(collection))
  override def sentFilesCount(collection: String): Int =
    c(inner.sentFilesCount(collection))
  override def statusItem(collection: String): Control.StatusItem =
    c(inner.statusItem(collection))
  override def statuses(): Seq[String] = c(inner.statuses())
}

final class CountingProductStatus(inner: Completion.ProductStatusService,
    tracer: Option[Tracer]) extends Completion.ProductStatusService {
  override def setCompletedStatus(): Unit =
    ServiceCounters.control(tracer, "control.product")(inner.setCompletedStatus())
  override def setFailedStatus(): Unit =
    ServiceCounters.control(tracer, "control.product")(inner.setFailedStatus())
}

final class CountingSqs(inner: Completion.SqsClient, tracer: Option[Tracer])
    extends Completion.SqsClient {
  override def send(message: Completion.SqsMessage): Unit = {
    ServiceCounters.messages.increment()
    ServiceCounters.control(tracer, "control.sqs")(inner.send(message))
  }
}

final class CountingSns(inner: Completion.SnsClient, tracer: Option[Tracer])
    extends Completion.SnsClient {
  override def publish(message: Completion.SnsMessage): Unit = {
    ServiceCounters.messages.increment()
    ServiceCounters.control(tracer, "control.sns")(inner.publish(message))
  }
}
