package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The whole export job as ONE entry point — the orchestration a
  * reference user runs end-to-end (Spring Batch's job assembly,
  * JobConfiguration.kt:31-76 + the completion listener), Spark-first:
  *
  * {{{
  *   blocked-topic gate → Exporting status → source scan
  *     → ExportPipeline (parse/decrypt/transform/validate/sanitise)
  *     → SnapshotWriter (byte-rolling compress+encrypt + manifests)
  *     → per-file FilesExported increment + snapshot-sender notify
  *       (S3StreamingWriter.kt:131-132)
  *     → CompletionListener.afterJob (statuses, payloads, product
  *       status, monitoring)
  * }}}
  *
  * Failure classes map to the reference's terminal statuses
  * (JobCompletionNotificationListener.kt:69-91): blocked topic →
  * Blocked_Topic, missing table → Table_Unavailable (both COUNT AS
  * SUCCESS in the run-level fold), anything else → Export_Failed.
  *
  * Scale: the driver does gate/status/completion only; scan → pipeline
  * → writer is ONE pass: one job over one distributed lineage with a
  * single shuffle (the writer's slice repartition). The writer takes
  * the whole pipeline output, so no `err IS NULL` filter exists for
  * Catalyst's PushDownPredicates to inline the pipeline's `err` chain
  * into, and the typed skip counts come back in the sink's commit
  * messages (one count per committed partition, read from the data)
  * instead of from a second evaluation. The per-file loop walks the
  * writer's accounting rows (one per written file), never record data.
  */
object ExportJob {

  final case class Result(
      outcome: Control.JobOutcome,
      completionStatus: Control.ExportCompletionStatus,
      files: Seq[SnapshotWriter.FileAccounting],
      skips: Map[String, Long],
      /** The unclassified failure behind an Export_Failed outcome —
        * carried for callers, logged before classification (the
        * reference logs allFailureExceptions in afterJob). */
      failure: Option[Throwable] = None)

  def run(spark: SparkSession,
      source: SparkSession => DataFrame,
      cfg: Completion.Config,
      writerCfg: SnapshotWriter.Config,
      keys: KeyService,
      exportStatus: Control.ExportStatusService,
      productStatus: Completion.ProductStatusService,
      messaging: Completion.SqsMessagingService,
      sns: Completion.SnsPublishingService,
      blockedTopics: String = ""): Result = {
    // snapshot type flows from cfg alone: one source of truth for the
    // pipeline's manifest-timestamp preference AND the payload/arn/PDM
    // gates (a separate parameter let the two silently diverge)

    val listener = new Completion.CompletionListener(
      cfg, exportStatus, productStatus, messaging, sns)

    // Outcome classification stays inside the try; the completion
    // fan-out runs AFTER it, exactly once — were afterJob inside the
    // try, one of its own send failures would re-enter the catch-all
    // and fire a second, contradictory fan-out (Export_Failed over a
    // topic that exported).
    val (outcome, files, skips, failure) =
      try {
        Control.checkTopicNotBlocked(cfg.topicName, blockedTopics)
        exportStatus.setStatus(cfg.topicName, Control.CollectionStatus.Exporting)

        val out = ExportPipeline.run(source(spark), cfg.topicName, keys,
          cfg.snapshotType)
        // snapshot type flows from cfg into the writer's metadata too
        // (data_product_type): one source of truth end-to-end
        val (written, skipCounts) = SnapshotWriter.export(out,
          writerCfg.copy(snapshotType = cfg.snapshotType), keys)
        // per-file accounting, in the writer's own order
        // (S3StreamingWriter.kt:131-132): count increment + FIFO
        // snapshot-sender message carrying the object's full path
        written.foreach { fa =>
          exportStatus.incrementExportedCount(cfg.topicName)
          messaging.notifySnapshotSender(s"${writerCfg.outputDir}/${fa.file}")
        }
        (Control.JobOutcome(completed = true), written, skipCounts,
          Option.empty[Throwable])
      } catch {
        case _: Control.BlockedTopicException =>
          (Control.JobOutcome(completed = false, blockedTopic = true),
            Nil, Map.empty[String, Long], Option.empty[Throwable])
        case _: Control.TableUnavailableException =>
          (Control.JobOutcome(completed = false, tableUnavailable = true),
            Nil, Map.empty[String, Long], Option.empty[Throwable])
        case e: Exception =>
          // an Export_Failed run must be diagnosable: log the cause
          // BEFORE classifying it away
          // (JobCompletionNotificationListener.kt logs
          // allFailureExceptions)
          System.err.println(s"[export-job] ${cfg.topicName} failed: $e")
          e.printStackTrace()
          (Control.JobOutcome(completed = false), Nil,
            Map.empty[String, Long], Option(e): Option[Throwable])
      }
    Result(outcome, listener.afterJob(outcome), files, skips, failure)
  }
}
