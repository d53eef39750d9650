package graft.sources

import java.io.File
import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{DataKeyResult, Retry, SnapshotWriter}

/** DataSourceV2 `BatchWrite` for the byte-rolling compress+encrypt
  * snapshot sink — SURVEY §2.1 row 10's named Spark primitive: the
  * sink side of the reference's S3StreamingWriter re-expressed as a
  * driver-coordinated commit protocol instead of task-side direct
  * publication.
  *
  * Division of responsibility:
  *
  *  - **the WRITE declares its physical needs** via
  *    `RequiresDistributionAndOrdering`: clustered on `part` into one
  *    partition per key-range slice, ordered by (slice, m_id). Spark
  *    plans the shuffle + sort — callers no longer hand-roll
  *    `repartition().sortWithinPartitions()`;
  *  - **one writer task per slice**: Spark plans a clustered
  *    distribution as `pmod(murmur3(key, 42), n)`, and clustering on
  *    `slice` itself collides — at width 128 both slice ids hash to
  *    partition 1, at width 64 four slices land in two partitions —
  *    so one task sorts, compresses and encrypts every record while
  *    its siblings sit empty. The shaped input therefore carries
  *    `part`, the key [[partitionKeys]] picks for its slice so that
  *    Spark's own hash sends slice `i` to partition `i`. Two designs
  *    were rejected: `Distributions.ordered` plans a range
  *    partitioner, which samples its child and so evaluates the
  *    pipeline a second time; padding the partition count until the
  *    hash of the slice ids is injective needs 3 partitions for 2
  *    slices but 4,196 for 256;
  *  - **each task stages, never publishes**: a
  *    [[graft.pipeline.SnapshotWriter.SliceRollingWriter]] streams the
  *    partition through constant memory into the task's PRIVATE
  *    staging dir `<outputDir>/.staging-<writeId>/<task>-<attempt>/`;
  *    its `WriterCommitMessage` carries the staged file names, the
  *    per-file accounting and the task's outcome counts. A failed or
  *    speculative attempt's files and counts sit where nothing ever
  *    reads them;
  *  - **skipped rows are counted, never staged**: a row whose `err`
  *    is set (a typed skip of [[graft.pipeline.ExportPipeline]]) adds
  *    one to its `err` count and stops there; every other row adds
  *    one to `"ok"` and goes to the rolling writer. So one evaluation
  *    of the pipeline output feeds both the files and the skip
  *    accounting, and the counts come from the data, not from
  *    accumulators;
  *  - **the driver's `commit()` publishes**: exactly one committed
  *    message per partition (Spark's output-commit coordinator)
  *    has its files moved into the output/manifest dirs — atomically
  *    within a filesystem, via copy-into-target-then-rename when the
  *    manifest dir sits on a DIFFERENT filesystem than staging
  *    ([[SnapshotSinkBatchWrite.publish]]) — under the reference's
  *    retry envelope (S3ObjectServiceImpl.kt:19-23), since
  *    publication is the S3-PUT analogue — then the staging root is
  *    deleted. The committed messages' outcome counts are summed, so
  *    each partition's rows are counted exactly once however often
  *    its task was retried. `abort()` only deletes staging. Guarantee
  *    level: a consumer can never observe a TORN FILE or an uncommitted
  *    attempt's output (task-level atomicity, the v1-committer
  *    contract); a driver crash mid-commit can leave a published
  *    PREFIX of the job plus a `.staging-*` dir, which the `_SUCCESS`
  *    marker written as commit's last step lets consumers detect —
  *    key on the marker, ignore snapshots without it.
  *
  * At 100 TB this is the layout a 1000-executor run uses unchanged:
  * staging becomes a task-scoped object-store prefix, the commit
  * moves become copy-or-rename PUTs, and the commit message (file
  * names + accounting, not data) stays a few KB per task.
  *
  * The sink is internal to [[graft.pipeline.SnapshotWriter]]:
  * config and the batch data key travel through a driver-side
  * registry keyed by the `writeId` option, never through plan-visible
  * options (the plaintext DEK must not appear in `explain` output or
  * event logs).
  */
object SnapshotSink {

  /** Input schema — the [[SnapshotWriter.WriteRecord]] shape plus the
    * row's nullable `err` (the typed skip reason; null for a record)
    * and `part`, the clustering key of the row's slice
    * ([[partitionKeys]]); the data writer never reads `part`. */
  val InputSchema: StructType = new StructType()
    .add("slice", IntegerType).add("doc", StringType)
    .add("m_id", StringType).add("m_ts", LongType)
    .add("m_db", StringType).add("m_collection", StringType)
    .add("m_source", StringType).add("m_outer", StringType)
    .add("m_inner", StringType).add("m_original_id", StringType)
    .add("err", StringType).add("part", IntegerType)

  /** For each slice `i` of `slices`, the smallest non-negative `Int`
    * that Spark's `HashPartitioning` over `slices` partitions places
    * in partition `i` — evaluated through Spark's own partition-id
    * expression, so the keys follow its hash (and seed) by
    * construction. Clustering on these keys gives every slice its own
    * writer task. */
  def partitionKeys(slices: Int): IndexedSeq[Int] = {
    val keys = Array.fill(slices)(-1)
    var found = 0
    var k = 0
    while (found < slices) {
      val p = HashPartitioning(Seq(Literal(k)), slices)
        .partitionIdExpression.eval(InternalRow.empty).asInstanceOf[Int]
      if (keys(p) < 0) { keys(p) = k; found += 1 }
      k += 1
    }
    keys.toIndexedSeq
  }

  private val pending =
    new ConcurrentHashMap[String, (SnapshotWriter.Config, DataKeyResult)]()
  private[sources] val committed =
    new ConcurrentHashMap[String, (Seq[SnapshotWriter.FileAccounting], Map[String, Long])]()

  /** Driver-side handoff from [[SnapshotWriter.write]]. */
  def register(writeId: String, cfg: SnapshotWriter.Config,
      dek: DataKeyResult): Unit = {
    pending.put(writeId, (cfg, dek)); ()
  }

  def unregister(writeId: String): Unit = {
    pending.remove(writeId); committed.remove(writeId); ()
  }

  private[sources] def lookup(writeId: String): (SnapshotWriter.Config, DataKeyResult) = {
    val v = pending.get(writeId)
    require(v != null,
      s"SnapshotSink write $writeId not registered — use SnapshotWriter.write")
    v
  }

  /** The committed files and outcome counts of a finished write
    * (commit() populated). */
  def takeCommitted(writeId: String): (Seq[SnapshotWriter.FileAccounting], Map[String, Long]) = {
    val v = committed.remove(writeId)
    require(v != null, s"SnapshotSink write $writeId never committed")
    v
  }

  private[sources] def stagingRoot(cfg: SnapshotWriter.Config, writeId: String): File =
    new File(cfg.outputDir, s".staging-$writeId")

  private[sources] def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }
}

class SnapshotSink extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotSink.InputSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotSinkTable
}

private[sources] final class SnapshotSinkTable extends Table with SupportsWrite {

  override def name(): String = "graft_snapshot_sink"
  override def schema(): StructType = SnapshotSink.InputSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val writeId = info.options.get("writeId")
    require(writeId != null, "SnapshotSink requires a writeId option")
    val (cfg, dek) = SnapshotSink.lookup(writeId)
    new WriteBuilder {
      override def build(): Write = new SnapshotSinkWrite(writeId, cfg, dek)
    }
  }
}

private[sources] final class SnapshotSinkWrite(writeId: String,
    cfg: SnapshotWriter.Config, dek: DataKeyResult)
    extends Write with RequiresDistributionAndOrdering {

  // one partition per key-range slice, each sorted by (slice, m_id) —
  // the physical shape the rolling writer needs, declared to (and
  // planned by) Catalyst. Clustered on `part`, not `slice`: Spark's
  // hash of the slice ids collides (both width-128 slices land in
  // partition 1), while slice i's `part` key hashes to partition i
  // (SnapshotSink.partitionKeys; the rejected alternatives are in the
  // SnapshotSink scaladoc)
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("part")))
  override def requiredNumPartitions(): Int = 256 / cfg.scanWidth
  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("slice"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.column("m_id"), SortDirection.ASCENDING))

  override def toBatch: BatchWrite = new SnapshotSinkBatchWrite(writeId, cfg, dek)
}

/** One staged file: where it sits now and where commit puts it. */
private[sources] final case class StagedFile(stagedPath: String,
    targetDir: String, name: String)

private[sources] final case class SnapshotCommitMessage(
    attemptDir: String, files: Seq[StagedFile],
    accounting: Seq[SnapshotWriter.FileAccounting],
    outcomes: Map[String, Long]) extends WriterCommitMessage

private[sources] final class SnapshotSinkBatchWrite(writeId: String,
    cfg: SnapshotWriter.Config, dek: DataKeyResult) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SnapshotDataWriterFactory(writeId, cfg, dek)

  /** Publication: move every committed task's staged files into the
    * output/manifest dirs (each move atomic; the whole step under the
    * reference's S3-PUT retry envelope), then drop staging. Runs on
    * the driver AFTER every partition has exactly one committed
    * message — the all-or-nothing boundary. */
  /** Atomically materializes one staged file at `target`. Staging
    * lives under outputDir, but the MANIFEST dir may be a different
    * filesystem/mount — there `ATOMIC_MOVE` across the boundary
    * throws `AtomicMoveNotSupportedException` (a non-retryable error
    * the retry envelope must not spin on), so the file is first
    * copied to a dot-temp INSIDE the target dir and renamed
    * atomically within it — the same-filesystem guarantee restored. */
  private def publish(staged: java.nio.file.Path, target: java.nio.file.Path): Unit =
    try {
      java.nio.file.Files.move(staged, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        val tmp = target.resolveSibling("." + target.getFileName + ".publish")
        java.nio.file.Files.copy(staged, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.deleteIfExists(staged)
        ()
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.map(_.asInstanceOf[SnapshotCommitMessage])
    msgs.foreach { m =>
      m.files.foreach { f =>
        val target = new File(f.targetDir, f.name)
        target.getParentFile.mkdirs()
        Retry.withRetry(Retry.Policy()) {
          publish(new File(f.stagedPath).toPath, target.toPath)
        }
      }
    }
    SnapshotSink.deleteRecursively(SnapshotSink.stagingRoot(cfg, writeId))
    // terminal marker — commit's LAST step, so its presence certifies
    // every file above was published (consumers key on it; a
    // mid-commit driver crash leaves no marker)
    java.nio.file.Files.writeString(
      new File(cfg.outputDir, "_SUCCESS").toPath, "")
    val outcomes = msgs.flatMap(_.outcomes).groupMapReduce(_._1)(_._2)(_ + _)
    SnapshotSink.committed.put(writeId, (msgs.flatMap(_.accounting).toSeq, outcomes))
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SnapshotSink.deleteRecursively(SnapshotSink.stagingRoot(cfg, writeId))
}

private[sources] final class SnapshotDataWriterFactory(writeId: String,
    cfg: SnapshotWriter.Config, dek: DataKeyResult) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotDataWriter(writeId, cfg, dek, partitionId, taskId)
}

/** Task-side writer: rows (one slice per partition, (slice,
  * m_id)-sorted by the declared distribution; `part` is not read) are
  * counted by outcome (`err`, or `"ok"`); the ok rows stream through
  * the rolling writer into this attempt's private staging dir. `commit()` hands the staged file
  * list, accounting and counts to the driver; `abort()` deletes the
  * attempt dir. Fault injection (Config.faultFirstAttemptAfter)
  * fails FIRST attempts mid-partition so the retry spec can prove
  * staged-but-uncommitted files never surface. */
private[sources] final class SnapshotDataWriter(writeId: String,
    cfg: SnapshotWriter.Config, dek: DataKeyResult, partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val tc = org.apache.spark.TaskContext.get()
  private val attempt = if (tc != null) tc.attemptNumber() else 0
  private val attemptDir = new File(
    SnapshotSink.stagingRoot(cfg, writeId), s"$partitionId-$taskId-$attempt")
  private val stagedOut = new File(attemptDir, "out")
  private val stagedMan = new File(attemptDir, "man")
  stagedOut.mkdirs(); stagedMan.mkdirs()

  private val rolling =
    new SnapshotWriter.SliceRollingWriter(cfg, dek, stagedOut, stagedMan)

  private val faultAt =
    if (cfg.faultFirstAttemptAfter > 0 && attempt == 0)
      cfg.faultFirstAttemptAfter
    else Int.MaxValue
  private var written = 0L
  private val outcomes = scala.collection.mutable.HashMap.empty[String, Long]

  override def write(row: InternalRow): Unit =
    if (!row.isNullAt(10)) {
      val err = row.getString(10)
      outcomes(err) = outcomes.getOrElse(err, 0L) + 1
    } else {
      if (written >= faultAt) {
        SnapshotWriter.faultsInjected.incrementAndGet()
        throw new java.io.IOException(
          s"injected mid-partition writer fault after $written records")
      }
      rolling.write(SnapshotWriter.WriteRecord(
        row.getInt(0), row.getString(1), row.getString(2), row.getLong(3),
        row.getString(4), row.getString(5), row.getString(6), row.getString(7),
        row.getString(8), row.getString(9)))
      written += 1
    }

  override def commit(): WriterCommitMessage = {
    val acct = rolling.finish()
    if (written > 0) outcomes("ok") = written
    def staged(dir: File, targetDir: String): Seq[StagedFile] = {
      val names = dir.list()
      (if (names == null) Array.empty[String] else names).sorted.toSeq
        .map(n => StagedFile(new File(dir, n).getPath, targetDir, n))
    }
    SnapshotCommitMessage(attemptDir.getPath,
      staged(stagedOut, cfg.outputDir) ++ staged(stagedMan, cfg.manifestDir),
      acct, outcomes.toMap)
  }

  override def abort(): Unit = SnapshotSink.deleteRecursively(attemptDir)

  override def close(): Unit = ()
}
