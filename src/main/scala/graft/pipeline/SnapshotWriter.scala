package graft.pipeline

import java.io.{BufferedOutputStream, File, OutputStream}
import java.security.MessageDigest
import java.util.Base64

import javax.crypto.CipherOutputStream

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Byte-rolling compress+encrypt snapshot sink + paired pipe-CSV
  * manifests — the reference's S3StreamingWriter re-expressed as a
  * partition-parallel Spark sink (reference:
  * app/batch/S3StreamingWriter.kt:73-187,
  * app/batch/StreamingManifestWriter.kt:18-58,
  * app/domain/DomainClasses.kt:64-90).
  *
  * Faithfully mirrored semantics:
  *  - key-range slices named `topic-SSS-EEE` over the SIGNED first key
  *    byte, `%03d` of the |start|/|stop| bounds (HBasePartitioner.kt:
  *    12-37 two signed loops; S3StreamingWriter.kt:202 filePrefix);
  *  - batches roll when `batchSizeBytes + item.length >` the byte
  *    threshold, counting STRING length like the reference (:78-80);
  *  - stream composition `Buffered → Compressor → Cipher(AES-CTR) →
  *    bytes` (:163-187), one batch data key per run, fresh IV per file;
  *  - the numbering quirk: object files start at `-000001` while their
  *    paired manifests start at `-000000` (the open() pre-increments
  *    the shared counter before flush names the object) — pinned by the
  *    reference's own golden listings (UberTestSpec.kt:513-592);
  *  - manifest CSV field order id|ts|db|collection|source|outerSource|
  *    originalId|innerSource with CSV escaping (DomainClasses.kt:83-88);
  *  - per-file crypto metadata (iv, encrypted DEK, master key id) as a
  *    JSON sidecar — the local analogue of the S3 user metadata
  *    (S3ObjectServiceImpl.kt:36-47).
  *
  * Deliberate divergence: per-file IVs derive from
  * (topic, slice, file#) instead of a CSPRNG so runs are reproducible
  * and oracle-checkable; swap `ivFor` for SecureRandom in production.
  *
  * Scale design: records are shuffled once, one partition per slice,
  * and each task streams its slice through constant memory (the
  * rolling batch buffer) — the same layout a 1000-executor run would use, with the
  * local `java.io` swapped for the object-store client. No driver
  * materialization anywhere; the returned accounting DataFrame is one
  * row per written file.
  */
object SnapshotWriter {

  final case class Config(
      outputDir: String,
      manifestDir: String,
      topic: String,
      maxBatchBytes: Int = 100000,
      compression: String = "gz", // gz | bz2 | lz4
      scanWidth: Int = 128, // slice width over the 256-value byte space
      snapshotType: String = "full", // data_product_type metadata field
      // Fault-injection knob for exactly-once specs (the sink-side
      // analogue of FlakyEnvelopeStore.failAfter): when > 0, each
      // writer task's FIRST attempt throws after writing this many
      // records — mid-partition, after files have already landed — so
      // Spark retries the task and the spec can assert the final
      // directory is byte-identical to a fault-free run. 0 = disabled.
      faultFirstAttemptAfter: Int = 0)

  final case class FileAccounting(
      slice: String, file: String, manifest_file: String,
      records: Long, batch_bytes: Long, data_bytes: Long)

  // public: Catalyst's generated SafeProjection must instantiate it
  final case class WriteRecord(
      slice: Int, doc: String, m_id: String, m_ts: Long, m_db: String,
      m_collection: String, m_source: String, m_outer: String,
      m_inner: String, m_original_id: String)

  /** Minimal escapeCsv (commons-text semantics): quote when the value
    * contains a comma, quote, CR or LF; embedded quotes double. */
  private[pipeline] def escapeCsv(v: String): String =
    if (v.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  private[pipeline] def manifestLine(r: WriteRecord): String =
    s"${escapeCsv(r.m_id)}|${escapeCsv(r.m_ts.toString)}|${escapeCsv(r.m_db)}|" +
      s"${escapeCsv(r.m_collection)}|${escapeCsv(r.m_source)}|" +
      s"${escapeCsv(r.m_outer)}|${escapeCsv(r.m_original_id)}|" +
      s"${escapeCsv(r.m_inner)}\n"

  private def compressor(kind: String, target: OutputStream): OutputStream =
    kind match {
      case "gz" => new java.util.zip.GZIPOutputStream(target)
      case "bz2" => new BZip2CompressorOutputStream(target)
      case "lz4" => new FramedLZ4CompressorOutputStream(target)
      case other => throw new IllegalArgumentException(s"compression: $other")
    }

  private[graft] def decompressor(kind: String, in: java.io.InputStream): java.io.InputStream =
    kind match {
      case "gz" => new java.util.zip.GZIPInputStream(in)
      case "bz2" => new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(in)
      case "lz4" => new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream(in)
      case other => throw new IllegalArgumentException(s"compression: $other")
    }

  /** Atomically-visible file publication: write to a temp name in the
    * same directory, then `ATOMIC_MOVE` into place. A concurrent
    * consumer (q88/q92-style re-import) can never observe a torn file
    * mid-write or mid-retry — the local-filesystem analogue of the
    * all-or-nothing S3 PUT the reference gets for free
    * (S3ObjectServiceImpl.kt:24-34). REPLACE_EXISTING makes a task
    * retry's deterministic rewrite idempotent. */
  private def atomicWrite(file: File, bytes: Array[Byte]): Unit = {
    file.getParentFile.mkdirs()
    val tmp = java.nio.file.Files.createTempFile(
      file.getParentFile.toPath, "." + file.getName + ".", ".tmp")
    try {
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, file.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Observability for the retry spec: how many injected writer faults
    * actually fired (a retry test that never faulted proves nothing). */
  val faultsInjected = new java.util.concurrent.atomic.AtomicInteger

  private def ivFor(topic: String, slice: String, batch: Int): Array[Byte] =
    MessageDigest.getInstance("MD5")
      .digest(s"iv:$topic:$slice:$batch".getBytes("UTF-8"))

  /** Slice label SSS-EEE from the slice index (width w): bounds are the
    * signed range [-128 + i*w, -128 + (i+1)*w), formatted as absolute
    * values (HBasePartitioner.kt:16-34 + filePrefix). */
  private[pipeline] def sliceLabel(idx: Int, width: Int): String = {
    val start = -128 + idx * width
    val stop = start + width
    f"${math.abs(start)}%03d-${math.abs(stop)}%03d"
  }

  /** Write the pipeline's record output; returns per-file accounting.
    * `records` must carry hbase_id + doc + the m_* manifest columns
    * (the [[ExportPipeline.records]] shape). A row with a non-null
    * `err` is not written; [[export]] also returns the counts.
    *
    * The physical write runs through the DSv2
    * [[graft.sources.SnapshotSink]] `BatchWrite`: the sink DECLARES
    * its distribution (clustered by `part`, one partition per slice,
    * ordered by (slice, m_id)) via `RequiresDistributionAndOrdering`
    * — Spark plans the shuffle+sort — and each task stages its files,
    * returning accounting as a `WriterCommitMessage`; the driver's
    * `commit()` publishes every staged file (abort discards), so a
    * partially-failed job never leaves a partial snapshot visible. */
  def write(records: DataFrame, cfg: Config, keys: KeyService): Dataset[FileAccounting] =
    writeShaped(shaped(records, cfg), cfg, keys)

  /** The whole pipeline output in one write: the records (rows whose
    * `err` is null) land as files, and every row is counted under its
    * outcome — its `err`, or `"ok"` for a written record. Returns the
    * per-file accounting and those counts, both read from the data the
    * committed tasks saw, so `outcomes("ok")` equals the records in
    * the files and a retried task's partial counts never add up. */
  def export(pipelineOut: DataFrame, cfg: Config,
      keys: KeyService): (Seq[FileAccounting], Map[String, Long]) =
    sink(shaped(pipelineOut, cfg), cfg, keys)

  /** The sink-input projection of [[write]], exposed so prepared-plan
    * callers ([[graft.core.PreparedTransform]] sinks) can analyze it
    * once: record relation or pipeline output → (slice, doc, m_*, err,
    * part) clustered shape; a relation without `err` is all records.
    * `part` is the slice's clustering key, looked up from a literal
    * array of [[graft.sources.SnapshotSink.partitionKeys]], so each
    * slice gets its own writer task. Depends on `cfg` only through
    * `scanWidth`, so one shaped plan serves every batch-scoped output
    * directory. */
  def shaped(records: DataFrame, cfg: Config): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    val err =
      if (records.columns.contains("err")) $"err" else lit(null).cast("string")
    val slices = 256 / cfg.scanWidth
    val partKeys = typedLit(graft.sources.SnapshotSink.partitionKeys(slices))
    // signed first key byte → slice index, columnar:
    // u (0..255) → ((u + 128) % 256) / width == (signedByte + 128) / width
    records
      .withColumn("slice",
        (pmod(conv(hex(expr("substring(hbase_id, 1, 1)")), 16, 10)
          .cast("int") + 128, lit(256)) / cfg.scanWidth).cast("int"))
      .select($"slice", $"doc", $"m_id", $"m_ts", $"m_db", $"m_collection",
        $"m_source", $"m_outer", $"m_inner", $"m_original_id", err.as("err"),
        // `% slices`: a width that does not divide 256 has one slice
        // id past the last partition
        partKeys($"slice" % slices).as("part"))
  }

  /** Writes an already-[[shaped]] relation through the DSv2 sink. */
  def writeShaped(ds: DataFrame, cfg: Config, keys: KeyService): Dataset[FileAccounting] = {
    val spark = ds.sparkSession
    import spark.implicits._
    spark.createDataset(sink(ds, cfg, keys)._1)
  }

  private def sink(ds: DataFrame, cfg: Config,
      keys: KeyService): (Seq[FileAccounting], Map[String, Long]) = {
    val dek = keys.batchDataKey()
    val writeId = java.util.UUID.randomUUID().toString
    graft.sources.SnapshotSink.register(writeId, cfg, dek)
    try {
      ds.write.format("graft.sources.SnapshotSink")
        .option("writeId", writeId)
        .mode("append").save()
      graft.sources.SnapshotSink.takeCommitted(writeId)
    } finally graft.sources.SnapshotSink.unregister(writeId)
  }

  /** The per-task rolling writer behind the DSv2 sink: consumes one
    * partition's records (already clustered by slice and sorted by
    * (slice, m_id)), rolling batches through `Buffered → Compressor →
    * Cipher(AES-CTR)` into `outDir` with paired manifests in `manDir`
    * — for the DSv2 path these are the task's private STAGING dirs,
    * published only by the driver's commit. */
  private[graft] final class SliceRollingWriter(cfg: Config, dek: DataKeyResult,
      outDir: File, manDir: File) {

    private val results = Seq.newBuilder[FileAccounting]
    private var currentSlice = -1
    private var label = ""
    // per-slice rolling state (S3StreamingWriter.kt:189-197)
    private var currentBatch = 0
    private var batchSizeBytes = 0L
    private var recordsInBatch = 0L
    private var target: java.io.ByteArrayOutputStream = null
    private var stream: OutputStream = null
    private var manifestBuf: StringBuilder = null
    private var manifestNum = -1

    private def filePrefix = s"${cfg.topic}-$label"

    private def open(): Unit = {
      target = new java.io.ByteArrayOutputStream()
      val cipher = Crypto.encryptingCipher(dek.plaintextDataKey,
        ivFor(cfg.topic, label, currentBatch))
      stream = new BufferedOutputStream(
        compressor(cfg.compression, new CipherOutputStream(target, cipher)))
      manifestBuf = new StringBuilder
      manifestNum = currentBatch
      currentBatch += 1
      batchSizeBytes = 0
      recordsInBatch = 0
    }

    private def flush(openNext: Boolean): Unit = {
      if (batchSizeBytes > 0) {
        stream.close()
        val name = f"$filePrefix-$currentBatch%06d.txt.${cfg.compression}.enc"
        // stage the object + its metadata sidecar (S3 user-metadata
        // analogue — the full reference object-metadata surface,
        // S3ObjectServiceImpl.kt:38-47: crypto fields PLUS the product
        // fields downstream consumers key on). The write is to the
        // task's private staging dir; atomic publication happens at
        // the driver's commit.
        atomicWrite(new File(outDir, name), target.toByteArray)
        val iv = Base64.getEncoder.encodeToString(
          ivFor(cfg.topic, label, manifestNum))
        val meta =
          s"""{"contentType":"binary/octetstream","x-amz-meta-title":"$name","iv":"$iv","ciphertext":"${dek.ciphertextDataKey}","dataKeyEncryptionKeyId":"${dek.dataKeyEncryptionKeyId}","data_product":"${cfg.topic}","data_product_type":"${cfg.snapshotType}","contentLength":${target.size()}}"""
        atomicWrite(new File(outDir, s"$name.metadata.json"),
          meta.getBytes("UTF-8"))
        val manifestName = f"$filePrefix-$manifestNum%06d.csv"
        // paired manifest (StreamingManifestWriter.kt:18-22) + the
        // manifest's own metadata (StreamingManifestWriter.kt:60-65)
        val body = manifestBuf.toString
        atomicWrite(new File(manDir, manifestName), body.getBytes("UTF-8"))
        val mMeta =
          s"""{"contentType":"text/plain","x-amz-meta-title":"$manifestName","contentLength":${body.getBytes("UTF-8").length}}"""
        atomicWrite(new File(manDir, s"$manifestName.metadata.json"),
          mMeta.getBytes("UTF-8"))
        results += FileAccounting(label, name, manifestName,
          recordsInBatch, batchSizeBytes, target.size().toLong)
      }
      if (openNext) open()
    }

    private def closeSlice(): Unit = if (currentSlice >= 0) flush(openNext = false)

    def write(r: WriteRecord): Unit = {
      if (r.slice != currentSlice) {
        closeSlice()
        currentSlice = r.slice
        label = sliceLabel(r.slice, cfg.scanWidth)
        currentBatch = 0
        batchSizeBytes = 0
        open()
      }
      val item = r.doc + "\n"
      // roll-before-write, string-length accounting (:78-80)
      if (batchSizeBytes + item.length > cfg.maxBatchBytes && batchSizeBytes > 0)
        flush(openNext = true)
      stream.write(item.getBytes("UTF-8"))
      batchSizeBytes += item.length
      recordsInBatch += 1
      manifestBuf.append(manifestLine(r))
    }

    /** Flushes the open batch; returns this task's accounting. */
    def finish(): Seq[FileAccounting] = {
      closeSlice()
      results.result()
    }
  }

  /** Decrypt + decompress one written snapshot file back to its JSONL
    * lines (the integration round-trip, UberTestSpec.kt:416-423). */
  def readBack(outputDir: String, name: String, compression: String,
      keys: KeyService): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(java.nio.file.Files.readString(
      new File(outputDir, s"$name.metadata.json").toPath))
    val dekPlain = keys.decryptKey(
      meta.get("dataKeyEncryptionKeyId").asText(),
      meta.get("ciphertext").asText())
    val raw = java.nio.file.Files.readAllBytes(new File(outputDir, name).toPath)
    val cipher = Crypto.decryptingCipher(dekPlain,
      Base64.getDecoder.decode(meta.get("iv").asText()))
    val in = decompressor(compression,
      new javax.crypto.CipherInputStream(
        new java.io.ByteArrayInputStream(raw), cipher))
    val text = new String(in.readAllBytes(), "UTF-8")
    in.close()
    text.split("\n", -1).toSeq.filter(_.nonEmpty)
  }
}
