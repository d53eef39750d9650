package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline._
import graft.sources.{HFileCell, HFileShape, HFileV2Format, HFileV2Writer}

/** Seeded corrupt-variant envelope cells: records `base until base + n`
  * of [[Fixture.cell]], where the seed picks `base`. Every typed-skip
  * class occurs once per hundred records. */
final class Cells(seed: Long) {
  val base: Long = 1000000L * (1 + java.lang.Math.floorMod(seed, 1000L))
  private val ks = Fixture.keyService
  private val dek = ks.batchDataKey().plaintextDataKey
  private val encKey = ks.encryptKey(Fixture.MasterKeyId, dek)

  def cells(from: Long, until: Long): IndexedSeq[Fixture.RawCell] =
    (from until until).toVector.par
      .map(k => Fixture.cell(base + k, dek, encKey, corrupt = true)).seq.toVector

  /** The typed skips the corrupt slots produce among records
    * `from until until`. */
  def expectedSkips(from: Long, until: Long): Map[String, Long] = {
    def count(slot: Int) = (from until until).count(k => (base + k) % 100 == slot).toLong
    Map("missing:dbObject" -> count(Fixture.MissingFieldSlot),
      "decrypt_failed" -> count(Fixture.BadCiphertextSlot),
      "bad_decrypted" -> count(Fixture.BadJsonSlot)).filter(_._2 > 0)
  }
}

/** `ExportJob.run` over an HFile v2 snapshot of `n` seeded cells
  * (4 regions, one generation, gz blocks), full snapshot, gz objects.
  * The traced run adds the stage ladder and a streaming phase: the same
  * pipeline and writer fed as micro-batches of `streamBatch` cells
  * (see [[ExportStream]]). */
final class ExportBatch(h: Harness, n: Long, streamBatch: Int) extends Workload {
  import ExportBatch._
  private val spark = h.spark
  private val cells = new Cells(h.seed)
  private val snapshot = h.runDir.resolve("snapshot")
  private var inBytes = 0L
  private var reference: String = _
  private val writerFiles = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val writerBytes = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def minOps: Int = 6

  /** Writes the snapshot; `inBytes` is its cells' row keys and values. */
  override def setup(): Unit = {
    h.deleteTree(snapshot)
    Files.createDirectories(snapshot)
    val all = cells.cells(0, n)
    all.groupBy(c => (c.hbase_id(0) & 0xff) / 64).toSeq.par.foreach { case (r, cs) =>
      val sorted = cs.sortWith((a, b) =>
        java.util.Arrays.compareUnsigned(a.hbase_id, b.hbase_id) < 0)
      HFileV2Writer.writeCells(snapshot.resolve(f"region-r$r%03d-g000.hfile"),
        sorted.iterator.map(c =>
          HFileCell(c.hbase_id, c.ts, c.value.getBytes("UTF-8"))),
        HFileShape(codec = HFileV2Format.CodecGz), seqId = 0L)
    }
    inBytes = all.map(c => c.hbase_id.length.toLong + c.value.getBytes("UTF-8").length).sum
  }

  private def source(dir: Path)(s: SparkSession): DataFrame =
    s.read.format("graft.sources.EnvelopeSource")
      .option("store", "hfile").option("path", dir.toString).load()

  private def configs(out: Path) = {
    val cfg = Completion.Config(topicName = Fixture.Topic,
      snapshotType = "full", exportDate = "2020-06-05",
      correlationId = "perfbench", s3Prefix = out.resolve("objects").toString,
      monitoringTopicArn = "arn:monitoring", fullTopicArn = "arn:full")
    val writerCfg = SnapshotWriter.Config(out.resolve("objects").toString,
      out.resolve("manifests").toString, Fixture.Topic, compression = "gz")
    (cfg, writerCfg)
  }

  /** One export of the snapshot plus its checks; returns whether every
    * check held. */
  private def exportOnce(i: Int): Boolean = {
    val out = h.runDir.resolve(s"export-$i")
    val (cfg, writerCfg) = configs(out)
    val noSleep: Long => Unit = _ => ()
    val t = h.tracer
    val result = ExportJob.run(spark, source(snapshot), cfg, writerCfg,
      new CountingKeyService(Fixture.keyService),
      new CountingStatusService(new Control.InMemoryStatusService, t),
      new CountingProductStatus(
        new Completion.InMemoryProductStatusService(cfg.correlationId, sleeper = noSleep), t),
      new Completion.SqsMessagingService(cfg,
        new CountingSqs(new Completion.RecordingSqs, t), sleeper = noSleep),
      new Completion.SnsPublishingService(cfg,
        new CountingSns(new Completion.RecordingSns, t), sleeper = noSleep))
    try check(i, result, out)
    finally h.deleteTree(out)
  }

  private def check(i: Int, r: ExportJob.Result, out: Path): Boolean = {
    def bad(msg: String): Boolean = { h.fail(s"export $i: $msg"); false }
    val written = r.files.map(_.records).sum
    val typed = r.skips - "ok"
    val objects = out.resolve("objects")
    val manifests = out.resolve("manifests")
    def files(d: Path): Seq[Path] =
      if (!Files.isDirectory(d)) Nil
      else {
        val s = Files.walk(d)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
        finally s.close()
      }
    val all = files(objects) ++ files(manifests)
    val manifestLines = files(manifests).filter(_.toString.endsWith(".csv"))
      .map(p => Files.readAllBytes(p).count(_ == '\n').toLong).sum
    val md = MessageDigest.getInstance("SHA-256")
    all.foreach { p =>
      md.update(out.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    val digest = md.digest().map("%02x".format(_)).mkString
    writerFiles += r.files.size.toDouble
    writerBytes += all.map(Files.size).sum.toDouble
    if (!r.outcome.completed || r.failure.isDefined)
      bad(s"outcome ${r.outcome} ${r.failure}")
    else if (r.completionStatus != Control.ExportCompletionStatus.CompletedSuccessfully)
      bad(s"completion status ${r.completionStatus}")
    else if (r.skips.getOrElse("ok", -1L) != written)
      bad(s"skip summary ok=${r.skips.get("ok")} but $written records written")
    else if (written + typed.values.sum != n)
      bad(s"records do not conserve: read $n, written $written, skipped $typed")
    else if (typed != cells.expectedSkips(0, n))
      bad(s"typed skips $typed, seeded ${cells.expectedSkips(0, n)}")
    else if (manifestLines != written)
      bad(s"$manifestLines manifest lines for $written records")
    else if (reference != null && digest != reference)
      bad("files or manifests differ from the first export's")
    else {
      if (reference == null) reference = digest
      true
    }
  }

  override def warm(): Unit =
    (0 until WarmOps).foreach(i => h.op("export-warm")((exportOnce(-1 - i), n.toDouble)))

  override def op(i: Int): Op = h.op("export")((exportOnce(i), n.toDouble))

  /** Object, metadata and manifest bytes on disk per byte of source
    * cell (row key and value). */
  override def outBytesPerInByte: Double = Stats.median(writerBytes.toSeq) / inBytes

  override def perLayer(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    def m(k: String) = Stats.mean(ok.map(_.eng.getOrElse(k, 0.0)))
    Map(
      "sources.records_read" -> m("records_read"),
      "sources.passes_per_export" -> m("records_read") / n,
      "keys.unwrap_calls" -> m("svc.unwrap_calls"),
      "writer.files" -> Stats.median(writerFiles.toSeq),
      "writer.out_bytes" -> Stats.median(writerBytes.toSeq),
      "writer.shuffle_write_bytes" -> m("shuffle_write_bytes"),
      "control.fanout_s" -> m("svc.control_s"),
      "control.messages" -> m("svc.messages"))
  }

  /** The stage ladder: noop-sink writes of successive prefixes of the
    * pipeline, then the writer and the skip summary as `ExportJob.run`
    * calls them. Each rung is the best of two; a stage's time is its
    * rung minus the rung before. */
  override def traceExtras(ops: Seq[Op]): (Map[String, Double], Map[String, Any]) = {
    val keys = Fixture.keyService
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def best(name: String)(body: => Unit): Double =
      (0 until 2).map(_ => h.tracer.fold(h.timeS(body))(t =>
        t.span(name)(h.timeS(body)))).min
    var constructS = 0.0
    def build[A](body: => A): A = {
      val t0 = System.nanoTime()
      try body finally constructS += (System.nanoTime() - t0) / 1e9
    }
    val raw = build(source(snapshot)(spark))
    val parsed = build(Envelope.parse(raw, Fixture.Topic))
    val decrypted = build(ExportPipeline.decrypt(parsed, keys))
    val audited = build(ExportPipeline.auditTransform(decrypted))
    val validated = build(ExportPipeline.validate(audited, "full"))
    val sanitised = build(ExportPipeline.sanitise(validated))
    val out = ExportPipeline.equalityTransform(sanitised, Fixture.Topic)
    val rungs = Seq(
      "sources.scan_s" -> best("ladder.scan")(noop(raw)),
      "pipeline.parse_s" -> best("ladder.parse")(noop(parsed)),
      "pipeline.decrypt_s" -> best("ladder.decrypt")(noop(decrypted)),
      "pipeline.audit_s" -> best("ladder.audit")(noop(audited)),
      "pipeline.validate_s" -> best("ladder.validate")(noop(validated)),
      "pipeline.sanitise_s" -> best("ladder.sanitise")(noop(out)),
      "writer.write_s" -> best("ladder.write") {
        val o = h.runDir.resolve("ladder")
        val (_, writerCfg) = configs(o)
        try SnapshotWriter.write(ExportPipeline.records(out), writerCfg, keys).collect()
        finally h.deleteTree(o)
      })
    val stages = rungs.zip(0.0 +: rungs.map(_._2)).map { case ((k, t), prev) => k -> (t - prev) }
    val skipS = best("ladder.skip_summary")(ExportPipeline.skipSummary(out).collect())
    val exportS = Stats.endToEnd(ops)("pass_s")
    val fanout = perLayer(ops)("control.fanout_s")
    val attributed = rungs.last._2 + skipS + fanout
    val layer = stages.toMap ++ Map(
      "export.skip_summary_s" -> skipS,
      "export.unattributed_s" -> (exportS - attributed),
      "core.construct_s" -> constructS) ++ streamPhase()
    (layer, Map("ladder_rungs_s" -> rungs.toMap, "export_s" -> exportS,
      "ladder_attributed_s" -> attributed))
  }

  /** Micro-batches of cells past the snapshot's records. */
  private def streamPhase(): Map[String, Double] = {
    val s = new ExportStream(h, cells, n, streamBatch, StreamBatches)
    val ops = try {
      (0 until StreamWarmOps).foreach(_ => s.feed())
      s.progress.clear()
      (0 until StreamOps).map(_ => s.feed())
    } finally s.close()
    val ok = ops.filter(_.ok)
    def p(k: String) = Stats.median(s.progress.toSeq.map(_.getOrElse(k, 0.0)))
    Map(
      "stream.batch_ms" -> Stats.median(ok.map(_.ns / 1e6)),
      "stream.add_batch_ms" -> p("add_batch"),
      "stream.query_planning_ms" -> p("query_planning"),
      "stream.wal_commit_ms" -> p("wal_commit"),
      "stream.commit_offsets_ms" -> p("commit_offsets"),
      "stream.jobs_per_batch" -> Stats.mean(ok.map(_.eng.getOrElse("jobs", 0.0))))
  }
}

object ExportBatch {
  /** Untimed exports before the timed ones: the first loads classes
    * and takes several times as long as a warm one; the second is
    * still slower than those that follow while the JIT compiles the
    * per-record paths. */
  val WarmOps = 2
  /** Distinct micro-batches the stream cycles through; together they
    * are built once, before the stream starts. */
  val StreamBatches = 16
  /** Untimed micro-batches: the first few carry the stream's start-up
    * (state store, first plans, JIT). */
  val StreamWarmOps = 6
  /** Timed micro-batches, of which the stream metrics are medians. */
  val StreamOps = 10
}
