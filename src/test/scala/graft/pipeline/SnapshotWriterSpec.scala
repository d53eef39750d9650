package graft.pipeline

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

import graft.SparkSuite
import graft.sources.SnapshotSink

/** Golden writer spec mirroring S3StreamingWriterTest.kt (byte-threshold
  * rolling, object-key naming, metadata) and the UberTestSpec
  * integration assertions (file listings :513-592, manifest line counts
  * :156-178, decrypt+decompress round-trip :416-423). */
class SnapshotWriterSpec extends SparkSuite {

  private def tmpDir(): File =
    Files.createTempDirectory("graft-writer-test").toFile

  private lazy val recs = ExportPipeline.records(ExportPipeline.run(
    Fixture.generate(spark, 1000), Fixture.Topic, Fixture.keyService)).cache()

  private def writeAll(compression: String, maxBytes: Int = 20000,
      width: Int = 128): (File, File, Seq[SnapshotWriter.FileAccounting]) = {
    val out = tmpDir(); val man = tmpDir()
    val cfg = SnapshotWriter.Config(out.getAbsolutePath, man.getAbsolutePath,
      "db.database.collection", maxBytes, compression, width)
    val acct = SnapshotWriter.write(recs, cfg, Fixture.keyService).collect().toSeq
    (out, man, acct)
  }

  test("object/manifest naming + numbering quirk (UberTestSpec.kt:513-592)") {
    val (out, man, acct) = writeAll("gz")
    val objects = out.list().filter(_.endsWith(".enc")).sorted.toSeq
    val manifests = man.list().filter(_.endsWith(".csv")).sorted.toSeq
    assert(objects.nonEmpty)
    // two slices at width 128, formatted over the SIGNED byte space
    val labels = acct.map(_.slice).distinct.sorted
    assert(labels == Seq("000-128", "128-000"))
    // objects start at -000001, paired manifests at -000000
    for (label <- labels) {
      val objNums = objects.filter(_.contains(s"-$label-"))
        .map(_.split("-").last.takeWhile(_.isDigit).toInt).sorted
      val manNums = manifests.filter(_.contains(s"-$label-"))
        .map(_.stripSuffix(".csv").split("-").last.toInt).sorted
      assert(objNums.head == 1, s"objects start at 1 for $label")
      assert(manNums.head == 0, s"manifests start at 0 for $label")
      assert(objNums.map(_ - 1) == manNums)
    }
    assert(objects.forall(o => o.matches(
      """db\.database\.collection-\d{3}-\d{3}-\d{6}\.txt\.gz\.enc""")))
  }

  test("byte-threshold rolling accounts every record exactly once") {
    val (_, _, acct) = writeAll("gz", maxBytes = 20000)
    assert(acct.map(_.records).sum == 1000)
    // every batch but each slice's last must be within the threshold
    // and non-trivially full (rolling counts string length pre-write)
    assert(acct.forall(_.batch_bytes <= 20000))
    val bySlice = acct.groupBy(_.slice)
    for ((_, files) <- bySlice) {
      val sorted = files.sortBy(_.file)
      assert(sorted.init.forall(_.batch_bytes > 15000)) // near-full before roll
    }
  }

  test("manifest line parity with batch records (UberTestSpec.kt:156-178)") {
    val (_, man, acct) = writeAll("gz")
    for (fa <- acct) {
      val lines = Files.readString(new File(man, fa.manifest_file).toPath)
        .split("\n").filter(_.nonEmpty)
      assert(lines.length == fa.records, fa.manifest_file)
      // pipe-CSV with 8 fields, source column EXPORT
      assert(lines.forall(_.split("\\|", -1).length == 8))
      assert(lines.forall(_.split("\\|")(4) == "EXPORT"))
    }
  }

  test("decrypt+decompress round trip recovers every record (UberTestSpec.kt:416-423)") {
    for (compression <- Seq("gz", "bz2", "lz4")) {
      val (out, _, acct) = writeAll(compression)
      val allLines = acct.flatMap(fa => SnapshotWriter.readBack(
        out.getAbsolutePath, fa.file, compression, Fixture.keyService))
      assert(allLines.length == 1000, compression)
      assert(allLines.count(_.contains("d_oid")) == 500, compression)
      assert(allLines.forall(_.startsWith("{")), compression)
    }
  }

  test("ciphertext on disk is opaque (no plaintext leak)") {
    val (out, _, acct) = writeAll("gz")
    val bytes = Files.readAllBytes(new File(out, acct.head.file).toPath)
    val asText = new String(bytes, "ISO-8859-1")
    assert(!asText.contains("record_id") && !asText.contains("d_date"))
    // nor is it merely compressed-unencrypted: gzip magic absent
    assert(!(bytes(0) == 0x1f.toByte && bytes(1) == 0x8b.toByte))
  }

  test("metadata sidecars carry the reference's full surface (S3ObjectServiceImpl.kt:38-47, StreamingManifestWriter.kt:60-65)") {
    val out = tmpDir(); val man = tmpDir()
    val cfg = SnapshotWriter.Config(out.getAbsolutePath, man.getAbsolutePath,
      "db.database.collection", 20000, "gz", 128,
      snapshotType = "incremental")
    val acct = SnapshotWriter.write(recs, cfg, Fixture.keyService).collect().toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (fa <- acct) {
      val om = mapper.readTree(Files.readString(
        new File(out, s"${fa.file}.metadata.json").toPath))
      assert(om.get("contentType").asText() == "binary/octetstream")
      assert(om.get("x-amz-meta-title").asText() == fa.file)
      assert(om.get("data_product").asText() == "db.database.collection")
      assert(om.get("data_product_type").asText() == "incremental")
      assert(om.get("contentLength").asLong() == new File(out, fa.file).length())
      // crypto fields still present for the read-back path
      assert(om.hasNonNull("iv") && om.hasNonNull("ciphertext") &&
        om.hasNonNull("dataKeyEncryptionKeyId"))
      val mm = mapper.readTree(Files.readString(
        new File(man, s"${fa.manifest_file}.metadata.json").toPath))
      assert(mm.get("contentType").asText() == "text/plain")
      assert(mm.get("x-amz-meta-title").asText() == fa.manifest_file)
      assert(mm.get("contentLength").asLong() ==
        new File(man, fa.manifest_file).length())
    }
  }

  test("task retry: a writer fault mid-partition yields byte-identical output " +
      "(temp+ATOMIC_MOVE publication = the S3 atomic-PUT analogue, " +
      "S3ObjectServiceImpl.kt:24-34; deterministic rewrite per (slice, batch))") {
    // the shared session runs local[4,2]: every writer task's first
    // attempt dies after 300 records — after at least one file has
    // already been published — and the retry attempt rewrites the
    // partition from scratch
    assert(spark.sparkContext.master.endsWith(",2]"),
      s"retry spec needs task retries enabled: ${spark.sparkContext.master}")
    val (cleanOut, cleanMan, cleanAcct) = writeAll("gz")
    val before = SnapshotWriter.faultsInjected.get()
    val out = tmpDir(); val man = tmpDir()
    val cfg = SnapshotWriter.Config(out.getAbsolutePath, man.getAbsolutePath,
      "db.database.collection", 20000, "gz", 128,
      faultFirstAttemptAfter = 300)
    val acct = SnapshotWriter.write(recs, cfg, Fixture.keyService).collect().toSeq
    // the fault actually FIRED (a retry test that never faulted
    // proves nothing)
    val fired = SnapshotWriter.faultsInjected.get() - before
    assert(fired >= 1, s"expected >=1 injected writer faults, saw $fired")
    // accounting identical to the fault-free run
    assert(acct.toSet == cleanAcct.toSet)
    // directory listings identical; no stray temp files survive
    def listing(d: File): Seq[String] = d.list().sorted.toSeq
    assert(listing(out) == listing(cleanOut))
    assert(listing(man) == listing(cleanMan))
    assert(!listing(out).exists(_.endsWith(".tmp")))
    assert(!listing(man).exists(_.endsWith(".tmp")))
    // every file byte-identical: snapshots, sidecars, manifests
    for (n <- listing(out))
      assert(java.util.Arrays.equals(
        Files.readAllBytes(new File(out, n).toPath),
        Files.readAllBytes(new File(cleanOut, n).toPath)), s"object $n differs")
    for (n <- listing(man))
      assert(java.util.Arrays.equals(
        Files.readAllBytes(new File(man, n).toPath),
        Files.readAllBytes(new File(cleanMan, n).toPath)), s"manifest $n differs")
  }

  test("csv escaping quotes embedded delimiters (DomainClasses.kt:88)") {
    assert(SnapshotWriter.escapeCsv("plain") == "plain")
    assert(SnapshotWriter.escapeCsv("""a,b""") == "\"a,b\"")
    assert(SnapshotWriter.escapeCsv("a\"b") == "\"a\"\"b\"")
    assert(SnapshotWriter.escapeCsv("a\nb") == "\"a\nb\"")
  }

  test("partitionKeys: slice i's key hashes to partition i at every width") {
    for (width <- Iterator.iterate(1)(_ * 2).takeWhile(_ <= 256)) {
      val slices = 256 / width
      val keys = SnapshotSink.partitionKeys(slices)
      assert(keys.length == slices)
      keys.zipWithIndex.foreach { case (k, slice) =>
        val p = HashPartitioning(Seq(Literal(k)), slices)
          .partitionIdExpression.eval(InternalRow.empty)
        assert(p == slice, s"width $width: slice $slice key $k -> partition $p")
      }
    }
  }

  /** Shuffle records read by each task of the writer stage: the last
    * result stage whose tasks read shuffle records (the drain job of
    * [[Metrics.instrumented]] reads none). That drain also covers this
    * listener: both sit on the shared listener queue, which hands each
    * event to every listener before the next. */
  private def writerTaskReads(width: Int): Seq[Long] = {
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && e.taskMetrics != null)
          tasks.add((e.stageId, e.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(listener)
    try Metrics.instrumented(spark)(_ => writeAll("gz", width = width))
    finally spark.sparkContext.removeSparkListener(listener)
    tasks.asScala.toSeq.groupMap(_._1)(_._2)
      .filter(_._2.exists(_ > 0)).maxBy(_._1)._2
  }

  test("one writer task per slice, every task holding records (widths 128, 64)") {
    for (width <- Seq(128, 64)) {
      val reads = writerTaskReads(width)
      assert(reads.size == 256 / width, s"width $width: writer tasks $reads")
      assert(reads.forall(_ > 0), s"width $width: an empty writer task in $reads")
      assert(reads.sum == 1000, s"width $width: writer tasks $reads")
    }
  }

  test("slice labels cover the signed byte space (HBasePartitioner.kt:12-37)") {
    assert(SnapshotWriter.sliceLabel(0, 128) == "128-000")
    assert(SnapshotWriter.sliceLabel(1, 128) == "000-128")
    assert(SnapshotWriter.sliceLabel(0, 64) == "128-064")
    assert(SnapshotWriter.sliceLabel(3, 64) == "064-128")
  }
}
