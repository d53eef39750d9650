package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{ExportPipeline, Fixture, SnapshotWriter}
import graft.streaming.StreamingExport

/** `StreamingExport.start` wired as the q56 streaming-parity query
  * wires it: a MemoryStream of pre-built seeded cells (records `from`
  * onwards, in `batches` batches of `batch`), the pipeline lifted per
  * micro-batch through a PreparedTransform, q56's scoped confs. Each
  * [[feed]] adds the next batch round-robin and waits for its commit. */
final class ExportStream(h: Harness, cells: Cells, from: Long, batch: Int,
    batches: Int) {
  private val spark = h.spark
  private val corpus = (0 until batches).map(b =>
    cells.cells(from + b.toLong * batch, from + (b + 1L) * batch))
  private val results = mutable.ArrayBuffer.empty[StreamingExport.BatchResult]
  val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var fed = 0

  implicit private val ctx: SQLContext = spark.sqlContext
  import spark.implicits._
  private val stream = MemoryStream[Fixture.RawCell]
  private val query: StreamingQuery = {
    val keys = new CountingKeyService(Fixture.keyService)
    val out = h.dir("stream")
    val cfg = SnapshotWriter.Config(out.resolve("objects").toString,
      out.resolve("manifests").toString, Fixture.Topic,
      maxBatchBytes = 50000, compression = "gz")
    val prepared = new graft.core.PreparedTransform(spark, stream.toDF().schema,
      b => SnapshotWriter.shaped(ExportPipeline.records(
        ExportPipeline.run(b, Fixture.Topic, keys)), cfg))
    val lift: DataFrame => DataFrame = prepared.lift
    graft.core.Sessions.withConfs(spark,
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
      StreamingExport.start(stream.toDF(), cfg, keys, "perfbench_stream",
        r => results.synchronized { results += r },
        checkpointDir = Some(h.dir("checkpoint").toString),
        mapBatch = Some(lift))
    }
  }

  /** Feeds the next batch and waits for its commit; checks that the
    * batch wrote every fed record that is not a seeded skip. */
  def feed(): Op = {
    val slot = fed % batches
    fed += 1
    h.op("stream.batch") {
      stream.addData(corpus(slot))
      query.processAllAvailable()
      val r = results.synchronized {
        val last = results.lastOption
        results.clear()
        last
      }
      val lo = from + slot.toLong * batch
      val expected = batch - cells.expectedSkips(lo, lo + batch).values.sum
      val written = r.map(_.files.map(_.records).sum).getOrElse(-1L)
      if (written != expected) h.fail(s"stream batch: wrote $written records, expected $expected")
      Option(query.lastProgress).foreach { p =>
        def g(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress += Map("add_batch" -> g("addBatch"),
          "query_planning" -> g("queryPlanning"), "wal_commit" -> g("walCommit"),
          "commit_offsets" -> g("commitOffsets"))
      }
      (written == expected, batch.toDouble)
    }
  }

  def close(): Unit = {
    query.stop()
    query.awaitTermination(60000L)
  }
}
