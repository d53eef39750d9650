package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that computes every row, as the `noop` sink does, and
  * keeps only the row count and an order-independent hash of the rows
  * (the sum of each row's XXH64 over its UnsafeRow bytes). A timed
  * query execution is a write through this sink, so full compute is
  * timed and its output is still checked. */
class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new HashSinkTable(properties.get("writeId"))
  override def supportsExternalMetadata(): Boolean = true
}

object HashSink {
  final case class Digest(rows: Long, hash: Long)

  private val results = new ConcurrentHashMap[String, Digest]()
  private val ids = new java.util.concurrent.atomic.AtomicLong

  /** Computes `df` in full through the sink; returns its digest. */
  def digest(df: DataFrame): Digest = {
    val id = s"w${ids.incrementAndGet()}"
    df.write.format(classOf[HashSink].getName).option("writeId", id)
      .mode("overwrite").save()
    Option(results.remove(id)).getOrElse(
      throw new IllegalStateException(s"hash sink $id did not commit"))
  }

  private[perfbench] def commit(id: String, d: Digest): Unit = results.put(id, d)
}

private final case class HashMessage(rows: Long, hash: Long)
    extends WriterCommitMessage

private class HashSinkTable(writeId: String) extends Table with SupportsWrite {
  override def name(): String = "perfbench_hash_sink"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new HashBatchWrite(writeId, info.schema())
      }
    }
}

private class HashBatchWrite(writeId: String, schema: StructType)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HashWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    var rows = 0L
    var hash = 0L
    messages.foreach { case HashMessage(r, h) => rows += r; hash += h }
    HashSink.commit(writeId, HashSink.Digest(rows, hash))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class HashWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val project = UnsafeProjection.create(schema)
      private var rows = 0L
      private var hash = 0L
      override def write(row: InternalRow): Unit = {
        val u = project(row)
        hash += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
        rows += 1
      }
      override def commit(): WriterCommitMessage = HashMessage(rows, hash)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
