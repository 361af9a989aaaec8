package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The timed sink: like Spark's `noop` format it runs the whole plan and
  * consumes every row through the V2 write path, and in the same pass it
  * folds each row into an order-insensitive digest (row count plus the
  * wrapping sum of a 64-bit hash of the row's UnsafeRow bytes), so the
  * output can be checked after the timer stops without a second execution.
  */
final class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new DigestTable(properties.get("id"))
}

object DigestSink {
  private val results = new ConcurrentHashMap[String, String]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Runs `df` to completion into the digest sink and returns its digest:
    * `<rows>:<row-hash sum>:<schema hash>`, all hex.
    */
  def run(df: DataFrame): String = {
    val id = ids.incrementAndGet().toString
    df.write.format(classOf[DigestSink].getName).mode("overwrite").option("id", id).save()
    val d = results.remove(id)
    require(d != null, s"digest sink $id did not commit")
    d
  }

  private[perfbench] def commit(id: String, schema: StructType,
                                parts: Seq[DigestMessage]): Unit = {
    val schemaHash = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").hashCode
    results.put(id, f"${parts.map(_.rows).sum}%x:${parts.map(_.hashSum).sum}%016x:$schemaHash%08x")
  }
}

final case class DigestMessage(rows: Long, hashSum: Long) extends WriterCommitMessage

private final class DigestTable(id: String) extends Table with SupportsWrite {
  override def name(): String = "perfbench-digest"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(id, info.schema())
      }
    }
}

private final class DigestBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    DigestSink.commit(id, schema, messages.toSeq.map(_.asInstanceOf[DigestMessage]))
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private final class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val toUnsafe = UnsafeProjection.create(schema)
      private var rows = 0L
      private var hashSum = 0L
      override def write(row: InternalRow): Unit = {
        val u = toUnsafe(row)
        hashSum += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        rows += 1
      }
      override def commit(): WriterCommitMessage = DigestMessage(rows, hashSum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
