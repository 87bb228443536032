package perfbench

import java.util
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that, like Spark's `noop` format, materialises every row
  * of the query (every output column is computed) and stores nothing. It
  * counts the rows and sums a hash of each row's bytes, so every timed op
  * yields a row count and an order-independent fingerprint at the cost of
  * one hash per row.
  *
  * Use: `df.write.format(CountingSink.Format).mode("overwrite").save()`,
  * then read [[CountingSink.last]].
  */
final class CountingSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new CountingSink.CountingTable(schema)
}

object CountingSink {
  val Format: String = classOf[CountingSink].getName

  final case class Result(rows: Long, hash: Long)
  private val lastResult = new AtomicReference(Result(-1L, 0L))

  /** Rows and fingerprint of the most recent committed write. */
  def last: Result = lastResult.get()

  private final case class Partial(rows: Long, hash: Long) extends WriterCommitMessage

  private final class CountingTable(tableSchema: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench-counting-sink"
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new CountingBatchWrite(info.schema())
        }
      }
  }

  private final class CountingBatchWrite(schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new CountingWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Partial => p }
      lastResult.set(Result(parts.map(_.rows).sum, parts.map(_.hash).sum))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      lastResult.set(Result(-1L, 0L))
  }

  private final class CountingWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private lazy val toUnsafe = UnsafeProjection.create(schema)
        private var rows = 0L
        private var hash = 0L
        override def write(row: InternalRow): Unit = {
          val u = row match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          rows += 1
          hash += u.hashCode()
        }
        override def commit(): WriterCommitMessage = Partial(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
