package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.DataFrame

/** A write sink that behaves like Spark's `noop` format — every row of
  * the plan is produced and then dropped — except that each task folds
  * its rows into (count, order-insensitive hash). The totals reach the
  * Spark driver through the commit messages, so executing a frame and
  * checking its output is one evaluation:
  * {{{
  * val (rows, hash) = HashSink.run(df)
  * }}}
  * Doubles and floats are hashed with their lowest mantissa bits
  * cleared, so a summation-order wobble in the last ulp does not change
  * a hash.
  */
final class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new HashSink.SinkTable(schema)
}

object HashSink {
  private val results = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Evaluate `df` in full; returns (row count, order-insensitive hash). */
  def run(df: DataFrame): (Long, Long) = {
    val id = ids.incrementAndGet().toString
    df.write.format(classOf[HashSink].getName).mode("append").option("id", id).save()
    results.remove(id)
  }

  private final class SinkTable(schema: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench_hash_sink"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new SinkBatch(info.options.get("id"), info.schema())
      }
    }
  }

  private final case class Partial(rows: Long, hash: Long) extends WriterCommitMessage

  private final class SinkBatch(id: String, schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new SinkWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val parts = messages.collect { case p: Partial => p }
      results.put(id, (parts.map(_.rows).sum, parts.map(_.hash).sum))
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class SinkWriterFactory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new SinkWriter(schema)
  }

  private final class SinkWriter(schema: StructType) extends DataWriter[InternalRow] {
    private var rows = 0L
    private var hash = 0L
    override def write(record: InternalRow): Unit = {
      rows += 1
      hash += rowHash(record, schema)
    }
    override def commit(): WriterCommitMessage = Partial(rows, hash)
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }

  private def mix(h: Long, v: Long): Long = XXH64.hashLong(v, h)

  private def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = mix(h, valueHash(row, i, schema(i).dataType))
      i += 1
    }
    h
  }

  private def valueHash(get: Any, i: Int, dt: DataType): Long = {
    val (isNull, value) = get match {
      case r: InternalRow => (r.isNullAt(i), () => r.get(i, dt))
      case a: org.apache.spark.sql.catalyst.util.ArrayData => (a.isNullAt(i), () => a.get(i, dt))
    }
    if (isNull) 0x5bd1e995L else hashOf(value(), dt)
  }

  private def hashOf(v: Any, dt: DataType): Long = dt match {
    case DoubleType => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]) & ~0xFFFFL
    case FloatType => (java.lang.Float.floatToIntBits(v.asInstanceOf[Float]) & ~0xFF).toLong
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
        TimestampNTZType | _: DayTimeIntervalType | _: YearMonthIntervalType =>
      v.asInstanceOf[Number].longValue
    case _: StringType | BinaryType =>
      val bytes = v match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.getBytes
        case b: Array[Byte] => b
      }
      XXH64.hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length, 42L)
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
      .stripTrailingZeros().hashCode().toLong
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var h = 31L
      var i = 0
      while (i < a.numElements()) { h = mix(h, valueHash(a, i, et)); i += 1 }
      h
    case s: StructType => rowHash(v.asInstanceOf[InternalRow], s)
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
      var h = 0L
      var i = 0
      while (i < m.numElements()) {
        h += mix(valueHash(m.keyArray(), i, kt), valueHash(m.valueArray(), i, vt))
        i += 1
      }
      h
    case _ => v.toString.hashCode.toLong
  }
}
