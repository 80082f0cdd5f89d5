package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A write sink that consumes a query's rows exactly as the `noop`
  * format does (same V2 write path, same plan, same jobs) and in the
  * same pass folds every row into an order-independent digest: the row
  * count and the wrapping sum of per-row 64-bit hashes. Map entries are
  * summed the same way, so map order does not matter either.
  *
  * Usage: `df.write.format(DigestSink.format).option("key", k)
  * .mode("overwrite").save()`, then `DigestSink.take(k)`.
  */
final class DigestSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new DigestSink.DigestTable(schema)
}

object DigestSink {
  val format: String = classOf[DigestSink].getName

  final case class Digest(rows: Long, hash: Long) {
    def render: String = f"$rows:$hash%016x"
  }

  private val results = new ConcurrentHashMap[String, Digest]()

  /** The digest committed under `key`, removed from the registry. */
  def take(key: String): Option[Digest] = Option(results.remove(key))

  private final case class Part(rows: Long, hash: Long) extends WriterCommitMessage

  private final class DigestTable(schema: StructType) extends Table with SupportsWrite {
    override def name(): String = "digest"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val key = info.options().get("key")
      val rowSchema = info.schema()
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new BatchWrite {
            override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
              new Factory(rowSchema)
            override def commit(messages: Array[WriterCommitMessage]): Unit = {
              val parts = messages.collect { case p: Part => p }
              results.put(key, Digest(parts.map(_.rows).sum, parts.map(_.hash).sum))
            }
            override def abort(messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
    }
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows = 0L
        private var hash = 0L
        override def write(record: InternalRow): Unit = {
          rows += 1
          hash += mix(hashStruct(record, schema))
        }
        override def commit(): WriterCommitMessage = Part(rows, hash)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def hashStruct(row: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = mix(h * 31 + hashValue(row, i, schema.fields(i).dataType))
      i += 1
    }
    h
  }

  private def hashArray(a: ArrayData, et: DataType): Long = {
    var h = 19L
    var i = 0
    while (i < a.numElements()) {
      h = mix(h * 31 + hashValue(a, i, et))
      i += 1
    }
    h
  }

  private def hashValue(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) 0x5bd1e995L
    else dt match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        g.getLong(i)
      case FloatType => java.lang.Float.floatToIntBits(g.getFloat(i)).toLong
      case DoubleType => java.lang.Double.doubleToLongBits(g.getDouble(i))
      case d: DecimalType =>
        g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.hashCode.toLong
      case _: StringType => utf8(g.getUTF8String(i))
      case BinaryType =>
        val b = g.getBinary(i)
        XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          b.length, 42L)
      case s: StructType => hashStruct(g.getStruct(i, s.length), s)
      case a: ArrayType => hashArray(g.getArray(i), a.elementType)
      case m: MapType => hashMap(g.getMap(i), m)
      case other => utf8(UTF8String.fromString(String.valueOf(g.get(i, other))))
    }

  private def hashMap(m: MapData, t: MapType): Long = {
    val (ks, vs) = (m.keyArray(), m.valueArray())
    var h = 23L
    var i = 0
    while (i < m.numElements()) {
      h += mix(hashValue(ks, i, t.keyType) * 31 + hashValue(vs, i, t.valueType))
      i += 1
    }
    h
  }

  private def utf8(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
}
