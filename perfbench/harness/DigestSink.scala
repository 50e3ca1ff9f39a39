package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils, MapData}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The noop sink plus an order-independent digest of what it was handed.
  *
  * A write through this source plans and executes exactly like
  * `format("noop")` (a V2 batch write that accepts any schema and
  * truncates), so every timed operation is also checked: each writer task
  * canonicalizes its rows and sums their hashes, and the commit adds the
  * task sums. The canonical text of a value mirrors the repo's oracle gate
  * (`tools/check_oracle.py`): integers in decimal, floating and decimal
  * values to six places with trailing zeros dropped, columns in name
  * order. `digest.py` holds the same rules for the DuckDB cross-check.
  */
class DigestSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DigestTable(properties.get("id"))
}

class DigestTable(id: String) extends Table with SupportsWrite {
  override def name(): String = s"perfbench-digest($id)"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new DigestBatchWrite(id, info.schema())
      }
    }
}

final case class DigestPart(rows: Long, sum: Long) extends WriterCommitMessage

class DigestBatchWrite(id: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DigestWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case p: DigestPart => p }
    Digest.results.put(id, Digest.render(schema, parts.map(_.rows).sum,
      parts.map(_.sum).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class DigestWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val order = Digest.nameOrder(schema)
      private val md5 = MessageDigest.getInstance("MD5")
      private val sb = new java.lang.StringBuilder
      private var rows = 0L
      private var sum = 0L
      override def write(row: InternalRow): Unit = {
        sb.setLength(0)
        var k = 0
        while (k < order.length) {
          if (k > 0) sb.append('\u0001')
          Digest.canon(sb, row, order(k), schema(order(k)).dataType)
          k += 1
        }
        sum += Digest.hash64(md5, sb.toString)
        rows += 1
      }
      override def commit(): WriterCommitMessage = DigestPart(rows, sum)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

object Digest {
  /** Write id -> (rows, "rows:columns-hash:row-hash-sum"), filled by the
    * commit. */
  val results = new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  def nameOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  def render(schema: StructType, rows: Long, sum: Long): (Long, String) = {
    val cols = hash64(MessageDigest.getInstance("MD5"),
      schema.fieldNames.sorted.mkString("\u0001"))
    (rows, f"$rows:${cols & 0xffffffffL}%08x:$sum%016x")
  }

  /** First eight bytes of the MD5 of the UTF-8 text, big-endian. */
  def hash64(md5: MessageDigest, s: String): Long = {
    val d = md5.digest(s.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xff); i += 1 }
    h
  }

  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else decimal(new JBigDecimal(d))

  def decimal(b: JBigDecimal): String = {
    val s = b.setScale(6, RoundingMode.HALF_EVEN).toPlainString
    val t = if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    if (t == "-0") "0" else t
  }

  private def get(data: Any, i: Int, t: DataType): Any = data match {
    case r: InternalRow => r.get(i, t)
    case a: ArrayData => a.get(i, t)
  }

  def canon(sb: java.lang.StringBuilder, data: Any, i: Int, t: DataType): Unit = {
    val isNull = data match {
      case r: InternalRow => r.isNullAt(i)
      case a: ArrayData => a.isNullAt(i)
    }
    if (isNull) { sb.append("NULL"); return }
    val v = get(data, i, t)
    t match {
      case BooleanType => sb.append(v.toString)
      case ByteType | ShortType | IntegerType | LongType => sb.append(v.toString)
      case FloatType => sb.append(number(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append(number(v.asInstanceOf[Double]))
      case _: DecimalType =>
        sb.append(decimal(v.asInstanceOf[Decimal].toJavaBigDecimal))
      case StringType | _: StringType => sb.append(v.toString)
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case DateType =>
        sb.append(DateTimeUtils.daysToLocalDate(v.asInstanceOf[Int]).toString)
      case TimestampType | TimestampNTZType =>
        val dt = DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])
        sb.append(dt.toLocalDate).append(' ')
          .append(f"${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d")
        if (dt.getNano != 0) sb.append(f".${dt.getNano / 1000}%06d")
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until a.numElements()).foreach { j =>
          if (j > 0) sb.append(',')
          canon(sb, a, j, et)
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { j =>
          if (j > 0) sb.append(',')
          canon(sb, r, j, st(j).dataType)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { j =>
          val e = new java.lang.StringBuilder
          canon(e, m.keyArray(), j, kt)
          e.append('=')
          canon(e, m.valueArray(), j, vt)
          e.toString
        }.sorted
        sb.append(entries.mkString("<", ",", ">"))
      case _ => sb.append(v.toString)
    }
  }
}
