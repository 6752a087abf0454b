package graft.server

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import PgWire.{ChunkBytes, MessageWriter}

/** Streams one statement's result onto the wire: DataRow messages
  * (text or binary per column) or COPY TO STDOUT CopyData lines (pg
  * text format or CSV).
  *
  * Rows are read as Spark `InternalRow`s from
  * `executedPlan.executeToIterator()` — what `Dataset.toLocalIterator`
  * does, minus its `Row` deserializer — and framed straight into the
  * connection's [[MessageWriter]] buffer, one chunk of about
  * [[PgWire.ChunkBytes]] at a time. Each column's writer is resolved
  * once from the schema:
  *  - boolean, the integer types, float and double, valid UTF-8
  *    strings, and dates and timestamps (UTC or NTZ) from 1900 through
  *    9999 are written from the `InternalRow` directly;
  *  - every other value (decimal, bytea text, arrays, structs, maps,
  *    intervals, TIME, invalid UTF-8, dates and timestamps outside that
  *    range) takes the `Row` value `toLocalIterator` would yield and
  *    goes through [[PgTypes.render]] / [[PgTypes.renderBinary]], so
  *    its bytes are exactly theirs.
  * Before 1900 the `java.sql` carriers go through Spark's
  * Julian-calendar rebase; from 1900 on they agree with the plain
  * proleptic-Gregorian fields written here.
  */
final class ResultEncoder private (w: MessageWriter,
    rows: Iterator[InternalRow], schema: StructType,
    rowEncoder: AgnosticEncoder[Row], mode: ResultEncoder.Mode) {
  import ResultEncoder._

  private val fields = schema.fields
  private val width = fields.length
  private val kinds = fields.map(f => kindOf(f.dataType))
  private val (binary, isCopy, copyCsv, delim) = mode match {
    case DataRows(b) => (b, false, false, Array.emptyByteArray)
    case Copy(csv, d) => (new Array[Boolean](width), true, csv, d.getBytes(UTF_8))
  }

  /** the Dataset's own `Row` deserializer, as `toLocalIterator` uses
    * it; bound on the first value that falls back */
  private lazy val toRow =
    ExpressionEncoder(rowEncoder).resolveAndBind().createDeserializer()
  /** the current row as `Row`, deserialized on its first fallback */
  private var external: Row = _

  /** rows pulled for the next chunk */
  private val batch = new Array[InternalRow](MaxBatchRows)
  private var batchLen = 0

  def hasNext: Boolean = rows.hasNext

  /** Send up to `limit` rows; returns how many were sent. Rows are
    * pulled a chunk at a time, then encoded by [[PgTypes.render]] (or
    * [[PgTypes.renderBinary]] when a column ships binary), so that the
    * encode time does not include Spark's. */
  def stream(limit: Long): Long = {
    val anyBinary = binary.contains(true)
    var sent = 0L
    while (sent < limit && rows.hasNext) {
      var size = 0L
      batchLen = 0
      while (batchLen < MaxBatchRows && size < ChunkBytes &&
          sent + batchLen < limit && rows.hasNext) {
        val row = rows.next()
        batch(batchLen) = row
        batchLen += 1
        size += (row match {
          case u: UnsafeRow => u.getSizeInBytes
          case _ => 64
        })
      }
      val chunk =
        if (anyBinary) PgTypes.renderBinary(this) else PgTypes.render(this)
      chunk.foreach(w.writeChunk)
      sent += batchLen
    }
    java.util.Arrays.fill(batch.asInstanceOf[Array[AnyRef]], null)
    sent
  }

  /** Frame the pulled rows into the buffer and take them out as one
    * chunk. On an exception the whole frames stay buffered and the
    * partial one stays open for [[MessageWriter.resetPayload]]. */
  private[server] def encodeBatch(): Array[Byte] = {
    val mark = w.pos
    var r = 0
    while (r < batchLen) {
      external = null
      if (isCopy) copyLine(batch(r)) else dataRow(batch(r))
      r += 1
    }
    w.takeFrom(mark)
  }

  /** CSV header line: the column names, quoted as values are. */
  def csvHeader(): Unit = {
    w.open()
    var i = 0
    while (i < width) {
      if (i > 0) put(delim)
      val start = w.pos
      put(fields(i).name.getBytes(UTF_8))
      csvQuote(start)
      i += 1
    }
    put('\n')
    w.send('d')
  }

  private def dataRow(row: InternalRow): Unit = {
    w.int16(width)
    var i = 0
    while (i < width) {
      w.ensure(4)
      if (row.isNullAt(i)) { w.putInt(w.pos, -1); w.pos += 4 }
      else {
        val lenAt = w.pos
        w.pos += 4
        if (binary(i)) putBinary(row, i) else putText(row, i)
        w.putInt(lenAt, w.pos - lenAt - 4)
      }
      i += 1
    }
    w.close('D')
  }

  private def copyLine(row: InternalRow): Unit = {
    w.open()
    var i = 0
    while (i < width) {
      if (i > 0) put(delim)
      if (row.isNullAt(i)) { if (!copyCsv) { put('\\'); put('N') } }
      else {
        val start = w.pos
        putText(row, i)
        if (copyCsv) csvQuote(start)
      }
      i += 1
    }
    put('\n')
    w.close('d')
  }

  /** pg CSV quoting of the value written since `start`: quote it when
    * it is empty (so it reads back as '' rather than NULL) or holds
    * the delimiter, a quote, CR or LF; quotes inside are doubled. */
  private def csvQuote(start: Int): Unit = {
    val b = w.buf
    val end = w.pos
    var quotes = 0
    var needs = end == start
    var p = start
    while (p < end) {
      val c = b(p)
      if (c == '"') { quotes += 1; needs = true }
      else if (c == '\n' || c == '\r' || (c == delim(0) && matchesDelim(p, end)))
        needs = true
      p += 1
    }
    if (needs) {
      w.ensure(quotes + 2)
      val buf = w.buf
      // shift right from the end, doubling quotes
      var src = end - 1
      var dst = end + quotes
      buf(dst + 1) = '"'
      while (src >= start) {
        val c = buf(src)
        buf(dst) = c; dst -= 1
        if (c == '"') { buf(dst) = c; dst -= 1 }
        src -= 1
      }
      buf(start) = '"'
      w.pos = end + quotes + 2
    }
  }

  private def matchesDelim(p: Int, end: Int): Boolean =
    p + delim.length <= end && {
      var k = 1
      while (k < delim.length && w.buf(p + k) == delim(k)) k += 1
      k == delim.length
    }

  // ---------------------------------------------------------- text values

  private def putText(row: InternalRow, i: Int): Unit = kinds(i) match {
    case Bool => put(if (row.getBoolean(i)) 't' else 'f')
    case Int1 => putLong(row.getByte(i))
    case Int2 => putLong(row.getShort(i))
    case Int4 => putLong(row.getInt(i))
    case Int8 => putLong(row.getLong(i))
    case Float4 => putFloating(java.lang.Float.toString(row.getFloat(i)))
    case Float8 => putFloating(java.lang.Double.toString(row.getDouble(i)))
    case Str =>
      val s = row.getUTF8String(i)
      if (s.isValid) {
        val n = s.numBytes
        w.ensure(n)
        s.writeToMemory(w.buf, Platform.BYTE_ARRAY_OFFSET + w.pos)
        w.pos += n
      } else fallbackText(row, i)
    case Date =>
      val days = row.getInt(i)
      if (days >= MinDay && days <= MaxDay) putDate(days) else fallbackText(row, i)
    case Timestamp =>
      val micros = row.getLong(i)
      if (micros >= MinMicros && micros < EndMicros) putTimestamp(micros)
      else fallbackText(row, i)
    case _ => fallbackText(row, i)
  }

  private def fallbackText(row: InternalRow, i: Int): Unit =
    put(PgTypes.render(externalValue(row, i), fields(i).dataType).get.getBytes(UTF_8))

  private def externalValue(row: InternalRow, i: Int): Any = {
    if (external == null) external = toRow(row)
    external.get(i)
  }

  /** pg renders whole floats without the trailing ".0" */
  private def putFloating(s: String): Unit = {
    val n = if (s.endsWith(".0")) s.length - 2 else s.length
    w.ensure(n)
    var k = 0
    while (k < n) { w.buf(w.pos + k) = s.charAt(k).toByte; k += 1 }
    w.pos += n
  }

  private def putLong(v: Long): Unit = {
    if (v == Long.MinValue) { put(Long.MinValue.toString.getBytes(UTF_8)); return }
    var x = math.abs(v)
    var digits = 1
    var t = x
    while (t >= 10) { t /= 10; digits += 1 }
    val n = if (v < 0) digits + 1 else digits
    w.ensure(n)
    val b = w.buf
    var p = w.pos + n - 1
    while (p >= w.pos + n - digits) { b(p) = ('0' + x % 10).toByte; x /= 10; p -= 1 }
    if (v < 0) b(w.pos) = '-'
    w.pos += n
  }

  /** `yyyy-MM-dd` (civil-from-days, proleptic Gregorian) */
  private def putDate(epochDay: Int): Unit = {
    val z = epochDay.toLong + 719468
    val era = Math.floorDiv(z, 146097)
    val doe = z - era * 146097
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = (doy - (153 * mp + 2) / 5 + 1).toInt
    val month = (if (mp < 10) mp + 3 else mp - 9).toInt
    val year = (yoe + era * 400 + (if (month <= 2) 1 else 0)).toInt
    w.ensure(10)
    digits(year, 4); put('-'); digits(month, 2); put('-'); digits(day, 2)
  }

  /** `yyyy-MM-dd HH:mm:ss[.ffffff]`, trailing fraction zeros dropped */
  private def putTimestamp(micros: Long): Unit = {
    val secs = Math.floorDiv(micros, 1000000L)
    var frac = Math.floorMod(micros, 1000000L).toInt
    val day = Math.floorDiv(secs, 86400L)
    val sod = Math.floorMod(secs, 86400L).toInt
    putDate(day.toInt)
    w.ensure(16)
    put(' '); digits(sod / 3600, 2); put(':'); digits(sod / 60 % 60, 2)
    put(':'); digits(sod % 60, 2)
    if (frac != 0) {
      var n = 6
      while (frac % 10 == 0) { frac /= 10; n -= 1 }
      put('.'); digits(frac, n)
    }
  }

  /** `v` zero-padded to `n` digits; the caller ensured room */
  private def digits(v: Int, n: Int): Unit = {
    var x = v
    var p = w.pos + n - 1
    while (p >= w.pos) { w.buf(p) = ('0' + x % 10).toByte; x /= 10; p -= 1 }
    w.pos += n
  }

  private def put(c: Char): Unit = { w.ensure(1); w.buf(w.pos) = c.toByte; w.pos += 1 }

  private def put(b: Array[Byte]): Unit = {
    w.ensure(b.length)
    System.arraycopy(b, 0, w.buf, w.pos, b.length)
    w.pos += b.length
  }

  // -------------------------------------------------------- binary values

  private def putBinary(row: InternalRow, i: Int): Unit = kinds(i) match {
    case Bool => putBE(1, if (row.getBoolean(i)) 1 else 0)
    case Int1 => putBE(2, row.getByte(i))
    case Int2 => putBE(2, row.getShort(i))
    case Int4 => putBE(4, row.getInt(i))
    case Int8 => putBE(8, row.getLong(i))
    case Float4 => putBE(4, java.lang.Float.floatToIntBits(row.getFloat(i)))
    case Float8 => putBE(8, java.lang.Double.doubleToLongBits(row.getDouble(i)))
    case Date =>
      val days = row.getInt(i)
      if (days >= MinDay && days <= MaxDay) putBE(4, days - PgTypes.PgEpochDays)
      else fallbackBinary(row, i)
    case Timestamp =>
      val micros = row.getLong(i)
      if (micros >= MinMicros && micros < EndMicros)
        putBE(8, micros - PgTypes.PgEpochMicros)
      else fallbackBinary(row, i)
    case _ => fallbackBinary(row, i)
  }

  private def fallbackBinary(row: InternalRow, i: Int): Unit =
    put(PgTypes.renderBinary(externalValue(row, i), fields(i).dataType).get)

  private def putBE(n: Int, x: Long): Unit = {
    w.ensure(n)
    var k = 0
    while (k < n) { w.buf(w.pos + k) = (x >>> (8 * (n - 1 - k))).toByte; k += 1 }
    w.pos += n
  }
}

object ResultEncoder {

  sealed trait Mode
  /** DataRow messages; `binary(i)` ships column i in format 1 */
  final case class DataRows(binary: Array[Boolean]) extends Mode
  /** COPY TO STDOUT CopyData lines, pg text format or CSV */
  final case class Copy(csv: Boolean, delim: String) extends Mode

  /** Start executing `df` and return the encoder over its rows. */
  def apply(w: MessageWriter, df: DataFrame, mode: Mode): ResultEncoder =
    new ResultEncoder(w, ColumnBridge.toLocalInternalIterator(df.queryExecution),
      df.schema, df.encoder.asInstanceOf[AgnosticEncoder[Row]], mode)

  private val MaxBatchRows = 4096

  // column writer kinds
  private final val Bool = 0
  private final val Int1 = 1
  private final val Int2 = 2
  private final val Int4 = 3
  private final val Int8 = 4
  private final val Float4 = 5
  private final val Float8 = 6
  private final val Str = 7
  private final val Date = 8
  private final val Timestamp = 9
  private final val Fallback = 10

  private def kindOf(dt: DataType): Int = dt match {
    case BooleanType => Bool
    case ByteType => Int1
    case ShortType => Int2
    case IntegerType => Int4
    case LongType => Int8
    case FloatType => Float4
    case DoubleType => Float8
    case _: StringType => Str
    case DateType => Date
    case _: TimestampType | TimestampNTZType => Timestamp
    case _ => Fallback
  }

  /** 1900-01-01 and 9999-12-31 as epoch days; 1900-01-01T00:00 and
    * 10000-01-01T00:00 as epoch micros */
  private val MinDay = -25567
  private val MaxDay = 2932896
  private val MinMicros = MinDay * 86400L * 1000000L
  private val EndMicros = (MaxDay + 1) * 86400L * 1000000L
}
