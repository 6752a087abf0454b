package graft.server

import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import PgWire.Oid

/** Spark DataType → Postgres OID + text-format rendering.
  *
  * Extends the reference's g_typemap
  * (src/duckdb_pgwire_extension.cpp:25-38) to the full Spark primitive
  * surface, fixing its silent-drop bugs: BOOLEAN was unreachable,
  * TIMESTAMP_TZ dead-keyed, DECIMAL/BLOB/arrays omitted entirely
  * (SURVEY §1.3). Values are rendered Postgres-style: booleans t/f,
  * timestamps `yyyy-MM-dd HH:mm:ss[.ffffff]` UTC, arrays `{...}`,
  * bytea `\x` hex.
  */
object PgTypes {

  def oidOf(dt: DataType): Int = dt match {
    case BooleanType => Oid.Bool
    case ByteType | ShortType => Oid.Int2 // pg has no int1 (ref cpp:28)
    case IntegerType => Oid.Int4
    case LongType => Oid.Int8
    case FloatType => Oid.Float4
    case DoubleType => Oid.Float8
    case StringType => Oid.Varchar
    case DateType => Oid.Date
    case _: TimestampType => Oid.Timestamp
    case TimestampNTZType => Oid.Timestamp
    case _: DecimalType => Oid.Numeric
    case _: TimeType => Oid.Time // Spark 4.1 TIME (r9: TIMETZ literals land here)
    case CalendarIntervalType | _: DayTimeIntervalType |
        _: YearMonthIntervalType => Oid.Interval
    case BinaryType => Oid.Bytea
    case _: ArrayType => Oid.TextArray
    case _: StructType | _: MapType => Oid.Json
    case _ => Oid.Text
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  private val ntzFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def microSuffix(micros: Int): String =
    if (micros == 0) ""
    else "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse

  private def fmtTimestamp(v: Any): String = v match {
    case ts: java.sql.Timestamp =>
      tsFmt.format(ts.toInstant) + microSuffix(ts.getNanos / 1000)
    case i: java.time.Instant =>
      tsFmt.format(i) + microSuffix(i.getNano / 1000)
    case ldt: java.time.LocalDateTime => // TIMESTAMP_NTZ value class
      ntzFmt.format(ldt) + microSuffix(ldt.getNano / 1000)
    case other => other.toString.replace('T', ' ')
  }

  /** Render one value in Postgres text format; None = SQL NULL. */
  def render(v: Any, dt: DataType): Option[String] = {
    if (v == null) return None
    Some(dt match {
      case BooleanType => if (v.asInstanceOf[Boolean]) "t" else "f"
      case FloatType | DoubleType => v.toString match {
        // pg renders whole doubles without the trailing .0
        case s if s.endsWith(".0") => s.dropRight(2)
        case s => s
      }
      case DateType => v.toString // java.sql.Date / LocalDate: yyyy-MM-dd
      case _: TimestampType => fmtTimestamp(v)
      case TimestampNTZType => fmtTimestamp(v)
      case BinaryType =>
        "\\x" + v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
      case ArrayType(et, _) =>
        v.asInstanceOf[scala.collection.Seq[Any]]
          .map(e => render(e, et).map(quoteArrayElem).getOrElse("NULL"))
          .mkString("{", ",", "}")
      case st: StructType =>
        val r = v.asInstanceOf[Row]
        st.fields.zipWithIndex.map { case (f, i) =>
          "\"" + f.name + "\": " +
            render(r.get(i), f.dataType).map(jsonQuote(_, f.dataType))
              .getOrElse("null")
        }.mkString("{", ", ", "}")
      case MapType(_, vt, _) =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].map { case (k, mv) =>
          "\"" + k + "\": " + render(mv, vt).map(jsonQuote(_, vt)).getOrElse("null")
        }.mkString("{", ", ", "}")
      case it if graft.DuckIntervals.isInterval(it) =>
        // psql sees DuckDB/pg interval text ('1 month -3 days'), not
        // java.time ISO ('P1M'); external values are Period / Duration
        val (m, d, us) = v match {
          case p: java.time.Period =>
            (p.toTotalMonths.toInt, p.getDays, 0L)
          case dur: java.time.Duration =>
            val micros = dur.toNanos / 1000L
            if (graft.DuckIntervals.isDaysLed(it))
              ((0, (micros / 86400000000L).toInt, micros % 86400000000L))
            else (0, 0, micros)
          case ci: org.apache.spark.unsafe.types.CalendarInterval =>
            (ci.months, ci.days, ci.microseconds)
          case other => return Some(other.toString)
        }
        graft.DuckIntervals.text(m, d, us)
      case _ => v.toString
    })
  }

  /** Types with a binary (format-1) result encoding — the fixed-width
    * wire types, mirroring [[BindParams]]' binary *parameter* decoders
    * in the encode direction. Everything else stays text-only and
    * errors loudly when a client Binds it to format 1 (pg itself
    * errors per-type at Execute; the reference is text-only for BOTH
    * directions, cpp:136-164 — this exceeds parity for pgjdbc
    * binaryTransfer=true and psycopg3 binary cursors).
    */
  def binarySupported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | BinaryType | DateType |
        _: TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** pg binary temporal encodings are relative to 2000-01-01. */
  private[server] val PgEpochDays = 10957L // days 1970-01-01 → 2000-01-01
  private[server] val PgEpochMicros = 946684800000000L

  /** Render one value in Postgres binary format; None = SQL NULL.
    * int2/4/8 and float4/8 are big-endian fixed width, bool one byte,
    * bytea raw — the pg send-function encodings.
    */
  def renderBinary(v: Any, dt: DataType): Option[Array[Byte]] = {
    if (v == null) return None
    def be(n: Int, x: Long): Array[Byte] = {
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        out(i) = ((x >>> (8 * (n - 1 - i))) & 0xff).toByte; i += 1
      }
      out
    }
    Some(dt match {
      case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
      case ByteType => be(2, v.asInstanceOf[Byte].toLong) // int1 ships as int2
      case ShortType => be(2, v.asInstanceOf[Short].toLong)
      case IntegerType => be(4, v.asInstanceOf[Int].toLong)
      case LongType => be(8, v.asInstanceOf[Long])
      case FloatType =>
        be(4, java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong)
      case DoubleType =>
        be(8, java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
      case BinaryType => v.asInstanceOf[Array[Byte]]
      case DateType => // int4 days since 2000-01-01 (pg date_send)
        val epochDay = v match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay
          case ld: java.time.LocalDate => ld.toEpochDay
          case other => java.time.LocalDate.parse(other.toString).toEpochDay
        }
        be(4, epochDay - PgEpochDays)
      case _: TimestampType | TimestampNTZType =>
        // int8 micros since 2000-01-01 (pg timestamp_send); NTZ values
        // ship as their UTC-interpreted wall time, like the text path
        val micros = v match {
          case ts: java.sql.Timestamp =>
            // floor: getTime of 1969-12-31 23:59:59.5 is -500 ms
            Math.floorDiv(ts.getTime, 1000L) * 1000000 + ts.getNanos / 1000
          case i: java.time.Instant =>
            i.getEpochSecond * 1000000L + i.getNano / 1000
          case ldt: java.time.LocalDateTime =>
            ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000
          case other => throw new UnsupportedOperationException(
            s"cannot binary-encode timestamp carrier ${other.getClass}")
        }
        be(8, micros - PgEpochMicros)
      case other => throw new UnsupportedOperationException(
        s"binary result format is not supported for type $other; " +
          "request text (format 0) for this column")
    })
  }

  /** Encode one chunk of text-format result rows (DataRow or COPY
    * lines); the chunk's framed bytes. [[ResultEncoder]] enters its
    * per-row loop here, once per chunk, so that perfbench's traced run,
    * which wraps `render` and `renderBinary` by name, times encoding
    * and counts the framed bytes. */
  def render(enc: ResultEncoder): Option[Array[Byte]] = Some(enc.encodeBatch())

  /** [[render]] for a chunk of DataRows with binary-format columns. */
  def renderBinary(enc: ResultEncoder): Option[Array[Byte]] = Some(enc.encodeBatch())

  private def quoteArrayElem(s: String): String =
    if (s.isEmpty || s.exists(c => c == ',' || c == '{' || c == '}' ||
        c == '"' || c == '\\' || c.isWhitespace))
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    else s

  private def jsonQuote(s: String, dt: DataType): String = dt match {
    case _: NumericType | BooleanType => s
    case _ => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  }
}
