package graft.server

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `COPY table FROM STDIN`: the CopyData payloads of one statement,
  * parsed in one driver-side pass into typed rows and appended as one
  * batch, as DuckDB's single-pass CSV reader does for the reference
  * (cpp:52).
  *
  * Each payload is kept as it arrived. At CopyDone a byte-level
  * [[CopyIn.Parser]] splits them into records and fields (pg CSV or pg
  * text format); each field becomes a `UTF8String`, and one
  * `UnsafeProjection` of ANSI casts types the record, since pg's input
  * functions are casts from text. The rows go to the table through
  * [[CopyOps.append]] as one in-memory partition, so a COPY adds one
  * file and runs no count or checkpoint job. Nothing is appended unless
  * every record parses and types.
  */
private[graft] final class CopyIn(session: SparkSession, table: String,
    csv: Boolean, header: Boolean, delim: Byte) {
  import CopyIn._

  /** the columns each record carries: the table's non-generated ones,
    * as pg and DuckDB take them; validates that the table exists */
  val columns: Array[StructField] = {
    val generated = graft.TableConstraints.generatedOf(table)
      .map(_.name.toLowerCase).toSet
    session.table(table).schema.fields
      .filterNot(f => generated(f.name.toLowerCase))
      .map(_.copy(nullable = true)) // NULLs meet NOT NULL in `enforce`
  }
  columns.find(f => !Cast.canAnsiCast(StringType, f.dataType)).foreach { f =>
    throw new UnsupportedOperationException(
      s"COPY FROM STDIN cannot load column ${f.name} of type ${f.dataType.sql}")
  }

  private val payloads = ArrayBuffer.empty[Array[Byte]]

  def add(payload: Array[Byte]): Unit = payloads += payload

  /** Parse, type and append the buffered payloads; returns the row count. */
  def load(): Long = {
    val typer = new Typer
    val parser = new Parser(csv, delim, s"COPY $table", typer.record)
    payloads.foreach(parser.feed)
    parser.finish()
    payloads.clear()
    CopyOps.append(session, table, ColumnBridge.rowsFrame(session,
      StructType(columns), typer.rows.toIndexedSeq, typer.bytes))
    typer.rows.length
  }

  /** Types each record through one projection of casts from text. */
  private final class Typer {
    val rows = ArrayBuffer.empty[InternalRow]
    var bytes = 0L
    private val width = columns.length
    private val tz = Some(session.conf.get("spark.sql.session.timeZone"))
    private val casts: Array[Expression] = columns.zipWithIndex.map { case (f, i) =>
      val text = BoundReference(i, StringType, nullable = true)
      if (f.dataType == StringType) text
      else Cast(text, f.dataType, tz, EvalMode.ANSI)
    }
    private val project = UnsafeProjection.create(casts.toSeq)
    private val text = new GenericInternalRow(width)

    def record(p: Parser): Unit = if (!(header && p.line == 1)) {
      if (p.fields > width)
        throw new Failure("22P04", "extra data after last expected column",
          s"COPY $table, line ${p.line}")
      if (p.fields < width)
        throw new Failure("22P04",
          s"""missing data for column "${columns(p.fields).name}"""",
          s"COPY $table, line ${p.line}")
      var i = 0
      while (i < width) {
        if (p.nulls(i)) text.setNullAt(i)
        else {
          val s = UTF8String.fromBytes(p.buf, p.starts(i), p.ends(i) - p.starts(i))
          if (!s.isValid)
            throw new Failure("22021", "invalid byte sequence for encoding \"UTF8\"",
              s"COPY $table, line ${p.line}, column ${columns(i).name}")
          text.update(i, s)
        }
        i += 1
      }
      val row = try project(text).copy()
        catch { case NonFatal(e) => throw castFailure(e, p.line) }
      rows += row
      bytes += row.getSizeInBytes
    }

    /** the first column whose cast fails, reported as pg does */
    private def castFailure(e: Throwable, line: Long): Throwable =
      columns.indices.iterator
        .map(i => i -> (try { casts(i).eval(text); None } catch { case NonFatal(c) => Some(c) }))
        .collectFirst { case (i, Some(c)) =>
          val value = text.getUTF8String(i).toString
          val typeName = pgTypeName(columns(i).dataType)
          val (state, msg) = c match {
            // a well-formed integer that does not fit: pg's range error
            case t: SparkThrowable if t.getCondition == "CAST_INVALID_INPUT" &&
                integral(columns(i).dataType) && IntegerSyntax.matches(value) =>
              "22003" -> s"""value "$value" is out of range for type $typeName"""
            case t: SparkThrowable if t.getCondition == "CAST_INVALID_INPUT" =>
              "22P02" -> s"""invalid input syntax for type $typeName: "$value""""
            case t: SparkThrowable if t.getCondition == "NUMERIC_VALUE_OUT_OF_RANGE" =>
              "22003" -> c.getMessage
            case _ => "22P02" -> c.getMessage
          }
          new Failure(state, msg, s"""COPY $table, line $line, column ${columns(i).name}: "$value"""")
        }
        .getOrElse(e)
  }
}

private[graft] object CopyIn {

  /** pg's integer input syntax: optional blanks and sign, then digits */
  private val IntegerSyntax = "\\s*[+-]?[0-9]+\\s*".r

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** the type's name in pg's messages */
  private def pgTypeName(t: DataType): String = t match {
    case ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case _ => t.sql.toLowerCase
  }

  /** A COPY input error with its pg SQLSTATE and CONTEXT line. */
  final class Failure(val sqlState: String, msg: String, val context: String)
      extends RuntimeException(msg)

  // parser states
  private final val Plain = 0
  private final val InQuote = 1
  private final val QuoteInQuote = 2 // CSV: a quote inside quotes
  private final val Escape = 3       // text: after a backslash
  private final val Octal = 4        // text: \o, \oo
  private final val Hex = 5          // text: \x, \xh
  private final val AfterCr = 6

  /** Byte-level state machine over pg CSV or pg text format. Its state
    * carries across `feed` calls, so a record, a quoted value or an
    * escape may span CopyData messages. Each complete record goes to
    * `onRecord` with field i in `buf(starts(i) until ends(i))`;
    * `context` names the statement in errors.
    *  - CSV: a quote anywhere opens a quoted part in which the
    *    delimiter, CR and LF are data and `""` is a quote; an unquoted
    *    empty field is NULL, a quoted one is ''.
    *  - text: `\N` is NULL; `\b \f \n \r \t \v`, `\ooo` and `\xhh`
    *    decode; any other backslashed byte stands for itself.
    *  - records end at LF, CR or CRLF; a record that is exactly `\.`
    *    ends the data.
    */
  final class Parser(csv: Boolean, delim: Byte, context: String,
      onRecord: Parser => Unit) {
    var buf = new Array[Byte](1024)
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nulls = new Array[Boolean](16)
    /** fields in the current record */
    var fields = 0
    /** records so far, the header included: pg's line number */
    var line = 0L

    private var len = 0
    private var state = Plain
    private var fieldStart = 0
    private var quoted = false
    private var nullEscape = false
    /** raw bytes of the record so far, counted up to 3 */
    private var recordRaw = 0
    /** the record so far is a prefix of `\.` */
    private var maybeEnd = true
    private var code = 0
    private var digits = 0
    private var ended = false

    def feed(chunk: Array[Byte]): Unit = {
      var i = 0
      while (i < chunk.length && !ended) { step(chunk(i)); i += 1 }
    }

    def finish(): Unit = if (!ended) {
      state match {
        case InQuote =>
          throw new Failure("22P04", "unterminated CSV quoted field",
            s"$context, line ${line + 1}")
        case Escape =>
          throw new Failure("22P04", "end of data after a backslash",
            s"$context, line ${line + 1}")
        case Octal | Hex => flushCode()
        case _ =>
      }
      if (recordRaw > 0 || fields > 0) endRecord()
    }

    private def step(b: Byte): Unit = state match {
      case Plain =>
        if (b == delim) endField()
        else if (b == '\n') endRecord()
        else if (b == '\r') { endRecord(); state = AfterCr }
        else {
          raw(b)
          if (csv && b == '"') { quoted = true; state = InQuote }
          else if (!csv && b == '\\') state = Escape
          else put(b)
        }
      case InQuote =>
        raw(b)
        if (b == '"') state = QuoteInQuote else put(b)
      case QuoteInQuote =>
        if (b == '"') { raw(b); put(b); state = InQuote }
        else { state = Plain; step(b) }
      case Escape =>
        raw(b)
        state = Plain
        b.toChar match {
          case 'b' => put(8)
          case 'f' => put(12)
          case 'n' => put('\n')
          case 'r' => put('\r')
          case 't' => put('\t')
          case 'v' => put(11)
          case 'N' => nullEscape = len == fieldStart; put(b)
          case 'x' => code = 0; digits = 0; state = Hex
          case c if c >= '0' && c <= '7' => code = c - '0'; digits = 1; state = Octal
          case _ => put(b)
        }
      case Octal =>
        if (b >= '0' && b <= '7') {
          raw(b); code = code * 8 + (b - '0'); digits += 1
          if (digits == 3) flushCode()
        } else { flushCode(); step(b) }
      case Hex =>
        val d = Character.digit(b & 0xff, 16)
        if (d >= 0) {
          raw(b); code = code * 16 + d; digits += 1
          if (digits == 2) flushCode()
        } else { flushCode(); step(b) }
      case AfterCr =>
        state = Plain
        if (b != '\n') step(b)
    }

    /** the pending `\ooo` / `\xhh` byte; a bare `\x` is 'x' */
    private def flushCode(): Unit = {
      put(if (state == Hex && digits == 0) 'x' else code)
      state = Plain
    }

    private def raw(b: Byte): Unit = {
      if (recordRaw < 2) maybeEnd &&= b == (if (recordRaw == 0) '\\' else '.')
      if (recordRaw < 3) recordRaw += 1
    }

    private def put(b: Int): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
      buf(len) = b.toByte
      len += 1
    }

    private def endField(): Unit = {
      if (fields == starts.length) {
        starts = java.util.Arrays.copyOf(starts, fields * 2)
        ends = java.util.Arrays.copyOf(ends, fields * 2)
        nulls = java.util.Arrays.copyOf(nulls, fields * 2)
      }
      starts(fields) = fieldStart
      ends(fields) = len
      nulls(fields) =
        if (csv) !quoted && len == fieldStart
        else nullEscape && len - fieldStart == 1
      fields += 1
      fieldStart = len
      quoted = false
      nullEscape = false
    }

    private def endRecord(): Unit =
      if (fields == 0 && recordRaw == 2 && maybeEnd) ended = true
      else {
        endField()
        line += 1
        onRecord(this)
        len = 0
        fieldStart = 0
        fields = 0
        recordRaw = 0
        maybeEnd = true
      }
  }
}
