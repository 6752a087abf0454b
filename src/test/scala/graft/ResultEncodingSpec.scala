package graft

import java.io.{BufferedInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Duration, Instant, LocalDate, LocalDateTime, Period}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

import graft.server.{PgTypes, PgWire, PgWireServer, ResultEncoder}

/** Differential spec for [[ResultEncoder]]: for every type the server
  * emits, its bytes must equal those of the per-row loops it replaced
  * (the `Row` from `toLocalIterator`, [[PgTypes.render]] /
  * [[PgTypes.renderBinary]], one framed message per row), in all four
  * modes: text DataRow, binary DataRow, COPY text and COPY CSV. The
  * two intended changes (binary timestamps before 1970, CSV NULL vs
  * '' and CR quoting) have their own tests below.
  */
class ResultEncodingSpec extends SparkSpecBase {

  // ------------------------------------------------------------ old path

  /** The replaced loops, kept as the reference. Only CSV quoting
    * differs from them, by the fix marked below. */
  private object Old {
    private def frame(out: DataOutputStream, t: Char, payload: Array[Byte]): Unit = {
      out.writeByte(t); out.writeInt(payload.length + 4); out.write(payload)
    }

    def dataRows(df: DataFrame, binary: Array[Boolean]): Array[Byte] = {
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(bytes)
      val fields = df.schema.fields
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val p = new ByteArrayOutputStream()
        val d = new DataOutputStream(p)
        d.writeShort(fields.length)
        fields.indices.foreach { i =>
          val v =
            if (binary(i)) PgTypes.renderBinary(row.get(i), fields(i).dataType)
            else PgTypes.render(row.get(i), fields(i).dataType).map(_.getBytes(UTF_8))
          v match {
            case None => d.writeInt(-1)
            case Some(b) => d.writeInt(b.length); d.write(b)
          }
        }
        frame(out, 'D', p.toByteArray)
      }
      bytes.toByteArray
    }

    def copy(df: DataFrame, csv: Boolean, delim: String, header: Boolean): Array[Byte] = {
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(bytes)
      val fields = df.schema.fields
      def csvQuote(s: String): String =
        // fix: '' is quoted (pg reads it back as '', not NULL), CR too
        if (s.isEmpty || s.contains(delim) || s.contains("\"") || s.contains("\n") ||
            s.contains("\r"))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
      if (csv && header)
        frame(out, 'd', (fields.map(f => csvQuote(f.name)).mkString(delim) + "\n").getBytes(UTF_8))
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val line = fields.indices.map { i =>
          PgTypes.render(row.get(i), fields(i).dataType) match {
            case None => if (csv) "" else "\\N"
            case Some(s) => if (csv) csvQuote(s) else s
          }
        }.mkString(delim)
        frame(out, 'd', (line + "\n").getBytes(UTF_8))
      }
      bytes.toByteArray
    }
  }

  private def encode(df: DataFrame, mode: ResultEncoder.Mode, header: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = new PgWire.MessageWriter(out)
    val enc = ResultEncoder(w, df, mode)
    if (header) enc.csvHeader()
    enc.stream(Long.MaxValue)
    w.flushOut()
    out.toByteArray
  }

  private def frames(b: Array[Byte]): Vector[(Char, Array[Byte])] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(b))
    val out = Vector.newBuilder[(Char, Array[Byte])]
    while (in.available() > 0) {
      val t = in.readByte().toChar
      val p = new Array[Byte](in.readInt() - 4)
      in.readFully(p)
      out += t -> p
    }
    out.result()
  }

  private def show(p: Array[Byte]) =
    new String(p, UTF_8).map(c => if (c < ' ') f"\\x${c.toInt}%02x" else c.toString).mkString

  private def assertSame(what: String, got: Array[Byte], want: Array[Byte]): Unit =
    if (!java.util.Arrays.equals(got, want)) {
      val (g, w) = (frames(got), frames(want))
      val i = g.indices.find(i => i >= w.length || g(i)._1 != w(i)._1 ||
        !java.util.Arrays.equals(g(i)._2, w(i)._2)).getOrElse(g.length)
      fail(s"$what: ${g.length} vs ${w.length} frames, first difference at frame $i: " +
        s"got ${g.lift(i).map(f => f._1 + show(f._2))} want ${w.lift(i).map(f => f._1 + show(f._2))}")
    }

  /** all four modes against the old loops; binary for the columns that
    * have a binary encoding */
  private def assertAllModes(name: String, df: DataFrame): Unit = {
    val n = df.schema.length
    val text = new Array[Boolean](n)
    assertSame(s"$name text", encode(df, ResultEncoder.DataRows(text)), Old.dataRows(df, text))
    val bin = df.schema.fields.map(f => PgTypes.binarySupported(f.dataType))
    if (bin.contains(true))
      assertSame(s"$name binary", encode(df, ResultEncoder.DataRows(bin)), Old.dataRows(df, bin))
    for ((csv, delim) <- Seq(false -> "\t", false -> "|", true -> ",", true -> ";", true -> "§");
         header <- if (csv) Seq(false, true) else Seq(false))
      assertSame(s"$name copy csv=$csv delim=$delim header=$header",
        encode(df, ResultEncoder.Copy(csv, delim), header), Old.copy(df, csv, delim, header))
  }

  private def frameOf(rows: Seq[Row], fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(rows.asJava,
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) }))

  // ----------------------------------------------------------- edge values

  private val years = Seq("0001-01-01", "1582-10-04", "1582-10-15", "1899-12-31", "1900-01-01",
    "1969-12-31", "1970-01-01", "2000-01-01", "2024-02-29", "9999-12-31")
  private val clock = Seq("00:00:00", "23:59:59", "12:00:00.5", "23:59:59.999999",
    "01:02:03.1", "01:02:03.12", "01:02:03.123", "01:02:03.1234", "01:02:03.12345",
    "01:02:03.123456", "00:00:00.000001")
  private val instants = for (d <- years; t <- clock) yield LocalDateTime.parse(d + "T" + t)

  test("numeric and boolean edge values: all four modes byte-identical") {
    val rows = Seq(
      Row(null, null, null, null, null, null, null),
      Row(Long.MinValue, Int.MinValue, Short.MinValue, Byte.MinValue, -0.0, -0.0f, true),
      Row(Long.MaxValue, Int.MaxValue, Short.MaxValue, Byte.MaxValue, Double.NaN, Float.NaN, false),
      Row(0L, 0, 0.toShort, 0.toByte, Double.PositiveInfinity, Float.PositiveInfinity, true),
      Row(-1L, -10, -7.toShort, -1.toByte, Double.NegativeInfinity, Float.NegativeInfinity, false),
      Row(1234567890123L, 42, 99.toShort, 7.toByte, 1e21, 1e10f, true),
      Row(-98765L, 7, 1.toShort, 2.toByte, 1e-7, 1e-7f, false),
      Row(10L, 100, 1000.toShort, 100.toByte, 3.0, 3.0f, true),
      Row(99L, 1, 2.toShort, 3.toByte, 0.1, 1.5f, true),
      Row(5L, 5, 5.toShort, 5.toByte, Double.MinPositiveValue, Float.MinPositiveValue, true),
      Row(6L, 6, 6.toShort, 6.toByte, Double.MaxValue, Float.MaxValue, false),
      Row(7L, 7, 7.toShort, 7.toByte, -123456789.0, -2.5e-3f, false),
      Row(8L, 8, 8.toShort, 8.toByte, 1.0e16, 1.0e7f, true))
    val df = frameOf(rows, "l" -> LongType, "i" -> IntegerType, "s" -> ShortType,
      "b" -> ByteType, "d" -> DoubleType, "f" -> FloatType, "bo" -> BooleanType)
    assertAllModes("numeric", df)
    assertAllModes("numeric, repartitioned", df.repartition(3))
  }

  test("strings incl. empty, non-ASCII, quotes, delimiters, controls and invalid UTF-8") {
    val texts = Seq(null, "", "plain", "héllo wörld", "日本語", "emoji 😀", "a\"b", "a,b",
      "a|b", "a;b", "x§y", "line\nbreak", "cr\rx", "crlf\r\n", "tab\there", "back\\slash",
      "\\N", " lead", "trail ", "\"", "\"\"")
    val strs = frameOf(texts.map(Row(_)), "s" -> StringType)
    assertAllModes("strings", strs)
    // bytes that are not UTF-8: a broken 2-byte sequence, an encoded
    // surrogate, a code point past U+10FFFF, an overlong '/'
    val bad = Seq(Array(0xC3, 0x28), Array(0xED, 0xA0, 0x80), Array(0xF4, 0x90, 0x80, 0x80),
      Array(0xC0, 0xAF), Array(0x61, 0xFF)).map(_.map(_.toByte))
    // (a parquet BINARY column read as STRING keeps its bytes; a CAST
    // would repair them)
    val dir = java.nio.file.Files.createTempDirectory("invalid-utf8").toString
    frameOf(bad.map(Row(_)), "s" -> BinaryType).write.mode("overwrite").parquet(dir)
    val invalid = spark.read.schema(StructType(Seq(StructField("s", StringType)))).parquet(dir)
      .select(col("s"), lit("ok").as("t"))
    assert(invalid.queryExecution.executedPlan.executeCollect().count(!_.getUTF8String(0).isValid)
      == bad.length)
    assertAllModes("invalid utf-8", invalid)
    assertAllModes("sql cast of invalid bytes", spark.sql("SELECT CAST(X'C328' AS STRING) AS s"))
  }

  test("dates, timestamps and timestamp_ntz from 0001 to 9999, 0 to 6 fraction digits") {
    val dates = frameOf(years.map(d => Row(LocalDate.parse(d))) :+ Row(null), "d" -> DateType)
    assertAllModes("dates", dates)
    val ts = frameOf(instants.map(t => Row(t.toInstant(java.time.ZoneOffset.UTC), t)) :+ Row(null, null),
      "ts" -> TimestampType, "ntz" -> TimestampNTZType)
    assertAllModes("timestamps", ts)
  }

  test("fallback types: decimal, bytea, arrays, structs, maps, intervals, TIME") {
    val inner = StructType(Seq(StructField("x", IntegerType), StructField("y", StringType)))
    val rows = Seq(
      Row(null, null, null, null, null, null, null, null, null, null),
      Row(new java.math.BigDecimal("1.50"), new java.math.BigDecimal("0E-18"),
        Array[Byte](0, -1, 10, 92), Seq(1, null, 3), Seq("a b", "", null, "x,y", "q\"", "b\\"),
        Row(1, "a\"b"), Map("k" -> 1, "z" -> 2), Duration.ofSeconds(-93784, 5000),
        Period.of(1, 2, 0), new CalendarInterval(14, -3, 4000001L)),
      Row(new java.math.BigDecimal("-12345678.90"), new java.math.BigDecimal("1.000000000000000001"),
        Array.emptyByteArray, Seq(), Seq(), Row(null, null), Map(), Duration.ZERO,
        Period.ZERO, new CalendarInterval(0, 0, 0L)))
    val df = frameOf(rows, "d" -> DecimalType(10, 2), "d38" -> DecimalType(38, 18),
      "bin" -> BinaryType, "ai" -> ArrayType(IntegerType), "as" -> ArrayType(StringType),
      "st" -> inner, "m" -> MapType(StringType, IntegerType),
      "dt" -> DayTimeIntervalType(), "ym" -> YearMonthIntervalType(),
      "ci" -> CalendarIntervalType)
    assertAllModes("fallback", df)
    val sqlTypes = spark.sql(
      "SELECT CAST(1.25 AS DECIMAL(5,2)) AS d, array(array(1, 2), array()) AS aa, " +
        "named_struct('a', array('x'), 'b', map('k', 1.5)) AS s, INTERVAL '3' DAY AS i, " +
        "CAST('12:34:56.5' AS TIME) AS t")
    assert(sqlTypes.schema("t").dataType.isInstanceOf[TimeType])
    assertAllModes("sql fallback", sqlTypes)
  }

  test("results larger than one 64 KB chunk, and a value larger than the buffer") {
    val big = spark.range(0, 60000, 1, 3).select(col("id"), col("id").cast(StringType).as("s"),
      (col("id") * 1.5).as("d"), (col("id") % 7 === 0).as("b"),
      (col("id") * 1000003L).cast(TimestampType).as("ts"))
    assert(encode(big, ResultEncoder.DataRows(new Array(5))).length > 4 * PgWire.ChunkBytes)
    assertAllModes("60k rows", big)
    val wide = spark.range(3).select(col("id"),
      org.apache.spark.sql.functions.repeat(lit("x\"y"), 100000).as("s"))
    assertAllModes("300 KB values", wide)
  }

  // ------------------------------------------------------------- the wire

  private lazy val port = new PgWireServer(spark, port = 0).start()

  /** Minimal pg frontend that keeps every backend message raw. */
  private final class Wire {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(sock.getOutputStream)

    def send(t: Char, parts: Array[Byte]*): Unit = {
      val p = parts.flatten.toArray
      out.writeByte(t); out.writeInt(p.length + 4); out.write(p); out.flush()
    }
    def read(): (Char, Array[Byte]) = {
      val t = in.readByte().toChar
      val p = new Array[Byte](in.readInt() - 4)
      in.readFully(p)
      t -> p
    }
    /** messages up to and including the first one of a type in `stop` */
    def until(stop: Char*): Vector[(Char, Array[Byte])] = {
      val b = Vector.newBuilder[(Char, Array[Byte])]
      var m = read()
      while (!stop.contains(m._1)) { b += m; m = read() }
      b += m
      b.result()
    }

    locally {
      val params = "user\u0000t\u0000database\u0000main\u0000\u0000".getBytes(UTF_8)
      out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
      until('Z')
    }

    def query(sql: String): Vector[(Char, Array[Byte])] = { send('Q', cstr(sql)); until('Z') }
    def close(): Unit = { send('X'); sock.close() }
  }

  private def cstr(s: String) = (s + "\u0000").getBytes(UTF_8)
  private def i16(v: Int) = Array((v >> 8).toByte, v.toByte)
  private def i32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
  private def tag(m: Vector[(Char, Array[Byte])]) =
    m.collect { case ('C', p) => new String(p, 0, p.length - 1, UTF_8) }
  private def errorText(m: Vector[(Char, Array[Byte])]) =
    m.collect { case ('E', p) => new String(p, UTF_8) }.mkString

  test("maxRows suspension inside chunks, two named portals interleaved") {
    val c = new Wire
    val sqlA = "SELECT range AS id, CAST(range * 3 AS STRING) AS s FROM range(23456)"
    val sqlB = "SELECT CAST(range AS DOUBLE) * 0.5 AS d, range % 2 = 0 AS b FROM range(17000)"
    // A text, B with binary results; 777 and 1234 rows per Execute land
    // inside 64 KB chunks
    for ((name, sql, fmt) <- Seq(("a", sqlA, 0), ("b", sqlB, 1))) {
      c.send('P', cstr(name), cstr(sql), i16(0))
      c.send('B', cstr(name), cstr(name), i16(0), i16(0), i16(1), i16(fmt))
    }
    c.send('S')
    assert(c.until('Z').map(_._1) == Vector('1', '2', '1', '2', 'Z'))
    val got = Map("a" -> new ByteArrayOutputStream(), "b" -> new ByteArrayOutputStream())
    val limit = Map("a" -> 777, "b" -> 1234)
    val total = Map("a" -> 23456, "b" -> 17000)
    var done = Set.empty[String]
    var sent = Map("a" -> 0, "b" -> 0)
    while (done.size < 2) {
      for (p <- Seq("a", "b") if !done(p)) {
        c.send('E', cstr(p), i32(limit(p)))
        c.send('H')
        val m = c.until('s', 'C', 'E')
        val rows = m.filter(_._1 == 'D')
        assert(rows.length == math.min(limit(p), total(p) - sent(p)), s"portal $p")
        rows.foreach { case (_, b) =>
          got(p).write('D'); got(p).write(i32(b.length + 4)); got(p).write(b)
        }
        sent += p -> (sent(p) + rows.length)
        m.last._1 match {
          case 's' => assert(sent(p) < total(p))
          case 'C' => // the tag counts the last Execute's rows, as pg does
            assert(sent(p) == total(p) && tag(m) == Seq(s"SELECT ${rows.length}")); done += p
          case _ => fail(errorText(m))
        }
      }
    }
    c.send('S'); c.until('Z')
    assertSame("portal a", got("a").toByteArray, Old.dataRows(spark.sql(sqlA), Array(false, false)))
    assertSame("portal b", got("b").toByteArray, Old.dataRows(spark.sql(sqlB), Array(true, true)))
    c.close()
  }

  test("binary timestamps before 1970 keep their fractional second") {
    val c = new Wire
    val sql = "SELECT CAST('1969-12-31 23:59:59.5' AS TIMESTAMP) AS t, " +
      "CAST('1969-12-31 23:59:59.5' AS TIMESTAMP_NTZ) AS n, " +
      "CAST('1900-01-01 00:00:00.25' AS TIMESTAMP) AS e"
    c.send('P', cstr(""), cstr(sql), i16(0))
    c.send('B', cstr(""), cstr(""), i16(0), i16(0), i16(1), i16(1))
    c.send('E', cstr(""), i32(0))
    c.send('S')
    val row = c.until('Z').collectFirst { case ('D', p) => p }.get
    val text = c.query(sql).collectFirst { case ('D', p) => p }.get
    def fields(p: Array[Byte]) = {
      val b = java.nio.ByteBuffer.wrap(p)
      (0 until b.getShort()).map { _ => val a = new Array[Byte](b.getInt()); b.get(a); a }
    }
    val pgEpoch = LocalDateTime.parse("2000-01-01T00:00:00")
    val decoded = fields(row).map(f => pgEpoch.plusNanos(java.nio.ByteBuffer.wrap(f).getLong * 1000))
    assert(decoded == fields(text).map(f => LocalDateTime.parse(new String(f, UTF_8).replace(' ', 'T'))))
    assert(decoded(0) == LocalDateTime.parse("1969-12-31T23:59:59.5"))
    // the java.sql.Timestamp carrier of the fallback path, too
    val ts = java.sql.Timestamp.from(Instant.parse("1969-12-31T23:59:59.500Z"))
    assert(java.nio.ByteBuffer.wrap(PgTypes.renderBinary(ts, TimestampType).get).getLong ==
      -500000L - 946684800000000L)
    c.close()
  }

  test("COPY CSV keeps NULL and '' apart and quotes CR, out and back in") {
    val c = new Wire
    val out = c.query("COPY (SELECT '' AS a, CAST(NULL AS STRING) AS b, " +
      "concat('x', chr(13), 'y') AS c, 1 AS d) TO STDOUT (FORMAT csv)")
    assert(out.collect { case ('d', p) => new String(p, UTF_8) } == Seq("\"\",,\"x\ry\",1\n"))
    c.query("DROP TABLE IF EXISTS csv_rt")
    c.query("CREATE TABLE csv_rt (a STRING, b STRING, c STRING, d INT) USING parquet")
    c.send('Q', cstr("COPY csv_rt FROM STDIN (FORMAT csv)"))
    assert(c.until('G').last._1 == 'G')
    c.send('d', "\"\",,\"x\ry\",1\n,\"\",plain,\n".getBytes(UTF_8))
    c.send('c')
    assert(tag(c.until('Z')) == Seq("COPY 2"))
    val back = c.query("SELECT a, b, c, d FROM csv_rt ORDER BY c DESC").collect {
      case ('D', p) =>
        val b = java.nio.ByteBuffer.wrap(p)
        (0 until b.getShort()).map { _ =>
          val n = b.getInt()
          if (n < 0) None else { val a = new Array[Byte](n); b.get(a); Some(new String(a, UTF_8)) }
        }
    }
    assert(back == Seq(Seq(Some(""), None, Some("x\ry"), Some("1")),
      Seq(None, Some(""), Some("plain"), None)))
    c.query("DROP TABLE csv_rt")
    c.close()
  }

  test("a task failure after 64 KB of rows: whole frames, ErrorResponse, ReadyForQuery") {
    val sql = "SELECT CASE WHEN range = 150000 THEN CAST(raise_error('boom') AS BIGINT) " +
      "ELSE range END AS v FROM range(200000)"
    def check(m: Vector[(Char, Array[Byte])], proto: String): Unit = {
      val kinds = m.map(_._1)
      val rows = m.collect { case ('D', p) => new String(p.drop(6), UTF_8).toLong }
      assert(rows.length * 10 > PgWire.ChunkBytes, s"$proto: ${rows.length} rows before the error")
      assert(rows == rows.indices.map(_.toLong), proto)
      assert(kinds.takeRight(2) == Vector('E', 'Z'), proto)
      assert(!kinds.contains('C'), proto)
      assert(errorText(m).contains("boom"), proto)
    }
    val c = new Wire
    check(c.query(sql), "simple")
    assert(tag(c.query("SELECT 1")) == Seq("SELECT 1"))
    c.send('P', cstr(""), cstr(sql), i16(0))
    c.send('B', cstr(""), cstr(""), i16(0), i16(0), i16(0))
    c.send('E', cstr(""), i32(0))
    c.send('S')
    check(c.until('Z'), "extended")
    assert(tag(c.query("SELECT 2")) == Seq("SELECT 1"))
    c.close()
  }
}
