package graft.server

import java.nio.charset.StandardCharsets.UTF_8

import PgWire.Oid

/** A statement as Parse or SQL-level PREPARE stored it: its text and
  * the parameter type OIDs the client declared (may be shorter than
  * the placeholder count — drivers send 0 for inferred types). */
final case class Prepared(sql: String, oids: Array[Int] = Array.emptyIntArray) {
  lazy val nParams: Int = BindParams.paramCount(sql)
  def oidAt(i: Int): Int = if (i < oids.length) oids(i) else 0
}

/** Parameter binding, for Bind and for SQL-level EXECUTE: renders Bind
  * values as SQL literals and splices arguments into the `$N` / `?`
  * placeholders before planning.
  *
  * The reference drops bind parameters on the floor
  * (src/duckdb_pgwire_extension.cpp:91-92), which breaks every real
  * driver default — pgjdbc, psycopg and lib/pq all ship statements
  * parameterized. graft implements them: text format for all OIDs,
  * binary format for the fixed-width types drivers actually send
  * binary (int2/4/8, float4/8, bool, bytea).
  */
object BindParams {

  /** Bind/statement mismatch (08P01 protocol violation). */
  final class BindException(msg: String) extends RuntimeException(msg)

  /** Walk `sql` outside string literals (`'…'`, and `E'…'` with its
    * backslash escapes), quoted identifiers and comments (`--`,
    * `/* */`): `code(i)` sees each index of plain SQL text and returns
    * the index to go on from. The one lexer behind [[paramCount]],
    * [[splice]] and [[splitArgs]]. */
  private def scan(sql: String)(code: Int => Int): Unit = {
    def past(from: Int, end: String) = {
      val k = sql.indexOf(end, from)
      if (k < 0) sql.length else k + end.length
    }
    var i = 0
    while (i < sql.length) {
      val next = if (i + 1 < sql.length) sql(i + 1) else '\u0000'
      i = sql(i) match {
        case '\'' =>
          val escapes = i > 0 && (sql(i - 1) == 'E' || sql(i - 1) == 'e') &&
            (i < 2 || !(sql(i - 2).isLetterOrDigit || sql(i - 2) == '_'))
          var j = i + 1
          while (j < sql.length && sql(j) != '\'')
            j += (if (escapes && sql(j) == '\\') 2 else 1)
          j + 1
        case '"' => past(i + 1, "\"")
        case '-' if next == '-' => past(i + 2, "\n")
        case '/' if next == '*' => past(i + 2, "*/")
        case _ => code(i)
      }
    }
  }

  /** The index just past a placeholder starting at `i`, or -1. */
  private def markerEnd(sql: String, i: Int): Int = sql(i) match {
    case '?' => i + 1
    case '$' =>
      var j = i + 1
      while (j < sql.length && sql(j).isDigit) j += 1
      if (j > i + 1) j else -1
    case _ => -1
  }

  /** How many parameters `sql` takes: its highest `$N`, or its number
    * of `?` (DuckDB numbers those left to right). */
  def paramCount(sql: String): Int = {
    var n = 0; var q = 0
    scan(sql) { i =>
      markerEnd(sql, i) match {
        case -1 => i + 1
        case end =>
          if (sql(i) == '?') q += 1
          else n = math.max(n, sql.substring(i + 1, end).toInt)
          end
      }
    }
    math.max(n, q)
  }

  /** `sql` with each placeholder replaced by its argument in
    * parentheses — `$N` by argument N, each `?` by the next argument —
    * so that an argument such as `1+1` binds as one value. */
  def splice(sql: String, args: IndexedSeq[String]): String = {
    val out = new java.lang.StringBuilder(sql.length + 16)
    var from = 0; var q = 0
    scan(sql) { i =>
      markerEnd(sql, i) match {
        case -1 => i + 1
        case end =>
          val n =
            if (sql(i) == '?') { q += 1; q }
            else sql.substring(i + 1, end).toInt
          if (n < 1 || n > args.length)
            throw new BindException(
              s"${args.length} parameter(s) supplied, statement references " +
                (if (sql(i) == '?') s"parameter $n" else s"$$$n"))
          out.append(sql, from, i).append('(').append(args(n - 1)).append(')')
          from = end
          end
      }
    }
    out.append(sql, from, sql.length).toString
  }

  /** The top-level, comma-separated arguments of `EXECUTE name(…)`:
    * commas inside parentheses, brackets, braces, strings or quoted
    * identifiers do not split. */
  def splitArgs(s: String): IndexedSeq[String] = {
    if (s == null || s.trim.isEmpty) return Vector.empty
    val out = Vector.newBuilder[String]
    var depth = 0; var from = 0
    scan(s) { i =>
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => out += s.substring(from, i).trim; from = i + 1
        case _ =>
      }
      i + 1
    }
    (out += s.substring(from).trim).result()
  }

  private val numRe = """[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?""".r
  private val floatSpecials = Set("nan", "infinity", "-infinity", "+infinity", "inf", "-inf")

  /** Single-quoted literal, pg-style: quotes double, backslashes stay
    * literal (the session runs escapedStringLiterals=true, matching
    * DuckDB's standard-conforming strings). */
  def quote(v: String): String =
    "'" + v.replace("'", "''") + "'"

  /** One Bind parameter → SQL literal. `format`: 0 text, 1 binary;
    * `data` null ⇒ SQL NULL. */
  def literal(oid: Int, format: Int, data: Array[Byte]): String = {
    if (data == null) return "NULL"
    if (format == 1) return binaryLiteral(oid, data)
    val v = new String(data, UTF_8)
    oid match {
      case Oid.Bool =>
        if (v == "t" || v == "1" || v.equalsIgnoreCase("true")) "TRUE" else "FALSE"
      case Oid.Int2 | Oid.Int4 | Oid.Int8 | Oid.Float4 | Oid.Float8 | Oid.Numeric =>
        if (numRe.matches(v)) v
        else if (floatSpecials(v.toLowerCase) &&
            (oid == Oid.Float4 || oid == Oid.Float8))
          s"CAST(${quote(v)} AS DOUBLE)"
        else throw new NumberFormatException(s"invalid numeric parameter: $v")
      case Oid.Bytea if v.startsWith("\\x") => "X'" + v.drop(2) + "'"
      case Oid.Date => "DATE " + quote(v)
      case Oid.Timestamp | Oid.TimestampTz => "TIMESTAMP " + quote(v)
      case _ => quote(v)
    }
  }

  private def binaryLiteral(oid: Int, d: Array[Byte]): String = {
    def be(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (d(i) & 0xff); i += 1 }
      v
    }
    def fp(x: Double): String =
      if (x.isNaN || x.isInfinite) s"CAST('$x' AS DOUBLE)" else x.toString
    oid match {
      case Oid.Bool => if (d.nonEmpty && d(0) != 0) "TRUE" else "FALSE"
      case Oid.Int2 => be(2).toShort.toString
      case Oid.Int4 => be(4).toInt.toString
      case Oid.Int8 => be(8).toString
      case Oid.Float4 => fp(java.lang.Float.intBitsToFloat(be(4).toInt).toDouble)
      case Oid.Float8 => fp(java.lang.Double.longBitsToDouble(be(8)))
      case Oid.Bytea => "X'" + d.map(b => f"$b%02x").mkString + "'"
      case Oid.Date => // int4 days since 2000-01-01 (pg date_recv)
        val day = java.time.LocalDate.ofEpochDay(be(4).toInt.toLong + 10957L)
        s"DATE '$day'"
      case Oid.Timestamp | Oid.TimestampTz =>
        // int8 micros since 2000-01-01 (pg timestamp_recv)
        val micros = be(8) + 946684800000000L
        val i = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        val ldt = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
        val frac = if (ldt.getNano == 0) ""
          else "." + f"${ldt.getNano / 1000}%06d".reverse.dropWhile(_ == '0').reverse
        val hms = f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
        s"TIMESTAMP '${ldt.toLocalDate} $hms$frac'"
      case _ => throw new UnsupportedOperationException(
        s"binary-format parameter with type OID $oid is not supported")
    }
  }

  /** Typed NULL standing in for `$N` when Describe(statement) needs
    * the result row shape before any Bind. */
  def nullLiteral(oid: Int): String = oid match {
    case Oid.Bool => "CAST(NULL AS BOOLEAN)"
    case Oid.Int2 => "CAST(NULL AS SMALLINT)"
    case Oid.Int4 => "CAST(NULL AS INT)"
    case Oid.Int8 => "CAST(NULL AS BIGINT)"
    case Oid.Float4 => "CAST(NULL AS FLOAT)"
    case Oid.Float8 => "CAST(NULL AS DOUBLE)"
    case Oid.Numeric => "CAST(NULL AS DECIMAL(38,18))"
    case Oid.Date => "CAST(NULL AS DATE)"
    case Oid.Timestamp | Oid.TimestampTz => "CAST(NULL AS TIMESTAMP)"
    case Oid.Bytea => "CAST(NULL AS BINARY)"
    case _ => "CAST(NULL AS STRING)"
  }
}
