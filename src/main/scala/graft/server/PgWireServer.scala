package graft.server

import java.io.{BufferedInputStream, DataInputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine
import PgWire._

/** PostgreSQL wire-protocol server fronting a shared SparkSession —
  * the Spark-native analogue of the reference extension's entire
  * purpose (src/duckdb_pgwire_extension.cpp:172-188 server bootstrap,
  * 41-167 per-query handler).
  *
  * Faithful-but-fixed semantics:
  *  - SSLRequest answered 'N' (plaintext only — matches
  *    `sslmode=disable` in client/go/cmd/simple/main.go:12)
  *  - one handler per connection against a shared catalog
  *    (`DatabaseInstance &db`, cpp:40 → here one root SparkSession,
  *    with `newSession()` clones so temp state is per-connection — a
  *    strict superset of the reference's per-query amnesia, cpp:42)
  *  - simple AND extended query protocol (Parse/Bind/Describe/
  *    Execute/Sync) with REAL bind parameters — `$N` placeholders,
  *    text + fixed-width binary formats ([[BindParams]]) — where the
  *    reference drops them (cpp:91-92); lib/pq, pgjdbc and psycopg
  *    defaults work, the reference's unfinished milestone (README.md:28)
  *  - errors carry real SQLSTATEs (42601 syntax, 42P01 missing table)
  *    instead of the reference's blanket DataException (cpp:66-67)
  *  - ALL result column types ship; the reference silently drops
  *    unmapped ones (cpp:80-83,125-128)
  */
final class PgWireServer(root: SparkSession, port: Int = 15432,
    onNewSession: SparkSession => Unit = _ => ()) {

  @volatile private var serverSocket: ServerSocket = _
  private val started = new AtomicBoolean(false) // mirrors g_started, cpp:23
  @volatile private var acceptThread: Thread = _

  /** (pid, secret) → Spark job group, for CancelRequest routing. */
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), String]()
  private val pidCounter = new java.util.concurrent.atomic.AtomicInteger(1)
  private val secretRng = new java.security.SecureRandom()

  def start(): Int = {
    if (!started.compareAndSet(false, true))
      return serverSocket.getLocalPort
    serverSocket = new ServerSocket(port)
    acceptThread = new Thread(() => acceptLoop(), "pgwire-accept")
    acceptThread.setDaemon(true)
    acceptThread.start()
    serverSocket.getLocalPort
  }

  def stop(): Unit = {
    if (serverSocket != null) serverSocket.close()
    started.set(false)
  }

  private def acceptLoop(): Unit = {
    try {
      while (!serverSocket.isClosed) {
        val sock = serverSocket.accept()
        val t = new Thread(() => handleConnection(sock), "pgwire-conn")
        t.setDaemon(true)
        t.start()
      }
    } catch { case NonFatal(_) => /* socket closed */ }
  }

  // ---------------------------------------------------------------- session

  private def handleConnection(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    // MessageWriter buffers whole messages itself: no stream buffer
    val out = sock.getOutputStream
    val w = new MessageWriter(out)
    val pid = pidCounter.getAndIncrement()
    val secret = secretRng.nextInt()
    try {
      if (!startup(in, out, w, pid, secret)) return
      // per-connection session: shared catalog, private temp views/conf
      val session = root.newSession()
      graft.Functions.registerAll(session)
      onNewSession(session) // e.g. temp-view catalog registration
      // all of this connection's Spark jobs run on this thread → one
      // job group; a CancelRequest with the matching key cancels it
      val group = s"pgwire-$pid"
      session.sparkContext.setJobGroup(group, s"pgwire connection $pid",
        interruptOnCancel = true)
      // per-connection currval scope (DuckDB semantics): tasks read the
      // local property via TaskContext, driver-side evaluation falls
      // back to this thread's ThreadLocal — both are this thread, which
      // the connection owns for its lifetime
      session.sparkContext.setLocalProperty(graft.Sequences.ScopeProp, group)
      graft.Sequences.setThreadScope(group)
      cancelKeys.put((pid, secret), group)
      val conn = new ConnectionHandler(session, w)
      var open = true
      while (open) {
        readMessage(in) match {
          case None => open = false
          case Some(msg) => open = conn.dispatch(msg)
        }
      }
    } catch {
      case NonFatal(_) => // connection torn down
    } finally {
      cancelKeys.remove((pid, secret))
      try sock.close() catch { case NonFatal(_) => }
    }
  }

  /** Startup phase: SSL negotiation refusal + StartupMessage + auth.
    * A CancelRequest connection instead carries (pid, secret): cancel
    * the matching connection's Spark job group and close.
    */
  private def startup(in: DataInputStream, out: OutputStream,
      w: MessageWriter, pid: Int, secret: Int): Boolean = {
    var len = in.readInt()
    var code = in.readInt()
    while (code == SslRequestCode || code == GssRequestCode) {
      out.write('N'); out.flush() // no TLS — reference behaves the same
      len = in.readInt(); code = in.readInt()
    }
    if (code == CancelRequestCode) {
      val targetPid = in.readInt()
      val targetSecret = in.readInt()
      val group = cancelKeys.get((targetPid, targetSecret))
      if (group != null) root.sparkContext.cancelJobGroup(group)
      return false
    }
    if (code != ProtocolV3) return false
    val payload = new Array[Byte](len - 8)
    in.readFully(payload)
    // params (user/database/...) parsed but unused — single shared catalog
    w.int32(0).send('R') // AuthenticationOk
    Seq(
      "server_version" -> "15.0 (graft-spark)",
      "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8",
      "DateStyle" -> "ISO, MDY",
      "integer_datetimes" -> "on",
      "standard_conforming_strings" -> "on",
      "TimeZone" -> "UTC"
    ).foreach { case (k, v) => w.cstr(k).cstr(v).send('S') }
    w.int32(pid).int32(secret).send('K') // BackendKeyData → CancelRequest
    w.int8('I').send('Z') // ReadyForQuery, idle
    w.flushOut()
    true
  }
}

/** A parsed prepared statement: raw SQL, declared param type OIDs
  * (may be shorter than the placeholder count — drivers send 0 for
  * inferred types), and the number of `$N` placeholders found. */
private final case class Prepared(sql: String, oids: Array[Int], nParams: Int) {
  def oidAt(i: Int): Int = if (i < oids.length) oids(i) else 0
}
private object Prepared { val empty = Prepared("", Array.empty, 0) }

/** Per-connection protocol state machine. */
private final class ConnectionHandler(session: SparkSession, w: MessageWriter) {

  /** prepared statements + portals for the extended protocol. */
  private var statements = Map.empty[String, Prepared]
  private var portals = Map.empty[String, String] // name -> bound SQL
  /** per-portal result-format codes from Bind (0 text, 1 binary);
    * absent/empty = all-text. Resolved per column at Execute. */
  private var portalFmts = Map.empty[String, Array[Int]]
  /** open row streams for partially-executed portals (Execute with a
    * row limit → PortalSuspended, resumed by the next Execute). */
  private var portalIters = Map.empty[String, ResultEncoder]

  /** Active COPY FROM STDIN state: target table, format, accumulated
    * CopyData bytes. Non-None between CopyInResponse and CopyDone. */
  private final case class CopyIn(table: String, csv: Boolean,
      header: Boolean, delim: String, buf: java.io.ByteArrayOutputStream)
  private var copyIn: Option[CopyIn] = None

  /** After an extended-protocol error, discard messages until Sync —
    * one ErrorResponse per failed pipeline (protocol §55.2.3; drivers
    * batch Parse/Bind/Execute and rely on this). */
  private var skipTilSync = false

  /** @return false when the connection should close. */
  def dispatch(msg: FrontendMessage): Boolean = msg.msgType match {
    // COPY FROM STDIN sub-protocol (psql \copy): accumulate CopyData
    // until CopyDone/CopyFail; everything else is out-of-band.
    case 'd' if copyIn.isDefined =>
      copyIn.get.buf.write(msg.payload); true
    case 'c' if copyIn.isDefined => copyInDone(); true
    case 'f' if copyIn.isDefined =>
      copyInFailed(msg.reader.cstr()); true
    case 'd' | 'c' | 'f' => true // stray copy messages outside copy-in
    case 'P' | 'B' | 'D' | 'E' | 'C' | 'H' if skipTilSync => true // discarded
    case 'Q' => skipTilSync = false; simpleQuery(msg.reader.cstr()); true
    case 'P' => parse(msg); true
    case 'B' => bind(msg); true
    case 'D' => describe(msg); true
    case 'E' => execute(msg); true
    case 'C' => // Close statement/portal
      val r = msg.reader
      val kind = r.byte().toChar
      val name = r.cstr()
      if (kind == 'P') { portals -= name; portalIters -= name
        portalFmts -= name }
      else statements -= name
      w.send('3') // CloseComplete
      true
    case 'S' => skipTilSync = false; readyForQuery(); true // Sync
    case 'H' => w.flushOut(); true    // Flush
    case 'X' => false                  // Terminate
    case _ => true // ignore unknown (e.g. F function call)
  }

  private def readyForQuery(): Unit = {
    w.int8('I').send('Z'); w.flushOut()
  }

  // ------------------------------------------------------------ simple query

  private def simpleQuery(sql: String): Unit = {
    val stmts = SqlSplitter.split(sql)
    if (stmts.isEmpty) { w.send('I'); readyForQuery(); return }
    var failed = false
    stmts.foreach { stmt =>
      if (!failed && copyIn.isEmpty) {
        try runStatement(stmt, describeFirst = true)
        catch {
          case NonFatal(e) => errorResponse(e); failed = true
        }
      }
    }
    // a COPY FROM STDIN statement leaves the connection in copy-in
    // mode: ReadyForQuery is deferred until CopyDone/CopyFail
    if (copyIn.isEmpty) readyForQuery()
  }

  // --------------------------------------------------------- extended query

  private def parse(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val name = r.cstr()
    val sql = r.cstr()
    val nOids = r.int16()
    val oids = Array.fill(nOids)(r.int32())
    try {
      val nParams = BindParams.paramCount(sql)
      // zero-param statements analyze now so Parse surfaces syntax
      // errors (cpp:52 semantics); parameterized ones defer to Bind
      if (nParams == 0 && sql.trim.nonEmpty)
        Engine.query(session, sql).queryExecution.analyzed
      statements += name -> Prepared(sql, oids, nParams)
      w.send('1') // ParseComplete
    } catch { case NonFatal(e) => errorResponse(e); skipTilSync = true }
  }

  private def bind(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val portal = r.cstr()
    val stmt = r.cstr()
    val prep = statements.getOrElse(stmt, Prepared.empty)
    try {
      val nFmt = r.int16()
      val fmts = Array.fill(nFmt)(r.int16())
      val nParams = r.int16()
      val lits = (0 until nParams).map { i =>
        val len = r.int32()
        val data = if (len < 0) null else r.bytes(len)
        // one format code applies to all params; zero means all-text
        val fmt = if (nFmt == 0) 0 else if (nFmt == 1) fmts(0) else fmts(i)
        BindParams.literal(prep.oidAt(i), fmt, data)
      }
      // result-format codes: 0 text / 1 binary per column (or one
      // code for all, per protocol §Bind). The reference is text-only
      // (cpp:119-166); binary encoding here covers the fixed-width
      // types pgjdbc binaryTransfer / psycopg3 binary cursors request
      // — a format-1 column whose type has no binary encoder errors
      // loudly at Execute, like pg's missing-send-function error.
      val nResFmt = r.int16()
      val resFmts = Array.fill(nResFmt)(r.int16())
      if (resFmts.exists(f => f != 0 && f != 1))
        throw new UnsupportedOperationException(
          s"unknown result format code ${resFmts.find(f => f != 0 && f != 1).get}")
      portals += portal -> (
        if (prep.nParams == 0) prep.sql
        else BindParams.substitute(prep.sql, lits))
      if (resFmts.exists(_ != 0)) portalFmts += portal -> resFmts
      else portalFmts -= portal
      portalIters -= portal // re-binding resets any suspended stream
      w.send('2') // BindComplete
    } catch { case NonFatal(e) => errorResponse(e); skipTilSync = true }
  }

  private def describe(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val kind = r.byte().toChar
    val name = r.cstr()
    val sql = if (kind == 'S') {
      val prep = statements.getOrElse(name, Prepared.empty)
      // ParameterDescription precedes the row shape (protocol order)
      w.int16(prep.nParams)
      var i = 0
      while (i < prep.nParams) {
        val oid = prep.oidAt(i)
        w.int32(if (oid == 0) PgWire.Oid.Text else oid)
        i += 1
      }
      w.send('t')
      // typed NULLs stand in for $N so the row shape analyzes pre-Bind
      if (prep.nParams == 0) prep.sql
      else BindParams.substitute(prep.sql,
        (0 until prep.nParams).map(i => BindParams.nullLiteral(prep.oidAt(i))))
    } else portals.getOrElse(name, "")
    if (sql.trim.isEmpty || !returnsRows(sql)) { w.send('n'); return } // NoData
    try {
      val df = Engine.query(session, sql)
      // a portal describe reports the formats Bind chose; a statement
      // describe predates Bind, so its codes are always 0 (protocol)
      rowDescription(df, if (kind == 'P')
        portalFmts.getOrElse(name, Array.emptyIntArray)
      else Array.emptyIntArray)
    } catch { case NonFatal(e) => errorResponse(e); skipTilSync = true }
  }

  private def execute(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val portal = r.cstr()
    val maxRows = r.int32()
    val sql = portals.getOrElse(portal, "")
    if (sql.trim.isEmpty) { w.send('I'); return } // EmptyQueryResponse
    try {
      val resuming = portalIters.contains(portal)
      // a portal bound with binary result formats always streams
      // through the format-aware path (runStatement is text-only)
      val hasBinary = portalFmts.get(portal).exists(_.exists(_ != 0))
      if ((maxRows > 0 || resuming || hasBinary) && returnsRows(sql))
        executeLimited(portal, sql,
          if (maxRows > 0) maxRows else Int.MaxValue)
      else runStatement(sql, describeFirst = false)
    } catch {
      case NonFatal(e) =>
        portalIters -= portal // a failed portal cannot resume
        errorResponse(e); skipTilSync = true
    }
  }

  /** resolve a Bind result-format code for column `i`: zero codes =
    * all text, one code applies to every column, else positional. */
  private def fmtAt(fmts: Array[Int], i: Int): Int =
    if (fmts.isEmpty) 0
    else if (fmts.length == 1) fmts(0)
    else if (i < fmts.length) fmts(i) else 0

  /** Execute with a row limit: stream up to `maxRows`, suspend the
    * portal ('s') if rows remain — how pgjdbc fetchSize pages results.
    */
  private def executeLimited(portal: String, sql: String, maxRows: Int): Unit = {
    val enc = portalIters.getOrElse(portal, {
      val df = Engine.query(session, sql)
      val schema = df.schema.fields
      val fmts = portalFmts.getOrElse(portal, Array.emptyIntArray)
      // validate binary columns BEFORE streaming: a mid-stream error
      // would leave a half-emitted row set on the wire
      var v = 0
      while (v < schema.length) {
        if (fmtAt(fmts, v) == 1 && !PgTypes.binarySupported(schema(v).dataType))
          throw new UnsupportedOperationException(
            s"binary result format is not supported for column " +
              s"'${schema(v).name}' of type ${schema(v).dataType.sql}; " +
              "request text (format 0)")
        v += 1
      }
      ResultEncoder(w, df,
        ResultEncoder.DataRows(Array.tabulate(schema.length)(fmtAt(fmts, _) == 1)))
    })
    val n = enc.stream(maxRows)
    if (enc.hasNext) {
      portalIters += portal -> enc
      w.send('s') // PortalSuspended
    } else {
      portalIters -= portal
      w.cstr(commandTag(sql, n)).send('C')
    }
    w.flushOut()
  }

  // ------------------------------------------------------------- execution

  private def returnsRows(sql: String): Boolean = {
    val head = sql.trim.takeWhile(!_.isWhitespace).toUpperCase
    Set("SELECT", "WITH", "VALUES", "TABLE", "SHOW", "DESCRIBE", "DESC",
      "EXPLAIN", "FROM", "SUMMARIZE", "PRAGMA", "CALL", "PIVOT",
      "UNPIVOT", "EXECUTE").contains(head) ||
      // DML with a top-level RETURNING ships a row set + the DML tag
      (Set("INSERT", "UPDATE", "DELETE").contains(head) &&
        """(?i)\bRETURNING\b""".r.findAllMatchIn(sql).exists { m =>
          val pre = sql.substring(0, m.start)
          pre.count(_ == '(') == pre.count(_ == ')') &&
            pre.count(_ == '\'') % 2 == 0
        })
  }

  private def commandTag(sql: String, rows: Long): String = {
    val head = sql.trim.takeWhile(!_.isWhitespace).toUpperCase
    head match {
      case "SELECT" | "WITH" | "VALUES" | "TABLE" | "SHOW" | "DESCRIBE" |
           "DESC" | "EXPLAIN" | "FROM" | "SUMMARIZE" | "PRAGMA" | "CALL" |
           "PIVOT" | "UNPIVOT" =>
        s"SELECT $rows"
      case "INSERT" => s"INSERT 0 $rows"
      case "UPDATE" => s"UPDATE $rows"
      case "DELETE" => s"DELETE $rows"
      case "BEGIN" => "BEGIN"
      case "COMMIT" | "END" => "COMMIT"
      case "ROLLBACK" | "ABORT" => "ROLLBACK"
      case "SET" => "SET"
      case "CREATE" => "CREATE " + sql.trim.split("\\s+")
        .drop(1).headOption.getOrElse("").toUpperCase
      case "DROP" => "DROP " + sql.trim.split("\\s+")
        .drop(1).headOption.getOrElse("").toUpperCase
      case other => other
    }
  }

  /** top-level comma split for EXECUTE argument lists. */
  private def splitArgs(s: String): IndexedSeq[String] = {
    val out = Vector.newBuilder[String]; val cur = new StringBuilder
    var depth = 0; var inS = false
    s.foreach { c =>
      if (inS) { cur += c; if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
        case _ => cur += c
      }
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }

  private val prepareRe = """(?is)^PREPARE\s+(\w+)\s+AS\s+(.+)$""".r
  private val executeRe = """(?is)^EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*$""".r
  private val deallocRe = """(?is)^DEALLOCATE\s+(?:PREPARE\s+)?(\w+|ALL)$""".r

  private def runStatement(sql: String, describeFirst: Boolean): Unit = {
    val head = sql.trim.takeWhile(!_.isWhitespace).toUpperCase
    head match {
      // SQL-level prepared statements (pg/DuckDB surface the reference
      // serves through DuckDB): share the extended protocol's
      // statement namespace; EXECUTE args are SQL literals spliced
      // into $N exactly like Bind values.
      case "PREPARE" => sql.trim.stripSuffix(";") match {
        case prepareRe(name, body0) =>
          // DuckDB accepts `?` placeholders in SQL-level PREPARE;
          // normalize to $N so EXECUTE's splice sees one syntax
          val body = BindParams.questionToDollar(body0)
          statements += name -> Prepared(body, Array.empty,
            BindParams.paramCount(body))
          w.cstr("PREPARE").send('C')
        case _ => throw new IllegalArgumentException(
          "PREPARE syntax: PREPARE name AS statement")
      }
      case "EXECUTE" => sql.trim.stripSuffix(";") match {
        case executeRe(name, argsOrNull) =>
          val prep = statements.getOrElse(name,
            throw new IllegalArgumentException(s"prepared statement $name does not exist"))
          val args = Option(argsOrNull).map(splitArgs).getOrElse(Vector.empty)
          runStatement(
            if (prep.nParams == 0) prep.sql
            else BindParams.substitute(prep.sql, args), describeFirst)
        case _ => throw new IllegalArgumentException(
          "EXECUTE syntax: EXECUTE name [(arg, ...)]")
      }
      case "DEALLOCATE" => sql.trim.stripSuffix(";") match {
        case deallocRe(name) =>
          if (name.equalsIgnoreCase("ALL")) statements = Map.empty
          else statements -= name
          w.cstr("DEALLOCATE").send('C')
        case _ => throw new IllegalArgumentException(
          "DEALLOCATE syntax: DEALLOCATE [PREPARE] name|ALL")
      }
      case "BEGIN" | "COMMIT" | "END" | "ROLLBACK" | "ABORT" =>
        // accepted-and-meaningless, observably identical to the
        // reference whose per-query Connection kills txn state (cpp:42)
        w.cstr(commandTag(sql, 0)).send('C')
      case "SET" =>
        setStatement(sql)
        w.cstr("SET").send('C')
      case "SHOW" if pgShow(sql).isDefined =>
        // pg session variables drivers probe on connect (pgjdbc sends
        // SHOW TRANSACTION ISOLATION LEVEL); Spark's SHOW TABLES etc.
        // falls through to the engine below
        val df = pgShow(sql).get
        if (describeFirst) rowDescription(df)
        streamRows(df)
        w.cstr("SHOW").send('C')
      case "COPY" =>
        copyStatement(sql) match {
          case Some(n) => w.cstr(s"COPY $n").send('C')
          case None => // COPY FROM STDIN: completion deferred to CopyDone
        }
      case "UPDATE" if !returnsRows(sql) =>
        w.cstr(s"UPDATE ${Dml.update(session, sql)}").send('C')
      case "DELETE" if !returnsRows(sql) =>
        w.cstr(s"DELETE ${Dml.delete(session, sql)}").send('C')
      case "UPDATE" | "DELETE" =>
        // DML with RETURNING: Engine.query splits the clause, runs the
        // DML, and answers the returned rows
        val df = Engine.query(session, sql)
        if (describeFirst) rowDescription(df)
        val n = streamRows(df)
        w.cstr(commandTag(sql, n)).send('C')
      case _ =>
        PgCatalogShim.intercept(session, sql) match {
          case Some(listing) =>
            if (describeFirst) rowDescription(listing)
            val n = streamRows(listing)
            w.cstr(s"SELECT $n").send('C')
            w.flushOut()
            return
          case None =>
        }
        // INSERT INTO shares Dml's per-table writer serialization: a
        // concurrent copy-on-write UPDATE/DELETE snapshotting the same
        // table mid-append would silently drop the appended rows
        val insertTableRe =
          """(?is)^\s*INSERT\s+(?:OR\s+(?:REPLACE|IGNORE)\s+)?INTO\s+([\w.]+).*""".r
        val df = sql match {
          case insertTableRe(tbl) =>
            // DuckDB upsert surface first (Spark's parser has no
            // ON CONFLICT) — takes its own per-table lock
            Dml.insertOnConflict(session, sql) match {
              case Some(n) =>
                w.cstr(s"INSERT 0 $n").send('C')
                w.flushOut()
                return
              case None =>
                Dml.lockFor(tbl).synchronized(Engine.query(session, sql))
            }
          case _ => Engine.query(session, sql)
        }
        if (returnsRows(sql)) {
          if (describeFirst) rowDescription(df)
          val n = streamRows(df)
          w.cstr(commandTag(sql, n)).send('C')
        } else {
          // DDL/DML ran eagerly inside Engine.query; the affected-row
          // count lives in the write command's metrics, not the
          // (empty) result DataFrame.
          w.cstr(commandTag(sql, affectedRows(df))).send('C')
        }
    }
    w.flushOut()
  }

  /** `COPY (query)|table TO 'path' (FORMAT PARQUET|CSV|JSON [, HEADER])`,
    * `COPY table FROM 'path' (...)`, `COPY table FROM STDIN [...]`
    * — DuckDB/pg import/export surface mapped onto DataFrame
    * readers/writers. The reference forwards COPY verbatim to the
    * delegated engine (src/duckdb_pgwire_extension.cpp:52); this is
    * the Spark-native equivalent. Returns Some(rowCount) for a
    * completed statement, None after switching into copy-in mode
    * (CopyInResponse sent; rows arrive as CopyData messages).
    */
  private val copyToRe =
    """(?is)^COPY\s+(\(.*\)|[\w.]+)\s+TO\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$""".r
  private val copyFromFileRe =
    """(?is)^COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(?:WITH\s*)?(.*?)\s*;?\s*$""".r
  private val copyFromStdinRe =
    """(?is)^COPY\s+([\w.]+)\s+FROM\s+STDIN\s*(?:WITH\s*)?(.*?)\s*;?\s*$""".r
  private val copyToStdoutRe =
    """(?is)^COPY\s+(\(.*\)|[\w.]+)\s+TO\s+STDOUT\s*(?:WITH\s*)?(.*?)\s*;?\s*$""".r

  /** DELIMITER 'c' parsed from the RAW options text — matching on the
    * uppercased copy would corrupt lowercase delimiter characters.
    */
  private def copyDelim(optsRaw: String): Option[String] =
    """(?i)DELIMITER\s+'(.)'""".r.findFirstMatchIn(
      Option(optsRaw).getOrElse("")).map(_.group(1))

  private def copyStatement(sql: String): Option[Long] = sql.trim match {
    case copyToStdoutRe(src, optsRaw) =>
      // psql `\copy t to file` path: CopyOutResponse, one CopyData per
      // row (pg text format or CSV), CopyDone. Streams through
      // ResultEncoder — one partition in memory at a time; STDOUT
      // egress is single-socket by nature (scale exports use TO 'path').
      val df =
        if (src.startsWith("("))
          Engine.query(session, src.stripPrefix("(").stripSuffix(")"))
        else session.table(src)
      val opts = Option(optsRaw).getOrElse("").toUpperCase
      val csv = opts.contains("CSV")
      val header = opts.contains("HEADER")
      val delim = copyDelim(optsRaw).getOrElse(if (csv) "," else "\t")
      val fields = df.schema.fields
      w.int8(0).int16(fields.length)
      fields.foreach(_ => w.int16(0))
      w.send('H') // CopyOutResponse
      val enc = ResultEncoder(w, df, ResultEncoder.Copy(csv, delim))
      if (csv && header) enc.csvHeader()
      val n = enc.stream(Long.MaxValue)
      w.send('c') // CopyDone
      Some(n)
    case copyToRe(src, path, optsOrNull) =>
      Some(CopyOps.copyTo(session, src, path, optsOrNull))
    case copyFromFileRe(table, path, optsRaw) =>
      Some(CopyOps.copyFromFile(session, table, path, optsRaw))
    case copyFromStdinRe(table, optsRaw) =>
      val opts = Option(optsRaw).getOrElse("").toUpperCase
      val schema = session.table(table).schema // validates table exists
      copyIn = Some(CopyIn(table,
        csv = opts.contains("CSV"),
        header = opts.contains("HEADER"),
        delim = copyDelim(optsRaw)
          .getOrElse(if (opts.contains("CSV")) "," else "\t"),
        buf = new java.io.ByteArrayOutputStream()))
      // CopyInResponse: overall text format, per-column text format
      w.int8(0).int16(schema.length)
      schema.foreach(_ => w.int16(0))
      w.send('G')
      w.flushOut()
      None
    case _ =>
      throw new IllegalArgumentException(
        "COPY syntax: COPY (query)|table TO 'path' (FORMAT PARQUET|CSV|JSON [, HEADER]) | COPY table FROM 'path' (...) | COPY table FROM STDIN [(FORMAT csv [, HEADER])]")
  }

  /** Append `df` to catalog table `table`; returns the row count.
    * Generated columns recompute and NOT NULL / CHECK enforce first,
    * same as the file-path COPY. */
  private def loadInto(table: String, df: DataFrame): Long = {
    val snap = graft.TableConstraints.completeForWrite(session, table, df)
      .localCheckpoint() // count + write from one materialization
    graft.TableConstraints.enforce(table, snap)
    val n = snap.count()
    snap.write.mode("append").insertInto(table)
    n
  }

  /** CopyDone: parse the buffered copy-in payload (pg text format:
    * tab-delimited `\N` nulls; or CSV) against the target table's
    * schema via Spark's CSV reader over an in-memory Dataset, append,
    * and complete the COPY. Scale note: STDIN ingest is inherently
    * driver-bounded (the bytes arrive on one socket) — bulk loads at
    * scale go through `COPY t FROM 'path'`, which is a distributed
    * file scan.
    */
  def copyInDone(): Unit = {
    val st = copyIn.get
    copyIn = None
    try {
      val text = new String(st.buf.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8)
      val lines = text.split("\r?\n", -1).toIndexedSeq
        .filter(l => l.nonEmpty && l != "\\.")
      val schema = session.table(st.table).schema
      import session.implicits._
      val ds = session.createDataset(lines)
      val reader = session.read.schema(schema).option("sep", st.delim)
      val df =
        // pg CSV: an unquoted empty field is NULL, a quoted "" is ''
        // (Spark reads both as its nullValue; NUL cannot occur in text)
        if (st.csv) reader.option("header", st.header.toString)
          .option("nullValue", "\u0000").csv(ds)
        else reader // pg text format: no quoting, backslash escapes, \N null
          .option("quote", "\u0000").option("nullValue", "\\N").csv(ds)
      w.cstr(s"COPY ${loadInto(st.table, df)}").send('C')
    } catch { case NonFatal(e) => errorResponse(e) }
    readyForQuery()
  }

  def copyInFailed(reason: String): Unit = {
    copyIn = None
    errorResponse(new IllegalArgumentException(s"COPY aborted: $reason"))
    readyForQuery()
  }

  private def affectedRows(df: DataFrame): Long =
    // Engine.query answers DML with DuckDB's one-row Count column
    // (guarded inserts, upserts, and now plain INSERTs); native
    // commands carry the count in their write metrics instead
    if (df.schema.length == 1 && df.schema.head.name == "Count")
      df.collect().headOption.map(_.getLong(0)).getOrElse(0L)
    else df.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan.metrics.get("numOutputRows")
          .map(_.value).getOrElse(0L)
      case _ => 0L
    }

  /** `SHOW <pg session variable>` → one-row result, like Postgres.
    * Returns None for anything that is not a known pg variable so
    * Spark's own SHOW TABLES / SHOW DATABASES still work.
    */
  private def pgShow(sql: String): Option[DataFrame] = {
    val m = """(?is)^SHOW\s+(.+?)\s*;?\s*$""".r
    val varName = sql.trim match {
      case m(v) => v.trim.toLowerCase.replaceAll("\\s+", " ")
      case _ => return None
    }
    val known: Map[String, (String, String)] = Map(
      "transaction isolation level" ->
        ("transaction_isolation", "read committed"),
      "server_version" -> ("server_version", "15.0 (graft-spark)"),
      "server_encoding" -> ("server_encoding", "UTF8"),
      "client_encoding" -> ("client_encoding", "UTF8"),
      "datestyle" -> ("DateStyle", "ISO, MDY"),
      "timezone" -> ("TimeZone",
        session.conf.get("spark.sql.session.timeZone", "UTC")),
      "search_path" -> ("search_path", "public"),
      "standard_conforming_strings" ->
        ("standard_conforming_strings", "on"))
    known.get(varName).map { case (colName, value) =>
      session.sql(s"SELECT '$value' AS `$colName`")
    }
  }

  /** SET allowlist → session conf; everything else accepted as no-op
    * (psql sends extra_float_digits etc. — same amnesty the reference
    * gets from per-query connections).
    */
  private def setStatement(sql: String): Unit = {
    val m = """(?is)SET\s+([\w.]+)\s*(?:=|TO)\s*(.+)""".r
    sql.trim match {
      case m(key, value) =>
        val allow = Set("spark.sql.shuffle.partitions",
          "spark.sql.ansi.enabled", "spark.sql.session.timeZone")
        val k = key.toLowerCase match {
          case "timezone" => "spark.sql.session.timeZone"
          case other => other
        }
        if (allow.contains(k))
          session.conf.set(k, value.trim.stripPrefix("'").stripSuffix("'"))
      case _ =>
    }
  }

  private def rowDescription(df: DataFrame,
      fmts: Array[Int] = Array.emptyIntArray): Unit = {
    val fields = df.schema.fields
    w.int16(fields.length)
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      w.cstr(f.name)
        .int32(0).int16(0)                 // table oid / attnum
        .int32(PgTypes.oidOf(f.dataType))
        .int16(-1).int32(-1)               // typlen / typmod
        .int16(fmtAt(fmts, i))             // format from Bind (0 = text)
      i += 1
    }
    w.send('T')
  }

  /** Stream result rows as text DataRows without materializing them
    * on the driver (SURVEY §1.1's row-wise wire emission). */
  private def streamRows(df: DataFrame): Long =
    ResultEncoder(w, df, ResultEncoder.DataRows(new Array(df.schema.length)))
      .stream(Long.MaxValue)

  private def errorResponse(e: Throwable): Unit = {
    w.resetPayload() // drop any half-written DataRow payload
    val sqlState = e match {
      case p: org.apache.spark.sql.catalyst.parser.ParseException => "42601"
      case a: org.apache.spark.sql.AnalysisException =>
        if (a.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND")) "42P01"
        else if (a.getMessage.contains("UNRESOLVED_COLUMN")) "42703"
        else "42000"
      case _: NumberFormatException => "22P02"          // bad param text
      case _: UnsupportedOperationException => "0A000"  // unsupported format
      case _: BindParams.BindException => "08P01"       // param count mismatch
      case e if Option(e.getMessage).exists(m =>
        m.contains("cancelled") || m.contains("SPARK_JOB_CANCELLED")) =>
        "57014"                                         // query_canceled
      case _ => "XX000"
    }
    val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    w.int8('S').cstr("ERROR")
      .int8('V').cstr("ERROR")
      .int8('C').cstr(sqlState)
      .int8('M').cstr(msg.take(4000))
      .int8(0)
    w.send('E')
    w.flushOut()
  }
}

/** Split a simple-query buffer into statements (psql can batch
  * `a; b; c`), respecting quotes and comments.
  */
object SqlSplitter {
  def split(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    var inS = false; var inD = false; var inLC = false; var inBC = false
    while (i < sql.length) {
      val c = sql(i)
      val next = if (i + 1 < sql.length) sql(i + 1) else '\u0000'
      if (inLC) { if (c == '\n') inLC = false; cur += c }
      else if (inBC) { if (c == '*' && next == '/') { inBC = false; cur += c; cur += next; i += 1 } else cur += c }
      else if (inS) { if (c == '\'') inS = false; cur += c }
      else if (inD) { if (c == '"') inD = false; cur += c }
      else c match {
        case '\'' => inS = true; cur += c
        case '"' => inD = true; cur += c
        case '-' if next == '-' => inLC = true; cur += c
        case '/' if next == '*' => inBC = true; cur += c
        case ';' => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
