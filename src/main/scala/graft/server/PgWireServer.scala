package graft.server

import java.io.{BufferedInputStream, DataInputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Command => LogicalCommand}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType

import graft.{CopyFromStdin, CopyToStdout, DuckCommand, DuckStatements, EmptyStatement, Engine}
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
  private val log = org.apache.logging.log4j.LogManager.getLogger(classOf[PgWireServer])

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
    } catch {
      case NonFatal(e) if !serverSocket.isClosed =>
        log.warn(s"pgwire accept loop stopped: ${e.getClass.getName}: ${e.getMessage}")
      case NonFatal(_) => // stop() closed the socket
    }
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
    // the connection's job group, and its currval scope
    val group = s"pgwire-$pid"
    var session: SparkSession = null
    try {
      if (!startup(in, out, w, pid, secret)) return
      // per-connection session: shared catalog, private temp views/conf
      session = root.newSession()
      graft.Functions.registerAll(session)
      onNewSession(session) // e.g. temp-view catalog registration
      // all of this connection's Spark jobs run on this thread → one
      // job group; a CancelRequest with the matching key cancels it
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
      case _: java.io.EOFException => // the client left between messages
      case NonFatal(e) =>
        log.warn(s"pgwire connection $pid failed: ${e.getClass.getName}: ${e.getMessage}")
    } finally {
      if (session != null) Engine.endSession(session)
      graft.Sequences.endScope(group)
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

/** One statement as [[ConnectionHandler.plan]] classified it; nothing
  * has run yet. */
private sealed trait Stmt
private case object EmptyStmt extends Stmt
/** A command: it runs when its tag is first asked for, and answers its
  * CommandComplete tag, or None when completion is deferred (COPY FROM
  * STDIN). */
private final class Command(run: => Option[String]) extends Stmt {
  lazy val tag: Option[String] = run
}
/** A row set. `df` is resolved once, which for a command (DML …
  * RETURNING) runs it; `shape` is its row type, which a command
  * declares without running. */
private final class Rows(plan: LogicalPlan, query: => DataFrame,
    val tag: Long => String) extends Stmt {
  lazy val df: DataFrame = query
  lazy val shape: StructType = plan match {
    case c: LogicalCommand => c.schema
    case _ => df.schema
  }
}

/** Per-connection protocol state machine. Both protocols take one
  * statement path: [[plan]] classifies a statement without running
  * it, Describe reads the row shape of that plan, and Execute or a
  * simple Query runs it through [[run]]. */
private final class ConnectionHandler(session: SparkSession, w: MessageWriter) {

  /** Parse's named statements, in the session's one prepared-statement
    * store, which SQL-level PREPARE and EXECUTE also use. */
  private val statements = Engine.state(session).prepared

  /** A bound statement, planned on first use: Describe and Execute
    * share the plan, and with it one analysis. `fmts` are Bind's
    * result-format codes (0 text, 1 binary; none = all text). */
  private final class Portal(sql: String, val fmts: Array[Int]) {
    lazy val stmt: Stmt = plan(sql)
    /** the row stream an Execute opened; it outlives a suspension */
    var rows: ResultEncoder = _
  }
  private var portals = Map.empty[String, Portal]

  /** Active COPY FROM STDIN: non-None between CopyInResponse and
    * CopyDone/CopyFail. */
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
      copyIn.get.add(msg.payload); true
    case 'c' if copyIn.isDefined => copyInDone(); true
    case 'f' if copyIn.isDefined =>
      copyInFailed(msg.reader.cstr()); true
    case 'd' | 'c' | 'f' => true // stray copy messages outside copy-in
    case 'P' | 'B' | 'D' | 'E' | 'C' | 'H' if skipTilSync => true // discarded
    case 'Q' => skipTilSync = false; simpleQuery(msg.reader.cstr()); true
    case 'P' => parse(msg); true
    case 'B' => extended(bind(msg)); true
    case 'D' => extended(describe(msg)); true
    case 'E' => extended(execute(msg)); true
    case 'C' => // Close statement/portal
      val r = msg.reader
      val kind = r.byte().toChar
      val name = r.cstr()
      if (kind == 'P') portals -= name else statements.remove(name)
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
        try run(new Portal(stmt, Array.emptyIntArray), Long.MaxValue, describe = true)
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

  /** An extended-protocol step: a failure answers one ErrorResponse and
    * discards the rest of the pipeline until Sync. */
  private def extended(step: => Unit): Unit =
    try step catch { case NonFatal(e) => errorResponse(e); skipTilSync = true }

  /** Parse only stores the statement. Unlike the reference's
    * `conn.Prepare` (cpp:52) it analyzes nothing, so errors surface at
    * Describe or Execute. */
  private def parse(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val name = r.cstr()
    val sql = r.cstr()
    val oids = Array.fill(r.int16())(r.int32())
    statements.put(name, Prepared(sql, oids))
    w.send('1') // ParseComplete
  }

  private def statement(name: String): Prepared =
    Option(statements.get(name)).getOrElse(throw new UndefinedName("26000",
      s"""prepared statement "$name" does not exist"""))

  private def portal(name: String): Portal = portals.getOrElse(name,
    throw new UndefinedName("34000", s"""portal "$name" does not exist"""))

  private def bind(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val portalName = r.cstr()
    val prep = statement(r.cstr())
    val fmts = Array.fill(r.int16())(r.int16())
    val params = (0 until r.int16()).map { i =>
      val len = r.int32()
      val data = if (len < 0) null else r.bytes(len)
      // one format code applies to all params; zero means all-text
      BindParams.literal(prep.oidAt(i), fmtAt(fmts, i), data)
    }
    // result-format codes: 0 text / 1 binary per column (or one code
    // for all, per protocol §Bind). The reference is text-only
    // (cpp:119-166); binary encoding here covers the fixed-width types
    // pgjdbc binaryTransfer / psycopg3 binary cursors request — a
    // format-1 column whose type has no binary encoder errors loudly at
    // Execute, like pg's missing-send-function error.
    val resFmts = Array.fill(r.int16())(r.int16())
    resFmts.find(f => f != 0 && f != 1).foreach(f =>
      throw new UnsupportedOperationException(s"unknown result format code $f"))
    portals += portalName -> new Portal(BindParams.splice(prep.sql, params), resFmts)
    w.send('2') // BindComplete
  }

  private def describe(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val kind = r.byte().toChar
    val name = r.cstr()
    val (stmt, fmts) = if (kind == 'S') {
      val prep = statement(name)
      // ParameterDescription precedes the row shape (protocol order)
      w.int16(prep.nParams)
      for (i <- 0 until prep.nParams) {
        val oid = prep.oidAt(i)
        w.int32(if (oid == 0) PgWire.Oid.Text else oid)
      }
      w.send('t')
      // typed NULLs stand in for the parameters before any Bind; a
      // statement describe predates Bind, so its format codes are 0
      (plan(BindParams.splice(prep.sql,
        (0 until prep.nParams).map(i => BindParams.nullLiteral(prep.oidAt(i))))),
        Array.emptyIntArray)
    } else {
      val p = portal(name)
      (p.stmt, p.fmts)
    }
    stmt match {
      case rows: Rows => rowDescription(rows.shape, fmts)
      case _ => w.send('n') // NoData
    }
  }

  private def execute(msg: FrontendMessage): Unit = {
    val r = msg.reader
    val name = r.cstr()
    val maxRows = r.int32()
    try run(portal(name), if (maxRows > 0) maxRows else Long.MaxValue, describe = false)
    catch { case NonFatal(e) => portals -= name; throw e } // it cannot resume
  }

  /** resolve a Bind format code for column (or parameter) `i`: zero
    * codes = all text, one code applies to every column, else
    * positional. */
  private def fmtAt(fmts: Array[Int], i: Int): Int =
    if (fmts.isEmpty) 0
    else if (fmts.length == 1) fmts(0)
    else if (i < fmts.length) fmts(i) else 0

  // ------------------------------------------------------------- execution

  /** Run a portal — the one emitter of both protocols. A command
    * answers its tag. A row set streams at most `limit` DataRows in the
    * portal's formats, then suspends the portal ('s') if rows remain —
    * how pgjdbc fetchSize pages results — or completes it. `describe`
    * sends the RowDescription first (simple query). */
  private def run(p: Portal, limit: Long, describe: Boolean): Unit = {
    p.stmt match {
      case EmptyStmt => w.send('I') // EmptyQueryResponse
      case c: Command => c.tag.foreach(t => w.cstr(t).send('C'))
      case rows: Rows =>
        if (p.rows == null) {
          val df = rows.df
          val fields = df.schema.fields
          // validate binary columns BEFORE streaming: a mid-stream
          // error would leave a half-emitted row set on the wire
          val binary = Array.tabulate(fields.length) { i =>
            val bin = fmtAt(p.fmts, i) == 1
            if (bin && !PgTypes.binarySupported(fields(i).dataType))
              throw new UnsupportedOperationException(
                s"binary result format is not supported for column " +
                  s"'${fields(i).name}' of type ${fields(i).dataType.sql}; " +
                  "request text (format 0)")
            bin
          }
          if (describe) rowDescription(df.schema, p.fmts)
          p.rows = ResultEncoder(w, df, ResultEncoder.DataRows(binary))
        }
        val n = p.rows.stream(limit)
        if (p.rows.hasNext) w.send('s') // PortalSuspended
        else w.cstr(rows.tag(n)).send('C')
    }
    w.flushOut()
  }

  /** The dispatch both protocols share: parse `sql` once, as
    * `spark.sql` does, and say how it runs by its plan node, running
    * nothing. A command runs when its tag is first asked for; a row set
    * runs when it is first streamed, or analyzes when its shape is
    * first asked for. */
  private def plan(sql: String): Stmt = {
    val tracker = new QueryPlanningTracker
    val parsed = ColumnBridge.parse(session, sql, tracker)
    def query = Engine.query(session, sql, parsed, tracker)
    parsed match {
      case _: EmptyStatement => EmptyStmt
      case c: CopyToStdout =>
        new Command(Some(copyOut(Engine.query(session, sql, c.source, tracker), c)))
      case c: CopyFromStdin => new Command(copyIn(c))
      case c: DuckCommand if c.answersRows => new Rows(c, query, c.pgTag)
      case c: DuckCommand => new Command(Some(c.pgTag(query)))
      case c: LogicalCommand if c.output.isEmpty =>
        new Command(Some { query; c.getTagValue(DuckStatements.PgTag).getOrElse("") })
      case p => new Rows(p, query, n => s"SELECT $n")
    }
  }

  /** `COPY … TO STDOUT` (psql `\copy t to file`): CopyOutResponse, one
    * CopyData per row (pg text format or CSV), CopyDone. Streams
    * through ResultEncoder — one partition in memory at a time; STDOUT
    * egress is single-socket by nature (scale exports use TO 'path'). */
  private def copyOut(df: DataFrame, c: CopyToStdout): String = {
    val fields = df.schema.fields
    w.int8(0).int16(fields.length)
    fields.foreach(_ => w.int16(0))
    w.send('H') // CopyOutResponse
    val enc = ResultEncoder(w, df, ResultEncoder.Copy(c.csv, c.delim.toString))
    if (c.csv && c.header) enc.csvHeader()
    val n = enc.stream(Long.MaxValue)
    w.send('c') // CopyDone
    s"COPY $n"
  }

  /** `COPY … FROM STDIN`: CopyInResponse, then rows arrive as CopyData
    * messages until CopyDone; completion is deferred to [[copyInDone]]. */
  private def copyIn(c: CopyFromStdin): Option[String] = {
    val in = new CopyIn(session, c.table, c.csv, c.header, c.delim.toByte)
    copyIn = Some(in)
    // CopyInResponse: overall text format, per-column text format
    w.int8(0).int16(in.columns.length)
    in.columns.foreach(_ => w.int16(0))
    w.send('G')
    w.flushOut()
    None
  }

  /** CopyDone: parse, type and append the buffered copy-in payload
    * ([[CopyIn]]), and complete the COPY. Scale note: STDIN ingest is
    * inherently driver-bounded (the bytes arrive on one socket) — bulk
    * loads at scale go through `COPY t FROM 'path'`, which is a
    * distributed file scan.
    */
  def copyInDone(): Unit = {
    val in = copyIn.get
    copyIn = None
    try w.cstr(s"COPY ${in.load()}").send('C')
    catch { case NonFatal(e) => errorResponse(e) }
    readyForQuery()
  }

  def copyInFailed(reason: String): Unit = {
    copyIn = None
    errorResponse(new IllegalArgumentException(s"COPY aborted: $reason"))
    readyForQuery()
  }

  private def rowDescription(schema: StructType, fmts: Array[Int]): Unit = {
    val fields = schema.fields
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

  private def errorResponse(e: Throwable): Unit = {
    w.resetPayload() // drop any half-written DataRow payload
    val sqlState = e match {
      case c: CopyIn.Failure => c.sqlState
      case u: UndefinedName => u.sqlState
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
    e match {
      case c: CopyIn.Failure => w.int8('W').cstr(c.context)
      case _ =>
    }
    w.int8(0)
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
