package graft.server

import java.io.{DataInputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/** PostgreSQL wire-protocol framing + text-format serialization.
  *
  * Backend message layout: type byte, int32 length (self-inclusive,
  * type-exclusive), payload. Mirrors what the reference's pgwire
  * submodule does for it (bridge serialization switch at
  * src/duckdb_pgwire_extension.cpp:119-166), but covers ALL Spark
  * primitive types — the reference silently drops BOOLEAN /
  * TIMESTAMP_TZ / DECIMAL columns (cpp:80-83,125-128); we fix that
  * (SURVEY §1.3).
  */
object PgWire {

  /** A name the session does not hold: a prepared statement (pg's
    * SQLSTATE 26000) or a portal (34000). */
  final class UndefinedName(val sqlState: String, msg: String)
      extends IllegalArgumentException(msg)

  // protocol magic numbers
  val ProtocolV3 = 196608
  val SslRequestCode = 80877103
  val CancelRequestCode = 80877102
  val GssRequestCode = 80877104

  /** Postgres type OIDs (public pg_type.h values). */
  object Oid {
    val Bool = 16
    val Bytea = 17
    val Int8 = 20
    val Int2 = 21
    val Int4 = 23
    val Text = 25
    val Float4 = 700
    val Float8 = 701
    val Varchar = 1043
    val Date = 1082
    val Time = 1083
    val Timestamp = 1114
    val Interval = 1186
    val TimestampTz = 1184
    val Numeric = 1700
    val TextArray = 1009
    val Json = 114
  }

  /** Bytes buffered before the writer hands them to the socket. */
  val ChunkBytes = 64 * 1024

  /** Builds backend messages in one reusable per-connection buffer.
    * A message opens at its first payload write; `send` writes its type
    * byte and back-patches its length. Whole messages go to `out` once
    * about [[ChunkBytes]] have accumulated, and on `flushOut`.
    * [[ResultEncoder]] frames result rows straight into the same buffer
    * through `open`/`close`.
    */
  final class MessageWriter(out: OutputStream) {
    private[server] var buf = new Array[Byte](ChunkBytes + 8192)
    private[server] var pos = 0
    /** start of the open message, -1 when none is open */
    private var msgStart = -1

    /** make room for `n` more bytes at `pos`. */
    private[server] def ensure(n: Int): Unit =
      if (pos + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

    private[server] def putInt(at: Int, v: Int): Unit = {
      buf(at) = (v >>> 24).toByte; buf(at + 1) = (v >>> 16).toByte
      buf(at + 2) = (v >>> 8).toByte; buf(at + 3) = v.toByte
    }

    /** open a message (if none is open): reserve its type and length. */
    private[server] def open(): Unit =
      if (msgStart < 0) { ensure(5); msgStart = pos; pos += 5 }

    /** finish the open message (opening an empty one if needed). */
    private[server] def close(msgType: Char): Unit = {
      open()
      buf(msgStart) = msgType.toByte
      putInt(msgStart + 1, pos - msgStart - 1)
      msgStart = -1
    }

    def int8(v: Int): MessageWriter = {
      open(); ensure(1); buf(pos) = v.toByte; pos += 1; this
    }
    def int16(v: Int): MessageWriter = {
      open(); ensure(2); buf(pos) = (v >>> 8).toByte; buf(pos + 1) = v.toByte
      pos += 2; this
    }
    def int32(v: Int): MessageWriter = {
      open(); ensure(4); putInt(pos, v); pos += 4; this
    }
    def bytes(v: Array[Byte]): MessageWriter = {
      open(); ensure(v.length)
      System.arraycopy(v, 0, buf, pos, v.length); pos += v.length; this
    }
    def cstr(v: String): MessageWriter = { bytes(v.getBytes(UTF_8)); int8(0) }

    /** discard the open message (error recovery: an exception mid-row
      * must not leave a partial frame ahead of the ErrorResponse). */
    def resetPayload(): Unit =
      if (msgStart >= 0) { pos = msgStart; msgStart = -1 }

    /** finish the open message; hand full chunks to the socket. */
    def send(msgType: Char): Unit = {
      close(msgType)
      if (pos >= ChunkBytes) drain()
    }

    /** the whole messages written since `mark`, taken out of the
      * buffer as one array. */
    private[server] def takeFrom(mark: Int): Array[Byte] = {
      val chunk = java.util.Arrays.copyOfRange(buf, mark, pos)
      pos = mark
      chunk
    }

    /** send what is buffered, then `chunk`. */
    private[server] def writeChunk(chunk: Array[Byte]): Unit = {
      drain(); out.write(chunk)
    }

    /** callers drain between messages, never with one open */
    private def drain(): Unit = {
      if (pos > 0) out.write(buf, 0, pos)
      pos = 0
    }

    def flushOut(): Unit = { drain(); out.flush() }
  }

  final case class FrontendMessage(msgType: Char, payload: Array[Byte]) {
    def reader = new PayloadReader(payload)
  }

  final class PayloadReader(payload: Array[Byte]) {
    private var pos = 0
    def int16(): Int = { val v = ((payload(pos) & 0xff) << 8) | (payload(pos + 1) & 0xff); pos += 2; v }
    def int32(): Int = {
      val v = ((payload(pos) & 0xff) << 24) | ((payload(pos + 1) & 0xff) << 16) |
        ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
      pos += 4; v
    }
    def cstr(): String = {
      val start = pos
      while (pos < payload.length && payload(pos) != 0) pos += 1
      val s = new String(payload, start, pos - start, UTF_8)
      pos += 1 // skip NUL
      s
    }
    def byte(): Int = { val v = payload(pos) & 0xff; pos += 1; v }
    def remaining: Int = payload.length - pos
    def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(payload, pos, pos + n); pos += n; b
    }
  }

  /** Read one frontend message (post-startup). Returns None on EOF. */
  def readMessage(in: DataInputStream): Option[FrontendMessage] = {
    val t = in.read()
    if (t < 0) return None
    val len = in.readInt()
    val payload = new Array[Byte](len - 4)
    in.readFully(payload)
    Some(FrontendMessage(t.toChar, payload))
  }
}
