package graft

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal pg frontend for specs that keeps every backend message raw,
  * as (type, payload) pairs. */
final class WireClient(port: Int) {
  import WireClient._

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
  def until(stop: Char*): Messages = {
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

  def query(sql: String): Messages = { send('Q', cstr(sql)); until('Z') }

  /** `COPY ... FROM STDIN`: each chunk as one CopyData, then CopyDone
    * (or CopyFail with `fail`); the messages up to ReadyForQuery */
  def copyIn(sql: String, chunks: Seq[Array[Byte]], fail: Option[String] = None): Messages = {
    send('Q', cstr(sql))
    val head = until('G', 'Z')
    if (head.last._1 == 'Z') head
    else {
      chunks.foreach(send('d', _))
      fail match {
        case Some(reason) => send('f', cstr(reason))
        case None => send('c')
      }
      head ++ until('Z')
    }
  }

  // extended protocol, one message each; `sync` reads the replies
  def parse(stmt: String, sql: String, oids: Int*): Unit =
    send('P', cstr(stmt), cstr(sql), i16(oids.length), oids.flatMap(i32).toArray)
  /** text-format parameters (None = NULL), then the result formats */
  def bind(portal: String, stmt: String, params: Seq[Option[String]] = Nil,
      resultFormats: Seq[Int] = Nil): Unit =
    send('B', cstr(portal), cstr(stmt), i16(0), i16(params.length),
      params.flatMap {
        case None => i32(-1)
        case Some(v) => val b = v.getBytes(UTF_8); i32(b.length) ++ b
      }.toArray,
      i16(resultFormats.length), resultFormats.flatMap(i16).toArray)
  def describe(kind: Char, name: String): Unit = send('D', Array(kind.toByte), cstr(name))
  def execute(portal: String, maxRows: Int = 0): Unit = send('E', cstr(portal), i32(maxRows))
  def sync(): Messages = { send('S'); until('Z') }

  /** one unnamed Parse/Bind/Describe(portal)/Execute/Sync round trip */
  def extended(sql: String, params: Seq[Option[String]] = Nil): Messages = {
    parse("", sql); bind("", "", params); describe('P', ""); execute("")
    sync()
  }

  def close(): Unit = { send('X'); sock.close() }
}

object WireClient {
  type Messages = Vector[(Char, Array[Byte])]

  def cstr(s: String): Array[Byte] = (s + "\u0000").getBytes(UTF_8)
  def i16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  def i32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()

  def tag(m: Messages): Seq[String] =
    m.collect { case ('C', p) => new String(p, 0, p.length - 1, UTF_8) }
  def errorText(m: Messages): String =
    m.collect { case ('E', p) => new String(p, UTF_8) }.mkString

  /** the fields of the first ErrorResponse, by field type */
  def errorFields(m: Messages): Map[Char, String] =
    m.collectFirst { case ('E', p) =>
      new String(p, UTF_8).split('\u0000').filter(_.nonEmpty)
        .map(f => f.head -> f.tail).toMap
    }.getOrElse(Map.empty)

  /** column names of the first RowDescription */
  def columns(m: Messages): Seq[String] = m.collectFirst { case ('T', p) =>
    val r = new graft.server.PgWire.PayloadReader(p)
    (0 until r.int16()).map { _ =>
      val name = r.cstr()
      r.int32(); r.int16(); r.int32(); r.int16(); r.int32(); r.int16()
      name
    }
  }.getOrElse(Nil)

  /** text-format DataRow values */
  def rows(m: Messages): Seq[Seq[Option[String]]] = m.collect { case ('D', p) =>
    val b = java.nio.ByteBuffer.wrap(p)
    (0 until b.getShort()).map { _ =>
      val n = b.getInt()
      if (n < 0) None else { val a = new Array[Byte](n); b.get(a); Some(new String(a, UTF_8)) }
    }
  }
}
