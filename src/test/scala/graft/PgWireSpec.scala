package graft

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.PgWireServer
import WireClient.{cstr, i16, i32}

/** Wire-level protocol tests via a minimal in-process frontend —
  * replicates the reference's e2e client flow
  * (client/go/cmd/simple/main.go: CREATE → INSERT from
  * generate_series → SELECT → row decode) plus the fixtures in
  * FIXTURES.md §D (type coverage incl. the columns the reference
  * silently drops, error SQLSTATE, session isolation).
  */
class PgWireSpec extends SparkSpecBase {

  private lazy val server = {
    val s = new PgWireServer(spark, port = 0, Tables.registerAll(_, sfDir))
    val port = s.start()
    (s, port)
  }

  /** Minimal pg frontend for tests. */
  final class Client(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    var backendPid = 0
    var backendSecret = 0
    /** CopyData payloads seen by the last collect() (COPY TO STDOUT). */
    val copyOut = scala.collection.mutable.ArrayBuffer.empty[String]

    def startup(withSslProbe: Boolean = false): Unit = {
      if (withSslProbe) {
        out.writeInt(8); out.writeInt(80877103); out.flush()
        assert(in.read() == 'N', "SSLRequest must be answered 'N'")
      }
      val params = "user\u0000test\u0000database\u0000main\u0000\u0000".getBytes(UTF_8)
      out.writeInt(8 + params.length); out.writeInt(196608)
      out.write(params); out.flush()
      collect() // drain auth/params until ReadyForQuery
    }

    def send(msgType: Char, payload: Array[Byte]): Unit = {
      out.writeByte(msgType); out.writeInt(payload.length + 4)
      out.write(payload); out.flush()
    }

    def query(sql: String): (Seq[String], Seq[Seq[Option[String]]], Seq[String], Seq[(String, String)]) =
      { send('Q', (sql + "\u0000").getBytes(UTF_8)); collect() }

    /** read until ReadyForQuery; gather cols, rows, command tags, errors. */
    def collect(): (Seq[String], Seq[Seq[Option[String]]], Seq[String], Seq[(String, String)]) = {
      var cols = Seq.empty[String]
      val rows = Seq.newBuilder[Seq[Option[String]]]
      val tags = Seq.newBuilder[String]
      val errs = Seq.newBuilder[(String, String)]
      var done = false
      while (!done) {
        val t = in.read().toChar
        val len = in.readInt()
        val p = new Array[Byte](len - 4); in.readFully(p)
        val r = new graft.server.PgWire.PayloadReader(p)
        t match {
          case 'T' =>
            val n = r.int16()
            cols = (0 until n).map { _ =>
              val name = r.cstr()
              r.int32(); r.int16(); r.int32(); r.int16(); r.int32(); r.int16()
              name
            }
          case 'D' =>
            val n = r.int16()
            rows += (0 until n).map { _ =>
              val l = r.int32()
              if (l == -1) None else Some(new String(r.bytes(l), UTF_8))
            }
          case 'C' => tags += r.cstr()
          case 'd' => copyOut += new String(p, UTF_8)
          case 'K' => backendPid = r.int32(); backendSecret = r.int32()
          case 'E' =>
            var code = ""; var msg = ""
            var f = r.byte()
            while (f != 0) {
              val v = r.cstr()
              if (f == 'C') code = v
              if (f == 'M') msg = v
              f = r.byte()
            }
            errs += ((code, msg))
          case 'Z' => done = true
          case _ => // ignore
        }
      }
      (cols, rows.result(), tags.result(), errs.result())
    }

    /** like collect() but keeps DataRow fields as raw bytes and
      * captures RowDescription per-column format codes — for
      * binary-result-format assertions. */
    def collectRaw(): (Seq[Int], Seq[Seq[Option[Array[Byte]]]], Seq[(String, String)]) = {
      var fmts = Seq.empty[Int]
      val rows = Seq.newBuilder[Seq[Option[Array[Byte]]]]
      val errs = Seq.newBuilder[(String, String)]
      var done = false
      while (!done) {
        val t = in.read().toChar
        val len = in.readInt()
        val p = new Array[Byte](len - 4); in.readFully(p)
        val r = new graft.server.PgWire.PayloadReader(p)
        t match {
          case 'T' =>
            val n = r.int16()
            fmts = (0 until n).map { _ =>
              r.cstr(); r.int32(); r.int16(); r.int32(); r.int16(); r.int32()
              r.int16()
            }
          case 'D' =>
            val n = r.int16()
            rows += (0 until n).map { _ =>
              val l = r.int32()
              if (l == -1) None else Some(r.bytes(l))
            }
          case 'E' =>
            var code = ""; var msg = ""
            var f = r.byte()
            while (f != 0) {
              val v = r.cstr()
              if (f == 'C') code = v
              if (f == 'M') msg = v
              f = r.byte()
            }
            errs += ((code, msg))
          case 'Z' => done = true
          case _ => // ignore
        }
      }
      (fmts, rows.result(), errs.result())
    }

    def close(): Unit = { send('X', Array.empty); sock.close() }

    /** COPY … FROM STDIN: send the query, wait for CopyInResponse,
      * stream `data` as one CopyData, CopyDone, collect the rest. */
    def copyIn(sql: String, data: String): (Seq[String], Seq[Seq[Option[String]]], Seq[String], Seq[(String, String)]) = {
      send('Q', (sql + "\u0000").getBytes(UTF_8))
      var t = in.read().toChar
      while (t != 'G' && t != 'Z') {
        val len = in.readInt(); val p = new Array[Byte](len - 4); in.readFully(p)
        t = in.read().toChar
      }
      assert(t == 'G', "expected CopyInResponse")
      val len = in.readInt(); val p = new Array[Byte](len - 4); in.readFully(p)
      send('d', data.getBytes(UTF_8))
      send('c', Array.empty)
      collect()
    }
  }

  test("go-client flow: SSL probe, CREATE, INSERT from generate_series, SELECT") {
    val (_, port) = server
    val c = new Client(port)
    c.startup(withSslProbe = true)
    c.query("DROP TABLE IF EXISTS users")
    val (_, _, tag1, e1) = c.query("CREATE TABLE users(name string) USING parquet")
    assert(e1.isEmpty, e1)
    assert(tag1.head.startsWith("CREATE"))
    val (_, _, tag2, e2) = c.query(
      "INSERT INTO users select 'euiko' from generate_series(0, 10)")
    assert(e2.isEmpty, e2)
    assert(tag2.head == "INSERT 0 11")
    val (cols, rows, tag3, _) = c.query("SELECT * FROM users")
    assert(cols == Seq("name"))
    assert(rows.length == 11 && rows.forall(_ == Seq(Some("euiko"))))
    assert(tag3.head == "SELECT 11")
    c.query("DROP TABLE users")
    c.close()
  }

  test("CREATE and DROP tags name the object, not a modifier") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    def tagOf(sql: String): String = {
      val (_, _, tags, errs) = c.query(sql)
      assert(errs.isEmpty, errs); tags.head
    }
    c.query("DROP TABLE IF EXISTS tag_t")
    assert(tagOf("CREATE OR REPLACE TABLE tag_t AS SELECT 1 AS a") == "CREATE TABLE")
    assert(tagOf("CREATE TEMP TABLE tag_tt (a INT)") == "CREATE TABLE")
    assert(tagOf("CREATE TEMPORARY VIEW tag_v AS SELECT 1 AS a") == "CREATE VIEW")
    assert(tagOf("CREATE INDEX tag_i ON tag_t (a)") == "CREATE INDEX")
    assert(tagOf("DROP INDEX tag_i") == "DROP INDEX")
    // pg 15's tags for the statements whose keyword is not the tag
    assert(tagOf("TRUNCATE tag_t") == "TRUNCATE TABLE")
    assert(tagOf("ALTER TABLE tag_t RENAME COLUMN a TO b") == "ALTER TABLE")
    assert(tagOf("EXPLAIN SELECT 1") == "EXPLAIN")
    assert(tagOf("DEALLOCATE ALL") == "DEALLOCATE ALL")
    assert(tagOf("DROP VIEW tag_v") == "DROP VIEW")
    assert(tagOf("DROP TABLE tag_t") == "DROP TABLE")
    c.close()
  }

  test("DML RETURNING ships a row set plus the pg command tag") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    c.query("DROP TABLE IF EXISTS wret")
    c.query("CREATE TABLE wret(a int) USING parquet")
    val (cols1, rows1, tag1, e1) =
      c.query("INSERT INTO wret VALUES (1), (2) RETURNING a * 10 AS v")
    assert(e1.isEmpty, e1)
    assert(cols1 == Seq("v"))
    assert(rows1.map(_.head.get).sorted == Seq("10", "20"))
    assert(tag1.head == "INSERT 0 2")
    val (_, rows2, tag2, e2) =
      c.query("UPDATE wret SET a = a + 1 WHERE a = 1 RETURNING a")
    assert(e2.isEmpty, e2)
    assert(rows2 == Seq(Seq(Some("2"))) && tag2.head == "UPDATE 1")
    val (_, rows3, tag3, e3) = c.query("DELETE FROM wret RETURNING *")
    assert(e3.isEmpty, e3)
    assert(rows3.length == 2 && tag3.head == "DELETE 2")
    c.query("DROP TABLE wret")
    c.close()
  }

  test("INSERT ON CONFLICT upsert (DuckDB-probed session replay)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    c.query("DROP TABLE IF EXISTS upsert9")
    // PRIMARY KEY + bare VARCHAR ride the DDL constraint strip
    val (_, _, t0, e0) =
      c.query("CREATE TABLE upsert9 (k INT PRIMARY KEY, v VARCHAR)")
    assert(e0.isEmpty && t0.head.startsWith("CREATE"), (t0, e0))
    c.query("INSERT INTO upsert9 VALUES (1,'a'),(2,'b')")
    // DO NOTHING: count = rows actually inserted
    val (_, _, t1, e1) = c.query(
      "INSERT INTO upsert9 VALUES (2,'B2'),(3,'c') ON CONFLICT (k) DO NOTHING")
    assert(e1.isEmpty && t1.head == "INSERT 0 1", (t1, e1))
    val (_, r1, _, _) = c.query("SELECT k, v FROM upsert9 ORDER BY k")
    assert(r1 == Seq(Seq(Some("1"), Some("a")), Seq(Some("2"), Some("b")),
      Seq(Some("3"), Some("c"))), r1)
    // DO UPDATE: excluded.* references the incoming row; count = all
    // source rows (updated + inserted)
    val (_, _, t2, e2) = c.query("INSERT INTO upsert9 VALUES (3,'C3'),(4,'d') " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v || '!'")
    assert(e2.isEmpty && t2.head == "INSERT 0 2", (t2, e2))
    val (_, r2, _, _) = c.query("SELECT k, v FROM upsert9 ORDER BY k")
    assert(r2 == Seq(Seq(Some("1"), Some("a")), Seq(Some("2"), Some("b")),
      Seq(Some("3"), Some("C3!")), Seq(Some("4"), Some("d"))), r2)
    // duplicate key within the batch errors (probed contract)
    val (_, _, _, e3) = c.query("INSERT INTO upsert9 VALUES (9,'x'),(9,'y') " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v")
    assert(e3.nonEmpty, "batch-internal duplicate key must error")
    // omitted conflict target resolves through the RECORDED PRIMARY
    // KEY (the CREATE above declared one — stripped but recorded)
    val (_, _, t4, e4) = c.query(
      "INSERT INTO upsert9 VALUES (5,'e') ON CONFLICT DO NOTHING")
    assert(e4.isEmpty && t4.head == "INSERT 0 1", (t4, e4))
    // …and errors loudly when the table never declared one
    c.query("DROP TABLE IF EXISTS upsert9n")
    c.query("CREATE TABLE upsert9n (k INT, v VARCHAR)")
    val (_, _, _, e5) = c.query(
      "INSERT INTO upsert9n VALUES (5,'e') ON CONFLICT DO NOTHING")
    assert(e5.nonEmpty, "no recorded PK: omitted target must error")
    c.query("DROP TABLE upsert9n")
    c.query("DROP TABLE upsert9")
    c.close()
  }

  test("type coverage incl. reference's silently-dropped types") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (cols, rows, _, errs) = c.query(
      "SELECT true AS b, 1Y AS i1, 2S AS i2, 3 AS i4, 4L AS i8, " +
        "CAST(1.5 AS FLOAT) AS f4, 2.5D AS f8, 'str' AS s, " +
        "CAST(1.25 AS DECIMAL(10,2)) AS dec, DATE'2026-08-12' AS d, " +
        "TIMESTAMP'2026-08-12 01:02:03' AS ts, " +
        "CAST(NULL AS INT) AS nul, array(1,2,3) AS arr, " +
        "named_struct('a', 1) AS st, X'DEAD' AS bin")
    assert(errs.isEmpty, errs)
    assert(cols.length == 15, "no column may be dropped")
    val r = rows.head
    assert(r(0) == Some("t"))
    assert(r(5) == Some("1.5"))
    assert(r(8) == Some("1.25"))
    assert(r(9) == Some("2026-08-12"))
    assert(r(10) == Some("2026-08-12 01:02:03"))
    assert(r(11) == None)
    assert(r(12) == Some("{1,2,3}"))
    assert(r(14) == Some("\\xdead"))
    c.close()
  }

  test("TIME and INTERVAL values cross the wire (r9)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (cols, rows, _, errs) = c.query(
      "SELECT TIMETZ '04:05:06+02' AS t, " +
        "age(TIMESTAMP '2024-03-31 00:00:00', " +
        "TIMESTAMP '2024-01-31 00:00:00') AS iv")
    assert(errs.isEmpty, errs)
    assert(cols == Seq("t", "iv"))
    assert(rows.head(0) == Some("02:05:06")) // offset folded to UTC wall time
    assert(rows.head(1).exists(_.contains("2 months")), rows.head(1))
    c.close()
  }

  test("ENUM values cross the wire (reference drops ENUM columns)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (_, _, _, e0) = c.query("CREATE TYPE wmood AS ENUM ('sad', 'happy')")
    assert(e0.isEmpty, e0)
    val (cols, rows, _, errs) = c.query(
      "SELECT 'happy'::wmood AS m, enum_code('happy'::wmood) AS c, " +
        "enum_range(NULL::wmood) AS r")
    assert(errs.isEmpty, errs)
    assert(cols == Seq("m", "c", "r"))
    assert(rows.head(0) == Some("happy") && rows.head(1) == Some("1"))
    assert(rows.head(2) == Some("{sad,happy}"))
    val (_, _, _, e1) = c.query("DROP TYPE wmood")
    assert(e1.isEmpty, e1)
    c.close()
  }

  test("errors carry SQLSTATE and connection survives") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (_, _, _, errs) = c.query("SELEKT 1")
    assert(errs.nonEmpty && errs.head._1 == "42601", errs)
    val (_, _, _, errs2) = c.query("SELECT * FROM no_such_table_xyz")
    assert(errs2.nonEmpty && errs2.head._1 == "42P01", errs2)
    // connection still usable
    val (_, rows, _, e3) = c.query("SELECT 42 AS x")
    assert(e3.isEmpty && rows == Seq(Seq(Some("42"))))
    c.close()
  }

  test("session isolation: temp views are per-connection, catalog shared") {
    val (_, port) = server
    val c1 = new Client(port); c1.startup()
    val c2 = new Client(port); c2.startup()
    c1.query("CREATE TEMP VIEW my_temp AS SELECT 1 AS v")
    val (_, rows1, _, _) = c1.query("SELECT * FROM my_temp")
    assert(rows1 == Seq(Seq(Some("1"))))
    val (_, _, _, errs2) = c2.query("SELECT * FROM my_temp")
    assert(errs2.nonEmpty, "temp view must not leak across connections")
    // shared testdata catalog visible on both
    val (_, r1, _, _) = c1.query("SELECT count(*) AS n FROM region")
    val (_, r2, _, _) = c2.query("SELECT count(*) AS n FROM region")
    assert(r1 == r2 && r1 == Seq(Seq(Some("5"))))
    c1.close(); c2.close()
  }

  test("extended protocol: Parse/Bind/Describe/Execute/Sync") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    // Parse (unnamed), zero params
    val parse = cstr("") ++ cstr("SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 2") ++ Array[Byte](0, 0)
    c.send('P', parse)
    // Bind unnamed portal to unnamed statement, no params, no result formats
    c.send('B', cstr("") ++ cstr("") ++ Array[Byte](0, 0, 0, 0, 0, 0))
    // Describe portal
    c.send('D', Array[Byte]('P'.toByte) ++ cstr(""))
    // Execute, no row limit
    c.send('E', cstr("") ++ Array[Byte](0, 0, 0, 0))
    // Sync
    c.send('S', Array.empty)
    val (cols, rows, tags, errs) = c.collect()
    assert(errs.isEmpty, errs)
    assert(cols == Seq("n_nationkey"))
    assert(rows == Seq(Seq(Some("0")), Seq(Some("1"))))
    assert(tags.head == "SELECT 2")
    c.close()
  }

  test("extended protocol: Execute row limit suspends and resumes the portal") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    c.send('P', cstr("") ++
      cstr("SELECT n_nationkey FROM nation ORDER BY n_nationkey") ++
      Array[Byte](0, 0))
    c.send('B', cstr("") ++ cstr("") ++ Array[Byte](0, 0, 0, 0, 0, 0))
    // Execute with maxRows=10 → 10 rows + PortalSuspended
    c.send('E', cstr("") ++ Array[Byte](0, 0, 0, 10))
    // Execute again, no limit → remaining 15 rows + CommandComplete
    c.send('E', cstr("") ++ Array[Byte](0, 0, 0, 0))
    c.send('S', Array.empty)
    val (_, rows, tags, errs) = c.collect()
    assert(errs.isEmpty, errs)
    assert(rows.length == 25, s"10 + 15 rows expected, got ${rows.length}")
    assert(rows.map(_.head.get.toInt) == (0 until 25))
    assert(tags.nonEmpty && tags.last.startsWith("SELECT"), tags)
    c.close()
  }

  test("extended protocol: bind parameters (text, escaping, binary, NULL)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    def run(sql: String, oids: Seq[Int], params: Seq[(Int, Array[Byte])]) = {
      c.send('P', cstr("") ++ cstr(sql) ++ i16(oids.length) ++
        oids.toArray.flatMap(i32))
      val fmts = params.flatMap { case (f, _) => i16(f) }.toArray
      val vals = params.flatMap { case (_, d) =>
        if (d == null) i32(-1).toSeq else i32(d.length).toSeq ++ d.toSeq
      }.toArray
      c.send('B', cstr("") ++ cstr("") ++ i16(params.length) ++ fmts ++
        i16(params.length) ++ vals ++ i16(0))
      c.send('D', Array[Byte]('P'.toByte) ++ cstr(""))
      c.send('E', cstr("") ++ i32(0))
      c.send('S', Array.empty)
      c.collect()
    }
    // text-format int param, $1 referenced twice
    val (_, r1, _, e1) = run(
      "SELECT n_name FROM nation WHERE n_nationkey = $1 OR n_nationkey = $1 + 1 ORDER BY n_nationkey",
      Seq(23), Seq((0, "2".getBytes(UTF_8))))
    assert(e1.isEmpty, e1)
    assert(r1 == Seq(Seq(Some("NATION_2")), Seq(Some("NATION_3"))))
    // string param with a quote — must not break out of the literal
    val (_, r2, _, e2) = run("SELECT $1 AS s", Seq(25),
      Seq((0, "it's a $2 'test'".getBytes(UTF_8))))
    assert(e2.isEmpty, e2)
    assert(r2 == Seq(Seq(Some("it's a $2 'test'"))))
    // binary int4 + NULL text param
    val (_, r3, _, e3) = run("SELECT $1 + 1 AS n, $2 AS s", Seq(23, 25),
      Seq((1, Array[Byte](0, 0, 0, 41)), (0, null)))
    assert(e3.isEmpty, e3)
    assert(r3 == Seq(Seq(Some("42"), None)))
    // binary DATE (int4 days since 2000-01-01) and TIMESTAMP (int8
    // micros since 2000-01-01) params — pgjdbc binaryTransfer shapes
    def be(n: Int, x: Long) = (0 until n).map(i =>
      ((x >>> (8 * (n - 1 - i))) & 0xff).toByte).toArray
    val (_, rT, _, eT) = run(
      "SELECT CAST($1 AS VARCHAR) AS d, CAST($2 AS VARCHAR) AS t",
      Seq(1082, 1114),
      Seq((1, be(4, java.time.LocalDate.of(2024, 3, 15).toEpochDay - 10957L)),
        (1, be(8, 1577836800000000L + 500000L - 946684800000000L))))
    assert(eT.isEmpty, eT)
    assert(rT == Seq(Seq(Some("2024-03-15"), Some("2020-01-01 00:00:00.5"))), rT)
    // too few params → 08P01, connection survives
    val (_, _, _, e4) = run("SELECT n_name FROM nation WHERE n_nationkey = $1",
      Seq(23), Seq.empty)
    assert(e4.nonEmpty && e4.head._1 == "08P01", e4)
    // binary RESULT format for a fixed-width type now encodes (the
    // reference is text-only, cpp:136-164 — this exceeds parity)
    c.send('P', cstr("") ++ cstr("SELECT 1 AS v") ++ i16(0))
    c.send('B', cstr("") ++ cstr("") ++ i16(0) ++ i16(0) ++ i16(1) ++ i16(1))
    c.send('E', cstr("") ++ i32(0))
    c.send('S', Array.empty)
    val (_, r4b, e4b) = c.collectRaw()
    assert(e4b.isEmpty, e4b)
    assert(r4b.map(_.map(_.map(_.toSeq))) ==
      Seq(Seq(Some(Seq[Byte](0, 0, 0, 1)))), r4b)
    val (_, r5, _, e5) = c.query("SELECT 7 AS ok")
    assert(e5.isEmpty && r5 == Seq(Seq(Some("7"))))
    c.close()
  }

  test("binary result format: fixed-width encodings, mixed columns, errors") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    def run(sql: String, resFmts: Seq[Int]) = {
      c.send('P', cstr("") ++ cstr(sql) ++ i16(0))
      c.send('B', cstr("") ++ cstr("") ++ i16(0) ++ i16(0) ++
        i16(resFmts.length) ++ resFmts.flatMap(i16).toArray)
      c.send('D', Array[Byte]('P'.toByte) ++ cstr(""))
      c.send('E', cstr("") ++ i32(0))
      c.send('S', Array.empty)
      c.collectRaw()
    }
    // per-column codes: every fixed-width type binary, last one text —
    // psycopg3's mixed-format cursor shape
    val (fmts, rows, errs) = run(
      "SELECT CAST(7 AS INT) AS a, CAST(258 AS BIGINT) AS b, " +
        "CAST(3 AS SMALLINT) AS c, CAST(1.5 AS DOUBLE) AS d, " +
        "CAST(2.0 AS FLOAT) AS e, true AS f, CAST(NULL AS BIGINT) AS g, " +
        "CAST('hi' AS BINARY) AS h, 'txt' AS t",
      Seq(1, 1, 1, 1, 1, 1, 1, 1, 0))
    assert(errs.isEmpty, errs)
    // Describe(portal) advertises the Bind codes (statement describes
    // stay 0 per protocol)
    assert(fmts == Seq(1, 1, 1, 1, 1, 1, 1, 1, 0), fmts)
    val row = rows.head.map(_.map(_.toSeq))
    assert(row(0).contains(Seq[Byte](0, 0, 0, 7)))
    assert(row(1).contains(Seq[Byte](0, 0, 0, 0, 0, 0, 1, 2)))
    assert(row(2).contains(Seq[Byte](0, 3)))
    // IEEE-754 big-endian: 1.5d = 0x3FF8…, 2.0f = 0x40000000
    assert(row(3).contains(Seq[Byte](0x3f, 0xf8.toByte, 0, 0, 0, 0, 0, 0)))
    assert(row(4).contains(Seq[Byte](0x40, 0, 0, 0)))
    assert(row(5).contains(Seq[Byte](1)))
    assert(row(6).isEmpty, "binary NULL ships as -1 length")
    assert(row(7).contains("hi".getBytes(UTF_8).toSeq))
    assert(row(8).contains("txt".getBytes(UTF_8).toSeq))
    // ONE code applies to all columns (protocol shorthand)
    val (_, rows2, errs2) = run("SELECT CAST(-2 AS INT) AS a", Seq(1))
    assert(errs2.isEmpty, errs2)
    assert(rows2.head.head.map(_.toSeq)
      .contains(Seq[Byte](-1, -1, -1, -2)), rows2)
    // binary temporals: date = int4 days since 2000-01-01, timestamp =
    // int8 micros since 2000-01-01 (pg send formats)
    val (_, rowsT, errsT) = run(
      "SELECT DATE '2024-03-15' AS d, TIMESTAMP '2020-01-01 00:00:00' AS t",
      Seq(1, 1))
    assert(errsT.isEmpty, errsT)
    val dDays = java.time.LocalDate.of(2024, 3, 15).toEpochDay - 10957L
    def be(n: Int, x: Long) = (0 until n).map(i =>
      ((x >>> (8 * (n - 1 - i))) & 0xff).toByte)
    assert(rowsT.head(0).map(_.toSeq).contains(be(4, dDays)), rowsT)
    val tMicros = 1577836800000000L - 946684800000000L
    assert(rowsT.head(1).map(_.toSeq).contains(be(8, tMicros)), rowsT)
    // format 1 on a type with no binary encoder → loud 0A000 at
    // Execute, connection survives
    val (_, _, errs3) = run("SELECT 'nope' AS s", Seq(1))
    assert(errs3.nonEmpty && errs3.head._1 == "0A000", errs3)
    val (_, r5, _, e5) = c.query("SELECT 9 AS ok")
    assert(e5.isEmpty && r5 == Seq(Seq(Some("9"))))
    c.close()
  }

  test("extended protocol fuzz: arrays/structs/decimals round-trip (text+binary)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    def run(sql: String, oids: Seq[Int], params: Seq[(Int, Array[Byte])]) = {
      c.send('P', cstr("") ++ cstr(sql) ++ i16(oids.length) ++
        oids.toArray.flatMap(i32))
      val fmts = params.flatMap { case (f, _) => i16(f) }.toArray
      val vals = params.flatMap { case (_, d) =>
        if (d == null) i32(-1).toSeq else i32(d.length).toSeq ++ d.toSeq
      }.toArray
      c.send('B', cstr("") ++ cstr("") ++ i16(params.length) ++ fmts ++
        i16(params.length) ++ vals ++ i16(0))
      c.send('D', Array[Byte]('P'.toByte) ++ cstr(""))
      c.send('E', cstr("") ++ i32(0))
      c.send('S', Array.empty)
      c.collect()
    }
    // local inverse of the pg array text format (independent impl)
    def parsePgArray(s: String): Seq[String] = {
      assert(s.head == '{' && s.last == '}', s)
      val out = Seq.newBuilder[String]; val cur = new StringBuilder
      var i = 1; var inQ = false
      while (i < s.length - 1) {
        val ch = s(i)
        if (inQ) ch match {
          case '\\' => cur += s(i + 1); i += 1
          case '"' => inQ = false
          case o => cur += o
        } else ch match {
          case '"' => inQ = true
          case ',' => out += cur.toString; cur.clear()
          case o => cur += o
        }
        i += 1
      }
      if (cur.nonEmpty || s.length > 2) out += cur.toString
      out.result()
    }
    val rng = new scala.util.Random(42)
    val trickyChars = ",{}\"\\ '\ttab%_é好"
    def randStr() = (0 until 1 + rng.nextInt(8)).map { _ =>
      if (rng.nextInt(3) == 0) trickyChars(rng.nextInt(trickyChars.length))
      else ('a' + rng.nextInt(26)).toChar
    }.mkString
    for (_ <- 1 to 25) {
      // string array via two text params + a literal
      val (s1, s2) = (randStr(), randStr())
      val (_, r, _, e) = run("SELECT array($1, $2) AS a", Seq(25, 25),
        Seq((0, s1.getBytes(UTF_8)), (0, s2.getBytes(UTF_8))))
      assert(e.isEmpty, e)
      assert(parsePgArray(r.head.head.get) == Seq(s1, s2),
        s"array round-trip: ${r.head.head.get} vs ($s1, $s2)")
      // decimal arithmetic from a text param, fixed scale
      val bd = BigDecimal(rng.nextLong() % 100000000L, 4)
      val (_, r2, _, e2) = run(
        "SELECT CAST($1 AS DECIMAL(20,4)) * 2 AS d", Seq(1700),
        Seq((0, bd.toString.getBytes(UTF_8))))
      assert(e2.isEmpty, e2)
      assert(BigDecimal(r2.head.head.get) == bd * 2,
        s"decimal: ${r2.head.head.get} vs ${bd * 2}")
      // int array from binary int4 params
      val (n1, n2) = (rng.nextInt(), rng.nextInt())
      val (_, r3, _, e3) = run("SELECT array($1, $2, NULL) AS a", Seq(23, 23),
        Seq((1, i32(n1)), (1, i32(n2))))
      assert(e3.isEmpty, e3)
      assert(r3.head.head.get == s"{$n1,$n2,NULL}", r3)
      // struct of a bound int and a safe string
      val safe = (0 until 5).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      val (_, r4, _, e4) = run(
        s"SELECT named_struct('k', $$1 + 0, 's', '$safe') AS st", Seq(23),
        Seq((0, n1.toString.getBytes(UTF_8))))
      assert(e4.isEmpty, e4)
      assert(r4.head.head.get == s"""{"k": $n1, "s": "$safe"}""", r4)
    }
    c.close()
  }

  test("extended protocol: pipeline after an error is discarded until Sync") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    c.send('P', cstr("") ++ cstr("SELEKT nope") ++ Array[Byte](0, 0))
    c.send('B', cstr("") ++ cstr("") ++ Array[Byte](0, 0, 0, 0, 0, 0))
    c.send('E', cstr("") ++ Array[Byte](0, 0, 0, 0))
    c.send('S', Array.empty)
    val (_, _, _, errs) = c.collect()
    assert(errs.length == 1, s"exactly one error per failed pipeline: $errs")
    // the connection recovers for the next pipeline
    c.send('P', cstr("") ++ cstr("SELECT 5 AS v") ++ Array[Byte](0, 0))
    c.send('B', cstr("") ++ cstr("") ++ Array[Byte](0, 0, 0, 0, 0, 0))
    c.send('E', cstr("") ++ Array[Byte](0, 0, 0, 0))
    c.send('S', Array.empty)
    val (_, rows, _, e2) = c.collect()
    assert(e2.isEmpty && rows == Seq(Seq(Some("5"))), (rows, e2))
    c.close()
  }

  test("UPDATE and DELETE rewrite catalog tables copy-on-write") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    c.query("DROP TABLE IF EXISTS dml_t")
    c.query("CREATE TABLE dml_t(k INT, v INT) USING parquet")
    val (_, _, _, e0) = c.query(
      "INSERT INTO dml_t VALUES (1, 10), (2, 20), (3, 30)")
    assert(e0.isEmpty, e0)
    val (_, _, t1, e1) = c.query("UPDATE dml_t SET v = v * 10 WHERE k >= 2")
    assert(e1.isEmpty, e1)
    assert(t1.head == "UPDATE 2", t1)
    val (_, r2, _, _) = c.query("SELECT v FROM dml_t ORDER BY k")
    assert(r2 == Seq(Seq(Some("10")), Seq(Some("200")), Seq(Some("300"))), r2)
    val (_, _, t3, e3) = c.query("DELETE FROM dml_t WHERE v = 200")
    assert(e3.isEmpty, e3)
    assert(t3.head == "DELETE 1", t3)
    val (_, r4, _, _) = c.query("SELECT k FROM dml_t ORDER BY k")
    assert(r4 == Seq(Seq(Some("1")), Seq(Some("3"))), r4)
    // unknown column errors cleanly, table intact
    val (_, _, _, e5) = c.query("UPDATE dml_t SET nope = 1")
    assert(e5.nonEmpty)
    val (_, r6, _, _) = c.query("SELECT count(*) AS n FROM dml_t")
    assert(r6 == Seq(Seq(Some("2"))))
    c.query("DROP TABLE dml_t")
    c.close()
  }

  test("SQL-level PREPARE / EXECUTE / DEALLOCATE") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (_, _, t1, e1) = c.query("PREPARE add1 AS SELECT $1 + 1 AS n")
    assert(e1.isEmpty && t1.head == "PREPARE", (t1, e1))
    val (_, r2, _, e2) = c.query("EXECUTE add1(41)")
    assert(e2.isEmpty && r2 == Seq(Seq(Some("42"))), (r2, e2))
    c.query("PREPARE topn AS SELECT n_name FROM nation WHERE n_nationkey < $1 ORDER BY n_nationkey")
    val (_, r3, _, e3) = c.query("EXECUTE topn(2)")
    assert(e3.isEmpty && r3 == Seq(Seq(Some("NATION_0")), Seq(Some("NATION_1"))))
    val (_, _, t4, e4) = c.query("DEALLOCATE add1")
    assert(e4.isEmpty && t4.head == "DEALLOCATE")
    val (_, _, _, e5) = c.query("EXECUTE add1(1)")
    assert(e5.nonEmpty, "deallocated statement must error")
    // DuckDB's `?` placeholder spelling, auto-numbered left to right;
    // a '?' inside a string literal must survive untouched
    c.query("PREPARE q AS SELECT ? + ? AS s, '?' AS lit")
    val (_, r6, _, e6) = c.query("EXECUTE q(40, 2)")
    assert(e6.isEmpty && r6 == Seq(Seq(Some("42"), Some("?"))), (r6, e6))
    // ...and a '?' inside a COMMENT is not a parameter either
    c.query("PREPARE qc AS SELECT ? + 1 AS s -- right?")
    val (_, r7, _, e7) = c.query("EXECUTE qc(41)")
    assert(e7.isEmpty && r7 == Seq(Seq(Some("42"))), (r7, e7))
    c.close()
  }

  test("CancelRequest aborts a running query with 57014; connection survives") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    assert(c.backendPid != 0, "BackendKeyData must carry a real pid")
    // effectively-unbounded work: lineitem^3 (~2e11 rows) counted
    type R = (Seq[String], Seq[Seq[Option[String]]], Seq[String], Seq[(String, String)])
    val result = new java.util.concurrent.atomic.AtomicReference[R]()
    val qt = new Thread(() => result.set(c.query(
      "SELECT count(*) FROM lineitem a CROSS JOIN lineitem b CROSS JOIN lineitem d")))
    qt.start()
    Thread.sleep(2000) // let the job start
    val s2 = new java.net.Socket("127.0.0.1", port)
    val o2 = new java.io.DataOutputStream(s2.getOutputStream)
    o2.writeInt(16); o2.writeInt(80877102)
    o2.writeInt(c.backendPid); o2.writeInt(c.backendSecret)
    o2.flush(); s2.close()
    qt.join(60000)
    val r = result.get()
    assert(r != null, "query did not return after cancel")
    assert(r._4.nonEmpty && r._4.head._1 == "57014", r._4)
    val (_, rows, _, errs) = c.query("SELECT 1 AS x")
    assert(errs.isEmpty && rows == Seq(Seq(Some("1"))))
    c.close()
  }

  test("COPY TO exports through DataFrame writers") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val out = java.nio.file.Files.createTempDirectory("graft-copy").toString + "/r"
    val (_, _, tags, errs) = c.query(
      s"COPY (SELECT * FROM region) TO '$out' (FORMAT PARQUET)")
    assert(errs.isEmpty, errs)
    assert(tags.head == "COPY 5")
    val (_, rows, _, _) = c.query(
      s"SELECT count(*) AS n FROM parquet.`$out`")
    assert(rows == Seq(Seq(Some("5"))))
    c.close()
  }

  test("COPY FROM file round-trips what COPY TO exported") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val dir = java.nio.file.Files.createTempDirectory("graft-copyfrom").toString
    val (_, _, t0, e0) = c.query(
      "CREATE TABLE copy_rt (r_regionkey BIGINT, r_name STRING)")
    assert(e0.isEmpty, e0)
    val (_, _, t1, e1) = c.query(
      s"COPY (SELECT * FROM region) TO '$dir/csv' (FORMAT CSV, HEADER)")
    assert(e1.isEmpty, e1); assert(t1.head == "COPY 5")
    val (_, _, t2, e2) = c.query(
      s"COPY copy_rt FROM '$dir/csv' (FORMAT CSV, HEADER)")
    assert(e2.isEmpty, e2); assert(t2.head == "COPY 5")
    val (_, _, t3, e3) = c.query(
      s"COPY (SELECT * FROM region) TO '$dir/pq' (FORMAT PARQUET)")
    assert(e3.isEmpty, e3)
    val (_, _, t4, e4) = c.query(s"COPY copy_rt FROM '$dir/pq' (FORMAT PARQUET)")
    assert(e4.isEmpty, e4); assert(t4.head == "COPY 5")
    val (_, rows, _, _) = c.query("SELECT count(*) AS n FROM copy_rt")
    assert(rows == Seq(Seq(Some("10"))))
    c.query("DROP TABLE copy_rt")
    c.close()
  }

  test("COPY TO/FROM honors a custom DELIMITER (lowercase chars intact)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val dir = java.nio.file.Files.createTempDirectory("graft-copydelim").toString
    c.query("CREATE TABLE copy_dl (r_regionkey BIGINT, r_name STRING)")
    val (_, _, t1, e1) = c.query(
      s"COPY (SELECT * FROM region) TO '$dir/psv' (FORMAT CSV, HEADER, DELIMITER '|')")
    assert(e1.isEmpty, e1); assert(t1.head == "COPY 5")
    // the written file really is pipe-separated
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/psv"))
      .iterator()
    var sample = ""
    while (part.hasNext && sample.isEmpty) {
      val p = part.next()
      if (p.toString.endsWith(".csv"))
        sample = java.nio.file.Files.readAllLines(p).get(0)
    }
    assert(sample.contains("|"), s"expected pipe-separated header: $sample")
    val (_, _, t2, e2) = c.query(
      s"COPY copy_dl FROM '$dir/psv' (FORMAT CSV, HEADER, DELIMITER '|')")
    assert(e2.isEmpty, e2); assert(t2.head == "COPY 5")
    val (_, rows, _, _) = c.query(
      "SELECT r_name FROM copy_dl WHERE r_regionkey = 0")
    assert(rows == Seq(Seq(Some("AFRICA"))), rows.toString)
    c.query("DROP TABLE copy_dl")
    c.close()
  }

  test("adversarial values survive the wire: huge strings, wide rows, controls") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    // 1 MB string round-trips intact
    val (_, r1, _, e1) = c.query("SELECT repeat('x', 1048576) AS big")
    assert(e1.isEmpty, e1)
    assert(r1.head.head.get.length == 1048576)
    // 500-column row
    val cols500 = (1 to 500).map(i => s"$i AS c$i").mkString(", ")
    val (cs, r2, _, e2) = c.query(s"SELECT $cols500")
    assert(e2.isEmpty && cs.length == 500 && r2.head.length == 500)
    assert(r2.head.head == Some("1") && r2.head.last == Some("500"))
    // control chars, emoji, unicode aliases
    val (cs3, r3, _, e3) = c.query(
      "SELECT 'tab\\there' AS `col säger 🐥`, char(7) AS bell")
    assert(e3.isEmpty, e3)
    assert(cs3.head == "col säger 🐥")
    assert(r3.head.head.get.contains("tab"))
    // empty result set still describes columns
    val (cs4, r4, t4, e4) = c.query("SELECT 1 AS never WHERE false")
    assert(e4.isEmpty && cs4 == Seq("never") && r4.isEmpty &&
      t4.head == "SELECT 0")
    c.close()
  }

  test("concurrent INSERT/UPDATE writers do not lose rows (per-table lock)") {
    val (_, port) = server
    val c0 = new Client(port)
    c0.startup()
    val (_, _, _, e0) = c0.query(
      "CREATE TABLE dml_race (k INT, v INT) USING parquet")
    assert(e0.isEmpty, e0)
    // two writers: one appends 10-row batches, one rewrites v via
    // copy-on-write UPDATE. Without the per-table writer lock the
    // UPDATE snapshot races the appends and the last overwrite drops
    // freshly inserted rows.
    val inserter = new Thread(() => {
      val c = new Client(port); c.startup()
      (1 to 5).foreach { i =>
        val (_, _, _, e) = c.query(
          s"INSERT INTO dml_race SELECT range + ${i * 100}, 0 FROM range(10)")
        assert(e.isEmpty, e)
      }
      c.close()
    })
    val updater = new Thread(() => {
      val c = new Client(port); c.startup()
      (1 to 5).foreach { _ =>
        val (_, _, _, e) = c.query("UPDATE dml_race SET v = v + 1")
        assert(e.isEmpty, e)
      }
      c.close()
    })
    inserter.start(); updater.start()
    inserter.join(120000); updater.join(120000)
    val (_, rows, _, errs) =
      c0.query("SELECT count(*) AS n FROM dml_race")
    assert(errs.isEmpty, errs)
    assert(rows == Seq(Seq(Some("50"))),
      s"lost rows under concurrent writers: $rows")
    c0.query("DROP TABLE dml_race")
    c0.close()
  }

  test("SUMMARIZE statement over the wire") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (cols, rows, _, errs) = c.query("SUMMARIZE region")
    assert(errs.isEmpty, errs)
    assert(cols.take(4) == Seq("column_name", "column_type", "min", "max"))
    assert(rows.length == 2)
    assert(rows.map(_.head.get).toSet == Set("r_regionkey", "r_name"))
    c.close()
  }

  test("ATTACH / DETACH persistent database over the wire") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val dir = java.nio.file.Files.createTempDirectory("graft-wire-attach")
    val (_, _, _, e1) = c.query(s"ATTACH '$dir' AS wiredb")
    assert(e1.isEmpty, e1)
    val (_, _, _, e2) =
      c.query("CREATE TABLE wiredb.kv AS SELECT 'a' AS k, 1 AS v")
    assert(e2.isEmpty, e2)
    val (_, rows, _, e3) = c.query("SELECT k, v FROM wiredb.kv")
    assert(e3.isEmpty && rows == Seq(Seq(Some("a"), Some("1"))), (rows, e3))
    val (_, _, _, e4) = c.query("DETACH wiredb")
    assert(e4.isEmpty, e4)
    // data survived detach on disk
    assert(java.nio.file.Files.isDirectory(dir.resolve("kv")))
    c.close()
  }

  test("PRAGMA / CREATE MACRO / CREATE SEQUENCE over the wire") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (vc, vr, _, ve) = c.query("PRAGMA version")
    assert(ve.isEmpty && vc == Seq("library_version", "source_id") &&
      vr.head.head.get.contains("v1.1.1"), (vc, vr, ve))
    val (_, tr, _, te) = c.query("PRAGMA table_info('nation')")
    assert(te.isEmpty && tr.map(_(1).get) ==
      Seq("n_nationkey", "n_name", "n_regionkey"), (tr, te))
    val (_, _, _, me) = c.query(
      "CREATE MACRO wire_twice(x) AS x + x")
    assert(me.isEmpty, me)
    val (_, mr, _, me2) = c.query("SELECT wire_twice(21) AS v")
    assert(me2.isEmpty && mr == Seq(Seq(Some("42"))), (mr, me2))
    val (_, _, _, se) = c.query("CREATE SEQUENCE wire_seq START 100")
    assert(se.isEmpty, se)
    val (_, sr, _, se2) = c.query("SELECT nextval('wire_seq') AS v")
    assert(se2.isEmpty && sr == Seq(Seq(Some("100"))), (sr, se2))
    c.query("DROP MACRO wire_twice")
    c.query("DROP SEQUENCE wire_seq")
    // dynamic PIVOT returns rows over the wire
    val (pc, pr, _, pe) = c.query(
      "PIVOT (SELECT r_name, 1 AS one FROM region) ON r_name USING count(*)")
    assert(pe.isEmpty && pr.length == 1 && pc.length >= 3, (pc, pr, pe))
    c.close()
  }

  test("currval is scoped per connection (DuckDB semantics)") {
    val (_, port) = server
    val c1 = new Client(port)
    val c2 = new Client(port)
    c1.startup(); c2.startup()
    val (_, _, _, ce) = c1.query("CREATE SEQUENCE conn_seq START 10")
    assert(ce.isEmpty, ce)
    // interleave: c1 draws 10, c2 draws 11, c1 draws 12 — each
    // connection's currval is the last value IT drew, not the
    // engine-global last
    assert(c1.query("SELECT nextval('conn_seq') AS v")._2 ==
      Seq(Seq(Some("10"))))
    assert(c2.query("SELECT nextval('conn_seq') AS v")._2 ==
      Seq(Seq(Some("11"))))
    assert(c1.query("SELECT nextval('conn_seq') AS v")._2 ==
      Seq(Seq(Some("12"))))
    assert(c1.query("SELECT currval('conn_seq') AS c")._2 ==
      Seq(Seq(Some("12"))))
    assert(c2.query("SELECT currval('conn_seq') AS c")._2 ==
      Seq(Seq(Some("11"))))
    // a third connection that never called nextval gets the DuckDB
    // error, even though the engine has handed out values
    val c3 = new Client(port)
    c3.startup()
    val (_, _, _, e3) = c3.query("SELECT currval('conn_seq') AS c")
    assert(e3.exists(_._2.contains("before nextval")), e3)
    c1.query("DROP SEQUENCE conn_seq")
    c1.close(); c2.close(); c3.close()
  }

  test("SHOW pg session variables (pgjdbc connect probes)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (cols, rows, tags, errs) =
      c.query("SHOW TRANSACTION ISOLATION LEVEL")
    assert(errs.isEmpty, errs)
    assert(cols == Seq("transaction_isolation") &&
      rows == Seq(Seq(Some("read committed"))) && tags.head == "SHOW")
    val (_, r2, _, e2) = c.query("SHOW server_version")
    assert(e2.isEmpty && r2.head.head.get.startsWith("15.0"), r2)
    // Spark's own SHOW still reaches the engine
    val (_, _, _, e3) = c.query("SHOW TABLES")
    assert(e3.isEmpty, e3)
    c.close()
  }

  test("CREATE TEMP TABLE is session-scoped (pg semantics)") {
    val (_, port) = server
    val c1 = new Client(port)
    c1.startup()
    val (_, _, _, e1) = c1.query(
      "CREATE TEMP TABLE tt_scoped AS SELECT r_regionkey AS k FROM region")
    assert(e1.isEmpty, e1)
    val (_, r1, _, _) = c1.query("SELECT count(*) AS n FROM tt_scoped")
    assert(r1 == Seq(Seq(Some("5"))))
    // a second connection must NOT see it
    val c2 = new Client(port)
    c2.startup()
    val (_, _, _, e2) = c2.query("SELECT count(*) AS n FROM tt_scoped")
    assert(e2.nonEmpty && e2.head._1 == "42P01", e2)
    c1.close(); c2.close()
  }

  test("COPY TO STDOUT streams rows as CopyData (psql \\copy out flow)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    c.copyOut.clear()
    val (_, _, t1, e1) = c.query(
      "COPY (SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey) " +
        "TO STDOUT (FORMAT CSV, HEADER)")
    assert(e1.isEmpty, e1)
    assert(t1.head == "COPY 5")
    val lines = c.copyOut.mkString.split("\n").toSeq
    assert(lines.head == "r_regionkey,r_name", lines)
    assert(lines.length == 6 && lines(1).startsWith("0,"), lines)
    // pg text format default: tab-delimited
    c.copyOut.clear()
    val (_, _, t2, e2) = c.query("COPY region TO STDOUT")
    assert(e2.isEmpty, e2)
    assert(t2.head == "COPY 5")
    assert(c.copyOut.mkString.split("\n").head.contains("\t"))
    c.close()
  }

  test("COPY FROM STDIN accepts csv and pg text format (psql \\copy flow)") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (_, _, _, e0) = c.query(
      "CREATE TABLE copy_stdin (k BIGINT, name STRING, note STRING)")
    assert(e0.isEmpty, e0)
    // CSV with header, quoted field containing a comma
    val (_, _, t1, e1) = c.copyIn(
      "COPY copy_stdin FROM STDIN (FORMAT csv, HEADER)",
      "k,name,note\n0,AFRICA,\"hot, dry\"\n1,ASIA,big\n")
    assert(e1.isEmpty, e1); assert(t1.head == "COPY 2")
    // pg text format: tab-delimited, \N null (what bare psql \copy sends)
    val (_, _, t2, e2) = c.copyIn(
      "COPY copy_stdin FROM STDIN",
      "2\tEUROPE\t\\N\n")
    assert(e2.isEmpty, e2); assert(t2.head == "COPY 1")
    val (_, rows, _, _) = c.query(
      "SELECT count(*) AS n, count(note) AS notes, " +
        "max(CASE WHEN k = 0 THEN note END) AS quoted FROM copy_stdin")
    assert(rows == Seq(Seq(Some("3"), Some("2"), Some("hot, dry"))))
    // CopyFail path: server recovers and answers the next query
    val (_, _, _, e3) = c.query("SELECT 1 AS one")
    assert(e3.isEmpty, e3)
    c.query("DROP TABLE copy_stdin")
    c.close()
  }

  test("concurrent connections run queries without interference") {
    val (_, port) = server
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          val c = new Client(port)
          c.startup()
          var total = 0L
          for (_ <- 1 to 5) {
            val (_, rows, _, errs) = c.query(
              s"SELECT count(*) AS n FROM lineitem WHERE l_linenumber = $i")
            assert(errs.isEmpty, errs)
            total += rows.head.head.get.toLong
          }
          c.close()
          results.add(Right(total))
        } catch { case e: Throwable => results.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val rs = results.toArray(Array.empty[Either[Throwable, Long]])
    assert(rs.length == 4, s"only ${rs.length} threads finished")
    assert(rs.forall(_.isRight), rs.collectFirst { case Left(e) => e })
    assert(rs.collect { case Right(v) => v }.forall(_ > 0))
  }

  test("pg_catalog shim serves psql's \\d describe flow") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    // step 1: oid probe (psql 15 shape)
    val (cols1, rows1, _, e1) = c.query(
      """SELECT c.oid, n.nspname, c.relname
        |FROM pg_catalog.pg_class c
        |LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
        |WHERE c.relname OPERATOR(pg_catalog.~) '^(nation)$' COLLATE pg_catalog.default
        |  AND pg_catalog.pg_table_is_visible(c.oid) ORDER BY 2, 3""".stripMargin)
    assert(e1.isEmpty, e1)
    assert(cols1 == Seq("oid", "nspname", "relname") && rows1.length == 1)
    val oid = rows1.head.head.get
    // step 3: attribute listing for that oid
    val (_, rows3, _, e3) = c.query(
      s"SELECT a.attname, pg_catalog.format_type(a.atttypid, a.atttypmod) " +
        s"FROM pg_catalog.pg_attribute a WHERE a.attrelid = '$oid' " +
        "AND a.attnum > 0 AND NOT a.attisdropped ORDER BY a.attnum")
    assert(e3.isEmpty, e3)
    assert(rows3.map(_.head.get) ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    // relation listing (\dt shape)
    val (_, rowsL, _, eL) = c.query(
      "SELECT * FROM pg_catalog.pg_class WHERE relkind IN ('r','v')")
    assert(eL.isEmpty && rowsL.exists(_.lift(1).flatten.contains("nation")))
    c.close()
  }

  test("multi-statement simple query + compat functions") {
    val (_, port) = server
    val c = new Client(port)
    c.startup()
    val (_, rows, tags, errs) = c.query(
      "SELECT pg_is_in_recovery() AS r; SELECT duckdb_pgwire('Sam') AS g")
    assert(errs.isEmpty, errs)
    assert(rows == Seq(Seq(Some("f")), Seq(Some("DuckdbPgwire Sam 🐥"))))
    assert(tags == Seq("SELECT 1", "SELECT 1"))
    c.close()
  }
}
