package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.server.{CopyIn, PgWireServer}

/** `COPY ... FROM STDIN` over the wire: pg CSV and text parsing across
  * CopyData boundaries, typing by ANSI casts from text, pg's errors and
  * SQLSTATEs, the shared append step (key probes, one file per COPY),
  * and text-format COPY TO STDOUT escaping read back in.
  */
class CopyInSpec extends SparkSpecBase {
  import WireClient._

  private lazy val port =
    new PgWireServer(spark, port = 0, Tables.registerAll(_, sfDir)).start()

  private def bytes(s: String) = s.getBytes(UTF_8)

  /** a fresh `k BIGINT, a DOUBLE, b VARCHAR, f BOOLEAN` table */
  private def probeTable(c: WireClient, name: String): Unit = {
    c.query(s"DROP TABLE IF EXISTS $name")
    assert(errorText(c.query(s"CREATE TABLE $name (k BIGINT, a DOUBLE, b VARCHAR, f BOOLEAN)")) == "")
  }

  private def all(c: WireClient, table: String) =
    rows(c.query(s"SELECT * FROM $table ORDER BY k"))

  private def copyState(m: Messages) = errorFields(m).get('C')

  test("each probed defect: bad values, missing and extra fields, quoted LF") {
    val c = new WireClient(port)
    probeTable(c, "cin_probe")
    val sql = "COPY cin_probe FROM STDIN (FORMAT csv)"
    val bad = c.copyIn(sql, Seq(bytes("x,1.5,a,true\n")))
    assert(copyState(bad).contains("22P02"), errorText(bad))
    assert(errorFields(bad)('M') == "invalid input syntax for type bigint: \"x\"")
    assert(errorFields(bad)('W') == "COPY cin_probe, line 1, column k: \"x\"")
    assert(tag(c.copyIn(sql, Seq(bytes("1,2.5,b,t\n")))) == Seq("COPY 1"))
    val short = c.copyIn(sql, Seq(bytes("2,3.5,c\n")))
    assert(copyState(short).contains("22P04"))
    assert(errorFields(short)('M') == "missing data for column \"f\"")
    val extra = c.copyIn(sql, Seq(bytes("3,4.5,d,false,extra\n")))
    assert(copyState(extra).contains("22P04"))
    assert(errorFields(extra)('M') == "extra data after last expected column")
    assert(tag(c.copyIn(sql, Seq(bytes("4,5.5,\"multi\nline\",true\n")))) == Seq("COPY 1"))
    assert(all(c, "cin_probe") == Seq(
      Seq(Some("1"), Some("2.5"), Some("b"), Some("t")),
      Seq(Some("4"), Some("5.5"), Some("multi\nline"), Some("t"))))
    c.query("DROP TABLE cin_probe")
    c.close()
  }

  // ------------------------------------------------------------ the parser

  /** every record the parser emits for `chunks`, fields decoded */
  private def parse(csv: Boolean, delim: Char, chunks: Seq[Array[Byte]]): Seq[Seq[Option[String]]] = {
    val out = Seq.newBuilder[Seq[Option[String]]]
    val p = new CopyIn.Parser(csv, delim.toByte, "COPY t", p =>
      out += (0 until p.fields).map(i =>
        if (p.nulls(i)) None
        else Some(new String(p.buf, p.starts(i), p.ends(i) - p.starts(i), UTF_8))))
    chunks.foreach(p.feed)
    p.finish()
    out.result()
  }

  private val csvPayload = bytes(
    "k,b\r\n1,plain\r\n2,\"quo\"\"ted, with \r\nbreaks\"\n3,\n4,\"\"\n5,\"\"\"\"\n" +
      "6,mid\"quoted,part\"x\n7,日本語 😀\n\\.\nignored,after the end marker\n")
  private val csvRecords = Seq(
    Seq(Some("k"), Some("b")), Seq(Some("1"), Some("plain")),
    Seq(Some("2"), Some("quo\"ted, with \r\nbreaks")), Seq(Some("3"), None),
    Seq(Some("4"), Some("")), Seq(Some("5"), Some("\"")),
    Seq(Some("6"), Some("midquoted,partx")), Seq(Some("7"), Some("日本語 😀")))

  private val textPayload = bytes(
    "1\t\\N\n2\t\n3\ta\\tb\\nc\\rd\\\\e\\bf\\fg\\vh\n4\t\\101\\x42\\x4a\\7x\\q\\\t\n" +
      "5\t\\Nx\\\\N\r\n6\t\\xzz\r7\tlast")
  private val textRecords = Seq(
    Seq(Some("1"), None), Seq(Some("2"), Some("")),
    Seq(Some("3"), Some("a\tb\nc\rd\\e\bf\fg\u000bh")),
    Seq(Some("4"), Some("ABJ\u0007xq\t")), Seq(Some("5"), Some("Nx\\N")),
    Seq(Some("6"), Some("xzz")), Seq(Some("7"), Some("last")))

  test("the same records for any split of the payload into CopyData messages") {
    for ((csv, payload, want) <- Seq((true, csvPayload, csvRecords), (false, textPayload, textRecords))) {
      val delim = if (csv) ',' else '\t'
      assert(parse(csv, delim, Seq(payload)) == want, s"csv=$csv")
      for (at <- 0 to payload.length)
        assert(parse(csv, delim, Seq(payload.take(at), payload.drop(at))) == want, s"csv=$csv split at $at")
      assert(parse(csv, delim, payload.toSeq.map(b => Array(b))) == want, s"csv=$csv one byte each")
    }
    assert(parse(true, '|', Seq(bytes("a|\"b|c\"|\n\\.|x\n"))) ==
      Seq(Seq(Some("a"), Some("b|c"), None), Seq(Some("\\."), Some("x"))))
    val open = intercept[CopyIn.Failure](parse(true, ',', Seq(bytes("1,\"never closed\n"))))
    assert(open.sqlState == "22P04")
  }

  test("one-byte CopyData messages load the same table as one message") {
    val c = new WireClient(port)
    val payload = bytes("1,1.5,\"a,b\",true\r\n2,,\"\",f\n3,-0.25,\"x\ny\",\n")
    for (t <- Seq("cin_whole", "cin_bytes")) probeTable(c, t)
    val sql = "COPY %s FROM STDIN (FORMAT csv)"
    assert(tag(c.copyIn(sql.format("cin_whole"), Seq(payload))) == Seq("COPY 3"))
    assert(tag(c.copyIn(sql.format("cin_bytes"), payload.toSeq.map(b => Array(b)))) == Seq("COPY 3"))
    assert(all(c, "cin_bytes") == all(c, "cin_whole"))
    assert(all(c, "cin_whole") == Seq(
      Seq(Some("1"), Some("1.5"), Some("a,b"), Some("t")),
      Seq(Some("2"), None, Some(""), Some("f")),
      Seq(Some("3"), Some("-0.25"), Some("x\ny"), None)))
    for (t <- Seq("cin_whole", "cin_bytes")) c.query(s"DROP TABLE $t")
    c.close()
  }

  test("HEADER, DELIMITER / DELIM, CRLF, the end marker, text escapes, NULL vs ''") {
    val c = new WireClient(port)
    probeTable(c, "cin_opts")
    assert(tag(c.copyIn("COPY cin_opts FROM STDIN (FORMAT csv, HEADER, DELIMITER '|')",
      Seq(bytes("k|a|b|f\r\n1|0.5|x,y|yes\r\n2|||no\r\n\\.\r\n")))) == Seq("COPY 2"))
    assert(tag(c.copyIn("COPY cin_opts FROM STDIN (FORMAT csv, DELIM ';')",
      Seq(bytes("3;1e3;\"\";1\n")))) == Seq("COPY 1"))
    assert(tag(c.copyIn("COPY cin_opts FROM STDIN",
      Seq(bytes("4\t\\N\ttab\\there\\\\\tt\n5\t2\t\\N\t\\N\n\\.\n")))) == Seq("COPY 2"))
    assert(tag(c.copyIn("COPY cin_opts FROM STDIN WITH DELIMITER ','",
      Seq(bytes("6,3,a\\,b,false\n")))) == Seq("COPY 1"))
    assert(all(c, "cin_opts") == Seq(
      Seq(Some("1"), Some("0.5"), Some("x,y"), Some("t")),
      Seq(Some("2"), None, None, Some("f")),
      Seq(Some("3"), Some("1000"), Some(""), Some("t")),
      Seq(Some("4"), None, Some("tab\there\\"), Some("t")),
      Seq(Some("5"), Some("2"), None, None),
      Seq(Some("6"), Some("3"), Some("a,b"), Some("f"))))
    for (d <- Seq("'||'", "'§'", "''")) {
      val m = c.query(s"COPY cin_opts FROM STDIN (FORMAT csv, DELIMITER $d)")
      assert(copyState(m).contains("0A000"), s"delimiter $d: ${errorText(m)}")
      assert(errorText(c.query(s"COPY cin_opts TO STDOUT (DELIMITER $d)")).contains("one-byte"))
    }
    c.query("DROP TABLE cin_opts")
    c.close()
  }

  test("invalid UTF-8 is 22021; after any error or CopyFail nothing lands and the session goes on") {
    val c = new WireClient(port)
    probeTable(c, "cin_err")
    val sql = "COPY cin_err FROM STDIN (FORMAT csv)"
    assert(tag(c.copyIn(sql, Seq(bytes("1,1,a,t\n")))) == Seq("COPY 1"))
    val good = bytes("2,2,b,t\n3,3,c,f\n")
    val invalid = Array(0x34, 0x2c, 0x31, 0x2c, 0xC3, 0x28, 0x2c, 0x74, 0x0a).map(_.toByte)
    val failures = Seq(
      "22021" -> c.copyIn(sql, Seq(good, invalid)),
      "22021" -> c.copyIn("COPY cin_err FROM STDIN", Seq(bytes("2\t2\tb\tt\n5\t1\t\\xff\tt\n"))),
      "22P02" -> c.copyIn(sql, Seq(good, bytes("6,NaNx,d,t\n"))),
      "22P02" -> c.copyIn(sql, Seq(good, bytes("7,1,e,maybe\n"))),
      "22P04" -> c.copyIn(sql, Seq(good, bytes("8,1,\"open\n"))),
      "22P04" -> c.copyIn(sql, Seq(good, bytes("\n"))))
    for ((state, m) <- failures) {
      assert(copyState(m).contains(state), errorText(m))
      assert(m.last._1 == 'Z' && tag(m).isEmpty)
    }
    val failed = c.copyIn(sql, Seq(good), fail = Some("client gave up"))
    assert(errorText(failed).contains("client gave up") && failed.last._1 == 'Z')
    assert(rows(c.query("SELECT count(*) FROM cin_err")) == Seq(Seq(Some("1"))))
    assert(tag(c.query("SELECT 1")) == Seq("SELECT 1"))
    assert(tag(c.copyIn(sql, Seq(good))) == Seq("COPY 2"))
    c.query("DROP TABLE cin_err")
    c.close()
  }

  test("an out-of-range integer is 22003, a malformed one 22P02, as pg reports them") {
    val c = new WireClient(port)
    c.query("DROP TABLE IF EXISTS cin_range")
    assert(errorText(c.query("CREATE TABLE cin_range (s SMALLINT, i INTEGER, b BIGINT)")) == "")
    val sql = "COPY cin_range FROM STDIN (FORMAT csv)"
    val cases = Seq(
      ("40000,1,1", "22003", "value \"40000\" is out of range for type smallint", "s", "40000"),
      ("1,-2147483649,1", "22003", "value \"-2147483649\" is out of range for type integer", "i", "-2147483649"),
      ("1,1,+9223372036854775808", "22003",
        "value \"+9223372036854775808\" is out of range for type bigint", "b", "+9223372036854775808"),
      ("1,1.5,1", "22P02", "invalid input syntax for type integer: \"1.5\"", "i", "1.5"),
      ("1,1,12x", "22P02", "invalid input syntax for type bigint: \"12x\"", "b", "12x"))
    for ((record, state, msg, column, value) <- cases) {
      val m = c.copyIn(sql, Seq(bytes(s"1,2,3\n$record\n")))
      assert(copyState(m).contains(state), s"$record: ${errorText(m)}")
      assert(errorFields(m)('M') == msg)
      assert(errorFields(m)('W') == s"""COPY cin_range, line 2, column $column: "$value"""")
    }
    assert(tag(c.copyIn(sql, Seq(bytes("-32768,2147483647,-9223372036854775808\n")))) == Seq("COPY 1"))
    assert(rows(c.query("SELECT * FROM cin_range")) ==
      Seq(Seq(Some("-32768"), Some("2147483647"), Some("-9223372036854775808"))))
    c.query("DROP TABLE cin_range")
    c.close()
  }

  test("STDIN COPY rejects duplicate keys as INSERT does") {
    val c = new WireClient(port)
    c.query("DROP TABLE IF EXISTS cin_pk")
    assert(errorText(c.query("CREATE TABLE cin_pk (k BIGINT PRIMARY KEY, v VARCHAR)")) == "")
    val sql = "COPY cin_pk FROM STDIN (FORMAT csv)"
    assert(tag(c.copyIn(sql, Seq(bytes("1,a\n2,b\n")))) == Seq("COPY 2"))
    val existing = c.copyIn(sql, Seq(bytes("3,c\n1,again\n")))
    assert(errorText(existing).contains("Duplicate key"), errorText(existing))
    val inBatch = c.copyIn(sql, Seq(bytes("4,d\n4,dd\n")))
    assert(errorText(inBatch).contains("duplicate key"), errorText(inBatch))
    assert(rows(c.query("SELECT count(*) FROM cin_pk")) == Seq(Seq(Some("2"))))
    c.query("DROP TABLE cin_pk")
    c.close()
  }

  test("text and CSV COPY TO STDOUT then FROM STDIN reproduce lineitem, orders, events and hard strings") {
    val c = new WireClient(port)
    c.query("DROP TABLE IF EXISTS cin_strings")
    c.query("CREATE TABLE cin_strings USING parquet AS SELECT * FROM VALUES " +
      "(1, concat('tab', chr(9), 'here'), concat('back', chr(92), 'slash')), " +
      "(2, concat('cr', chr(13), 'lf', chr(10)), concat(chr(92), 'N')), (3, '', NULL), " +
      "(4, concat('bs', chr(8), 'ff', chr(12), 'vt', chr(11)), 'a,b\"c'), " +
      "(5, '日本語', '|pipe|') AS t(k, s, u)")
    for (src <- Seq("lineitem", "orders", "events", "cin_strings");
         (fmt, opts) <- Seq("text" -> "", "text|" -> "(DELIMITER '|')", "csv" -> "(FORMAT csv)")) {
      val t = s"cin_rt_$src"
      c.query(s"DROP TABLE IF EXISTS $t")
      assert(errorText(c.query(s"CREATE TABLE $t USING parquet AS SELECT * FROM $src LIMIT 0")) == "")
      val out = c.query(s"COPY $src TO STDOUT $opts")
      val data = out.collect { case ('d', p) => p }
      val n = tag(out).head.stripPrefix("COPY ").toInt
      assert(n > 0 && data.length == n, s"$src $fmt")
      val in = c.copyIn(s"COPY $t FROM STDIN $opts", data)
      assert(tag(in) == Seq(s"COPY $n"), s"$src $fmt: ${errorText(in)}")
      val diff = rows(c.query(s"SELECT (SELECT count(*) FROM (SELECT * FROM $src EXCEPT ALL " +
        s"SELECT * FROM $t)) + (SELECT count(*) FROM (SELECT * FROM $t EXCEPT ALL SELECT * FROM $src))"))
      assert(diff == Seq(Seq(Some("0"))), s"$src $fmt")
      c.query(s"DROP TABLE $t")
    }
    val escaped = c.query("COPY (SELECT s, u FROM cin_strings WHERE k <= 2 ORDER BY k) TO STDOUT")
    assert(escaped.collect { case ('d', p) => new String(p, UTF_8) } ==
      Seq("tab\\there\tback\\\\slash\n", "cr\\rlf\\n\t\\\\N\n"))
    c.query("DROP TABLE cin_strings")
    c.close()
  }

  test("a 20k-row COPY adds one file to the table") {
    val c = new WireClient(port)
    probeTable(c, "cin_files")
    val data = bytes((0 until 20000).map(i => s"$i,${i * 0.5},w$i,${i % 2 == 0}\n").mkString)
    val sql = "COPY cin_files FROM STDIN (FORMAT csv)"
    assert(tag(c.copyIn(sql, Seq(data))) == Seq("COPY 20000"))
    spark.catalog.refreshTable("cin_files")
    val before = spark.table("cin_files").inputFiles.length
    assert(tag(c.copyIn(sql, data.grouped(65536).toSeq)) == Seq("COPY 20000"))
    spark.catalog.refreshTable("cin_files")
    assert(spark.table("cin_files").inputFiles.length == before + 1)
    assert(rows(c.query("SELECT count(*), count(DISTINCT k), sum(k) FROM cin_files")) ==
      Seq(Seq(Some("40000"), Some("20000"), Some((2L * 19999 * 20000 / 2).toString))))
    c.query("DROP TABLE cin_files")
    c.close()
  }
}
