package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.server.PgWireServer
import WireClient.{Messages, errorFields, rows, tag}

/** The extended query protocol runs each statement once, through the
  * dispatch simple query uses: Parse only stores, Describe runs no
  * effect, Execute runs the statement. One shared server; each test
  * opens its own connections and tables. */
class ExtendedProtocolSpec extends SparkSpecBase {

  private lazy val port =
    new PgWireServer(spark, port = 0, Tables.registerAll(_, sfDir)).start()

  private def withClient[A](f: WireClient => A): A = {
    val c = new WireClient(port)
    try f(c) finally c.close()
  }

  private def types(m: Messages): String = m.map(_._1).mkString
  private def ok(m: Messages): Messages = {
    assert(!m.exists(_._1 == 'E'), errorFields(m)); m
  }
  private def count(c: WireClient, table: String): String =
    rows(ok(c.query(s"SELECT count(*) FROM $table"))).head.head.get

  /** the statement run through a named statement: Parse, then
    * Bind/Describe(portal)/Execute of that name */
  private def named(c: WireClient, name: String, sql: String): Messages = {
    c.parse(name, sql); c.bind("", name); c.describe('P', ""); c.execute("")
    c.sync()
  }

  test("a DML statement runs once, unnamed and named") {
    withClient { c =>
      for ((run, t) <- Seq[(String => Messages, String)](
          (c.extended(_), "ep_u"), (named(c, "ins", _), "ep_n"))) {
        ok(c.query(s"DROP TABLE IF EXISTS $t; CREATE TABLE $t (a INT) USING parquet"))
        assert(tag(ok(run(s"INSERT INTO $t VALUES (1)"))) == Seq("INSERT 0 1"))
        assert(count(c, t) == "1")
        val ret = ok(run(s"INSERT INTO $t VALUES (7) RETURNING a"))
        assert(types(ret) == "12TDCZ", types(ret))
        assert(rows(ret) == Seq(Seq(Some("7"))) && tag(ret) == Seq("INSERT 0 1"))
        assert(count(c, t) == "2")
        ok(c.query(s"DROP TABLE $t"))
      }
    }
  }

  test("Describe of a statement that is never executed writes nothing") {
    withClient { c =>
      ok(c.query("DROP TABLE IF EXISTS ep_d; CREATE TABLE ep_d (a INT) USING parquet"))
      for (name <- Seq("", "ins_d")) {
        c.parse(name, "INSERT INTO ep_d VALUES ($1) RETURNING a", 23)
        c.describe('S', name)
        val m = ok(c.sync())
        // ParameterDescription with one parameter, then the row shape
        assert(types(m) == "1tTZ", types(m))
        assert(new String(m(2)._2, UTF_8).startsWith("\u0000\u0001a\u0000"))
      }
      c.parse("", "DELETE FROM ep_d")
      c.describe('S', "")
      assert(types(ok(c.sync())) == "1tnZ")
      assert(count(c, "ep_d") == "0")
      // bound and executed, the statement runs once
      c.bind("", "ins_d", Seq(Some("5"))); c.describe('P', ""); c.execute("")
      val m = ok(c.sync())
      assert(rows(m) == Seq(Seq(Some("5"))) && tag(m) == Seq("INSERT 0 1"))
      assert(count(c, "ep_d") == "1")
      ok(c.query("DROP TABLE ep_d"))
    }
  }

  test("Describe of each command kind runs nothing") {
    withClient { c =>
      ok(c.query("DROP TABLE IF EXISTS ep_k; CREATE TABLE ep_k (a INT) USING parquet; " +
        "INSERT INTO ep_k VALUES (1), (2); PREPARE ep_keep AS SELECT 1 AS v"))
      val out = java.nio.file.Files.createTempDirectory("ep-copy").resolve("out.csv")
      val commands = Seq(
        "CREATE TABLE ep_new (a INT) USING parquet",
        "CREATE TABLE ep_ctas AS SELECT 1 AS a",
        "DROP TABLE ep_k",
        "TRUNCATE ep_k",
        "INSERT INTO ep_k VALUES (9)",
        "UPDATE ep_k SET a = 0",
        "DELETE FROM ep_k",
        "ALTER TABLE ep_k RENAME COLUMN a TO b",
        "CREATE MACRO ep_m(x) AS x + 1",
        "CREATE SEQUENCE ep_seq",
        "CREATE TYPE ep_mood AS ENUM ('sad', 'ok')",
        "COMMENT ON TABLE ep_k IS 'described'",
        "PREPARE ep_p AS SELECT 2 AS v",
        "DEALLOCATE ALL",
        "SET TimeZone TO 'Asia/Tokyo'",
        "SET VARIABLE ep_var = 5",
        s"COPY ep_k TO '$out' (FORMAT CSV)",
        "COPY ep_k FROM STDIN")
      for (sql <- commands) {
        c.parse("", sql); c.describe('S', "")
        assert(types(ok(c.sync())) == "1tnZ", sql)
      }
      c.parse("", "DELETE FROM ep_k RETURNING a"); c.describe('S', "")
      val ret = ok(c.sync())
      assert(types(ret) == "1tTZ" && WireClient.columns(ret) == Seq("a"))
      // the catalog, the registries, the prepared store and the conf
      // are as they were
      assert(rows(ok(c.query("SELECT a FROM ep_k ORDER BY a"))) ==
        Seq(Seq(Some("1")), Seq(Some("2"))))
      for (t <- Seq("ep_new", "ep_ctas"))
        assert(!spark.catalog.tableExists(t), t)
      assert(Macros.expand("SELECT ep_m(1)") == "SELECT ep_m(1)")
      assert(!Sequences.list().exists(_._1 == "ep_seq"))
      assert(!EnumTypes.isDefined("ep_mood"))
      assert(Comments.get("table", "ep_k").isEmpty)
      assert(!java.nio.file.Files.exists(out))
      assert(rows(ok(c.query("EXECUTE ep_keep"))) == Seq(Seq(Some("1"))))
      assert(errorFields(c.query("EXECUTE ep_p")).get('M').exists(_.contains("does not exist")))
      assert(rows(ok(c.query("SHOW TimeZone"))) == Seq(Seq(Some("UTC"))))
      assert(rows(ok(c.query("SELECT getvariable('ep_var') IS NULL"))) ==
        Seq(Seq(Some("t"))))
      ok(c.query("DROP TABLE ep_k"))
    }
  }

  test("transaction verbs, SET and SHOW work over Parse") {
    withClient { c =>
      for (v <- Seq("BEGIN", "COMMIT", "ROLLBACK"))
        assert(tag(ok(c.extended(v))) == Seq(v))
      assert(tag(ok(c.extended("SET TimeZone TO 'Asia/Tokyo'"))) == Seq("SET"))
      val show = ok(named(c, "tz", "SHOW TimeZone"))
      assert(rows(show) == Seq(Seq(Some("Asia/Tokyo"))) && tag(show) == Seq("SHOW"))
      assert(rows(ok(c.extended("SHOW TRANSACTION ISOLATION LEVEL"))) ==
        Seq(Seq(Some("read committed"))))
    }
  }

  test("placeholders in comments and strings are not parameters") {
    withClient { c =>
      val m = ok(c.extended("SELECT 1 AS v -- $1"))
      assert(rows(m) == Seq(Seq(Some("1"))))
      val e = ok(c.extended("""SELECT E'it\'s $1' AS s, '?' AS q /* $2 */"""))
      assert(rows(e) == Seq(Seq(Some("it's $1"), Some("?"))))
      val p = ok(c.extended("SELECT $1 || ' $2' AS s", Seq(Some("a'b"))))
      assert(rows(p) == Seq(Seq(Some("a'b $2"))))
    }
  }

  test("SQL-level PREPARE binds each argument as one expression") {
    withClient { c =>
      ok(c.query("PREPARE p AS SELECT $1 * 2 AS v"))
      assert(rows(ok(c.query("EXECUTE p(1+1)"))) == Seq(Seq(Some("4"))))
      ok(c.query("PREPARE r AS SELECT len($1) AS v, $2 AS w"))
      assert(rows(ok(c.query("EXECUTE r([1,2,3], 5)"))) == Seq(Seq(Some("3"), Some("5"))))
      // EXECUTE itself over the extended protocol, and a statement
      // PREPAREd in SQL bound by name over the protocol: one store
      assert(rows(ok(c.extended("EXECUTE p(20)"))) == Seq(Seq(Some("40"))))
      ok(c.query("PREPARE pu AS SELECT upper($1) AS u"))
      c.bind("", "pu", Seq(Some("ab"))); c.execute("")
      assert(rows(ok(c.sync())) == Seq(Seq(Some("AB"))))
      ok(c.query("DEALLOCATE ALL"))
      assert(errorFields(c.query("EXECUTE p(1)")).get('M').exists(_.contains("does not exist")))
    }
  }

  test("CREATE, UPDATE, DELETE and DROP answer what simple query answers") {
    withClient { c =>
      def script(t: String) = Seq(
        s"CREATE TABLE $t (k INT, v INT) USING parquet",
        s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30)",
        s"UPDATE $t SET v = v + 1 WHERE k >= 2",
        s"DELETE FROM $t WHERE k <> 2",
        s"SELECT k, v FROM $t ORDER BY k")
      ok(c.query("DROP TABLE IF EXISTS ep_s; DROP TABLE IF EXISTS ep_e"))
      val simple = script("ep_s").map(sql => ok(c.query(sql)))
      val ext = script("ep_e").map(sql => ok(c.extended(sql)))
      assert(ext.map(tag) == simple.map(tag))
      assert(simple.map(tag).flatten ==
        Seq("CREATE TABLE", "INSERT 0 3", "UPDATE 2", "DELETE 2", "SELECT 1"))
      assert(rows(ext.last) == Seq(Seq(Some("2"), Some("21"))))
      assert(tag(ok(c.extended("DROP TABLE ep_e"))) == tag(ok(c.query("DROP TABLE ep_s"))))
      assert(errorFields(c.query("SELECT * FROM ep_e")).get('C').contains("42P01"))
    }
  }

  test("a named SELECT sees the rows inserted between its executions") {
    withClient { c =>
      ok(c.query("DROP TABLE IF EXISTS ep_r; CREATE TABLE ep_r (a INT) USING parquet"))
      c.parse("cnt", "SELECT count(*) AS n FROM ep_r")
      assert(types(ok(c.sync())) == "1Z")
      val seen = (0 until 3).map { i =>
        if (i > 0) ok(c.extended(s"INSERT INTO ep_r VALUES ($i)"))
        c.bind("", "cnt"); c.execute("")
        rows(ok(c.sync())).head.head.get
      }
      assert(seen == Seq("0", "1", "2"))
      ok(c.query("DROP TABLE ep_r"))
    }
  }

  test("a maxRows portal over SHOW or RETURNING suspends and resumes") {
    withClient { c =>
      c.parse("", "SHOW TABLES"); c.bind("", ""); c.describe('P', "")
      c.execute("", 3); c.execute("", 0)
      val show = ok(c.sync())
      assert(types(show).startsWith("12TDDDs"), types(show))
      assert(rows(show).length >= Tables.names.length)
      ok(c.query("DROP TABLE IF EXISTS ep_m; CREATE TABLE ep_m (a INT) USING parquet"))
      c.parse("", "INSERT INTO ep_m VALUES (1), (2), (3) RETURNING a")
      c.bind("", ""); c.describe('P', ""); c.execute("", 2); c.execute("", 2)
      val ret = ok(c.sync())
      assert(types(ret) == "12TDDsDCZ", types(ret))
      assert(rows(ret).flatten.flatten.sorted == Seq("1", "2", "3"))
      assert(tag(ret) == Seq("INSERT 0 1")) // rows of the last Execute, as pg
      assert(count(c, "ep_m") == "3")
      ok(c.query("DROP TABLE ep_m"))
    }
  }

  test("an analysis error arrives once, at Describe, and the pipeline recovers") {
    withClient { c =>
      c.parse("", "SELECT nope FROM nation")
      c.bind("", ""); c.describe('P', ""); c.execute("")
      val m = c.sync()
      assert(types(m) == "12EZ", types(m))
      assert(errorFields(m).get('C').contains("42703"))
      assert(rows(ok(c.extended("SELECT 5 AS v"))) == Seq(Seq(Some("5"))))
    }
  }

  test("PREPARE and SET VARIABLE names are per connection and end with it") {
    val before = Engine.sessionStates
    val (a, b) = (new WireClient(port), new WireClient(port))
    for ((c, v) <- Seq(a -> "1", b -> "2")) {
      ok(c.query(s"SET VARIABLE ep_v = $v"))
      ok(c.query(s"PREPARE ep_q AS SELECT $v + $$1 AS x"))
    }
    for ((c, v) <- Seq(a -> "1", b -> "2")) {
      assert(rows(ok(c.query("SELECT getvariable('ep_v') AS v"))) == Seq(Seq(Some(v))))
      assert(rows(ok(c.query("EXECUTE ep_q(10)"))) == Seq(Seq(Some(s"1$v"))))
    }
    a.close(); b.close()
    val deadline = System.nanoTime() + 10000000000L
    while (Engine.sessionStates > before && System.nanoTime() < deadline) Thread.sleep(20)
    assert(Engine.sessionStates <= before)
  }

  test("a missing statement or portal answers pg's SQLSTATE") {
    withClient { c =>
      def state(m: Messages) = errorFields(m).get('C')
      assert(state(c.query("EXECUTE nope(1)")).contains("26000"))
      c.bind("", "nope")
      assert(state(c.sync()).contains("26000"))
      c.describe('S', "nope")
      assert(state(c.sync()).contains("26000"))
      c.execute("nope")
      assert(state(c.sync()).contains("34000"))
      assert(rows(ok(c.extended("SELECT 5 AS v"))) == Seq(Seq(Some("5"))))
    }
  }

  test("a connection's currval slots end with it") {
    withClient(c => ok(c.query("CREATE SEQUENCE IF NOT EXISTS ep_seq")))
    val before = Sequences.lastValSlots
    for (_ <- 1 to 20) withClient(c => ok(c.query("SELECT nextval('ep_seq')")))
    val deadline = System.nanoTime() + 10000000000L
    while (Sequences.lastValSlots > before && System.nanoTime() < deadline) Thread.sleep(20)
    assert(Sequences.lastValSlots <= before)
    withClient(c => ok(c.query("DROP SEQUENCE ep_seq")))
  }

  test("sessions share one table plan, and each renders events.ts in its own zone") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    def scan(s: org.apache.spark.sql.SparkSession) =
      Tables.load(s, sfDir, "nation").queryExecution.analyzed.collectLeaves().head
    assert(scan(s1) eq scan(s2))
    val sql = "SELECT CAST(ts AS VARCHAR) AS ts FROM events ORDER BY event_id LIMIT 1"
    val utc = withClient(c => rows(ok(c.query(sql))).head.head.get)
    val tokyo = withClient { c =>
      ok(c.query("SET TimeZone TO 'Asia/Tokyo'"))
      rows(ok(c.query(sql))).head.head.get
    }
    def at(s: String) = java.time.LocalDateTime.parse(s.take(19).replace(' ', 'T'))
    assert(at(tokyo) == at(utc).plusHours(9), (utc, tokyo))
  }
}
