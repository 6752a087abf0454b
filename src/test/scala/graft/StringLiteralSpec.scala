package graft

import org.apache.spark.sql.Row

import graft.server.PgWireServer

/** DuckDB string-literal semantics at the rewrite seam (SqlRewrites
  * escapeBackslashesInLiterals + rewriteEStrings). All values probed
  * on DuckDB v1.0: '...' is standard-conforming (backslash is DATA),
  * escapes live only in E'...'.
  */
class StringLiteralSpec extends SparkSpecBase {

  private def one(sql: String): Row =
    Engine.query(spark, sql).collect().head

  test("'...' keeps backslashes literal (standard-conforming)") {
    assert(one("SELECT 'a\\b' v").getString(0) == "a\\b")
    assert(one("SELECT 'a\\nb' v").getString(0) == "a\\nb")
    assert(one("SELECT length('\\')").getInt(0) == 1)
    // the regex consequence: '(\d+)' is a digit class, matches
    assert(one("SELECT regexp_extract('abc-123', '(\\d+)', 1) v")
      .getString(0) == "123")
    // '(\\d+)' is literal backslash-d, matches nothing
    assert(one("SELECT regexp_extract('abc-123', '(\\\\d+)', 1) v")
      .getString(0) == "")
  }

  test("E'...' decodes pg escapes") {
    assert(one("SELECT E'a\\nb' v").getString(0) == "a\nb")
    assert(one("SELECT E'a\\tb' v").getString(0) == "a\tb")
    assert(one("SELECT E'a\\x41b' v").getString(0) == "aAb")
    assert(one("SELECT E'a\\101b' v").getString(0) == "aAb")
    assert(one("SELECT E'a\\u0041b' v").getString(0) == "aAb")
    assert(one("SELECT E'a\\qb' v").getString(0) == "aqb") // unknown -> char
    assert(one("SELECT E'a\\\\b' v").getString(0) == "a\\b")
    assert(one("SELECT E'it\\'s' v").getString(0) == "it's")
    assert(one("SELECT E'it''s' v").getString(0) == "it's")
    assert(one("SELECT e'lower\\n' v").getString(0) == "lower\n")
  }

  test("the e' gate's false hit leaves statements alone") {
    assert(one("SELECT 'Pete' v, 'more' w").getString(0) == "Pete")
    // a typed literal whose keyword ends in E (DATE'..', TIME'..') is
    // NOT an E-prefix — the char before the E is an identifier char
    assert(one("SELECT DATE'2024-03-15' v").getDate(0).toString ==
      "2024-03-15")
    // and an E-string inside a comment stays text
    assert(one("SELECT 1 v -- E'\\n'").getInt(0) == 1)
  }

  test("a stored view reads its literals back as written") {
    // the view keeps the lowered text; reading it lowers nothing again.
    // `read` answers the column names and the first row; an unaliased
    // polymorphic call is named as DuckDB names it (`length(s)`)
    def check(read: String => (Seq[String], Seq[Option[String]]), v: String): Unit = {
      read(s"DROP VIEW IF EXISTS $v")
      read(s"CREATE VIEW $v AS SELECT 'a\\b' AS s, E'a\\\\b' AS e, 'x\\y' AS s2")
      assert(read(s"SELECT s, length(s), e, s2, len(e), reverse(s2) FROM $v") ==
        (Seq("s", "length(s)", "e", "s2", "len(e)", "reverse(s2)"),
          Seq(Some("a\\b"), Some("3"), Some("a\\b"), Some("x\\y"), Some("3"),
            Some("y\\x"))))
      read(s"DROP VIEW $v")
    }
    check(sql => {
      val df = Engine.query(spark, sql)
      (df.columns.toSeq, df.collect().headOption.toSeq
        .flatMap(_.toSeq.map(v => Option(v).map(_.toString))))
    }, "slv_lib")
    val server = new PgWireServer(spark, port = 0)
    val c = new WireClient(server.start())
    try check(sql => {
      val m = c.query(sql)
      assert(WireClient.errorFields(m).isEmpty, WireClient.errorFields(m))
      (WireClient.columns(m), WireClient.rows(m).headOption.toSeq.flatten)
    }, "slv_wire")
    finally { c.close(); server.stop() }
  }
}
