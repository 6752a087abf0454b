package graft

import org.apache.spark.sql.Row

/** The parser seam classifies every statement, so plain `spark.sql` on
  * the engine's session takes the DuckDB and pg statement surface and
  * answers what `Engine.query` answers. */
class StatementSeamSpec extends SparkSpecBase {

  private def sql(text: String) = spark.sql(text)

  test("spark.sql runs the DuckDB-only statement kinds") {
    sql("DROP TABLE IF EXISTS seam_t")
    sql("CREATE TABLE seam_t (a INT) USING parquet")
    sql("INSERT INTO seam_t VALUES (1), (2), (3)")

    sql("CREATE OR REPLACE MACRO seam_m(x) AS x * 2")
    assert(sql("SELECT seam_m(21) AS v").collect().toSeq == Seq(Row(42)))
    sql("CREATE SEQUENCE seam_seq START 5")
    assert(sql("SELECT nextval('seam_seq') AS v").collect().head.getLong(0) == 5L)
    sql("COMMENT ON TABLE seam_t IS 'seam'")
    assert(Comments.get("table", "seam_t").contains("seam"))

    val summary = sql("SUMMARIZE seam_t")
    assert(summary.columns.take(4).toSeq ==
      Seq("column_name", "column_type", "min", "max"))
    assert(summary.collect().map(r => (r.getString(0), r.getString(3))).toSeq ==
      Seq(("a", "3")))
    assert(sql("PRAGMA version").collect().head.getString(0) == "v1.1.1 (graft)")
    assert(sql("DESCRIBE seam_t").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq == Seq(("a", "INTEGER")))

    val ret = sql("INSERT INTO seam_t VALUES (7) RETURNING a * 2 AS d")
    assert(ret.columns.toSeq == Seq("d") && ret.collect().toSeq == Seq(Row(14)))
    val truncated = sql("TRUNCATE seam_t")
    assert(truncated.columns.toSeq == Seq("Count") &&
      truncated.collect().toSeq == Seq(Row(4L)))
    assert(sql("SELECT count(*) FROM seam_t").collect().head.getLong(0) == 0L)

    // the pg session statements answer as the wire answers them
    assert(sql("BEGIN").columns.isEmpty)
    val tz = sql("SHOW TimeZone")
    assert(tz.columns.toSeq == Seq("TimeZone") && tz.collect().toSeq == Seq(Row("UTC")))

    sql("DROP MACRO seam_m"); sql("DROP SEQUENCE seam_seq"); sql("DROP TABLE seam_t")
  }

  test("a FROM-position statement leaves no view behind") {
    Engine.query(spark, "CREATE OR REPLACE TEMP VIEW seam_pv AS " +
      "SELECT * FROM (VALUES ('x', 1), ('y', 2), ('x', 3)) t(k, v)")
    val pivoted = Engine.query(spark,
      "SELECT * FROM (PIVOT seam_pv ON k USING sum(v)) p")
    assert(pivoted.columns.toSeq == Seq("x", "y") &&
      pivoted.collect().toSeq == Seq(Row(4L, 2L)))
    val names = Engine.query(spark, "SHOW TABLES").collect().map(_.getString(0))
    assert(!names.exists(_.startsWith("graft_pivot_sub_")), names.mkString(", "))
    assert(names.contains("seam_pv"))
    // a temp view over one keeps its plan, so it reads back
    Engine.query(spark, "CREATE OR REPLACE TEMP VIEW seam_pvv AS " +
      "SELECT * FROM (PIVOT seam_pv ON k USING sum(v)) p")
    assert(Engine.query(spark, "SELECT * FROM seam_pvv").collect().toSeq == Seq(Row(4L, 2L)))
    spark.catalog.dropTempView("seam_pvv")
    spark.catalog.dropTempView("seam_pv")
  }

  test("COPY to and from the socket runs only on the wire") {
    val e = intercept[UnsupportedOperationException](
      Engine.query(spark, "COPY (SELECT 1) TO STDOUT"))
    assert(e.getMessage.contains("wire"), e.getMessage)
  }
}
