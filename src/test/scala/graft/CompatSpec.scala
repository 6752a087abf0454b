package graft

import org.apache.spark.sql.functions._

/** Ports of the reference's own tests + compat surface.
  * Golden values from /root/reference/test/sql/duckdb_pgwire.test:15-18
  * and src/duckdb_pgwire_extension.cpp:190-202.
  */
class CompatSpec extends SparkSpecBase {

  test("duckdb_pgwire('Sam') golden output (reference test port)") {
    Functions.registerAll(spark)
    val got = spark.sql("SELECT duckdb_pgwire('Sam') AS g").collect().head.getString(0)
    assert(got == "DuckdbPgwire Sam 🐥")
  }

  test("pg_is_in_recovery() is false") {
    Functions.registerAll(spark)
    assert(!spark.sql("SELECT pg_is_in_recovery() AS r").collect().head.getBoolean(0))
  }

  test("generate_series table-function rewrite (inclusive bounds)") {
    // mirrors client/go/cmd/simple/main.go:27 — 0..10 → 11 rows
    val n = Engine.query(spark,
      "select count(*) as n from generate_series(0, 10)")
      .collect().head.getLong(0)
    assert(n == 11)
    // README.md:54 smoke: select * from generate_series(0, 100)
    val rows = Engine.query(spark,
      "select * from generate_series(0, 100) s").count()
    assert(rows == 101)
  }

  test("recursive CTE fixpoint: sum(1..100)") {
    val s = spark
    import s.implicits._
    val series = RecursiveCte.unionAll(Seq(1L).toDF("n"),
      prev => prev.filter(col("n") < 100).select((col("n") + 1).as("n")))
    val r = series.agg(sum("n"), count(lit(1))).collect().head
    assert(r.getLong(0) == 5050L && r.getLong(1) == 100L)
  }

  test("star REPLACE / ASOF JOIN / reader TVF rewrites") {
    // * REPLACE keeps the column set, substitutes the expression
    val r = SqlRewrites.rewriteFull(
      "SELECT * REPLACE (upper(r_name) AS r_name) FROM region")
    assert(r.contains("* EXCEPT (r_name)") &&
      r.contains("(upper(r_name)) AS r_name"), r)
    // ASOF LEFT JOIN → interval join (lead + range filter), no LATERAL
    val a = SqlRewrites.rewriteFull(
      "SELECT e.id, o.ts FROM ev e ASOF LEFT JOIN ord o " +
        "ON e.k = o.k AND e.ts >= o.ts ORDER BY e.id")
    assert(a.contains("LEFT JOIN (SELECT o.*, lead(o.ts) OVER " +
      "(PARTITION BY o.k ORDER BY o.ts NULLS LAST)"), a)
    assert(a.contains("AND (e.ts < o.__asof_nb OR o.__asof_nb IS NULL)"), a)
    // forward ASOF (strict) uses lag with the dual filter
    val f = SqlRewrites.rewriteFull(
      "SELECT * FROM ev e ASOF JOIN ord o ON e.k = o.k AND e.ts < o.ts")
    assert(f.contains("lag(o.ts) OVER") && f.contains("e.ts >= o.__asof_nb"), f)
    // the successor helper stays out of the select list's stars
    assert(f.startsWith("SELECT * EXCEPT (o.__asof_nb) FROM"), f)
    val dr = SqlRewrites.rewriteFull("SELECT DISTINCT e.*, o.* EXCLUDE (k) " +
      "FROM ev e ASOF JOIN ord o ON e.k = o.k AND e.ts >= o.ts")
    assert(dr.contains("e.*, o.* EXCEPT (__asof_nb, k)"), dr)
    // parenthesized ON clause still splits into key + inequality
    val par = SqlRewrites.rewriteFull(
      "SELECT * FROM ev e ASOF JOIN ord o ON (e.k = o.k AND e.ts >= o.ts)")
    assert(par.contains("PARTITION BY o.k") && par.contains("lead(o.ts)"), par)
    // valid Spark SQL without the sugar passes through untouched
    val plain = "SELECT a FROM t JOIN u ON t.k = u.k AND t.x >= u.x"
    assert(SqlRewrites.rewriteFull(plain) == plain)
  }

  test("reader TVFs resolve through Engine.query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tvf").toString
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "g")
      .write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    Seq((10L, "x"), (20L, "y")).toDF("n", "s")
      .write.mode("overwrite").json(s"$dir/j")
    val csvN = Engine.query(spark,
      s"SELECT count(*) AS n, sum(k) AS sk FROM read_csv_auto('$dir/c')")
      .collect().head
    assert(csvN.getLong(0) == 3 && csvN.getLong(1) == 6)
    val jsonN = Engine.query(spark,
      s"SELECT sum(n) AS sn FROM read_json('$dir/j')")
      .collect().head.getLong(0)
    assert(jsonN == 30)
    // DuckDB's auto/ndjson spellings are the same NDJSON reader
    for (tvf <- Seq("read_json_auto", "read_ndjson", "read_ndjson_auto")) {
      val v = Engine.query(spark,
        s"SELECT sum(n) AS sn FROM $tvf('$dir/j')")
        .collect().head.getLong(0)
      assert(v == 30, tvf)
    }
  }

  test("library-level DML: UPDATE/DELETE/upsert through Engine.query") {
    def q(s: String) = Engine.query(spark, s)
    q("DROP TABLE IF EXISTS dml9")
    q("DROP TABLE IF EXISTS dml9src")
    q("CREATE TABLE dml9 (k INT, v VARCHAR)")
    q("INSERT INTO dml9 VALUES (1,'a'),(2,'b'),(3,'c')")
    // plain UPDATE returns a DuckDB-style Count
    assert(q("UPDATE dml9 SET v = 'B' WHERE k = 2")
      .collect().head.getLong(0) == 1L)
    // upsert through the library entry
    assert(q("INSERT INTO dml9 VALUES (3,'C!'),(4,'d') " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v")
      .collect().head.getLong(0) == 2L)
    assert(q("SELECT v FROM dml9 ORDER BY k").collect().map(_.getString(0))
      .toSeq == Seq("a", "B", "C!", "d"))
    // UPDATE ... FROM: source columns in SET, loud on ambiguity
    q("CREATE TABLE dml9src (k INT, nv VARCHAR)")
    q("INSERT INTO dml9src VALUES (1,'A1'),(4,'D4')")
    assert(q("UPDATE dml9 SET v = dml9src.nv FROM dml9src " +
      "WHERE dml9.k = dml9src.k").collect().head.getLong(0) == 2L)
    assert(q("SELECT v FROM dml9 ORDER BY k").collect().map(_.getString(0))
      .toSeq == Seq("A1", "B", "C!", "D4"))
    q("INSERT INTO dml9src VALUES (1,'A1-dup')")
    intercept[Exception](q("UPDATE dml9 SET v = dml9src.nv FROM dml9src " +
      "WHERE dml9.k = dml9src.k").collect())
    // DELETE ... USING (EXISTS semantics)
    assert(q("DELETE FROM dml9 USING dml9src " +
      "WHERE dml9.k = dml9src.k").collect().head.getLong(0) == 2L)
    assert(q("SELECT k FROM dml9 ORDER BY k").collect().map(_.getInt(0))
      .toSeq == Seq(2, 3))
    q("DROP TABLE dml9")
    q("DROP TABLE dml9src")
  }

  test("recorded PRIMARY KEY: OR REPLACE / OR IGNORE / bare ON CONFLICT") {
    // exact replay of the DuckDB probe session (counts + row states)
    def q(s: String) = Engine.query(spark, s)
    q("DROP TABLE IF EXISTS dmlpk")
    q("CREATE TABLE dmlpk (k INT PRIMARY KEY, v VARCHAR, w INT)")
    q("INSERT INTO dmlpk VALUES (1,'a',10),(2,'b',20)")
    assert(q("INSERT OR REPLACE INTO dmlpk VALUES (2,'B2',99),(3,'c',30)")
      .collect().head.getLong(0) == 2L)
    assert(q("SELECT * FROM dmlpk ORDER BY k").collect().map(_.toSeq).toSeq
      == Seq(Seq(1, "a", 10), Seq(2, "B2", 99), Seq(3, "c", 30)))
    assert(q("INSERT OR IGNORE INTO dmlpk VALUES (3,'X',0),(4,'d',40)")
      .collect().head.getLong(0) == 1L)
    // bare ON CONFLICT resolves through the recorded PK; only SET
    // columns change (probed: w stays)
    assert(q("INSERT INTO dmlpk VALUES (4,'D!',44) " +
      "ON CONFLICT DO UPDATE SET v = excluded.v")
      .collect().head.getLong(0) == 1L)
    assert(q("SELECT * FROM dmlpk WHERE k = 4").collect().head.toSeq
      == Seq(4, "D!", 40))
    // column-list insert: missing column arrives NULL (probed)
    q("INSERT INTO dmlpk (v, k) VALUES ('q', 9) ON CONFLICT DO NOTHING")
    assert(q("SELECT * FROM dmlpk WHERE k = 9").collect().head.toSeq
      == Seq(9, "q", null))
    // review-pass pins: bare target column in SET (struct-packed
    // excluded side keeps it unambiguous)
    assert(q("INSERT INTO dmlpk VALUES (1,'ig',0) " +
      "ON CONFLICT (k) DO UPDATE SET v = v || '+'")
      .collect().head.getLong(0) == 1L)
    assert(q("SELECT v FROM dmlpk WHERE k = 1").collect().head
      .getString(0) == "a+")
    // PRIMARY KEY implies NOT NULL (probed on 1.0: both the plain
    // insert and the upsert refuse a NULL key with the same message)
    val nullKey = intercept[IllegalArgumentException](
      q("INSERT INTO dmlpk VALUES (NULL, 'old', 1)"))
    assert(nullKey.getMessage ==
      "Constraint Error: NOT NULL constraint failed: dmlpk.k")
    val nullKeyUp = intercept[IllegalArgumentException](
      q("INSERT INTO dmlpk VALUES (NULL, 'new', 2) " +
        "ON CONFLICT (k) DO UPDATE SET v = excluded.v"))
    assert(nullKeyUp.getMessage ==
      "Constraint Error: NOT NULL constraint failed: dmlpk.k")
    // DROP clears the record: a PK-less re-create must refuse bare forms
    q("DROP TABLE dmlpk")
    q("CREATE TABLE dmlpk (k INT, v VARCHAR)")
    intercept[Exception](
      q("INSERT OR IGNORE INTO dmlpk VALUES (1,'z')").collect())
    q("DROP TABLE dmlpk")
  }

  test("PK record hardening: qualified lookups, quoted literals, DML guards") {
    def q(s: String) = Engine.query(spark, s)
    // (1) the suffix fallback serves only UNQUALIFIED lookups — a
    // qualified name must not borrow a same-named table's PK
    TableConstraints.recordPk("s.pkht", Seq("k"))
    assert(TableConstraints.pkOf("pkht").contains(Seq("k")))
    assert(TableConstraints.pkOf("r.pkht").isEmpty,
      "qualified lookup must require an exact record")
    TableConstraints.clear("s.pkht")
    // (2) 'primary key' inside a string literal / comment records nothing
    SqlRewrites.recordPrimaryKey(
      "CREATE TABLE pkq (k INT, v VARCHAR DEFAULT 'primary key')")
    assert(TableConstraints.pkOf("pkq").isEmpty,
      "quoted literal must not record a PK")
    SqlRewrites.recordPrimaryKey(
      "CREATE TABLE pkq2 (k INT, -- PRIMARY KEY\n v VARCHAR)")
    assert(TableConstraints.pkOf("pkq2").isEmpty,
      "comment must not record a PK")
    SqlRewrites.recordPrimaryKey(
      "CREATE TABLE pkq3 (k INT PRIMARY KEY, v VARCHAR DEFAULT 'x')")
    assert(TableConstraints.pkOf("pkq3").contains(Seq("k")))
    TableConstraints.clear("pkq3")
    // (3) unsupported DML shapes fail with an actionable message, not
    // a MatchError or a downstream parse error
    q("DROP TABLE IF EXISTS dmlg")
    q("CREATE TABLE dmlg (k INT, v VARCHAR)")
    q("INSERT INTO dmlg VALUES (1,'a')")
    val eU = intercept[IllegalArgumentException](
      q("UPDATE dmlg SET v = 'x' FROM dmlg src"))
    assert(eU.getMessage.contains("UPDATE ... FROM"))
    val eD = intercept[IllegalArgumentException](
      q("DELETE FROM dmlg USING a, b WHERE dmlg.k = a.k"))
    assert(eD.getMessage.contains("DELETE ... USING"))
    // a subquery FROM inside SET still routes through the plain arm
    assert(q("UPDATE dmlg SET v = (SELECT 'z' FROM range(1)) WHERE k = 1")
      .collect().head.getLong(0) == 1L)
    assert(q("SELECT v FROM dmlg").collect().head.getString(0) == "z")
    q("DROP TABLE dmlg")
  }

  test("DELETE USING: flat-join scoping errors on ambiguous columns") {
    def q(s: String) = Engine.query(spark, s)
    q("DROP TABLE IF EXISTS delu")
    q("DROP TABLE IF EXISTS delusrc")
    q("CREATE TABLE delu (k INT, v VARCHAR)")
    q("CREATE TABLE delusrc (k INT)")
    q("INSERT INTO delu VALUES (1,'a'),(2,'b'),(3,'c')")
    q("INSERT INTO delusrc VALUES (2)")
    // a bare column that exists on BOTH sides must error (pg does),
    // NOT silently bind to the USING side and delete everything
    intercept[Exception](
      q("DELETE FROM delu USING delusrc WHERE k = delusrc.k").collect())
    assert(q("SELECT count(*) AS n FROM delu").collect().head
      .getLong(0) == 3L, "ambiguous predicate must not delete rows")
    assert(q("DELETE FROM delu USING delusrc WHERE delu.k = delusrc.k")
      .collect().head.getLong(0) == 1L)
    assert(q("SELECT k FROM delu ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    q("DROP TABLE delu")
    q("DROP TABLE delusrc")
  }

  test("approx_count_distinct within 5% of exact (no_oracle row bound)") {
    val li = Tables.load(spark, sfDir, "lineitem")
    import org.apache.spark.sql.functions._
    val exact = li.select(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey")))
      .collect()(0).getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err <= 0.05, s"HLL err $err (exact=$exact approx=$approx)")
  }

  test("SUMMARIZE statement: per-column stats in one pass") {
    Tables.registerAll(spark, sfDir)
    val got = Engine.query(spark, "SUMMARIZE region").collect()
    assert(got.length == 2) // r_regionkey, r_name
    val byName = got.map(r => r.getString(0) -> r).toMap
    val key = byName("r_regionkey")
    assert(key.getString(2) == "0" && key.getString(3) == "4") // min/max
    assert(key.getLong(10) == 5L && key.getDouble(11) == 0.0) // count, null%
    assert(key.getDouble(5) == 2.0) // avg of 0..4
    val name = byName("r_name")
    assert(name.getString(2) == "AFRICA") // min string
    assert(name.isNullAt(5)) // no avg for strings
    // SUMMARIZE over a subquery, through the same statement surface
    val sub = Engine.query(spark,
      "SUMMARIZE SELECT o_totalprice FROM orders").collect()
    assert(sub.length == 1 && sub(0).getString(0) == "o_totalprice")
    assert(sub(0).getDouble(5) > 0.0) // avg present
  }

  test("USING SAMPLE rewrites to TABLESAMPLE (percent and rows)") {
    Tables.registerAll(spark, sfDir)
    // 100% sample must be the whole table (sampling RNG can't shrink it)
    val all = Engine.query(spark,
      "SELECT count(*) AS n FROM (SELECT * FROM nation USING SAMPLE 100%)")
      .collect().head.getLong(0)
    assert(all == 25L)
    // row-count sample is exact in Spark's TABLESAMPLE (n ROWS)
    val ten = Engine.query(spark,
      "SELECT count(*) AS n FROM (SELECT * FROM nation USING SAMPLE 10 ROWS)")
      .collect().head.getLong(0)
    assert(ten == 10L)
    // bare number defaults to rows, like DuckDB
    val five = Engine.query(spark,
      "SELECT count(*) AS n FROM (SELECT * FROM nation USING SAMPLE 5)")
      .collect().head.getLong(0)
    assert(five == 5L)
  }

  test("DISTINCT ON falls back untouched inside subqueries (loud failure)") {
    // top-level works (oracle q_distinct_on); a subquery DISTINCT ON
    // must raise an analysis error, not silently produce wrong rows
    Tables.registerAll(spark, sfDir)
    val thrown = intercept[Exception] {
      Engine.query(spark,
        """SELECT * FROM (SELECT DISTINCT ON (n_regionkey) n_regionkey,
          |n_name FROM nation ORDER BY n_regionkey, n_name) t""".stripMargin)
        .collect()
    }
    assert(thrown != null)
  }

  test("POSITIONAL JOIN pairs rows by index, pads the shorter side") {
    val s = spark
    import s.implicits._
    val a = Seq("x", "y", "z").toDF("l").coalesce(1)
    val b = Seq(10, 20).toDF("r").coalesce(1)
    val got = RelationalOps.positionalJoin(a, b).collect()
      .map(r => (Option(r.getString(0)), Option(r.get(1)))).toSeq
    assert(got == Seq((Some("x"), Some(10)), (Some("y"), Some(20)),
      (Some("z"), None)))
    // the SQL lowering's row-number helpers reach no view or table
    val pj = "SELECT * FROM (VALUES (1),(2)) a(x) POSITIONAL JOIN (VALUES (3)) b(y)"
    assertNoHelpers(Seq("pj_v" -> s"CREATE VIEW pj_v AS $pj",
      "pj_t" -> s"CREATE TABLE pj_t AS $pj"), Seq("x", "y"), "x",
      Seq(Seq(1, 3), Seq(2, null)))
  }

  test("POSITIONAL JOIN in a subquery, and under its sides' own names") {
    // duckdb 1.0.0 answers each of these
    def rows(sql: String) = Engine.query(spark, sql).collect()
      .map(r => (r.get(0), r.get(1))).toSeq.sortBy(_._1.toString)
    assert(rows("SELECT * FROM (SELECT * FROM (VALUES (1)) a(x) " +
      "POSITIONAL JOIN (VALUES (2)) b(y)) s") == Seq((1, 2)))
    assert(rows("SELECT a.x, b.y FROM (VALUES (1)) a(x) " +
      "POSITIONAL JOIN (VALUES (2)) b(y)") == Seq((1, 2)))
    assert(rows("SELECT a.x, b.y FROM (VALUES (1),(3)) a(x) " +
      "POSITIONAL JOIN (VALUES (2)) b(y)") == Seq((1, 2), (3, null)))
  }

  /** each (name, DDL) creates `name` over a lowered join; `SELECT *`
    * from it shows exactly `cols`, and `rows` ordered by `key` */
  private def assertNoHelpers(ddl: Seq[(String, String)], cols: Seq[String],
      key: String, rows: Seq[Seq[Any]]): Unit =
    for ((name, create) <- ddl) {
      val kind = if (create.contains(" VIEW ")) "VIEW" else "TABLE"
      Engine.query(spark, s"DROP $kind IF EXISTS $name")
      Engine.query(spark, create)
      val df = Engine.query(spark, s"SELECT * FROM $name ORDER BY $key")
      assert(df.columns.toSeq == cols, s"$name: ${df.columns.mkString(",")}")
      assert(df.collect().map(_.toSeq).toSeq == rows, name)
      Engine.query(spark, s"DROP $kind $name")
    }

  test("CREATE OR REPLACE TABLE drops and recreates (v1 catalog)") {
    Engine.query(spark, "CREATE OR REPLACE TABLE cort AS SELECT 1 AS x")
    assert(Engine.query(spark, "SELECT x FROM cort")
      .collect().head.getInt(0) == 1)
    Engine.query(spark, "CREATE OR REPLACE TABLE cort AS SELECT 2 AS x")
    assert(Engine.query(spark, "SELECT x FROM cort")
      .collect().head.getInt(0) == 2)
    Engine.query(spark, "DROP TABLE cort")
  }

  test("asof join: backward pick of most recent right row") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 1L, 100L), (2L, 1L, 205L), (3L, 2L, 50L))
      .toDF("event_id", "key", "t")
    val right = Seq((1L, 90L, "a"), (1L, 200L, "b"), (1L, 300L, "c"),
      (2L, 60L, "d")).toDF("rkey", "rt", "val")
    val got = AsOfJoin.backward(left, right, "key", "rkey", "t", "rt",
        Seq("val"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.getString(3)))).toSeq
    assert(got == Seq((1L, Some("a")), (2L, Some("b")), (3L, None)))
    // over SQL, the successor helper reaches no view or table
    Engine.query(spark, "DROP TABLE IF EXISTS asof_tr")
    Engine.query(spark, "CREATE TABLE asof_tr AS " +
      "SELECT * FROM (VALUES (90, 'a'), (200, 'b')) v(t, v)")
    val aj = "SELECT * FROM (VALUES (100), (205), (50)) l(lt) " +
      "ASOF JOIN asof_tr ON l.lt >= asof_tr.t"
    val ajr = "SELECT l.*, r.* FROM (VALUES (100), (205), (50)) l(lt) " +
      "ASOF JOIN asof_tr r ON l.lt >= r.t"
    assertNoHelpers(Seq("asof_v" -> s"CREATE VIEW asof_v AS $aj",
      "asof_t" -> s"CREATE TABLE asof_t AS $aj",
      "asof_vr" -> s"CREATE VIEW asof_vr AS $ajr"), Seq("lt", "t", "v"), "lt",
      Seq(Seq(100, 90, "a"), Seq(205, 200, "b")))
    Engine.query(spark, "DROP TABLE asof_tr")
  }

  test("PRAGMA version / show_tables / table_info / database_list / CALL") {
    Tables.registerAll(spark, sfDir)
    val v = Engine.query(spark, "PRAGMA version").collect().head
    assert(v.getString(0).contains("v1.1.1"), v.toString)
    val tables = Engine.query(spark, "PRAGMA show_tables")
      .collect().map(_.getString(0))
    assert(tables.contains("nation") && tables.contains("documents"),
      tables.mkString(","))
    val ti = Engine.query(spark, "PRAGMA table_info('nation')").collect()
    assert(ti.map(_.getString(1)).toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(ti.head.getInt(0) == 0 && ti.head.getString(2) == "INT")
    // CALL form of the same pragma TVF
    val ci = Engine.query(spark, "CALL pragma_table_info('region')").collect()
    assert(ci.length == 2 && ci.map(_.getString(1)).toSeq ==
      Seq("r_regionkey", "r_name"))
    val dbs = Engine.query(spark, "PRAGMA database_list").collect()
    assert(dbs.exists(_.getString(1) == "default"))
  }

  test("CREATE MACRO: scalar, defaults, named args, TABLE, nesting, replace") {
    Engine.query(spark, "CREATE MACRO add1(a, b := 10) AS a + b + 1")
    val r = Engine.query(spark,
      "SELECT add1(5) AS x, add1(2, 3) AS y, add1(2, b := 7) AS z").collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((16, 6, 10)), r.toString)
    // TABLE macro in FROM position
    Tables.registerAll(spark, sfDir)
    Engine.query(spark,
      "CREATE MACRO topn(n) AS TABLE SELECT n_name FROM nation ORDER BY n_nationkey LIMIT n")
    val names = Engine.query(spark, "SELECT * FROM topn(3)").collect()
    assert(names.length == 3, names.mkString(","))
    // nested macros expand through the fixpoint
    Engine.query(spark, "CREATE MACRO sq(x) AS x * x")
    Engine.query(spark, "CREATE MACRO hyp(a, b) AS sqrt(sq(a) + sq(b))")
    assert(Engine.query(spark, "SELECT hyp(3, 4) AS h")
      .collect().head.getDouble(0) == 5.0)
    // OR REPLACE rebinds; a param named like a string constant is safe
    Engine.query(spark, "CREATE OR REPLACE MACRO add1(a) AS concat('a=', a)")
    assert(Engine.query(spark, "SELECT add1(2) AS s")
      .collect().head.getString(0) == "a=2")
    // qualified name is NOT a macro call
    assert(SqlRewrites.rewriteFull("SELECT 1") != null) // engine still sane
    Engine.query(spark, "DROP MACRO add1")
    Engine.query(spark, "DROP MACRO topn")
    Engine.query(spark, "DROP MACRO hyp")
    Engine.query(spark, "DROP MACRO sq")
    intercept[IllegalArgumentException] {
      Engine.query(spark, "DROP MACRO add1")
    }
  }

  test("dynamic PIVOT / UNPIVOT statements discover values") {
    Tables.registerAll(spark, sfDir)
    // dynamic PIVOT: values of o_orderstatus discovered, not listed
    val piv = Engine.query(spark,
      "PIVOT (SELECT o_orderpriority AS priority, o_orderstatus AS st FROM orders) " +
        "ON st USING count(*) GROUP BY priority")
    val expl = Engine.query(spark,
      """SELECT * FROM (SELECT o_orderpriority AS priority, o_orderstatus AS st
        |  FROM orders) PIVOT (count(*) FOR st IN ('F', 'O', 'P'))""".stripMargin)
    assert(piv.columns.sorted.toSeq == expl.columns.sorted.toSeq,
      s"${piv.columns.toSeq} vs ${expl.columns.toSeq}")
    val a = piv.orderBy(col("priority")).collect().map(_.toSeq).toSeq
    val b = expl.orderBy(col("priority")).collect().map(_.toSeq).toSeq
    assert(a == b)
    // implicit GROUP BY = all remaining columns
    val piv2 = Engine.query(spark,
      "PIVOT (SELECT o_orderpriority AS priority, o_orderstatus AS st FROM orders) " +
        "ON st USING count(*)")
    assert(piv2.columns.contains("priority") && piv2.count() == a.length)
    // dynamic UNPIVOT: numeric value columns coerce to double
    val unp = Engine.query(spark,
      "UNPIVOT (SELECT o_orderkey, o_totalprice, o_custkey FROM orders " +
        "LIMIT 2) ON o_totalprice, o_custkey INTO NAME metric VALUE v")
    assert(unp.columns.toSeq == Seq("o_orderkey", "metric", "v"))
    assert(unp.count() == 4)
    assert(unp.schema("v").dataType.typeName == "double")
  }

  test("duckdb_* metadata TVFs snapshot the session catalog") {
    Tables.registerAll(spark, sfDir)
    val tables = Engine.query(spark,
      "SELECT table_name, column_count FROM duckdb_tables() " +
        "WHERE table_name = 'nation'").collect()
    assert(tables.length == 1 && tables.head.getInt(1) == 3, tables.toSeq)
    val cols = Engine.query(spark,
      "SELECT column_name, data_type FROM duckdb_columns() " +
        "WHERE table_name = 'region' ORDER BY column_index").collect()
    assert(cols.map(_.getString(0)).toSeq == Seq("r_regionkey", "r_name"))
    val dbs = Engine.query(spark,
      "SELECT count(*) AS n FROM duckdb_databases()").collect()
    assert(dbs.head.getLong(0) >= 1)
    val setting = Engine.query(spark,
      "SELECT value FROM duckdb_settings() " +
        "WHERE name = 'spark.sql.session.timeZone'").collect()
    assert(setting.head.getString(0) == "UTC", setting.toSeq)
    val fns = Engine.query(spark,
      "SELECT count(*) AS n FROM duckdb_functions()").collect()
    assert(fns.head.getLong(0) > 100)
    // a dangling view must not break the listing (DuckDB never fails)
    Engine.query(spark, "CREATE OR REPLACE TABLE mtvf_base AS SELECT 1 AS x")
    spark.sql("CREATE OR REPLACE TEMP VIEW mtvf_dangle AS " +
      "SELECT * FROM mtvf_base")
    Engine.query(spark, "DROP TABLE mtvf_base")
    val listed = Engine.query(spark,
      "SELECT table_name FROM duckdb_tables()").collect()
      .map(_.getString(0))
    assert(listed.contains("mtvf_dangle") && listed.contains("nation"))
    spark.catalog.dropTempView("mtvf_dangle")
  }

  test("information_schema.tables/columns lower onto the metadata TVFs") {
    Tables.registerAll(spark, sfDir)
    val t = Engine.query(spark,
      "SELECT table_name, table_type FROM information_schema.tables " +
        "WHERE table_name = 'nation'").collect()
    assert(t.length == 1 && t.head.getString(1) == "LOCAL TEMPORARY", t.toSeq)
    val c = Engine.query(spark,
      "SELECT column_name, ordinal_position FROM information_schema.columns " +
        "WHERE table_name = 'region' ORDER BY ordinal_position").collect()
    assert(c.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("r_regionkey", 1), ("r_name", 2)), c.toSeq)
  }

  test("PIVOT/UNPIVOT/MACRO DuckDB edge semantics (review regressions)") {
    val s = spark
    import s.implicits._
    // UNPIVOT excludes NULL values, like DuckDB (not Spark's default)
    Seq((1, Some(5), None: Option[Int]))
      .toDF("k", "a", "b").createOrReplaceTempView("unpv_t")
    val rows = Engine.query(spark,
      "UNPIVOT unpv_t ON a, b INTO NAME n VALUE v").collect()
    assert(rows.length == 1 && rows.head.getString(1) == "a", rows.toSeq)
    // a column sharing an aggregate FUNCTION's name stays a group key
    Seq(("g1", "F", 1L), ("g2", "O", 2L))
      .toDF("sum", "st", "x").createOrReplaceTempView("pvt_t")
    val piv = Engine.query(spark, "PIVOT pvt_t ON st USING count(*)")
    assert(piv.columns.contains("sum") && piv.count() == 2, piv.columns.toSeq)
    // macro: unknown named arg is a loud binder error, not a silent default
    Engine.query(spark, "CREATE MACRO edge_m(a, b := 10) AS a + b")
    val err = intercept[IllegalArgumentException] {
      Engine.query(spark, "SELECT edge_m(2, c := 7) AS v")
    }
    assert(err.getMessage.contains("no parameter"), err.getMessage)
    // a parameter bound both positionally and by name is a loud error
    val dup = intercept[IllegalArgumentException] {
      Engine.query(spark, "SELECT edge_m(2, a := 7) AS v")
    }
    assert(dup.getMessage.contains("bound both"), dup.getMessage)
    // macro default values may contain calls (balanced parens)
    Engine.query(spark,
      "CREATE MACRO edge_d(a, b := least(1, 2)) AS a + b")
    // least(1, 2) resolves on the BIGINT overload, so a + b is BIGINT
    assert(Engine.query(spark, "SELECT edge_d(5) AS v")
      .collect().head.getLong(0) == 6L)
    // a quote inside a literal doesn't derail expansion. DuckDB's only
    // in-literal quote spellings: '' doubling and E'\''  (a plain
    // 'it\'s' is a PARSER ERROR there — probed — so that Spark-ism is
    // deliberately not exercised)
    val esc = Engine.query(spark,
      "SELECT 'it''s', E'a\\'b', edge_d(1) AS v").collect().head
    assert(esc.getString(0) == "it's" && esc.getString(1) == "a'b" &&
      esc.getLong(2) == 2L)
    Engine.query(spark, "DROP MACRO edge_m")
    Engine.query(spark, "DROP MACRO edge_d")
  }

  test("CREATE SEQUENCE / nextval / currval / PRAGMA sequences") {
    Engine.query(spark, "CREATE SEQUENCE cs_seq START 5 INCREMENT 2")
    val r = Engine.query(spark,
      "SELECT nextval('cs_seq') AS a, nextval('cs_seq') AS b").collect().head
    // two distinct draws (order across an expression list is not
    // promised, but both values come from {5, 7})
    assert(Set(r.getLong(0), r.getLong(1)) == Set(5L, 7L), r.toString)
    assert(Engine.query(spark, "SELECT currval('cs_seq') AS c")
      .collect().head.getLong(0) == 7L)
    // per-row advancement over a relation: 3 rows → 3 consecutive values
    Engine.query(spark, "CREATE SEQUENCE rows_seq")
    val vals = Engine.query(spark,
      "SELECT nextval('rows_seq') AS v FROM generate_series(1, 3)")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vals == Seq(1L, 2L, 3L), vals.mkString(","))
    val listed = Engine.query(spark, "PRAGMA sequences").collect()
      .map(r2 => r2.getString(0) -> (r2.getLong(1), r2.getLong(2))).toMap
    assert(listed("cs_seq") == ((9L, 2L)) && listed("rows_seq") == ((4L, 1L)),
      listed.toString)
    Engine.query(spark, "DROP SEQUENCE cs_seq")
    Engine.query(spark, "DROP SEQUENCE rows_seq")
    // nextval of a dropped sequence fails (wrapped by Spark's UDF layer)
    val ex = intercept[Throwable] {
      Engine.query(spark, "SELECT nextval('cs_seq') AS x").collect()
    }
    assert(ex.getMessage.contains("cs_seq"), ex.getMessage)
  }

  test("block-allocated sequence ids: unique, block-contiguous, 32 partitions") {
    Engine.query(spark, "CREATE SEQUENCE blk_seq START 10 INCREMENT 3")
    val df = spark.range(0, 1000).repartition(32).toDF("x")
    val out = Sequences.assignIds(df, "blk_seq", "rid")
    val ids = out.select("rid").collect().map(_.getLong(0))
    assert(ids.length == 1000 && ids.distinct.length == 1000)
    // every id is on the sequence's arithmetic progression
    assert(ids.forall(v => v >= 10 && (v - 10) % 3 == 0))
    // within a partition the grant is one contiguous block
    val perPart = out.select("rid").rdd
      .mapPartitions(it => Iterator(it.map(_.getLong(0)).toArray)).collect()
    perPart.filter(_.length > 1).foreach { block =>
      block.sliding(2).foreach {
        case Array(a, b) => assert(b == a + 3, s"gap inside a block: $a -> $b")
        case _ =>
      }
    }
    // currval reflects the last granted value
    assert(Sequences.curr("blk_seq") == ids.max)
    Engine.query(spark, "DROP SEQUENCE blk_seq")
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("PRAGMA assignment form, bare toggles, unknown-pragma error") {
    // DuckDB setting pragmas: accepted as no-ops (resource knobs are
    // cluster-managed in Spark)
    Engine.query(spark, "PRAGMA threads=4")
    Engine.query(spark, "PRAGMA memory_limit='2GB'")
    Engine.query(spark, "PRAGMA enable_progress_bar")
    // an unknown bare pragma must error, NOT select from a same-named
    // table via the TVF fallthrough
    val ex = intercept[Throwable] {
      Engine.query(spark, "PRAGMA region").collect()
    }
    assert(ex.getMessage.toLowerCase.contains("unrecognized pragma"),
      ex.getMessage)
  }

  test("read_csv named options: delim / header / nullstr") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csvopt")
    val f = dir.resolve("t.csv")
    java.nio.file.Files.writeString(f, "1|alpha|NA\n2|beta|x\n")
    val rows = Engine.query(spark,
      s"SELECT * FROM read_csv('$f', delim='|', header=false, nullstr='NA') ORDER BY 1")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "alpha" &&
      rows(0).isNullAt(2), rows(0).toString)
    assert(rows(1).getString(2) == "x")
    // unknown option errors loudly instead of silently mis-reading
    val ex = intercept[Throwable] {
      Engine.query(spark, s"SELECT * FROM read_csv('$f', bogus='1')").collect()
    }
    assert(ex.getMessage.contains("unsupported option"), ex.getMessage)
  }

  test("read_csv names/columns/skip/filename + read_json format (probed)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csvopt2")
    val f = dir.resolve("a.csv")
    java.nio.file.Files.writeString(f, "x;y\n1;foo\n2;bar\n")
    // names=[…] renames the detected columns
    val named = Engine.query(spark,
      s"SELECT p, q FROM read_csv('$f', delim=';', names=['p','q']) ORDER BY p")
      .collect()
    assert(named.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "foo"), (2, "bar")))
    // columns={…} is an explicit schema, header off by default
    val g = dir.resolve("b.csv")
    java.nio.file.Files.writeString(g, "3\tbaz\n")
    val typed = Engine.query(spark,
      s"SELECT n, s FROM read_csv('$g', delim='\\t', header=false, " +
        "columns={'n': 'INT', 's': 'VARCHAR'})").collect()
    assert(typed.head.getInt(0) == 3 && typed.head.getString(1) == "baz")
    // skip=N drops raw leading lines; filename=true adds the column
    val skipped = Engine.query(spark,
      s"SELECT * FROM read_csv('$f', delim=';', skip=1, header=false)")
      .collect()
    assert(skipped.length == 2)
    val fn = Engine.query(spark,
      s"SELECT filename FROM read_csv('$f', delim=';', filename=true) LIMIT 1")
      .collect().head.getString(0)
    assert(fn.endsWith("a.csv"))
    // read_json format='array' reads a pretty-printed JSON array
    val j = dir.resolve("c.json")
    java.nio.file.Files.writeString(j,
      "[\n  {\"a\": 1, \"b\": {\"c\": 2}},\n  {\"a\": 3, \"b\": null}\n]")
    val arr = Engine.query(spark,
      s"SELECT a, b.c AS c FROM read_json('$j', format='array') ORDER BY a")
      .collect()
    assert(arr.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(arr.head.getLong(1) == 2L && arr(1).isNullAt(1))
  }

  test("read_parquet accepts a LIST of paths and glob patterns") {
    val p = s"$sfDir/region.parquet"
    val two = Engine.query(spark,
      s"SELECT count(*) AS n FROM read_parquet(['$p', '$p'])")
      .collect().head.getLong(0)
    assert(two == 10L, s"two copies of region = $two")
    val glob = Engine.query(spark,
      s"SELECT count(*) AS n FROM read_parquet('$sfDir/regio*.parquet')")
      .collect().head.getLong(0)
    assert(glob == 5L, s"glob = $glob")
  }

  test("geomean: native exp(avg(ln)) rewrite agrees with the typed Aggregator") {
    val r = Engine.query(spark,
      """SELECT round(geomean(x), 9) AS native, round(geomean_udaf(x), 9) AS udaf
        |FROM VALUES (2.0), (8.0), (4.0) AS t(x)""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 4.0 && r.getDouble(1) == 4.0, r.toString)
    // off the positive domain the two must STILL agree (advisor r5):
    // a zero input drives the mean log to -Inf -> geomean 0.0 — the
    // naive rewrite's NULL-dropping Log would return 8.0 here
    val z = Engine.query(spark,
      """SELECT geomean(x) AS native, geomean_udaf(x) AS udaf
        |FROM VALUES (0.0), (8.0) AS t(x)""".stripMargin).collect().head
    assert(z.getDouble(0) == 0.0 && z.getDouble(1) == 0.0, z.toString)
    val n = Engine.query(spark,
      """SELECT geomean(x) AS native, geomean_udaf(x) AS udaf
        |FROM VALUES (-2.0), (8.0) AS t(x)""".stripMargin).collect().head
    assert(n.getDouble(0).isNaN && n.getDouble(1).isNaN, n.toString)
    // NULLs skip like any aggregate — on BOTH paths (the UDAF needs a
    // boxed input for that; a primitive input saw NULL rows as 0.0)
    val sk = Engine.query(spark,
      """SELECT geomean(x) AS native, geomean_udaf(x) AS udaf
        |FROM VALUES (CAST(NULL AS DOUBLE)), (4.0) AS t(x)""".stripMargin)
      .collect().head
    assert(sk.getDouble(0) == 4.0 && sk.getDouble(1) == 4.0, sk.toString)
    // empty / all-NULL group -> NULL on BOTH paths (advisor r6; probed
    // DuckDB 1.0: geomean over zero rows and over all-NULLs is NULL)
    val eg = Engine.query(spark,
      """SELECT geomean(x) AS native, geomean_udaf(x) AS udaf
        |FROM VALUES (CAST(NULL AS DOUBLE)), (CAST(NULL AS DOUBLE)) AS t(x)"""
        .stripMargin).collect().head
    assert(eg.isNullAt(0) && eg.isNullAt(1), eg.toString)
    val zr = Engine.query(spark,
      """SELECT geomean(x) AS native, geomean_udaf(x) AS udaf
        |FROM (SELECT CAST(1.0 AS DOUBLE) AS x WHERE 1 = 0)""".stripMargin)
      .collect().head
    assert(zr.isNullAt(0) && zr.isNullAt(1), zr.toString)
  }

  test("list_slice/list_sum DuckDB edge semantics (advisor r5)") {
    // out-of-range bounds clamp (DuckDB v1.0 probed):
    // list_slice([1,2,3],-5,-1)=[1,2,3]; [5,9]->[]; [2,99]->[2,3]
    val r = Engine.query(spark,
      """SELECT list_slice(l, -5, -1) AS a, list_slice(l, 5, 9) AS b,
        |  list_slice(l, 2, 99) AS c, list_slice(l, -99, 2) AS d
        |FROM VALUES (array(1, 2, 3)) AS t(l)""".stripMargin).collect().head
    assert(r.getSeq[Int](0) == Seq(1, 2, 3), s"a=${r.getSeq[Int](0)}")
    assert(r.getSeq[Int](1) == Seq(), s"b=${r.getSeq[Int](1)}")
    assert(r.getSeq[Int](2) == Seq(2, 3), s"c=${r.getSeq[Int](2)}")
    assert(r.getSeq[Int](3) == Seq(1, 2), s"d=${r.getSeq[Int](3)}")
    // a NULL bound yields a NULL slice, not an open bound (advisor r6;
    // probed DuckDB 1.0: list_slice(l, NULL, 2) / (l, 1, NULL) -> NULL)
    val nb = Engine.query(spark,
      """SELECT list_slice(l, CAST(NULL AS INT), 2) AS nb,
        |  list_slice(l, 1, CAST(NULL AS INT)) AS ne,
        |  list_slice(l, CAST(NULL AS INT), CAST(NULL AS INT)) AS nn
        |FROM VALUES (array(1, 2, 3)) AS t(l)""".stripMargin).collect().head
    assert(nb.isNullAt(0) && nb.isNullAt(1) && nb.isNullAt(2), nb.toString)
    // list_sum of empty / all-NULL lists is NULL, not 0.0; list_avg too
    val s2 = Engine.query(spark,
      """SELECT list_sum(CAST(array() AS ARRAY<DOUBLE>)) AS e,
        |  list_sum(array(CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))) AS an,
        |  list_sum(array(1.5, CAST(NULL AS DOUBLE), 2.5)) AS s,
        |  list_avg(CAST(array() AS ARRAY<DOUBLE>)) AS av
        |FROM VALUES (1) AS t(x)""".stripMargin).collect().head
    assert(s2.isNullAt(0) && s2.isNullAt(1), s2.toString)
    assert(s2.getDouble(2) == 4.0, s2.toString)
    assert(s2.isNullAt(3), s2.toString)
  }

  test("string-distance family DuckDB edge semantics (r7, probed 1.0)") {
    val r = Engine.query(spark,
      """SELECT damerau_levenshtein('ca', 'abc') AS dl1,
        |  damerau_levenshtein('a cat', 'a abct') AS dl2,
        |  damerau_levenshtein('', 'abc') AS dl3,
        |  damerau_levenshtein('ab', 'ba') AS dl4,
        |  damerau_levenshtein('abcdef', 'abcfad') AS dl5,
        |  hamming('abc', 'abd') AS h1, mismatches('abc', 'abd') AS h2,
        |  jaccard('duck', 'luck') AS j1, jaccard('AA', 'aa') AS j2,
        |  jaccard('abc', 'cba') AS j3,
        |  jaro_winkler_similarity('martha', 'marhta') AS jw1,
        |  jaro_winkler_similarity('dwayne', 'duane') AS jw2,
        |  jaro_winkler_similarity('DIXON', 'DICKSONX') AS jw3,
        |  jaro_winkler_similarity('aXXXXX', 'aYYYYY') AS jw4,
        |  jaro_winkler_similarity('', '') AS jw5,
        |  strip_accents('café naïve') AS sa1, strip_accents('ßøé') AS sa2,
        |  length(nfc_normalize('é')) AS nfc1,
        |  unicode('') AS u1, unicode('€x') AS u2,
        |  to_hex(-1) AS th""".stripMargin).collect().head
    // true (unrestricted) Damerau: a transposition may be edited over
    assert(r.getInt(0) == 2 && r.getInt(1) == 2 && r.getInt(2) == 3 &&
      r.getInt(3) == 1 && r.getInt(4) == 3, r.toString)
    assert(r.getInt(5) == 1 && r.getInt(6) == 1, r.toString)
    assert(r.getDouble(7) == 0.6 && r.getDouble(8) == 0.0 &&
      r.getDouble(9) == 1.0, r.toString)
    assert(r.getDouble(10) == 0.9611111111111111, r.toString)
    assert(r.getDouble(11) == 0.8400000000000001, r.toString)
    assert(r.getDouble(12) == 0.8133333333333332, r.toString)
    // below the 0.7 boost threshold the prefix bonus must NOT apply
    assert(r.getDouble(13) == 0.4444444444444444, r.toString)
    assert(r.getDouble(14) == 0.0, r.toString)
    assert(r.getString(15) == "cafe naive", r.toString)
    assert(r.getString(16) == "ßøe", r.toString) // ø and ß survive NFD
    assert(r.getInt(17) == 1, r.toString) // e + combining acute → é
    assert(r.getInt(18) == -1 && r.getInt(19) == 8364, r.toString)
    assert(r.getString(20) == "FFFFFFFFFFFFFFFF", r.toString)
    // hamming errors on unequal/empty, jaccard on empty — loud, like
    // DuckDB, not a silent NULL
    intercept[Exception] {
      Engine.query(spark, "SELECT hamming('ab', 'abc') AS x").collect()
    }
    intercept[Exception] {
      Engine.query(spark, "SELECT jaccard('a', '') AS x").collect()
    }
    // format/printf: a NULL argument nulls the result (Spark's own
    // format_string would print the text "null")
    val f = Engine.query(spark,
      """SELECT format('{}|{}', 1.5, CAST(NULL AS INT)) AS f1,
        |  printf('%s', CAST(NULL AS STRING)) AS f2,
        |  format('{}', DATE '2024-01-02') AS f3,
        |  format('{} + {} = {}', 1, 2, 3) AS f4,
        |  printf('%d-%s', 7, 'x') AS f5""".stripMargin).collect().head
    assert(f.isNullAt(0) && f.isNullAt(1), f.toString)
    assert(f.getString(2) == "2024-01-02", f.toString)
    assert(f.getString(3) == "1 + 2 = 3" && f.getString(4) == "7-x", f.toString)
  }

  test("vector/numeric/bar long-tail edge semantics (r7, probed 1.0)") {
    val r = Engine.query(spark,
      """SELECT bar(3, 0, 5, 10) AS b1, bar(1, 0, 3, 10) AS b2,
        |  bar(2, 0, 5, 10) AS b3, bar(4.7, 0, 5, 10) AS b4,
        |  bar(0, 0, 5, 10) AS b5,
        |  even(-2.5) AS e1, even(-0.5) AS e2, even(2.0) AS e3,
        |  list_where(list_value(10, 20, 30),
        |    list_value(true, false, true)) AS lw,
        |  list_select(list_value(10, 20, 30), list_value(3, 1, 1)) AS ls,
        |  signbit(-0.0) AS sb0,
        |  greatest_common_divisor(-12, 18) AS g,
        |  least_common_multiple(0, 4) AS l0,
        |  round(list_distance(list_value(0.0, 0.0),
        |    list_value(3.0, 4.0)), 6) AS ld,
        |  round(list_inner_product(list_value(1.0, 2.0),
        |    list_value(3.0, 4.0)), 6) AS ip,
        |  list_reverse(list_value(1, 2, 3)) AS lr""".stripMargin)
      .collect().head
    assert(r.getString(0) == "██████", r.toString)
    assert(r.getString(1) == "███▎", r.toString) // FLOORED eighths
    assert(r.getString(2) == "████", r.toString)
    assert(r.getString(3) == "█████████▍", r.toString)
    assert(r.getString(4) == " " * 10, r.toString) // zero bar = spaces
    assert(r.getDouble(5) == -4.0 && r.getDouble(6) == -2.0 &&
      r.getDouble(7) == 2.0, r.toString) // round AWAY to even
    assert(r.getSeq[Int](8) == Seq(10, 30), r.toString)
    assert(r.getSeq[Int](9) == Seq(30, 10, 10), r.toString)
    assert(!r.getBoolean(10), r.toString) // literal -0.0 folds to +0.0 (decimal) in BOTH engines
    // advisor r8 pins (probed on 1.0): a COMPUTED double -0.0 has its
    // sign bit set (signbit true); NULL inputs NULL-propagate through
    // signbit / to_base / the list_* vector family instead of erroring
    val nl = Engine.query(spark,
      """SELECT signbit(CAST(-1.0 AS DOUBLE) * CAST(0.0 AS DOUBLE)) AS sbz,
        |  signbit(CAST(NULL AS DOUBLE)) AS sbn,
        |  to_base(CAST(NULL AS BIGINT), 2) AS tbn,
        |  to_base(CAST(NULL AS BIGINT), 2, 4) AS tbn3,
        |  list_dot_product(CAST(NULL AS ARRAY<DOUBLE>),
        |    list_value(1.0, 2.0)) AS dp,
        |  list_cosine_similarity(list_value(1.0),
        |    CAST(NULL AS ARRAY<DOUBLE>)) AS lc,
        |  list_distance(CAST(NULL AS ARRAY<DOUBLE>),
        |    CAST(NULL AS ARRAY<DOUBLE>)) AS ldn""".stripMargin).collect().head
    assert(nl.getBoolean(0), nl.toString) // computed -0.0 → true
    assert((1 to 6).forall(nl.isNullAt), nl.toString)
    assert(r.getLong(11) == 6L && r.getLong(12) == 0L, r.toString)
    assert(r.getDouble(13) == 5.0 && r.getDouble(14) == 11.0, r.toString)
    assert(r.getSeq[Int](15) == Seq(3, 2, 1), r.toString)
    // grade_up: 1-based sort indices, stable on ties (probed)
    val gu = Engine.query(spark,
      """SELECT list_grade_up(list_value(30, 10, 20)) AS g1,
        |  list_grade_up(list_value(2, 2, 1)) AS g2""".stripMargin)
      .collect().head
    assert(gu.getSeq[Int](0) == Seq(2, 3, 1), gu.toString)
    assert(gu.getSeq[Int](1) == Seq(3, 1, 2), gu.toString)
    // review-pass pins (r7, all probed on 1.0): format brace escapes,
    // grade_up empty/NULL-last, loud errors on cot(0) / negative
    // to_base / gcd overflow / unequal vector dims, zero-norm cosine
    val rp = Engine.query(spark,
      """SELECT format('{} {{}}', 5) AS f1, format('{{}}') AS f2,
        |  list_grade_up(CAST(array() AS ARRAY<INT>)) AS ge,
        |  list_grade_up(list_value(2, CAST(NULL AS INT), 1)) AS gn,
        |  round(list_cosine_similarity(list_value(0.0, 0.0),
        |    list_value(1.0, 2.0)), 6) AS zc""".stripMargin).collect().head
    assert(rp.getString(0) == "5 {}" && rp.getString(1) == "{}", rp.toString)
    assert(rp.getSeq[Int](2) == Seq(), rp.toString)
    assert(rp.getSeq[Int](3) == Seq(3, 1, 2), rp.toString) // NULL last
    assert(rp.getDouble(4) == -1.0, rp.toString) // DuckDB zero-norm cos
    intercept[Exception] {
      Engine.query(spark, "SELECT cot(0) AS x").collect()
    }
    intercept[Exception] {
      Engine.query(spark, "SELECT to_base(-5, 2) AS x").collect()
    }
    intercept[Exception] {
      Engine.query(spark,
        "SELECT greatest_common_divisor(-9223372036854775808, 2) AS x")
        .collect()
    }
    intercept[Exception] {
      Engine.query(spark,
        "SELECT list_dot_product(list_value(1.0, 2.0), list_value(1.0)) AS x")
        .collect()
    }
    // list_zip pads the shorter list with NULLs (struct field naming
    // is engine-specific, so value-check here, not in the oracle)
    val z = Engine.query(spark,
      "SELECT list_zip(list_value(1, 2), list_value(30, 40, 50)) AS z")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(z.length == 3 && z(2).isNullAt(0) && z(2).getInt(1) == 50,
      z.toString)
  }

  test("aggregate-name aliases: arg_min/arg_max/product/favg/fsum (r7)") {
    val r = Engine.query(spark,
      """SELECT arg_min(x, y) AS amn, arg_max(x, y) AS amx,
        |  argmin(x, y) AS amn2, argmax(x, y) AS amx2,
        |  round(product(y), 6) AS pr, round(favg(y), 6) AS fa,
        |  round(fsum(y), 6) AS fs
        |FROM VALUES ('a', 3.0), ('b', 1.0), ('c', 7.0) AS t(x, y)"""
        .stripMargin).collect().head
    assert(r.getString(0) == "b" && r.getString(1) == "c", r.toString)
    assert(r.getString(2) == "b" && r.getString(3) == "c", r.toString)
    assert(r.getDouble(4) == 21.0, r.toString)
    assert(r.getDouble(5) == 3.666667, r.toString)
    assert(r.getDouble(6) == 11.0, r.toString)
  }

  test("time_bucket origin alignment (r7, probed 1.0)") {
    val r = Engine.query(spark,
      """SELECT CAST(time_bucket(INTERVAL '1 week',
        |    TIMESTAMP '2024-01-05 10:00:00') AS STRING) AS wk,
        |  CAST(time_bucket(INTERVAL '3 days',
        |    TIMESTAMP '2024-01-05 10:00:00') AS STRING) AS d3,
        |  CAST(time_bucket(INTERVAL '90 seconds',
        |    TIMESTAMP '2024-01-01 00:02:00') AS STRING) AS s90,
        |  CAST(time_bucket(INTERVAL '15 minutes',
        |    TIMESTAMP '1969-12-31 23:50:00') AS STRING) AS pre
        |""".stripMargin).collect().head
    // Monday-aligned weeks prove the 2000-01-03 origin; the pre-epoch
    // row proves flooring (not truncation toward zero)
    assert(r.getString(0) == "2024-01-01 00:00:00", r.toString)
    assert(r.getString(1) == "2024-01-03 00:00:00", r.toString)
    assert(r.getString(2) == "2024-01-01 00:01:30", r.toString)
    assert(r.getString(3) == "1969-12-31 23:45:00", r.toString)
    // r8: month widths, explicit origins, interval offsets (probed 1.0)
    val m = Engine.query(spark,
      """SELECT CAST(time_bucket(INTERVAL '1 month',
        |    TIMESTAMP '2024-03-17 10:30:00') AS STRING) AS m1,
        |  CAST(time_bucket(INTERVAL '3 month',
        |    TIMESTAMP '1999-02-17 10:30:00') AS STRING) AS m3,
        |  CAST(time_bucket(INTERVAL '2 month',
        |    TIMESTAMP '1999-12-31 23:59:59') AS STRING) AS m2,
        |  CAST(time_bucket(INTERVAL '1 month',
        |    TIMESTAMP '1969-05-17 10:30:00') AS STRING) AS mpre,
        |  CAST(time_bucket(INTERVAL '1 year',
        |    TIMESTAMP '2024-03-17 10:30:00') AS STRING) AS y1,
        |  CAST(time_bucket(INTERVAL '2 month', DATE '2024-03-17',
        |    DATE '2024-02-10') AS STRING) AS morig,
        |  CAST(time_bucket(INTERVAL '7 day',
        |    TIMESTAMP '2024-03-17 10:30:00',
        |    TIMESTAMP '2000-01-05 00:00:00') AS STRING) AS sorig,
        |  CAST(time_bucket(INTERVAL '7 day',
        |    TIMESTAMP '2024-03-17 10:30:00', INTERVAL '2 day') AS STRING)
        |    AS soff,
        |  CAST(time_bucket(INTERVAL '1 month',
        |    TIMESTAMP '2024-03-17 10:30:00', INTERVAL '10 day') AS STRING)
        |    AS moff""".stripMargin).collect().head
    assert(m.getString(0) == "2024-03-01 00:00:00", m.toString)
    assert(m.getString(1) == "1999-01-01 00:00:00", m.toString) // floor toward -inf
    assert(m.getString(2) == "1999-11-01 00:00:00", m.toString)
    assert(m.getString(3) == "1969-05-01 00:00:00", m.toString) // pre-epoch
    assert(m.getString(4) == "2024-01-01 00:00:00", m.toString)
    assert(m.getString(5) == "2024-02-01 00:00:00", m.toString) // origin month only
    assert(m.getString(6) == "2024-03-13 00:00:00", m.toString) // Wed-aligned weeks
    assert(m.getString(7) == "2024-03-13 00:00:00", m.toString) // offset == origin shift
    assert(m.getString(8) == "2024-03-11 00:00:00", m.toString) // bucket(ts-off)+off
  }

  test("BIT-string vocabulary (r8, probed 1.0)") {
    val r = Engine.query(spark,
      """SELECT CAST(bitstring('0101', 8) AS VARCHAR) AS bs,
        |  CAST(get_bit(bitstring('0110', 8), 6) AS INT) AS gb,
        |  CAST(set_bit(bitstring('0110', 8), 0, 1) AS VARCHAR) AS sb,
        |  CAST(bit_count(bitstring('01011', 12)) AS BIGINT) AS bc,
        |  CAST(bit_position(bitstring('01', 2), bitstring('110101', 6))
        |    AS BIGINT) AS bp,
        |  CAST(bit_position(bitstring('11', 2), bitstring('00100', 5))
        |    AS BIGINT) AS bp0,
        |  CAST(xor(bitstring('0110', 8), bitstring('0011', 8)) AS VARCHAR)
        |    AS bx,
        |  CAST(xor(12, 10) AS BIGINT) AS ix,
        |  CAST(bit_count(11) AS INT) AS ic,
        |  bitstring(CAST(NULL AS STRING), 8) AS bn,
        |  get_bit(CAST(NULL AS STRING), 1) AS gn""".stripMargin)
      .collect().head
    assert(r.getString(0) == "00000101", r.toString)
    assert(r.getInt(1) == 1, r.toString) // '00000110'(6) — 0-based from left
    assert(r.getString(2) == "10000110", r.toString)
    assert(r.getLong(3) == 3L, r.toString)
    assert(r.getLong(4) == 3L && r.getLong(5) == 0L, r.toString)
    assert(r.getString(6) == "00000101", r.toString)
    assert(r.getLong(7) == 6L && r.getInt(8) == 3, r.toString) // int forms intact
    assert(r.isNullAt(9) && r.isNullAt(10), r.toString)
    intercept[Exception] { // len < input length errors like DuckDB
      Engine.query(spark, "SELECT bitstring('0101', 3) AS x").collect()
    }
    intercept[Exception] { // out-of-range index errors like DuckDB
      Engine.query(spark, "SELECT get_bit(bitstring('0110', 4), 4) AS x").collect()
    }
    intercept[Exception] { // unequal xor lengths error like DuckDB
      Engine.query(spark,
        "SELECT xor(bitstring('01', 2), bitstring('011', 3)) AS x").collect()
    }
  }

  test("ENUM types: DDL, casts, enum_* functions (r8, probed 1.0)") {
    Engine.query(spark, "CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    try {
      val r = Engine.query(spark,
        """SELECT 'ok'::mood AS c,
          |  CAST('happy' AS mood) AS c2,
          |  NULL::mood AS cn,
          |  enum_range(NULL::mood) AS rng,
          |  enum_first(NULL::mood) AS f,
          |  enum_last(NULL::mood) AS l,
          |  enum_code('happy'::mood) AS code,
          |  enum_range_boundary('sad'::mood, 'ok'::mood) AS rb""".stripMargin)
        .collect().head
      assert(r.getString(0) == "ok" && r.getString(1) == "happy", r.toString)
      assert(r.isNullAt(2), r.toString)
      assert(r.getSeq[String](3) == Seq("sad", "ok", "happy"), r.toString)
      assert(r.getString(4) == "sad" && r.getString(5) == "happy", r.toString)
      assert(r.getInt(6) == 2, r.toString) // 0-based definition index
      assert(r.getSeq[String](7) == Seq("sad", "ok"), r.toString) // inclusive
      intercept[Exception] { // non-member cast errors like DuckDB
        Engine.query(spark, "SELECT 'nope'::mood AS x").collect()
      }
      intercept[Exception] { // duplicate CREATE without OR REPLACE
        Engine.query(spark, "CREATE TYPE mood AS ENUM ('a')")
      }
      // IF NOT EXISTS no-ops; OR REPLACE redefines
      Engine.query(spark, "CREATE TYPE IF NOT EXISTS mood AS ENUM ('x')")
      assert(Engine.query(spark, "SELECT enum_first(NULL::mood) AS f")
        .collect().head.getString(0) == "sad")
      Engine.query(spark, "CREATE OR REPLACE TYPE mood AS ENUM ('lo', 'hi')")
      assert(Engine.query(spark, "SELECT enum_range(NULL::mood) AS r")
        .collect().head.getSeq[String](0) == Seq("lo", "hi"))
      // a non-enum ::cast in the same statement stays a plain cast
      assert(Engine.query(spark, "SELECT '7'::int8 + enum_code('hi'::mood) AS n")
        .collect().head.getLong(0) == 8L)
    } finally Engine.query(spark, "DROP TYPE IF EXISTS mood")
    intercept[Exception] { // dropped type is gone
      Engine.query(spark, "DROP TYPE mood")
    }
  }

  test("statistical-aggregate long tail (r8, probed 1.0)") {
    // skewness/kurtosis are the SAMPLE-corrected estimators; probed:
    // skewness([1,2,3,4,5,9]) = 1.1932426932522993, kurtosis = 1.66875;
    // below minimum n (3 / 4) and for zero variance both are NULL.
    val r = Engine.query(spark,
      """SELECT round(skewness(x), 9) AS sk, round(kurtosis(x), 9) AS ku
        |FROM VALUES (1.0),(2.0),(3.0),(4.0),(5.0),(9.0) AS t(x)"""
        .stripMargin).collect().head
    assert(r.getDouble(0) == 1.193242693, r.toString)
    assert(r.getDouble(1) == 1.66875, r.toString)
    val small = Engine.query(spark,
      """SELECT skewness(x) AS s2, kurtosis(y) AS k3, skewness(c) AS sc
        |FROM (SELECT x, x AS y, 5.0 AS c
        |      FROM VALUES (1.0),(2.0),(3.0) AS t(x))""".stripMargin)
      .collect().head
    // n=3 has skewness but no kurtosis; constant column → NULL (NaN
    // from the population moment is mapped to DuckDB's NULL)
    assert(!small.isNullAt(0) && small.isNullAt(1) && small.isNullAt(2),
      small.toString)
    // mad: interpolated median of |x - median| (probed [1,2,4,10] → 1.5);
    // entropy: Shannon base 2, empty/all-NULL group → 0.0 NOT NULL;
    // quantile_disc: sorted element at max(1, ceil(q*n)) (probed
    // [1,2,3,4]: 0.49→2, 0.50→2, 0.51→3); quantile_cont interpolates.
    val r2 = Engine.query(spark,
      """SELECT mad(x) AS md, entropy(x) AS ent,
        |  CAST(quantile_disc(x, 0.49) AS DOUBLE) AS q49,
        |  CAST(quantile_disc(x, 0.50) AS DOUBLE) AS q50,
        |  CAST(quantile_disc(x, 0.51) AS DOUBLE) AS q51,
        |  quantile_cont(x, 0.25) AS qc,
        |  CAST(quantile(x, 1.0) AS DOUBLE) AS qtop
        |FROM VALUES (1.0),(2.0),(4.0),(10.0) AS t(x)""".stripMargin)
      .collect().head
    assert(r2.getDouble(0) == 1.5, r2.toString)
    assert(r2.getDouble(1) == 2.0, r2.toString) // 4 distinct of 4 → log2(4)
    assert(r2.getDouble(2) == 2.0 && r2.getDouble(3) == 2.0 &&
      r2.getDouble(4) == 4.0, r2.toString)
    assert(r2.getDouble(5) == 1.75, r2.toString)
    assert(r2.getDouble(6) == 10.0, r2.toString)
    val empty = Engine.query(spark,
      """SELECT entropy(x) AS e0, mad(x) AS m0, quantile_disc(x, 0.5) AS q0
        |FROM (SELECT CAST(NULL AS DOUBLE) AS x
        |      FROM VALUES (1),(2) AS t(i))""".stripMargin).collect().head
    assert(empty.getDouble(0) == 0.0, empty.toString)
    assert(empty.isNullAt(1) && empty.isNullAt(2), empty.toString)
    // bitstring_agg renders set bits left-indexed from min (probed
    // {1,3,5} over [0,7] → '01010100'); out-of-range values error;
    // the statistics-free 2-arg form errors like DuckDB's binder.
    val bits = Engine.query(spark,
      """SELECT CAST(bitstring_agg(x, 0, 7) AS VARCHAR) AS bs
        |FROM VALUES (1),(3),(5) AS t(x)""".stripMargin).collect().head
    assert(bits.getString(0) == "01010100", bits.toString)
    val oob = intercept[Exception] {
      Engine.query(spark,
        "SELECT bitstring_agg(x, 0, 3) FROM VALUES (9) AS t(x)").collect()
    }
    assert(oob.getMessage != null)
    // r9: the boundless form derives min/max from the group itself
    // (DuckDB needs table statistics for it; same result where its
    // stats exist — probed bitstring_agg over {1,3} = '101')
    val noBounds = Engine.query(spark,
      "SELECT bitstring_agg(x) AS b FROM VALUES (1), (3) AS t(x)")
      .collect().head.getString(0)
    assert(noBounds == "101", noBounds)
    // arbitrary = some value of the group (DuckDB's order-free pick)
    val arb = Engine.query(spark,
      "SELECT arbitrary(x) AS a FROM VALUES (7),(7),(7) AS t(x)")
      .collect().head
    assert(arb.getInt(0) == 7, arb.toString)
  }

  test("regexp/path/md5-number scalar wave (r8, probed 1.0)") {
    val r = Engine.query(spark,
      """SELECT regexp_escape('a b') AS re1, regexp_escape('x+y') AS re2,
        |  regexp_escape('héllo') AS re3,
        |  regexp_full_match('abc', 'ab') AS fm1,
        |  regexp_full_match('abc', 'a.*') AS fm2,
        |  array_to_string(regexp_extract_all('a1b22c333', '[0-9]+'), ',')
        |    AS rall,
        |  array_to_string(regexp_extract_all('a1b22', '([a-z])([0-9])', 2),
        |    ',') AS rg2,
        |  array_to_string(parse_path('/usr/local/f.txt'), '|') AS pp,
        |  array_to_string(parse_path('a//b'), '|') AS pp2,
        |  parse_dirname('/usr/local/f.txt') AS dn1,
        |  parse_dirname('f.txt') AS dn2,
        |  parse_dirpath('/f.txt') AS dp1, parse_dirpath('a/b/') AS dp2,
        |  parse_filename('a/b/c.tar.gz', true) AS fn1,
        |  parse_filename('.hidden', true) AS fn2,
        |  parse_filename('a\\b/c', 'backslash') AS fn3,
        |  CAST(md5_number('abc') AS VARCHAR) AS m0,
        |  CAST(md5_number_lower('abc') AS VARCHAR) AS ml,
        |  CAST(md5_number_upper('abc') AS VARCHAR) AS mu,
        |  CAST(md5_number('b') AS VARCHAR) AS mneg,
        |  like_escape('a%c', 'a$%c', '$') AS le1,
        |  like_escape('abc', 'a$%c', '$') AS le2,
        |  ilike_escape('A%C', 'a$%c', '$') AS il1,
        |  not_like_escape('abc', 'a$%c', '$') AS nl1,
        |  left('hello', -1) AS lf, right('hello', -1) AS rt,
        |  left('hello', 2) AS lf2, right('hello', 2) AS rt2,
        |  right('hello', 0) AS rt0, right('hello', 99) AS rtbig,
        |  CAST(nextafter(1.0, 2.0) AS VARCHAR) AS nx""".stripMargin)
      .collect().head
    assert(r.getString(0) == "a\\ b" && r.getString(1) == "x\\+y" &&
      r.getString(2) == "héllo", r.toString)
    assert(!r.getBoolean(3) && r.getBoolean(4), r.toString)
    assert(r.getString(5) == "1,22,333" && r.getString(6) == "1,2", r.toString)
    assert(r.getString(7) == "/|usr|local|f.txt" &&
      r.getString(8) == "a|b", r.toString)
    assert(r.getString(9) == "/" && r.getString(10) == "", r.toString)
    assert(r.getString(11) == "" && r.getString(12) == "a/b", r.toString)
    assert(r.getString(13) == "c.tar" && r.getString(14) == "" &&
      r.getString(15) == "b/c", r.toString)
    assert(r.getString(16) == "152195979970564155685860391459828531600",
      r.toString)
    assert(r.getString(17) == "8250560606382298838" &&
      r.getString(18) == "12704604231530709392", r.toString)
    // md5_number is a SIGNED little-endian int128 (probed: 'b' is
    // negative in DuckDB)
    assert(r.getString(19) ==
      "-149750030552373788046256512903076123758", r.toString)
    assert(r.getBoolean(20) && !r.getBoolean(21) && r.getBoolean(22) &&
      r.getBoolean(23), r.toString)
    assert(r.getString(24) == "hell" && r.getString(25) == "ello", r.toString)
    assert(r.getString(26) == "he" && r.getString(27) == "lo", r.toString)
    assert(r.getString(28) == "" && r.getString(29) == "hello", r.toString)
    assert(r.getString(30) == "1.0000000000000002", r.toString)
    // DuckDB's array_to_string over an EMPTY list is NULL (probed) —
    // the r8 alignment that caught q_duckdb_funcs5's no-match rows
    val e = Engine.query(spark,
      """SELECT array_to_string(regexp_extract_all('xyz', '[A-Z]'), ',')
        |  AS empty_join""".stripMargin).collect().head
    assert(e.isNullAt(0), e.toString)
  }

  test("date long tail: make_*/julian/day-number grid/ordinals/to_* (r8, probed 1.0)") {
    val r = Engine.query(spark,
      """SELECT make_time(1, 2, 3.0) AS t1, make_time(23, 59, 59.999999) AS t2,
        |  make_time(0, 0, 0.5) AS t3,
        |  CAST(make_timestamp(1700000000123456) AS STRING) AS mtu,
        |  round(julian(DATE '2000-01-01'), 6) AS j0,
        |  round(julian(TIMESTAMP '2000-01-01 12:00:00'), 6) AS jh,
        |  round(julian(DATE '1900-01-01'), 6) AS j19,
        |  CAST(isodow(DATE '2026-08-13') AS INT) AS idw_thu,
        |  CAST(isodow(DATE '2026-08-16') AS INT) AS idw_sun,
        |  CAST(dayofweek(DATE '2026-08-16') AS INT) AS dow_sun,
        |  CAST(weekday(DATE '2026-08-13') AS INT) AS wd_thu,
        |  CAST(isoyear(DATE '2021-01-01') AS INT) AS iy,
        |  CAST(century(DATE '2001-01-01') AS BIGINT) AS c21,
        |  CAST(century(DATE '2000-12-31') AS BIGINT) AS c20,
        |  CAST(decade(DATE '2009-12-31') AS BIGINT) AS dec,
        |  CAST(millennium(DATE '2001-01-01') AS BIGINT) AS mil,
        |  CAST(era(DATE '2026-01-01') AS INT) AS er,
        |  CAST(DATE '2020-01-31' + to_months(1) AS STRING) AS feb,
        |  CAST(TIMESTAMP '2020-01-15 00:00:00' + to_seconds(90.5) AS STRING)
        |    AS t_se,
        |  CAST(TIMESTAMP '2020-01-15 00:00:00' + to_milliseconds(1500)
        |    AS STRING) AS t_ms,
        |  CAST(DATE '2020-01-15' + to_centuries(1) AS STRING) AS t_ce""".stripMargin)
      .collect().head
    assert(r.getString(0) == "01:02:03" && r.getString(1) == "23:59:59.999999"
      && r.getString(2) == "00:00:00.5", r.toString)
    assert(r.getString(3) == "2023-11-14 22:13:20.123456", r.toString)
    assert(r.getDouble(4) == 2451545.0 && r.getDouble(5) == 2451545.5 &&
      r.getDouble(6) == 2415021.0, r.toString)
    // day-number conventions: isodow Mon=1..Sun=7; dayofweek/weekday
    // Sun=0..Sat=6 (2026-08-13 is a Thursday)
    assert(r.getInt(7) == 4 && r.getInt(8) == 7, r.toString)
    assert(r.getInt(9) == 0 && r.getInt(10) == 4, r.toString)
    assert(r.getInt(11) == 2020, r.toString)
    assert(r.getLong(12) == 21L && r.getLong(13) == 20L, r.toString)
    assert(r.getLong(14) == 200L && r.getLong(15) == 3L && r.getInt(16) == 1,
      r.toString)
    // calendar month add clamps to month end (Jan 31 + 1 month = Feb 29)
    assert(r.getString(17).startsWith("2020-02-29"), r.toString)
    assert(r.getString(18) == "2020-01-15 00:01:30.5", r.toString)
    assert(r.getString(19) == "2020-01-15 00:00:01.5", r.toString)
    assert(r.getString(20).startsWith("2120-01-15"), r.toString)
  }

  test("map family: constructor/list-wrapped access/last-wins concat (r8, probed 1.0)") {
    val r = Engine.query(spark,
      """SELECT
        |  CAST(cardinality(map(list_value(1, 2), list_value(10, 20)))
        |    AS BIGINT) AS card,
        |  list_extract(element_at(map(list_value(1, 2), list_value(10, 20)),
        |    1), 1) AS hit,
        |  CAST(len(element_at(map(list_value(1, 2), list_value(10, 20)), 3))
        |    AS INT) AS missn,
        |  list_extract(map_extract(map(list_value(1, 2), list_value(10, 20)),
        |    2), 1) AS mex,
        |  list_extract(element_at(map_concat(
        |    map(list_value('x', 'y'), list_value(1, 2)),
        |    map(list_value('x'), list_value(99))), 'x'), 1) AS lastwin,
        |  array_to_string(map_keys(map(list_value('b', 'a'),
        |    list_value(1, 2))), ',') AS korder,
        |  CAST(element_at(list_value(10, 20), 2) AS INT) AS arr2,
        |  element_at(list_value(10, 20), 9) IS NULL AS arroob,
        |  CAST(cardinality(map_from_entries(array(
        |    named_struct('k', 'a', 'v', 1), named_struct('k', 'b', 'v', 2))))
        |    AS BIGINT) AS mfe""".stripMargin).collect().head
    assert(r.getLong(0) == 2L, r.toString)
    assert(r.getInt(1) == 10, r.toString)
    // missing key → EMPTY list (DuckDB's list-wrapped access shape)
    assert(r.getInt(2) == 0, r.toString)
    assert(r.getInt(3) == 20, r.toString)
    assert(r.getInt(4) == 99, r.toString) // duplicate key: LAST wins
    assert(r.getString(5) == "b,a", r.toString) // insertion order kept
    assert(r.getInt(6) == 20 && r.getBoolean(7), r.toString)
    assert(r.getLong(8) == 2L, r.toString)
    // the >2-arg / scalar form stays Spark's variadic constructor
    val v = Engine.query(spark,
      "SELECT CAST(cardinality(map('a', 1, 'b', 2)) AS BIGINT) AS n")
      .collect().head
    assert(v.getLong(0) == 2L, v.toString)
  }

  test("UNION types: DDL, casts, union_* functions (r8, probed 1.0)") {
    Functions.registerAll(spark)
    Engine.query(spark,
      "CREATE TYPE u_test AS UNION(num INTEGER, str VARCHAR)")
    try {
      val r = Engine.query(spark,
        """SELECT union_tag(CAST(5 AS u_test)) AS t_num,
          |  union_tag(CAST('hi' AS u_test)) AS t_str,
          |  CAST(union_extract(CAST(5 AS u_test), 'num') AS INT) AS v_num,
          |  union_extract(CAST(5 AS u_test), 'str') AS v_inactive,
          |  union_extract(CAST('hi' AS u_test), 'str') AS v_str,
          |  union_tag(union_value(num := 42)) AS anon_t,
          |  CAST(union_extract(union_value(num := 42), 'num') AS INT)
          |    AS anon_v,
          |  union_tag(CAST(NULL AS u_test)) IS NULL AS null_t""".stripMargin)
        .collect().head
      assert(r.getString(0) == "num" && r.getString(1) == "str", r.toString)
      assert(r.getInt(2) == 5, r.toString)
      assert(r.isNullAt(3), r.toString) // inactive member reads NULL
      assert(r.getString(4) == "hi", r.toString)
      assert(r.getString(5) == "num" && r.getInt(6) == 42, r.toString)
      assert(r.getBoolean(7), r.toString)
      // member dot access through the struct model
      val dot = Engine.query(spark,
        "SELECT (CAST(5 AS u_test)).num AS m, (CAST(5 AS u_test)).str AS s")
        .collect().head
      assert(dot.getInt(0) == 5 && dot.isNullAt(1), dot.toString)
      // unknown key errors like DuckDB's "Could not find key in union"
      val bad = intercept[Exception] {
        Engine.query(spark,
          "SELECT union_extract(union_value(num := 5), 'other')").collect()
      }
      assert(bad.getMessage != null)
      // duplicate definition rejected; IF NOT EXISTS tolerated
      intercept[Exception] {
        Engine.query(spark, "CREATE TYPE u_test AS UNION(x INTEGER)")
      }
      Engine.query(spark,
        "CREATE TYPE IF NOT EXISTS u_test AS UNION(x INTEGER)")
      // postfix-cast form and DECIMAL member with inner comma
      Engine.query(spark,
        "CREATE TYPE u_dec AS UNION(d DECIMAL(10,2), s VARCHAR)")
      val pf = Engine.query(spark,
        "SELECT union_tag(7.25::u_dec) AS t").collect().head
      assert(pf.getString(0) == "d", pf.toString)
      Engine.query(spark, "DROP TYPE u_dec")
    } finally {
      Engine.query(spark, "DROP TYPE u_test")
      intercept[Exception] {
        Engine.query(spark, "DROP TYPE u_test")
      }
    }
  }

  test("misc vocabulary: typeof/error/uuid/txid_current/current_setting (r8)") {
    val r = Engine.query(spark,
      """SELECT typeof(map(list_value(1), list_value('a'))) AS ty_m,
        |  typeof(named_struct('a', 1)) AS ty_st,
        |  uuid() AS u1, uuid() AS u2, gen_random_uuid() AS g1,
        |  CAST(txid_current() AS BIGINT) AS tx,
        |  current_setting('sql.session.timeZone') AS tz""".stripMargin)
      .collect().head
    assert(r.getString(0) == "MAP(INTEGER, VARCHAR)", r.toString)
    assert(r.getString(1) == "STRUCT(a INTEGER)", r.toString)
    val uuidRe = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    assert(r.getString(2).matches(uuidRe), r.toString)
    assert(r.getString(2) != r.getString(3), r.toString)
    assert(r.getString(4).matches(uuidRe), r.toString)
    assert(r.getLong(5) > 0L, r.toString)
    assert(r.getString(6) == "UTC", r.toString)
    // txid is stable within a statement, and each statement takes one
    val t2 = Engine.query(spark,
      "SELECT CAST(txid_current() AS BIGINT) AS a, CAST(txid_current() AS BIGINT) AS b")
      .collect().head
    assert(t2.getLong(0) == t2.getLong(1), t2.toString)
    assert(t2.getLong(0) == r.getLong(5) + 1, s"${t2.getLong(0)} vs ${r.getLong(5)}")
    // error() raises; unknown setting errors like DuckDB's message
    val err = intercept[Exception] {
      Engine.query(spark, "SELECT error('boom') AS e").collect()
    }
    assert(err.getMessage.contains("boom"), err.getMessage)
    val unk = intercept[Exception] {
      Engine.query(spark, "SELECT current_setting('no_such_setting_xyz')")
    }
    assert(unk.getMessage.contains("unrecognized"), unk.getMessage)
  }

  test("column DDL: RENAME/DROP COLUMN, ALTER TYPE (copy-on-write rebuild)") {
    def q(s: String) = Engine.query(spark, s)
    q("DROP TABLE IF EXISTS cddl")
    q("CREATE TABLE cddl (k INT PRIMARY KEY, v VARCHAR, w DOUBLE)")
    q("INSERT INTO cddl VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    q("ALTER TABLE cddl RENAME COLUMN v TO v2")
    assert(q("SELECT * FROM cddl").columns.toSeq == Seq("k", "v2", "w"))
    // values survive the rebuild
    assert(q("SELECT v2 FROM cddl WHERE k = 1").collect().head
      .getString(0) == "a")
    q("ALTER TABLE cddl DROP COLUMN w")
    assert(q("SELECT * FROM cddl").columns.toSeq == Seq("k", "v2"))
    // IF EXISTS tolerates a missing column; bare form errors
    q("ALTER TABLE cddl DROP COLUMN IF EXISTS nope")
    intercept[Exception](q("ALTER TABLE cddl DROP COLUMN nope"))
    // DuckDB's SET DATA TYPE spelling, pg alias mapped
    q("ALTER TABLE cddl ALTER COLUMN k SET DATA TYPE int8")
    assert(q("SELECT * FROM cddl").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    // ... and a USING expression
    q("ALTER TABLE cddl ALTER v2 TYPE INT USING length(v2)")
    assert(q("SELECT v2 FROM cddl WHERE k = 2").collect().head.getInt(0) == 1)
    // a renamed PK column keeps powering the recorded-PK upsert forms
    q("DROP TABLE IF EXISTS cddl2")
    q("CREATE TABLE cddl2 (id INT PRIMARY KEY, x VARCHAR)")
    q("INSERT INTO cddl2 VALUES (1, 'a')")
    q("ALTER TABLE cddl2 RENAME COLUMN id TO id2")
    assert(TableConstraints.pkOf("cddl2").contains(Seq("id2")))
    q("DROP TABLE cddl")
    q("DROP TABLE cddl2")
  }

  test("EXPLAIN [ANALYZE] statement: DuckDB two-column result shape") {
    def q(s: String) = Engine.query(spark, s)
    Tables.registerAll(spark, sfDir)
    // plain EXPLAIN: (explain_key, explain_value), no execution
    val e1 = q("EXPLAIN SELECT n_name FROM nation WHERE n_nationkey < 3")
    assert(e1.columns.toSeq == Seq("explain_key", "explain_value"))
    val r1 = e1.collect()
    assert(r1.length == 1 && r1.head.getString(0) == "physical_plan")
    assert(r1.head.getString(1).contains("Scan"), r1.head.getString(1).take(200))
    // the pushed filter is visible in the plan text (scan-level pruning)
    assert(r1.head.getString(1).contains("PushedFilters"),
      "formatted plan should show parquet pushdown")
    // EXPLAIN ANALYZE executes and reports the final plan
    val r2 = q("EXPLAIN ANALYZE SELECT count(*) AS c FROM nation").collect()
    assert(r2.length == 1 && r2.head.getString(0) == "analyzed_plan")
    // graft sugar inside the explained statement still rewrites
    val r3 = q("EXPLAIN SELECT doc_id FROM documents QUALIFY " +
      "row_number() OVER (ORDER BY doc_id) <= 2").collect()
    assert(r3.head.getString(0) == "physical_plan")
    // pg option-list spelling; ANALYZE inside the parens
    val r4 = q("EXPLAIN (ANALYZE) SELECT 1 AS one").collect()
    assert(r4.head.getString(0) == "analyzed_plan")
    // Spark's own spellings pass through untouched (one `plan` column)
    assert(q("EXPLAIN FORMATTED SELECT 1 AS one").columns.toSeq == Seq("plan"))
    // DML under EXPLAIN is rejected loudly, never executed
    q("DROP TABLE IF EXISTS expl_t")
    q("CREATE TABLE expl_t (k INT)")
    q("INSERT INTO expl_t VALUES (1)")
    intercept[IllegalArgumentException](q("EXPLAIN DELETE FROM expl_t"))
    assert(q("SELECT count(*) AS c FROM expl_t").collect().head.getLong(0) == 1L,
      "EXPLAIN of DML must not execute the DML")
    q("DROP TABLE expl_t")
  }

  test("double-quoted identifiers: spaces, reserved words, full DDL-to-query path") {
    def q(sql: String) = Engine.query(spark, sql)
    q("""CREATE TABLE dqi_t ("my col" INT, "select" INT)""")
    q("INSERT INTO dqi_t VALUES (1, 2)")
    val r = q("""SELECT "my col", "select" FROM dqi_t WHERE "my col" = 1""")
      .collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == 2)
    assert(q("""SELECT 1 AS "a b"""").columns.toSeq == Seq("a b"))
    // double quotes are NEVER string literals (pg/DuckDB rule)
    val lit = q("""SELECT 'text''s' AS v""").collect().head
    assert(lit.getString(0) == "text's")
    q("DROP TABLE dqi_t")
  }

  test("SQL-level PREPARE / EXECUTE / DEALLOCATE") {
    def q(sql: String) = Engine.query(spark, sql)
    q("PREPARE cs_p1 AS SELECT $1::INT + $2::INT AS v, $1::INT AS w")
    val r = q("EXECUTE cs_p1(40, 2)").collect().head
    assert(r.getInt(0) == 42 && r.getInt(1) == 40)
    q("PREPARE cs_p2 AS SELECT upper(?) AS v")
    assert(q("EXECUTE cs_p2('ab')").collect().head.getString(0) == "AB")
    // $N inside a string literal is data, not a parameter
    q("PREPARE cs_p3 AS SELECT '$1' AS v, ? AS w")
    val s = q("EXECUTE cs_p3(7)").collect().head
    assert(s.getString(0) == "$1" && s.getInt(1) == 7)
    q("DEALLOCATE cs_p1")
    val e = intercept[IllegalArgumentException](q("EXECUTE cs_p1(1, 2)"))
    assert(e.getMessage.contains("does not exist"))
    // re-PREPARE replaces; per-session isolation matches DuckDB's
    // per-connection statements
    q("PREPARE cs_p2 AS SELECT lower(?) AS v")
    assert(q("EXECUTE cs_p2('AB')").collect().head.getString(0) == "ab")
    q("DEALLOCATE cs_p2"); q("DEALLOCATE PREPARE cs_p3")
  }

  test("UNION [ALL] BY NAME, TRUNCATE, INSERT DEFAULT VALUES, list_aggregate extras") {
    def q(sql: String) = Engine.query(spark, sql)
    // name-based union: reordered columns align, missing ones NULL-pad
    val u = q("SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 9 AS a ORDER BY a")
      .collect()
    assert(u.map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getInt(1)))
      .toSeq == Seq((1, 2), (9, null)))
    assert(q("SELECT count(*) AS c FROM " +
      "(SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 2 AS b, 1 AS a)")
      .collect().head.getLong(0) == 2L)
    // non-ALL dedups
    assert(q("SELECT 1 AS a UNION BY NAME SELECT 1 AS a").count() == 1L)
    q("CREATE TABLE cmp_tr (a INT)")
    q("INSERT INTO cmp_tr VALUES (1), (2)")
    assert(q("TRUNCATE cmp_tr").collect().head.getLong(0) == 2L)
    assert(q("SELECT count(*) c FROM cmp_tr").collect().head.getLong(0) == 0L)
    q("DROP TABLE cmp_tr")
    q("CREATE TABLE cmp_dv (a INT, c VARCHAR DEFAULT 'dv')")
    q("INSERT INTO cmp_dv DEFAULT VALUES")
    val d = q("SELECT * FROM cmp_dv").collect().head
    assert(d.isNullAt(0) && d.getString(1) == "dv")
    q("DROP TABLE cmp_dv")
    assert(q("SELECT list_aggregate(['a', NULL, 'b'], 'string_agg', '|') v")
      .collect().head.getString(0) == "a|b")
  }

  test("recursive UNION dedup-fixpoint, MATERIALIZED hints, series column aliases") {
    def q(sql: String) = Engine.query(spark, sql)
    // UNION (distinct) recursion terminates on cycles — Spark's
    // native recursion only takes UNION ALL
    assert(q("WITH RECURSIVE r(n) AS (SELECT 1 UNION " +
      "SELECT (n % 3) + 1 FROM r) SELECT count(*) AS c FROM r")
      .collect().head.getLong(0) == 3L)
    assert(q("WITH RECURSIVE f(a, b) AS (SELECT 0, 1 UNION " +
      "SELECT b, a + b FROM f WHERE b < 10) " +
      "SELECT max(b) AS m FROM f").collect().head.getInt(0) == 13)
    // materialization hints strip (Spark picks its own strategy)
    assert(q("WITH m AS MATERIALIZED (SELECT 1 AS a) SELECT * FROM m")
      .collect().head.getInt(0) == 1)
    assert(q("WITH m AS NOT MATERIALIZED (SELECT 2 AS a) SELECT * FROM m")
      .collect().head.getInt(0) == 2)
    // t(x) column-alias on the series TVF
    assert(q("SELECT x FROM generate_series(1, 5) t(x) WHERE x % 2 = 0")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 4L))
  }

  test("DESCRIBE answers DuckDB's six-column shape with DuckDB type names") {
    val r = Engine.query(spark, "DESCRIBE SELECT 1 AS a, 'x' AS b").collect()
    assert(r.map(x => (x.getString(0), x.getString(1), x.getString(2)))
      .toSeq == Seq(("a", "INTEGER", "YES"), ("b", "VARCHAR", "YES")))
    Engine.query(spark, "CREATE TABLE dsc_t (k BIGINT, v VARCHAR)")
    val t = Engine.query(spark, "DESCRIBE dsc_t").collect()
    assert(t.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("k", "BIGINT"), ("v", "VARCHAR")))
    assert(Engine.query(spark, "DESC TABLE dsc_t").count() == 2)
    Engine.query(spark, "DROP TABLE dsc_t")
  }

  test("RETURNING on INSERT/UPDATE/DELETE") {
    def q(sql: String) = Engine.query(spark, sql)
    q("CREATE TABLE ret_t (a INT, b VARCHAR, c VARCHAR DEFAULT 'dv')")
    // INSERT returns the inserted rows, defaults filled
    val ins = q("INSERT INTO ret_t (a, b) VALUES (1, 'x'), (2, 'y') RETURNING *")
      .collect()
    assert(ins.map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq == Seq((1, "x", "dv"), (2, "y", "dv")))
    // UPDATE returns the NEW values of matched rows
    val upd = q("UPDATE ret_t SET b = b || '!' WHERE a = 1 RETURNING a, b")
      .collect()
    assert(upd.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x!")))
    // DELETE returns the removed rows
    val del = q("DELETE FROM ret_t WHERE a = 2 RETURNING b").collect()
    assert(del.map(_.getString(0)).toSeq == Seq("y"))
    assert(q("SELECT count(*) c FROM ret_t").collect().head.getLong(0) == 1L)
    // 'RETURNING' inside a string literal is data
    q("INSERT INTO ret_t (a, b) VALUES (9, ' RETURNING x ')")
    assert(q("SELECT count(*) c FROM ret_t").collect().head.getLong(0) == 2L)
    q("DROP TABLE ret_t")
  }

  test("RETURNING on UPDATE ... FROM / DELETE ... USING (flat-join DML)") {
    // probed on 1.0: the source table is NOT in RETURNING scope;
    // UPDATE returns NEW target values, DELETE the removed target rows
    def q(sql: String) = Engine.query(spark, sql)
    q("CREATE TABLE rfj_t (id INT, v INT)")
    q("INSERT INTO rfj_t VALUES (1, 10), (2, 20), (3, 30)")
    q("CREATE TABLE rfj_u (id INT, w INT)")
    q("INSERT INTO rfj_u VALUES (2, 200), (3, 300)")
    val upd = q("UPDATE rfj_t SET v = v + u.w FROM rfj_u u " +
      "WHERE rfj_t.id = u.id AND u.w < 250 RETURNING id, v").collect()
    assert(upd.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((2, 220)))
    val del = q("DELETE FROM rfj_t USING rfj_u u " +
      "WHERE rfj_t.id = u.id AND u.w > 250 RETURNING *").collect()
    assert(del.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((3, 30)))
    // the DML really happened
    assert(q("SELECT id, v FROM rfj_t ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 10), (2, 220)))
    q("DROP TABLE rfj_t"); q("DROP TABLE rfj_u")
  }

  test("SET VARIABLE / getvariable / RESET VARIABLE (DuckDB v1.1 surface)") {
    def q(sql: String) = Engine.query(spark, sql)
    q("SET VARIABLE cs_v = 40 + 2")
    assert(q("SELECT getvariable('cs_v') AS v").collect().head.getInt(0) == 42)
    q("SET VARIABLE cs_s = 'hello'")
    assert(q("SELECT getvariable('cs_s') || '!' AS v")
      .collect().head.getString(0) == "hello!")
    // re-SET replaces; the value expression evaluated ONCE at SET time
    q("SET VARIABLE cs_v = 7")
    assert(q("SELECT getvariable('cs_v') * 2 AS v")
      .collect().head.getInt(0) == 14)
    q("RESET VARIABLE cs_v")
    assert(q("SELECT getvariable('cs_v') IS NULL AS v")
      .collect().head.getBoolean(0))
    q("RESET VARIABLE cs_s")
  }

  test("macro parameter name colliding with a qualified column") {
    spark.sql(
      "CREATE OR REPLACE TEMP VIEW mq_t AS SELECT * FROM VALUES (1),(2),(3) AS t(doc_id)")
    // body uses BOTH the qualified column t.doc_id (must stay a column
    // reference) and the bare parameter doc_id (must substitute)
    Engine.query(spark, "CREATE MACRO mq_pick(doc_id) AS TABLE " +
      "SELECT t.doc_id FROM mq_t t WHERE t.doc_id = doc_id")
    val r = Engine.query(spark, "SELECT * FROM mq_pick(2)").collect()
    assert(r.length == 1 && r.head.getInt(0) == 2, r.mkString(","))
    Engine.query(spark, "DROP MACRO mq_pick")
  }
}
