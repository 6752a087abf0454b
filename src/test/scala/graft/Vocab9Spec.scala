package graft

import org.apache.spark.sql.Row

/** Round-9 conformance-wave value pins. Every expected value below was
  * probed on DuckDB v1.0 (see DuckVocab9 / GraftCall scaladoc); the
  * whole duckdb_functions() corpus replays via `graft.tools.Probe sql` +
  * tools/conformance_corpus.tsv (466/466 OK as of r9).
  */
class Vocab9Spec extends SparkSpecBase {

  private def one(sql: String): Row =
    Engine.query(spark, sql).collect().head

  test("arithmetic-as-function family (probed)") {
    val r = one("SELECT add(7,3) a, add(7) b, subtract(7,3) c, subtract(7) d, " +
      "multiply(7,3) e, divide(7,2) f, divide(-7,2) g, divide(7,0) h")
    assert(r.getInt(0) == 10 && r.getInt(1) == 7 && r.getInt(2) == 4)
    assert(r.getInt(3) == -7 && r.getInt(4) == 21)
    assert(r.getInt(5) == 3 && r.getInt(6) == -3 && r.isNullAt(7))
    val f = one("SELECT divide(7.5,2) a, fdiv(-7,2) b, fmod(-7,2) c, " +
      "fmod(7,-2) d, fmod(-7.5,2) e")
    assert(f.getDouble(0) == 3.75 && f.getDouble(1) == -4.0)
    assert(f.getDouble(2) == 1.0 && f.getDouble(3) == -1.0 && f.getDouble(4) == 0.5)
  }

  test("numeric long tail: trunc/round_even/gamma/lgamma (probed)") {
    val r = one("SELECT trunc(2.7) a, trunc(-2.7) b, " +
      "CAST(round_even(2.515,2) AS DOUBLE) c, " +
      "CAST(round_even(2.5,0) AS DOUBLE) d, " +
      "CAST(roundbankers(3.5,0) AS DOUBLE) e, gamma(5.0) f, lgamma(5.0) g")
    assert(r.getLong(0) == 2L && r.getLong(1) == -2L)
    assert(r.getDouble(2) == 2.52 && r.getDouble(3) == 2.0 && r.getDouble(4) == 4.0)
    assert(math.abs(r.getDouble(5) - 24.0) < 1e-9)
    assert(math.abs(r.getDouble(6) - math.log(24.0)) < 1e-9)
  }

  test("string long tail: editdist3/strlen/graphemes (probed)") {
    val r = one("SELECT editdist3('abc','adc') a, strlen('héllo') b, " +
      "prefix('abcdef','abc') c, suffix('abcdef','def') d, " +
      "length_grapheme('héllo') e, left_grapheme('héllo',2) f, " +
      "right_grapheme('héllo',2) g, substring_grapheme('héllo',2,3) h, " +
      "substring_grapheme('hello',3) i")
    assert(r.getInt(0) == 1 && r.getInt(1) == 6)
    assert(r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) == 5 && r.getString(5) == "hé" && r.getString(6) == "lo")
    assert(r.getString(7) == "éll" && r.getString(8) == "llo")
  }

  test("regexp_extract defaults to group 0 (probed)") {
    // single backslash: '...' literals are now DuckDB-literal
    // (escapedStringLiterals) — '(\\d+)' would NOT match, in either
    // engine
    val r = one("SELECT regexp_extract('abc-123', '([a-z]+)-(\\d+)') a, " +
      "regexp_extract('abc-123', '([a-z]+)-(\\d+)', 2) b")
    assert(r.getString(0) == "abc-123" && r.getString(1) == "123")
  }

  test("list stats: product/entropy/median/mad/mode (probed)") {
    val r = one("SELECT list_product([2.0,3,4]) a, list_product([2.0,NULL]) b, " +
      "list_entropy([1,1,2]) c, list_entropy([5]) d, " +
      "list_median([1,2,3,10]) e, list_mad([1,2,4,10]) f, " +
      "list_mode([3,3,1,1]) g, list_mode([1,2,2,3,3]) h")
    assert(r.getDouble(0) == 24.0 && r.getDouble(1) == 2.0)
    assert(math.abs(r.getDouble(2) - 0.9182958340544896) < 1e-12)
    assert(r.getDouble(3) == 0.0)
    assert(r.getDouble(4) == 2.5 && r.getDouble(5) == 1.5)
    assert(r.getInt(6) == 3 && r.getInt(7) == 2)
  }

  test("list moments match the aggregate estimators (probed)") {
    val r = one("SELECT list_sem([1.0,2,3]) a, list_skewness([1.0,2,3,10]) b, " +
      "list_kurtosis([1.0,2,3,10]) c, list_kurtosis_pop([1.0,2,3,10]) d, " +
      "list_stddev_pop([1.0,2,3]) e, list_var_samp([1.0,2,3]) f")
    assert(math.abs(r.getDouble(0) - 0.4714045207910317) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.763632614803888) < 1e-12)
    assert(math.abs(r.getDouble(2) - 3.228) < 1e-10)
    assert(math.abs(r.getDouble(3) - (-0.7696)) < 1e-10)
    assert(math.abs(r.getDouble(4) - 0.816496580927726) < 1e-12)
    assert(r.getDouble(5) == 1.0)
  }

  test("list misc: string_agg/bit folds/histogram/resize/unique (probed)") {
    val r = one("SELECT list_string_agg([1,NULL,3]) a, list_bit_and([3,5]) b, " +
      "list_bit_or([1,2]) c, list_bit_xor([3,5]) d, " +
      "list_histogram([1,1,2]) e, list_resize([1,2],4,9) f, " +
      "list_resize([1,2],0) g, array_unique([1,1,2,NULL]) h, " +
      "list_approx_count_distinct([1,1,2,3]) i")
    assert(r.getString(0) == "1,3")
    assert(r.getLong(1) == 1L && r.getLong(2) == 3L && r.getLong(3) == 6L)
    assert(r.getMap[Int, Long](4) == Map(1 -> 2L, 2 -> 1L))
    assert(r.getSeq[Int](5) == Seq(1, 2, 9, 9))
    assert(r.getSeq[Int](6) == Seq.empty)
    assert(r.getInt(7) == 2 && r.getLong(8) == 3L)
  }

  test("array vocabulary: pops/pushes/extract/cross/grade (probed)") {
    val r = one("SELECT array_pop_back([1,2,3]) a, array_pop_front([1,2,3]) b, " +
      "array_pop_back('abc') c, array_push_front([1,2],9) d, " +
      "array_extract('abc',2) e, array_indexof([9,8,7],8) f, " +
      "array_indexof([9,8],5) g, grade_up([30,10,20]) h, " +
      "array_cross_product([CAST(1.0 AS DOUBLE),2,3],[CAST(4.0 AS DOUBLE),5,6]) i, " +
      "array_has_all([1,2,3],[2,3]) j")
    assert(r.getSeq[Int](0) == Seq(1, 2) && r.getSeq[Int](1) == Seq(2, 3))
    assert(r.getString(2) == "ab")
    assert(r.getSeq[Int](3) == Seq(9, 1, 2) && r.getString(4) == "b")
    assert(r.getLong(5) == 2L && r.getLong(6) == 0L)
    assert(r.getSeq[Int](7) == Seq(2, 3, 1))
    assert(r.getSeq[Double](8) == Seq(-3.0, 6.0, -3.0))
    assert(r.getBoolean(9))
  }

  test("lambda polymorphism: truthy filter, seed-first reduce (probed)") {
    val r = one("SELECT filter([3,1,2], x -> x + 1) a, " +
      "reduce([1,2,3],(a,b)->a+b) b, apply([1,2],x->x+1) c, " +
      "reduce([1,2,3], 10, (a,b)->a+b) d")
    assert(r.getSeq[Int](0) == Seq(3, 1, 2)) // nonzero ints are truthy
    assert(r.getInt(1) == 6)
    assert(r.getSeq[Int](2) == Seq(2, 3))
    assert(r.getInt(3) == 16) // 3-arg keeps Spark's zero-seeded fold
  }

  test("aggregate wave: arg nulls, count_if, quantile, sem (probed)") {
    val r = one("SELECT arg_max(x,y) a, arg_max_null(x,y) b " +
      "FROM VALUES ('a',1),(NULL,99) t(x,y)")
    assert(r.getString(0) == "a" && r.isNullAt(1))
    val s = one("SELECT count_star() a, count_if(7) b, count_if(0) c, " +
      "geometric_mean(x) d, sem(x) e, kurtosis_pop(x) f " +
      "FROM VALUES (1.0),(2.0),(3.0),(10.0) t(x)")
    assert(s.getLong(0) == 4L && s.getLong(1) == 4L && s.getLong(2) == 0L)
    assert(math.abs(s.getDouble(3) - math.pow(60.0, 0.25)) < 1e-9)
    assert(math.abs(s.getDouble(4) - 1.7677669529663689) < 1e-12)
    assert(math.abs(s.getDouble(5) - (-0.7696)) < 1e-10)
    val q = one("SELECT quantile(x, 0.5) a, quantile(x, [0.25,0.5]) b, " +
      "reservoir_quantile(x, 0.5, 100) c FROM VALUES (10),(1),(3),(2) t(x)")
    assert(q.getInt(0) == 2 && q.getSeq[Int](1) == Seq(1, 2) && q.getInt(2) == 2)
    val h = one("SELECT histogram(x) h FROM VALUES ('b'),('a'),('b') t(x)")
    assert(h.getMap[String, Long](0) == Map("a" -> 1L, "b" -> 2L))
    val g = one("SELECT list(x) a, group_concat(x) b, listagg(x) c " +
      "FROM VALUES ('a'),('b') t(x)")
    assert(g.getSeq[String](0) == Seq("a", "b") && g.getString(1) == "a,b")
    assert(g.getString(2) == "a,b")
  }

  test("bit folds are BIT-string polymorphic (probed)") {
    val r = one("SELECT bit_xor(b) x, bit_and(b) a, bit_or(b) o " +
      "FROM VALUES ('0101'),('0011') t(b)")
    assert(r.getString(0) == "0110" && r.getString(1) == "0001")
    assert(r.getString(2) == "0111")
    // integer groups keep the native fold and the input type
    val i = one("SELECT bit_and(x) a, bit_or(x) o, bit_xor(x) e " +
      "FROM VALUES (3),(5) t(x)")
    assert(i.getInt(0) == 1 && i.getInt(1) == 7 && i.getInt(2) == 6)
    val b = one("SELECT bitstring_agg(x) s FROM VALUES (1),(3) t(x)")
    assert(b.getString(0) == "101")
  }

  test("age: pg-style calendar decomposition (validated 400/400 vs DuckDB)") {
    def ageStr(a: String, b: String): String =
      one(s"SELECT CAST(age(TIMESTAMP '$a', TIMESTAMP '$b') AS STRING) s")
        .getString(0)
    // rendering is DuckDB's own interval text (r10: the CAST AS
    // STRING path now routes through DuckIntervalString)
    assert(ageStr("2024-03-30 23:00:00", "2024-01-31 00:00:00")
      == "1 month 30 days 23:00:00")
    assert(ageStr("2024-03-31 00:00:00", "2024-01-31 00:00:00") == "2 months")
    assert(ageStr("2024-03-01 00:00:00", "2023-12-31 23:59:59")
      == "2 months 00:00:01")
    assert(ageStr("2023-01-10 05:00:00", "2024-03-15 10:30:00")
      == "-1 year -2 months -5 days -05:30:00")
  }

  test("time/epoch family over TIME and INTERVAL (probed)") {
    val r = one("SELECT microsecond(TIMESTAMP '2024-03-15 10:30:45.123456') a, " +
      "millisecond(TIMESTAMP '2024-03-15 10:30:45.123456') b, " +
      "epoch_ns(TIMESTAMP '2024-03-15 10:30:45.123456') c, " +
      "epoch(TIME '10:30:45') d, epoch_ms(TIME '10:30:45') e, " +
      "epoch_ns(TIME '10:30:45') f, microsecond(TIME '10:30:45.25') g, " +
      "epoch_us(INTERVAL '2' DAY) h, epoch_ns(INTERVAL '1' MONTH) i")
    assert(r.getLong(0) == 45123456L && r.getLong(1) == 45123L)
    assert(r.getLong(2) == 1710498645123456000L)
    assert(r.getDouble(3) == 37845.0 && r.getLong(4) == 37845000L)
    assert(r.getLong(5) == 37845000000000L && r.getLong(6) == 45250000L)
    assert(r.getLong(7) == 172800000000L && r.getLong(8) == 2592000000000000L)
  }

  test("interval dateparts and misc time (probed)") {
    val r = one("SELECT dayofmonth(INTERVAL '45' DAY) a, " +
      "second(INTERVAL '100' SECOND) b, second(INTERVAL '2' DAY) c, " +
      "timezone(TIMESTAMP '2024-03-15 10:30:00') d, " +
      "timetz_byte_comparable(TIMETZ '10:30:45') e, " +
      "CAST(to_quarters(3) AS STRING) f")
    assert(r.getLong(0) == 45L && r.getLong(1) == 40L && r.getLong(2) == 0L)
    assert(r.getLong(3) == 0L)
    assert(r.getLong(4) == 1601284603904057599L)
    assert(r.getString(5) == "9 months")
    val t = one("SELECT try_strptime('2024-03-15', '%Y-%m-%d') a, " +
      "try_strptime('nope', '%Y-%m-%d') b, " +
      "try_strptime('2024-03-15', ['%Y.%m.%d', '%Y-%m-%d']) c")
    assert(t.getTimestamp(0).toString == "2024-03-15 00:00:00.0")
    assert(t.isNullAt(1))
    assert(t.getTimestamp(2).toString == "2024-03-15 00:00:00.0")
  }

  test("JSON family (probed: DuckDB type names, 0-based array paths)") {
    val r = one("SELECT json('{\"a\": 1 }') a, json_type('-1') b, " +
      "json_type('1') c, json_type('{\"a\":1}') d, " +
      "json_extract('{\"a\":{\"b\":7}}','$.a.b') e, json_extract('[1,2]',1) f, " +
      "json_extract_string('{\"a\":\"hi\"}','$.a') g, " +
      "json_extract('{\"a\":[1,2]}','/a/1') h")
    assert(r.getString(0) == "{\"a\":1}")
    assert(r.getString(1) == "BIGINT" && r.getString(2) == "UBIGINT")
    assert(r.getString(3) == "OBJECT")
    assert(r.getString(4) == "7" && r.getString(5) == "2")
    assert(r.getString(6) == "hi" && r.getString(7) == "2")
    val s = one("SELECT json_keys('{\"a\":1,\"b\":2}') a, json_valid('nope') b, " +
      "json_array_length('[1,2,3]') c, json_contains('{\"a\":1}','1') d, " +
      "json_contains('[1,2]','5') e, json_structure('{\"a\":1,\"b\":[1,2]}') f, " +
      "json_structure('[1,\"a\"]') g")
    assert(s.getSeq[String](0) == Seq("a", "b"))
    assert(!s.getBoolean(1) && s.getLong(2) == 3L)
    assert(s.getBoolean(3) && !s.getBoolean(4))
    assert(s.getString(5) == "{\"a\":\"UBIGINT\",\"b\":[\"UBIGINT\"]}")
    assert(s.getString(6) == "[\"JSON\"]")
    val c = one("SELECT json_array(1,'a',NULL) a, json_object('a',1,'b','x') b")
    assert(c.getString(0) == "[1,\"a\",null]")
    assert(c.getString(1) == "{\"a\":1,\"b\":\"x\"}")
    val g = one("SELECT json_group_array(x) a, json_group_object(k,v) b " +
      "FROM VALUES (1,'a',10),(2,'b',20) t(x,k,v)")
    assert(g.getString(0) == "[1,2]" && g.getString(1) == "{\"a\":10,\"b\":20}")
  }

  test("pg_catalog shims and diagnostics (probed)") {
    val r = one("SELECT pg_typeof(7) a, pg_typeof('x') b, format_type(25,NULL) c, " +
      "format_pg_type('integer',NULL) d, pg_size_pretty(1234567) e, " +
      "pg_table_is_visible(0) f, has_table_privilege('t','SELECT') g, " +
      "col_description(1,1) h, current_schemas(true) i, " +
      "in_search_path('main','x') j")
    assert(r.getString(0) == "integer" && r.getString(1) == "varchar")
    assert(r.getString(2) == "varchar" && r.getString(3) == "int4")
    assert(r.getString(4) == "1205.6 kB")
    assert(r.getBoolean(5) && r.getBoolean(6) && r.isNullAt(7))
    // r11: one 'main' per search-path catalog (memory+system+temp),
    // probed ['main','main','main','pg_catalog']
    assert(r.getSeq[String](8) == Seq("main", "main", "main", "pg_catalog"))
    assert(r.getBoolean(9))
    val m = one("SELECT stats(7) a, vector_type(7) b, alias(7) c, " +
      "greatest(7) d, generate_series(3) e")
    assert(m.getString(0) ==
      "[Min: 7, Max: 7][Has Null: false, Has No Null: true][Approx Unique: 1]")
    // r11: alias() resolves the ENCLOSING projection alias (probed:
    // `alias(7) c` = 'c'; bare `SELECT alias(7) FROM …` stays '7')
    assert(m.getString(1) == "CONSTANT_VECTOR" && m.getString(2) == "c")
    assert(m.getInt(3) == 7 && m.getSeq[Long](4) == Seq(0L, 1L, 2L, 3L))
  }

  test("current_query reflects the executing statement") {
    val sql = "SELECT current_query() AS q"
    assert(one(sql).getString(0) == sql)
  }

  test("operator spellings: // int-div, ** and ^ power (probed)") {
    val r = one("SELECT 7 // 2 a, -7 // 2 b, 7.5 // 2 c, 2 ** 3 d, " +
      "2 ** -1 e, -2 ** 2 f, 2 ^ 3 g, 2 ^ 2 ^ 3 h, " +
      "(1+6) // 2 i, abs(-7) // 2 j, 3 * 2 ** 2 k")
    assert(r.getInt(0) == 3 && r.getInt(1) == -3 && r.getDouble(2) == 3.75)
    assert(r.getDouble(3) == 8.0 && r.getDouble(4) == 0.5 && r.getDouble(5) == 4.0)
    assert(r.getDouble(6) == 8.0 && r.getDouble(7) == 64.0) // left-assoc
    assert(r.getInt(8) == 3 && r.getInt(9) == 3 && r.getDouble(10) == 12.0)
    // regex strings keep their carets
    val s2 = one("SELECT regexp_matches('abc', '^a') m")
    assert(s2.getBoolean(0))
  }

  test("brace literals: structs, MAP, nesting, subscripts (probed)") {
    val r = one("SELECT {'a': 1, 'b': 'x'} AS s, MAP {'k1': 5, 'k2': 7} AS m, " +
      "{'a': {'b': 2}} AS nested, {'a': [1,2]} AS withlist, " +
      "{'a': 1}['a'] AS sub, MAP {'k': 9}['k'] AS msub, " +
      "cardinality(MAP {'k1': 5, 'k2': 7}) AS card")
    assert(r.getStruct(0).getInt(0) == 1 && r.getStruct(0).getString(1) == "x")
    assert(r.getMap[String, Int](1) == Map("k1" -> 5, "k2" -> 7))
    assert(r.getStruct(2).getStruct(0).getInt(0) == 2)
    assert(r.getStruct(3).getSeq[Int](0) == Seq(1, 2))
    assert(r.getInt(4) == 1)
    assert(r.getSeq[Int](5) == Seq(9)) // map subscript is LIST-wrapped
    assert(r.getInt(6) == 2)
  }

  test("named-arg sugar and struct vocabulary (probed)") {
    val r = one("SELECT struct_pack(a := 1, b := 'x') AS sp, " +
      "struct_insert({'a': 1}, b := 2) AS si, " +
      "struct_extract({'a': 1, 'b': 'x'}, 'b') AS se, " +
      "row(1, 'a') AS rw")
    assert(r.getStruct(0).getInt(0) == 1 && r.getStruct(0).getString(1) == "x")
    assert(r.getStruct(1).getInt(0) == 1 && r.getStruct(1).getInt(1) == 2)
    assert(r.getString(2) == "x")
    assert(r.getStruct(3).getInt(0) == 1)
  }

  test("array-typed casts and the array_* distance family (probed)") {
    val r = one("SELECT array_cosine_similarity([1.0,2,3]::FLOAT[3], " +
      "[4.0,5,6]::FLOAT[3]) AS cs, " +
      "array_dot_product([1.0,2,3]::DOUBLE[3], [4.0,5,6]::DOUBLE[3]) AS dp, " +
      "round(array_distance([1.0,2,3]::DOUBLE[3], [4.0,5,6]::DOUBLE[3]), 6) AS d, " +
      "CAST([1,2] AS INT[]) AS arr")
    assert(math.abs(r.getDouble(0) - 0.9746318) < 1e-6)
    assert(r.getDouble(1) == 32.0)
    assert(math.abs(r.getDouble(2) - 5.196152) < 1e-6)
    assert(r.getSeq[Int](3) == Seq(1, 2))
  }

  test("json round-2: to_json family, from_json, transform (probed)") {
    val r = one("SELECT to_json([1,2]) AS tj, to_json('a') AS tjs, " +
      "to_json(NULL) AS tjn, json_quote(7) AS jq, " +
      "array_to_json([1,2,3]) AS atj, " +
      "from_json('{\"a\":1}', '{\"a\":\"BIGINT\"}') AS fj, " +
      "from_json_strict('2', '\"BIGINT\"') AS fjs, " +
      "json_transform('{\"a\":7}', '{\"a\":\"BIGINT\"}') AS jt, " +
      "json_deserialize_sql(json_serialize_sql('SELECT 1')) AS jd")
    assert(r.getString(0) == "[1,2]" && r.getString(1) == "\"a\"")
    assert(r.isNullAt(2) && r.getString(3) == "7")
    assert(r.getString(4) == "[1,2,3]")
    assert(r.getStruct(5).getLong(0) == 1L)
    assert(r.getLong(6) == 2L)
    // divergence note: DuckDB coerces quoted numbers ("7" → 7);
    // Spark's JSON parser nulls the field — unquoted input pins here
    assert(r.getStruct(7).getLong(0) == 7L)
    assert(r.getString(8) == "SELECT 1")
  }

  test("corpus round-2 misc: folds, subscripts, binary (probed)") {
    val r = one("SELECT aggregate([3,1,2], 'min') AS ag, " +
      "list_aggr([3,1,2], 'max') AS la, " +
      "list_bool_and([true, true, NULL]) AS ba, " +
      "list_bool_and([true, false]) AS bf, list_bool_or([false, NULL]) AS bo, " +
      "approx_quantile(x, 0.5) AS aq, " +
      "flatten([[1,2],[3]]) AS fl, unbin('0101') AS ub, " +
      "position('b' IN 'abc') AS pos " +
      "FROM VALUES (1.0),(2.0),(3.0),(10.0) t(x)")
    assert(r.getInt(0) == 1 && r.getInt(1) == 3)
    assert(r.getBoolean(2) && !r.getBoolean(3) && !r.getBoolean(4))
    assert(r.getDouble(5) > 1.0 && r.getDouble(5) < 4.0)
    assert(r.getSeq[Int](6) == Seq(1, 2, 3))
    assert(r.getAs[Array[Byte]](7).toSeq == Seq(5.toByte))
    assert(r.getInt(8) == 2)
  }

  test("in-aggregate ORDER BY (OrderedAgg lowering, DuckDB-probed)") {
    def one(q: String) = Engine.query(spark, q).collect().head
    val base = " FROM (VALUES ('a',3),('b',1),(NULL,2),('d',NULL)) t(x,k)"
    // string_agg drops NULL inputs; default null order is NULLS LAST
    // on BOTH directions (probed)
    assert(one(s"SELECT string_agg(x, ',' ORDER BY k) AS s$base")
      .getString(0) == "b,a,d")
    assert(one(s"SELECT string_agg(x, ',' ORDER BY k DESC) AS s$base")
      .getString(0) == "a,b,d")
    // list/array_agg KEEP NULL inputs (probed)
    assert(one(s"SELECT list(x ORDER BY k) AS l$base")
      .getSeq[String](0) == Seq("b", null, "a", "d"))
    assert(one(s"SELECT array_agg(x ORDER BY k DESC) AS l$base")
      .getSeq[String](0) == Seq("a", null, "b", "d"))
    // single-arg default separator; multi-key mixed directions;
    // explicit NULLS FIRST
    assert(one("SELECT string_agg(x ORDER BY x) AS s " +
      "FROM (VALUES ('b'),('a')) t(x)").getString(0) == "a,b")
    assert(one("SELECT string_agg(x, '-' ORDER BY k ASC, x DESC) AS s " +
      "FROM (VALUES ('a',1),('b',1),('c',0)) t(x,k)")
      .getString(0) == "c-b-a")
    assert(one(s"SELECT string_agg(x, ',' ORDER BY k NULLS FIRST) AS s$base")
      .getString(0) == "d,b,a")
  }

  test("syntax sugar: FROM-first, dollar quotes, digit separators, SIMILAR TO") {
    def one(q: String) = Engine.query(spark, q).collect().head
    // FROM-first short form (no SELECT anywhere)
    assert(Engine.query(spark,
      "FROM (VALUES (1),(2),(3)) t(x) WHERE x > 1").count() == 2)
    // dollar-quoted literals: embedded quote, $, tagged form
    assert(one("SELECT $$it's $ here$$ AS s").getString(0) == "it's $ here")
    assert(one("SELECT $t$a $$ b$t$ AS s").getString(0) == "a $$ b")
    // digit separators only in numeric tokens; identifiers untouched
    assert(one("SELECT 1_000_000 AS n, 1_2.5_0 AS f")
      .getInt(0) == 1000000)
    assert(one("SELECT col1_2 FROM (SELECT 7 AS col1_2) t").getInt(0) == 7)
    // SIMILAR TO = full regex match (probed: no %-conversion)
    val r = one("SELECT 'abc' SIMILAR TO 'a.*' AS a, " +
      "'abc' SIMILAR TO 'a%' AS b, 'abc' SIMILAR TO 'ab' AS c, " +
      "'abc' NOT SIMILAR TO 'b.*' AS d")
    assert(r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2) &&
      r.getBoolean(3))
    // SIMILAR TO binds looser than || — a concatenated pattern stays
    // whole (DuckDB: 'abc' SIMILAR TO 'a' || '.*' is true)
    assert(one("SELECT 'abc' SIMILAR TO 'a' || '.*' AS s").getBoolean(0))
    // ... and the LEFT operand absorbs || chains too (probed 2026-08:
    // all four true on DuckDB)
    val lc = one("SELECT 'a' || 'bc' SIMILAR TO 'abc' AS x, " +
      "'a' || 'b' || 'c' SIMILAR TO 'a.c' AS y, " +
      "'zb' NOT SIMILAR TO 'a' || 'b' AS z, " +
      "'q' || 'r' SIMILAR TO 'q' || '.' AS w")
    assert(lc.getBoolean(0) && lc.getBoolean(1) && lc.getBoolean(2) &&
      lc.getBoolean(3))
    // a column named distinct_vals passes the in-aggregate ORDER BY
    assert(one("SELECT list(distinct_vals ORDER BY distinct_vals DESC) " +
      "AS l FROM (VALUES (1),(2)) t(distinct_vals)")
      .getSeq[Int](0) == Seq(2, 1))
  }

  test("unnest: struct, recursive, max_depth (DuckDB probe-grid replay)") {
    def rows(q: String) =
      Engine.query(spark, q).collect().map(_.toSeq.map(Option(_).map(_.toString).orNull))
    def cols(q: String) = Engine.query(spark, q).columns.toSeq
    // NULL leaf elements emit rows; NULL list emits none
    assert(rows("SELECT unnest([1, NULL, 2]) AS u").toSeq ==
      Seq(Seq("1"), Seq(null), Seq("2")))
    assert(rows("SELECT unnest(CAST(NULL AS ARRAY<INT>)) AS u").isEmpty)
    // struct → one row, fields as columns; NULL struct → one NULL row
    assert(cols("SELECT unnest({'a': 1, 'b': 'x'})") == Seq("a", "b"))
    assert(rows("SELECT unnest({'a': 1, 'b': 'x'})").toSeq == Seq(Seq("1", "x")))
    assert(rows("SELECT unnest(CAST(NULL AS STRUCT<a: INT>))").toSeq ==
      Seq(Seq(null)))
    // default depth 1 keeps nested structures
    assert(cols("SELECT unnest({'a': 1, 'n': {'x': 9}})") == Seq("a", "n"))
    // recursive flattens lists fully; NULL/empty nested lists vanish
    assert(rows("SELECT unnest([[1,NULL],[],[3]], recursive := true) AS u")
      .toSeq == Seq(Seq("1"), Seq(null), Seq("3")))
    assert(rows("SELECT unnest([[1,2],NULL,[3]], recursive := true) AS u")
      .toSeq == Seq(Seq("1"), Seq("2"), Seq("3")))
    // recursive expands structs to leaf columns (never into lists)
    assert(cols("SELECT unnest({'a': 1, 'n': {'x': 9}}, recursive := true)")
      == Seq("a", "x"))
    assert(cols("SELECT unnest({'l': array(1,2), 'b': 3}, recursive := true)")
      == Seq("l", "b"))
    assert(rows("SELECT unnest([{'p': 1, 'q': 2}, {'p': 3, 'q': 4}], " +
      "recursive := true)").toSeq == Seq(Seq("1", "2"), Seq("3", "4")))
    // non-recursive list-of-struct keeps the struct column
    assert(cols("SELECT unnest([{'p': 1, 'q': 2}])") == Seq("unnest"))
    // max_depth counts struct expansion as a level
    assert(cols("SELECT unnest([{'a': 1}], max_depth := 2)") == Seq("a"))
    assert(rows("SELECT unnest([[1,2],[3]], max_depth := 1) AS u").length == 2)
    // FROM position shares the generator
    assert(rows("SELECT * FROM unnest([10, 20]) t(x)").toSeq ==
      Seq(Seq("10"), Seq("20")))
    assert(cols("SELECT * FROM unnest({'a': 1, 'b': 2})") == Seq("a", "b"))
    // correlated FROM-position via explicit LATERAL (implicit-lateral
    // spelling `FROM t, unnest(col)` errors loudly with the
    // unresolved column — documented; add LATERAL)
    spark.sql("CREATE OR REPLACE TEMP VIEW un_lt AS SELECT * FROM " +
      "VALUES (1, array(10,20)), (2, array(30)) AS t(id, ws)")
    assert(rows("SELECT id, u FROM un_lt, LATERAL unnest(ws) AS t(u) " +
      "ORDER BY id, u").toSeq == Seq(Seq("1", "10"), Seq("1", "20"),
      Seq("2", "30")))
    // MAP input errors with DuckDB's binder message
    val e = intercept[Exception](
      Engine.query(spark, "SELECT unnest(map(1, 2))").collect())
    assert(e.getMessage.contains("lists, structs and NULL"), e.getMessage)
    // several unnests in ONE select list ZIP positionally, NULL-padded
    // to the longest (probed — NOT a cross product); a struct unnest
    // repeats its row (column expansion); FROM-position comma unnests
    // keep cross-product semantics (all probed on DuckDB)
    assert(rows("SELECT unnest([1,2,3]) AS a, unnest([10,20]) AS b").toSeq ==
      Seq(Seq("1", "10"), Seq("2", "20"), Seq("3", null)))
    assert(rows("SELECT unnest([1,2]) AS a, unnest([10,20,30]) AS b, " +
      "unnest(['x']) AS c").toSeq == Seq(Seq("1", "10", "x"),
      Seq("2", "20", null), Seq(null, "30", null)))
    assert(rows("SELECT unnest([1,2]) AS a, " +
      "unnest(named_struct('p', 9, 'q', 8)) FROM (SELECT 1)").toSeq ==
      Seq(Seq("1", "9", "8"), Seq("2", "9", "8")))
    assert(rows("SELECT a, b FROM unnest([1,2]) t(a), unnest([10,20]) s(b) " +
      "ORDER BY a, b").toSeq == Seq(Seq("1", "10"), Seq("1", "20"),
      Seq("2", "10"), Seq("2", "20")))
    // unnest INSIDE select expressions hoists to a subquery (probed:
    // DuckDB evaluates the expression per emitted row; several
    // unnests in one expression zip)
    assert(rows("SELECT unnest([1,2]) + 10 AS v").toSeq ==
      Seq(Seq("11"), Seq("12")))
    assert(rows("SELECT upper(unnest(['a','b'])) AS v").toSeq ==
      Seq(Seq("A"), Seq("B")))
    assert(rows("SELECT unnest([1,2]) + unnest([10,20]) AS v").toSeq ==
      Seq(Seq("11"), Seq("22")))
  }

  test("r10 sugar: stepped slices, AT TIME ZONE, trailing commas, " +
      "POSITIONAL JOIN, COLUMNS lambda, series semantics") {
    def one(q: String) = Engine.query(spark, q).collect().head
    def rows(q: String) = Engine.query(spark, q).collect().map(_.toSeq)
    // stepped slices (probed DuckDB grid; step 0 errors loudly)
    assert(one("SELECT array_to_string(([1,2,3,4,5,6])[1:5:2], ',') AS v")
      .getString(0) == "1,3,5")
    assert(one("SELECT array_to_string(list_slice([1,2,3,4,5], 5, 1, -2), ',') AS v")
      .getString(0) == "5,3,1")
    intercept[Exception](
      one("SELECT list_slice([1,2,3], 1, 3, 0) AS v"))
    // AT TIME ZONE: TIMESTAMP interprets, TIMESTAMPTZ converts (probed)
    assert(one("SELECT CAST(TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE " +
      "'America/New_York' AS VARCHAR) AS v").getString(0)
      .startsWith("2024-01-01 17:00:00"))
    assert(one("SELECT CAST(TIMESTAMPTZ '2024-01-01 12:00:00+00' AT TIME ZONE " +
      "'America/New_York' AS VARCHAR) AS v").getString(0)
      .startsWith("2024-01-01 07:00:00"))
    // trailing commas: select list and collection literals
    assert(one("SELECT 1 AS a, 2 AS b,").getInt(1) == 2)
    assert(one("SELECT len([1, 2,]) AS n").getInt(0) == 2)
    // POSITIONAL JOIN zips by position, NULL-padding the short side
    assert(rows("SELECT * FROM (VALUES (1),(2),(3)) a(x) POSITIONAL JOIN " +
      "(VALUES ('p')) b(y) ORDER BY x").toSeq ==
      Seq(Seq(1, "p"), Seq(2, null), Seq(3, null)))
    intercept[IllegalArgumentException](Engine.query(spark,
      "SELECT * FROM t1 POSITIONAL JOIN t2 POSITIONAL JOIN t3"))
    // COLUMNS(c -> predicate) filters column names like the regex form
    assert(Engine.query(spark, "SELECT COLUMNS(c -> c LIKE 'n_n%') " +
      "FROM (SELECT 1 AS n_name, 2 AS n_nope, 3 AS other)")
      .columns.toSeq == Seq("n_name", "n_nope"))
    // timezone(zone, ts) directions mirror AT TIME ZONE (probed)
    assert(one("SELECT CAST(timezone('America/New_York', " +
      "TIMESTAMP '2024-01-01 12:00:00') AS VARCHAR) AS v").getString(0)
      .startsWith("2024-01-01 17:00:00"))
    assert(one("SELECT CAST(timezone('America/New_York', " +
      "TIMESTAMPTZ '2024-01-01 12:00:00+00') AS VARCHAR) AS v").getString(0)
      .startsWith("2024-01-01 07:00:00"))
    // aggregate FILTER clause may omit WHERE; the list HOF filter(
    // arr, lambda) is untouched
    assert(one("SELECT count(*) FILTER (x > 1) AS v FROM " +
      "(VALUES (1),(2),(3)) t(x)").getLong(0) == 2L)
    assert(one("SELECT len(filter([1,2,3], x -> x > 1)) AS v").getInt(0) == 2)
    // IN (VALUES ...) is a subquery in pg/DuckDB
    assert(one("SELECT 2 IN (VALUES (1),(2)) AS v").getBoolean(0))
    assert(one("SELECT 5 NOT IN (VALUES (1),(2)) AS v").getBoolean(0))
    assert(one("SELECT 'IN (VALUES' AS v").getString(0) == "IN (VALUES")
    // struct→VARCHAR cast renders DuckDB's {'key': value} shape
    // (raw values, NULL uppercase, nested lists/structs; probed grid)
    assert(one("SELECT CAST({'a': 1, 'b': 'x y'} AS VARCHAR) AS v")
      .getString(0) == "{'a': 1, 'b': x y}")
    assert(one("SELECT CAST({'a': NULL} AS VARCHAR) AS v")
      .getString(0) == "{'a': NULL}")
    assert(one("SELECT CAST({'l': [1,2]} AS VARCHAR) AS v")
      .getString(0) == "{'l': [1, 2]}")
    assert(one("SELECT CAST([{'a':1},{'a':2}] AS VARCHAR) AS v")
      .getString(0) == "[{'a': 1}, {'a': 2}]")
    // regexp family with DuckDB options strings (probed grid): the
    // default regexp_replace scope is FIRST match — g replaces all —
    // and \1 backrefs are RE2-style (\\1 stays literal)
    assert(one("SELECT regexp_replace('aaa', 'a', 'b') AS v")
      .getString(0) == "baa")
    assert(one("SELECT regexp_replace('aaa', 'a', 'b', 'g') AS v")
      .getString(0) == "bbb")
    assert(one("SELECT regexp_replace('aAa', 'a', 'X', 'gi') AS v")
      .getString(0) == "XXX")
    assert(one("SELECT regexp_replace('abc', '(b)', '<\\1>') AS v")
      .getString(0) == "a<b>c")
    assert(one("SELECT regexp_matches('ABC', 'abc', 'i') AS v").getBoolean(0))
    assert(one("SELECT regexp_extract('AxB', '([a-z])', 1, 'i') AS v")
      .getString(0) == "A")
    assert(one("SELECT regexp_full_match('ABC', 'abc', 'i') AS v")
      .getBoolean(0))
    val reErr = intercept[Exception](
      one("SELECT regexp_matches('A', 'a', 'x') AS v"))
    assert(reErr.getMessage.contains("Unrecognized Regex option"))
    // bar pads with spaces to width BYTES (block chars are 3 UTF-8
    // bytes each — probed byte-exact against DuckDB)
    val b = one("SELECT bar(3,0,10,10) AS a, bar(1,0,10,10) AS b, " +
      "bar(0.99,0,10,10) AS c")
    assert(b.getString(0) == "███ " &&
      b.getString(0).getBytes("UTF-8").length == 10)
    assert(b.getString(1).getBytes("UTF-8").length == 10 &&
      b.getString(1).count(_ == '█') == 1)
    assert(b.getString(2) == "▉" + " " * 7)
    // fmt indexed {N} placeholders (0-based), literal braces, %
    assert(one("SELECT format('{1} {0}', 'a', 'b') AS v")
      .getString(0) == "b a")
    assert(one("SELECT format('{0}% {{x}} {1}', 'a', 7) AS v")
      .getString(0) == "a% {x} 7")
    // COLLATE NOCASE → Spark UTF8_LCASE (probed: same order + equality)
    assert(rows("SELECT x FROM (VALUES ('b'),('A'),('c')) t(x) " +
      "ORDER BY x COLLATE NOCASE").map(_.head).toSeq == Seq("A", "b", "c"))
    assert(one("SELECT 'ABC' COLLATE NOCASE = 'abc' AS v").getBoolean(0))
    // repeat TVF (scalar string-repeat untouched)
    assert(rows("SELECT * FROM repeat('ab', 3)").length == 3)
    assert(one("SELECT repeat('xy', 2) AS s").getString(0) == "xyxy")
    // range/generate_series: default step never direction-inferred
    assert(one("SELECT len(range(5, 1)) AS n").getInt(0) == 0)
    assert(one("SELECT len(generate_series(5, 1)) AS n").getInt(0) == 0)
    assert(one("SELECT array_to_string(range(5, 0, -2), ',') AS v")
      .getString(0) == "5,3,1")
    assert(one("SELECT len(range(TIMESTAMP '2024-01-01', " +
      "TIMESTAMP '2024-01-05', INTERVAL '1 day')) AS n").getInt(0) == 4)
  }

  test("EXTRACT long tail, OFFSET/FETCH, TABLESAMPLE methods, DDL constraints") {
    def one(q: String) = Engine.query(spark, q).collect().head
    // DuckDB-semantic fields (probed: dow Sun=0, epoch DOUBLE,
    // microseconds within-the-minute)
    assert(one("SELECT EXTRACT(epoch FROM TIMESTAMP '2020-01-01 00:00:00') AS e")
      .getDouble(0) == 1.5778368e9)
    assert(one("SELECT EXTRACT(dow FROM DATE '2026-08-16') AS d").getInt(0) == 0)
    assert(one("SELECT EXTRACT(decade FROM DATE '2026-08-16') AS d")
      .getLong(0) == 202L)
    assert(one("SELECT EXTRACT(microseconds FROM TIMESTAMP " +
      "'2020-01-01 00:00:01.5') AS u").getLong(0) == 1500000L)
    // Spark-native fields untouched
    assert(one("SELECT EXTRACT(year FROM DATE '2026-08-16') AS y")
      .getInt(0) == 2026)
    // ANSI OFFSET/FETCH
    assert(Engine.query(spark, "SELECT x FROM (VALUES (1),(2),(3)) t(x) " +
      "ORDER BY x OFFSET 1 ROWS FETCH FIRST 1 ROWS ONLY")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    // TABLESAMPLE methods accept (RNG differs — sanity bound only)
    Tables.registerAll(spark, sfDir)
    val n = Engine.query(spark,
      "SELECT count(*) AS n FROM documents TABLESAMPLE bernoulli(50%)")
      .collect().head.getLong(0)
    assert(n >= 0 && n <= 1000)
    // DDL constraints stripped, bare VARCHAR maps, inserts round-trip
    Engine.query(spark, "DROP TABLE IF EXISTS conso")
    Engine.query(spark, "CREATE TABLE conso (k INT PRIMARY KEY, " +
      "v VARCHAR UNIQUE, x INT CHECK (x > 0), PRIMARY KEY (k))")
    Engine.query(spark, "INSERT INTO conso VALUES (1, 'a', 5)")
    assert(one("SELECT k, v, x FROM conso").toSeq == Seq(1, "a", 5))
    Engine.query(spark, "DROP TABLE conso")
    // ordered first/last (probed: NULLS LAST keeps NULL reachable by last)
    val fl = one("SELECT first(x ORDER BY x) AS f, last(x ORDER BY x) AS l " +
      "FROM (VALUES (3),(NULL),(1)) t(x)")
    assert(fl.getInt(0) == 1 && fl.isNullAt(1))
  }

  test("unnest: SELECT position, FROM position, beside columns") {
    assert(Engine.query(spark, "SELECT unnest([1,2,3]) AS u")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(Engine.query(spark, "SELECT x FROM unnest([10,20]) t(x)")
      .collect().map(_.getInt(0)).toSeq == Seq(10, 20))
    assert(Engine.query(spark,
      "SELECT k, unnest(string_split(v, ' ')) AS w " +
        "FROM (VALUES (1, 'a b')) t(k, v)")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((1, "a"), (1, "b")))
  }
}
