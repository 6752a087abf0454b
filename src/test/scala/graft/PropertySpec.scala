package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.server.PgTypes

/** Property-based tests (SURVEY §5 item 4): wire text-format
  * round-trips and dialect-rewrite/plan invariance.
  */
class PropertySpec extends SparkSpecBase {

  private def holds(p: Prop, cases: Int = 200): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, r.status.toString)
  }

  /** minimal pg text array parser (inverse of PgTypes.render for
    * string arrays).
    */
  private def parsePgArray(s: String): Seq[String] = {
    assert(s.head == '{' && s.last == '}')
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 1; var inQ = false
    def flush(): Unit = { out += cur.toString; cur.clear() }
    while (i < s.length - 1) {
      val c = s(i)
      if (inQ) c match {
        case '\\' => cur += s(i + 1); i += 1
        case '"' => inQ = false
        case other => cur += other
      } else c match {
        case '"' => inQ = true
        case ',' => flush()
        case other => cur += other
      }
      i += 1
    }
    if (cur.nonEmpty || s.length > 2) flush()
    out.result()
  }

  test("pg array text format round-trips arbitrary strings") {
    val elem = Gen.listOfN(6,
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', '{', '}', '"', '\\', ' ')))
      .map(_.mkString)
    val arrays = Gen.nonEmptyListOf(elem)
    holds(Prop.forAll(arrays) { xs =>
      val rendered = PgTypes.render(xs, ArrayType(StringType)).get
      parsePgArray(rendered) == xs
    })
  }

  test("bind-parameter literals round-trip arbitrary strings through SQL") {
    val tricky = Gen.oneOf('\'', '\\', '\n', '\t', '%', '_', '$', '"',
      ';', 'é', '好', ' ')
    val strs = Gen.listOfN(10,
      Gen.frequency(3 -> Gen.alphaNumChar, 2 -> tricky)).map(_.mkString)
    holds(Prop.forAll(strs) { s0 =>
      val lit = graft.server.BindParams.literal(
        graft.server.PgWire.Oid.Text, 0, s0.getBytes("UTF-8"))
      spark.sql(s"SELECT $lit AS v").collect()(0).getString(0) == s0
    }, cases = 60)
  }

  test("$N substitution never fires inside string literals") {
    val keys = Gen.listOfN(4, Gen.alphaNumChar).map(_.mkString)
    holds(Prop.forAll(keys) { k =>
      val sql = s"SELECT $$1 AS a, '$$2 $k' AS b"
      val out = graft.server.BindParams.splice(sql, Vector("7"))
      out == s"SELECT (7) AS a, '$$2 $k' AS b"
    }, cases = 40)
  }

  test("numeric renders are unquoted and signed correctly") {
    holds(Prop.forAll(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { n =>
      PgTypes.render(n, LongType).contains(n.toString)
    })
    holds(Prop.forAll(Gen.chooseNum(-1e12, 1e12)) { d =>
      val s = PgTypes.render(d, DoubleType).get
      math.abs(s.toDouble - d) <= math.ulp(d)
    })
  }

  test("SqlRewrites is identity on plain Spark SQL (modulo the NULLS LAST default pin)") {
    val ident = Gen.identifier.suchThat(_.nonEmpty)
    holds(Prop.forAll(ident, Gen.chooseNum(0, 1000)) { (name, n) =>
      val sql = s"SELECT $name, $n FROM t$name WHERE $name > $n"
      SqlRewrites.rewriteFull(sql) == sql
    })
    // an ORDER BY key picks up DuckDB's NULLS LAST default — and
    // nothing else changes
    holds(Prop.forAll(ident, Gen.chooseNum(0, 1000)) { (name, n) =>
      val sql = s"SELECT $name, $n FROM t$name ORDER BY $name"
      SqlRewrites.rewriteFull(sql) == sql + " NULLS LAST"
    })
    // already-explicit NULLS spellings are untouched (idempotence)
    holds(Prop.forAll(ident) { name =>
      val sql = s"SELECT $name FROM t ORDER BY $name DESC NULLS FIRST"
      SqlRewrites.rewriteFull(sql) == sql
    })
  }

  test("ASOF SQL rewrite agrees with the DataFrame AsOfJoin on random data") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    for (round <- 1 to 5) {
      val nl = 30 + rng.nextInt(40)
      val nr = 20 + rng.nextInt(30)
      val leftRows = (0 until nl).map(i =>
        (i.toLong, rng.nextInt(5).toLong, rng.nextInt(1000).toLong))
      val rightRows = (0 until nr).map(i =>
        (i.toLong, rng.nextInt(5).toLong, rng.nextInt(1000).toLong,
          s"v$i"))
      leftRows.toDF("lid", "k", "t").createOrReplaceTempView("asof_l")
      rightRows.toDF("rid", "rk", "rt", "v")
        .createOrReplaceTempView("asof_r")
      // SQL path: the ASOF LEFT JOIN rewrite (interval formulation).
      // Project the right TIME, not the row id: when two right rows
      // tie on (key, time) the matched row is engine-arbitrary but the
      // carried timestamp is not.
      val sqlRes = Engine.query(s,
        """SELECT l.lid, r.rt AS matched_t
          |FROM asof_l l ASOF LEFT JOIN asof_r r
          |  ON l.k = r.rk AND l.t >= r.rt""".stripMargin)
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
      // DataFrame path: union+window formulation
      val dfRes = AsOfJoin.backward(
          s.table("asof_l"), s.table("asof_r"),
          "k", "rk", "t", "rt", Seq("rt"))
        .select(col("lid"), col("rt"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
      assert(sqlRes == dfRes, {
        val diff = (sqlRes.keySet ++ dfRes.keySet)
          .filter(k => sqlRes.get(k) != dfRes.get(k)).take(5)
        s"round $round mismatch on lids $diff: " +
          diff.map(k => s"$k sql=${sqlRes.get(k)} df=${dfRes.get(k)}").mkString("; ")
      })
    }
  }

  test("duplicate-span removal agrees with a brute-force reference on random corpora") {
    val s = spark
    import s.implicits._
    val k = 3
    // tiny vocabulary forces cross-doc span collisions
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.chooseNum(1, 9).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

    def brute(docs: Seq[(Long, String)]): Map[Long, (String, Long, Long)] = {
      val words = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val spans = words.view.mapValues { ws =>
        if (ws.length < k) Seq.empty
        else (0 to ws.length - k).map(i => i -> ws.slice(i, i + k).mkString(" "))
      }.toMap
      val df = spans.toSeq
        .flatMap { case (id, sp) => sp.map(_._2).distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      docs.map { case (id, _) =>
        val ws = words(id)
        val covered = spans(id).collect {
          case (i, sp) if df.getOrElse(sp, 0) >= 2 => i until i + k
        }.flatten.toSet
        val kept = ws.indices.filterNot(covered).map(ws)
        id -> (kept.mkString(" "), ws.length.toLong,
          (ws.length - kept.size).toLong)
      }.toMap
    }

    holds(Prop.forAll(corpus) { docs =>
      val got = Dedup.removeDuplicateSpans(
          docs.toDF("doc_id", "text"), spanWords = k)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
      got == brute(docs)
    }, cases = 30)
  }

  test("string-distance invariants hold for arbitrary ASCII strings") {
    // driver-side properties over the shared static bodies (the same
    // code both interpreted and codegen'd paths call)
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    val word = Gen.choose(0, 24)
      .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val pair = for { a <- word; b <- word } yield (a, b)
    holds(Prop.forAll(pair) { case (a, b) =>
      val d = StringOps.damerau(u8(a), u8(b))
      val sym = StringOps.damerau(u8(b), u8(a))
      // symmetry, identity, and the standard bounds:
      // |len diff| <= DL <= max len, and DL <= levenshtein
      val lev = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(a, b)
      d == sym && (a != b || d == 0) && (a == b || d > 0) &&
        d >= math.abs(a.length - b.length) &&
        d <= math.max(a.length, b.length) && d <= lev
    }, cases = 300)
    holds(Prop.forAll(pair) { case (a, b) =>
      val j = StringOps.jaro(u8(a), u8(b))
      val jw = StringOps.jaroWinkler(u8(a), u8(b))
      // range, symmetry, winkler dominance, exact-match fixpoint
      j >= 0.0 && j <= 1.0 && jw >= j && jw <= 1.0 &&
        j == StringOps.jaro(u8(b), u8(a)) &&
        (a.isEmpty || a != b || j == 1.0)
    }, cases = 300)
    val longs = for {
      a <- Gen.chooseNum(-1000L, 1000L); b <- Gen.chooseNum(-1000L, 1000L)
    } yield (a, b)
    holds(Prop.forAll(longs) { case (a, b) =>
      val g = NumOps.gcd(a, b)
      // divides both, nonnegative, symmetric; lcm·gcd = |a·b|
      g >= 0 && (a == 0 || a % g == 0) && (b == 0 || b % g == 0) &&
        g == NumOps.gcd(b, a) &&
        (a == 0 || b == 0 || NumOps.lcm(a, b) * g == math.abs(a * b))
    }, cases = 300)
  }

  test("DataFrame and SQL paths agree for arbitrary pushed filters") {
    val s = spark
    Tables.registerAll(s, sfDir)
    val l = Tables.load(s, sfDir, "lineitem")
    val gen = for {
      q <- Gen.chooseNum(1.0, 50.0)
      flag <- Gen.oneOf("A", "N", "R")
    } yield (q, flag)
    holds(Prop.forAll(gen) { case (q, flag) =>
      val viaDf = l.filter(col("l_quantity") >= q &&
        col("l_returnflag") === flag).count()
      val viaSql = Engine.query(s,
        s"SELECT count(*) AS n FROM lineitem WHERE l_quantity >= $q AND l_returnflag = '$flag'")
        .collect().head.getLong(0)
      viaDf == viaSql
    }, cases = 20) // each case runs two Spark jobs
  }
}
