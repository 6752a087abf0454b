package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types._

/** Round-9 DuckDB vocabulary waves, driven by the conformance probe
  * (tools/gen_conformance.py over duckdb_functions(); the reference
  * forwards every statement to this surface verbatim at
  * src/duckdb_pgwire_extension.cpp:52). Every alias builds native
  * Catalyst expressions; [[GraftCall]] (CodegenFallback) is the
  * escape hatch for JVM-library semantics (Jackson JSON, graphemes,
  * gamma). All value semantics probed on DuckDB v1.0 — see the
  * per-group comments.
  */
object DuckVocab9 {

  private var uid = 0
  private def lv(): UnresolvedNamedLambdaVariable = synchronized {
    uid += 1; UnresolvedNamedLambdaVariable(Seq(s"v9x$uid"))
  }
  private def lam1(f: Expression => Expression): LambdaFunction = {
    val x = lv(); LambdaFunction(f(x), Seq(x))
  }
  private def lam2(f: (Expression, Expression) => Expression): LambdaFunction = {
    val a = lv(); val b = lv(); LambdaFunction(f(a, b), Seq(a, b))
  }
  private def dbl(e: Expression) = Cast(e, DoubleType)
  private def i32(e: Expression) = Cast(e, IntegerType)
  private def str(e: Expression) = Cast(e, StringType)

  /** non-null elements of a list */
  private def nn(l: Expression): Expression = ArrayFilter(l, lam1(IsNotNull))
  private def lCount(l: Expression): Expression =
    Size(nn(l), legacySizeOfNull = false)
  private def lSum(l: Expression): Expression =
    ArrayAggregate(nn(l), Literal(0.0d), lam2((acc, x) => Add(acc, dbl(x))),
      lam1(identity))

  /** Σ f(x) over non-null elements, as double */
  private def lFold(l: Expression, f: Expression => Expression): Expression =
    ArrayAggregate(nn(l), Literal(0.0d), lam2((acc, x) => Add(acc, f(x))),
      lam1(identity))

  /** count of a value inside a list (null-safe equality) */
  private def occurrences(l: Expression, v: Expression): Expression =
    Size(ArrayFilter(l, lam1(x => EqualNullSafe(x, v))), legacySizeOfNull = false)

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def alias(name: String)(b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")

    // ================= arithmetic as functions =================
    // (probed: divide is TRUNCATED integer division on integers and
    // plain division on floats — divide(7,2)=3, divide(-7,2)=-3,
    // divide(7.5,2)=3.75, divide(7,0)=NULL; fdiv/fmod are the FLOOR
    // pair as doubles — fdiv(-7,2)=-4, fmod(-7,2)=1, fmod(7,-2)=-1)
    alias("add") {
      case Seq(x) => x // unary + (probed: add(7) = 7)
      case e => Add(e(0), e(1))
    }
    alias("subtract") {
      case Seq(x) => UnaryMinus(x) // probed: subtract(7) = -7
      case e => Subtract(e(0), e(1))
    }
    alias("multiply")(e => Multiply(e(0), e(1)))
    alias("divide")(e => DividePoly(e(0), e(1)))
    def fdiv(a: Expression, b: Expression) =
      Cast(Floor(Divide(dbl(a), dbl(b))), DoubleType)
    alias("fdiv")(e => fdiv(e(0), e(1)))
    alias("fmod")(e =>
      Subtract(dbl(e(0)), Multiply(fdiv(e(0), e(1)), dbl(e(1)))))
    // date_add is the a+b macro in DuckDB (probed: date_add(7,7)=14;
    // date_add(DATE, 7) = DATE + 7 days — AddPoly keeps both alive)
    alias("date_add")(e => AddPoly(e(0), e(1)))
    // 1-arg trunc is numeric truncation toward zero (2-arg stays
    // Spark's date trunc); ceil/floor keep FLOAT/DOUBLE input types
    // like DuckDB (marker resolves once the argument type is known —
    // Spark's builtins return BIGINT for floating input)
    alias("trunc") {
      case Seq(x) => FloatingRoundMarker(Seq(x), "trunc")
      case e => TruncDate(e(0), e(1))
    }
    alias("ceil")(e => FloatingRoundMarker(Seq(e.head), "ceil"))
    alias("ceiling")(e => FloatingRoundMarker(Seq(e.head), "ceil"))
    alias("floor")(e => FloatingRoundMarker(Seq(e.head), "floor"))
    // UUID model: canonical lowercase-hyphenated VARCHAR. DuckDB
    // accepts hyphenless and uppercase inputs and canonicalizes
    // (probed: '550E...000'::UUID renders hyphenated lowercase);
    // invalid text raises a ConversionError — RaiseError here.
    alias("graft_uuid") { e =>
      val lx = Lower(Cast(e.head, StringType))
      val hyph = Literal(
        "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
      def seg(from: Int, len: Int) =
        Substring(lx, Literal(from), Literal(len))
      CaseWhen(Seq(
        (IsNull(e.head), Literal(null, StringType)),
        (RLike(lx, hyph), lx),
        (RLike(lx, Literal("^[0-9a-f]{32}$")),
          Concat(Seq(seg(1, 8), Literal("-"), seg(9, 4), Literal("-"),
            seg(13, 4), Literal("-"), seg(17, 4), Literal("-"),
            seg(21, 12))))),
        Cast(RaiseError(Concat(Seq(
          Literal("Conversion Error: Could not convert string '"),
          Cast(e.head, StringType), Literal("' to UUID")))), StringType))
    }
    // DuckDB v1.1 session variables (the reference's bundled version)
    alias("getvariable") { e =>
      val name = e.head match {
        case Literal(s, _) if s != null => String.valueOf(s)
        case other => throw new IllegalArgumentException(
          s"getvariable: name must be a literal, got $other")
      }
      Engine.variableLiteral(
        org.apache.spark.sql.SparkSession.active, name)
    }
    alias("round_even")(e => BRound(e(0), e(1)))
    alias("roundbankers")(e => BRound(e(0), e(1)))
    alias("gamma")(e => GraftCall("gamma", Seq(dbl(e.head)), DoubleType))
    alias("lgamma")(e => GraftCall("lgamma", Seq(dbl(e.head)), DoubleType))

    // DuckDB's 1-arg log is LOG BASE 10 (probed: log(2.5)=0.39794;
    // ln stays natural) — Spark's builtin log is ln, so shadow it
    alias("log") {
      case Seq(x) => Log10(dbl(x))
      case e => Logarithm(dbl(e(0)), dbl(e(1)))
    }
    // ================= strings =================
    alias("editdist3")(e => Levenshtein(e(0), e(1)))
    alias("strlen")(e => OctetLength(e.head))
    alias("prefix")(e => StartsWith(e(0), e(1)))
    alias("sha256")(e => Sha2(e.head, Literal(256)))
    alias("to_base64")(e => Base64(Cast(e.head, BinaryType)))
    alias("string_to_array")(e => StringSplit(e(0), quoteIfLiteral(e(1)), Literal(-1)))
    // DuckDB encode: VARCHAR → BLOB (utf8 bytes); decode: BLOB →
    // VARCHAR — 1-arg forms only; Spark's own 2-arg charset forms
    // keep their builtins
    // RAW utf8 converters, not casts: CAST(varchar AS BLOB) now
    // decodes \xHH escapes (DuckBlobCastRule) — encode/decode never do
    alias("encode") {
      case Seq(x) => Encode(x, Literal("UTF-8"))
      case e => Encode(e(0), e(1))
    }
    alias("decode") {
      case Seq(x) => StringDecode(x, Literal("UTF-8"))
      case e => StringDecode(e(0), e(1))
    }
    alias("length_grapheme")(e =>
      GraftCall("length_grapheme", Seq(str(e.head)), IntegerType))
    alias("left_grapheme")(e =>
      GraftCall("left_grapheme", Seq(str(e(0)), Cast(e(1), LongType)), StringType))
    alias("right_grapheme")(e =>
      GraftCall("right_grapheme", Seq(str(e(0)), Cast(e(1), LongType)), StringType))
    alias("substring_grapheme") {
      case Seq(x, start) => GraftCall("substring_grapheme",
        Seq(str(x), Cast(start, LongType), Literal(Long.MaxValue)), StringType)
      case e => GraftCall("substring_grapheme",
        Seq(str(e(0)), Cast(e(1), LongType), Cast(e(2), LongType)), StringType)
    }
    // DuckDB regexp_extract defaults to group 0 — the FULL match —
    // where Spark's builtin defaults to group 1 (probed)
    alias("regexp_extract") {
      case Seq(s, re) => RegExpExtract(s, re, Literal(0))
      case Seq(s, re, g) => RegExpExtract(s, re, g)
      case Seq(s, re, g, f) =>
        RegExpExtract(s, DuckRegexpReplace.withFlags(re, f), g)
    }
    alias("regexp_split_to_table")(e =>
      Explode(StringSplit(e(0), e(1), Literal(-1))))

    // ================= list / array family =================
    // array_* spellings of the list vocabulary (probed 1:1)
    alias("apply")(e => ArrayTransform(e(0), e(1)))
    alias("list_apply")(e => ArrayTransform(e(0), e(1)))
    alias("array_apply")(e => ArrayTransform(e(0), e(1)))
    alias("array_transform")(e => ArrayTransform(e(0), e(1)))
    // filter family: DuckDB casts the lambda result to BOOLEAN
    // (probed: filter([3,1,2], x -> x + 1) keeps all — nonzero int is
    // true), Spark demands a boolean lambda — cast inside the lambda
    def boolLam(f: Expression): Expression = f match {
      case LambdaFunction(fn, args, hidden) =>
        LambdaFunction(Cast(fn, BooleanType), args, hidden)
      case other => other
    }
    alias("filter")(e => ArrayFilter(e(0), boolLam(e(1))))
    alias("list_filter")(e => ArrayFilter(e(0), boolLam(e(1))))
    alias("array_filter")(e => ArrayFilter(e(0), boolLam(e(1))))
    // seed-first fold (first element seeds; empty list errors in
    // DuckDB — NULL here, documented divergence)
    def reduce1(l: Expression, merge: Expression): Expression = {
      val fin = lv()
      val rest = Slice(l, Literal(2),
        Greatest(Seq(Literal(0),
          Subtract(Size(l, legacySizeOfNull = false), Literal(1)))))
      ArrayAggregate(rest, ElementAt(l, Literal(1), None, failOnError = false),
        merge, LambdaFunction(fin, Seq(fin)))
    }
    // 2-arg is DuckDB's seed-first fold; 3/4-arg stays Spark's
    // aggregate(zero, merge[, finish])
    alias("reduce") {
      case Seq(l, m) => reduce1(l, m)
      case Seq(l, z, m) => ArrayAggregate(l, z, m, lam1(identity))
      case e => ArrayAggregate(e(0), e(1), e(2), e(3))
    }
    alias("array_reduce")(e => reduce1(e(0), e(1)))
    alias("array_cat")(e => Concat(e))
    alias("array_concat")(e => Concat(e))
    alias("list_cat")(e => Concat(e))
    alias("array_contains")(e => ArrayContains(e(0), e(1)))
    alias("array_has")(e => ArrayContains(e(0), e(1)))
    // has_all(a, b): every NON-NULL element of b present in a — DuckDB
    // ignores NULL elements on both sides (probed: list_has_all([1,2],
    // [NULL]) is true, list_has_any([NULL],[NULL]) is false; a NULL
    // LIST argument still yields NULL). Compacting before except/
    // overlap reproduces that and keeps the result a real boolean
    // (Spark's raw array_except/arrays_overlap go NULL-happy on
    // null-bearing inputs).
    // a bare NULL argument can't type-check through array_except /
    // arrays_overlap (VOID vs ARRAY) — short-circuit it to the NULL
    // boolean DuckDB returns
    def nullArg(es: Expression*): Boolean =
      es.exists(x => x.resolved && x.dataType == NullType)
    def hasAll(a: Expression, b: Expression) =
      if (nullArg(a, b)) Literal(null, BooleanType)
      else EqualTo(Size(ArrayExcept(ArrayCompact(b), a),
        legacySizeOfNull = false), Literal(0))
    def hasAny(a: Expression, b: Expression) =
      if (nullArg(a, b)) Literal(null, BooleanType)
      else ArraysOverlap(ArrayCompact(a), ArrayCompact(b))
    alias("array_has_all")(e => hasAll(e(0), e(1)))
    alias("list_has_all")(e => hasAll(e(0), e(1)))
    alias("array_has_any")(e => hasAny(e(0), e(1)))
    alias("list_has_any")(e => hasAny(e(0), e(1)))
    alias("array_indexof")(e => ArrayPosition(e(0), e(1)))
    alias("array_position")(e => ArrayPosition(e(0), e(1)))
    alias("array_distinct")(e => ArrayDistinct(e.head))
    alias("array_intersect")(e => ArrayIntersect(e(0), e(1)))
    alias("array_reverse")(e => Reverse(e.head))
    alias("array_reverse_sort")(e => SortArray(e.head, Literal(false)))
    alias("array_length")(e => Size(e.head, legacySizeOfNull = false))
    alias("array_append")(e => Concat(Seq(e(0), CreateArray(Seq(e(1))))))
    alias("array_push_back")(e => Concat(Seq(e(0), CreateArray(Seq(e(1))))))
    alias("array_prepend")(e => Concat(Seq(CreateArray(Seq(e(0))), e(1))))
    alias("array_push_front")(e => Concat(Seq(CreateArray(Seq(e(1))), e(0))))
    // pop via the polymorphic inclusive slice (probed: works on
    // strings too — array_pop_back('abc') = 'ab')
    def popBack(l: Expression) = SlicePoly(l, Literal(1), Literal(-2))
    def popFront(l: Expression) = SlicePoly(l, Literal(2), Literal(-1))
    // list-only variant used by the bit folds below
    def popFrontList(l: Expression) = Slice(l, Literal(2),
      Greatest(Seq(Literal(0),
        Subtract(Size(l, legacySizeOfNull = false), Literal(1)))))
    alias("array_pop_back")(e => popBack(e.head))
    alias("list_pop_back")(e => popBack(e.head))
    alias("array_pop_front")(e => popFront(e.head))
    alias("list_pop_front")(e => popFront(e.head))
    // extract is the polymorphic 1-based subscript (strings included)
    alias("array_extract")(e => SubscriptPoly(e(0), e(1)))
    alias("list_extract")(e => SubscriptPoly(e(0), e(1)))
    alias("list_element")(e => SubscriptPoly(e(0), e(1)))
    // resize: truncate or pad with fill (default NULL); n < 0 → []
    def resize(l: Expression, n0: Expression, fill: Expression): Expression = {
      val n = Greatest(Seq(Literal(0), i32(n0)))
      val pad = ArrayRepeat(fill,
        Greatest(Seq(Literal(0),
          Subtract(n, Size(l, legacySizeOfNull = false)))))
      Slice(Concat(Seq(l, pad)), Literal(1), n)
    }
    // default fill: a typed NULL pulled from beyond the list's end
    def nullFill(l: Expression) =
      ElementAt(l, Literal(Int.MaxValue), None, failOnError = false)
    alias("array_resize") {
      case Seq(l, n) => resize(l, n, nullFill(l))
      case e => resize(e(0), e(1), e(2))
    }
    alias("list_resize") {
      case Seq(l, n) => resize(l, n, nullFill(l))
      case e => resize(e(0), e(1), e(2))
    }
    // unique = # distinct NON-NULL elements (probed: [1,1,2,NULL]→2)
    alias("array_unique")(e => Size(ArrayDistinct(nn(e.head)), legacySizeOfNull = false))
    alias("list_unique")(e => Size(ArrayDistinct(nn(e.head)), legacySizeOfNull = false))
    alias("unpivot_list")(e => CreateArray(e))
    alias("array_cross_product") { e =>
      def at(l: Expression, i: Int) = ElementAt(l, Literal(i), None, failOnError = false)
      val (a, b) = (e(0), e(1))
      CreateArray(Seq(
        Subtract(Multiply(at(a, 2), at(b, 3)), Multiply(at(a, 3), at(b, 2))),
        Subtract(Multiply(at(a, 3), at(b, 1)), Multiply(at(a, 1), at(b, 3))),
        Subtract(Multiply(at(a, 1), at(b, 2)), Multiply(at(a, 2), at(b, 1)))))
    }
    // gathers/grades that already exist under list_ spellings
    alias("array_select") { e =>
      val i = lv()
      ArrayTransform(e(1), LambdaFunction(
        ElementAt(e(0), Cast(i, IntegerType), None, failOnError = false), Seq(i)))
    }
    def gradeUp(l: Expression): Expression = {
      // 1-based indices sorting ascending, NULLs last, ties stable —
      // mirror of DuckAliases list_grade_up
      val n = lv(); val x = lv(); val p = lv()
      val keyed = ZipWith(
        ArrayTransform(l, lam1(IsNull)), l,
        LambdaFunction(CreateStruct(Seq(n, x)), Seq(n, x)))
      val graded = ArrayTransform(
        ArraySort(ZipWith(keyed,
          Sequence(Literal(1), Size(l, legacySizeOfNull = false), None, Some("UTC")),
          lam2((s, i) => CreateStruct(Seq(s, i)))),
          lam2((a, b) => {
            def k(e: Expression) = GetStructField(e, 0)
            If(LessThan(k(a), k(b)), Literal(-1),
              If(GreaterThan(k(a), k(b)), Literal(1),
                Subtract(GetStructField(a, 1), GetStructField(b, 1))))
          })),
        LambdaFunction(GetStructField(p, 1), Seq(p)))
      If(EqualTo(Size(l, legacySizeOfNull = false), Literal(0)),
        ArrayRepeat(Literal(1), Literal(0)), graded)
    }
    alias("grade_up")(e => gradeUp(e.head))
    alias("array_grade_up")(e => gradeUp(e.head))

    // ---- list statistics (probed element-wise semantics) ----
    alias("list_any_value")(e =>
      ElementAt(nn(e.head), Literal(1), None, failOnError = false))
    alias("list_first")(e =>
      ElementAt(e.head, Literal(1), None, failOnError = false))
    alias("list_last")(e =>
      ElementAt(e.head, Literal(-1), None, failOnError = false))
    alias("list_product") { e =>
      val p = ArrayAggregate(nn(e.head), Literal(1.0d),
        lam2((acc, x) => Multiply(acc, dbl(x))), lam1(identity))
      If(EqualTo(lCount(e.head), Literal(0)), Literal(null, DoubleType), p)
    }
    // entropy base 2 over element frequencies; empty/single → 0.0
    alias("list_entropy") { e =>
      val l = nn(e.head)
      val n = dbl(Size(l, legacySizeOfNull = false))
      val ent = ArrayAggregate(ArrayDistinct(l), Literal(0.0d),
        lam2((acc, d) => {
          val p = Divide(dbl(occurrences(l, d)), n)
          Subtract(acc, Multiply(p, Divide(Log(p), Log(Literal(2.0d)))))
        }), lam1(identity))
      If(EqualTo(n, Literal(0.0d)), Literal(0.0d), ent)
    }
    def listHistogram(l0: Expression): Expression = {
      val l = nn(l0)
      val keys = new SortArray(ArrayDistinct(l))
      MapFromArrays(keys,
        ArrayTransform(keys, lam1(d => Cast(occurrences(l, d), LongType))))
    }
    alias("list_histogram")(e => listHistogram(e.head))
    // median/mad interpolated (probed: list_median([1,2,3,10])=2.5,
    // list_mad([1,2,4,10])=1.5)
    def listMedian(l0: Expression): Expression = {
      val sorted = new SortArray(ArrayTransform(nn(l0), lam1(dbl)))
      val n = Size(sorted, legacySizeOfNull = false)
      def at(i: Expression) = ElementAt(sorted, i, None, failOnError = false)
      // Floor, not bare Cast: the index arithmetic must TRUNCATE, and
      // DuckNumericCastRule turns bare fractional→int casts into
      // DuckDB's round-half-away
      val lo = at(Cast(Floor(Divide(Add(n, Literal(1)), Literal(2))), IntegerType))
      val hi = at(Cast(Floor(Divide(Add(n, Literal(2)), Literal(2))), IntegerType))
      If(EqualTo(n, Literal(0)), Literal(null, DoubleType),
        Divide(Add(lo, hi), Literal(2.0d)))
    }
    alias("list_median")(e => listMedian(e.head))
    alias("list_mad") { e =>
      val m = listMedian(e.head)
      listMedian(ArrayTransform(nn(e.head), lam1(x => Abs(Subtract(dbl(x), m)))))
    }
    // mode: most frequent, FIRST-encountered wins ties (probed:
    // [3,3,1,1] → 3)
    alias("list_mode") { e =>
      val l = nn(e.head)
      def st(c: Expression, v: Expression) = CreateNamedStruct(
        Seq(Literal("c"), c, Literal("v"), v))
      val best = ArrayAggregate(l,
        st(Literal(0), ElementAt(l, Literal(1), None, failOnError = false)),
        lam2((acc, x) => {
          val c = occurrences(l, x)
          If(GreaterThan(c, GetStructField(acc, 0)), st(c, x), acc)
        }), lam1(identity))
      GetStructField(best, 1)
    }
    // moment family over list elements (population and corrected
    // estimators matching the aggregate probes)
    def listMoments(l0: Expression)(f: (Expression, Expression, Expression, Expression, Expression) => Expression): Expression = {
      val l = ArrayTransform(nn(l0), lam1(dbl))
      val n = dbl(Size(l, legacySizeOfNull = false))
      val mean = Divide(lSum(l), n)
      val m2 = Divide(lFold(l, x => Pow(Subtract(dbl(x), mean), Literal(2.0d))), n)
      val m3 = Divide(lFold(l, x => Pow(Subtract(dbl(x), mean), Literal(3.0d))), n)
      val m4 = Divide(lFold(l, x => Pow(Subtract(dbl(x), mean), Literal(4.0d))), n)
      f(n, mean, m2, m3, m4)
    }
    alias("list_var_pop")(e => listMoments(e.head)((n, _, m2, _, _) =>
      If(LessThan(n, Literal(1.0d)), Literal(null, DoubleType), m2)))
    alias("list_var_samp")(e => listMoments(e.head)((n, _, m2, _, _) =>
      If(LessThan(n, Literal(2.0d)), Literal(null, DoubleType),
        Divide(Multiply(m2, n), Subtract(n, Literal(1.0d))))))
    alias("list_stddev_pop")(e => listMoments(e.head)((n, _, m2, _, _) =>
      If(LessThan(n, Literal(1.0d)), Literal(null, DoubleType), Sqrt(m2))))
    alias("list_stddev_samp")(e => listMoments(e.head)((n, _, m2, _, _) =>
      If(LessThan(n, Literal(2.0d)), Literal(null, DoubleType),
        Sqrt(Divide(Multiply(m2, n), Subtract(n, Literal(1.0d)))))))
    alias("list_sem")(e => listMoments(e.head)((n, _, m2, _, _) =>
      If(LessThan(n, Literal(1.0d)), Literal(null, DoubleType),
        Sqrt(Divide(m2, n)))))
    alias("list_skewness")(e => listMoments(e.head)((n, _, m2, m3, _) => {
      val g1 = Divide(m3, Pow(m2, Literal(1.5d)))
      val corr = Divide(Sqrt(Multiply(n, Subtract(n, Literal(1.0d)))),
        Subtract(n, Literal(2.0d)))
      If(Or(LessThan(n, Literal(3.0d)), EqualTo(m2, Literal(0.0d))),
        Literal(null, DoubleType), Multiply(g1, corr))
    }))
    alias("list_kurtosis")(e => listMoments(e.head)((n, _, m2, _, m4) => {
      val g2 = Subtract(Divide(m4, Multiply(m2, m2)), Literal(3.0d))
      val res = Multiply(
        Divide(Subtract(n, Literal(1.0d)),
          Multiply(Subtract(n, Literal(2.0d)), Subtract(n, Literal(3.0d)))),
        Add(Multiply(Add(n, Literal(1.0d)), g2), Literal(6.0d)))
      If(Or(LessThan(n, Literal(4.0d)), EqualTo(m2, Literal(0.0d))),
        Literal(null, DoubleType), res)
    }))
    alias("list_kurtosis_pop")(e => listMoments(e.head)((n, _, m2, _, m4) =>
      If(Or(LessThan(n, Literal(1.0d)), EqualTo(m2, Literal(0.0d))),
        Literal(null, DoubleType),
        Subtract(Divide(m4, Multiply(m2, m2)), Literal(3.0d)))))
    alias("list_string_agg") { e =>
      val strs = ArrayTransform(nn(e.head), lam1(str))
      If(EqualTo(Size(strs, legacySizeOfNull = false), Literal(0)),
        Literal(null, StringType), ArrayJoin(strs, Literal(","), None))
    }
    def bitFold(l0: Expression, op: (Expression, Expression) => Expression): Expression = {
      val l = ArrayTransform(nn(l0), lam1(x => Cast(x, LongType)))
      If(EqualTo(Size(l, legacySizeOfNull = false), Literal(0)),
        Literal(null, LongType),
        ArrayAggregate(popFrontList(l), ElementAt(l, Literal(1), None, failOnError = false),
          lam2(op), lam1(identity)))
    }
    alias("list_bit_and")(e => bitFold(e.head, BitwiseAnd))
    alias("list_bit_or")(e => bitFold(e.head, BitwiseOr))
    alias("list_bit_xor")(e => bitFold(e.head, BitwiseXor))
    alias("list_approx_count_distinct")(e =>
      Cast(Size(ArrayDistinct(nn(e.head)), legacySizeOfNull = false), LongType))
    // bit_and/or/xor over the BIT-string model: fold the group's
    // bitstrings char-wise; integer groups keep the native bitwise
    // fold with the input type preserved (BitFoldAgg dispatches at
    // update() — aggregates cannot hide behind RuntimeReplaceable)
    for ((n, op) <- Seq[(String, String)](
        ("bit_and", "and"), ("bit_or", "or"), ("bit_xor", "xor")))
      alias(n)(e => BitFoldAgg(e.head, op).toAggregateExpression())
    // bitstring_agg without bounds: group min/max become the bounds
    // (DuckDB itself needs table statistics for this form)
    alias("bitstring_agg") {
      case Seq(x) =>
        val set = CollectSet(Cast(x, LongType)).toAggregateExpression()
        val lo = Min(Cast(x, LongType)).toAggregateExpression()
        val hi = Max(Cast(x, LongType)).toAggregateExpression()
        ArrayJoin(ArrayTransform(
          Sequence(lo, hi, None, Some("UTC")),
          lam1(i => If(ArrayContains(set, i), Literal("1"), Literal("0")))),
          Literal(""), None)
      case e => BitstringFromSet(
        new SortArray(CollectSet(Cast(e(0), LongType)).toAggregateExpression()),
        Cast(e(1), LongType), Cast(e(2), LongType))
    }

    // ================= aggregates =================
    // arg_max/min skip NULL args; the *_null variants keep them
    // (probed: arg_max over ('a',1),(NULL,99) = 'a'; arg_max_null =
    // NULL) — the skip is an aggregate FILTER so pushdown still sees
    // the native MaxBy
    def aggFiltered(fn: AggregateFunction, filter: Expression): Expression =
      AggregateExpression(fn, Complete, isDistinct = false, Some(filter),
        NamedExpression.newExprId)
    alias("arg_max")(e => aggFiltered(MaxBy(e(0), e(1)), IsNotNull(e(0))))
    alias("argmax")(e => aggFiltered(MaxBy(e(0), e(1)), IsNotNull(e(0))))
    alias("arg_min")(e => aggFiltered(MinBy(e(0), e(1)), IsNotNull(e(0))))
    alias("argmin")(e => aggFiltered(MinBy(e(0), e(1)), IsNotNull(e(0))))
    alias("arg_max_null")(e => MaxBy(e(0), e(1)).toAggregateExpression())
    alias("arg_min_null")(e => MinBy(e(0), e(1)).toAggregateExpression())
    alias("count_star")(e => Count(Literal(1)).toAggregateExpression())
    // count_if counts truthy values (nonzero numerics included)
    alias("count_if")(e =>
      aggFiltered(Count(Literal(1)),
        EqualTo(Cast(e.head, BooleanType), Literal(true))))
    alias("geometric_mean")(e =>
      Exp(Average(Log(dbl(e.head))).toAggregateExpression()))
    def stringAgg(x: Expression, sep: Expression): Expression = {
      val arr = CollectList(str(x)).toAggregateExpression()
      If(EqualTo(Size(arr, legacySizeOfNull = false), Literal(0)),
        Literal(null, StringType), ArrayJoin(arr, sep, None))
    }
    alias("group_concat") {
      case Seq(x) => stringAgg(x, Literal(","))
      case e => stringAgg(e(0), e(1))
    }
    alias("listagg") {
      case Seq(x) => stringAgg(x, Literal(","))
      case e => stringAgg(e(0), e(1))
    }
    alias("list")(e => CollectList(e.head).toAggregateExpression())
    // over EMPTY input DuckDB's histogram is NULL, not {} — the
    // else-less CaseWhen types the NULL from the branch
    alias("histogram") { e =>
      def m = listHistogram(CollectList(e.head).toAggregateExpression())
      CaseWhen(Seq((GreaterThan(
        Size(m, legacySizeOfNull = false), Literal(0)), m)), None)
    }
    alias("sem") { e =>
      // stddev_pop / sqrt(n) (probed: sem of (1,2,3,10) = 1.7678;
      // single value → 0.0)
      val x = dbl(e.head)
      val n = dbl(Count(x).toAggregateExpression())
      val sd = StddevPop(x).toAggregateExpression()
      If(EqualTo(n, Literal(0.0d)), Literal(null, DoubleType),
        Divide(sd, Sqrt(n)))
    }
    alias("kurtosis_pop") { e =>
      // population g2 = Spark's Kurtosis, NaN → NULL
      val g2 = Kurtosis(dbl(e.head)).toAggregateExpression()
      If(IsNaN(g2), Literal(null, DoubleType), g2)
    }
    // quantile = quantile_disc incl. the list-of-quantiles form
    // (probed: type-preserving — ints stay ints)
    def qdisc(x: Expression, q: Expression): Expression = {
      val sorted = new SortArray(CollectList(x).toAggregateExpression())
      val n = Size(sorted, legacySizeOfNull = false)
      def idx(qq: Expression) = Greatest(Seq(Literal(1),
        Cast(Ceil(Multiply(Cast(qq, DoubleType), Cast(n, DoubleType))),
          IntegerType)))
      ElementAt(sorted, idx(q), None, failOnError = false)
    }
    def qdiscMulti(x: Expression, qs: Expression): Expression = {
      val sorted = new SortArray(CollectList(x).toAggregateExpression())
      val n = Size(sorted, legacySizeOfNull = false)
      ArrayTransform(qs, lam1(qq =>
        ElementAt(sorted, Greatest(Seq(Literal(1),
          Cast(Ceil(Multiply(Cast(qq, DoubleType), Cast(n, DoubleType))),
            IntegerType))), None, failOnError = false)))
    }
    def quantilePoly(x: Expression, q: Expression): Expression = q match {
      case _: CreateArray => qdiscMulti(x, q)
      case Literal(_, _: ArrayType) => qdiscMulti(x, q)
      case _ => qdisc(x, q)
    }
    alias("quantile") {
      case Seq(x) => qdisc(x, Literal(0.5d))
      case e => quantilePoly(e(0), e(1))
    }
    alias("reservoir_quantile") {
      // exact disc quantile (the reservoir is an approximation knob;
      // sample-size arg accepted and ignored)
      case Seq(x, q) => quantilePoly(x, q)
      case e => quantilePoly(e(0), e(1))
    }

    // ================= date / time =================
    alias("age") {
      // anchored at now() INCLUDING time of day (probed vs DuckDB —
      // pg anchors current_date, DuckDB does not)
      case Seq(a) => GraftCall("age",
        Seq(UnixMicros(CurrentTimestamp()),
          UnixMicros(Cast(a, TimestampType))), CalendarIntervalType)
      case e => GraftCall("age",
        Seq(UnixMicros(Cast(e(0), TimestampType)),
          UnixMicros(Cast(e(1), TimestampType))), CalendarIntervalType)
    }
    // micros/millis WITHIN THE MINUTE, seconds included (probed:
    // microsecond('..10:30:45.123456') = 45123456)
    alias("microsecond")(e => MinuteFracPoly(e.head, micros = true))
    alias("millisecond")(e => MinuteFracPoly(e.head, micros = false))
    alias("epoch_us")(e => EpochPoly(e.head, EpochPoly.US))
    alias("epoch_ns")(e => EpochPoly(e.head, EpochPoly.NS))
    alias("make_timestamptz") {
      case Seq(us) => MicrosToTimestamp(us)
      case e =>
        MakeTimestamp(i32(e(0)), i32(e(1)), i32(e(2)), i32(e(3)), i32(e(4)),
          Cast(e(5), DecimalType(16, 6)))
    }
    // session TZ is pinned UTC → offsets are 0. The 2-arg form is
    // AT TIME ZONE, whose direction depends on the input TYPE: a
    // plain TIMESTAMP is a wall time INTERPRETED in the zone (probed:
    // timezone('America/New_York', TIMESTAMP '12:00') = 17:00 UTC) —
    // graft's columns are all TIMESTAMP, so that is the type-correct
    // default here; TIMESTAMPTZ literals dispatch to from_utc at the
    // SqlRewrites seam before the tz-literal collapse erases them.
    alias("timezone") {
      case Seq(_) => Literal(0L)
      case e => ToUTCTimestamp(Cast(e(1), TimestampType), e(0))
    }
    alias("timezone_hour")(e => Literal(0L))
    alias("timezone_minute")(e => Literal(0L))
    alias("today")(e => CurrentDate())
    alias("transaction_timestamp")(e => CurrentTimestamp())
    alias("get_current_timestamp")(e => CurrentTimestamp())
    alias("current_localtimestamp")(e => LocalTimestamp())
    alias("current_localtime")(e => CurrentTime(Literal(6)))
    alias("get_current_time")(e => CurrentTime(Literal(6)))
    alias("try_strptime") { e =>
      def one(fmt: Expression): Expression = fmt match {
        case Literal(s0, StringType) if s0 != null =>
          val jfmt = StrfTime.toJava(s0.toString)
          val parsed = ParseToTimestamp(e(0), Some(Literal(jfmt)), TimestampType)
          // same 1900-01-01 missing-year default as strptime (probed)
          TryEval(if (jfmt.contains("y")) parsed
            else TimestampAdd("YEAR", Literal(-70), parsed))
        case Literal(null, _) => Literal(null, TimestampType)
        // a NULL inside a format LIST arrives coercion-wrapped
        case Cast(Literal(null, _), _, _, _) => Literal(null, TimestampType)
        case other => throw new IllegalArgumentException(
          s"try_strptime: the format must be a string literal, got $other")
      }
      e(1) match {
        case CreateArray(fmts, _) => Coalesce(fmts.map(one))
        case f => one(f)
      }
    }
    alias("to_quarters")(e =>
      MakeInterval(Literal(0), Multiply(i32(e.head), Literal(3)), Literal(0),
        Literal(0), Literal(0), Literal(0),
        Literal(Decimal(0L, 18, 6), DecimalType(18, 6))))
    alias("timetz_byte_comparable")(e =>
      GraftCall("timetz_byte_comparable", Seq(Cast(e.head, StringType)), LongType))

    // ================= JSON =================
    alias("json")(e => GraftCall("json_canon", Seq(str(e.head)), StringType))
    alias("json_valid")(e => GraftCall("json_valid", Seq(str(e.head)), BooleanType))
    alias("json_type")(e => GraftCall("json_type", e.map(str), StringType))
    def jsonExtract(fn: String)(e: Seq[Expression]): Expression = e(1) match {
      case CreateArray(paths, _) => // list-of-paths form → LIST result
        CreateArray(paths.map(pth =>
          GraftCall(fn, Seq(str(e(0)), str(pth)), StringType)))
      case pth => GraftCall(fn, Seq(str(e(0)), str(pth)), StringType)
    }
    alias("json_extract")(jsonExtract("json_extract"))
    alias("json_extract_path")(jsonExtract("json_extract"))
    alias("json_extract_string")(jsonExtract("json_extract_string"))
    alias("json_extract_path_text")(jsonExtract("json_extract_string"))
    alias("json_keys")(e =>
      GraftCall("json_keys", e.map(str), ArrayType(StringType)))
    alias("json_array_length")(e =>
      GraftCall("json_array_length", e.map(str), LongType))
    alias("json_contains")(e =>
      GraftCall("json_contains", Seq(str(e(0)), str(e(1))), BooleanType))
    alias("json_structure")(e =>
      GraftCall("json_structure", Seq(str(e.head)), StringType))
    alias("json_merge_patch")(e =>
      GraftCall("json_merge_patch", Seq(str(e(0)), str(e(1))), StringType))
    alias("json_array")(e => {
      val parts = e.map(x => JsonValPoly(x))
      Concat(Seq(Literal("["),
        ArrayJoin(CreateArray(parts), Literal(","), None), Literal("]")))
    })
    alias("json_object")(e => {
      val pairs = e.grouped(2).toSeq.map { case Seq(k, v) =>
        Concat(Seq(JsonValPoly(str(k)), Literal(":"), JsonValPoly(v)))
      }
      Concat(Seq(Literal("{"),
        ArrayJoin(CreateArray(pairs), Literal(","), None), Literal("}")))
    })
    alias("json_group_array") { e =>
      val parts = ArrayTransform(
        CollectList(e.head).toAggregateExpression(), lam1(JsonValPoly))
      Concat(Seq(Literal("["),
        ArrayJoin(parts, Literal(","), None), Literal("]")))
    }
    alias("json_group_object") { e =>
      val entries = ZipWith(
        CollectList(str(e(0))).toAggregateExpression(),
        CollectList(e(1)).toAggregateExpression(),
        lam2((k, v) =>
          Concat(Seq(JsonValPoly(k), Literal(":"), JsonValPoly(v)))))
      Concat(Seq(Literal("{"),
        ArrayJoin(entries, Literal(","), None), Literal("}")))
    }
    // over a VARCHAR column the group structure is the string type
    // (probed: json_group_structure of VARCHAR input = '"VARCHAR"';
    // our json() returns STRING, so this matches the delegated shape)
    alias("json_group_structure")(e =>
      GraftCall("json_structure",
        Seq(ElementAt(CollectList(str(e.head)).toAggregateExpression(),
          Literal(1), None, failOnError = false)), StringType))
    alias("json_serialize_sql")(e => serializeSql(e.head))
    alias("json_serialize_plan")(e => serializeSql(e.head))

    // epoch family over TIME values (probed: epoch(TIME '10:30:45') =
    // 37845.0 seconds-of-day) — timestamps keep the DuckAliases path
    alias("epoch")(e => EpochPoly(e.head, EpochPoly.S))
    alias("epoch_ms")(e => EpochPoly(e.head, EpochPoly.MS))
    // mad over TIME values returns an INTERVAL (probed: mad of a
    // single TIME = '00:00:00'); numeric inputs keep the r8 MadAgg
    // double semantics — runtime dispatch, same reason as BitFoldAgg
    alias("mad")(e => MadPolyAgg(e.head).toAggregateExpression())
    // date-part extraction over INTERVAL values (probed: dayofmonth(
    // INTERVAL '45' DAY) = 45, second(INTERVAL '100' SECOND) = 40);
    // non-interval input falls through to the Spark builtin
    alias("dayofmonth")(e => PartPoly("day", e.head))
    alias("second")(e => PartPoly("second", e.head))

    // ================= pg_catalog shims =================
    // constant-true visibility/privilege probes (psql introspection
    // fodder; DuckDB does the same constant shim)
    for (n <- Seq("pg_table_is_visible", "pg_type_is_visible",
        "pg_function_is_visible", "pg_collation_is_visible",
        "pg_conversion_is_visible", "pg_opclass_is_visible",
        "pg_operator_is_visible", "pg_opfamily_is_visible",
        "pg_ts_config_is_visible", "pg_ts_dict_is_visible",
        "pg_ts_parser_is_visible", "pg_ts_template_is_visible",
        "pg_has_role", "has_any_column_privilege", "has_column_privilege",
        "has_database_privilege", "has_foreign_data_wrapper_privilege",
        "has_function_privilege", "has_language_privilege",
        "has_schema_privilege", "has_sequence_privilege",
        "has_server_privilege", "has_table_privilege",
        "has_tablespace_privilege"))
      alias(n)(_ => Literal(true))
    for (n <- Seq("col_description", "obj_description", "shobj_description",
        "pg_get_viewdef", "pg_get_constraintdef",
        "inet_client_addr", "map_to_pg_oid"))
      alias(n)(_ => Literal(null, StringType))
    alias("pg_get_expr")(e => e.head) // identity (probed: type-preserving)
    for (n <- Seq("inet_client_port", "inet_server_port"))
      alias(n)(_ => Literal(null, IntegerType))
    alias("inet_server_addr")(_ => Literal(null, StringType))
    alias("pg_my_temp_schema")(_ => Literal(0L))
    alias("pg_is_other_temp_schema")(_ => Literal(false))
    alias("pg_postmaster_start_time")(_ => CurrentTimestamp())
    alias("pg_conf_load_time")(_ => CurrentTimestamp())
    alias("current_role")(_ => Literal("duckdb"))
    // DuckDB's session identity is the CONSTANT 'duckdb' for every
    // user-facing spelling (probed); Spark's builtins leak the OS
    // user, so override all three in the registry
    for (n <- Seq("current_user", "session_user", "user"))
      alias(n)(_ => Literal("duckdb"))
    // database = the in-memory default catalog the introspection
    // surface already reports ('memory', Introspection.scala), schema
    // = DuckDB's default 'main' — probed; Spark's builtins answer
    // spark_catalog/default, which no DuckDB client expects
    alias("current_schema")(_ => Literal("main"))
    for (n <- Seq("current_database", "current_catalog"))
      alias(n)(_ => Literal("memory"))
    alias("current_query")(_ => Literal.create(
      Option(Engine.currentQuery.get()).orNull, StringType))
    // one 'main' per search-path catalog — memory + system + temp
    // (probed: ['main','main','main','pg_catalog'], and ATTACHing
    // another database does NOT extend it)
    def mainsThenPg(): Expression =
      CreateArray(Seq.fill(3)(Literal("main")) :+ Literal("pg_catalog"))
    alias("current_schemas") {
      case Seq(Literal(true, BooleanType)) => mainsThenPg()
      case Seq(Literal(false, BooleanType)) =>
        CreateArray(Seq.empty[Expression], useStringTypeWhenEmpty = true)
      case e =>
        If(Cast(e.head, BooleanType), mainsThenPg(),
          ArrayRepeat(Literal("main"), Literal(0)))
    }
    alias("in_search_path")(e =>
      In(str(e.head), Seq(Literal("main"), Literal("pg_catalog"))))
    alias("pg_typeof")(e => TypeOfDuck(e.head))
    alias("format_type") {
      case Seq(oid, _) => PgFormatType(oid)
      case e => PgFormatType(e.head)
    }
    alias("format_pg_type")(e => PgFormatTypeName(str(e.head)))
    alias("pg_size_pretty") { e =>
      // pg rendering: bytes → kB/MB/GB/TB at 1024 steps, 1 decimal
      val b = dbl(e.head)
      def fmt(v: Expression, unit: String) =
        Concat(Seq(Cast(Round(v, Literal(1)), StringType), Literal(" " + unit)))
      If(LessThan(b, Literal(10240.0d)),
        Concat(Seq(Cast(Cast(b, LongType), StringType), Literal(" bytes"))),
        If(LessThan(b, Literal(10485760.0d)), fmt(Divide(b, Literal(1024.0d)), "kB"),
          If(LessThan(b, Literal(10737418240.0d)),
            fmt(Divide(b, Literal(1048576.0d)), "MB"),
            fmt(Divide(b, Literal(1073741824.0d)), "GB"))))
    }
    // ================= diagnostics / engine metadata =================
    alias("stats")(e => GraftCall("stats", Seq(str(e.head)), StringType))
    alias("vector_type")(e =>
      if (e.head.foldable) Literal("CONSTANT_VECTOR") else Literal("FLAT_VECTOR"))
    alias("get_block_size")(e =>
      CaseWhen(Seq((EqualTo(str(e.head), Literal("memory")), Literal(0L))),
        Some(Literal(null, LongType))))
    alias("setseed")(e => Literal(null, StringType)) // session-RNG seed: no-op
    alias("alias") { e =>
      val name = e.head match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.last
        case Literal(v, _) => String.valueOf(v)
        case other => other.prettyName
      }
      Literal(name)
    }
    // probed renderings: below the first unit → 'N bytes' (integer);
    // above → one decimal + KiB/MiB/GiB (binary) or KB/MB/GB (decimal)
    def readable(e: Expression, base: Double, units: Seq[String]): Expression = {
      val b = dbl(e)
      def fmt(v: Expression, unit: String) =
        Concat(Seq(Cast(Round(v, Literal(1)), StringType), Literal(" " + unit)))
      val bytesCase =
        Concat(Seq(Cast(Cast(b, LongType), StringType), Literal(" bytes")))
      If(LessThan(b, Literal(base)), bytesCase,
        If(LessThan(b, Literal(base * base)), fmt(Divide(b, Literal(base)), units(0)),
          If(LessThan(b, Literal(base * base * base)),
            fmt(Divide(b, Literal(base * base)), units(1)),
            fmt(Divide(b, Literal(base * base * base)), units(2)))))
    }
    for (n <- Seq("formatReadableSize", "format_bytes"))
      alias(n)(e => readable(e.head, 1024.0, Seq("KiB", "MiB", "GiB")))
    alias("formatReadableDecimalSize")(e =>
      readable(e.head, 1000.0, Seq("KB", "MB", "GB")))
    // generate_series already exists as a TVF; the SCALAR form returns
    // the list (probed: generate_series(3) = [0..3], INCLUSIVE ends;
    // default step ALWAYS +1 — generate_series(5, 1) is EMPTY, never
    // direction-inferred like Spark's sequence; zero step → [])
    alias("generate_series") {
      case Seq(stop) => DuckSeries(Literal(0L), stop, None, exclusive = false)
      case Seq(start, stop) => DuckSeries(start, stop, None, exclusive = false)
      case e => DuckSeries(e(0), e(1), Some(e(2)), exclusive = false)
    }
    // ---- corpus round-2: names the generator could not synthesize
    // args for until r9's targeted samples (all probed) ----
    def listAggregate(l: Expression, fname: String): Expression =
      fname.toLowerCase match {
        case "sum" => lSum(l)
        case "avg" | "mean" => Divide(lSum(l), Cast(lCount(l), DoubleType))
        case "min" => ArrayMin(l)
        case "max" => ArrayMax(l)
        case "count" => lCount(l)
        case other => throw new IllegalArgumentException(
          s"list aggregate: unsupported function '$other'")
      }
    def fnameOf(e: Expression): String = e match {
      case Literal(v, StringType) if v != null => String.valueOf(v)
      case other => throw new IllegalArgumentException(
        s"aggregate: function name must be a literal, got $other")
    }
    // Spark-4 trap (see the map/element_at note in COVERAGE):
    // functions.aggregate resolves BY NAME through this registry, so
    // the DuckDB 2-arg (list, 'fname') form must coexist with Spark's
    // 3/4-arg lambda fold used by the pipeline operators
    alias("aggregate") {
      case Seq(l, f @ Literal(_, StringType)) => listAggregate(l, fnameOf(f))
      case Seq(l, z, m) => ArrayAggregate(l, z, m, lam1(identity))
      case e => ArrayAggregate(e(0), e(1), e(2), e(3))
    }
    for (n <- Seq("array_aggr", "array_aggregate", "list_aggr"))
      alias(n)(e => listAggregate(e(0), fnameOf(e(1))))
    alias("approx_quantile")(e =>
      new ApproximatePercentile(dbl(e(0)), e(1)).toAggregateExpression())
    alias("array_value")(e => CreateArray(e))
    alias("row")(e => CreateStruct(e))
    alias("struct_pack")(e => CreateNamedStruct(e))
    alias("struct_extract")(e =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(e(0), e(1)))
    alias("struct_insert") { e =>
      val ops = e.drop(1).grouped(2).map { case Seq(k, v) =>
        WithField(fnameOf(k), v)
      }.toSeq
      UpdateFields(e(0), ops)
    }
    // array_where / array_zip share the list_ builders' semantics
    alias("array_where") { e =>
      val x = lv(); val i = lv()
      ArrayFilter(e(0), LambdaFunction(
        EqualTo(ElementAt(e(1), Add(Cast(i, IntegerType), Literal(1)), None,
          failOnError = false), Literal(true)), Seq(x, i)))
    }
    alias("array_zip")(e => ArraysZip(e))
    // to_json family: type-dispatched JSON rendering; NULL input stays
    // SQL NULL (probed: to_json(NULL) = NULL), unlike the constructor
    // contexts where JsonValPoly renders 'null'
    for (n <- Seq("to_json", "json_quote", "array_to_json", "row_to_json"))
      alias(n) { e => // options arg (Spark's 2-arg to_json) accepted+ignored
        If(IsNull(e.head), Literal(null, StringType), JsonValPoly(e.head))
      }
    // from_json / json_transform: DuckDB structure literal → typed
    // value ({"a":"BIGINT"} / ["BIGINT"] / "BIGINT")
    def fromJson(j: Expression, structure: Expression, strict: Boolean): Expression = {
      val text = structure match {
        case Literal(v, StringType) if v != null => String.valueOf(v)
        case other => throw new IllegalArgumentException(
          s"from_json: structure must be a string literal, got $other")
      }
      // DuckDB structure JSON first; fall back to Spark DDL ('a INT')
      // so Spark-style from_json callers keep working
      val dt =
        try GraftCall.structureToType(GraftCall.parseStructure(text))
        catch { case _: Exception =>
          org.apache.spark.sql.types.DataType.fromDDL(text) }
      // parse with a STRING-leaf twin of the target schema, then cast
      // each leaf — DuckDB coerces quoted scalars ('"7"' → BIGINT 7,
      // probed) where Spark's typed JSON parse nulls them; a VARCHAR
      // leaf over an object keeps the raw JSON text in both engines.
      // Leaf failures null ONLY that leaf (non-strict) / error
      // (strict) — probed granularity.
      def stringTwin(t: DataType): DataType = t match {
        case st: StructType =>
          StructType(st.fields.map(f => f.copy(dataType = stringTwin(f.dataType))))
        case ArrayType(et, n) => ArrayType(stringTwin(et), n)
        case MapType(_, vt, n) => MapType(StringType, stringTwin(vt), n)
        case _ => StringType
      }
      def leafCast(e: Expression, t: DataType): Expression =
        if (strict) Cast(e, t, Some("UTC"))
        else TryEval(Cast(e, t, Some("UTC")))
      def coerce(e: Expression, t: DataType): Expression = t match {
        case st: StructType =>
          val fields = st.fields.zipWithIndex.flatMap { case (f, i) =>
            Seq(Literal(f.name),
              coerce(GetStructField(e, i, Some(f.name)), f.dataType))
          }
          If(IsNull(e), Literal(null, t), CreateNamedStruct(fields.toSeq))
        case ArrayType(et, _) =>
          ArrayTransform(e, lam1(x => coerce(x, et)))
        case MapType(kt, vt, _) =>
          // DuckDB structure JSON can only declare string keys, but the
          // Spark-DDL fallback ('MAP<INT,INT>') can declare typed keys
          // — coerce those too so the result honors the declared type
          // (r11 advice); an uncastable key nulls and TransformKeys
          // raises its null-key error, which is the honest failure
          val valued = TransformValues(e, lam2((_, v) => coerce(v, vt)))
          if (kt == StringType) valued
          else TransformKeys(valued, lam2((k, _) => Cast(k, kt, Some("UTC"))))
        case scalar if scalar != StringType => leafCast(e, scalar)
        case _ => e
      }
      dt match {
        case dt @ (_: StructType | _: ArrayType | _: MapType) =>
          coerce(JsonToStructs(stringTwin(dt), Map.empty[String, String],
            str(j), Some("UTC")), dt)
        case scalar =>
          val text = GraftCall("json_extract_string", Seq(str(j), Literal("")),
            StringType)
          leafCast(text, scalar)
      }
    }
    alias("from_json")(e => fromJson(e(0), e(1), strict = false))
    alias("from_json_strict")(e => fromJson(e(0), e(1), strict = true))
    alias("json_transform")(e => fromJson(e(0), e(1), strict = false))
    alias("json_transform_strict")(e => fromJson(e(0), e(1), strict = true))
    alias("json_deserialize_sql")(e =>
      GraftCall("json_deserialize_sql", Seq(str(e.head)), StringType))
    alias("from_base64")(e => UnBase64(e.head))
    for (n <- Seq("unbin", "from_binary"))
      alias(n)(e => GraftCall("from_binary", Seq(str(e.head)), BinaryType))
    // DuckDB to_binary renders binary DIGITS (probed: to_binary(3) =
    // '11', strings bit-expand per utf8 byte) — Spark's builtin of the
    // same name decodes hex, so shadow it with a type dispatch
    alias("to_binary")(e => ToBinaryDigits(e.head))
    // generate_subscripts(l, dim): 1-based index generator (dim beyond
    // 1 unsupported — our lists are 1-D)
    alias("generate_subscripts")(e =>
      Explode(Sequence(Literal(1),
        Size(e(0), legacySizeOfNull = false), None, Some("UTC"))))
    def boolFold(l0: Expression, or: Boolean): Expression = {
      val l = ArrayTransform(nn(l0), lam1(x => Cast(x, BooleanType)))
      If(EqualTo(Size(l, legacySizeOfNull = false), Literal(0)),
        Literal(null, BooleanType),
        ArrayAggregate(popFrontList(l),
          ElementAt(l, Literal(1), None, failOnError = false),
          lam2((a, b) => if (or) Or(a, b) else And(a, b)), lam1(identity)))
    }
    alias("list_bool_and")(e => boolFold(e.head, or = false))
    alias("list_bool_or")(e => boolFold(e.head, or = true))
    alias("sum_no_overflow")(e => Sum(e.head).toAggregateExpression())
    // DuckDB's order-preserving sort-key byte encoding, reproduced
    // exactly (see CreateSortKey's probe-derived rule table)
    alias("create_sort_key")(e => CreateSortKey(e))

    // DuckDB date_trunc returns DATE for day-and-coarser parts
    // (probed; hour and finer stay TIMESTAMP)
    val datePartsToDate = Set("millennium", "century", "decade", "year",
      "quarter", "month", "week", "day")
    for (n <- Seq("date_trunc", "datetrunc"))
      alias(n) { e =>
        val t = TruncTimestamp(e(0), Cast(e(1), TimestampType, Some("UTC")),
          Some("UTC"))
        e(0) match {
          case Literal(v, StringType)
              if v != null && datePartsToDate(v.toString.toLowerCase) =>
            Cast(t, DateType, Some("UTC"))
          case _ => t
        }
      }

    // greatest/least accept a single argument in DuckDB; the marker
    // routes the n-ary forms through DuckDB's typed-overload
    // resolution (all-integral→BIGINT, any-fractional→DOUBLE,
    // VARCHAR casts to the other side) in DuckVarargCoerceRule
    alias("greatest") {
      case Seq(x) => x
      case e => VarargCoerceMarker(e, greatest = true)
    }
    alias("least") {
      case Seq(x) => x
      case e => VarargCoerceMarker(e, greatest = false)
    }
  }

  /** engine-specific statement serialization: parseability probe plus
    * the input echoed — NOT DuckDB's AST dump (documented divergence;
    * the error flag semantics match). */
  private def serializeSql(sql: Expression): Expression = sql match {
    case Literal(v, StringType) if v != null =>
      val text = String.valueOf(v)
      val parsed =
        try { org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(text); true }
        catch { case _: Exception => false }
      val payload =
        if (parsed)
          s"""{"error":false,"statements":[{"sql":${jsonQuote(text)}}]}"""
        else
          s"""{"error":true,"error_type":"parser","error_message":${jsonQuote("parse error in " + text)}}"""
      Literal(payload)
    case other =>
      GraftCall("json_canon", Seq(Cast(other, StringType)), StringType)
  }
  private def jsonQuote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""

  private def quoteIfLiteral(sep: Expression): Expression = sep match {
    case Literal(v, _) if v != null =>
      Literal(java.util.regex.Pattern.quote(v.toString))
    case e => e
  }
}

/** DuckDB to_binary: integers → binary digit string (= bin);
  * strings → the 8-bit pattern of each utf8 byte (probed). */
case class ToBinaryDigits(child: Expression)
    extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case StringType => GraftCall("string_bits", Seq(child), StringType)
    case _ => Bin(Cast(child, LongType))
  }
  override protected def withNewChildInternal(c: Expression): ToBinaryDigits =
    copy(child = c)
}

/** truncated integer division on integral types, plain division
  * otherwise — DuckDB's divide() (probed: divide(7,2)=3,
  * divide(-7,2)=-3, divide(7.5,2)=3.75, divide(7,0)=NULL). */
case class DividePoly(left: Expression, right: Expression)
    extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  // the integral result keeps the WIDER input type, not BIGINT
  // (probed: typeof(7 // 2) = INTEGER, SMALLINT // SMALLINT = SMALLINT)
  private def wider(a: DataType, b: DataType): DataType = {
    def rank(d: DataType): Int = d match {
      case ByteType => 0
      case ShortType => 1
      case IntegerType => 2
      case _ => 3
    }
    if (rank(a) >= rank(b)) a else b
  }
  override lazy val replacement: Expression =
    if (integral(left.dataType) && integral(right.dataType))
      Cast(TryEval(IntegralDivide(Cast(left, LongType), Cast(right, LongType),
        EvalMode.TRY)), wider(left.dataType, right.dataType))
    else TryEval(Divide(Cast(left, DoubleType), Cast(right, DoubleType),
      EvalMode.TRY))
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DividePoly = copy(left = l, right = r)
}

/** date + int = days; everything else is plain Add — DuckDB's
  * date_add macro. */
case class AddPoly(left: Expression, right: Expression)
    extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
  override lazy val replacement: Expression = (left.dataType, right.dataType) match {
    case (DateType, ByteType | ShortType | IntegerType | LongType) =>
      DateAdd(left, i32r)
    case _ => Add(left, right)
  }
  private def i32r = Cast(right, IntegerType)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): AddPoly = copy(left = l, right = r)
}

/** DuckDB-style lowercase type name of the argument (pg_typeof). */
case class TypeOfDuck(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      TypeOfDuck.pgName(child.dataType))
  override protected def withNewChildInternal(c: Expression): TypeOfDuck =
    copy(child = c)
}
object TypeOfDuck {
  def pgName(dt: DataType): String = dt match {
    case IntegerType => "integer"
    case LongType => "bigint"
    case ShortType => "smallint"
    case ByteType => "tinyint"
    case StringType => "varchar"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "timestamp"
    case BinaryType => "blob"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case a: ArrayType => s"${pgName(a.elementType)}[]"
    case _: MapType => "map"
    case _: StructType => "struct"
    case _ => dt.simpleString
  }
}

/** pg format_type(oid): OID → type name via the wire-type table. */
case class PgFormatType(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else PgFormatType.byOid.get(String.valueOf(v).toInt) // unknown oid → NULL (probed)
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)
      .orNull
  }
  override protected def withNewChildInternal(c: Expression): PgFormatType =
    copy(child = c)
}
object PgFormatType {
  val byOid: Map[Int, String] = Map(
    16 -> "boolean", 17 -> "bytea", 20 -> "bigint", 21 -> "smallint",
    23 -> "integer", 25 -> "varchar", 700 -> "real", 701 -> "double precision",
    1043 -> "varchar", 1082 -> "date", 1114 -> "timestamp without time zone",
    1184 -> "timestamp with time zone", 1700 -> "numeric", 2950 -> "uuid")
}

/** format_pg_type('integer') = 'int4' — SQL name → pg internal name. */
case class PgFormatTypeName(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val n = v.toString.toLowerCase
      org.apache.spark.unsafe.types.UTF8String.fromString(
        PgFormatTypeName.names.getOrElse(n, n))
    }
  }
  override protected def withNewChildInternal(c: Expression): PgFormatTypeName =
    copy(child = c)
}
object PgFormatTypeName {
  val names: Map[String, String] = Map(
    "integer" -> "int4", "bigint" -> "int8", "smallint" -> "int2",
    "boolean" -> "bool", "double" -> "float8", "float" -> "float4",
    "real" -> "float4", "varchar" -> "varchar", "date" -> "date",
    "timestamp" -> "timestamp", "decimal" -> "numeric", "blob" -> "bytea")
}

/** render any value as JSON text, dispatched on the resolved type:
  * strings quote+escape, numerics/booleans print bare, NULL → 'null',
  * containers recurse through Spark's to_json. Never SQL-NULL (a JSON
  * null is the string 'null'), so ArrayJoin concatenation is safe. */
case class JsonValPoly(child: Expression)
    extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override lazy val replacement: Expression = {
    val rendered = child.dataType match {
      case StringType => GraftCall("json_quote", Seq(child), StringType)
      case BooleanType => Cast(child, StringType)
      case _: NumericType => Cast(child, StringType)
      case NullType => Literal("null")
      case _: ArrayType | _: MapType | _: StructType =>
        StructsToJson(Map.empty[String, String], child, Some("UTC"))
      case _ => GraftCall("json_quote", Seq(Cast(child, StringType)), StringType)
    }
    If(IsNull(child), Literal("null"), rendered)
  }
  override protected def withNewChildInternal(c: Expression): JsonValPoly =
    copy(child = c)
}

/** epoch/epoch_ms/epoch_us/epoch_ns over timestamps, TIME values
  * (seconds-of-day) and intervals (total duration; months count as 30
  * days, matching DuckDB) — the polymorphic epoch family (probed:
  * epoch(TIME '10:30:45') = 37845.0; epoch_us(INTERVAL '2' DAY) =
  * 172800000000; epoch_ns(INTERVAL '1' MONTH) = 2592000000000000). */
case class EpochPoly(child: Expression, unit: Int)
    extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  import EpochPoly._
  private def fromMicros(us: Expression): Expression = unit match {
    case S => Divide(Cast(us, DoubleType), Literal(1e6))
    // integer division: DuckDB TRUNCATES sub-ms toward zero (probed:
    // epoch_ms('...00.0009') = 0 both sides of epoch) — and a bare
    // fractional→long cast would now round via DuckNumericCastRule
    case MS => IntegralDivide(Cast(us, LongType), Literal(1000L))
    case US => Cast(us, LongType)
    case NS => Multiply(Cast(us, LongType), Literal(1000L))
  }
  override lazy val replacement: Expression = child.dataType match {
    case _: TimeType =>
      fromMicros(GraftCall("time_micros_of", Seq(Cast(child, StringType)), LongType))
    case _: DayTimeIntervalType | _: YearMonthIntervalType |
        CalendarIntervalType =>
      // epoch() uses the 365.25-day year rule; ms/us/ns flatten at 30
      fromMicros(GraftCall(
        if (unit == S) "interval_epoch_micros" else "interval_micros",
        Seq(child), LongType))
    // explicit session TZ: ReplaceExpressions runs after
    // ResolveTimeZone, so a tz-needing Cast would stay unresolved
    case _ => fromMicros(UnixMicros(Cast(child, TimestampType, Some("UTC"))))
  }
  override protected def withNewChildInternal(c: Expression): EpochPoly =
    copy(child = c)
}
object EpochPoly {
  val S = 0; val MS = 1; val US = 2; val NS = 3
}

/** micros/millis within the minute, seconds included (probed:
  * microsecond(TIMESTAMP '..10:30:45.123456') = 45123456), over
  * timestamps and TIME values. */
case class MinuteFracPoly(child: Expression, micros: Boolean)
    extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override lazy val replacement: Expression = {
    val us = child.dataType match {
      case _: TimeType =>
        GraftCall("time_micros_of", Seq(Cast(child, StringType)), LongType)
      case _ => UnixMicros(Cast(child, TimestampType, Some("UTC")))
    }
    val frac = Pmod(us, Literal(60000000L))
    if (micros) frac
    else IntegralDivide(frac, Literal(1000L)) // truncating, like DuckDB
  }
  override protected def withNewChildInternal(c: Expression): MinuteFracPoly =
    copy(child = c)
}


/** date-part over intervals (DuckDB extracts the normalized component:
  * second(INTERVAL '100' SECOND) = 40); other inputs use the Spark
  * builtin for the part. */
case class PartPoly(part: String, child: Expression)
    extends RuntimeReplaceable
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case _: DayTimeIntervalType | _: YearMonthIntervalType |
        CalendarIntervalType =>
      // a field outside the interval's range is 0 after normalization
      // (probed: second(INTERVAL '2' DAY) = 0); BIGINT like DuckDB
      try Cast(ExtractIntervalPart.parseExtractField(part, child), LongType)
      catch { case _: Exception => Literal(0L) }
    case _ => part match {
      case "day" => DayOfMonth(Cast(child, DateType, Some("UTC")))
      case "second" => Second(Cast(child, TimestampType, Some("UTC")), Some("UTC"))
      case other => throw new IllegalArgumentException(s"PartPoly: $other")
    }
  }
  override protected def withNewChildInternal(c: Expression): PartPoly =
    copy(child = c)
}
