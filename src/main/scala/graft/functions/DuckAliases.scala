package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DateType, DoubleType, IntegerType, LongType, MapType, ShortType, StringType, TimestampType}

/** DuckDB-named function aliases over Spark's own expressions — the
  * delegated-surface names a wire client actually types (reference
  * forwards statements verbatim at src/duckdb_pgwire_extension.cpp:52,
  * so DuckDB's function vocabulary IS the API). Every alias builds the
  * native Spark expression directly (registry-level, NOT a UDF), so
  * whole-stage codegen, constant folding and pushdown see the builtin.
  *
  * Notable semantic bridges:
  *  - `len` is polymorphic in DuckDB (strings AND lists) → resolved
  *    after analysis by [[LenPoly]].
  *  - `string_split` splits on a LITERAL separator; Spark's `split`
  *    takes a regex → literal separators are regex-quoted at build.
  *  - `list_slice(l, a, b)` is inclusive-bounds → Spark `slice` with
  *    length b-a+1.
  *  - `range(a, b)` is upper-EXCLUSIVE → `sequence(a, b-1)`.
  */
object DuckAliases {

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def alias(name: String)(b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "built-in")
    // a polymorphic wrapper names an unaliased column after the
    // function the user called (`length(s)`, as DuckDB does), not after
    // its case class: Expression.prettyName reads this tag
    def named(name: String)(b: Expression => Expression): Unit =
      alias(name) { e =>
        val x = b(e.head)
        x.setTagValue(FunctionRegistry.FUNC_ALIAS, name)
        x
      }

    named("len")(LenPoly(_))
    // DuckDB's length is polymorphic too: list/map length, else chars
    named("length")(LenPoly(_))
    named("reverse")(ReversePoly(_))
    alias("list_distinct")(e => ArrayDistinct(e.head))
    // SELECT-position unnest (row-exploding projection; FROM-position
    // is the injected TVF) — full DuckDB surface incl. unnest(struct)
    // and recursive/max_depth options, see DuckUnnest
    alias("unnest")(e => DuckUnnest.fromArgs(e))
    alias("list_transform")(e => ArrayTransform(e(0), e(1)))
    alias("list_filter")(e => ArrayFilter(e(0), e(1)))
    alias("list_contains")(e => ArrayContains(e(0), e(1)))
    alias("list_has")(e => ArrayContains(e(0), e(1)))
    alias("list_intersect")(e => ArrayIntersect(e(0), e(1)))
    alias("list_sort")(e => new SortArray(e.head))
    alias("list_reverse_sort")(e => SortArray(e.head, Literal(false)))
    alias("list_unique")(e => Size(ArrayDistinct(e.head), false))
    // DuckDB's array_to_string is string_agg-shaped: an EMPTY list
    // yields NULL, not '' (probed; NULL elements are skipped, which
    // ArrayJoin already does). A NULL list falls through the If's
    // null predicate into ArrayJoin(NULL) = NULL.
    alias("array_to_string")(e =>
      If(EqualTo(Size(e(0), legacySizeOfNull = false), Literal(0)),
        Literal(null, StringType), ArrayJoin(e(0), e(1), None)))
    alias("list_slice") {
      case Seq(l, a, b) => SlicePoly(l, a, b)
      case Seq(l, a, b, st) => SlicePoly.steppedSlice(l, a, b, st)
    }
    // DuckDB bracket syntax, lowered here by BracketRewrite: x[i] is
    // 1-based and polymorphic; x[a:b] is the inclusive slice. Both
    // are also callable directly.
    alias("duck_subscript")(e => SubscriptPoly(e(0), e(1)))
    alias("duck_slice") {
      case Seq(l, a, b) => SlicePoly(l, a, b)
      case Seq(l, a, b, st) => SlicePoly.steppedSlice(l, a, b, st)
    }
    alias("regexp_matches") {
      case Seq(s, p) => RLike(s, p)
      case Seq(s, p, f) => RLike(s, DuckRegexpReplace.withFlags(p, f))
    }
    // DuckDB regexp_replace: FIRST match only unless the g flag —
    // Spark's builtin always replaces all (probed; \1 backrefs too)
    alias("regexp_replace") {
      case Seq(s, p, r) =>
        DuckRegexpReplace(s, p, r, global = false, inlineFlags = "")
      case Seq(s, p, r, f) =>
        val (g, inline) = f match {
          case Literal(fs, StringType) if fs != null =>
            DuckRegexpReplace.parseFlags(fs.toString)
          case other => throw new IllegalArgumentException(
            s"regexp options must be a string literal, got $other")
        }
        DuckRegexpReplace(s, p, r, global = g, inlineFlags = inline)
    }
    // end-exclusive, default step ALWAYS +1, wrong-direction/zero-step
    // → [] — probed DuckDB semantics Sequence cannot express (it
    // direction-infers the default step); timestamps + INTERVAL too
    alias("range") {
      case Seq(stop) => DuckSeries(Literal(0L), stop, None, exclusive = true)
      case Seq(start, stop) => DuckSeries(start, stop, None, exclusive = true)
      case Seq(start, stop, step) =>
        DuckSeries(start, stop, Some(step), exclusive = true)
    }
    // literal separators regex-quoted; non-literal falls through as
    // regex (DuckDB's string_split_regex is also mapped directly).
    // An EMPTY separator splits to characters WITHOUT Spark's
    // trailing '' element (probed: string_split('abc','') is
    // [a, b, c] in the whole family, [''] on empty input).
    alias("string_split")(e => duckSplit(e(0), quoteIfLiteral(e(1))))
    alias("str_split")(e => duckSplit(e(0), quoteIfLiteral(e(1))))
    alias("string_split_regex")(e => duckSplit(e(0), e(1)))
    alias("str_split_regex")(e => duckSplit(e(0), e(1)))
    alias("regexp_split_to_array") {
      case Seq(s, p) => duckSplit(s, p)
      case Seq(s, p, f) =>
        duckSplit(s, DuckRegexpReplace.withFlags(p, f))
    }

    // ---- long-tail sweep: the v1.1.1 vocabulary a pgwire client
    // actually sends (each a native expression, codegen-visible) ----
    // ---- string-distance / normalization family (r7; native
    // expressions in StringDistances.scala, DuckDB 1.0 semantics
    // probed + pinned in CompatSpec) ----
    alias("damerau_levenshtein")(e => DamerauLevenshtein(e(0), e(1)))
    alias("hamming")(e => HammingDistance(e(0), e(1)))
    alias("mismatches")(e => HammingDistance(e(0), e(1)))
    alias("jaccard")(e => JaccardChars(e(0), e(1)))
    alias("jaro_similarity")(e => JaroSimilarity(e(0), e(1)))
    alias("jaro_winkler_similarity")(e => JaroWinklerSimilarity(e(0), e(1)))
    alias("strip_accents")(e => StripAccents(e.head))
    alias("nfc_normalize")(e => NfcNormalize(e.head))
    // unicode/ord: codepoint of the first char, -1 on '' (Spark's
    // ascii returns 0 there); a NULL input short-circuits through If's
    // null-predicate-as-false into Ascii(NULL) = NULL
    def unicodeExpr(s: Expression): Expression =
      If(EqualTo(Length(s), Literal(0)), Literal(-1), Ascii(s))
    alias("unicode")(e => unicodeExpr(e.head))
    alias("ord")(e => unicodeExpr(e.head))
    alias("to_hex")(e => Hex(e.head))
    alias("from_hex")(e => Unhex(e.head))
    // to_base(n, base[, min_len]) — Conv renders uppercase like
    // DuckDB; a negative input ERRORS like DuckDB (Conv would return
    // the unsigned two's-complement string)
    // NULL input must NULL-propagate, not fall into the error branch: the
    // If predicate GreaterThanOrEqual(NULL, 0) is NULL, which If treats as
    // false — so test IsNull explicitly first (advisor r7).
    def toBasePos(n: Expression, b: Expression): Expression =
      If(IsNull(Cast(n, LongType)), Literal(null, StringType),
        If(GreaterThanOrEqual(Cast(n, LongType), Literal(0L)),
          Conv(Cast(n, StringType), Literal(10), b),
          Cast(RaiseError(Literal(
            "'to_base' number must be greater than or equal to 0")), StringType)))
    alias("to_base") {
      case Seq(n, b) => toBasePos(n, b)
      case Seq(n, b, len) => StringLPad(toBasePos(n, b), len, Literal("0"))
    }
    // DuckDB fmt-style format('{} {}', ...) → format_string('%s %s')
    // over string-cast args; a NULL argument nulls the whole result
    // (Spark's format_string would print the literal text "null")
    def nullGuard(args: Seq[Expression], out: Expression): Expression = {
      val anyNull = args.map(IsNull(_): Expression)
        .reduceOption(Or).getOrElse(Literal(false))
      If(anyNull, Literal(null, StringType), out)
    }
    alias("format") { e =>
      val fmt = e.head match {
        case Literal(s, StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"format: the template must be a string literal, got $other")
      }
      // {{ / }} are literal-brace escapes (DuckDB fmt): shelter them
      // before the placeholder rewrite, restore after
      val sheltered = fmt.replace("{{", "\u0001").replace("}}", "\u0002")
      // fmt placeholders: {}, {N}, {:spec}, {N:spec} with the spec
      // subset [align<|>][0][width][,][.prec][type dfeExXogs] (probed:
      // format('{:05.1f}', 2.25) = '002.2', '{:x}' hex, '{:,}'
      // grouping). fmt forbids mixing auto {} with indexed {N}.
      val phRe = "\\{(\\d+)?(?::([^}]*))?\\}".r
      val phs = phRe.findAllMatchIn(sheltered).toList
      require(!phRe.replaceAllIn(sheltered, "").contains("{"),
        "format: unsupported placeholder form")
      val hasIdx = phs.exists(_.group(1) != null)
      val hasAuto = phs.exists(_.group(1) == null)
      require(!(hasIdx && hasAuto),
        "format: cannot mix {} and {N} placeholders (fmt rule)")
      // arg position (0-based) -> required cast / f-spec precision
      val argCast = scala.collection.mutable.Map[Int, DataType]()
      val fPrec = scala.collection.mutable.Map[Int, Int]()
      var auto = -1
      val escaped = sheltered.replace("%", "%%")
      val jfmt = phRe.replaceAllIn(escaped, m => {
        auto += 1
        val pos = Option(m.group(1)).map(_.toInt).getOrElse(auto)
        val spec = Option(m.group(2)).getOrElse("")
        val sp = "(?:([<>])?(0)?(\\d+)?(,)?(?:\\.(\\d+))?([dfeExXogs])?)".r
        val sm = sp.findFirstMatchIn(spec).filter(_.matched == spec)
          .getOrElse(throw new IllegalArgumentException(
            s"format: unsupported spec '{:$spec}'"))
        val (align, zero, width, comma, prec, typ) = (Option(sm.group(1)),
          Option(sm.group(2)), Option(sm.group(3)), Option(sm.group(4)),
          Option(sm.group(5)), Option(sm.group(6)))
        val conv = typ.getOrElse(if (comma.isDefined) "d" else "s")
        val cast: DataType = conv match {
          case "d" | "x" | "X" | "o" => LongType
          case "f" | "e" | "E" | "g" => DoubleType
          case _ => StringType
        }
        argCast(pos) = cast
        if (conv == "f") prec.foreach(pr => fPrec(pos) = pr.toInt)
        val flags = (if (align.contains("<")) "-" else "") +
          zero.getOrElse("") + comma.map(_ => ",").getOrElse("")
        java.util.regex.Matcher.quoteReplacement(
          "%" + (pos + 1) + "$" + flags + width.getOrElse("") +
            prec.map("." + _).getOrElse("") + conv)
      }).replace("\u0001", "{").replace("\u0002", "}")
      val args = e.tail.zipWithIndex.map { case (a, i) =>
        argCast.getOrElse(i, StringType) match {
          // fmt rounds ties half-to-EVEN ('{:05.1f}' of 2.25 =
          // '002.2'); Java's Formatter rounds HALF_UP — pre-round
          case DoubleType if fPrec.contains(i) =>
            Cast(BRound(Cast(a, DoubleType), Literal(fPrec(i))), DoubleType)
          case t => Cast(a, t)
        }
      }
      nullGuard(e.tail, FormatString(Literal(jfmt) +: args: _*))
    }
    // Java's Formatter rejects Spark's Decimal for %f — PrintfPoly
    // re-types decimal args to double once resolved
    alias("printf")(e => nullGuard(e.tail, PrintfPoly(e)))
    // DuckDB's vector family (list_dot_product, list_cosine_similarity,
    // list_distance, their array_* spellings) is one native kernel;
    // array_cosine_similarity is registered with the native functions
    for (fn <- ListVector.names if fn != "array_cosine_similarity")
      alias(fn)(e => ListVector(e(0), e(1), fn))
    def dvar(n: String) = UnresolvedNamedLambdaVariable(Seq(n))
    // list_select(l, idxs): 1-based gather; list_where(l, mask): keep
    // where true (an (elem, idx) filter lambda — no null sentinel)
    alias("list_select") { e =>
      val i = dvar("vi")
      ArrayTransform(e(1), LambdaFunction(
        ElementAt(e(0), Cast(i, IntegerType), None, failOnError = false),
        Seq(i)))
    }
    alias("list_where") { e =>
      val x = dvar("vwx"); val i = dvar("vwi")
      ArrayFilter(e(0), LambdaFunction(
        EqualTo(ElementAt(e(1), Add(Cast(i, IntegerType), Literal(1)), None,
          failOnError = false), Literal(true)), Seq(x, i)))
    }
    alias("list_zip")(e => ArraysZip(e))
    alias("list_reverse")(e => Reverse(e.head))
    // list_grade_up: 1-based indices that would sort the list
    // ascending, ties in original order (probed: [2,2,1] -> [3,1,2]),
    // NULL elements LAST (DuckDB; Spark's struct sort is nulls-first,
    // so the sort key leads with an is-null flag), empty list -> []
    // (a bare Sequence(1,0) would count DOWN and zip phantom rows)
    alias("list_grade_up") { e =>
      val p = UnresolvedNamedLambdaVariable(Seq("vgp"))
      val keyed = {
        val n = dvar("vgn"); val x = dvar("vgx")
        ZipWith(
          ArrayTransform(e.head, {
            val v = dvar("vgv"); LambdaFunction(IsNull(v), Seq(v))
          }),
          e.head, LambdaFunction(CreateStruct(Seq(n, x)), Seq(n, x)))
      }
      val graded = ArrayTransform(
        new SortArray(ArraysZip(Seq(keyed,
          new Sequence(Literal(1), Size(e.head, legacySizeOfNull = false))))),
        LambdaFunction(
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
            p, Literal("1")), Seq(p)))
      If(EqualTo(Size(e.head, legacySizeOfNull = false), Literal(0)),
        ArrayTransform(e.head, {
          val z = dvar("vgz"); LambdaFunction(Literal(1), Seq(z))
        }),
        graded)
    }
    // ---- aggregate-name long-tail (r7): DuckDB names over Spark's
    // native aggregate functions (the registry hands the analyzer the
    // AggregateFunction; it wraps the AggregateExpression itself).
    // favg/fsum are DuckDB's Kahan-compensated forms — mapped to the
    // plain Average/Sum (the compensation is a precision seam, not a
    // semantic one; graft's decimal-accumulation convention covers the
    // exactness-critical paths instead) ----
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, MaxBy, MinBy, Product, Sum}
    alias("arg_min")(e => MinBy(e(0), e(1)))
    alias("argmin")(e => MinBy(e(0), e(1)))
    alias("arg_max")(e => MaxBy(e(0), e(1)))
    alias("argmax")(e => MaxBy(e(0), e(1)))
    alias("product")(e => Product(Cast(e.head, DoubleType)))
    alias("favg")(e => Average(Cast(e.head, DoubleType)))
    alias("fsum")(e => Sum(Cast(e.head, DoubleType)))
    alias("sumkahan")(e => Sum(Cast(e.head, DoubleType)))
    alias("kahan_sum")(e => Sum(Cast(e.head, DoubleType)))
    // ---- numeric long-tail (r7) ----
    alias("greatest_common_divisor")(e =>
      GcdExpr(Cast(e(0), LongType), Cast(e(1), LongType)))
    alias("gcd")(e => GcdExpr(Cast(e(0), LongType), Cast(e(1), LongType)))
    alias("least_common_multiple")(e =>
      LcmExpr(Cast(e(0), LongType), Cast(e(1), LongType)))
    alias("lcm")(e => LcmExpr(Cast(e(0), LongType), Cast(e(1), LongType)))
    // cot(x) = cos/sin; x with sin(x) == 0 ERRORS like DuckDB (the
    // division would be NULL/ANSI-error depending on mode)
    alias("cot") { e =>
      val x = Cast(e.head, DoubleType)
      If(EqualTo(Sin(x), Literal(0.0d)),
        Cast(RaiseError(Literal(
          "input value is out of range for numeric function cotangent")),
          DoubleType),
        Divide(Cos(x), Sin(x)))
    }
    alias("isinf")(e =>
      EqualTo(Abs(Cast(e.head, DoubleType)),
        Literal(Double.PositiveInfinity)))
    alias("isfinite")(e => And(
      Not(IsNaN(Cast(e.head, DoubleType))),
      LessThan(Abs(Cast(e.head, DoubleType)),
        Literal(Double.PositiveInfinity))))
    // signbit tests the raw IEEE sign bit (probed: signbit(-1.0::DOUBLE *
    // 0.0::DOUBLE) = true in DuckDB — negative zero counts; NULL → NULL;
    // NaN → false). x<0 misses -0.0, and ANSI Divide errors on a zero
    // divisor even for doubles, so read the sign off the string render:
    // Spark prints -0.0/-Infinity with the sign and NaN without one.
    alias("signbit") { e =>
      StartsWith(Cast(Cast(e.head, DoubleType), StringType), Literal("-"))
    }
    // even: round away from zero to the next even (probed: 2.0→2,
    // 2.5→4, -0.5→-2)
    alias("even") { e =>
      val x = Cast(e.head, DoubleType)
      val mag = Multiply(Cast(Ceil(Divide(Abs(x), Literal(2.0d))), DoubleType),
        Literal(2.0d))
      If(GreaterThanOrEqual(x, Literal(0.0d)), mag, UnaryMinus(mag))
    }
    alias("bar") { e => // 3-arg form defaults to width 80 (probed)
      val width = if (e.length > 3) Cast(e(3), DoubleType) else Literal(80.0d)
      BarExpr(Cast(e(0), DoubleType), Cast(e(1), DoubleType),
        Cast(e(2), DoubleType), width)
    }
    // time_bucket(width, ts[, origin | offset]): origin-aligned
    // flooring — DuckDB's default origin is 2000-01-03 00:00 UTC for
    // second widths (a Monday; probed — it makes week buckets
    // Monday-aligned and everything else epoch-like) and 2000-01-01
    // for month widths. All edge semantics probed on 1.0:
    //  - month widths floor months-since-origin-month toward -inf
    //    (3-month bucket of 1999-02 → 1999-01; 2-month of 1999-12-31
    //    → 1999-11-01), and an explicit origin contributes ONLY its
    //    year+month (origin DATE '2024-02-10' buckets to 2024-02-01,
    //    not the 10th);
    //  - an INTERVAL third arg is an offset: bucket(ts - off) + off
    //    (1-month width, 10-day offset, 2024-03-17 → 2024-03-11).
    alias("time_bucket") { e =>
      import org.apache.spark.unsafe.types.CalendarInterval
      // interval literal → (months, micros); exactly one family nonzero
      def partsOf(ex: Expression, what: String): (Int, Long) = ex match {
        case Literal(i: CalendarInterval,
            org.apache.spark.sql.types.CalendarIntervalType) =>
          (i.months, i.days * 86400000000L + i.microseconds)
        case Literal(v: Long, _: org.apache.spark.sql.types.DayTimeIntervalType) =>
          (0, v)
        case Literal(v: Int, _: org.apache.spark.sql.types.YearMonthIntervalType) =>
          (v, 0L)
        case other => throw new IllegalArgumentException(
          s"time_bucket: the $what must be an interval literal, got $other")
      }
      val (wMonths, wMicros) = partsOf(e.head, "bucket width")
      require(wMonths == 0 || wMicros == 0,
        "time_bucket: width must not mix month and day/time parts")
      require(wMonths > 0 || (wMicros > 0 && wMicros % 1000000L == 0),
        "time_bucket: width must be a positive whole-month or whole-second interval")
      val secs = wMicros / 1000000L
      // epoch-day of 2000-01-01, the month-width origin
      val d20000101 = Literal(10957, DateType)
      def secBucket(ts: Expression, originSecs: Expression): Expression = {
        val off = Subtract(UnixSeconds(Cast(ts, TimestampType)), originSecs)
        // Floor over a double division: exact for |secs| < 2^53 and
        // correct (toward -inf) for pre-origin timestamps
        val buckets = Floor(Divide(Cast(off, DoubleType), Literal(secs.toDouble)))
        SecondsToTimestamp(Add(Multiply(buckets, Literal(secs)), originSecs))
      }
      def monthsSince2000(d: Expression): Expression =
        Add(Multiply(Subtract(Year(d), Literal(2000)), Literal(12)),
          Subtract(Month(d), Literal(1)))
      def monBucket(ts: Expression, originMonths: Expression): Expression = {
        val diff = Subtract(monthsSince2000(Cast(ts, DateType)), originMonths)
        val b = Cast(Floor(Divide(Cast(diff, DoubleType),
          Literal(wMonths.toDouble))), IntegerType)
        Cast(AddMonths(d20000101,
          Add(Multiply(b, Literal(wMonths)), originMonths)), TimestampType)
      }
      def bucket(ts: Expression, originSecs: Expression,
          originMonths: Expression): Expression =
        if (wMonths > 0) monBucket(ts, originMonths) else secBucket(ts, originSecs)
      val defaults = (Literal(946857600L), Literal(0)) // 2000-01-03 / 2000-01
      e match {
        case Seq(_, ts) => bucket(ts, defaults._1, defaults._2)
        case Seq(_, ts, off @ Literal(_,
            org.apache.spark.sql.types.CalendarIntervalType |
            _: org.apache.spark.sql.types.DayTimeIntervalType |
            _: org.apache.spark.sql.types.YearMonthIntervalType)) =>
          // offset form: bucket(ts - off) + off, calendar arithmetic
          val (om, ou) = partsOf(off, "offset")
          val days = (ou / 86400000000L).toInt
          val us = ou % 86400000000L
          def ivl(s: Int) = Literal(
            new CalendarInterval(s * om, s * days, s * us),
            org.apache.spark.sql.types.CalendarIntervalType)
          TimestampAddInterval(
            bucket(TimestampAddInterval(Cast(ts, TimestampType), ivl(-1)),
              defaults._1, defaults._2), ivl(1))
        case Seq(_, ts, origin) => // origin form (timestamp/date expr)
          bucket(ts, UnixSeconds(Cast(origin, TimestampType)),
            monthsSince2000(Cast(origin, DateType)))
      }
    }
    // ---- BIT-string vocabulary (r8): DuckDB's BIT type modeled as
    // '0'/'1' strings (Spark has no bitstring type; the reference's
    // wire silently drops BIT columns anyway, cpp:80-83). Probed on
    // 1.0: bitstring left-pads with '0' (len < input length ERRORS),
    // get_bit/set_bit index 0-based from the LEFT (out-of-range
    // ERRORS), bit_position is 1-based with 0 for absent, xor demands
    // equal lengths. Errors sit in the If TRUE-branch so NULL inputs
    // fall through to the NULL-propagating value branch. ----
    alias("bitstring") { e =>
      val len = Cast(e(1), IntegerType)
      If(LessThan(len, Length(e(0))),
        Cast(RaiseError(Literal(
          "bitstring: length must be equal or larger than input string")),
          StringType),
        StringLPad(e(0), len, Literal("0")))
    }
    def bitIndexOk(s: Expression, i: Expression): Expression =
      And(GreaterThanOrEqual(i, Literal(0)), LessThan(i, Length(s)))
    alias("get_bit") { e =>
      val i = Cast(e(1), IntegerType)
      If(Not(bitIndexOk(e(0), i)),
        Cast(RaiseError(Literal("get_bit: bit index out of valid range")),
          IntegerType),
        Cast(Substring(e(0), Add(i, Literal(1)), Literal(1)), IntegerType))
    }
    alias("set_bit") { e =>
      val i = Cast(e(1), IntegerType)
      If(Not(bitIndexOk(e(0), i)),
        Cast(RaiseError(Literal("set_bit: bit index out of valid range")),
          StringType),
        Concat(Seq(
          Substring(e(0), Literal(1), i),
          Cast(Cast(e(2), IntegerType), StringType),
          Substring(e(0), Add(i, Literal(2)), Literal(Int.MaxValue)))))
    }
    alias("bit_count")(e => BitCountPoly(e.head))
    alias("bit_position")(e => new StringLocate(e(0), e(1)))
    alias("xor")(e => XorPoly(e(0), e(1)))
    // ---- date-name long-tail (r7) ----
    alias("monthname")(e =>
      new DateFormatClass(Cast(e.head, TimestampType), Literal("MMMM")))
    alias("dayname")(e =>
      new DateFormatClass(Cast(e.head, TimestampType), Literal("EEEE")))
    alias("week")(e => WeekOfYear(e.head))
    alias("yearweek")(e =>
      Add(Multiply(YearOfWeek(e.head), Literal(100)), WeekOfYear(e.head)))
    alias("list_value")(e => CreateArray(e))
    alias("list_pack")(e => CreateArray(e))
    alias("array_length")(e => Size(e.head, legacySizeOfNull = false))
    alias("list_concat")(e => Concat(e))
    alias("array_concat")(e => Concat(e))
    alias("list_append")(e => Concat(Seq(e(0), CreateArray(Seq(e(1))))))
    alias("array_append")(e => Concat(Seq(e(0), CreateArray(Seq(e(1))))))
    alias("list_prepend")(e => Concat(Seq(CreateArray(Seq(e(0))), e(1))))
    alias("array_prepend")(e => Concat(Seq(CreateArray(Seq(e(0))), e(1))))
    // DuckDB list_position returns 0 when absent (probed v1.0/v1.1),
    // exactly ArrayPosition's contract
    alias("list_position")(e => ArrayPosition(e(0), e(1)))
    alias("list_indexof")(e => ArrayPosition(e(0), e(1)))
    // 1-based, negative-from-end, NULL out of bounds (never ANSI-error)
    alias("list_extract")(e => ElementAt(e(0), e(1), None, failOnError = false))
    alias("list_element")(e => ElementAt(e(0), e(1), None, failOnError = false))
    alias("array_extract")(e => ElementAt(e(0), e(1), None, failOnError = false))
    alias("list_min")(e => ArrayMin(e.head))
    alias("list_max")(e => ArrayMax(e.head))
    alias("list_sum")(e => listSum(e.head))
    alias("list_avg")(e =>
      Divide(listSum(e.head), Cast(listCount(e.head), DoubleType)))
    alias("list_count")(e => listCount(e.head))
    alias("array_slice")(e => SlicePoly(e(0), e(1), e(2)))
    // list_reduce has no explicit zero: the first element seeds the
    // fold over the rest (errors on empty lists in DuckDB too — here
    // the seed is just NULL)
    alias("list_reduce") { e =>
      val l = e(0)
      val merge = e(1) match {
        case f: LambdaFunction => f
        case other => throw new IllegalArgumentException(
          s"list_reduce expects a lambda, got $other")
      }
      val fin = UnresolvedNamedLambdaVariable(Seq("s"))
      val rest = Slice(l, Literal(2),
        Greatest(Seq(Literal(0),
          Subtract(Size(l, legacySizeOfNull = false), Literal(1)))))
      ArrayAggregate(rest, ElementAt(l, Literal(1), None, failOnError = false),
        merge, LambdaFunction(fin, Seq(fin)))
    }
    // list_aggregate(l, 'fname') — the generic form DuckDB rewrites
    // its list_sum/min/max/count sugar onto
    alias("list_aggregate") { e =>
      val fname = e(1) match {
        case Literal(s, _) if s != null => String.valueOf(s).toLowerCase
        case other => throw new IllegalArgumentException(
          s"list_aggregate: function name must be a literal, got $other")
      }
      fname match {
        case "sum" => listSum(e.head)
        case "avg" | "mean" =>
          Divide(listSum(e.head), Cast(listCount(e.head), DoubleType))
        case "min" => ArrayMin(e.head)
        case "max" => ArrayMax(e.head)
        case "count" => listCount(e.head)
        case "string_agg" | "group_concat" | "listagg" =>
          // extra argument = separator (DuckDB default ','); NULL
          // elements are skipped like the aggregate form
          val sep = e.lift(2).getOrElse(Literal(","))
          val vt = dvar("lat"); val vf = dvar("laf")
          ArrayJoin(ArrayFilter(
            ArrayTransform(e.head,
              LambdaFunction(Cast(vt, StringType), Seq(vt))),
            LambdaFunction(IsNotNull(vf), Seq(vf))), sep, None)
        case other => throw new IllegalArgumentException(
          s"list_aggregate: unsupported function '$other'")
      }
    }
    alias("strpos")(e => StringInstr(e(0), e(1)))
    alias("starts_with")(e => StartsWith(e(0), e(1)))
    alias("ends_with")(e => EndsWith(e(0), e(1)))
    alias("suffix")(e => EndsWith(e(0), e(1)))
    // epoch(ts) is DOUBLE seconds in DuckDB (probed); epoch_ms BIGINT
    alias("epoch")(e =>
      Divide(Cast(UnixMicros(Cast(e.head, TimestampType)), DoubleType),
        Literal(1e6)))
    alias("epoch_ms")(e => UnixMillis(Cast(e.head, TimestampType)))
    // DuckDB's 3-arg date_diff counts BOUNDARY CROSSINGS; date_sub
    // counts COMPLETE intervals (java-until semantics = Spark's
    // timestampdiff). Spark's parser special-cases the bare names
    // (AstBuilder builds TimestampDiff directly, never consulting the
    // registry), so SqlRewrites renames the quoted-string-unit form —
    // the DuckDB spelling — to these duck_-prefixed registry entries;
    // Spark's own identifier-unit and 2-arg forms pass through
    // untouched.
    alias("duck_date_diff")(e => dateDiffBoundary(e(0), e(1), e(2)))
    alias("duck_datediff")(e => dateDiffBoundary(e(0), e(1), e(2)))
    alias("duck_date_sub")(e =>
      TimestampDiff(partName(e(0)),
        Cast(e(1), TimestampType), Cast(e(2), TimestampType)))
    alias("duck_datesub")(e =>
      TimestampDiff(partName(e(0)),
        Cast(e(1), TimestampType), Cast(e(2), TimestampType)))
    // ---- statistical-aggregate long tail (r8). DuckDB's skewness/
    // kurtosis are the SAMPLE-corrected estimators (probed:
    // skewness([1,2,3,4,5,9]) = 1.19324..., i.e. g1*sqrt(n(n-1))/(n-2);
    // kurtosis = G2 = ((n-1)/((n-2)(n-3)))*((n+1)*g2+6)); Spark's
    // builtins are the population moments g1/g2, so the DuckDB names
    // SHADOW them with the corrected forms here. Both are NULL below
    // the minimum n and for zero variance (Spark yields NaN there —
    // probed DuckDB yields NULL). ----
    locally {
      import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet, Count, First, Kurtosis, Percentile, Skewness}
      def dbl(ex: Expression) = Cast(ex, DoubleType)
      def nOf(x: Expression) = dbl(Count(x).toAggregateExpression())
      alias("skewness") { e =>
        val x = dbl(e.head)
        val g1 = Skewness(x).toAggregateExpression()
        val n = nOf(x)
        val corr = Divide(
          Sqrt(Multiply(n, Subtract(n, Literal(1.0d)))),
          Subtract(n, Literal(2.0d)))
        If(Or(LessThan(n, Literal(3.0d)), IsNaN(g1)),
          Literal(null, DoubleType), Multiply(g1, corr))
      }
      alias("kurtosis") { e =>
        val x = dbl(e.head)
        val g2 = Kurtosis(x).toAggregateExpression()
        val n = nOf(x)
        val res = Multiply(
          Divide(Subtract(n, Literal(1.0d)),
            Multiply(Subtract(n, Literal(2.0d)), Subtract(n, Literal(3.0d)))),
          Add(Multiply(Add(n, Literal(1.0d)), g2), Literal(6.0d)))
        If(Or(LessThan(n, Literal(4.0d)), IsNaN(g2)),
          Literal(null, DoubleType), res)
      }
      alias("mad")(e => MadAgg(dbl(e.head)).toAggregateExpression())
      alias("entropy")(e =>
        EntropyAgg(Cast(e.head, StringType)).toAggregateExpression())
      // quantile_cont = Spark's interpolating percentile (same probe
      // result on [1,2,3,10] at 0.25 → 1.75); quantile_disc picks the
      // sorted element at max(1, ceil(q*n)) 1-based (probed:
      // [1,2,3,4] at 0.51 → 3, at 0.50/0.49 → 2; q=0 → first).
      alias("quantile_cont")(e =>
        new Percentile(dbl(e(0)), e(1)).toAggregateExpression())
      def qdisc(x: Expression, q: Expression): Expression = {
        val sorted = new SortArray(CollectList(x).toAggregateExpression())
        val n = Size(sorted, legacySizeOfNull = false)
        val idx = Greatest(Seq(Literal(1),
          Cast(Ceil(Multiply(Cast(q, DoubleType), Cast(n, DoubleType))),
            IntegerType)))
        // empty group → idx 1 over an empty list → NULL (failOnError
        // keeps ANSI from erroring on the out-of-bounds probe)
        ElementAt(sorted, idx, None, failOnError = false)
      }
      alias("quantile_disc")(e => qdisc(e(0), e(1)))
      alias("quantile")(e => qdisc(e(0), e(1)))
      alias("arbitrary")(e =>
        First(e.head, ignoreNulls = false).toAggregateExpression())
      // DuckDB any_value SKIPS nulls (probed: any_value over
      // {NULL, NULL, 7, 9} is 7, where first() is NULL) — Spark's
      // stock any_value keeps them. Still order-dependent by contract
      // in both engines; the deterministic form is
      // `any_value(x ORDER BY k)` (OrderedAgg lowering).
      alias("any_value")(e =>
        First(e.head, ignoreNulls = true).toAggregateExpression())
      // bitstring_agg demands explicit bounds, like DuckDB does
      // without table statistics
      alias("bitstring_agg") {
        case Seq(x, lo, hi) =>
          BitstringFromSet(
            new SortArray(CollectSet(Cast(x, LongType)).toAggregateExpression()),
            Cast(lo, LongType), Cast(hi, LongType))
        case _ => throw new IllegalArgumentException(
          "bitstring_agg requires explicit min/max bounds: " +
            "bitstring_agg(col, min, max)")
      }
    }
    // ---- regexp / path / md5-number scalar wave (r8; probed 1.0,
    // edge pins in CompatSpec, expressions in ScalarExtras.scala) ----
    // DuckDB's regexp_extract_all defaults to group 0 (the full
    // match); Spark's builtin of the same name defaults to group 1 —
    // shadow it with the DuckDB default.
    alias("regexp_extract_all") {
      case Seq(s, re) => RegExpExtractAll(s, re, Literal(0))
      case Seq(s, re, g) => RegExpExtractAll(s, re, g)
      case Seq(s, re, g, f) =>
        RegExpExtractAll(s, DuckRegexpReplace.withFlags(re, f), g)
    }
    alias("regexp_full_match") {
      case Seq(s, p) =>
        RLike(s, Concat(Seq(Literal("^(?:"), p, Literal(")$"))))
      case Seq(s, p, f) => RLike(s, Concat(Seq(Literal("^(?:"),
        DuckRegexpReplace.withFlags(p, f), Literal(")$"))))
    }
    alias("regexp_escape")(e => RegexpEscape(e.head))
    // operator-spelling targets (BracketRewrite.rewriteOperators):
    // `a ~~~ p` GLOB and postfix `n!` factorial (HUGEINT-exact)
    alias("duck_glob")(e => GlobMatchExpr(e(0), e(1)))
    alias("glob_match")(e => GlobMatchExpr(e(0), e(1)))
    alias("duck_factorial")(e => FactorialBigExpr(e.head))
    def sepArg(e: Seq[Expression], at: Int): Expression =
      if (e.length > at) e(at) else Literal("both_slash")
    alias("parse_path")(e => ParsePath(e.head, sepArg(e, 1)))
    alias("parse_dirname")(e => ParseDirname(e.head, sepArg(e, 1)))
    alias("parse_dirpath")(e => ParseDirpath(e.head, sepArg(e, 1)))
    // parse_filename(path[, trim_extension][, separator]) — the middle
    // boolean is optional; a string literal in position 2 is the
    // separator form (DuckDB's overload set)
    alias("parse_filename") {
      case Seq(p) => ParseFilename(p, Literal(false), Literal("both_slash"))
      case Seq(p, Literal(s, StringType)) =>
        ParseFilename(p, Literal(false), Literal(s, StringType))
      case Seq(p, trim) => ParseFilename(p, trim, Literal("both_slash"))
      case Seq(p, trim, sep) => ParseFilename(p, trim, sep)
    }
    def escChar(ex: Expression, fn: String): Char = ex match {
      case Literal(s, StringType) if s != null && s.toString.length == 1 =>
        s.toString.charAt(0)
      case other => throw new IllegalArgumentException(
        s"$fn: the escape must be a single-character string literal, got $other")
    }
    alias("like_escape")(e =>
      Like(e(0), e(1), escChar(e(2), "like_escape")))
    alias("not_like_escape")(e =>
      Not(Like(e(0), e(1), escChar(e(2), "not_like_escape"))))
    alias("ilike_escape")(e =>
      Like(Lower(e(0)), Lower(e(1)), escChar(e(2), "ilike_escape")))
    alias("not_ilike_escape")(e =>
      Not(Like(Lower(e(0)), Lower(e(1)), escChar(e(2), "not_ilike_escape"))))
    alias("md5_number")(e => Md5NumberExpr(e.head, 0))
    alias("md5_number_lower")(e => Md5NumberExpr(e.head, 1))
    alias("md5_number_upper")(e => Md5NumberExpr(e.head, 2))
    alias("nextafter")(e =>
      NextAfter(Cast(e(0), DoubleType), Cast(e(1), DoubleType)))
    // DuckDB left/right accept NEGATIVE lengths (left('hello',-1) =
    // 'hell': all but the last |n|; right('hello',-1) = 'ello': all
    // but the first |n|) — Spark's builtins return '' there, so the
    // DuckDB names shadow them with the sign-aware forms.
    alias("left") { e =>
      val s = e(0); val n = Cast(e(1), IntegerType)
      If(GreaterThanOrEqual(n, Literal(0)),
        Substring(s, Literal(1), n),
        Substring(s, Literal(1),
          Greatest(Seq(Add(Length(s), n), Literal(0)))))
    }
    alias("right") { e =>
      val s = e(0); val n = Cast(e(1), IntegerType)
      If(GreaterThanOrEqual(n, Literal(0)),
        If(EqualTo(n, Literal(0)), Literal(""),
          Substring(s, UnaryMinus(n), Literal(Int.MaxValue))),
        Substring(s, Add(UnaryMinus(n), Literal(1)),
          Literal(Int.MaxValue)))
    }
    // ---- date long tail (r8; probed 1.0). DuckDB's day-number
    // conventions: dayofweek/weekday are Sunday=0..Saturday=6, isodow
    // is ISO Monday=1..Sunday=7; century/millennium are the ordinal
    // forms (2001 -> 21st/3rd), decade is year/10, era is 1 AD / 0 BC.
    // julian anchors at JD 2451545 = 2000-01-01 00:00 UTC with the
    // time-of-day fraction (probed: noon -> .5). ----
    alias("make_time")(e => MakeTimeStr(Cast(e(0), IntegerType),
      Cast(e(1), IntegerType), Cast(e(2), DoubleType)))
    // make_timestamp(micros) single-arg form next to Spark's own
    // 6-arg builtin (same name/shape as DuckDB's)
    alias("make_timestamp") {
      case Seq(us) => MicrosToTimestamp(us)
      case Seq(y, mo, d, h, mi, s) =>
        // MakeTimestamp asserts its seconds input is Decimal(16,6)
        // exactly (the analyzer's implicit cast normally supplies it)
        MakeTimestamp(Cast(y, IntegerType), Cast(mo, IntegerType),
          Cast(d, IntegerType), Cast(h, IntegerType), Cast(mi, IntegerType),
          Cast(s, org.apache.spark.sql.types.DecimalType(16, 6)))
      case other => throw new IllegalArgumentException(
        s"make_timestamp expects 1 or 6 arguments, got ${other.length}")
    }
    alias("julian") { e =>
      val us = UnixMicros(Cast(e.head, TimestampType))
      Add(Literal(2451545.0d),
        Divide(Cast(Subtract(us, Literal(946684800000000L)), DoubleType),
          Literal(86400e6)))
    }
    alias("dayofweek")(e => Subtract(DayOfWeek(Cast(e.head, DateType)), Literal(1)))
    alias("weekday")(e => Subtract(DayOfWeek(Cast(e.head, DateType)), Literal(1)))
    alias("isodow")(e => Add(WeekDay(Cast(e.head, DateType)), Literal(1)))
    alias("isoyear")(e => YearOfWeek(Cast(e.head, DateType)))
    def yearOf(e: Expression): Expression = Year(Cast(e, DateType))
    def ordinalPeriod(e: Expression, span: Int): Expression = {
      val y = yearOf(e)
      // Floor on the non-negative magnitude = the intended toward-zero
      // truncation (a bare double→long cast would round via
      // DuckNumericCastRule: century(2000) must stay 20, not 20.99→21)
      val mag = Floor(Divide(Add(Abs(y), Literal(span - 1)), Literal(span)))
      Cast(If(GreaterThanOrEqual(y, Literal(0)), mag, UnaryMinus(mag)),
        LongType)
    }
    alias("century")(e => ordinalPeriod(e.head, 100))
    alias("millennium")(e => ordinalPeriod(e.head, 1000))
    alias("decade")(e =>
      Cast(Floor(Divide(Cast(yearOf(e.head), DoubleType), Literal(10.0d))),
        LongType))
    alias("era")(e =>
      If(GreaterThan(yearOf(e.head), Literal(0)), Literal(1), Literal(0)))
    // interval constructors: to_years(2) = INTERVAL 2 YEAR etc.;
    // sub-second forms route through the seconds slot
    def mkIvl(years: Expression = Literal(0), months: Expression = Literal(0),
        weeks: Expression = Literal(0), days: Expression = Literal(0),
        hours: Expression = Literal(0), mins: Expression = Literal(0),
        // the zero literal must CARRY scale 6: makeInterval asserts
        // the runtime Decimal's scale, not the declared type's
        secs: Expression = Literal(
          org.apache.spark.sql.types.Decimal(0L, 18, 6),
          org.apache.spark.sql.types.DecimalType(18, 6))): Expression =
      MakeInterval(years, months, weeks, days, hours, mins, secs)
    def i32(e: Expression) = Cast(e, IntegerType)
    alias("to_millennia")(e => mkIvl(years = Multiply(i32(e.head), Literal(1000))))
    alias("to_centuries")(e => mkIvl(years = Multiply(i32(e.head), Literal(100))))
    alias("to_decades")(e => mkIvl(years = Multiply(i32(e.head), Literal(10))))
    alias("to_years")(e => mkIvl(years = i32(e.head)))
    alias("to_months")(e => mkIvl(months = i32(e.head)))
    alias("to_weeks")(e => mkIvl(weeks = i32(e.head)))
    alias("to_days")(e => mkIvl(days = i32(e.head)))
    alias("to_hours")(e => mkIvl(hours = i32(e.head)))
    alias("to_minutes")(e => mkIvl(mins = i32(e.head)))
    alias("to_seconds")(e => mkIvl(secs = Cast(e.head,
      org.apache.spark.sql.types.DecimalType(18, 6))))
    alias("to_milliseconds")(e => mkIvl(secs = Cast(
      Divide(Cast(e.head, DoubleType), Literal(1000.0d)),
      org.apache.spark.sql.types.DecimalType(18, 6))))
    alias("to_microseconds")(e => mkIvl(secs = Cast(
      Divide(Cast(e.head, DoubleType), Literal(1e6)),
      org.apache.spark.sql.types.DecimalType(18, 6))))
    // ---- map family (r8; probed 1.0). DuckDB's constructor is
    // map(keys_list, values_list) — Spark's variadic map(k1,v1,...)
    // shape stays available for >2 or scalar args. element_at/
    // map_extract return a LIST ([value] or [] for a missing key, NOT
    // value-or-NULL); element_at is map-only in DuckDB ("MAP_EXTRACT
    // can only operate on MAPs") but the array form stays as a Spark
    // superset. Duplicate keys in map_concat: LAST value wins
    // (session conf mapKeyDedupPolicy=LAST_WIN, set by Engine.session).
    // map_keys/map_values/map_entries/map_from_entries/cardinality
    // are the Spark natives (names and shapes already agree). ----
    alias("map") {
      case Seq(k, v) => MapCtorPoly(k, v)
      case other => CreateMap(other)
    }
    alias("map_extract")(e => MapExtractAsList(e(0), e(1)))
    alias("element_at")(e => ElementAtPoly(e(0), e(1)))
    // ---- misc engine vocabulary (r8; probed 1.0) ----
    // typeof renders the DuckDB type name of the argument (resolved
    // post-analysis; folds to a literal). Probed name grid pinned in
    // CompatSpec; NULL types as the literal '"NULL"'.
    alias("typeof")(e => TypeofExpr(e.head))
    alias("error")(e => RaiseError(e.head))
    // constant_or_null(v, c...): NULL if ANY condition argument is
    // NULL, else v (probed) — CaseWhen's NullType branch coerces to
    // v's type during analysis
    alias("constant_or_null") { e =>
      val anyNull = e.tail.map(IsNull(_): Expression)
        .reduceOption(Or).getOrElse(Literal(false))
      CaseWhen(Seq((anyNull,
        Literal(null, org.apache.spark.sql.types.NullType): Expression)),
        Some(e.head))
    }
    alias("gen_random_uuid")(_ => Uuid())
    // per-statement transaction id: the reference opens a fresh
    // connection (= transaction) per statement (cpp:42), so a counter
    // bumped at plan-build time IS its observable behavior
    alias("txid_current")(_ => Literal(DuckAliases.txidCounter.get()))
    alias("current_setting") { e =>
      val key = e.head match {
        case Literal(s, StringType) if s != null => s.toString
        case other => throw new IllegalArgumentException(
          s"current_setting: the name must be a string literal, got $other")
      }
      spark.conf.getOption(key)
        .orElse(spark.conf.getOption(s"spark.$key"))
        // pg session vocabulary DuckDB answers itself (probed: '')
        .orElse(if (key == "search_path") Some("") else None)
        .map(v => Literal(v): Expression)
        .getOrElse(throw new IllegalArgumentException(
          s"unrecognized configuration parameter \"$key\""))
    }
  }

  private[graft] val txidCounter =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** One transaction per statement, like the reference's
    * per-statement connection (cpp:42): the parser seam bumps this
    * once per statement, every txid_current() in it reads the same
    * value. */
  def bumpTxid(): Unit = { txidCounter.incrementAndGet(); () }

  private def partName(p: Expression): String = p match {
    case Literal(s, StringType) => String.valueOf(s).toUpperCase
    case other => throw new IllegalArgumentException(
      s"date part must be a literal string, got $other")
  }

  /** DuckDB `date_diff(part, a, b)`: the number of PART boundaries
    * crossed between a and b (signed). year/month via calendar field
    * arithmetic; day via the date difference; hour/minute/second via
    * truncated epoch quotients (boundaries are epoch-aligned in the
    * UTC session zone).
    */
  private def dateDiffBoundary(p: Expression, a: Expression, b: Expression): Expression =
    partName(p) match {
      case "YEAR" => Subtract(Year(b), Year(a))
      case "MONTH" =>
        Subtract(
          Add(Multiply(Year(b), Literal(12)), Month(b)),
          Add(Multiply(Year(a), Literal(12)), Month(a)))
      case "DAY" => DateDiff(Cast(b, DateType), Cast(a, DateType))
      case part @ ("HOUR" | "MINUTE" | "SECOND") =>
        val k = part match {
          case "HOUR" => 3600L; case "MINUTE" => 60L; case _ => 1L
        }
        def bucket(e: Expression) =
          Floor(Divide(
            Cast(UnixSeconds(Cast(e, TimestampType)), DoubleType),
            Literal(k.toDouble)))
        Subtract(bucket(b), bucket(a))
      case other => throw new IllegalArgumentException(
        s"date_diff: unsupported part '$other'")
    }

  /** Null-skipping fold to a double sum (DuckDB list_sum ignores
    * NULL elements). Empty and all-NULL lists yield NULL, not 0.0
    * (probed v1.0) — gated on the non-NULL element count.
    */
  private def listSum(l: Expression): Expression = {
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    val fin = UnresolvedNamedLambdaVariable(Seq("s"))
    val fold = ArrayAggregate(l, Literal(0.0),
      LambdaFunction(
        If(IsNull(x), acc, Add(acc, Cast(x, DoubleType))), Seq(acc, x)),
      LambdaFunction(fin, Seq(fin)))
    If(EqualTo(listCount(l), Literal(0)), Literal(null, DoubleType), fold)
  }

  /** Count of non-NULL elements (DuckDB list_count). */
  private def listCount(l: Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    Size(ArrayFilter(l, LambdaFunction(IsNotNull(x), Seq(x))),
      legacySizeOfNull = false)
  }

  /** DuckDB inclusive-bounds slice with negative-from-end indexing
    * AND out-of-range clamping (probed v1.0):
    * array_slice([1,2,3,4], -2, -1) = [3,4];
    * list_slice([1,2,3], -5, -1) = [1,2,3];
    * list_slice([1,2,3], 5, 9) = []. Unclamped normalized bounds
    * would either hit Spark Slice's ANSI "indices start at 1" error
    * (normalized 0) or be reinterpreted as from-the-end (negative).
    */
  private def quoteIfLiteral(sep: Expression): Expression = sep match {
    case Literal(v, _) if v != null =>
      Literal(java.util.regex.Pattern.quote(v.toString))
    case other => other
  }

  /** Spark's split('abc', '') yields a trailing '' element; DuckDB's
    * whole split family drops it (['a','b','c']), with [''] for the
    * empty input. Literal separators decide statically; a non-literal
    * separator gets the runtime guard. NULL inputs flow through every
    * branch as NULL. Note Pattern.quote('') is '\Q\E' — also empty. */
  private def charSplit(s: Expression): Expression =
    CaseWhen(Seq((EqualTo(Length(s), Literal(0)),
      CreateArray(Seq(Literal(""))))),
      Slice(StringSplit(s, Literal(""), Literal(-1)), Literal(1), Length(s)))

  private def duckSplit(s: Expression, sep: Expression): Expression =
    sep match {
      case Literal(v, _) if v != null &&
          v.toString.replace("\\Q\\E", "").isEmpty => charSplit(s)
      case Literal(_, _) => StringSplit(s, sep, Literal(-1))
      case _ =>
        CaseWhen(Seq((EqualTo(Length(sep), Literal(0)), charSplit(s))),
          StringSplit(s, sep, Literal(-1)))
    }
}

/** DuckDB's polymorphic `len`: element count for arrays/maps,
  * character count for strings — dispatch needs the child's resolved
  * type, so this is a RuntimeReplaceable the analyzer swaps for the
  * concrete builtin after resolution.
  */
case class LenPoly(child: Expression) extends RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case _: ArrayType | _: MapType => Size(child, legacySizeOfNull = false)
    case _ => Length(child)
  }
  override protected def withNewChildInternal(newChild: Expression): LenPoly =
    copy(child = newChild)
}

/** DuckDB's `reverse`, polymorphic like [[LenPoly]]: strings reverse
  * by extended grapheme cluster (reverse('ab́c') is 'cb́a' — the
  * combining mark stays attached), arrays keep Spark's element
  * reverse. Spark's StringReverse flips UTF-16 code units, which
  * tears combining sequences and surrogate-joined emoji apart.
  */
case class ReversePoly(child: Expression) extends RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case _: ArrayType => Reverse(child)
    case StringType => GraftCall("reverse_grapheme", Seq(child), StringType)
    case _ => Reverse(child) // Spark's own type error for the rest
  }
  override protected def withNewChildInternal(nc: Expression): ReversePoly =
    copy(child = nc)
}

/** DuckDB's `bit_count`, polymorphic like [[LenPoly]]: on a BIT-string
  * ('0'/'1' chars — graft's model of the BIT type, which Spark lacks)
  * it counts set bits by character; on integral inputs it defers to
  * Spark's native BitwiseCount so integer callers keep their builtin.
  */
case class BitCountPoly(child: Expression) extends RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case StringType => Subtract(Length(child),
      Length(StringReplace(child, Literal("1"), Literal(""))))
    // DuckDB counts within the INPUT type's width (probed:
    // bit_count(-1::INTEGER) = 32, ::TINYINT = 8); Spark's
    // BitwiseCount sign-extends everything to 64 bits
    case ByteType =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[java.lang.Integer], IntegerType, "bitCount",
        Seq(BitwiseAnd(Cast(child, IntegerType), Literal(0xFF))),
        Seq(IntegerType), propagateNull = true, returnNullable = true)
    case ShortType =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[java.lang.Integer], IntegerType, "bitCount",
        Seq(BitwiseAnd(Cast(child, IntegerType), Literal(0xFFFF))),
        Seq(IntegerType), propagateNull = true, returnNullable = true)
    case IntegerType =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[java.lang.Integer], IntegerType, "bitCount",
        Seq(child), Seq(IntegerType), propagateNull = true,
        returnNullable = true)
    case _ => BitwiseCount(child)
  }
  override protected def withNewChildInternal(newChild: Expression): BitCountPoly =
    copy(child = newChild)
}

/** DuckDB's map `element_at`/`map_extract` return shape: a LIST
  * holding the value, or an EMPTY list for a missing key (probed:
  * element_at(map([1,2],[10,20]), 3) = []). Resolved after analysis
  * like [[LenPoly]] because the wrapper needs the map's value type.
  */
case class MapExtractAsList(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression = left.dataType match {
    case MapType(_, vt, vn) =>
      If(ArrayContains(MapKeys(left), right),
        CreateArray(Seq(ElementAt(left, right, None, failOnError = false))),
        Literal(new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.empty[Any]), ArrayType(vt, vn)))
    case other => throw new IllegalArgumentException(
      s"map_extract expects a MAP, got ${other.simpleString(10)}")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MapExtractAsList = copy(left = l, right = r)
}

/** DuckDB's `typeof`: the argument's type name in DuckDB's spelling,
  * resolved post-analysis and folded to a literal. Probed: INTEGER /
  * BIGINT / DOUBLE / FLOAT / VARCHAR / BOOLEAN / DATE / TIMESTAMP /
  * DECIMAL(p,s) / T[] for lists / '"NULL"' for the untyped NULL.
  */
object TypeofExpr {
  /** DuckDB's spelling of a Spark type — shared by typeof() and the
    * DESCRIBE statement shape */
  def duckName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => "TINYINT"
      case ShortType => "SMALLINT"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case BinaryType => "BLOB"
      case DateType => "DATE"
      case _: TimestampType => "TIMESTAMP"
      // DuckDB has ONE interval type (months, days, micros triple);
      // all three Spark spellings present as INTERVAL (probed:
      // typeof(ts - ts) is INTERVAL)
      case _: YearMonthIntervalType | _: DayTimeIntervalType |
          CalendarIntervalType => "INTERVAL"
      case NullType => "\"NULL\""
      case ArrayType(et, _) => s"${duckName(et)}[]"
      case MapType(kt, vt, _) => s"MAP(${duckName(kt)}, ${duckName(vt)})"
      case s: StructType =>
        s.fields.map(f => s"${f.name} ${duckName(f.dataType)}")
          .mkString("STRUCT(", ", ", ")")
      case other => other.simpleString.toUpperCase
    }
  }
}

case class TypeofExpr(child: Expression) extends RuntimeReplaceable
    with UnaryLike[Expression] {
  override lazy val replacement: Expression =
    Literal(TypeofExpr.duckName(child.dataType))
  override protected def withNewChildInternal(c: Expression): TypeofExpr =
    copy(child = c)
}

/** Two-argument `map(...)`, polymorphic: two ARRAY args are DuckDB's
  * map(keys_list, values_list) constructor; anything else stays
  * Spark's variadic pair form (Spark 4's functions.map also resolves
  * by NAME through the registry, so the DataFrame API lands here too).
  */
case class MapCtorPoly(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression = (left.dataType, right.dataType) match {
    case (_: ArrayType, _: ArrayType) => MapFromArrays(left, right)
    case _ => CreateMap(Seq(left, right))
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MapCtorPoly = copy(left = l, right = r)
}

/** `element_at`, polymorphic: DuckDB's map form (list-wrapped value,
  * above); on arrays it stays Spark's 1-based, NULL-out-of-bounds
  * accessor (a superset — DuckDB's element_at is map-only).
  */
case class ElementAtPoly(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression = left.dataType match {
    case _: MapType => MapExtractAsList(left, right)
    case _ => ElementAt(left, right, None, failOnError = false)
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ElementAtPoly = copy(left = l, right = r)
}

/** DuckDB's `xor`, polymorphic: BIT-strings xor per character (equal
  * lengths enforced, like DuckDB's "Bitstring lengths must be equal"),
  * anything else defers to integer BitwiseXor.
  */
case class XorPoly(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression = (left.dataType, right.dataType) match {
    case (StringType, StringType) =>
      // a replacement must be fully RESOLVED, so build the lambda with
      // a resolved NamedLambdaVariable, not the unresolved form
      val i = NamedLambdaVariable("xi",
        org.apache.spark.sql.types.IntegerType, nullable = false)
      val body = If(
        EqualTo(Substring(left, i, Literal(1)), Substring(right, i, Literal(1))),
        Literal("0"), Literal("1"))
      If(Not(EqualTo(Length(left), Length(right))),
        Cast(RaiseError(Literal("xor: bitstring lengths must be equal")),
          StringType),
        ArrayJoin(ArrayTransform(
          new Sequence(Literal(1), Length(left), None, Some("UTC")),
          LambdaFunction(body, Seq(i))), Literal(""), None))
    case _ => BitwiseXor(left, right)
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): XorPoly = copy(left = newLeft, right = newRight)
}
