package graft

import org.apache.spark.sql.SparkSession

/** Session-level function registration — the Spark analogue of the
  * reference's `ExtensionUtil::RegisterFunction` calls
  * (src/duckdb_pgwire_extension.cpp:204-212). Idempotent per session.
  */
object Functions {
  private val marker = "graft.functions.registered"

  def registerAll(spark: SparkSession): Unit = synchronized {
    if (spark.conf.getOption(marker).isEmpty) {
      // Postgres-compat shim: always false (reference
      // src/duckdb_pgwire_extension.cpp:190-193).
      spark.udf.register("pg_is_in_recovery", () => false)
      // Demo greeting function (reference
      // src/duckdb_pgwire_extension.cpp:195-202).
      spark.udf.register("duckdb_pgwire", (s: String) => s"DuckdbPgwire $s 🐥")
      // Native Catalyst expression (codegen'd): SQL-surface parity with
      // DuckDB v1.1's array_cosine_similarity.
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "array_cosine_similarity",
        (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
          ListVector(exprs(0), exprs(1), "array_cosine_similarity"),
        "built-in")
      // geomean as a NATIVE rewrite — exp(avg(ln(x))) — so the whole
      // aggregation stays inside codegen'd HashAggregate. The typed
      // Aggregator it replaced stays registered as geomean_udaf: it is
      // the documented extension seam for aggregations that DON'T
      // decompose into builtins (and its spec pins the two agreeing).
      spark.udf.register("geomean_udaf",
        org.apache.spark.sql.functions.udaf(GeometricMean,
          org.apache.spark.sql.Encoders.DOUBLE))
      locally {
        import org.apache.spark.sql.catalyst.expressions._
        import org.apache.spark.sql.catalyst.expressions.aggregate.Average
        import org.apache.spark.sql.types.DoubleType
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          "geomean",
          (exprs: Seq[Expression]) => {
            // Spark's Log returns NULL for x <= 0, which Average would
            // silently SKIP — diverging from the UDAF (math.log: 0 ->
            // -Inf -> geomean 0.0; negative -> NaN). Pin the same
            // behavior here; NULL inputs still skip like any aggregate.
            val x = Cast(exprs.head, DoubleType)
            val lnLike = If(IsNull(x), Literal(null, DoubleType),
              If(GreaterThan(x, Literal(0.0)), Log(x),
                If(EqualTo(x, Literal(0.0)),
                  Literal(Double.NegativeInfinity), Literal(Double.NaN))))
            Exp(Average(lnLike).toAggregateExpression())
          },
          "built-in")
      }
      // DuckDB/pg strftime/strptime with C-style % formats, compiled
      // to Spark's NATIVE datetime expressions at plan build (the
      // pattern translates once; no ScalaUDF, no per-row parse).
      locally {
        import org.apache.spark.sql.catalyst.expressions.{Cast, DateFormatClass, Expression, Literal, ParseToTimestamp}
        import org.apache.spark.sql.types.{StringType, TimestampType}
        def litFmt(e: Expression, fn: String): String = e match {
          case Literal(s, _: StringType) if s != null =>
            StrfTime.toJava(s.toString)
          case other => throw new IllegalArgumentException(
            s"$fn: the format must be a string literal, got $other")
        }
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          "strftime",
          (e: Seq[Expression]) =>
            DateFormatClass(Cast(e(0), TimestampType),
              Literal(litFmt(e(1), "strftime"))),
          "built-in")
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          "strptime",
          (e: Seq[Expression]) => {
            val fmt = litFmt(e(1), "strptime")
            val parsed = ParseToTimestamp(e(0),
              Some(Literal(fmt)), TimestampType)
            // DuckDB's missing-field default is 1900-01-01 (probed:
            // strptime('10:30','%H:%M') = 1900-01-01 10:30); java's is
            // 1970 — shift when the format carries no year
            if (fmt.contains("y")) parsed
            else org.apache.spark.sql.catalyst.expressions.TimestampAdd(
              "YEAR", Literal(-70), parsed)
          },
          "built-in")
      }
      // DuckDB sequence functions over the engine-global registry
      // (Sequences.scala documents the serial-oracle scale posture).
      // Nondeterministic: each evaluation advances/reads live state, so
      // Catalyst must not fold, dedup, or reorder calls.
      spark.udf.register("nextval",
        org.apache.spark.sql.functions.udf((name: String) => Sequences.next(name))
          .asNondeterministic())
      spark.udf.register("currval",
        org.apache.spark.sql.functions.udf((name: String) => Sequences.curr(name))
          .asNondeterministic())
      // ENUM registry functions (EnumTypes.scala; reached through the
      // SqlRewrites enum-cast pass, never written by users directly).
      // Deterministic — enum membership binds at plan time like DuckDB.
      spark.udf.register("graft_enum_cast",
        org.apache.spark.sql.functions.udf(
          (name: String, v: String) => EnumTypes.cast(name, v)))
      spark.udf.register("graft_enum_code",
        org.apache.spark.sql.functions.udf(
          (name: String, v: String) => EnumTypes.code(name, v)))
      spark.udf.register("graft_enum_range",
        org.apache.spark.sql.functions.udf(
          (name: String) => EnumTypes.values(name)))
      spark.udf.register("graft_enum_first",
        org.apache.spark.sql.functions.udf(
          (name: String) => EnumTypes.first(name)))
      spark.udf.register("graft_enum_last",
        org.apache.spark.sql.functions.udf(
          (name: String) => EnumTypes.last(name)))
      spark.udf.register("graft_enum_range_boundary",
        org.apache.spark.sql.functions.udf(
          (name: String, a: String, b: String) =>
            EnumTypes.rangeBoundary(name, a, b)))
      // UNION types (struct model, UnionTypes): constructors are
      // registry-built expressions (NOT UDFs — the struct shape
      // depends on the type/tag), accessors are struct-field reads.
      locally {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
        import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
        import org.apache.spark.sql.types.StringType
        val reg = spark.sessionState.functionRegistry
        def litStr(e: Expression, fn: String): String = e match {
          case Literal(s, StringType) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"$fn: expected a string literal, got $other")
        }
        reg.createOrReplaceTempFunction("graft_union_value",
          (e: Seq[Expression]) =>
            UnionTypes.valueExpr(litStr(e(0), "union_value"), e(1)),
          "built-in")
        reg.createOrReplaceTempFunction("graft_union_cast",
          (e: Seq[Expression]) =>
            UnionCastExpr(litStr(e(0), "union cast"), e(1)), "built-in")
        reg.createOrReplaceTempFunction("union_tag",
          (e: Seq[Expression]) =>
            UnresolvedExtractValue(e.head, Literal(UnionTypes.TagField)),
          "built-in")
        reg.createOrReplaceTempFunction("union_extract",
          (e: Seq[Expression]) =>
            UnresolvedExtractValue(e.head, Literal(litStr(e(1),
              "union_extract"))), "built-in")
      }
      // DuckDB-named aliases over Spark builtins (len, list_*, ...)
      DuckAliases.registerAll(spark)
      // round-9 conformance waves (array_*/list_* long tail, JSON,
      // pg_catalog shims, interval dateparts) — registered AFTER
      // DuckAliases so its refinements (arg_max null-skip, polymorphic
      // epoch, list_unique non-null count) win the name
      DuckVocab9.registerAll(spark)
      // round-10 probe-driven semantics wave (1-based index lambdas,
      // NULL-skipping concat, pg-window substr) — last wins
      DuckVocab10.registerAll(spark)
      spark.conf.set(marker, "true")
    }
  }
}
