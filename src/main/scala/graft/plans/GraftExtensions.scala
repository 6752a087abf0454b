package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo, Explode, Expression, ExpressionInfo, Literal, Sequence}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.types.{DataType, StructType}

/** The idiomatic Spark integration point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions`) gives ANY SparkSession graft's native
  * expressions, the `generate_series` table function, and the pg/
  * DuckDB dialect pre-pass — the Spark-native analogue of loading the
  * reference extension into a DuckDB process
  * (src/duckdb_pgwire_extension.cpp:217-227 Load/init).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // native scalar expressions
    ext.injectFunction((
      FunctionIdentifier("array_cosine_similarity"),
      new ExpressionInfo(classOf[ListVector].getName,
        "array_cosine_similarity"),
      (exprs: Seq[Expression]) =>
        ListVector(exprs(0), exprs(1), "array_cosine_similarity")))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName,
        "minhash_signature"),
      (exprs: Seq[Expression]) => MinHashSignature(exprs(0),
        exprs(1) match {
          case Literal(v, _) => v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"minhash_signature(arr, numHashes): numHashes must be a literal, got $other")
        })))

    // DuckDB COLUMNS(...) star expression: ordinary function resolving
    // to a placeholder the ExpandColumnsRule rewrites at analysis time
    ext.injectFunction((
      FunctionIdentifier("columns"),
      new ExpressionInfo(classOf[ColumnsPlaceholder].getName, "columns"),
      (exprs: Seq[Expression]) => ColumnsPlaceholder(exprs)))
    ext.injectResolutionRule(_ => ExpandColumnsRule)
    // DuckDB zip semantics for several unnests in one select list
    // (post-hoc: runs after the analyzer stacked the Generates)
    ext.injectPostHocResolutionRule(_ => ZipUnnestsRule)
    // VARCHAR-mixing set-op columns resolve to VARCHAR (before the
    // cast-render rules below so the inserted casts pick up DuckDB
    // renderings)
    ext.injectPostHocResolutionRule(_ => DuckSetOpVarcharRule)
    // CASE/COALESCE string binding, bool/int comparisons,
    // FLOAT-mixing arithmetic, width-checked shifts, and one-row
    // scalar subqueries — fused into a single traversal (each
    // analysis of the heavy pipeline operators pays per-rule tree
    // walks, so the expression tail ships as one pass); greatest/
    // least and ceil/floor markers self-resolve (RuntimeReplaceable)
    // and need no rule at all
    ext.injectPostHocResolutionRule(_ => DuckExprTailRule)
    // DuckDB's `{'key': value}` rendering for struct→VARCHAR casts
    ext.injectPostHocResolutionRule(_ => StructCastRenderRule)
    // DATE-DATE day counts + round-half-away narrowing casts
    ext.injectPostHocResolutionRule(_ => DuckNumericCastRule)
    // division/remainder by zero is NULL (every numeric type)
    ext.injectPostHocResolutionRule(_ => DuckDivZeroRule)
    // LIKE/ILIKE without ESCAPE has no default escape character
    ext.injectPostHocResolutionRule(_ => DuckLikeNoEscapeRule)
    // DOUBLE/FLOAT→VARCHAR uses DuckDB's shortest/positional format
    ext.injectPostHocResolutionRule(_ => DuckFloatRenderRule)
    // BLOB↔VARCHAR casts use the \xHH escape model
    ext.injectPostHocResolutionRule(_ => DuckBlobCastRule)
    // row/struct comparisons follow per-field three-valued logic
    ext.injectPostHocResolutionRule(_ => DuckStructCompareRule)
    // intervals compare by the months->30d, days->24h normalized key
    ext.injectPostHocResolutionRule(_ => DuckNestedCompareRule)

    ext.injectPostHocResolutionRule(_ => DuckNestedSortKeyRule)

    ext.injectPostHocResolutionRule(_ => DuckIntervalCompareRule)
    // interval dateparts + DATE + TIME combination
    ext.injectPostHocResolutionRule(_ => DuckTemporalPolyRule)
    // interval::VARCHAR DuckDB text; mixed YM±DT interval arithmetic
    ext.injectPostHocResolutionRule(_ => DuckIntervalCastRule)
    // LAST post-hoc: alias any select item the rules above resolved
    // (ResolveAliases has already run and won't get another chance)
    ext.injectPostHocResolutionRule(_ => AssignPostHocAliasRule)
    // quantified comparisons: x op ANY|ALL (list | subquery)
    ext.injectFunction((
      FunctionIdentifier("duck_q_cmp"),
      new ExpressionInfo(classOf[QuantPredMarker].getName, "duck_q_cmp"),
      (exprs: Seq[Expression]) => QuantPredMarker.fromArgs(exprs)))
    ext.injectResolutionRule(_ => QuantPredRewriteRule)
    // pg/DuckDB whole-row references: SELECT t FROM t is the row as a
    // struct (names that failed column resolution only)
    ext.injectResolutionRule(_ => WholeRowRefRule)
    ext.injectResolutionRule(_ => WhereAliasRule)
    // fixpoint fixes for constructs Spark never resolves: bool<int
    // comparisons, LIMIT NULL/string/fraction, mixed YM±DT intervals
    ext.injectResolutionRule(_ => DuckResolveFixRule)

    // SCALAR range/generate_series (list-returning, DuckSeries
    // semantics) — injected here as well as in Functions.registerAll
    // because the dialect pre-pass lowers `FROM generate_series(...)`
    // onto the scalar spelling, so an extensions-only session needs it
    ext.injectFunction((
      FunctionIdentifier("generate_series"),
      new ExpressionInfo(classOf[DuckSeries].getName, "generate_series"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(stop) => DuckSeries(Literal(0L), stop, None, exclusive = false)
        case Seq(a, b) => DuckSeries(a, b, None, exclusive = false)
        case e => DuckSeries(e(0), e(1), Some(e(2)), exclusive = false)
      }))
    ext.injectFunction((
      FunctionIdentifier("range"),
      new ExpressionInfo(classOf[DuckSeries].getName, "range"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(stop) => DuckSeries(Literal(0L), stop, None, exclusive = true)
        case Seq(a, b) => DuckSeries(a, b, None, exclusive = true)
        case e => DuckSeries(e(0), e(1), Some(e(2)), exclusive = true)
      }))

    // real table-valued generate_series (inclusive bounds, like
    // DuckDB/pg — reference client/go/cmd/simple/main.go:27). The
    // DuckSeries expression carries the probed default-step/empty
    // semantics and timestamp+INTERVAL support; Sequence would
    // direction-infer `generate_series(5, 1)` into a countdown.
    ext.injectTableFunction((
      FunctionIdentifier("generate_series"),
      new ExpressionInfo("graft.GraftExtensions", "generate_series"),
      (exprs: Seq[Expression]) => {
        val seq = DuckSeries(exprs(0),
          exprs.lift(1).getOrElse(exprs(0)), exprs.lift(2),
          exclusive = false)
        val fixed = if (exprs.length == 1)
          seq.copy(start = Literal(0L), stop = exprs(0)) else seq
        val gen = Generate(Explode(fixed), Nil, outer = false, None, Nil,
          OneRowRelation())
        Project(Seq(Alias(UnresolvedAttribute("col"), "generate_series")()), gen)
      }))

    // table-valued range: DuckDB names the column `range` and is
    // end-exclusive. Literal integer bounds keep Spark's parallel
    // Range node (renamed); everything else — timestamps, expressions,
    // zero steps — evaluates through DuckSeries.
    ext.injectTableFunction((
      FunctionIdentifier("range"),
      new ExpressionInfo("graft.GraftExtensions", "range"),
      (exprs: Seq[Expression]) => {
        val intLits = exprs.forall {
          case Literal(_, org.apache.spark.sql.types.ByteType |
              org.apache.spark.sql.types.ShortType |
              org.apache.spark.sql.types.IntegerType |
              org.apache.spark.sql.types.LongType) => true
          case _ => false
        }
        def lit(i: Int): Long = exprs(i) match {
          case Literal(v, _) => v.toString.toLong
          case other => sys.error(s"unreachable: $other")
        }
        val stepLit = if (exprs.length > 2) lit(2) else 1L
        if (intLits && exprs.nonEmpty && stepLit != 0L) {
          val (s, e) = if (exprs.length == 1) (0L, lit(0)) else (lit(0), lit(1))
          Project(Seq(Alias(UnresolvedAttribute("id"), "range")()),
            org.apache.spark.sql.catalyst.plans.logical.Range(
              s, e, stepLit, None))
        } else {
          val series = exprs.length match {
            case 1 => DuckSeries(Literal(0L), exprs(0), None, exclusive = true)
            case 2 => DuckSeries(exprs(0), exprs(1), None, exclusive = true)
            case _ => DuckSeries(exprs(0), exprs(1), Some(exprs(2)),
              exclusive = true)
          }
          val gen = Generate(Explode(series), Nil, outer = false, None, Nil,
            OneRowRelation())
          Project(Seq(Alias(UnresolvedAttribute("col"), "range")()), gen)
        }
      }))

    // table-valued repeat: `FROM repeat('ab', 3)` — n copies of the
    // value, column named like DuckDB's
    ext.injectTableFunction((
      FunctionIdentifier("repeat"),
      new ExpressionInfo("graft.GraftExtensions", "repeat"),
      (exprs: Seq[Expression]) => {
        val gen = Generate(
          Explode(org.apache.spark.sql.catalyst.expressions.ArrayRepeat(
            exprs(0), exprs(1))), Nil, outer = false, None, Nil,
          OneRowRelation())
        Project(Seq(Alias(UnresolvedAttribute("col"), "repeat")()), gen)
      }))

    // table-valued unnest: `FROM unnest([10, 20]) t(x)` — the same
    // DuckUnnest generator as the SELECT-position alias, so struct
    // and recursive/max_depth forms work in FROM position too (the
    // generator's elementSchema names the outputs, incl. the bare
    // list form's `unnest` column)
    ext.injectTableFunction((
      FunctionIdentifier("unnest"),
      new ExpressionInfo("graft.GraftExtensions", "unnest"),
      (exprs: Seq[Expression]) =>
        Generate(DuckUnnest.fromArgs(exprs), Nil, outer = false, None,
          Nil, OneRowRelation())))

    // SQL-level file readers — the delegated-engine surface a wire
    // client expects (`SELECT * FROM read_parquet('f.parquet')`,
    // reference forwards verbatim at cpp:52). Each resolves at
    // analysis time to the DataFrame reader's plan, so Catalyst sees
    // an ordinary relation (pushdown/pruning apply as usual).
    // DuckDB readers take one path, a glob (hadoop handles those
    // natively), or a LIST of paths: read_parquet(['a', 'b']).
    def pathArgs(exprs: Seq[Expression], fn: String): Seq[String] =
      exprs.headOption match {
        case Some(Literal(v, _)) if v != null => Seq(v.toString)
        case Some(arr: org.apache.spark.sql.catalyst.expressions.CreateArray)
            if arr.children.nonEmpty && arr.children.forall {
              case Literal(v, _) => v != null
              case _ => false
            } =>
          arr.children.map { case Literal(v, _) => v.toString }
        case _ => throw new IllegalArgumentException(
          s"$fn(path): path must be a string literal or a list of them")
      }
    def pathArg(exprs: Seq[Expression], fn: String): String =
      pathArgs(exprs, fn).head
    def injectReader(name: String)(
        read: Seq[String] => org.apache.spark.sql.DataFrame): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name),
        (exprs: Seq[Expression]) =>
          read(pathArgs(exprs, name)).queryExecution.analyzed))
    def active = org.apache.spark.sql.SparkSession.active
    injectReader("read_parquet")(p => active.read.parquet(p: _*))
    injectReader("parquet_scan")(p => active.read.parquet(p: _*)) // legacy alias

    // read_json family accepts DuckDB's format option: 'array' maps
    // to Spark's multiLine mode (a pretty-printed JSON array),
    // 'newline_delimited'/'nd'/'auto' keep Spark's NDJSON default
    // (which also parses single-line arrays row-wise, DuckDB's auto)
    def jsonReader(name: String): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name),
        (exprs: Seq[Expression]) => {
          val paths = pathArgs(exprs, name)
          var opts = Map.empty[String, String]
          var filenameCol = false
          exprs.drop(1).foreach {
            case org.apache.spark.sql.catalyst.expressions
                  .NamedArgumentExpression(key, Literal(v, _)) =>
              val value = String.valueOf(v)
              key.toLowerCase match {
                case "format" => value.toLowerCase match {
                  case "array" => opts += "multiLine" -> "true"
                  case "newline_delimited" | "nd" | "auto" | "unstructured" =>
                  case other => throw new IllegalArgumentException(
                    s"$name: unknown format '$other'")
                }
                case "compression" => opts += "compression" -> value
                case "ignore_errors" if value == "true" =>
                  opts += "mode" -> "DROPMALFORMED"
                case "filename" => filenameCol = value == "true"
                case "maximum_object_size" | "auto_detect" |
                    "sample_size" | "maximum_depth" => // sizing knobs: n/a
                case other => throw new IllegalArgumentException(
                  s"$name: unsupported option '$other'")
              }
            case other => throw new IllegalArgumentException(
              s"$name: expected name=value options, got $other")
          }
          val df0 = active.read.options(opts).json(paths: _*)
          val df = if (filenameCol)
            df0.withColumn("filename",
              org.apache.spark.sql.functions.input_file_name())
          else df0
          df.queryExecution.analyzed
        }))
    // DuckDB spells the auto-detecting and newline-delimited variants
    // as distinct TVFs; Spark's json reader IS schema-inferring NDJSON
    jsonReader("read_json")
    jsonReader("read_json_auto")
    jsonReader("read_ndjson")
    jsonReader("read_ndjson_auto")

    // read_csv[_auto] accept DuckDB's named options (`delim='|'`,
    // `header=false`, ...). Spark's parser sees `name=value` as an
    // EqualTo predicate over an unresolved column — exactly enough
    // structure to lift into reader options. Unknown names error
    // loudly rather than silently mis-parse someone's data file.
    def csvReader(name: String): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name),
        (exprs: Seq[Expression]) => {
          import org.apache.spark.sql.catalyst.expressions.{
            CreateArray, CreateNamedStruct, NamedArgumentExpression}
          val paths = pathArgs(exprs, name)
          var opts = Map("header" -> "true", "inferSchema" -> "true")
          var names = Seq.empty[String] // names=[…]: rename detected cols
          var schemaDdl = "" // columns={name: 'TYPE', …}: explicit schema
          var skip = 0L // skip=N: drop the first N raw lines
          var filenameCol = false
          def strLit(e: Expression): String = e match {
            case Literal(v, _) => String.valueOf(v)
            case other => throw new IllegalArgumentException(
              s"$name: expected a literal, got $other")
          }
          exprs.drop(1).foreach {
            case NamedArgumentExpression(key, value) =>
              (key.toLowerCase, value) match {
                case ("names", CreateArray(items, _)) =>
                  names = items.map(strLit)
                case ("columns", cns: CreateNamedStruct) =>
                  // CreateNamedStruct.names yields evaluated name
                  // values (UTF8String), valExprs the type literals
                  schemaDdl = cns.names.zip(cns.valExprs)
                    .map { case (n, t) =>
                      s"`${String.valueOf(n)}` " +
                        graft.UnionTypes.normalizeType(strLit(t))
                    }
                    .mkString(", ")
                  opts += "inferSchema" -> "false"
                  // DuckDB: an explicit columns= spec implies the file
                  // has no header unless the user says otherwise
                  opts += "header" -> "false"
                case (k, Literal(v, _)) =>
                  val value = String.valueOf(v)
                  k match {
                    case "delim" | "sep" => opts += "sep" -> value
                    case "header" => opts += "header" -> value
                    case "quote" => opts += "quote" -> value
                    case "escape" => opts += "escape" -> value
                    case "nullstr" => opts += "nullValue" -> value
                    case "dateformat" => opts += "dateFormat" -> value
                    case "timestampformat" =>
                      opts += "timestampFormat" -> value
                    case "compression" => opts += "compression" -> value
                    case "skip" => skip = value.toLong
                    case "filename" => filenameCol = value == "true"
                    case "ignore_errors" if value == "true" =>
                      opts += "mode" -> "DROPMALFORMED"
                    case "all_varchar" if value == "true" =>
                      opts += "inferSchema" -> "false"
                    case "sample_size" | "auto_detect" => // sampling: n/a
                    case other => throw new IllegalArgumentException(
                      s"$name: unsupported option '$other'")
                  }
                case (other, _) => throw new IllegalArgumentException(
                  s"$name: unsupported option '$other'")
              }
            case other => throw new IllegalArgumentException(
              s"$name: expected name=value options, got $other")
          }
          val reader0 = active.read.options(opts)
          val reader =
            if (schemaDdl.nonEmpty) reader0.schema(schemaDdl) else reader0
          val base =
            if (skip > 0) {
              // DuckDB skip drops the first N raw lines before parsing.
              // zipWithIndex is exact: Hadoop line splits order by file
              // offset, so the global index IS the line number — no
              // driver materialization, one narrow pass
              val spark = active
              import spark.implicits._
              val kept = spark.read.textFile(paths: _*).rdd
                .zipWithIndex()
                .filter(_._2 >= skip).map(_._1).toDS()
              reader.csv(kept)
            } else reader.csv(paths: _*)
          val named =
            if (names.isEmpty) base
            else if (names.length == base.columns.length)
              base.toDF(names: _*)
            else throw new IllegalArgumentException(
              s"$name: names=[…] lists ${names.length} columns, file has " +
                s"${base.columns.length}")
          val df = if (filenameCol)
            named.withColumn("filename",
              org.apache.spark.sql.functions.input_file_name())
          else named
          df.queryExecution.analyzed
        }))
    csvReader("read_csv")
    csvReader("read_csv_auto")

    // DuckDB metadata TVFs (`SELECT * FROM duckdb_tables()` etc.) —
    // the introspection surface DB tools/UIs query through the wire
    // (delegated engine surface, forwarded verbatim at cpp:52). Each
    // snapshots the ACTIVE session's catalog at resolution time into
    // a local relation — metadata-sized by construction.
    def injectMeta(name: String)(
        mk: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftExtensions", name),
        (_: Seq[Expression]) => mk(active).queryExecution.analyzed))
    injectMeta("duckdb_databases") { sp =>
      import sp.implicits._
      sp.catalog.listDatabases().collect().map(_.name).sorted.toSeq
        .toDF("database_name")
    }
    // per-table schema lookup that NEVER fails the listing: a dangling
    // view (base table dropped) must not break introspection — DuckDB's
    // duckdb_tables() lists what the catalog has, errors or not
    def safeFields(sp: org.apache.spark.sql.SparkSession, name: String) =
      scala.util.Try(sp.table(name).schema.fields).getOrElse(Array.empty)
    injectMeta("duckdb_tables") { sp =>
      import sp.implicits._
      sp.catalog.listTables().collect().toSeq
        .map(t => (Option(t.database).getOrElse("memory"), "main", t.name,
          graft.Comments.get("table", t.name).orNull,
          t.tableType == "TEMPORARY", safeFields(sp, t.name).length))
        .sortBy(_._3)
        .toDF("database_name", "schema_name", "table_name", "comment",
          "temporary", "column_count")
    }
    injectMeta("duckdb_columns") { sp =>
      import sp.implicits._
      sp.catalog.listTables().collect().toSeq.sortBy(_.name)
        .flatMap { t =>
          safeFields(sp, t.name).zipWithIndex.map { case (f, i) =>
            (Option(t.database).getOrElse("memory"), "main", t.name,
              f.name, i,
              graft.Comments.get("column", s"${t.name}.${f.name}").orNull,
              f.dataType.sql)
          }
        }
        .toDF("database_name", "schema_name", "table_name", "column_name",
          "column_index", "comment", "data_type")
    }
    injectMeta("duckdb_settings") { sp =>
      import sp.implicits._
      sp.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql."))
        .sortBy(_._1)
        .toDF("name", "value")
    }
    injectMeta("duckdb_functions") { sp =>
      import sp.implicits._
      sp.catalog.listFunctions().collect().map(_.name).sorted.toSeq
        .toDF("function_name")
    }
    // the rest of DuckDB's catalog listings + file introspection
    // (shapes pinned from v1.0 probes — Introspection.scala)
    injectMeta("duckdb_views")(Introspection.viewsDf)
    injectMeta("duckdb_schemas")(Introspection.schemasDf)
    injectMeta("duckdb_types")(Introspection.typesDf)
    injectMeta("duckdb_keywords")(Introspection.keywordsDf)
    injectMeta("duckdb_sequences")(Introspection.sequencesDf)
    injectMeta("duckdb_indexes")(Introspection.indexesDf)
    injectMeta("duckdb_constraints")(Introspection.constraintsDf)
    // information_schema constraint views, reached via the SqlRewrites
    // lowering (standard names; ORMs and migration tools probe them)
    injectMeta("graft_is_table_constraints")(
      Introspection.isTableConstraintsDf)
    injectMeta("graft_is_key_column_usage")(
      Introspection.isKeyColumnUsageDf)
    injectMeta("graft_is_referential_constraints")(
      Introspection.isReferentialConstraintsDf)
    injectMeta("duckdb_temporary_files")(Introspection.temporaryFilesDf)
    injectMeta("duckdb_secrets")(Introspection.secretsDf)
    injectMeta("duckdb_memory")(Introspection.memoryDf)
    injectMeta("duckdb_optimizers")(Introspection.optimizersDf)
    injectMeta("duckdb_extensions")(Introspection.extensionsDf)
    injectMeta("checkpoint")(Introspection.checkpointDf)
    injectMeta("force_checkpoint")(Introspection.checkpointDf)
    def injectPath1(name: String)(
        mk: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.Introspection", name),
        (exprs: Seq[Expression]) =>
          mk(active, pathArg(exprs, name)).queryExecution.analyzed))
    injectPath1("glob")(Introspection.globDf)
    injectPath1("sniff_csv")(Introspection.sniffCsvDf)
    injectPath1("parquet_schema")(Introspection.parquetSchemaDf)
    injectPath1("parquet_metadata")(Introspection.parquetMetadataDf)
    injectPath1("parquet_file_metadata")(Introspection.parquetFileMetadataDf)
    injectPath1("parquet_kv_metadata")(Introspection.parquetKvMetadataDf)
    def injectFiles(name: String, asText: Boolean): Unit =
      ext.injectTableFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.Introspection", name),
        (exprs: Seq[Expression]) =>
          Introspection.readFilesDf(active, pathArgs(exprs, name), asText)
            .queryExecution.analyzed))
    injectFiles("read_text", asText = true)
    injectFiles("read_blob", asText = false)

    // the statement classifier and dialect pre-pass at the parser
    // seam: plain spark.sql(...) takes the whole DuckDB surface. Each
    // session builds its own parser, which sees that session's prepared
    // statements and variables.
    ext.injectParser((session, delegate) => new GraftParser(session, delegate))

    // opt-in interval-join rewrite (spark.graft.rangeJoin.binWidth)
    ext.injectOptimizerRule(BinnedRangeJoinRule)

    // a root ORDER BY the wire streams sorts in one range partition
    ext.injectQueryStagePrepRule(_ => StreamedOrderBy)
  }
}

/** ParserInterface wrapper classifying each statement
  * ([[DuckStatements]]) and applying [[SqlRewrites]] before delegating
  * to the stock SparkSqlParser (SURVEY §7 M4 — "idiomatic: custom
  * ParserInterface delegating to SparkSqlParser"). `parsePlan` is the
  * one place a statement is classified and lowered from DuckDB SQL,
  * whichever way it arrives (wire, `Engine.query`, library `spark.sql`).
  */
class GraftParser(session: org.apache.spark.sql.SparkSession,
    delegate: ParserInterface) extends ParserInterface {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.plans.logical.{CreateView, Distinct, SubqueryAlias, Union}
  import org.apache.spark.sql.execution.command.CreateViewCommand

  override def parsePlan(sqlText: String): LogicalPlan = {
    DuckAliases.bumpTxid() // one "transaction" per statement
    DuckStatements.plan(this, session, sqlText)
  }

  /** Spark's own parse of `sql` lowered from the DuckDB dialect: the
    * plan of every statement the classifier leaves to Spark. */
  def lowered(sql: String): LogicalPlan = {
    val (text, subs) = hoistStatements(sql)
    substitute(renameInlineDefaults(planByName(
      SqlRewrites.rewriteFull(Macros.expand(text)))), subs) match {
      // a view over a hoisted statement keeps its analyzed plan: its
      // text names placeholders no later parse resolves. A stored view
      // keeps only text.
      case v: CreateViewCommand if subs.nonEmpty => v.copy(originalText = None)
      case _: CreateView if subs.nonEmpty => throw new UnsupportedOperationException(
        "a stored view cannot hold a FROM-position PIVOT, UNPIVOT, SUMMARIZE, " +
          "DESCRIBE or SHOW statement; create a TEMP view")
      case p => p
    }
  }

  /** `plan` with each placeholder relation named in `subs` replaced by
    * the plan it stands for */
  private def substitute(plan: LogicalPlan,
      subs: collection.Map[String, LogicalPlan]): LogicalPlan =
    if (subs.isEmpty) plan
    else plan.transformUpWithSubqueries {
      case r: UnresolvedRelation
          if r.multipartIdentifier.length == 1 &&
            subs.contains(r.multipartIdentifier.head) =>
        SubqueryAlias(r.multipartIdentifier.head, subs(r.multipartIdentifier.head))
    }

  /** DuckDB's PIVOT/UNPIVOT statements compose as FROM-position
    * subqueries — `SELECT … FROM (UNPIVOT t ON …) u` (delegated
    * surface via cpp:52), and so do SUMMARIZE, DESCRIBE and SHOW. Spark's
    * parser has no statement-in-FROM form, so each parenthesized group
    * is parsed as a statement of its own (dynamic column discovery
    * included) and its plan replaces a placeholder relation. Quote-aware
    * paren matching; nested groups resolve through the recursive parse.
    */
  private def hoistStatements(sql: String): (String, Map[String, LogicalPlan]) = {
    if (!HoistRe.findFirstIn(sql).isDefined) return (sql, Map.empty)
    var cur = sql
    var subs = Map.empty[String, LogicalPlan]
    var i = 0; var inStr = false
    while (i < cur.length) {
      val c = cur.charAt(i)
      if (inStr) { if (c == '\'') inStr = false; i += 1 }
      else if (c == '\'') { inStr = true; i += 1 }
      else if (c == '(') {
        val after = cur.substring(i + 1).dropWhile(_.isWhitespace)
        val kw = after.takeWhile(_.isLetter).toUpperCase
        // SUMMARIZE/DESCRIBE/SHOW only hoist in FROM position (the
        // word before the paren is FROM/JOIN/,) — `(desc_col)` in an
        // expression must NOT read as a DESCRIBE statement
        lazy val fromPos = {
          val before = cur.substring(0, i).trim
          before.endsWith(",") || FromPosRe.matches(before)
        }
        if (kw == "PIVOT" || kw == "UNPIVOT" ||
            (Set("SUMMARIZE", "DESCRIBE", "DESC", "SHOW").contains(kw) &&
              fromPos)) {
          val close = SqlRewrites.matchParen(cur, i)
          require(close > 0, s"unbalanced parentheses around $kw subquery")
          val name = s"__graft_stmt_${subs.size}"
          subs += name -> parsePlan(cur.substring(i + 1, close))
          cur = cur.substring(0, i) + name + cur.substring(close + 1)
          i += name.length
        } else i += 1
      } else i += 1
    }
    (cur, subs)
  }
  private val HoistRe = "(?is)\\(\\s*((UN)?PIVOT|SUMMARIZE|DESC(RIBE)?|SHOW)\\b".r
  private val FromPosRe = """(?is).*\b(FROM|JOIN)\z""".r

  /** DuckDB numbers anonymous VALUES columns col0, col1, … — Spark
    * starts at col1 (probed: `SELECT col0 FROM (VALUES (1),(2)) v`).
    * Renamed at the parse seam, before ResolveInlineTables eagerly
    * converts literal rows to a LocalRelation; explicit aliases
    * (`v(a, b)`) overwrite these defaults either way. */
  private def renameInlineDefaults(p: LogicalPlan): LogicalPlan =
    p.transformDownWithSubqueries {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedInlineTable
          if t.names == t.names.indices.map(i => s"col${i + 1}") =>
        t.copy(names = t.names.indices.map(i => s"col$i"))
      // Spark 4's AstBuilder eagerly evaluates literal inline tables
      // to a LocalRelation at parse time — at this seam any
      // LocalRelation with the default names IS a VALUES clause
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.output.map(_.name) ==
            lr.output.indices.map(i => s"col${i + 1}") =>
        lr.copy(output = lr.output.zipWithIndex.map { case (a, i) =>
          a.withName(s"col$i")
        })
    }

  /** name-based set union: Spark has no SQL spelling for
    * `UNION [ALL] BY NAME`, so the statement is split at the BY NAME
    * boundaries and assembled as a byName Union (missing columns
    * NULL-pad, like DuckDB). FROM-position subqueries containing one
    * are lifted out onto placeholder relations recursively; trailing
    * ORDER BY/LIMIT of the LAST segment bind to the whole union.
    */
  private def planByName(sqlIn: String): LogicalPlan = {
    val holders = scala.collection.mutable.Map.empty[String, LogicalPlan]
    var cur = sqlIn
    var idx = 0
    var nested = SqlRewrites.findNestedByNameSpan(cur)
    while (nested.isDefined && idx < 32) {
      val (open, close) = nested.get
      val name = s"__graft_ubn_$idx"; idx += 1
      holders(name) = planByName(cur.substring(open + 1, close))
      cur = cur.substring(0, open) + " " + name + " " + cur.substring(close + 1)
      nested = SqlRewrites.findNestedByNameSpan(cur)
    }
    val top = SqlRewrites.splitUnionByName(cur) match {
      case Some((segs, alls)) =>
        val (lastSel, tail) = SqlRewrites.splitTailClauses(segs.last)
        val plans = (segs.init :+ lastSel)
          .map(s => UnnestHoist(delegate.parsePlan(s)))
        var acc = plans.head
        plans.tail.zip(alls).foreach { case (p, all) =>
          val u = Union(Seq(acc, p), byName = true, allowMissingCol = true)
          acc = if (all) u else Distinct(u)
        }
        tail.fold(acc)(t => substitute(
          delegate.parsePlan(s"SELECT * FROM __graft_ubn $t"), Map("__graft_ubn" -> acc)))
      case None => UnnestHoist(delegate.parsePlan(cur))
    }
    substitute(top, holders)
  }
  /** Spark's one caller re-reads a stored view's body, which is text
    * `parsePlan` already lowered: it parses as it is. */
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
