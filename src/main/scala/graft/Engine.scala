package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Engine core — the "library" entry point (SURVEY §3 entry point 2).
  *
  * The reference (euiko/duckdb-pgwire, src/duckdb_pgwire_extension.cpp:40)
  * holds one process-wide engine instance shared by every connection; the
  * Spark-native equivalent is one [[SparkSession]] whose catalog (temp
  * views + registered functions) is shared, with `newSession()` clones
  * for per-connection state.
  *
  * Config posture (SURVEY §4): AQE on, UTC session timezone, ANSI on
  * (Spark 4.x default — matches DuckDB's strict-cast semantics),
  * shuffle partitions sized for local[32] rather than the 200 default.
  */
object Engine {

  /** Local cores for every main but the server: `$SPARK_GRAFT_CPUS`,
    * else the JVM's available processors; fails fast on anything but a
    * positive integer, which would otherwise become a bad master URL or
    * malformed bench JSON. */
  def localCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS") match {
      case None => Runtime.getRuntime.availableProcessors()
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** Build (or reuse) the shared session on `local[cores]` — the one
    * session builder: the server, Verify, Bench, SpecGates, the dev
    * tools and the test suite all run this configuration. Idempotent. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-engine")
      .withExtensions(new GraftExtensions) // TVFs + parser + functions
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE SIZE shuffles instead of pinning them to 32: with
      // initialPartitionNum, AQE picks the post-shuffle partition
      // count from actual map output (advisory 64 MB target),
      // coalescing small-SF shuffles down to a handful while giving a
      // token-sized posting shuffle (sf30+: tens of GB) hundreds of
      // partitions so per-task external sorts stop multi-pass merging
      // against a 2 GB/task memory slice. Measured r11: q_dedup_prefix
      // sf30 warm 513 s → (see SCALE_CURVE_r11) with this line; the
      // 100 TB posture is the same mechanism at cluster scale.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024")
      // DuckDB's TIME / TIMETZ surface needs Spark 4.1's TimeType
      // (collection-side encoder support is gated behind this flag)
      .config("spark.sql.timeType.enabled", "true")
      // TIMESTAMP(NANOS) parquet columns read as longs (Tables.load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // pg/DuckDB double quotes are IDENTIFIERS ("my col", "select"),
      // never string literals — Spark's default reads them as strings,
      // a silent wrong-answer for every quoting wire client
      .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
      // DuckDB's map_concat keeps the LAST value for a duplicate key
      // (probed); Spark's default policy is EXCEPTION
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // NOTE on string literals: DuckDB (like pg with
      // standard_conforming_strings) keeps backslashes in '...'
      // literals LITERAL. Spark's default parser escape-processes
      // them, and its escapedStringLiterals mode breaks ''-doubling —
      // so SqlRewrites doubles backslashes inside quoted spans
      // instead (escapeBackslashesInLiterals), which preserves both
      // behaviors under the default parser.
      .config("spark.ui.enabled", "false")
      // hold the generated-code working set: Spark's LRU of compiled
      // classes defaults to 100 entries, one analytic pass of the wire
      // benchmark needs about 200 and visits them in the same cyclic
      // order, so every warm pass missed on every class and recompiled
      // it (janino, then interpreted bytecode until the JIT caught up).
      // One pass over all oracle statements compiles 1485 distinct
      // classes. A static conf: read once per JVM, when Spark's code
      // generator first loads.
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      // managed-table location for the in-memory catalog: keep it out
      // of the repo and unique per JVM (a stale spark-warehouse dir
      // otherwise breaks CREATE TABLE across restarts)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Functions.registerAll(spark)
    spark
  }

  /** Drop every cached block between two standalone workloads: first
    * the SQL CacheManager's entries, then the persistent-RDD sweep. The
    * order matters: the scale-path frames persist() through the
    * CacheManager, and unpersisting only their RDDs leaves stale cache
    * entries that poison later queries (measured at sf10:
    * q_pipeline_full warm 77 s vs cold 10 s). clearCache drops entry
    * and blocks; the sweep then covers localCheckpoint()ed RDDs, which
    * live outside the CacheManager and otherwise stay pinned for the
    * session's lifetime (their eviction/GC pressure taxed every later
    * query by ~35% on the dedup family at sf0.1). */
  def releaseCache(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }

  /** Run one SQL statement through the compat layer (pg-dialect sugar
    * rewrites: QUALIFY, generate_series, json arrows) then Catalyst.
    * Mirrors the reference's single delegation point
    * (src/duckdb_pgwire_extension.cpp:52 `conn.Prepare(query)`).
    */
  /** statement text visible to current_query() — set per query()
    * call, thread-local like DuckDB's per-connection statement. */
  val currentQuery = new ThreadLocal[String]()

  def query(spark: SparkSession, sqlIn: String): DataFrame = {
    currentQuery.set(sqlIn)
    Functions.registerAll(spark)
    val sql = hoistPivotSubqueries(spark, sqlIn)
    sql match {
      case ExplainRe(optsOrNull, analyzeOrNull, inner) =>
        explainStmt(spark, analyzeOrNull != null ||
          Option(optsOrNull).exists(_.toLowerCase.contains("analyze")), inner)
      case SummarizeRe(target) => summarize(spark, target)
      case CommentOnRe(kind, name, value) =>
        val k = kind.toLowerCase.replaceAll("\\s+", " ")
        if (k == "database") throw new UnsupportedOperationException(
          "Not implemented Error: Adding comments to databases is not implemented")
        Comments.set(k.split(' ').head, name,
          if (value.equalsIgnoreCase("NULL")) None
          else Some(value.stripPrefix("'").stripSuffix("'")
            .replace("''", "'")))
        spark.emptyDataFrame
      case ShowTablesRe() => showTables(spark)
      case ShowAllTablesRe() => showAllTables(spark)
      case ShowDatabasesRe() =>
        query(spark, "SELECT * FROM duckdb_databases()")
      case DescribeRe(target) => describeStmt(spark, target)
      case ShowTargetRe(target) => describeStmt(spark, target)
      // library-level COPY (file forms; STDIN stays wire-only) —
      // DuckDB answers the row count like any DML
      case server.CopyOps.copyToRe(src, path, opts)
          if """(?is)\A\s*COPY\b""".r.findFirstIn(sql).isDefined =>
        dmlCount(spark, server.CopyOps.copyTo(spark, src, path, opts))
      case server.CopyOps.copyFromFileRe(table, path, opts)
          if """(?is)\A\s*COPY\b""".r.findFirstIn(sql).isDefined &&
            !path.equalsIgnoreCase("stdin") =>
        dmlCount(spark, server.CopyOps.copyFromFile(spark, table, path, opts))
      case TruncateRe(name) =>
        // DuckDB's TRUNCATE omits TABLE and answers the removed-row
        // count like any DML; rows still referenced by a foreign key
        // refuse like DELETE (probed)
        TableConstraints.enforceRestrict(spark, name, spark.table(name))
        val n = spark.table(name).count()
        spark.sql(s"TRUNCATE TABLE $name")
        dmlCount(spark, n)
      case InsertDefaultsRe(name) =>
        // one all-DEFAULT row (Spark resolves DEFAULT to the declared
        // column default or NULL, same as DuckDB); generated columns
        // are not insert targets, so they don't count toward the width
        val genN = TableConstraints.generatedOf(name).size
        val width = spark.table(name).schema.size - genN
        query(spark,
          s"INSERT INTO $name VALUES (${Seq.fill(width)("DEFAULT").mkString(", ")})")
      case SetVariableRe(name, valueExpr) =>
        val row = query(spark, s"SELECT ($valueExpr) AS v")
        val v = row.collect().head.get(0)
        state(spark).vars.put(name.toLowerCase, (v, row.schema.head.dataType))
        spark.emptyDataFrame
      case ResetVariableRe(name) =>
        state(spark).vars.remove(name.toLowerCase)
        spark.emptyDataFrame
      case PrepareRe(name, body) =>
        state(spark).prepared.put(name.toLowerCase, server.Prepared(body))
        spark.emptyDataFrame
      case DeallocateRe(name) =>
        if (name.equalsIgnoreCase("all")) state(spark).prepared.clear()
        else state(spark).prepared.remove(name.toLowerCase)
        spark.emptyDataFrame
      case _ if executeText(spark, sql).isDefined =>
        query(spark, executeText(spark, sql).get)
      case AttachRe(path, alias) => attach(spark, path, Option(alias))
      case DetachRe(alias) => detach(spark, alias)
      case CreateOrReplaceRe(name, rest) =>
        // DuckDB `CREATE OR REPLACE TABLE` (delegated surface); Spark's
        // v1 catalog rejects REPLACE TABLE AS SELECT → drop-then-create.
        spark.sql(s"DROP TABLE IF EXISTS $name")
        query(spark, s"CREATE TABLE $name $rest")
      case CreateMacroRe(orReplace, name, params, table, body) =>
        Macros.define(name, params, body, table != null, orReplace != null)
        spark.emptyDataFrame
      case DropMacroRe(ifExists, name) =>
        Macros.drop(name, ifExists != null)
        spark.emptyDataFrame
      case CreateEnumRe(orReplace, ifNotExists, name, body) =>
        val vals = EnumValueRe.findAllMatchIn(body)
          .map(_.group(1).replace("''", "'")).toSeq
        EnumTypes.define(name, vals, orReplace != null, ifNotExists != null)
        spark.emptyDataFrame
      case CreateUnionRe(orReplace, ifNotExists, name, body) =>
        // split member list at top-level commas only (DECIMAL(10,2)
        // keeps its inner comma)
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var depth = 0; val cur = new StringBuilder
        body.foreach {
          case '(' => depth += 1; cur += '('
          case ')' => depth -= 1; cur += ')'
          case ',' if depth == 0 => parts += cur.toString; cur.clear()
          case c => cur += c
        }
        if (cur.nonEmpty) parts += cur.toString
        val members = parts.toSeq.map(_.trim).filter(_.nonEmpty).map { m =>
          val sp = m.split("\\s+", 2)
          require(sp.length == 2, s"union member '$m' must be '<name> <type>'")
          (sp(0).stripPrefix("\"").stripSuffix("\""), sp(1).trim)
        }
        UnionTypes.define(name, members, orReplace != null, ifNotExists != null)
        spark.emptyDataFrame
      case DropTypeRe(ifExists, name) =>
        // one namespace for types, two registries: try enum, then union
        if (EnumTypes.isDefined(name)) EnumTypes.drop(name, ifExists = false)
        else UnionTypes.drop(name, ifExists != null)
        spark.emptyDataFrame
      case CreateSequenceRe(orReplace, ifNotExists, name, tail) =>
        val t = if (tail == null) "" else tail
        val start = SeqStartRe.findFirstMatchIn(t).map(_.group(1).toLong)
        val inc = SeqIncRe.findFirstMatchIn(t).map(_.group(1).toLong)
        Sequences.create(name, start.getOrElse(1L), inc.getOrElse(1L),
          orReplace != null, ifNotExists != null)
        spark.emptyDataFrame
      case DropSequenceRe(ifExists, name) =>
        Sequences.drop(name, ifExists != null)
        spark.emptyDataFrame
      case PragmaRe(body) => pragma(spark, body)
      case ExportDbRe(path, fmtOrNull) =>
        exportDatabase(spark, path,
          Option(fmtOrNull).map(_.toLowerCase).getOrElse("csv"))
      case ImportDbRe(path) => importDatabase(spark, path)
      case MaintenanceRe(_) =>
        // CHECKPOINT flushes DuckDB's WAL, VACUUM/ANALYZE refresh its
        // storage/stats — none has a Spark analogue beyond success
        // (tables are immutable parquet; stats come from AQE runtime
        // statistics). Accepted so wire clients' maintenance scripts
        // run unchanged.
        spark.emptyDataFrame
      case CreateIndexRe(uniqueOrNull, _) =>
        // DuckDB builds ART indexes; Spark has no secondary index — a
        // plain CREATE INDEX is a performance hint, accepted as a
        // no-op. A UNIQUE index is a CONSTRAINT (it would change
        // semantics silently), so it is rejected loudly.
        if (uniqueOrNull != null) throw new IllegalArgumentException(
          "CREATE UNIQUE INDEX: uniqueness constraints are not enforced; " +
            "use exact dedup (Dedup.exact) or a distinct aggregation")
        spark.emptyDataFrame
      case DropIndexRe(_) => spark.emptyDataFrame
      case InstallLoadRe(_, _) =>
        // `LOAD duckdb_pgwire` is the reference's own entry statement
        // (README.md:48); INSTALL fetches an extension first. graft
        // preregisters its whole surface at session build
        // (Functions.registerAll + GraftExtensions), so both succeed
        // as no-ops and the reference's documented startup runs as-is.
        spark.emptyDataFrame
      case PivotStmtRe(target, onCol, using, groupByOpt) =>
        pivotStmt(spark, target, onCol, using, Option(groupByOpt))
      case UnpivotStmtRe(target, onCols, nameCol, valueCol) =>
        unpivotStmt(spark, target, onCols, nameCol, valueCol)
      case DropTableNameRe(name) =>
        // DuckDB refuses to drop a table other tables reference.
        // Normalize like TableConstraints.key (lowercase, quotes
        // stripped) so DROP TABLE "t" on a self-referencing table is
        // not wrongly refused; self-reference = exact key match, with
        // the suffix rule only when one side is unqualified (mirrors
        // the registry's own lookup fallback).
        val nk = name.toLowerCase.replace("\"", "")
        val nSuffix = nk.split('.').last
        TableConstraints.referencingFks(name)
          .find { case (child, _) =>
            val selfRef = child == nk ||
              ((!child.contains('.') || !nk.contains('.')) &&
                child.split('.').last == nSuffix)
            !selfRef
          }
          .foreach { case (child, _) =>
            throw new IllegalArgumentException(
              "Catalog Error: Could not drop the table because this " +
                s"""table is main key table of the table "${
                  child.split('.').last}"""")
          }
        graft.TableConstraints.clear(name) // stale PK records die here
        graft.Comments.clear(name) // and stale COMMENT ON records
        spark.sql(sql)
      // DuckDB column DDL Spark's v1 tables reject — rebuilt
      // copy-on-write like the DML paths (snapshot, drop, re-save)
      case AlterRenameColRe(table, oldC, newC) =>
        rebuildTable(spark, table) { df =>
          require(df.columns.exists(_.equalsIgnoreCase(oldC)),
            s"column $oldC does not exist in $table")
          df.withColumnRenamed(oldC, newC)
        }
        TableConstraints.pkOf(table).foreach { pk =>
          if (pk.exists(_.equalsIgnoreCase(oldC)))
            TableConstraints.recordPk(table, pk.map(c =>
              if (c.equalsIgnoreCase(oldC)) newC.toLowerCase else c))
        }
        // NOT NULL / CHECK / generated records follow the new name
        TableConstraints.renameColumn(table, oldC, newC)
        spark.emptyDataFrame
      case AlterDropColRe(table, ifExists, col) =>
        // refuses BEFORE the rebuild when a generated column depends
        // on the doomed column, or a CHECK references it
        if (spark.table(table).columns.exists(_.equalsIgnoreCase(col)))
          TableConstraints.dropColumn(table, col)
        rebuildTable(spark, table) { df =>
          if (!df.columns.exists(_.equalsIgnoreCase(col))) {
            require(ifExists != null, s"column $col does not exist in $table")
            df
          } else {
            require(df.columns.length > 1,
              s"cannot drop the only column of $table")
            df.drop(col)
          }
        }
        if (TableConstraints.pkOf(table).exists(_.exists(
            _.equalsIgnoreCase(col))))
          TableConstraints.clear(table) // the key is gone with its column
        spark.emptyDataFrame
      case AlterColTypeRe(table, col, newType, usingOrNull) =>
        rebuildTable(spark, table) { df =>
          require(df.columns.exists(_.equalsIgnoreCase(col)),
            s"column $col does not exist in $table")
          val expr = Option(usingOrNull)
            .map(u => org.apache.spark.sql.functions.expr(u))
            .getOrElse(org.apache.spark.sql.functions
              .col(col).cast(SqlRewrites.mapTypeName(newType)))
          df.withColumn(col, expr)
        }
        spark.emptyDataFrame
      case _ if """(?is)\A\s*(INSERT|UPDATE|DELETE)\b""".r
          .findFirstIn(sql).isDefined &&
          splitReturning(sql).isDefined =>
        returningStmt(spark, sql)
      case _ if """(?is)\A\s*UPDATE\s""".r.findFirstIn(sql).isDefined =>
        // library-level DML: same copy-on-write path the wire uses;
        // DuckDB returns a Count column for DML statements
        dmlCount(spark, server.Dml.update(spark, sql))
      case _ if """(?is)\A\s*DELETE\s""".r.findFirstIn(sql).isDefined =>
        dmlCount(spark, server.Dml.delete(spark, sql))
      case _ =>
        (if ("""(?is)\A\s*WITH\s+RECURSIVE\b""".r.findFirstIn(sql).isDefined)
          recursiveUnionDistinct(spark, sql) else None) match {
          case Some(df) => df
          case None =>
        (if (sql.toLowerCase.contains("conflict") ||
            """(?is)^\s*INSERT\s+OR\s""".r.findFirstIn(sql).isDefined)
          server.Dml.insertOnConflict(spark, sql) else None) match {
          case Some(n) => dmlCount(spark, n)
          case None =>
        (if ("""(?is)\A\s*INSERT\b""".r.findFirstIn(sql).isDefined)
          server.Dml.guardedInsert(spark, sql) else None) match {
          case Some(n) => dmlCount(spark, n)
          case None =>
            val isCreate =
              """(?is)\A\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\b""".r
                .findFirstIn(sql).isDefined
            (if (isCreate) SqlRewrites.extractGeneratedColumns(sql)
             else None) match {
              case Some((clean, table, gcols)) =>
                // generated-column DDL: create from the CLEANED
                // statement (typed generated columns became plain
                // columns in place; untyped ones were removed), then
                // record + weave the untyped ones back at their
                // positions with inferred types via a rebuild of the
                // still-empty table
                SqlRewrites.recordPrimaryKey(clean)
                val out = spark.sql(Macros.expand(clean))
                TableConstraints.recordGenerated(table, gcols)
                val untyped = gcols.filter(_.declaredType.isEmpty)
                if (untyped.nonEmpty) rebuildTable(spark, table) { df =>
                  import org.apache.spark.sql.functions.expr
                  val byPos = untyped.map(g => g.pos -> g).toMap
                  var ni = 0
                  val cols = (0 until df.columns.length + untyped.size)
                    .map { i =>
                      byPos.get(i) match {
                        case Some(g) => expr(g.expr).as(g.name)
                        case None =>
                          val c = df.col(s"`${df.columns(ni)}`"); ni += 1; c
                      }
                    }
                  df.select(cols: _*)
                }
                out
              case None =>
                if (isCreate) SqlRewrites.recordPrimaryKey(sql)
                // CTAS Count pre-check: IF NOT EXISTS over a table
                // that already exists SKIPS creation, and DuckDB
                // (verified on 1.0) answers zero rows there — not the
                // pre-existing table's count. Existence must be
                // probed BEFORE execution.
                val ctas = if (isCreate) CtasRe.findFirstMatchIn(sql)
                           else None
                val ctasSkipped = ctas.exists { m =>
                  m.group(1) != null &&
                    (try spark.catalog.tableExists(
                      m.group(2).replace("\"", "").replace("`", ""))
                     catch { case _: Exception => false })
                }
                val out = spark.sql(Macros.expand(sql))
                // plain INSERT answers DuckDB's Count column — the
                // row count is the executed write command's metric
                // (no extra job). WITH-led inserts (`WITH cte …
                // INSERT INTO …`) and CTAS (DuckDB: `CREATE TABLE …
                // AS SELECT` answers Count too) qualify;
                // insertedRowCount reads the executed plan, so a
                // statement without a write command (plain CREATE
                // TABLE, a WITH…SELECT that merely mentions "insert")
                // safely yields None
                if ("""(?is)\A\s*(INSERT|WITH)\b""".r.findFirstIn(sql)
                      .isDefined && sql.toLowerCase.contains("insert"))
                  insertedRowCount(out)
                    .map(dmlCount(spark, _)).getOrElse(out)
                else if (isCreate) {
                  // CTAS answers Count too (DuckDB) — the command runs
                  // as ExecutedCommandExec with NO metrics, so count
                  // the created table instead: parquet count() reads
                  // row-group footers only, no data pass. A skipped
                  // IF-NOT-EXISTS create answers ZERO rows under the
                  // same Count header (probed on 1.0).
                  ctas match {
                    case Some(m) if !ctasSkipped =>
                      val tbl = m.group(2).replace("\"", "`")
                      dmlCount(spark, spark.table(tbl).count())
                    case Some(_) =>
                      spark.sql(
                        "SELECT CAST(0 AS BIGINT) AS Count WHERE false")
                    case None => out
                  }
                } else out
            }
        }
        }
        }
    }
  }

  private def dmlCount(spark: SparkSession, n: Long) =
    spark.sql(s"SELECT CAST($n AS BIGINT) AS Count")

  /** numOutputRows of an already-executed native INSERT command. */
  /** `CREATE TABLE name AS …` — group 1 = the IF NOT EXISTS clause
    * (null when absent; a skipped create answers zero rows, not
    * Count), group 2 = the created table's name (quoted segments with
    * spaces/dots allowed) so the Count answer can read it back
    * (metadata-only for parquet). An optional parenthesized column
    * list between name and AS is accepted. */
  private val CtasRe =
    ("""(?is)\A\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?""" +
      """TABLE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """((?:"[^"]+"|`[^`]+`|\w+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|\w+))*)""" +
      """\s*(?:\([^()]*\)\s*)?AS\b""").r

  private def insertedRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan.collectFirst {
          case p if p.getClass.getSimpleName == "DataWritingCommandExec" &&
              p.metrics.contains("numOutputRows") =>
            p.metrics("numOutputRows").value
        }
      case _ => None
    }

  /** DuckDB column-DDL forms (RENAME/DROP COLUMN, ALTER ... TYPE).
    * `ALTER TABLE t RENAME TO x` deliberately fails the rename-COLUMN
    * pattern (no second TO) and reaches Spark's native handler.
    */
  private val AlterRenameColRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+(?:COLUMN\s+)?(\w+)\s+TO\s+(\w+)\s*;?\s*\z""".r
  private val AlterDropColRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?(?:(IF\s+EXISTS)\s+)?(\w+)\s*;?\s*\z""".r
  private val AlterColTypeRe =
    """(?is)\A\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+([\w()<>, ]+?)(?:\s+USING\s+(.+?))?\s*;?\s*\z""".r

  /** Copy-on-write table rebuild under the table's writer lock —
    * snapshot BEFORE dropping, then re-save with the new schema (the
    * Dml overwrite pattern; v1 parquet tables reject in-place column
    * DDL).
    */
  private def rebuildTable(spark: SparkSession, table: String)(
      transform: DataFrame => DataFrame): Unit =
    server.Dml.lockFor(table).synchronized {
      val df = transform(spark.table(table)).localCheckpoint()
      spark.sql(s"DROP TABLE $table")
      df.write.saveAsTable(table)
    }

  private val DropTableNameRe =
    """(?is)\A\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w."]+)\s*;?\s*\z""".r

  /** DuckDB-surface `EXPLAIN [ANALYZE] stmt` (delegated via cpp:52) —
    * returned as a result SET in DuckDB's two-column shape
    * (explain_key, explain_value) so psql users and ORMs that probe
    * EXPLAIN get rows, not a parse error. The plan text is Spark's
    * formatted plan (documented divergence — the engines' physical
    * operators differ, so the tree cannot match). Spark's own
    * EXPLAIN EXTENDED/CODEGEN/COST/FORMATTED spellings pass through
    * untouched. pg-style option lists `EXPLAIN (ANALYZE, ...)` are
    * accepted; ANALYZE executes the statement and reports the final
    * (AQE-replanned) plan.
    */
  private val ExplainRe =
    ("""(?is)\A\s*EXPLAIN(?:\s*\(([^)]*)\))?\s+""" +
      """(?!EXTENDED\b|CODEGEN\b|COST\b|FORMATTED\b)""" +
      """(?:(ANALYZE)\s+)?(.+)\z""").r

  private def explainStmt(spark: SparkSession, analyze: Boolean,
      inner: String): DataFrame = {
    import spark.implicits._
    val head = inner.trim.takeWhile(!_.isWhitespace).toUpperCase
    if (!Set("SELECT", "WITH", "VALUES", "TABLE", "FROM", "PIVOT",
        "UNPIVOT", "SUMMARIZE").contains(head))
      throw new IllegalArgumentException(
        s"EXPLAIN of a $head statement is not supported — the DML/DDL " +
          "paths here are imperative (EXPLAIN would execute them); " +
          "EXPLAIN the equivalent SELECT instead")
    val df = query(spark, inner)
    // planned as the wire plans the statement itself
    val plan = StreamedOrderBy.streaming {
      if (analyze) {
        // execute fully through THIS QueryExecution (no driver
        // materialization) so the reported tree is the final
        // AQE-replanned one, not a fresh unexecuted copy
        df.queryExecution.toRdd.foreach(_ => ())
        "analyzed_plan" -> df.queryExecution.executedPlan.toString
      } else
        "physical_plan" -> df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    }
    Seq(plan).toDF("explain_key", "explain_value")
  }

  private val SummarizeRe = "(?is)\\A\\s*SUMMARIZE\\s+(.+?);?\\s*\\z".r

  /** DuckDB's PIVOT/UNPIVOT statements compose as FROM-position
    * subqueries — `SELECT … FROM (UNPIVOT t ON …) u` (delegated
    * surface via cpp:52). Spark's parser has no statement-in-FROM
    * form, so each parenthesized `(PIVOT …)`/`(UNPIVOT …)` group is
    * evaluated through query() (dynamic column discovery included)
    * and registered as a temp view whose name replaces the group.
    * Quote-aware paren matching; nested groups resolve through the
    * recursive query() call. */
  private val pivotSubCounter = new java.util.concurrent.atomic.AtomicLong()
  private def hoistPivotSubqueries(
      spark: SparkSession, sql: String): String = {
    if (!"(?is)\\(\\s*((UN)?PIVOT|SUMMARIZE|DESC(RIBE)?|SHOW)\\b".r
        .findFirstIn(sql).isDefined) return sql
    val n = sql.length
    var i = 0; var inStr = false
    while (i < n) {
      val c = sql.charAt(i)
      if (inStr) { if (c == '\'') inStr = false; i += 1 }
      else if (c == '\'') { inStr = true; i += 1 }
      else if (c == '(') {
        val after = sql.substring(i + 1).dropWhile(_.isWhitespace)
        val kw = after.takeWhile(_.isLetter).toUpperCase
        // SUMMARIZE/DESCRIBE/SHOW only hoist in FROM position (the
        // word before the paren is FROM/JOIN/,) — `(desc_col)` in an
        // expression must NOT read as a DESCRIBE statement
        lazy val fromPos = {
          val before = sql.substring(0, i).trim
          before.endsWith(",") ||
            """(?is).*\b(FROM|JOIN)\z""".r.matches(before)
        }
        if (kw == "PIVOT" || kw == "UNPIVOT" ||
            (Set("SUMMARIZE", "DESCRIBE", "DESC", "SHOW").contains(kw) &&
              fromPos)) {
          // match the closing paren, quote-aware
          var depth = 1; var j = i + 1; var s2 = false
          while (j < n && depth > 0) {
            val cj = sql.charAt(j)
            if (s2) { if (cj == '\'') s2 = false }
            else if (cj == '\'') s2 = true
            else if (cj == '(') depth += 1
            else if (cj == ')') depth -= 1
            j += 1
          }
          require(depth == 0, s"unbalanced parentheses around $kw subquery")
          val inner = sql.substring(i + 1, j - 1)
          val name = s"graft_pivot_sub_${pivotSubCounter.incrementAndGet()}"
          query(spark, inner).createOrReplaceTempView(name)
          return hoistPivotSubqueries(spark,
            sql.substring(0, i) + name + sql.substring(j))
        } else i += 1
      } else i += 1
    }
    sql
  }

  /** DuckDB's DESCRIBE result shape — (column_name, column_type in
    * DuckDB spelling, null='YES', key/default/extra NULL) — for both
    * `DESCRIBE t` and `DESCRIBE SELECT …` (DESC alias included). */
  private val DescribeRe =
    "(?is)\\A\\s*DESC(?:RIBE)?\\s+(?:TABLE\\s+)?(.+?);?\\s*\\z".r

  // ---- COMMENT ON / SHOW statements (DuckDB surface, probed
  // 2026-08-15; delegated via cpp:52). DATABASE comments are "not
  // implemented" in DuckDB itself — reproduced loudly in query().
  private val CommentOnRe =
    ("(?is)\\A\\s*COMMENT\\s+ON\\s+" +
      "(TABLE|VIEW|COLUMN|SEQUENCE|INDEX|MACRO\\s+TABLE|MACRO|TYPE|DATABASE)" +
      "\\s+([\\w.\"]+)\\s+IS\\s+(NULL|'(?:[^']|'')*')\\s*;?\\s*\\z").r
  private val ShowTablesRe = "(?is)\\A\\s*SHOW\\s+TABLES\\s*;?\\s*\\z".r
  private val ShowAllTablesRe =
    "(?is)\\A\\s*SHOW\\s+ALL\\s+TABLES\\s*;?\\s*\\z".r
  private val ShowDatabasesRe =
    "(?is)\\A\\s*SHOW\\s+DATABASES\\s*;?\\s*\\z".r
  // every other SHOW target describes like DESCRIBE (DuckDB: `SHOW t`
  // is a table describe; `SHOW search_path` is a Catalog Error — the
  // same "table not found" our describe raises; pg session variables
  // are answered at the wire seam before reaching here)
  private val ShowTargetRe = "(?is)\\A\\s*SHOW\\s+(.+?);?\\s*\\z".r

  /** DuckDB's `SHOW TABLES`: one `name` column, tables AND views of
    * the current schema, sorted. */
  private def showTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().map(_.name).distinct.sorted
      .toSeq.toDF("name")
  }

  /** DuckDB's `SHOW ALL TABLES`: (database, schema, name,
    * column_names LIST, column_types LIST in DuckDB spellings,
    * temporary), sorted by name. */
  private def showAllTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().toSeq.sortBy(_.name).map { t =>
      val fields = scala.util.Try(spark.table(t.name).schema.fields)
        .getOrElse(Array.empty[org.apache.spark.sql.types.StructField])
      ("memory", "main", t.name, fields.map(_.name).toSeq,
        fields.map(f => TypeofExpr.duckName(f.dataType)).toSeq,
        t.tableType == "TEMPORARY")
    }.toDF("database", "schema", "name", "column_names", "column_types",
      "temporary")
  }

  private def describeStmt(spark: SparkSession, target: String): DataFrame = {
    import spark.implicits._
    val head = target.trim.takeWhile(!_.isWhitespace).toUpperCase
    val schema =
      if (Set("SELECT", "WITH", "VALUES", "FROM", "TABLE", "PIVOT",
          "UNPIVOT").contains(head)) query(spark, target).schema
      else spark.table(target.trim).schema
    schema.fields.toSeq
      // DuckDB's "null" column reflects DECLARED constraints — YES
      // unless NOT NULL was declared, which parquet-backed tables do
      // not track; a literal's Spark non-nullability must not leak
      .map(f => (f.name, TypeofExpr.duckName(f.dataType), "YES",
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String]))
      .toDF("column_name", "column_type", "null", "key", "default", "extra")
  }

  // ---- WITH RECURSIVE … UNION (distinct) — Spark 4.1's native
  // recursion only takes UNION ALL; DuckDB's UNION form dedups per
  // round and terminates on cycles. Semi-naive fixpoint: each round
  // runs the step over the previous frontier only, keeps rows not
  // already accumulated (EXCEPT), and stops when a round adds none.
  private val RecursiveUnionRe =
    """(?is)\A\s*WITH\s+RECURSIVE\s+(\w+)\s*(?:\(([^)]*)\))?\s*AS\s*\(""".r

  private def recursiveUnionDistinct(
      spark: SparkSession, sql: String): Option[DataFrame] = {
    val m = RecursiveUnionRe.findFirstMatchIn(sql).getOrElse(return None)
    val name = m.group(1)
    val cols = Option(m.group(2))
    // match the AS(...) span
    var depth = 1; var i = m.end
    while (i < sql.length && depth > 0) {
      val c = sql.charAt(i)
      if (c == '(') depth += 1 else if (c == ')') depth -= 1
      i += 1
    }
    if (depth != 0) return None
    val body = sql.substring(m.end, i - 1)
    val outer = sql.substring(i).trim
    if (!outer.toUpperCase.startsWith("SELECT")) return None
    // split at the FIRST top-level UNION that is NOT `UNION ALL`
    val unionRe = """(?i)\bUNION\b(\s+ALL\b)?""".r
    var d = 0; var inS = false
    val split = unionRe.findAllMatchIn(body).find { um =>
      val pre = body.substring(0, um.start)
      d = pre.count(_ == '(') - pre.count(_ == ')')
      inS = pre.count(_ == '\'') % 2 == 1
      d == 0 && !inS && um.group(1) == null
    }.getOrElse(return None)
    val init = body.substring(0, split.start)
    val step = body.substring(split.end)
    val acc0raw = query(spark, init).distinct()
    val acc0 = (cols match {
      case Some(cs) => acc0raw.toDF(cs.split(",").map(_.trim): _*)
      case None => acc0raw
    }).localCheckpoint(eager = true)
    var acc = acc0
    var frontier = acc0
    var it = 0
    while (!frontier.isEmpty && it < 1000) {
      frontier.createOrReplaceTempView(name)
      // each round's result re-takes the CTE's column names (the
      // step's own output names — expression texts — must not leak
      // into the next round's view)
      val next = query(spark, step).toDF(acc.columns: _*)
        .distinct().except(acc)
        .localCheckpoint(eager = true)
      if (!next.isEmpty)
        acc = acc.union(next).localCheckpoint(eager = true)
      frontier = next
      it += 1
    }
    acc.createOrReplaceTempView(name)
    // materialize the OUTER result before the temp view goes away
    val res = query(spark, outer).localCheckpoint(eager = true)
    spark.catalog.dropTempView(name)
    Some(res)
  }

  // ---- RETURNING (DuckDB surface on INSERT/UPDATE/DELETE): the
  // clause is split off, the DML runs through the normal paths, and
  // the returned rows are computed from a pre-DML snapshot — for
  // DELETE the doomed rows, for UPDATE the matched rows with the SET
  // expressions applied (DuckDB returns NEW values), for INSERT the
  // once-evaluated source widened to the full row (declared column
  // defaults fill the gaps).
  private[graft] def splitReturning(sql: String): Option[(String, String)] = {
    if (!sql.toLowerCase.contains("returning")) return None
    val re = """(?i)\bRETURNING\b""".r
    re.findAllMatchIn(sql).toSeq.lastOption.flatMap { m =>
      val pre = sql.substring(0, m.start)
      val depth = pre.count(_ == '(') - pre.count(_ == ')')
      val inStr = pre.count(_ == '\'') % 2 == 1
      if (depth != 0 || inStr) None
      else Some((pre.trim,
        sql.substring(m.end).trim.stripSuffix(";").trim))
    }
  }

  private val RetDeleteRe =
    """(?is)\A\s*DELETE\s+FROM\s+([\w."]+)(?:\s+WHERE\s+(.+?))?\s*\z""".r
  private val RetUpdateRe =
    """(?is)\A\s*UPDATE\s+([\w."]+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*\z""".r
  private val RetInsertRe =
    ("""(?is)\A\s*INSERT\s+INTO\s+([\w."]+)\s*""" +
      """(?:\(([^)]*)\)\s*)?(BY\s+NAME\s+)?(.+)\z""").r
  // the flat-join DML shapes (same grammar as server.Dml's arms)
  private val RetDeleteUsingRe =
    ("""(?is)\A\s*DELETE\s+FROM\s+([\w.]+)\s+USING\s+""" +
      """([\w.]+(?:\s+\w+)?)\s+WHERE\s+(.+?)\s*\z""").r
  private val RetUpdateFromRe =
    ("""(?is)\A\s*UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s+FROM\s+""" +
      """([\w.]+(?:\s+\w+)?)\s+WHERE\s+(.+?)\s*\z""").r

  private val DmlTargetRe =
    """(?is)\A\s*(?:INSERT\s+(?:OR\s+\w+\s+)?INTO|UPDATE|DELETE\s+FROM)\s+([\w."]+)""".r

  /** The row type a DML … RETURNING statement answers, found without
    * running it: the RETURNING list over the target table (wire
    * Describe). */
  def returningShape(spark: SparkSession, sql: String)
      : org.apache.spark.sql.types.StructType = {
    val (body, ret) = splitReturning(sql).get
    val table = DmlTargetRe.findFirstMatchIn(body).map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(s"no target table in: $body"))
    query(spark, s"SELECT $ret FROM $table WHERE false").schema
  }

  private def returningStmt(spark: SparkSession, sql: String): DataFrame = {
    val (body, ret) = splitReturning(sql).get
    def predOf(w: String): String = Option(w)
      .map(x => s"coalesce(CAST(($x) AS BOOLEAN), false)").getOrElse("true")
    def serve(rows: DataFrame): DataFrame = {
      rows.createOrReplaceTempView("__graft_ret")
      val out = query(spark, s"SELECT $ret FROM __graft_ret")
        .localCheckpoint(eager = true)
      spark.catalog.dropTempView("__graft_ret")
      out
    }
    body match {
      case RetDeleteRe(t, w) =>
        val doomed = spark.sql(s"SELECT * FROM $t WHERE ${predOf(w)}")
          .localCheckpoint(eager = true)
        query(spark, body)
        serve(doomed)
      case RetUpdateRe(t, setList, w)
          if !server.Dml.hasTopLevelKeyword(body, "from") =>
        val schema = spark.table(t).schema
        val sets = server.Dml.resolveDefaultSets(schema,
          server.Dml.splitAssignments(setList))
        val proj = schema.fields.map { f =>
          sets.get(f.name.toLowerCase) match {
            case Some(e) =>
              s"CAST(($e) AS ${f.dataType.sql}) AS `${f.name}`"
            case None => s"`${f.name}`"
          }
        }.mkString(", ")
        // RETURNING rows show the POST-update generated values
        val updated = TableConstraints.regenerate(spark, t,
          spark.sql(s"SELECT $proj FROM $t WHERE ${predOf(w)}"))
          .localCheckpoint(eager = true)
        query(spark, body)
        serve(updated)
      // DELETE … USING … RETURNING: the deleted TARGET rows (probed —
      // the USING table is not in RETURNING scope), each once even
      // when several source rows matched it.
      case RetDeleteUsingRe(t, using, w) =>
        val tAlias = t.split('.').last
        spark.sql(s"SELECT *, monotonically_increasing_id() AS __rid " +
          s"FROM $t").localCheckpoint()
          .createOrReplaceTempView("__ret_del_t")
        val doomed = spark.sql(
          s"SELECT DISTINCT $tAlias.* FROM __ret_del_t $tAlias " +
            s"JOIN $using ON coalesce(CAST(($w) AS BOOLEAN), false)")
          .drop("__rid").localCheckpoint(eager = true)
        query(spark, body)
        spark.catalog.dropTempView("__ret_del_t")
        serve(doomed)
      // UPDATE … SET … FROM … RETURNING: NEW values of the matched
      // target rows (DuckDB returns post-update values; the source
      // table is not in RETURNING scope — probed). The DML arm itself
      // re-checks ambiguity and constraints; a throw there leaves
      // nothing to serve.
      case RetUpdateFromRe(t, setList, using, w) =>
        val schema = spark.table(t).schema
        val sets = server.Dml.resolveDefaultSets(schema,
          server.Dml.splitAssignments(setList))
        val tAlias = t.split('.').last
        spark.sql(s"SELECT *, monotonically_increasing_id() AS __rid " +
          s"FROM $t").localCheckpoint()
          .createOrReplaceTempView("__ret_upd_t")
        val proj = schema.fields.map { f =>
          sets.get(f.name.toLowerCase) match {
            case Some(e) =>
              s"CAST(($e) AS ${f.dataType.sql}) AS `${f.name}`"
            case None => s"$tAlias.`${f.name}` AS `${f.name}`"
          }
        }.mkString(", ")
        val updated = TableConstraints.regenerate(spark, t,
          spark.sql(s"SELECT $proj FROM __ret_upd_t $tAlias " +
            s"JOIN $using ON coalesce(CAST(($w) AS BOOLEAN), false)"))
          .localCheckpoint(eager = true)
        query(spark, body)
        spark.catalog.dropTempView("__ret_upd_t")
        serve(updated)
      case RetInsertRe(t, colsOrNull, byNameOrNull, src)
          if Set("SELECT", "VALUES", "WITH", "FROM", "TABLE", "(")
            .contains(src.trim.takeWhile(c =>
              !c.isWhitespace && c != '(').toUpperCase match {
              case "" => "("
              case h => h
            }) =>
        val schema = spark.table(t).schema
        val srcDf = query(spark, src).localCheckpoint(eager = true)
        srcDf.createOrReplaceTempView("__graft_ret_src")
        val colsPart = Option(colsOrNull).map(c => s"($c) ").getOrElse("")
        val byPart = Option(byNameOrNull).map(_ => "BY NAME ").getOrElse("")
        query(spark,
          s"INSERT INTO $t $colsPart$byPart SELECT * FROM __graft_ret_src")
        // widen the evaluated source to the full target row
        val provided: Seq[(String, String)] =
          if (byNameOrNull != null) srcDf.columns.map(c => (c.toLowerCase, s"`$c`")).toSeq
          else Option(colsOrNull) match {
            case Some(cl) =>
              cl.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
                .zip(srcDf.columns).map { case (tc, sc) =>
                  (tc.toLowerCase, s"`$sc`")
                }.toSeq
            case None =>
              // positional targets are the NON-generated columns
              val genNames = TableConstraints.generatedOf(t)
                .map(_.name.toLowerCase).toSet
              schema.fieldNames.filterNot(f => genNames(f.toLowerCase))
                .zip(srcDf.columns).map { case (tc, sc) =>
                  (tc.toLowerCase, s"`$sc`")
                }.toSeq
          }
        val pmap = provided.toMap
        val genSet = TableConstraints.generatedOf(t)
          .map(_.name.toLowerCase).toSet
        val fullProj = schema.fields
          .filterNot(f => genSet(f.name.toLowerCase)).map { f =>
          pmap.get(f.name.toLowerCase) match {
            case Some(srcCol) =>
              s"CAST($srcCol AS ${f.dataType.sql}) AS `${f.name}`"
            case None =>
              val dflt =
                if (f.metadata.contains("CURRENT_DEFAULT"))
                  f.metadata.getString("CURRENT_DEFAULT")
                else "NULL"
              s"CAST(($dflt) AS ${f.dataType.sql}) AS `${f.name}`"
          }
        }.mkString(", ")
        val rows = TableConstraints.withGenerated(spark, t,
          spark.sql(s"SELECT $fullProj FROM __graft_ret_src"))
          .localCheckpoint(eager = true)
        spark.catalog.dropTempView("__graft_ret_src")
        serve(rows)
      case _ => throw new IllegalArgumentException(
        "RETURNING is supported on DELETE [USING] [WHERE], UPDATE ... " +
          "SET [FROM] [WHERE], and INSERT INTO [cols|BY NAME] " +
          "VALUES/SELECT — rewrite other DML shapes without RETURNING")
    }
  }

  private val TruncateRe =
    """(?is)\A\s*TRUNCATE\s+(?:TABLE\s+)?([\w."]+)\s*;?\s*\z""".r
  private val InsertDefaultsRe =
    """(?is)\A\s*INSERT\s+INTO\s+([\w."]+)\s+DEFAULT\s+VALUES\s*;?\s*\z""".r
  // ---- SET VARIABLE / getvariable (DuckDB v1.1 surface, the version
  // the reference bundles): per-session scalar variables; the value
  // expression is evaluated ONCE at SET time; getvariable of an unset
  // name is NULL
  private val SetVariableRe =
    """(?is)\A\s*SET\s+VARIABLE\s+(\w+)\s*=\s*(.+?);?\s*\z""".r
  private val ResetVariableRe =
    """(?is)\A\s*RESET\s+VARIABLE\s+(\w+)\s*;?\s*\z""".r
  /** resolution-time lookup for the getvariable registry alias */
  def variableLiteral(spark: SparkSession, name: String)
      : org.apache.spark.sql.catalyst.expressions.Literal =
    Option(state(spark).vars.get(name.toLowerCase)) match {
      case Some((v, dt)) =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)
      case None => org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.NullType)
    }

  // ---- SQL-level prepared statements (DuckDB surface: PREPARE name
  // AS …, EXECUTE name(args), DEALLOCATE [PREPARE] name|ALL —
  // delegated via cpp:52), per session like DuckDB's per-connection
  // statements. EXECUTE splices each argument into the $N / ?
  // placeholders as an expression, which matches DuckDB's re-bind
  // semantics for literal arguments.
  private val PrepareRe =
    """(?is)\A\s*PREPARE\s+([A-Za-z_]\w*)\s+AS\s+(.+?);?\s*\z""".r
  private val ExecuteStmtRe =
    """(?is)\A\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*\z""".r
  private val DeallocateRe =
    """(?is)\A\s*DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_]\w*)\s*;?\s*\z""".r

  /** What one session owns beyond Spark's own state: its prepared
    * statements — SQL-level PREPARE and the wire's Parse share one
    * namespace, as in pg — and its SET VARIABLE values. */
  final class SessionState {
    val prepared = new java.util.concurrent.ConcurrentHashMap[String, server.Prepared]()
    val vars = new java.util.concurrent.ConcurrentHashMap[String,
      (Any, org.apache.spark.sql.types.DataType)]()
  }
  /** weakly keyed, so each state goes away with its session */
  private val states = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SessionState]())
  def state(spark: SparkSession): SessionState =
    states.computeIfAbsent(spark, _ => new SessionState)
  /** drop a session's state now (a closed wire connection) */
  def endSession(spark: SparkSession): Unit = states.remove(spark)
  private[graft] def sessionStates: Int = states.size

  /** The statement `EXECUTE name(args)` stands for: the session's
    * prepared `name` with the arguments spliced into its placeholders.
    * None when `sql` is not an EXECUTE of a prepared statement. */
  def executeText(spark: SparkSession, sql: String): Option[String] =
    sql match {
      case ExecuteStmtRe(name, argsOrNull)
          if !name.equalsIgnoreCase("immediate") =>
        val p = Option(state(spark).prepared.get(name.toLowerCase)).getOrElse(
          throw new server.PgWire.UndefinedName("26000",
            s"""Prepared statement "$name" does not exist"""))
        Some(server.BindParams.splice(p.sql,
          server.BindParams.splitArgs(argsOrNull)))
      case _ => None
    }
  private val CreateMacroRe =
    // the param list matches lazily up to the first ")  AS" so default
    // values may themselves contain calls: m(a, b := least(1, 2)) AS …
    // Known limit: a STRING default containing the text ") AS " would
    // split early — quote-aware splitting needs a real scanner, and no
    // realistic macro default embeds that sequence.
    ("(?is)\\A\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:FUNCTION|MACRO)\\s+" +
      "([\\w\"]+)\\s*\\((.*?)\\)\\s*AS\\s+(TABLE\\s+)?(.+?);?\\s*\\z").r
  private val DropMacroRe =
    "(?is)\\A\\s*DROP\\s+(?:FUNCTION|MACRO)\\s+(?:TABLE\\s+)?(IF\\s+EXISTS\\s+)?([\\w\"]+)\\s*;?\\s*\\z".r
  private val CreateEnumRe =
    ("(?is)\\A\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TYPE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w\"]+)\\s+AS\\s+ENUM\\s*\\((.*?)\\)\\s*;?\\s*\\z").r
  private val CreateUnionRe =
    ("(?is)\\A\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?TYPE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w\"]+)\\s+AS\\s+UNION\\s*\\((.*)\\)\\s*;?\\s*\\z").r
  private val DropTypeRe =
    "(?is)\\A\\s*DROP\\s+TYPE\\s+(IF\\s+EXISTS\\s+)?([\\w\"]+)\\s*;?\\s*\\z".r
  private val EnumValueRe = "'((?:[^']|'')*)'".r
  private val CreateSequenceRe =
    ("(?is)\\A\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?SEQUENCE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w\"]+)((?:\\s+\\w+.*?)?)\\s*;?\\s*\\z").r
  private val SeqStartRe = "(?i)START\\s+(?:WITH\\s+)?(-?\\d+)".r
  private val SeqIncRe = "(?i)INCREMENT\\s+(?:BY\\s+)?(-?\\d+)".r
  private val DropSequenceRe =
    "(?is)\\A\\s*DROP\\s+SEQUENCE\\s+(IF\\s+EXISTS\\s+)?([\\w\"]+)\\s*;?\\s*\\z".r
  private val PragmaRe =
    "(?is)\\A\\s*(?:PRAGMA|CALL)\\s+(\\w+(?:\\s*\\([^)]*\\)|\\s*=\\s*[^;]+?)?)\\s*;?\\s*\\z".r
  private val ExportDbRe =
    ("(?is)\\A\\s*EXPORT\\s+DATABASE\\s+'([^']+)'" +
      "(?:\\s*\\(\\s*FORMAT\\s+'?(\\w+)'?\\s*\\))?\\s*;?\\s*\\z").r
  private val ImportDbRe =
    "(?is)\\A\\s*IMPORT\\s+DATABASE\\s+'([^']+)'\\s*;?\\s*\\z".r
  private val MaintenanceRe =
    "(?is)\\A\\s*(CHECKPOINT|VACUUM(?:\\s+ANALYZE)?|ANALYZE)\\s*;?\\s*\\z".r
  private val InstallLoadRe =
    "(?is)\\A\\s*(?:FORCE\\s+)?(INSTALL|LOAD)\\s+'?([\\w./-]+)'?\\s*;?\\s*\\z".r
  private val CreateIndexRe =
    ("(?is)\\A\\s*CREATE\\s+(UNIQUE\\s+)?INDEX\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?" +
      "(\\w+\\s+ON\\s+[\\w.]+\\s*\\([^)]*\\))\\s*;?\\s*\\z").r
  private val DropIndexRe =
    "(?is)\\A\\s*DROP\\s+INDEX\\s+(?:IF\\s+EXISTS\\s+)?(\\w+)\\s*;?\\s*\\z".r
  private val PivotStmtRe =
    ("(?is)\\A\\s*PIVOT\\s+(\\w+|\\(.+?\\))\\s+ON\\s+(\\w+)\\s+" +
      "USING\\s+(.+?)(?:\\s+GROUP\\s+BY\\s+(.+?))?\\s*;?\\s*\\z").r
  private val UnpivotStmtRe =
    ("(?is)\\A\\s*UNPIVOT\\s+(\\w+|\\(.+?\\))\\s+ON\\s+(.+?)\\s+" +
      "INTO\\s+NAME\\s+(\\w+)\\s+VALUE\\s+(\\w+)\\s*;?\\s*\\z").r

  /** resolve a statement target: bare table/view name or (subquery). */
  private def target(spark: SparkSession, t: String): DataFrame = {
    val s = t.trim
    if (s.startsWith("(")) query(spark, s.stripPrefix("(").stripSuffix(")"))
    else spark.table(s)
  }

  /** DuckDB's dynamic `PIVOT <t> ON <col> USING <agg> [GROUP BY ...]`
    * statement — unlike the SQL-standard `PIVOT (... FOR ... IN (...))`
    * subclause (already supported natively), the dynamic form
    * DISCOVERS the distinct pivot values. Spark's `pivot(col)` does
    * exactly that discovery (one distinct driver-side collect, capped
    * by spark.sql.pivotMaxValues — the same enum-materialization
    * DuckDB performs when it binds the statement). Without GROUP BY,
    * DuckDB groups on every remaining column; we mirror that: all
    * columns except the pivot column and columns referenced by the
    * aggregate.
    */
  def pivotStmt(spark: SparkSession, tgt: String, onCol: String,
      using: String, groupBy: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val base = target(spark, tgt)
    // implicit-group derivation: exclude the pivot column and columns
    // the aggregate READS — identified as bare identifiers in the
    // USING text that are NOT function calls (an identifier followed
    // by '(' is a function name, so a column that happens to share a
    // function's name stays in the grouping keys)
    val usedIdents = "(?i)\\b([a-z_][a-z0-9_]*)\\b(?!\\s*\\()".r
      .findAllMatchIn(using.toLowerCase).map(_.group(1)).toSet
    val usingLc = using.toLowerCase
    val groupCols = groupBy match {
      case Some(g) => SqlRewrites.splitTop(g).map(_.trim)
      case None => base.columns.toSeq.filterNot(c =>
        c.equalsIgnoreCase(onCol) || usedIdents.contains(c.toLowerCase) ||
          // non-identifier column names (quoted, with spaces) can't be
          // found by the identifier lexer — fall back to a contains
          // check for those only
          (!c.matches("[A-Za-z_][A-Za-z0-9_]*") &&
            usingLc.contains(c.toLowerCase)))
    }
    base.groupBy(groupCols.map(col): _*).pivot(onCol).agg(expr(using))
  }

  /** DuckDB's dynamic `UNPIVOT <t> ON c1, c2 … INTO NAME n VALUE v`
    * statement → Spark's native unpivot (melt). Both engines coerce
    * the stacked values to their least common type (probed: INT+BIGINT
    * → BIGINT, FLOAT+INT → FLOAT, DECIMAL(5,2)+INT → DECIMAL(12,2) —
    * Spark's unpivot coercion lands on the same types) and both reject
    * uncastable mixtures (INT+VARCHAR is a binder error in DuckDB and
    * an UNPIVOT_VALUE_DATA_TYPE_MISMATCH here — rejection parity).
    */
  def unpivotStmt(spark: SparkSession, tgt: String, onCols: String,
      nameCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val base = target(spark, tgt)
    val vals = SqlRewrites.splitTop(onCols).map(_.trim)
    // two probed MaxLogicalType corners where Spark's own coercion
    // lands elsewhere: FLOAT beats ints/decimals in DuckDB (only
    // DOUBLE beats FLOAT — Spark widens FLOAT+INT to DOUBLE), and
    // BOOLEAN casts across to the numeric side (Spark refuses the
    // mix). Pre-cast those; everything else coincides.
    val onTypes = base.schema.fields
      .filter(f => vals.exists(_.equalsIgnoreCase(f.name)))
      .map(_.dataType).toSeq
    def numericish(dt: DataType) =
      dt.isInstanceOf[NumericType] || dt == BooleanType
    val prepared =
      if (onTypes.contains(FloatType) && !onTypes.contains(DoubleType) &&
          onTypes.forall(numericish))
        vals.foldLeft(base)((df, v) => df.withColumn(v, col(v).cast("float")))
      else if (onTypes.contains(BooleanType) && onTypes.forall(numericish))
        base.schema.fields.filter(f => f.dataType == BooleanType &&
            vals.exists(_.equalsIgnoreCase(f.name)))
          .foldLeft(base)((df, f) =>
            df.withColumn(f.name, col(f.name).cast("int")))
      else base
    val ids = prepared.columns.toSeq
      .filterNot(c => vals.exists(_.equalsIgnoreCase(c)))
    prepared.unpivot(ids.map(col).toArray, vals.map(col).toArray,
      nameCol, valueCol)
      // DuckDB's UNPIVOT excludes NULL values by default (Spark's
      // unpivot is the INCLUDE NULLS form)
      .filter(col(valueCol).isNotNull)
  }
  private val AttachRe =
    "(?is)\\A\\s*ATTACH\\s+(?:DATABASE\\s+)?'([^']*)'(?:\\s+AS\\s+(\\w+))?(?:\\s*\\([^)]*\\))?\\s*;?\\s*\\z".r
  private val DetachRe =
    "(?is)\\A\\s*DETACH\\s+(?:DATABASE\\s+)?(\\w+)\\s*;?\\s*\\z".r
  // `\s*` before the body: `CREATE OR REPLACE TABLE t(a INT)` is valid
  // DuckDB with no space between the name and the column list
  private val CreateOrReplaceRe =
    "(?is)\\A\\s*CREATE\\s+OR\\s+REPLACE\\s+TABLE\\s+([\\w.]+)\\s*(.+?);?\\s*\\z".r

  /** DuckDB `PRAGMA name` / `PRAGMA name('arg')` / `CALL pragma_name(...)`
    * (delegated surface — psql and the DuckDB shell both issue these;
    * forwarded verbatim at cpp:52). The introspection pragmas every
    * client library touches: version, show_tables, table_info,
    * database_list, plus a graft-native `sequences` listing. Catalog
    * listings materialize driver-side — they are metadata-sized by
    * construction (same posture as PgCatalogShim).
    */
  /** DuckDB setting pragmas a client may assign (`PRAGMA threads=4`,
    * `PRAGMA memory_limit='2GB'`) or invoke no-arg. Resource knobs are
    * cluster-managed in Spark, so they are accepted as no-ops — the
    * same posture as the SET surface; anything else errors loudly
    * rather than silently reading a same-named table.
    */
  private val SettingPragmas = Set(
    "threads", "memory_limit", "max_memory", "temp_directory",
    "default_order", "default_null_order", "enable_progress_bar",
    "disable_progress_bar", "enable_object_cache", "disable_object_cache",
    "enable_profiling", "disable_profiling", "profiling_output",
    "wal_autocheckpoint", "checkpoint_threshold", "enable_verification",
    "disable_verification", "force_compression", "explain_output")

  def pragma(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    val PragmaAssignRe = "(?s)\\A(\\w+)\\s*=\\s*(.+)\\z".r
    val PragmaCallRe = "(?s)\\A(\\w+)\\s*(?:\\((.*)\\))?\\z".r
    body.trim match {
      case PragmaAssignRe(rawName, _) =>
        require(SettingPragmas.contains(rawName.toLowerCase),
          s"unrecognized pragma '$rawName'")
        spark.emptyDataFrame
      case PragmaCallRe(rawName, argOrNull) =>
        val name = rawName.toLowerCase.stripPrefix("pragma_")
        def arg: String = {
          val a = Option(argOrNull).map(_.trim).getOrElse("")
          require(a.nonEmpty, s"PRAGMA $name requires an argument")
          a.stripPrefix("'").stripSuffix("'")
        }
        name match {
          case "version" =>
            // the reference pins DuckDB v1.1.1; source_id carries the
            // actual engine underneath
            Seq(("v1.1.1 (graft)", s"spark-${spark.version}"))
              .toDF("library_version", "source_id")
          case "show_tables" =>
            spark.catalog.listTables().collect().map(_.name).sorted.toSeq
              .toDF("name")
          case "database_list" =>
            spark.catalog.listDatabases().collect().sortBy(_.name)
              .zipWithIndex
              .map { case (d, i) => (i, d.name, d.locationUri) }.toSeq
              .toDF("seq", "name", "file")
          case "table_info" =>
            spark.table(arg).schema.fields.zipWithIndex.map { case (f, i) =>
              (i, f.name, f.dataType.sql, !f.nullable,
                null.asInstanceOf[String], false)
            }.toSeq.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
          case "sequences" =>
            Sequences.list().toDF("name", "next_value", "increment_by")
          case "database_size" =>
            Introspection.databaseSizeDf(spark)
          case "show_databases" =>
            spark.catalog.listDatabases().collect().map(_.name).sorted.toSeq
              .toDF("database_name")
          case _ if argOrNull != null =>
            // CALL of an injected TVF (generate_series, read_* ...):
            // run it as a FROM-position relation
            query(spark, s"SELECT * FROM ${body.trim}")
          case _ if SettingPragmas.contains(name) =>
            spark.emptyDataFrame // bare toggle form: PRAGMA enable_profiling
          case _ =>
            // a bare unknown pragma must NOT fall into the TVF path —
            // that would silently select from a same-named table
            throw new IllegalArgumentException(s"unrecognized pragma '$name'")
        }
    }
  }

  /** DuckDB `EXPORT DATABASE 'dir' [(FORMAT PARQUET|CSV)]` (delegated
    * surface; README's persistence walkthrough pairs it with ATTACH).
    * Every durable table of the CURRENT database is written under the
    * directory — one subdirectory per table via the ordinary
    * DataFrame writers (distributed, partitioned; not a single-file
    * driver funnel) — plus `schema.sql` (CREATE TABLE statements) and
    * `load.sql` (COPY statements), the same companion files DuckDB
    * emits, so either engine can re-load the export. Temp views are
    * session state, not database content — excluded, as in DuckDB.
    */
  def exportDatabase(spark: SparkSession, path: String,
      format: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    require(format == "csv" || format == "parquet",
      s"EXPORT DATABASE: unsupported format '$format'")
    val dir = Paths.get(path).toAbsolutePath
    Files.createDirectories(dir)
    val cat = spark.sessionState.catalog
    val db = cat.getCurrentDatabase
    val tables = cat.externalCatalog.listTables(db).sorted
    val schemaSql = new StringBuilder
    val loadSql = new StringBuilder
    tables.foreach { t =>
      val df = spark.table(s"`$db`.`$t`")
      val cols = df.schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      schemaSql ++= s"CREATE TABLE $t ($cols);\n"
      // each table is a Spark writer DIRECTORY (part-* files plus
      // _SUCCESS/.crc markers); a glob over the data extension is what
      // DuckDB's COPY FROM can actually load back
      loadSql ++= (if (format == "csv")
        s"COPY $t FROM '${dir.resolve(t)}/*.csv' (FORMAT CSV, HEADER);\n"
      else
        s"COPY $t FROM '${dir.resolve(t)}/*.parquet' (FORMAT PARQUET);\n")
      val w = df.write.mode("overwrite")
      (if (format == "csv") w.option("header", "true") else w)
        .format(format).save(dir.resolve(t).toString)
    }
    Files.writeString(dir.resolve("schema.sql"), schemaSql.toString)
    Files.writeString(dir.resolve("load.sql"), loadSql.toString)
    spark.emptyDataFrame
  }

  /** DuckDB `IMPORT DATABASE 'dir'` — re-register an exported
    * directory into the CURRENT database. Parquet subdirs become
    * external tables in place (zero copy); csv exports are read with
    * the exported header. Written to round-trip [[exportDatabase]]
    * and DuckDB's own parquet exports alike.
    */
  def importDatabase(spark: SparkSession, path: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(path).toAbsolutePath
    require(Files.isDirectory(dir), s"IMPORT DATABASE: no directory $path")
    def register(t: String, p: java.nio.file.Path, parquet: Boolean): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      if (parquet)
        spark.sql(s"CREATE TABLE `$t` USING parquet LOCATION '$p'")
      else
        spark.sql(s"CREATE TABLE `$t` USING csv " +
          s"OPTIONS (header 'true', inferSchema 'true', path '$p')")
    }
    val listing = Files.list(dir)
    try {
      listing.iterator().forEachRemaining { p =>
        val name = p.getFileName.toString
        if (Files.isDirectory(p)) {
          // graft's own export layout: one writer directory per table
          val entries = Files.list(p)
          val isParquet =
            try entries.iterator().asScala.exists(_.toString.endsWith(".parquet"))
            finally entries.close()
          register(name, p, isParquet)
        } else if (name.endsWith(".parquet") || name.endsWith(".csv")) {
          // DuckDB's own export layout: flat <table>.parquet / .csv
          // files next to schema.sql
          register(name.replaceAll("\\.(parquet|csv)$", ""), p,
            name.endsWith(".parquet"))
        }
      }
    } finally listing.close()
    spark.emptyDataFrame
  }

  /** DuckDB `ATTACH 'file.db' [AS alias]` — persistent second database
    * (reference README.md:8 "start persisting data"; forwarded
    * verbatim at cpp:52). Spark-first re-expression: the path is a
    * DIRECTORY warehouse (a single-file binary db is a DuckDB storage
    * detail, not a semantic) holding one parquet table per subdir. The
    * statement creates a session-catalog database at that location and
    * re-registers every existing table subdir as an EXTERNAL parquet
    * table, so data written through a previous session's attach is
    * visible again — the persistence contract ATTACH promises.
    * `ATTACH ':memory:' AS x` creates a location-less (temp) database.
    * New tables land under the directory via the database location;
    * `USE alias` / `alias.t` qualification are native Spark.
    */
  def attach(spark: SparkSession, path: String, aliasOpt: Option[String]): DataFrame = {
    import java.nio.file.{Files, Paths}
    val mem = path == ":memory:" || path.isEmpty
    val alias = aliasOpt.getOrElse {
      if (mem) "memory"
      else {
        val base = Paths.get(path).getFileName.toString
        base.replaceAll("\\.(db|duckdb|ddb)$", "")
      }
    }
    if (mem) spark.sql(s"CREATE DATABASE IF NOT EXISTS `$alias`")
    else {
      val dir = Paths.get(path).toAbsolutePath
      if (Files.isRegularFile(dir)) throw new IllegalArgumentException(
        s"ATTACH '$path': graft attaches directory warehouses of parquet " +
          "tables; a single-file database is not supported")
      Files.createDirectories(dir)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$alias` LOCATION '$dir'")
      // Re-register persisted tables: any subdir is a parquet table.
      val listing = Files.list(dir)
      try {
        listing.iterator().forEachRemaining { p =>
          if (Files.isDirectory(p)) {
            val t = p.getFileName.toString
            if (!spark.catalog.tableExists(s"`$alias`.`$t`"))
              spark.sql(s"CREATE TABLE `$alias`.`$t` USING parquet LOCATION '$p'")
          }
        }
      } finally listing.close()
    }
    spark.emptyDataFrame
  }

  /** DuckDB `DETACH alias` — drop the catalog entry, KEEP the data
    * (detach closes the database file; it never deletes it). Managed
    * tables are flipped to EXTERNAL first so the cascade drop removes
    * only metadata.
    */
  def detach(spark: SparkSession, alias: String): DataFrame = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.CatalogTableType
    val cat = spark.sessionState.catalog
    // externalCatalog, NOT SessionCatalog.listTables: the latter merges
    // session temp views into the listing and their metadata lookup
    // under this database would (correctly) fail.
    cat.externalCatalog.listTables(alias).foreach { t =>
      val meta = cat.getTableMetadata(TableIdentifier(t, Some(alias)))
      if (meta.tableType == CatalogTableType.MANAGED)
        cat.alterTable(meta.copy(tableType = CatalogTableType.EXTERNAL))
    }
    // InMemoryCatalog.dropDatabase recursively DELETES the database
    // location — repoint it at a throwaway temp dir first so the
    // cascade removes metadata + that decoy only, never the attached
    // warehouse (EXTERNAL table drops are already metadata-only).
    val db = cat.getDatabaseMetadata(alias)
    val decoy = java.nio.file.Files.createTempDirectory("graft-detach").toUri
    cat.alterDatabase(db.copy(locationUri = decoy))
    spark.sql(s"DROP DATABASE `$alias` CASCADE")
    spark.emptyDataFrame
  }

  /** DuckDB's `SUMMARIZE <table | SELECT ...>` statement (delegated
    * surface — any wire client can send it; the bridge forwards it
    * verbatim at cpp:52): per-column min/max/approx-distinct/avg/std/
    * quartiles/count/null%. One pass over the data — every statistic
    * for every column is computed in a single aggregate row, which is
    * then exploded into the per-column result rows. At 100 TB that is
    * one scan + one single-row shuffle, not a scan per column.
    */
  def summarize(spark: SparkSession, target: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val t = target.trim
    val base =
      if (t.matches("(?is)^(SELECT|WITH|VALUES|FROM)\\b.*")) query(spark, t)
      else spark.table(t)
    val fields = base.schema.fields
    def isOrderable(dt: DataType) = dt match {
      case _: NumericType | StringType | DateType | BooleanType => true
      case _: TimestampType | TimestampNTZType => true
      case _ => false
    }
    def isNumeric(dt: DataType) = dt.isInstanceOf[NumericType]
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      val minMax =
        if (isOrderable(f.dataType))
          Seq(min(c).cast("string").as(s"__mn$i"),
            max(c).cast("string").as(s"__mx$i"))
        else Seq(lit(null).cast("string").as(s"__mn$i"),
          lit(null).cast("string").as(s"__mx$i"))
      val numeric =
        if (isNumeric(f.dataType))
          Seq(avg(c).cast("double").as(s"__avg$i"),
            stddev(c).cast("double").as(s"__std$i"),
            percentile_approx(c.cast("double"),
              array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as(s"__q$i"))
        else Seq(lit(null).cast("double").as(s"__avg$i"),
          lit(null).cast("double").as(s"__std$i"),
          lit(null).cast("array<double>").as(s"__q$i"))
      minMax ++ numeric ++ Seq(
        approx_count_distinct(c).as(s"__au$i"),
        count(c).as(s"__nn$i"))
    } :+ count(lit(1)).as("__n")
    val row = base.agg(aggs.head, aggs.tail: _*)
    val structs = fields.zipWithIndex.map { case (f, i) =>
      struct(
        lit(f.name).as("column_name"),
        lit(f.dataType.sql).as("column_type"),
        col(s"__mn$i").as("min"),
        col(s"__mx$i").as("max"),
        col(s"__au$i").as("approx_unique"),
        col(s"__avg$i").as("avg"),
        col(s"__std$i").as("std"),
        element_at(col(s"__q$i"), 1).as("q25"),
        element_at(col(s"__q$i"), 2).as("q50"),
        element_at(col(s"__q$i"), 3).as("q75"),
        col("__n").as("count"),
        round(lit(100.0) * (col("__n") - col(s"__nn$i")) / greatest(col("__n"), lit(1L)), 2)
          .as("null_percentage"))
    }
    row.select(explode(array(structs: _*)).as("s")).select(col("s.*"))
  }
}

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** per-(dir, table) analyzed read plan: every corpus query calls
    * load(), and an uncached load costs a file listing + parquet
    * footer schema read — ~50-100 ms of pure driver latency that
    * dominated the per-query floor at small SF, and about 1 s per wire
    * connection for all ten views. Each caller gets a DataFrame of the
    * cached plan in its own session; execution still streams from
    * disk.
    */
  private val loadCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    ColumnBridge.ofPlan(spark, loadCache.computeIfAbsent((dir, name), _ => {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) — read as a
      // long (spark.sql.legacy.parquet.nanosAsLong, set where the
      // session is built) — in some data drops and TIMESTAMP(MICROS)
      // in others, so normalize from whatever the footer says to a
      // session-TZ TimestampType column. Nanos convert with integer
      // arithmetic (a double division would lose precision above
      // 2^53 ns).
      val df = spark.read.parquet(s"$dir/$name.parquet")
      (if (name == "events") {
        import org.apache.spark.sql.types.{LongType, TimestampNTZType}
        df.schema("ts").dataType match {
          case LongType => // nanos-as-long drop
            df.withColumn("ts", org.apache.spark.sql.functions.expr(
              "timestamp_micros(ts div 1000)"))
          case TimestampNTZType => // micros drop (naive, session TZ is UTC)
            df.withColumn("ts",
              df("ts").cast(org.apache.spark.sql.types.TimestampType))
          case _ => df
        }
      } else df).queryExecution.analyzed
    }))

  /** Register every table as a temp view in the session catalog —
    * the Spark analogue of the reference's shared catalog
    * (src/duckdb_pgwire_extension.cpp:40). Idempotent per (session,
    * dir); the views share [[load]]'s cached plans, so a new session
    * reads no parquet footer.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val marker = "graft.tables.dir"
    if (!spark.conf.getOption(marker).contains(dir)) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      spark.conf.set(marker, dir)
    }
  }
}
