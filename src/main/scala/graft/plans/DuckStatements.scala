package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoStatement, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SparkSqlParser
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** A DuckDB statement with an effect, as one Catalyst command. `body`
  * runs it when the plan executes and answers its rows: DuckDB's
  * one-row Count for DML, the rows themselves when `answersRows`
  * (RETURNING, SHOW of a pg variable, EXPLAIN), or none. `tag` is pg's
  * CommandComplete tag, from that Count or from how many rows the
  * client got. */
final case class DuckCommand(name: String, override val output: Seq[Attribute],
    answersRows: Boolean = false)(tag: Long => String,
    body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = body(spark)
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(tag, body)
  /** the tag of a row statement that sent `rows` rows */
  def pgTag(rows: Long): String = tag(rows)
  /** the tag of a statement that ran as `result`: its Count, if any */
  def pgTag(result: DataFrame): String =
    tag(result.collect().headOption.fold(0L)(_.getLong(0)))
}

/** A blank statement: pg answers EmptyQueryResponse. */
final case class EmptyStatement() extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = Nil
}

/** `COPY table|(query) TO STDOUT`: the rows of `source` as a CopyOut
  * stream, which only the wire server, owning the socket, can send. */
final case class CopyToStdout(source: LogicalPlan, csv: Boolean,
    header: Boolean, delim: Char) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    throw DuckStatements.wireOnly("COPY … TO STDOUT")
}

/** `COPY table FROM STDIN`: rows that arrive as CopyData messages,
  * which only the wire server, owning the socket, can receive. */
final case class CopyFromStdin(table: String, csv: Boolean, header: Boolean,
    delim: Char) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    throw DuckStatements.wireOnly("COPY … FROM STDIN")
}

/** The one statement classifier. [[GraftParser.parsePlan]] hands it
  * every statement, whichever way it arrives (wire, `Engine.query`,
  * library `spark.sql`); it answers the statement's Catalyst plan, and
  * runs nothing. A DuckDB or pg statement with an effect becomes a
  * [[DuckCommand]]; a DuckDB statement that returns rows becomes the
  * plan of the DataFrame that answers it; everything else is Spark's
  * own parse of the lowered text. The reference hands each statement
  * to DuckDB once (src/duckdb_pgwire_extension.cpp:52 `conn.Prepare`).
  */
object DuckStatements {

  /** pg's CommandComplete tag of one of Spark's own commands, which the
    * classifier names from the statement's keywords */
  val PgTag: TreeNodeTag[String] = TreeNodeTag[String]("graft.pgTag")

  def wireOnly(what: String): UnsupportedOperationException =
    new UnsupportedOperationException(
      s"$what streams over the pg wire protocol; it runs only on the wire server")

  private def attr(name: String, dt: DataType, nullable: Boolean = true) =
    AttributeReference(name, dt, nullable)()
  private def countOutput = Seq(attr("Count", LongType, nullable = false))
  private def dmlCount(n: Long) = Seq(Row(n))

  /** a command answering no rows */
  private def effect(name: String, tag: String)(body: SparkSession => Unit) =
    DuckCommand(name, Nil)(_ => tag, spark => { body(spark); Nil })
  /** a command answering DuckDB's one-row Count */
  private def counted(name: String, tag: Long => String)(body: SparkSession => Long) =
    DuckCommand(name, countOutput)(tag, spark => dmlCount(body(spark)))
  /** a DuckDB statement that returns rows, as the plan of its answer */
  private def rows(df: DataFrame): LogicalPlan = df.queryExecution.commandExecuted

  /** Spark's own DDL text, issued on the user's behalf past this
    * classifier (a `DROP TABLE` here must not re-enter DuckDB's) */
  private lazy val sparkParser = new SparkSqlParser()
  private def sparkDdl(spark: SparkSession, sql: String): DataFrame =
    ColumnBridge.ofRows(spark, sparkParser.parsePlan(sql))

  /** pg's tag for a statement named by its keywords: the verb, and for
    * CREATE/DROP the object kind (`CREATE OR REPLACE TABLE` answers
    * `CREATE TABLE`) */
  private def keywordTag(sql: String): String = {
    val words = sql.trim.split("\\s+").iterator.map(_.toUpperCase)
    words.next() match {
      case verb @ ("CREATE" | "DROP") =>
        verb + " " + words.find(!TagModifiers(_)).getOrElse("")
      case other => other
    }
  }
  private val TagModifiers = Set("OR", "REPLACE", "TEMP", "TEMPORARY", "UNIQUE")

  def plan(parser: GraftParser, session: SparkSession, sql: String): LogicalPlan =
    sql match {
      case _ if sql.trim.isEmpty => EmptyStatement()
      case ExecuteStmtRe(name, argsOrNull) if !name.equalsIgnoreCase("immediate") =>
        // classified as the prepared body it stands for
        val p = Option(Engine.state(session).prepared.get(name.toLowerCase)).getOrElse(
          throw new server.PgWire.UndefinedName("26000",
            s"""Prepared statement "$name" does not exist"""))
        parser.parsePlan(server.BindParams.splice(p.sql,
          server.BindParams.splitArgs(argsOrNull)))
      // accepted and meaningless, observably identical to the reference
      // whose per-query Connection ends transaction state (cpp:42)
      case TransactionRe(verb) =>
        val tag = verb.toUpperCase match {
          case "END" => "COMMIT"
          case "ABORT" => "ROLLBACK"
          case v => v
        }
        effect("Transaction", tag)(_ => ())
      case PgSetRe() if SetVariableHeadRe.findPrefixOf(sql).isEmpty =>
        effect("Set", "SET")(setStatement(_, sql))
      case PgShowRe(v) if PgShowVars.contains(v.trim.toLowerCase.replaceAll("\\s+", " ")) =>
        // pg session variables drivers probe on connect (pgjdbc sends
        // SHOW TRANSACTION ISOLATION LEVEL)
        val (colName, value) = PgShowVars(v.trim.toLowerCase.replaceAll("\\s+", " "))
        DuckCommand("Show", Seq(attr(colName, StringType, nullable = false)),
          answersRows = true)(_ => "SHOW", spark => Seq(Row(value(spark))))
      case CopyHeadRe() => copyStatement(parser, sql)
      case _ if DmlHeadRe.findPrefixOf(sql).isDefined && splitReturning(sql).isDefined =>
        returning(session, sql)
      case _ if UpdateHeadRe.findPrefixOf(sql).isDefined =>
        counted("Update", n => s"UPDATE $n")(server.Dml.update(_, sql))
      case _ if DeleteHeadRe.findPrefixOf(sql).isDefined =>
        counted("Delete", n => s"DELETE $n")(server.Dml.delete(_, sql))
      case InsertDefaultsRe(name) =>
        // one all-DEFAULT row (Spark resolves DEFAULT to the declared
        // column default or NULL, same as DuckDB); generated columns
        // are not insert targets, so they don't count toward the width
        counted("Insert", n => s"INSERT 0 $n") { spark =>
          val width = spark.table(name).schema.size -
            TableConstraints.generatedOf(name).size
          Engine.query(spark, s"INSERT INTO $name VALUES " +
            s"(${Seq.fill(width)("DEFAULT").mkString(", ")})").collect().head.getLong(0)
        }
      case _ if InsertHeadRe.findPrefixOf(sql).isDefined => insert(parser, sql, None)
      case PrepareRe(name, body) =>
        effect("Prepare", "PREPARE")(spark =>
          Engine.state(spark).prepared.put(name.toLowerCase, server.Prepared(body)))
      case DeallocateRe(name) =>
        if (name.equalsIgnoreCase("all"))
          effect("Deallocate", "DEALLOCATE ALL")(Engine.state(_).prepared.clear())
        else effect("Deallocate", "DEALLOCATE")(
          Engine.state(_).prepared.remove(name.toLowerCase))
      case _ =>
        server.PgCatalogShim.intercept(session, sql) match {
          case Some(listing) => rows(listing)
          case None => duckdb(parser, session, sql)
        }
    }

  /** DuckDB's own statement surface, then Spark's. */
  private def duckdb(parser: GraftParser, spark: SparkSession, sql: String): LogicalPlan =
    sql match {
      case ExplainRe(optsOrNull, analyzeOrNull, inner) =>
        explainStmt(analyzeOrNull != null ||
          Option(optsOrNull).exists(_.toLowerCase.contains("analyze")), inner)
      case SummarizeRe(target) => rows(summarize(spark, target))
      case CommentOnRe(kind, name, value) =>
        val k = kind.toLowerCase.replaceAll("\\s+", " ")
        if (k == "database") throw new UnsupportedOperationException(
          "Not implemented Error: Adding comments to databases is not implemented")
        effect("CommentOn", "COMMENT")(_ => Comments.set(k.split(' ').head, name,
          if (value.equalsIgnoreCase("NULL")) None
          else Some(value.stripPrefix("'").stripSuffix("'")
            .replace("''", "'"))))
      case ShowTablesRe() => rows(showTables(spark))
      case ShowAllTablesRe() => rows(showAllTables(spark))
      case ShowDatabasesRe() =>
        rows(Engine.query(spark, "SELECT * FROM duckdb_databases()"))
      case DescribeRe(target) => rows(describeStmt(spark, target))
      case ShowTargetRe(target) => rows(describeStmt(spark, target))
      case TruncateRe(name) =>
        // DuckDB's TRUNCATE omits TABLE and answers the removed-row
        // count like any DML; rows still referenced by a foreign key
        // refuse like DELETE (probed)
        counted("Truncate", _ => "TRUNCATE TABLE") { spark =>
          TableConstraints.enforceRestrict(spark, name, spark.table(name))
          val n = spark.table(name).count()
          sparkDdl(spark, s"TRUNCATE TABLE $name")
          n
        }
      case SetVariableRe(name, valueExpr) =>
        effect("SetVariable", "SET") { spark =>
          val row = Engine.query(spark, s"SELECT ($valueExpr) AS v")
          val v = row.collect().head.get(0)
          Engine.state(spark).vars.put(name.toLowerCase, (v, row.schema.head.dataType))
        }
      case ResetVariableRe(name) =>
        effect("ResetVariable", "RESET")(Engine.state(_).vars.remove(name.toLowerCase))
      case AttachRe(path, alias) =>
        effect("Attach", "ATTACH")(attach(_, path, Option(alias)))
      case DetachRe(alias) => effect("Detach", "DETACH")(detach(_, alias))
      case CreateOrReplaceRe(name, rest) =>
        // DuckDB `CREATE OR REPLACE TABLE` (delegated surface); Spark's
        // v1 catalog rejects REPLACE TABLE AS SELECT → drop-then-create.
        val create = parser.parsePlan(s"CREATE TABLE $name $rest")
        DuckCommand("CreateOrReplaceTable", create.output)(_ => "CREATE TABLE",
          spark => {
            sparkDdl(spark, s"DROP TABLE IF EXISTS $name")
            ColumnBridge.ofRows(spark, create).collect().toSeq
          })
      case CreateMacroRe(orReplace, name, params, table, body) =>
        effect("CreateMacro", keywordTag(sql))(_ =>
          Macros.define(name, params, body, table != null, orReplace != null))
      case DropMacroRe(ifExists, name) =>
        effect("DropMacro", keywordTag(sql))(_ => Macros.drop(name, ifExists != null))
      case CreateEnumRe(orReplace, ifNotExists, name, body) =>
        val vals = EnumValueRe.findAllMatchIn(body)
          .map(_.group(1).replace("''", "'")).toSeq
        effect("CreateType", "CREATE TYPE")(_ =>
          EnumTypes.define(name, vals, orReplace != null, ifNotExists != null))
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
        effect("CreateType", "CREATE TYPE")(_ =>
          UnionTypes.define(name, members, orReplace != null, ifNotExists != null))
      case DropTypeRe(ifExists, name) =>
        // one namespace for types, two registries: try enum, then union
        effect("DropType", "DROP TYPE")(_ =>
          if (EnumTypes.isDefined(name)) EnumTypes.drop(name, ifExists = false)
          else UnionTypes.drop(name, ifExists != null))
      case CreateSequenceRe(orReplace, ifNotExists, name, tail) =>
        val t = if (tail == null) "" else tail
        val start = SeqStartRe.findFirstMatchIn(t).map(_.group(1).toLong)
        val inc = SeqIncRe.findFirstMatchIn(t).map(_.group(1).toLong)
        effect("CreateSequence", "CREATE SEQUENCE")(_ =>
          Sequences.create(name, start.getOrElse(1L), inc.getOrElse(1L),
            orReplace != null, ifNotExists != null))
      case DropSequenceRe(ifExists, name) =>
        effect("DropSequence", "DROP SEQUENCE")(_ => Sequences.drop(name, ifExists != null))
      case PragmaRe(body) => rows(pragma(spark, body))
      case ExportDbRe(path, fmtOrNull) =>
        val format = Option(fmtOrNull).map(_.toLowerCase).getOrElse("csv")
        require(format == "csv" || format == "parquet",
          s"EXPORT DATABASE: unsupported format '$format'")
        effect("ExportDatabase", "EXPORT")(exportDatabase(_, path, format))
      case ImportDbRe(path) => effect("ImportDatabase", "IMPORT")(importDatabase(_, path))
      case MaintenanceRe(_) =>
        // CHECKPOINT flushes DuckDB's WAL, VACUUM/ANALYZE refresh its
        // storage/stats — none has a Spark analogue beyond success
        // (tables are immutable parquet; stats come from AQE runtime
        // statistics). Accepted so wire clients' maintenance scripts
        // run unchanged.
        effect("Maintenance", keywordTag(sql))(_ => ())
      case CreateIndexRe(uniqueOrNull, _) =>
        // DuckDB builds ART indexes; Spark has no secondary index — a
        // plain CREATE INDEX is a performance hint, accepted as a
        // no-op. A UNIQUE index is a CONSTRAINT (it would change
        // semantics silently), so it is rejected loudly.
        if (uniqueOrNull != null) throw new IllegalArgumentException(
          "CREATE UNIQUE INDEX: uniqueness constraints are not enforced; " +
            "use exact dedup (Dedup.exact) or a distinct aggregation")
        effect("CreateIndex", "CREATE INDEX")(_ => ())
      case DropIndexRe(_) => effect("DropIndex", "DROP INDEX")(_ => ())
      case InstallLoadRe(_, _) =>
        // `LOAD duckdb_pgwire` is the reference's own entry statement
        // (README.md:48); INSTALL fetches an extension first. graft
        // preregisters its whole surface at session build
        // (Functions.registerAll + GraftExtensions), so both succeed
        // as no-ops and the reference's documented startup runs as-is.
        effect("InstallLoad", keywordTag(sql))(_ => ())
      case PivotStmtRe(target, onCol, using, groupByOpt) =>
        rows(pivotStmt(spark, target, onCol, using, Option(groupByOpt)))
      case UnpivotStmtRe(target, onCols, nameCol, valueCol) =>
        rows(unpivotStmt(spark, target, onCols, nameCol, valueCol))
      case DropTableNameRe(name) =>
        effect("DropTable", "DROP TABLE") { spark =>
          dropTableChecks(name)
          ColumnBridge.ofRows(spark, parser.lowered(sql))
        }
      // DuckDB column DDL Spark's v1 tables reject — rebuilt
      // copy-on-write like the DML paths (snapshot, drop, re-save)
      case AlterRenameColRe(table, oldC, newC) =>
        effect("AlterTable", "ALTER TABLE") { spark =>
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
        }
      case AlterDropColRe(table, ifExists, col) =>
        effect("AlterTable", "ALTER TABLE") { spark =>
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
        }
      case AlterColTypeRe(table, col, newType, usingOrNull) =>
        effect("AlterTable", "ALTER TABLE") { spark =>
          rebuildTable(spark, table) { df =>
            require(df.columns.exists(_.equalsIgnoreCase(col)),
              s"column $col does not exist in $table")
            val expr = Option(usingOrNull)
              .map(u => org.apache.spark.sql.functions.expr(u))
              .getOrElse(org.apache.spark.sql.functions
                .col(col).cast(SqlRewrites.mapTypeName(newType)))
            df.withColumn(col, expr)
          }
        }
      case _ if RecursiveUnionRe.findPrefixOf(sql).isDefined &&
          recursiveUnionDistinct(spark, sql).isDefined =>
        rows(recursiveUnionDistinct(spark, sql).get)
      case _ if CreateTableRe.findPrefixOf(sql).isDefined => createTable(parser, sql)
      case _ =>
        parser.lowered(sql) match {
          case p @ (_: InsertIntoStatement | org.apache.spark.sql.catalyst.plans
              .logical.UnresolvedWith(_: InsertIntoStatement, _, _)) =>
            // `WITH cte INSERT INTO …`: a command like every INSERT
            insert(parser, sql, Some(p))
          case c: Command => c.setTagValue(PgTag, keywordTag(sql)); c
          case p => p
        }
    }

  // ---- the pg session statements, answered as Postgres does

  private val TransactionRe =
    """(?is)\A\s*(BEGIN|COMMIT|END|ROLLBACK|ABORT)(?:\s.*)?\z""".r
  private val PgSetRe = """(?is)\A\s*SET(?:\s.*)?\z""".r
  private val SetVariableHeadRe = """(?is)\s*SET\s+VARIABLE\s""".r
  private val PgShowRe = """(?is)\A\s*SHOW\s+(.+?)\s*;?\s*\z""".r
  /** `SHOW <pg variable>` → its one-row result's column and value */
  private val PgShowVars: Map[String, (String, SparkSession => String)] = Map(
    "transaction isolation level" ->
      ("transaction_isolation", _ => "read committed"),
    "server_version" -> ("server_version", _ => "15.0 (graft-spark)"),
    "server_encoding" -> ("server_encoding", _ => "UTF8"),
    "client_encoding" -> ("client_encoding", _ => "UTF8"),
    "datestyle" -> ("DateStyle", _ => "ISO, MDY"),
    "timezone" -> ("TimeZone",
      _.conf.get("spark.sql.session.timeZone", "UTC")),
    "search_path" -> ("search_path", _ => "public"),
    "standard_conforming_strings" -> ("standard_conforming_strings", _ => "on"))

  /** SET allowlist → session conf; everything else accepted as no-op
    * (psql sends extra_float_digits etc. — same amnesty the reference
    * gets from per-query connections). */
  private val PgSetAssignRe = """(?is)\s*SET\s+([\w.]+)\s*(?:=|TO)\s*(.+)""".r
  private val PgSetAllowed = Set("spark.sql.shuffle.partitions",
    "spark.sql.ansi.enabled", "spark.sql.session.timeZone")
  private def setStatement(spark: SparkSession, sql: String): Unit =
    sql match {
      case PgSetAssignRe(key, value) =>
        val k = key.toLowerCase match {
          case "timezone" => "spark.sql.session.timeZone"
          case other => other
        }
        if (PgSetAllowed.contains(k))
          spark.conf.set(k, value.trim.stripPrefix("'").stripSuffix("'"))
      case _ =>
    }

  // ---- COPY: `COPY (query)|table TO 'path' (FORMAT PARQUET|CSV|JSON
  // [, HEADER])`, `COPY table FROM 'path' (...)`, and the STDIN/STDOUT
  // streams — DuckDB/pg import/export mapped onto DataFrame readers
  // and writers (the reference forwards COPY verbatim to DuckDB, cpp:52)

  private val CopyHeadRe = """(?is)\A\s*COPY\b.*""".r
  private val CopyFromStdinRe =
    """(?is)\A\s*COPY\s+([\w.]+)\s+FROM\s+STDIN\s*(?:WITH\s*)?(.*?)\s*;?\s*\z""".r
  private val CopyToStdoutRe =
    """(?is)\A\s*COPY\s+(\(.*\)|[\w.]+)\s+TO\s+STDOUT\s*(?:WITH\s*)?(.*?)\s*;?\s*\z""".r

  private def copyStatement(parser: GraftParser, sql: String): LogicalPlan = {
    def csvOf(optsRaw: String) = Option(optsRaw).getOrElse("").toUpperCase.contains("CSV")
    def headerOf(optsRaw: String) = Option(optsRaw).getOrElse("").toUpperCase.contains("HEADER")
    sql.trim match {
      case CopyToStdoutRe(src, optsRaw) =>
        val source =
          if (src.startsWith("(")) parser.parsePlan(src.stripPrefix("(").stripSuffix(")"))
          else UnresolvedRelation(parser.parseMultipartIdentifier(src))
        CopyToStdout(source, csvOf(optsRaw), headerOf(optsRaw),
          server.CopyOps.wireDelim(optsRaw, csvOf(optsRaw)))
      case server.CopyOps.copyToRe(src, path, optsOrNull) =>
        counted("CopyTo", n => s"COPY $n")(
          server.CopyOps.copyTo(_, src, path, optsOrNull))
      case CopyFromStdinRe(table, optsRaw) =>
        CopyFromStdin(table, csvOf(optsRaw), headerOf(optsRaw),
          server.CopyOps.wireDelim(optsRaw, csvOf(optsRaw)))
      case server.CopyOps.copyFromFileRe(table, path, optsRaw) =>
        counted("CopyFrom", n => s"COPY $n")(
          server.CopyOps.copyFromFile(_, table, path, optsRaw))
      case _ =>
        throw new IllegalArgumentException(
          "COPY syntax: COPY (query)|table TO 'path' (FORMAT PARQUET|CSV|JSON [, HEADER]) | COPY table FROM 'path' (...) | COPY table FROM STDIN [(FORMAT csv [, HEADER])]")
    }
  }

  // ---- INSERT and CREATE TABLE

  private val DmlHeadRe = """(?is)\s*(INSERT|UPDATE|DELETE)\b""".r
  private val UpdateHeadRe = """(?is)\s*UPDATE\s""".r
  private val DeleteHeadRe = """(?is)\s*DELETE\s""".r
  private val InsertHeadRe = """(?is)\s*INSERT\b""".r
  private val InsertOrRe = """(?is)\s*INSERT\s+OR\s""".r
  private val CreateTableRe =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\b""".r

  /** Every INSERT, answering DuckDB's Count: the DuckDB upsert surface
    * (Spark's parser has no ON CONFLICT) and inserts into constrained
    * tables first, then Spark's own INSERT (`parsed`, when the
    * classifier already parsed it). The native append shares Dml's
    * per-table writer serialization: a concurrent copy-on-write
    * UPDATE/DELETE snapshotting the same table mid-append would
    * silently drop the appended rows. */
  private def insert(parser: GraftParser, sql: String,
      parsed: Option[LogicalPlan]): DuckCommand =
    counted("Insert", n => s"INSERT 0 $n") { spark =>
      val duck = if (parsed.isDefined) None else
        (if (sql.toLowerCase.contains("conflict") || InsertOrRe.findPrefixOf(sql).isDefined)
          server.Dml.insertOnConflict(spark, sql) else None)
          .orElse(server.Dml.guardedInsert(spark, sql))
      duck.getOrElse {
        val plan = parsed.getOrElse(parser.lowered(sql))
        def append = insertedRowCount(ColumnBridge.ofRows(spark, plan)).getOrElse(0L)
        plan.collectFirst {
          case InsertIntoStatement(r: UnresolvedRelation, _, _, _, _, _, _) =>
            r.multipartIdentifier.mkString(".")
        } match {
          case Some(table) => server.Dml.lockFor(table).synchronized(append)
          case None => append
        }
      }
    }

  /** numOutputRows of an already-executed native INSERT command. */
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

  /** CREATE TABLE records the declared constraints, then runs Spark's
    * own statement; a CTAS answers DuckDB's Count. */
  private def createTable(parser: GraftParser, sql: String): DuckCommand =
    SqlRewrites.extractGeneratedColumns(sql) match {
      case Some((clean, table, gcols)) =>
        // generated-column DDL: create from the CLEANED statement
        // (typed generated columns became plain columns in place;
        // untyped ones were removed), then record + weave the untyped
        // ones back at their positions with inferred types via a
        // rebuild of the still-empty table
        effect("CreateTable", keywordTag(sql)) { spark =>
          SqlRewrites.recordPrimaryKey(clean)
          ColumnBridge.ofRows(spark, parser.lowered(clean))
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
        }
      case None =>
        val ctas = CtasRe.findFirstMatchIn(sql)
        DuckCommand("CreateTable", if (ctas.isDefined) countOutput else Nil)(
          _ => keywordTag(sql), spark => {
            SqlRewrites.recordPrimaryKey(sql)
            // IF NOT EXISTS over a table that already exists SKIPS
            // creation, and DuckDB (verified on 1.0) answers zero rows
            // there — not the pre-existing table's count. Existence
            // must be probed BEFORE execution.
            val skipped = ctas.exists { m =>
              m.group(1) != null &&
                (try spark.catalog.tableExists(
                  m.group(2).replace("\"", "").replace("`", ""))
                 catch { case _: Exception => false })
            }
            ColumnBridge.ofRows(spark, parser.lowered(sql))
            // a CTAS runs as ExecutedCommandExec with NO metrics, so
            // count the created table instead: parquet count() reads
            // row-group footers only, no data pass
            ctas match {
              case Some(m) if !skipped =>
                dmlCount(spark.table(m.group(2).replace("\"", "`")).count())
              case _ => Nil
            }
          })
    }

  /** DuckDB refuses to drop a table other tables reference. Normalize
    * like TableConstraints.key (lowercase, quotes stripped) so DROP
    * TABLE "t" on a self-referencing table is not wrongly refused;
    * self-reference = exact key match, with the suffix rule only when
    * one side is unqualified (mirrors the registry's own lookup
    * fallback). */
  private def dropTableChecks(name: String): Unit = {
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
    TableConstraints.clear(name) // stale PK records die here
    Comments.clear(name) // and stale COMMENT ON records
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
      sparkDdl(spark, s"DROP TABLE $table")
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

  private def explainStmt(analyze: Boolean, inner: String): DuckCommand = {
    if (QueryHeadRe.findPrefixOf(inner).isEmpty && SummarizeRe.findPrefixOf(inner).isEmpty)
      throw new IllegalArgumentException(s"EXPLAIN of a " +
        s"${inner.trim.takeWhile(!_.isWhitespace).toUpperCase} statement is not supported — the DML/DDL " +
          "paths here are imperative (EXPLAIN would execute them); " +
          "EXPLAIN the equivalent SELECT instead")
    DuckCommand("Explain", Seq(attr("explain_key", StringType),
        attr("explain_value", StringType)), answersRows = true)(_ => "EXPLAIN",
      spark => {
        val df = Engine.query(spark, inner)
        // planned as the wire plans the statement itself
        StreamedOrderBy.streaming {
          if (analyze) {
            // execute fully through THIS QueryExecution (no driver
            // materialization) so the reported tree is the final
            // AQE-replanned one, not a fresh unexecuted copy
            df.queryExecution.toRdd.foreach(_ => ())
            Seq(Row("analyzed_plan", df.queryExecution.executedPlan.toString))
          } else
            Seq(Row("physical_plan", df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)))
        }
      })
  }

  private val SummarizeRe = "(?is)\\A\\s*SUMMARIZE\\s+(.+?);?\\s*\\z".r

  /** DuckDB's DESCRIBE result shape — (column_name, column_type in
    * DuckDB spelling, null='YES', key/default/extra NULL) — for both
    * `DESCRIBE t` and `DESCRIBE SELECT …` (DESC alias included). */
  private val DescribeRe =
    "(?is)\\A\\s*DESC(?:RIBE)?\\s+(?:TABLE\\s+)?(.+?);?\\s*\\z".r

  // ---- COMMENT ON / SHOW statements (DuckDB surface, probed
  // 2026-08-15; delegated via cpp:52). DATABASE comments are "not
  // implemented" in DuckDB itself — reproduced loudly.
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
  // are answered above)
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

  private def describeStmt(spark: SparkSession, tgt: String): DataFrame = {
    import spark.implicits._
    target(spark, tgt).schema.fields.toSeq
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
    // the AS(...) span
    val close = SqlRewrites.matchParen(sql, m.end - 1)
    if (close < 0) return None
    val body = sql.substring(m.end, close)
    val outer = sql.substring(close + 1).trim
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
    val acc0raw = Engine.query(spark, init).distinct()
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
      val next = Engine.query(spark, step).toDF(acc.columns: _*)
        .distinct().except(acc)
        .localCheckpoint(eager = true)
      if (!next.isEmpty)
        acc = acc.union(next).localCheckpoint(eager = true)
      frontier = next
      it += 1
    }
    acc.createOrReplaceTempView(name)
    // materialize the OUTER result before the temp view goes away
    val res = Engine.query(spark, outer).localCheckpoint(eager = true)
    spark.catalog.dropTempView(name)
    Some(res)
  }

  // ---- RETURNING (DuckDB surface on INSERT/UPDATE/DELETE): the
  // clause is split off, the DML runs through Dml, and the returned
  // rows are what Dml hands over: for DELETE the doomed rows, for
  // UPDATE the matched rows with the SET expressions applied (DuckDB
  // returns NEW values; the source table of UPDATE … FROM / DELETE …
  // USING is not in RETURNING scope, probed), for INSERT the landed
  // rows, widened to the full row (declared column defaults fill the
  // gaps).
  private def splitReturning(sql: String): Option[(String, String)] = {
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

  private val DmlTargetRe =
    """(?is)\A\s*(?:INSERT\s+(?:OR\s+\w+\s+)?INTO|UPDATE|DELETE\s+FROM)\s+([\w."]+)""".r

  /** `… RETURNING list`: a command that declares the list over the
    * target table as its output (found by analysis, without running
    * anything), runs the DML and answers the returned rows. */
  private def returning(spark: SparkSession, sql: String): DuckCommand = {
    val (body, ret) = splitReturning(sql).get
    val table = DmlTargetRe.findFirstMatchIn(body).map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(s"no target table in: $body"))
    val shape = Engine.query(spark, s"SELECT $ret FROM $table WHERE false").schema
    val verb = body.trim.takeWhile(!_.isWhitespace).toUpperCase
    DuckCommand("Returning", DataTypeUtils.toAttributes(shape), answersRows = true)(
      n => if (verb == "INSERT") s"INSERT 0 $n" else s"$verb $n",
      spark => {
        var rows: Option[DataFrame] = None
        val hand = Some((df: DataFrame) => rows = Some(df))
        verb match {
          case "DELETE" => server.Dml.delete(spark, body, hand)
          case "UPDATE" => server.Dml.update(spark, body, hand)
          case _ => server.Dml.guardedInsert(spark, body, hand).getOrElse(
            throw new IllegalArgumentException("RETURNING is supported on " +
              "INSERT INTO table [(cols)|BY NAME] source, UPDATE and DELETE"))
        }
        rows.get.createOrReplaceTempView("__graft_ret")
        try Engine.query(spark, s"SELECT $ret FROM __graft_ret").collect().toSeq
        finally spark.catalog.dropTempView("__graft_ret")
      })
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

  /** resolve a statement target: a table or view name, a (subquery)
    * or a bare query. */
  private def target(spark: SparkSession, t: String): DataFrame = {
    val s = t.trim
    if (s.startsWith("(")) Engine.query(spark, s.stripPrefix("(").stripSuffix(")"))
    else if (QueryHeadRe.findPrefixOf(s).isDefined) Engine.query(spark, s)
    else spark.table(s)
  }
  /** the words a statement that returns rows starts with */
  private val QueryHeadRe = "(?is)\\s*(SELECT|WITH|VALUES|TABLE|FROM|PIVOT|UNPIVOT)\\b".r

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
  private def pivotStmt(spark: SparkSession, tgt: String, onCol: String,
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
  private def unpivotStmt(spark: SparkSession, tgt: String, onCols: String,
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

  private def pragma(spark: SparkSession, body: String): DataFrame = {
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
            Engine.query(spark, s"SELECT * FROM ${body.trim}")
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
  private def exportDatabase(spark: SparkSession, path: String,
      format: String): Unit = {
    import java.nio.file.{Files, Paths}
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
  }

  /** DuckDB `IMPORT DATABASE 'dir'` — re-register an exported
    * directory into the CURRENT database. Parquet subdirs become
    * external tables in place (zero copy); csv exports are read with
    * the exported header. Written to round-trip [[exportDatabase]]
    * and DuckDB's own parquet exports alike.
    */
  private def importDatabase(spark: SparkSession, path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(path).toAbsolutePath
    require(Files.isDirectory(dir), s"IMPORT DATABASE: no directory $path")
    def register(t: String, p: java.nio.file.Path, parquet: Boolean): Unit = {
      sparkDdl(spark, s"DROP TABLE IF EXISTS `$t`")
      if (parquet)
        sparkDdl(spark, s"CREATE TABLE `$t` USING parquet LOCATION '$p'")
      else
        sparkDdl(spark, s"CREATE TABLE `$t` USING csv " +
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
  private def attach(spark: SparkSession, path: String, aliasOpt: Option[String]): Unit = {
    import java.nio.file.{Files, Paths}
    val mem = path == ":memory:" || path.isEmpty
    val alias = aliasOpt.getOrElse {
      if (mem) "memory"
      else {
        val base = Paths.get(path).getFileName.toString
        base.replaceAll("\\.(db|duckdb|ddb)$", "")
      }
    }
    if (mem) sparkDdl(spark, s"CREATE DATABASE IF NOT EXISTS `$alias`")
    else {
      val dir = Paths.get(path).toAbsolutePath
      if (Files.isRegularFile(dir)) throw new IllegalArgumentException(
        s"ATTACH '$path': graft attaches directory warehouses of parquet " +
          "tables; a single-file database is not supported")
      Files.createDirectories(dir)
      sparkDdl(spark, s"CREATE DATABASE IF NOT EXISTS `$alias` LOCATION '$dir'")
      // Re-register persisted tables: any subdir is a parquet table.
      val listing = Files.list(dir)
      try {
        listing.iterator().forEachRemaining { p =>
          if (Files.isDirectory(p)) {
            val t = p.getFileName.toString
            if (!spark.catalog.tableExists(s"`$alias`.`$t`"))
              sparkDdl(spark, s"CREATE TABLE `$alias`.`$t` USING parquet LOCATION '$p'")
          }
        }
      } finally listing.close()
    }
  }

  /** DuckDB `DETACH alias` — drop the catalog entry, KEEP the data
    * (detach closes the database file; it never deletes it). Managed
    * tables are flipped to EXTERNAL first so the cascade drop removes
    * only metadata.
    */
  private def detach(spark: SparkSession, alias: String): Unit = {
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
    sparkDdl(spark, s"DROP DATABASE `$alias` CASCADE")
  }

  /** DuckDB's `SUMMARIZE <table | SELECT ...>` statement (delegated
    * surface — any wire client can send it; the bridge forwards it
    * verbatim at cpp:52): per-column min/max/approx-distinct/avg/std/
    * quartiles/count/null%. One pass over the data — every statistic
    * for every column is computed in a single aggregate row, which is
    * then exploded into the per-column result rows. At 100 TB that is
    * one scan + one single-row shuffle, not a scan per column.
    */
  private def summarize(spark: SparkSession, tgt: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val base = target(spark, tgt)
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
