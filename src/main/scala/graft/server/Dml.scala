package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}

/** UPDATE / DELETE over catalog parquet tables as copy-on-write
  * rewrites — the surface the reference serves through DuckDB
  * (README.md:54 flow allows any DuckDB SQL) but Spark's v1 sources
  * reject natively. Semantics: matched rows (predicate strictly TRUE,
  * null ≠ match, like SQL DELETE) are rewritten/removed, and the full
  * table is overwritten from a materialized snapshot.
  *
  * Scale note: whole-table copy-on-write is exactly what Delta/
  * Iceberg formalize per-file; this is the v1-source equivalent, and
  * the snapshot (localCheckpoint) is what breaks the read-overwrite
  * cycle Spark otherwise refuses.
  */
object Dml {

  /** Per-table write lock: the snapshot-then-overwrite cycle is not
    * atomic, so two concurrent writers on one table would both
    * snapshot the original and the last overwrite would silently drop
    * the first writer's rows. The delegated engine serializes writers
    * (DuckDB admits one write transaction at a time), so a per-table
    * monitor reproduces the observable semantics. Keyed by lowercased
    * table name, process-wide (the catalog is process-wide too).
    */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table.toLowerCase, _ => new Object)

  /** Unique suffix for statement-scoped temp views: locks are
    * per-TABLE, so two concurrent guarded INSERTs into different
    * tables would race on a fixed view name (one statement's
    * projection silently reading the other's source rows). */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  private val deleteRe =
    """(?is)^DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val deleteUsingRe =
    """(?is)^DELETE\s+FROM\s+([\w.]+)\s+USING\s+([\w.]+(?:\s+\w+)?)\s+WHERE\s+(.+?)\s*;?\s*$""".r
  private val updateRe =
    """(?is)^UPDATE\s+([\w.]+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val updateFromRe =
    """(?is)^UPDATE\s+([\w.]+)\s+SET\s+(.+?)\s+FROM\s+([\w.]+(?:\s+\w+)?)\s+WHERE\s+(.+?)\s*;?\s*$""".r

  private def matchPred(p: Option[String]): String =
    p.map(x => s"coalesce(CAST(($x) AS BOOLEAN), false)").getOrElse("true")

  /** What a `… RETURNING` clause reads: the statement's matched rows
    * (for UPDATE with their new values, for INSERT the landed rows),
    * handed over snapshotted, before the table is rewritten. */
  type Returning = Option[DataFrame => Unit]
  private def hand(returning: Returning, rows: => DataFrame): Unit =
    returning.foreach(_(rows.localCheckpoint(eager = true)))

  private def splitAssignments(setList: String): Map[String, String] =
    splitTopLevel(setList).map { a =>
      val idx = a.indexOf('=')
      require(idx > 0, s"bad SET assignment: $a")
      (a.substring(0, idx).trim.toLowerCase, a.substring(idx + 1).trim)
    }.toMap

  /** `SET col = DEFAULT` resolves to the column's declared default
    * (recorded by Spark as CURRENT_DEFAULT column metadata) or NULL
    * when none was declared — pg/DuckDB UPDATE surface. */
  private def resolveDefaultSets(schema: org.apache.spark.sql.types.StructType,
      sets: Map[String, String]): Map[String, String] =
    sets.map { case (c, e) =>
      if (e.trim.equalsIgnoreCase("default")) {
        val d = schema.fields.find(_.name.equalsIgnoreCase(c))
          .filter(_.metadata.contains("CURRENT_DEFAULT"))
          .map(_.metadata.getString("CURRENT_DEFAULT"))
          .getOrElse("NULL")
        (c, d)
      } else (c, e)
    }

  /** keyword at paren-depth 0 outside quotes — distinguishes a real
    * `UPDATE … FROM` / `DELETE … USING` clause from the same word
    * inside a subquery or string literal, so unsupported DML shapes
    * fail with a clear message instead of a downstream parse error.
    */
  private def hasTopLevel(s: String, kw: String): Boolean = {
    val low = s.toLowerCase
    val k = kw.toLowerCase
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    var depth = 0; var inS = false; var i = 0
    while (i < low.length) {
      val c = low.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && low.startsWith(k, i) &&
              (i == 0 || !wordChar(low.charAt(i - 1))) &&
              (i + k.length >= low.length || !wordChar(low.charAt(i + k.length))))
            return true
      }
      i += 1
    }
    false
  }

  /** top-level comma split (respects quotes and parens). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var depth = 0; var inS = false
    s.foreach { c =>
      if (inS) { cur += c; if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private val insertConflictRe =
    ("""(?is)^INSERT\s+INTO\s+([\w.]+)\s*(\([^)]*\))?\s+""" +
      """(.+?)\s+ON\s+CONFLICT\s*(?:\(([^)]*)\))?\s*""" +
      """DO\s+(NOTHING|UPDATE\s+SET\s+.+?)\s*;?\s*$""").r

  /** `INSERT … ON CONFLICT (keys) DO NOTHING | DO UPDATE SET …` —
    * DuckDB's upsert, reproduced on copy-on-write tables. Probed
    * contract (DuckDB 1.0):
    *  - DO NOTHING returns the number of rows actually inserted;
    *  - DO UPDATE returns ALL source rows (updated + inserted), and
    *    `excluded.col` in SET references the incoming row;
    *  - duplicate keys WITHIN the batch error in both actions.
    * The conflict target is REQUIRED here (DuckDB can fall back to
    * the table's PRIMARY KEY; this engine strips constraints, so an
    * omitted target errors loudly instead of guessing).
    * In SET expressions, bare target columns resolve through the
    * table's own name as alias; the incoming row is `excluded`.
    *
    * Returns None when the statement is not an ON CONFLICT insert.
    */
  private val insertOrRe =
    """(?is)^INSERT\s+OR\s+(REPLACE|IGNORE)\s+INTO\s+([\w.]+)\s*(\([^)]*\))?\s+(.+?)\s*;?\s*$""".r

  def insertOnConflict(session: SparkSession, sql: String): Option[Long] =
    sql.trim match {
      // DuckDB shorthands over the recorded PRIMARY KEY: OR REPLACE =
      // DO UPDATE of every non-key column from the incoming row
      // (probed: full-row replace, count = all source rows);
      // OR IGNORE = DO NOTHING (count = rows actually inserted)
      case insertOrRe(kind, table, colsOrNull, source) =>
        val keys = graft.TableConstraints.pkOf(table)
          .getOrElse(throw new IllegalArgumentException(
            s"INSERT OR ${kind.toUpperCase} INTO $table: no PRIMARY KEY " +
              "recorded for the table"))
        val action =
          if (kind.equalsIgnoreCase("ignore")) "NOTHING"
          else {
            val genNames = graft.TableConstraints.generatedOf(table)
              .map(_.name.toLowerCase).toSet
            val nonKey = session.table(table).schema.fieldNames
              .filterNot(f => keys.contains(f.toLowerCase) ||
                genNames(f.toLowerCase))
            require(nonKey.nonEmpty,
              s"INSERT OR REPLACE INTO $table: every column is a key")
            "UPDATE SET " + nonKey
              .map(c => s"$c = excluded.`$c`").mkString(", ")
          }
        insertOnConflict(session,
          s"INSERT INTO $table ${Option(colsOrNull).getOrElse("")} " +
            s"$source ON CONFLICT (${keys.mkString(", ")}) DO $action")
      case insertConflictRe(table, colsOrNull, source, keysOrNull, action) =>
        Some(lockFor(table).synchronized {
          val schema = session.table(table).schema
          val keys = Option(keysOrNull).map(splitTopLevel(_).map(_.toLowerCase))
            .orElse(graft.TableConstraints.pkOf(table))
            .getOrElse(throw new IllegalArgumentException(
              s"ON CONFLICT on $table: no conflict target given and no " +
                "PRIMARY KEY recorded for the table"))
          require(keys.nonEmpty, "empty ON CONFLICT target")
          val genNames = graft.TableConstraints.generatedOf(table)
            .map(_.name.toLowerCase).toSet
          val insCols = Option(colsOrNull)
            .map(c => splitTopLevel(c.trim.stripPrefix("(").stripSuffix(")"))
              .map(_.toLowerCase))
            .getOrElse(schema.fieldNames.toSeq.map(_.toLowerCase)
              .filterNot(genNames))
          if (insCols.exists(genNames)) throw new IllegalArgumentException(
            "Binder Error: Cannot insert into a generated column")
          // incoming rows, widened to the full schema (missing → NULL)
          val srcRaw = session.sql(s"SELECT * FROM ($source)")
          require(srcRaw.schema.length == insCols.length,
            s"INSERT supplies ${srcRaw.schema.length} column(s) for " +
              s"${insCols.length} target column(s)")
          // snapshot BEFORE any overwrite of the same table (the COW rule)
          srcRaw.toDF(insCols: _*).localCheckpoint()
            .createOrReplaceTempView("__upsert_in")
          val proj = schema.fields.map { f =>
            if (insCols.contains(f.name.toLowerCase))
              s"CAST(`${f.name.toLowerCase}` AS ${f.dataType.sql}) " +
                s"AS `${f.name}`"
            else s"CAST(NULL AS ${f.dataType.sql}) AS `${f.name}`"
          }.mkString(", ")
          session.sql(s"SELECT $proj FROM __upsert_in")
            .createOrReplaceTempView("excluded")
          // batch-internal duplicate keys error (probed contract)
          val keyList = keys.map(k => s"`$k`").mkString(", ")
          val dups = session.sql(
            s"SELECT count(*) FROM (SELECT $keyList FROM excluded " +
              s"GROUP BY $keyList HAVING count(*) > 1)").collect()(0).getLong(0)
          if (dups > 0) throw new IllegalArgumentException(
            "ON CONFLICT: duplicate key within the inserted batch " +
              "(PRIMARY KEY or UNIQUE constraint violated)")
          // NOT `<=>`: this session's parser speaks the DuckDB dialect,
          // where <=> is list_cosine_similarity
          val on = keys.map(k =>
            s"$table.`$k` IS NOT DISTINCT FROM excluded.`$k`")
            .mkString(" AND ")
          val fresh = session.sql(
            s"SELECT excluded.* FROM excluded LEFT ANTI JOIN $table ON $on")
            .localCheckpoint()
          val nFresh = fresh.count()
          // generated columns in `fresh` are the widened NULLs —
          // recompute, then enforce NOT NULL/CHECK and foreign keys
          // on what lands (key uniqueness is the conflict path's own
          // business above)
          def shaped(df: org.apache.spark.sql.DataFrame) = {
            val out = graft.TableConstraints.regenerate(session, table, df)
            graft.TableConstraints.enforce(table, out)
            graft.TableConstraints.enforceFks(session, table, out)
            out
          }
          if (action.equalsIgnoreCase("nothing")) {
            if (nFresh > 0)
              shaped(fresh).write.mode("append").insertInto(table)
            nFresh
          } else {
            val setList = action.replaceFirst("(?is)^UPDATE\\s+SET\\s+", "")
            val sets: Map[String, String] =
              resolveDefaultSets(schema, splitAssignments(setList))
            val unknown = sets.keySet
              .diff(schema.fieldNames.map(_.toLowerCase).toSet)
            if (unknown.nonEmpty) throw new IllegalArgumentException(
              s"DO UPDATE references unknown column(s): " +
                unknown.mkString(", "))
            graft.TableConstraints.rejectGeneratedSets(table, sets.keySet)
            // target LEFT JOIN incoming on the keys: unmatched rows
            // keep their values, matched rows take the SET exprs. The
            // incoming side is packed into ONE struct column named
            // `excluded`, so `excluded.col` resolves as field access,
            // BARE column names resolve uniquely to the target (no
            // ambiguity), and the match marker is a real column —
            // null-safe for NULL key values (a NULL-keyed incoming row
            // must still update its NULL-keyed target, not vanish).
            import org.apache.spark.sql.functions.{col, expr, lit, struct, when}
            val t = session.table(table).as(table)
            val exCols = session.table("excluded").schema.fieldNames
            val ex = session.table("excluded")
              .select(struct(exCols.map(col): _*).as("excluded"),
                lit(true).as("__m"))
            val joined = t.join(ex,
              keys.map(k => col(s"$table.$k") <=> col(s"excluded.$k"))
                .reduce(_ && _), "left")
            val hitCol = col("__m").isNotNull
            val outCols = schema.fields.map { f =>
              sets.get(f.name.toLowerCase) match {
                case Some(e) =>
                  when(hitCol, expr(e).cast(f.dataType))
                    .otherwise(col(s"$table.${f.name}")).as(f.name)
                case None => col(s"$table.${f.name}").as(f.name)
              }
            }
            // both snapshots exist BEFORE any write; two writes
            // (overwrite updated target, append fresh) sidestep a
            // Union over plans sharing the excluded view's attribute
            // ids, which trips Catalyst's union constraint rewrite
            val rewritten =
              shaped(joined.select(outCols: _*)).localCheckpoint()
            rewritten.write.mode("overwrite").insertInto(table)
            if (nFresh > 0)
              shaped(fresh.toDF(schema.fieldNames.toIndexedSeq: _*)).write
                .mode("append").insertInto(table)
            // DuckDB returns ALL source rows for DO UPDATE (probed)
            session.table("excluded").count()
          }
        })
      case _ => None
    }

  private val insertHeadRe =
    """(?is)\A\s*INSERT\s+INTO\s+([\w."]+)\s*""".r

  /** Plain `INSERT INTO t [(cols)] [BY NAME] source` against a table
    * with recorded NOT NULL / CHECK / generated columns: evaluates
    * the source, widens it to the NON-generated schema (missing
    * columns take their declared DEFAULT or NULL; bare DEFAULT items
    * in VALUES rows resolve positionally), weaves in the generated
    * columns, enforces the constraints (one map-side-combining
    * aggregate pass over the batch), then appends under the table's
    * writer lock. Returns None for unguarded tables — those keep
    * Spark's native INSERT with no extra pass — unless a RETURNING
    * clause wants the landed rows. Error messages are
    * DuckDB's own, pinned by probe (tools/probe_r10h.tsv ddl rows).
    */
  def guardedInsert(session: SparkSession, sql: String,
      returning: Returning = None): Option[Long] = {
    val m = insertHeadRe.findPrefixMatchOf(sql).getOrElse(return None)
    val table = m.group(1)
    if (returning.isEmpty && !graft.TableConstraints.needsGuard(table)) return None
    var rest = sql.substring(m.end).trim.stripSuffix(";").trim
    val schema = session.table(table).schema
    val genSet = graft.TableConstraints.generatedOf(table)
      .map(_.name.toLowerCase).toSet
    val nonGenFields = schema.fields.filterNot(f => genSet(f.name.toLowerCase))
    val bare = table.split('.').last.replace("\"", "")
    // optional explicit column list: a leading paren group whose body
    // is not itself a query
    var colsOpt: Option[Seq[String]] = None
    if (rest.startsWith("(")) {
      val close = graft.SqlRewrites.matchParen(rest, 0)
      require(close > 0, "unbalanced ( in INSERT")
      val inner = rest.substring(1, close).trim
      val head = inner.split("[\\s(,]", 2)(0).toUpperCase
      if (!Set("SELECT", "VALUES", "WITH", "FROM", "TABLE").contains(head)) {
        colsOpt = Some(splitTopLevel(inner).map(
          _.trim.stripPrefix("\"").stripSuffix("\"").toLowerCase))
        rest = rest.substring(close + 1).trim
      }
    }
    val byName = """(?is)\ABY\s+NAME\b""".r.findPrefixMatchOf(rest) match {
      case Some(bm) => rest = rest.substring(bm.end).trim; true
      case None => false
    }
    colsOpt.foreach { cs =>
      if (cs.exists(genSet)) throw new IllegalArgumentException(
        "Binder Error: Cannot insert into a generated column")
      val unknown = cs.toSet.diff(schema.fieldNames.map(_.toLowerCase).toSet)
      require(unknown.isEmpty,
        s"INSERT references unknown column(s): ${unknown.mkString(", ")}")
    }
    val targetCols: Seq[String] =
      colsOpt.getOrElse(nonGenFields.toSeq.map(_.name.toLowerCase))
    val defaultOf: Map[String, String] = schema.fields.map { f =>
      f.name.toLowerCase -> (if (f.metadata.contains("CURRENT_DEFAULT"))
        f.metadata.getString("CURRENT_DEFAULT") else "NULL")
    }.toMap
    // VALUES sources: resolve bare DEFAULT items positionally before
    // the engine evaluates the rows
    val srcSql = """(?is)\AVALUES\b""".r.findPrefixMatchOf(rest) match {
      case Some(vm) =>
        val rows = splitTopLevel(rest.substring(vm.end).trim)
        val fixed = rows.map { r =>
          require(r.startsWith("(") && r.endsWith(")"), s"bad VALUES row: $r")
          splitTopLevel(r.substring(1, r.length - 1)).zipWithIndex.map {
            case (it, k) =>
              if (it.equalsIgnoreCase("default")) {
                if (k >= targetCols.length) throw new IllegalArgumentException(
                  s"Binder Error: table $bare has ${targetCols.length} " +
                    s"columns but ${k + 1} values were supplied")
                defaultOf.getOrElse(targetCols(k), "NULL")
              } else it
          }.mkString("(", ", ", ")")
        }
        "VALUES " + fixed.mkString(", ")
      case None => rest
    }
    Some(lockFor(table).synchronized {
      // evaluate through the engine (DuckDB-dialect sources work) and
      // snapshot BEFORE the append (COW rule: source may read target)
      val srcDf = graft.Engine.query(session, srcSql).localCheckpoint()
      val provided: Seq[(String, String)] =
        if (byName) srcDf.columns.toSeq.map(c => (c.toLowerCase, s"`$c`"))
        else {
          if (srcDf.columns.length != targetCols.length)
            throw new IllegalArgumentException(
              s"Binder Error: table $bare has ${targetCols.length} " +
                s"columns but ${srcDf.columns.length} values were supplied")
          targetCols.zip(srcDf.columns.toSeq.map(c => s"`$c`"))
        }
      if (provided.exists(p => genSet(p._1)))
        throw new IllegalArgumentException(
          "Binder Error: Cannot insert into a generated column")
      val pmap = provided.toMap
      val srcView = s"__graft_ins_src_${viewSeq.incrementAndGet()}"
      srcDf.createOrReplaceTempView(srcView)
      try {
        val proj = nonGenFields.map { f =>
          pmap.get(f.name.toLowerCase) match {
            case Some(c) => s"CAST($c AS ${f.dataType.sql}) AS `${f.name}`"
            case None => s"CAST((${defaultOf(f.name.toLowerCase)}) AS " +
              s"${f.dataType.sql}) AS `${f.name}`"
          }
        }.mkString(", ")
        val nonGenDf = session.sql(s"SELECT $proj FROM $srcView")
        val full = graft.TableConstraints
          .withGenerated(session, table, nonGenDf).localCheckpoint()
        graft.TableConstraints.enforce(table, full)
        graft.TableConstraints.enforceKeysAppend(session, table, full)
        val n = full.count()
        returning.foreach(_(full))
        full.write.mode("append").insertInto(table)
        n
      } finally session.catalog.dropTempView(srcView)
    })
  }

  def delete(session: SparkSession, sql: String,
      returning: Returning = None): Long = sql.trim match {
    // pg/DuckDB `DELETE FROM t USING u WHERE pred` — the predicate
    // correlates target and source rows; a target row dies when ANY
    // source row matches (EXISTS semantics, like pg). Evaluated as a
    // FLAT join — NOT a correlated-EXISTS rewrite, whose inner scope
    // would silently bind a bare ambiguous column to the USING table
    // (pg errors on ambiguity; the flat join reproduces that).
    case deleteUsingRe(table, using, where) => lockFor(table).synchronized {
      val tAlias = table.split('.').last
      session.sql(s"SELECT *, monotonically_increasing_id() AS __rid " +
        s"FROM $table").localCheckpoint()
        .createOrReplaceTempView("__del_t")
      val doomed = session.sql(
        s"SELECT DISTINCT $tAlias.__rid AS __rid FROM __del_t $tAlias " +
          s"JOIN $using ON coalesce(CAST(($where) AS BOOLEAN), false)")
        .localCheckpoint()
      doomed.createOrReplaceTempView("__del_hit")
      hand(returning, session.sql(s"SELECT * FROM __del_t WHERE __rid IN " +
        s"(SELECT __rid FROM __del_hit)").drop("__rid"))
      val n = doomed.count()
      if (n > 0) {
        graft.TableConstraints.enforceRestrict(session, table,
          session.sql(s"SELECT * FROM __del_t WHERE __rid IN " +
            s"(SELECT __rid FROM __del_hit)").drop("__rid"))
        val keep = session.sql(
          s"SELECT * FROM __del_t WHERE __rid NOT IN " +
            s"(SELECT __rid FROM __del_hit)")
          .drop("__rid")
          .localCheckpoint()
        keep.write.mode("overwrite").insertInto(table)
      }
      n
    }
    case deleteRe(table, whereOrNull) => lockFor(table).synchronized {
      val pred = matchPred(Option(whereOrNull))
      hand(returning, session.sql(s"SELECT * FROM $table WHERE $pred"))
      val n = session.sql(s"SELECT count(*) FROM $table WHERE $pred")
        .collect()(0).getLong(0)
      if (n > 0) {
        graft.TableConstraints.enforceRestrict(session, table,
          session.sql(s"SELECT * FROM $table WHERE $pred"))
        val keep = session.sql(s"SELECT * FROM $table WHERE NOT $pred")
          .localCheckpoint() // snapshot BEFORE overwriting the source
        keep.write.mode("overwrite").insertInto(table)
      }
      n
    }
    // a top-level USING that the specific arm didn't match (several
    // source tables, or no WHERE) — name the unsupported shape rather
    // than failing with a generic syntax message
    case s if hasTopLevel(s, "using") => throw new IllegalArgumentException(
      "DELETE ... USING supports a single source table (optionally " +
        "aliased) and requires a WHERE clause; rewrite multi-table " +
        "USING as a subquery in the predicate")
    case _ => throw new IllegalArgumentException(
      "DELETE syntax: DELETE FROM table [USING source WHERE predicate | " +
        "WHERE predicate]")
  }

  def update(session: SparkSession, sql: String,
      returning: Returning = None): Long = sql.trim match {
    // pg/DuckDB `UPDATE t SET … FROM u WHERE pred`: SET expressions
    // may reference source columns. pg picks an ARBITRARY source row
    // when several match one target row; this engine errors loudly
    // instead (deterministic-or-loud, the house rule).
    case updateFromRe(table, setList, using, where) =>
      lockFor(table).synchronized {
        val schema = session.table(table).schema
        val sets: Map[String, String] =
          resolveDefaultSets(schema, splitAssignments(setList))
        val unknown = sets.keySet
          .diff(schema.fieldNames.map(_.toLowerCase).toSet)
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"UPDATE references unknown column(s): ${unknown.mkString(", ")}")
        graft.TableConstraints.rejectGeneratedSets(table, sets.keySet)
        // aliases: the predicate and SET exprs reference the TARGET by
        // its table name and the SOURCE by its name-or-alias, so the
        // rewrite re-uses exactly those names
        val tAlias = table.split('.').last
        val uParts = using.trim.split("\\s+")
        val uName = uParts.head
        val uAlias = if (uParts.length > 1) uParts(1)
          else uName.split('.').last
        // snapshot target with a row id; detect ambiguous matches
        session.sql(s"SELECT *, monotonically_increasing_id() AS __rid " +
          s"FROM $table").localCheckpoint()
          .createOrReplaceTempView("__upd_t")
        val dup = session.sql(
          s"SELECT count(*) FROM (SELECT $tAlias.__rid " +
            s"FROM __upd_t $tAlias JOIN $using " +
            s"ON CAST(($where) AS BOOLEAN) " +
            s"GROUP BY $tAlias.__rid HAVING count(*) > 1)")
          .collect()(0).getLong(0)
        if (dup > 0) throw new IllegalArgumentException(
          "UPDATE ... FROM: multiple source rows match a target row " +
            "(pg would pick one arbitrarily; this engine refuses)")
        val hit = s"($uAlias.__m IS NOT NULL)"
        val proj = schema.fields.map { f =>
          sets.get(f.name.toLowerCase) match {
            case Some(e) =>
              s"CASE WHEN $hit THEN CAST(($e) AS ${f.dataType.sql}) " +
                s"ELSE $tAlias.`${f.name}` END AS `${f.name}`"
            case None => s"$tAlias.`${f.name}` AS `${f.name}`"
          }
        }.mkString(", ")
        hand(returning, graft.TableConstraints.regenerate(session, table,
          session.sql(s"SELECT $proj FROM __upd_t $tAlias JOIN " +
            s"(SELECT *, true AS __m FROM $uName) $uAlias " +
            s"ON CAST(($where) AS BOOLEAN)").drop("__rid")))
        val n = session.sql(
          s"SELECT count(*) FROM __upd_t $tAlias JOIN $using " +
            s"ON CAST(($where) AS BOOLEAN)").collect()(0).getLong(0)
        if (n > 0) {
          // a key-move away from a referenced value is a restricted
          // disappearance, like DELETE (probed)
          if (graft.TableConstraints.referencingFks(table)
              .exists(_._2.parentCols.exists(sets.keySet)))
            graft.TableConstraints.enforceRestrict(session, table,
              session.sql(s"SELECT $tAlias.* FROM __upd_t $tAlias " +
                s"JOIN $using ON CAST(($where) AS BOOLEAN)")
                .drop("__rid"))
          val updated = graft.TableConstraints.regenerate(session, table,
            session.sql(
              s"SELECT $proj FROM __upd_t $tAlias LEFT JOIN " +
                s"(SELECT *, true AS __m FROM $uName) $uAlias " +
                s"ON CAST(($where) AS BOOLEAN)")
              .drop("__rid"))
            .localCheckpoint()
          graft.TableConstraints.enforce(table, updated)
          graft.TableConstraints.enforceKeysRewrite(session, table,
            updated, sets.keySet)
          updated.write.mode("overwrite").insertInto(table)
        }
        n
      }
    // a top-level FROM the specific arm didn't match (no WHERE, or a
    // multi-table source list) — MUST precede the general arm, which
    // would silently absorb `FROM u` into the last SET expression
    case s if hasTopLevel(s, "from") => throw new IllegalArgumentException(
      "UPDATE ... FROM supports a single source table (optionally " +
        "aliased) and requires a WHERE clause; rewrite multi-table " +
        "sources as a subquery in the SET/WHERE expressions")
    case updateRe(table, setList, whereOrNull) => lockFor(table).synchronized {
      val pred = matchPred(Option(whereOrNull))
      val schema = session.table(table).schema
      val sets: Map[String, String] =
        resolveDefaultSets(schema, splitAssignments(setList))
      val unknown = sets.keySet.diff(schema.fieldNames.map(_.toLowerCase).toSet)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"UPDATE references unknown column(s): ${unknown.mkString(", ")}")
      graft.TableConstraints.rejectGeneratedSets(table, sets.keySet)
      val proj = schema.fields.map { f =>
        sets.get(f.name.toLowerCase) match {
          case Some(e) =>
            // cast to the column type (DuckDB-style assignment cast)
            s"CASE WHEN $pred THEN CAST(($e) AS ${f.dataType.sql}) " +
              s"ELSE ${f.name} END AS ${f.name}"
          case None => f.name
        }
      }.mkString(", ")
      hand(returning, graft.TableConstraints.regenerate(session, table,
        session.sql(s"SELECT $proj FROM $table WHERE $pred")))
      val n = session.sql(s"SELECT count(*) FROM $table WHERE $pred")
        .collect()(0).getLong(0)
      if (n > 0) {
        if (graft.TableConstraints.referencingFks(table)
            .exists(_._2.parentCols.exists(sets.keySet)))
          graft.TableConstraints.enforceRestrict(session, table,
            session.sql(s"SELECT * FROM $table WHERE $pred"))
        val updated = graft.TableConstraints.regenerate(session, table,
          session.sql(s"SELECT $proj FROM $table")).localCheckpoint()
        graft.TableConstraints.enforce(table, updated)
        graft.TableConstraints.enforceKeysRewrite(session, table,
          updated, sets.keySet)
        updated.write.mode("overwrite").insertInto(table)
      }
      n
    }
    case _ => throw new IllegalArgumentException(
      "UPDATE syntax: UPDATE table SET col = expr[, ...] [WHERE predicate]")
  }
}
