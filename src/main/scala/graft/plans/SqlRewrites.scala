package graft

/** String-level pre-pass for pg/DuckDB dialect sugar Spark SQL lacks
  * (SURVEY §7 M4). Conservative: each rewrite only fires on patterns
  * Spark would otherwise reject, so valid Spark SQL passes through
  * byte-identical.
  *
  * Rewrites:
  *  - `FROM generate_series(a,b[,step])` → lateral explode(sequence)
  *  - pg type aliases in cast position (`::float8`, `CAST(x AS int8)`)
  *  - JSON arrows `expr ->> 'k'` / `expr -> 'k'` → get_json_object
  *  - `QUALIFY <pred>` → predicate injected into the main select's
  *    projection (full FROM scope, like DuckDB) + outer WHERE on the
  *    synthetic column; whole-query wrap as fallback for set ops
  *  - bare file-path tables `FROM 'f.parquet'` → reader TVFs
  */
object SqlRewrites {

  /** `FROM generate_series(a, b [, step])` (DuckDB/pg table function;
    * reference README.md:54, client/go/cmd/simple/main.go:27 —
    * inclusive bounds) → lateral explode of Spark's `sequence`.
    */
  private val genSeries =
    ("""(?i)(from|join)\s+generate_series\s*\(([^()]*)\)""" +
      """(\s+(?:as\s+)?(\w+)(?:\s*\(\s*(\w+)\s*\))?)?""").r
  /** CTE materialization hints — Spark picks its own strategy */
  private val cteMaterialized =
    """(?i)\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(""".r
  /** the GLOB keyword operator ≡ `~~~`, respelled before the operator
    * pass lowers that to duck_glob; the file-listing TVF `FROM
    * glob(...)` is guarded by the no-following-paren lookahead +
    * from/join lookbehinds */
  private val globKeyword =
    """(?i)(?<!\bfrom\s)(?<!\bjoin\s)\bGLOB\b(?!\s*\()""".r
  /** `x::UUID` / `CAST(x AS UUID)` — Spark has no UUID type; lowered
    * onto graft_uuid (canonicalizing VARCHAR model, loud on invalid
    * text like DuckDB's ConversionError; typeof divergence doc'd) */
  private val uuidPostfixCast =
    """(?i)('(?:[^']|'')*'|[\w."]+)\s*::\s*UUID\b""".r
  private val uuidCastAsRe =
    """(?i)\b(CAST|TRY_CAST)\s*\(\s*([^()]+?)\s+AS\s+UUID\s*\)""".r

  /** DuckDB 3-arg date functions with a QUOTED unit — the spelling
    * Spark's parser special-cases away from the registry.
    */
  private val duckDateFn =
    """(?i)\b(date_diff|datediff|date_sub|datesub)\s*\(\s*'""".r

  /** DuckDB reader options (`read_csv('f', delim='|')`): `name=value`
    * must become Spark's named-argument form `name => value`, because
    * a TVF argument containing an unresolved column (which is how
    * `delim=...` parses) fails analysis before the builder ever runs.
    */
  private val csvCall =
    """(?i)\b(read_(?:csv|json|ndjson)(?:_auto)?)\s*\(((?:[^()']|'[^']*'|\((?:[^()']|'[^']*')*\))*)\)""".r
  private val csvNamedArg = """([(,]\s*)(\w+)\s*=(?![=>])""".r

  /** DuckDB list-of-paths literal (`read_parquet(['a','b'])`) —
    * `[...]` is not Spark syntax; lower it to `array(...)`.
    */
  private val readerListArg =
    """(?i)\b(read_(?:parquet|csv(?:_auto)?|json))\s*\(\s*\[([^\]]*)\]""".r

  private val pgTypeAliases = Map(
    "int2" -> "smallint", "int4" -> "int", "int8" -> "bigint",
    "float4" -> "float", "float8" -> "double", "bool" -> "boolean",
    "bytea" -> "binary",
    // bare VARCHAR (no length) — legal in pg/DuckDB, a parse error in
    // Spark; the parenthesized VARCHAR(n) form is excluded by the
    // regexes (castAs demands a `)` next, castOp a non-`(`)
    "varchar" -> "string",
    // session TZ is pinned UTC, so the tz-qualified types collapse
    // onto their plain spellings; BLOB is Spark binary, and BIT is
    // graft's '0'/'1'-string model (functions/ bitstring vocabulary)
    "timestamptz" -> "timestamp", "timetz" -> "time",
    // storage-granularity timestamps collapse onto micros
    "timestamp_s" -> "timestamp", "timestamp_ms" -> "timestamp",
    "timestamp_ns" -> "timestamp",
    "blob" -> "binary", "bit" -> "string",
    // JSON is modeled as STRING (json() returns canonical text)
    "json" -> "string")
  private val aliasAlt = pgTypeAliases.keys.mkString("|")

  /** map a pg/DuckDB type NAME to Spark's (bare names only — used by
    * the column-DDL rebuild path). */
  def mapTypeName(t: String): String =
    pgTypeAliases.getOrElse(t.trim.toLowerCase, t.trim)
  /** DuckDB star modifier `* EXCLUDE (cols)` → Spark's `* EXCEPT (cols)`
    * (bare or table-qualified `t.* EXCLUDE (...)`).
    */
  private val starExclude = """(?i)\*\s+EXCLUDE\s*\(""".r

  /** DuckDB EXTRACT fields Spark's EXTRACT lacks (or defines with
    * different semantics — dow/dayofweek are Sun=0 in DuckDB, Sun=1
    * in Spark): lowered onto the registered DuckDB-semantic scalar
    * functions. `EXTRACT(field FROM x)` → `field_fn(x)` — replacing
    * `EXTRACT(field FROM` with `fn(` keeps the paren balance.
    */
  private[graft] val extractFieldMap: Map[String, String] = Map(
    "epoch" -> "epoch", "julian" -> "julian", "era" -> "era",
    "millennium" -> "millennium", "millenniums" -> "millennium",
    "millennia" -> "millennium",
    "century" -> "century", "centuries" -> "century",
    "decade" -> "decade", "decades" -> "decade",
    "microsecond" -> "microsecond", "microseconds" -> "microsecond",
    "millisecond" -> "millisecond", "milliseconds" -> "millisecond",
    "isodow" -> "isodow", "isoyear" -> "isoyear",
    "weekday" -> "weekday", "yearweek" -> "yearweek",
    "dow" -> "dayofweek", "dayofweek" -> "dayofweek",
    "timezone" -> "timezone")
  private val extractRe =
    """(?i)\bEXTRACT\s*\(\s*(\w+)\s+FROM\s""".r

  /** ANSI OFFSET/FETCH row-limiting (DuckDB accepts it) → LIMIT/OFFSET. */
  private val offsetFetchRe =
    """(?i)\bOFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b""".r
  private val fetchOnlyRe =
    """(?i)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b""".r
  private val offsetRowsRe = """(?i)\bOFFSET\s+(\d+)\s+ROWS?\b""".r

  /** DuckDB TABLESAMPLE methods: bernoulli/system(x%) are
    * percentage samples, reservoir(n) without % is an exact row
    * count; all lower onto Spark's TABLESAMPLE (engine RNG differs —
    * the USING SAMPLE precedent, CompatSpec-gated).
    */
  /** `x AT TIME ZONE z` operand forms: a TIMESTAMP[TZ] literal, an
    * identifier chain, or one non-nested call; zone = string literal
    * or identifier. */
  /** DuckDB allows omitting WHERE in the aggregate FILTER clause:
    * `count(*) FILTER (x > 1)`. The clause always follows the
    * aggregate's closing paren — the list-HOF `filter(arr, λ)` never
    * does, so the lookbehind keeps it untouched. */
  private val filterNoWhere =
    """(?i)(?<=\))(\s*FILTER\s*\(\s*)(?!WHERE\b)""".r

  /** timezone(zone, TIMESTAMPTZ '...') — dispatched pre-collapse */
  private val timezoneTstz =
    ("""(?is)\btimezone\s*\(\s*('(?:[^']|'')*'|[\w.]+)\s*,\s*""" +
      """TIMESTAMPTZ\s*('[^']*')\s*\)""").r

  private val atTimeZoneRe =
    ("""(?is)(TIMESTAMPTZ\s*'[^']*'|TIMESTAMP\s*'[^']*'|""" +
      """[\w.$]+(?:\([^()]*\))?)\s+AT\s+TIME\s+ZONE\s+""" +
      """('(?:[^']|'')*'|[\w.]+)""").r

  private val tablesampleMethodRe =
    """(?i)\bTABLESAMPLE\s+(bernoulli|system|reservoir)\s*\(\s*(\d+(?:\.\d+)?)\s*(%|PERCENT)?\s*\)""".r

  /** CREATE TABLE constraint surface: PRIMARY KEY / UNIQUE / CHECK /
    * REFERENCES are accepted and STRIPPED (DuckDB enforces them; this
    * engine records no constraints — documented divergence, the
    * accept-don't-enforce posture of CREATE INDEX). Bare VARCHAR
    * column types map to STRING. Only fires on CREATE … TABLE.
    */
  private val colConstraintRe =
    """(?i)\s+(PRIMARY\s+KEY|UNIQUE(?!\s*\()|REFERENCES\s+\w+(?:\.\w+)?(?:\s*\([^()]*\))?|CHECK\s*\((?:[^()]|\([^()]*\))*\))""".r
  private val tableConstraintRe =
    ("""(?i),\s*(?:CONSTRAINT\s+\w+\s+)?(?:(?:PRIMARY\s+KEY|UNIQUE|""" +
      """FOREIGN\s+KEY)\s*\([^()]*\)(?:\s*REFERENCES\s+\w+""" +
      """(?:\s*\([^()]*\))?)?|CHECK\s*\((?:[^()]|\([^()]*\))*\))""").r
  // NOT "text": the fixture schema itself has a column named text
  private val ddlVarcharRe = """(?i)\bVARCHAR\b(?!\s*\()""".r

  private val createTableNameRe =
    ("""(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?""" +
      """TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w."]+)""").r
  private val tablePkRe = """(?i)\bPRIMARY\s+KEY\s*\(([^()]*)\)""".r
  private val colPkRe = """(?i)^\s*"?([\w]+)"?\s+.*\bPRIMARY\s+KEY\b""".r

  /** blank quoted literals and comments with spaces (index-stable:
    * paren positions found in the blanked copy index into the raw
    * text) — `v VARCHAR DEFAULT 'primary key'` must not record a
    * bogus key. */
  private def blankLiterals(raw: String): String = {
    val bodyArr = raw.toCharArray
    var bi = 0
    while (bi < bodyArr.length) {
      val c = bodyArr(bi)
      if (c == '\'') {
        bi += 1
        var done = false
        while (!done && bi < bodyArr.length) {
          if (bodyArr(bi) == '\'') {
            if (bi + 1 < bodyArr.length && bodyArr(bi + 1) == '\'') {
              bodyArr(bi) = ' '; bodyArr(bi + 1) = ' '; bi += 2
            } else { done = true; bi += 1 }
          } else { bodyArr(bi) = ' '; bi += 1 }
        }
      } else if (c == '-' && bi + 1 < bodyArr.length &&
          bodyArr(bi + 1) == '-') {
        while (bi < bodyArr.length && bodyArr(bi) != '\n') {
          bodyArr(bi) = ' '; bi += 1
        }
      } else if (c == '/' && bi + 1 < bodyArr.length &&
          bodyArr(bi + 1) == '*') {
        val e = raw.indexOf("*/", bi + 2)
        val until = if (e < 0) bodyArr.length else e + 2
        while (bi < until) { bodyArr(bi) = ' '; bi += 1 }
      } else bi += 1
    }
    new String(bodyArr)
  }

  private val colNotNullRe =
    """(?i)^\s*"?([\w]+)"?\s+.*\bNOT\s+NULL\b""".r
  private val checkOpenRe = """(?i)\bCHECK\s*\(""".r

  /** Capture a CREATE TABLE's constraints into [[TableConstraints]]
    * before the strip discards the syntax: PRIMARY KEY (table-level
    * `PRIMARY KEY (a, b)` or a column-level suffix), NOT NULL columns
    * (explicit + PK-implied, like DuckDB), and CHECK expressions
    * (column- or table-level, raw text). Called from Engine.query on
    * the ORIGINAL statement text — once per user statement, not at
    * the parser seam. CTAS statements (`CREATE TABLE t AS …`) have no
    * column-def list and are skipped entirely — the guard is that the
    * first '(' must directly follow the table name.
    */
  def recordPrimaryKey(sql: String): Unit =
    createTableNameRe.findFirstMatchIn(sql).foreach { m =>
      val table = m.group(1)
      TableConstraints.clear(table) // re-create resets; re-record below
      // the column-list body: first '(' after the name to its match
      val open = sql.indexOf('(', m.end)
      if (open >= 0 && sql.substring(m.end, open).trim.isEmpty) {
        val close = matchParen(sql, open)
        if (close > open) {
          val raw = sql.substring(open + 1, close)
          val body = blankLiterals(raw)
          val cols = tablePkRe.findFirstMatchIn(body)
            .map(t => splitTop(t.group(1)).map(_.trim))
            .orElse {
              val hits = splitTop(body).flatMap(seg =>
                colPkRe.findFirstMatchIn(seg).map(_.group(1)))
              if (hits.nonEmpty) Some(hits) else None
            }
          cols.filter(_.nonEmpty)
            .foreach(cs => TableConstraints.recordPk(table, cs))
          // NOT NULL columns: explicit suffixes (CHECK spans blanked
          // first so `CHECK (a IS NOT NULL)` can't false-record) plus
          // the PK columns (DuckDB: PK implies NOT NULL)
          val segs = splitTop(body)
          val nn = segs.flatMap { seg =>
            val noCheck = checkOpenRe.findFirstMatchIn(seg) match {
              case Some(cm) =>
                val co = cm.end - 1
                val cc = matchParen(seg, co)
                if (cc > co) seg.substring(0, co) + seg.substring(cc + 1)
                else seg
              case None => seg
            }
            colNotNullRe.findFirstMatchIn(noCheck).map(_.group(1))
          }
          val pkCols = cols.getOrElse(Nil).map(_.replace("\"", ""))
          TableConstraints.recordNotNull(table, nn ++ pkCols)
          // CHECK expressions: positions found on the blanked body
          // index into the raw body (blanking is length-preserving)
          val checkExprs = checkOpenRe.findAllMatchIn(body).toSeq.flatMap { cm =>
            val co = cm.end - 1
            val cc = matchParen(body, co)
            if (cc > co) Some(raw.substring(co + 1, cc).trim) else None
          }
          // raw text for the catalog, Spark dialect for enforcement
          TableConstraints.recordChecks(table, checkExprs.map(e =>
            TableConstraints.Chk(e, rewriteExprText(e))))
          // UNIQUE keysets (table-level lists + column suffixes) and
          // FOREIGN KEY edges (both spellings; bare REFERENCES parent
          // resolves to the parent's recorded PRIMARY KEY, like DuckDB)
          val uqSets = Seq.newBuilder[Seq[String]]
          val fkList = Seq.newBuilder[TableConstraints.Fk]
          segs.foreach { seg =>
            tableUniqueRe.findFirstMatchIn(seg) match {
              case Some(u) =>
                uqSets += splitTop(u.group(1))
                  .map(_.trim.replace("\"", ""))
              case None =>
                tableFkRe.findFirstMatchIn(seg) match {
                  case Some(f) =>
                    fkList += fkOf(splitTop(f.group(1))
                        .map(_.trim.replace("\"", "")),
                      f.group(2), Option(f.group(3)))
                  case None =>
                    val noCheck = checkOpenRe.findFirstMatchIn(seg) match {
                      case Some(cm) =>
                        val co = cm.end - 1
                        val cc = matchParen(seg, co)
                        if (cc > co) seg.substring(0, co) +
                          seg.substring(cc + 1)
                        else seg
                      case None => seg
                    }
                    colUniqueRe.findFirstMatchIn(noCheck).foreach(u =>
                      uqSets += Seq(u.group(1)))
                    colFkRe.findFirstMatchIn(noCheck).foreach(f =>
                      fkList += fkOf(Seq(f.group(1)), f.group(2),
                        Option(f.group(3))))
                }
            }
          }
          TableConstraints.recordUniques(table, uqSets.result())
          TableConstraints.recordFks(table, fkList.result())
        }
      }
    }

  private val tableUniqueRe =
    """(?i)^\s*(?:CONSTRAINT\s+\w+\s+)?UNIQUE\s*\(([^()]*)\)""".r
  private val tableFkRe =
    ("""(?i)^\s*(?:CONSTRAINT\s+\w+\s+)?FOREIGN\s+KEY\s*""" +
      """\(([^()]*)\)\s*REFERENCES\s+([\w."]+)(?:\s*\(([^()]*)\))?""").r
  private val colUniqueRe =
    """(?i)^\s*"?([\w]+)"?\s+.*\bUNIQUE\b""".r
  private val colFkRe =
    ("""(?i)^\s*"?([\w]+)"?\s+.*?\bREFERENCES\s+""" +
      """([\w."]+)(?:\s*\(([^()]*)\))?""").r

  private def fkOf(cols: Seq[String], parent: String,
      parentColsOpt: Option[String]): TableConstraints.Fk = {
    val pCols = parentColsOpt
      .map(pc => splitTop(pc).map(_.trim.replace("\"", "")))
      .getOrElse(TableConstraints.pkOf(parent).getOrElse(
        throw new IllegalArgumentException(
          s"REFERENCES $parent without columns: the referenced table " +
            "has no recorded PRIMARY KEY")))
    require(pCols.length == cols.length,
      s"FOREIGN KEY column count (${cols.length}) does not match the " +
        s"referenced key (${pCols.length})")
    TableConstraints.Fk(cols, parent, pCols)
  }

  /** rewrite a bare DuckDB-dialect scalar expression to Spark SQL by
    * round-tripping it through the full statement pass — recorded
    * CHECK / generated-column expressions are evaluated later via
    * Spark's own `expr`, which speaks only the stock dialect. */
  def rewriteExprText(e: String): String =
    rewriteFull(s"SELECT ($e)").trim.replaceFirst("(?is)\\ASELECT\\s*", "")

  private val genColFullRe =
    ("""(?is)^\s*("?[\w]+"?)(?:\s+((?!GENERATED\b)[A-Za-z_]\w*""" +
      """(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\[\])?))?""" +
      """\s+GENERATED\s+ALWAYS\s+AS\s*\(""").r
  private val genColShortRe =
    ("""(?is)^\s*("?[\w]+"?)(?:\s+((?!AS\b)[A-Za-z_]\w*""" +
      """(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\[\])?))?\s+AS\s*\(""").r

  /** Parse generated-column definitions out of a CREATE TABLE
    * (`g [type] [GENERATED ALWAYS] AS (expr) [VIRTUAL]` — both DuckDB
    * spellings). Returns the statement with the generated segments
    * REPLACED (typed → plain column, untyped → removed; Engine adds
    * untyped ones back with the inferred type via a table rebuild),
    * plus the records. None when the statement has no generated
    * columns. STORED refuses with DuckDB's own message.
    */
  def extractGeneratedColumns(sql: String)
      : Option[(String, String, Seq[TableConstraints.GenCol])] = {
    val m = createTableNameRe.findFirstMatchIn(sql).getOrElse(return None)
    val table = m.group(1)
    val open = sql.indexOf('(', m.end)
    if (open < 0 || sql.substring(m.end, open).trim.nonEmpty) return None
    val close = matchParen(sql, open)
    if (close < open) return None
    val raw = sql.substring(open + 1, close)
    if ("""(?i)\bAS\s*\(""".r.findFirstIn(blankLiterals(raw)).isEmpty)
      return None
    val segs = splitTop(raw)
    val outSegs = Seq.newBuilder[String]
    val gens = Seq.newBuilder[TableConstraints.GenCol]
    var colIdx = 0
    val tableLevel =
      """(?is)^\s*(PRIMARY|UNIQUE|FOREIGN|CHECK|CONSTRAINT)\b""".r
    segs.foreach { seg =>
      val blanked = blankLiterals(seg)
      if (tableLevel.findFirstIn(blanked).isDefined) outSegs += seg
      else {
        val hit = genColFullRe.findFirstMatchIn(blanked)
          .orElse(genColShortRe.findFirstMatchIn(blanked))
        hit match {
          case Some(g) =>
            val name = g.group(1).replace("\"", "")
            val declared = Option(g.group(2)).map(_.trim)
            val exOpen = g.end - 1
            val exClose = matchParen(blanked, exOpen)
            require(exClose > exOpen, s"unbalanced generated column $name")
            val exprText = seg.substring(exOpen + 1, exClose).trim
            val suffix = blanked.substring(exClose + 1).trim
            if (suffix.equalsIgnoreCase("stored"))
              throw new IllegalArgumentException(
                "Can not create a STORED generated column!")
            require(suffix.isEmpty || suffix.equalsIgnoreCase("virtual"),
              s"unsupported generated-column suffix: $suffix")
            gens += TableConstraints.GenCol(name,
              rewriteExprText(exprText), declared, colIdx)
            declared.foreach(t => outSegs += s"$name $t")
          case None => outSegs += seg
        }
        colIdx += 1
      }
    }
    val found = gens.result()
    if (found.isEmpty) None
    else {
      val kept = outSegs.result()
      require(kept.exists(s =>
          tableLevel.findFirstIn(blankLiterals(s)).isEmpty),
        "a table needs at least one non-generated column")
      val clean = sql.substring(0, open + 1) + kept.mkString(", ") +
        sql.substring(close)
      Some((clean, table, found))
    }
  }

  /** DuckDB numeric-literal digit separators: `1_000_000`. Token must
    * START at a non-word boundary with a digit (identifiers like
    * `col1_2` stay); fractional runs after `.` rewrite too.
    */
  private val numUnderscore = """(?<!\w)(\d[\d_]*\d)(?!\w)""".r

  /** DuckDB `A POSITIONAL JOIN B`: pairs rows by position, NULL-
    * padding the shorter side (probed: uneven inputs keep every row).
    * Lowered to a FULL JOIN on per-side row_number over the input
    * order (monotonically_increasing_id — Spark's notion of scan
    * order). Output row ORDER is not guaranteed (standard SQL
    * posture; DuckDB preserves it — ORDER BY for determinism). The
    * helper columns are hidden from the select list's stars
    * ([[hideHelpers]]). One per statement; chains error loudly rather
    * than mis-scope.
    */
  private val positionalJoinRe = """(?i)\bPOSITIONAL\s+JOIN\b""".r

  def rewritePositionalJoin(sql: String): String = {
    val ms = positionalJoinRe.findAllMatchIn(sql).toList
    if (ms.isEmpty) return sql
    if (ms.length > 1) throw new IllegalArgumentException(
      "POSITIONAL JOIN: one per statement is supported; nest subqueries")
    val m = ms.head
    // left relation: back to the nearest FROM / JOIN / comma of the
    // query block that holds the join (one start per open paren group)
    var i = 0; var inS = false
    val starts = scala.collection.mutable.Stack(-1)
    while (i < m.start) {
      val c = sql.charAt(i)
      if (inS) { if (c == '\'') inS = false; i += 1 }
      else c match {
        case '\'' => inS = true; i += 1
        case '(' => starts.push(-1); i += 1
        case ')' => if (starts.size > 1) starts.pop(); i += 1
        case ',' => starts.update(0, i + 1); i += 1
        case _ =>
          if (kwAt(sql, i, "FROM") || kwAt(sql, i, "JOIN")) {
            starts.update(0, i + 4); i += 4
          } else i += 1
      }
    }
    val lStart = starts.top
    if (lStart < 0) throw new IllegalArgumentException(
      "POSITIONAL JOIN: could not locate the left relation")
    val left = sql.substring(lStart, m.start).trim
    // right relation: forward to the next depth-0 clause boundary
    val stopKw = Seq("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
      "OFFSET", "UNION", "EXCEPT", "INTERSECT", "QUALIFY", "WINDOW",
      "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "ON", "USING")
    var j = m.end; var depth = 0; inS = false
    var rEnd = -1
    while (j < sql.length && rEnd < 0) {
      val c = sql.charAt(j)
      if (inS) { if (c == '\'') inS = false; j += 1 }
      else c match {
        case '\'' => inS = true; j += 1
        case '(' => depth += 1; j += 1
        case ')' if depth == 0 => rEnd = j
        case ')' => depth -= 1; j += 1
        case ';' | ',' if depth == 0 => rEnd = j
        case _ =>
          if (depth == 0 && stopKw.exists(kwAt(sql, j, _))) rEnd = j
          else j += 1
      }
    }
    if (rEnd < 0) rEnd = sql.length
    val right = sql.substring(m.end, rEnd).trim
    // each side keeps the name it is referenced by (`a.x` over
    // `(VALUES (1)) a(x)`, `t.c` over a bare `t`); a side without one
    // gets a helper name
    def nameOf(rel: String, helper: String): String = rel match {
      case relAliasRe(_, alias) if !SqlKeywords(alias.toUpperCase) => alias
      case bareTableRe() => rel.split('.').last
      case _ => helper
    }
    val (la, ra) = (nameOf(left, "__pjlt"), nameOf(right, "__pjrt")) match {
      case (l, r) if l.equalsIgnoreCase(r) => ("__pjlt", "__pjrt")
      case names => names
    }
    def side(rel: String, col: String, alias: String) =
      s"(SELECT *, row_number() OVER (ORDER BY " +
        s"monotonically_increasing_id()) AS $col FROM $rel) $alias"
    val repl = side(left, "__pjl", la) + " FULL JOIN " +
      side(right, "__pjr", ra) + s" ON $la.__pjl = $ra.__pjr"
    hideHelpers(sql.substring(0, lStart) + " " + repl + " " +
      sql.substring(rEnd), lStart, Seq(la -> "__pjl", ra -> "__pjr"))
  }
  /** a relation's trailing `[AS] name [(columns)]` */
  private val relAliasRe =
    """(?is)(.*[\w)\]'"`])\s+(?:AS\s+)?([A-Za-z_]\w*)\s*(?:\([^()]*\))?""".r
  private val bareTableRe = """[A-Za-z_][\w.]*""".r
  private val SqlKeywords = Set("TABLESAMPLE", "LATERAL", "NATURAL", "AS")

  /** Keep a join rewrite's helper columns, each `(qualifier, name)`,
    * out of every output. They can surface only through a star in the
    * select list of the query block whose FROM clause holds `at`: a
    * `*` gets `EXCEPT (q.name, …)`, a `q.*` gets `EXCEPT (name)`, and
    * an EXCEPT/EXCLUDE list already there grows. */
  private def hideHelpers(sql: String, at: Int,
      helpers: Seq[(String, String)]): String = {
    // that block's SELECT: back from `at` at paren depth 0
    val spans = quotedSpans(sql)
    var i = at - 1; var depth = 0; var sel = -1
    while (i >= 0 && sel < 0) {
      spans.find(sp => i >= sp._1 && i < sp._2) match {
        case Some((st, _)) => i = st
        case None => sql.charAt(i) match {
          case ')' => depth += 1
          case '(' => if (depth == 0) i = 0 else depth -= 1
          case _ => if (depth == 0 && kwAt(sql, i, "SELECT")) sel = i
        }
      }
      i -= 1
    }
    val from = sel + "SELECT".length
    val until = (if (sel < 0) None
      else findTopLevelKeyword(sql, from, Seq("FROM"))).filter(_ < at)
      .getOrElse(return sql)
    val list = sql.substring(from, until)
    val quals = helpers.map(h => java.util.regex.Pattern.quote(h._1)).mkString("|")
    val star = ("""(?is)(?:^|,)\s*(?:DISTINCT\s+ON\s*\([^()]*\)\s*|""" +
      """(?:DISTINCT|ALL)\s+)?(?:(""" + quals +
      """)\s*\.\s*)?\*(\s*(?:EXCEPT|EXCLUDE)\s*\()?""").r
    sql.substring(0, from) + replaceOutsideQuotes(star, list) { m =>
      val names = Option(m.group(1)).fold(helpers.map(h => s"${h._1}.${h._2}"))(
        q => helpers.filter(_._1.equalsIgnoreCase(q)).map(_._2))
      val pre = list.substring(0, m.start)
      if (pre.count(_ == '(') != pre.count(_ == ')')) m.matched
      else if (m.group(2) == null) m.matched + s" EXCEPT (${names.mkString(", ")})"
      else m.matched + names.mkString("", ", ", ", ")
    } + sql.substring(until)
  }

  /** `COLUMNS(c -> predicate)` — the name-filtering lambda form.
    * Spark's analyzer rejects lambda arguments to non-higher-order
    * functions before any rule can expand them, so the lambda is
    * smuggled through as a marker string literal that
    * [[ExpandColumnsRule]] parses back (body without nested parens —
    * LIKE / comparisons / ||, the DuckDB-doc surface). */
  private val columnsLambdaRe =
    """(?is)\bCOLUMNS\s*\(\s*(\w+)\s*->\s*([^()]*?)\s*\)""".r

  private val collateNocase = """(?i)\bCOLLATE\s+NOCASE\b""".r

  /** `x IN (VALUES (...), ...)` — pg/DuckDB treat the VALUES list as
    * a subquery; Spark's parser wants an explicit SELECT. Wrapped as
    * `IN (SELECT * FROM (VALUES ...))` with quote-aware paren
    * matching. */
  private val inValuesRe = """(?i)\bIN\s*\(\s*VALUES\b""".r

  /** `x op ANY|SOME|ALL (operand)` — quantified comparisons, valid in
    * DuckDB over both LIST values and subqueries; Spark's parser has
    * no form for them. Lowered to `x = duck_q_cmp('op', 'any', ...)`
    * so [[QuantPredRewriteRule]] can expand against the LEFT operand
    * (which a textual suffix rewrite cannot see). Subquery operands
    * get an extra paren pair to parse as a scalar-subquery argument;
    * everything else (list literals, columns) passes through as a
    * plain argument. The comparison operator itself is carried as a
    * string literal — the textual `=` is only a parse vehicle. */
  private val quantRe =
    """(?i)(=|<>|!=|<=|>=|<|>)\s*\b(ANY|SOME|ALL)\s*\(""".r

  /** Mixed-class interval literals — `INTERVAL '2 months 5 days'` —
    * are valid DuckDB (its interval is the (months, days, micros)
    * triple) but Spark's ANSI interval literals reject mixing
    * year-month with day-time fields. Lowered onto `make_interval()`,
    * the one Spark builtin that still produces CalendarInterval.
    * Single-class literals stay with Spark's parser. */
  private val intervalLitRe = """(?i)\bINTERVAL\s*'([^']*)'(?!\s*(?:YEAR|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND|MILLISECOND|MICROSECOND|TO\b))""".r
  private val intervalPartRe = """([+-]?\d+(?:\.\d+)?)\s*([a-zA-Z]+)""".r
  private val intervalTimeRe = """(?<![\d.a-zA-Z])([+-]?\d+):(\d+):(\d+(?:\.\d+)?)""".r

  def rewriteMixedIntervals(sql: String): String =
    replaceOutsideQuotes(intervalLitRe, sql) { m =>
      val body = m.group(1)
      var y, mo, w, d = 0L
      var h, mi = 0L
      var s = BigDecimal(0)
      var ym = false; var dt = false; var bad = false
      var parts = 0
      for (pm <- intervalPartRe.findAllMatchIn(
          intervalTimeRe.replaceAllIn(body, ""))) {
        parts += 1
        val n = BigDecimal(pm.group(1))
        pm.group(2).toLowerCase match {
          case "year" | "years" | "y" => y += n.toLong; ym = true
          case "month" | "months" | "mon" | "mons" => mo += n.toLong; ym = true
          case "week" | "weeks" => w += n.toLong; dt = true
          case "day" | "days" | "d" => d += n.toLong; dt = true
          case "hour" | "hours" | "hr" | "hrs" | "h" => h += n.toLong; dt = true
          case "minute" | "minutes" | "min" | "mins" => mi += n.toLong; dt = true
          case "second" | "seconds" | "sec" | "secs" => s += n; dt = true
          case "millisecond" | "milliseconds" | "ms" => s += n / 1000; dt = true
          case "microsecond" | "microseconds" | "us" => s += n / 1000000; dt = true
          case _ => bad = true
        }
      }
      for (tm <- intervalTimeRe.findAllMatchIn(body)) {
        val sign = if (tm.group(1).trim.startsWith("-")) -1 else 1
        h += tm.group(1).toLong
        mi += sign * tm.group(2).toLong
        s += sign * BigDecimal(tm.group(3))
        dt = true
        parts += 2 // an hh:mm:ss block is a composite
      }
      // multi-part literals ALWAYS lower to make_interval: Spark
      // would otherwise fold same-class parts into one end-field
      // value ('3 days 30 hours' → 4d6h), losing DuckDB's per-field
      // decomposition (probed: day(INTERVAL '3 days 30 hours') = 3)
      if (bad || parts < 2) java.util.regex.Matcher.quoteReplacement(m.matched)
      else java.util.regex.Matcher.quoteReplacement(
        s"make_interval($y, $mo, $w, $d, $h, $mi, $s)")
    }

  def rewriteQuantified(sql: String): String = {
    var cur = sql
    var guard = 0
    var changed = true
    while (changed && guard < 64) {
      changed = false
      guard += 1
      val m = quantRe.findAllMatchIn(cur).find(mm => !insideQuotes(cur, mm.start))
      m.foreach { mm =>
        val open = mm.end - 1
        val close = matchParen(cur, open)
        if (close > open) {
          val content = cur.substring(open + 1, close)
          val head = content.trim.takeWhile(c => c.isLetter).toLowerCase
          val operand = head match {
            // VALUES/TABLE parse as queries but not as bare scalar-
            // subquery expressions — route through FROM
            case "values" | "table" => s"(SELECT * FROM ($content) __qv)"
            case "select" | "with" | "from" => s"($content)"
            case _ => content
          }
          val op = mm.group(1)
          val quant = mm.group(2).toLowerCase match {
            case "some" => "any"
            case q => q
          }
          cur = cur.substring(0, mm.start) +
            s"= duck_q_cmp('$op', '$quant', $operand)" +
            cur.substring(close + 1)
          changed = true
        }
      }
    }
    cur
  }

  def rewriteInValues(sql: String): String = {
    var cur = sql
    var guard = 0
    var changed = true
    while (changed && guard < 32) {
      changed = false
      guard += 1
      // first IN(VALUES whose open paren is not already wrapped
      val m = inValuesRe.findAllMatchIn(cur).find { mm =>
        !insideQuotes(cur, mm.start)
      }
      m.foreach { mm =>
        val open = cur.indexOf('(', mm.start)
        var depth = 0; var i = open; var inS = false; var close = -1
        while (i < cur.length && close < 0) {
          val c = cur.charAt(i)
          if (inS) { if (c == '\'') inS = false }
          else c match {
            case '\'' => inS = true
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = i
            case _ =>
          }
          i += 1
        }
        if (close > open) {
          cur = cur.substring(0, open + 1) + "SELECT * FROM (" +
            cur.substring(open + 1, close) + ") __iv" + cur.substring(close)
          changed = true
        }
      }
    }
    cur
  }

  /** is position `pos` inside a single-quoted literal? */
  private def insideQuotes(s: String, pos: Int): Boolean = {
    var inS = false; var i = 0
    while (i < pos) {
      if (s.charAt(i) == '\'') inS = !inS
      i += 1
    }
    inS
  }

  /** trailing comma before a clause keyword / bracket close / end —
    * the spots DuckDB's parser accepts one (probed). */
  private val trailingComma =
    (""",(\s*)(?=(?i:FROM|WHERE|GROUP|HAVING|WINDOW|QUALIFY|ORDER|""" +
      """LIMIT|OFFSET|UNION|EXCEPT|INTERSECT)\b|[\]}]|;|\z)""").r

  /** pg/DuckDB dollar-quoted strings: `$$...$$`, `$tag$...$tag$` →
    * standard single-quoted literals (content quotes double). Runs
    * FIRST — every later pass tokenizes only '...' spans, so raw
    * dollar-quoted content would be misread. `$1` bind params don't
    * match (tag can't start with a digit); an unterminated opener is
    * left for the parser's loud error.
    */
  def rewriteDollarQuotes(sql: String): String = {
    if (!sql.contains("$")) return sql
    val out = new StringBuilder(sql.length)
    var i = 0
    val n = sql.length
    var inS = false; var inD = false
    val opener = """\$([A-Za-z_][A-Za-z_0-9]*)?\$""".r
    while (i < n) {
      val c = sql.charAt(i)
      if (inS) { out += c; if (c == '\'') inS = false; i += 1 }
      else if (inD) { out += c; if (c == '"') inD = false; i += 1 }
      else if (c == '\'') { inS = true; out += c; i += 1 }
      else if (c == '"') { inD = true; out += c; i += 1 }
      else if (c == '$') {
        opener.findPrefixMatchOf(sql.substring(i)) match {
          case Some(m) =>
            val tag = m.matched
            val close = sql.indexOf(tag, i + tag.length)
            if (close < 0) { out += c; i += 1 } // unterminated: punt
            else {
              val content = sql.substring(i + tag.length, close)
              out += '\''
              out ++= content.replace("'", "''")
              out += '\''
              i = close + tag.length
            }
          case None => out += c; i += 1
        }
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** DuckDB FROM-first SHORT form: `FROM t WHERE …` (no SELECT at
    * all) → `SELECT * FROM t WHERE …`. The `FROM t SELECT cols` long
    * form already parses (Hive-style) and a depth-0 SELECT keeps the
    * statement untouched.
    */
  def rewriteFromFirst(sql: String): String = {
    val t = sql.trim
    if (!t.regionMatches(true, 0, "from", 0, 4) || t.length < 5 ||
        !t.charAt(4).isWhitespace)
      return sql
    // depth-0 SELECT scan outside quotes
    var depth = 0; var i = 0; var inS = false; var inD = false
    while (i < t.length) {
      val c = t.charAt(i)
      if (inS) { if (c == '\'') inS = false }
      else if (inD) { if (c == '"') inD = false }
      else c match {
        case '\'' => inS = true
        case '"' => inD = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case 's' | 'S' if depth == 0 &&
            t.regionMatches(true, i, "select", 0, 6) &&
            (i == 0 || !t.charAt(i - 1).isLetterOrDigit) &&
            (i + 6 >= t.length || !t.charAt(i + 6).isLetterOrDigit) =>
          return sql // long form — parser handles it
        case _ =>
      }
      i += 1
    }
    s"SELECT * $t"
  }

  /** DuckDB bare file-path tables — `SELECT * FROM 'docs.parquet'`
    * (delegated surface; the reference forwards the statement verbatim
    * at src/duckdb_pgwire_extension.cpp:52 and DuckDB resolves the
    * quoted path as a table) → the reader TVFs GraftExtensions
    * injects, so Catalyst sees an ordinary file relation with
    * pushdown/pruning. Only fires on a quoted path with a known data
    * extension directly after FROM/JOIN — `COPY t FROM 'p'` never
    * reaches this pass (handled at the wire layer before Spark).
    */
  private val barePathTable =
    """(?i)\b(from|join)\s+'([^']+?\.(parquet|pq|csv|tsv|csv\.gz|tsv\.gz|json|jsonl|ndjson))'""".r

  /** `information_schema.tables` / `.columns` relations (standard SQL
    * introspection; DuckDB serves them natively, ORMs probe them).
    */
  // anchored on FROM/JOIN (captured and re-emitted) so the rewrite
  // cannot fire inside string literals or on qualified column refs
  private val infoSchemaTables =
    "(?i)\\b(from|join)\\s+information_schema\\.tables\\b".r
  private val infoSchemaColumns =
    "(?i)\\b(from|join)\\s+information_schema\\.columns\\b".r
  private val infoSchemaConstraintViews =
    ("(?i)\\b(from|join)\\s+information_schema\\.(table_constraints|" +
      "key_column_usage|referential_constraints)\\b").r
  private def readerFor(ext: String): String = ext.toLowerCase match {
    case "parquet" | "pq" => "read_parquet"
    case "json" | "jsonl" | "ndjson" => "read_json"
    case _ => "read_csv_auto"
  }

  /** DuckDB `USING SAMPLE n% | n [ROWS]` → Spark TABLESAMPLE. DuckDB's
    * bare-number default unit is rows.
    */
  private val usingSample =
    """(?i)\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(%|PERCENT\b|ROWS\b)?""".r

  private val castOp = s"""(?i)::\\s*($aliasAlt)\\b(?!\\s*\\()""".r
  /** `TIMESTAMPTZ '...'` / `TIMETZ '...'` typed literals (Spark has no
    * tz-qualified literal spellings; session TZ is pinned UTC). */
  private val typedLit = """(?i)\btimestamptz\s*(?=')""".r
  /** `TIMESTAMP_S|MS|NS '...'` storage-granularity literals */
  private val tsGranLit =
    """(?i)\btimestamp_(s|ms|ns)\s*('(?:[^'']|'')*')""".r
  /** `TIMETZ '...'` consumes its literal: DuckDB renders TIMETZ with an
    * explicit zone offset (`03:04:05+02`), which Spark's TIME literal
    * cannot parse — normalize to the UTC wall time. */
  private val timetzLit = """(?i)\btimetz\s*'([^']*)'""".r
  /** DuckDB's zero-argument `count()` ≡ `count(*)`. */
  private val countEmpty = """(?i)\bcount\s*\(\s*\)""".r
  /** `'pattern' ESCAPE '\'` — the parser produces the default '\\'
    * escape whether the user WROTE it or not, and DuckLikeNoEscapeRule
    * must kill the un-written default (DuckDB LIKE has none). An
    * explicitly written backslash escape is re-spelled onto 
    * (pattern + clause together) so it survives that rule. Literal
    * patterns only — a computed pattern keeps the no-escape reading. */
  private val overEmptyOrder =
    ("""(?i)\b(row_number|rank|dense_rank|ntile|percent_rank|""" +
      """cume_dist|lag|lead)(\s*\((?:[^()]|\([^()]*\))*\))""" +
      """\s+OVER\s*\(\s*\)""").r
  private val likeEscBs =
    """'((?:[^']|'')*)'\s+(?i:ESCAPE)\s+'\\\\?'""".r
  /** `name := value` named-argument sugar (struct_pack/struct_insert). */
  private val namedArg = """([A-Za-z_]\w*)\s*:=""".r
  /** array-typed casts `::FLOAT[3]` / `CAST(x AS INT[])` → Spark's
    * ARRAY<T> spelling (DuckDB fixed-size arrays map onto plain
    * Spark arrays — the size bound is not enforced). */
  private val castOpArr = """::\s*([A-Za-z_]\w*)\s*\[\s*\d*\s*\]""".r
  /** pg/DuckDB bind `::` TIGHTER than unary minus (`-0.0::DOUBLE` is
    * -(0.0::DOUBLE) = signed zero; `-128::TINYINT` is an out-of-range
    * error), while Spark's grammar folds MINUS into the number token
    * so the cast sees the negated literal. Parenthesize the cast when
    * the minus is provably unary — preceded by start-of-text, an
    * operator/open-paren/comma, or a clause keyword; any other
    * context (a binary minus after an identifier) is left alone. */
  private val negLitCast =
    ("""(?i)(^|[(,\[=+*/%<>|-]|\b(?:select|where|when|then|else|and|or|not|in|""" +
      """by|as|on|having|return|values|limit|offset|set|is|union|except|""" +
      """intersect|all|distinct|between)\b)(\s*)-\s*""" +
      """((?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)""" +
      """(\s*::\s*[A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)(?!\s*\[)""").r
  private val castAsArr = """(?i)\bAS\s+([A-Za-z_]\w*)\s*\[\s*\d*\s*\](\s*\))""".r
  /** an already-wrapped `::ARRAY<...>` followed by another `[]` */
  private val nestedArrCast =
    """::ARRAY<((?:[^<>]|<[^<>]*>)*)>\s*\[\s*\d*\s*\]""".r
  /** `INTERVAL (expr) UNIT` — DuckDB's parameterized interval; Spark
    * only takes a literal quantity. One paren-nesting level. */
  private val intervalParen =
    """(?i)\bINTERVAL\s*(\((?:[^()]|\([^()]*\))*\))\s*([A-Za-z]+)""".r
  /** `[ORDER BY keys] LIMIT p%` — DuckDB's percentage limit
    * (floor(count*p/100) rows, 0–100 only). The ORDER BY capture
    * stops at the LIMIT keyword; one paren-nesting level inside. */
  private val limitPercent =
    ("""(?i)(\bORDER\s+BY\s+((?:[^()';]|\([^()]*\))*?))?\s*""" +
      """\bLIMIT\s+(\d+(?:\.\d+)?)\s*%""").r

  /** Character spans of single-quoted strings ('' escapes), quoted
    * identifiers and comments. Raw-text regex passes must leave these
    * untouched — `'ts is timestamptz '` is data, not a typed literal. */
  /** DuckDB '...' literals are standard-conforming: a backslash is
    * DATA ('a\b' is a\b; probed — and '(\d+)' is a real digit regex
    * while '(\\d+)' matches nothing). Spark's default parser
    * escape-processes backslashes, and its escapedStringLiterals mode
    * breaks ''-doubling instead — so the seam doubles every backslash
    * inside single-quoted spans, which round-trips to DuckDB's
    * semantics under the default parser. Quoted identifiers, comments
    * and bare SQL are untouched.
    */
  private def escapeBackslashesInLiterals(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var last = 0
    for ((st, en) <- quotedSpans(s)) {
      if (st < s.length && s.charAt(st) == '\'') {
        sb.append(s.substring(last, st))
        var i = st
        while (i < en) {
          val c = s.charAt(i)
          if (c == '\\') sb.append("\\\\") else sb.append(c)
          i += 1
        }
        last = en
      }
    }
    sb.append(s.substring(last, s.length))
    sb.toString
  }

  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '"' || c == '`'

  /** DuckDB E'...' escape-strings (pg style; probed on v1.0): \n \t
    * \r \b \f, \xH{1,2} hex, \o{1,3} octal, \uHHHH / \UHHHHHHHH
    * unicode, \\ backslash, \' quote (plus '' doubling), any other
    * \c → c. Decoded to a PLAIN literal carrying the real characters
    * ('' respells quotes; embedded control chars are legal in
    * literals), so the backslash-doubling pass that follows protects
    * whatever backslashes the decode produced.
    */
  private def rewriteEStrings(s: String): String = {
    val n = s.length
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\'') { // plain literal: copy verbatim (incl. '')
        val st = i; i += 1
        var done = false
        while (!done && i < n) {
          if (s.charAt(i) == '\'') {
            if (i + 1 < n && s.charAt(i + 1) == '\'') i += 2
            else { done = true; i += 1 }
          } else i += 1
        }
        sb.append(s.substring(st, i))
      } else if (c == '"' || c == '`') {
        val st = i; i += 1
        while (i < n && s.charAt(i) != c) i += 1
        i = math.min(i + 1, n); sb.append(s.substring(st, i))
      } else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') {
        val st = i
        while (i < n && s.charAt(i) != '\n') i += 1
        sb.append(s.substring(st, i))
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        val st = i
        val close = s.indexOf("*/", i + 2)
        i = if (close < 0) n else close + 2
        sb.append(s.substring(st, i))
      } else if ((c == 'E' || c == 'e') && i + 1 < n &&
          s.charAt(i + 1) == '\'' && (i == 0 || !isIdentChar(s.charAt(i - 1)))) {
        i += 2
        val out = new StringBuilder
        var closed = false
        def hexRun(max: Int): Int = {
          var v = 0; var k = 0
          while (k < max && i < n && Character.digit(s.charAt(i), 16) >= 0) {
            v = v * 16 + Character.digit(s.charAt(i), 16); i += 1; k += 1
          }
          v
        }
        while (!closed && i < n) {
          val d = s.charAt(i)
          if (d == '\\' && i + 1 < n) {
            s.charAt(i + 1) match {
              case 'n' => out.append('\n'); i += 2
              case 't' => out.append('\t'); i += 2
              case 'r' => out.append('\r'); i += 2
              case 'b' => out.append('\b'); i += 2
              case 'f' => out.append('\f'); i += 2
              case 'x' => i += 2; out.append(hexRun(2).toChar)
              case 'u' => i += 2; out.append(hexRun(4).toChar)
              case 'U' => i += 2; out.appendAll(Character.toChars(hexRun(8)))
              case o if o >= '0' && o <= '7' =>
                i += 1
                var v = 0; var k = 0
                while (k < 3 && i < n && s.charAt(i) >= '0' && s.charAt(i) <= '7') {
                  v = v * 8 + (s.charAt(i) - '0'); i += 1; k += 1
                }
                out.append(v.toChar)
              case other => out.append(other); i += 2
            }
          } else if (d == '\'') {
            if (i + 1 < n && s.charAt(i + 1) == '\'') { out.append('\''); i += 2 }
            else { closed = true; i += 1 }
          } else { out.append(d); i += 1 }
        }
        sb.append('\'').append(out.toString.replace("'", "''")).append('\'')
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Top-level `UNION [ALL] BY NAME` boundaries — Spark's parser has
    * no spelling for name-based set union, so [[GraftParser]] splits
    * the statement here and assembles a byName Union plan. Returns
    * (segments, per-boundary ALL flags); None when the statement has
    * no top-level BY NAME union (nested ones stay loud parse errors).
    */
  private val unionByNameRe =
    """(?i)\bUNION\s+(ALL\s+)?BY\s+NAME\b""".r
  def splitUnionByName(sql: String): Option[(Seq[String], Seq[Boolean])] = {
    if (!sql.toLowerCase.contains("by name")) return None
    val spans = quotedSpans(sql)
    def depthAt(pos: Int): Int = {
      var d = 0; var i = 0
      while (i < pos) {
        if (!spans.exists(sp => i >= sp._1 && i < sp._2)) {
          val c = sql.charAt(i)
          if (c == '(') d += 1 else if (c == ')') d -= 1
        }
        i += 1
      }
      d
    }
    val ms = unionByNameRe.findAllMatchIn(sql).toList.filter(m =>
      !spans.exists(sp => m.start >= sp._1 && m.start < sp._2) &&
        depthAt(m.start) == 0)
    if (ms.isEmpty) None
    else {
      val bounds = ms.map(m => (m.start, m.end, m.group(1) != null))
      val segs = scala.collection.mutable.ArrayBuffer.empty[String]
      var from = 0
      bounds.foreach { case (s, e, _) =>
        segs += sql.substring(from, s).trim; from = e
      }
      segs += sql.substring(from).trim
      Some((segs.toSeq, bounds.map(_._3)))
    }
  }

  /** the enclosing paren span of the first NESTED (depth>0) BY NAME
    * union — lets [[GraftParser]] lift FROM-position subqueries like
    * `FROM (A UNION BY NAME B) t` out recursively */
  def findNestedByNameSpan(sql: String): Option[(Int, Int)] = {
    if (!sql.toLowerCase.contains("by name")) return None
    val spans = quotedSpans(sql)
    def quoted(i: Int) = spans.exists(sp => i >= sp._1 && i < sp._2)
    val m = unionByNameRe.findAllMatchIn(sql).find { m =>
      if (quoted(m.start)) false
      else {
        var d = 0
        (0 until m.start).foreach { i =>
          if (!quoted(i)) {
            if (sql.charAt(i) == '(') d += 1
            else if (sql.charAt(i) == ')') d -= 1
          }
        }
        d > 0
      }
    }
    m.map { mm =>
      // scan back to the '(' that opened the current depth, forward
      // to its matching ')'
      var d = 0; var open = -1; var i = mm.start - 1
      while (i >= 0 && open < 0) {
        if (!quoted(i)) {
          if (sql.charAt(i) == ')') d += 1
          else if (sql.charAt(i) == '(') {
            if (d == 0) open = i else d -= 1
          }
        }
        i -= 1
      }
      d = 0; var close = -1; i = open + 1
      while (i < sql.length && close < 0) {
        if (!quoted(i)) {
          if (sql.charAt(i) == '(') d += 1
          else if (sql.charAt(i) == ')') {
            if (d == 0) close = i else d -= 1
          }
        }
        i += 1
      }
      (open, close)
    }
  }

  /** split a statement's trailing top-level ORDER BY/LIMIT/OFFSET off
    * the select — for the LAST BY NAME segment those clauses bind to
    * the whole union */
  private val tailClauseRe = """(?i)\b(ORDER\s+BY|LIMIT|OFFSET)\b""".r
  def splitTailClauses(sql: String): (String, Option[String]) = {
    val spans = quotedSpans(sql)
    var depth = 0
    var i = 0
    while (i < sql.length) {
      if (!spans.exists(sp => i >= sp._1 && i < sp._2)) {
        val c = sql.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (depth == 0) {
          val m = tailClauseRe.findPrefixMatchOf(sql.substring(i))
          if (m.isDefined && (i == 0 || !sql.charAt(i - 1).isLetterOrDigit))
            return (sql.substring(0, i).trim, Some(sql.substring(i).trim))
        }
      }
      i += 1
    }
    (sql, None)
  }

  private def quotedSpans(s: String): Array[(Int, Int)] = {
    val spans = Array.newBuilder[(Int, Int)]
    var i = 0; val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\'') {
        val st = i; i += 1
        var done = false
        while (!done && i < n) {
          if (s.charAt(i) == '\'') {
            if (i + 1 < n && s.charAt(i + 1) == '\'') i += 2
            else { done = true; i += 1 }
          } else i += 1
        }
        spans += ((st, i))
      } else if (c == '"' || c == '`') {
        val st = i; i += 1
        while (i < n && s.charAt(i) != c) i += 1
        i = math.min(i + 1, n); spans += ((st, i))
      } else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') {
        val st = i
        while (i < n && s.charAt(i) != '\n') i += 1
        spans += ((st, i))
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        val st = i
        val close = s.indexOf("*/", i + 2)
        i = if (close < 0) n else close + 2
        spans += ((st, i))
      } else i += 1
    }
    spans.result()
  }

  /** DuckDB's alias(expr) resolves the ENCLOSING projection alias
    * when one is present (probed: `SELECT alias(7) AS v` = 'v') —
    * only the parser seam can see that alias, so lower
    * `alias(...) AS ident` to the ident as a string literal (keeping
    * the AS). Bare calls keep the expression-name fallback registered
    * in DuckVocab9. */
  /** words that can follow a select item and are therefore NOT a
    * bare alias for the rewriteAliasCall scan */
  private val aliasStopKw = Set("from", "where", "group", "order",
    "having", "limit", "offset", "fetch", "union", "intersect",
    "except", "qualify", "window", "as", "join", "on", "using",
    "cross", "inner", "left", "right", "full", "natural", "when",
    "then", "else", "end", "and", "or", "not", "is", "in", "like",
    "ilike", "between", "asc", "desc", "nulls", "over", "filter",
    "returning", "into")

  private[graft] def rewriteAliasCall(sql: String): String = {
    val low = sql.toLowerCase
    val spans = quotedSpans(sql)
    def inQuote(p: Int) = spans.exists(sp => p >= sp._1 && p < sp._2)
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    case class Rep(from: Int, until: Int, text: String)
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    var idx = low.indexOf("alias")
    while (idx >= 0) {
      val okStart = !inQuote(idx) &&
        (idx == 0 || { val b = sql.charAt(idx - 1)
          !isWord(b) && b != '.' && b != '"' })
      var j = idx + 5
      while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
      if (okStart && j < sql.length && sql.charAt(j) == '(') {
        // matching close paren, skipping quoted spans
        var depth = 0; var k = j; var close = -1
        while (k < sql.length && close < 0) {
          if (inQuote(k)) k += 1
          else sql.charAt(k) match {
            case '(' => depth += 1; k += 1
            case ')' => depth -= 1; if (depth == 0) close = k else k += 1
            case _ => k += 1
          }
        }
        if (close > 0) {
          var p = close + 1
          while (p < sql.length && sql.charAt(p).isWhitespace) p += 1
          // `AS ident` or a bare alias ident (DuckDB: `alias(7) c` =
          // 'c'); bare form must not be a clause keyword
          val q =
            if (p + 2 <= sql.length && low.startsWith("as", p) &&
                (p + 2 == sql.length || !isWord(sql.charAt(p + 2)))) {
              var q0 = p + 2
              while (q0 < sql.length && sql.charAt(q0).isWhitespace) q0 += 1
              q0
            } else p
          val identEnd =
            if (q < sql.length && sql.charAt(q) == '"') {
              val e = sql.indexOf('"', q + 1)
              if (e > 0) e + 1 else -1
            } else {
              var e = q
              while (e < sql.length && isWord(sql.charAt(e))) e += 1
              if (e > q) e else -1
            }
          val aliased = identEnd > 0 && {
            val tok = sql.substring(q, identEnd)
            val name = if (tok.startsWith("\"")) tok.drop(1).dropRight(1)
              else tok
            val isBare = q == p
            val ok = !isBare || !aliasStopKw(name.toLowerCase)
            if (ok) reps += Rep(idx, identEnd,
              "'" + name.replace("'", "''") + "' AS " + tok)
            ok
          }
          if (!aliased) {
            // no enclosing alias: DuckDB renders the expression's own
            // SQL text (probed: alias(len('ab')) = "len('ab')",
            // alias(7) = '7'). Emit the source text verbatim; at
            // select-item position (next token is ',' / EOS / a
            // clause keyword) also carry DuckDB's column name
            // `alias(<text>)`, in value position just the literal.
            val inner = sql.substring(j + 1, close).trim
            val lit = "'" + inner.replace("'", "''") + "'"
            val atItem = p >= sql.length || sql.charAt(p) == ',' || {
              var e = p
              while (e < sql.length && isWord(sql.charAt(e))) e += 1
              e > p && aliasStopKw(sql.substring(p, e).toLowerCase)
            }
            val text = if (atItem)
              lit + " AS \"alias(" + inner.replace("\"", "\"\"") + ")\""
            else lit
            reps += Rep(idx, close + 1, text)
          }
        }
      }
      idx = low.indexOf("alias", idx + 1)
    }
    if (reps.isEmpty) sql
    else {
      val sb = new StringBuilder(sql)
      reps.sortBy(-_.from).foreach(r => sb.replace(r.from, r.until, r.text))
      sb.toString
    }
  }

  /** DuckDB's bit_length/octet_length are polymorphic over VARCHAR and
    * BIT; graft models BIT as '0'/'1' strings (Spark has no bitstring
    * type), so the generic string forms (bytes×8 / byte count) would
    * be wrong for BIT arguments. BIT-ness is only visible at the
    * parser seam — BEFORE the `::BIT` cast collapses onto STRING — so
    * a BIT-shaped argument (trailing `::BIT`, `CAST(… AS BIT)`, or a
    * bitstring(…)/set_bit(…) producer) lowers to the bit-model forms
    * (probed on 1.0: bit_length('0101'::BIT) = 4, octet_length = 1,
    * 9 bits → 2 octets; both BIGINT). */
  private val bitLenCallRe = """(?i)\b(bit_length|octet_length)\s*\(""".r
  private val bitShapedArg = Seq(
    """(?is).*::\s*BIT\s*\z""".r,
    """(?is)\ACAST\s*\(.*\s+AS\s+BIT\s*\)\z""".r,
    """(?is)\A(?:bitstring|set_bit)\s*\(.*\)\z""".r)
  private[graft] def rewriteBitLen(sql: String): String = {
    val spans = quotedSpans(sql)
    def inQuote(p: Int) = spans.exists(sp => p >= sp._1 && p < sp._2)
    case class Rep(from: Int, until: Int, text: String)
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    for (m <- bitLenCallRe.findAllMatchIn(sql)
         if !inQuote(m.start) && !reps.exists(r => m.start < r.until) &&
           (m.start == 0 || { val b = sql.charAt(m.start - 1)
             !(b.isLetterOrDigit || b == '_' || b == '.' || b == '"') })) {
      val open = m.end - 1
      val close = matchParen(sql, open)
      if (close > open) {
        val arg = sql.substring(open + 1, close).trim
        if (bitShapedArg.exists(_.findFirstIn(arg).isDefined)) {
          val text =
            if (m.group(1).equalsIgnoreCase("bit_length"))
              s"CAST(length($arg) AS BIGINT)"
            else s"CAST((length($arg) + 7) DIV 8 AS BIGINT)"
          reps += Rep(m.start, close + 1, text)
        }
      }
    }
    if (reps.isEmpty) sql
    else {
      val sb = new StringBuilder(sql)
      reps.sortBy(-_.from).foreach(r => sb.replace(r.from, r.until, r.text))
      sb.toString
    }
  }

  /** replaceAllIn, but matches that START inside a quoted/comment span
    * are left verbatim. (A match may legitimately CONTAIN a string —
    * `TIMETZ '03:04:05'` — so only the start position is tested.) */
  private def replaceOutsideQuotes(re: scala.util.matching.Regex, s: String)(
      f: scala.util.matching.Regex.Match => String): String = {
    lazy val spans = quotedSpans(s)
    re.replaceAllIn(s, m =>
      if (spans.exists(sp => m.start >= sp._1 && m.start < sp._2))
        scala.util.matching.Regex.quoteReplacement(m.matched)
      else scala.util.matching.Regex.quoteReplacement(f(m)))
  }

  /** `HH:MM[:SS][.f][±HH[:MM]]` → UTC wall time (TIMETZ semantics:
    * the stored instant is the wall time minus the offset). */
  private def normalizeTimeTz(lit: String): String = {
    val re = """^(\d{1,2}):(\d{2})(?::(\d{2}))?(\.\d+)?([+-]\d{1,2}(?::\d{2})?)?$""".r
    lit.trim match {
      case re(h, mi, se, fr, off) =>
        val offMin = Option(off).map { o =>
          val sign = if (o.startsWith("-")) -1 else 1
          val parts = o.drop(1).split(":")
          sign * (parts(0).toInt * 60 + (if (parts.length > 1) parts(1).toInt else 0))
        }.getOrElse(0)
        val total = ((h.toInt * 60 + mi.toInt - offMin) % 1440 + 1440) % 1440
        f"${total / 60}%02d:${total % 60}%02d:${Option(se).getOrElse("00")}%s${Option(fr).getOrElse("")}%s"
      case _ => lit // not a time shape — leave it, let the parser complain
    }
  }
  private val castAs = s"""(?i)\\bAS\\s+($aliasAlt)\\s*\\)""".r

  /** single-level JSON arrows on a column/paren expr or a string
    * literal ('{"a":1}' ->> 'a' is valid DuckDB) with a string or
    * integer key; `->>` and `->` both land on get_json_object (text).
    */
  private val jsonArrow =
    """('(?:[^']|'')*'|[\w.)\]]+)\s*(->>|->)\s*(?:'([^']+)'|(\d+))""".r

  /** DuckDB spells IGNORE/RESPECT NULLS INSIDE the window function's
    * argument list — Spark wants it after the closing paren. */
  private val nullsTreatRe = """(?i)\s+(IGNORE|RESPECT)\s+NULLS\s*\)""".r

  /** JSON arrows, iteratively and paren-aware so CHAINS lower
    * left-associatively (`x -> 'a' ->> 'b'`), `::`-cast operands are
    * absorbed whole, and numeric keys (`-> 1`) work when the lhs is
    * not a bare identifier (which keeps Spark's lambda reading of
    * `x -> 1`). */
  private def rewriteJsonArrows(sql: String): String = {
    val opRe = """(->>|->)\s*(?:'([^']+)'|(\d+))""".r

    def tryAt(cur: String, mm: scala.util.matching.Regex.Match): Option[String] = {
      if (insideQuotes(cur, mm.start)) return None

      // start index of the single operand whose LAST char is at `j`
      // (string literal, balanced ()/[] group + callee name, or a
      // dotted identifier); -1 if none
      def operandStart(j: Int): Int = {
        if (j < 0) return -1
        if (cur(j) == '\'') {
          var k = j - 1
          var done = false
          while (k >= 0 && !done) {
            if (cur(k) == '\'') {
              if (k > 0 && cur(k - 1) == '\'') k -= 2 else done = true
            } else k -= 1
          }
          k
        } else if (cur(j) == ')' || cur(j) == ']') {
          val close = cur(j)
          val open = if (close == ')') '(' else '['
          var depth = 0; var k = j; var st = -1
          while (k >= 0 && st < 0) {
            if (cur(k) == close) depth += 1
            else if (cur(k) == open) { depth -= 1; if (depth == 0) st = k }
            k -= 1
          }
          if (st < 0) -1
          else {
            var k2 = st - 1
            while (k2 >= 0 && (isWordChar(cur(k2)) || cur(k2) == '.')) k2 -= 1
            k2 + 1
          }
        } else if (isWordChar(cur(j))) {
          var k = j
          while (k >= 0 && (isWordChar(cur(k)) || cur(k) == '.')) k -= 1
          k + 1
        } else -1
      }

      var j = mm.start - 1
      while (j >= 0 && cur(j).isWhitespace) j -= 1
      if (j < 0) return None
      val lhsEnd = j + 1
      var lhsStart = operandStart(j)
      if (lhsStart < 0 || lhsEnd <= lhsStart) return None
      // absorb `operand::type` cast chains down to the base operand
      var more = true
      while (more && lhsStart >= 2 &&
          cur(lhsStart - 1) == ':' && cur(lhsStart - 2) == ':') {
        var j2 = lhsStart - 3
        while (j2 >= 0 && cur(j2).isWhitespace) j2 -= 1
        val st = operandStart(j2)
        if (st >= 0) lhsStart = st else more = false
      }
      val isNum = mm.group(3) != null
      val bareIdent = cur(lhsStart) != '\'' && cur(lhsEnd - 1) != ')' &&
        cur(lhsEnd - 1) != ']' && !cur.substring(lhsStart, lhsEnd).contains("::")
      if (isNum && bareIdent) return None
      val lhs = cur.substring(lhsStart, lhsEnd)
      val path = if (!isNum) s"$$.${mm.group(2)}" else s"$$[${mm.group(3)}]"
      Some(cur.substring(0, lhsStart) +
        s"get_json_object($lhs, '$path')" + cur.substring(mm.end))
    }

    var out = sql
    var guard = 0
    var changed = true
    while (changed && guard < 64) {
      changed = false
      guard += 1
      opRe.findAllMatchIn(out).toList.iterator
        .flatMap(mm => tryAt(out, mm)).nextOption() match {
        case Some(next) => out = next; changed = true
        case None =>
      }
    }
    out
  }

  /** SQL identifier characters — keyword boundary checks must treat
    * `_` as a word char or identifiers like `__qualify` read as the
    * QUALIFY keyword.
    */
  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** the keyword `kw` (any case, word-bounded) starts at `i` */
  private def kwAt(sql: String, i: Int, kw: String): Boolean =
    sql.regionMatches(true, i, kw, 0, kw.length) &&
      (i == 0 || !isWordChar(sql.charAt(i - 1))) &&
      (i + kw.length >= sql.length || !isWordChar(sql.charAt(i + kw.length)))

  /** index of the first top-level (paren-depth 0, outside strings)
    * occurrence of any of `kws` (any case, word-bounded),
    * scanning from `start`.
    */
  private def findTopLevelKeyword(s: String, start: Int,
      kws: Seq[String]): Option[Int] = {
    var depth = 0; var inS = false; var i = start
    while (i < s.length) {
      val c = s(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && kws.exists(kwAt(s, i, _)) => return Some(i)
        case _ =>
      }
      i += 1
    }
    None
  }

  private def findTopLevelTrailing(s: String): Option[Int] =
    findTopLevelKeyword(s, 0, Seq("ORDER", "LIMIT"))

  /** pg/DuckDB `SELECT DISTINCT ON (keys) ...` (delegated surface —
    * DuckDB keeps the first row per key combo under the query's ORDER
    * BY) → `QUALIFY row_number() OVER (PARTITION BY keys ORDER BY
    * <trailing order, else keys>) = 1`, which the QUALIFY pass below
    * lowers into the select's own scope. Top-level statements only:
    * QUALIFY injection is a top-level rewrite, so a subquery DISTINCT
    * ON passes through and fails analysis loudly rather than being
    * silently mis-rewritten.
    */
  private val distinctOnRe = """(?is)\bSELECT\s+DISTINCT\s+ON\s*\(""".r

  /** DuckDB implicit-lateral comma-unnest: `FROM t, unnest(E) [AS]
    * [a[(c)]]` (and the CROSS JOIN spelling) is a correlated
    * cross-apply — lowered to Spark's LATERAL VIEW over the same
    * registered DuckUnnest generator, so struct/recursive args keep
    * working. Probed on 1.0: an explicit `(c)` column list wins;
    * otherwise a simple (possibly qualified) column argument names
    * the output after its last segment (`FROM t, unnest(t.arr) u` →
    * `u.arr`); computed arguments fall back to the name `unnest`.
    * Several comma-unnests chain as a cartesian product (zip
    * semantics apply only to SELECT-position unnests — probed).
    * Fires only at paren depth 0 where the last top-level clause
    * keyword before the match is FROM, so a SELECT-list `, unnest(x)`
    * is untouched.
    */
  private val commaUnnestRe =
    """(?i)(,|\bCROSS\s+JOIN\b)\s*unnest\s*\(""".r
  private val clauseKwRe =
    ("""(?i)\b(select|from|where|group|having|qualify|window|order|""" +
      """limit|offset|fetch|union|intersect|except|join|on|using)\b""").r
  private def lastClauseIsFrom(s: String, pos: Int): Boolean = {
    val spans = quotedSpans(s)
    var last = ""
    for (m <- clauseKwRe.findAllMatchIn(s.substring(0, pos))
         if atDepth0(s, m.start) &&
           !spans.exists(sp => m.start >= sp._1 && m.start < sp._2))
      last = m.group(1).toLowerCase
    last == "from"
  }
  private val unnestAliasRe =
    """^\s*(?:(?i:AS)\s+)?([A-Za-z_]\w*)\s*(?:\(\s*([A-Za-z_]\w*)\s*\))?""".r
  private val unnestAliasStop = Set(
    "where", "group", "having", "qualify", "window", "order", "limit",
    "offset", "fetch", "union", "intersect", "except", "join", "cross",
    "inner", "left", "right", "full", "natural", "positional", "asof",
    "lateral", "on", "using", "as")
  private val simpleColRe = """^\s*[\w"]+(?:\.[\w"]+)*\s*$""".r
  def rewriteCommaUnnest(sql: String): String = {
    var cur = sql
    var guard = 0
    var n = 0
    var changed = true
    while (changed && guard < 16) {
      guard += 1
      changed = false
      val spans = quotedSpans(cur)
      commaUnnestRe.findAllMatchIn(cur).find(m =>
        !spans.exists(sp => m.start >= sp._1 && m.start < sp._2) &&
          atDepth0(cur, m.start) && lastClauseIsFrom(cur, m.start)) match {
        case Some(m) =>
          val open = cur.indexOf('(', m.end - 1)
          val close = matchParen(cur, open)
          if (close < 0) return cur // malformed: let the parser speak
          val arg = cur.substring(open + 1, close)
          val tail = cur.substring(close + 1)
          val (alias, colOpt, consumed) =
            unnestAliasRe.findFirstMatchIn(tail) match {
              case Some(am) if am.group(1) != null &&
                  !unnestAliasStop(am.group(1).toLowerCase) =>
                (am.group(1), Option(am.group(2)), am.end)
              case _ => n += 1; (s"__gun_$n", None, 0)
            }
          val col = colOpt.getOrElse {
            if (simpleColRe.findFirstIn(arg).isDefined)
              arg.trim.split('.').last.replace("\"", "")
            else "unnest"
          }
          cur = cur.substring(0, m.start) +
            s" LATERAL VIEW unnest($arg) $alias AS $col " +
            tail.substring(consumed)
          changed = true
        case None =>
      }
    }
    cur
  }

  private def atDepth0(s: String, pos: Int): Boolean = {
    var depth = 0; var inS = false; var i = 0
    while (i < pos) {
      val c = s(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    depth == 0 && !inS
  }

  /** pg/DuckDB named-window EXTENSION: `OVER (w [ORDER BY …] [frame])`
    * copies the WINDOW-clause definition of `w` and extends it
    * (probed on 1.0: `OVER (w2 ORDER BY a)` with `WINDOW w2 AS
    * (PARTITION BY …)` and `OVER (w2 ROWS BETWEEN …)` both bind).
    * Spark parses the WINDOW clause and the bare `OVER w` reference
    * but not the parenthesized extension form — the spec is inlined
    * textually, with the extension tail appended. Definitions may
    * reference earlier definitions (`WINDOW w1 AS (…), w2 AS (w1 …)`)
    * — resolved to fixpoint first. Same-named definitions with
    * DIFFERENT specs refuse loudly (the textual pass cannot scope
    * names to their SELECT).
    */
  def rewriteWindowRefExtend(sql: String): String = {
    val defRe = """(?i)\bWINDOW\s+(\w+)\s+AS\s*\(""".r
    val contRe = """(?is)^\s*,\s*(\w+)\s+AS\s*\(""".r
    val spans = quotedSpans(sql)
    def quoted(p: Int) = spans.exists(sp => p >= sp._1 && p < sp._2)
    var defs = Map.empty[String, String]
    for (m <- defRe.findAllMatchIn(sql) if !quoted(m.start)) {
      var name = m.group(1).toLowerCase
      var open = m.end - 1
      var more = true
      while (more) {
        val close = matchParen(sql, open)
        require(close > 0, s"unbalanced WINDOW definition for $name")
        val spec = sql.substring(open + 1, close).trim
        defs.get(name).foreach { prev =>
          require(prev == spec,
            s"window $name is defined more than once with different specs")
        }
        defs += name -> spec
        contRe.findPrefixMatchOf(sql.substring(close + 1)) match {
          case Some(c) =>
            name = c.group(1).toLowerCase
            open = close + 1 + c.end - 1
          case None => more = false
        }
      }
    }
    if (defs.isEmpty) return sql
    // a definition may itself start with another window's name
    var changed = true; var guard = 0
    while (changed && guard < 8) {
      changed = false; guard += 1
      defs = defs.map { case (n, spec) =>
        val firstWord = """^(\w+)\b""".r.findFirstMatchIn(spec)
        firstWord.map(_.group(1).toLowerCase) match {
          case Some(w) if defs.contains(w) && w != n =>
            changed = true
            (n, (defs(w) + " " + spec.substring(firstWord.get.end).trim).trim)
          case _ => (n, spec)
        }
      }
    }
    // inline `OVER (name [tail])` references (bare `OVER name` is
    // Spark-native and stays)
    val refRe = """(?i)\bOVER\s*\(\s*(\w+)\b""".r
    val hits = refRe.findAllMatchIn(sql).toSeq.reverse
      .filter(m => !quoted(m.start) && defs.contains(m.group(1).toLowerCase))
    if (hits.isEmpty) return sql
    val sb = new StringBuilder(sql)
    hits.foreach { m =>
      val open = sql.indexOf('(', m.start + 4)
      val close = matchParen(sql, open)
      require(close > 0, "unbalanced OVER (...)")
      val tail = sql.substring(m.end, close).trim
      val spec = defs(m.group(1).toLowerCase)
      val merged = if (tail.isEmpty) spec else s"$spec $tail"
      sb.replace(m.start, close + 1, s"OVER ($merged)")
    }
    sb.toString
  }

  /** DuckDB/pg ROW type spelling in casts — `x::ROW(a INT, …)` /
    * `CAST(x AS ROW(…))` → Spark `STRUCT<a: INT, …>`. Field types
    * recurse (nested ROW, `T[]` arrays) and pg alias names map
    * through [[mapTypeName]] (VARCHAR → STRING). Probed on 1.0:
    * `NULL::ROW(a INT) IS NULL` is true; `{'a':1}::ROW(a BIGINT)`
    * casts field-wise.
    */
  def rewriteRowTypes(sql: String): String = {
    val re = """(?i)(::\s*|\bAS\s+)(?:ROW|STRUCT)\s*\(""".r
    var cur = sql
    var guard = 0
    var done = false
    while (!done && guard < 32) {
      guard += 1
      val spans = quotedSpans(cur)
      re.findAllMatchIn(cur).toSeq.reverse.find(m =>
        !spans.exists(sp => m.start >= sp._1 && m.start < sp._2)) match {
        case Some(m) =>
          val open = cur.indexOf('(', m.start + m.group(1).length)
          val close = matchParen(cur, open)
          require(close > 0, "unbalanced ROW(...) type")
          val struct = convertRowType(cur.substring(open + 1, close))
          // `STRUCT(x INT)[]` / `[][]…` array suffixes belong to the
          // type: wrap here (the later `::T[]` bracket pass only sees
          // word-char type names, not the rewritten STRUCT<…>)
          var rest = cur.substring(close + 1)
          var wrapped = struct
          val arrSuf = """^\s*\[\s*\d*\s*\]""".r
          var suf = arrSuf.findFirstIn(rest)
          while (suf.isDefined) {
            wrapped = s"ARRAY< $wrapped >"
            rest = rest.substring(suf.get.length)
            suf = arrSuf.findFirstIn(rest)
          }
          cur = cur.substring(0, m.start) + m.group(1) + wrapped + rest
        case None => done = true
      }
    }
    cur
  }

  private def convertRowType(body: String): String = {
    val fields = splitTop(body).map { seg =>
      val s = seg.trim
      val i = s.indexWhere(_.isWhitespace)
      require(i > 0, s"ROW field '$s' must be '<name> <type>'")
      val name = s.substring(0, i).stripPrefix("\"").stripSuffix("\"")
      s"$name: ${convertTypeSpelling(s.substring(i + 1))}"
    }
    s"STRUCT< ${fields.mkString(", ")} >"
  }

  private def convertTypeSpelling(t0: String): String = {
    val t = t0.trim
    if ("""(?i)^(?:ROW|STRUCT)\s*\(""".r.findFirstIn(t).isDefined) {
      val open = t.indexOf('(')
      val close = matchParen(t, open)
      require(close > 0, s"unbalanced ROW type: $t")
      var conv = convertRowType(t.substring(open + 1, close))
      var rest = t.substring(close + 1).trim
      while (rest.startsWith("[") && rest.indexOf(']') > 0) {
        conv = s"ARRAY< $conv >"
        rest = rest.substring(rest.indexOf(']') + 1).trim
      }
      require(rest.isEmpty, s"unexpected tail after ROW type: $rest")
      conv
    } else if (t.endsWith("[]")) s"ARRAY< ${convertTypeSpelling(t.dropRight(2))} >"
    else mapTypeName(t)
  }

  private def rewriteDistinctOn(sql: String): String =
    distinctOnRe.findFirstMatchIn(sql) match {
      case Some(m) if atDepth0(sql, m.start) =>
        val open = m.end - 1
        val close = matchParen(sql, open)
        if (close < 0) sql
        else {
          val keys = sql.substring(open + 1, close).trim
          val rest = sql.substring(close + 1)
          val (body, tail) = findTopLevelTrailing(rest) match {
            case Some(i) => (rest.substring(0, i), rest.substring(i))
            case None => (rest, "")
          }
          // pg semantics: the trailing ORDER BY decides which row per
          // key survives; without one the choice falls back to the
          // keys themselves (any row — deterministic given the keys).
          val winOrder =
            if (tail.toUpperCase.startsWith("ORDER")) {
              val afterBy = tail.substring(
                tail.toUpperCase.indexOf("BY") + 2)
              findTopLevelKeyword(afterBy, 0, Seq("LIMIT")) match {
                case Some(i) => afterBy.substring(0, i)
                case None => afterBy
              }
            } else keys
          sql.substring(0, m.start) + "SELECT " + body +
            s" QUALIFY row_number() OVER (PARTITION BY $keys" +
            s" ORDER BY ${winOrder.trim}) = 1 " + tail
        }
      case _ => sql
    }

  /** Inject `(pred) AS __qualify` into the main select's projection
    * list (so the predicate is evaluated in the FROM scope, like
    * DuckDB's QUALIFY), then filter + drop it one level up. Returns
    * None when the main select can't be safely located: a top-level
    * set operation, or no top-level FROM. Note `* EXCEPT (c)` in the
    * select list also reads as a top-level set-op keyword — the
    * fallback is semantically fine there since `*` projects every
    * column the predicate could name.
    */
  private def injectQualify(before: String, pred: String): Option[String] = {
    if (findTopLevelKeyword(before, 0,
        Seq("UNION", "INTERSECT", "EXCEPT")).isDefined) return None
    val selPos = findTopLevelKeyword(before, 0, Seq("SELECT"))
      .getOrElse(return None)
    var j = selPos + "SELECT".length
    while (j < before.length && before(j).isWhitespace) j += 1
    val distinct = kwAt(before, j, "DISTINCT")
    if (distinct) j += 8 else if (kwAt(before, j, "ALL")) j += 3
    val fromPos = findTopLevelKeyword(before, j, Seq("FROM"))
      .getOrElse(return None)
    // DISTINCT moves to the outer select: it must deduplicate the
    // qualify-filtered rows WITHOUT the synthetic column.
    val inner = before.substring(0, selPos) + "SELECT " +
      before.substring(j, fromPos) + s", ($pred) AS __qualify " +
      before.substring(fromPos)
    val outerSel = if (distinct) "SELECT DISTINCT" else "SELECT"
    Some(s"$outerSel * EXCEPT (__qualify) FROM (\n  $inner\n) WHERE __qualify")
  }

  /** index of the close paren matching the open paren at `open`
    * (quote-aware), or -1 when it is unbalanced. */
  private[graft] def matchParen(s: String, open: Int): Int = {
    var depth = 0; var inS = false; var i = open
    while (i < s.length) {
      val c = s(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** split on top-level commas (outside parens/strings). */
  def splitTop(s: String): Seq[String] = splitTopLevel(s)

  private def splitTopLevel(s: String, sep: Char = ','): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var depth = 0; var inS = false
    s.foreach { c =>
      if (inS) { cur += c; if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case `sep` if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** DuckDB `* REPLACE (expr AS col, ...)` → `* EXCEPT (cols), exprs`.
    * The replaced column moves to the end of the projection; the
    * engine's column set and values match DuckDB exactly (consumers
    * that need DuckDB's ordinal order should name columns, as the
    * driver's sorted-column compare does).
    */
  private val starReplace = """(?i)\*\s+REPLACE\s*\(""".r

  private def rewriteStarReplace(sql: String): String =
    starReplace.findFirstMatchIn(sql) match {
      case None => sql
      case Some(m) =>
        val open = m.end - 1
        val close = matchParen(sql, open)
        if (close < 0) sql
        else {
          val items = splitTopLevel(sql.substring(open + 1, close))
          val asRe = """(?is)^(.*)\s+AS\s+(\w+)\s*$""".r
          val parsed = items.map {
            case asRe(expr, name) => (expr.trim, name)
            case other => return sql // malformed: leave untouched
          }
          val names = parsed.map(_._2).mkString(", ")
          val repl = parsed.map { case (e, n) => s"($e) AS $n" }.mkString(", ")
          rewriteStarReplace( // handle any further REPLACE occurrences
            sql.substring(0, m.start) + s"* EXCEPT ($names), $repl" +
              sql.substring(close + 1))
        }
    }

  /** DuckDB v1.1 `ASOF [LEFT] JOIN` SQL (reference-surface syntax;
    * SURVEY §2.2 Joins) → correlated LATERAL top-1 subquery, the
    * declarative Spark formulation of "latest right row at or before
    * the left timestamp". The DataFrame-level [[graft.AsOfJoin]]
    * (single-shuffle union+window) is the scale path; this rewrite is
    * the wire-compat path: Catalyst plans the lateral as a left outer
    * join of the aggregated subquery, not a nested loop, but it
    * re-aggregates per distinct key — fine for wire clients, not the
    * 100 TB pipeline entry point.
    *
    * Shape accepted: `FROM <left> ASOF [LEFT] JOIN <table> [alias]
    * ON <conjuncts>` where exactly one conjunct is an inequality on
    * the ordering column and the rest are equalities.
    */
  private val asofJoinRe =
    """(?i)\bASOF\s+(LEFT\s+)?JOIN\s+([\w.]+)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+ON\s+""".r

  private def rewriteAsofJoin(sql: String): String =
    asofJoinRe.findFirstMatchIn(sql) match {
      case None => sql
      case Some(m) =>
        val leftKw = Option(m.group(1)).map(_ => "LEFT ").getOrElse("")
        val table = m.group(2)
        val alias = Option(m.group(3)).getOrElse(table)
        // ON condition runs to the next top-level clause keyword
        val rest = sql.substring(m.end)
        val condEnd = findTopLevelKeyword(rest, 0,
          Seq("WHERE", "GROUP", "ORDER", "LIMIT", "QUALIFY", "WINDOW",
            "HAVING", "UNION", "INTERSECT", "EXCEPT", "JOIN", "ASOF",
            "INNER", "CROSS", "FULL", "RIGHT")).getOrElse(rest.length)
        var cond = rest.substring(0, condEnd).trim
        val tail = rest.substring(condEnd)
        // strip redundant outer parens: `ON (a AND b)` must split
        while (cond.startsWith("(") &&
            matchParen(cond, 0) == cond.length - 1)
          cond = cond.substring(1, cond.length - 1).trim
        val conjuncts = splitOnAnd(cond)
        val ineqRe = """(?s)^(.*?)(<=|>=|<|>)(.*)$""".r
        val bPrefixes = Seq(s"$alias.", s"$table.")
        def isB(e: String) = bPrefixes.exists(e.startsWith)
        val parsedIneqs = conjuncts.flatMap { c =>
          ineqRe.findFirstMatchIn(c).map(mm =>
            (c, mm.group(1).trim, mm.group(2), mm.group(3).trim))
        }
        // exactly one ordering inequality, its B side identifiable,
        // every other conjunct an equality with a B-side key
        val shape = parsedIneqs match {
          case Seq((ic, lhs0, op0, rhs0)) if isB(lhs0) != isB(rhs0) =>
            val (lExpr, bTs, op) =
              if (isB(rhs0)) (lhs0, rhs0, op0)
              else (rhs0, lhs0, op0 match {
                case "<=" => ">="; case ">=" => "<="
                case "<" => ">"; case ">" => "<"
              })
            val eqConjs = conjuncts.filterNot(_ == ic)
            val keys = eqConjs.map { c =>
              val i = c.indexOf('=')
              if (i < 0) "" else {
                val (a, b) = (c.substring(0, i).trim, c.substring(i + 1).trim)
                if (isB(a)) a else if (isB(b)) b else ""
              }
            }
            if (keys.contains("")) None
            else Some((lExpr, bTs, op, keys))
          case _ => None
        }
        shape match {
          case Some((lExpr, bTs, op, keys)) =>
            // Interval formulation: each B row is valid from its own
            // timestamp until its successor's (per key); the ASOF
            // match is then a plain equi-join plus a range filter —
            // hash-join plannable, no correlated subquery, exactly
            // one B row per matching left row (ties collapse into
            // empty intervals). Backward (L >= B.ts) uses lead();
            // forward (L <= B.ts) uses lag(). The successor column
            // stays out of the select list's stars.
            val backward = op.startsWith(">")
            val nbFn = if (backward) "lead" else "lag"
            val invOp = op match {
              case ">=" => "<"; case ">" => "<="
              case "<=" => ">"; case "<" => ">="
            }
            val partBy =
              if (keys.isEmpty) "" else s"PARTITION BY ${keys.mkString(", ")} "
            val innerFrom =
              s"$table${if (alias != table) s" AS $alias" else ""}"
            val inner = s"(SELECT ${alias}.*, $nbFn($bTs) OVER " +
              s"(${partBy}ORDER BY $bTs) AS __asof_nb " +
              s"FROM $innerFrom WHERE $bTs IS NOT NULL)"
            val joined = s"${leftKw}JOIN $inner AS $alias ON $cond " +
              s"AND ($lExpr $invOp $alias.__asof_nb " +
              s"OR $alias.__asof_nb IS NULL)"
            rewriteAsofJoin(hideHelpers(
              sql.substring(0, m.start) + joined + " " + tail, m.start,
              Seq(alias -> "__asof_nb")))
          case None => sql // not an ASOF shape we can translate
        }
    }

  /** split a predicate on top-level AND. */
  private def splitOnAnd(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    var depth = 0; var inS = false
    while (i < s.length) {
      val c = s(i)
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'A' | 'a' if depth == 0 && kwAt(s, i, "AND") =>
          out += s.substring(start, i).trim
          start = i + 3
          i += 2
        case _ =>
      }
      i += 1
    }
    out += s.substring(start).trim
    out.result().filter(_.nonEmpty)
  }

  /** pg/DuckDB `CREATE TEMP TABLE` (session-scoped): the AS-SELECT
    * form maps to a Spark temporary view (session-scoped, recomputed —
    * equivalent for deterministic queries and a strict superset of the
    * reference, whose per-query connections forget temp tables
    * instantly, cpp:42). The column-definition form maps to a regular
    * managed table (Spark has no temp table with a schema body).
    */
  private val createTempAs =
    """(?is)^\s*CREATE\s+TEMP(?:ORARY)?\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+""".r
  private val createTempSchema =
    """(?is)^\s*CREATE\s+TEMP(?:ORARY)?\s+TABLE\s+""".r

  /** DuckDB defaults EVERY order-by key to NULLS LAST in BOTH
    * directions (probed: bare `ORDER BY x` yields 1,2,NULL and
    * `ORDER BY x DESC` yields 2,1,NULL); Spark's ascending default is
    * NULLS FIRST. Each key without an explicit NULLS spelling gets
    * `NULLS LAST` appended — top-level, window-spec, and WITHIN GROUP
    * order-bys alike (in-aggregate ORDER BYs were consumed by
    * OrderedAgg earlier, which pins the same default). `ORDER BY ALL`
    * is left to Spark's native expansion (documented edge: its keys
    * keep Spark's defaults). Idempotent: keys already spelling NULLS
    * are untouched. */
  private val nullsTailRe = """(?i)NULLS\s+(FIRST|LAST)\s*$""".r
  private val orderTermKw = Seq("limit", "offset", "fetch", "union",
    "intersect", "except", "rows", "range", "groups", "window", "for",
    "into", "returning", "qualify")
  def pinOrderNullsLast(sql: String): String = {
    val low = sql.toLowerCase
    val inserts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = low.indexOf("order")
    while (i >= 0) {
      if (kwAt(sql, i, "ORDER") && !insideQuotes(sql, i)) {
        var j = i + 5
        while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
        if (kwAt(sql, j, "BY")) {
          var k = j + 2
          var depth = 0
          var keyStart = k
          var done = false
          def endKey(endExcl: Int): Unit = {
            val raw = sql.substring(keyStart, endExcl)
            val seg = raw.trim
            if (seg.nonEmpty && !seg.equalsIgnoreCase("all") &&
                nullsTailRe.findFirstIn(seg).isEmpty)
              inserts += keyStart + raw.lastIndexWhere(!_.isWhitespace) + 1
          }
          while (k < sql.length && !done) {
            val c = sql.charAt(k)
            if (c == '\'') {
              k += 1
              var closed = false
              while (k < sql.length && !closed) {
                if (sql.charAt(k) == '\'') {
                  if (k + 1 < sql.length && sql.charAt(k + 1) == '\'') k += 2
                  else { closed = true; k += 1 }
                } else k += 1
              }
            } else if (c == '"') {
              k += 1
              while (k < sql.length && sql.charAt(k) != '"') k += 1
              k += 1
            } else if (c == '(' || c == '[') { depth += 1; k += 1 }
            else if (c == ')' || c == ']') {
              if (depth == 0) { endKey(k); done = true }
              else { depth -= 1; k += 1 }
            } else if (c == ',' && depth == 0) {
              endKey(k); k += 1; keyStart = k
            } else if (c == ';' && depth == 0) { endKey(k); done = true }
            else if (depth == 0 && c.isLetter &&
                orderTermKw.exists(t => kwAt(sql, k, t))) {
              endKey(k); done = true
            } else k += 1
          }
          if (!done) endKey(sql.length)
        }
      }
      i = low.indexOf("order", i + 5)
    }
    if (inserts.isEmpty) sql
    else {
      val sb = new StringBuilder
      var prev = 0
      for (p <- inserts.sorted) {
        sb.append(sql.substring(prev, p)).append(" NULLS LAST"); prev = p
      }
      sb.append(sql.substring(prev)).toString
    }
  }

  private def rewriteCreateTemp(sql: String): String =
    createTempAs.findFirstMatchIn(sql) match {
      case Some(m) =>
        s"CREATE OR REPLACE TEMPORARY VIEW ${m.group(1)} AS " +
          sql.substring(m.end)
      case None =>
        createTempSchema.findFirstMatchIn(sql) match {
          case Some(m) => "CREATE TABLE " + sql.substring(m.end)
          case None => sql
        }
    }

  /** ENUM sugar → registry functions (EnumTypes). Fires only when at
    * least one enum type is defined AND the statement mentions `::`,
    * `cast` or `enum_` — so the common path pays one Set lookup. The
    * enum_* function forms go first (they need the TYPE NAME, which a
    * plain value-cast rewrite would erase), then postfix/CAST casts.
    */
  private val enumFnNullCast =
    """(?i)\benum_(range|first|last)\s*\(\s*NULL\s*::\s*([\w"]+)\s*\)""".r
  private val enumCodeCast =
    """(?i)\benum_code\s*\(\s*([^(),]+?)\s*::\s*([\w"]+)\s*\)""".r
  private val enumRangeBoundaryRe =
    ("""(?i)\benum_range_boundary\s*\(\s*([^(),]+?)\s*::\s*([\w"]+)""" +
      """\s*,\s*([^(),]+?)\s*::\s*([\w"]+)\s*\)""").r
  private val enumPostfixCast =
    """('(?:[^']|'')*'|[\w."]+)\s*::\s*([\w"]+)""".r
  private val enumOrderCmp =
    ("""('(?:[^']|'')*'|[\w."]+)\s*::\s*([\w"]+)\s*(<=|>=|<|>)\s*""" +
      """('(?:[^']|'')*'|[\w."]+)(?:\s*::\s*([\w"]+))?""").r
  private val enumCastAsRe =
    """(?i)\bCAST\s*\(\s*([^()]+?)\s+AS\s+([\w"]+)\s*\)""".r
  private def rewriteEnums(sql: String): String = {
    val enums = EnumTypes.names()
    if (enums.isEmpty) return sql
    def isE(n: String) =
      enums.contains(n.stripPrefix("\"").stripSuffix("\"").toLowerCase)
    val q = java.util.regex.Matcher.quoteReplacement _
    val s1 = enumFnNullCast.replaceAllIn(sql, m =>
      if (isE(m.group(2)))
        q(s"graft_enum_${m.group(1).toLowerCase}('${m.group(2)}')")
      else q(m.matched))
    val s2 = enumRangeBoundaryRe.replaceAllIn(s1, m =>
      if (isE(m.group(2)) && isE(m.group(4)))
        q(s"graft_enum_range_boundary('${m.group(2)}', ${m.group(1)}, ${m.group(3)})")
      else q(m.matched))
    val s3 = enumCodeCast.replaceAllIn(s2, m =>
      if (isE(m.group(2)))
        q(s"graft_enum_code('${m.group(2)}', ${m.group(1)})")
      else q(m.matched))
    // ordering comparisons on enum casts follow DEFINITION order
    // (probed: 'lo'::pm < 'hi'::pm is true) — both sides lower to
    // enum_code; equality keeps the string model (same answer). Bare
    // enum-typed columns without a cast stay lexicographic (the
    // documented model edge — compare enum_code() for those).
    val s3b = enumOrderCmp.replaceAllIn(s3, m =>
      if (isE(m.group(2)) && Option(m.group(5)).forall(isE))
        q(s"graft_enum_code('${m.group(2)}', ${m.group(1)}) " +
          s"${m.group(3)} graft_enum_code('${m.group(2)}', ${m.group(4)})")
      else q(m.matched))
    val s4 = enumPostfixCast.replaceAllIn(s3b, m =>
      if (isE(m.group(2)))
        q(s"graft_enum_cast('${m.group(2)}', ${m.group(1)})")
      else q(m.matched))
    enumCastAsRe.replaceAllIn(s4, m =>
      if (isE(m.group(2)))
        q(s"graft_enum_cast('${m.group(2)}', ${m.group(1)})")
      else q(m.matched))
  }

  /** UNION-type sugar: `union_value(tag := v)` named-arg form (Spark's
    * parser has no `:=`), and casts onto registered union type names →
    * the post-analysis constructor (UnionCastExpr via
    * graft_union_cast). Mirrors rewriteEnums' shape.
    */
  private val unionValueArg =
    """(?i)\bunion_value\s*\(\s*([A-Za-z_]\w*)\s*:=""".r
  private def rewriteUnions(sqlIn: String): String = {
    val q = java.util.regex.Matcher.quoteReplacement _
    val s0 = if (!sqlIn.toLowerCase.contains("union_value")) sqlIn
      else unionValueArg.replaceAllIn(sqlIn,
        m => q(s"graft_union_value('${m.group(1)}', "))
    val unions = UnionTypes.names()
    if (unions.isEmpty) return s0
    def isU(n: String) =
      unions.contains(n.stripPrefix("\"").stripSuffix("\"").toLowerCase)
    val s1 = enumPostfixCast.replaceAllIn(s0, m =>
      if (isU(m.group(2))) q(s"graft_union_cast('${m.group(2)}', ${m.group(1)})")
      else q(m.matched))
    enumCastAsRe.replaceAllIn(s1, m =>
      if (isU(m.group(2))) q(s"graft_union_cast('${m.group(2)}', ${m.group(1)})")
      else q(m.matched))
  }

  /** DuckDB SQL → Spark SQL. Runs once per statement, in
    * [[GraftParser.parsePlan]]: its output is what Spark parses, and
    * what a stored view keeps as its text. */
  def rewriteFull(sqlIn: String): String = {
    // Cheap pre-scan gates: most statements trigger no rewrite — an
    // indexOf is ~100× cheaper than a full regex pass, so each pass
    // first checks for its trigger substring. Semantics are unchanged:
    // a pattern can only match if its literal anchor occurs.
    // dollar-quoted strings FIRST (later passes tokenize only '...'),
    // then the FROM-first short form (cheap startsWith gates both)
    val sqlDq0 = if (sqlIn.indexOf('$') >= 0)
      rewriteDollarQuotes(sqlIn) else sqlIn
    val sqlDq = if (sqlDq0.length >= 5 &&
        sqlDq0.trim.regionMatches(true, 0, "from", 0, 4))
      rewriteFromFirst(sqlDq0) else sqlDq0
    // string-literal seam: DuckDB's E'...' escape-strings decode to
    // plain literals, then backslashes inside '...' spans double so
    // Spark's default parser (which escape-processes them) delivers
    // DuckDB's standard-conforming semantics. The "e'" gate costs one
    // substring check; a false hit (…name = 'Pete') scans once and
    // emits the text unchanged.
    val sqlEsc0 = if (sqlDq.indexOf('\'') >= 0 &&
        (sqlDq.contains("E'") || sqlDq.contains("e'")))
      rewriteEStrings(sqlDq) else sqlDq
    val sqlEsc = if (sqlEsc0.indexOf('\\') >= 0)
      escapeBackslashesInLiterals(sqlEsc0) else sqlEsc0
    // numeric digit separators (1_000_000) — token-start guarded so
    // identifiers like col1_2 stay
    val sqlNu = if (sqlEsc.indexOf('_') < 0) sqlEsc
      else replaceOutsideQuotes(numUnderscore, sqlEsc)(m =>
        if (m.group(1).indexOf('_') >= 0) m.group(1).replace("_", "")
        else m.group(1))
    // FILTER clause with the WHERE keyword omitted (DuckDB accepts)
    val sqlFw = if (!sqlNu.toLowerCase.contains("filter")) sqlNu
      else replaceOutsideQuotes(filterNoWhere, sqlNu)(m =>
        m.group(1) + "WHERE ")
    // DuckDB collation names onto Spark's collation support (probed:
    // UTF8_LCASE orders and compares like DuckDB NOCASE). Unknown
    // names keep Spark's loud invalid-collation error.
    val sqlColl = if (!sqlFw.toLowerCase.contains("collate")) sqlFw
      else replaceOutsideQuotes(collateNocase, sqlFw)(_ => "COLLATE UTF8_LCASE")
    // DuckDB trailing commas: accepted in the select list (before the
    // next clause keyword or end of statement) and in [...] / {...}
    // literals. The textual pass cannot see which clause a comma ends,
    // so a trailing comma in GROUP/ORDER BY lists is accepted too — a
    // documented SUPERSET (DuckDB errors there); call argument lists
    // stay untouched (both engines error). Runs before the
    // bracket/brace passes so `[1, 2,]` never reaches array().
    val sqlTc = if (sqlColl.indexOf(',') < 0) sqlColl
      else replaceOutsideQuotes(trailingComma, sqlColl)(m => m.group(1))
    val lowIn = sqlTc.toLowerCase
    val sqlE = if (lowIn.contains("::") || lowIn.contains("cast") ||
        lowIn.contains("enum_")) rewriteEnums(sqlTc) else sqlTc
    val sqlU = if (lowIn.contains("union_") || lowIn.contains("::") ||
        lowIn.contains("cast")) rewriteUnions(sqlE) else sqlE
    // unary minus binds LOOSER than `::` in pg/DuckDB
    val sqlNm = if (sqlU.contains("::"))
      replaceOutsideQuotes(negLitCast, sqlU)(m =>
        s"${m.group(1)}${m.group(2)}(-(${m.group(3)}${m.group(4)}))")
      else sqlU
    // array-typed casts before the bracket pass would misread them
    // (element names map through the pg aliases: VARCHAR[] → STRING;
    // nested T[][] spellings wrap to fixpoint)
    val sqlA00 = if (sqlNm.contains("::"))
      replaceOutsideQuotes(castOpArr, sqlNm)(m =>
        s"::ARRAY<${mapTypeName(m.group(1))}>")
      else sqlNm
    val sqlA0 = {
      var cur = sqlA00; var guard = 0
      while (guard < 4 && nestedArrCast.findFirstIn(cur).isDefined) {
        // the space keeps the closing pair out of the `>>` operator
        // pass (Spark's type parser is whitespace-tolerant)
        cur = replaceOutsideQuotes(nestedArrCast, cur)(m =>
          s"::ARRAY<ARRAY<${m.group(1)}> >")
        guard += 1
      }
      cur
    }
    val sqlA = if (sqlA0.toLowerCase.contains("cast"))
      replaceOutsideQuotes(castAsArr, sqlA0)(m =>
        s"AS ARRAY<${mapTypeName(m.group(1))}>${m.group(2)}") else sqlA0
    // ROW(...) / STRUCT(...) type spellings in casts → STRUCT<...>
    // (before the bracket pass, which would misread `ROW(a INT[])`)
    val sqlRw = if ((lowIn.contains("row") || lowIn.contains("struct(") ||
        lowIn.contains("struct (")) &&
        (lowIn.contains("::") || lowIn.contains("cast")))
      rewriteRowTypes(sqlA) else sqlA
    // DuckDB brace literals ({'a':1} structs, MAP {k:v}) — innermost
    // first, then bracket syntax (list literals, 1-based subscripts,
    // inclusive slices) — token-aware, strings/comments untouched
    val sqlBr = if (sqlRw.indexOf('{') >= 0) BracketRewrite.rewriteBraces(sqlRw) else sqlRw
    // DuckDB operator spellings: `//` int-div, `**`/`^` power (Spark's
    // `^` is XOR — must not reach the stock parser), the ~/~~/~~~
    // match family, ^@, @, postfix !, and the list ops <@ @> && <-> <=>
    val sqlG = if (lowIn.contains("glob"))
      replaceOutsideQuotes(globKeyword, sqlBr)(_ => "~~~") else sqlBr
    val sqlO = if (BracketRewrite.hasOperatorTrigger(sqlG))
      BracketRewrite.rewriteOperators(sqlG) else sqlG
    val sqlB = if (sqlO.indexOf('[') >= 0) BracketRewrite.rewrite(sqlO) else sqlO
    // `x AT TIME ZONE 'z'` (pg/DuckDB postfix operator) — runs BEFORE
    // the typedLit collapse so the literal's TIMESTAMPTZ spelling can
    // dispatch the direction (probed, session TZ UTC): a plain
    // TIMESTAMP is a wall time INTERPRETED in the zone (→
    // to_utc_timestamp); a TIMESTAMPTZ is an instant CONVERTED to the
    // zone's wall time (→ from_utc_timestamp). Erased-tstz columns
    // take the plain-timestamp reading (documented — graft's model
    // stores UTC wall times). Covers literal / identifier-chain /
    // single-call operands; parenthesized expressions fall through to
    // a loud parse error.
    val sqlAtz = if (!sqlB.toLowerCase.contains("at time zone")) sqlB
      else {
        var cur = sqlB
        var guard = 0
        var changed = true
        while (changed && guard < 16) {
          val next = replaceOutsideQuotes(atTimeZoneRe, cur) { m =>
            val operand = m.group(1)
            val zone = m.group(2)
            if (operand.toLowerCase.startsWith("timestamptz"))
              s"from_utc_timestamp(TIMESTAMP ${operand.drop(11).trim}, $zone)"
            else s"to_utc_timestamp($operand, $zone)"
          }
          changed = next != cur
          cur = next
          guard += 1
        }
        cur
      }
    // timezone(zone, TIMESTAMPTZ '...') — the instant-to-wall
    // direction — must dispatch BEFORE the tz-literal collapse below
    // erases the spelling (the registry alias then serves the
    // TIMESTAMP/default reading)
    val sqlTzf = if (!sqlAtz.toLowerCase.contains("timezone")) sqlAtz
      else replaceOutsideQuotes(timezoneTstz, sqlAtz)(m =>
        s"from_utc_timestamp(TIMESTAMP ${m.group(2)}, ${m.group(1)})")
    // tz-qualified typed literals collapse onto the plain spellings
    // (session TZ pinned UTC, matching DuckDB's rendering). Both
    // passes skip string/comment spans — 'timestamptz ' inside a
    // string literal is data. TIMESTAMPTZ keeps its literal (Spark's
    // TIMESTAMP literal parses zone offsets); TIMETZ consumes and
    // normalizes its literal (Spark TIME parses no offset).
    val sqlT0a = if (sqlTzf.toLowerCase.contains("timestamptz"))
      replaceOutsideQuotes(typedLit, sqlTzf)(_ => "TIMESTAMP ") else sqlTzf
    // DuckDB's storage-granularity timestamp literals: the value
    // truncates to the declared tick (TIMESTAMP_NS is Spark's micros
    // — finer input is already micro-truncated by the literal parser)
    val sqlT0 = if (sqlT0a.toLowerCase.contains("timestamp_"))
      replaceOutsideQuotes(tsGranLit, sqlT0a)(m =>
        m.group(1).toLowerCase match {
          case "s" => s"date_trunc('second', TIMESTAMP ${m.group(2)})"
          case "ms" => s"date_trunc('millisecond', TIMESTAMP ${m.group(2)})"
          case _ => s"TIMESTAMP ${m.group(2)}"
        }) else sqlT0a
    val sqlT = if (sqlT0.toLowerCase.contains("timetz"))
      replaceOutsideQuotes(timetzLit, sqlT0)(m =>
        s"TIME '${normalizeTimeTz(m.group(1))}'") else sqlT0
    // struct_pack(a := 1) / struct_insert(s, b := 2): Spark's parser
    // has no `:=` — lower the named-arg sugar to ('name', value)
    // pairs (union_value's own := form was already rewritten above)
    val sqlS = if (sqlT.contains(":="))
      replaceOutsideQuotes(namedArg, sqlT)(m => s"'${m.group(1)}',") else sqlT
    // explicit backslash ESCAPE on a literal pattern: re-spell both
    // onto  so DuckLikeNoEscapeRule (which kills the parser's
    // implicit default '\\') cannot eat the user's real clause
    val sqlEc = if (sqlS.toLowerCase.contains("escape") &&
        sqlS.contains("\\"))
      likeEscBs.replaceAllIn(sqlS, m =>
        java.util.regex.Matcher.quoteReplacement(
          // group(1) is already backslash-DOUBLED by the literal seam: an
          // original escape prefix reads as 2 chars here, an escaped
          // literal backslash as 4. The 4-char form must survive as a
          // literal backslash (re-doubled for the escaping parser), NOT
          // collapse to escape-sentinels like the 2-char form.
          s"'${m.group(1).replace("\\\\\\\\", "\u0006")
            .replace("\\\\", "\u0007")
            .replace("\u0006", "\\\\")}' ESCAPE '\u0007'"))
      else sqlS
    // DuckDB's zero-arg count() ≡ count(*)
    val sql = if (sqlEc.toLowerCase.contains("count"))
      replaceOutsideQuotes(countEmpty, sqlEc)(_ => "count(*)") else sqlEc
    val low = if (sql eq sqlEsc) lowIn else sql.toLowerCase
    @inline def has(t: String): Boolean = low.contains(t)
    // DuckDB's quoted-string-unit date_diff/date_sub: Spark's parser
    // special-cases those names (builds TimestampDiff in AstBuilder,
    // bypassing the function registry), so the DuckDB spelling is
    // renamed to duck_-prefixed registry functions. Fires ONLY when
    // the first argument is a string literal — Spark's identifier-unit
    // and 2-arg forms are untouched.
    val sqlD = if (!has("date_diff") && !has("datediff") &&
        !has("date_sub") && !has("datesub")) sql
      else duckDateFn.replaceAllIn(sql,
        m => s"duck_${m.group(1).toLowerCase}('")
    val sqlL = if (!has("read_")) sqlD
      else readerListArg.replaceAllIn(sqlD, m =>
        java.util.regex.Matcher.quoteReplacement(
          s"${m.group(1)}(array(${m.group(2)})"))
    val sqlC = if (!has("read_csv") && !has("read_json") &&
        !has("read_ndjson")) sqlL
      else csvCall.replaceAllIn(sqlL, m => {
        val body = csvNamedArg.replaceAllIn("(" + m.group(2) + ")",
          bm => bm.group(1) + bm.group(2) + " => ").stripPrefix("(").stripSuffix(")")
        java.util.regex.Matcher.quoteReplacement(s"${m.group(1)}($body)")
      })
    val sqlCl = if (!has("columns")) sqlC
      else replaceOutsideQuotes(columnsLambdaRe, sqlC) { m =>
        val body = m.group(2).trim.replace("'", "''")
        s"COLUMNS('${ExpandColumnsRule.LambdaMarker}${m.group(1)}:$body')"
      }
    val sr0 = if (has("temp")) rewriteCreateTemp(sqlCl) else sqlCl
    val sr = if (has("replace")) rewriteStarReplace(sr0) else sr0
    val s0a = if (has("asof")) rewriteAsofJoin(sr) else sr
    val s0p = if (has("positional")) rewritePositionalJoin(s0a) else s0a
    val s0u = if (has("unnest")) rewriteCommaUnnest(s0p) else s0p
    val s0v = if (has("values") && has("in")) rewriteInValues(s0u) else s0u
    val s0q = if (has("any") || has("all") || has("some"))
      rewriteQuantified(s0v) else s0v
    // DuckDB's parameterized interval: INTERVAL (1+2) DAYS — lowered
    // to make_interval so it renders/combines like the rest of the
    // dialect's CalendarInterval forms (an unknown unit falls
    // through to the parser's own error)
    val s0ip = if (has("interval") && s0q.contains("("))
      replaceOutsideQuotes(intervalParen, s0q) { m =>
        val slot = m.group(2).toLowerCase.stripSuffix("s") match {
          case "year" => Some(0)
          case "month" => Some(1)
          case "week" => Some(2)
          case "day" => Some(3)
          case "hour" => Some(4)
          case "minute" | "min" => Some(5)
          case "second" | "sec" => Some(6)
          case _ => None
        }
        slot match {
          case Some(i) =>
            val args = Seq.tabulate(7)(j =>
              if (j == i) s"(${m.group(1)})" else "0")
            s"make_interval(${args.mkString(", ")})"
          case None => m.matched
        }
      }
      else s0q
    // DuckDB's LIMIT p% = the first floor(count*p/100) rows — lowered
    // onto a QUALIFY row_number window (the QUALIFY pass below then
    // injects the predicate); >100 errors loudly like DuckDB.
    // TOP-LEVEL only: the QUALIFY lowering does not reach into
    // subqueries, so a nested LIMIT % keeps its loud parse error.
    val s0lp = if (!has("limit") || !has("%")) s0ip
      else replaceOutsideQuotes(limitPercent, s0ip) { m =>
        val depth = s0ip.substring(0, m.start)
          .count(_ == '(') - s0ip.substring(0, m.start).count(_ == ')')
        if (depth > 0) m.matched
        else {
          val p = m.group(3).toDouble
          if (p > 100.0) throw new IllegalArgumentException(
            "Limit percent out of range, should be between 0% and 100%")
          val keys = Option(m.group(2)).map(_.trim).filter(_.nonEmpty)
          // a constant window order: DuckDB's row pick without ORDER
          // BY is arbitrary anyway, and Spark requires SOME ordering
          val win = keys.map(k => s"OVER (ORDER BY $k)")
            .getOrElse("OVER (ORDER BY 'x')")
          val tail = keys.map(k => s" ORDER BY $k").getOrElse("")
          // 100e0: a DOUBLE literal keeps the division out of the
          // decimal-divide post-hoc retype (which would re-type under
          // the already-resolved floor)
          s" QUALIFY row_number() $win <= " +
            s"floor(count(*) OVER () * ${m.group(3)} / 100e0)$tail"
        }
      }
    val s0 = if (has("interval")) rewriteMixedIntervals(s0lp) else s0lp
    val s0m0 = if (has("materialized"))
      replaceOutsideQuotes(cteMaterialized, s0)(_ => "AS (") else s0
    // plain replaceAllIn (like the enum casts): the operand capture
    // group itself STARTS at a string literal, which the
    // outside-quotes guard would skip
    val s0m = if (has("uuid")) {
      val q = java.util.regex.Matcher.quoteReplacement _
      val u1 = uuidCastAsRe.replaceAllIn(s0m0, m =>
        q(s"graft_uuid(${m.group(2)})"))
      uuidPostfixCast.replaceAllIn(u1, m =>
        q(s"graft_uuid(${m.group(1)})"))
    } else s0m0
    val s1 = if (!has("generate_series")) s0m else
      genSeries.replaceAllIn(s0m, m => {
        val kw = m.group(1)
        val args = m.group(2)
        // `t(x)`: table alias with a column list names the column x;
        // a bare alias doubles as the column name (pragmatic — DuckDB
        // resolves both spellings)
        val col = Option(m.group(5))
          .orElse(Option(m.group(4))).getOrElse("generate_series")
        val tbl = if (m.group(5) != null) s" AS ${m.group(4)}" else ""
        // explode of the SCALAR generate_series (DuckSeries): Spark's
        // sequence() would direction-infer `generate_series(5, 1)`
        // into a countdown where DuckDB never counts down by default
        java.util.regex.Matcher.quoteReplacement(
          s"$kw (SELECT explode(generate_series($args)) AS $col)$tbl")
      })
    // information_schema (ORMs / SQL tools probe it; DuckDB serves it
    // natively) lowered onto the duckdb_* metadata TVFs with the
    // standard column names
    val s1is = if (!has("information_schema")) s1 else
      infoSchemaConstraintViews.replaceAllIn(
      infoSchemaTables.replaceAllIn(
        infoSchemaColumns.replaceAllIn(s1, m =>
          java.util.regex.Matcher.quoteReplacement(
            m.group(1) + " (SELECT database_name AS table_catalog, " +
              "schema_name AS table_schema, table_name, column_name, " +
              "column_index + 1 AS ordinal_position, data_type " +
              "FROM duckdb_columns())")),
        m => java.util.regex.Matcher.quoteReplacement(
          m.group(1) + " (SELECT database_name AS table_catalog, " +
            "schema_name AS table_schema, table_name, " +
            "CASE WHEN temporary THEN 'LOCAL TEMPORARY' " +
            "ELSE 'BASE TABLE' END AS table_type FROM duckdb_tables())")),
        m => java.util.regex.Matcher.quoteReplacement(
          s"${m.group(1)} graft_is_${m.group(2).toLowerCase}()"))
    val s1a = if (!has("'")) s1is else
      barePathTable.replaceAllIn(s1is, m => {
        val kw = m.group(1); val path = m.group(2); val ext = m.group(3)
        java.util.regex.Matcher.quoteReplacement(
          s"$kw ${readerFor(ext)}('$path')")
      })
    val s1s = if (!has("sample")) s1a else
      usingSample.replaceAllIn(s1a, m => {
        val unit = Option(m.group(2)).map(_.toUpperCase.trim) match {
          case Some("%") | Some("PERCENT") => "PERCENT"
          case _ => "ROWS"
        }
        s"TABLESAMPLE (${m.group(1)} $unit)"
      })
    // EXTRACT long-tail fields → DuckDB-semantic scalar functions
    val s1x = if (!has("extract")) s1s
      else replaceOutsideQuotes(extractRe, s1s) { m =>
        extractFieldMap.get(m.group(1).toLowerCase) match {
          case Some(fn) => s"$fn("
          case None => m.matched
        }
      }
    // ANSI OFFSET/FETCH → LIMIT/OFFSET
    val s1f0 = if (!has("fetch")) s1x
      else replaceOutsideQuotes(offsetFetchRe, s1x)(m =>
        s"LIMIT ${m.group(2)} OFFSET ${m.group(1)}")
    val s1f1 = if (!has("fetch")) s1f0
      else replaceOutsideQuotes(fetchOnlyRe, s1f0)(m => s"LIMIT ${m.group(1)}")
    val s1f = if (!has("offset")) s1f1
      else replaceOutsideQuotes(offsetRowsRe, s1f1)(m => s"OFFSET ${m.group(1)}")
    // DuckDB TABLESAMPLE methods → Spark TABLESAMPLE
    val s1ts = if (!has("tablesample")) s1f
      else replaceOutsideQuotes(tablesampleMethodRe, s1f) { m =>
        val pct = m.group(3) != null
        val unit = if (pct) "PERCENT"
          else if (m.group(1).equalsIgnoreCase("reservoir")) "ROWS"
          else "PERCENT"
        s"TABLESAMPLE (${m.group(2)} $unit)"
      }
    // CREATE TABLE constraint strip + bare VARCHAR columns
    val isCreateTable = has("create") && has("table") &&
      """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(TEMP(ORARY)?\s+)?TABLE\b""".r
        .findFirstIn(s1ts).isDefined
    val s1dd = if (!isCreateTable) s1ts
      else {
        // PK recording happens in Engine.query, on the statement
        // as written: this pass only strips
        val a = replaceOutsideQuotes(tableConstraintRe, s1ts)(_ => "")
        val b = replaceOutsideQuotes(colConstraintRe, a)(_ => "")
        replaceOutsideQuotes(ddlVarcharRe, b)(_ => "STRING")
      }
    // DuckDB runs order-REQUIRING window functions over an empty
    // OVER () (arbitrary order); Spark refuses — give them a constant
    // ordering (same arbitrary-order contract, rank-family all-ties)
    val s1we = if (!has("over")) s1dd
      else overEmptyOrder.replaceAllIn(s1dd, m =>
        java.util.regex.Matcher.quoteReplacement(
          s"${m.group(1)}${m.group(2)} OVER (ORDER BY 1)"))
    // named-window EXTENSION refs `OVER (w …)` — inline before the
    // frame-EXCLUDE / FILTER window passes see the text
    val s1wx = if (!has("window") || !has("over")) s1we
      else rewriteWindowRefExtend(s1we)
    val s1b0 = if (!has("exclude")) s1wx
      else starExclude.replaceAllIn(s1wx, "* EXCEPT (")
    // window-frame EXCLUDE (CURRENT ROW / GROUP / TIES / NO OTHERS):
    // algebraic lowering for sum/count/avg — see WindowExclude
    val s1b1 = if (!has("exclude") || !has("over")) s1b0
      else WindowExclude.rewrite(s1b0)
    // aggregate FILTER on window functions (CASE-wrapped arguments)
    val s1b2 = if (!has("filter") || !has("over")) s1b1
      else WindowExclude.rewriteFilter(s1b1)
    // DuckDB in-aggregate ORDER BY (string_agg/list/array_agg …)
    val s1b3 = if (!has("order")) s1b2 else OrderedAgg.rewrite(s1b2)
    // alias(expr) AS ident → the enclosing projection alias (DuckDB)
    val s1b4 = if (!has("alias")) s1b3 else rewriteAliasCall(s1b3)
    // bit_length/octet_length over BIT args: must fire while ::BIT is
    // still spelled (the cast collapse below erases the BIT-ness)
    val s1b = if (!has("bit_length") && !has("octet_length")) s1b4
      else rewriteBitLen(s1b4)
    // both cast rewrites can only fire if a pg type-alias name occurs
    val aliasFound = pgTypeAliases.keysIterator.exists(low.contains)
    val s2 = if (!aliasFound || !has("::")) s1b else castOp.replaceAllIn(s1b,
      m => "::" + pgTypeAliases(m.group(1).toLowerCase))
    val s3 = if (!aliasFound) s2 else castAs.replaceAllIn(s2,
      m => "AS " + pgTypeAliases(m.group(1).toLowerCase) + ")")
    // IGNORE/RESPECT NULLS inside the call parens → after them
    val s3i = if (!has("nulls")) s3
      else replaceOutsideQuotes(nullsTreatRe, s3)(m =>
        ") " + m.group(1).toUpperCase + " NULLS")
    val s4 = if (!has("->")) s3i else rewriteJsonArrows(s3i)
    val s5a = if (has("distinct") && has("on")) rewriteDistinctOn(s4) else s4
    // DuckDB's NULLS LAST default in both sort directions — checked
    // against s5a itself since earlier passes can generate ORDER BYs
    val s5 = if (!s5a.toLowerCase.contains("order")) s5a
      else pinOrderNullsLast(s5a)
    (if ((s5 ne s4) || has("qualify"))
      findTopLevelKeyword(s5, 0, Seq("QUALIFY")) else None) match {
      case None => s5
      case Some(pos) =>
        val before = s5.substring(0, pos)
        val after = s5.substring(pos + "QUALIFY".length)
        // split predicate from trailing top-level ORDER BY / LIMIT
        val (pred, tail) = findTopLevelTrailing(after) match {
          case Some(idx) => (after.substring(0, idx), after.substring(idx))
          case None => (after, "")
        }
        // Preferred form: inject the predicate as an extra projected
        // column of the SAME select, so it sees the full FROM scope
        // (window exprs over unprojected columns work, matching
        // DuckDB) and — via Spark's lateral column alias resolution —
        // the select's own aliases too. Falls back to wrapping the
        // whole query when the main select can't be located (e.g. a
        // top-level set operation), where the predicate then sees
        // output columns only.
        val injected = injectQualify(before, pred)
        val wrapped = injected.getOrElse(
          s"""SELECT * EXCEPT (__qualify) FROM (
             |  SELECT __q.*, ($pred) AS __qualify FROM ($before) __q
             |) WHERE __qualify""".stripMargin)
        s"$wrapped $tail"
    }
  }
}
