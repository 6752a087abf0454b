package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-backed COPY TO / COPY FROM — the DuckDB import/export surface
  * (delegated verbatim by the reference at cpp:52) mapped onto
  * DataFrame writers/readers, shared by the wire handler AND
  * `Engine.query` so library users get the same statements. STDIN
  * copy stays wire-only (the bytes arrive on the socket, [[CopyIn]])
  * and appends through the same [[append]] step.
  *
  * COPY TO options: FORMAT PARQUET|CSV|JSON, HEADER, DELIMITER 'c',
  * PARTITION_BY (cols...) → hive-partitioned output directories (the
  * 100 TB export shape), COMPRESSION 'codec' (zstd/gzip/snappy/...).
  */
object CopyOps {

  val copyToRe =
    """(?is)^COPY\s+(\(.*\)|[\w.]+)\s+TO\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$""".r
  val copyFromFileRe =
    """(?is)^COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(?:WITH\s*)?(.*?)\s*;?\s*$""".r

  /** DELIMITER 'c' parsed from the RAW options text — matching on the
    * uppercased copy would corrupt lowercase delimiter characters. */
  def copyDelim(optsRaw: String): Option[String] =
    Option(optsRaw).flatMap(o =>
      """(?i)DELIM\w*\s+'([^']*)'""".r.findFirstMatchIn(o).map(_.group(1)))

  /** The delimiter of a wire COPY (STDIN/STDOUT): pg takes exactly one
    * single-byte character other than CR and LF; tab for text format
    * and comma for CSV by default. */
  def wireDelim(optsRaw: String, csv: Boolean): Char =
    copyDelim(optsRaw) match {
      case None => if (csv) ',' else '\t'
      case Some(d) if d.length == 1 && d(0) < 0x80 && d(0) != '\n' && d(0) != '\r' => d(0)
      case Some(d) => throw new UnsupportedOperationException(
        s"COPY delimiter must be a single one-byte character other than CR and LF, got '$d'")
    }

  def copyTo(session: SparkSession, src: String, path: String,
      optsOrNull: String): Long = {
    val df =
      if (src.startsWith("("))
        graft.Engine.query(session, src.stripPrefix("(").stripSuffix(")"))
      else session.table(src)
    val raw = Option(optsOrNull).getOrElse("")
    val opts = raw.toUpperCase
    val fmt =
      if (opts.contains("PARQUET")) "parquet"
      else if (opts.contains("JSON")) "json"
      else "csv"
    val partBy = """(?i)PARTITION_BY\s*\(([^)]*)\)""".r
      .findFirstMatchIn(raw)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).toSeq)
    val compression = """(?i)COMPRESSION\s+'?(\w+)'?""".r
      .findFirstMatchIn(raw).map(_.group(1).toLowerCase)
    // Spark's JSON writer is NDJSON by construction — a single JSON
    // array can't be assembled distributed; refuse rather than write
    // a silently different shape
    if (fmt == "json" &&
        """(?i)\bARRAY\s+'?TRUE'?""".r.findFirstIn(raw).isDefined)
      throw new IllegalArgumentException(
        "COPY TO (FORMAT JSON, ARRAY TRUE) is not supported: the " +
          "engine writes newline-delimited JSON (use ARRAY FALSE)")
    def strOpt(key: String): Option[String] =
      s"(?i)\\b$key\\s+'([^']*)'".r.findFirstMatchIn(raw).map(_.group(1))
    val n = df.count()
    var w = df.write.mode("overwrite")
      .option("header", (fmt == "csv" && opts.contains("HEADER")).toString)
      .option("sep", if (fmt == "csv") copyDelim(optsOrNull).getOrElse(",")
        else ",")
    if (fmt == "csv") {
      strOpt("QUOTE").foreach(v => w = w.option("quote", v))
      strOpt("ESCAPE").foreach(v => w = w.option("escape", v))
      strOpt("NULLSTR").foreach(v => w = w.option("nullValue", v))
    }
    strOpt("DATEFORMAT").foreach(v => w = w.option("dateFormat", v))
    strOpt("TIMESTAMPFORMAT")
      .foreach(v => w = w.option("timestampFormat", v))
    partBy.foreach(cols => w = w.partitionBy(cols: _*))
    compression.foreach(c => w = w.option("compression", c))
    w.format(fmt).save(path)
    n
  }

  def copyFromFile(session: SparkSession, table: String, path: String,
      optsRaw: String): Long = {
    val opts = Option(optsRaw).getOrElse("").toUpperCase
    val schema = session.table(table).schema
    val fmt =
      if (opts.contains("PARQUET")) "parquet"
      else if (opts.contains("JSON")) "json"
      else "csv"
    val df = fmt match {
      case "parquet" =>
        // positional cast to the target schema (pg COPY semantics)
        val raw = session.read.parquet(path)
        require(raw.schema.length == schema.length,
          s"COPY FROM: ${raw.schema.length} cols in file, " +
            s"${schema.length} in $table")
        raw.select(raw.columns.zip(schema.fields).map { case (c, f) =>
          org.apache.spark.sql.functions.col(c).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      case "json" => session.read.schema(schema).json(path)
      case "csv" => session.read.schema(schema)
        .option("header", opts.contains("HEADER").toString)
        .option("sep", copyDelim(optsRaw).getOrElse(","))
        .csv(path)
    }
    loadInto(session, table, df)
  }

  /** Materialize `df` once, count it, and [[append]] it. */
  def loadInto(session: SparkSession, table: String, df: DataFrame): Long = {
    val snap = df.localCheckpoint() // count + write from one materialization
    val n = snap.count()
    append(session, table, snap)
    n
  }

  /** Append a batch to `table` as INSERT does: generated columns
    * recompute and NOT NULL / CHECK enforce before anything lands (one
    * aggregate pass), then the key probes and the write run under the
    * table's writer lock. */
  def append(session: SparkSession, table: String, df: DataFrame): Unit = {
    val rows = graft.TableConstraints.completeForWrite(session, table, df)
    graft.TableConstraints.enforce(table, rows)
    Dml.lockFor(table).synchronized {
      // key/FK probes read the CURRENT table contents, so they must
      // sit inside the same lock as the append (DuckDB's COPY rejects
      // duplicate PK/UNIQUE and orphan FK rows exactly like INSERT)
      graft.TableConstraints.enforceKeysAppend(session, table, rows)
      rows.write.mode("append").insertInto(table)
    }
  }
}
