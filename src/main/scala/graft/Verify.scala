package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Atomic (pandas-hashable) types only: the driver's normalizer calls
    * sort_values over every output column, so ARRAY/MAP/STRUCT columns are
    * forbidden in oracle-compared results. */
  def isDriverSortable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.ArrayType  => false
    case _: org.apache.spark.sql.types.MapType    => false
    case _: org.apache.spark.sql.types.StructType => false
    case _                                        => true
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional dev-loop filter: run named queries only
    val spark = Engine.session(Engine.localCores)
    new java.io.File(outDir).mkdirs()
    // oracleSql is a def that concatenates many maps — build it once
    val oracle = SparkEntry.oracleSql
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Guard: oracle-compared outputs must be atomic columns only.
        // The driver's pandas normalizer sorts every column; an
        // ARRAY/STRUCT/MAP column dies in sort_values ("unhashable type:
        // numpy.ndarray") and turns a correct answer into a driver err
        // (q_embed_quantize r6, q_duckdb_funcs4 r7). Serialize such
        // columns with to_json/array_to_string in BOTH statements.
        if (oracle.contains(name)) {
          val bad = df.schema.fields.collect {
            case f if !Verify.isDriverSortable(f.dataType) => s"${f.name}:${f.dataType.simpleString}"
          }
          require(bad.isEmpty,
            s"oracle-compared query '$name' has non-atomic output column(s) ${bad.mkString(", ")}; " +
              "serialize with to_json/array_to_string in both the Spark query and the oracle SQL")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // cause chain for the dev loop (an analyzer INTERNAL_ERROR's
        // real reason is usually two causes down)
        var c = e.getCause
        while (c != null) {
          System.err.println(s"[verify]   caused by: ${c.getClass.getSimpleName}: ${c.getMessage}")
          c = c.getCause
        }
      }
      Engine.releaseCache(spark) // each query is a standalone workload
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
