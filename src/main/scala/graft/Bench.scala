package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR four times — a full untimed-in-spirit "cold"
  * pass (reported as cold_total) that warms the JVM, parquet footers
  * and the whole-stage-codegen cache, then THREE warm passes whose
  * per-query MIN sums to the headline "value" (single-sample warm
  * numbers still carry first-run JIT noise on individual queries).
  * Prints ONE compact JSON line (the harness that
  * consumes it keeps only a bounded tail of stdout, so the line must
  * stay small): headline per-query seconds for a representative
  * subset, totals, and per-pass failed lists. The FULL per-query map
  * for both passes is written to BENCH_FULL.json in the working
  * directory. Failed queries are excluded from their own pass's total
  * and omitted from the per-query maps (a time-to-exception is not a
  * query time).
  */
object Bench {
  /** Representative subset printed inline; chosen to span scan/agg,
    * joins, windows, TPC-H silhouettes, and every heavy pipeline
    * operator family. Full map goes to BENCH_FULL.json.
    */
  private val headline: Seq[String] = Seq(
    "q1_agg", "q_scan_filter", "q_topk", "q_join_multi", "q_asof_sql",
    "q_window_rank", "q_qualify", "q_recursive_cte", "q_sessionize",
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q10", "q_tpch_q14",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_ngram", "q_dedup_prefix", "q_dedup_embedding",
    "q_dedup_cluster", "q_ann_bruteforce", "q_ann_ivf", "q_ann_lsh",
    "q_text_bm25", "q_text_langid", "q_text_repetition",
    "q_pipeline_full", "q_pipeline_refine", "q_dedup_despan",
    "q_dedup_canonical", "q_text_hybrid", "q_running_global",
    "q_multimodal_features", "q_dedup_embedding_lsh",
    "q_ann_ivf_quantized", "q_multimodal_mixed")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(Engine.localCores)
    // ERROR, not WARN: at 196 queries × 4 passes the localCheckpoint
    // lifecycle WARNs ("RDD ... was locally checkpointed") run to
    // thousands of lines and push the single JSON result line out of
    // the bounded stdout tail the driver keeps (BENCH_r09/r10 both
    // came back parsed:null for exactly this reason).
    spark.sparkContext.setLogLevel("ERROR")

    // Each pass returns (times, failures-of-this-pass): a query that
    // fails cold but succeeds warm still contributes its warm time.
    def timeAll(): (Seq[(String, Double)], Set[String]) = {
      val failed = scala.collection.mutable.LinkedHashSet[String]()
      val times = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        // each bench query is a standalone workload: drop the blocks it
        // retained, outside the timed window (see Engine.releaseCache)
        Engine.releaseCache(spark)
        name -> t
      }
      (times, failed.toSet)
    }

    val (cold, coldFailed) = timeAll()
    // three warm passes, per-query MIN: a single warm pass still
    // catches first-run JIT/shuffle-warmup noise on individual queries
    // (r9's q_text_langid read 1.04 s in the sample vs 0.4 s steady) —
    // the min over three runs is the steady-state number
    val warmRuns = Seq.fill(3)(timeAll())
    val warmFailed = warmRuns.map(_._2).reduce(_ intersect _) // failed EVERY pass
    val warmMaps = warmRuns.map { case (ts, f) => (ts.toMap, f) }
    val warm: Seq[(String, Double)] = warmRuns.head._1.map(_._1).flatMap { name =>
      val ts = warmMaps.collect {
        case (m, f) if !f(name) && m.contains(name) => m(name) }
      if (ts.isEmpty) None else Some(name -> ts.min)
    }

    def fmt(v: Double): String = f"$v%.3f"
    def mapJson(ts: Seq[(String, Double)], failed: Set[String],
                keep: String => Boolean): String =
      ts.collect { case (k, v) if !failed(k) && keep(k) =>
        "\"" + k + "\":" + fmt(v)
      }.mkString("{", ",", "}")
    def arrJson(xs: Iterable[String]): String =
      xs.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")

    val total = warm.collect { case (k, v) if !warmFailed(k) => v }.sum
    val coldTotal = cold.collect { case (k, v) if !coldFailed(k) => v }.sum
    val inHeadline = headline.toSet

    // Full per-query dump (both passes) for offline analysis.
    val full =
      s"""{"sf":"$sfDir","value":${fmt(total)},"cold_total":${fmt(coldTotal)},""" +
      s""""failed_cold":${arrJson(coldFailed)},"failed_warm":${arrJson(warmFailed)},""" +
      s""""queries":${mapJson(warm, warmFailed, _ => true)},""" +
      s""""queries_cold":${mapJson(cold, coldFailed, _ => true)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (full + "\n").getBytes("UTF-8"))

    // The ONE line the driver parses — keep under ~1800 chars. Logging
    // goes fully silent first so no late async appender line can land
    // after (= closer to the kept tail than) the JSON.
    spark.sparkContext.setLogLevel("OFF")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${warm.size},""" +
      s""""warm_runs":3,"agg":"min",""" +
      s""""cold_total":${fmt(coldTotal)},"failed":${arrJson(coldFailed ++ warmFailed)},""" +
      s""""queries":${mapJson(warm, warmFailed, inHeadline)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
