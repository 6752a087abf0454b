package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Plan-shape audit — the properties that carry to a 1000-executor
  * cluster, asserted on the actual corpus queries: filter/projection
  * pushdown into the parquet scan, broadcast of small dimensions,
  * partial (map-side) aggregation, top-k fusion, whole-stage codegen,
  * and no cartesian/nested-loop joins in the candidate-pair operators.
  * A plan regression here is a 100× cost at the target scale even
  * when sf0.01 results stay correct.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  test("q_scan_filter: predicate and projection reach the parquet scan") {
    val plan = formatted(q("q_scan_filter"))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThan(l_quantity"),
      s"quantity filter must push into the scan:\n$plan")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must push into the scan:\n$plan")
    val rs = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.nonEmpty && !rs.contains("l_comment") && !rs.contains("l_extendedprice"),
      s"read schema must prune unused columns: $rs")
  }

  test("constraint key probes prune the table scan to the key columns") {
    // the uniqueness probe joins the incoming batch against the WHOLE
    // table — at 100 TB that is survivable only if the scan reads the
    // key column alone (column-pruned parquet scan, broadcast-able
    // batch side). Assert the plan shape the enforcement relies on.
    Engine.query(spark, "DROP TABLE IF EXISTS audit_pk")
    Engine.query(spark,
      "CREATE TABLE audit_pk (k BIGINT PRIMARY KEY, payload STRING, " +
        "more STRING)")
    Engine.query(spark,
      "INSERT INTO audit_pk VALUES (1, 'a', 'x'), (2, 'b', 'y')")
    import org.apache.spark.sql.functions.col
    val batch = spark.range(3, 6).select(col("id").as("k"))
    val probe = batch.as("__b").join(
      spark.table("audit_pk").as("__t"),
      col("__b.k") === col("__t.k"), "left_semi")
    val plan = formatted(probe)
    val rs = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.contains("k") && !rs.contains("payload") &&
      !rs.contains("more"),
      s"key probe must read only the key column: $rs")
    assert(!plan.contains("CartesianProduct"), plan)
    Engine.query(spark, "DROP TABLE audit_pk")
  }

  test("q_join_multi: dims broadcast, region filter pushes down") {
    val plan = formatted(q("q_join_multi"))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 3, s"customer/nation/region must broadcast:\n$plan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"region predicate must reach its scan:\n$plan")
  }

  test("q1_agg: partial aggregation before the shuffle, codegen'd") {
    val df = q("q1_agg")
    df.collect() // finalize the adaptive plan so codegen stages appear
    val exec = df.queryExecution.executedPlan.toString
    val nAgg = "HashAggregate".r.findAllIn(exec).length
    assert(nAgg >= 2, s"partial+final aggregate expected:\n$exec")
    assert(exec.contains("*("), s"whole-stage codegen expected:\n$exec")
  }

  test("q_topk: ORDER BY + LIMIT fuses to TakeOrderedAndProject") {
    val exec = q("q_topk").queryExecution.executedPlan.toString
    assert(exec.contains("TakeOrderedAndProject"), exec)
  }

  test("q_asof_sql: interval rewrite plans an equi-join, not a nested loop") {
    val plan = formatted(q("q_asof_sql"))
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"),
      s"ASOF SQL rewrite must stay a hash/merge join:\n$plan")
  }

  test("q_pipeline_full: the end-to-end DAG stays cartesian-free") {
    // the composite chains six operators and a dozen joins — a single
    // trivially-true or decorrelated-to-domain join anywhere in the
    // chain would degenerate it; the executed plan must stay hash-
    // joined end to end (the one sanctioned BNLJ is the broadcast
    // single-row stats frame, which this pipeline does not use)
    val df = q("q_pipeline_full")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(4000))
  }

  test("q_pipeline_refine: the round-4 composite stays cartesian-free") {
    val df = q("q_pipeline_refine")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(4000))
  }

  test("cluster assignment is map-only: zero exchanges in the corpus pass") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val p = SimilaritySearch.clusterAssign(emb)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"assignment must be a pure map over the scan:\n$p")
  }

  test("q_strftime / q_agg_geomean run native — no ScalaUDF in the plan") {
    // strftime/strptime compile to DateFormatClass/ParseToTimestamp at
    // build; geomean rewrites to exp(avg(ln)) — all codegen'd. A UDF
    // reappearing here silently exits whole-stage codegen.
    for (name <- Seq("q_strftime", "q_agg_geomean")) {
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("pythonudf"),
        s"$name plans a UDF:\n${p.take(3000)}")
    }
  }

  test("bloom decontamination probes natively — no ScalaUDF in the plan") {
    // the corpus-wide probe is Spark's BloomFilterMightContain; a
    // ScalaUDF here breaks whole-stage codegen on the widest scan of
    // the whole decontamination pass.
    val docs = Tables.load(spark, sfDir, "documents")
    val p = CorpusOps.bloomDecontaminate(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20))
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), s"bloom probe plans a UDF:\n${p.take(3000)}")
    assert(p.contains("might_contain"), s"expected native bloom probe:\n${p.take(3000)}")
  }

  test("corpus-wide: every unpartitioned window is limit-bounded") {
    // An `OVER (ORDER BY …)` window with no PARTITION BY funnels its
    // whole input into a single task — the one plan shape that cannot
    // survive a 100× scale-up. The gate sweeps EVERY corpus query and
    // requires each unpartitioned WindowExec to be fed from a bounded
    // subtree: a GlobalLimit/TakeOrderedAndProject (top-M candidate
    // truncation, as in hybridRrfTopK) or a WindowGroupLimit (Spark's
    // rank-filter pushdown, which keeps per-partition top-k before the
    // single-partition exchange). Exemptions are global-order frames
    // whose semantics DuckDB also runs single-stream (parity by
    // design); the scalable alternative is RelationalOps.runningAgg.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}

    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def bounded(p: SparkPlan): Boolean = nodes(p).exists {
      case _: GlobalLimitExec | _: CollectLimitExec | _: LocalLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: WindowGroupLimitExec => true
      case _ => false
    }
    val exempt = Set(
      "q_window_frames_range", // global RANGE frame: DuckDB parity
      // POSITIONAL JOIN is inherently a global-order operation (rows
      // pair by scan position) — DuckDB runs it single-stream too;
      // the lowering's per-side row_number is that order made
      // explicit. Not a pipeline operator: parity surface only.
      "q_duckdb_posjoin")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exempt)
      .flatMap { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val bad = nodes(df.queryExecution.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
            s"$name: ${w.simpleStringWithNodeId()}"
        }
        // iterative builders localCheckpoint; don't let blocks pile up
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        bad
      }
    assert(offenders.isEmpty,
      s"unbounded single-partition windows:\n${offenders.mkString("\n")}")
  }

  test("r12/r13 optimization plan shapes hold: bm25 one doc-flow shuffle, despan window-free, ivf single assignment pass") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case qs: QueryStageExec => nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    // bm25 (r12 map-side tf): the executed plan carries exactly three
    // shuffle exchanges — the per-doc score aggregate on the doc flow,
    // plus the two broadcast-bound term/stats aggregates (whose rows
    // are bounded by |terms| and 1). The pre-r12 shape shuffled the
    // exploded corpus-token posting build on top of these.
    val bm = q("q_text_bm25"); bm.collect()
    val bmShuffles = nodes(bm.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(bmShuffles <= 3, s"q_text_bm25 gained a shuffle: $bmShuffles\n" +
      bm.queryExecution.executedPlan.toString.take(3000))
    // despan (r12 fused SpanHashes): the span build is map-side — no
    // window (the pre-r12 shape shuffled the whole token table through
    // a lead() window).
    val ds = q("q_dedup_despan"); ds.collect()
    val dsWindows = nodes(ds.queryExecution.executedPlan)
      .count(_.isInstanceOf[WindowExec])
    assert(dsWindows == 0, s"q_dedup_despan re-grew a window:\n" +
      ds.queryExecution.executedPlan.toString.take(3000))
    // ivf (r13 non-nullable cluster): the centroid argmax runs ONCE per
    // corpus row — the formatted plan mentions nearest_centroids twice
    // (query-probe Generate + index Project); a third occurrence means
    // the join's isnotnull filter is re-evaluating it per row.
    val ivf = q("q_ann_ivf")
    val occurrences = "nearest_centroids".r
      .findAllIn(formatted(ivf)).length
    assert(occurrences <= 2,
      s"q_ann_ivf evaluates the centroid argmax $occurrences times:\n" +
        formatted(ivf).take(3000))
  }

  test("q_dedup_embedding: list_cosine_similarity runs as one codegen'd kernel") {
    Tables.registerAll(spark, sfDir)
    val df = Engine.query(spark, SparkEntry.oracleSql("q_dedup_embedding"))
    df.collect() // finalize the adaptive plan
    val exec = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val plan = exec.toString
    assert(!plan.toLowerCase.contains("lambdafunction"), plan)
    val uses = plan.linesIterator.filter(_.contains("list_cosine_similarity(")).toSeq
    assert(uses.nonEmpty && uses.forall(_.contains("*(")),
      s"the kernel must sit inside whole-stage codegen:\n$plan")
  }

  test("candidate-pair operators never plan a cartesian product") {
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val plans = Seq(
      "minhash" -> Dedup.minhashNearDups(docs, "doc_id", "text"),
      "simhash" -> Dedup.simhashNearDups(docs, "doc_id", "text"),
      "ngram" -> Dedup.ngramJaccardPairs(docs),
      "prefix" -> Dedup.prefixJaccardPairs(docs, threshold = 0.6),
      "embed" -> Dedup.embeddingNearDups(emb, 0.9),
      "embed-exact" -> Dedup.embeddingNearDups(emb, 0.9, exact = true),
      "embed-lsh" -> Dedup.bandedEmbeddingNearDups(emb, 0.9),
      "semantic" -> Dedup.semanticDedup(emb, 8, 0.35),
      "spans" -> Dedup.duplicateSpans(docs),
      "despan" -> Dedup.removeDuplicateSpans(docs),
      "decontam-spans" -> Dedup.removeContaminatedSpans(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20)),
      "canonical" -> Dedup.canonicalDocs(docs),
      "bloom" -> CorpusOps.bloomDecontaminate(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20)),
      "lsh" -> SimilaritySearch.lshTopK(
        emb.filter(col("vec_id") < 5), emb, 3, 64),
      "quantized-ivf" -> SimilaritySearch.quantizedIvfTopK(
        emb.filter(col("vec_id") < 5), emb, 3),
      "incremental" -> Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 4 === 0),
        docs.filter(col("doc_id") % 4 =!= 0)),
      "incremental-embed" -> Dedup.incrementalEmbeddingDedup(
        emb.filter(col("vec_id") % 4 === 0),
        emb.filter(col("vec_id") % 4 =!= 0)))
    plans.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"$name plans a cross join:\n$p")
    }
  }
}
