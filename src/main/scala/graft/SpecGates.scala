package graft

import org.apache.spark.sql.functions._

/** Machine-checkable bounds for the spec-gated (no-SQL-oracle) corpus
  * rows. The DuckDB oracle cannot replay seeded-hash / engine-RNG
  * constructs, so those queries are bounded by QUANTIFIED invariants
  * instead — recall/precision/superset/agreement — each mirrored from
  * the scalatest suite that gates it (incl. quantized-rerank recall
  * and ANN-hybrid overlap, which previously lived only in scalatest).
  * This main emits them as one JSON file (`SPECGATES_r{N}.json`) so
  * every spec-gated operator is verifiable end-to-end by the driver,
  * not split across test output.
  *
  * Usage: runMain graft.SpecGates <sfDir> <outFile>
  */
object SpecGates {

  private case class Gate(query: String, metric: String, value: Double,
      op: String, bound: Double) {
    def pass: Boolean = java.lang.Double.isFinite(value) && (op match {
      case ">=" => value >= bound
      case "<=" => value <= bound
      case "==" => value == bound
    })
    // NaN/Infinity are not valid JSON tokens — a non-finite value (e.g.
    // a 0/0 recall on an empty baseline) serializes as null and FAILS
    // the gate rather than corrupting the artifact.
    def json: String = {
      val v = if (java.lang.Double.isFinite(value)) value.toString else "null"
      s"""  "$query/$metric": {"query": "$query", "metric": "$metric", """ +
        s""""value": $v, "op": "$op", "bound": $bound, "pass": $pass}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "SPECGATES.json"
    val spark = Engine.session(Engine.localCores)

    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val li = Tables.load(spark, sfDir, "lineitem")
    val gates = scala.collection.mutable.ArrayBuffer.empty[Gate]

    // ANN recall@3 vs the exact brute-force baseline (AnnSpec bounds)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val queries = emb.filter(col("vec_id") < 20)
    val exactAnn = pairs(SimilaritySearch.bruteForceTopK(queries, emb, 3))
    require(exactAnn.nonEmpty, s"specgates: empty brute-force baseline at $sfDir")
    val lsh = pairs(SimilaritySearch.lshTopK(queries, emb, 3, dims = 64,
      bands = 16, bitsPerBand = 4))
    gates += Gate("q_ann_lsh", "recall_at_3",
      lsh.intersect(exactAnn).size.toDouble / exactAnn.size, ">=", 0.75)
    val ivf = pairs(SimilaritySearch.ivfTopK(queries, emb, 3,
      numClusters = 16, nprobe = 12, kmeansIters = 2))
    gates += Gate("q_ann_ivf", "recall_at_3",
      ivf.intersect(exactAnn).size.toDouble / exactAnn.size, ">=", 0.9)
    // Quantized search + exact rerank vs the same float baseline
    // (AnnSpec "quantized search + exact rerank" bound)
    val quant = pairs(SimilaritySearch.bruteForceTopKQuantized(queries, emb, 3))
    gates += Gate("q_embed_quantize", "rerank_recall_at_3",
      quant.intersect(exactAnn).size.toDouble / exactAnn.size, ">=", 0.95)
    // IVF-bucketed quantized search: candidate generation via cluster
    // probe, scoring on int8 codes, exact rerank (AnnSpec bound)
    val qivf = pairs(SimilaritySearch.quantizedIvfTopK(queries, emb, 3,
      numClusters = 16, nprobe = 14, kmeansIters = 2))
    gates += Gate("q_ann_ivf_quantized", "recall_at_3",
      qivf.intersect(exactAnn).size.toDouble / exactAnn.size, ">=", 0.95)
    Engine.releaseCache(spark)

    // ANN-fed hybrid RRF overlaps the exact hybrid's top-k
    // (GraphRankingSpec "ANN-fed hybrid RRF" bound)
    locally {
      val terms = Seq("vector", "spark", "merge")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val exactHybrid = ids(Ranking.hybridRrfTopK(docs, emb, terms, 7L, k = 15))
      require(exactHybrid.nonEmpty, s"specgates: empty hybrid baseline at $sfDir")
      val annHybrid = ids(Ranking.hybridRrfTopKAnn(docs, emb, terms, 7L, k = 15))
      gates += Gate("q_text_hybrid_ann_lsh", "overlap_at_15",
        annHybrid.intersect(exactHybrid).size.toDouble / exactHybrid.size,
        ">=", 0.6)
      // r8: the quantized-IVF dense side — what q_text_hybrid_ann runs
      val ivfHybrid = ids(Ranking.hybridRrfTopKIvf(docs, emb, terms, 7L, k = 15))
      gates += Gate("q_text_hybrid_ann", "overlap_at_15",
        ivfHybrid.intersect(exactHybrid).size.toDouble / exactHybrid.size,
        ">=", 0.6)
    }
    Engine.releaseCache(spark)

    // MinHash LSH vs the ORACLE-BACKED exact ngram operator (DedupSpec)
    val exactPairs = Dedup.ngramJaccardPairs(
        docs.withColumn("lang", lit("x")), shingleSize = 3,
        maxCharDiff = Int.MaxValue, threshold = 0.5)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    gates += Gate("q_dedup_minhash", "recall_j0.5",
      if (exactPairs.isEmpty) 1.0
      else mh.intersect(exactPairs).size.toDouble / exactPairs.size, ">=", 0.9)
    gates += Gate("q_dedup_minhash", "precision",
      if (mh.isEmpty) 1.0
      else mh.intersect(exactPairs).size.toDouble / mh.size, ">=", 1.0)
    Engine.releaseCache(spark)

    // Banded embedding near-dup recovers engineered near-copies
    // (cos ≈ 0.93 noised twins (0.05/dim on unit vectors)) — the quantified-recall contract of
    // the 100 TB high-threshold path (DedupSpec twin)
    locally {
      val sp = spark
      import sp.implicits._
      val base = emb.limit(200).select(col("vec_id"), col("embedding"),
        col("label")).collect()
      val rng = new scala.util.Random(11)
      val rows = base.flatMap { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1)
        val lab = r.getInt(2)
        val noised = v.map(x => x + 0.05f * rng.nextGaussian().toFloat)
        Seq((id, v, lab), (id + 1000000L, noised, lab))
      }.toSeq
      val twin = rows.toDF("vec_id", "embedding", "label")
      val found = Dedup.bandedEmbeddingNearDups(twin, threshold = 0.85)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = base.map(r =>
        (r.getLong(0), r.getLong(0) + 1000000L)).toSet
      gates += Gate("q_dedup_embedding_lsh", "noised_copy_recall",
        found.intersect(expected).size.toDouble / expected.size, ">=", 0.9)

      // incremental (batch-vs-corpus) variant: the noised twins form
      // the NEW batch, originals the corpus — each twin must flag as
      // dup with its own source as best match
      val corpus = base.toSeq.map(r =>
        (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
        .toDF("vec_id", "embedding", "label")
      val batch = rows.filter(_._1 >= 1000000L)
        .toDF("vec_id", "embedding", "label")
      val inc = Dedup.incrementalEmbeddingDedup(batch, corpus,
          threshold = 0.85)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
      val hit = base.count(r =>
        inc.getOrElse(r.getLong(0) + 1000000L, -1L) == r.getLong(0))
      gates += Gate("q_dedup_embedding_inc", "noised_twin_recall",
        hit.toDouble / base.length, ">=", 0.9)
    }
    Engine.releaseCache(spark)

    // SimHash pigeonhole: byte-identical copies MUST pair (DedupSpec)
    val base = docs.limit(50)
    val copies = base
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val shPairs = Dedup.simhashNearDups(base.unionByName(copies),
        "doc_id", "text", maxHamming = 0)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val shExpected = base.select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    gates += Gate("q_dedup_simhash", "exact_copy_recall",
      shExpected.intersect(shPairs).size.toDouble / shExpected.size, "==", 1.0)
    Engine.releaseCache(spark)

    // Bloom decontamination is one-sided: zero false negatives vs the
    // exact report, over-flagging bounded (CorpusOpsSpec)
    val corpus = docs.filter(col("doc_id") >= 20)
    val evalSet = docs.filter(col("doc_id") < 20)
    val exactContam = CorpusOps.contaminationReport(corpus, evalSet, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = CorpusOps.bloomDecontaminate(corpus, evalSet, n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val falseNeg = exactContam.count { case (id, n) =>
      !bloom.contains(id) || bloom(id) < n }
    gates += Gate("q_decontaminate_bloom", "false_negatives",
      falseNeg.toDouble, "==", 0.0)
    gates += Gate("q_decontaminate_bloom", "overflag_ratio",
      if (exactContam.isEmpty) 1.0
      else bloom.size.toDouble / exactContam.size, "<=", 2.0)
    Engine.releaseCache(spark)

    // Bernoulli sample: realized fraction near the 10% target. At
    // sf0.01 (~60k rows) the binomial sd is ~0.12%, so ±2% is a >10σ
    // envelope — a real RNG defect, not noise, is what would trip it.
    val total = li.count().toDouble
    val sampled = li.sample(withReplacement = false, 0.1, seed = 42).count()
    gates += Gate("q_sample", "abs_fraction_error",
      math.abs(sampled / total - 0.1), "<=", 0.02)

    // HLL approx_count_distinct within 5% of exact (CompatSpec)
    val exactD = li.select(countDistinct(col("l_partkey")))
      .collect()(0).getLong(0)
    val approxD = li.select(approx_count_distinct(col("l_partkey")))
      .collect()(0).getLong(0)
    gates += Gate("q_agg_approx_distinct", "relative_error",
      math.abs(approxD - exactD).toDouble / exactD, "<=", 0.05)

    // q_text_bpe (learned merge table — engine artifact, no SQL
    // oracle): lossless reconstruction across the corpus, and real
    // compression vs the char-level baseline (BpeSpec bounds)
    locally {
      val merges = TextAnalysis.learnBpeMerges(docs, "text",
        numMerges = 60, maxDictWords = 4096)
      val enc = TextAnalysis.withBpeTokens(docs, "text", merges)
        .select(col("doc_id"), col("text"), col("bpe"), col("bpe_count"))
        .collect()
      val broken = enc.count { r =>
        val rebuilt = r.getSeq[String](2).mkString("")
          .split(java.util.regex.Pattern.quote(Bpe.EndOfWord))
          .toSeq.filter(_.nonEmpty)
        rebuilt != Bpe.words(r.getString(1))
      }
      gates += Gate("q_text_bpe", "reconstruction_failures",
        broken.toDouble, "==", 0.0)
      val chars = enc.map(_.getString(1).length.toLong).sum.toDouble
      val toks = enc.map(_.getLong(3)).sum.toDouble
      gates += Gate("q_text_bpe", "tokens_per_char", toks / chars,
        "<=", 0.5)
    }

    val body = gates.map(_.json).mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), body + "\n")
    println(s"[specgates] wrote $out: " +
      s"${gates.count(_.pass)}/${gates.size} gates pass")
    gates.filterNot(_.pass).foreach(g =>
      println(s"[specgates] FAIL ${g.query} ${g.metric} = ${g.value} " +
        s"(want ${g.op} ${g.bound})"))
    if (gates.exists(!_.pass)) sys.exit(1)
  }
}
