package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical relevance ranking over a document corpus — the retrieval
  * side of a training-data pipeline (dataset search, nearest-query
  * mining, curriculum selection by topic).
  *
  * BM25 (Robertson/Spärck Jones, the Okapi formulation with the
  * Lucene-style `ln(1 + (N-df+0.5)/(df+0.5))` non-negative idf) is
  * implemented as pure relational algebra: a posting-list build
  * (explode + hash aggregate keyed by (doc, term)), a term-level df
  * aggregate, and one final per-doc score aggregate — every shuffle is
  * keyed by doc or term, so the plan is AQE-skew-splittable and holds
  * at 100 TB. The query-term set is a broadcast-small literal filter
  * pushed into the posting build, so the exploded volume is bounded by
  * matching postings only, not corpus token count.
  */
object Ranking {

  /** Lowercased alnum tokens — the same segmentation the language-ID
    * and token-count operators use, so posting stats line up across
    * the pipeline.
    */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Per-(doc, term) BM25 contributions for `terms`, summed per doc
    * through an exact decimal accumulator (partial-aggregation order
    * cannot perturb low bits — the float-sum trap). Returns every
    * matching doc's (doc_id, score), score rounded to 6 decimals;
    * [[bm25TopK]] ranks and truncates, [[hybridRrfTopK]] rank-fuses.
    *
    * Corpus stats (N, avgdl) ride along as a broadcast single-row
    * crossJoin — never a driver-side collect.
    */
  def bm25Scores(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // r12 restructure (guide §2.3/§2.4, "shuffle keys and metadata
    // instead of payloads"): per-term tf is computed MAP-SIDE as
    // size(filter(toks, = term)) — the query-term set is a tiny
    // compile-time list, so the exploded corpus-token posting build
    // (explode → isin filter → (doc, dl, term) hash SHUFFLE) and the
    // localCheckpoint of the whole tokenized corpus both disappear.
    // What persists instead is a doc_id + dl + k-int-array frame
    // (~20 B/doc columnar), shared by the stats aggregate and the
    // scoring pass; tf/df/score arithmetic is bit-identical (tf =
    // occurrence count either way, df counts docs with tf > 0, and
    // the decimal accumulator makes sum order irrelevant).
    val posts = perTermCounts(docs, idCol, textCol, terms)

    // dl values are integral doubles, so sum(avg) is order-exact.
    // stats aggregate over the persisted narrow frame (all docs,
    // matching or not — same denominator as the exploded form).
    val stats = posts._1.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))

    val dfreq = posts._2.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))

    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val contrib = idf * col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))

    posts._2
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("c").cast("decimal(30,15)")).cast("double"), 6)
        .as("score"))
  }

  /** Shared skeleton of the r12 BM25/TF-IDF shape: ONE tokenize pass
    * computes (doc_id, dl, per-term tf array) map-side; the persisted
    * frame is numeric-narrow (no tokens, no text). Returns (the
    * persisted per-doc frame, the unpivoted (doc_id, dl, term, tf>0)
    * posting rows — ≤ |terms| rows per doc, no shuffle to build).
    */
  private def perTermCounts(docs: DataFrame, idCol: String,
      textCol: String, terms: Seq[String]): (DataFrame, DataFrame) = {
    val ts = terms.distinct // isin() semantics: term multiplicity is a set
    // Empty term list: preserve the pre-r12 contract (the old
    // explode+isin shape yielded an empty score frame, not an error) —
    // a zero-length tfs array posexplodes to zero posting rows, so the
    // downstream aggregates are empty, as before. The base frame keeps
    // its shape for the stats aggregate.
    //
    // Caching lifecycle: the returned base frame is persisted for the
    // duration of the query; Bench and the Probe tool clear the SQL
    // cache between queries. Library callers running many independent
    // ranking workloads in one session should likewise call
    // Engine.releaseCache(spark) between them (the
    // operators return lazy frames, so there is no terminal action
    // here after which an unpersist would be safe).
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        (if (ts.isEmpty) array().cast("array<int>")
         else array(ts.map(tm =>
           size(filter(col("toks"), t => t === lit(tm)))): _*)).as("tfs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posts = base
      .select(col("doc_id"), col("dl"),
        posexplode(col("tfs")).as(Seq("ti", "tfi")))
      .filter(col("tfi") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(typedlit(ts), col("ti") + 1).as("term"),
        col("tfi").cast("double").as("tf"))
    (base, posts)
  }

  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 15): DataFrame =
    bm25Scores(docs, idCol, textCol, terms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009,
    * public): fuse the BM25 lexical ranking with a cosine vector
    * ranking as Σ 1/(rrfK + rank) over the lists a doc appears in —
    * the standard way modern pipelines combine keyword and embedding
    * search without score calibration.
    *
    * Shape: both rankings are truncated to a top-`candidateM`
    * candidate list BEFORE any rank window runs — `orderBy().limit(M)`
    * fuses to `TakeOrderedAndProject` (parallel per-partition partial
    * top-M + driver merge of M-row heaps), so the unpartitioned
    * `row_number` window only ever sees ≤ M rows regardless of corpus
    * size. Ranking inside the truncated list equals the global rank
    * for every surviving row because the truncation uses the same
    * total order (score desc, id) — and fusing top-M candidate LISTS
    * is exactly how RRF is defined, not an approximation. The lexical
    * side is additionally bounded by matching postings; the dense side
    * is one map-only cosine per vector against a broadcast query
    * vector (swap in [[SimilaritySearch.lshTopK]]/ivf to avoid even
    * the linear scan). Fusion is one join on doc id + integer-rank
    * arithmetic — deterministic, oracle-checkable.
    */
  def hybridRrfTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      terms: Seq[String],
      queryVecId: Long,
      k: Int = 15,
      rrfK: Int = 60,
      candidateM: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qe = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    val vecRank = embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qe))
      .select(col("vec_id").as("doc_id"),
        GraftFunctions.arrayCosineSimilarity(col("embedding"), col("qe"))
          .as("cos"))
      .orderBy(col("cos").desc, col("doc_id"))
      .limit(candidateM)
      .withColumn("vec_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select(col("doc_id"), col("vec_rank"))
    rrfFuse(lexTopM(docs, terms, candidateM), vecRank, rrfK, k)
  }

  /** [[hybridRrfTopK]] with the dense side fed by sign-LSH ANN
    * candidates instead of the exact cosine scan — the form the
    * docstring above points at for 100 TB: the corpus is never
    * linearly scored; LSH buckets propose ≤ `candidateM` candidates
    * and their rank order (exact cosine WITHIN the candidate set)
    * feeds the same RRF fusion. Approximate by construction (LSH
    * recall bounds in AnnSpec/SPECGATES), so gated by an overlap spec
    * against the exact hybrid rather than a hash oracle.
    */
  def hybridRrfTopKAnn(
      docs: DataFrame,
      embeddings: DataFrame,
      terms: Seq[String],
      queryVecId: Long,
      k: Int = 15,
      rrfK: Int = 60,
      candidateM: Int = 200,
      dims: Int = 64,
      bands: Int = 16,
      bitsPerBand: Int = 4): DataFrame = {
    // many short bands: on weakly-clustered embeddings the recall of
    // the candidate stage is what the fusion quality rides on
    val vecRank = SimilaritySearch.lshTopK(
        embeddings.filter(col("vec_id") === queryVecId),
        embeddings.filter(col("vec_id") =!= queryVecId),
        k = candidateM, dims = dims, bands = bands,
        bitsPerBand = bitsPerBand)
      .select(col("cand_id").as("doc_id"), col("rk").as("vec_rank"))
    rrfFuse(lexTopM(docs, terms, candidateM), vecRank, rrfK, k)
  }

  /** [[hybridRrfTopKAnn]] with the dense side fed by the IVF-bucketed
    * quantized index ([[SimilaritySearch.quantizedIvfTopK]]) — the
    * preferred 100 TB retrieval shape: the resident index is ~68 B per
    * vector of int8 codes, per-query work is corpus·nprobe/numClusters
    * code cosines plus a bounded float rerank, and the candidate rank
    * order feeds the same RRF fusion. Gated by overlap vs the exact
    * hybrid in SpecGates, like the LSH variant.
    */
  def hybridRrfTopKIvf(
      docs: DataFrame,
      embeddings: DataFrame,
      terms: Seq[String],
      queryVecId: Long,
      k: Int = 15,
      rrfK: Int = 60,
      candidateM: Int = 200,
      numClusters: Int = 16,
      nprobe: Int = 14,
      rerankFactor: Int = 4,
      kmeansIters: Int = 2): DataFrame = {
    // quantizedIvfTopK already excludes query_id == cand_id
    val vecRank = SimilaritySearch.quantizedIvfTopK(
        embeddings.filter(col("vec_id") === queryVecId), embeddings,
        k = candidateM, numClusters = numClusters, nprobe = nprobe,
        rerankFactor = rerankFactor, kmeansIters = kmeansIters)
      .select(col("cand_id").as("doc_id"), col("rk").as("vec_rank"))
    rrfFuse(lexTopM(docs, terms, candidateM), vecRank, rrfK, k)
  }

  /** BM25 lexical side truncated to the top `candidateM`, ranked by
    * the same (score desc, id) total order the docstring above argues
    * makes list-truncation exact for RRF. */
  private def lexTopM(docs: DataFrame, terms: Seq[String],
      candidateM: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scores(docs, "doc_id", "text", terms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(candidateM)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rank"))
  }

  /** Reciprocal-rank fusion of a lexical and a dense candidate list:
    * full-outer join on doc id + integer-rank arithmetic. */
  private def rrfFuse(lexRank: DataFrame, vecRank: DataFrame,
      rrfK: Int, k: Int): DataFrame =
    lexRank.join(vecRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (col("lex_rank") + rrfK), lit(0.0)) +
            coalesce(lit(1.0) / (col("vec_rank") + rrfK), lit(0.0)), 6)
          .as("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)

  /** TF-IDF retrieval — the classic weighting BM25 refined (kept as
    * its own operator because public pipelines use it for cheap
    * lexical features and as the dense-retrieval baseline): score(d) =
    * Σ_t∈query ln(1 + tf(t,d)) · ln(N / df(t)), length-normalized by
    * the document's token count. Same plan skeleton as [[bm25TopK]] —
    * posting build with the term filter pushed into the explode,
    * broadcast df and corpus stats, decimal-exact score accumulation —
    * so every shuffle stays keyed by doc or term at 100 TB.
    *
    * Deterministic: per-(doc,term) contributions round to 8 dp before
    * the exact decimal sum, so partial-aggregation order cannot
    * perturb the result (oracle-checkable).
    */
  def tfidfTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int = 15): DataFrame = {
    // same r12 map-side-tf skeleton as [[bm25Scores]] — see
    // [[perTermCounts]]: one tokenize pass, no corpus-token explode,
    // no posting shuffle, numeric-narrow persisted frame.
    val (base, posts) = perTermCounts(docs, idCol, textCol, terms)

    val stats = base.agg(count(lit(1)).cast("double").as("n"))

    val dfreq = posts.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))

    val contrib = round(
      log(lit(1.0) + col("tf")) * log(col("n") / col("df")) / col("dl"), 8)

    posts
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), contrib.cast("decimal(20,10)").as("c"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("c")).cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
