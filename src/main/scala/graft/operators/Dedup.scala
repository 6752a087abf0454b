package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale training-data pipelines
  * (north-star M5): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale posture: every variant is shuffle-bounded by design —
  * candidate generation always goes through a bucket key (hash group,
  * LSH band, SimHash band) so the pairwise verification join never
  * degenerates into a cross join. All text math is native Spark SQL
  * expressions (codegen'd), no UDFs.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content, keep the smallest id as the
    * canonical representative. One shuffle on the content hash.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame =
    df.groupBy(contentCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Streaming-compatible exact dedup: keep the FIRST arrival per
    * content key. The same call works on batch and streaming frames —
    * in streaming it is the ingestion-time dedup of a training-data
    * firehose, keyed state per content key. With `withinWatermark`
    * (requires an upstream `withWatermark`) the state store evicts
    * keys older than the horizon, which is the only state-bounded
    * (therefore 100 TB-viable) form of infinite-stream dedup.
    */
  def exactStreaming(df: DataFrame, contentCols: Seq[String],
      withinWatermark: Boolean = false): DataFrame =
    if (withinWatermark)
      df.dropDuplicatesWithinWatermark(contentCols.head, contentCols.tail: _*)
    else df.dropDuplicates(contentCols)

  /** Word n-gram shingles of a text column (distinct). */
  def shingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    array_distinct(
      transform(sequence(lit(1), greatest(size(words) - (n - 1), lit(0))),
        i => concat_ws(" ", (0 until n).map(k => element_at(words, i + k)): _*)))
  }

  /** Distinct 64-bit shingle hashes, built WITHOUT materializing gram
    * strings: each word is hashed once, then a gram hash combines `n`
    * consecutive word hashes. ~15× cheaper than concat_ws + string
    * array_distinct at equal Jaccard (modulo 64-bit collisions) — at
    * 100 TB the gram-building map stage is pure CPU, so this is the
    * dominant term. Fused into the native [[HashedShingles]]
    * expression: one pass over the UTF-8 bytes inside codegen.
    */
  def withHashedShingles(df: DataFrame, textCol: String, n: Int,
      out: String): DataFrame =
    df.withColumn(out, HashedShingles(col(textCol), n))

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the minimum over the (already hashed) shingle set — the fused
    * native expression (see [[MinHashSignature]]); no shuffle, no
    * intermediate arrays.
    */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    MinHashSignature(sh, numHashes)

  /** MinHash + LSH near-duplicate pairs.
    *
    * signature → `bands` bands of `numHashes/bands` rows each → band
    * hash buckets → self-join within bucket (the only shuffle, keyed
    * by (band, bandHash)) → exact Jaccard verification on the shingle
    * sets → threshold filter. At 100TB the bucket join is the
    * bottleneck by design and is AQE-skew-splittable.
    */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.2): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands

    // emptiness pre-filter on the word count, NOT on size(grams):
    // a predicate on the gram column would be pushed through the
    // projection with the whole gram expression substituted into it,
    // recomputing the shingles once more per row.
    val withSig = withHashedShingles(
        df.select(col(idCol).as("id"), col(textCol))
          .filter(size(split(col(textCol), " ")) >= shingleSize),
        textCol, shingleSize, "grams")
      .select(col("id"), col("grams"))
      .withColumn("sig", minhashSignature(col("grams"), numHashes))
      // materialize ONCE: both sides of the self-join would otherwise
      // recompute the numHashes×|shingles| signature expression
      .localCheckpoint(eager = false)

    // banding carries ONLY ids: exploding the (large) shingle arrays
    // 'bands' times would multiply shuffle volume by the band count.
    val banded = withSig.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bh"))))
        .as("bucket"))

    val a = banded.select(col("bucket").as("bk1"), col("id").as("id1"))
    val b = banded.select(col("bucket").as("bk2"), col("id").as("id2"))
    val candidates = a
      .join(b, col("bk1") === col("bk2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()

    // shingle sets join back onto the (skinny, deduped) candidates
    val g1 = withSig.select(col("id").as("id1"), col("grams").as("g1"))
    val g2 = withSig.select(col("id").as("id2"), col("grams").as("g2"))
    val inter = size(array_intersect(col("g1"), col("g2")))
    // size prefilter: jaccard >= t needs min(|A|,|B|)/max(|A|,|B|) >= t;
    // prunes low-similarity collisions before the expensive intersect.
    // 1e-9 guard (r13): at an exact size boundary the double product
    // can overshoot the integer and drop a qualifying pair — the
    // exact-jaccard filter below stays the arbiter either way.
    candidates.join(g1, "id1").join(g2, "id2")
      .filter(size(col("g1")) * threshold - 1e-9 <= size(col("g2")) &&
        size(col("g2")) * threshold - 1e-9 <= size(col("g1")))
      .select(col("id1"), col("id2"),
        round(inter.cast("double") /
          (size(col("g1")) + size(col("g2")) - inter), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 32-bit SimHash of the token set: per bit, majority vote of the
    * token hashes. Pure expression tree (transform + aggregate) —
    * codegen'd, zero shuffles.
    */
  def simhash32(text: Column): Column =
    SimHash32(transform(split(text, " "), t => xxhash64(t)))

  /** 64-bit SimHash (Manku et al. 2007) — the fingerprint the
    * near-dup pigeonhole banding uses at scale.
    */
  def simhash64(text: Column): Column =
    SimHash64(transform(split(text, " "), t => xxhash64(t)))

  /** [[simhash64]] with the token-hash array materialized through its
    * own projection (the fused native [[SimHash32]] expression walks
    * it once; an earlier per-bit-aggregate formulation walked it
    * bit-count times through interpreted HOF machinery).
    */
  def withSimhash(df: DataFrame, textCol: String, out: String): DataFrame = {
    df.withColumn("__th", transform(split(col(textCol), " "), t => xxhash64(t)))
      .withColumn(out, SimHash64(col("__th")))
      .drop("__th")
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into four
    * 16-bit chunks (pigeonhole: hamming<=3 ⇒ at least one identical
    * chunk), bucket-join, verify with bit_count(xor) <= maxHamming.
    *
    * 64/16 instead of the earlier 32/8 is the scale fix (r7): an
    * 8-bit chunk collides on random pairs at 1/256, a quadratic
    * candidate floor that measured 12.3× wall at 10× rows; 16-bit
    * chunks collide at 1/65536 (measured 2.1× — see BENCH_NOTES).
    */
  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val withSim = withSimhash(df.select(col(idCol).as("id"), col(textCol)),
        textCol, "sim")
      .select(col("id"), col("sim"))
      .localCheckpoint(eager = false) // 64 per-bit votes per row — compute once
    // chunk b = bits [16b, 16b+16)
    val bucketed = withSim.select(col("id"), col("sim"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("sim"), b * 16).bitwiseAND(65535).as("chunk"))): _*))
        .as("bucket"))
    val a = bucketed.select(col("bucket").as("bk1"), col("id").as("id1"),
      col("sim").as("s1"))
    val b = bucketed.select(col("bucket").as("bk2"), col("id").as("id2"),
      col("sim").as("s2"))
    a.join(b, col("bk1") === col("bk2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard via a posting-list self-join — the
    * SQL-oracle-able variant, shaped for scale: instead of pairwise
    * `array_intersect` over materialized candidate pairs (quadratic in
    * per-block doc count AND linear in shingle count per comparison),
    * explode shingles into postings, self-join on (lang, shingle) to
    * COUNT shared shingles per pair, then join sizes back for the
    * Jaccard denominator. Work is proportional to Σ df(gram)² — the
    * classic token-join bound — and every step is a hash
    * shuffle/aggregate that AQE can skew-split.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      shingleSize: Int = 3,
      maxCharDiff: Int = 20,
      threshold: Double = 0.1): DataFrame = {
    // pre-filter on word count — see minhashNearDups for why not
    // size(grams) (predicate pushdown would recompute the shingles)
    val g = withHashedShingles(
        docs.select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
          .filter(size(split(col("text"), " ")) >= shingleSize),
        "text", shingleSize, "grams")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("grams"))
      // shared by postings (twice) + sizes (twice); columnar
      // MEMORY_AND_DISK over localCheckpoint: the gram arrays dominate
      // this frame, and compressed columnar batches bound the heap
      // with graceful spill where deserialized row objects walled the
      // sf100 composites (SCALE_CURVE_r11). A/B re-run r13 (min-of-3
      // per JVM, loadavg-controlled): sf0.1 M&D 1.254 s vs localCk
      // 1.284 s; sf10 M&D 15.23 s vs localCk 13.47/15.86 s — parity
      // within the box's ±20% drift at both scales, so the r12 driver
      // bench's 0.80× on this query was VM noise, and the persist
      // stays on the sf100-safe columnar form.
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = g.select(col("doc_id"), col("n_chars"), size(col("grams")).as("sz"))
    val posts = g.select(col("doc_id"), col("lang"), explode(col("grams")).as("gram"))

    val a = posts.select(col("lang").as("lang1"), col("gram").as("gram1"),
      col("doc_id").as("id1"))
    val b = posts.select(col("lang").as("lang2"), col("gram").as("gram2"),
      col("doc_id").as("id2"))
    val shared = a.join(b, col("lang1") === col("lang2") &&
        col("gram1") === col("gram2") && col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))

    val s1 = sizes.select(col("doc_id").as("id1"), col("n_chars").as("nc1"),
      col("sz").as("sz1"))
    val s2 = sizes.select(col("doc_id").as("id2"), col("n_chars").as("nc2"),
      col("sz").as("sz2"))
    shared.join(s1, "id1").join(s2, "id2")
      .filter(abs(col("nc1") - col("nc2")) <= maxCharDiff)
      .select(col("id1"), col("id2"),
        round(col("shared").cast("double") /
          (col("sz1") + col("sz2") - col("shared")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard pairs at a HIGH threshold via prefix filtering
    * (the classic exact similarity-join pruning from the published
    * SSJoin/PPJoin line of work): order each document's grams by
    * global document frequency ascending (rarest first, ties on the
    * gram value), and index only each document's first
    * `|g| − ⌈t·|g|⌉ + 1` grams. Any pair with Jaccard ≥ t MUST share
    * a prefix gram under a consistent total order — if two sets share
    * none of either's prefix, their overlap is bounded below the
    * threshold — so candidate generation is exact-complete, like the
    * all-postings join, but the posting lists shrink to the rare end
    * of the df distribution: hot grams (the Σdf² cost driver at
    * 100 TB) fall out of every prefix. A length filter
    * (t·|A| ≤ |B| ≤ |A|/t) prunes further before verification.
    *
    * Complements [[ngramJaccardPairs]]: at loose thresholds (t≈0.1)
    * prefixes are ~90% of the grams and the plain posting join wins;
    * at near-dup thresholds (t ≥ 0.5) the prefix join moves a small
    * fraction of the postings.
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      shingleSize: Int = 3,
      threshold: Double = 0.6): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val g = withHashedShingles(
        docs.select(col("doc_id"), col("text"))
          .filter(size(split(col("text"), " ")) >= shingleSize),
        "text", shingleSize, "grams")
      .select(col("doc_id"), col("grams"))
      .filter(size(col("grams")) > 0)
      .localCheckpoint(eager = false) // postings + sizes + verify share it

    // global document frequency per gram — the prefix order. df as INT
    // (a gram's doc count fits 32 bits at any conceivable corpus) and
    // sz as INT below: the posting table crosses two full exchanges
    // (dfreq join by gram, ranking window by doc) — narrowing the two
    // carried counters cuts those exchanges ~25% (guide §2.3
    // "narrower types"), the r11 sf100 disk-exhaustion path.
    val dfreq = g.select(explode(col("grams")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).cast("int").as("df"))

    // rank grams per doc by (df asc, gram) and keep the prefix
    val posts = g.select(col("doc_id"), size(col("grams")).as("sz"),
        explode(col("grams")).as("gram"))
      .join(dfreq, "gram")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("gram"))
    // ONE materialization serves both self-join sides: without the
    // persist, `prefix` (explode → dfreq join → per-doc window) is
    // recomputed for `a` AND `b`, ~3 full posting-table
    // materializations through shuffle — the sf100 disk exhaustion of
    // round 11. MEMORY_AND_DISK as COLUMNAR cache (compressed, ~10
    // B/row) rather than localCheckpoint's deserialized row objects:
    // heap-bounded with graceful columnar spill at sf100, no GC wall.
    // (A repartition(gram)+DISK_ONLY variant measured strictly worse
    // on the r12 I/O-bound box — all-disk round trips dominate.)
    // ceil guards (r13, ADVICE): both ceils below are computed in
    // double, which can overshoot the exact integer bound by 1 when
    // t·sz lands on an integer (e.g. 5·0.6 = 3.0000000000000004 →
    // ceil 4). Subtracting a tiny epsilon before ceil only LOOSENS the
    // filters (longer prefix, more candidates) — the exact verify
    // below remains the sole arbiter, so the result set is unchanged.
    val prefix = posts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select(col("gram"), col("doc_id"), col("sz"), col("rk"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val a = prefix.select(col("gram").as("g1"), col("doc_id").as("id1"),
      col("sz").as("sz1"), col("rk").as("rk1"))
    val b = prefix.select(col("gram").as("g2"), col("doc_id").as("id2"),
      col("sz").as("sz2"), col("rk").as("rk2"))
    // PPJoin positional filter (Xiao et al. 2008, public — the classic
    // companion to prefix filtering): both gram lists are sorted by the
    // SAME total order (df, gram), so a shared gram at ranks (i, j)
    // splits every match cleanly into strictly-before / shared /
    // strictly-after — overlap ≤ min(i−1, j−1) + 1 + min(sz1−i, sz2−j),
    // a TRUE upper bound. Jaccard ≥ t needs overlap ≥ ⌈t/(1+t)·
    // (sz1+sz2)⌉; rows whose bound falls short are dropped IN the join,
    // before the candidate-distinct exchange — which, not the posting
    // table, is what actually exhausted the sf100 disk (r12 measured:
    // stage-38 candidate exchange, Σdf² join output ~2.8B rows; the
    // r11 "~3 posting materializations" attribution underestimated
    // postings' true count of 260M rows ≈ 10 GB). Verification is
    // unchanged — the filter only removes pairs that provably cannot
    // reach the threshold, so the result set is row-identical.
    val alpha = ceil((col("sz1") + col("sz2")) * (threshold / (1.0 + threshold)) - 1e-9)
    val candidates = a
      // the length filter needs the same 1e-9 guard as the ceils: at
      // an exact boundary (t·|A| = |B| mathematically) the double
      // product can land a hair ABOVE the integer (25·0.56 =
      // 14.000000000000002) and drop a qualifying pair (Round13Spec
      // pins this with a B ⊂ A fixture at J = t exactly)
      .join(b, col("g1") === col("g2") && col("id1") < col("id2") &&
        col("sz1") * threshold - 1e-9 <= col("sz2") &&
        col("sz2") * threshold - 1e-9 <= col("sz1") &&
        least(col("rk1") - 1, col("rk2") - 1) + 1 +
          least(col("sz1") - col("rk1"), col("sz2") - col("rk2")) >= alpha)
      // Aggregated PPJoin bound (r13): the per-occurrence filter above
      // assumes best-case "every gram before this one could be shared"
      // — but grouped by pair we KNOW the shared-prefix-gram count
      // exactly. Let g* be the pair's LAST shared prefix gram (max
      // global (df, gram) order — hence max rank in BOTH docs, because
      // the per-doc rank order IS the global order). Every shared gram
      // ordered before g* sits at smaller rank than g* in both docs —
      // inside both prefixes — so it is one of the cnt join rows; every
      // shared gram after g* lies in both suffixes, of which there are
      // at most min(sz1−rk1*, sz2−rk2*). Hence
      //   overlap ≤ cnt + min(sz1 − max(rk1), sz2 − max(rk2)),
      // a TRUE upper bound, strictly tighter than the per-row one
      // (which admits any pair sharing a single early-prefix gram).
      // Each pair the bound drops also leaves the (pair × gram-array)
      // verify exchange, the stream that exhausted the sf100 disk.
      // Results unchanged: a dropped pair has overlap < alpha by the
      // bound, so its exact verify must fail; DedupSpec/Round13Spec pin
      // brute-force equivalence at boundary thresholds.
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("cnt"),
        max(col("rk1")).as("mr1"), max(col("rk2")).as("mr2"),
        max(col("sz1")).as("msz1"), max(col("sz2")).as("msz2"))
      .filter(col("cnt") +
        least(col("msz1") - col("mr1"), col("msz2") - col("mr2")) >=
        ceil((col("msz1") + col("msz2")) *
          (threshold / (1.0 + threshold)) - 1e-9))
      .select(col("id1"), col("id2"))

    // SHUFFLE_HASH on the gram-array side of both verify joins (r12):
    // the stream side of join 2 is (pair, ga) — O(candidates × array
    // bytes), the dominant flow of the whole operator (~450 B × pairs;
    // `Probe stages` measured it as the sf100 disk killer) — and sort-merge
    // would EXTERNAL-SORT that stream, doubling its disk footprint.
    // Hash-building the bounded g side (per-partition corpus shard,
    // the memory-safe side at any scale) streams the heavy side
    // unsorted: one exchange, zero sort spill.
    val g1 = g.select(col("doc_id").as("id1"), col("grams").as("ga"))
      .hint("shuffle_hash")
    val g2 = g.select(col("doc_id").as("id2"), col("grams").as("gb"))
      .hint("shuffle_hash")
    val inter = size(array_intersect(col("ga"), col("gb")))
    candidates.join(g1, "id1").join(g2, "id2")
      .select(col("id1"), col("id2"),
        round(inter.cast("double") /
          (size(col("ga")) + size(col("gb")) - inter), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Grid completeness stops paying above this cosine threshold in 64-d
    * (measured round 7); [[embeddingNearDups]] routes to the banded path. */
  private[graft] def dispatchesToBanded(threshold: Double, exact: Boolean): Boolean =
    !exact && threshold >= 0.8

  /** Embedding cosine near-dup pairs within a blocking key (label).
    *
    * CONTRACT DEPENDS ON THE THRESHOLD (round 8): at `threshold ≥ 0.8`
    * the default dispatches to [[bandedEmbeddingNearDups]] — a
    * PROBABILISTIC sign-LSH candidate stage (recall ≈ 0.98 by the band
    * sizing, SpecGates-bounded ≥ 0.9; `numProjections` is not used on
    * that path) with an exact cosine verify, because the complete grid
    * below is measured quadratic there (27.9× wall for 10× rows at
    * t=0.9, round-7 curve). Pass `exact = true` to force the complete
    * grid at any threshold and recover the row-for-row completeness
    * guarantee described next, at the measured quadratic cost in
    * high-threshold high-dimension regimes.
    *
    * The grid path (loose thresholds, or `exact = true`) is an
    * EXACT-COMPLETE shifted-grid bucket join (not approximate LSH):
    * unit-normalized vectors at cosine ≥ t sit within chord distance
    * r = √(2−2t) of each other, so their projections onto any unit
    * direction differ by at most r. A 1-D grid of cell width w > 2r,
    * taken twice with a w/2 shift, is guaranteed to co-locate any two
    * values at distance < w/2 in at least one of the two grids (a
    * length-<w/2 interval contains at most one grid boundary of the
    * interleaved pair). ANDing k projections over all 2^k shift
    * combinations keeps that guarantee in k dimensions — so the bucket
    * join provably produces a candidate superset and the exact cosine
    * verify loses nothing: the result is identical to the all-pairs
    * formulation, row for row, while the join is keyed by (label,
    * cells) and therefore hash-partitionable and AQE-skew-splittable
    * at 100 TB.
    *
    * Pruning power scales with the threshold: at near-dup thresholds
    * (t → 1) w shrinks and the grid separates aggressively — but in
    * high dimension the projection spread defeats it, hence the
    * dispatch; at loose thresholds (t ≲ 0.5) w exceeds the unit-ball
    * diameter and the candidate set degenerates toward per-label
    * all-pairs — which is inherent: the OUTPUT of "all pairs at
    * cosine ≥ 0.4" is itself quadratic in the worst case, so no
    * candidate scheme can beat it.
    */
  def embeddingNearDups(
      emb: DataFrame,
      threshold: Double = 0.4,
      dims: Int = 64,
      numProjections: Int = 3,
      seed: Long = 7L,
      exact: Boolean = false): DataFrame = {
    // High thresholds dispatch to the sign-LSH banded path: the round-7
    // sf0.1→sf1 curve measured the complete grid at 27.9× wall for 10×
    // rows at t=0.9 (cell width 2·chord(t)=0.89 exceeds the ±3/√64
    // projection spread, so every vector shares a cell and the candidate
    // join degenerates to label-scoped all-pairs). The grid stays the
    // default where it prunes (loose thresholds — there the OUTPUT is
    // quadratic anyway, so completeness costs nothing extra) and behind
    // exact=true for completeness contracts / oracle rows.
    if (dispatchesToBanded(threshold, exact)) {
      // bitsPerBand sized so one band matches a threshold-pair with
      // P ≈ 0.15 (sign agreement p = 1 - acos(t)/π): 24 bands then give
      // recall 1-(1-.15)^24 ≈ 0.98. Reproduces the hand-tuned b=12 at
      // t=0.9 and relaxes to b=8 at t=0.8.
      val p = 1.0 - math.acos(math.min(threshold, 0.999999)) / math.Pi
      val b = math.max(6, math.min(16,
        math.round(math.log(0.15) / math.log(p)).toInt))
      return bandedEmbeddingNearDups(emb, threshold, dims,
        bands = 24, bitsPerBand = b, seed = seed)
    }
    // chord length on the unit sphere at the cosine threshold
    val r = math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold))
    val w = 2.0 * r * 1.000001 + 1e-12 // strictly > 2r → completeness

    val planes = SimilaritySearch.hyperplanes(numProjections, dims, seed)
      .map { p =>
        val n = math.sqrt(p.map(x => x.toDouble * x).sum)
        p.map(x => (x / n).toFloat)
      }
    def dot(p: Array[Float]): Column =
      aggregate(zip_with(col("embedding"), typedlit(p), (a, b) => a * b),
        lit(0.0d), (acc, x) => acc + x)
    val nrm = sqrt(aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x * x))

    // projections of the unit-normalized vector; nrm through its own
    // projection so it computes once, not once per plane
    val projected = emb
      .select(col("label"), col("vec_id"), col("embedding"), nrm.as("nrm"))
      .select(Seq(col("label"), col("vec_id")) ++
        planes.zipWithIndex.map { case (p, j) =>
          (dot(p) / col("nrm")).as(s"pj$j")
        }: _*)

    // every shift combination's cell vector; array_distinct collapses
    // combos that land in identical cells (all of them, at loose
    // thresholds) so the key explosion is ≤ 2^k and usually ~1
    val cellStructs = (0 until (1 << numProjections)).map { s =>
      struct((0 until numProjections).map { j =>
        floor((col(s"pj$j") + lit(((s >> j) & 1) * w / 2)) / lit(w))
          .cast("long").as(s"c$j")
      }: _*)
    }
    val keyed = projected
      .select(col("label"), col("vec_id").as("id"),
        explode(array_distinct(array(cellStructs: _*))).as("cell"))
      .localCheckpoint(eager = false) // both sides of the self-join read this once

    val a = keyed.select(col("label").as("lab1"), col("cell").as("cell1"),
      col("id").as("id1"))
    val b = keyed.select(col("label").as("lab2"), col("cell").as("cell2"),
      col("id").as("id2"))
    val cand = a
      .join(b, col("lab1") === col("lab2") && col("cell1") === col("cell2") &&
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()

    // embeddings join back onto the skinny candidate pairs; exact
    // cosine verify makes the grid stage invisible in the result
    val e1 = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val e2 = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    cand.join(e1, "id1").join(e2, "id2")
      .select(col("id1"), col("id2"),
        round(GraftFunctions.arrayCosineSimilarity(col("e1"), col("e2")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Sign-LSH banded embedding near-dup — the 100 TB path for HIGH
    * thresholds, where [[embeddingNearDups]]'s complete grid cannot
    * prune in high dimensions (the round-7 sf0.1→sf1 curve measured it
    * at 27.9× for 10× rows: a 64-d unit vector's projection onto one
    * direction concentrates within ±3/√64 ≈ ±0.38, while completeness
    * forces the cell width to 2·chord(t) = 0.89 at t=0.9 — every
    * vector lands in the same cell and candidates go quadratic).
    *
    * Same contract as [[minhashNearDups]]: probabilistic candidates
    * (bands × bitsPerBand sign bits over seeded hyperplanes, pairs
    * sharing any band bucket), exact cosine verify, quantified recall
    * instead of completeness — SpecGates bounds recall vs the exact
    * operator. Defaults tuned for t ≈ 0.9 (sign agreement p = 1-θ/π =
    * 0.856): P(band) = 0.856¹² = 0.15, recall over 24 bands = 0.98,
    * while a random isotropic pair survives ≈ 24·0.5¹² = 0.6% of the
    * time — candidates stay ~linear with corpus growth at constant
    * dup density (measured: see BENCH_NOTES round 7).
    *
    * Scale shape: ids-only banded buckets (one shuffle), skinny
    * candidate pairs, embeddings joined back only for the verify — the
    * exact shape of [[SimilaritySearch.lshTopK]].
    */
  def bandedEmbeddingNearDups(
      emb: DataFrame,
      threshold: Double = 0.9,
      dims: Int = 64,
      bands: Int = 24,
      bitsPerBand: Int = 12,
      seed: Long = 7L): DataFrame = {
    val planes = SimilaritySearch.hyperplanes(bands * bitsPerBand, dims, seed)
    // materialize the signatures ONCE: both sides of the self-join
    // read this (the bands×bitsPerBand hyperplane projection per row
    // is the dominant map cost — same rule as minhashNearDups'
    // withSig / embeddingNearDups' keyed checkpoints)
    val sig = emb.select(col("vec_id").as("id"), col("label"),
        posexplode(SignLshBuckets(col("embedding"), planes, bitsPerBand)))
      .select(col("id"), col("label"),
        struct(col("pos").as("band"), col("col").as("bucket")).as("bb"))
      .localCheckpoint(eager = false)
    val a = sig.select(col("id").as("id1"), col("label").as("lab1"),
      col("bb").as("bb1"))
    val b = sig.select(col("id").as("id2"), col("label").as("lab2"),
      col("bb").as("bb2"))
    val cand = a.join(b, col("bb1") === col("bb2") &&
        col("lab1") === col("lab2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
    val e1 = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val e2 = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    cand.join(e1, "id1").join(e2, "id2")
      .select(col("id1"), col("id2"),
        round(GraftFunctions.arrayCosineSimilarity(col("e1"), col("e2")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Incremental embedding dedup: screen NEW batch vectors against an
    * EXISTING corpus — the semantic member of the incremental family
    * ([[incrementalDedup]] covers exact/lexical). Candidates come from
    * the banded sign-LSH buckets (the high-threshold scale path, same
    * hyperplanes/banding as [[bandedEmbeddingNearDups]]) joined
    * ASYMMETRICALLY batch→corpus within label blocks, then exact
    * cosine verification and a tie-free best match per batch vector.
    *
    * Returns one row per batch vector: (vec_id, is_dup, match_id,
    * cos) — match_id/cos NULL for fresh vectors.
    *
    * Scale: the corpus signature table is computed once and reusable
    * across batches (persist as the semantic dedup index, ~bands
    * rows of a few bytes per vector); per-batch work is the batch's
    * bucket join against it — batch-side small factor, never
    * corpus×corpus.
    */
  def incrementalEmbeddingDedup(batch: DataFrame, corpus: DataFrame,
      threshold: Double = 0.9, dims: Int = 64, bands: Int = 24,
      bitsPerBand: Int = 12, seed: Long = 7L): DataFrame = {
    val planes = SimilaritySearch.hyperplanes(bands * bitsPerBand, dims, seed)
    def sig(df: DataFrame) = df
      .select(col("vec_id").as("id"), col("label"),
        posexplode(SignLshBuckets(col("embedding"), planes, bitsPerBand)))
      .select(col("id"), col("label"),
        struct(col("pos").as("band"), col("col").as("bucket")).as("bb"))
    val a = sig(batch).select(col("id").as("bid"), col("label").as("lab1"),
      col("bb").as("bb1"))
    val b = sig(corpus).select(col("id").as("cid"), col("label").as("lab2"),
      col("bb").as("bb2"))
    val cand = a.join(b, col("bb1") === col("bb2") &&
        col("lab1") === col("lab2"))
      .select(col("bid"), col("cid"))
      .distinct()
    val e1 = batch.select(col("vec_id").as("bid"), col("embedding").as("e1"))
    val e2 = corpus.select(col("vec_id").as("cid"), col("embedding").as("e2"))
    val best = cand.join(e1, "bid").join(e2, "cid")
      .select(col("bid"), col("cid"),
        round(GraftFunctions.arrayCosineSimilarity(col("e1"), col("e2")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("bid"))
      .agg(
        max_by(col("cid"), format_string("%012.9f-%019d", col("cos"),
          lit(999999999999999999L) - col("cid"))).as("match_id"),
        max(col("cos")).as("cos"))
    batch.select(col("vec_id"))
      .join(best.withColumnRenamed("bid", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_id").isNotNull.as("is_dup"),
        col("match_id"), col("cos"))
  }

  /** Cross-document duplicate-span report — the exact-substring dedup
    * signal from Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), reduced to fixed-width word windows:
    * for each document, how many of its distinct `spanWords`-word
    * spans also occur in at least one OTHER document. High
    * dup_fraction docs are boilerplate/mirror candidates the
    * quality-filter family can then drop or trim.
    *
    * Shape: hashed span windows (fused [[HashedShingles]], no gram
    * strings) → explode to (doc, span) postings → a count window
    * partitioned by span hash annotates each posting with its
    * document frequency → one groupBy(doc) rolls up totals. Two
    * shuffles total (by span, then by doc), both plain hash
    * partitionings AQE can skew-split; nothing pairwise, nothing
    * quadratic — this is the scale-correct contrast to the pair
    * operators above, because span df is the only statistic needed.
    */
  /** Canonical-document selection: within each near-duplicate cluster
    * keep the BEST document, not the arbitrary first — the curation
    * policy most public pipelines describe (dedup keeps the
    * highest-quality representative; min-id "first arrival" is a tie
    * rule, not a policy). Composes three already-gated operators:
    * [[ngramJaccardPairs]] candidates → [[GraphOps.dupClusters]]
    * components → arg-max of [[TextAnalysis.qualityFeatures]] quality
    * per cluster (ties toward the smaller doc id, so selection stays
    * deterministic).
    *
    * Scale shape: inherits the posting-list and O(log d) component
    * bounds of its parts; the selection itself is one doc-keyed join
    * plus a per-cluster ranking window whose partitions are cluster-
    * sized (bounded, typically tiny) — nothing new shuffles more than
    * the cluster membership table of ids.
    *
    * @return one row per cluster: (cluster_id, keep_id, quality,
    *         n_members), clusters of ≥2 docs only.
    */
  def canonicalDocs(docs: DataFrame, shingleSize: Int = 3,
      maxCharDiff: Int = 20, threshold: Double = 0.1): DataFrame = {
    val clusters = GraphOps.dupClusters(
      ngramJaccardPairs(docs, shingleSize, maxCharDiff, threshold))
    // join BEFORE scoring: cluster members are a small fraction of the
    // corpus, and the inner join discards every non-member row — so
    // the quality-feature map (regexp + stopword expressions, the CPU
    // term) runs on members only instead of the whole corpus
    // (guide §1: don't compute things you throw away). Row-local
    // feature math — result unchanged.
    val members = docs.select(col("doc_id"), col("text"))
      .join(clusters, "doc_id")
    val ranked = TextAnalysis.qualityFeatures(members, "text")
      .select(col("doc_id"), col("cluster_id"), col("quality"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id"))))
    ranked.groupBy(col("cluster_id"))
      .agg(max(when(col("rk") === 1, col("doc_id"))).as("keep_id"),
        max(when(col("rk") === 1, col("quality"))).as("quality"),
        count(lit(1)).as("n_members"))
  }

  /** Duplicate-span REMOVAL — the transform half of exact-substring
    * deduplication (Lee et al. 2021 "Deduplicating Training Data Makes
    * Language Models Better", public): every word span of `spanWords`
    * that occurs in ≥2 documents is cut from all of them, and each
    * document's text is rebuilt from its surviving tokens.
    * [[duplicateSpans]] is the detection signal; this produces the
    * cleaned corpus.
    *
    * Plan shape at 100 TB — nothing pairwise anywhere:
    *  1. tokens with positions: per-row posexplode (map-only);
    *  2. spans via k-1 `lead()`s over a doc-keyed window (the span
    *     text never materializes — spans travel as xxhash64 keys);
    *  3. span df: one hash aggregate keyed by span hash;
    *  4. covered positions: dup spans joined back (span-hash keyed),
    *     exploded to ≤ spanWords positions each, doc-keyed distinct;
    *  5. rebuild: left-anti join tokens vs covered + one doc-keyed
    *     aggregate ordering tokens by position.
    * Every shuffle is keyed by doc or span hash, AQE-splittable; all
    * arithmetic is integer/string — deterministic, fully
    * oracle-checkable (the oracle replays the span strings
    * themselves; xxhash64 only compresses the join key).
    *
    * @return one row per input document: (doc_id, clean_text,
    *         n_tokens, n_removed) — clean_text '' when everything was
    *         duplicated away.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanWords: Int = 5): DataFrame = {
    require(spanWords >= 2)
    // r12 restructure: spans are built MAP-SIDE by the fused
    // SpanHashes expression (no lead() window), so the token table
    // never shuffles at all — the only full-span-table exchanges left
    // are the df aggregate and the flagged join-back; the rebuild is
    // array arithmetic on the doc row. Oracle-verified (the oracle
    // replays span strings, independent of the hash).
    val spans = spansOf(docs, idCol, textCol, spanWords)
    val dup = spans.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("dw"))
      .filter(col("dw") >= 2)
      .select(col("h"))
    rebuildWithout(wordsOf(docs, idCol, textCol),
      spans.join(dup, "h"), spanWords)
  }

  /** Surgical decontamination — cut only the OVERLAPPING spans,
    * instead of dropping whole documents ([[CorpusOps
    * .contaminationReport]] flags; this repairs): every corpus span
    * that also occurs in the evaluation set is removed and the text
    * rebuilt, so a single leaked benchmark sentence no longer costs
    * the entire document. Same machinery as [[removeDuplicateSpans]];
    * the span blocklist comes from the (small) eval side and rides a
    * BROADCAST join — the corpus never shuffles for matching, only
    * for the doc-keyed rebuild.
    */
  def removeContaminatedSpans(corpus: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      spanWords: Int = 5): DataFrame = {
    require(spanWords >= 2)
    val evalSpans = spansOf(evalDocs, idCol, textCol, spanWords)
      .select(col("h")).distinct()
    // the blocklist comes from the (small) eval side and rides a
    // BROADCAST join — the corpus never shuffles for matching, only
    // the flagged (doc, start) rows move for the doc-keyed rebuild
    rebuildWithout(wordsOf(corpus, idCol, textCol),
      spansOf(corpus, idCol, textCol, spanWords)
        .join(broadcast(evalSpans), "h"), spanWords)
  }

  /** docs reduced to (doc_id, ws) word arrays — the span-removal
    * family's base frame; everything per-doc derives map-side from it.
    */
  private def wordsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("ws"))

  /** (doc_id, start, h): every full-width span as a 64-bit key, built
    * MAP-SIDE by the fused [[graft.SpanHashes]] expression (one pass
    * over the UTF-8 bytes, array index = start position) + posexplode
    * — no window, so the token table never shuffles, and the hashing
    * stays in whole-stage codegen. Docs shorter than spanWords emit
    * no spans (empty array, posexplode drops the row). The hash is an
    * engine-internal join key only — the oracle replays span STRINGS,
    * so parity never depends on the hash function.
    */
  private def spansOf(docs: DataFrame, idCol: String, textCol: String,
      spanWords: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(graft.SpanHashes(col(textCol), spanWords))
        .as(Seq("start", "h")))

  /** Rebuild every document without the tokens covered by
    * `flaggedSpans` (doc_id, start, …): aggregate each doc's covered
    * POSITIONS into one array (spanWords positions per flagged span,
    * deduplicated), then rebuild the text map-side — `array_except`
    * keeps surviving positions in order, `element_at` re-reads the
    * words. The only shuffles are the flagged rows by doc and the
    * base join; tokens themselves never move. One row per input doc,
    * '' when nothing survives.
    */
  private def rebuildWithout(base: DataFrame, flaggedSpans: DataFrame,
      spanWords: Int): DataFrame = {
    val covered = flaggedSpans.groupBy(col("doc_id"))
      .agg(array_distinct(flatten(collect_list(
        sequence(col("start"), col("start") + (spanWords - 1))))).as("cov"))
    val n = size(col("ws"))
    val keptPos = array_except(sequence(lit(0), n - 1),
      coalesce(col("cov"), typedlit(Array.empty[Int])))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ",
          transform(keptPos, i => element_at(col("ws"), i + 1)))
          .as("clean_text"),
        n.cast("bigint").as("n_tokens"),
        (n - size(keptPos)).cast("bigint").as("n_removed"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * public): bucket the corpus into embedding clusters, then drop
    * any item whose cosine to a LOWER-ID item of the same cluster
    * clears the threshold — one survivor per semantic near-dup set,
    * chosen deterministically (min id), exactly the published recipe
    * (they keep one item per intra-cluster dup group; low-id is our
    * deterministic stand-in for their keep rule).
    *
    * Scale shape: this is the whole point of the clustering step —
    * the quadratic pair join runs WITHIN clusters only (an equi-join
    * keyed by cluster id, AQE-skew-splittable), so the cost is
    * Σ|cluster|² instead of |corpus|²; at 100 TB you raise
    * numClusters to keep cluster sizes bounded. Candidate pairs carry
    * ids + cosine only. Cosine is rounded to 6 dp BEFORE the
    * threshold compare so the decision is oracle-stable across
    * engines (same posture as [[embeddingNearDups]]).
    *
    * Returns every input id with its cluster, the max rounded cosine
    * to a lower-id cluster-mate (null when alone), and the keep flag.
    */
  def semanticDedup(
      emb: DataFrame,
      numClusters: Int = 8,
      threshold: Double = 0.7): DataFrame = {
    val assigned = SimilaritySearch.clusterAssign(emb, numClusters)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .join(assigned, "vec_id")
    val a = vecs.select(col("vec_id"), col("embedding").as("ea"),
      col("cluster"))
    val b = vecs.select(col("vec_id").as("id_lo"),
      col("embedding").as("eb"), col("cluster"))
    val pairMax = a.join(b, Seq("cluster"))
      .filter(col("id_lo") < col("vec_id"))
      .select(col("vec_id"), col("cluster"),
        round(GraftFunctions.arrayCosineSimilarity(col("ea"), col("eb")), 6)
          .as("c"))
      .groupBy(col("vec_id"), col("cluster"))
      .agg(max(col("c")).as("max_cos_lower"))
    assigned
      .join(pairMax.drop("cluster"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("max_cos_lower"),
        (coalesce(col("max_cos_lower"), lit(-2.0)) < threshold).as("is_kept"))
  }

  def duplicateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanWords: Int = 5): DataFrame = {
    val g = withHashedShingles(
        docs.select(col(idCol), col(textCol).as("__t"))
          .filter(size(split(col("__t"), " ")) >= spanWords),
        "__t", spanWords, "spans")
      .select(col(idCol), explode(col("spans")).as("span"))
    val bynSpan = Window.partitionBy(col("span"))
    g.withColumn("docs_with", count(lit(1)).over(bynSpan))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("docs_with") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_spans"), 6))
  }

  /** Incremental (cross-corpus) dedup: screen a NEW batch against an
    * EXISTING training corpus — the ingest-time shape of dedup, where
    * the corpus is orders of magnitude larger than the batch and must
    * never be re-deduplicated against itself.
    *
    * Two asymmetric stages, both one-directional (batch → corpus):
    *  1. exact: content-hash (md5) equi-join; first (lowest-id) corpus
    *     match wins;
    *  2. near: shingle posting lists of the batch joined against the
    *     corpus postings within (lang, ±maxCharDiff) blocks, n-gram
    *     Jaccard verified, best match by (jaccard desc, corpus id asc)
    *     via a tie-free arg_max key — no per-doc window.
    *
    * Verdict per batch doc: 'exact_dup' (jaccard pinned 1.0) beats
    * 'near_dup' (≥ threshold) beats 'keep' (match_id NULL).
    *
    * Scale: stage 1 is a hash join on 16-byte digests. Stage 2's cost
    * is Σ_gram df_batch·df_corpus — the batch side is the small factor,
    * so posting lists stay bounded even when the corpus is 100 TB; the
    * corpus shingle table is computed once and is reusable across
    * batches (persist it as the dedup index).
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      shingleSize: Int = 3, maxCharDiff: Int = 20,
      threshold: Double = 0.5): DataFrame = {
    val exact = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpus.select(col("doc_id").as("cid"), md5(col("text")).as("h")),
        "h")
      .groupBy(col("doc_id"))
      .agg(min(col("cid")).as("em"))

    def grams(df: DataFrame) = withHashedShingles(
        df.select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
          .filter(size(split(col("text"), " ")) >= shingleSize),
        "text", shingleSize, "grams")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("grams")).as("sz"), col("grams"))
    val bg = grams(batch).localCheckpoint(eager = false)
    val cg = grams(corpus).localCheckpoint(eager = false)
    val bp = bg.select(col("doc_id").as("bid"), col("lang"),
      col("n_chars").as("bnc"), col("sz").as("bsz"),
      explode(col("grams")).as("gram"))
    val cp = cg.select(col("doc_id").as("cid"), col("lang"),
      col("n_chars").as("cnc"), col("sz").as("csz"),
      explode(col("grams")).as("gram"))
    val near = bp.join(cp, Seq("lang", "gram"))
      .filter(abs(col("bnc") - col("cnc")) <= maxCharDiff)
      .groupBy(col("bid"), col("cid"), col("bsz"), col("csz"))
      .agg(count(lit(1)).as("shared"))
      .select(col("bid"), col("cid"),
        round(col("shared").cast("double") /
          (col("bsz") + col("csz") - col("shared")), 6).as("j"))
      .filter(col("j") >= threshold)
      .groupBy(col("bid"))
      .agg(
        max_by(col("cid"), format_string("%012.9f-%019d", col("j"),
          lit(999999999999999999L) - col("cid"))).as("nm"),
        max(col("j")).as("nj"))
      .withColumnRenamed("bid", "doc_id")

    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("em").isNotNull, "exact_dup")
          .when(col("nm").isNotNull, "near_dup")
          .otherwise("keep").as("verdict"),
        coalesce(col("em"), col("nm")).as("match_id"),
        when(col("em").isNotNull, lit(1.0d)).otherwise(col("nj"))
          .as("jaccard"))
  }
}
