package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators (SURVEY §2.11 + north-star brief):
  * exact/MinHash/SimHash/n-gram-Jaccard/embedding-cosine deduplication,
  * similarity search, and text analysis, all as declarative Catalyst
  * expressions (no UDFs — everything stays inside whole-stage codegen).
  *
  * Portability: hashes derive from md5 (identical in every engine) truncated
  * to 60 bits, so the DuckDB oracle reproduces signatures bit-for-bit —
  * xxhash64 would be faster but engine-private (it remains the right choice
  * when both sides are Spark; see graft.core.Hashing.fastRowHash).
  *
  * Scale posture (100 TB): every dedup variant is bucketed — candidates come
  * from equi-joins on band/bucket hashes (shuffle on the band key), NEVER an
  * all-pairs self-join. Signature computation is a narrow per-row map.
  * A hot bucket (thousands of identical docs) produces a quadratic bucket
  * join — cap bucket size upstream (count + filter) if the corpus has
  * degenerate duplication.
  */
object LlmOps {

  /** Runtime fallback registration of graft_dot/graft_hash_array, so these
    * operators work on any session — not only ones built with
    * spark.sql.extensions=graft.GraftExtensions. No-op once registered.
    */
  private def ensureFns(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensure(df.sparkSession)
    df
  }

  /** Portable 60-bit hash of a SQL string expression with a seed expression:
    * first 15 hex chars of md5 → BIGINT. Collision prob ~2^-60 per pair.
    */
  def hashSql(sExpr: String, seedExpr: String): String =
    s"cast(conv(substr(md5(concat($sExpr, ':', $seedExpr)), 1, 15), 16, 10) as bigint)"

  /** Lower-cased whitespace tokens of `text`. Registers the graft_*
    * functions as a side effect (it is the entry gateway for the text
    * family, whose downstream columns use [[round6]]).
    */
  def withWords(df: DataFrame): DataFrame =
    ensureFns(df).withColumn("words", expr("split(lower(text), ' ')"))

  /** Word 3-gram shingles (docs shorter than 3 words shingle to the whole
    * text so every doc has ≥1 shingle).
    *
    * graft_word_ngrams is the codegen'd n-gram join; the HOF formulation it
    * replaces element-for-element —
    * `zip_with(zip_with(slice(words,1,m), slice(words,2,m), concat),
    * slice(words,3,m), concat)` — evaluated interpreted and dominated
    * shingle construction (~3× at 1M docs; equivalence spec-tested). The
    * earlier O(n²) trap still applies to any HOF rewrite: an index lambda
    * reading `words` re-evaluates the split per element after
    * CollapseProject.
    */
  def withShingles(df: DataFrame): DataFrame =
    ensureFns(df).withColumn("shingles", expr(
      "if(size(words) < 3, array(lower(text)), graft_word_ngrams(words, 3))"))

  /** MinHash signature: k independent min-hashes over the shingle set.
    * Each shingle is md5-hashed ONCE to 32 bits; the k permutations are
    * affine maps h → (a_j·h + b_j) mod P (P prime > 2^32) — the universal-
    * hashing form of minhash. a_j < 2^20 keeps a_j·h < 2^52 — exact in
    * int64 on every engine.
    *
    * Both stages run as native codegen'd expressions (graft_hash_array +
    * graft_minhash); the HOF formulation they replace bit-for-bit —
    * `transform(sequence(0, k-1), j -> aggregate(sh32, maxLong,
    * (acc, h) -> least(acc, ((1 + j*104729)*h + j*7919) % 4294967311)))` —
    * evaluates interpreted per element and dominated signature computation
    * ~6× (measured at 1M docs; equivalence is spec-tested).
    */
  def withMinhashSig(df: DataFrame, k: Int): DataFrame =
    ensureFns(df).withColumn("sh32", expr("graft_hash_array(shingles, '', 8)"))
      .withColumn("sig", expr(s"graft_minhash(sh32, $k)"))

  /** LSH band hashes: `bands` bands of `r` signature rows each; the band
    * index is baked into the hashed string so bands never collide across
    * positions. Keys are int64 md5-prefixes (graft_band_hash, codegen'd):
    * an 8-byte join key shuffles and compares far cheaper than the
    * b + '|' + md5-hex string scheme it replaces — the band self-join is
    * the LSH pipeline's only wide op, so key width is its budget.
    */
  def withBandHashes(df: DataFrame, bands: Int, r: Int): DataFrame =
    ensureFns(df).withColumn("bands",
      expr(s"graft_band_hash(sig, $bands, $r, 15)"))

  /** (id, shingles) **materialized** (persisted). Materializing here matters
    * twice over: (a) the shingle pipeline runs once, not once per downstream
    * consumer/join side — at 100 TB recomputing shingling per join side is
    * the dominant cost; (b) downstream expression trees reference the
    * `shingles` attribute of a compact cached relation instead of re-inlining
    * the whole text→words→shingles HOF chain, which keeps analysis/planning
    * linear (measured locally: 71s → <1s for the LSH self-join).
    */
  def shingleTable(docs: DataFrame, idCol: String): DataFrame =
    // r15 spread the scan here; r16 REMOVED it (driver bench adjudication):
    // the LSH consumers' post-persist kernels are cheap (integer minhash +
    // band join), so at 32 cores the extra round-robin exchange cost more
    // than the shingle kernel parallelism bought — dedup_weights 0.50×,
    // corpus_overlap 0.48×, dedup_clusters 0.75× vs r14. The spread stays
    // where the per-row kernel dominates (gramPositions, lmGrams, the
    // levenshtein texts side).
    withShingles(withWords(docs))
      .select(col(idCol), col("shingles")).persist()

  /** Single home of the sig→band→explode construction: returns the
    * PERSISTED signature table (caller must unpersist once its consumer
    * materializes) and the lazy banded frame built on it. The signature
    * column is materialized before banding+explode: Generate (explode)
    * triggers project collapsing that would otherwise inline the whole
    * signature expression into the per-band output.
    */
  private def sigAndBanded(sh: DataFrame, idCol: String, k: Int,
                           bands: Int, r: Int): (DataFrame, DataFrame) = {
    val sigT = withMinhashSig(sh, k).select(col(idCol), col("sig")).persist()
    val banded = withBandHashes(sigT, bands, r)
      .select(col(idCol), explode(col("bands")).as("band"))
    (sigT, banded)
  }

  /** (id, band-hash) pairs, one row per band, built from a [[shingleTable]].
    *
    * Ad-hoc/probe use only — the internal signature cache lives until
    * session end. The pipeline entry points ([[minhashCandidatesFrom]],
    * [[oversizedBuckets]]) manage and release their caches themselves.
    */
  def bandedSignatures(sh: DataFrame, idCol: String, k: Int = 8,
                       bands: Int = 4, r: Int = 2): DataFrame =
    sigAndBanded(sh, idCol, k, bands, r)._2

  /** Candidate near-duplicate pairs: docs sharing ≥1 LSH band. Equi-join of
    * the band table with itself — shuffle on the band hash, linear in
    * bucket sizes, no cartesian product.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, k: Int = 8,
                        bands: Int = 4, r: Int = 2): DataFrame = {
    // the shingle table — the largest LSH intermediate — is released as
    // soon as the (eagerly materialized) pairs no longer need it
    val sh = shingleTable(docs, idCol)
    try minhashCandidatesFrom(sh, idCol, k, bands, r)
    finally { sh.unpersist(); () }
  }

  /** As [[minhashCandidates]] but reusing an existing (persisted)
    * [[shingleTable]]. The band table is persisted too: the self-join must
    * not compute signatures once per side.
    *
    * `maxBucket` caps the quadratic blowup of a degenerate bucket (e.g.
    * thousands of byte-identical boilerplate docs): buckets above the cap
    * are excluded from pairing — their members are better handled by exact
    * dedup first. Capped buckets are *counted*, not silently ignored:
    * callers can read the side channel via [[oversizedBuckets]].
    */
  def minhashCandidatesFrom(sh: DataFrame, idCol: String, k: Int = 8,
                            bands: Int = 4, r: Int = 2,
                            maxBucket: Int = 1000,
                            materialize: Boolean = true): DataFrame = {
    // the signature and band tables are orders of magnitude larger than
    // the candidate pairs (per-doc arrays vs the near-dup subset) —
    // materialize the pairs eagerly so both intermediates can be RELEASED
    // here instead of squatting on executor storage until session end
    // (measured: at 5M docs the leaked caches caused eviction thrash and
    // ~50% run-to-run variance). Callers get a small persisted result.
    // materialize=false returns the LAZY plan (for plan audits/explain —
    // the intermediates then live until session end, probe use only).
    if (!materialize) {
      val (_, banded) = sigAndBanded(sh, idCol, k, bands, r)
      return pairsPlan(banded, cappedBands(banded, maxBucket), idCol)
    }
    val (sigT, banded0) = sigAndBanded(sh, idCol, k, bands, r)
    val banded = banded0.persist()
    val pairs = pairsPlan(banded, cappedBands(banded, maxBucket), idCol)
      .persist()
    pairs.count() // materialize BEFORE dropping the caches it derives from
    banded.unpersist()
    sigT.unpersist()
    pairs
  }

  /** The band buckets the `maxBucket` cap excludes from pairing — TINY by
    * construction (degenerate boilerplate buckets only), unlike the full
    * bucket-count table (~#distinct bands ≈ corpus-sized: persisting THAT
    * OOMs the heap the banded cache already fills at 10M docs).
    */
  private def cappedBands(banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy("band").count()
      .filter(col("count") > maxBucket).select(col("band"))

  /** The candidate self-join over the non-capped band buckets: anti-join
    * away the (tiny) capped-band set, then equi-join on the band key —
    * linear in bucket sizes, never all-pairs. Excluding by ANTI-join
    * against the small capped set (instead of semi-joining the large
    * ok-band complement) keeps the exclusion side broadcastable when the
    * caller hands in a materialized capped table.
    */
  private def pairsPlan(banded: DataFrame, capped: DataFrame,
                        idCol: String): DataFrame = {
    val small = banded.join(capped, Seq("band"), "left_anti")
    small.as("x").join(small.as("y"), "band")
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  /** [[minhashCandidatesFrom]] plus coverage accounting FOLDED into the
    * same aggregation: the capped-band set is computed once from the cached
    * band table, persisted (tiny by construction), counted for the
    * coverage report, and reused as the pair join's anti-join exclusion —
    * the pair job no longer re-aggregates the band table a second time
    * (the r7 shape paid one extra full hash-agg pass over the cache
    * there; a spec pins the job count). Returns (persisted candidate
    * pairs, number of capped buckets). All intermediates are released
    * before returning.
    */
  def candidatesWithCoverage(sh: DataFrame, idCol: String, k: Int = 8,
                             bands: Int = 4, r: Int = 2,
                             maxBucket: Int = 1000): (DataFrame, Long) = {
    val (sigT, banded0) = sigAndBanded(sh, idCol, k, bands, r)
    val banded = banded0.persist()
    val capped = cappedBands(banded, maxBucket).persist()
    val nCapped = capped.count()
    val pairs = pairsPlan(banded, capped, idCol).persist()
    pairs.count() // materialize BEFORE dropping the caches it derives from
    capped.unpersist()
    banded.unpersist()
    sigT.unpersist()
    (pairs, nCapped)
  }

  /** Buckets skipped by the `maxBucket` cap, with their sizes. Eagerly
    * materialized (tiny by construction) so the signature cache it derives
    * from is released before returning.
    */
  def oversizedBuckets(sh: DataFrame, idCol: String, maxBucket: Int,
                       k: Int = 8, bands: Int = 4, r: Int = 2): DataFrame = {
    val (sigT, banded) = sigAndBanded(sh, idCol, k, bands, r)
    val out = banded.groupBy("band").count().filter(col("count") > maxBucket)
      .persist()
    out.count()
    sigT.unpersist()
    out
  }

  /** 32-bit SimHash over the word multiset: bit j is the sign of the sum of
    * (+1/-1) votes from each word-hash's j-th bit. Identical docs get equal
    * simhashes; near-identical docs differ in few bits (full simhash dedup
    * adds a hamming-distance band search on top of this equality bucket).
    * 32 bits keeps birthday collisions negligible at the test corpus size.
    */
  def withSimhash(df: DataFrame): DataFrame =
    ensureFns(df).withColumn("hs", expr("graft_hash_array(words, ':sim', 15)"))
      // graft_simhash32 is the codegen'd vote loop; it replaces (and is
      // spec-tested bit-identical to) the interpreted HOF formulation
      //   aggregate(zip_with(aggregate(hs, int[32] votes, ...),
      //             sequence(0,31), bit-select), 0, +)
      // which was the simhash pipeline's dominant cost.
      .withColumn("simhash", expr("graft_simhash32(hs)"))

  /** 64-lane SimHash — the scale form of [[withSimhash]]: with 20-bit
    * hamming-search blocks, expected equal-block bucket size is N/2^20
    * (vs N/2^11 for the 32-bit form), keeping the candidate self-join
    * linear well past 100M docs. Element hashes are 15-nibble md5 prefixes
    * (60 bits), so lanes 60-63 are structurally zero — every pair agrees on
    * them, which leaves the radius-2 pigeonhole argument over the 60 live
    * bits intact (2 differing bits can spoil at most 2 of the 3 blocks).
    */
  def withSimhash64(df: DataFrame): DataFrame =
    ensureFns(df).withColumn("hs", expr("graft_hash_array(words, ':sim', 15)"))
      .withColumn("simhash64", expr("graft_simhash64(hs)"))

  /** Exact n-gram Jaccard similarity between two shingle-array columns
    * (set semantics via array_distinct).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(array_distinct(a), array_distinct(b)))
    val union = size(array_distinct(a)) + size(array_distinct(b)) - inter
    round6(inter.cast("double") / union.cast("double"))
  }

  /** 6-decimal round by plain double math ([[graft.functions.GraftRound]]),
    * value-compatible with `round(c, 6)` away from the half-boundary knife
    * edge (where Spark's BigDecimal path and the DuckDB oracle's own
    * double-math round already disagree with each other). Used on every
    * similarity-score column because Spark's `round` costs a BigDecimal
    * conversion PER VALUE — on the pairwise hot path the SaltProbe anatomy
    * measured it at more than the 64-dim dot product itself.
    */
  def round6(c: Column): Column = roundAt(c, 6)

  /** Driver-side SCALAR twin of `graft_round` at scale 6 — for the rare
    * report scalar computed on the driver from already-collected values
    * (ann_index_append's cos_drift). Same two-op half-away-from-zero
    * algorithm as [[graft.functions.GraftRound]], so the value matches
    * what the column form and the DuckDB oracle's `round(x, 6)` produce.
    */
  def round6d(x: Double): Double = {
    val y = x * 1e6
    Math.copySign(Math.floor(Math.abs(y) + 0.5d), y) / 1e6 + 0.0d
  }

  /** [[round6]] at any literal scale (embed_quantize rounds at 9). The
    * session must have the graft functions registered by evaluation time —
    * every LlmOps entry point and [[withWords]] ensure that.
    */
  def roundAt(c: Column, scale: Int): Column =
    call_function("graft_round", c, lit(scale))

  /** Exact dot product of two float-array columns, accumulated in double in
    * array order (portable across engines). Uses the native codegen'd
    * [[graft.functions.DotProduct]] expression (registered by
    * GraftExtensions) — bit-identical to the HOF formulation
    * `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0d, +)` but
    * evaluated inside whole-stage codegen instead of the interpreter.
    */
  def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** Cosine similarity rounded to 6 places (buffers engine-side summation
    * order differences in the last ulps).
    */
  def cosine(a: String, b: String): Column =
    round6(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))))

  /** Brute-force top-k cosine neighbors of one query vector (broadcast the
    * single-row query; the corpus is scanned once, never shuffled). The
    * IVF-style scale path buckets by a cluster label first — see
    * embeddingNearDups.
    */
  def cosineTopK(embeddings: DataFrame, query: DataFrame, k: Int): DataFrame =
    ensureFns(embeddings).crossJoin(broadcast(query.select(col("embedding").as("q"))))
      .select(col("vec_id"), col("label"), cosine("embedding", "q").as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  /** int8-quantized two-stage ANN: rank by the cosine of the CODE vector,
    * rescore only the survivors in float. The codes are embed_quantize's
    * symmetric per-vector int8 (c_i = round(v_i/scale), scale = max|v|/127)
    * — and since cosine is scale-invariant, the per-vector scale CANCELS,
    * so the approximate score needs no dequantization at all. The top
    * `k*overfetch` by approximate score (ties → vec_id) fetch their float
    * vectors back by id and re-rank exactly.
    *
    * 100 TB: this is the memory-bandwidth scale path for brute-force
    * search — production materializes the codes as a narrow column
    * (64 B/vector instead of 256 B at dim 64/float32, a 4× scan-bandwidth
    * cut; here the codes compute inline so the operator stays
    * self-contained), the candidate stage carries only (vec_id, approx)
    * through a TakeOrdered (no shuffle of the corpus), and the rescore
    * touches k·overfetch rows via a BROADCAST of the tiny candidate list —
    * the corpus is never range- or hash-exchanged. int8 keeps relative
    * dot-product error ~1e-2, so modest overfetch recovers exact top-k
    * (spec pins equality with [[cosineTopK]] on the test corpus).
    *
    * The scale array rides as array_repeat — a HOF ARRAY ARGUMENT, evaluated
    * once per row — so no lambda references an outer column (the
    * CollapseProject O(d²) inlining trap the verify-skill notes).
    */
  def quantizedSearch(embeddings: DataFrame, query: DataFrame, k: Int,
                      overfetch: Int = 4): DataFrame =
    quantizedSearchCodes(quantizeCodes(embeddings), embeddings, query, k, overfetch)

  /** The quantized index build: (vec_id, codes) with embed_quantize's
    * symmetric per-vector int8 (c_i = round(v_i/scale), scale = max|v|/127,
    * stored as tinyint so parquet dictionary/bit-packing keeps the column
    * near 1 B/dim on disk — the 4× scan-bandwidth cut vs float32).
    * Production materializes this once per corpus and serves every query
    * from it; [[quantizedSearch]] composes it inline for self-contained
    * use. The scale rides as array_repeat — a HOF ARRAY ARGUMENT,
    * evaluated once per row — so no lambda references an outer column (the
    * CollapseProject O(d²) inlining trap the verify-skill notes).
    */
  def quantizeCodes(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("sarr", expr(
        """array_repeat(greatest(array_max(transform(embedding,
             x -> abs(cast(x as double)))) / 127.0, 1e-30d), size(embedding))"""))
      .select(col("vec_id"), expr(
        "zip_with(embedding, sarr, (v, s) -> cast(floor(cast(v as double) / s + 0.5d) as tinyint))")
        .as("codes"))

  /** Search stage over a pre-built [[quantizeCodes]] table: rank every
    * code vector by its cosine against the float query (int8 promotes
    * exactly into the double arithmetic; the per-vector scale cancels in
    * cosine so dequantization never happens), TakeOrdered the top
    * `k*overfetch` ids, then fetch ONLY those rows from the float corpus —
    * via a broadcast of the tiny candidate list — for the exact rescore.
    * Neither the codes table nor the corpus is ever hash- or
    * range-exchanged.
    */
  def quantizedSearchCodes(codes: DataFrame, corpus: DataFrame,
                           query: DataFrame, k: Int,
                           overfetch: Int = 4): DataFrame = {
    val q = broadcast(query.select(col("embedding").as("q")))
    // the whole approx scan runs on the codegen'd graft_dot kernel
    // (tinyint codes promote exactly into its double accumulator) — the
    // interpreted aggregate/zip_with formulation this replaces measured
    // 4-5x SLOWER than the float brute scan at 10M vectors, inverting the
    // operator's entire premise; with the native kernel the scan does
    // 1/4 the bytes of the float path at the same per-element cost
    val cand = ensureFns(codes).crossJoin(q)
      .select(col("vec_id"),
        (expr("graft_dot(codes, q)") /
          (sqrt(expr("graft_dot(q, q)")) *
            greatest(sqrt(expr("graft_dot(codes, codes)")), lit(1e-30))))
          .as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(k * overfetch)
    ensureFns(corpus).join(broadcast(cand.select(col("vec_id"))), "vec_id")
      .crossJoin(q)
      .select(col("vec_id"), col("label"), cosine("embedding", "q").as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Bound on the pairwise-cell size for the embedding-similarity family
    * ([[embeddingNearDups]], [[knnJoin]]). The coarse bucket (`label`) comes
    * from the DATA, so at 100× corpus scale with a fixed label vocabulary
    * each cell grows 100× and in-cell pairwise work grows 10,000× — the cell
    * itself must be bounded, not just the pairing restricted to cells.
    * Cells above this are sub-bucketed by hyperplane-LSH sign bits
    * (graft_lsh_sig_any low bits, depth per cell so the expected sub-cell is
    * ≤ maxCell/2 — similar vectors agree on plane signs, so near-neighbors
    * stay co-bucketed); any (label, sub) bucket STILL above maxCell is
    * degenerate (near-identical vectors share every sign bit, no depth
    * splits them) and is excluded from pairing and COUNTED into the
    * `capped_cells` output column — the same cap-and-count contract as
    * dedupCandidates' `maxBucket`/`capped_lsh_buckets`. Pair enumeration
    * inside a degenerate bucket is quadratic in its *output* (a cell of n
    * identical vectors has n²/2 qualifying pairs), so no pair-form operator
    * can include it sub-quadratically; cluster-form dedup ([[dedupCorpus]])
    * is the scale-safe tool there. Net bound: pairwise work ≤ N·maxCell
    * (linear in corpus at fixed maxCell) instead of Σ cell².
    */
  val DefaultMaxCell = 4096

  /** Attach the bounded pairwise-cell key: `cell_n` = label-cell size,
    * `sub` = LSH sub-bucket (0 when the cell is within bound), `bucket_n` =
    * (label, sub) bucket size. Callers pair on (label, sub) and must drop
    * buckets with `bucket_n > maxCell` (see [[DefaultMaxCell]]). Two window
    * counts, both hash-partitioned on (a prefix of) the same key the
    * pairwise join shuffles on.
    *
    * The split key is graft_lsh_sig_any (LshOps.sigOfAny), whose planes
    * span exactly the input's dimensions — any embedding width splits
    * (bit-identical to graft_lsh_sig at the testdata's 64 dims). Only a
    * truly degenerate cell (near-identical vectors co-sign every plane)
    * cannot split, and that is capped-and-counted, not paired.
    */
  private[graft] def withPairCells(e: DataFrame, maxCell: Int): DataFrame =
    withPairCellsAndBuckets(e, maxCell)._1

  /** The celled corpus plus the (label, sub) bucket-count table it was
    * built from — callers needing the capped-bucket accounting derive it
    * from the AGGREGATE table ([[cappedCellsFromBuckets]]), not by
    * re-joining the corpus (the r9 form re-scanned and re-joined the
    * whole corpus just to count its oversize buckets).
    */
  private[graft] def withPairCellsAndBuckets(e: DataFrame, maxCell: Int)
      : (DataFrame, DataFrame) = {
    val half = math.max(1, maxCell / 2)
    // agg + join, NOT a window: label cardinality is data-sized and may be
    // tiny, and a corpus window partitioned on label alone processes one
    // label's whole sub-corpus in ONE task at 100 TB (the pack_sequences
    // lesson, pinned there by PlanAuditSpec). The per-label/per-bucket
    // count tables are one row per (label[, sub]) — corpus-small — and the
    // joins shuffle on the same keys the pairwise join partitions by.
    val cellN = e.groupBy("label").agg(count(lit(1)).as("cell_n"))
    val sub = e.join(cellN, "label")
      .withColumn("sub",
        when(col("cell_n") <= maxCell, lit(0L))
          .otherwise(expr(
            s"graft_lsh_sig_any(embedding) & (shiftleft(1L, cast(ceil(log2(cell_n / ${half}.0D)) as int)) - 1L)")))
    val bucketN = sub.groupBy("label", "sub").agg(count(lit(1)).as("bucket_n"))
    (sub.join(bucketN, Seq("label", "sub")), bucketN)
  }

  /** One-row frame with `capped_cells` = number of (label, sub) buckets the
    * maxCell cap excludes, computed from the bucket-count AGGREGATE table
    * (one row per bucket — rows are unique per (label, sub), so a plain
    * count IS the distinct count). A global scalar aggregate — exactly one
    * row by construction, so broadcasting it onto the result is
    * contractually safe (no byte gate needed). Cross-joined onto the
    * operator output so the cap is VISIBLE in the result, lazily (no
    * extra driver job).
    */
  private def cappedCellsFromBuckets(bucketN: DataFrame, maxCell: Int): DataFrame =
    bucketN.filter(col("bucket_n") > maxCell)
      .agg(count(lit(1)).as("capped_cells"))

  /** Target per-salt slice of a pairwise bucket (rows). The maxCell bound
    * makes in-cell pair work *finite*, but the (label, sub) equi-join
    * still computes one bucket's whole pairwise block in ONE task — and
    * AQE's skew-join cannot rescue it, because AQE judges skew by shuffle
    * INPUT bytes (a 4096-row bucket is ~1 MB in) while the skew here is in
    * the join OUTPUT (4096² ≈ 16M pairs out). With few distinct buckets
    * (sf1: 10 labels, every cell under maxCell → 10 join keys) that strands
    * all pair work on ≤10 of the cluster's cores. So each bucket is salted
    * into ceil(bucket_n / chunk) slices: the probe side keys each row into
    * one slice (`pmod(hash(vec_id), nSalt)`), the build side replicates
    * each row into every slice (`explode(sequence(...))`). Exact same pair
    * set; per-task pair work ≤ chunk·maxCell (with chunk=512, maxCell=4096:
    * ≤2M dots ≈ a right-sized task), and the replication factor is bounded
    * by maxCell/chunk = 8 — a constant, so the salted build-side shuffle
    * stays O(corpus) at any scale. nSalt derives from `bucket_n`, already
    * joined onto every row, so both sides agree on the slice count with no
    * extra pass.
    */
  val PairSaltChunk = 512

  /** The (probe, build) pair for the bounded pairwise self-join: `x` keyed
    * into its bucket's salt slice, `y` replicated across the slices. Join
    * on (label, sub, salt) — see [[PairSaltChunk]]. `saltChunk ≥ maxCell`
    * disables salting (nSalt = 1 everywhere): the A/B-probe/parity form.
    */
  private[graft] def withPairSalt(kept: DataFrame, saltChunk: Int): (DataFrame, DataFrame) = {
    val nSalt = greatest(lit(1),
      ceil(col("bucket_n") / lit(saltChunk.toDouble)).cast("int"))
    val x = kept.withColumn("salt", pmod(hash(col("vec_id")), nSalt))
    val y = kept.withColumn("salt", explode(sequence(lit(0), nSalt - lit(1))))
    // Repartition the STREAMED (replicated) side on the full pair key,
    // explicitly. Without this the pair join's parallelism is whatever
    // the cell-count lineage left behind — hashpartitioning(label) with
    // data-few labels, i.e. a handful of active tasks even under a
    // broadcast join (the streamed side's partitioning IS the
    // parallelism; the salt alone only changes the lookup key). With it,
    // tasks spread over every (label, sub, salt) slice, and the explicit
    // partition count keeps AQE from byte-coalescing the compute-heavy
    // slices (the skew here is in join OUTPUT, invisible to input-byte
    // heuristics). The PROBE side gets no explicit exchange (r10): in the
    // broadcast regime Spark builds on x (the smaller, un-replicated
    // side) and a pre-broadcast repartition is pure waste — the collect
    // gathers every partition regardless; in the sort-merge regime
    // ENSURE_REQUIREMENTS inserts exactly the exchange the join needs,
    // pinned to y's user-specified count. One corpus exchange saved,
    // identical pair set either way (PlanAuditSpec pins the count).
    val n = kept.sparkSession.sessionState.conf.numShufflePartitions
    (x, y.repartition(n, col("label"), col("sub"), col("salt")))
  }

  /** Embedding near-duplicate pairs *within a coarse bucket* (the cluster
    * label — the IVF posture: compare only within a cell, shuffle on the
    * bucket key, never all-pairs), with the per-cell quadratic term bounded
    * by [[DefaultMaxCell]] sub-bucketing — `capped_cells` in the output
    * counts excluded degenerate buckets (0 = exact result). Each bucket's
    * pairwise block is salted across ceil(bucket_n/[[PairSaltChunk]])
    * tasks (exact — see [[withPairSalt]]), so in-cell pair work
    * parallelizes past the distinct-bucket count. Norms are precomputed
    * per vector on each join side, so each pair costs one dot product
    * instead of three (no persist — one extra norm pass per side beats
    * leaving cached state behind).
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double,
                        maxCell: Int = DefaultMaxCell,
                        saltChunk: Int = PairSaltChunk): DataFrame = {
    val (cells, bucketN) = withPairCellsAndBuckets(
      ensureFns(embeddings).select(col("vec_id"), col("label"), col("embedding")), maxCell)
    val e = cells.withColumn("nrm", sqrt(dot("embedding", "embedding")))
    val kept = e.filter(col("bucket_n") <= maxCell)
    val (xs, ys) = withPairSalt(kept, saltChunk)
    xs.as("x").join(ys.as("y"),
        col("x.label") === col("y.label") && col("x.sub") === col("y.sub") &&
          col("x.salt") === col("y.salt") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round6(dot("x.embedding", "y.embedding") / (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
      .crossJoin(broadcast(cappedCellsFromBuckets(bucketN, maxCell)))
  }

  /** k-NN join: the top-k cosine neighbors of EVERY vector, restricted to
    * its coarse bucket (cluster label) — the batch form of similarity
    * search a dedup/retrieval pipeline runs corpus-wide, vs the single-
    * query [[cosineTopK]]. One shuffle on (label, sub, salt) to co-locate
    * each bounded, salted cell slice ([[withPairSalt]]),
    * pairwise dots inside the cell only (never all-pairs across cells),
    * then the `graft_topk` bounded-heap aggregate to keep k (see below —
    * NOT a window). At 100 TB the label plays the IVF cell id, and the cell
    * itself is bounded by [[DefaultMaxCell]] LSH sub-bucketing (`label`
    * alone is data-sized — see DefaultMaxCell's doc): pairwise work is
    * ≤ N·maxCell, and the top-k exchange carries #vectors×k rows.
    * `capped_cells` in the output counts excluded degenerate buckets
    * (0 = every vector was ranked; vectors in capped buckets get no rows).
    *
    * Zero-norm vectors (cosine undefined → null) are excluded from BOTH
    * sides up front: they can neither rank nor be ranked against.
    */
  def knnJoin(embeddings: DataFrame, k: Int,
              maxCell: Int = DefaultMaxCell,
              saltChunk: Int = PairSaltChunk): DataFrame = {
    // norms are attached per SIDE (each side recomputes its own — one
    // 64-mult pass per vector, trivial next to the pairwise stage); no
    // persist, so the operator leaves no cached state behind
    val (e, bucketN) = withPairCellsAndBuckets(
      ensureFns(embeddings).select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("nrm", sqrt(dot("embedding", "embedding")))
        .filter(col("nrm") > 0), maxCell)
    val kept = e.filter(col("bucket_n") <= maxCell)
    val (xs, ys) = withPairSalt(kept, saltChunk)
    val pairs = xs.as("x").join(ys.as("y"),
        col("x.label") === col("y.label") && col("x.sub") === col("y.sub") &&
          col("x.salt") === col("y.salt") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round6(dot("x.embedding", "y.embedding") / (col("x.nrm") * col("y.nrm"))).as("cos"))
    // top-k via the graft_topk bounded-heap aggregate, NOT a window: the
    // window form shuffles and sorts the FULL pairwise set on `a` (at 1M
    // vectors / 1000-cells that is ~10^9 rows through one exchange). The
    // aggregate evicts to k entries inside the map task (partial agg), so
    // the shuffle carries #vectors x k rows — same output as the window
    // form on defined cosines (heap order (cos desc, b asc) = the window's
    // ORDER BY; spec-pinned).
    pairs.groupBy(col("a"))
      .agg(expr(s"graft_topk(cos, b, $k)").as("nn"))
      .select(col("a"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("a"), col("nn.id").as("b"), col("nn.score").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
      .crossJoin(broadcast(cappedCellsFromBuckets(bucketN, maxCell)))
  }

  /** Winnowing document fingerprints (the MOSS scheme, Schleimer et al.
    * SIGMOD'03): hash every char k-gram, then keep the minimum hash of each
    * sliding window of `w` consecutive gram-hashes; the distinct window
    * minima are the document's fingerprint set. Guarantees any shared
    * substring of length ≥ k + w - 1 yields a shared fingerprint.
    * Fixed here: k=5 (char 5-grams), w=4.
    *
    * Shapes: both stages are native codegen'd expressions. graft_gram_hash
    * fuses gram extraction + hashing into one pass over the utf-8 bytes
    * (no gram array materialized); graft_sliding_min is the window-min
    * loop. The HOF formulation they replace bit-for-bit —
    * `transform(sequence(1, length(text)-4), i -> substr(text, i, 5))` →
    * graft_hash_array → `zip_with(zip_with(slice…), zip_with(slice…),
    * least)` — is spec-tested for equivalence; it evaluated the gram
    * transform and window mins interpreted, which dominated fingerprinting
    * at corpus scale. Narrow per-row map, no shuffle.
    */
  def withWinnowFingerprints(df: DataFrame): DataFrame =
    ensureFns(spreadSmall(df))
      .withColumn("hs", expr("graft_gram_hash(text, 5, ':wn', 15)"))
      .withColumn("wins", expr("graft_sliding_min(hs, 4)"))
      .withColumn("fps", array_distinct(col("wins")))

  /** Connected components over candidate duplicate pairs: every doc gets
    * `cluster_id` = the smallest doc id reachable through pair edges (its
    * own id if unpaired). Label propagation to a fixpoint — each round is
    * one join + min-aggregate (the standard large-scale CC shape; rounds ≈
    * log of the largest cluster diameter, checked against a hard cap).
    * Downstream dedup keeps one row per cluster_id.
    */
  /** Driver heap cost model for the union-find gate: a collected edge is
    * ~16 payload bytes in the edge array, up to two boxed entries in the
    * union-find parent map (~64 bytes each: boxed key + value + HashMap
    * node), and transient Row overhead during collect — budgeted at 160
    * bytes/edge. The gate is therefore a BYTE budget, not a row count: a
    * 512 MB budget admits ~3.4M edges regardless of how wide the caller's
    * id space is.
    */
  val BytesPerDriverEdge = 160L

  /** True iff `nEdges` candidate pairs fit the driver-side union-find
    * budget under the [[BytesPerDriverEdge]] model.
    */
  def fitsDriverGate(nEdges: Long, budgetBytes: Long): Boolean =
    nEdges <= budgetBytes / BytesPerDriverEdge

  def duplicateClusters(ids: DataFrame, idCol: String, pairs: DataFrame,
                        maxIters: Int = 20,
                        driverEdgeBudgetBytes: Long = 512L << 20): DataFrame = {
    // Candidate pairs are orders of magnitude smaller than the corpus by
    // construction (they're the near-duplicates). Below the gate, exact
    // union-find on the driver + a broadcast label join beats a multi-round
    // distributed fixpoint (each round is several scheduled jobs); above
    // it, fall through to the label-propagation loop.
    if (fitsDriverGate(pairs.count(), driverEdgeBudgetBytes)) {
      val edges = pairs.select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val labels = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(x => (x, find(x)))
      val spark = ids.sparkSession
      import spark.implicits._
      val labDf = labels.toSeq.toDF(idCol, "cluster_id")
      return ids.select(col(idCol)).distinct()
        .join(broadcast(labDf), Seq(idCol), "left_outer")
        .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    }
    distributedClusters(ids, idCol, pairs, maxIters)
  }

  /** The dedup end product with coverage accounting: one canonical (min-id)
    * doc per duplicate cluster, each row carrying `capped_lsh_buckets` —
    * the number of LSH buckets the `maxBucket` cap excluded from candidate
    * generation. Degenerate duplication (thousands of identical boilerplate
    * docs) can therefore never SILENTLY shrink candidate coverage: the gap
    * is visible in the corpus-level output itself. Docs must carry a `text`
    * column; all other columns pass through.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, maxBucket: Int = 1000): DataFrame = {
    val sh = shingleTable(docs, idCol)
    val (pairs, capped) = candidatesWithCoverage(sh, idCol, maxBucket = maxBucket)
    sh.unpersist() // pairs are materialized; the shingle cache is done
    val clusters = duplicateClusters(docs.select(col(idCol)), idCol, pairs)
    pairs.unpersist() // clusters no longer reference them (collected/looped)
    docs.join(clusters, idCol)
      .filter(col(idCol) === col("cluster_id"))
      .drop("cluster_id")
      .withColumn("capped_lsh_buckets", lit(capped))
  }

  /** Surviving corpus with the BEST member of each near-dup cluster kept:
    * keeper = longest text, ties to the smallest id — the keeper rule
    * production pipelines actually want, because near-dup clusters
    * typically hold truncated or boilerplate-wrapped variants of one
    * document, and [[dedupCorpus]]'s keep-smallest-id throws away the
    * complete copy whenever it arrived later. Same LSH + connected-
    * components machinery; only the keeper election differs — one
    * max(struct) per cluster (partial-agg friendly), then a semi-join
    * back. Cost is one extra exchange on cluster_id over [[dedupCorpus]].
    */
  def dedupCorpusBest(docs: DataFrame, idCol: String,
                      maxBucket: Int = 1000): DataFrame = {
    val sh = shingleTable(docs, idCol)
    val (pairs, capped) = candidatesWithCoverage(sh, idCol, maxBucket = maxBucket)
    sh.unpersist()
    val clusters = duplicateClusters(docs.select(col(idCol)), idCol, pairs)
    pairs.unpersist()
    val keepers = docs.select(col(idCol), length(col("text")).as("len"))
      .join(clusters, idCol)
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("len"), (-col(idCol)).as("nid"))).as("m"))
      .select((-col("m.nid")).as(idCol))
    docs.join(keepers, Seq(idCol), "left_semi")
      .withColumn("capped_lsh_buckets", lit(capped))
  }

  /** Distributed fallback: label propagation to a fixpoint. */
  def distributedClusters(ids: DataFrame, idCol: String, pairs: DataFrame,
                          maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("a").as("x"), col("b").as("y"))
      .unionByName(pairs.select(col("b").as("x"), col("a").as("y")))
      .persist()
    // only docs that appear in a pair can change labels — propagate over
    // that (typically small) frontier and re-attach the untouched majority
    // at the end. Convergence check: labels only ever decrease (least of
    // own and neighbor minimum), so the label sum strictly decreases until
    // the fixpoint — one cheap agg per round instead of a join-diff.
    var lab = edges.select(col("x").as(idCol)).distinct()
      .withColumn("cluster_id", col(idCol)).persist()
    def labSum(): Long =
      lab.agg(sum(col("cluster_id"))).collect().head.getLong(0)
    var prev = labSum()
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val viaNeighbor = edges
        .join(lab.select(col(idCol).as("y"), col("cluster_id").as("nl")), "y")
        .groupBy(col("x").as(idCol)).agg(min(col("nl")).as("nl"))
      val next = lab.join(viaNeighbor, Seq(idCol), "left_outer")
        .select(col(idCol),
          least(col("cluster_id"), coalesce(col("nl"), col("cluster_id"))).as("cluster_id"))
        .persist()
      val old = lab
      lab = next
      val cur = labSum()  // materializes next BEFORE dropping its parent cache
      old.unpersist()
      converged = cur == prev
      prev = cur
      iters += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    ids.select(col(idCol)).distinct()
      .join(lab, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** Within-block hamming pairs via GROUPING on the block key (`blk`) —
    * the engine of the dedup_simhash_hamming64 scale path: collect each
    * block's (doc_id, hash) members sorted by id, explode the a<b pairs
    * within the hamming radius inline, then distinct (a pair can agree on
    * several blocks). One scan, one shuffle, no cached state, no join.
    * The right form when buckets are SMALL (e.g. 20-bit blocks →
    * ~N/2^20 members); for big buckets a streaming self-join on `blk`
    * wins instead — the grouped form materializes each bucket's quadratic
    * pair array (docs/NOTES.md round-7, measured at sf0.1).
    */
  def hammingPairsByBlock(blocked: DataFrame, hashCol: String,
                          radius: Int,
                          maxBucket: Int = DefaultMaxCell): DataFrame = {
    val (pairs, capped) = hammingPairsWithCoverage(blocked, hashCol, radius, maxBucket)
    // the capped count is a global scalar aggregate — exactly one row by
    // construction, so broadcasting it onto the result is contractually
    // safe (the capped_cells attach pattern; no byte gate needed). The
    // block aggregation's exchange is shared between the pair branch and
    // the count branch (same child → ReusedExchange), so the attach costs
    // one cheap re-agg over the reused shuffle, not a second corpus pass.
    pairs.crossJoin(broadcast(capped))
  }

  /** The (pairs, 1-row capped-block count) decomposition of
    * [[hammingPairsByBlock]] — for callers like [[multimodalClusters]]
    * that consume only the edges and must not carry the scalar attach's
    * nested-loop join into their own plan.
    */
  private[graft] def hammingPairsWithCoverage(
      blocked: DataFrame, hashCol: String, radius: Int,
      maxBucket: Int = DefaultMaxCell): (DataFrame, DataFrame) = {
    val grouped = blocked.groupBy(col("blk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col(hashCol).as("h")))).as("xs"))
    // oversized block buckets DROP whole — the hot-bucket bound every
    // other pairing family already carries (minhash maxBucket,
    // embedding DefaultMaxCell, video maxPostings). Uniform-hash theory
    // says buckets are ~N/2^bits, but DEGENERATE fingerprint classes
    // (constant-envelope audio, flat images, periodic text — BlockProbe
    // measured a 21-bit audio block bucket holding 3.5% of a synthetic
    // corpus) collapse onto few values, and one such bucket's grouped
    // pair generation is quadratic. A pair is only lost if ALL
    // radius+1 of its blocks are hot — the same residual-miss contract
    // the video stop-frame cut documents. Dropped buckets are COUNTED
    // into the 1-row `capped_blocks` frame (0 = exact result), never
    // silently (r10 verdict item 5 / ADVICE).
    val pairs = grouped
      .filter(size(col("xs")) > 1 && size(col("xs")) <= maxBucket)
      .select(explode(expr(
        s"""filter(
              flatten(transform(xs, (x, i) ->
                transform(slice(xs, i + 2, size(xs) - i - 1),
                          y -> struct(x.doc_id AS a, y.doc_id AS b,
                                      bit_count(x.h ^ y.h) AS hamming)))),
              p -> p.hamming <= $radius)""")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
      .distinct()
    val capped = grouped.filter(size(col("xs")) > maxBucket)
      .agg(count(lit(1)).as("capped_blocks"))
    (pairs, capped)
  }

  /** SimHash radius-2 near-dup pairs, 32-bit small-corpus form: 3 pigeonhole
    * blocks of 11/11/10 bits (radius+1 blocks, so any pair within hamming
    * distance 2 agrees on ≥1 whole block), STREAMING self-join on the block
    * key. Buckets are ~N/2^11 — big — so the codegen'd join beats
    * materializing each bucket's pair array (measured within one session at
    * sf0.1: self-join 1.33 s, grouped 1.51 s). Output (a, b, hamming).
    */
  def simhashNearDups32(docs: DataFrame): DataFrame = {
    val sh = withSimhash(withWords(ensureFns(docs)))
      .select(col("doc_id"), col("simhash"))
    // blocks of 11/11/10 bits: block b = bits [b*11, min((b+1)*11, 32))
    val blocked = sh.select(col("doc_id"), col("simhash"),
      explode(expr(
        """transform(sequence(0, 2), b -> concat(cast(b as string), ':',
             cast((simhash div shiftleft(1L, b * 11)) % shiftleft(1L, if(b = 2, 10, 11)) as string)))"""))
        .as("blk"))
    blocked.as("x").join(blocked.as("y"),
        col("x.blk") === col("y.blk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .filter(col("hamming") <= 2)
      .distinct()
  }

  /** SimHash radius-2 near-dup pairs, 64-lane scale form: same plan shape
    * (block equi-join, never all-pairs) but 20-bit blocks over the
    * 60-effective-bit simhash64, so expected bucket size is N/2^20 — small
    * — and the GROUPED pair generation ([[hammingPairsByBlock]]: one scan,
    * one shuffle, no join) wins. Lanes 60-63 are structurally zero
    * (15-nibble element hashes), so any radius-2 pair still agrees on ≥1
    * whole block; the mask pins Spark and DuckDB to the same non-negative
    * `div` domain. Output (a, b, hamming).
    */
  def simhashNearDups64(docs: DataFrame,
                        maxBucket: Int = DefaultMaxCell): DataFrame = {
    val sh = withSimhash64(withWords(ensureFns(docs)))
      .select(col("doc_id"), col("simhash64"))
    val blocked = sh.select(col("doc_id"), col("simhash64"),
      explode(expr(
        """transform(sequence(0, 2), b -> concat(cast(b as string), ':',
             cast(((simhash64 & 1152921504606846975L) div shiftleft(1L, b * 20)) % shiftleft(1L, 20) as string)))"""))
        .as("blk"))
    hammingPairsByBlock(blocked, "simhash64", radius = 2, maxBucket)
  }

  /** Perceptual-hash near-duplicate IMAGE pairs — dedup keyed on the pixel
    * payload itself, not text shingles or provided embeddings. Input is a
    * table of decoded pixel grids (`gridCol`: array<float|double>, e.g. the
    * 8×8 thumbnail the multimodal resize pass pools — see
    * MiscQueries "multimodal_resize"); each grid gets its 63-bit dHash
    * (`graft_dhash`, codegen'd), and pairing runs the proven hamming
    * pigeonhole: 3 blocks of 21 bits, so any pair within hamming radius 2
    * agrees on ≥1 whole block, GROUPED pair generation within blocks
    * ([[hammingPairsByBlock]] — one scan, one shuffle, no join, expected
    * bucket N/2^21). Output (a, b, hamming), a < b.
    *
    * 100 TB: hash is a narrow per-row map over grids (the heavy decode ran
    * upstream, per-partition); the only shuffle is the block key. Identical
    * images collide at hamming 0; re-encodes/small edits land within the
    * radius — the standard public dHash behavior.
    */
  def imagePhashNearDups(grids: DataFrame, idCol: String = "doc_id",
                         gridCol: String = "embedding",
                         maxBucket: Int = DefaultMaxCell): DataFrame =
    hammingPairsByBlock(imagePhashBlocked(grids, idCol, gridCol),
      "phash", radius = 2, maxBucket)

  private[graft] def imagePhashBlocked(grids: DataFrame, idCol: String,
                                       gridCol: String): DataFrame = {
    val hashed = ensureFns(grids)
      .select(col(idCol).as("doc_id"), expr(s"graft_dhash($gridCol)").as("phash"))
    // 21-bit blocks over bits 0-62; bit 63 is structurally zero (63
    // comparisons), so the div/mod arithmetic stays non-negative
    hashed.select(col("doc_id"), col("phash"),
      explode(expr(
        """transform(sequence(0, 2), b -> concat(cast(b as string), ':',
             cast((phash div shiftleft(1L, b * 21)) % shiftleft(1L, 21) as string)))"""))
        .as("blk"))
  }

  /** Acoustic-fingerprint near-duplicate AUDIO pairs — the third
    * modality-native dedup axis (text shingles → [[minhashCandidates]],
    * pixels → [[imagePhashNearDups]], samples → here). The decode stub
    * models a track as its code-point sequence; `graft_frame_energy`
    * normalizes the time axis into 64 equal windows and sums each window's
    * samples (one codegen'd pass — see [[graft.functions.TextOps.frameEnergies]]),
    * and `graft_dhash` turns the energy ENVELOPE into 63 sign-of-adjacent-
    * delta bits — the public Chromaprint/Shazam-family shape: robust to
    * what fingerprints should ignore (a sample-order glitch inside one
    * window leaves every energy unchanged → hamming 0; one corrupted
    * sample perturbs one window → ≤ 2 bits) while exact content match is
    * hamming 0 by construction. Pairing is the proven 3×21-bit hamming
    * pigeonhole ([[hammingPairsByBlock]], radius 2): one narrow map, one
    * shuffle on the block key, no join. Output (a, b, hamming), a < b.
    *
    * 100 TB: per-track work is a single pass over the payload; only
    * (id, fingerprint, block) rows shuffle. Time-normalized windows keep
    * all 64 frames live for any track ≥ 64 samples, so block values stay
    * spread (tracks SHORTER than 64 samples share zero tail frames and
    * crowd the high block — real audio never is).
    */
  def audioFingerprintNearDups(tracks: DataFrame, idCol: String = "doc_id",
                               payloadCol: String = "text",
                               maxBucket: Int = DefaultMaxCell): DataFrame =
    hammingPairsByBlock(audioFingerprintBlocked(tracks, idCol, payloadCol),
      "afp", radius = 2, maxBucket)

  private[graft] def audioFingerprintBlocked(tracks: DataFrame, idCol: String,
                                             payloadCol: String): DataFrame = {
    val hashed = ensureFns(tracks)
      .select(col(idCol).as("doc_id"),
        expr(s"graft_dhash(graft_frame_energy($payloadCol, 64))").as("afp"))
    hashed.select(col("doc_id"), col("afp"),
      explode(expr(
        """transform(sequence(0, 2), b -> concat(cast(b as string), ':',
             cast((afp div shiftleft(1L, b * 21)) % shiftleft(1L, 21) as string)))"""))
        .as("blk"))
  }

  /** Shared-frame near-duplicate VIDEO pairs — the fourth modality axis:
    * a clip is its sampled-frame fingerprint SET (here each fixed-width
    * payload window's md5, the decode-stub analog of a per-frame
    * perceptual hash), and two clips are near-dups when the Jaccard
    * overlap of their frame sets clears `minJaccard` — the standard
    * frame-inverted-index video dedup (a re-encode shares every frame, a
    * trim shares the surviving prefix/suffix).
    *
    * Plan shape: the signature (`array_distinct` of frame hashes) and its
    * size compute NARROWLY per row before the explode, so no per-doc
    * count pass and no join-back of sizes — each posting carries
    * (id, n_frames) into the single frame-hash shuffle, pairs generate
    * GROUPED inside each posting list (the [[hammingPairsByBlock]]
    * discipline: one scan, no self-join), and the only other exchange is
    * the (a, b) pair aggregation that counts shared frames. Posting lists
    * longer than `maxPostings` are DROPPED whole — the classic
    * stop-frame cut (a frame shared by thousands of clips — test
    * patterns, black frames — carries no pairing signal but would emit
    * O(n²) pairs); at 100 TB this bounds the in-bucket quadratic term
    * exactly like DefaultMaxCell bounds the embedding cells. Output
    * (a, b, shared, na, nb, jac), a < b, jac rounded to 6 (both engines
    * round the same IEEE quotient).
    */
  def videoFrameNearDups(clips: DataFrame, idCol: String = "doc_id",
                         payloadCol: String = "text", frameChars: Int = 64,
                         minJaccard: Double = 0.5,
                         maxPostings: Int = 1024): DataFrame = {
    val (pairs, capped) =
      videoFramePairsWithCoverage(clips, idCol, payloadCol, frameChars,
        minJaccard, maxPostings)
    // 1-row scalar attach, same contract as hammingPairsByBlock: the
    // stop-frame cut is VISIBLE in the result (capped_postings = number
    // of dropped posting lists; 0 = exact), never silent (r10 verdict)
    pairs.crossJoin(broadcast(capped))
  }

  /** The (pairs, 1-row capped-postings count) decomposition of
    * [[videoFrameNearDups]] — edge-only callers ([[multimodalClusters]])
    * skip the scalar attach.
    */
  private[graft] def videoFramePairsWithCoverage(
      clips: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "text", frameChars: Int = 64,
      minJaccard: Double = 0.5,
      maxPostings: Int = 1024): (DataFrame, DataFrame) = {
    val postings = clips
      .filter(length(col(payloadCol)) > 0)
      .select(col(idCol).as("doc_id"),
        array_distinct(expr(
          s"""transform(sequence(0, cast(ceil(length($payloadCol) / $frameChars.0d) as int) - 1),
                f -> md5(substr($payloadCol, f * $frameChars + 1, $frameChars)))"""))
          .as("fhs"))
      .select(col("doc_id"), size(col("fhs")).as("nf"), explode(col("fhs")).as("fh"))
    val grouped = postings.groupBy(col("fh"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("nf")))).as("xs"))
    val pairs = grouped
      .filter(size(col("xs")) > 1 && size(col("xs")) <= maxPostings)
      .select(explode(expr(
        """flatten(transform(xs, (x, i) ->
             transform(slice(xs, i + 2, size(xs) - i - 1),
                       y -> struct(x.doc_id AS a, x.nf AS na,
                                   y.doc_id AS b, y.nf AS nb))))""")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"),
        col("p.na").as("na"), col("p.nb").as("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(col("a"), col("b"), col("shared"), col("na"), col("nb"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")), 6).as("jac"))
      .filter(col("jac") >= minJaccard)
    val capped = grouped.filter(size(col("xs")) > maxPostings)
      .agg(count(lit(1)).as("capped_postings"))
    (pairs, capped)
  }

  /** Cross-modal duplicate clusters: an item is a duplicate of another if
    * ANY modality links them — text (shingle-minhash LSH candidates),
    * image (dHash pigeonhole pairs over the decoded grids), audio
    * (energy-envelope fingerprint pairs), video (shared-frame Jaccard
    * pairs) — and linkage is transitive across modalities (doc A ↔ B by
    * text, B ↔ C by image ⇒ one cluster). This is the collapse step a
    * real multimodal corpus needs: per-modality pair generators each see
    * only their own channel, the union of their edges feeds ONE
    * connected-components pass ([[duplicateClusters]]: driver union-find
    * under the edge gate, label-propagation fixpoint above it). Output
    * (idCol, cluster_id) over the union of both tables' ids; cluster_id
    * = the component's smallest id, singletons label themselves.
    *
    * The video channel runs over the same corpus frame as text/audio
    * (the decode stub treats the payload as the sampled-frame stream) —
    * a re-encoded clip pair linked ONLY by shared frames co-clusters
    * (r10 verdict item 3; before, videoFrameNearDups existed but its
    * edges never reached the cross-modal pass). Each channel's hot-
    * bucket cap coverage is observable via its standalone operator
    * (`capped_blocks` / `capped_postings` / [[oversizedBuckets]]); here
    * only the EDGES are consumed, so the scalar attaches are skipped
    * (no nested-loop join enters this plan).
    *
    * 100 TB: each generator is its own bounded pipeline (block/band/
    * postings shuffles only — none is all-pairs); edges are near-dup-
    * sized, orders of magnitude below the corpus, so the union/distinct
    * and the CC pass cost edge-proportional work.
    */
  def multimodalClusters(docs: DataFrame, images: DataFrame,
                         idCol: String = "doc_id"): DataFrame = {
    // r16 (guide §6 scan reuse): the text, audio and video channels each
    // re-scanned the same payload lineage — one NARROW (id, text) persist
    // feeds all three fingerprint passes and releases as soon as the
    // (near-dup-sized) edge union materializes. The id frame deliberately
    // reads `docs` directly: it needs only the pruned id column and
    // evaluates after the payload cache is gone.
    val payload = docs.select(col(idCol), col("text")).persist()
    // §2.6 (overlap independent jobs): the text channel materializes its
    // pairs EAGERLY inside minhashCandidates (persist + count + cache
    // release) while the other three channels — lazy until an action —
    // materialize their own edge union on a second driver thread; the
    // two pipelines' jobs backfill each other's straggler tails. The
    // final union-distinct over two already-distinct edge sets is
    // value-identical to the single five-way distinct it replaces.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val textPairsF = Future(
      minhashCandidates(payload, idCol).select(col("a"), col("b"))
    )(ExecutionContext.global)
    val otherPairsF = Future {
      val imagePairs =
        hammingPairsWithCoverage(imagePhashBlocked(images, "vec_id", "embedding"),
          "phash", radius = 2)._1.select(col("a"), col("b"))
      val audioPairs =
        hammingPairsWithCoverage(audioFingerprintBlocked(payload, idCol, "text"),
          "afp", radius = 2)._1.select(col("a"), col("b"))
      val videoPairs =
        videoFramePairsWithCoverage(payload, idCol)._1.select(col("a"), col("b"))
      val u = imagePairs.unionByName(audioPairs).unionByName(videoPairs)
        .distinct().persist()
      u.count()
      u
    }(ExecutionContext.global)
    val textPairs = Await.result(textPairsF, Duration.Inf)
    val otherPairs = Await.result(otherPairsF, Duration.Inf)
    val pairs = textPairs.unionByName(otherPairs).distinct().persist()
    pairs.count() // materialize the edge union BEFORE dropping the payload
    otherPairs.unpersist()
    payload.unpersist()
    val ids = docs.select(col(idCol))
      .unionByName(images.select(col("vec_id").as(idCol)))
      .distinct()
    val clusters = duplicateClusters(ids, idCol, pairs)
    pairs.unpersist() // driver path collected the edges; lazy plan done with them
    clusters
  }

  /** Corpus-size crossover for [[simhashNearDups]]: the 32-bit form's
    * 11-bit blocks keep expected bucket size N/2^11 — fine while that stays
    * ≈64 members (N ≤ 2^11·64 = 131072), past which the in-bucket pair term
    * grows quadratically and the 20-bit-block / 64-lane form (expected
    * bucket N/2^20) takes over. Derived from the bucket-size rule the two
    * registry variants document; both branches are oracle-green.
    */
  val SimhashCrossoverDocs = 131072L

  /** Radius-2 simhash near-dups with the form picked by corpus size at
    * [[SimhashCrossoverDocs]]. `corpusSizeHint` skips the count pass when
    * the caller already knows N (a catalog row count, a previous stage's
    * observe()); without it one count job runs first. NOTE the two branches
    * hash at different widths (32 vs 64 lanes), so pair sets near the
    * radius boundary can differ marginally between them — the dial trades
    * granularity for bucket control, exactly like the registry's two keys.
    */
  def simhashNearDups(docs: DataFrame, corpusSizeHint: Option[Long] = None): DataFrame = {
    val n = corpusSizeHint.getOrElse(docs.count())
    if (n <= SimhashCrossoverDocs) simhashNearDups32(docs) else simhashNearDups64(docs)
  }

  /** Measured packing crossover (STRESS.md PackProbe table: single-window
    * 1.8/6.3/24.4 s vs two-level 10.9/11.0/15.8 s at 2/10/40M docs in ONE
    * language): the single-task-per-lang window is FASTER below ~10M docs
    * per language (no shard machinery), and the two-level form overtakes
    * between 10M and 40M. 16M sits inside the measured bracket.
    */
  val PackCrossoverDocsPerLang = 16000000L

  /** Shard width for [[packSequences]] given the largest per-language doc
    * count: below the crossover, one giant shard recovers the single-window
    * plan INSIDE the same operator (output is width-invariant,
    * property-pinned); above it, the production 2^20 ids/shard two-level
    * form. Pure, so the selection rule is testable without a corpus.
    */
  def packShardWidth(maxDocsPerLang: Long): Long =
    if (maxDocsPerLang <= PackCrossoverDocsPerLang) Long.MaxValue else 1L << 20

  /** [[packSequences]] with the shard width auto-selected at the measured
    * crossover: one groupBy(lang) count pass (tiny result — #langs rows)
    * decides, then the same width-invariant operator runs. Callers that
    * already know the per-lang histogram should call packSequences with
    * [[packShardWidth]] directly and skip the count.
    */
  def packSequencesAuto(docs: DataFrame): DataFrame = {
    val maxPerLang = docs.groupBy(col("lang")).count()
      .agg(max(col("count"))).head().getAs[Any](0) match {
        case null => 0L
        case n: Long => n
      }
    packSequences(docs, packShardWidth(maxPerLang))
  }

  /** IVF index build: per-bucket (cluster label) element-wise centroid.
    * Sums go through DECIMAL so centroids are exact and partitioning-
    * independent (float summation order would make the index
    * nondeterministic); collect_list is sorted by position before assembly.
    * One shuffle of (label, pos) partial sums — the index build scans the
    * corpus once.
    */
  def ivfCentroids(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") / count(lit(1))).as("cval"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cval))), x -> x.cval)").as("cvec"))
  }

  /** IVF two-stage search: rank centroids against the (broadcast) query,
    * probe the best `nprobe` cells, exact-search only inside them. The
    * corpus is touched once, filtered by a broadcast of the probed labels —
    * the classic accuracy/cost dial: nprobe=cells gives brute force,
    * nprobe=1 the cheapest search.
    */
  def ivfSearch(emb0: DataFrame, query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val emb = ensureFns(emb0)
    val q = query.select(col("embedding").as("qv"))
    val probed = ivfCentroids(emb).crossJoin(broadcast(q))
      .select(col("label"),
        round6(expr("graft_dot(cvec, qv)") /
          (sqrt(expr("graft_dot(cvec, cvec)")) * sqrt(expr("graft_dot(qv, qv)"))))
          .as("ccos"))
      .orderBy(col("ccos").desc, col("label")).limit(nprobe)
    emb.join(broadcast(probed.select(col("label"))), "label")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), cosine("embedding", "qv").as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  // ---- hyperplane-LSH ANN (the banding alternative to IVF) ----

  /** 32 signature planes over the 64 embedding dims. */
  val LshPlanes = 32
  val LshDim = 64
  /** 4 bands × 8 bits: a corpus vector is a candidate when ANY band of its
    * signature equals the query's — standard LSH banding. Expected
    * candidate fraction ≈ 4/2^8 ≈ 1.6% of the corpus per query.
    */
  val LshBands = 4
  val LshBandBits = 8

  /** Deterministic ±1 hyperplane weights from md5("p:i") parity — a CONSTANT
    * matrix both engines inline as a literal, so the oracle needs no RNG
    * seed plumbing. Random-sign projections are the classic SimHash-for-
    * cosine construction (Charikar); ±1 weights (instead of gaussians) keep
    * every dot product in exact integer arithmetic over the int8-quantized
    * codes — zero float-summation-order parity risk between engines.
    * Canonical home of the packed masks is graft.functions.LshOps (shared
    * with the native graft_lsh_sig evaluation); this view unpacks them.
    */
  lazy val lshPlaneMatrix: IndexedSeq[IndexedSeq[Int]] =
    lshPlaneMasks.map(m =>
      (0 until LshDim).map(i => if (((m >> i) & 1L) != 0L) 1 else -1))

  /** Each plane packed into ONE 64-bit mask (bit i set ⇔ w[p][i] = +1):
    * with ±1 weights, dotₚ = Σᵢ wᵢcᵢ = 2·Σ_{set bits} cᵢ − Σcᵢ, so the
    * whole matrix is 32 longs instead of 2048 ints. The first cut inlined
    * the full matrix as a nested array literal and paid ~4s of parse/
    * analysis PER RUN for it — the plan, not the data, was the cost.
    */
  lazy val lshPlaneMasks: IndexedSeq[Long] =
    graft.functions.LshOps.planeMasks.toIndexedSeq

  /** The masks as a Spark SQL array literal. */
  lazy val lshPlanesSparkLit: String =
    lshPlaneMasks.map(m => s"${m}L").mkString("array(", ",", ")")

  /** The masks as a DuckDB list literal (BIGINT-pinned: a bare big literal
    * may parse as HUGEINT and change the `&` result type).
    */
  lazy val lshPlanesDuckLit: String =
    lshPlaneMasks.map(m => s"($m)::BIGINT").mkString("[", ",", "]")

  /** Int8-quantize (same construction embed_quantize oracles bit-for-bit)
    * then sign-project onto the plane masks: bit p of `lsh_sig` is
    * sign(2·Σ_{i: mask bit set} codes[i] − Σcodes) — all-integer, so
    * engine-exact. Evaluates natively via `graft_lsh_sig`
    * (functions.LshSig): the HOF reference form below interprets three
    * nested zip_with/aggregate chains per row (~400 µs/row at 64 dims — it
    * dominated sim_search_lsh end to end); the expression is two tight
    * primitive loops in whole-stage codegen, spec-pinned bit-identical.
    */
  def withLshSig(df: DataFrame): DataFrame =
    ensureFns(df).withColumn("lsh_sig", expr("graft_lsh_sig(embedding)"))

  /** The SQL-HOF reference formulation of [[withLshSig]] — the form the
    * DuckDB oracle mirrors and the parity spec compares the native
    * expression against (VectorExpressionsSpec). Not used in the query
    * path.
    */
  def withLshSigHof(df: DataFrame): DataFrame =
    df.withColumn("scale",
        expr("greatest(array_max(transform(embedding, v -> abs(cast(v as double)))) / 127.0, 1e-30d)"))
      .withColumn("codes",
        expr("transform(embedding, v -> cast(floor(cast(v as double) / scale + 0.5d) as int))"))
      .withColumn("ctot",
        expr("aggregate(codes, 0L, (a, c) -> a + cast(c as bigint))"))
      .withColumn("lsh_sig", expr(
        s"""aggregate(
              zip_with(
                transform($lshPlanesSparkLit,
                  m -> aggregate(
                         zip_with(codes, sequence(0, ${LshDim - 1}),
                           (c, i) -> if((m & shiftleft(1L, i)) != 0, cast(c as bigint), 0L)),
                         0L, (acc, x) -> acc + x)),
                sequence(0, ${LshPlanes - 1}),
                (sp, p) -> if(2 * sp - ctot >= 0, shiftleft(1L, p), 0L)),
              0L, (acc, x) -> acc + x)"""))
      .drop("scale", "codes", "ctot")

  /** Explode a signature into its band keys ("band_ix:band_value"). */
  private def lshBandKeys(sigCol: String, bands: Int, bandBits: Int) =
    explode(expr(
      s"""transform(sequence(0, ${bands - 1}),
            b -> concat(cast(b as string), ':',
                 cast(($sigCol div shiftleft(1L, b * $bandBits)) % ${1 << bandBits} as string)))"""))

  /** LSH-bucketed ANN: candidates = corpus vectors sharing ≥1 signature
    * band with the query (equi-join on the band key against the broadcast
    * single-row query — the corpus is scanned once, never shuffled, same
    * posture as cosineTopK/ivfSearch), then exact cosine re-rank of the
    * candidates only. The recall/cost dial is (bands, bandBits):
    * more/narrower bands = more candidates = higher recall — measured on
    * the sf0.01 fixtures by AnnRecallSpec (recall@10 rises 0.08 → 0.74 →
    * 1.0 across (4,8) → (8,4) → (16,2); tune with [[recallAtK]]).
    */
  def lshSearch(corpus: DataFrame, query: DataFrame, k: Int,
                bands: Int = LshBands, bandBits: Int = LshBandBits): DataFrame = {
    require(bands * bandBits <= LshPlanes,
      s"bands*bandBits must fit the $LshPlanes-bit signature, got $bands*$bandBits")
    val c = withLshSig(ensureFns(corpus))
      .select(col("vec_id"), col("label"), col("embedding"), col("lsh_sig"))
      .withColumn("blk", lshBandKeys("lsh_sig", bands, bandBits))
    val q = withLshSig(query)
      .select(col("embedding").as("qv"), col("lsh_sig"))
      .withColumn("blk", lshBandKeys("lsh_sig", bands, bandBits))
      .select(col("blk"), col("qv"))
    c.join(broadcast(q), "blk")
      .dropDuplicates("vec_id") // a pair can share several bands
      .select(col("vec_id"), col("label"), cosine("embedding", "qv").as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** Per-band-key corpus bucket sizes, largest first — the [[lshSearch]]
    * analog of [[oversizedBuckets]]: a degenerate corpus (every vector in
    * one band bucket) shows up here as one huge count instead of as a
    * silently slow candidate join. One hash-agg over the banded corpus.
    */
  def lshBandSizes(corpus: DataFrame, bands: Int = LshBands,
                   bandBits: Int = LshBandBits): DataFrame =
    withLshSig(ensureFns(corpus))
      .select(col("vec_id"), col("lsh_sig"))
      .withColumn("blk", lshBandKeys("lsh_sig", bands, bandBits))
      .groupBy(col("blk")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("blk"))

  /** Recall@k of an ANN result against the exact ground truth: the
    * fraction of `truth`'s vec_ids the approximate result found. Both
    * inputs are top-k frames (≤ k rows by construction), so collecting
    * their id columns driver-side is O(k) — this is the evaluation
    * harness for the (bands, bandBits) / nprobe dials, not a data-path
    * operator.
    */
  def recallAtK(approx: DataFrame, truth: DataFrame): Double =
    recallAtK(approx,
      truth.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet)

  /** As above with a pre-collected truth id set (avoids re-running the
    * ground-truth query when scoring several configurations against it).
    */
  def recallAtK(approx: DataFrame, truthIds: Set[Long]): Double =
    if (truthIds.isEmpty) 1.0
    else {
      val a = approx.select(col("vec_id").cast("long")).collect()
        .map(_.getLong(0)).toSet
      (a & truthIds).size.toDouble / truthIds.size
    }

  /** Benchmark decontamination: flag corpus docs whose word-3-gram shingle
    * set overlaps a held-out benchmark's. The benchmark side (GBs at most —
    * eval suites are small) is DISTINCT-reduced and broadcast; the corpus
    * (the 100 TB side) is scanned once and never shuffled — only the
    * matched (doc, shingle) rows reach the per-doc count aggregation, and
    * partial aggregation collapses those map-side. Inner join: docs with
    * zero overlap are by definition clean and stay out of the report.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    threshold: Double): DataFrame = {
    val corpusGrams = withShingles(withWords(spreadSmall(corpus)))
      .select(col(idCol), array_distinct(col("shingles")).as("sh"))
      .select(col(idCol), size(col("sh")).as("n_shingles"), explode(col("sh")).as("g"))
    val benchGrams = withShingles(withWords(benchmark))
      .select(explode(array_distinct(col("shingles"))).as("g")).distinct()
    corpusGrams.join(broadcast(benchGrams), "g")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contam_ratio",
        round6(col("n_shared").cast("double") / col("n_shingles").cast("double")))
      .withColumn("contaminated", col("contam_ratio") >= threshold)
  }

  /** [[decontaminate]] for benchmark sides too big to broadcast: a composite
    * eval suite can hold 10^8+ distinct n-grams — GBs as a hash-join build
    * side, but ~115 MB as a 1%-fpp bloom filter. Three stages:
    *
    *  1. build: distributed treeAggregate of per-partition blooms over the
    *     DISTINCT benchmark grams (UTF-8 `putBinary`, matching the probe
    *     side bit-for-bit), merged log-depth on the driver;
    *  2. prefilter: the corpus (the 100 TB side) is scanned once and each
    *     exploded gram probed with the codegen'd `graft_might_contain` —
    *     survivors ≈ true matches + fpp of the rest, so the corpus side of
    *     what follows shrinks ~100× at fpp=0.01;
    *  3. exact verify: survivors equi-join the benchmark grams (now a
    *     SMALL-side shuffle join that never needed to be broadcastable) —
    *     bloom false positives die here, so the result is bit-identical to
    *     [[decontaminate]] regardless of fpp (same DuckDB oracle).
    *
    * The serialized bloom rides the plan as a binary literal and reaches
    * executors via the broadcast task binary (same transport as Spark's own
    * runtime-filter `BloomFilterMightContain`), deserialized once at codegen
    * reference-object install, not per row.
    *
    * Reference analog: content-overlap validation at
    * lab/exercises/06-validation-monitoring.md:90-179, recast as the
    * prefilter+verify shape that survives a benchmark side beyond broadcast
    * size.
    */
  /** The end product of decontamination: the corpus minus a flagged id
    * set, as an anti-join. Same adversarial-scale hazard as the minhash
    * candidate set: the flagged side is CONTAMINATION-proportional — tiny
    * for a clean corpus, half the corpus in the adversarial regime — so a
    * hard-wired broadcast hint is an OOM, not a plan choice. One eager
    * count over the flagged ids picks the join shape: under the byte
    * budget the anti-join broadcasts (corpus never shuffles); over it the
    * hint is simply DROPPED — a plain shuffled anti-join on the id, which
    * AQE may still re-plan to broadcast at runtime if the actual size
    * allows. Both shapes are row-identical; only the id column moves on
    * the flagged side ([[BytesPerBroadcastId]]/row model).
    *
    * The returned anti-join is LAZY and nothing is persisted (ADVICE r8):
    * the result is ~the whole corpus, and pinning corpus-scale data in
    * executor storage until session end is the exact pressure the byte
    * gates exist to avoid. Cost: the flagged→distinct lineage recomputes
    * once when the caller materializes (the flagged side is
    * contamination-report-sized, not corpus-sized); the corpus is read
    * exactly once either way.
    */
  val BytesPerBroadcastId = 64L

  def purge(corpus: DataFrame, flagged: DataFrame, idCol: String,
            flaggedBroadcastBudgetBytes: Long = 64L << 20): DataFrame = {
    // r16: the flagged-id lineage is typically the WHOLE decontaminate
    // chain (corpus gram explode + join + agg) and was evaluated twice —
    // once by the gate count here and again when the caller materialized
    // the returned anti-join. The distinct id set is flagged-proportional
    // (the gate's own premise), so persist it across the two references —
    // the minhashCandidatesFrom small-persisted-result discipline.
    val ids = flagged.select(col(idCol)).distinct().persist()
    val n = ids.count()
    if (n <= flaggedBroadcastBudgetBytes / BytesPerBroadcastId)
      corpus.join(broadcast(ids), Seq(idCol), "left_anti")
    else {
      // adversarial regime (flagged ~ half the corpus): do NOT pin a
      // corpus-scale id set in executor storage (r8 ADVICE) — release the
      // cache and let the anti-join recompute the flagged lineage once,
      // exactly the pre-r16 behavior
      ids.unpersist()
      corpus.join(ids, Seq(idCol), "left_anti")
    }
  }

  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                         threshold: Double, fpp: Double = 0.01,
                         materialize: Boolean = true): DataFrame = {
    import java.io.ByteArrayOutputStream
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.spark.util.sketch.BloomFilter

    // The benchmark gram set drives THREE passes (size count, bloom build,
    // verify join) — cache it across them and release once the small
    // result is materialized, same discipline as decontaminateMinhash.
    // materialize=false skips caching/materializing the OUTPUT only; the
    // benchmark-side jobs (gram count + bloom build) still run eagerly —
    // the bloom must exist to build the returned plan at all. Plan-audit
    // callers therefore pay the (small-side) benchmark work, and the
    // passes each recompute the DISTINCT.
    val benchGrams0 = withShingles(withWords(ensureFns(benchmark)))
      .select(explode(array_distinct(col("shingles"))).as("g"))
      .distinct()
    val benchGrams = if (materialize) benchGrams0.persist() else benchGrams0
    try {
      // One count on the SMALL side to size the bloom; the corpus is untouched.
      val n = math.max(benchGrams.count(), 1L)
      val bloom = benchGrams.where(col("g").isNotNull).rdd
        .treeAggregate(BloomFilter.create(n, fpp))(
          (bf, row) => { bf.putBinary(row.getString(0).getBytes(UTF_8)); bf },
          (a, b) => { a.mergeInPlace(b); a })
      val bos = new ByteArrayOutputStream()
      bloom.writeTo(bos)
      val mightMatch = call_function("graft_might_contain",
        lit(bos.toByteArray), col("g"))

      val corpusGrams = withShingles(withWords(ensureFns(spreadSmall(corpus))))
        .select(col(idCol), array_distinct(col("shingles")).as("sh"))
        .select(col(idCol), size(col("sh")).as("n_shingles"), explode(col("sh")).as("g"))
        .where(mightMatch)
      val out = corpusGrams.join(benchGrams, "g")
        .groupBy(col(idCol), col("n_shingles"))
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("contam_ratio",
          round6(col("n_shared").cast("double") / col("n_shingles").cast("double")))
        .withColumn("contaminated", col("contam_ratio") >= threshold)
      if (materialize) { val p = out.persist(); p.count(); p } else out
    } finally { if (materialize) { benchGrams.unpersist(); () } }
  }

  /** Paraphrase-level benchmark decontamination: corpus docs whose word-
    * 3-gram Jaccard similarity to ANY benchmark doc clears `threshold`.
    * [[decontaminate]]/[[decontaminateBloom]] count shared grams per doc —
    * they catch verbatim leakage; this variant catches whole-document
    * near-duplication (reordered/boilerplate-wrapped copies) the way the
    * dedup family does, but across corpora:
    *
    *  1. candidates: MinHash-LSH band tables for BOTH sides, cross-joined
    *     on the band hash with the benchmark side broadcast (an eval suite
    *     is millions of docs at most; its band table is k ints per doc) —
    *     the corpus band table streams through the join, never shuffles;
    *  2. verify: exact shingle-set Jaccard on the candidate pairs only,
    *     with the (bench_id → shingles) side again broadcast and the
    *     candidate list broadcast into the corpus shingle scan, so the
    *     corpus stays shuffle-free end to end;
    *  3. report: per-corpus-doc match count + max Jaccard.
    *
    * Same cache discipline as [[minhashCandidatesFrom]]: the wide
    * intermediates (shingle + signature tables) are persisted, the small
    * result is materialized, then every upstream cache is released.
    *
    * Reference analog: content-similarity validation,
    * lab/exercises/06-validation-monitoring.md:90-179, lifted from
    * row-sampling to corpus-vs-benchmark LSH.
    */
  /** Byte model for the candidate-broadcast gate in
    * [[decontaminateMinhash]]: a broadcast candidate row carries two long
    * ids plus the joined benchmark shingle array (k grams × ~24 UTF-8 bytes
    * plus array/row overhead) — budgeted at 1 KiB per candidate. Like
    * [[BytesPerDriverEdge]], deliberately pessimistic: the gate guards
    * against executor/driver OOM, not against a slightly-too-small
    * broadcast.
    */
  val BytesPerBroadcastCandidate = 1024L

  /** True iff `nCandidates` (candidate, benchmark-shingles) rows fit the
    * broadcast budget under the [[BytesPerBroadcastCandidate]] model.
    */
  def fitsCandBroadcastGate(nCandidates: Long, budgetBytes: Long): Boolean =
    nCandidates <= budgetBytes / BytesPerBroadcastCandidate

  def decontaminateMinhash(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, threshold: Double = 0.5,
                           candBroadcastBudgetBytes: Long = 64L << 20): DataFrame = {
    val cSh = shingleTable(ensureFns(corpus), idCol)
    val bSh = shingleTable(ensureFns(benchmark), idCol)
    try {
      val (cSig, cBand) = sigAndBanded(cSh, idCol, k = 8, bands = 4, r = 2)
      val (bSig, bBand) = sigAndBanded(bSh, idCol, k = 8, bands = 4, r = 2)
      try {
        // Candidate count scales with the number of CORPUS docs sharing a
        // band with the benchmark — in an adversarially contaminated corpus
        // (the exact situation decontamination exists for) it is unbounded.
        // The pairs are persisted and COUNTED before the verify stage picks
        // its join shape: under the byte gate the candidates broadcast into
        // the corpus shingle scan (corpus stays shuffle-free); over it,
        // [[minhashVerify]] falls back to a shuffle equi-join of cSh with
        // the candidates on the doc id — the corpus pays one exchange
        // instead of the driver/executors paying an unbounded broadcast.
        val cand = cBand
          .join(broadcast(bBand.withColumnRenamed(idCol, "bench_id")), "band")
          .select(col(idCol), col("bench_id")).distinct()
          .persist()
        try {
          val nCand = cand.count()
          val verified = minhashVerify(cSh, bSh, cand, idCol, threshold,
            broadcastCands = fitsCandBroadcastGate(nCand, candBroadcastBudgetBytes))
          val out = verified.groupBy(col(idCol))
            .agg(count(lit(1)).as("n_bench_matches"),
              max(col("jac")).as("max_jaccard"))
            .persist()
          out.count() // materialize BEFORE the upstream caches are released
          out
        } finally { cand.unpersist(); () }
      } finally { cSig.unpersist(); bSig.unpersist(); () }
    } finally { cSh.unpersist(); bSh.unpersist(); () }
  }

  /** The exact-Jaccard verify stage of [[decontaminateMinhash]], in both
    * join shapes. `broadcastCands = true` is the clean-corpus fast path
    * (candidates + benchmark shingles broadcast; the corpus shingle table
    * never shuffles). `false` is the adversarial-contamination fallback:
    * the candidate set equi-joins cSh on the doc id through an exchange,
    * and only the (small, eval-suite-sized) benchmark shingle table is
    * broadcast. Both shapes produce identical rows — the gate in the entry
    * point picks purely on candidate volume.
    */
  private[graft] def minhashVerify(cSh: DataFrame, bSh: DataFrame,
                                   cand: DataFrame, idCol: String,
                                   threshold: Double,
                                   broadcastCands: Boolean): DataFrame = {
    val bench = bSh.select(col(idCol).as("bench_id"), col("shingles").as("bsh"))
    val joined =
      if (broadcastCands)
        cSh.join(broadcast(cand.join(broadcast(bench), "bench_id")), Seq(idCol))
      else
        cSh.join(cand, Seq(idCol)).join(broadcast(bench), "bench_id")
    joined.select(col(idCol), col("bench_id"),
        jaccard(col("shingles"), col("bsh")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** Sequence-packing bookkeeping (concat-then-chunk): each doc's token
    * start offset in its language's packed stream, ordered by doc id, plus
    * the 64-token bin that offset lands in.
    *
    * Scale shape — TWO-LEVEL prefix sum, not one window per lang: `lang`
    * cardinality is single-digit, so `Window.partitionBy(lang)` would sort
    * and prefix-sum each language's ENTIRE sub-corpus in one task (billions
    * of rows at 100 TB — the low-cardinality-window scale-killer). Instead:
    *
    *  1. shard: an ORDER-PRESERVING range bucket `doc_id div shardWidth`
    *     (order-preserving is what makes per-shard sums composable — a hash
    *     shard would interleave doc ids across shards);
    *  2. local: per-(lang, shard) running sum ordered by doc_id — window
    *     partitions are bounded by `shardWidth` rows;
    *  3. base: per-shard token totals (one tiny aggregate: ≤ idSpan/width
    *     rows — at 10^10 ids and the default 2^20 width, ~10^4 rows), then
    *     a per-lang prefix over the totals. That window DOES partition by
    *     lang alone, but over the aggregated shard table, so its largest
    *     partition is #shards rows, not #docs;
    *  4. add: base offsets broadcast-join back on (lang, shard);
    *     start_off = base + local.
    *
    * Output is row-identical to the single-window form (spec-pinned), and
    * identical for ANY shardWidth — the width only picks the parallelism.
    * Production default 2^20 ids/shard; tests dial it down to exercise the
    * multi-shard path on small corpora.
    */
  def packSequences(docs: DataFrame, shardWidth: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardWidth > 0, s"shardWidth must be positive: $shardWidth")
    val tok = docs
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("shard", expr(s"doc_id div $shardWidth"))
    val wLocal = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = tok.withColumn("local_off",
      sum(col("n_tokens")).over(wLocal) - col("n_tokens"))
    val totals = tok.groupBy(col("lang"), col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
    val wBase = Window.partitionBy(col("lang")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = totals
      .withColumn("base_off", coalesce(sum(col("shard_tokens")).over(wBase), lit(0L)))
      .select(col("lang"), col("shard"), col("base_off"))
    local.join(broadcast(bases), Seq("lang", "shard"))
      .withColumn("start_off", col("base_off") + col("local_off"))
      .withColumn("bin", expr("start_off div 64"))
      .withColumn("off_in_bin", col("start_off") % 64)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("start_off"), col("bin"), col("off_in_bin"))
  }

  /** Temperature-flattened language mixture — the multilingual-pretraining
    * resampling rule (mBERT/XLM-R, Conneau et al. 2020: sample languages
    * with p_l ∝ (n_l/N)^α; α<1 upweights low-resource languages).
    * Downsample-only realization (upsampling is [[LlmQueries]]'
    * `mix_epochs` job): the largest total M every language can serve from
    * existing rows is M = min_l n_l/q_l, and each language keeps
    * keep_frac_l = q_l·M/n_l of its rows — exactly 1 for the binding
    * (most-underrepresented) language, <1 for the rest. The keep decision
    * is per-row content-stable (md5-derived u01, the sample_stratified
    * convention): no RNG, no seed drift; re-runs and incremental
    * re-samples keep the same rows.
    *
    * Scale shape: ONE per-lang count aggregate over the corpus; the
    * tempered-share arithmetic (w_tot, the binding minimum) runs as
    * unpartitioned windows over the |langs|-row COUNT table — bounded
    * input, so the single-partition window is safe (the §7.4.8 trap is
    * windows over the raw corpus; this is the pack_sequences base-offset
    * shape). The resulting |langs|-row keep_frac table joins back
    * UNHINTED (AQE broadcasts it at runtime; lang vocabularies are small
    * but we never hard-hint a data-derived side), then a narrow per-row
    * hash filter. Two corpus scans total (count + keep), no corpus-sized
    * shuffle. The w_tot sum goes through DECIMAL
    * (partitioning-independent, engine-exact); keep_frac is round6'd so
    * last-ulp pow/division drift between engines can't flip a keep
    * decision.
    */
  def mixTemperature(docs: DataFrame, alpha: Double = 0.5,
                     langCol: String = "lang",
                     idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val kf = docs.groupBy(col(langCol)).agg(count(lit(1)).as("n_l"))
      .withColumn("w", pow(col("n_l").cast("double"), lit(alpha)))
      .withColumn("w_tot",
        sum(col("w").cast(DecimalType(30, 12))).over(wAll).cast("double"))
      .withColumn("q", col("w") / col("w_tot"))
      .withColumn("r", col("n_l").cast("double") / col("q"))
      .withColumn("m_tot", min(col("r")).over(wAll))
      .select(col(langCol),
        round6(col("q") * col("m_tot") / col("n_l").cast("double"))
          .as("keep_frac"))
    docs.join(kf, langCol)
      .withColumn("u01",
        expr(s"conv(substring(md5(cast(cast($idCol as string) as binary)), 1, 8), 16, 10)")
          .cast("double") / lit(4294967296.0))
      .filter(col("u01") < col("keep_frac"))
      .drop("u01")
  }

  /** Per-document text statistics: token counts (whitespace + a BPE-ish
    * regex), stopword ratio, a quality flag, an n-gram language guess, and
    * a minhash fingerprint.
    */
  def textStats(docs: DataFrame): DataFrame =
    withShingles(withWords(ensureFns(spreadSmall(docs))))
      .withColumn("n_tokens", size(col("words")))
      // graft_retoken_count == size(regexp_extract_all(text,
      // '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)) (spec-pinned) without
      // allocating the token array per row
      .withColumn("n_tokens_re", expr("graft_retoken_count(text)"))
      .withColumn("stop_hits", expr("size(filter(words, w -> w in ('the', 'a')))"))
      .withColumn("stop_ratio",
        round6(col("stop_hits").cast("double") / col("n_tokens").cast("double")))
      .withColumn("lang_guess", when(col("stop_hits") > 0, "en").otherwise("unk"))
      .withColumn("quality",
        col("n_tokens").between(10, 1000) && col("stop_ratio") < 0.5)
      .withColumn("fingerprint",
        expr("array_min(graft_hash_array(shingles, ':fp', 15))"))

  // ---- substring-level exact dedup (the ExactSubstr tier) ----

  /** Maximal duplicated character spans per document — the substring tier
    * of the dedup family (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — public): a char
    * position is duplicated when some char `k`-gram covering it occurs at
    * ≥ 2 sites anywhere in the corpus — in another document OR elsewhere
    * in the same one. This is the tier that catches boilerplate headers,
    * licence blocks, and templated paragraphs embedded in otherwise-unique
    * documents, which every whole-document family (exact hash, MinHash,
    * SimHash) misses by construction.
    *
    * Output: one row per maximal duplicated span
    * (`idCol`, span_start 1-based, span_len chars), spans DISJOINT per
    * document — runs of duplicated gram positions ≤ k apart merge, since
    * their k-char coverage windows overlap or adjoin (the sessionization
    * gap rule, same shape as window_session).
    *
    * Spark-first shape vs the paper's suffix array: the corpus-wide
    * "occurs ≥ 2 times" test needs grams co-located by VALUE, which is a
    * hash shuffle, not a global suffix sort. The duplicate test is a
    * TWO-LEVEL count (r10 verdict item 2): `groupBy(h).count()` — whose
    * map-side partial combine collapses a gram duplicated 10⁹× to ONE
    * partial row per map task, so the count shuffle carries combined
    * partials, never the position list — then a semi-join of the gram
    * stream against the `count ≥ 2` hash set. The r10 form attached the
    * count via `count(*) over Window.partitionBy(h)`, which buffers each
    * gram's ENTIRE position list in one unsplittable task: a boilerplate
    * licence gram duplicated 10⁸× = a 10⁸-row single-task window
    * partition that neither AQE nor hash-range staging can split (a
    * range split assigns the whole hot hash to one pass). The agg+join
    * form has no such term: the hot gram's probe rows land in one
    * shuffle partition but STREAM through the join (no per-key
    * buffering), AQE's skew-join can split that partition by mapper
    * ranges (splitting by map-output chunk works even for a single hot
    * key — range-by-hash cannot), and when the duplicated-gram set is
    * small (the realistic regime: dup grams are output-proportional)
    * AQE broadcasts it and the gram table never shuffles on `h` at all.
    * The set is left UNHINTED — data-dependent build sides are never
    * force-broadcast (the decontaminate-family gate convention).
    * After the duplicate test, one exchange back on the doc id runs the
    * span-merge windows (bounded by doc length); everything else is
    * narrow. Gram extraction is the codegen'd
    * [[graft.functions.GramHash]] — one pass over the utf-8 bytes, no
    * gram strings materialized. Hashes are md5-60-bit, so the DuckDB
    * oracle reproduces them bit-for-bit and a collision (~2^-60 per
    * pair) affects both engines identically.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, k: Int = 20): DataFrame = {
    val grams = gramPositions(docs, idCol, k)
    mergeSpans(dupPositions(grams, idCol), idCol, k)
  }

  /** (idCol, pos [1-based], h) gram-hash stream — narrow codegen.
    * spreadSmall (r15): the per-char gram hash is the ExactSubstr tier's
    * CPU floor; it must not run single-task on a one-row-group corpus.
    */
  private def gramPositions(docs: DataFrame, idCol: String, k: Int): DataFrame =
    ensureFns(spreadSmall(docs))
      .select(col(idCol),
        posexplode(expr(s"graft_gram_hash(text, $k, ':xs', 15)"))
          .as(Seq("p0", "h")))
      .select(col(idCol), (col("p0") + 1).as("pos"), col("h"))

  /** The skew-safe duplicate test (see [[duplicatedSpans]]): two-level
    * count (partial combine per map task, sum per gram), semi-join back.
    */
  private def dupPositions(grams: DataFrame, idCol: String): DataFrame = {
    val dupH = grams.groupBy(col("h")).agg(count(lit(1)).as("sites"))
      .filter(col("sites") >= 2).select(col("h"))
    grams.join(dupH, Seq("h"), "left_semi").select(col(idCol), col("pos"))
  }

  /** Merge duplicated positions ≤ k apart into maximal disjoint spans —
    * the sessionization gap rule; windows bounded by doc length.
    */
  private def mergeSpans(dupPos: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    dupPos
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k, 0).otherwise(1))
      .withColumn("grp", sum("brk").over(byDoc))
      .groupBy(col(idCol), col("grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + k).as("span_len"))
      .select(col(idCol), col("span_start"), col("span_len"))
  }

  /** [[duplicatedSpans]] with peak shuffle capacity bounded to ~1/`passes`
    * of the gram table — the dial for the operator's one heavy cost. The
    * duplicate test is per-gram-value independent, so the gram stream
    * splits by hash range: pass `i` explodes the corpus, keeps grams with
    * `pmod(h, passes) = i`, and runs ONLY that slice through the
    * two-level duplicate test (so at most ~1/passes of the gram table is
    * ever live on shuffle disk as the semi-join's probe side — and none
    * of it when AQE broadcasts the slice's duplicated-gram set); the
    * surviving duplicated positions (output-proportional, tiny next to
    * the gram table) union across passes and one final doc-keyed
    * exchange merges spans. Each pass re-runs the codegen'd explode
    * (streaming CPU) to avoid holding the whole gram table on shuffle
    * disk at once (the ~100 GB the 10M-doc STRESS form needed).
    * Measured at 2M docs (SubstrProbe, r10 window form): staged ×4 was
    * FASTER than the single shuffle (48.6 s vs 72.7 s) — quarter-sized
    * sorts spill less — so above the spill threshold the dial wins on
    * both disk and wall-clock; below it the re-explode CPU makes
    * passes = 1 the right default. NOTE the hash-range split bounds
    * VOLUME, not per-key skew — a single hot gram lands wholly in one
    * pass; the per-key term is bounded by the two-level count inside
    * each pass (see [[duplicatedSpans]]), which is why staging composes
    * with it instead of replacing it. Output is pass-count-invariant
    * (spec-pinned); `passes = 1` IS [[duplicatedSpans]].
    */
  def duplicatedSpansStaged(docs: DataFrame, idCol: String, k: Int = 20,
                            passes: Int = 4): DataFrame = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val grams = gramPositions(docs, idCol, k)
    val dupPos = (0 until passes).map { i =>
        dupPositions(
          grams.filter(pmod(col("h"), lit(passes.toLong)) === i), idCol)
      }.reduce(_ unionByName _)
    mergeSpans(dupPos, idCol, k)
  }

  /** [[duplicatedSpansStaged]] with each pass run as its OWN action whose
    * (output-proportional, tiny) duplicated positions land in
    * `workDir/pass_i` — the form whose peak-disk bound actually holds on
    * a shared box. The lazy staged form unions every pass into ONE job,
    * and Spark retains every stage's shuffle files until their
    * dependencies are garbage-collected — so all `passes` gram-slice
    * shuffles coexist on disk and the "~1/passes" bound is aspirational.
    * Here pass i's action completes, its lineage goes unreferenced, and
    * the context cleaner reclaims its shuffle files (nudged with an
    * explicit GC — the same mechanism spark.cleaner.periodicGC relies
    * on) before pass i+1 shuffles a byte. Peak disk ≈ one slice + the
    * accumulated position parquet (output-proportional). Output is
    * bit-identical to [[duplicatedSpans]] (same per-slice duplicate
    * test, same merge — spec-pinned); use when the single-job form's
    * total shuffle footprint exceeds the cluster's shuffle capacity,
    * e.g. the 10M-doc STRESS row on this box.
    */
  def duplicatedSpansStagedToDisk(docs: DataFrame, idCol: String,
                                  workDir: String, k: Int = 20,
                                  passes: Int = 8): DataFrame = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val spark = docs.sparkSession
    val grams = gramPositions(docs, idCol, k)
    for (i <- 0 until passes) {
      dupPositions(
          grams.filter(pmod(col("h"), lit(passes.toLong)) === i), idCol)
        .write.mode("overwrite").parquet(s"$workDir/pass_$i")
      // release the pass's shuffle files before the next pass shuffles:
      // the context cleaner acts on GC'd shuffle dependencies
      System.gc()
    }
    // read the EXACT pass set, not a workDir glob: a prior run into the
    // same workDir with MORE passes leaves pass_i directories this run
    // never overwrote, and a glob would silently union their stale
    // positions into the merge (r11 ADVICE)
    mergeSpans(
      spark.read.parquet((0 until passes).map(i => s"$workDir/pass_$i"): _*),
      idCol, k)
  }

  /** Substring-level decontamination: the maximal character spans of each
    * CORPUS document whose `k`-grams appear anywhere in the BENCHMARK —
    * the span-precise form of the decontamination family ([[decontaminate]]
    * flags whole documents by shingle-overlap ratio; this localizes the
    * leaked text itself, the way the ExactSubstr tooling is used for
    * benchmark decontamination). A position is contaminated when its
    * k-gram occurs in the benchmark; runs ≤ k apart merge exactly as in
    * [[duplicatedSpans]].
    *
    * Scale shape: the corpus pays one narrow gram explode; the duplicate
    * test is a semi-join against the benchmark's DISTINCT gram-hash set —
    * eval suites are small, so that side aggregates to a modest distinct
    * set and AQE may broadcast it (left UNHINTED: a data-dependent build
    * side is never force-broadcast — the decontaminate-family gate
    * convention), in which case the corpus gram table NEVER shuffles on
    * the gram hash at all; the only guaranteed exchange is the doc-keyed
    * span merge. Output: (`idCol`, span_start 1-based, span_len).
    */
  def decontaminateSpans(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, k: Int = 20): DataFrame = {
    val benchGrams = gramPositions(benchmark, idCol, k).select(col("h")).distinct()
    val hit = gramPositions(corpus, idCol, k)
      .join(benchGrams, Seq("h"), "left_semi")
      .select(col(idCol), col("pos"))
    mergeSpans(hit, idCol, k)
  }

  /** Per-document duplicated-character load derived from
    * [[duplicatedSpans]]: (`idCol`, n_chars, dup_chars, dup_frac) — the
    * thresholdable form (the paper removes spans; production pipelines
    * more often drop whole documents past a duplication budget, because
    * span excision changes token offsets downstream). Spans are disjoint
    * per doc, so dup_chars = sum(span_len) counts each duplicated char
    * once and dup_frac ≤ 1. Documents with no duplicated span report 0.
    */
  def substringDupStats(docs: DataFrame, idCol: String, k: Int = 20): DataFrame = {
    val perDoc = duplicatedSpans(docs, idCol, k)
      .groupBy(col(idCol)).agg(sum("span_len").as("dup_chars"))
    // join side is ≤ one row per input doc — data-sized, left UNHINTED
    // (AQE may broadcast on runtime stats, never a hard hint)
    ensureFns(docs).select(col(idCol), length(col("text")).as("n_chars"))
      .join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol), col("n_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      // zero guard: 0/0 is NaN in Spark but NULL/Inf in other engines —
      // an empty doc has no duplicated chars, so report 0 (r10 ADVICE)
      .withColumn("dup_frac",
        when(col("n_chars") === 0, lit(0.0)).otherwise(
          round6(col("dup_chars").cast("double") / col("n_chars").cast("double"))))
  }

  /** Span-excised corpus: every char covered by a duplicated span
    * ([[duplicatedSpans]]) removed from every document — the remove-all
    * policy of the public ExactSubstr tooling (the Lee et al. 2022
    * release's default; removing "all but one" occurrence needs a global
    * keeper election per duplicated string for no training benefit).
    * Output: (`idCol`, clean_text, removed_chars); docs with no
    * duplicated span pass through unchanged, fully-duplicated docs
    * surface as empty strings (count them, don't silently drop).
    *
    * Scale shape: spans aggregate to one bounded array per affected doc
    * (spans are disjoint, so ≤ len/k per doc) and rejoin the corpus
    * UNHINTED (data-sized — AQE may broadcast at runtime). The stitch is
    * one `aggregate` HOF walking the sorted span array left to right —
    * per-row work linear in doc length. `text`/`spans` inside the lambda
    * are plain attribute references (not computed expressions), so the
    * CollapseProject inlining trap (re-evaluating a computed outer column
    * per element) does not arise.
    */
  def substringPurge(docs: DataFrame, idCol: String, k: Int = 20): DataFrame = {
    val spansArr = duplicatedSpans(docs, idCol, k)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_len"))))
        .as("spans"))
    ensureFns(docs).join(spansArr, Seq(idCol), "left_outer")
      .withColumn("clean_text",
        when(col("spans").isNull, col("text")).otherwise(expr(
          """aggregate(spans,
               named_struct('acc', '', 'cur', 1),
               (st, sp) -> named_struct(
                 'acc', concat(st.acc,
                          substring(text, st.cur, sp.span_start - st.cur)),
                 'cur', sp.span_start + sp.span_len),
               st -> concat(st.acc,
                       substring(text, st.cur, length(text) - st.cur + 1)))""")))
      .select(col(idCol), col("clean_text"),
        (length(col("text")) - length(col("clean_text"))).as("removed_chars"))
  }

  // ---- trained IVF: spherical k-means (Lloyd) over the embedding corpus ----

  /** Deterministic spherical k-means: `c` centroids refined by `iters` Lloyd
    * iterations with COSINE assignment (the metric the search family ranks
    * by — classic spherical k-means). Everything is engine-portable:
    * seeding is the `c` smallest `vec_id`s (no RNG), assignment breaks ties
    * on the smallest `cid`, and centroid updates go through DECIMAL sums
    * (the [[ivfCentroids]] construction) so the trained index is exact and
    * partitioning-independent.
    *
    * Scale shape: each iteration is one corpus scan against a broadcast of
    * `c` centroid rows (per-vector cost = c dot products — the k-means cost
    * model) plus one (cid, pos) partial-sum shuffle whose output is c×dim
    * rows. Nothing in the plan is corpus-quadratic and no window touches
    * the corpus; total cost is iters × scan, linear at any corpus size.
    * This is the TRAINED alternative to [[ivfCentroids]], which trusts a
    * data-provided cluster label; here the cells are learned from the
    * vectors themselves, so the operator works on unlabeled corpora.
    */
  def kmeansCentroids(emb0: DataFrame, c: Int, iters: Int): DataFrame = {
    // Materialize the trained table to a LOCAL relation: downstream plans
    // reference the centroids from several subtrees (probe ranking + final
    // assignment), and Spark reuses none of them (no shared exchange), so
    // returning the lazy lineage re-runs the whole training — iters corpus
    // scans — once per reference (measured: 18 parquet scans in the lazy
    // sim_search_ivf_kmeans plan vs 4 with the local form). The collect is
    // bounded by the `c` LITERAL (c rows of dim doubles), not by data —
    // the same size contract as broadcasting the c-row table.
    //
    // r16: materialized PER ITERATION, not once at the end. Each round's
    // centroids are needed driver-side anyway for the JOIN-FREE local
    // assignment ([[assignCellsLocal]]), which turns every Lloyd
    // iteration into scan → argmax projection → the two update
    // aggregates: one corpus scan and two bounded exchanges per round,
    // instead of the stacked lazy lineage's two scans + four exchanges +
    // a vec_id join per round. Values are bit-identical — a collect
    // round-trips exact doubles, and the local argmax is the pinned
    // equal of the crossJoin shape.
    val emb = kmeansInput(emb0)
    var cents = kmeansSeed(emb, c)
    for (_ <- 1 to iters)
      cents = toLocalRelation(updateCentroids(assignCells(emb, cents), c))
    cents
  }

  /** Collect a bounded frame into a LocalRelation-backed DataFrame (the
    * [[kmeansCentroids]] materialization contract — exact doubles, no
    * persistence, size bounded by the caller's literal).
    */
  private def toLocalRelation(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** Assign the corpus to an existing centroid table — build the index once
    * with [[kmeansCentroids]], then reuse it across assignment + search.
    */
  def kmeansAssignTo(emb0: DataFrame, cents: DataFrame): DataFrame =
    assignCells(kmeansInput(emb0), cents)

  /** Centroid-count threshold above which [[kmeansAssignAuto]] serves
    * assignment through the two-level hierarchical path: at c = 1024 the
    * flat path pays c dots per vector while hier at probeG = 4 pays
    * ~(1 + probeG)·√c ≈ 160 — the compute gap that funds hier's one
    * extra corpus exchange (HierProbe measured 3.5× end-to-end at
    * c = 3162). Below it flat's single-stage argmax wins.
    */
  val HierAssignCrossoverC: Long = 1024L

  private[graft] def hierAutoPick(c: Long): Boolean = c >= HierAssignCrossoverC

  /** Assignment with the path picked by centroid count (r11 verdict item
    * 6): flat [[kmeansAssignTo]] — exact argmax over all c centroids —
    * below [[HierAssignCrossoverC]]; above it [[kmeansAssignToHier]] at
    * probeG = 4, which HierProbe's parity table shows reproduces flat
    * EXACTLY on clustered corpora (the regime a trained index exists
    * for) while cutting per-vector work from c to ~5·√c dots. Identical
    * output schema either way; the c count is one action over the
    * bounded centroid table. Oracle-pinned registry keys stay below the
    * crossover at sf tiers, so this auto-path engages only at the scale
    * it exists for.
    */
  def kmeansAssignAuto(emb0: DataFrame, cents: DataFrame,
                       probeG: Int = 4): DataFrame = {
    // r16: a LOCAL centroid table's row count is a driver-side length —
    // the count() job only runs for lazy centroid lineages
    val c = localRowCount(cents).getOrElse(cents.count())
    if (hierAutoPick(c)) kmeansAssignToHier(emb0, cents, probeG = probeG)
    else kmeansAssignTo(emb0, cents)
  }

  /** Row count of a LocalRelation-backed frame without a job; None for
    * anything lazy.
    */
  private def localRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(lr.data.length.toLong)
      case _ => None
    }

  /** Normed, zero-norm-free corpus view (cosine is undefined on zero
    * vectors — excluded up front, same contract as [[knnJoin]]).
    */
  private def kmeansInput(emb0: DataFrame): DataFrame =
    ensureFns(emb0).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dot("embedding", "embedding")))
      .filter(col("nrm") > 0)

  /** Seed centroids: the `c` smallest vec_ids, cid = rank — ONE bounded
    * top-c collect (≤ c rows by the literal), the rank assigned on the
    * driver, returned as a local relation (no window exchange).
    */
  private def kmeansSeed(emb: DataFrame, c: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val top = emb.orderBy(col("vec_id")).limit(c)
      .select(col("embedding").cast("array<double>").as("cvec"))
    val rows = top.collect().toSeq.zipWithIndex.map { case (r, i) => Row(i, r.get(0)) }
    emb.sparkSession.createDataFrame(rows.asJava,
      StructType(StructField("cid", IntegerType, nullable = false) +: top.schema.fields))
  }

  /** Centroids + norm, zero-norm cells dropped (an empty/degenerate cell
    * cannot rank by cosine; deterministic on both engines).
    */
  private def withCnorm(cents: DataFrame): DataFrame =
    cents.withColumn("cnrm", sqrt(expr("graft_dot(cvec, cvec)")))
      .filter(col("cnrm") > 0)

  /** Hard assignment: argmax cosine over the broadcast centroid table, tie
    * broken on the smallest cid; the embedding/nrm payload rejoins by
    * vec_id AFTER the argmax (see [[argmaxCell]] for why it must not ride
    * through the aggregate).
    */
  private[graft] def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    localCentroids(cents) match {
      case Some(cs) =>
        // replicate withCnorm driver-side: zero/NaN-norm cells are dropped
        // before assignment (same l2 norm arithmetic as
        // sqrt(graft_dot(cvec, cvec)): index-order sum, double math)
        val kept = cs.map { case (cid, cv) => (cid, l2norm(cv), cv) }
          .filter(_._2 > 0)
        val dims = kept.map(_._3.length).distinct
        if (kept.nonEmpty && dims.size == 1 && fitsLocalCentroids(kept.size, dims.head))
          assignCellsLocal(emb, kept, cents.schema("cid").dataType)
        else assignCellsJoin(emb, cents)
      case None => assignCellsJoin(emb, cents)
    }

  /** The r14 crossJoin + groupBy argmax shape — the fallback when the
    * centroid table is not a bounded local relation (or is degenerate:
    * empty after the zero-norm drop, mixed-dim, over
    * [[LocalCentroidMaxBytes]]).
    */
  private def assignCellsJoin(emb: DataFrame, cents: DataFrame): DataFrame =
    argmaxCell(emb,
      ensureFns(emb).crossJoin(broadcast(withCnorm(cents)))
        .select(col("vec_id"), col("cid"),
          (dot("embedding", "cvec") / (col("nrm") * col("cnrm"))).as("ccos_raw")))

  /** Byte bound (cells × dim × 8 B) on a centroid table used driver-side:
    * the JOIN-FREE local assignment path bakes the flattened matrix into
    * codegen as a literal reference object, and the driver probe ranking
    * ([[probeCells]]) holds it in driver memory. 2 MiB (4096 cells × 64
    * dims, or 256 cells × 1024 dims) is comfortably a task-binary-sized
    * constant. Past it assignment takes the crossJoin shape (broadcast
    * transport) and probe ranking stays distributed.
    */
  private[graft] val LocalCentroidMaxBytes: Long = 2L * 1024 * 1024

  private[graft] def fitsLocalCentroids(cells: Long, dim: Long): Boolean =
    cells * dim * 8 <= LocalCentroidMaxBytes

  /** The centroid rows of a driver-LOCAL centroid table — Some only when
    * the plan is already a LocalRelation ([[kmeansCentroids]] /
    * [[readAnnIndex]] output), so extraction is a driver-side walk, never
    * a job. None (→ join shape) for lazy lineages and any row the narrow
    * (int cid, array<double> cvec) contract doesn't fit.
    */
  private def localCentroids(cents: DataFrame): Option[Seq[(Int, Array[Double])]] =
    cents.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        try {
          val ci = lr.schema.fieldIndex("cid")
          val vi = lr.schema.fieldIndex("cvec")
          val intCid =
            lr.schema(ci).dataType == org.apache.spark.sql.types.IntegerType
          val anyNull = lr.data.exists(r => r.isNullAt(ci) || r.isNullAt(vi))
          if (!intCid || anyNull) None
          else Some(lr.data.map { r =>
            // toDoubleArray throws on null elements → caught → join shape
            (r.getInt(ci), r.getArray(vi).toDoubleArray())
          })
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }

  /** sqrt(graft_dot(v, v)) driver-side: index-order double accumulation —
    * the identical arithmetic [[withCnorm]] computes per row.
    */
  private def l2norm(v: Array[Double]): Double = math.sqrt(dotLocal(v, v))

  /** graft_dot driver-side: index-order double accumulation. */
  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Flat assignment as ONE codegen'd projection (r16, guide §2.4): the
    * bounded local centroid table bakes into [[graft.functions.ArgmaxCellKey]]
    * literals, so the N×c candidate stream, its vec_id exchange, and the
    * payload rejoin all disappear — the assignment stage is scan →
    * project, zero shuffles. The akey decode is bit-identical to
    * [[argmaxCell]]'s (same pmod/div/divide expressions on the same
    * encoded max), and the kernel computes the same round6-encoded
    * (ccos, −cid) order, so outputs match the join shape row-for-row
    * under the family's vec_id-unique contract.
    */
  private def assignCellsLocal(emb: DataFrame,
                               kept: Seq[(Int, Double, Array[Double])],
                               cidT: org.apache.spark.sql.types.DataType): DataFrame = {
    val cids = kept.map(_._1).toArray
    val cnrms = kept.map(_._2).toArray
    val dim = kept.head._3.length
    val mat = new Array[Double](kept.size * dim)
    kept.zipWithIndex.foreach { case ((_, _, cv), i) =>
      System.arraycopy(cv, 0, mat, i * dim, dim)
    }
    ensureFns(emb)
      .withColumn("akey", call_function("graft_argmax_cell",
        col("embedding"), col("nrm"),
        typedLit(cids.toSeq), typedLit(cnrms.toSeq), typedLit(mat.toSeq)))
      .select(col("vec_id"),
        (lit(2147483647L) - pmod(col("akey"), lit(4294967296L))).cast(cidT).as("cid"),
        col("embedding"), col("nrm"),
        (expr("(akey - pmod(akey, 4294967296L)) div 4294967296L").cast("double")
          / lit(1e6)).as("ccos"))
  }

  /** The argmax tail shared by flat and hierarchical assignment.
    *
    * Two rules make this the shape that survives N×c candidate streams
    * (both learned from ENOSPC runs on this exact operator):
    *
    *  1. The scored stream must be NARROW — (vec_id, cid, ccos_raw),
    *     ~20 B/row, never the embedding. An array-bearing agg buffer
    *     cannot hash-aggregate, and at 100k vectors × c=3162 the sorted
    *     candidate stream dragging 64-float payloads is ~160 GB of spill
    *     (the r12 Stress ENOSPC). The embedding rejoins by vec_id AFTER
    *     the argmax — one corpus-sized narrow equi-join, bytes linear in
    *     N, never N×c.
    *  2. The argmax itself must be a FIXED-WIDTH PRIMITIVE aggregate.
    *     `max(struct(...))` — even all-primitive — is not a mutable agg
    *     buffer, so Spark plans SortAggregate and SORTS the candidate
    *     stream anyway. Instead (round6(ccos), tie-on-smallest-cid) is
    *     encoded into ONE bigint: `m·2³² + (2³¹−1 − cid)` where
    *     m = round-half-away(ccos_raw·10⁶) ∈ [−10⁶, 10⁶] (exactly
    *     round6's integer numerator) and cid ∈ [0, 2³¹) — the cid term
    *     never crosses a 2³² step, so bigint order ≡ (ccos, −cid)
    *     lexicographic order. `max(bigint)` is whole-stage-codegen
    *     HashAggregate: map-side partials collapse each vector's
    *     candidates to 8 bytes before the vec_id exchange, nothing
    *     sorts, nothing spills.
    *
    * Decoding divides the recovered integer by 10⁶ — bit-identical to
    * [[round6]]'s `m/1e6` (same integer, same double division), so
    * oracle hashes are unchanged. The winning cosine rides along in the
    * output — the index-health drift signal ([[annIndexHealth]]) reads
    * it; other consumers ignore it.
    */
  private def argmaxCell(emb: DataFrame, scored: DataFrame): DataFrame = {
    val cidT = scored.schema("cid").dataType
    // NaN guard (r12 ADVICE): the bigint encoding would cast a NaN cosine
    // to m=0 — a NaN-poisoned vector would silently assign with a
    // clean-looking ccos=0.0 and stop perturbing the annIndexHealth drift
    // signal (the old max(struct) ranked NaN greatest, so poison was
    // visible). Fail loudly instead: [[kmeansInput]] already excludes
    // zero-norm vectors, so a NaN here means NaN ELEMENTS in a vector or
    // a corrupt centroid — data that must be purged (embeddingHealth
    // finds it), never assigned. One isnan branch per candidate, codegen.
    val y = col("ccos_raw") * lit(1e6)
    val akeyRaw = (floor(abs(y) + lit(0.5)) * signum(y)).cast("long") * lit(4294967296L) +
      (lit(2147483647L) - col("cid").cast("long"))
    val win = scored
      .withColumn("akey",
        when(isnan(col("ccos_raw")),
          raise_error(concat(lit("argmaxCell: NaN assignment cosine for vec_id="),
            col("vec_id").cast("string"),
            lit(" — NaN-poisoned vector or centroid; run embeddingHealth and purge")))
            .cast("long"))
          .otherwise(akeyRaw))
      .groupBy(col("vec_id"))
      .agg(max(col("akey")).as("akey"))
      .select(col("vec_id"),
        (lit(2147483647L) - pmod(col("akey"), lit(4294967296L))).cast(cidT).as("cid"),
        (expr("(akey - pmod(akey, 4294967296L)) div 4294967296L").cast("double")
          / lit(1e6)).as("ccos"))
    win.join(emb.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .select(col("vec_id"), col("cid"), col("embedding"), col("nrm"), col("ccos"))
  }

  /** Group-count gate for the one-aggregate [[graft.functions.VecDecimalMean]]
    * Lloyd update: ObjectHashAggregate falls back to SORT-based
    * aggregation past spark.sql.objectHashAggregate.sortBased
    * .fallbackThreshold (128) distinct keys per partition — sorting the
    * corpus-sized candidate stream with its embedding payload (the
    * r11/r12 ENOSPC class). Below this bound the whole update is ONE
    * exchange of group-count×dim decimal buffers; above it the explode
    * shape (fixed-width HashAggregate partials, fallback-free at any c)
    * stays.
    */
  private[graft] val VecMeanMaxGroups = 64

  /** One Lloyd update: per-cell element-wise mean through DECIMAL partial
    * sums (exact, partitioning-independent — the [[ivfCentroids]] rule).
    * `nGroups` = the caller's cell/codebook-entry bound, picking the
    * one-exchange graft_vec_dmean form below [[VecMeanMaxGroups]] (r16)
    * and the two-exchange explode form above it; both compute the
    * identical value (dmean replicates the DECIMAL(20,10) cast, the
    * exact sum, the per-position count and the double division bit for
    * bit — parity spec-pinned).
    */
  private[graft] def updateCentroids(assigned: DataFrame,
                                     nGroups: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    if (nGroups <= VecMeanMaxGroups)
      ensureFns(assigned).groupBy(col("cid"))
        .agg(call_function("graft_vec_dmean", col("embedding")).as("cvec"))
    else
      assigned.select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") / count(lit(1))).as("cval"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cval))), x -> x.cval)").as("cvec"))
  }

  /** Final (vec_id, cid, embedding, nrm) assignment under the trained
    * centroids — the index an IVF search probes.
    */
  def kmeansAssignments(emb0: DataFrame, c: Int, iters: Int): DataFrame =
    kmeansAssignTo(emb0, kmeansCentroids(emb0, c, iters))

  /** The standard public cell-count heuristic for a trained IVF index:
    * c ≈ √N balances the query's c-centroid ranking against the ~N/c
    * per-cell exact search (total probe work ~ c + nprobe·N/c, minimized
    * at c = √(nprobe·N); √N is the conventional fixed-nprobe choice).
    * Clamped to [2, 2^16]: the centroid table must stay a
    * broadcast/collect-bounded literal. Pure, so the selection rule is
    * testable without a corpus; pass `cHint` to override.
    */
  def kmeansAutoC(corpusSize: Long, cHint: Option[Int] = None): Int =
    cHint.getOrElse(
      math.max(2L, math.min(math.round(math.sqrt(corpusSize.toDouble)), 1L << 16)).toInt)

  // ---- two-level (hierarchical) assignment — the auto-c scale path ----

  /** Coarse quantizer over a TRAINED centroid table: spherical k-means
    * with √c groups run on the c centroid rows themselves (bounded input
    * — the training corpus here IS the centroid table, never the vector
    * corpus). Output (cid, cvec) with cid = group id; feed to
    * [[kmeansAssignToHier]].
    */
  def kmeansCoarse(cents: DataFrame, iters: Int = 2): DataFrame = {
    val c = localRowCount(cents).getOrElse(cents.count()) // bounded local relation → driver-side length
    kmeansCentroids(
      cents.select(col("cid").as("vec_id"), col("cvec").as("embedding")),
      kmeansAutoC(c), iters)
  }

  /** The fine→coarse group map: each trained centroid assigned to its
    * nearest coarse group. (gid, cid, cvec) — c rows, bounded by the c
    * literal like every other centroid artifact.
    */
  def centroidGroups(cents: DataFrame, coarse: DataFrame): DataFrame =
    assignCells(
      cents.select(col("cid").as("vec_id"),
          col("cvec").cast("array<double>").as("embedding"))
        .withColumn("nrm", sqrt(dot("embedding", "embedding")))
        .filter(col("nrm") > 0),
      coarse)
    .select(col("cid").as("gid"), col("vec_id").as("cid"),
      col("embedding").as("cvec"))

  /** Two-level assignment — the auto-c scale path (r10 verdict item 4).
    * Flat [[assignCells]] scans ALL c centroids per vector: at the √N
    * rule's c on a 10¹²-vector corpus that is c = 10⁶ dot products per
    * vector — training cost N·√N per Lloyd iteration, the silent wall
    * the r10 verdict named. Here each vector first ranks the √c COARSE
    * groups ([[kmeansCoarse]] — argmax, the proven partial-agg shape),
    * then scans only its group's fine centroids (expected c/√c = √c),
    * so per-vector work is O(2√c): at c = 10⁶, ~2,000 dots instead of
    * 10⁶ — a 500× cut. Both stages are broadcast-join + map-side-argmax
    * (no corpus window, no corpus-keyed self-join); the price is one
    * extra vec_id agg exchange vs flat's one.
    *
    * APPROXIMATION CONTRACT: the nearest fine centroid can live outside
    * the vector's probed coarse groups (the standard IMI/hierarchical-
    * IVF residual miss), so assignments can differ from flat on
    * near-tie vectors. `probeG` is the quality dial — each vector scans
    * its top-`probeG` coarse groups (per-vector work √c + probeG·√c,
    * still ≪ c): on CLUSTERED corpora (the regime a trained index
    * exists for) parity with flat is ~1.0 even at probeG = 1, while on
    * UNIFORM random vectors — the worst case, where near-equidistant
    * ties dominate and cell identity is arbitrary — parity is low but
    * the winning-cosine loss on disagreements stays small (the metric
    * the index ranks by; HierProbe's two-regime table in NOTES.md).
    * Flat assignment stays the exactness path (and the oracle path).
    * Maintenance paths ([[annIndexHealth]]/[[writeAnnAssignments]]) pick
    * this path automatically above [[HierAssignCrossoverC]] via
    * [[kmeansAssignAuto]] — oracle-pinned keys stay below the crossover
    * at sf tiers, so the swap engages only at the scale it exists for.
    *
    * The fine-table broadcast is still c rows — the two-level split cuts
    * COMPUTE, not broadcast bytes; the byte wall is gated at
    * [[CentroidBudgetBytes]] IN THIS PATH via [[centroidGate]] (and
    * independently at [[readAnnIndex]] for persisted indexes — r11
    * ADVICE: a cents frame passed directly must not broadcast ungated),
    * so an over-budget index fails loudly instead of silently shipping a
    * multi-GB broadcast to every executor.
    */
  def kmeansAssignToHier(emb0: DataFrame, cents: DataFrame,
                         iters: Int = 2, probeG: Int = 4): DataFrame = {
    require(probeG >= 1, s"probeG must be >= 1, got $probeG")
    centroidGate(cents)
    val coarse = kmeansCoarse(cents, iters)
    val groups = withCnorm(centroidGroups(cents, coarse))
    val emb = kmeansInput(emb0)
    // stage 1: top-probeG coarse groups per vector. The scored stream is
    // NARROW — (vec_id, gid, gcos) only, ~20 B/row. Carrying the
    // embedding through this aggregate was the r11 ENOSPC: collect_list
    // plans as ObjectHashAggregate, which falls back to SORT-based
    // aggregation past spark.sql.objectHashAggregate.sortBased
    // .fallbackThreshold (default 128 keys — every real partition), and
    // sorting N·√c rows that each drag a 64-float array is a
    // corpus×√c-sized spill (~170 GB at 10M vectors, c=3162; the narrow
    // stream is ~17 GB). The embedding rejoins by vec_id afterwards —
    // one corpus-sized equi-join instead of a corpus×√c-sized sort.
    // Ties break on the smaller gid via the (-gcos, gid) struct sort.
    val scoredG = ensureFns(emb).crossJoin(broadcast(withCnorm(coarse)))
      .select(col("vec_id"), col("cid").as("gid"),
        round6(dot("embedding", "cvec") / (col("nrm") * col("cnrm"))).as("gcos"))
    val topGids = scoredG.groupBy(col("vec_id"))
      .agg(
        expr(s"transform(slice(array_sort(collect_list(struct(-gcos AS ng, gid))), 1, $probeG), x -> x.gid)")
          .as("gids"))
    val topG = emb.join(topGids, "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(col("gids")).as("gid"))
    // stage 2: fine argmax within the probed groups (argmax dedups a
    // vector's candidates across groups). Same narrow-stream rule as
    // stage 1: ccos computes while the embedding is still attached (one
    // row per probed fine centroid), but only (vec_id, cid, ccos) enters
    // the aggregate — argmaxCell rejoins the payload from `emb`.
    argmaxCell(emb,
      topG.join(broadcast(groups), "gid")
        .select(col("vec_id"), col("cid"),
          (dot("embedding", "cvec") / (col("nrm") * col("cnrm"))).as("ccos_raw")))
  }

  /** Byte budget for the centroid-table local-relation/broadcast contract:
    * every consumer collects or broadcasts the c-row table, which is
    * "bounded by the c literal" — but at the √N rule's c on a
    * 10¹²-vector corpus (c = 10⁶, 64 dims) that literal is ~0.5 GB and
    * the contract silently degrades (r10 verdict item 4). 256 MB keeps
    * the driver collect + per-executor broadcast comfortably inside
    * default memory budgets; parquet bytes UNDERestimate the in-memory
    * table (~2× for double arrays), which the gate comment at the call
    * site carries.
    */
  val CentroidBudgetBytes: Long = 256L * 1024 * 1024

  /** Enforce the [[CentroidBudgetBytes]] contract on an IN-PLAN centroid
    * table before it is broadcast (the [[readAnnIndex]] gate covers only
    * persisted indexes — r11 ADVICE): c × dim × 8 B doubles × 2
    * in-memory inflation must fit the budget, failing loudly otherwise.
    * One tiny action over the bounded c-row table.
    */
  private[graft] def centroidGate(cents: DataFrame): Unit = {
    val (c, dim) = centroidShape(cents)
    val est = c * dim * 8 * 2
    require(est <= CentroidBudgetBytes,
      s"centroid table over CentroidBudgetBytes: c=$c dim=$dim est=$est B " +
        s"> $CentroidBudgetBytes B — shard the index or raise the budget")
  }

  /** (cells, max dim) of a centroid table — one tiny action over the
    * bounded c-row table.
    */
  private def centroidShape(cents: DataFrame): (Long, Long) = {
    val row = cents.agg(count(lit(1)), max(size(col("cvec")))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getInt(1).toLong)
  }

  /** [[ivfSearchKmeans]] with c chosen by [[kmeansAutoC]]. `corpusSizeHint`
    * skips the count pass when N is already known (catalog stats, a
    * previous stage's observe()).
    */
  def ivfSearchKmeansAuto(emb0: DataFrame, query: DataFrame, nprobe: Int,
                          k: Int, iters: Int = 2, cHint: Option[Int] = None,
                          corpusSizeHint: Option[Long] = None): DataFrame = {
    val n = corpusSizeHint.getOrElse(emb0.count())
    ivfSearchKmeans(emb0, query, kmeansAutoC(n, cHint), iters, nprobe, k)
  }

  /** IVF search over TRAINED cells ([[kmeansCentroids]]), same two-stage
    * shape as [[ivfSearch]]: rank the c trained centroids against the
    * broadcast query, probe the best `nprobe` cells, exact-search only the
    * vectors assigned to them. The accuracy/cost dial and the plan shape
    * (corpus scanned, never shuffled except the bounded training aggs) are
    * identical to the label-cell form — but needs no label column.
    * Trains per call; a production index trains ONCE
    * ([[kmeansCentroids]]) and serves every query through
    * [[ivfSearchKmeansWith]].
    */
  def ivfSearchKmeans(emb0: DataFrame, query: DataFrame, c: Int, iters: Int,
                      nprobe: Int, k: Int): DataFrame =
    ivfSearchKmeansWith(emb0, kmeansCentroids(emb0, c, iters), query, nprobe, k)

  /** Serve one query against a PRE-TRAINED centroid table — the index-reuse
    * path (train once per corpus snapshot, search many).
    */
  def ivfSearchKmeansWith(emb0: DataFrame, cents: DataFrame, query: DataFrame,
                          nprobe: Int, k: Int): DataFrame = {
    val emb = kmeansInput(emb0)
    val q = query.select(col("embedding").as("qv"))
    val probed = withCnorm(cents).crossJoin(broadcast(q))
      .select(col("cid"),
        round6(expr("graft_dot(cvec, qv)") /
          (col("cnrm") * sqrt(expr("graft_dot(qv, qv)")))).as("ccos"))
      .orderBy(col("ccos").desc, col("cid")).limit(nprobe)
    assignCells(emb, cents)
      .join(broadcast(probed.select(col("cid"))), "cid")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cid"),
        round6(dot("embedding", "qv") / (col("nrm") * sqrt(dot("qv", "qv")))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** Bound on a query batch ([[probeCells]]): the batch is collected to
    * the driver and broadcast back with its Q×nprobe probe list, so it
    * must stay executor-memory-sized. 4096 queries × 64 dims × 8 B ≈ 2 MB
    * — far inside any broadcast budget; a bigger stream should be windowed
    * into batches upstream.
    */
  val QueryBatchMaxRows = 4096

  /** A query batch and the cells it probes, both driver-local relations:
    * `queries` (qid, qv, qnrm) — ≤ [[QueryBatchMaxRows]] rows; `probes`
    * (qid, cid) — ≤ Q·nprobe rows; `cids` — the distinct probed cells.
    */
  private[graft] final case class ProbePlan(queries: DataFrame, probes: DataFrame,
                                            cids: Seq[Int])

  /** The probe step every IVF search entry point shares
    * ([[ivfSearchBatch]], [[annAssignedSearch]], [[annAssignedSearchBatch]]).
    * `q0` is (qid, qv: array<double>).
    *
    * The batch is collected ONCE — zero-norm queries dropped (cosine is
    * undefined), a qid-ordered `limit` one row past the gate so the
    * [[QueryBatchMaxRows]] check needs no count job. Both sides of the Q×c
    * ranking are then bounded by literals, so it runs on the driver
    * against the local centroid table with the executor arithmetic's
    * driver twins (index-order dot, [[l2norm]], [[round6d]]) and graft_topk's
    * order: Spark's double ordering (NaN largest, -0.0 = 0.0), ties to the
    * smaller cid, null cosines (mismatched dims) skipped, zero-norm cells
    * dropped as [[withCnorm]] does. No Spark job ranks anything.
    *
    * Scale gate: a lazy centroid lineage is collected first when it fits
    * [[LocalCentroidMaxBytes]]; past that bound (lazy or local) the ranking
    * runs distributed — the graft_topk heap per query — and only its
    * ≤ Q·nprobe probe rows are collected.
    */
  private[graft] def probeCells(q0: DataFrame, cents: DataFrame,
                                nprobe: Int): ProbePlan = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val spark = q0.sparkSession
    val qSel = ensureFns(q0).withColumn("qnrm", sqrt(dot("qv", "qv")))
      .filter(col("qnrm") > 0)
    // ordered, so the bounded collect is ONE take-ordered job (a bare
    // limit scans partitions in scale-up rounds, one job each); `qv` keeps
    // the order non-foldable when qid is a literal (the single-query path)
    val qRows = qSel.orderBy(col("qid"), col("qv")).limit(QueryBatchMaxRows + 1)
      .collect().toSeq
    require(qRows.length <= QueryBatchMaxRows,
      s"query batch exceeds QueryBatchMaxRows=$QueryBatchMaxRows — " +
        "window the query stream into bounded batches upstream")
    val q = spark.createDataFrame(qRows.asJava, qSel.schema)
    val probeRows: Seq[Row] = boundedCentroids(cents) match {
      case Some(cs) =>
        // Spark SQL's `cnrm > 0` is true for NaN (NaN sorts largest)
        val kept = cs.map { case (cid, cv) => (cid, l2norm(cv), cv) }
          .filter { case (_, n, _) => n > 0 || n.isNaN }
        val ranker = new ProbeRanker(kept.map(_._1).toArray, kept.map(_._2).toArray,
          kept.map(_._3).toArray, nprobe)
        qRows.flatMap { r =>
          ranker.top(r.getSeq[Double](1).toArray, r.getDouble(2))
            .map(cid => Row(r.get(0), cid))
        }
      case None =>
        q.crossJoin(broadcast(withCnorm(cents)))
          .select(col("qid"), col("cid"),
            round6(dot("qv", "cvec") / (col("qnrm") * col("cnrm"))).as("ccos"))
          .groupBy(col("qid"))
          .agg(expr(s"graft_topk(ccos, cid, $nprobe)").as("p"))
          .select(col("qid"), explode(col("p")).as("x"))
          .select(col("qid"), col("x.id").cast("int")).collect().toSeq
    }
    val probes = spark.createDataFrame(probeRows.asJava, StructType(Seq(
      qSel.schema("qid"), StructField("cid", IntegerType, nullable = false))))
    ProbePlan(q, probes, probeRows.map(_.getInt(1)).distinct)
  }

  /** The `nprobe` best of a fixed cell set per query, in graft_topk's
    * order: (ccos desc, cid asc) under Spark's double ordering — NaN
    * largest, -0.0 == 0.0. A bounded heap over primitive arrays (root = the
    * worst kept cell), so a query costs c dots and O(c·log nprobe)
    * comparisons with no per-cell allocation; cells of another dimension
    * (a null cosine) are skipped.
    */
  private final class ProbeRanker(cids: Array[Int], cnrms: Array[Double],
                                  cvecs: Array[Array[Double]], nprobe: Int) {
    private val m = math.min(nprobe, cids.length)
    private val hc = new Array[Double](m)
    private val hi = new Array[Int](m)
    private var n = 0

    private def before(c1: Double, id1: Int, c2: Double, id2: Int): Boolean = {
      val c = if (c1 == c2) 0 else java.lang.Double.compare(c2, c1)
      c < 0 || (c == 0 && id1 < id2)
    }
    // heap slot a holds a worse cell than slot b
    private def worse(a: Int, b: Int): Boolean = before(hc(b), hi(b), hc(a), hi(a))
    private def swap(a: Int, b: Int): Unit = {
      val c = hc(a); hc(a) = hc(b); hc(b) = c
      val i = hi(a); hi(a) = hi(b); hi(b) = i
    }
    private def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        var w = i
        if (l < n && worse(l, w)) w = l
        if (l + 1 < n && worse(l + 1, w)) w = l + 1
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }

    /** The query's probe cids, best first. */
    def top(qv: Array[Double], qn: Double): Array[Int] = {
      n = 0
      var j = 0
      while (j < cids.length) {
        if (cvecs(j).length == qv.length) {
          val c = round6d(dotLocal(qv, cvecs(j)) / (qn * cnrms(j)))
          if (n < m) {
            hc(n) = c; hi(n) = cids(j)
            var i = n
            n += 1
            while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
          } else if (m > 0 && before(c, cids(j), hc(0), hi(0))) {
            hc(0) = c; hi(0) = cids(j)
            siftDown()
          }
        }
        j += 1
      }
      // drain worst first into the back of the result
      val out = new Array[Int](n)
      while (n > 0) {
        out(n - 1) = hi(0)
        n -= 1
        hc(0) = hc(n); hi(0) = hi(n)
        siftDown()
      }
      out
    }
  }

  /** A centroid table's rows for driver-side use, within
    * [[LocalCentroidMaxBytes]]: a local table's rows as they are, a lazy
    * lineage collected once after a one-row size aggregate. None past the
    * gate or off the narrow (int cid, array<double> cvec) contract.
    */
  private def boundedCentroids(cents: DataFrame): Option[Seq[(Int, Array[Double])]] = {
    def fits(cs: Seq[(Int, Array[Double])]): Boolean =
      fitsLocalCentroids(cs.size, cs.map(_._2.length).foldLeft(0)(math.max))
    if (localRowCount(cents).isDefined) localCentroids(cents).filter(fits)
    else {
      val (cells, dim) = centroidShape(cents)
      if (!fitsLocalCentroids(cells, dim)) None
      else localCentroids(toLocalRelation(cents.select(col("cid"), col("cvec"))))
        .filter(fits)
    }
  }

  /** Per-query top-k over the probed cells of an assignment (the shared
    * tail of the batched search paths): the probe list EQUI-joins the
    * assignment on `cid` — each vector fans out only to the queries that
    * probed its cell — then per-(query, vector) cosine and the
    * `graft_topk` bounded heap (map-side eviction; the final exchange
    * carries Q·k rows, never a global sort). Output: (qid, vec_id, cos).
    */
  private def probedTopK(assigned: DataFrame, p: ProbePlan, k: Int): DataFrame =
    assigned.select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
      .join(broadcast(p.probes), "cid")
      .join(broadcast(p.queries), "qid")
      .select(col("qid"), col("vec_id"),
        round6(dot("embedding", "qv") / (col("nrm") * col("qnrm"))).as("cos"))
      .groupBy(col("qid"))
      .agg(expr(s"graft_topk(cos, vec_id, $k)").as("nn"))
      .select(col("qid"), explode(col("nn")).as("x"))
      .select(col("qid"), col("x.id").as("vec_id"), col("x.score").as("cos"))

  /** BATCHED trained-IVF search — the query-THROUGHPUT serving shape.
    * [[ivfSearchKmeansWith]] (and the per-query store path
    * [[annAssignedSearch]]) answer ONE query per corpus pass; a real
    * serving job holds a batch of Q queries, and running Q independent
    * jobs pays Q corpus touches. Here the corpus is touched ONCE for the
    * whole batch.
    *
    * Scale shape: the batch (≤ [[QueryBatchMaxRows]]) ranks the bounded
    * c-row centroid table on the driver ([[probeCells]] — one collect of
    * the batch, no ranking job below [[LocalCentroidMaxBytes]]); the
    * Q·nprobe probe list and the batch return as broadcast local
    * relations, and [[probedTopK]] joins them to the corpus assignment —
    * one corpus pass, one Q·k exchange.
    *
    * Per-query semantics are IDENTICAL to [[ivfSearchKmeansWith]] at the
    * same (cents, nprobe, k) BELOW [[HierAssignCrossoverC]] — round6
    * cosine, cell ties to the smaller cid, rank ties to the smaller
    * vec_id (spec-pinned). At c >= the crossover the corpus assignment is
    * [[kmeansAssignAuto]]'s two-level path — the same rule every other
    * serving/maintenance path uses (and exact on clustered corpora, the
    * regime a trained index exists for), instead of paying the flat
    * c-dots-per-vector wall the crossover exists to avoid. Compose with a
    * cid-partitioned assignment store ([[annAssignedSearchBatch]]) for
    * the no-reassign form.
    * Output: (qid, vec_id, cos), k rows per query.
    */
  def ivfSearchBatch(emb0: DataFrame, queries: DataFrame, cents: DataFrame,
                     nprobe: Int, k: Int): DataFrame = {
    val p = probeCells(queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv")), cents, nprobe)
    probedTopK(kmeansAssignAuto(emb0, cents), p, k)
  }

  /** SemDeDup-style semantic dedup over TRAINED cells (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540 — public): assign every vector to
    * its nearest trained centroid ([[kmeansAssignTo]]), then inside each
    * learned cluster drop every vector whose round6 cosine to a
    * SMALLER-id cluster-mate is >= `threshold`. Near-identical MEANING,
    * not near-identical text — the dedup tier that fires on paraphrases
    * and re-encodings the shingle family can't see. Keeper rule: the
    * smallest id of each semantic group survives (the paper keeps
    * low-centroid-similarity examples; the candidate structure is
    * identical and the id rule is deterministic and engine-portable).
    *
    * Scale shape: assignment is one corpus scan against the broadcast
    * c-row centroid table; in-cluster pairing reuses
    * [[embeddingNearDups]] with the learned `cid` as the cell label, so
    * the per-cell quadratic term inherits the [[DefaultMaxCell]] LSH
    * sub-bucket bound and the pair salt. The assignment is referenced by
    * the pair machinery (3×) and the output join, so it follows the
    * [[minhashCandidatesFrom]] cache discipline: persisted while the
    * SMALL dropped-id set materializes eagerly, then released — the
    * final plan computes the assignment once more at consumption instead
    * of once per reference (measured: 28 → 1 core exchanges in the plan
    * audit). The caller keeps only the small persisted dup set, exactly
    * like the minhash pairs. The dropped side rejoins UNHINTED
    * (data-sized — duplication is a data defect; AQE may broadcast at
    * runtime, never a hard hint). Zero-norm vectors are excluded up
    * front (cosine undefined — the [[kmeansInput]] contract), so they
    * neither appear in the output nor veto anything.
    *
    * Output: one row per surviving-or-dropped vector —
    * (vec_id, cid, dropped); survivors = `!dropped`.
    */
  def semanticDedupWith(emb0: DataFrame, cents: DataFrame, threshold: Double,
                        maxCell: Int = DefaultMaxCell): DataFrame = {
    val assigned = kmeansAssignTo(emb0, cents).persist()
    val pairs = embeddingNearDups(
      assigned.select(col("vec_id"), col("cid").as("label"), col("embedding")),
      threshold, maxCell)
    val dropped = pairs.select(col("b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true)).persist()
    dropped.count() // materialize the small dup set off the cached
    assigned.unpersist() // assignment, then release the corpus-sized cache
    assigned.join(dropped, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
  }

  /** [[semanticDedupWith]] with the index trained in-call
    * ([[kmeansCentroids]] on `train`) — train on a corpus snapshot, dedup
    * the full (possibly since-grown) corpus against it.
    */
  def semanticDedup(corpus: DataFrame, train: DataFrame, c: Int, iters: Int,
                    threshold: Double,
                    maxCell: Int = DefaultMaxCell): DataFrame =
    semanticDedupWith(corpus, kmeansCentroids(train, c, iters), threshold,
      maxCell)

  // ---- persisted trained-ANN index: build / search / drift / refresh ----

  /** Index health report ([[annIndexHealth]]): size and assignment-quality
    * metrics of a stored index against the CURRENT corpus, plus the
    * retrain decision and which rule fired.
    */
  final case class AnnIndexHealth(nIndexed: Long, nNow: Long, cIndex: Int,
                                  cAuto: Int, meanCosBuild: Double,
                                  meanCosNow: Double, stale: Boolean,
                                  reason: String)

  private def annStatsPath(path: String): String =
    path.stripSuffix("/") + "_stats"

  /** Train and persist the IVF index for a corpus snapshot: the centroid
    * table at `path` plus one build-stats row (corpus size, c, mean
    * assignment cosine at build) at `path`_stats — the baseline
    * [[annIndexHealth]] measures drift against. The ANN twin of the
    * MinHash signature store: train once per corpus snapshot, serve every
    * query and batch assignment from the store, retrain only when the
    * health check says the corpus outgrew it.
    *
    * Cost: training ([[kmeansCentroids]] — iters linear corpus scans) plus
    * ONE extra assignment scan for the build-stats row. Everything
    * persisted is bounded by the `c` literal except the 1-row stats.
    */
  def writeAnnIndex(emb0: DataFrame, path: String, cHint: Option[Int] = None,
                    iters: Int = 2,
                    corpusSizeHint: Option[Long] = None): Unit = {
    val spark = emb0.sparkSession
    // r16 (guide §1.2/§2.4 — the build was THREE corpus scans beyond
    // training): the pre-count exists only to pick c = √N, so with cHint
    // (or a size hint) it is skipped and n folds into the SAME aggregate
    // that computes mean_cos — one assignment scan total. mean_cos is
    // measured against the just-trained table's VALUES; parquet
    // round-trips doubles exactly, so assigning against the in-memory
    // local relation equals the old write→read-back→collect detour.
    val nPre: Option[Long] = corpusSizeHint.orElse(
      if (cHint.isDefined) None else Some(kmeansInput(emb0).count()))
    val c = kmeansAutoC(nPre.getOrElse(0L), cHint)
    val cents = kmeansCentroids(emb0, c, iters)
    cents.write.mode("overwrite").parquet(path)
    val st = kmeansAssignAuto(emb0, cents)
      .agg(count(lit(1)).as("n"), round6(avg(col("ccos"))).as("m")).head()
    val n = nPre.getOrElse(st.getLong(0))
    val meanCos = st.getDouble(1)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    spark.createDataFrame(
        java.util.Arrays.asList(Row(n, c, meanCos)),
        StructType(Seq(StructField("n", LongType), StructField("c", IntegerType),
          StructField("mean_cos", DoubleType))))
      .write.mode("overwrite").parquet(annStatsPath(path))
  }

  /** The stored centroid table, as the bounded LOCAL relation every
    * consumer treats it as (c rows by the write contract — same size
    * posture as [[kmeansCentroids]]' collect, bounded by the c literal).
    * GATED at `budgetBytes` ([[CentroidBudgetBytes]]): "bounded by the c
    * literal" stops being a real bound once c = √N at corpus scale, so
    * the on-disk size is checked BEFORE the driver collect — an
    * over-budget index fails loudly with the remediation (shrink c via
    * cHint, raise the budget deliberately, or serve assignment through
    * [[kmeansAssignToHier]] against a deliberately-bounded index)
    * instead of silently OOMing the driver or shipping a multi-GB
    * broadcast. Parquet bytes underestimate the in-memory rows ~2×; the
    * budget carries that slack.
    */
  def readAnnIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String,
                   budgetBytes: Long = CentroidBudgetBytes): DataFrame = {
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDiskBytes = fs.getContentSummary(p).getLength
    require(onDiskBytes <= budgetBytes,
      s"ANN index at $path is $onDiskBytes bytes on disk — over the " +
        s"$budgetBytes-byte centroid collect/broadcast budget. Retrain " +
        "with a smaller cHint, raise budgetBytes deliberately, or serve " +
        "assignment hierarchically (kmeansAssignToHier).")
    val onDisk = spark.read.parquet(path).select(col("cid"), col("cvec"))
    spark.createDataFrame(onDisk.collect().toSeq.asJava, onDisk.schema)
  }

  /** Serve a query from the stored index ([[ivfSearchKmeansWith]] over the
    * persisted centroids — no training on the query path). NOTE this
    * still re-assigns the corpus per query (one corpus scan × c dots) —
    * fine for batch analytics, wrong for a query STREAM; the serving
    * shape for that is [[writeAnnAssignments]] + [[annAssignedSearch]],
    * where per-query cost is nprobe cells, not the corpus.
    */
  def annIndexSearch(emb0: DataFrame, path: String, query: DataFrame,
                     nprobe: Int, k: Int): DataFrame =
    ivfSearchKmeansWith(emb0, readAnnIndex(emb0.sparkSession, path), query,
      nprobe, k)

  /** Persist the index ASSIGNMENT partitioned by cell — the IVF serving
    * layout: one hive partition per cid, each cell's rows in one file
    * (`repartition(col("cid"))` groups a cell into one task before
    * `partitionBy`). Computed once per corpus snapshot (one assignment
    * scan — [[kmeansAssignAuto]] picks the two-level path above
    * [[HierAssignCrossoverC]]); after that EVERY query reads
    * only its probed cells through partition pruning
    * ([[annAssignedSearch]]) — per-query bytes are nprobe/c of the
    * corpus instead of a full scan. At c = √N this is the difference
    * between per-query O(N) and per-query O(√N·nprobe): the other half
    * of the r10 √N-wall fix (the two-level assignment bounds the BUILD;
    * this bounds the SERVE).
    *
    * `exact = true` forces the FLAT assignment regardless of c — the
    * store is then row-identical to [[kmeansAssignTo]] unconditionally
    * (so [[annAssignedSearch]]'s spec-pinned parity with
    * [[ivfSearchKmeansWith]] holds at ANY c), at the flat path's
    * c-dots-per-vector build cost. The default (auto) matches flat below
    * [[HierAssignCrossoverC]] and on clustered corpora above it.
    */
  def writeAnnAssignments(emb0: DataFrame, cents: DataFrame,
                          path: String, exact: Boolean = false): Unit =
    writeAssignedCells(
      if (exact) kmeansAssignTo(emb0, cents) else kmeansAssignAuto(emb0, cents),
      path)

  /** Write an already-computed assignment (e.g. [[kmeansAssignToHier]]'s)
    * in the cell-partitioned serving layout.
    */
  def writeAssignedCells(assigned: DataFrame, path: String): Unit =
    assigned.select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Append a DELTA batch into an existing cell-partitioned assignment
    * store without retraining or rewriting it — the index-maintenance op
    * between full rebuilds (annIndexHealth's drift/size rules decide WHEN
    * to retrain; this is the cheap path while the trained centroids still
    * describe the corpus). Work is delta-proportional: only the delta
    * assigns (against the bounded c-row centroid table, auto-path above
    * the crossover), and `mode("append")` adds files under the delta's
    * cid= partitions — existing cell files are never read, rewritten, or
    * touched (spec-pinned by file inventory + task input metrics).
    *
    * Id discipline is the CALLER's contract (same as the diff family's
    * PK contract): replaying a delta duplicates its rows. With
    * `dedupeAgainstStore = true` the delta anti-joins the store's vec_id
    * column first — a column-pruned store scan, history-proportional, so
    * the default stays off for the hot path (an upstream ledger is the
    * production replay guard, the MigrateJob pattern).
    */
  def appendAnnAssignments(delta: DataFrame, cents: DataFrame, path: String,
                           exact: Boolean = false,
                           dedupeAgainstStore: Boolean = false): Unit = {
    val d0 =
      if (!dedupeAgainstStore) delta
      else
        // Materialized EAGERLY (localCheckpoint) so the store is fully read
        // before the append job opens it for write: without this the guard
        // relies on the file source's planning-time snapshot listing — an
        // implementation detail a refactor to a lazily-listed source would
        // silently break (r13 ADVICE). The checkpoint holds only the
        // deduped DELTA (delta-proportional); the store scan itself stays
        // column-pruned. Concurrent appenders are out of contract either
        // way — single-writer is the caller's replay-ledger discipline.
        delta.join(
          delta.sparkSession.read.parquet(path).select(col("vec_id")),
          Seq("vec_id"), "left_anti").localCheckpoint()
    val assigned =
      if (exact) kmeansAssignTo(d0, cents) else kmeansAssignAuto(d0, cents)
    assigned.select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
      .repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(path)
  }

  /** Serve one query from the cell-partitioned assignment store: rank the
    * c centroids against the query on the driver ([[probeCells]] — one
    * collect of the query row, no ranking job below
    * [[LocalCentroidMaxBytes]]) and scan ONLY the top-`nprobe` cells —
    * the `cid IN (...)` literals hit the hive partition filter, so the
    * parquet reader never lists, opens, or materializes any other cell
    * (partition pruning asserted from task input metrics in AnnIndexSpec).
    * The query returns as a broadcast 1-row local relation. Output is
    * row-identical to [[ivfSearchKmeansWith]] at the same
    * (cents, nprobe, k) — spec-pinned — when the store holds the FLAT
    * assignment: always below [[HierAssignCrossoverC]], at any c with
    * `writeAnnAssignments(…, exact = true)`, and on clustered corpora
    * either way. A default (auto) store above the crossover holds the
    * two-level assignment, and results follow THAT assignment — the
    * documented approximation every auto-path consumer shares. A
    * zero-norm query probes nothing (cosine is undefined) and returns no
    * rows.
    */
  def annAssignedSearch(spark: org.apache.spark.sql.SparkSession,
                        assignPath: String, cents: DataFrame,
                        query: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val p = probeCells(query.select(lit(0L).as("qid"),
      col("embedding").cast("array<double>").as("qv")), cents, nprobe)
    spark.read.parquet(assignPath)
      .filter(col("cid").isin(p.cids.map(c => c: Any): _*))
      .crossJoin(broadcast(p.queries))
      .select(col("vec_id"), col("cid").cast("int").as("cid"),
        round6(dot("embedding", "qv") / (col("nrm") * col("qnrm"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** Batched serving from the cell-partitioned assignment store — the
    * micro-batch consumer's shape (a streaming `foreachBatch` of query
    * requests lands here; StreamingAnnServeSpec drives it): the whole
    * batch's probes resolve in ONE pruned store pass instead of Q
    * single-query reads. Like [[ivfSearchBatch]] but against the STORE —
    * the corpus is never re-assigned, and the scan's `cid IN (…)` union
    * of all probed cells hits the hive partition filter, so per-batch
    * bytes are (distinct probed cells)/c of the corpus (task input
    * metrics pinned in the spec).
    *
    * Scale shape: one collect of the batch (≤ [[QueryBatchMaxRows]]),
    * the Q×c probe ranking on the driver ([[probeCells]]), then one
    * pruned store scan joined to the broadcast probe list and batch
    * ([[probedTopK]]) — one Q·k exchange.
    *
    * Per-query semantics are IDENTICAL to [[annAssignedSearch]] at the
    * same (store, cents, nprobe, k) — spec-pinned.
    * Output: (qid, vec_id, cos), k rows per query.
    */
  def annAssignedSearchBatch(spark: org.apache.spark.sql.SparkSession,
                             assignPath: String, cents: DataFrame,
                             queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val p = probeCells(queries.select(col("vec_id").as("qid"),
      col("embedding").cast("array<double>").as("qv")), cents, nprobe)
    probedTopK(spark.read.parquet(assignPath)
      .filter(col("cid").isin(p.cids.map(c => c: Any): _*))
      .withColumn("cid", col("cid").cast("int")), p, k)
  }

  /** Mean assignment cosine of `emb0` against a centroid table — the
    * index-quality scalar: drops when the corpus distribution drifts away
    * from the trained cells. round6 at both levels so the value is
    * engine-portable and partitioning-independent.
    */
  private[graft] def meanAssignCos(emb0: DataFrame, cents: DataFrame): Double =
    kmeansAssignAuto(emb0, cents)
      .agg(round6(avg(col("ccos"))).as("m")).head().getDouble(0)

  /** Health of the stored index against the CURRENT corpus. Two staleness
    * rules, both against the build-time baseline:
    *
    *   - size: the √N rule's c for today's corpus exceeds `growFactor` ×
    *     the indexed c — cells have grown past their intended occupancy
    *     and per-probe work (~nprobe × N/c) with it;
    *   - drift: mean assignment cosine dropped more than `cosDrop` below
    *     the build-time mean — new data lands far from every trained
    *     centroid (distribution shift exact-size checks can't see).
    *
    * Cost: one corpus scan against the broadcast c-row centroid table
    * plus a count — linear, no shuffle of the corpus. For a corpus too
    * large to re-scan routinely, pass a deterministic SAMPLE of it (e.g.
    * [[sampleStratified]]'s md5-bucket filter) — both metrics are means,
    * so a uniform sample estimates them; the decision thresholds already
    * carry slack.
    */
  def annIndexHealth(emb0: DataFrame, path: String, growFactor: Double = 2.0,
                     cosDrop: Double = 0.05,
                     corpusSizeHint: Option[Long] = None,
                     centsHint: Option[DataFrame] = None): AnnIndexHealth = {
    val spark = emb0.sparkSession
    val st = spark.read.parquet(annStatsPath(path))
      .select(col("n"), col("c"), col("mean_cos")).head()
    val (nIndexed, cIndex, meanBuild) =
      (st.getLong(0), st.getInt(1), st.getDouble(2))
    // r16: nNow and the drift mean come from ONE assignment aggregate —
    // the separate count() was a second full corpus scan (guide §2.4:
    // fuse sequential actions over the same input into one pass). The
    // assignment emits exactly one row per kmeansInput row, so the
    // count is the same number. `centsHint` lets a caller that already
    // holds the stored index's centroid table (ann_index_append reads it
    // right after writing it) skip the readAnnIndex re-collect — the
    // CALLER owns the claim that the hint equals the store's table.
    val now = kmeansAssignAuto(emb0,
        centsHint.getOrElse(readAnnIndex(spark, path)))
      .agg(count(lit(1)).as("n"), round6(avg(col("ccos"))).as("m")).head()
    val nNow = corpusSizeHint.getOrElse(now.getLong(0))
    val cAuto = kmeansAutoC(nNow)
    val meanNow = now.getDouble(1)
    val sizeStale = cAuto > growFactor * cIndex
    val driftStale = meanBuild - meanNow > cosDrop
    val reason =
      if (sizeStale && driftStale) "size+drift"
      else if (sizeStale) "size"
      else if (driftStale) "drift"
      else "fresh"
    AnnIndexHealth(nIndexed, nNow, cIndex, cAuto, meanBuild, meanNow,
      sizeStale || driftStale, reason)
  }

  /** Maintenance entry point: retrain iff [[annIndexHealth]] says stale.
    * Returns the health report that drove the decision (post-refresh
    * state is a fresh index over today's corpus).
    */
  def refreshAnnIndex(emb0: DataFrame, path: String, growFactor: Double = 2.0,
                      cosDrop: Double = 0.05, iters: Int = 2): AnnIndexHealth = {
    val h = annIndexHealth(emb0, path, growFactor, cosDrop,
      corpusSizeHint = None)
    if (h.stale) writeAnnIndex(emb0, path, cHint = None, iters = iters,
      corpusSizeHint = Some(h.nNow))
    h
  }

  // ---- product quantization (PQ): subspace codebooks + ADC code scan ----

  /** Deterministic product-quantization codebooks (the public PQ
    * construction — Jégou/Douze/Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 / arXiv hal-00514462): the embedding
    * splits into `m` contiguous subvectors of width dim/m (a trailing
    * remainder is ignored on both engines) and each subspace trains its
    * own `ks`-entry codebook by Lloyd iterations under the REDUCED L2
    * metric d2r = |c|² − 2·x·c (same argmin as true L2², one dot cheaper,
    * and the quantity both engines round at 6 so ties are portable).
    * Engine-portable by the [[kmeansCentroids]] discipline: seeds are the
    * `ks` smallest vec_ids' subvectors (no RNG), assignment ties break to
    * the smallest code, mean updates go through DECIMAL partial sums.
    * All `m` subspaces train inside the SAME jobs — the subspace ordinal
    * is just a grouping column — so training costs `iters` corpus scans
    * plus m·ks-row aggregates regardless of m.
    *
    * Output: (sub, code, cvec: array<double>) — m·ks rows, materialized
    * to a local relation exactly like [[kmeansCentroids]] (the collect is
    * bounded by the m·ks LITERAL, the same contract as broadcasting it;
    * downstream stages reference it from several subtrees).
    */
  def pqTrainCodebooks(emb0: DataFrame, m: Int = 4, ks: Int = 4,
                       iters: Int = 2): DataFrame = {
    // r16 (the kmeansCentroids discipline applied to PQ): codebooks
    // materialize PER ITERATION, so each Lloyd round's assignment runs
    // the NARROW per-row walk against the driver-grouped codebook row —
    // no m-way subvector explode, no m·ks join fan-out, and no
    // sort-based max(struct) dragging the sv payload through an
    // exchange; the only shuffles per round are pqUpdate's two bounded
    // aggregates. Values are bit-identical: the walk computes pqAssign's
    // exact argmin (same graft_round'd reduced-L2, first-minimum =
    // smallest code), and a collect round-trips exact doubles.
    var cbs = toLocalRelation(pqSeed(emb0, m, ks))
    for (_ <- 1 to iters)
      cbs = toLocalRelation(pqUpdate(pqAssignNarrow(emb0, cbs, m), m * ks))
    cbs
  }

  /** Training assignment as the narrow encode walk (r16): one row per
    * (vector, sub) AFTER the per-row m-code argmin — output
    * (vec_id, sub, code, sv) identical to [[pqAssign]] over
    * [[pqSubspaces]]. The d2r uses graft_round (not Spark's BigDecimal
    * round) so the quantity is bit-for-bit [[pqAssign]]'s `round6(d2r)`;
    * the walk's strict `<` in ascending code order reproduces the
    * max(struct(−d2r, −code)) smallest-code tie-break.
    */
  private def pqAssignNarrow(emb0: DataFrame, cbs: DataFrame, m: Int): DataFrame =
    pqInput(emb0).crossJoin(broadcast(pqCbRow(cbs)))
      .select(col("vec_id"), col("embedding"),
        expr(pqCodesExprWith(m, "graft_round")).as("codes"))
      .select(col("vec_id"), col("embedding"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .select(col("vec_id"), col("sub"), col("code"), expr(
        s"""cast(slice(embedding, sub * (size(embedding) div $m) + 1,
                       size(embedding) div $m) as array<double>)""").as("sv"))

  /** The (vec_id, sub, sv) subvector view: one row per subspace, sliced
    * from the float embedding and cast to double AFTER the slice (cast of
    * float→double is exact, so slice order is immaterial; keeping the
    * slice on the raw attribute avoids re-evaluating a computed cast).
    * Plain projections — no lambda references any outer column.
    */
  private def pqSubspaces(emb0: DataFrame, m: Int): DataFrame =
    pqInput(emb0)
      .withColumn("sub", explode(expr(s"sequence(0, ${m - 1})")))
      .select(col("vec_id"), col("sub"), expr(
        s"""cast(slice(embedding, sub * (size(embedding) div $m) + 1,
                       size(embedding) div $m) as array<double>)""").as("sv"))

  /** Corpus view the PQ family indexes: zero-norm vectors are excluded up
    * front (the final rescore ranks by cosine, undefined on them) — the
    * same contract as [[kmeansInput]] and [[knnJoin]].
    */
  private def pqInput(emb0: DataFrame): DataFrame =
    ensureFns(emb0).filter(sqrt(dot("embedding", "embedding")) > 0)

  /** Seed codebooks: the `ks` smallest vec_ids' subvectors, code = rank.
    * The rank window runs over the already-limited ks·m-row frame —
    * bounded by construction, never the corpus.
    */
  private def pqSeed(emb0: DataFrame, m: Int, ks: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(col("vec_id"))
    pqSubspaces(pqInput(emb0).orderBy(col("vec_id")).limit(ks), m)
      .select(col("sub"), (row_number().over(w) - 1).as("code"),
        col("sv").as("cvec"))
  }

  /** Hard assignment under the reduced-L2 metric: argmin over the
    * broadcast m·ks-row codebook table, tie to the smallest code via one
    * max(struct(−d2r, −code)) aggregate — partial-agg friendly, same
    * shape as [[assignCells]]. The subvector payload rides along for the
    * update step.
    */
  private def pqAssign(subs: DataFrame, cbs: DataFrame): DataFrame =
    subs.join(broadcast(cbs), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("sv"), col("code"),
        round6(dot("cvec", "cvec") - lit(2.0) * dot("sv", "cvec")).as("d2r"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(max(struct((-col("d2r")).as("nd"), (-col("code")).as("nc"),
        col("sv").as("s0"))).as("m"))
      .select(col("vec_id"), col("sub"), (-col("m.nc")).as("code"),
        col("m.s0").as("sv"))

  /** One Lloyd update per (sub, code): element-wise mean through DECIMAL
    * partial sums (exact, partitioning-independent — the [[ivfCentroids]]
    * rule). Codes that lost every member disappear, exactly as empty
    * k-means cells do.
    */
  /** `nGroups` = m·ks from the trainer — the same
    * [[VecMeanMaxGroups]] gate (and the same value parity) as
    * [[updateCentroids]].
    */
  private def pqUpdate(assigned: DataFrame,
                       nGroups: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    if (nGroups <= VecMeanMaxGroups)
      ensureFns(assigned).groupBy(col("sub"), col("code"))
        .agg(call_function("graft_vec_dmean", col("sv")).as("cvec"))
    else
      assigned.select(col("sub"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
          count(lit(1))).as("cval"))
        .groupBy(col("sub"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cval))), x -> x.cval)")
          .as("cvec"))
  }

  /** The m·ks codebook rows grouped into ONE row — `cb` = array (by sub)
    * of array (by code, ascending) of (code, cvec) structs — the bounded
    * attach every per-row PQ stage crossJoins (the same 1-row-BNLJ
    * contract as the query-vector attach). Carrying the code VALUE in the
    * struct keeps encodes correct when a code died during training (the
    * array ordinal no longer equals the code).
    */
  private def pqCbRow(cbs: DataFrame): DataFrame = localCodebook(cbs) match {
    case Some(rows) =>
      // r16: a LOCAL codebook groups driver-side — the two bounded
      // aggregates (and their exchanges) vanish from every consumer plan.
      // Ordering parity with the aggregate form: entries ascend by code
      // (unique within a sub, so the struct sort IS the code sort),
      // subspaces ascend by sub.
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val cb = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, es) =>
        es.sortBy(_._2).map { case (_, code, cv) => Row(code, cv.toSeq) }
      }
      val entryT = StructType(Seq(StructField("code", IntegerType, false),
        StructField("cvec", ArrayType(DoubleType, containsNull = true))))
      cbs.sparkSession.createDataFrame(
        java.util.Arrays.asList(Row(cb)),
        StructType(Seq(StructField("cb",
          ArrayType(ArrayType(entryT, containsNull = true), containsNull = true)))))
    case None =>
      cbs.groupBy(col("sub"))
        .agg(expr("array_sort(collect_list(struct(code, cvec)))").as("entries"))
        .groupBy()
        .agg(expr("transform(array_sort(collect_list(struct(sub, entries))), x -> x.entries)")
          .as("cb"))
  }

  /** The (sub, code, cvec) rows of a LOCAL codebook table — Some only for
    * a LocalRelation plan ([[pqTrainCodebooks]] output), extracted
    * driver-side with no job; None for lazy lineages or rows outside the
    * (int, int, array<double>) contract.
    */
  private def localCodebook(cbs: DataFrame): Option[Seq[(Int, Int, Array[Double])]] =
    cbs.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        try {
          val si = lr.schema.fieldIndex("sub")
          val ci = lr.schema.fieldIndex("code")
          val vi = lr.schema.fieldIndex("cvec")
          val intTs =
            lr.schema(si).dataType == org.apache.spark.sql.types.IntegerType &&
              lr.schema(ci).dataType == org.apache.spark.sql.types.IntegerType
          val anyNull = lr.data.exists(r =>
            r.isNullAt(si) || r.isNullAt(ci) || r.isNullAt(vi))
          if (!intTs || anyNull) None
          else Some(lr.data.map(r =>
            (r.getInt(si), r.getInt(ci), r.getArray(vi).toDoubleArray())))
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }

  /** The (vec_id, sub, code) training assignment under a codebook table —
    * the argmin [[pqEncode]] must agree with (PqSpec pins the equality
    * in-repo; the pq_train_codebooks oracle proves it cross-engine).
    */
  def pqAssignments(emb0: DataFrame, cbs: DataFrame, m: Int = 4): DataFrame =
    pqAssign(pqSubspaces(emb0, m), cbs)
      .select(col("vec_id"), col("sub"), col("code"))

  /** PQ encoder: ONE narrow pass mapping each vector to its m codebook
    * codes — no explode, no shuffle, no join wider than the 1-row
    * codebook attach. codes[s] = the code minimizing round6(d2r) over the
    * subspace's entries, first-minimum = smallest code (the aggregate
    * walks entries in code order with a strict '<'), bit-identical to the
    * [[pqAssign]] argmin by construction. Output (vec_id, codes:
    * array<int>): m small ints per vector — at dim 64 / m 8 / ks 256 the
    * parquet codes column is ~8 B/vector vs 256 B float32 (and vs 64 B
    * for the int8 scan), the 32× scan-bandwidth cut ADC search rides.
    */
  def pqEncode(emb0: DataFrame, cbs: DataFrame, m: Int = 4): DataFrame =
    pqInput(emb0).crossJoin(broadcast(pqCbRow(cbs)))
      .select(col("vec_id"), expr(pqCodesExpr(m)).as("codes"))

  /** The per-row m-code walk over the grouped `cb` attach — shared by
    * [[pqEncode]] and [[pqEncodeIvf]].
    */
  private def pqCodesExpr(m: Int): String = pqCodesExprWith(m, "round")

  /** [[pqCodesExpr]] with the rounding function named: `round` (Spark's
    * BigDecimal round — the pinned [[pqEncode]] form the oracle mirrors)
    * or `graft_round` (the training walk, bit-for-bit [[pqAssign]]'s
    * `round6(d2r)`). The two agree except within ~1 ulp of an exact half
    * at scale 6 — the knife edge where the engines already disagree.
    */
  private def pqCodesExprWith(m: Int, roundFn: String): String =
    s"""transform(sequence(0, $m - 1), s ->
          aggregate(
            transform(element_at(cb, s + 1), e -> named_struct(
              'code', e.code,
              'd', $roundFn(graft_dot(e.cvec, e.cvec)
                         - 2.0d * graft_dot(
                             slice(embedding,
                                   s * (size(embedding) div $m) + 1,
                                   size(embedding) div $m), e.cvec), 6))),
            named_struct('bc', -1, 'bd', cast('Infinity' as double)),
            (st, x) -> if(x.d < st.bd,
                          named_struct('bc', x.code, 'bd', x.d), st),
            st -> st.bc))"""

  /** Asymmetric-distance (ADC) search over a pre-built [[pqEncode]] table:
    * the query builds an m·ks lookup table of subvector dot products (one
    * pass over the codebook rows, grouped to ONE row), every code vector
    * scores as the FIXED-ORDER sum of its m table entries (the aggregate
    * HOF walks s = 0..m−1 sequentially; round6 buffers engine summation
    * noise), the top k·overfetch ids by (approx desc, vec_id) fetch their
    * float rows back via a broadcast id list, and the exact cosine rescore
    * ranks the final k. Neither the codes table nor the corpus is ever
    * hash- or range-exchanged — the same two-stage contract as
    * [[quantizedSearchCodes]], at m bytes/vector scanned instead of dim.
    */
  def pqSearchCodes(codes: DataFrame, corpus: DataFrame, cbs: DataFrame,
                    query: DataFrame, k: Int, m: Int = 4, ks: Int = 4,
                    overfetch: Int = 4): DataFrame = {
    val q = broadcast(ensureFns(query).select(col("embedding").as("qm")))
    // the whole approx scan runs on the codegen'd graft_pq_adc kernel —
    // the interpreted aggregate/filter HOF formulation it replaces pays
    // an m·ks entry re-scan per row outside codegen (the same inversion
    // the int8 scan hit before graft_dot)
    val cand = ensureFns(codes).crossJoin(broadcast(pqLut(cbs, q, m, ks)))
      .select(col("vec_id"),
        round6(expr(s"graft_pq_adc(codes, lutflat, $ks)")).as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(k * overfetch)
    pqRescore(corpus, cand, q, k)
  }

  /** LUT rows: pdot(sub, code) = q_sub · cvec — m·ks rows, grouped to ONE
    * and densified to slot s·ks + code (training-dead codes leave 0-filled
    * holes no vector can reference — codes never renumber), the layout
    * the codegen'd graft_pq_adc kernel indexes.
    *
    * (m, ks) are VALIDATED against the codebook first (one tiny action
    * over the bounded m·ks-row table): graft_pq_adc surfaces a codes/ks
    * contract violation as NULL, and under `orderBy(approx desc)` NULLs
    * sort last — a caller passing the wrong ks would get a silently
    * garbage candidate pool instead of an error (r11 ADVICE), so the
    * mismatch must fail HERE, loudly.
    */
  private def pqLut(cbs: DataFrame, q: DataFrame, m: Int, ks: Int): DataFrame = {
    // r16: a LOCAL codebook validates driver-side — no job
    val (maxCode, nSub) = localCodebook(cbs) match {
      case Some(rows) =>
        (if (rows.isEmpty) -1 else rows.map(_._2).max,
          rows.map(_._1).distinct.size.toLong)
      case None =>
        val chk = cbs.agg(max(col("code")), countDistinct(col("sub"))).head()
        (if (chk.isNullAt(0)) -1 else chk.getAs[Number](0).intValue,
          chk.getLong(1))
    }
    require(maxCode < ks && nSub <= m,
      s"codebook/param mismatch: max code=$maxCode vs ks=$ks, " +
        s"subspaces=$nSub vs m=$m — graft_pq_adc would NULL every score; " +
        "pass the (m, ks) the codebook was trained with")
    ensureFns(cbs).crossJoin(q)
      .select(col("sub"), col("code"), expr(
        s"""graft_dot(slice(qm, sub * (size(qm) div $m) + 1,
                            size(qm) div $m), cvec)""").as("pdot"))
      .groupBy(col("sub"))
      .agg(expr("array_sort(collect_list(struct(code, pdot)))").as("entries"))
      .groupBy()
      .agg(expr("array_sort(collect_list(struct(sub, entries)))").as("se"))
      .select(expr(
        s"""flatten(transform(se, x ->
              transform(sequence(0, $ks - 1), c ->
                aggregate(x.entries, cast(0.0 as double),
                  (acc, e) -> if(e.code = c, e.pdot, acc)))))""").as("lutflat"))
  }

  /** Exact-cosine rescore of the ADC survivors: the k·overfetch id list
    * broadcasts back onto the float corpus — the corpus itself is never
    * exchanged.
    */
  private def pqRescore(corpus: DataFrame, cand: DataFrame, q: DataFrame,
                        k: Int): DataFrame =
    pqInput(corpus).join(broadcast(cand.select(col("vec_id"))), "vec_id")
      .crossJoin(q)
      .select(col("vec_id"), col("label"), cosine("embedding", "qm").as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)

  /** Self-contained PQ search: train + encode + ADC scan in one call. A
    * production index trains ONCE ([[pqTrainCodebooks]]), materializes the
    * codes ONCE ([[pqEncode]] → parquet), and serves every query through
    * [[pqSearchCodes]] — this composition exists for the registry/oracle
    * and small corpora.
    */
  def pqSearch(emb0: DataFrame, query: DataFrame, k: Int, m: Int = 4,
               ks: Int = 4, iters: Int = 2, overfetch: Int = 4): DataFrame = {
    val cbs = pqTrainCodebooks(emb0, m, ks, iters)
    pqSearchCodes(pqEncode(emb0, cbs, m), emb0, cbs, query, k, m, ks, overfetch)
  }

  // ---- IVF+PQ (IVFADC): coarse-cell pruning over the ADC code scan ----

  /** IVFADC index build (Jégou et al., TPAMI 2011 §IV — the composition
    * every production-scale ANN serves from): each vector carries its
    * coarse IVF cell ([[kmeansAssignTo]] semantics — round6-cosine argmax
    * over the trained centroids, ties to the smallest cid) AND its m PQ
    * codes ([[pqEncode]]'s first-minimum walk). Both attaches are bounded
    * broadcasts (the c-row centroid table, the 1-row grouped codebook);
    * the only corpus exchange is the assignment argmax's vec_id combine —
    * a BUILD-time cost paid once per corpus snapshot. Write the output
    * partitioned by `cid` and a query stream reads nprobe/c of the codes
    * at m ints per vector — the double pruning (cells × code width) that
    * makes a 10¹²-vector corpus servable.
    */
  def pqEncodeIvf(emb0: DataFrame, cents: DataFrame, cbs: DataFrame,
                  m: Int = 4): DataFrame =
    kmeansAssignTo(emb0, cents)
      .crossJoin(broadcast(pqCbRow(cbs)))
      .select(col("vec_id"), col("cid"), expr(pqCodesExpr(m)).as("codes"))

  /** ADC search restricted to the query's `nprobe` best coarse cells — the
    * IVFADC serving path over a pre-built [[pqEncodeIvf]] table: rank the
    * c trained centroids against the broadcast query (bounded), keep the
    * top `nprobe` cells, ADC-score ONLY the codes rows in them (a
    * broadcast semi-join — when the table is written partitioned by cid
    * the filter partition-prunes instead), exact-rescore the k·overfetch
    * survivors. Per-query work: c centroid dots + nprobe/c of the codes at
    * m bytes each + k·overfetch float rows; nothing data-sized is ever
    * hash- or range-exchanged.
    */
  def pqSearchIvfCodes(codesC: DataFrame, corpus: DataFrame,
                       cents: DataFrame, cbs: DataFrame, query: DataFrame,
                       k: Int, nprobe: Int = 2, m: Int = 4, ks: Int = 4,
                       overfetch: Int = 4): DataFrame = {
    val q = broadcast(ensureFns(query).select(col("embedding").as("qm")))
    val probed = withCnorm(cents).crossJoin(q)
      .select(col("cid"),
        round6(expr("graft_dot(cvec, qm)") /
          (col("cnrm") * sqrt(expr("graft_dot(qm, qm)")))).as("ccos"))
      .orderBy(col("ccos").desc, col("cid")).limit(nprobe)
    val cand = ensureFns(codesC)
      .join(broadcast(probed.select(col("cid"))), "cid")
      .crossJoin(broadcast(pqLut(cbs, q, m, ks)))
      .select(col("vec_id"),
        round6(expr(s"graft_pq_adc(codes, lutflat, $ks)")).as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(k * overfetch)
    pqRescore(corpus, cand, q, k)
  }

  /** Serve one query from a cid-PARTITIONED [[pqEncodeIvf]] store (write
    * it `.partitionBy("cid")`): the top-nprobe cell ids collect first
    * (≤ nprobe ints, bounded by the literal) into `cid IN (...)`
    * partition-pruning literals, so the parquet reader never lists,
    * opens, or materializes any other cell's codes — per-query bytes are
    * (nprobe/c)·m ints per vector, the [[annAssignedSearch]] pruning
    * discipline applied to the code scan. Row-identical to
    * [[pqSearchIvfCodes]] at the same arguments (spec-pinned).
    */
  def pqIvfServe(spark: org.apache.spark.sql.SparkSession, codesPath: String,
                 corpus: DataFrame, cents: DataFrame, cbs: DataFrame,
                 query: DataFrame, k: Int, nprobe: Int = 2, m: Int = 4,
                 ks: Int = 4, overfetch: Int = 4): DataFrame = {
    val q = broadcast(ensureFns(query).select(col("embedding").as("qm")))
    val probedCids = withCnorm(cents).crossJoin(q)
      .select(col("cid"),
        round6(expr("graft_dot(cvec, qm)") /
          (col("cnrm") * sqrt(expr("graft_dot(qm, qm)")))).as("ccos"))
      .orderBy(col("ccos").desc, col("cid")).limit(nprobe)
      .collect().map(_.getInt(0)).toSeq
    val cand = spark.read.parquet(codesPath)
      .filter(col("cid").isin(probedCids.map(c => c: Any): _*))
      .crossJoin(broadcast(pqLut(cbs, q, m, ks)))
      .select(col("vec_id"),
        round6(expr(s"graft_pq_adc(codes, lutflat, $ks)")).as("approx"))
      .orderBy(col("approx").desc, col("vec_id"))
      .limit(k * overfetch)
    pqRescore(corpus, cand, q, k)
  }

  /** Self-contained IVF+PQ search: train the coarse quantizer and the PQ
    * codebooks, build the [[pqEncodeIvf]] index, serve through
    * [[pqSearchIvfCodes]]. A production index trains and encodes ONCE —
    * this composition exists for the registry/oracle and small corpora.
    */
  def pqSearchIvf(emb0: DataFrame, query: DataFrame, k: Int, c: Int = 4,
                  nprobe: Int = 2, m: Int = 4, ks: Int = 4, iters: Int = 2,
                  overfetch: Int = 4): DataFrame = {
    val cents = kmeansCentroids(emb0, c, iters)
    val cbs = pqTrainCodebooks(emb0, m, ks, iters)
    pqSearchIvfCodes(pqEncodeIvf(emb0, cents, cbs, m), emb0, cents, cbs,
      query, k, nprobe, m, ks, overfetch)
  }

  // ---- end-to-end training manifest: dedup → decontaminate → gate → shard ----

  /** The "what ships to training" table — the full pre-export pipeline
    * composed end to end from this library's own operators, in the order
    * a production corpus runs them:
    *
    *   1. best-keeper near-dup collapse ([[dedupCorpusBest]] — each LSH
    *      cluster keeps its longest member, ties to the smallest id);
    *   2. benchmark decontamination ([[decontaminate]] at `threshold`,
    *      flagged survivors removed by the byte-gated [[purge]]);
    *   3. a token-count gate [minTokens, maxTokens] — the cheap
    *      Gopher-rule bound (the full rule set is text_quality_filter;
    *      the manifest takes the bound that rides the existing scan);
    *   4. the seeded content-stable shard assignment
    *      ([[graft.core.Ops.shardShuffle]] — no RNG, no global sort).
    *
    * Output: one row per surviving doc — (id, lang, n_tokens, shard,
    * ord), ready to write partitioned by shard. The composition adds NO
    * new shuffle beyond its stages' own: the gate and shard columns are
    * narrow maps over the purge output, and every stage keeps its
    * standalone caps/gates (LSH bucket cap, flagged-id byte gate).
    */
  def trainingManifest(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                       threshold: Double = 0.5, minTokens: Int = 5,
                       maxTokens: Int = 100000, numShards: Int = 8,
                       seed: String = "42"): DataFrame = {
    // r16 (guide §5 caching / §2.4): the deduped survivor set `kept` was
    // referenced THREE times (the decontaminate gram side, the purge
    // corpus side, and again when the caller materialized the lazy
    // result), each reference re-running the dedup join + keeper
    // election. It now persists for the call, the (contamination-
    // proportional, small) flagged id set materializes off it once, and
    // the NARROW manifest output (5 columns, no text) materializes
    // eagerly so both caches release here — the decontaminateBloom
    // discipline: eager small results, no corpus-sized cache outliving
    // the call.
    val kept = dedupCorpusBest(corpus, idCol).drop("capped_lsh_buckets")
      .persist()
    val flagged = decontaminate(kept, benchmark, idCol, threshold)
      .filter(col("contaminated")).select(col(idCol))
    val gated = purge(kept, flagged, idCol)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
    val out = graft.core.Ops.shardShuffle(gated, idCol, numShards, seed)
      .select(col(idCol), col("lang"), col("n_tokens"),
        col("shard"), col("ord"))
      .persist()
    out.count() // materialize BEFORE releasing the kept cache it reads
    kept.unpersist()
    out
  }

  // ---- char-n-gram LM quality scoring (the CCNet-style LM filter) ----

  /** Per-document language-model quality score: average log10 probability
    * of the document's char trigrams under the corpus's own trigram
    * distribution, with the model truncated to the `vocabK` most frequent
    * grams (ties broken on the gram hash) and out-of-vocabulary grams
    * floored at half a count — the classic quality signal a CCNet-style
    * filter thresholds on (boilerplate scores high, alphabet soup low).
    *
    * Scale shape: gram extraction is the narrow codegen'd graft_gram_hash
    * pass (no gram strings materialized). The grouped count table is
    * charset³-bounded on natural text but corpus-sized on adversarial
    * input (every trigram distinct) — which is why it is only ever
    * SHUFFLED (hash agg) and TakeOrdered'd, never broadcast or collected;
    * the scoring join broadcasts only the top-`vocabK` rows (bounded by
    * construction), and the per-doc average shuffles on doc_id. No
    * corpus-sized build side exists at any scale, under any data.
    * The per-doc avg sums doubles in partition order —
    * round6 buffers the reordering noise (≤1e-11 at 10⁴ grams/doc, five
    * orders under the rounding step).
    */
  /** Corpus-size crossover for [[lmScore]]'s two value-identical forms.
    * The gram stream feeds BOTH the vocab count-agg and the scoring join;
    * the question is whether to explode it twice (uncached) or once into
    * a persisted cache. Same-host STRESS A/Bs: at 1M docs two-explode
    * wins decisively (8.1 s vs cached 29.1 s — the cache's per-row
    * storage overhead dwarfs a second cheap streaming explode). At 10M
    * docs two runs under different memory/disk states measured
    * 237.7 vs 95.9 (loaded, post-IVF working set) and 62.1 vs 70.4
    * (quiet): the cached form's cost is STABLE across states (70–96 s)
    * while the double explode degrades up to ~4× under pressure — and
    * sustained pressure is the realistic regime at corpus scale. The
    * selector therefore prefers the low-variance cached form above the
    * crossover; 4M is the log-midpoint of the measured bracket.
    */
  val LmCacheCrossoverDocs = 4000000L

  /** Byte-denominated fallback for the crossover when no row count is
    * available from the caller or the plan's statistics: 4M docs at the
    * ~1 KiB/doc Catalyst in-memory row estimate of the test corpora.
    * Selection noise here is perf-only — both forms are value-identical
    * (parity spec-pinned) — so a rough byte estimate is safe.
    */
  val LmCacheCrossoverBytes = 4L * 1024 * 1024 * 1024

  /** Per-document char-trigram LM score with the evaluation form picked
    * by corpus size at [[LmCacheCrossoverDocs]] — `corpusSizeHint` skips
    * any size estimation when the caller already knows N. Without a
    * hint the selector reads the optimized plan's STATISTICS (rowCount
    * when known, else sizeInBytes against [[LmCacheCrossoverBytes]]) —
    * never an extra count() action over a possibly expensive derived
    * lineage. A lineage whose leaves carry NO stats (sizeInBytes is the
    * defaultSizeInBytes fallback) is UNKNOWN, which resolves to the
    * two-explode form — it may be tiny, and materializing a gram cache
    * for it inverts the measured crossover (r11 ADVICE); callers that
    * know better pass corpusSizeHint. Both branches are value-identical
    * (parity spec-pinned); only the physical shape differs.
    */
  def lmScore(docs: DataFrame, vocabK: Int = 4096,
              corpusSizeHint: Option[Long] = None): DataFrame = {
    val small = corpusSizeHint match {
      case Some(n) => n < LmCacheCrossoverDocs
      case None =>
        statsSaySmall(docs, LmCacheCrossoverDocs, LmCacheCrossoverBytes)
          .getOrElse(true) // unknown → no materialization
    }
    if (small) lmScoreTwoExplode(docs, vocabK)
    else lmScoreCached(docs, vocabK)
  }

  /** The uncached form: the gram stream is exploded twice. Wins below the
    * crossover, where the codegen'd explode is cheap relative to cache
    * materialization.
    */
  private[graft] def lmScoreTwoExplode(docs: DataFrame, vocabK: Int = 4096): DataFrame = {
    val g = lmGrams(docs)
    val counts = g.groupBy(col("h")).agg(count(lit(1)).as("c"))
    // total grams WITHOUT a gram-table pass: graft_gram_hash emits
    // exactly max(numChars-2, 0) trigrams per doc (the winnow length
    // relationship, spec-pinned), so the total is a narrow length sum
    val tot = ensureFns(docs).agg(
      sum(greatest(length(col("text")) - 2, lit(0))).cast("double").as("n"))
    val vocab = counts.orderBy(col("c").desc, col("h")).limit(vocabK)
    g.join(broadcast(vocab), Seq("h"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        coalesce(log10(col("c").cast("double") / col("n")),
          log10(lit(0.5) / col("n"))).as("logp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), round6(avg(col("logp"))).as("avg_logp"))
  }

  private def lmGrams(docs: DataFrame): DataFrame =
    // spreadSmall (r15): md5-per-trigram is the LM-score kernel cost
    ensureFns(spreadSmall(docs))
      .select(col("doc_id"), explode(expr("graft_gram_hash(text, 3, ':lm', 15)")).as("h"))

  /** The persisted-gram-table form: one explode, cached. Wins above the
    * crossover, where md5-per-gram CPU dominates and is paid once. The
    * returned frame is persisted (scores only — 3 narrow columns/doc);
    * callers may unpersist once consumed.
    */
  private[graft] def lmScoreCached(docs: DataFrame, vocabK: Int = 4096): DataFrame = {
    val g = lmGrams(docs).persist()
    val counts = g.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val tot = ensureFns(docs).agg(
      sum(greatest(length(col("text")) - 2, lit(0))).cast("double").as("n"))
    val vocab = counts.orderBy(col("c").desc, col("h")).limit(vocabK)
    val out = g.join(broadcast(vocab), Seq("h"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        coalesce(log10(col("c").cast("double") / col("n")),
          log10(lit(0.5) / col("n"))).as("logp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), round6(avg(col("logp"))).as("avg_logp"))
      .persist()
    out.count() // materialize BEFORE dropping the gram cache it derives from
    g.unpersist()
    out
  }

  /** Quality-weighted sampling (the DCLM/FineWeb-style soft filter): each
    * document's keep probability is its LM quality score mapped linearly
    * onto [0, 1] between `lo` and `hi` (clamped), and the keep DECISION
    * is a content-stable md5 draw against that probability — no RNG, no
    * partition dependence, so the sample is reproducible and re-run-
    * stable exactly like [[sampleStratified]]'s buckets. A hard
    * threshold keeps a cliff; the soft form keeps a quality GRADIENT
    * (low-quality docs survive at low rate — the shape that preserves
    * distribution tails instead of truncating them).
    *
    * Scale shape: [[lmScore]]'s cost plus one narrow per-row map; the
    * draw is the 60-bit md5 prefix scaled by 2^-60 (both engines lose
    * the same low bits casting to double, so parity is exact).
    * Output: (doc_id, n_grams, avg_logp, keep_prob, kept). The id column
    * is doc_id by contract — [[lmScore]]'s gram extraction hardcodes it,
    * so an idCol parameter here would be a lie (any other value failed
    * at analysis time; r10 ADVICE).
    */
  def qualityWeightedSample(docs: DataFrame,
                            lo: Double, scale: Double,
                            vocabK: Int = 4096,
                            corpusSizeHint: Option[Long] = None): DataFrame = {
    // (score - lo) * scale, not (score - lo) / (hi - lo): a span like
    // 0.12 is not exactly representable, and the engine mirroring this
    // would compute a SLIGHTLY different divisor from its own literals
    // — multiply by an exactly-representable scale (8.0 = a 0.125 span)
    // and the arithmetic is bit-identical everywhere
    require(scale > 0, s"scale must be positive, got $scale")
    val scored = lmScore(docs, vocabK, corpusSizeHint)
    val p = greatest(lit(0.0), least(lit(1.0),
      (col("avg_logp") - lit(lo)) * lit(scale)))
    val draw =
      expr("cast(conv(substr(md5(concat(cast(doc_id as string), ':qw')), 1, 15), 16, 10) as bigint)")
        .cast("double") / lit(math.pow(2.0, 60))
    scored
      .withColumn("keep_prob", round6(p))
      .withColumn("kept", draw < col("keep_prob"))
  }

  // ---- incremental dedup against a persisted signature store ----

  /** Write the corpus MinHash signature store: (id, sig) parquet at `path`.
    * Computed ONCE per corpus snapshot; every later increment probes the
    * store ([[incrementalDupes]]) without re-shingling a byte of corpus
    * text — at 100 TB this is the difference between a per-batch corpus
    * pass and a per-batch BATCH pass. The store is fingerprint-only
    * (k int64s per doc, ~100 bytes/row): ~10⁻⁴ of the text it indexes.
    */
  def writeSignatureStore(docs: DataFrame, idCol: String, path: String,
                          k: Int = 8): Unit =
    writeSignatures(docs, idCol, path, k, "overwrite")

  /** Land the corpus parquet laid out for candidate-verify pruning
    * (r10 verdict item 6): range-partitioned and sorted by `idCol`, so
    * every file and row group carries a TIGHT id envelope in its parquet
    * min/max stats. [[incrementalDupes]]' verify scan pushes its
    * candidate ids down as an OR-of-equals predicate; against this
    * layout the reader skips every row group whose envelope holds no
    * candidate — the verify scan reads candidate-proportional BYTES,
    * not just candidate-proportional text-expression work. (A
    * round-robin landed layout defeats the pushdown: every row group
    * spans the whole id space and nothing prunes — asserted from task
    * input metrics in StoreLayoutSpec.)
    */
  def writeLandedCorpus(docs: DataFrame, idCol: String, path: String,
                        files: Int = 0): Unit = {
    val ranged =
      if (files > 0) docs.repartitionByRange(files, col(idCol))
      else docs.repartitionByRange(col(idCol))
    ranged.sortWithinPartitions(col(idCol))
      .write.mode("overwrite").parquet(path)
  }

  /** Max candidate ids inlined as the verify scan's pushdown predicate.
    * Each id becomes one EqualTo in an Or chain — the ONLY In shape the
    * parquet filter API pushes per-value at any size (Spark's isin
    * collapses to a min/max range past its 10-value threshold, which a
    * scattered candidate set defeats). 256 keeps the predicate and its
    * codegen bounded; above the gate the verify falls back to the plain
    * semi-join (correct, just unpruned — the r10 behavior).
    */
  val CandidateInFilterMaxIds = 256

  /** Fold an accepted batch INTO the store (parquet append — each increment
    * adds one file set, no rewrite of existing signatures): after a batch
    * is probed ([[incrementalDupes]]) and its keepers chosen, appending
    * their signatures makes the NEXT increment dedup against them too.
    * Store maintenance cost is batch-proportional, like the probe.
    */
  def appendSignatureStore(docs: DataFrame, idCol: String, path: String,
                           k: Int = 8): Unit =
    writeSignatures(docs, idCol, path, k, "append")

  private def writeSignatures(docs: DataFrame, idCol: String, path: String,
                              k: Int, mode: String): Unit = {
    // appending sigs of a DIFFERENT length than the store's would make the
    // band equi-join silently return zero candidates for those rows (band
    // hashes over different-length sigs never collide) — fail fast instead
    if (mode == "append")
      storeSigLen(docs.sparkSession, path).foreach(n => require(n == k,
        s"signature store at $path was written with k=$n; append uses k=$k"))
    // r16: the shingle table has exactly ONE consumer here (the signature
    // write) — the shingleTable persist bought nothing and paid cache
    // materialization for the corpus-sized shingle arrays. Same
    // expressions, unpersisted chain.
    withMinhashSig(withShingles(withWords(docs)), k)
      .select(col(idCol), col("sig"))
      .write.mode(mode).parquet(path)
  }

  /** Verified near-duplicate pairs WITHIN one batch: candidate pairs via
    * LSH banding ([[minhashCandidatesFrom]], a < b by construction), then
    * exact n-gram Jaccard verify. Pure function of the batch content, so a
    * replayed micro-batch computes the identical pair set — callers that
    * drop the `b` side of each pair (deterministic keeper = smallest id)
    * stay idempotent under at-least-once replay. Cost is batch-sized, not
    * corpus-sized. Returned frame (a, b, jac) is persisted; caller
    * unpersists once consumed.
    */
  def batchNearDups(batch: DataFrame, idCol: String, threshold: Double,
                    k: Int = 8, bands: Int = 4, r: Int = 2): DataFrame = {
    val sh = shingleTable(batch, idCol)
    val cand = minhashCandidatesFrom(sh, idCol, k, bands, r)
    val out = cand
      .join(sh.select(col(idCol).as("a"), col("shingles").as("sa")), "a")
      .join(sh.select(col(idCol).as("b"), col("shingles").as("sb")), "b")
      .select(col("a"), col("b"), jaccard(col("sa"), col("sb")).as("jac"))
      .filter(col("jac") >= threshold)
      .persist()
    out.count() // materialize BEFORE dropping the caches it derives from
    cand.unpersist()
    sh.unpersist()
    out
  }

  /** First row's signature length of the store at `path`, or None when the
    * store holds no data yet (an explicit check, [[hasDataFiles]] — any
    * other read failure propagates). The store is k-uniform by construction
    * ([[writeSignatures]] validates appends), so one row suffices.
    */
  private def storeSigLen(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[Int] =
    if (hasDataFiles(spark, path)) sigLen(spark.read.parquet(path)) else None

  private def sigLen(store: DataFrame): Option[Int] =
    store.select(size(col("sig"))).limit(1).collect().headOption.map(_.getInt(0))

  /** Whether `path` holds at least one data file — the explicit "not
    * written yet" probe of the store family. A path that is absent, or that
    * an aborted write left without data (only hidden entries such as
    * `_temporary`), reads as absent without a failed read and its logged
    * stack trace; a path with data that cannot be read fails loudly.
    * Hidden names are Spark's file-index rule: `.`-prefixed, or
    * `_`-prefixed unless a partition directory (`=`). The walk stops at the
    * first data file.
    */
  private[graft] def hasDataFiles(spark: org.apache.spark.sql.SparkSession,
                                  path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String): Boolean =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def holds(dir: Path): Boolean = fs.listStatus(dir).exists { st =>
      !hidden(st.getPath.getName) && (st.isFile || holds(st.getPath))
    }
    fs.exists(p) && (fs.getFileStatus(p).isFile || holds(p))
  }

  // ---- signature store lifecycle: delete / compact ----

  /** Tombstone sidecar of a signature store — deleted ids live here until
    * the next [[compactSignatureStore]] folds them in.
    */
  def storeTombstonePath(path: String): String =
    path.stripSuffix("/") + "_tombstones"

  /** Logically delete a doc-id set's signatures: append the ids to the
    * tombstone sidecar (id-set-proportional parquet append — the store
    * files are untouched). Every probe reads [[liveSignatures]], so
    * deletion takes effect immediately: a purged document
    * (decontaminate_purge, LWW-superseded) stops vetoing near-identical
    * future docs the moment its tombstone lands — no resurrection hazard
    * window.
    */
  def deleteFromSignatureStore(ids: DataFrame, idCol: String,
                               path: String): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("append").parquet(storeTombstonePath(path))

  /** The store minus its tombstones — the view every probe must use.
    * Cost: the store scan the probe pays anyway plus an anti-join against
    * the (deletion-proportional) tombstone set; AQE broadcasts the small
    * side on its own byte stats, so no corpus-sized build arises.
    */
  def liveSignatures(spark: org.apache.spark.sql.SparkSession,
                     path: String, idCol: String): DataFrame =
    withoutTombstones(spark.read.parquet(path), path, idCol)

  /** `store` (the frame read from `path`) minus the tombstone sidecar when
    * it holds data; a sidecar with data that cannot be read fails the read
    * rather than resurrecting deleted docs.
    */
  private def withoutTombstones(store: DataFrame, path: String,
                                idCol: String): DataFrame = {
    val spark = store.sparkSession
    val ts = storeTombstonePath(path)
    if (!hasDataFiles(spark, ts)) store
    else store.join(spark.read.parquet(ts).select(col(idCol)), Seq(idCol), "left_anti")
  }

  /** Rewrite the store down to its live rows and clear the tombstones:
    * bounds the store (and every future probe's band scan) by the LIVE
    * signature count instead of the append history — replayed duplicate
    * rows collapse too (one row per id). Cost is live-signature-sized
    * (fingerprints only, ~100 B/row — ~10⁻⁴ of the text the store
    * indexes), so periodic compaction is cheap even at corpus scale.
    * Single-writer maintenance op, like the append path.
    */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
                            path: String, idCol: String): Unit = {
    val tmp = path.stripSuffix("/") + "_compact_tmp"
    liveSignatures(spark, path, idCol).dropDuplicates(idCol)
      .write.mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(path))
    fs.delete(new org.apache.hadoop.fs.Path(storeTombstonePath(path)), true)
    ()
  }

  /** Near-duplicates of a NEW BATCH against the stored corpus signatures:
    * band the store (integer work only — no corpus text touched), shingle
    * and band the batch (the increment is the only side that pays text
    * cost), equi-join on the band hash, then exact-Jaccard verify that
    * re-shingles ONLY candidate corpus docs — the corpus side is
    * semi-joined down to candidates BEFORE any text expression, so the
    * verify text pass is candidate-proportional, not corpus-proportional.
    *
    * Output: (a = batch id, b = corpus id, jac) for pairs with exact
    * n-gram Jaccard ≥ `threshold`. Eagerly materialized like
    * [[minhashCandidatesFrom]]: the result is duplicate-proportional
    * (small); the shingle/band intermediates it derives from are released
    * here instead of squatting on executor storage.
    */
  def incrementalDupes(corpus: DataFrame, batch: DataFrame, idCol: String,
                       storePath: String, threshold: Double, k: Int = 8,
                       bands: Int = 4, r: Int = 2): DataFrame = {
    // ONE store read (one schema inference) feeds both the k-check and
    // the live view
    val raw = corpus.sparkSession.read.parquet(storePath)
    // a store written with a different k would band to incomparable hashes
    // and the probe would silently find NOTHING — fail fast on mismatch
    // (one-row probe; the store is k-uniform, writeSignatures validates)
    sigLen(raw).foreach(n => require(n == k,
      s"signature store at $storePath has sig length $n but probe uses k=$k"))
    // the LIVE view (store minus tombstones): deleted/purged docs must not
    // veto near-identical future docs — see deleteFromSignatureStore
    val store = ensureFns(withoutTombstones(raw, storePath, idCol))
    val sBand = withBandHashes(store, bands, r)
      .select(col(idCol).as("b"), explode(col("bands")).as("band"))
    val bSh = shingleTable(batch, idCol)
    val bBand = withBandHashes(withMinhashSig(bSh, k), bands, r)
      .select(col(idCol).as("a"), explode(col("bands")).as("band"))
    // candidate pairs persist across their two references (the corpus
    // semi-join and the verify join) — without it the store-band scan and
    // band equi-join run twice per materialization.
    // a == b pairs are excluded: ids are unique across store+batch (the
    // diff family's PK contract), so a self-pair only arises when a batch
    // REPLAY probes a store already holding its own appended signatures —
    // dropping them is the replay-safety condition (a doc must not near-
    // dup itself out of a re-run micro-batch; see IngestPipeline).
    val cand = bBand.join(sBand, "band").filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
      .persist()
    // verify: the corpus pays text cost only for candidate docs. When the
    // candidate set is small (the typical probe — duplicates are rare),
    // the ids also push down as an OR-of-equals predicate so a
    // [[writeLandedCorpus]]-laid-out corpus prunes row groups and pays
    // candidate-proportional BYTES too; the semi-join stays on either way
    // (exactness never depends on the pushdown). Bounded driver collect:
    // ≤ CandidateInFilterMaxIds + 1 rows by the limit.
    val bIdRows = cand.select(col("b")).distinct()
      .limit(CandidateInFilterMaxIds + 1).collect()
    val prunable =
      if (bIdRows.nonEmpty && bIdRows.length <= CandidateInFilterMaxIds)
        corpus.filter(bIdRows.map(r => corpus(idCol) === lit(r.get(0)))
          .reduce(_ || _))
      else corpus
    val candCorpus = prunable.join(cand.select(col("b")),
      prunable(idCol) === col("b"), "left_semi")
    // the candidate corpus shingles have ONE consumer (the verify join):
    // the same expressions as shingleTable, unpersisted
    val cSh = withShingles(withWords(candCorpus)).select(col(idCol), col("shingles"))
    val out = cand
      .join(bSh.select(col(idCol).as("a"), col("shingles").as("sa")), "a")
      .join(cSh.select(col(idCol).as("b"), col("shingles").as("sb")), "b")
      .select(col("a"), col("b"), jaccard(col("sa"), col("sb")).as("jac"))
      .filter(col("jac") >= threshold)
      .persist()
    out.count() // materialize BEFORE dropping the caches it derives from
    cand.unpersist()
    bSh.unpersist()
    out
  }

  /** CCNet-style paragraph-level deduplication (Wenzek et al.,
    * arXiv:1911.00359 §3.1 — "deduplicating at the paragraph level removes
    * boilerplate"): the corpus is segmented into fixed `segWords`-word
    * units (the paragraph stand-in — testdata text has no newlines), each
    * segment md5-keyed, and a segment is dropped from EVERY doc when its
    * key occurs more than once corpus-wide. Granularity sits between
    * dedup_exact (whole doc) and the ExactSubstr span tier (arbitrary
    * char ranges): cheap enough to run first, catches shared boilerplate
    * headers/footers that whole-doc dedup misses.
    *
    * Output per doc: (idCol, n_segs, n_dropped, text_clean) — the doc's
    * surviving segments rejoined in order; fully-duplicated docs surface
    * as empty strings, never silently dropped (same contract as
    * [[substringPurge]]).
    *
    * Scale shape (the reason this tier exists NEXT TO the span tier): the
    * global frequency is a map-combined hash aggregate on the segment key
    * — a boilerplate paragraph duplicated 10^9× collapses to one row per
    * map task BEFORE the shuffle, the exact degenerate input that strands
    * the span tier's gram table in one task. The count join back to
    * occurrences is a plain equi-join on the key: its probe side is
    * skewed by the same hot key, but equi-join partitions are
    * AQE-splittable (the build side per key is exactly 1 count row, so
    * Spark's skew-join splits the probe partition and replicates that
    * row), which no window over the key can do. Reassembly groups by doc
    * id — bounded by doc length, the [[decontaminateSpans]] argument.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, segWords: Int = 10): DataFrame = {
    val segs = withWords(docs)
      .select(col(idCol), col("words"), size(col("words")).as("nw"))
      .select(col(idCol), col("words"),
        explode(expr(s"sequence(0, (nw - 1) div $segWords)")).as("seg_idx"))
      .select(col(idCol), col("seg_idx"),
        array_join(expr(s"slice(words, seg_idx * $segWords + 1, $segWords)"), " ")
          .as("seg_text"))
      .withColumn("h", expr(hashSql("seg_text", "'seg'")))
    val counts = segs.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    segs.join(counts, "h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list drops the nulls the duplicated segments map to;
        // array_sort orders the (seg_idx, seg_text) structs by seg_idx —
        // per-doc memory is bounded by doc length
        array_join(
          expr("transform(array_sort(collect_list(if(cnt = 1, " +
               "struct(seg_idx, seg_text), null))), x -> x.seg_text)"), " ")
          .as("text_clean"))
  }

  /** Per-benchmark-item contamination attribution (the report a bench
    * owner reads AFTER [[decontaminate]] says "something leaked"): which
    * held-out items appear in the training corpus, how many corpus docs
    * carry each, and how strongly. Unlike [[decontaminate]] — which scores
    * each corpus doc against the benchmark's POOLED gram set — the join
    * here keeps the bench id, so the pair ratio is per (corpus doc, bench
    * item) and the rollup is per bench item.
    *
    * Scale shape: corpus grams stream once against the broadcast
    * attributed bench-gram table (bench-suite-sized — same contract as
    * [[decontaminate]]'s pooled set; a benchmark beyond broadcast goes
    * through the [[decontaminateBloom]] prefilter first and feeds the
    * survivors here). The pair aggregate is map-combined; pairs past the
    * threshold are contamination-proportional, so the final per-bench
    * rollup is report-sized.
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                          threshold: Double): DataFrame = {
    val corpusGrams = withShingles(withWords(spreadSmall(corpus)))
      .select(col(idCol).as("corpus_id"), array_distinct(col("shingles")).as("sh"))
      .select(col("corpus_id"), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("g"))
    val benchGramsAttr = withShingles(withWords(benchmark))
      .select(col(idCol).as("bench_id"), array_distinct(col("shingles")).as("sh"))
      .select(col("bench_id"), explode(col("sh")).as("g")).distinct()
    corpusGrams.join(broadcast(benchGramsAttr), "g")
      .groupBy(col("corpus_id"), col("bench_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contam_ratio",
        round6(col("n_shared").cast("double") / col("n_shingles").cast("double")))
      .filter(col("contam_ratio") >= threshold)
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("corpus_id")).as("n_contaminated"),
        max(col("contam_ratio")).as("max_ratio"))
  }

  /** Distributed connected components by alternating LARGE-STAR /
    * SMALL-STAR rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014 §3) — the fully-distributed tier of
    * the [[duplicateClusters]] family. No driver state AT ALL: where the
    * union-find path collects the (byte-gated) edge list and
    * [[distributedClusters]]' label propagation needs one round per unit
    * of graph DIAMETER (a 10⁶-doc near-dup chain = 10⁶ rounds — chains
    * are exactly what boilerplate-mutation near-dups produce), star
    * contraction converges in O(log² n) rounds on ANY topology because
    * each round halves component height by pointer doubling.
    *
    * One round = two edge-set-sized shuffles:
    *   - large-star: every node links its strictly-LARGER neighbors to
    *     the minimum of its closed neighborhood;
    *   - small-star: edges oriented toward the smaller endpoint, every
    *     node links its smaller neighbors (and itself) to that minimum.
    * Both emit edges oriented (larger → smaller), so the fixpoint check
    * is a plain set compare. At the fixpoint every component is a star
    * centered at its minimum id — the same min-id labels every other
    * cluster path produces (spec-pinned against [[duplicateClusters]]).
    *
    * Each round's result is localCheckpoint'ed: the round's plan
    * references its input several times, so without truncation the
    * logical plan DOUBLES per round and analysis time explodes long
    * before the data does (the GraphFrames lesson). On a cluster, swap
    * localCheckpoint for a reliable checkpoint dir — same shape.
    */
  def distributedClustersStar(ids: DataFrame, idCol: String, pairs: DataFrame,
                              maxIters: Int = 25): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = und.groupBy(col("u")).agg(least(col("u"), min(col("v"))).as("m"))
      und.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      or.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // fail LOUDLY on a non-numeric (or null) id: the long cast yields
    // null and the downstream null-dropping filters would silently
    // discard every such edge, self-labelling all docs — the driver
    // union-find path fails loudly on the same input, and the two
    // operators share a contract (r11 ADVICE)
    def asLongId(c: Column): Column =
      when(c.cast("long").isNull,
        raise_error(concat(
          lit("distributedClustersStar: id is not numeric: "),
          coalesce(c.cast("string"), lit("null")))))
        .otherwise(c.cast("long"))
    var e = pairs
      .select(asLongId(greatest(col("a"), col("b"))).as("u"),
        asLongId(least(col("a"), col("b"))).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // Convergence check (r15): both steps emit DISTINCT (larger → smaller)
    // edges, so round-over-round set equality is decidable from an
    // order-independent multiset fingerprint — count + exact DECIMAL sum
    // of per-edge xxhash64 — the dual_write parity construction (residual
    // collision ~2^-64 per round). ONE aggregate over the new edge set per
    // round, with the previous round's reused, replaces the old
    // count+count+exceptAll: two fewer jobs and one fewer edge-set-sized
    // shuffle PER ROUND at any scale (guide §2.4).
    def fingerprint(edges: DataFrame): org.apache.spark.sql.Row =
      edges.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    var fpPrev = fingerprint(e)
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val fpNext = fingerprint(next)
      converged = fpNext == fpPrev
      fpPrev = fpNext
      val old = e
      e = next
      old.unpersist()
      iters += 1
    }
    require(converged, s"star contraction did not converge in $maxIters rounds")
    val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val lab = und.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("cluster_id"))
      .withColumnRenamed("u", idCol)
    val out = ids.select(col(idCol)).distinct()
      .join(lab, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    e.unpersist()
    out
  }

  /** Cluster-size histogram over near-duplicate cluster labels — the
    * dedup AUDIT report (how much duplication does the corpus carry, and
    * in what shape: many pairs vs a few giant boilerplate clusters —
    * the two regimes need different operator choices upstream). One row
    * per observed cluster size: how many clusters have that size, how
    * many docs they hold, and the doc share that would be REMOVED by
    * keep-one collapse at that size ((size-1)/size of the docs).
    *
    * Scale shape: two map-combined hash aggregates (labels → sizes →
    * histogram) and a 1-row total attached by the same contractually
    * bounded broadcast pattern as quality_lm_score; histogram cardinality
    * is ≤ the largest cluster size, report-sized by construction.
    */
  def clusterSizeStats(clusters: DataFrame, idCol: String): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val tot = clusters.select(count(lit(1)).as("n_total"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        round6((col("cluster_size") - 1).cast("double") * col("n_clusters")
          / col("n_total").cast("double")).as("removable_frac"))
      .orderBy(col("cluster_size"))
  }

  /** Above this row estimate (or, when only bytes are known, above
    * [[ExactPercentileCrossoverBytes]]) the exact `percentile`'s value
    * buffer — the whole numeric column concentrated into ONE
    * final-aggregation task — stops being report-sized, and
    * [[embeddingHealth]] switches to the merge-able `approx_percentile`
    * sketch (bounded buffer, map-combined).
    */
  val ExactPercentileCrossoverRows = 50L * 1000 * 1000
  val ExactPercentileCrossoverBytes = 4L * 1024 * 1024 * 1024

  /** Scale-adaptive scan spread for CPU-HEAVY, BYTE-LIGHT kernels (r15;
    * guide §2.5's "input skew — one huge unsplittable file" case): a
    * single-row-group parquet file cannot be split, so a per-row kernel
    * whose cost is invisible to byte-based sizing (gram hashing,
    * shingling, levenshtein) runs at scan parallelism — one task — no
    * matter how many cores the session has. When the optimizer's own
    * stats say the input is SMALL (under `minRowsPerTask` rows per
    * scheduler core, or when no row count exists under `minBytesPerTask`
    * bytes per core — both conf-overridable),
    * redistribute round-robin across the cores so the kernel stage uses
    * them; at scale the stats exceed the threshold (or are UNKNOWN) and
    * the frame passes through UNCHANGED — no exchange in the plan, the
    * file splits already exceed the core count. Round-robin repartition
    * is deterministic (sort-before-repartition is on by default,
    * SPARK-23207) and every consumer here is partitioning-independent
    * (DECIMAL sums / hash-agg / ORDER BY outputs), so results are
    * bit-identical either way.
    */
  private[graft] def spreadSmall(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val cores = sess.sparkContext.defaultParallelism
    val minRows = sess.conf.get("spark.graft.spread.minRowsPerTask", "65536").toLong
    val minBytes = sess.conf.get("spark.graft.spread.minBytesPerTask",
      (8L * 1024 * 1024).toString).toLong
    statsSaySmall(df, cores * minRows, cores * minBytes) match {
      case Some(true) => df.repartition(cores)
      case _ => df
    }
  }

  /** Shared size-regime selector (the [[lmScore]] pattern): Some(true) =
    * small, Some(false) = big, None = UNKNOWN. rowCount when the
    * optimizer knows it; else sizeInBytes — and an implausibly large
    * sizeInBytes (>= Long.MaxValue/2, i.e. the
    * `spark.sql.defaultSizeInBytes` no-stats fallback that stats-less
    * derived lineages inherit) is UNKNOWN, not big (r11 ADVICE: a
    * stats-less lineage must not silently select a size-keyed branch).
    * Each caller resolves None to ITS safe branch: [[embeddingHealth]] →
    * approx (bounded buffer), [[lmScore]] → two-explode (no
    * materialization for a corpus that may be tiny).
    */
  private[graft] def statsSaySmall(df: DataFrame,
                                   maxRows: Long, maxBytes: Long): Option[Boolean] = {
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    // Structural no-stats detection (r12 ADVICE): the >= MaxValue/2
    // sentinel only catches the RAW defaultSizeInBytes leaf — a
    // Project/Filter over a stats-less leaf SCALES sizeInBytes below the
    // sentinel, reading as known-big. Walk the leaves instead: any leaf
    // whose stats carry no rowCount and whose sizeInBytes is at least the
    // session's no-stats fallback means the whole lineage's size is
    // fabricated → UNKNOWN, and the caller picks its safe branch.
    val defaultSize = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    val statsless = plan.collectLeaves().exists { l =>
      val s = l.stats
      s.rowCount.isEmpty && s.sizeInBytes >= defaultSize
    }
    stats.rowCount match {
      case Some(rc) => Some(rc < BigInt(maxRows))
      case None if statsless || stats.sizeInBytes >= BigInt(Long.MaxValue) / 2 => None
      case None => Some(stats.sizeInBytes < BigInt(maxBytes))
    }
  }

  /** Embedding-table health audit — the QA gate BEFORE any ANN index
    * build ([[kmeansCentroids]] divides by the norm; a NaN or zero vector
    * poisons every centroid it touches): one row with vector count, dim
    * range (min ≠ max = mixed-dim corruption), NaN-vector and zero-vector
    * counts, and norm percentiles (p01/p50/p99 — a collapsed or exploding
    * norm distribution is the standard embedding-job failure signature).
    *
    * Scale shape: ONE aggregate over the table; count/min/max/sum partials
    * are map-combined. The percentile form is picked from PLAN STATISTICS
    * by [[statsSaySmall]]: the DEFAULT above the crossover (and whenever
    * size is unknown) is `approx_percentile` — a merge-able sketch with a
    * bounded buffer — because exact `percentile` is an
    * ImperativeAggregate that buffers the whole norm multiset into ONE
    * final task (terabytes at 10¹² vectors). Exact is the small-table
    * regime (report-sized inputs, bit-exact oracle), force-able either
    * way via `exactPercentiles`. Approx-vs-exact parity is spec-pinned
    * (≤2% relative at sf tiers). The norm is graft_dot — codegen'd, no
    * UDF.
    */
  def embeddingHealth(emb: DataFrame, vecCol: String,
                      exactPercentiles: Option[Boolean] = None): DataFrame = {
    val fns = ensureFns(emb)
    val exact = exactPercentiles.getOrElse(
      statsSaySmall(fns, ExactPercentileCrossoverRows,
        ExactPercentileCrossoverBytes).getOrElse(false))
    def pct(q: Double): Column =
      if (exact) expr(s"percentile(nrm, $q)")
      else expr(s"approx_percentile(nrm, $q, 10000)")
    val nrm = sqrt(expr(s"graft_dot($vecCol, $vecCol)"))
    fns
      .select(
        size(col(vecCol)).cast("bigint").as("dim"),
        when(expr(s"exists($vecCol, x -> isnan(x))"), 1L).otherwise(0L).as("has_nan"),
        nrm.as("nrm"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        sum(col("has_nan")).as("n_nan"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        round6(pct(0.01)).as("norm_p01"),
        round6(pct(0.5)).as("norm_p50"),
        round6(pct(0.99)).as("norm_p99"))
  }

  /** Takedown / right-to-be-forgotten purge: drop from `corpus` every row
    * whose `idCol` appears in `requests` (the deletion-request table —
    * DMCA takedowns, GDPR erasure, opt-outs). The complement of
    * [[decontaminatePurge]]'s content-keyed removal: here the KEYS are
    * given, so no text ever needs to be read.
    *
    * Scale shape, two regimes (the [[minhashProbe]] pushdown pattern):
    * a real deletion batch is tiny relative to the corpus, so when the
    * request set is ≤ [[CandidateInFilterMaxIds]] distinct ids (probed
    * with a bounded `limit(max+1).collect()` — never an unbounded
    * driver read) the purge compiles to a PLAIN SCAN FILTER
    * `NOT id IN (…)`: no join, no exchange, and on a
    * [[writeLandedCorpus]]-style id-sorted layout the predicate prunes
    * at the row-group level. Above the gate it falls back to a
    * LEFT ANTI equi-join on the id — AQE broadcasts the request side
    * when it fits, and the join shuffles only otherwise. Exactness
    * never depends on the regime (spec-pinned equal outputs).
    *
    * `idCol` is a PK per the diff family's contract (non-null, unique);
    * like [[duplicateClusters]], a null id fails loudly in the small
    * regime rather than silently diverging between regimes.
    */
  def purgeByIds(corpus: DataFrame, requests: DataFrame, idCol: String): DataFrame = {
    val idRows = requests.select(col(idCol)).distinct()
      .limit(CandidateInFilterMaxIds + 1).collect()
    require(idRows.forall(_.get(0) != null),
      s"purgeByIds: null $idCol in the request table — the id is a PK " +
        "(diff-family contract); a null request row cannot name a document")
    if (idRows.length <= CandidateInFilterMaxIds)
      // null-safe (r12 ADVICE): a null CORPUS id makes `id IN (…)` NULL,
      // which a plain NOT would drop while the anti-join regime keeps the
      // row (null never equals a join key) — the regimes would diverge on
      // exactly the rows that violate the PK contract. coalesce(…, false)
      // makes "not in the request set" hold for null ids in both regimes.
      corpus.filter(!coalesce(col(idCol).isin(idRows.map(_.get(0)): _*), lit(false)))
    else
      corpus.join(requests.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------------
  // Corpus text-relevance analytics (r13): TF-IDF head terms + BM25 search
  // ---------------------------------------------------------------------

  /** Per-`lang` top-`k` terms by TF-IDF — the "what characterizes each
    * sub-corpus" read a curation owner does before building domain mixes.
    *
    * idf is the log-free rational form `n_docs / df`: ranking-equivalent to
    * the classic `ln(N/df)` (ln is monotone), while staying inside the
    * IEEE-exact `{+,-,*,/}` op set so the DuckDB oracle reproduces every
    * score bit-for-bit (libm `ln` is not correctly-rounded and differs
    * across engines; `/` is).
    *
    * Scale shape: tokenize→explode is narrow; the tf aggregate is
    * map-combined on (lang, token); df is a two-level distinct-then-count
    * (both hash aggregates with partial pushdown); the per-lang top-k runs
    * as [[graft.functions.TopKStrPairs]] — a map-side-evicting heap, so the
    * final exchange carries #langs × k rows, never the per-lang distinct
    * token set one window partition would sort (the `row_number()` form
    * funnels ~10^8 distinct tokens per lang through ONE task at 100 TB).
    * Tie-break (score desc, token asc) is the heap's contract — the same
    * total order the oracle's `ORDER BY score DESC, token` expresses.
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 10): DataFrame = {
    val w = withWords(docs)
      .select(col("doc_id"), col("lang"), explode(col("words")).as("token"))
      .filter(col("token") =!= "")
    val tf = w.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
    val dfT = w.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // (tf * n) stays exact in int64 while tf ≤ Long.MaxValue DIV n_docs —
    // enforced per row below (r13 ADVICE: in non-ANSI mode a long product
    // wraps silently, corrupting every score; the guard is one comparison
    // on the token-count-sized tf table, never the corpus). ONE double
    // division at the end — deterministic IEEE.
    val prodGuard = col("tf") <= expr("9223372036854775807L DIV n_docs")
    val scored = tf.join(dfT, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        when(prodGuard,
          round6((col("tf") * col("n_docs")).cast("double") / col("df").cast("double")))
        .otherwise(raise_error(concat(
          lit("tfIdfTopTerms: tf*n_docs overflows int64 (tf="),
          col("tf"), lit(", n_docs="), col("n_docs"), lit(")")))))
    scored
      .groupBy(col("lang"))
      .agg(expr(s"graft_topk_str(score, token, $k)").as("nn"))
      .select(col("lang"), posexplode(col("nn")).as(Seq("rk0", "x")))
      .select(col("lang"), (col("rk0") + 1).cast("int").as("rk"),
        col("x.id").as("token"), col("x.score").as("score"))
      .orderBy(col("lang"), col("rk"))
  }

  /** BM25 top-`kTop` document search for a bag of query `terms` — the
    * lexical-relevance retrieval that complements the vector `sim_search_*`
    * family (production retrieval serves the union of both).
    *
    * The idf is BM25's log-free core ratio `(N - df + ½)/(df + ½)`
    * (ranking-equivalent to the usual `ln(1 + ·)` wrapper — ln is monotone
    * — and, unlike ln, reproducible bit-for-bit on any IEEE engine, so the
    * oracle can verify scores exactly, not just orderings). Per-term
    * contributions are round6'd then summed as DECIMAL — decimal addition
    * is associative, so the 3-term sum is order-independent across engines
    * (the repo-wide convention from Common's scaladoc).
    *
    * Scale shape: per-doc term freqs explode ONLY the query-term hits
    * (`filter(words, w -> w in terms)` runs before the explode — the doc's
    * other tokens never leave the row); tf is map-combined on
    * (doc_id, term); df/avgdl/N are term-count-sized aggregates broadcast
    * back; the final top-k is a TakeOrderedAndProject. Nothing shuffles at
    * corpus row width.
    */
  def bm25Search(docs: DataFrame, terms: Seq[String], kTop: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[a-z0-9]+")),
      "bm25Search terms must be non-empty lowercase word tokens")
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val base = withWords(docs)
      .select(col("doc_id"),
        expr("filter(words, w -> w != '')").as("words"))
      .withColumn("dl", size(col("words")))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"),
        explode(expr(s"filter(words, w -> w in ($termList))")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // every double op below mirrors the oracle's parenthesization exactly:
    // {+,-,*,/} over identical inputs are exactly-rounded per IEEE-754, so
    // both engines produce the same bits and round6 agrees
    val contrib = tf.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("contrib", round6(
        (col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) +
              (lit(b) * col("dl").cast("double")) / col("avgdl")))))
    contrib
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib").cast("decimal(20,6)")).as("score_dec"),
        count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("score_dec").cast("double").as("score"),
        col("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(kTop)
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack/Clarke/Büttcher,
    * SIGIR 2009) — the production RAG shape: a lexical BM25 branch and a
    * dense cosine branch each retrieve their top `k·overfetch`, and the
    * fused score of a doc is Σ over branches of 1/(kRrf + rank). Rank-based
    * fusion needs no score normalization across the two incomparable
    * scales (BM25 points vs cosine), which is why RRF is the default in
    * every hybrid search engine. A doc missing from one branch simply
    * contributes nothing for it.
    *
    * `documents.doc_id` and `embeddings.vec_id` share an id space (the
    * embedding of document i); id 0 is the query (its text supplies
    * nothing — the lexical query is the `terms` list — and its vector is
    * the dense query), so both branches exclude it.
    *
    * Scale shape: each branch is the already-audited bounded form
    * ([[bm25Search]]'s decimal-summed TakeOrdered, [[cosineTopK]]'s
    * broadcast-query scan) — the corpus is never exchanged. The rank
    * windows and the full-outer fusion join run on the two branch LISTS
    * (≤ k·overfetch rows each, a constant), so the unpartitioned
    * row_number windows are driver-bounded by construction, not by data.
    */
  def hybridSearchRrf(docs: DataFrame, embeddings: DataFrame,
                      terms: Seq[String], k: Int = 10, overfetch: Int = 2,
                      kRrf: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = k * overfetch
    val lex = bm25Search(docs.filter(col("doc_id") =!= 0), terms, kTop = n)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("double"))
      .select(col("doc_id"), col("lex_rank"))
    val den = cosineTopK(embeddings.filter(col("vec_id") =!= 0),
        embeddings.filter(col("vec_id") === 0), n)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id")))
          .cast("double"))
      .select(col("vec_id").as("doc_id"), col("dense_rank"))
    // identical parenthesization to the oracle: each 1/(kRrf + rank) is one
    // exactly-rounded division, the fusion is ONE double add — bit-equal
    // across engines; round6 buffers nothing here but keeps the convention
    val kR = lit(kRrf.toDouble)
    lex.join(den, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round6(coalesce(lit(1.0) / (kR + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (kR + col("dense_rank")), lit(0.0))).as("rrf"),
        col("lex_rank"), col("dense_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** Data Selection via Importance Resampling (DSIR — Xie et al., NeurIPS
    * 2023, arXiv:2302.03169): score every raw-corpus doc by how much more
    * likely its hashed-n-gram features are under a TARGET domain's bag-of-
    * words distribution than under the raw corpus's own, then sample by
    * Gumbel-top-k over the log importance weights — the published recipe
    * for carving a domain-matched training subset out of a web crawl.
    *
    *  - features: unigrams hashed into `buckets` buckets (the paper's
    *    hashed n-gram collapse; 60-bit md5 → mod B, engine-portable);
    *  - bucket log-ratio λ[b] = ln((cnt_t[b]+1)/(tot_t+B)) −
    *    ln((cnt_r[b]+1)/(tot_r+B)) (Laplace-smoothed), computed as ONE ln
    *    of the exact rational and rounded at 6 — per-doc
    *    logw = Σ_b count_d[b]·λ[b] then sums EXACTLY via decimal;
    *  - selection: Gumbel-top-k — key = logw + g_d with
    *    g_d = −ln(−ln(u_d)) and u_d a content-stable md5 draw (no RNG:
    *    re-runs and both engines draw identical noise).
    *
    * Scale shape: the corpus is read ONCE into the per-(doc, bucket)
    * feature table (map-combined — ≤ B entries per doc survive each
    * mapper), which is persisted and reused by both the B-row bucket
    * stats and the scoring join (λ broadcasts — it is B rows). The Gumbel
    * draw is a narrow per-row expression and the final selection is a
    * TakeOrdered (no global sort). Driver state: none beyond the B-row
    * broadcast. The returned top-k is materialized eagerly so the feature
    * cache can be released here rather than squatting until session end.
    */
  def dsirSelect(docs: DataFrame, targetSources: Seq[String],
                 buckets: Int = 64, kSelect: Int = 100): DataFrame = {
    require(targetSources.nonEmpty, "dsirSelect needs a target domain")
    val feats = withWords(docs)
      .select(col("doc_id"),
        col("source").isin(targetSources.map(x => x: Any): _*).as("is_t"),
        explode(expr("filter(words, w -> w != '')")).as("w"))
      .withColumn("bucket", expr(s"${hashSql("w", "'dsir'")} % $buckets"))
      .groupBy(col("doc_id"), col("is_t"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val stats = feats.groupBy(col("bucket"))
      .agg(sum(when(col("is_t"), col("n")).otherwise(lit(0L))).as("cnt_t"),
        sum(col("n")).as("cnt_r"))
    val tots = stats.agg(sum(col("cnt_t")).as("tot_t"),
      sum(col("cnt_r")).as("tot_r"))
    // λ[b] as one ln of the exact rational: the four factors are exact
    // int64→double widenings, each product/quotient is exactly rounded,
    // and round6 buffers the ln's final-ulp cross-engine wiggle
    val lam = stats.crossJoin(broadcast(tots))
      .select(col("bucket"), round6(log(
        ((col("cnt_t") + 1).cast("double") *
          (col("tot_r") + buckets).cast("double")) /
          ((col("tot_t") + buckets).cast("double") *
            (col("cnt_r") + 1).cast("double")))).as("lam"))
    // per-doc log weight: n·λ has ≤6 decimals (λ is 6-dec, n integer) so
    // the decimal sum is exact and order-independent (bm25Search pattern)
    val scored = feats.join(broadcast(lam), Seq("bucket"))
      .withColumn("contrib", round6(col("n").cast("double") * col("lam")))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib").cast("decimal(30,6)")).as("logw_dec"))
    // content-stable Gumbel draw: u = (h mod 2^20 + 0.5)/2^20 ∈ (0,1) is a
    // dyadic rational (exact in double); g = −ln(−ln u) rounded at 6
    val gum = docs.select(col("doc_id"), col("source"))
      .withColumn("u",
        ((expr(hashSql("cast(doc_id as string)", "'gum'")) % lit(1048576L))
          .cast("double") + lit(0.5)) / lit(1048576.0))
      .withColumn("gumbel", round6(-log(-log(col("u")))))
    val out = gum.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("logw_dec").cast("double"), lit(0.0)).as("logw"),
        col("gumbel"))
      .withColumn("skey", round6(col("logw") + col("gumbel")))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(kSelect)
      .persist()
    out.count() // materialize the tiny selection, then release the features
    feats.unpersist()
    out
  }

  /** LSH banding parameter sweep — the tuning table a curation owner reads
    * before locking (bands, rows) for a MinHash dedup pass. For every
    * (bands, r) split of ONE shared k = bands·r signature it reports both
    * halves of the trade:
    *
    *  - the CLOSED FORM: the S-curve P(candidate | sim = s) =
    *    1 − (1 − s^r)^bands at s ∈ {0.5, 0.8, 0.9} and its threshold
    *    s* = (1/bands)^(1/r) (where P crosses ~0.5) — more bands of fewer
    *    rows recall lower similarities (and cost more comparisons);
    *  - the MEASURED mass on THIS corpus: distinct candidate pairs the
    *    banding actually produces (hot buckets above `maxBucket` excluded
    *    and counted, same contract as [[minhashCandidatesFrom]]).
    *
    * Scale shape: the corpus is shingled and signed ONCE (both tables
    * persisted, released before return); each config adds one narrow
    * band-hash map over the signature table, and all configs share ONE
    * (config, band)-keyed self-join — the sweep costs one extra shuffle
    * column over a single-config run, not configs× pipelines. The output
    * is configs-many rows.
    */
  def minhashTune(docs: DataFrame, idCol: String,
                  configs: Seq[(Int, Int)] =
                    Seq((16, 1), (8, 2), (4, 4), (2, 8)),
                  maxBucket: Int = 1000): DataFrame = {
    require(configs.nonEmpty && configs.map { case (b, r) => b * r }.distinct.size == 1,
      "minhashTune configs must all split the same signature length")
    val k = configs.head match { case (b, r) => b * r }
    val sess = docs.sparkSession
    val sh = shingleTable(docs, idCol)
    val sigT = withMinhashSig(sh, k).select(col(idCol), col("sig")).persist()
    val banded = configs.map { case (b, r) =>
      withBandHashes(sigT, b, r)
        .select(lit(b).as("nb"), lit(r).as("nr"), col(idCol),
          explode(col("bands")).as("band"))
    }.reduce(_ unionByName _).persist()
    val hot = banded.groupBy(col("nb"), col("nr"), col("band"))
      .agg(count(lit(1)).as("sz")).filter(col("sz") > maxBucket)
      .select(col("nb"), col("nr"), col("band")).persist()
    val ok = banded.join(hot, Seq("nb", "nr", "band"), "left_anti")
    val pairCounts = ok.select(col("nb"), col("nr"), col("band"),
        col(idCol).as("a"))
      .join(ok.select(col("nb"), col("nr"), col("band"), col(idCol).as("b")),
        Seq("nb", "nr", "band"))
      .filter(col("a") < col("b"))
      .select(col("nb"), col("nr"), col("a"), col("b")).distinct()
      .groupBy(col("nb"), col("nr")).agg(count(lit(1)).as("n_pairs"))
    val hotCounts = hot.groupBy(col("nb"), col("nr"))
      .agg(count(lit(1)).as("n_hot_buckets"))
    import sess.implicits._
    val cfg = configs.toDF("nb", "nr")
    val out = cfg
      .join(pairCounts, Seq("nb", "nr"), "left")
      .join(hotCounts, Seq("nb", "nr"), "left")
      .select(col("nb").as("bands"), col("nr").as("rows_per_band"),
        round6(pow(lit(1.0) / col("nb").cast("double"),
          lit(1.0) / col("nr").cast("double"))).as("s_star"),
        round6(lit(1.0) - pow(lit(1.0) - pow(lit(0.5),
          col("nr").cast("double")), col("nb").cast("double"))).as("p050"),
        round6(lit(1.0) - pow(lit(1.0) - pow(lit(0.8),
          col("nr").cast("double")), col("nb").cast("double"))).as("p080"),
        round6(lit(1.0) - pow(lit(1.0) - pow(lit(0.9),
          col("nr").cast("double")), col("nb").cast("double"))).as("p090"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_hot_buckets"), lit(0L)).as("n_hot_buckets"))
      .orderBy(col("bands").desc)
      .persist()
    out.count() // materialize the configs-row report, then drop the caches
    Seq(banded, hot, sigT, sh).foreach(_.unpersist())
    out
  }

  // ---------------------------------------------------------------------
  // BPE vocabulary induction (r14): the merge loop vocab_topk feeds
  // ---------------------------------------------------------------------

  /** One learned merge: at `round`, pair (left, right) had weighted
    * adjacent frequency `cnt` (the round's maximum).
    */
  final case class BpeMerge(round: Int, left: String, right: String,
                            cnt: Long)

  /** The distinct-word frequency table BPE trains on — the Zipf collapse
    * that makes tokenizer induction tractable at corpus scale: ONE
    * map-combined aggregate reduces the corpus to (word, cnt) rows, and
    * every subsequent merge round works at word-table size, never corpus
    * size. Tokenization matches `vocab_topk` (space split, empty tokens
    * dropped) so the two operators describe the same token stream.
    * `syms` starts as the word's character sequence.
    */
  private def bpeWordTable(docs: DataFrame): DataFrame =
    ensureFns(docs)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms", array_remove(split(col("w"), ""), ""))

  /** Byte-pair-encoding vocabulary induction (the public construction —
    * Sennrich/Haddow/Birch, ACL 2016): starting from characters, `rounds`
    * times take the most frequent adjacent symbol pair (weighted by word
    * frequency; ties to the lexicographically smallest (left, right) so
    * the table is deterministic and engine-portable) and merge it
    * everywhere. Stops early when no pair repeats (max count < 2 — merging
    * singletons would just memorize words).
    *
    * Scale shape: the corpus is read ONCE (the [[bpeWordTable]] collapse,
    * materialized by an eager localCheckpoint); each round is then one
    * map-combined pair-count aggregate over the word table (adjacent pairs
    * via zip_with over two slice arguments — no lambda touches an outer
    * column) + a 1-row argmax collect, and one stacked
    * `graft_bpe_merge` projection (codegen'd single pass). Lineage is
    * re-checkpointed every `checkpointEvery` rounds so plan depth stays
    * bounded at large `rounds`. Driver state is the merge table itself —
    * `rounds` entries, bounded by the literal (the r = 30k production
    * tier holds ~30k short strings, KBs). Returns the merge table and the
    * final symbolized word table (callers run round-trip / vocab checks
    * against it).
    *
    * REGIME: below [[bpeFitsDriver]] the loop runs in memory on the
    * collected word table ([[bpeTrainDriver]] — output-identical,
    * spec-pinned), because R sequential rounds each costing a scheduled
    * distributed job is the wrong trade once the word table fits the
    * driver; the distributed rounds are the beyond-gate form.
    * `forceDistributed` pins the distributed regime (specs, scale
    * rehearsal).
    */
  /** Regime gate for [[bpeTrain]]: the distinct-word table's estimated
    * driver footprint (~120 B/word of map+count overhead + ~40 B/char for
    * the early all-singleton symbol vectors — the constants in the
    * estimate below, already ~2× pessimistic vs measured JVM footprints).
    * Below the budget, in-memory training wins by a wide margin: each
    * distributed round is a full word-table explode+aggregate JOB, and
    * BPE's rounds are inherently sequential, so R rounds cost R scheduled
    * scans (measured 69 s for 20 rounds at the sf1 tier vs ~2 s on the
    * driver) — while production vocabularies need thousands of rounds.
    * This is the [[duplicateClusters]] pattern: exact driver compute below
    * a byte gate, the distributed fixpoint above it.
    */
  def bpeFitsDriver(nWords: Long, totalChars: Long,
                    budgetBytes: Long = 512L << 20): Boolean =
    // ~120 B/word of String + array + count + pair-index overhead and
    // ~40 B/char of symbol-cell cost — measured-order JVM footprints,
    // ~2× pessimistic to carry GC headroom
    nWords * 120L + totalChars * 40L <= budgetBytes

  def bpeTrain(docs: DataFrame, rounds: Int = 20,
               checkpointEvery: Int = 8,
               driverWordBudgetBytes: Long = 512L << 20,
               forceDistributed: Boolean = false): (Seq[BpeMerge], DataFrame) = {
    val (m, wc, _) = bpeTrainFull(docs, rounds, checkpointEvery,
      driverWordBudgetBytes, forceDistributed)
    (m, wc)
  }

  /** [[bpeTrain]] plus the driver regime's free audit scalars (None in
    * the distributed regime — [[bpeTrainReport]] then audits via Spark
    * aggregates over the genuinely-distributed word table).
    */
  private[graft] def bpeTrainFull(docs: DataFrame, rounds: Int = 20,
               checkpointEvery: Int = 8,
               driverWordBudgetBytes: Long = 512L << 20,
               forceDistributed: Boolean = false)
      : (Seq[BpeMerge], DataFrame, Option[BpeAudit]) = {
    require(rounds >= 1, s"bpeTrain: rounds must be >= 1, got $rounds")
    // ONE corpus pass builds the word table; the gate aggregate, the
    // driver collect, and every distributed round all read the
    // checkpointed result (the corpus explode is the only corpus-sized
    // work in the whole trainer)
    val wc0 = bpeWordTable(docs).localCheckpoint()
    if (!forceDistributed) {
      val g = wc0.agg(count(lit(1)).as("n"),
        sum(length(col("w"))).as("chars")).head()
      val nW = g.getLong(0)
      val chars = if (g.isNullAt(1)) 0L else g.getLong(1)
      if (bpeFitsDriver(nW, chars, driverWordBudgetBytes))
        return bpeTrainDriver(docs.sparkSession, wc0, rounds)
    }
    var wc = wc0
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val top = wc
        .select(col("cnt"), explode(zip_with(
          expr("slice(syms, 1, size(syms) - 1)"),
          expr("slice(syms, 2, size(syms) - 1)"),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < 2L) done = true
      else {
        val (l, rr, pc) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += BpeMerge(r, l, rr, pc)
        wc = wc.withColumn("syms",
          call_function("graft_bpe_merge", col("syms"), lit(l), lit(rr)))
        if (r % checkpointEvery == 0) wc = wc.localCheckpoint()
        r += 1
      }
    }
    (merges.toSeq, wc, None)
  }

  /** UTF-8 BINARY string order — the tie-break order Spark's `orderBy` on
    * StringType and DuckDB's default collation share. Scala's
    * String.compareTo is UTF-16 code-unit order, which diverges on
    * supplementary-plane characters — the driver tier must not.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Code-point character split — the driver mirror of the distributed
    * `array_remove(split(w, ""), "")` symbol seed (Java's regex empty-
    * pattern split works at code-point boundaries, as does Spark's).
    */
  private def charSyms(w: String): Array[String] = {
    val out = new Array[String](w.codePointCount(0, w.length))
    var i = 0
    var j = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val next = i + Character.charCount(cp)
      out(j) = w.substring(i, next)
      i = next
      j += 1
    }
    out
  }

  /** Greedy left-to-right non-overlapping merge — the driver twin of
    * [[graft.functions.TextOps.bpeMerge]] (same discipline, plain
    * Strings).
    */
  private def mergeSyms(s: Array[String], l: String,
                        r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (s(i) == l && i + 1 < s.length && s(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** The in-memory regime of [[bpeTrain]] (below [[bpeFitsDriver]]):
    * identical merge table and final symbol table as the distributed
    * rounds — same weighted pair counts, same (cnt desc, left asc,
    * right asc) argmax under UTF-8 binary order, same greedy merge, same
    * pc < 2 stop — computed INCREMENTALLY: pair counts build once, and
    * each round (a) FINDS the words containing the merged pair by a
    * compare-only adjacency scan over the whole word table's symbol
    * arrays — O(total symbols) per round — then (b) RE-PROFILES only the
    * hits (decrement old pair profile, greedy re-merge, increment new),
    * which is proportional to the merged pair's occurrence mass. The
    * scan term (a) dominates once the winning pair's mass falls below
    * the symbol count — on Zipfian corpora within the first few dozen
    * rounds — so the per-round cost floor is the scan, not the mass:
    * total cost O(rounds × total symbols) compares plus the mass-
    * proportional re-profile. MEASURED (BpeProbe round tiers at the sf1
    * word table, 2.27M words / ~15M symbols): marginal ~0.37–0.40 s/round
    * and FLAT from round 120 to 520 — the scan floor — vs ~3.5 s/round
    * for the distributed recount regime at the same tier (~9× per round).
    * So a 30k-round tier at this table size would pay ~3 h of scans:
    * that is where a pair→word posting list would earn its keep — it was
    * measured WORSE at the gated 20-round tiers (millions of boxed
    * entries churned per merge dwarf 20 scans), and above the byte gate
    * the distributed regime takes over, so the driver tier as shipped
    * never reaches scan-bound round counts. A full recount per round
    * would instead be O(rounds × total chars) hash-map rebuild work;
    * BpeSpec pins parity with the distributed recount regime.
    * Returned symbol table is a local relation with the distributed
    * branch's exact schema.
    */
  /** Driver-regime audit scalars, computed for free during training.
    * `wordCount`/`symsFp` are the train-side half of the fit/apply parity
    * fingerprint (see [[bpeSymsFingerprint]]) — accumulated in the same
    * tight audit loop, so the parity check never has to aggregate or join
    * the word-table-sized LocalRelation through Spark (measured 15-17 s
    * at the sf1 tier for the join form vs ~free here).
    */
  private[graft] final case class BpeAudit(baseVocab: Long, finalVocab: Long,
                                           roundtripOk: Boolean,
                                           wordCount: Long, symsFp: BigInt)

  /** Unit-separator delimiter of the parity fingerprint's hash input. */
  private val BpeFpSep = "\u001f"

  /** Per-word parity fingerprint term, driver side: the first 15 hex
    * chars of md5(w US syms.join(US)) as a long — EXACTLY what the Spark
    * side computes as conv(substring(md5(concat_ws(US, w,
    * array_join(syms, US))), 1, 15), 16, 10) (md5 over UTF-8 both ways;
    * 60 bits so per-word terms stay inside a long, summed into a BigInt).
    */
  private def bpeFpTerm(md: java.security.MessageDigest, w: String,
                        syms: Array[String]): Long = {
    md.reset()
    val s = w + BpeFpSep + syms.mkString(BpeFpSep)
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = the top 7.5 bytes: 7 full bytes + high nibble
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** One-pass (count, fingerprint-sum) over a (word, symbols) table —
    * the Spark half of the fit/apply parity check: an order-independent
    * multiset fingerprint of the full encoding, distributed-cheap (one
    * map-combined aggregate, no join, no LocalRelation shuffle).
    */
  private[graft] def bpeSymsFingerprint(df: DataFrame, wordCol: String,
                                        symsCol: String): (Long, BigInt) = {
    val row = ensureFns(df).agg(
      count(lit(1)),
      sum(conv(substring(md5(concat_ws(BpeFpSep, col(wordCol),
        array_join(col(symsCol), BpeFpSep))), 1, 15), 16, 10)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    (row.getLong(0),
      if (row.isNullAt(1)) BigInt(0)
      else BigInt(row.getDecimal(1).toBigInteger))
  }

  private def bpeTrainDriver(spark: org.apache.spark.sql.SparkSession,
                             wc0: DataFrame, rounds: Int)
      : (Seq[BpeMerge], DataFrame, Option[BpeAudit]) = {
    val rows = wc0.select(col("w"), col("cnt")).collect()
    val n = rows.length
    val wordsW = new Array[String](n)
    val wordsC = new Array[Long](n)
    val wordsS = new Array[Array[String]](n)
    val counts = new java.util.HashMap[(String, String), Long]()
    def pairsOf(syms: Array[String]): Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))
    var w = 0
    while (w < n) {
      wordsW(w) = rows(w).getString(0)
      wordsC(w) = rows(w).getLong(1)
      wordsS(w) = charSyms(wordsW(w))
      val c = wordsC(w)
      pairsOf(wordsS(w)).foreach(p => counts.merge(p, c, (a, b) => a + b))
      w += 1
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      // argmax over the pair-count map (bounded by live distinct pairs —
      // charset² at round 1, growing by ≤ a few per merge)
      var best: ((String, String), Long) = null
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.longValue() > 0L) {
          val cand = (e.getKey, e.getValue.longValue())
          if (best == null || cand._2 > best._2 ||
              (cand._2 == best._2 && (utf8Lt(cand._1._1, best._1._1) ||
                (cand._1._1 == best._1._1 && utf8Lt(cand._1._2, best._1._2)))))
            best = cand
        }
      }
      if (best == null || best._2 < 2L) done = true
      else {
        val ((l, rr), pc) = best
        merges += BpeMerge(r, l, rr, pc)
        // find affected words by a compare-only adjacency scan — cheaper
        // than maintaining pair→word posting lists (millions of boxed
        // entries) at these word-table sizes; only hits pay the
        // decrement/re-merge/increment re-profile, so per-round update
        // work stays proportional to the merged pair's occurrence mass
        var wi = 0
        while (wi < n) {
          val old = wordsS(wi)
          var hit = false
          var i = 0
          while (!hit && i + 1 < old.length) {
            if ((old(i) eq l) || old(i) == l) {
              if (old(i + 1) == rr) hit = true
            }
            i += 1
          }
          if (hit) {
            val c = wordsC(wi)
            pairsOf(old).foreach(p => counts.merge(p, -c, (a, b) => a + b))
            val next = mergeSyms(old, l, rr)
            wordsS(wi) = next
            pairsOf(next).foreach(p => counts.merge(p, c, (a, b) => a + b))
          }
          wi += 1
        }
        counts.remove((l, rr)) // fully consumed by the merge
        r += 1
      }
    }
    // audit facts computed HERE, in tight loops over the in-hand arrays
    // (base vocab / final vocab / byte-exact round-trip): a 2.27M-row
    // LocalRelation pays seconds per single-threaded Spark aggregate,
    // and parallelize() pays the data into task serialization — both
    // measured 4-18 s at the sf1 tier vs ~0.3 s here
    val baseV = new java.util.HashSet[String]()
    val finalV = new java.util.HashSet[String]()
    val md = java.security.MessageDigest.getInstance("MD5")
    var fp = BigInt(0)
    var roundtripOk = true
    var a = 0
    while (a < n) {
      charSyms(wordsW(a)).foreach(baseV.add)
      val sb = new java.lang.StringBuilder(wordsW(a).length)
      wordsS(a).foreach { sym => finalV.add(sym); sb.append(sym) }
      if (roundtripOk && sb.toString != wordsW(a)) roundtripOk = false
      fp += bpeFpTerm(md, wordsW(a), wordsS(a))
      a += 1
    }
    import spark.implicits._
    val wcFinal = (0 until n)
      .map(i => (wordsW(i), wordsC(i), wordsS(i).toSeq))
      .toDF("w", "cnt", "syms")
    (merges.toSeq, wcFinal,
      Some(BpeAudit(baseV.size.toLong, finalV.size.toLong, roundtripOk,
        n.toLong, fp)))
  }

  /** Tokenize words with an already-trained merge table: apply every merge
    * in learned order (the BPE encode discipline). Narrow — `rounds`
    * stacked single-pass merge kernels per row, nothing exchanged.
    */
  def bpeEncode(words: DataFrame, merges: Seq[BpeMerge],
                wordCol: String = "w", outCol: String = "tokens",
                checkpointEvery: Int = 64): DataFrame = {
    var df = ensureFns(words).withColumn(outCol,
      array_remove(split(col(wordCol), ""), ""))
    merges.zipWithIndex.foreach { case (m, i) =>
      df = df.withColumn(outCol,
        call_function("graft_bpe_merge", col(outCol), lit(m.left),
          lit(m.right)))
      if ((i + 1) % checkpointEvery == 0) df = df.localCheckpoint()
    }
    df
  }

  /** Registry report over [[bpeTrain]]: the first merge and the base
    * vocabulary are HASH-EXACT against the oracle (round 1 is plain SQL —
    * the weighted char-pair argmax); the loop-dependent facts surface as
    * envelope booleans, since no SQL engine can replay the sequential
    * merge dependency:
    *
    *   - `monotone_ok`: the winning pair count never increases across
    *     rounds (a theorem of the construction — any new pair created by a
    *     merge occurs at most as often as the pair just merged);
    *   - `vocab_ok`: final distinct symbol count ∈ [1, base + n_merges]
    *     (each round adds at most one symbol);
    *   - `roundtrip_ok`: concatenating every word's final symbol sequence
    *     reproduces the word exactly — merging can never lose or invent
    *     bytes. Checked distributively over the whole word table.
    */
  def bpeTrainReport(docs: DataFrame, rounds: Int = 20,
                     driverWordBudgetBytes: Long = 512L << 20): DataFrame = {
    val spark = docs.sparkSession
    val (merges, wcFinal, auditOpt) = bpeTrainFull(docs, rounds,
      driverWordBudgetBytes = driverWordBudgetBytes)
    require(merges.nonEmpty, "bpeTrainReport: corpus yielded no merges")
    // driver regime hands the audit scalars over for free; the
    // distributed regime audits via Spark aggregates over the (real,
    // checkpointed, word-table-sized) wcFinal — base vocabulary from its
    // unchanged word column, no second corpus pass either way
    val (baseVocab, finalVocab, roundtripOk) = auditOpt match {
      case Some(a) => (a.baseVocab, a.finalVocab, a.roundtripOk)
      case None =>
        (wcFinal
           .select(explode(array_remove(split(col("w"), ""), ""))
             .as("ch")).distinct().count(),
         wcFinal.select(explode(col("syms")).as("sym")).distinct().count(),
         wcFinal.filter(concat_ws("", col("syms")) =!= col("w"))
           .limit(1).count() == 0L)
    }
    val monotoneOk = merges.sliding(2).forall {
      case Seq(a, b) => b.cnt <= a.cnt
      case _ => true
    }
    val vocabOk = finalVocab >= 1 && finalVocab <= baseVocab + merges.length
    import spark.implicits._
    Seq((merges.length, baseVocab, merges.head.left, merges.head.right,
        merges.head.cnt, monotoneOk, vocabOk, roundtripOk))
      .toDF("n_merges", "base_vocab", "first_left", "first_right",
        "first_cnt", "monotone_ok", "vocab_ok", "roundtrip_ok")
  }

  /** Fitted top principal component of an embedding corpus.
    * All driver-side state is O(d²) (gated at d ≤ 256 — ≤ 512 KB).
    */
  final case class PcaFit(
      nVecs: Long, dim: Int, mean: Array[Double],
      eigenvalue: Double, eigenvector: Array[Double],
      trace: Double, resid: Double)

  /** k-component fit: [[embeddingPcaFit]]'s single-component story,
    * generalized by deflation. Same O(d²) driver gate; `resids(j)` is the
    * j-th eigenpair's residual ‖Cv − λv‖ against the PRE-deflation C.
    */
  final case class PcaFitK(
      nVecs: Long, dim: Int, mean: Array[Double], eigenvalues: Array[Double],
      basis: Array[Array[Double]], trace: Double, resids: Array[Double])

  /** Distributed PCA fit: ONE map-combined aggregate pass accumulates the
    * first moment (d doubles) and the raw second moment (d² doubles, the
    * per-row outer product summed by [[graft.functions.VecSum]]); the
    * covariance eigenproblem then solves on the driver at d×d — 64×64 here,
    * microseconds, byte-gated at d ≤ 256.
    *
    * This is the textbook scale split for 100 TB feature pipelines: the
    * data-sized work is a single narrow agg whose exchange carries
    * #tasks × d² doubles (map-side partials — never row-count-sized), and
    * the driver holds only the d² summary. The explode-based alternative
    * would exchange d² rows PER VECTOR. Top eigenpair via deterministic
    * power iteration (start axis = max-variance diagonal, fixed `iters` —
    * no RNG, so the fit is run-stable given Spark's deterministic
    * partitioning).
    */
  def embeddingPcaFit(emb: DataFrame, vecCol: String = "embedding",
                      iters: Int = 200): PcaFit = {
    val f = embeddingPcaFitK(emb, vecCol, k = 1, iters = iters)
    PcaFit(f.nVecs, f.dim, f.mean, f.eigenvalues(0), f.basis(0), f.trace,
      f.resids(0))
  }

  /** The top-`k` eigenpairs by DEFLATED power iteration: extract the
    * leading eigenpair exactly as [[embeddingPcaFit]] (deterministic
    * max-variance-axis start, fixed `iters`), subtract λ·vvᵀ, repeat. The
    * whole loop is driver-side O(k·iters·d²) on the already-collected
    * moment summary — the corpus is scanned exactly once regardless of k.
    */
  def embeddingPcaFitK(emb: DataFrame, vecCol: String = "embedding",
                       k: Int = 8, iters: Int = 200): PcaFitK = {
    val row = ensureFns(emb)
      .select(expr(s"transform($vecCol, v -> cast(v as double))").as("x"))
      .select(col("x"),
        expr("flatten(transform(x, a -> transform(x, b -> a * b)))").as("xx"))
      .agg(count(lit(1)).as("n"),
        expr("graft_vec_sum(x)").as("sx"),
        expr("graft_vec_sum(xx)").as("sxx"))
      .collect()(0) // 1 row, 1 + d + d² doubles — byte-gated below
    val n = row.getLong(0)
    require(n >= 2, s"embeddingPca: need >= 2 vectors, got $n")
    val sx = row.getSeq[Double](1).toArray
    val d = sx.length
    require(d >= 1 && d <= 256,
      s"embeddingPca: dim $d outside the driver Gramian gate [1, 256]")
    require(k >= 1 && k <= d, s"embeddingPca: k=$k outside [1, d=$d]")
    val sxx = row.getSeq[Double](2).toArray
    val mu = sx.map(_ / n)
    // C = (Sxx - n·mu·muᵀ) / (n-1)
    val cov = new Array[Double](d * d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        cov(i * d + j) = (sxx(i * d + j) - n * mu(i) * mu(j)) / (n - 1)
        j += 1
      }
      i += 1
    }
    var trace = 0.0
    i = 0; while (i < d) { trace += cov(i * d + i); i += 1 }
    def matVec(m: Array[Double], x: Array[Double]): Array[Double] = {
      val y = new Array[Double](d)
      var r = 0
      while (r < d) {
        var acc = 0.0; var c = 0
        while (c < d) { acc += m(r * d + c) * x(c); c += 1 }
        y(r) = acc; r += 1
      }
      y
    }
    val work = cov.clone() // deflated in place; cov keeps the original
    val lambdas = new Array[Double](k)
    val basis = new Array[Array[Double]](k)
    val resids = new Array[Double](k)
    var comp = 0
    while (comp < k) {
      // deterministic start: the max-variance axis of the CURRENT matrix
      var start = 0
      i = 1
      while (i < d) {
        if (work(i * d + i) > work(start * d + start)) start = i
        i += 1
      }
      var v = Array.tabulate(d)(a => if (a == start) 1.0 else 0.0)
      var it = 0
      while (it < iters) {
        val y = matVec(work, v)
        // re-orthogonalize against the basis found so far EVERY step
        // (orthogonal iteration): deflation alone leaves the returned
        // basis only as orthogonal as power iteration converged — on
        // near-degenerate spectra (λ ratios ≈ 1, exactly this corpus)
        // that can be arbitrarily bad, while explicit projection makes
        // orthonormality structural at working precision.
        var j = 0
        while (j < comp) {
          val b = basis(j)
          var dp = 0.0
          i = 0; while (i < d) { dp += y(i) * b(i); i += 1 }
          i = 0; while (i < d) { y(i) -= dp * b(i); i += 1 }
          j += 1
        }
        val nrm = math.sqrt(y.map(a => a * a).sum)
        require(nrm > 0.0, "embeddingPca: degenerate covariance (zero image)")
        v = y.map(_ / nrm)
        it += 1
      }
      val wv = matVec(work, v)
      val lambda = v.indices.map(a => v(a) * wv(a)).sum // Rayleigh quotient
      // residual against the ORIGINAL covariance — what consumers care
      // about (the deflated-matrix residual would understate error
      // compounding across components)
      val cv = matVec(cov, v)
      resids(comp) = math.sqrt(v.indices.map { a =>
        val e = cv(a) - lambda * v(a); e * e
      }.sum)
      lambdas(comp) = lambda
      basis(comp) = v
      // deflate: work -= λ·vvᵀ
      i = 0
      while (i < d) {
        var j = 0
        while (j < d) { work(i * d + j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      comp += 1
    }
    PcaFitK(n, d, mu, lambdas, basis, trace, resids)
  }

  /** The APPLY half of the PCA pair: project every row's embedding onto
    * the fitted `k`-component basis (optionally whitening — dividing
    * coordinate j by √λⱼ so each output dimension has unit variance).
    *
    * Shape: k codegen'd [[graft.functions.DotProduct]] kernels against
    * LITERAL basis vectors, with the centering folded into a driver-side
    * constant per component ((x−μ)·w = x·w − μ·w) — so the row pipeline is
    * k dots over the RAW float column: no centered intermediate array, no
    * broadcast (the d×k basis rides in the plan as literals, byte-gated by
    * the fit's d ≤ 256), nothing exchanged. Whitening is also free at row
    * time: the scale is baked into the literal basis vector.
    */
  def embeddingPcaApply(emb: DataFrame, fit: PcaFitK, whiten: Boolean = false,
                        vecCol: String = "embedding",
                        outCol: String = "proj"): DataFrame = {
    val comps: Seq[Column] = fit.basis.indices.map { j =>
      val scale =
        if (!whiten) 1.0
        else {
          require(fit.eigenvalues(j) > 0.0,
            s"embeddingPcaApply: cannot whiten component $j with " +
              s"eigenvalue ${fit.eigenvalues(j)} <= 0")
          1.0 / math.sqrt(fit.eigenvalues(j))
        }
      val w = fit.basis(j).map(_ * scale)
      val c = w.indices.map(a => w(a) * fit.mean(a)).sum // μ·w, a constant
      call_function("graft_dot", col(vecCol), typedLit(w.toSeq)) - lit(c)
    }
    ensureFns(emb).withColumn(outCol, array(comps: _*))
  }

  /** Registry report over [[embeddingPcaFit]]: structural facts hash-exact
    * against the oracle; the eigenpair quality surfaces as `pca_ok` — the
    * in-query harness (residual within 5% of λ₁, λ₁ within [trace/d, trace])
    * — since no SQL oracle can solve the eigenproblem. The spec tier does
    * the strong check against an independently-computed dense reference.
    */
  def embeddingPca(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    val f = embeddingPcaFit(emb, vecCol)
    val ok = f.resid <= 0.05 * f.eigenvalue &&
      f.eigenvalue >= f.trace / f.dim - 1e-9 * f.trace &&
      f.eigenvalue <= f.trace * (1.0 + 1e-9)
    import spark.implicits._
    Seq((f.nVecs, f.dim, 1, ok))
      .toDF("n_vecs", "dim", "n_components", "pca_ok")
  }

  /** Registry report over the APPLY half ([[embeddingPcaApply]]): one
    * projection pass over the corpus feeds every check. Structural facts
    * are hash-exact; the quality columns are in-query envelope booleans
    * (the eigenbasis itself is not SQL-computable — same contract as
    * `pca_ok`):
    *
    *   - `proj_var_ok`: the sample variance of each projected coordinate
    *     equals its eigenvalue (vᵀCv = λ by construction — the comparison
    *     tolerance covers only float accumulation, not model error);
    *   - `ortho_ok`: the fitted basis is orthonormal to 1e-6 (deflation
    *     degrades orthogonality if power iteration under-converges —
    *     this is the check that would catch it);
    *   - `var_capture_ok`: Σλ ≥ (k/d)·trace — the top-k eigenvalues must
    *     capture at least the uniform share (a theorem, so any violation
    *     is an implementation bug);
    *   - `recall_ok`: the production projected-search shape — rank by
    *     cosine in the k-dim PROJECTED space, keep an `overfetch`
    *     candidate pool, re-rank the pool by EXACT full-dim cosine — must
    *     recover ≥ `recallFloor` of the original-space top-`kNN`. (Pure
    *     projected top-kNN without the rescore is near-random on
    *     isotropic-noise embeddings like this corpus — measured 0.0–0.5
    *     at k ≤ 32 — which is exactly why the prefilter+rescore form is
    *     the one worth certifying; PcaProbe holds the per-(k, pool)
    *     recall grid, NOTES the per-SF numbers.)
    *
    * Scale shape: the moment pass is ONE map-combined aggregate over
    * k-width arrays; both searches are broadcast-query corpus scans into
    * TakeOrdered (pool ids are bounded by the `overfetch` literal; the
    * rescore touches only those rows); driver state is O(k² + overfetch).
    */
  def embeddingPcaApplyReport(corpus: DataFrame, query: DataFrame,
                              fit: PcaFitK, kNN: Int = 10,
                              overfetch: Int = 50,
                              recallFloor: Double = 0.5): DataFrame = {
    val spark = corpus.sparkSession
    // single-query contract (same as annAssignedSearch): the crossJoin +
    // global limit(overfetch) pool and the recall denominator below are
    // only meaningful for ONE query row — multiple rows would silently
    // mix candidate pools into one plausible-but-wrong report
    require(query.limit(2).count() == 1L,
      "embeddingPcaApplyReport expects exactly one query row")
    val k = fit.basis.length
    val d = fit.dim
    val proj0 = embeddingPcaApply(corpus, fit)
    // r16 (guide §1.4/§2.4): the projected-moment aggregate used to be
    // its OWN corpus pass; the projected-pool search below scans the
    // same projection anyway (a global TakeOrdered reads every row), so
    // the moments ride that scan as observe() metrics — one corpus pass
    // fewer. Float-sum ordering noise is the same class the separate
    // aggregate already had (partition-merge order), and every consumer
    // below is a toleranced boolean.
    val mObs = new org.apache.spark.sql.Observation()
    val proj = proj0.observe(mObs,
      count(lit(1)).as("n"),
      expr("graft_vec_sum(proj)").as("s1"),
      expr("graft_vec_sum(transform(proj, v -> v * v))").as("s2"))
    val orthoOk = (0 until k).forall { a =>
      (a until k).forall { b =>
        val dotAB = (0 until d).map(i => fit.basis(a)(i) * fit.basis(b)(i)).sum
        math.abs(dotAB - (if (a == b) 1.0 else 0.0)) <= 1e-6
      }
    }
    val varCaptureOk =
      fit.eigenvalues.sum >= (k.toDouble / d) * fit.trace * (1 - 1e-9)
    // r16 (guide §2.6): the original-space top-k and the projected-space
    // pool are INDEPENDENT corpus scans consumed together below — submit
    // them concurrently so the second backfills the first's straggler
    // tail instead of queueing behind it. Results are collected sets;
    // nothing about either job depends on the other.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val trueIdsF = Future(cosineTopK(corpus, query, kNN).collect()
      .map(_.getLong(0)).toSet)(ExecutionContext.global)
    val qp = embeddingPcaApply(query, fit).select(col("proj").as("qp"))
    val poolIds = proj.crossJoin(broadcast(qp))
      .select(col("vec_id"),
        round6(call_function("graft_dot", col("proj"), col("qp")) /
          (sqrt(call_function("graft_dot", col("proj"), col("proj"))) *
            sqrt(call_function("graft_dot", col("qp"), col("qp"))))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(overfetch)
      .collect().map(_.getLong(0))
    val trueIds = Await.result(trueIdsF, Duration.Inf)
    // metrics are complete once the pool collect (the observed plan's
    // action) returned
    val m = mObs.get
    val n = m("n").asInstanceOf[Long]
    val s1 = m("s1").asInstanceOf[scala.collection.Seq[Double]].toArray
    val s2 = m("s2").asInstanceOf[scala.collection.Seq[Double]].toArray
    def varJ(j: Int): Double = (s2(j) - s1(j) * s1(j) / n) / (n - 1)
    val projVarOk = (0 until k).forall { j =>
      math.abs(varJ(j) - fit.eigenvalues(j)) <=
        1e-4 * math.max(fit.eigenvalues(j), 1e-12)
    }
    // exact full-dim rescore of the bounded candidate pool
    val rescored = cosineTopK(
      corpus.filter(col("vec_id").isin(poolIds.map(x => x: Any): _*)),
      query, kNN).collect().map(_.getLong(0)).toSet
    val recall = trueIds.intersect(rescored).size.toDouble / kNN
    import spark.implicits._
    Seq((n, d, k, projVarOk, orthoOk, varCaptureOk, recall >= recallFloor))
      .toDF("n_vecs", "dim", "k", "proj_var_ok", "ortho_ok",
        "var_capture_ok", "recall_ok")
  }

  /** Snapshot-to-snapshot corpus overlap: the exact word-3gram shingle-set
    * Jaccard between two crawls (the "how much is new this month" read that
    * sizes incremental dedup/training work), plus the k-perm MinHash
    * ESTIMATE of the same quantity with an in-query tolerance check —
    * the estimate is the only form computable at 100 TB without holding
    * both snapshots' full shingle sets, so the exact pass doubles as its
    * verification harness at gate scale (the same exact-vs-sketch pattern
    * as `profile_table_approx` / `embedding_health_approx`).
    *
    * Exact tier: distinct shingles per side, unioned with side flags, ONE
    * map-combined aggregate per shingle then one corpus-level fold —
    * shuffles carry distinct-shingle rows, no joins. Estimate tier: per-doc
    * k-perm signatures ([[withMinhashSig]]'s md5+affine universal hashing),
    * folded to a per-SNAPSHOT signature by an elementwise-min aggregate
    * (min is associative+commutative → map-combined; k rows total), then
    * matched positionally. Both snapshot sigs are k-row frames — the final
    * join is trivially broadcast.
    *
    * The 1-row report is collected to release the two shingle caches
    * deterministically (bounded by construction — the same byte-gate
    * rationale as the c-row centroid reads).
    */
  def corpusOverlap(a: DataFrame, b: DataFrame, idCol: String,
                    kSig: Int = 64, tol: Double = 0.2): DataFrame = {
    val spark = a.sparkSession
    val shA = shingleTable(a, idCol)
    val shB = shingleTable(b, idCol)
    try {
      val gA = shA.select(explode(col("shingles")).as("g")).distinct()
        .select(col("g"), lit(1L).as("in_a"), lit(0L).as("in_b"))
      val gB = shB.select(explode(col("shingles")).as("g")).distinct()
        .select(col("g"), lit(0L).as("in_a"), lit(1L).as("in_b"))
      val exact = gA.unionByName(gB)
        .groupBy(col("g"))
        .agg(max(col("in_a")).as("a"), max(col("in_b")).as("b"))
        .agg(sum(col("a")).as("n_shingles_a"), sum(col("b")).as("n_shingles_b"),
          sum(col("a") * col("b")).as("n_inter"), count(lit(1)).as("n_union"))
      def snapSig(sh: DataFrame): DataFrame =
        withMinhashSig(sh, kSig)
          .select(posexplode(col("sig")).as(Seq("pos", "h")))
          .groupBy(col("pos")).agg(min(col("h")).as("h"))
      val est = snapSig(shA).alias("x")
        .join(broadcast(snapSig(shB).alias("y")), Seq("pos"))
        .agg((sum(when(col("x.h") === col("y.h"), 1L).otherwise(0L))
          .cast("double") / lit(kSig.toDouble)).as("jaccard_est"))
      val report = exact.crossJoin(broadcast(est)).select(
        col("n_shingles_a"), col("n_shingles_b"), col("n_inter"), col("n_union"),
        round6(col("n_inter").cast("double") / col("n_union").cast("double"))
          .as("jaccard"),
        (abs(col("jaccard_est") -
          (col("n_inter").cast("double") / col("n_union").cast("double")))
          <= lit(tol)).as("est_ok"))
      val rows = report.collect() // 1 row by construction (two corpus folds)
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), report.schema)
    } finally { shA.unpersist(); shB.unpersist(); () }
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, the filter
    * LLaMA's pretraining corpus was built with; reference analog: the
    * quality-gate idea behind `docs/06-validation-monitoring.md`'s inline
    * validators, generalized to a trained signal): a char-trigram LM is
    * fit on a REFERENCE domain (`refSources` — the "clean" slice playing
    * Wikipedia's role), every document is scored under it, and each
    * language's docs split into head/middle/tail perplexity terciles.
    * Unlike [[lmScore]] (corpus-self-trained) the model here is
    * reference-trained, so junk scores LOW rather than average; unlike
    * [[dsirSelect]] (importance RATIO for sampling) the output is the
    * per-doc BUCKET a curation pipeline routes on (CCNet keeps head+middle,
    * drops tail).
    *
    * Bucketing is per-language on sorted round6 scores: t_lo/t_hi are the
    * values AT indices (n−1)/3 and 2(n−1)/3 (integer division) — element
    * access, not interpolated percentiles, so both engines compare the
    * SAME doubles and ties land identically. `<= t_lo` → tail,
    * `<= t_hi` → middle, else head (higher avg log-prob = lower
    * perplexity = head).
    *
    * Scale shape: the gram stream is one codegen'd explode feeding the
    * reference count-agg and the scoring join (both map-combined); the
    * vocab (top `vocabK` reference grams) and the 1-row reference-mass
    * total broadcast under trivial byte gates; the per-doc avg shuffles
    * once on doc_id. Above [[LmCacheCrossoverDocs]] the gram stream
    * persists once instead of exploding twice (the measured [[lmScore]]
    * crossover). The per-lang threshold agg holds one lang's scores in
    * one buffer — exact terciles are a gate-tier contract; at corpus
    * scale swap the threshold agg for percentile_approx (the bucket
    * boundary then carries sketch error, which CCNet tolerates — it is
    * itself a heuristic split; everything downstream of the thresholds
    * is unchanged).
    */
  def ccnetBuckets(docs: DataFrame, refSources: Seq[String],
                   vocabK: Int = 1024): DataFrame = {
    require(refSources.nonEmpty, "ccnetBuckets needs a reference domain")
    val isRef = col("source").isin(refSources.map(x => x: Any): _*)
    // spreadSmall (r15): md5-per-trigram kernel, the lmGrams rationale
    val g0 = ensureFns(spreadSmall(docs)).select(col("doc_id"), col("lang"),
      isRef.as("is_ref"),
      explode(expr("graft_gram_hash(text, 3, ':lm', 15)")).as("h"))
    val big = !statsSaySmall(docs, LmCacheCrossoverDocs, LmCacheCrossoverBytes)
      .getOrElse(true)
    val g = if (big) g0.persist() else g0
    val refCnt = g.filter(col("is_ref")).groupBy(col("h"))
      .agg(count(lit(1)).as("c"))
    // reference gram mass without a gram-table pass: graft_gram_hash emits
    // exactly max(numChars-2, 0) trigrams per doc (the lmScore identity)
    val nRef = ensureFns(docs).filter(isRef)
      .agg(sum(greatest(length(col("text")) - 2, lit(0))).cast("double").as("n"))
    val vocab = refCnt.orderBy(col("c").desc, col("h")).limit(vocabK)
    val scored = g.join(broadcast(vocab), Seq("h"), "left")
      .crossJoin(broadcast(nRef))
      .select(col("doc_id"), col("lang"),
        coalesce(log10(col("c").cast("double") / col("n")),
          log10(lit(0.5) / col("n"))).as("logp"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), round6(avg(col("logp"))).as("avg_logp"))
    val thr = scored.groupBy(col("lang"))
      .agg(sort_array(collect_list(col("avg_logp"))).as("arr"))
      .select(col("lang"),
        expr("element_at(arr, cast(((size(arr) - 1) div 3) + 1 as int))").as("t_lo"),
        expr("element_at(arr, cast(((2 * (size(arr) - 1)) div 3) + 1 as int))").as("t_hi"))
    val out = scored.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_grams"), col("avg_logp"),
        when(col("avg_logp") <= col("t_lo"), lit("tail"))
          .when(col("avg_logp") <= col("t_hi"), lit("middle"))
          .otherwise(lit("head")).as("ppl_bucket"))
      .orderBy(col("doc_id"))
    if (big) { val m = out.persist(); m.count(); g.unpersist(); m } else out
  }

  /** Cluster-balanced diversity sampling (the coverage-sampling half of
    * SemDeDup-style curation: instead of DROPPING within-cell
    * near-duplicates, CAP each semantic cell's contribution so the sample
    * spans the embedding space instead of mirroring its density): train
    * k-means cells, assign every vector, keep at most `cap` per cell by a
    * content-stable md5 draw — deterministic, re-run-stable, and
    * label-blind (selection by geometry, not metadata).
    *
    * Scale shape: training/assignment are [[kmeansCentroids]] /
    * [[kmeansAssignTo]]'s audited shapes (c-row broadcast, narrow argmax
    * stream, map-side-combined 8-byte partials); the per-cell cap is a
    * graft_topk bounded heap inside one hash-aggregate — ≤cap entries per
    * cell per mapper, never a window over the corpus — and the output is
    * ≤ c·cap rows plus the per-cell population count from the same agg.
    * The draw u = (md5₆₀ mod 2²⁰ + 0.5)/2²⁰ is a dyadic rational (exact
    * in double; [[dsirSelect]]'s Gumbel convention); heap ties break to
    * the smaller vec_id (the graft_topk contract).
    */
  def clusterBalancedSample(embeddings: DataFrame, c: Int = 16,
                            iters: Int = 2, cap: Int = 20): DataFrame = {
    val train = ensureFns(embeddings).filter(col("vec_id") =!= 0)
    val cents = kmeansCentroids(train, c, iters)
    val u01 = ((expr(hashSql("cast(vec_id as string)", "'cb'")) % lit(1048576L))
      .cast("double") + lit(0.5)) / lit(1048576.0)
    kmeansAssignTo(train, cents)
      .select(col("vec_id"), col("cid")).withColumn("u", u01)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_cell"), expr(s"graft_topk(u, vec_id, $cap)").as("nn"))
      .select(col("cid"), col("n_cell"), posexplode(col("nn")).as(Seq("rk", "x")))
      .select(col("cid"), col("n_cell"), (col("rk") + 1).as("rk"),
        col("x").getField("id").as("vec_id"),
        round6(col("x").getField("score")).as("u"))
      .orderBy(col("cid"), col("rk"))
  }
}
