package graft.plans

import graft.SparkSpec
import graft.queries.{DiffQueries, JoinQueries, LlmQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Prints formatted plans for the expensive queries (manual audit aid;
  * assertions live in PlanSpec).
  */
class PlanAuditSpec extends SparkSpec {

  /** The walkable physical plan: AQE wraps the tree in a leaf
    * AdaptiveSparkPlanExec, so `collect` needs the inner plan (pre-execution
    * that is the initial physical plan — the shape Catalyst committed to).
    */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  test("audit: key plans contain no cartesian products or unexpected sorts") {
    for (name <- Seq("diff_full_outer", "sim_search_topk",
                     "sim_knn_join", "join_range_bucketed",
                     "dedup_simhash_hamming64")) {
      val plan = (DiffQueries.qs ++ LlmQueries.qs ++ JoinQueries.qs)(name)(spark, sf())
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian:\n$plan")
      // sim_search_topk: single query vector broadcast; sim_knn_join: the
      // 1-row capped_cells global-aggregate attach; hamming64: the 1-row
      // capped_blocks coverage attach (r11) — all 1-row build sides
      assert(!plan.contains("BroadcastNestedLoopJoin") ||
          Set("sim_search_topk", "sim_knn_join", "dedup_simhash_hamming64")(name),
        s"$name has a nested-loop join:\n$plan")
    }
  }

  test("audit: the LIVE LSH candidate join is an equi-join, no cartesian") {
    // the registry queries eagerly materialize pairs (cache-release
    // policy), so their executedPlan shows a cached scan — audit the lazy
    // plan instead via materialize=false
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val sh = graft.ext.LlmOps.shingleTable(docs, "doc_id")
    try {
      val plan = graft.ext.LlmOps
        .minhashCandidatesFrom(sh, "doc_id", materialize = false)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("band"), plan)
    } finally { sh.unpersist(); () }
  }

  test("audit: simhash dedup family is cache-free — one job, no InMemoryRelation") {
    // r7: the persist+count+unpersist dance is gone from these three —
    // the narrow simhash map recomputes per self-join side inside a
    // SINGLE job, the only shape that holds when the simhash table is
    // too large for executor storage. Pin the absence of caching.
    for (name <- Seq("dedup_simhash", "dedup_simhash_hamming",
                     "dedup_simhash_hamming64")) {
      val plan = graft.queries.LlmQueries.qs(name)(spark, sf())
        .queryExecution.executedPlan.toString
      assert(!plan.contains("InMemoryTableScan") && !plan.contains("InMemoryRelation"),
        s"$name must not pin cached state:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian:\n$plan")
    }
  }

  test("audit: winnow evaluates the gram-hash array exactly once") {
    // CollapseProject must not duplicate the expensive multi-referenced
    // array (regression guard for the O(n×refs) inlining trap)
    val plan = LlmQueries.qs("text_winnow")(spark, sf())
      .queryExecution.optimizedPlan.toString
    val n = "graft_gram_hash".r.findAllIn(plan).length
    assert(n == 1, s"expected one graft_gram_hash occurrence, got $n:\n$plan")
  }

  test("audit: sim_search_lsh broadcasts the query side, corpus never shuffles") {
    val plan = LlmQueries.qs("sim_search_lsh")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), s"query side must broadcast:\n$plan")
    // the only exchanges allowed are the broadcast itself and the final
    // top-k; the corpus must not hash-repartition
    assert(!plan.contains("hashpartitioning(blk"),
      s"corpus must not shuffle on the band key:\n$plan")
  }

  test("audit: decontaminate broadcasts the benchmark n-gram set") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    import org.apache.spark.sql.functions.col
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val plan = graft.ext.LlmOps.decontaminate(corpus, bench, "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 100TB corpus side must never sort-merge against the benchmark:\n$plan")
  }

  test("audit: decontaminate_bloom probes the bloom BEFORE any join or exchange") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val qe = graft.ext.LlmOps
      .decontaminateBloom(corpus, bench, "doc_id", 0.5, materialize = false)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("graft_might_contain"),
      s"the bloom prefilter must survive optimization:\n$plan")
    // the whole point of this variant: the benchmark grams are NOT a
    // broadcast build side for the corpus-wide probe — the bloom is the
    // only full-corpus membership structure, and the exact verify join
    // runs on prefiltered survivors only. Walk the tree (not print order):
    // some join node must have a Filter carrying BloomMightContain in its
    // SUBTREE (probe-then-join, not join-then-filter).
    def probeFilters(p: SparkPlan) = p.collect {
      case f: FilterExec
        if f.condition.find(_.isInstanceOf[graft.functions.BloomMightContain]).isDefined => f
    }
    val phys = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val joins = phys.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"expected a verify join:\n$plan")
    assert(joins.exists(j => probeFilters(j).nonEmpty),
      s"the bloom probe filter must be a descendant of the verify join:\n$plan")
  }

  test("audit: pack_sequences never windows the raw corpus on lang alone") {
    // lang cardinality is single-digit: a corpus-wide window partitioned on
    // it alone sorts each language's whole sub-corpus in ONE task at 100 TB.
    // The two-level shape pins: (a) the corpus-wide running sum partitions
    // on (lang, shard); (b) any lang-only window sits over the AGGREGATED
    // per-shard table (bounded at idSpan/shardWidth rows), i.e. has an
    // aggregate beneath it in the same stage tree.
    val plan = physical(LlmQueries.qs("pack_sequences")(spark, sf()))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"expected window nodes:\n$plan")
    assert(wins.exists(_.partitionSpec.size >= 2),
      s"the corpus-wide running sum must partition on (lang, shard):\n$plan")
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(w.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
        s"a lang-only window is allowed only over the aggregated shard table:\n$w")
    }
  }

  test("audit: embedding pairwise cells are bounded — self-join keys on (label, sub)") {
    // The r8 weak mark: `label` comes from the data, so pairing on label
    // alone is quadratic in the cell at 100× scale. Pin (a) the self-join
    // equi-keys include the LSH sub-bucket, (b) on a skewed fixture the
    // split actually bounds every kept bucket at maxCell while keeping the
    // non-degenerate mass paired (coverage, not blanket exclusion).
    import org.apache.spark.sql.functions.{col, count, lit, max}
    import spark.implicits._
    // 64-dim spread vectors (the testdata shape; the split key
    // graft_lsh_sig_any spans any width — 32-dim split pinned in
    // LlmOpsSpec).
    // Deterministic hash-style components: a smooth curve fixture clumps
    // into a few LSH arcs, which tests skew, not the split.
    def fuzz(i: Long, j: Int): Float = {
      val s = math.sin(i * 12.9898 + j * 78.233) * 43758.5453
      ((s - math.floor(s)) * 2 - 1).toFloat
    }
    val e = (1L to 200L).map(i => (i, Seq.tabulate(64)(fuzz(i, _)), 0))
      .toDF("vec_id", "embedding", "label")
    val maxCell = 32
    val cells = graft.ext.LlmOps.withPairCells(e, maxCell)
    val kept = cells.filter(col("bucket_n") <= maxCell)
    val biggest = kept.groupBy(col("label"), col("sub")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).collect()(0).getLong(0)
    assert(biggest <= maxCell, s"kept pairwise cell exceeds the bound: $biggest")
    assert(kept.count() >= 160L,
      "the split must bound cells by SPLITTING, not by excluding the corpus")
    val phys = physical(graft.ext.LlmOps.knnJoin(e, 3, maxCell))
    val selfJoins = phys.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j.leftKeys
    }
    assert(selfJoins.exists(_.size >= 3),
      "the pairwise self-join must key on (label, sub, salt), not label " +
        s"alone — sub bounds the cell, salt splits its pairwise block:\n$phys")
    // cell sizes come from agg+join, never a corpus window partitioned on
    // the data-sized label (single-task-per-label at 100 TB — the
    // pack_sequences lesson)
    assert(phys.collect { case w: WindowExec => w }.isEmpty,
      s"the embedding family must not window the corpus:\n$phys")
  }

  test("audit: decontaminate_minhash broadcast path keeps the corpus shuffle-free") {
    // the clean-corpus twin of the fallback test below: when the gate
    // admits the candidates, the verify stage must be pure broadcast
    // joins — ZERO shuffle exchanges, the corpus shingle table is read
    // once and never repartitioned
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val cSh = graft.ext.LlmOps.shingleTable(docs.filter(col("doc_id") % 10 =!= 0), "doc_id")
    val bSh = graft.ext.LlmOps.shingleTable(docs.filter(col("doc_id") % 10 === 0), "doc_id")
    try {
      import spark.implicits._
      val cand = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "bench_id")
      val plan = physical(graft.ext.LlmOps
        .minhashVerify(cSh, bSh, cand, "doc_id", 0.5, broadcastCands = true))
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"broadcast-path verify must not exchange anything:\n$plan")
      assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
    } finally { cSh.unpersist(); bSh.unpersist(); () }
  }

  test("audit: decontaminate_minhash fallback verifies via a shuffled equi-join") {
    // the adversarial-contamination shape: candidates too big to broadcast
    // must equi-join the corpus shingle table on the doc id — never a
    // nested loop, never a forced broadcast of the unbounded side. Disable
    // stats-based auto-broadcast so the tiny test candidate set plans the
    // same shape a corpus-proportional one would.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val cSh = graft.ext.LlmOps.shingleTable(docs.filter(col("doc_id") % 10 =!= 0), "doc_id")
    val bSh = graft.ext.LlmOps.shingleTable(docs.filter(col("doc_id") % 10 === 0), "doc_id")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val cand = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "bench_id")
      val plan = physical(graft.ext.LlmOps
        .minhashVerify(cSh, bSh, cand, "doc_id", 0.5, broadcastCands = false))
      val shuffled = plan.collect {
        case j: SortMergeJoinExec => j: BaseJoinExec
        case j: ShuffledHashJoinExec => j: BaseJoinExec
      }
      assert(shuffled.exists(_.leftKeys.exists(_.toString.contains("doc_id"))),
        s"candidate verify must shuffle-join on the doc id:\n$plan")
      assert(plan.toString.indexOf("CartesianProduct") < 0, plan.toString)
      assert(plan.toString.indexOf("BroadcastNestedLoopJoin") < 0, plan.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      cSh.unpersist(); bSh.unpersist(); ()
    }
  }

  test("audit: dedup_image_phash pairing stays bucketed — grouped, join-free") {
    // the whole pipeline is hash → block explode → groupBy(blk) → in-group
    // pair explode: the ONLY join allowed is the 1-row capped_blocks
    // coverage attach (r11 — a BNLJ over a global scalar aggregate), and
    // the single wide step must be the hash aggregation on the block key
    val plan = physical(LlmQueries.qs("dedup_image_phash")(spark, sf()))
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.length == 1 &&
      joins.head.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec],
      s"phash pairing must be grouped + one 1-row coverage attach, found:\n$plan")
    val s = plan.toString
    assert(s.contains("blk"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("audit: dedup_audio_fp pairing stays bucketed — grouped, join-free") {
    // same discipline as the image pin: fingerprint → block explode →
    // groupBy(blk) → in-group pair explode; the only join is the 1-row
    // capped_blocks coverage attach
    val plan = physical(LlmQueries.qs("dedup_audio_fp")(spark, sf()))
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.length == 1 &&
      joins.head.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec],
      s"audio pairing must be grouped + one 1-row coverage attach, found:\n$plan")
    assert(plan.toString.contains("blk"), plan.toString)
  }

  test("audit: sim_search_quantized never exchanges the corpus") {
    // both stages are scan → TakeOrdered shapes: the approx ranking carries
    // only (vec_id, approx), the rescore joins the 40-row candidate list as
    // a BROADCAST build — zero shuffle exchanges anywhere
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val plan = physical(graft.ext.LlmOps.quantizedSearch(
      e.filter(org.apache.spark.sql.functions.col("vec_id") =!= 0),
      e.filter(org.apache.spark.sql.functions.col("vec_id") === 0), 10))
    val exchanges = plan.collect {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => x
    }
    assert(exchanges.isEmpty,
      s"quantized search must not shuffle the corpus:\n$plan")
    assert(plan.toString.contains("TakeOrderedAndProject"), plan.toString)
  }

  test("audit: dedup_video_frames is join-free with exactly two exchanges") {
    // signature + size compute NARROWLY pre-explode (no per-doc count
    // pass, no size join-back); the only exchanges are the frame-hash
    // postings groupBy and the (a,b) shared-frame aggregation (the
    // registry key adds a presentation orderBy → built here without it).
    // The EDGE core is pinned join-free; the public form adds exactly
    // one bounded join — the 1-row capped_postings broadcast attach —
    // and reuses the postings exchange for the count branch (no third
    // corpus shuffle).
    val clips = spark.read.parquet(s"${sf()}/documents.parquet")
    val core = physical(
      graft.ext.LlmOps.videoFramePairsWithCoverage(clips)._1)
    val joins = core.collect { case j: BaseJoinExec => j }
    assert(joins.isEmpty, s"postings pairing must be grouped, found joins:\n$core")
    val exchanges = core.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length == 2,
      s"expected exactly 2 exchanges (postings, pair agg), got ${exchanges.length}:\n$core")
    val full = physical(graft.ext.LlmOps.videoFrameNearDups(clips))
    val fullJoins = full.collect { case j: BaseJoinExec => j }
    assert(fullJoins.length == 1 &&
      fullJoins.head.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec],
      s"coverage attach must be the single 1-row BNLJ:\n$full")
    val fullExchanges = full.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the initial plan prints the postings exchange once per branch; what
    // matters is that the branches CANONICALIZE equal, so AQE's stage
    // cache runs the postings shuffle once (3 distinct shuffles total:
    // postings, pair agg — the capped count rides the reused postings)
    assert(fullExchanges.map(_.canonicalized).distinct.length <= 3,
      s"capped-count branch must reuse the postings exchange:\n$full")
  }

  test("audit: dedup_substring duplicate test is skew-safe — no gram-hash window") {
    // ExactSubstr's scale contract (r11): gram extraction is narrow
    // codegen; the duplicate test is a two-level count (map-side partial
    // combine → small (h, sites) shuffle) + ONE left-semi join of the
    // gram stream against the duplicated-gram set; the span-merge
    // windows ride one exchange back on the doc id. The r10 form's
    // count(*) OVER (PARTITION BY h) — which buffered a hot gram's
    // entire position list in one unsplittable task — must NOT reappear:
    // every window in the plan partitions on the DOC id, never the gram
    // hash.
    val plan = physical(graft.ext.LlmOps.duplicatedSpans(
      spark.read.parquet(s"${sf()}/documents.parquet"), "doc_id"))
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty &&
      windows.forall(_.partitionSpec.forall(_.toString.contains("doc_id"))),
      s"every window must partition on doc_id, never the gram hash:\n$plan")
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.length == 1 &&
      joins.head.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi,
      s"the duplicate test must be one left-semi join:\n$plan")
    // r15: spreadSmall may add ROUND-ROBIN exchanges ahead of the gram
    // explode — the scale-CONDITIONAL small-input spread (stats-gated: at
    // scale they vanish from the plan). The audit's contract is about
    // DATA-KEYED shuffles — gram-hash windows / extra hash exchanges —
    // so round-robin spreads are excluded from the bound.
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if !e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] => e
    }
    assert(exchanges.length <= 3,
      s"expected ≤3 hash exchanges (partial counts, probe on h, doc id), got ${exchanges.length}:\n$plan")
  }

  test("audit: EVERY registry query plans cartesian-free") {
    // whole-board safety net: build (and for the eager closures, run) every
    // registered query at sf0.001 and reject cartesian products anywhere.
    // BroadcastNestedLoopJoin is allowed only where a broadcast single-row
    // side makes it the intended plan (the ANN query-vector cross joins).
    // ANN query-vector cross joins + the 1-row×1-row summary compares
    // (source-count vs target-count) + the capped_cells scalar attach in
    // the embedding family, where a broadcast nested loop over single-row
    // sides IS the right plan
    // ...plus the trained-IVF/LM family, whose cross joins carry only
    // bounded builds: the c-row centroid table, the 1-row query vector,
    // and lmScore's 1-row total-gram aggregate
    val bnljOk = Set("sim_search_topk", "sim_search_ivf", "dedup_embedding_cos",
      "sim_knn_join", "count_star", "dual_write", "validate_sample",
      "ivf_train_kmeans", "sim_search_ivf_kmeans", "quality_lm_score",
      // c-row centroid assignment cross join + capped_cells scalar attach
      "dedup_semantic",
      // 1-row query-vector cross joins (approx scan + rescore stages)
      "sim_search_quantized",
      // 1-row query-vector cross join over the cell-partitioned
      // assignment store (the probed-cell scan is partition-pruned)
      "sim_search_served",
      // same serving tail as sim_search_served, over the delta-appended
      // store (the append itself is a write, not part of this plan)
      "ann_index_append",
      // inherits quality_lm_score's 1-row total-gram aggregate attach
      // (LlmOps.lmScore: crossJoin(broadcast(tot)) where tot is a single
      // global-sum row) — same bounded shape as quality_lm_score above
      "sample_quality_weighted",
      // 1-row capped_blocks / capped_postings coverage attach (r11: the
      // hamming pigeonhole and video stop-frame families surface their
      // hot-bucket cap like capped_cells — a global scalar aggregate
      // cross-joined onto the pair output)
      "dedup_simhash_hamming64", "dedup_image_phash", "dedup_audio_fp",
      "dedup_video_frames",
      // PQ family (r11): 1-row bounded attaches only — the grouped m·ks
      // codebook row (pqCbRow), the query vector, and the 1-row ADC LUT;
      // the codes/corpus sides are never nested-loop-joined against
      // anything data-sized
      "sim_search_pq", "pq_train_codebooks", "sim_search_ivfpq",
      // 1-row sketch summary × 1-row exact-count verification harness
      // (AggQueries: merged.crossJoin(broadcast(exact)) — both sides are
      // groupless global aggregates, exactly 1 row each)
      "distinct_users_sketch",
      // 1-row approx-health summary × 1-row exact-percentile harness
      // (LlmQueries: ap.crossJoin(broadcast(ex)) — both groupless)
      "embedding_health_approx",
      // 1-row total-label-count attach (LlmOps.clusterSizeStats:
      // crossJoin(broadcast(tot)) — the lmScore pattern; histogram and
      // total are both report-sized)
      "dedup_cluster_stats",
      // inherits quality_lm_score's 1-row total-gram aggregate attach
      "quality_histogram",
      // 1-row corpus doc-count attach (LlmOps.tfIdfTopTerms:
      // crossJoin(broadcast(n)) — groupless global aggregate)
      "tfidf_topterms",
      // 1-row (n_docs, sum_dl) stats attach (LlmOps.bm25Search:
      // crossJoin(broadcast(stats)) — groupless global aggregate)
      "bm25_search",
      // 1-row pushed-aggregate row × 1-row unpushed harness row
      // (MiscQueries.connector_agg_pushdown — both groupless)
      "connector_agg_pushdown",
      // inherits bm25Search's 1-row (n_docs, sum_dl) stats attach AND
      // cosineTopK's 1-row query-vector cross join — both branch-internal
      // bounded attaches; the fusion join itself is an equi-join on doc_id
      "hybrid_search_rrf",
      // 1-row word-total attach (LlmOps.dsirSelect:
      // crossJoin(broadcast(tots)) — groupless global aggregate; the
      // B-row λ table joins by equi-key)
      "dsir_select",
      // 1-row reference-gram-mass attach (LlmOps.ccnetBuckets:
      // crossJoin(broadcast(nRef)) — the lmScore total pattern; vocab
      // and per-lang thresholds join by equi-key)
      "ccnet_buckets",
      // inherits assignCells' c-row centroid cross join (the trained
      // k-means assignment shape every IVF/semantic key audits)
      "cluster_balanced_sample",
      // r16: the exact profile's per-column count(DISTINCT) subtrees are
      // 1-row aggregate attaches (Ops.profileTable — the no-Expand form);
      // profile_table_approx composes the exact harness, so both carry
      // the same bounded crossJoins
      "profile_table", "profile_table_approx")
    val failures = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sf()).queryExecution.executedPlan.toString
          catch { case e: Throwable => s"BUILD FAILED: ${e.getMessage}" }
        if (plan.startsWith("BUILD FAILED")) Some(s"$name: $plan")
        else if (plan.contains("CartesianProduct")) Some(s"$name: cartesian")
        else if (plan.contains("BroadcastNestedLoopJoin") && !bnljOk(name))
          Some(s"$name: unexpected nested-loop join")
        else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("audit: LSH band join key is int64, not string") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val sh = graft.ext.LlmOps.shingleTable(docs, "doc_id")
    try {
      val banded = graft.ext.LlmOps.bandedSignatures(sh, "doc_id")
      assert(banded.schema("band").dataType ==
        org.apache.spark.sql.types.LongType,
        "the LSH self-join key must be an 8-byte integer, not a hex string")
      assert(banded.select(col("band")).distinct().count() > 1)
    } finally { sh.unpersist(); () }
  }
}
