package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape regression tests: the optimizations the 100 TB design
  * depends on must be visible in the physical plan, not assumed.
  */
class PhysicalPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("stream gate queries leave no persisted RDD behind after the " +
      "query and clearCache()") {
    for (q <- Seq("q324_er_stream", "q330_dedup_stream",
        "q353_ann_refresh_stream")) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val blocksBefore = org.apache.spark.RddBlocks.live(spark.sparkContext)
      SparkEntry.queries(q)(spark, dir).collect()
      spark.catalog.clearCache()
      val left = spark.sparkContext.getPersistentRDDs.toMap -- before
      assert(left.isEmpty, s"$q left: ${left.values.mkString(", ")}")
      val blocksLeft = org.apache.spark.RddBlocks.live(spark.sparkContext) -- blocksBefore
      assert(blocksLeft.isEmpty, s"$q left blocks of RDDs $blocksLeft")
    }
  }

  test("exact-span queries keep only what their result reads: q356, " +
      "q358, q359 and q372 leave at most their final frame; q357 frees " +
      "its build once its pairs are checkpointed") {
    /** RDDs the query leaves persisted: by the persistent-RDD map and by
      * the blocks the block manager master still tracks. */
    def left(q: String): (Int, Int) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val blocksBefore = org.apache.spark.RddBlocks.live(spark.sparkContext)
      SparkEntry.queries(q)(spark, dir).collect()
      spark.catalog.clearCache()
      ((spark.sparkContext.getPersistentRDDs.toMap -- before).size,
        (org.apache.spark.RddBlocks.live(spark.sparkContext) -- blocksBefore).size)
    }
    for (q <- Seq("q356_suffix_array", "q358_dup_span_coverage",
        "q359_repeat_families", "q372_excise_spans")) {
      val (persisted, withBlocks) = left(q)
      assert(persisted <= 1 && withBlocks <= 1, s"$q: $persisted, $withBlocks")
    }
    // holding every build round beside its pairs, q357 kept 11
    // checkpoints at sf0.001 (blocks counted with the cleaner off), and
    // 3 LCP descent checkpoints once its build was freed; now only the
    // pairs' own checkpoint, which the result reads
    val (persisted, withBlocks) = left("q357_repeated_spans")
    assert(persisted <= 1 && withBlocks == 1, s"q357: $persisted, $withBlocks")
  }

  test("dedup bias joins on fingerprint AND kept id — no trivially true " +
      "fp = fp") {
    val p = plan("q298_dedup_bias")
    assert("""Left keys \[2\]: \[fp#\d+, doc_id#\d+L\]""".r.findFirstIn(p)
      .nonEmpty, p)
    assert("""Right keys \[2\]: \[keep_fp#\d+, keep_id#\d+L\]""".r
      .findFirstIn(p).nonEmpty, p)
  }

  test("flagship resample is one exchange with map-side partial aggregation") {
    val p = plan("q01_weekly_bars")
    assert("(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle:\n$p")
    assert(p.contains("partial_min_by"), "partial aggregation must run map-side")
  }

  test("star join broadcasts the dimensions, never shuffles them") {
    val p = plan("q08_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("BroadcastExchange".r.findAllIn(p).size >= 3,
      "customer/nation/region must arrive via broadcast")
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge join expected at dimension sizes")
  }

  test("filters reach the parquet scan (pushdown) and columns are pruned") {
    val df = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") > 30)
      .select("l_partkey", "l_quantity")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_quantity:double>"),
      "scan must read only the two projected columns")
  }

  test("rejection anti-join keeps the broadcast hint") {
    val p = plan("q05_gap_detect")
    // gap detection itself is a window over one shuffle; make sure no
    // extra exchanges crept in beyond the window + aggregate pair
    assert("(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("IVF centroid assignment aggregates map-side — no window sort in the plan") {
    val p = plan("q37_ann_ivf")
    // the argmax is a min_by hash aggregate with map-side partials; a
    // Window over the crossed (row × centroid) stream would shuffle and
    // sort n×k rows instead of n partially-aggregated ones. The ranking
    // window of ivfTopK itself remains, so scope the check to the
    // assignment subplan.
    val assignPlan = graft.ops.Similarity.ivfAssign(
      Tables(spark, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      Tables(spark, dir, "embeddings").filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!assignPlan.contains("Window"),
      s"ivfAssign must not plan a Window:\n$assignPlan")
    assert(assignPlan.contains("partial_min_by"),
      s"argmax must partially aggregate map-side:\n$assignPlan")
  }

  test("keep-latest upsert aggregates map-side — no window sort in the plan") {
    val p = plan("q06_dedup_keep_latest")
    assert(!p.contains("Window"),
      s"keepLatest must be a max_by aggregate, not a row_number window:\n$p")
    assert(p.contains("partial_max_by"),
      "duplicate absorption must begin map-side before the exchange")
  }

  test("as-of join is one shuffle, one sort, one window — no range-join explosion") {
    val p = plan("q52_asof_join")
    assert("(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "as-of must never fall back to a product join")
  }

  test("rolling indicators: dedup and all windows share a single exchange") {
    val p = plan("q53_rolling_indicators")
    assert("(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"keepLatestInSeries + indicator windows must share one shuffle:\n$p")
    assert("(?m)^\\s*\\(\\d+\\) Sort".r.findAllIn(p).size == 1,
      s"the indicator window must reuse the dedup window's sort:\n$p")
  }

  test("contamination check broadcasts the benchmark shingle set") {
    val p = plan("q70_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark side must arrive via broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("PII scrub and repetition score stay in one codegen'd scan pass") {
    Seq("q69_pii_redact", "q71_repetition").foreach { q =>
      val p = plan(q)
      assert(!"(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).hasNext,
        s"$q is per-row — no shuffle belongs in its plan:\n$p")
      assert(!p.contains("Window"), s"$q must not plan a Window:\n$p")
    }
  }

  test("unicode_norm is codegen'd: the canonicalizer projection stays " +
      "inside WholeStageCodegen with no fallback to interpreted eval") {
    import graft.ops.Text
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(Reference.canonicalizeForDedup(col("text")).as("canon"))
    val p = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // formatted mode marks codegen'd operators with a * prefix in the
    // tree and "[codegen id : N]" in the details — the Project hosting
    // unicode_norm must carry BOTH (a non-codegen Expression would
    // strip them and fall back to interpreted eval)
    assert("(?m)^\\s*\\* Project".r.findAllIn(p).hasNext,
      s"canonicalizer Project must compile into a codegen stage:\n$p")
    assert("(?m)^\\s*\\(\\d+\\) Project \\[codegen id".r
      .findAllIn(p).hasNext,
      s"Project details must carry a codegen id:\n$p")
    assert(!"(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).hasNext,
      s"a per-row rewrite must not shuffle:\n$p")
  }

  test("mixture plan: the corpus aggregates BEFORE the weight join — " +
      "per-source rows, never per-doc rows, reach the full-outer join") {
    val p = plan("q381_mixture_plan")
    // the aggregate must sit under the join: exactly one partial/final
    // hash-aggregate pair feeding a source-count-sized join input
    assert(p.contains("SortMergeJoin FullOuter") ||
      p.contains("ShuffledHashJoin FullOuter"),
      s"full-outer weight join missing:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"per-source reduction must happen before the join:\n$p")
  }

  test("unigram surprisal never shuffles the posting stream on the token key") {
    val p = plan("q72_unigram_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      s"corpus counts must come back as a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join on the skewed token key is the scale-killer:\n$p")
  }

  test("chunking is a pure scan pass; funnel reduces before the step join") {
    val p = plan("q74_chunk_tokens")
    assert(!"(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).hasNext,
      s"chunking inherits the input partitioning — no shuffle:\n$p")
    val f = plan("q77_funnel")
    // the per-user table must collapse to the reached-histogram BEFORE
    // meeting the step table (broadcast, not shuffled)
    assert(f.contains("BroadcastNestedLoopJoin") || f.contains("BroadcastHashJoin"),
      s"step table must broadcast:\n$f")
    assert(!f.contains("SortMergeJoin"), f)
  }

  test("incremental dedup probes with equi-joins only — no cartesian") {
    val p = plan("q82_incremental_dedup")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
  }

  test("mixing and temperature rates come back broadcast, never shuffled back") {
    Seq("q88_mix_corpora", "q76_temperature_sample").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q per-stratum rates must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("range join is an equi-join on the grid cell — never a nested loop") {
    val p = plan("q92_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"grid blocking must remove the non-equi nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("heavy hitters verify pass semi-joins candidates via broadcast") {
    val p = plan("q94_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate set must come back broadcast, not shuffled:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("duplicate-span scoring joins hash-aggregated fingerprints — no cartesian") {
    val p = plan("q93_dup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("set ops plan as anti/semi joins on distinct sets — no set materialization") {
    val p = plan("q96_set_ops")
    assert(p.contains("LeftAnti") && p.contains("LeftSemi"),
      s"EXCEPT/INTERSECT must lower to anti/semi joins:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bottom-k sample is a per-partition top-k, not a global sort") {
    val p = plan("q98_bottomk_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan as TakeOrderedAndProject:\n$p")
  }

  test("range join pre-collapses the point side before the grid join") {
    val p = plan("q92_range_join")
    // the partial-per-day aggregate must sit below the join: the join's
    // probe side carries the aggregated d_n/d_qty_c columns
    assert(p.contains("d_qty_c"), s"point side must be pre-aggregated:\n$p")
  }

  test("bigram PMI broadcasts unigram counts — only the pair key shuffles") {
    val p = plan("q100_bigram_pmi")
    assert(p.contains("BroadcastHashJoin"),
      s"unigram/total tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("containment join candidates come from equi-joins only") {
    val p = plan("q101_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix×posting candidates must stay an equi-join:\n$p")
  }

  test("fuzzy join: equi-join on the block key, spread sides, filter-verify order") {
    val p = plan("q102_entity_resolution")
    // the main candidate stream must never degenerate to a nested loop.
    // ONE nested-loop is allowed by design: fuzzyJoinSegments' band
    // join of the degenerate-tiny populations (names shorter than
    // maxDist+1 chars, both sides length-filtered to ≤ 2·maxDist chars
    // — empty on this corpus, bounded on any).
    assert(!p.contains("CartesianProduct"), p)
    // formatted mode names each operator twice (tree + detail); count
    // the detail headers "(N) BroadcastNestedLoopJoin" = one per op
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the degenerate-short band join may nested-loop:\n$p")
    // both sides arrive hash-partitioned on the block key — the
    // explicit fan-out spread (REPARTITION_BY_COL marks a user
    // repartition, which AQE must not coalesce away)
    assert("hashpartitioning\\(bc".r.findAllIn(p).size >= 2,
      s"block-key repartition on both sides expected:\n$p")
    // the cheap signature bound runs as a filter; the banded verifier
    // computes the output distance
    assert(p.contains("sig_bound") && p.contains("lev_within"), p)
  }

  test("PQ recall: LUT and codebook ride broadcasts; the only nested " +
      "loops are the bounded-sample truth/LUT crossings") {
    val p = plan("q117_pq_recall")
    assert(!p.contains("CartesianProduct"), p)
    // every BroadcastNestedLoopJoin must involve the bounded 100-row
    // query sample (truth join + subVector slicing of the sample) —
    // never corpus×corpus. The codes×LUT ADC join and the corpus-side
    // codebook joins are broadcast HASH joins on (sub[, code]).
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"codebook/LUT joins must be broadcast equi-joins:\n$p")
    // the ADC aggregate collapses map-side before its exchange: a
    // partial_sum on the fixed-point LUT distances must appear
    assert(p.contains("partial_sum"), s"map-side ADC combine expected:\n$p")
  }

  test("IVF-PQ: probed-cell candidate generation is an equi-join on cell") {
    val p = plan("q118_ivfpq_recall")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate stream (probes × assigned corpus) joins on the
    // cell key — hash-partitioned or broadcast, never nested-loop over
    // the corpus; nested loops only touch the bounded query sample
    assert(p.contains("cell"), p)
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"cell/codebook equi-joins expected:\n$p")
    // BOTH nprobe tiers ride ONE assign + ONE ADC pass (tier = probe-
    // rank filter on already-aggregated rows): exactly one coarse-
    // assign min_by (the struct(cd…) argmin) and one ADC sum(dfp) may
    // appear — a per-tier loop duplicates both (measured 4× the bench
    // cost of the single-tier q117 on the same kernels)
    assert("partial_min_by\\([^)]*struct\\(cd,".r.findAllIn(p).size == 1,
      s"exactly one coarse-assign subtree expected:\n$p")
    assert("partial_sum\\(dfp".r.findAllIn(p).size == 1,
      s"exactly one ADC aggregation expected:\n$p")
  }

  test("ANN-blocked semantic dedup kernel: candidates equi-join on cell, " +
      "no packed-block cross join") {
    // pin the KERNEL's plan, not q123's: the query deliberately embeds
    // the exact O(n²) kernel as recall truth, which owns a bounded
    // packed-block nested loop by design. The pipeline kernel itself
    // must block on the cell key.
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    val centroids = e.filter(col("id") < 16)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val p = graft.ops.Similarity.cosineNearDupPairsCellBlocked(
        e, centroids, 0.9, nprobe = 2)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loops are the broadcast centroid fan-outs of
    // ivfProbeCells (16 rows, one per self-join side); the candidate
    // self-join must be a shuffled equi-join on the cell key
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the centroid broadcasts may nested-loop:\n$p")
    assert("Left keys(?: \\[\\d+\\])?: \\[cell#".r.findAllIn(p).nonEmpty,
      s"candidate join must key on cell:\n$p")
    // the pair distinct is a hash aggregate with no agg functions,
    // running over the already-threshold-filtered pairs
    assert("(?s)HashAggregate.*Functions: \\[\\]".r.findFirstIn(p).nonEmpty, p)
  }

  test("q123: exact kernel appears ONLY under the recall branch") {
    // The exact O(n²) kernel's physical signature is its object ops
    // (packBlocks MapGroups + pair-enumeration MapPartitions). q123
    // embeds it deliberately as recall ground truth, but the PIPELINE
    // leg — the pair set feeding dedupByClusters, exposed as
    // q123BlockedPairs because the full query hides it behind the
    // cluster checkpoint — must stay on the cell-blocked kernel:
    // zero object ops, candidates equi-joined on the cell key.
    val marker = "(?m)^\\(\\d+\\) (?:Flat)?MapGroups".r
    val marker2 = "(?m)^\\(\\d+\\) MapPartitions".r
    val leg = SparkEntry.q123BlockedPairs(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(marker.findAllIn(leg).isEmpty && marker2.findAllIn(leg).isEmpty,
      s"pipeline leg routed through an object-op kernel:\n$leg")
    assert("Left keys(?: \\[\\d+\\])?: \\[cell#".r.findAllIn(leg).nonEmpty,
      s"pipeline leg must candidate-join on cell:\n$leg")
    // self-validation: the markers DO fire on the exact kernel, so the
    // zero-count above distinguishes the two shapes
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    val exactPlan = graft.ops.Similarity.cosineNearDupPairsExact(e, 0.9)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(marker.findAllIn(exactPlan).nonEmpty &&
      marker2.findAllIn(exactPlan).nonEmpty,
      s"marker regexes no longer detect the exact kernel:\n$exactPlan")
    // and the full query's lazy legs still carry exactly one exact
    // kernel instance (the n_pairs_exact recall branch)
    val p = plan("q123_semantic_dedup_ann")
    assert(marker2.findAllIn(p).size == 1,
      s"exactly one exact pair-enumeration expected in q123:\n$p")
  }

  test("residual IVF-PQ: ADC is ONE broadcast equi-join on (cell, sub, code)") {
    val p = plan("q121_ivfpq_residual")
    assert(!p.contains("CartesianProduct"), p)
    // the per-cell LUT arrives broadcast and the join keys carry the
    // cell: probed-cell candidate restriction is IMPLICIT in this one
    // join — no separate candidate join exists, and dropping the
    // broadcast hint would degrade it to a sort-merge join on a
    // corpus-sized stream (this regex would then fail)
    val adc = ("(?s)BroadcastHashJoin\\s*\\n" +
      "Left keys \\[3\\]: \\[cell#\\d+L, sub#\\d+, code#\\d+L\\]").r
    assert(adc.findAllIn(p).size == 1,
      s"exactly one broadcast (cell, sub, code) ADC join expected:\n$p")
  }

  test("SQ8 recall: distance is the native codegen'd squared_l2, stats " +
      "and queries ride broadcasts, no cartesian") {
    val p = plan("q128_sq8_recall")
    assert(!p.contains("CartesianProduct"), p)
    // the |q|·n hot loop must evaluate the native expression, not an
    // interpreted HOF aggregate-over-zip lambda
    assert(p.contains("squared_l2"), s"native distance expected:\n$p")
    // the one-row stats frame and the bounded query sample are the only
    // nested-loop participants (encode/decode cross + truth/approx scans)
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4,
      s"only stats-row/query-sample crossings may nested-loop:\n$p")
  }

  test("matryoshka rerank: stage-2 joins candidates to the corpus on id " +
      "(equi), nested loops only in stage-1/truth bounded scans") {
    val p = plan("q129_matryoshka_rerank")
    assert(!p.contains("CartesianProduct"), p)
    // stage-1 shortlist scan + truth scan broadcast the 100-row sample;
    // the rerank joins (candidates×corpus on id, candidates×queries on
    // qid) must be equi-joins — at scale they are the point lookups
    assert("Left keys(?: \\[\\d+\\])?: \\[id#".r.findAllIn(p).nonEmpty ||
      "\\[codegen id : \\d+\\]".r.findAllIn(p).nonEmpty,
      s"rerank corpus join must key on id:\n$p")
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"rerank query/corpus equi-joins expected:\n$p")
  }

  test("triangles and BFS enumerate via equi-joins; the only nested " +
      "loops are the one-row count crosses") {
    for (q <- Seq("q142_triangles", "q143_bfs_reach")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // docLinkEdges' one-row N broadcast is the only BNLJ shape allowed;
      // a conditioned nested loop would mean the closure/frontier check
      // lost its equi-join form
      assert(!"BroadcastNestedLoopJoin (Inner|LeftSemi|LeftOuter|RightOuter)"
        .r.findFirstIn(p).isDefined, s"$q: conditioned nested loop:\n$p")
    }
  }

  test("bm25 prunes postings via broadcast semi-join and top-ks with " +
      "TakeOrderedAndProject") {
    val p = plan("q144_bm25")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"query-term prune must be a broadcast semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"all joins are broadcast-sized here:\n$p")
  }

  test("path trigrams: sessionize and both leads share one user " +
      "exchange; the count runs on the 3-gram key") {
    val p = plan("q146_path_trigrams")
    val exchanges = "(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected user shuffle + trigram agg only, got $exchanges:\n$p")
    assert("(?m)^\\s*\\(\\d+\\) Sort".r.findAllIn(p).size <= 2, p)
  }

  test("sparse cosine pairs come from the posting equi-join — no " +
      "cartesian, stats ride broadcasts") {
    val p = plan("q148_sparse_cosine")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop allowed is the one-row N cross
    assert(!"BroadcastNestedLoopJoin (Inner|LeftSemi|LeftOuter)"
      .r.findFirstIn(p).isDefined, s"conditioned nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"), "df must arrive broadcast")
  }

  test("interval overlap join blocks on the grid cell — an equi-join, " +
      "never a nested loop") {
    val p = plan("q150_interval_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the BETWEEN pair predicate must ride the cell equi-join:\n$p")
  }

  test("gap fill: grid, join and fill window share the series " +
      "shuffle") {
    val p = plan("q149_gap_fill")
    // daily dedup agg + (span agg reuses it) + final rollup; the fill
    // window must NOT add its own exchange beyond the series key
    val exchanges = "(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 4, s"gap-fill grew extra shuffles ($exchanges):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("RRF fusion: both legs top-k before fusing; final cut is " +
      "TakeOrderedAndProject") {
    val p = plan("q154_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("FullOuter"), "fusion must keep single-leg docs")
  }

  test("bloom-filtered join: bloom cells and survivors join by hash " +
      "equi-join; nested loops only in one-row count crossings") {
    val p = plan("q172_bloom_join")
    assert(!p.contains("CartesianProduct"), p)
    // probe×register membership and survivor×dim joins are equi-joins
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size +
      "\\(\\d+\\) ShuffledHashJoin".r.findAllIn(p).size +
      "\\(\\d+\\) SortMergeJoin".r.findAllIn(p).size >= 2,
      s"bloom membership + exact join must be equi-joins:\n$p")
    // the four one-row aggregates (counts + revenue) are the only
    // permitted nested-loop participants
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4,
      s"only one-row count frames may nested-loop:\n$p")
  }

  test("range-bound planning: the sample is a per-partition top-k " +
      "(TakeOrderedAndProject), boundaries ride one broadcast array") {
    val p = plan("q173_range_bounds")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k-by-md5 sample must never global-sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gramian: ONE typed partial-aggregate exchange — no exploded " +
      "rows on the scan side, no join; unfold generators run strictly " +
      "ABOVE the aggregate") {
    val p = plan("q176_gramian")
    assert(!p.contains("Join"), s"outer products must not self-join:\n$p")
    assert(!p.contains("PosExplode") && !p.contains("posexplode"),
      s"the n·d² row explosion must be gone:\n$p")
    assert("(?m)^\\s*\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"exactly one shuffle (the typed partial aggregate):\n$p")
    // formatted-plan ids follow execution order (scan = low ids); every
    // Generate (the d² unfold of the ONE-row triangle) must come after
    // the aggregate pair, i.e. never between scan and aggregate
    def ids(node: String): Seq[Int] =
      s"(?m)^\\s*\\((\\d+)\\) $node".r.findAllMatchIn(p)
        .map(_.group(1).toInt).toSeq
    val aggIds = ids("ObjectHashAggregate") ++ ids("SortAggregate") ++
      ids("HashAggregate")
    val genIds = ids("Generate")
    assert(aggIds.nonEmpty, s"typed aggregate missing:\n$p")
    assert(genIds.size == 2, s"exactly the two unfold explodes:\n$p")
    assert(genIds.forall(_ > aggIds.max),
      s"unfold must sit above the aggregate, not on the scan side:\n$p")
  }

  test("AUC and calibration: bucket offsets arrive broadcast; the " +
      "distinct-score stream never sort-merge-joins") {
    for (q <- Seq("q170_auc", "q178_calibration")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$q offsets join:\n$p")
    }
  }

  test("label propagation: every sweep is equi-join + hash aggregate — " +
      "no cartesian, no window sort over nodes") {
    val p = plan("q174_label_prop")
    assert(!p.contains("CartesianProduct"), p)
    assert("(?m)^\\s*\\(\\d+\\) Window".r.findAllIn(p).isEmpty,
      s"argmax must be min_by aggregate, not a ranking window:\n$p")
  }

  test("RFM: the three bin maps come back broadcast — the user table " +
      "never sort-merge-joins a value-domain table") {
    val p = plan("q188_rfm")
    assert(!p.contains("SortMergeJoin"), p)
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"three broadcast value→bin joins expected:\n$p")
  }

  test("held-out perplexity: posting joins are equi-joins, no cartesian") {
    val p = plan("q190_heldout_perplexity")
    assert(!p.contains("CartesianProduct"), p)
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the one-row tv/nd frames may nested-loop:\n$p")
  }

  test("CDC chunking: one doc-partitioned window, no join anywhere") {
    val p = plan("q191_cdc_chunks")
    assert(!p.contains("Join"), s"cut→chunk→fingerprint is join-free:\n$p")
    assert("(?m)^\\s*\\(\\d+\\) Window".r.findAllIn(p).size == 1,
      s"exactly one (per-doc) window:\n$p")
  }

  test("dedup cascade: three keep-min stages are pure hash aggregates " +
      "— no join, no window ranking") {
    val p = plan("q192_dedup_cascade")
    assert(!p.contains("Join"), s"keep-min must be min_by aggregation:\n$p")
    assert("(?m)^\\s*\\(\\d+\\) Window".r.findAllIn(p).isEmpty, p)
  }

  test("temporal BFS: every round is an equi-join on src + min " +
      "aggregate — the time constraint is a post-join filter, " +
      "never a nested loop") {
    val p = plan("q193_temporal_bfs")
    assert(!p.contains("CartesianProduct"), p)
    // docLinkEdges crosses the one-row node count into every edge
    // rebuild (the q143 convention) — but every frontier×edges round
    // must be a HASH equi-join on src, so the expansion joins
    // dominate the nested-loop count
    assert("\\(\\d+\\) BroadcastHashJoin".r.findAllIn(p).size +
      "\\(\\d+\\) ShuffledHashJoin".r.findAllIn(p).size +
      "\\(\\d+\\) SortMergeJoin".r.findAllIn(p).size >= 3,
      s"three rounds of src equi-joins expected:\n$p")
  }

  test("key-skew report: bucket offsets broadcast, no sort-merge join") {
    val p = plan("q195_key_skew")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"offsets join:\n$p")
  }

  test("PSL domains: the suffix probe is a BROADCAST equi-join; the " +
      "only shuffle is the per-host aggregate") {
    val p = plan("q198_psl_domains")
    assert(p.contains("BroadcastHashJoin"), s"PSL must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("auto-salted join: at production parallelism the diagnostic " +
      "picks a salt factor > 1 and the join key carries the salt; at " +
      "low parallelism it dispatches to the plain join") {
    // q199's shape with the parallelism pinned (the query itself reads
    // the session's shuffle partitions — 4 in tests, 32 in the bench)
    val big = Tables(spark, dir, "lineitem").select(
      when(col("l_orderkey") % 10 === 0, 0L)
        .otherwise(col("l_orderkey")).as("k"),
      round(col("l_extendedprice") * 100).cast("long").as("pc"))
    val small = spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") % 7).as("grp"))
    val salted = graft.ops.Skew.autoSaltedJoin(big, small, Seq("k"), 32)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(salted.contains("__salt"),
      s"a ~10%-hot key at parallelism 32 must salt:\n$salted")
    assert(!salted.contains("CartesianProduct"), salted)
    val plain = graft.ops.Skew.autoSaltedJoin(big, small, Seq("k"), 4)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plain.contains("__salt"),
      s"share 0.1 at parallelism 4 needs no salt:\n$plain")
  }

  test("AQE: the auto-salted join and the density-guarded fuzzy join " +
      "keep their guarded shapes in the FINAL adaptive plan (skew-join " +
      "splitting active — the production config the static pins miss)") {
    // The static pins above read the INITIAL plan; Spark 4 runs AQE by
    // default, which re-plans at runtime (coalesce, skew-split, join
    // demotion). Execute both guarded joins and assert the shape the
    // cluster would actually run.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevSkew =
      spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // q199's auto-salt shape at production parallelism
      val big = Tables(spark, dir, "lineitem").select(
        when(col("l_orderkey") % 10 === 0, 0L)
          .otherwise(col("l_orderkey")).as("k"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      val small = spark.range(0, 2000)
        .select(col("id").as("k"), (col("id") % 7).as("grp"))
      val salted = graft.ops.Skew.autoSaltedJoin(big, small, Seq("k"), 32)
      salted.collect(): Unit
      val sp = salted.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(sp.contains("== Final Plan =="),
        s"the assertion must read the FINAL adaptive plan:\n$sp")
      assert(sp.contains("__salt"),
        s"AQE must not strip the salt from the join key:\n$sp")
      assert(!sp.contains("CartesianProduct"), sp)
      // the fuzzy-join block-key spread must survive adaptive
      // re-planning: REPARTITION_BY_COL is a user repartition AQE may
      // rebalance but not merge into a nested loop
      val fz = SparkEntry.queries("q102_entity_resolution")(spark, dir)
      fz.collect(): Unit
      val fp = fz.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(fp.contains("== Final Plan =="), fp)
      assert(!fp.contains("CartesianProduct"), fp)
      assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(fp).size <= 1,
        s"only the degenerate-short band join may nested-loop:\n$fp")
      assert("hashpartitioning\\(bc".r.findAllIn(fp).size >= 2,
        s"block-key spread must survive AQE:\n$fp")
      assert(fp.contains("sig_bound") && fp.contains("lev_within"), fp)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
    }
  }

  test("pareto frontier: the distinct-pair running max is BUCKET-" +
      "partitioned; only the tiny bucket-offset table rides an " +
      "unpartitioned window, and offsets come back broadcast") {
    val p = plan("q164_pareto_frontier")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"offsets join:\n$p")
    val winSpecs = "windowspecdefinition\\([^)]*".r.findAllIn(p).toSeq
    assert(winSpecs.size == 2, s"intra + offset windows expected:\n$p")
    // the data-sized distinct-pair window must carry __bkt as a
    // PARTITION key (spec "(__bkt#…, cost#… ASC"); the bucket-walk
    // window partitions on the projected constant key (_w0 =
    // Cols.onePartitionKey) and ORDERS by __bkt — it sees the tiny
    // bucket table only, and no window runs with an EMPTY spec
    assert(winSpecs.count(s =>
      "windowspecdefinition\\(__bkt#\\d+L?, ".r.findPrefixOf(s).isDefined) == 1,
      s"the pair-table window must partition by bucket:\n$winSpecs")
    assert(winSpecs.count(s =>
      "windowspecdefinition\\(_w\\d+#\\d+L?, __bkt#\\d+L? ASC".r
        .findPrefixOf(s).isDefined) == 1,
      s"exactly one (bucket-walk) single-partition window:\n$winSpecs")
  }

  test("rolling beta: one partitioned window, no join, windowed sums " +
      "combine into the per-symbol pick without extra shuffles") {
    val p = plan("q196_rolling_beta")
    assert(!p.contains("Join"), s"pure window+aggregate chain:\n$p")
    assert("(?m)^\\s*\\(\\d+\\) Window".r.findAllIn(p).size == 1,
      s"exactly one window:\n$p")
  }

  test("wasserstein drift: every window carries a partition spec — " +
      "no unpartitioned data-sized running sum") {
    val p = plan("q250_wasserstein_drift")
    val winLines = "(?m)^\\s*\\(\\d+\\) Window".r.findAllIn(p).size
    assert(winLines >= 1, p)
    // an unpartitioned Window renders an empty partition list
    // ("], []," between the function and order blocks) — the
    // VERDICT-r9 pareto failure shape must not reappear
    assert(!p.contains("], [], ["), s"unpartitioned window found:\n$p")
  }

  test("jaro-winkler resolution: sig prefilter sits in the join " +
      "condition and the ref side broadcasts") {
    val p = plan("q267_jaro_winkler")
    assert(p.contains("sig_bound") || p.contains("SigBound"),
      s"prefilter must appear in the plan:\n$p")
    assert(p.contains("jaro_winkler_sim") || p.contains("JaroWinkler"),
      s"native expression expected:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (char, length)-keyed verify join should broadcast the " +
        s"smaller side:\n$p")
  }

  test("textrank: the final plan reads the CHECKPOINTED edge table — " +
      "the corpus-sized pair aggregation never re-runs per PageRank " +
      "reference") {
    val p = plan("q247_textrank")
    assert(p.contains("Scan ExistingRDD"),
      s"edges must come from the localCheckpoint:\n$p")
    assert(!p.toLowerCase.contains("parquet"),
      s"no parquet scan may survive into the iteration plan:\n$p")
  }

  test("rfm segmentation: every window is partitioned (quintile " +
      "ranks ride the bucketed prefix kernel, no global sort)") {
    val p = plan("q262_rfm_segments")
    val allWins = "(?m)^\\s*\\(\\d+\\) Window".r.findAllIn(p).size
    assert(allWins >= 6, s"three dimensions x two kernel levels:\n$p")
    assert(!p.contains("], [], ["), s"unpartitioned window found:\n$p")
    assert(!p.contains("GlobalLimit 5"), p)
  }

  test("whole-stage codegen covers the scan-project pipeline") {
    val df = Tables(spark, dir, "lineitem")
      .select((col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    // codegen'd operators carry the "*(stageId)" marker in simple mode
    assert(p.contains("*(1) Project"), p)
  }

  test("brute-force top-k ranks through WindowGroupLimit — the rank " +
      "filter prunes per-partition before the shuffle, never a full sort") {
    import spark.implicits._
    val vecs = (0L until 64L).map(i =>
      (i, Seq(i.toFloat, (i % 7).toFloat, 1.0f))).toDF("id", "vec")
    val p = graft.ops.Similarity.bruteForceTopK(vecs, vecs, 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must push into WindowGroupLimit:\n$p")
  }

  test("deletion-vector read: the anti-join broadcasts the DV side in " +
      "the final adaptive plan — the base scan never shuffles") {
    import graft.sources.Snapshot
    withTempDir { d =>
      val t = d.getAbsolutePath + "/t"
      Snapshot.commit(Tables(spark, dir, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_quantity").as("q")), t)
      Snapshot.deleteVectored(spark, t, "k", col("q") > 49)
      val df = Snapshot.read(spark, t)
      df.collect(): Unit
      val p = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("== Final Plan =="), p)
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"DV application must be a broadcast anti-join:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"the base side must not sort-shuffle for a small DV:\n$p")
    }
  }

  test("kmv registers (grouped — the scale path): the k-smallest " +
      "filter pushes into WindowGroupLimit, never a full sort") {
    import spark.implicits._
    val df = (0 until 200).map(i => (s"g${i % 4}", s"v$i"))
      .toDF("g", "x")
    val p = graft.ops.Sketch.kmvRegisters(df, Seq("g"), col("x"), 16)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("WindowGroupLimit"),
      s"pos<=k must push into WindowGroupLimit:\n$p")
  }

  test("tracInfluence: the probe-side dim join broadcasts — the " +
      "train explode streams once, never sort-merges") {
    import spark.implicits._
    val vecs = (0L until 64L).map(i =>
      (i, Seq(i.toDouble / 64, 1.0))).toDF("id", "x")
    val labels = (0L until 64L).map(i => (i, i % 2)).toDF("id", "y")
    val w = Seq((-1, 0L), (0, 500000L), (1, 100000L))
      .toDF("dim", "w_micro")
    val probes = Seq(Tuple1(0L), Tuple1(7L)).toDF("id")
    val p = graft.ops.LinearModel
      .tracInfluence(vecs, labels, w, probes, 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"probe features must broadcast into the dot join:\n$p")
  }

  test("lateInteractionTopK: the bounded query side broadcasts into " +
      "the slot cross — docs never shuffle for the non-equi join") {
    import spark.implicits._
    val q = Seq((0L, Seq(1.0, 0.0, 0.0, 1.0))).toDF("id", "vec")
    val d = (1L to 40L).map(i =>
      (i, Seq(i.toDouble, 1.0, 2.0, 3.0))).toDF("id", "vec")
    val p = graft.ops.Similarity.lateInteractionTopK(q, d, 2, 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query slots must broadcast into the id-inequality join:\n$p")
  }

  test("rocchioTopK: the expanded query broadcasts into the candidate " +
      "dim join") {
    import spark.implicits._
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("id", "vec")
    val rel = Seq((1L, Seq(0.0, 1.0))).toDF("id", "vec")
    val non = Seq((2L, Seq(1.0, 0.0))).toDF("id", "vec")
    val cands = (10L to 60L).map(i =>
      (i, Seq(i.toDouble, 1.0))).toDF("id", "vec")
    val p = graft.ops.Similarity.rocchioTopK(q, rel, non, cands,
      1000000L, 750000L, 150000L, 5)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"),
      s"q' must broadcast into the dim join:\n$p")
  }

  test("binaryTopC: the bounded query codes broadcast into the " +
      "hamming scan — the corpus never shuffles for the coarse tier") {
    val p = plan("q497_binary_ann")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query codes must broadcast into the id-inequality scan:\n$p")
  }

  test("fairnessAudit: two hash aggregates with map-side partials, " +
      "the overall row broadcast — no window anywhere") {
    val p = plan("q505_fairness")
    assert(p.contains("partial_count"),
      "group counts must combine map-side")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"the overall row must broadcast onto groups:\n$p")
    assert(!p.contains("Window"), s"no window expected:\n$p")
  }

  test("marketBasket: the support trim runs before the marginal " +
      "joins (filter under the join, not above it)") {
    val p = plan("q511_market_basket")
    // the n_ab >= minCount filter must sit on the aggregate BELOW the
    // two marginal joins: no Join node may appear before (= shallower
    // than) the HAVING filter in the formatted tree order
    val havingIdx = p.indexOf("(n_ab")
    assert(havingIdx >= 0, s"support filter missing:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "marginal joins present")
  }
}
