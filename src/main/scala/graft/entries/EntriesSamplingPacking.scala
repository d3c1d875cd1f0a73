package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.{dec, snap4}

/** Query surface + DuckDB oracles: sampling, corpus mixing/planning, sequence packing.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesSamplingPacking {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Denoising planning: T5 SPAN-CORRUPTION yield — per source the
    // exact encoder/decoder token budgets at rate 15% / mean span 3,
    // floors and min-one-span guarantees per doc, one aggregate.
    "q498_span_corruption" -> ((s, dir) =>
      Text.spanCorruptionPlan(t(s, dir, "documents"), col("source"),
        col("text"), 15, 3)),

    // Sampling: sequential token-budget shard packing — a global
    // running sum realized as the two-level distributed prefix sum
    // (bucketed window + broadcast per-bucket offsets); no stage runs
    // a single-reducer window over the data.
    "q75_pack_shards" -> ((s, dir) =>
      Sampling.packByBudget(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        col("doc_id"), Text.tokenCount(col("text")), 2000L, 64L)),
    // Sampling: temperature-scaled multilingual rebalancing (α = 0.5,
    // the mC4/XLM-R rule) — stratum histogram broadcast back,
    // fixed-point weight snap before the normalizing sum, keep
    // decision via the deterministic hash bucket.
    "q76_temperature_sample" -> ((s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents"),
        col("doc_id"), col("lang"), 1, 2, 100)),
    // Sampling: weighted WITHOUT-replacement draw (Efraimidis–Spirakis
    // priorities from deterministic hash uniforms) — quality-weighted
    // subcorpus selection: 20 docs per language, weight = token count,
    // so long documents win proportionally more often, reproducibly on
    // any engine.
    "q126_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"),
          col("lang"), col("doc_id"), Text.tokenCount(col("text")), 20, 42L)
        .select(col("stratum").as("lang"), col("id").as("doc_id"),
          col("priority"))),
    // Sampling/planning: DATA-SELECTION CURVE — "keep the top X% by
    // quality: how many tokens do I get?": docs bin into exact quality
    // deciles (best = bin 0, via the shared equal-count kernel on the
    // negated score), each bin reports its token mass and the running
    // cumulative share — the curve a quality-threshold decision reads.
    "q189_selection_curve" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        round(Text.qualityScore(col("text")) * 1e4).cast("long").as("sfp"),
        Text.tokenCount(col("text")).cast("long").as("ntok"))
      val neg = docs.select((-col("sfp")).as("nv"), col("ntok"))
      val bm = Profile.equalCountBinMap(neg.select(col("nv")),
        col("nv"), 10, 100L)
      val per = neg
        .join(broadcast(bm.select(col("v").as("nv"), col("bin"))), Seq("nv"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(Cols.onePartitionKey(col("bin"))).orderBy(col("bin"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = per.agg(sum(col("tokens")).as("tt"))
      per.withColumn("cum_tokens", sum(col("tokens")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("bin"), col("n_docs"), col("tokens"),
          col("cum_tokens"),
          round((col("cum_tokens").cast("double") / col("tt").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("cum_share"))
        .orderBy(col("bin"))
    }),
    // Curation: MIXTURE-WEIGHT GRID SEARCH — held-out NLL of the
    // interpolated unigram LM α·P_src0 + (1−α)·P_rest on src0's own
    // held-out half, swept over α = 0%..100% in 10% steps: the
    // in-engine answer to "how much in-domain mix helps" (the 1-D
    // DoReMi sweep; read the argmin row off the 11-row curve). One
    // (token, class) train aggregate; the held-out occurrence stream
    // fans ×11 against a broadcast alpha grid and collapses in one
    // map-side-combined aggregate; −ln terms snap ×1e6 pre-sum.
    "q264_mixture_grid" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"),
        Text.tokens(col("text")).as("tk"),
        (Sampling.hashBucket(col("doc_id"), 2) === 0).as("tr"))
      val occ = d.select(col("source"), col("tr"),
        explode(col("tk")).as("tok"))
      val cnt = occ.filter(col("tr")).groupBy(col("tok"))
        .agg(sum(when(col("source") === "src0", 1L).otherwise(0L))
            .as("c0"),
          sum(when(col("source") =!= "src0", 1L).otherwise(0L))
            .as("cr"))
      val tots = cnt.agg(sum(col("c0")).as("n0"),
        sum(col("cr")).as("nr"), count(lit(1)).as("v"))
      val alphas = s.range(0, 11)
        .select((col("id") * 10).cast("int").as("alpha_pct"))
      val a = col("alpha_pct").cast("double") / lit(100.0)
      occ.filter(!col("tr") && col("source") === "src0")
        .select(col("tok"))
        .join(cnt, Seq("tok"), "left")
        .select(coalesce(col("c0"), lit(0L)).as("c0"),
          coalesce(col("cr"), lit(0L)).as("cr"))
        .crossJoin(broadcast(tots))
        .crossJoin(broadcast(alphas))
        .select(col("alpha_pct"),
          round(-log(a * ((col("c0") + 1).cast("double") /
              (col("n0") + col("v")).cast("double")) +
            (lit(1.0) - a) * ((col("cr") + 1).cast("double") /
              (col("nr") + col("v")).cast("double"))) * lit(1e6))
            .cast("long").as("tf"))
        .groupBy(col("alpha_pct"))
        .agg(count(lit(1)).as("n_terms"),
          round((sum(col("tf")).cast("double") /
            (count(lit(1)).cast("double") * lit(1e6)))
            .cast("decimal(20,10)"), 4).cast("double").as("avg_nll"))
    }),
    // Sampling: WEIGHTED sampling WITHOUT replacement (Efraimidis-
    // Spirakis A-ES) — the reservoir that q126's independent Bernoulli
    // rates can't express (exactly k rows, inclusion ∝ weight): each
    // item draws the deterministic md5-uniform u ∈ (0,1] and ranks by
    // ln(u)/weight (the monotone log form of u^(1/w)); the top-k by
    // that key IS the weighted sample. Zero RNG — the draw is the
    // repo's md5 convention, the ln snaps ×1e6 (q72's proven-portable
    // pattern) before the order, ties break on doc_id.
    "q349_weighted_reservoir" -> ((s, dir) => {
      val h = Dedup.hashLong(concat(lit("ws"),
        col("doc_id").cast("string")))
      val u = (h + 1).cast("double") /
        lit(1152921504606846976L).cast("double")
      t(s, dir, "documents")
        // positivity guard (r12 advisor): a zero-length doc would put
        // -Inf/0 into the key — engines disagree on the cast; weight
        // needs n_chars >= 1, identical filter in the oracle
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          round(log(u) / col("n_chars").cast("double") * 1e6)
            .cast("long").as("key6"))
        .orderBy(col("key6").desc, col("doc_id"))
        .limit(20)
    }),
    // Packing: CONCAT-AND-CHUNK sequence layout (the GPT-style
    // zero-padding packer): docs concatenate in id order, the stream
    // cuts into 512-token sequences, docs may straddle cuts. Pure
    // prefix-sum arithmetic — offsets from the two-level kernel —
    // so the layout is exact and embarrassingly parallel at 100 TB.
    "q363_sequence_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n"))
      Packing.sequencePacking(docs, 512L)
    }),
    // Packing: WHOLE-DOC striped bin packing — (len desc, id) rank
    // striped mod ⌈total/cap⌉ bins, the deterministic shuffle-free
    // stand-in for first-fit-decreasing (inherently sequential); the
    // overflow column MEASURES the heuristic's waste instead of
    // hiding it.
    "q364_striped_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n"))
      Packing.stripedBinPacking(docs, 512L)
    }),
    // Mixture planning: DATA-CONSTRAINED repeat-value curve
    // (Muennighoff 2023) — per source the effective/marginal token
    // value of epochs 1..6 at R* = 15, every emitted number an exact
    // integer off the ×1e6-snapped decay factor.
    "q420_repeat_value" -> ((s, dir) =>
      Sampling.repeatValueCurve(t(s, dir, "documents"), col("source"),
        Text.tokenCount(col("text")), 6, 15.0)),
    // Dataloader: SHARD-BALANCE audit over the packByBudget layout
    // at budget 20k — min/max shard tokens + imbalance micro.
    "q461_shard_balance" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("w"))
      Sampling.shardBalanceAudit(
        Sampling.packByBudget(d, col("doc_id"), col("w"),
          20000L, 64L))
    }),
    // Mixture planning: REPEAT-AWARE ALLOCATION — spend a 40%-of-
    // corpus budget across sources repeating up to 4 epochs; greedy
    // by marginal value = epoch-level round-robin (the decay factor
    // depends only on k), exact cumulative-cost walk.
    "q452_repeat_allocation" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val budget = d.select(sum(Text.tokenCount(col("text"))
        .cast("long"))).head().getLong(0) * 2 / 5
      Sampling.repeatAwareAllocation(d, col("source"),
        Text.tokenCount(col("text")), 4, 15.0, budget)
    }),
    // LM/corpus: GOOD–TURING unseen mass per source — the
    // vocabulary-coverage read; singleton share of the token mass,
    // exact integers.
    "q440_good_turing" -> ((s, dir) =>
      Text.goodTuringUnseen(t(s, dir, "documents"), col("source"),
        col("text"))),
    // Sampling/curation: DSIR importance selection (Xie et al. 2023) —
    // score raw-pool docs by the hashed-n-gram log-likelihood ratio
    // against a target corpus (here: the English slice) and keep the
    // top-100. Per-bucket λ snaps per term; doc weights are exact
    // integer sums; the top-k is TakeOrdered, never a global sort.
    "q397_dsir_select" -> ((s, dir) =>
      Sampling.dsirSelect(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("lang") === "en", 4096, 100)),
    // Sampling/mixture: EXPONENTIATED-GRADIENT domain reweighting —
    // the DoReMi-style update from per-source losses (here: exact
    // floored mean tokens per doc) to the next mixture: snapped exp
    // factors, floor + largest-remainder normalization summing to
    // EXACTLY 1e6 micro.
    "q389_eg_reweight" -> ((s, dir) => {
      val losses = t(s, dir, "documents")
        .select(col("source"),
          Text.tokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("sn"), count(lit(1)).as("c"))
        .select(col("source"),
          ((col("sn") * 1000000L - pmod(col("sn") * 1000000L, col("c")))
            / col("c")).cast("long").as("loss_micro"))
      Sampling.egReweight(losses, 100000L)
    }),
    // Sampling/mixture: TARGET-WEIGHTED MIXTURE PLAN — the arithmetic
    // run before any sampling: per weighted source the exact target
    // (⌊budget·w/Σw⌋ at an odd budget to exercise every floor),
    // whole-pass upsample epochs, per-pass inclusion rate, planned
    // mass and shortfall; a weighted-but-absent source surfaces with
    // zero availability and its whole target as shortfall (the
    // full-outer contract), unweighted sources plan to zero.
    "q381_mixture_plan" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sampling.mixturePlan(docs, col("source"),
        Text.tokenCount(col("text")),
        Seq("src1" -> 500000L, "src3" -> 300000L, "src5" -> 150000L,
          "synthetic_src" -> 50000L),
        777777L)
    }),
    // Systems: CACHE-PLANNING curve — the hit rate a perfect N-entry
    // LFU would achieve on the user-access stream, for N ∈ {1, 10,
    // 100, 1000}: top-N mass read off the FREQUENCY-OF-FREQUENCY
    // histogram (distinct-count domain, tiny) with exact partial-
    // bucket algebra c·min(k, N − k_before) — never a global sort of
    // the key table. The "how much memory buys how many hits" sizing
    // read behind every hot-key mitigation (q94/q195 find the keys;
    // this prices the cache).
    "q284_cache_curve" -> ((s, dir) => {
      val hc = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .groupBy(col("n").as("c")).agg(count(lit(1)).as("k"))
      val w = Window.partitionBy(Cols.onePartitionKey(col("c")))
        .orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = hc
        .withColumn("k_before", coalesce(sum(col("k")).over(w),
          lit(0L)))
        .withColumn("m_before",
          coalesce(sum(dec(col("c")) * col("k")).over(w),
            lit(0).cast("decimal(38,0)")))
      val tot = hc.agg(sum(dec(col("c")) * col("k")).as("m_tot"),
        sum(col("k")).as("n_keys"))
      val grid = {
        import s.implicits._
        Seq(1L, 10L, 100L, 1000L).toDF("n_cache")
      }
      grid.join(cum, col("k_before") < col("n_cache"))
        .groupBy(col("n_cache"))
        .agg(sum(dec(col("c")) *
          least(col("k"), col("n_cache") - col("k_before")))
          .as("m_hit"))
        .crossJoin(broadcast(tot))
        .select(col("n_cache"), col("n_keys"),
          round((col("m_hit").cast("double") /
            col("m_tot").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("hit_rate"))
    }),
    // Stats/eval: K-FOLD CROSS-VALIDATION of the hour-rate predictor
    // (q260's model under the proper protocol) — 4 hash folds, each
    // scored by the model fit on the OTHER three. The complement
    // trick makes it ONE pass: per-(fold, hour) counts roll up to
    // hour totals, and fold f's training stats are totals MINUS fold
    // f — no per-fold rescan. Per-(fold, hour) Brier cells in exact
    // DECIMAL(38,0), ×1e9 term snaps (q260's convention), 4-row
    // fold table out.
    "q271_kfold_cv" -> ((s, dir) => {
      val fh = t(s, dir, "events")
        .select(hour(col("ts")).as("h"),
          (col("event_type") === "purchase").cast("long").as("y"),
          Sampling.hashBucket(col("event_id"), 4).as("f"))
        .groupBy(col("f"), col("h"))
        .agg(count(lit(1)).as("n_fh"), sum(col("y")).as("pos_fh"))
      val hh = fh.groupBy(col("h"))
        .agg(sum(col("n_fh")).as("n_h"), sum(col("pos_fh")).as("pos_h"))
      val j = fh.join(hh, "h").filter(col("n_h") > col("n_fh"))
        .withColumn("p",
          round(((col("pos_h") - col("pos_fh")).cast("double") /
            (col("n_h") - col("n_fh")).cast("double") * 1e6)
            .cast("decimal(20,10)")).cast("long"))
        .withColumn("bs", dec(col("n_fh")) * col("p") * col("p")
          - dec(lit(2L)) * col("p") * lit(1000000L) * col("pos_fh")
          + dec(lit(1000000L)) * lit(1000000L) * col("pos_fh"))
      val nf = j.groupBy(col("f")).agg(sum(col("n_fh")).as("n_f"))
      j.join(nf, "f")
        .select(col("f"), col("n_f"),
          round(col("bs").cast("double") / col("n_f").cast("double")
            / lit(1e12) * lit(1e9)).cast("long").as("tb"))
        .groupBy(col("f").as("fold"), col("n_f").as("n_scored"))
        .agg(round((sum(col("tb")).cast("double") / lit(1e9))
          .cast("decimal(20,10)"), 6).cast("double").as("brier"))
    }),
    // Sampling/curation: CURRICULUM INTERLEAVE — a global training
    // order where consecutive positions round-robin across the three
    // length tiers (every mini-batch sees every tier), shuffled
    // within tier by hash: order = in-tier-rank·3 + tier. The in-tier
    // rank rides the GROUPED two-level prefix kernel on the hash
    // domain — no global sort and no data-sized window partition
    // anywhere; the final cut is a TakeOrdered head. The "stream
    // diverse batches without a shuffle pass per epoch" primitive.
    "q243_curriculum_interleave" -> ((s, dir) => {
      val rated = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("n_chars") < 250, 0L).when(col("n_chars") < 400, 1L)
            .otherwise(2L).as("tier"),
          Dedup.hashLong(concat(lit("c"),
            col("doc_id").cast("string"))).as("h"))
      val byV = rated.groupBy(col("tier"), col("h"))
        .agg(count(lit(1)).as("cnt"))
      val rk = Ranks.withRunningBelowBy(byV, "tier", "h",
        1000000000000000L, Seq("cnt"))
      rated.join(rk, Seq("tier", "h"))
        .withColumn("rwithin", row_number().over(
          Window.partitionBy(col("tier"), col("h"))
            .orderBy(col("doc_id"))))
        .select(((col("cnt_below") + col("rwithin") - 1) * 3 +
          col("tier")).as("order_idx"), col("doc_id"), col("tier"))
        .orderBy(col("order_idx")).limit(30)
    }),
    // Text/stats: GOOD–TURING unseen-mass estimate per source — the
    // missing-species read Heaps' fit (q220) approaches from growth:
    // P(next unit is NEW) ≈ n₁/N from the singleton count, plus the
    // discounted r*(1) = 2·n₂/n₁ that a smoothed LM would assign
    // singletons. Units are word 3-gram OCCURRENCES (positional, not
    // per-doc-distinct — GT is an occurrence-count statistic; the
    // 31-token synthetic vocabulary has no singletons). Two hash
    // aggregates: unit counts, then count-of-counts; exact integer
    // ratios snapped 4dp.
    "q241_good_turing" -> ((s, dir) => {
      val grams = Cols.bound(Text.tokens(col("text"))) { tk =>
        when(size(tk) < 3, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(tk) - 2),
            i => concat_ws(" ", element_at(tk, i),
              element_at(tk, i + 1), element_at(tk, i + 2))))
      }
      val units = t(s, dir, "documents")
        .select(col("source"), explode(grams).as("u"))
      val vf = units.groupBy(col("source"), col("u"))
        .agg(count(lit(1)).as("r"))
      vf.groupBy(col("source"))
        .agg(sum(col("r")).as("n_units"),
          count(lit(1)).as("vocab"),
          sum(when(col("r") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("r") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("source"), col("n_units"), col("vocab"),
          col("n1"), col("n2"),
          snap4(col("n1"), col("n_units")).as("p_unseen"),
          when(col("n1") === 0, lit(null))
            .otherwise(snap4(col("n2") * 2, col("n1")))
            .as("r_star_1"))
    }),
    // Sampling/curation: GREEDY SET COVER — which 3 sources together
    // buy the most 3-shingle vocabulary? The classic 1−1/e
    // maximum-coverage greedy, driver-coordinated over 3 single-row
    // argmax rounds (anti-join against the covered set each round);
    // the answer to "we can only license/ingest k sources — which".
    "q239_set_cover" -> ((s, dir) =>
      Sampling.greedySetCover(t(s, dir, "documents"), col("source"),
          Text.wordShingles(Text.tokens(col("text")), 3), 3)
        .withColumnRenamed("grp", "source")),
    // Stats/curation: QUANTILE NORMALIZATION of doc lengths across
    // sources — every source's length distribution maps onto the
    // pooled reference through a 100-bin quantile grid, the
    // cross-source score-calibration step before any global quality
    // threshold. Ranks ride the grouped/ungrouped two-level prefix
    // kernels; only the 100-row grid ever broadcasts. Report: per
    // source the row count, mean before/after, how many rows moved,
    // and the normalized range.
    "q223_quantile_norm" -> ((s, dir) => {
      def m4(num: Column, den: Column): Column =
        round((num.cast("double") / den.cast("double"))
          .cast("decimal(20,10)"), 4).cast("double")
      Profile.quantileNormalize(t(s, dir, "documents"),
          col("source"), col("n_chars"), 100, 64L)
        .groupBy(col("g"))
        .agg(sum(col("cnt")).as("n"),
          sum(dec(col("v")) * col("cnt")).as("sb"),
          sum(dec(col("v_norm")) * col("cnt")).as("sa"),
          sum(when(col("v") =!= col("v_norm"), col("cnt"))
            .otherwise(0L)).as("n_changed"),
          min(col("v_norm")).as("norm_min"),
          max(col("v_norm")).as("norm_max"))
        .select(col("g").as("source"), col("n"),
          m4(col("sb"), col("n")).as("mean_before"),
          m4(col("sa"), col("n")).as("mean_after"),
          col("n_changed"), col("norm_min"), col("norm_max"))
    }),
    // Sampling: WATERFILLING token-budget allocation across sources —
    // the corpus-mixture planning step: every source below the water
    // level contributes everything, the rest cap at the level L chosen
    // so the total hits the budget. Closed form on the SORTED m-row
    // source table (prefix sums + the first feasible level), so the
    // only data-sized work is the token aggregate; allocation per
    // source = min(n, L) with one double division for L.
    "q163_waterfill_mix" -> ((s, dir) => {
      val srcs = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(Text.tokenCount(col("text")).cast("long")).as("n_tok"))
      Sampling.waterfillAllocation(srcs, col("source"), col("n_tok"), 2, 5)
    }),
    // Sampling: leakage-safe train/val/test split — exact-duplicate
    // pairs → clusters → split by hash of the CANONICAL id, so no
    // duplicate pair straddles a split boundary. The oracle's closure
    // of same-fingerprint pairs is the fingerprint group, so canonical
    // reduces to a window min — no recursion needed.
    "q81_leakage_split" -> ((s, dir) => {
      val d = docsDup(s, dir)
      val fp = d.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val pairs = fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Sampling.leakageSafeSplit(d.select(col("doc_id")), "doc_id", pairs,
          Seq(("train", 80), ("val", 90), ("test", 100)), 100)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canonical")).as("n_clusters"))
    }),
    // Sampling: token-weighted corpus mixing — per-source keep rates
    // steering each source to an equal token share, pure integer
    // arithmetic end-to-end (no float snap anywhere).
    "q88_mix_corpora" -> ((s, dir) =>
      Sampling.mixUniformByTokens(t(s, dir, "documents"), col("doc_id"),
        col("source"), Text.tokenCount(col("text")), 100)),
    // Sampling: deterministic bottom-k — the k distinct docs with the
    // smallest portable content-key hash form a reproducible uniform
    // sample on any engine; orderBy+limit plans as
    // TakeOrderedAndProject (per-partition top-k, no global sort).
    "q98_bottomk_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Dedup.hashLong(col("doc_id").cast("string")).as("h"))
        .orderBy(col("h"), col("doc_id")).limit(25)),
    // Sampling: windowed revisit throttling — keep one bar per symbol
    // per 30-day window, walking the day-sorted series with an exact
    // packed-integer fold (the crawl re-visit rate limiter).
    "q104_throttle_window" -> ((s, dir) =>
      Sampling.throttleByWindow(
        bars(s, dir).select(col("symbol"),
          datediff(col("d"), lit("1970-01-01").cast("date")).as("day")),
        col("symbol"), col("day"), 30)
        .withColumnRenamed("k", "symbol")),
    // Similarity/sampling: COVERAGE (diversity) downsample — one
    // representative per trained IVF cell (closest to centroid, id
    // tiebreak) plus the cell's occupancy and coverage RADIUS (max
    // member distance, ×1e6): the k-center-flavored "keep the corpus'
    // spread, not its density" reduction, and the radius is the
    // quality bound a coverage-sampled training set quotes. One
    // broadcast-centroid assignment pass, one cell aggregate.
    "q218_coverage_sample" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      Similarity.ivfAssignL2Scored(e, Similarity.kmeansTrainL2(e, c0, 1))
        .groupBy(col("cell"))
        .agg(min_by(col("id"), struct(col("cd"), col("id"))).as("rep_id"),
          count(lit(1)).as("n_members"),
          max(round(col("cd") * 1e6).cast("long")).as("radius_fp"))
    }),
    // Sampling: per-stratum deterministic rates — downsample dominant
    // languages, keep the tail whole (corpus rebalancing).
    "q62_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedHashSample(t(s, dir, "documents"), col("doc_id"),
        col("lang"), Map("en" -> 20, "zh" -> 50), 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(Text.tokenCount(col("text"))).cast("long").as("total_tokens"))),
    // Sampling: deterministic 30% hash sample (pure function of the
    // key — same rows on every run/engine), aggregated per language.
    "q51_hash_sample" -> ((s, dir) =>
      Sampling.hashSample(t(s, dir, "documents"), col("doc_id"), 30, 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(Text.tokenCount(col("text"))).cast("long").as("total_tokens")))
  )

  val oracleSql: Map[String, String] = Map(

    // Same whitespace tokens; the per-doc floor/greatest chain
    // replayed row-wise, one rollup per source.
    "q498_span_corruption" ->
      s"""WITH d AS (SELECT source AS grp,
         |    CAST(len($tokSql) AS BIGINT) AS n FROM documents),
         |c AS (SELECT grp, n,
         |    CASE WHEN n = 0 THEN 0
         |      ELSE greatest(1, (n * 15) // 100) END AS nc
         |  FROM d),
         |s AS (SELECT grp, n, nc,
         |    CASE WHEN n = 0 THEN 0
         |      ELSE greatest(1, nc // 3) END AS ns
         |  FROM c)
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS n_tokens,
         |  CAST(sum(nc) AS BIGINT) AS n_corrupt,
         |  CAST(sum(ns) AS BIGINT) AS n_spans,
         |  CAST(sum(n - nc + ns) AS BIGINT) AS input_tokens,
         |  CAST(sum(CASE WHEN n = 0 THEN 0 ELSE nc + ns + 1 END)
         |    AS BIGINT) AS target_tokens,
         |  CASE WHEN sum(n) = 0 THEN NULL ELSE
         |    CAST((CAST(sum(n - nc + ns)
         |        + sum(CASE WHEN n = 0 THEN 0 ELSE nc + ns + 1 END)
         |        AS HUGEINT) * 1000000) // sum(n) AS BIGINT) END
         |    AS blowup_micro
         |FROM s GROUP BY grp""".stripMargin,

    // The oracle is the textbook single-window prefix sum; the engine
    // path's two-level decomposition must agree exactly (BIGINT token
    // weights, double division exact below 2^53).
    "q75_pack_shards" ->
      s"""WITH w AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS w
         |           FROM documents)
         |SELECT doc_id AS id, w AS weight,
         |  CAST(floor((sum(w) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w)
         |    / 2000) AS BIGINT) AS shard
         |FROM w""".stripMargin,
    // Identical fixed-point sqrt snap (×1e6 BIGINT) before the
    // normalizing sum; the remaining double chain is written in the
    // same left-assoc order as the engine path so floor() agrees.
    "q76_temperature_sample" ->
      s"""WITH c AS (
         |  SELECT lang AS stratum, count(*) AS n_rows,
         |    CAST(round(sqrt(CAST(count(*) AS DOUBLE))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS w_fp
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT sum(n_rows) AS n_total, sum(w_fp) AS w_total FROM c),
         |r AS (SELECT stratum, n_rows,
         |    least(CAST(100 AS BIGINT), CAST(floor(
         |      CAST(n_total * 1 AS DOUBLE) / 2 * w_fp / w_total / n_rows
         |        * 100) AS BIGINT)) AS keep_buckets
         |  FROM c CROSS JOIN tot)
         |SELECT d.lang AS stratum, r.n_rows, r.keep_buckets,
         |  CAST(sum(CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 100
         |      < r.keep_buckets THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM documents d JOIN r ON d.lang = r.stratum
         |GROUP BY 1, 2, 3""".stripMargin,
    // Efraimidis–Spirakis priorities in lockstep: same md5-derived
    // uniform, same double arithmetic order, priority snapped through
    // DECIMAL(20,8) on both sides before it decides the order.
    "q126_weighted_sample" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id,
         |    CAST(round(CAST(-ln((CAST(h AS DOUBLE) + 1.0)
         |        / 1.152921504606846977e18)
         |      / CAST(ntok AS DOUBLE) AS DECIMAL(20,8)), 8) AS DOUBLE)
         |      AS priority
         |  FROM (SELECT lang, doc_id,
         |      ${h60("'42|' || CAST(doc_id AS VARCHAR)")} AS h,
         |      len($tokSql) AS ntok FROM documents)
         |  WHERE ntok > 0)
         |SELECT lang, doc_id, priority FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY lang ORDER BY priority, doc_id) AS rn
         |  FROM t) WHERE rn <= 20""".stripMargin,
    // q24's score snapped ×1e4, negated into the q188 bin-map CTE
    // (best docs = bin 0), same running token shares.
    "q189_selection_curve" ->
      s"""WITH sc AS (SELECT
         |    CAST(round(CAST(round(CAST(0.4 * least(1.0, len(tk) / 100.0)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_filter(tk,
         |            t -> t IN ('the','a','of','to','and'))) * 1.0
         |            / len(tk) END)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_distinct(tk)) * 1.0 / len(tk) END)
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) * 10000) AS BIGINT)
         |      AS sfp,
         |    CAST(len(tk) AS BIGINT) AS ntok
         |  FROM (SELECT $tokSql AS tk FROM documents)),
         |pu AS (SELECT -sfp AS nv, ntok FROM sc),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM pu),
         |${rfmBinSql("nv", 10, "qb")},
         |per AS (SELECT qb.bin, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(ntok) AS BIGINT) AS tokens
         |  FROM pu JOIN qb ON pu.nv = qb.v GROUP BY 1),
         |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt FROM per)
         |SELECT bin, n_docs, tokens,
         |  CAST(sum(tokens) OVER (ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_tokens,
         |  CAST(round(CAST(CAST(sum(tokens) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS DOUBLE) / CAST(tt AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS cum_share
         |FROM per CROSS JOIN t ORDER BY bin""".stripMargin,
    // Same split/models/alpha grid, identical double shape per term.
    "q264_mixture_grid" ->
      s"""WITH d AS (SELECT source, $tokSql AS tk,
         |    ${h60("CAST(doc_id AS VARCHAR)")} % 2 = 0 AS tr
         |  FROM documents),
         |occ AS (SELECT source, tr, unnest(tk) AS tok FROM d),
         |cnt AS (SELECT tok,
         |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cr
         |  FROM occ WHERE tr GROUP BY 1),
         |tots AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
         |    CAST(sum(cr) AS BIGINT) AS nr,
         |    CAST(count(*) AS BIGINT) AS v FROM cnt),
         |ho AS (SELECT tok FROM occ
         |  WHERE NOT tr AND source = 'src0'),
         |tf AS (SELECT alpha_pct, CAST(round(-ln(
         |      CAST(alpha_pct AS DOUBLE) / CAST(100.0 AS DOUBLE)
         |        * (CAST(coalesce(c0, 0) + 1 AS DOUBLE) / (n0 + v))
         |      + (CAST(1.0 AS DOUBLE) - CAST(alpha_pct AS DOUBLE)
         |          / CAST(100.0 AS DOUBLE))
         |        * (CAST(coalesce(cr, 0) + 1 AS DOUBLE) / (nr + v)))
         |    * CAST(1e6 AS DOUBLE)) AS BIGINT) AS tf
         |  FROM ho LEFT JOIN cnt USING (tok)
         |  CROSS JOIN tots
         |  CROSS JOIN (SELECT CAST(unnest(range(0, 11)) * 10 AS INT)
         |    AS alpha_pct))
         |SELECT alpha_pct, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(round(CAST(CAST(sum(tf) AS DOUBLE)
         |    / (count(*) * CAST(1e6 AS DOUBLE)) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS avg_nll
         |FROM tf GROUP BY 1""".stripMargin,
    // Same md5-uniform draw, same ×1e6 ln snap, same tie order.
    "q349_weighted_reservoir" ->
      s"""SELECT doc_id, n_chars,
         |  CAST(round(ln(CAST(${h60("'ws' || CAST(doc_id AS VARCHAR)")}
         |      + 1 AS DOUBLE)
         |      / CAST(1152921504606846976 AS DOUBLE))
         |    / CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS key6
         |FROM documents WHERE n_chars > 0
         |ORDER BY key6 DESC, doc_id LIMIT 20""".stripMargin,
    // Same concat-and-chunk arithmetic from a window cumsum.
    "q363_sequence_packing" ->
      s"""WITH tk AS (SELECT doc_id, len($tokSql) AS n FROM documents),
         |o AS (SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off FROM tk),
         |l AS (SELECT doc_id, n, off, off // 512 AS s,
         |    (off + n - 1) // 512 AS e FROM o WHERE n > 0),
         |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tk),
         |tc AS (SELECT doc_id, s AS start_seq,
         |    unnest(range(s, e + 1)) AS seq_id FROM l)
         |SELECT CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (start_seq = seq_id) AS BIGINT)
         |    AS n_docs_starting,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc,
         |  CAST(least(512, tt.total - seq_id * 512) AS BIGINT)
         |    AS tokens_filled
         |FROM tc, tt GROUP BY seq_id, tt.total""".stripMargin,
    // Same (len desc, id) striping replayed with row_number.
    "q364_striped_packing" ->
      s"""WITH tk AS (SELECT doc_id, len($tokSql) AS n FROM documents),
         |r AS (SELECT doc_id, n,
         |    row_number() OVER (ORDER BY n DESC, doc_id) - 1 AS r
         |  FROM tk),
         |b AS (SELECT CAST(ceil(CAST(sum(n) AS DOUBLE) / 512)
         |    AS BIGINT) AS nb FROM tk)
         |SELECT CAST(r.r % b.nb AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n) AS BIGINT) AS tokens,
         |  CAST(greatest(0, sum(n) - 512) AS BIGINT) AS overflow
         |FROM r, b GROUP BY 1""".stripMargin,
    // Exact U per source, decay factor from the same double-literal
    // exp snapped ×1e6, floored effective/marginal/ratio integers.
    "q420_repeat_value" ->
      s"""WITH u AS (SELECT source,
         |    CAST(sum(len($tokSql)) AS BIGINT) AS unique_tokens
         |  FROM documents GROUP BY 1),
         |k AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS epoch),
         |f AS (SELECT epoch, CAST(round(1e6 * CAST(15.0 AS DOUBLE)
         |    * (CAST(1.0 AS DOUBLE) - exp(-CAST(epoch - 1 AS DOUBLE)
         |      / CAST(15.0 AS DOUBLE)))) AS BIGINT) AS fk FROM k),
         |e AS (SELECT u.source, u.unique_tokens, f.epoch,
         |    u.unique_tokens + (u.unique_tokens * f.fk) // 1000000
         |      AS eff
         |  FROM u CROSS JOIN f)
         |SELECT source, unique_tokens, CAST(epoch AS INT) AS epoch,
         |  CAST(eff AS BIGINT) AS eff_tokens,
         |  CAST(eff - coalesce(lag(eff) OVER (PARTITION BY source
         |    ORDER BY epoch), 0) AS BIGINT) AS marginal_tokens,
         |  CAST((eff * 1000000) // (epoch * unique_tokens) AS BIGINT)
         |    AS value_ratio_micro
         |FROM e""".stripMargin,
    // The packByBudget prefix replay + one shard aggregate.
    "q461_shard_balance" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS w
         |  FROM documents),
         |p AS (SELECT doc_id, w,
         |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // 20000 AS BIGINT) AS shard FROM d),
         |g AS (SELECT shard, CAST(sum(w) AS BIGINT) AS tokens
         |  FROM p GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_shards,
         |  CAST(min(tokens) AS BIGINT) AS min_tokens,
         |  CAST(max(tokens) AS BIGINT) AS max_tokens,
         |  CAST(((max(tokens) - min(tokens)) * 1000000)
         |    // greatest(max(tokens), 1) AS BIGINT)
         |    AS imbalance_micro
         |FROM g""".stripMargin,
    // The same curve CTEs; the greedy walk is one ordered cumsum
    // over the sources×epochs table.
    "q452_repeat_allocation" ->
      s"""WITH u AS (SELECT source,
         |    CAST(sum(len($tokSql)) AS BIGINT) AS ut
         |  FROM documents GROUP BY 1),
         |b AS (SELECT CAST((sum(ut) * 2) // 5 AS BIGINT) AS budget
         |  FROM u),
         |k AS (SELECT unnest([1, 2, 3, 4]) AS epoch),
         |f AS (SELECT epoch, CAST(round(1e6 * CAST(15.0 AS DOUBLE)
         |    * (CAST(1.0 AS DOUBLE) - exp(-CAST(epoch - 1 AS DOUBLE)
         |      / CAST(15.0 AS DOUBLE)))) AS BIGINT) AS fk FROM k),
         |e AS (SELECT u.source, u.ut, f.epoch,
         |    u.ut + (u.ut * f.fk) // 1000000 AS eff
         |  FROM u CROSS JOIN f),
         |c AS (SELECT e.*, b.budget,
         |    sum(ut) OVER (ORDER BY epoch, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum
         |  FROM e, b)
         |SELECT source, CAST(min(ut) AS BIGINT) AS unique_tokens,
         |  CAST(count(*) FILTER (cum <= budget) AS BIGINT)
         |    AS epochs_alloc,
         |  CAST(coalesce(sum(ut) FILTER (cum <= budget), 0)
         |    AS BIGINT) AS raw_tokens,
         |  CAST(coalesce(max(eff) FILTER (cum <= budget), 0)
         |    AS BIGINT) AS eff_tokens
         |FROM c GROUP BY 1""".stripMargin,
    // One token-frequency spectrum per source; N1/N floored micro.
    "q440_good_turing" ->
      s"""WITH tk AS (SELECT source, unnest($tokSql) AS w
         |  FROM documents),
         |f AS (SELECT source AS grp, w, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2)
         |SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_types,
         |  CAST(count(*) FILTER (c = 1) AS BIGINT) AS singletons,
         |  CAST(count(*) FILTER (c = 2) AS BIGINT) AS doubletons,
         |  CAST((count(*) FILTER (c = 1) * 1000000) // sum(c)
         |    AS BIGINT) AS p_unseen_micro
         |FROM f GROUP BY 1""".stripMargin,
    // Same hashed unigram∪bigram buckets (60-bit md5 mod 4096), the
    // same per-term ln snap, exact integer doc weights, the same
    // (w desc, id) top-100.
    "q397_dsir_select" ->
      s"""WITH $dsirCtes,
         |top AS (SELECT id FROM aw WHERE NOT is_target
         |  ORDER BY w_micro DESC, id LIMIT 100)
         |SELECT a.id, a.is_target, a.n_feats, a.w_micro,
         |  a.id IN (SELECT id FROM top) AS selected
         |FROM aw a""".stripMargin,
    // Losses, the snapped exp factors, and the floor +
    // largest-remainder normalization replayed with // truncation.
    "q389_eg_reweight" ->
      s"""WITH tk AS (SELECT source, CAST(len($tokSql) AS BIGINT) AS n
         |  FROM documents),
         |ls AS (SELECT source, CAST((sum(n) * 1000000) // count(*)
         |    AS BIGINT) AS loss_micro FROM tk GROUP BY 1),
         |mn AS (SELECT CAST(sum(loss_micro) // count(*) AS BIGINT)
         |    AS m FROM ls),
         |fz AS (SELECT source, loss_micro,
         |    CAST(round(1e6 * exp(CAST((loss_micro - mn.m) * 100000
         |      AS DOUBLE) / 1e12)) AS BIGINT) AS factor_micro
         |  FROM ls, mn),
         |dn AS (SELECT CAST(sum(factor_micro) AS BIGINT) AS den FROM fz),
         |pb AS (SELECT source, loss_micro, factor_micro,
         |    CAST((CAST(factor_micro AS HUGEINT) * 1000000) // dn.den
         |      AS BIGINT) AS w_base,
         |    CAST((CAST(factor_micro AS HUGEINT) * 1000000) % dn.den
         |      AS BIGINT) AS rem FROM fz, dn),
         |df AS (SELECT CAST(1000000 - sum(w_base) AS BIGINT)
         |    AS deficit FROM pb),
         |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source)
         |    AS rnk FROM pb)
         |SELECT source, loss_micro, factor_micro,
         |  w_base + CASE WHEN rnk <= df.deficit THEN 1 ELSE 0 END
         |    AS weight_micro
         |FROM rk, df""".stripMargin,
    // Same floors on HUGEINT (all quantities nonnegative, so // ≡ the
    // engine's pmod floor), same full-outer weight join.
    "q381_mixture_plan" ->
      s"""WITH tk AS (SELECT source, CAST(len($tokSql) AS BIGINT) AS n
         |  FROM documents),
         |av AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS avail FROM tk GROUP BY 1),
         |w(wsource, wm) AS (VALUES ('src1', 500000), ('src3', 300000),
         |  ('src5', 150000), ('synthetic_src', 50000)),
         |j AS (SELECT coalesce(av.source, w.wsource) AS source,
         |    coalesce(n_docs, 0) AS n_docs,
         |    coalesce(avail, 0) AS avail,
         |    CAST(coalesce(wm, 0) AS BIGINT) AS weight_micro
         |  FROM av FULL OUTER JOIN w ON av.source = w.wsource),
         |tt AS (SELECT *, CAST((CAST(777777 AS HUGEINT) * weight_micro)
         |    // 1000000 AS BIGINT) AS target FROM j),
         |e AS (SELECT *, CASE WHEN avail > 0 AND target > 0
         |    THEN (target + avail - 1) // avail ELSE 0 END AS epochs
         |  FROM tt),
         |r AS (SELECT *, CASE WHEN epochs > 0
         |    THEN CAST((CAST(target AS HUGEINT) * 1000000)
         |      // (CAST(avail AS HUGEINT) * epochs) AS BIGINT)
         |    ELSE 0 END AS rate FROM e)
         |SELECT source, n_docs, avail AS available_tokens,
         |  weight_micro, target AS target_tokens,
         |  CAST(epochs AS BIGINT) AS repeat_epochs,
         |  rate AS sample_rate_micro,
         |  CAST((CAST(rate AS HUGEINT) * avail * epochs) // 1000000
         |    AS BIGINT) AS planned_tokens,
         |  target - CAST((CAST(rate AS HUGEINT) * avail * epochs)
         |    // 1000000 AS BIGINT) AS shortfall
         |FROM r""".stripMargin,
    // Same frequency-of-frequency walk (the oracle may sort the tiny
    // count domain globally), same exact partial-bucket algebra.
    "q284_cache_curve" ->
      """WITH kc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |hc AS (SELECT n AS c, CAST(count(*) AS BIGINT) AS k
        |  FROM kc GROUP BY 1),
        |cum AS (SELECT c, k,
        |    CAST(coalesce(sum(k) OVER (ORDER BY c DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS k_before
        |  FROM hc),
        |tot AS (SELECT sum(CAST(c AS HUGEINT) * k) AS m_tot,
        |    CAST(sum(k) AS BIGINT) AS n_keys FROM hc)
        |SELECT n_cache, n_keys,
        |  CAST(round(CAST(CAST(sum(CAST(c AS HUGEINT)
        |      * least(k, n_cache - k_before)) AS DOUBLE)
        |    / CAST(m_tot AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
        |    AS hit_rate
        |FROM cum
        |JOIN (SELECT CAST(unnest([1, 10, 100, 1000]) AS BIGINT)
        |    AS n_cache) g
        |  ON k_before < n_cache
        |CROSS JOIN tot
        |GROUP BY n_cache, n_keys, m_tot""".stripMargin,
    // Same complement-trick training stats, same ×1e6 rate snap and
    // ×1e9 Brier term snaps.
    "q271_kfold_cv" ->
      s"""WITH fh AS (SELECT hour(ts) AS h,
         |    ${h60("CAST(event_id AS VARCHAR)")} % 4 AS f,
         |    CAST(count(*) AS BIGINT) AS n_fh,
         |    CAST(sum(CAST(event_type = 'purchase' AS BIGINT))
         |      AS BIGINT) AS pos_fh
         |  FROM events GROUP BY 1, 2),
         |hh AS (SELECT h, CAST(sum(n_fh) AS BIGINT) AS n_h,
         |    CAST(sum(pos_fh) AS BIGINT) AS pos_h FROM fh GROUP BY 1),
         |j AS (SELECT f, n_fh, pos_fh,
         |    CAST(round(CAST(CAST(pos_h - pos_fh AS DOUBLE)
         |      / (n_h - n_fh) * CAST(1e6 AS DOUBLE)
         |      AS DECIMAL(20,10))) AS BIGINT) AS p
         |  FROM fh JOIN hh USING (h) WHERE n_h > n_fh),
         |jb AS (SELECT f, n_fh,
         |    CAST(n_fh AS HUGEINT) * p * p
         |      - 2 * CAST(p AS HUGEINT) * 1000000 * pos_fh
         |      + CAST(1000000 AS HUGEINT) * 1000000 * pos_fh AS bs
         |  FROM j),
         |nf AS (SELECT f, CAST(sum(n_fh) AS BIGINT) AS n_f
         |  FROM jb GROUP BY 1)
         |SELECT f AS fold, n_f AS n_scored,
         |  CAST(round(CAST(CAST(sum(CAST(round(CAST(bs AS DOUBLE)
         |    / n_f / 1e12 * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS brier
         |FROM jb JOIN nf USING (f) GROUP BY 1, 2""".stripMargin,
    // Same tier thresholds and hash shuffle; in-tier rank as one
    // (h, doc_id)-ordered row_number, same interleave arithmetic.
    "q243_curriculum_interleave" ->
      s"""WITH rt AS (SELECT doc_id,
         |    CASE WHEN n_chars < 250 THEN 0 WHEN n_chars < 400 THEN 1
         |      ELSE 2 END AS tier,
         |    ${h60("'c' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT CAST((row_number() OVER (PARTITION BY tier
         |    ORDER BY h, doc_id) - 1) * 3 + tier AS BIGINT)
         |    AS order_idx,
         |  doc_id, CAST(tier AS BIGINT) AS tier
         |FROM rt ORDER BY order_idx LIMIT 30""".stripMargin,
    // Same positional (non-distinct) 3-gram stream, the same two
    // aggregates and exact-ratio snaps.
    "q241_good_turing" ->
      s"""WITH tk AS (SELECT source, $tokSql AS tk FROM documents),
         |un AS (SELECT source, unnest(CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[])
         |    ELSE [array_to_string(tk[i:i+2], ' ')
         |      for i in range(1, len(tk) - 1)] END) AS u
         |  FROM tk),
         |vf AS (SELECT source, u, CAST(count(*) AS BIGINT) AS r
         |  FROM un GROUP BY 1, 2),
         |ag AS (SELECT source, CAST(sum(r) AS BIGINT) AS n_units,
         |    CAST(count(*) AS BIGINT) AS vocab,
         |    CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n2
         |  FROM vf GROUP BY 1)
         |SELECT source, n_units, vocab, n1, n2,
         |  CAST(round(CAST(CAST(n1 AS DOUBLE)
         |    / CAST(n_units AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS p_unseen,
         |  CASE WHEN n1 = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n2 * 2 AS DOUBLE)
         |      / CAST(n1 AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    END AS r_star_1
         |FROM ag""".stripMargin,
    // Three unrolled greedy rounds: same (count desc, src) argmax,
    // same anti-membership against the covered set, same 4dp share.
    "q239_set_cover" ->
      s"""WITH tk AS (SELECT source AS src, $tokSql AS tk
         |  FROM documents),
         |sv AS (SELECT DISTINCT src, sh FROM (
         |  SELECT src, unnest(CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END) AS sh
         |  FROM tk)),
         |tot AS (SELECT CAST(count(DISTINCT sh) AS BIGINT) AS tot
         |  FROM sv),
         |c1 AS (SELECT src, CAST(count(*) AS BIGINT) AS c
         |  FROM sv GROUP BY 1),
         |r1 AS (SELECT src, c FROM c1 ORDER BY c DESC, src LIMIT 1),
         |cov1 AS (SELECT DISTINCT sh FROM sv
         |  WHERE src IN (SELECT src FROM r1)),
         |c2 AS (SELECT src, CAST(count(*) AS BIGINT) AS c FROM sv
         |  WHERE src NOT IN (SELECT src FROM r1)
         |    AND sh NOT IN (SELECT sh FROM cov1) GROUP BY 1),
         |r2 AS (SELECT src, c FROM c2 ORDER BY c DESC, src LIMIT 1),
         |cov2 AS (SELECT DISTINCT sh FROM sv
         |  WHERE src IN (SELECT src FROM r1 UNION ALL
         |    SELECT src FROM r2)),
         |c3 AS (SELECT src, CAST(count(*) AS BIGINT) AS c FROM sv
         |  WHERE src NOT IN (SELECT src FROM r1 UNION ALL
         |      SELECT src FROM r2)
         |    AND sh NOT IN (SELECT sh FROM cov2) GROUP BY 1),
         |r3 AS (SELECT src, c FROM c3 ORDER BY c DESC, src LIMIT 1),
         |sel AS (SELECT 1 AS rnd, src, c FROM r1
         |  UNION ALL SELECT 2, src, c FROM r2
         |  UNION ALL SELECT 3, src, c FROM r3)
         |SELECT CAST(rnd AS INT) AS "round", src AS source,
         |  c AS n_new,
         |  CAST(sum(c) OVER (ORDER BY rnd) AS BIGINT) AS n_cum,
         |  CAST(round(CAST(CAST(sum(c) OVER (ORDER BY rnd) AS DOUBLE)
         |    / CAST(tot AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS coverage
         |FROM sel CROSS JOIN tot""".stripMargin,
    // Same upper-rank → 100-bin snap (exact subtract-mod ceil-div),
    // same pooled-range reference lookup, same aggregate snaps.
    "q223_quantile_norm" ->
      """WITH rws AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v
        |  FROM documents),
        |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt
        |  FROM rws GROUP BY 1, 2),
        |rk AS (SELECT g, v, cnt,
        |    CAST(coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below,
        |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS ng
        |  FROM gv),
        |bb AS (SELECT g, v, cnt,
        |    CAST((((below + cnt) * 100 + ng - 1
        |      - (((below + cnt) * 100 + ng - 1) % ng)) / ng)
        |      AS BIGINT) AS b
        |  FROM rk),
        |pv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM gv GROUP BY 1),
        |pr AS (SELECT v, cnt,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |  FROM pv),
        |nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tot FROM pv),
        |grid AS (SELECT CAST(t.b AS BIGINT) AS b,
        |    CAST(((t.b * n_tot + 99 - ((t.b * n_tot + 99) % 100))
        |      / 100) AS BIGINT) AS p
        |  FROM range(1, 101) t(b) CROSS JOIN nt),
        |ref AS (SELECT grid.b, pr.v AS v_norm FROM pr JOIN grid
        |  ON grid.p > pr.below AND grid.p <= pr.below + pr.cnt),
        |mp AS (SELECT g, v, cnt, v_norm FROM bb JOIN ref USING (b))
        |SELECT g AS source, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(round(CAST(CAST(sum(CAST(v AS HUGEINT) * cnt)
        |    AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_before,
        |  CAST(round(CAST(CAST(sum(CAST(v_norm AS HUGEINT) * cnt)
        |    AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_after,
        |  CAST(sum(CASE WHEN v <> v_norm THEN cnt ELSE 0 END)
        |    AS BIGINT) AS n_changed,
        |  min(v_norm) AS norm_min, max(v_norm) AS norm_max
        |FROM mp GROUP BY 1""".stripMargin,
    // Same sorted prefix-sum chain; budget in exact integer division
    // (div ≙ //), level = first feasible (B − prefix)/(m − k + 1).
    "q163_waterfill_mix" ->
      s"""WITH srcs AS (SELECT source, CAST(sum(len(tk)) AS BIGINT)
         |    AS n_tok
         |  FROM (SELECT source, $tokSql AS tk FROM documents)
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS m FROM srcs),
         |rk AS (SELECT source, n_tok, m, (total * 2) // 5 AS budget,
         |    row_number() OVER (ORDER BY n_tok, source) AS k,
         |    coalesce(sum(n_tok) OVER (ORDER BY n_tok, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS pfx
         |  FROM srcs CROSS JOIN tot),
         |lvl AS (SELECT CAST(budget - pfx AS DOUBLE)
         |      / CAST(m - k + 1 AS DOUBLE) AS level
         |  FROM rk
         |  WHERE CAST(budget - pfx AS DOUBLE) / CAST(m - k + 1 AS DOUBLE)
         |    <= CAST(n_tok AS DOUBLE) OR k = m
         |  ORDER BY k LIMIT 1)
         |SELECT source, n_tok,
         |  CAST(round(CAST(least(CAST(n_tok AS DOUBLE), level)
         |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS allocation,
         |  CAST(n_tok AS DOUBLE) <= level AS saturated
         |FROM rk CROSS JOIN lvl""".stripMargin,
    // Transitive closure of same-fp pairs == the fp group, so the
    // canonical (cluster-min) id is a plain window min here; the hash
    // route is the shared h60 % den.
    "q81_leakage_split" ->
      s"""WITH u AS ($docsDupSql),
         |fp AS (SELECT doc_id,
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM u),
         |c AS (SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY fp) AS canonical FROM fp),
         |s AS (SELECT doc_id, canonical,
         |    CASE WHEN ${h60("CAST(canonical AS VARCHAR)")} % 100 < 80
         |        THEN 'train'
         |      WHEN ${h60("CAST(canonical AS VARCHAR)")} % 100 < 90
         |        THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM c)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT canonical) AS BIGINT) AS n_clusters
         |FROM s GROUP BY 1""".stripMargin,
    // Identical integer arithmetic: // is floor division but every
    // operand is positive, matching Spark's div.
    "q88_mix_corpora" ->
      s"""WITH per AS (SELECT source, doc_id,
         |    CAST(len($tokSql) AS BIGINT) AS w FROM documents),
         |c AS (SELECT source, sum(w) AS w_s, count(*) AS n_docs
         |  FROM per GROUP BY 1),
         |t AS (SELECT CAST(sum(w_s) AS BIGINT) AS w_tot,
         |    count(*) AS k_src FROM c),
         |r AS (SELECT source, n_docs, w_s AS n_tokens,
         |    CASE WHEN w_s = 0 THEN 100
         |      ELSE least(100, (w_tot * 100) // (k_src * w_s)) END
         |      AS keep_buckets
         |  FROM c CROSS JOIN t)
         |SELECT per.source,
         |  CAST(min(r.n_docs) AS BIGINT) AS n_docs,
         |  CAST(min(r.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(min(r.keep_buckets) AS BIGINT) AS keep_buckets,
         |  CAST(sum(CASE WHEN ${h60("CAST(per.doc_id AS VARCHAR)")} % 100
         |      < r.keep_buckets THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_docs,
         |  CAST(sum(CASE WHEN ${h60("CAST(per.doc_id AS VARCHAR)")} % 100
         |      < r.keep_buckets THEN per.w ELSE 0 END) AS BIGINT)
         |    AS n_kept_tokens
         |FROM per JOIN r ON per.source = r.source
         |GROUP BY 1""".stripMargin,
    // Same portable 60-bit md5 key; ties impossible (hash of distinct
    // ids), doc_id tiebreak kept anyway.
    "q98_bottomk_sample" ->
      s"""SELECT doc_id, ${h60("CAST(doc_id AS VARCHAR)")} AS h
         |FROM documents ORDER BY h, doc_id LIMIT 25""".stripMargin,
    // Identical packed-state fold ((last+1)·2²¹ + kept); list_reduce
    // supplies the explicit 0 init Spark's aggregate() has.
    "q104_throttle_window" ->
      s"""WITH b AS (SELECT symbol,
         |    date_diff('day', DATE '1970-01-01', d) AS day
         |  FROM ($barsSql)),
         |g AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_obs,
         |    list_sort(list(CAST(day AS BIGINT))) AS ds FROM b GROUP BY 1),
         |f AS (SELECT symbol, n_obs,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), ds), (acc, d) ->
         |      CASE WHEN acc // 2097152 = 0
         |          OR d - (acc // 2097152 - 1) > 30
         |        THEN (d + 1) * 2097152 + acc % 2097152 + 1
         |        ELSE acc END) AS packed
         |  FROM g)
         |SELECT symbol, n_obs,
         |  CAST(packed % 2097152 AS BIGINT) AS n_kept,
         |  CAST(packed // 2097152 - 1 AS BIGINT) AS last_kept_day
         |FROM f""".stripMargin,
    // One unrolled Lloyd iteration, struct-min representative pick
    // (q102's arg-min pattern), exact ×1e6 radius.
    "q218_coverage_sample" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (${l2aSql("c0")}),
         |c1 AS (${l2MeanSql("a0")}),
         |a1 AS (${l2aSql("c1")})
         |SELECT cell, CAST((min({'d': cd, 'i': id})).i AS BIGINT)
         |    AS rep_id,
         |  CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(max(CAST(round(cd * 1e6) AS BIGINT)) AS BIGINT)
         |    AS radius_fp
         |FROM a1 GROUP BY 1""".stripMargin,
    "q62_stratified_sample" ->
      s"""SELECT lang, count(*) AS n,
         |  CAST(sum(len($tokSql)) AS BIGINT) AS total_tokens
         |FROM documents
         |WHERE ${h60("CAST(doc_id AS VARCHAR)")} % 100 <
         |  CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 50 ELSE 100 END
         |GROUP BY 1""".stripMargin,
    "q51_hash_sample" ->
      s"""SELECT lang, count(*) AS n,
         |  CAST(sum(len($tokSql)) AS BIGINT) AS total_tokens
         |FROM documents
         |WHERE ${h60("CAST(doc_id AS VARCHAR)")} % 100 < 30
         |GROUP BY 1""".stripMargin
  )
}
