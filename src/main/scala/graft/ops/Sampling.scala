package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv}

/** Deterministic corpus sampling — reproducibility is the whole point at
  * 100 TB: the SAME rows must be selected on every run, every cluster
  * layout, and every engine (auditable train/holdout splits), which
  * rules out `rand()`/`sample()` RNG state. Selection here is a pure
  * function of the row key: the portable 60-bit md5 hash mod a bucket
  * count (`Dedup.hashLong` — identical in any SQL engine).
  */
object Sampling {

  /** Keep rows whose key hashes into the first `rateNum` of `rateDen`
    * buckets — a deterministic ~rateNum/rateDen sample. One codegen'd
    * predicate on the scan; no shuffle, no RNG, pushdown-friendly.
    */
  def hashSample(df: DataFrame, key: Column, rateNum: Int, rateDen: Int): DataFrame =
    df.filter(hashBucket(key, rateDen) < rateNum)

  /** The bucket assignment itself (also the train/validation/test split
    * primitive: bucket ranges partition the corpus disjointly).
    */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(Dedup.hashLong(key.cast("string")), lit(buckets))

  /** Weighted sampling WITHOUT replacement per stratum — deterministic
    * Efraimidis–Spirakis (A-Res): row i draws u_i ∈ (0,1) as a pure
    * function of (seed, key) via the portable 60-bit md5 hash and gets
    * priority p_i = −ln(u_i)/w_i; the k SMALLEST priorities of a
    * stratum are distributed exactly as a weighted without-replacement
    * draw (heavier rows win proportionally more often). Deterministic
    * u ⇒ the same sample on every run, cluster layout, and engine —
    * the auditable quality-weighted subcorpus draw (weight = quality
    * score or token count) that the uniform [[hashSample]] can't
    * express.
    *
    * Cross-engine determinism: the DECISIVE priority snaps through
    * decimal(20,8) with the key as tiebreak, so a 1-ulp ln()/division
    * divergence between libm implementations can't reorder the cut —
    * the q24-score snap lesson applied to an ORDER key.
    *
    * Scale shape: priorities are row-local (no weight normalization,
    * no global state, trivially mergeable); selection is one window
    * top-k per stratum — a single shuffle on the stratum key, the
    * per-group sort bounded by stratum size. For a stratum-free global
    * draw pass a literal stratum. Rows with weight ≤ 0 are excluded
    * (their priority is undefined).
    */
  def weightedSample(df: DataFrame, stratum: Column, key: Column,
                     weight: Column, k: Int, seed: Long): DataFrame = {
    val u = (Dedup.hashLong(concat(lit(seed.toString), lit("|"),
      key.cast("string"))).cast("double") + lit(1.0)) /
      lit(1.152921504606846977e18) // 2^60 + 1: u ∈ (0, 1), never 0 or 1
    val priority = round((negate(log(u)) / weight.cast("double"))
      .cast("decimal(20,8)"), 8).cast("double")
    df.filter(weight.cast("double") > 0)
      .select(stratum.as("stratum"), key.as("id"), priority.as("priority"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("stratum"))
          .orderBy(col("priority"), col("id"))))
      .filter(col("__rn") <= k)
      .select(col("stratum"), col("id"), col("priority"))
  }

  /** Sequential token-budget shard packing: rows ordered by `order`
    * (a numeric key) are laid end-to-end and cut into shards of
    * `budget` weight — shard = floor(weight-before-this-row / budget).
    * The training-data sharding primitive (docs → ~equal-token output
    * files); a row may straddle a boundary and lands in the shard its
    * FIRST token falls in.
    *
    * Scale shape — a global running sum without a global window: the
    * classic two-level distributed prefix sum.
    *  1. rows get a coarse ordered bucket (`order / bucketWidth`), and
    *     the intra-bucket running sum is a window PARTITIONED by bucket
    *     (parallel, each sort bounded by bucket size);
    *  2. per-bucket totals (one small aggregate, #buckets rows) get an
    *     exclusive running offset on a single tiny partition and come
    *     back as a BROADCAST join.
    * No stage touches a single-reducer window over the data. Weights
    * are summed as BIGINT (token counts) so the prefix sum is exact and
    * order-free.
    *
    * Requirements: `order` values must be UNIQUE (ties would make the
    * intra-bucket running sum — and thus the straddling row's shard —
    * order-dependent), and `bucketWidth` should be sized so
    * max(order)/bucketWidth stays modest (the per-bucket offset table
    * is a single tiny ordered window; millions of buckets would make
    * it the bottleneck).
    */
  def packByBudget(df: DataFrame, order: Column, weight: Column,
                   budget: Long, bucketWidth: Long): DataFrame = {
    require(budget >= 1 && bucketWidth >= 1, "budget and bucketWidth must be >= 1")
    val rows = df.select(order.as("__ord"), weight.cast("long").as("__w"),
      floor(order / bucketWidth).as("__bkt"))
    val intra = rows.withColumn("__intra",
      sum(col("__w")).over(
        Window.partitionBy(col("__bkt")).orderBy(col("__ord"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // Exclusive per-bucket offsets: #buckets rows, one tiny ordered
    // window — negligible next to the data pass, then broadcast back.
    val offsets = rows.groupBy(col("__bkt")).agg(sum(col("__w")).as("__tot"))
      .withColumn("__off",
        coalesce(sum(col("__tot")).over(
          Window.partitionBy(Cols.onePartitionKey(col("__bkt")))
            .orderBy(col("__bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__tot")
    intra.join(broadcast(offsets), "__bkt")
      .select(col("__ord").as("id"), col("__w").as("weight"),
        floor((col("__off") + col("__intra") - col("__w")) / budget)
          .cast("long").as("shard"))
  }

  /** Temperature-scaled multilingual sampling (the mC4/XLM-R corpus
    * rebalancing rule): stratum weights w_s ∝ n_s^(1/2) (temperature
    * α = 0.5 — sqrt, IEEE-exact in every engine, unlike pow), a target
    * of `targetNum/targetDen · N` total rows redistributed as
    * rate_s = min(1, target·w_s/n_s), realized via the deterministic
    * hash-bucket sample so reruns pick the SAME rows.
    *
    * Cross-engine determinism: per-stratum sqrt is snapped to
    * fixed-point (×10⁶ BIGINT) BEFORE the normalizing sum, so the sum
    * is exact integer arithmetic and the final double division is one
    * deterministic operation per stratum (NOTES lesson 11).
    *
    * Scale shape: stratum histogram = one map-side-combinable aggregate
    * (few-row result, broadcast back); the keep decision is a codegen'd
    * predicate per row. Output: per-stratum
    * (stratum, n_rows, keep_buckets, n_sampled).
    */
  def temperatureSample(df: DataFrame, key: Column, stratum: Column,
                        targetNum: Int, targetDen: Int,
                        buckets: Int): DataFrame = {
    val counts = df.groupBy(stratum.as("stratum"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("w_fp", round(sqrt(col("n_rows").cast("double")) * 1e6).cast("long"))
    val totals = counts.agg(sum(col("n_rows")).as("n_total"),
      sum(col("w_fp")).as("w_total"))
    val rates = counts.crossJoin(broadcast(totals))
      .withColumn("keep_buckets",
        least(lit(buckets.toLong), floor(
          (col("n_total") * targetNum).cast("double") / targetDen
            * col("w_fp") / col("w_total") / col("n_rows") * buckets)
          .cast("long")))
      .select(col("stratum"), col("n_rows"), col("keep_buckets"))
    df.select(stratum.as("stratum"), key.as("__k"))
      .join(broadcast(rates), "stratum")
      .groupBy(col("stratum"))
      .agg(first(col("n_rows")).as("n_rows"),
        first(col("keep_buckets")).as("keep_buckets"),
        sum(when(hashBucket(col("__k"), buckets) < col("keep_buckets"), 1L)
          .otherwise(0L)).as("n_sampled"))
  }

  /** Token-weighted corpus mixing: deterministic per-source keep rates
    * that steer every source toward an EQUAL share of total tokens —
    * the data-mixing step of corpus assembly, where row-count rates are
    * the wrong lever because document lengths differ by source.
    * keep_buckets_s = min(buckets, (w_tot · buckets) div (k · w_s)) —
    * ALL integer arithmetic, so the rates are exact on any engine with
    * no float snap at all; the keep decision is the deterministic hash
    * bucket of the key. A zero-token source keeps everything.
    *
    * Scale shape: one map-side-combinable token histogram (k rows,
    * broadcast back with the totals), then a codegen'd hash predicate
    * per row. Output per source: docs/tokens before and after.
    */
  def mixUniformByTokens(df: DataFrame, key: Column, source: Column,
                         tokens: Column, buckets: Int): DataFrame = {
    val per = df.select(source.as("source"), key.as("__k"),
      tokens.cast("long").as("__w"))
    val counts = per.groupBy(col("source"))
      .agg(sum(col("__w")).as("w_s"), count(lit(1)).as("n_docs"))
    val totals = counts.agg(sum(col("w_s")).as("w_tot"),
      count(lit(1)).as("k_src"))
    val rates = counts.crossJoin(broadcast(totals))
      .withColumn("keep_buckets",
        when(col("w_s") === 0, lit(buckets.toLong))
          .otherwise(least(lit(buckets.toLong),
            expr(s"(w_tot * $buckets) div (k_src * w_s)"))))
      .select(col("source"), col("n_docs"), col("w_s").as("n_tokens"),
        col("keep_buckets"))
    per.join(broadcast(rates), "source")
      .withColumn("__keep",
        hashBucket(col("__k").cast("string"), buckets) < col("keep_buckets"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("n_tokens")).as("n_tokens"),
        first(col("keep_buckets")).as("keep_buckets"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept_docs"),
        sum(when(col("__keep"), col("__w")).otherwise(0L)).as("n_kept_tokens"))
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * never straddle a split boundary (a test doc whose near-copy sits in
    * train leaks the answer into evaluation). The clusters implied by
    * `pairs` (id_a, id_b near-dup edges) are the leakage groups: every
    * doc maps to its cluster's canonical (min) id — singletons to their
    * own id — and the split decision hashes the CANONICAL id, so whole
    * clusters land in one split together.
    *
    * `cuts` are ascending cumulative bucket thresholds over `den`, e.g.
    * ("train",80),("val",90),("test",100).
    *
    * Scale shape: cluster formation is the pointer-jumping CC
    * (O(log diameter) rounds); the canonical map joins on the doc key
    * with the cluster table as the SMALL side (near-dup rate ≪ 1 in any
    * real corpus); the split itself is a pure codegen'd hash predicate.
    * Adding a corpus increment re-splits only clusters it touches.
    */
  def leakageSafeSplit(docs: DataFrame, id: String, pairs: DataFrame,
                       cuts: Seq[(String, Int)], den: Int): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == den,
      "cuts must be ascending cumulative thresholds ending at den")
    require(cuts.map(_._2) == cuts.map(_._2).sorted, "cuts must ascend")
    val canon = Dedup.duplicateClusters(pairs)
      .select(col("id").as(id), col("component"))
    val withCanon = docs.join(canon, Seq(id), "left")
      .withColumn("canonical", coalesce(col("component"), col(id)))
      .drop("component")
    val bucket = hashBucket(col("canonical").cast("string"), den)
    val split = cuts.foldRight(lit(null).cast("string")) {
      case ((name, cut), acc) => when(bucket < cut, lit(name)).otherwise(acc)
    }
    withCanon.withColumn("split", split)
  }

  /** Per-stratum deterministic rates: e.g. downsample dominant languages
    * while keeping the tail — `rates` maps stratum value → kept buckets
    * of `rateDen`; strata not in the map keep everything.
    */
  /** Windowed revisit throttling — the crawl-dedup rate limiter: per
    * key, walk the day-sorted observations and KEEP one only when more
    * than `windowDays` elapsed since the last kept one (the first is
    * always kept; a re-crawl 3 days into a 7-day window drops).
    * Output (key, n_obs, n_kept, last_kept_day).
    *
    * The choice is inherently sequential (whether day d survives
    * depends on which earlier days survived), so it is an ordered fold
    * per key — same contract as the EMA/CUSUM folds: one shuffle on
    * the key, state bounded by per-key history. The fold state packs
    * (last_kept_day + 1, n_kept) into one BIGINT as (d+1)·2²¹ + n, so
    * the recursion is exact integer arithmetic, bit-identical on any
    * engine; day numbers must fit 2²⁰ (epoch days do until year 4840)
    * and per-key observations 2²¹.
    */
  def throttleByWindow(df: DataFrame, key: Column, day: Column,
                       windowDays: Int): DataFrame = {
    require(windowDays >= 0, "windowDays must be >= 0")
    val G = 2097152L // 2^21
    df.select(key.as("k"), day.cast("long").as("d"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(col("d"))).as("ds"),
        count(lit(1)).as("n_obs"))
      .select(col("k"), col("n_obs"),
        aggregate(col("ds"), lit(0L), (acc, d) =>
          when(floor(acc / G) === 0L ||
              d - (floor(acc / G).cast("long") - 1L) > windowDays,
            (d + 1L) * G + pmod(acc, lit(G)) + 1L)
            .otherwise(acc)).as("packed"))
      .select(col("k"), col("n_obs"),
        pmod(col("packed"), lit(G)).as("n_kept"),
        (floor(col("packed") / G).cast("long") - 1L).as("last_kept_day"))
  }

  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
                           rates: Map[String, Int], rateDen: Int): DataFrame = {
    val keep = rates.foldLeft(lit(rateDen)) { case (acc, (s, num)) =>
      when(stratum === s, lit(num)).otherwise(acc)
    }
    df.filter(hashBucket(key, rateDen) < keep)
  }

  /** WATERFILLING budget allocation — the corpus-mixture planning
    * step: given per-source counts and a budget of
    * `budgetNum/budgetDen` of the total, sources below the water level
    * L contribute everything and the rest cap at L, with L the unique
    * level making the allocations sum to the budget. Closed form over
    * the SORTED m-row source table: with prefix sums P_k,
    * L_k = (B − P_k)/(m − k + 1), and the first k where L_k ≤ n_k
    * fixes the level. The k = m row is always a valid fallback — an
    * over-budget call (B ≥ total) allocates everything instead of
    * collapsing to zero rows. Only the upstream count aggregate is
    * data-sized; everything here runs on m rows. Budget arithmetic is
    * exact integer division; L is one double division. Output:
    * (source, n_tok, allocation, saturated).
    */
  def waterfillAllocation(counts: DataFrame, group: Column, n: Column,
                          budgetNum: Int, budgetDen: Int): DataFrame = {
    require(budgetNum >= 0 && budgetDen >= 1, "budget must be >= 0")
    val srcs = counts.select(group.as("source"), n.cast("long").as("n_tok"))
    val tot = srcs.agg(sum(col("n_tok")).as("total"),
      count(lit(1)).as("m"))
    val ranked = srcs.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"(total * $budgetNum) div $budgetDen"))
      .withColumn("k", row_number().over(
        Window.partitionBy(Cols.onePartitionKey(col("source")))
          .orderBy(col("n_tok"), col("source"))))
      .withColumn("pfx", coalesce(sum(col("n_tok")).over(
        Window.partitionBy(Cols.onePartitionKey(col("source")))
          .orderBy(col("n_tok"), col("source"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val lvl = ranked
      .withColumn("lk", (col("budget") - col("pfx")).cast("double") /
        (col("m") - col("k") + 1).cast("double"))
      .filter(col("lk") <= col("n_tok").cast("double") ||
        col("k") === col("m"))
      .orderBy(col("k")).limit(1)
      .select(col("lk").as("level"))
    ranked.crossJoin(broadcast(lvl))
      .select(col("source"), col("n_tok"),
        round(least(col("n_tok").cast("double"), col("level"))
          .cast("decimal(20,10)"), 2).cast("double").as("allocation"),
        (col("n_tok").cast("double") <= col("level")).as("saturated"))
  }

  /** Range-partition boundary planning + balance audit — how a 100 TB
    * global sort (or range-bucketed layout) picks its partition
    * boundaries, made deterministic and oracle-checkable: a fixed-SIZE
    * bottom-k-by-md5 sample of the rows (TakeOrderedAndProject — k
    * rows cross the wire no matter the corpus size, and the sample is
    * a pure function of the unique `ordKey` so every engine draws the
    * SAME rows), boundary i = the sample value at integer rank
    * ⌈i·n/parts⌉ (value-at-rank is deterministic under ties), and the
    * audit assigns every row to part = #boundaries strictly below its
    * value via one broadcast sorted array — rows equal to a boundary
    * go DOWN, so assignment is total and deterministic. Duplicate
    * boundary values (tiny or skewed samples) simply leave some parts
    * empty. Only the scan + final aggregate are data-sized; sample
    * ranking runs on ≤ k rows. Output per non-empty part:
    * (part, n_rows, min_c, max_c).
    */
  def rangePartitionAudit(df: DataFrame, ordKey: Column, valueCents: Column,
                          parts: Int, sampleK: Int): DataFrame = {
    require(parts >= 2 && sampleK >= parts, "need sampleK >= parts >= 2")
    val rows = df.select(md5(ordKey.cast("string")).as("__h"),
      valueCents.cast("long").as("__v"))
    val smp = rows.orderBy(col("__h")).limit(sampleK).select(col("__v"))
    val n1 = smp.agg(count(lit(1)).as("n"))
    val rk = smp.withColumn("rn",
      row_number().over(Window.partitionBy(Cols.onePartitionKey(col("__v")))
        .orderBy(col("__v"))))
    val idx = df.sparkSession.range(1, parts).select(col("id").as("i"))
    val bounds = idx.crossJoin(broadcast(n1))
      .withColumn("rn", floor((col("i") * col("n") +
        lit(parts - 1)).cast("double") / lit(parts.toDouble)).cast("int"))
      .join(rk, "rn")
      .select(col("__v").as("bv"))
    val bArr = bounds.agg(sort_array(collect_list(col("bv"))).as("bs"))
    rows.crossJoin(broadcast(bArr))
      .withColumn("part",
        size(filter(col("bs"), b => col("__v") > b)))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_rows"), min(col("__v")).as("min_c"),
        max(col("__v")).as("max_c"))
  }

  /** GREEDY SET COVER for source selection — pick `k` groups that
    * together cover the most distinct units (vocabulary, domains,
    * n-grams): each round takes the group adding the most UNCOVERED
    * units (the classic 1−1/e-approximate maximum-coverage greedy) —
    * the data-selection read "which 3 sources buy the most
    * vocabulary". Driver-coordinated k-round loop (the bpeLearnMerges
    * / power-iteration precedent): per round ONE anti-join +
    * aggregate + single-row argmax collect; the distinct (group,
    * unit) table persists across the k+1 actions (the documented
    * legit cross-ACTION persist). Groups adding zero new units are
    * never picked (their empty aggregate drops out) — rounds can end
    * early. Output one row per pick: (round, grp, n_new, n_cum,
    * coverage vs the full unit universe, 4dp).
    */
  def greedySetCover(df: DataFrame, group: Column, units: Column,
                     k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // Each round is a driver-coordinated anti-join + aggregate +
    // one-row collect: cost is k Spark jobs. The documented economics
    // hold for SMALL panels — enforce the bound instead of leaving it
    // as a scaladoc contract (a runaway k would serialize thousands of
    // jobs through the driver).
    require(k <= 1000,
      s"greedySetCover runs k driver-coordinated rounds — k=$k exceeds" +
        " the 1000-round bound; select a coarser group key instead")
    val spark = df.sparkSession
    val sv = df.select(group.cast("string").as("grp"),
      explode(units).as("u")).distinct().persist()
    val tot = sv.select(col("u")).distinct().count()
    val chosen = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    for (r <- 1 to k) {
      val names = chosen.map(_._2).toSeq
      val inChosen =
        if (names.isEmpty) lit(false) else col("grp").isin(names: _*)
      val covered = sv.filter(inChosen).select(col("u")).distinct()
      val best = sv.filter(!inChosen)
        .join(covered, Seq("u"), "left_anti")
        .groupBy(col("grp")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("grp"))
        .limit(1).collect()
      if (best.nonEmpty)
        chosen += ((r, best(0).getString(0), best(0).getLong(1)))
    }
    val cums = chosen.scanLeft(0L)(_ + _._3).tail
    val rows = chosen.zip(cums).map { case ((r, g, n), c) => (r, g, n, c) }
    import spark.implicits._
    rows.toSeq.toDF("round", "grp", "n_new", "n_cum")
      .withColumn("coverage",
        round((col("n_cum").cast("double") / lit(tot.toDouble))
          .cast("decimal(20,10)"), 4).cast("double"))
  }

  /** NEYMAN-ALLOCATED stratified sample — the design-optimal budget
    * split n_h ∝ N_h·σ_h (minimum-variance estimate of the stratified
    * mean at a fixed total budget; proportional allocation wastes
    * budget on low-variance strata). Per-stratum σ comes from exact
    * integer moments; stratum weights snap ×1e6 so their total is an
    * exact integer sum (a raw double Σ would be addition-order
    * dependent); the budget then splits by the LARGEST-REMAINDER
    * method on integer micro-shares — floor everyone, hand the
    * leftover units to the largest remainders (stratum-key ties) —
    * so allocations always total ≤ budget deterministically. The
    * sample itself is the per-stratum bottom-alloc_h by md5 row-key
    * hash (the fixed-SIZE deterministic sample convention).
    *
    * Shape: one data-sized aggregate for moments, the allocation
    * algebra on the strata-row table (constant-partition remainder
    * rank), then one stratum-partitioned selection window. Output
    * one row per stratum: (h, n, sigma, alloc, n_sampled,
    * mean_sample); single-value strata get σ = 0 and draw only the
    * remainder round.
    */
  def neymanAllocation(df: DataFrame, stratum: Column, valueCents: Column,
                       rowKey: Column, budget: Int): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val rows = df.select(stratum.as("h"), valueCents.cast("long").as("v"),
      rowKey.cast("string").as("k"))
    val st = rows.groupBy(col("h")).agg(count(lit(1)).as("n"),
      sum(dec(col("v"))).as("sx"), sum(dec(col("v")) * col("v")).as("sxx"))
    val wts = st.withColumn("sd",
        sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx"))
          .cast("double")) / col("n").cast("double"))
      .withColumn("wfp",
        round(col("n").cast("double") * col("sd") * lit(1e6)).cast("long"))
    val wsum = wts.agg(sum(col("wfp")).as("wsum"))
    val shares = wts.crossJoin(broadcast(wsum))
      .withColumn("qfp", when(col("wsum") === 0, lit(0L)).otherwise(
        round(lit(budget.toDouble) * col("wfp").cast("double") * lit(1e6) /
          col("wsum").cast("double")).cast("long")))
      .withColumn("base", ((col("qfp") - pmod(col("qfp"), lit(1000000L))) /
        lit(1000000L)).cast("long"))
      .withColumn("rem", pmod(col("qfp"), lit(1000000L)))
    val deficit = shares.agg(
      greatest(lit(0L), lit(budget.toLong) - sum(col("base"))).as("d"))
    val alloc = shares.crossJoin(broadcast(deficit))
      .withColumn("rn", row_number().over(
        Window.partitionBy(Cols.onePartitionKey(col("h")))
          .orderBy(col("rem").desc, col("h"))))
      .withColumn("alloc",
        col("base") + when(col("rn") <= col("d"), 1L).otherwise(0L))
      .select(col("h"), col("n"), col("sd"), col("alloc"))
    val sampled = rows.join(alloc.select(col("h"), col("alloc")), "h")
      .withColumn("srn", row_number().over(
        Window.partitionBy(col("h"))
          .orderBy(Dedup.hashLong(concat(lit("s"), col("k"))), col("k"))))
      .filter(col("srn") <= col("alloc"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_sampled"), sum(dec(col("v"))).as("ssum"))
    alloc.join(sampled, Seq("h"), "left")
      .na.fill(0L, Seq("n_sampled"))
      .select(col("h"), col("n"),
        round(col("sd").cast("decimal(20,10)"), 4).cast("double")
          .as("sigma"),
        col("alloc"),
        col("n_sampled"),
        when(col("n_sampled") === 0, lit(null)).otherwise(
          round((col("ssum").cast("double") /
            col("n_sampled").cast("double") / lit(100.0))
            .cast("decimal(20,10)"), 2).cast("double")).as("mean_sample"))
  }

  /** DISTRIBUTION-MATCHING downsample — thin each group so its value
    * profile matches the POOLED corpus profile over a fixed
    * `bins`-cell integer grid (the static DoReMi-style rebalance: no
    * source may keep a length/quality shape the mixture doesn't
    * have). Bin b of group g keeps each row with probability
    * a_gb = min(1, t_b·n_g / n_gb) where t_b = n_b/N is the pooled
    * bin share — i.e. over-represented bins thin down to the target
    * share, under-represented bins keep everything (deficits are
    * reported, not upsampled).
    *
    * Determinism: the keep decision is the exact integer
    * cross-multiply draw·N·n_gb < 10⁶·n_b·n_g on a per-row 60-bit
    * md5 micro-draw — no RNG, identical on any engine/layout, and
    * products ride DECIMAL(38,0) so corpus-sized counts never wrap.
    *
    * Scale shape: one data-sized (g, bin) count aggregate, the
    * groups×bins ratio table BROADCASTS back onto the rows (the
    * second data pass filters map-side — no extra shuffle), and the
    * kept-count audit is a second small aggregate. Output one row per
    * (g, bin): (g, bin, n_gb, a_micro, n_kept).
    */
  private def pmFloorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** DETERMINISTIC BOOTSTRAP CI for a mean — the error bar every eval
    * report needs, with the repo's no-randomness contract: resample
    * draw (rep, j) picks document ⌊md5(rep:j) mod n⌋ (the 60-bit
    * hashLong convention), so B·n draws are a pure function of the
    * corpus and both engines replay them. Per resample the EXACT
    * ×1e6 floored mean; the CI bounds are order statistics of the B
    * means at 0-based index ⌊bp·(B−1)/10000⌋ (basis points — the
    * documented convention, no interpolation). Scale shape: draws are
    * a `spark.range(B·n)` join against the id-ranked corpus (dense
    * ranks from the two-level prefix kernel, never a global window);
    * the B means sort in one B-sized bounded window. `id` must be
    * distinct per row; `value` integral.
    */
  def bootstrapCiMean(df: DataFrame, id: Column, value: Column,
                      b: Int, loBp: Int, hiBp: Int): DataFrame = {
    require(b >= 2, "need at least 2 resamples")
    require(loBp >= 0 && hiBp <= 10000 && loBp <= hiBp,
      "basis points must satisfy 0 <= lo <= hi <= 10000")
    val spark = df.sparkSession
    val base = df.select(id.cast("long").as("id"),
      value.cast("long").as("v"), lit(1L).as("one"))
    val n = base.count()
    require(n > 0, "bootstrapCiMean needs rows")
    val ranked = Ranks.withRunningBelow(base, "id", 4096L, Seq("one"))
      .select(col("one_below").as("idx"), col("v"))
    val draws = spark.range(b.toLong * n)
      .select((col("id") / n).cast("long").as("rep"),
        pmod(graft.ops.Dedup.hashLong(
          concat((col("id") / n).cast("long").cast("string"), lit(":"),
            pmod(col("id"), lit(n)).cast("string"))), lit(n)).as("idx"))
    val means = draws.join(ranked, "idx")
      .groupBy(col("rep"))
      .agg(sum(col("v")).as("s"))
      .select(pmFloorDiv(col("s").cast("decimal(38,0)") * lit(1000000L),
        lit(n).cast("decimal(38,0)")).as("m"))
    val w = Window.partitionBy(Cols.onePartitionKey(col("m")))
      .orderBy(col("m"))
    val ord = means.withColumn("r", row_number().over(w) - 1)
    val loIdx = (loBp.toLong * (b - 1)) / 10000
    val hiIdx = (hiBp.toLong * (b - 1)) / 10000
    val ci = ord.agg(
      max(when(col("r") === loIdx, col("m"))).as("ci_lo_micro"),
      max(when(col("r") === hiIdx, col("m"))).as("ci_hi_micro"))
    val point = base.agg(
      pmFloorDiv(sum(col("v")).cast("decimal(38,0)") * lit(1000000L),
        lit(n).cast("decimal(38,0)")).as("mean_micro"))
    point.crossJoin(ci)
      .select(lit(n).as("n"), lit(b.toLong).as("b"), col("mean_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"))
  }

  /** EXPONENTIATED-GRADIENT domain REWEIGHTING — the DoReMi-style
    * update that turns per-domain losses into the next round's
    * mixture: from a uniform prior, factor_s = round(1e6·exp(η·
    * (loss_s − mean)/1e12)) (the snapped-transcendental convention —
    * exp evaluates once and snaps ×1e6, every other step exact
    * integer), then weights normalize to exactly 1e6 micro by floor +
    * LARGEST-REMAINDER (remainder desc, source asc ties), so the
    * emitted mixture always sums to one and the rounding is
    * deterministic. `losses` is (source, loss_micro ≥ 0); η in micro
    * (100000 = 0.1). Domain count is small by nature — the remainder
    * rank runs in one bounded window.
    */
  def egReweight(losses: DataFrame, etaMicro: Long): DataFrame = {
    require(etaMicro >= 0, "eta must be >= 0")
    val base = losses.select(col("source"),
      col("loss_micro").cast("long").as("loss_micro"))
    val mean = base.agg(pmFloorDiv(dec(sum(col("loss_micro"))),
      dec(count(lit(1)))).as("mean_loss"))
    val f = base.crossJoin(mean)
      .withColumn("factor_micro",
        round(lit(1e6) * exp(((col("loss_micro") - col("mean_loss"))
          * etaMicro).cast("double") / lit(1e12))).cast("long"))
    val den = f.agg(sum(col("factor_micro")).as("den"),
      count(lit(1)).as("k"))
    val parts = f.crossJoin(den)
      .withColumn("w_base",
        pmFloorDiv(dec(col("factor_micro")) * lit(1000000L),
          dec(col("den"))))
      .withColumn("rem", pmod(dec(col("factor_micro")) * lit(1000000L),
        dec(col("den"))))
    val deficit = parts.agg((lit(1000000L) - sum(col("w_base")))
      .as("deficit"))
    val wr = Window.partitionBy(Cols.onePartitionKey(col("source")))
      .orderBy(col("rem").desc, col("source"))
    parts.crossJoin(deficit)
      .withColumn("rnk", row_number().over(wr))
      .select(col("source"), col("loss_micro"), col("factor_micro"),
        (col("w_base") + when(col("rnk") <= col("deficit"), 1L)
          .otherwise(0L)).as("weight_micro"))
  }

  /** TARGET-WEIGHTED MIXTURE PLAN — the arithmetic a training run does
    * before any sampling happens (the DoReMi/Llama-style domain-weight
    * recipe): given per-source available tokens and target
    * micro-weights, the EXACT integer plan per source:
    * target = ⌊budget·w/Σw⌋; repeat_epochs = ⌈target/available⌉
    * (upsampling is whole extra passes over the source);
    * sample_rate_micro = ⌊target·1e6/(available·epochs)⌋, the
    * per-pass inclusion rate that lands the target in expectation;
    * planned = ⌊rate·available·epochs/1e6⌋ and the rounding/feasibility
    * shortfall (an unavailable source carries its whole target as
    * shortfall). Every division is the exact pmod floor on
    * decimal(38,0) — all quantities nonnegative, so floor ≡ SQL
    * integer division and a DuckDB oracle replays bit-for-bit.
    * Weights name sources explicitly: a corpus source with no weight
    * plans to zero; a weighted source missing from the corpus
    * surfaces with zero availability (the full-outer contract — a
    * typo'd weight must never vanish silently).
    */
  def mixturePlan(docs: DataFrame, source: Column, tokens: Column,
                  weights: Seq[(String, Long)],
                  budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "budget must be >= 0")
    require(weights.nonEmpty && weights.forall(_._2 >= 0),
      "weights must be nonempty and nonnegative")
    val wSum = weights.map(_._2).sum
    require(wSum > 0, "weights must not all be zero")
    val spark = docs.sparkSession
    import spark.implicits._
    val avail = docs
      .select(source.as("source"), tokens.cast("long").as("tk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("tk")), lit(0L)).as("available_tokens"))
    // no broadcast hint: Spark cannot broadcast a full-outer side (the
    // unmatched-row contract needs both sides complete); the weight
    // list is a handful of rows, the exchange is trivial
    val j = avail
      .join(weights.toDF("source", "weight_micro"),
        Seq("source"), "full_outer")
      .na.fill(0L, Seq("n_docs", "available_tokens", "weight_micro"))
    val withT = j.withColumn("target_tokens",
      pmFloorDiv(dec(lit(budgetTokens)) * dec(col("weight_micro")),
        dec(lit(wSum))))
    val withE = withT.withColumn("repeat_epochs",
      when(col("available_tokens") > 0 && col("target_tokens") > 0,
        pmFloorDiv(dec(col("target_tokens"))
          + dec(col("available_tokens")) - lit(1),
          dec(col("available_tokens"))))
        .otherwise(lit(0L)))
    val withR = withE.withColumn("sample_rate_micro",
      when(col("repeat_epochs") > 0,
        pmFloorDiv(dec(col("target_tokens")) * lit(1000000L),
          dec(col("available_tokens")) * dec(col("repeat_epochs"))))
        .otherwise(lit(0L)))
    withR
      .withColumn("planned_tokens",
        pmFloorDiv(dec(col("sample_rate_micro"))
          * dec(col("available_tokens")) * dec(col("repeat_epochs")),
          dec(lit(1000000L))))
      .withColumn("shortfall",
        col("target_tokens") - col("planned_tokens"))
  }

  /** Shared grid builder for the profile-match family: (binned rows
    * (g, k, bin), stats (g, bin, n_gb, num, den, vmin, w)). vmin/w
    * are the exact integer binning constants carried on every stats
    * row so a STREAMING consumer can bin new rows identically.
    */
  private[graft] def profileGrid(df: DataFrame, group: Column, value: Column,
                                 rowKey: Column,
                                 bins: Int): (DataFrame, DataFrame) = {
    require(bins >= 2, "bins must be >= 2")
    val rows = df.select(group.as("g"), value.cast("long").as("v"),
      rowKey.cast("string").as("k"))
    val ext = rows.agg(min(col("v")).as("vmin"),
      (pmFloorDiv(max(col("v")) - min(col("v")), lit(bins.toLong)) + 1L)
        .as("w"))
    val binned = rows.crossJoin(broadcast(ext))
      .select(col("g"), col("k"),
        pmFloorDiv(col("v") - col("vmin"), col("w")).as("bin"))
    val gb = binned.groupBy(col("g"), col("bin"))
      .agg(count(lit(1)).as("n_gb"))
    val bt = gb.groupBy(col("bin")).agg(sum(col("n_gb")).as("n_b"))
    val gs = gb.groupBy(col("g")).agg(sum(col("n_gb")).as("n_g"))
    val tot = gs.agg(sum(col("n_g")).as("n_tot"))
    val stats = gb.join(bt, "bin").join(gs, "g")
      .crossJoin(broadcast(tot))
      .withColumn("num", dec(lit(1000000L)) * col("n_b") * col("n_g"))
      .withColumn("den", dec(col("n_tot")) * col("n_gb"))
      .crossJoin(broadcast(ext))
      .select(col("g"), col("bin"), col("n_gb"), col("num"),
        col("den"), col("vmin"), col("w"))
    (binned, stats)
  }

  /** The exact integer keep rule shared by the batch and streaming
    * faces: keep row k of (g, bin) iff draw·den < num on the 60-bit
    * md5 micro-draw of "dm"+k.
    */
  private[graft] def profileMatchRule(binned: DataFrame,
                                      stats: DataFrame): DataFrame = {
    binned
      .join(broadcast(stats.select(col("g"), col("bin"), col("num"),
        col("den"))), Seq("g", "bin"))
      .filter(dec(pmod(Dedup.hashLong(concat(lit("dm"), col("k"))),
        lit(1000000L))) * col("den") < col("num"))
  }

  /** The profile-match ratio/constants table alone — feed this
    * (collected or broadcast) to the STREAMING face, which must bin
    * and thin new rows with the identical integer rule.
    */
  def profileMatchStats(df: DataFrame, group: Column, value: Column,
                        bins: Int): DataFrame =
    profileGrid(df, group, value, lit(""), bins)._2

  def profileMatchThinning(df: DataFrame, group: Column, value: Column,
                           rowKey: Column, bins: Int): DataFrame = {
    val (binned, stats) = profileGrid(df, group, value, rowKey, bins)
    val kept = profileMatchRule(binned, stats)
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("n_kept"))
    stats
      .withColumn("a_micro",
        least(lit(1000000L),
          ((col("num") - pmod(col("num"), col("den"))) / col("den"))
            .cast("long")))
      .join(kept, Seq("g", "bin"), "left")
      .na.fill(0L, Seq("n_kept"))
      .select(col("g"), col("bin"), col("n_gb"), col("a_micro"),
        col("n_kept"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw-pool document by how much its
    * hashed-n-gram profile looks like a TARGET corpus, then keep the
    * top-k raw docs. The standard "make CommonCrawl look like
    * Wikipedia" pretraining-data selection step.
    *
    * Features are unigrams ∪ adjacent bigrams, hashed into `buckets`
    * via the portable 60-bit md5 ([[Dedup.hashLong]] — identical in
    * any SQL engine). Two add-1-smoothed bag-of-buckets models fit in
    * one aggregate: p_t(b) = (ct_b+1)/(nt+B) over target docs,
    * p_r(b) likewise over the raw pool. Each bucket's log-likelihood
    * ratio snaps PER TERM (λ_b = round(ln p_t·1e6) − round(ln p_r·1e6),
    * the q72 pre-sum convention — every later step is exact integer
    * arithmetic, so the doc weight Σ λ_b is order-free and
    * engine-portable). Docs with no features carry weight 0.
    *
    * Scale shape: one explode + one groupBy(bucket) fit (bucket
    * cardinality ≤ B regardless of corpus size — the model is a
    * bounded table), one hash-join of feature occurrences against the
    * B-row λ table (broadcast), one per-doc sum. No window over data
    * rows, no collect; exactly the passes a 100 TB selection job
    * needs.
    *
    * Returns (id, is_target, n_feats, w_micro).
    */
  /** The hashed unigram∪bigram feature-bucket stream of a doc set —
    * shared by model fit and scoring so both sides see the identical
    * feature space.
    */
  private def dsirFeatures(docs: DataFrame, id: Column, text: Column,
                           extra: Seq[(String, Column)],
                           buckets: Int): DataFrame =
    docs.select((Seq(id.as("id")) ++
        extra.map { case (n, c) => c.as(n) } :+
        Text.tokens(text).as("tk")): _*)
      .select((Seq(col("id")) ++ extra.map { case (n, _) => col(n) } :+
        explode(Cols.bound(col("tk")) { t =>
          concat(t, when(size(t) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(t) - 1),
              i => concat(element_at(t, i), lit(" "),
                element_at(t, i + 1)))))
        }).as("f")): _*)
      .withColumn("b", pmod(Dedup.hashLong(col("f")),
        lit(buckets.toLong)))
      .drop("f")

  /** Fit the DSIR importance model alone: the per-bucket λ table
    * (b, lam) — the FROZEN artifact a streaming scorer broadcasts per
    * batch ([[graft.streaming.Streams.dsirStream]]). Bounded by
    * `buckets` rows whatever the corpus size.
    */
  def dsirModel(docs: DataFrame, id: Column, text: Column,
                isTarget: Column, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be > 0")
    val feats = dsirFeatures(docs, id, text,
      Seq("is_target" -> isTarget.cast("boolean")), buckets)
    val cnt = feats.groupBy(col("b")).agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("cr"))
    val tot = cnt.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    cnt.crossJoin(broadcast(tot)).select(col("b"),
      (round(log((col("ct") + 1).cast("double") /
        (col("nt") + buckets).cast("double")) * lit(1e6)).cast("long")
        - round(log((col("cr") + 1).cast("double") /
          (col("nr") + buckets).cast("double")) * lit(1e6)).cast("long"))
        .as("lam"))
  }

  /** Score any doc set against a fitted λ `model`: exact integer
    * weights, zero-feature docs carry weight 0. One explode + one
    * broadcast join + one per-doc sum — the per-batch cost of the
    * streaming face.
    */
  def dsirScore(docs: DataFrame, id: Column, text: Column,
                model: DataFrame, buckets: Int): DataFrame = {
    val perDoc = dsirFeatures(docs, id, text, Seq.empty, buckets)
      .join(broadcast(model), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lam")).as("w_micro"))
    docs.select(id.as("id"))
      .join(perDoc, Seq("id"), "left")
      .na.fill(0L, Seq("n_feats", "w_micro"))
  }

  def dsirWeights(docs: DataFrame, id: Column, text: Column,
                  isTarget: Column, buckets: Int): DataFrame = {
    val model = dsirModel(docs, id, text, isTarget, buckets)
    docs.select(id.as("id"), isTarget.cast("boolean").as("is_target"))
      .join(dsirScore(docs, id, text, model, buckets), Seq("id"))
      .select(col("id"), col("is_target"), col("n_feats"),
        col("w_micro"))
  }

  /** The selection on top of [[dsirWeights]]: the k raw-pool docs with
    * the highest importance weight (ties by id — deterministic), every
    * doc returned with its `selected` flag. The top-k is an
    * orderBy+limit (TakeOrdered — a per-partition heap then a k-row
    * merge, never a global sort), so the plan holds at any corpus
    * size; target docs are never selected (they're the reference, not
    * the pool).
    */
  def dsirSelect(docs: DataFrame, id: Column, text: Column,
                 isTarget: Column, buckets: Int, k: Int): DataFrame = {
    val w = dsirWeights(docs, id, text, isTarget, buckets)
    val top = w.filter(!col("is_target"))
      .orderBy(col("w_micro").desc, col("id"))
      .limit(k)
      .select(col("id"), lit(true).as("selected"))
    w.join(top, Seq("id"), "left")
      .select(col("id"), col("is_target"), col("n_feats"),
        col("w_micro"), coalesce(col("selected"), lit(false))
          .as("selected"))
  }

  /** IN-BATCH FALSE-NEGATIVE audit for contrastive training — when a
    * dataloader hash-shards the corpus into batches and trains with
    * in-batch negatives, a NEAR-DUPLICATE pair landing in the same
    * batch becomes a false negative (the loss pushes apart two things
    * that are the same). Given the near-dup pair table and candidate
    * batch sizes: per size, the exact count of pairs whose two sides
    * share a [[hashBucket]] batch, the observed collision rate, and
    * the uniform-hash expectation 1/n_batches — both micro floors.
    * One narrow pass over the pair table per size; no new shuffles
    * (the audit is a projection + one aggregate).
    */
  def inBatchCollisionAudit(pairs: DataFrame, a: Column, b: Column,
                            nRows: Long,
                            batchSizes: Seq[Int]): DataFrame = {
    require(nRows >= 1 && batchSizes.nonEmpty &&
      batchSizes.forall(_ >= 2), "need nRows >= 1, batch sizes >= 2")
    batchSizes.map { bs =>
      val nb = math.max(1L, (nRows + bs - 1) / bs).toInt
      pairs
        .select(when(hashBucket(a, nb) === hashBucket(b, nb), 1L)
          .otherwise(0L).as("c"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("c"))
          .as("collisions"))
        .select(lit(bs).as("batch_size"), lit(nb.toLong).as("n_batches"),
          col("n_pairs"), coalesce(col("collisions"), lit(0L))
            .as("collisions"),
          when(col("n_pairs") === 0L, lit(0L))
            .otherwise(fdiv(dec(coalesce(col("collisions"), lit(0L))) *
              lit(1000000L), dec(col("n_pairs"))))
            .as("collision_micro"),
          fdiv(dec(lit(1000000L)), dec(lit(nb.toLong)))
            .as("expected_micro"))
    }.reduce(_ unionByName _)
  }

  /** DATA-CONSTRAINED SCALING repeat-value curve (Muennighoff et al.
    * 2023, "Scaling Data-Constrained Language Models") — the "how
    * many epochs is this source still worth" read a 100 TB mixture
    * planner needs: repeating data decays in value, and the paper's
    * fit says k epochs over U unique tokens are worth
    * E(k) = U·(1 + R*·(1 − e^{−(k−1)/R*})) effective tokens (k = 1 is
    * full value; R* ≈ 15 is the fitted repeat half-life). Emits one
    * row per (source, epoch ≤ maxEpochs): effective tokens, the
    * marginal value of that epoch, and value_ratio_micro =
    * ⌊E·1e6/(k·U)⌋ — the fraction of naively-counted tokens that
    * still carries signal.
    *
    * Determinism: U is an exact integer sum; the only transcendental
    * e^{−(k−1)/R*} takes a DRIVER-LITERAL argument (k, R* are plan
    * constants — the engine never exponentiates data), and the decay
    * factor snaps ×1e6 immediately (f_k = round(1e6·R*·(1−e^…))), so
    * eff = U + ⌊U·f_k/1e6⌋ and every emitted number is an exact
    * integer. Scale shape: one map-side-combinable aggregate to
    * source level, then a maxEpochs-wide explode on the tiny source
    * table.
    */
  /** INTERLEAVE-FAIRNESS audit — the dataloader read behind "is the
    * shuffled training order actually mixed, or does one source
    * clump at the front": rows take the deterministic md5 shuffle
    * order, and for each prefix size P the audit reports every
    * source's share of the first P rows against its overall share.
    * Global ranks come from the two-level prefix kernel over the
    * (already near-unique) 60-bit order keys — never a data-sized
    * global window. Output one row per (prefix, source):
    * (prefix, src, n_in_prefix, share_micro, overall_share_micro).
    */
  def interleaveAudit(docs: DataFrame, source: Column, key: Column,
                      prefixes: Seq[Long]): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(_ >= 1))
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.select(source.as("src"),
      Dedup.hashLong(concat(lit("il"), key.cast("string"))).as("ord"))
    val byV = rows.groupBy(col("ord")).agg(count(lit(1)).as("cnt"))
    val ranked = rows.join(
      Ranks.withRunningBelow(byV, "ord", 1L << 50, Seq("cnt"))
        .select(col("ord"), col("cnt_below")), "ord")
    val totals = rows.groupBy(col("src")).agg(count(lit(1)).as("tot"))
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("n"))))
    val spine = prefixes.toDF("prefix")
    ranked.crossJoin(broadcast(spine))
      .filter(col("cnt_below") < col("prefix"))
      .groupBy(col("prefix"), col("src"))
      .agg(count(lit(1)).as("n_in_prefix"))
      .join(totals, Seq("src"))
      .select(col("prefix"), col("src"), col("n_in_prefix"),
        fdiv(dec(col("n_in_prefix")) * lit(1000000L),
          dec(least(col("prefix"), col("n")))).as("share_micro"),
        fdiv(dec(col("tot")) * lit(1000000L), dec(col("n")))
          .as("overall_share_micro"))
  }

  /** SHARD-BALANCE audit over a [[packByBudget]] layout — the
    * dataloader evenness read: per-shard token totals, min/max, and
    * imbalance = (max − min)·1e6/max. One aggregate to shard level
    * (shard count is output-file-sized), one summary row:
    * (n_shards, min_tokens, max_tokens, imbalance_micro).
    */
  def shardBalanceAudit(shards: DataFrame): DataFrame = {
    shards.groupBy(col("shard"))
      .agg(sum(col("weight")).as("tokens"))
      .agg(count(lit(1)).as("n_shards"),
        min(col("tokens")).as("min_tokens"),
        max(col("tokens")).as("max_tokens"))
      .withColumn("imbalance_micro",
        fdiv(dec(col("max_tokens") - col("min_tokens")) *
          lit(1000000L), dec(greatest(col("max_tokens"), lit(1L)))))
  }

  /** REPEAT-AWARE token allocation — [[repeatValueCurve]] turned into
    * a PLANNER: spend a raw-token `budget` across sources where each
    * source may repeat up to `maxEpochs` times and the k-th epoch of
    * source s costs U_s raw tokens but is worth U_s·(f_k − f_{k−1})
    * effective tokens (the snapped Muennighoff decay). Because the
    * marginal VALUE PER RAW TOKEN depends only on k, the greedy
    * optimum is epoch-level round-robin: order candidate epochs by
    * (k, source) and take every full epoch that still fits. The
    * candidate table is sources×maxEpochs (model-sized); the
    * cumulative-cost walk is one ordered window over it. Output per
    * source: (source, unique_tokens, epochs_alloc, raw_tokens,
    * eff_tokens) — eff from the allocated epoch's curve value, 0 rows
    * never drop (epochs_alloc may be 0).
    */
  def repeatAwareAllocation(docs: DataFrame, source: Column,
                            tokens: Column, maxEpochs: Int,
                            rStar: Double, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val curve = repeatValueCurve(docs, source, tokens, maxEpochs,
      rStar)
    // model-sized frame (sources × maxEpochs); constant partition key
    // keeps the one real data-sized-global-window warning meaningful
    val w = Window.partitionBy(Cols.onePartitionKey(col("source")))
      .orderBy(col("epoch"), col("source"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val taken = curve
      .withColumn("cum_cost", sum(col("unique_tokens")).over(w))
      .withColumn("take", col("cum_cost") <= budget)
    taken.groupBy(col("source"))
      .agg(first(col("unique_tokens")).as("unique_tokens"),
        sum(when(col("take"), 1L).otherwise(0L)).as("epochs_alloc"),
        sum(when(col("take"), col("unique_tokens")).otherwise(0L))
          .as("raw_tokens"),
        coalesce(max(when(col("take"), col("eff_tokens"))), lit(0L))
          .as("eff_tokens"))
  }

  def repeatValueCurve(docs: DataFrame, source: Column, tokens: Column,
                       maxEpochs: Int, rStar: Double): DataFrame = {
    require(maxEpochs >= 1 && rStar > 0.0)
    val u = docs.groupBy(source.as("source"))
      .agg(sum(tokens.cast("long")).as("unique_tokens"))
    // decay factors as engine expressions (exp parity, the q361
    // convention), snapped *1e6 before touching U
    def f(k: Int): Column =
      round(lit(1e6) * lit(rStar) *
        (lit(1.0) - exp(lit(-(k - 1).toDouble / rStar)))).cast("long")
    def eff(k: Int): Column =
      col("unique_tokens") +
        fdiv(dec(col("unique_tokens")) * f(k), dec(lit(1000000L)))
    val rows = (1 to maxEpochs).map { k =>
      struct(lit(k).as("epoch"), eff(k).as("eff_tokens"),
        (eff(k) - (if (k == 1) lit(0L) else eff(k - 1)))
          .as("marginal_tokens"))
    }
    u.select(col("source"), col("unique_tokens"),
        explode(array(rows: _*)).as("r"))
      .select(col("source"), col("unique_tokens"),
        col("r.epoch").as("epoch"), col("r.eff_tokens").as("eff_tokens"),
        col("r.marginal_tokens").as("marginal_tokens"),
        fdiv(dec(col("r.eff_tokens")) * lit(1000000L),
          dec(col("r.epoch") * col("unique_tokens")))
          .as("value_ratio_micro"))
  }
}
