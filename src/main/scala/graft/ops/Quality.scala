package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv, tdiv}

/** Data-quality gates — first-class semantics in the reference
  * (downloader_wmy.py:94-122): a key failing any gate contributes NO
  * output rows but DOES appear in the rejection/audit stream with a
  * machine-readable reason (V1–V5 in SURVEY §2.11).
  *
  * Shape: every validator computes a per-key verdict as ONE aggregate pass
  * (no per-key loops, no collect) and returns the rejection table
  * (key, reason). The daily lifecycle's gates run inside
  * `Pipeline.dailySlice`, whose held rows carry each symbol's verdict, so
  * its clean data is a filter on that verdict, not an anti-join.
  */
object Quality {

  val ReasonEmpty = "empty_file"
  val ReasonInvalidPrice = "invalid_price"
  val ReasonOhlcLogic = "ohlc_logic_error"

  /** V2 continuity gate (downloader_wmy.py:101-107): reject a key whose
    * sorted dates (restricted to >= since) contain a gap > maxGapDays.
    * Reason carries the observed max gap, e.g. "gap_20d".
    */
  def gapKeys(df: DataFrame, key: Column, date: Column,
              maxGapDays: Int, since: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(date)
    df.filter(date >= to_date(lit(since)))
      .withColumn("__gap", datediff(date, lag(date, 1).over(w)))
      .groupBy(key.as("key"))
      .agg(max(col("__gap")).as("max_gap"))
      .filter(col("max_gap") > maxGapDays)
      .select(col("key"),
        concat(lit("gap_"), col("max_gap").cast("string"), lit("d")).as("reason"))
  }

  /** V3 OHLC invariant on resampled bars (downloader_wmy.py:119-122):
    * a key is rejected if any bar violates low <= close <= high.
    */
  def ohlcViolationKeys(bars: DataFrame, key: Column, low: Column,
                        close: Column, high: Column): DataFrame =
    bars.filter(close > high || close < low)
      .select(key.as("key")).distinct()
      .withColumn("reason", lit(ReasonOhlcLogic))

  /** CUSUM drift detector per series — the sequential data-quality
    * monitor a training pipeline runs over ingest statistics:
    * S_t = max(0, S_{t−1} + (x_t − μ − slack)), alarm when S_t exceeds
    * `threshold`. Values are integer cents, μ is the exact per-series
    * mean (`sum div n`), and the fold state packs (S, alarm count) into
    * ONE BIGINT as S·2²⁰ + alarms — every engine evaluates the fold in
    * exact integer arithmetic (dividing a multiple of 2²⁰ below 2⁵³ is
    * lossless even through double division), so the result is
    * bit-identical cross-engine. Requires S < 2³³ cents and < 2²⁰
    * alarms per series.
    *
    * One shuffle on the series key; the fold is a per-row lambda over
    * the collected ordered list (bounded by per-series length, same
    * contract as the EMA fold).
    */
  def cusumDrift(df: DataFrame, series: Column, ord: Column,
                 valueCents: Column, slackCents: Long,
                 thresholdCents: Long): DataFrame = {
    val G = 1048576L // 2^20
    df.select(series.as("series"), ord.as("o"), valueCents.as("x"))
      .groupBy(col("series"))
      .agg(sort_array(collect_list(struct(col("o"), col("x")))).as("ser"),
        sum(col("x")).as("sum_c"), count(lit(1)).as("n"))
      .select(col("series"), col("n").cast("int").as("n_obs"),
        aggregate(transform(col("ser"), r => r.getField("x")), lit(0L),
          (acc, x) =>
            greatest(lit(0L), floor(acc / G).cast("long") + x -
              expr("sum_c div n") - slackCents) * G +
              pmod(acc, lit(G)) +
              when(greatest(lit(0L), floor(acc / G).cast("long") + x -
                expr("sum_c div n") - slackCents) > thresholdCents, 1L)
                .otherwise(0L)).as("packed"))
      .select(col("series"), col("n_obs"),
        floor(col("packed") / G).cast("long").as("cusum_final"),
        pmod(col("packed"), lit(G)).as("n_alarms"))
  }

  /** Population-stability index between two histograms `ref` (bin, n_r)
    * and `cur` (bin, n_c) → one row (n_bins, psi): Σ (p−q)·ln(p/q) over
    * the bins where BOTH sides have mass, each term snapped to ×10⁶
    * BIGINT before the sum (order-free; the q72 pattern), psi rounded
    * to 4. Bin totals come back as BROADCASTs — histograms are
    * bin-count-sized, never data-sized, so the whole comparison is
    * metadata-cheap regardless of the corpus behind it. A disjoint
    * pair yields n_bins = 0 and a null psi — the caller decides
    * whether "no overlap" means maximal drift (driftStream does).
    */
  def psiBetween(ref: DataFrame, cur: DataFrame): DataFrame =
    ref.join(cur, "bin")
      .crossJoin(broadcast(ref.agg(sum(col("n_r")).as("t_r"))))
      .crossJoin(broadcast(cur.agg(sum(col("n_c")).as("t_c"))))
      .withColumn("term_fp", round(
        (col("n_r") / col("t_r") - col("n_c") / col("t_c")) *
          log((col("n_r") / col("t_r")) / (col("n_c") / col("t_c"))) *
          1000000d).cast("long"))
      .agg(count(lit(1)).as("n_bins"),
        round((sum(col("term_fp")).cast("double") / 1000000d)
          .cast("decimal(20,10)"), 4).cast("double").as("psi"))

  /** Order-free table CHECKSUM for replica/rebuild reconciliation: the
    * XOR of a portable 60-bit row hash plus the row count — two tables
    * with equal content produce equal checksums REGARDLESS of row
    * order, partitioning or file layout, so a migrated/compacted/
    * re-clustered copy verifies against its source with one aggregate
    * per side and a one-row compare (never a sort or a join of the two
    * tables). XOR (not sum) keeps the fold exact in a plain BIGINT at
    * any row count.
    *
    * Contract: `cols` stringify via concat_ws — project floats to a
    * fixed-point string first (engine float→string rendering is not
    * portable), and note concat_ws skips nulls (a null column and an
    * empty string collide; substitute sentinels upstream if the domain
    * needs the distinction). XOR is also insensitive to a row
    * appearing an EVEN number of times on one side — pair it with the
    * row count, which catches every duplication the XOR can miss
    * except exact count-preserving swaps of already-equal rows.
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(Dedup.hashLong(
        concat_ws("\u0001", cols.map(col): _*)).as("h"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("checksum"))

  /** Exact two-sample Kolmogorov–Smirnov statistic — the distribution
    * drift gate with a rigorous footing next to the binned PSI:
    * D = sup_v |F₁(v) − F₂(v)| over the pooled empirical CDFs, where
    * `tag` splits rows into the two samples.
    *
    * Distributed-exact ECDF: rows collapse to one row per DISTINCT
    * value (both samples' counts side by side), and the running counts
    * come from the shared [[Ranks.withRunningBelow]] two-level prefix
    * kernel, so no stage ever sorts the full value domain in one
    * partition. The sup turns
    * into a max over |cum₁·n₂ − cum₂·n₁| computed in DECIMAL(38,0)
    * (exact at any sample size; the long cross-product overflows near
    * n ≈ 3·10⁹) with ONE double division at the end. `values` must be
    * integral (cents, micros). Output: one row (n1, n2, ks).
    */
  def ksStatistic(df: DataFrame, tag: Column, valueCents: Column,
                  bucketWidth: Long): DataFrame = {
    val rows = df.select(tag.as("__t"), valueCents.cast("long").as("__v"))
    val byV = rows.groupBy(col("__v"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("c2"))
    // inclusive cum = strictly-below (the shared Ranks kernel) + own
    val run = Ranks.withRunningBelow(byV, "__v", bucketWidth,
      Seq("c1", "c2"))
    val n = rows.agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("n2"))
    run.crossJoin(broadcast(n))
      .select(col("n1"), col("n2"),
        abs((col("c1_below") + col("c1")).cast("decimal(38,0)") * col("n2") -
          (col("c2_below") + col("c2")).cast("decimal(38,0)") * col("n1"))
          .as("dfp"))
      .groupBy(col("n1"), col("n2"))
      .agg(round((max(col("dfp")).cast("double") /
        (col("n1").cast("double") * col("n2").cast("double")))
        .cast("decimal(20,10)"), 6).cast("double").as("ks"))
  }

  /** Per-group LEAVE-ONE-OUT two-sample KS — every group's value
    * distribution against the REST of the data in one pass (the
    * "which source drifted from the corpus" screen that feeds a
    * multiple-testing gate like [[graft.ops.Profile.bhFdr]]). The rest
    * ECDF is derived, never re-scanned: per-(group, value) counts plus
    * the global per-value totals give c2 = total − c1 on a
    * groups × |value-domain| GRID (every group must see every observed
    * value — the sup can sit at a value the group itself never takes),
    * so the work is m·|domain| like sourceKlDivergence, never
    * m·corpus. Running sums ride the grouped two-level kernel
    * ([[graft.ops.Ranks.withRunningBelowBy]]); the sup is exact
    * DECIMAL cross-products with one double division per group.
    * `valueCents` must be integral. Output per group:
    * (g, n1, n2, ks).
    */
  def ksLeaveOneOut(df: DataFrame, group: Column, valueCents: Column,
                    bucketWidth: Long): DataFrame = {
    val rows = df.select(group.as("g"), valueCents.cast("long").as("__v"))
    val byGV = rows.groupBy(col("g"), col("__v"))
      .agg(count(lit(1)).as("c1"))
    val byV = byGV.groupBy(col("__v")).agg(sum(col("c1")).as("ct"))
    val groups = byGV.select(col("g")).distinct()
    val grid = byV.crossJoin(broadcast(groups))
      .join(byGV, Seq("g", "__v"), "left")
      .withColumn("c1", coalesce(col("c1"), lit(0L)))
      .withColumn("c2", col("ct") - col("c1"))
    val run = Ranks.withRunningBelowBy(grid, "g", "__v", bucketWidth,
      Seq("c1", "c2"))
    val n1 = byGV.groupBy(col("g")).agg(sum(col("c1")).as("n1"))
    val nTot = byV.agg(sum(col("ct")).as("nn"))
    run.join(broadcast(n1), Seq("g")).crossJoin(broadcast(nTot))
      .select(col("g"), col("n1"), (col("nn") - col("n1")).as("n2"),
        abs((col("c1_below") + col("c1")).cast("decimal(38,0)") *
          (col("nn") - col("n1")) -
          (col("c2_below") + col("c2")).cast("decimal(38,0)") * col("n1"))
          .as("dfp"))
      .groupBy(col("g"), col("n1"), col("n2"))
      .agg(round((max(col("dfp")).cast("double") /
        (col("n1").cast("double") * col("n2").cast("double")))
        .cast("decimal(20,10)"), 6).cast("double").as("ks"))
  }

  /** MACRO-F1 from a confusion table (y, pred, n) — the multi-class
    * eval summary beside [[cohenKappa]]'s agreement: per TRUE class,
    * F1 in ONE exact floored division (F1 = 2tp/(2tp+fp+fn) — never
    * the lossy precision/recall chain), macro = the floored mean over
    * true classes. A class the model never predicts scores its honest
    * 0 (support>0 forces 2tp+fp+fn>0); predicted-only phantom classes
    * affect other classes' fp, not the macro denominator (the
    * standard macro-over-true-classes convention). Output one row per
    * true class (cls, support, tp, fp, fn, f1_micro) + the constant
    * macro_f1_micro.
    */
  def macroF1(confusion: DataFrame, y: Column, pred: Column,
              n: Column): DataFrame = {
    val base = confusion.select(y.as("y"), pred.as("pred"),
      n.cast("long").as("n"))
    val tp = base.filter(col("y") === col("pred"))
      .select(col("y").as("cls"), col("n").as("tp"))
    val support = base.groupBy(col("y").as("cls"))
      .agg(sum(col("n")).as("support"))
    val predicted = base.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("predicted"))
    val per = support
      .join(tp, Seq("cls"), "left")
      .join(predicted, Seq("cls"), "left")
      .na.fill(0L, Seq("tp", "predicted"))
      .select(col("cls"), col("support"), col("tp"),
        (col("predicted") - col("tp")).as("fp"),
        (col("support") - col("tp")).as("fn"))
      .withColumn("f1_micro",
        fdiv(dec(col("tp")) * lit(2000000L),
          dec(col("tp") * 2 + col("fp") + col("fn"))))
    val macroRow = per.agg(fdiv(dec(sum(col("f1_micro"))),
      dec(count(lit(1)))).as("macro_f1_micro"))
    per.crossJoin(macroRow)
  }

  /** COHEN'S KAPPA between two binary raters — the label-QA read
    * behind every "model agrees with the annotator" claim: raw
    * agreement corrected for the agreement two independent raters
    * with these marginals would reach by chance. All fixed-point:
    * po = ⌊agree·1e6/n⌋, pe = ⌊(aʸbʸ + aⁿbⁿ)·1e6/n²⌋,
    * kappa = (po−pe)·1e6/(1e6−pe) TRUNCATED toward zero (kappa can be
    * negative — worse than chance — and SQL integer division
    * truncates; the engine splits the sign around the nonneg pmod
    * floor to match). n up to ~9e12 before the decimal(38,0) n² term
    * would need widening; perfect-chance marginals (pe = 1e6) yield
    * null kappa. One exact aggregate; `a`/`b` are boolean columns.
    * Output one row: (n, a_yes, b_yes, agree, po_micro, pe_micro,
    * kappa_micro).
    */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val counts = df.agg(count(lit(1)).as("n"),
      sum(when(a, 1L).otherwise(0L)).as("a_yes"),
      sum(when(b, 1L).otherwise(0L)).as("b_yes"),
      sum(when(a === b, 1L).otherwise(0L)).as("agree"))
    val withP = counts
      .withColumn("po_micro",
        fdiv(dec(col("agree")) * lit(1000000L), dec(col("n"))))
      .withColumn("pe_micro",
        fdiv(dec(col("a_yes")) * dec(col("b_yes")) * lit(1000000L)
          + (dec(col("n")) - col("a_yes"))
            * (dec(col("n")) - col("b_yes")) * lit(1000000L),
          dec(col("n")) * dec(col("n"))))
    val num = (col("po_micro") - col("pe_micro"))
      .cast("decimal(38,0)") * lit(1000000L)
    val den = dec(lit(1000000L) - col("pe_micro"))
    withP.withColumn("kappa_micro",
      when(col("pe_micro") === 1000000L, lit(null).cast("long"))
        .otherwise(when(num < 0, lit(-1L)).otherwise(lit(1L))
          * fdiv(abs(num), den)))
  }

  /** UNBIASED pass@k (Chen et al. 2021, the HumanEval estimator) —
    * the eval number a code/reasoning benchmark reports: per task
    * with n samples of which c are correct, pass@k = 1 −
    * C(n−c,k)/C(n,k) = 1 − Π_{i<k}(n−c−i)/(n−i). Computed EXACTLY:
    * the two k-term products are integer products in decimal(38,0)
    * (n^k must fit — enforced k ≤ 10; cap n upstream by sampling per
    * task if a task has millions of rows), the failure ratio is one
    * floored division, pass@1 comes as the plain floored c/n.
    * Tasks with n < k drop (the estimator is undefined there — the
    * paper's rule); n−c < k short-circuits to exactly 1e6. One
    * groupBy over the scan. Output: (task, n, c, pass_at_1_micro,
    * pass_at_k_micro).
    */
  def passAtK(df: DataFrame, task: Column, correct: Column,
              k: Int): DataFrame = {
    require(k >= 1 && k <= 10, "k must be in [1, 10]")
    val agg = df.groupBy(task.as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(correct, 1L).otherwise(0L)).as("c"))
    val num = (0 until k).map(i => dec(col("n") - col("c") - i))
      .reduce(_ * _)
    val den = (0 until k).map(i => dec(col("n") - i)).reduce(_ * _)
    agg.filter(col("n") >= k)
      .select(col("task"), col("n"), col("c"),
        fdiv(dec(col("c")) * lit(1000000L), dec(col("n")))
          .as("pass_at_1_micro"),
        when(col("n") - col("c") < k, lit(1000000L))
          .otherwise(lit(1000000L) - fdiv(num * lit(1000000L), den))
          .as("pass_at_k_micro"))
  }

  /** ONE-STEP DAWID–SKENE label aggregation (Dawid & Skene 1979) —
    * the crowdsourcing upgrade over majority vote: workers are
    * weighted by their estimated reliability (agreement with the
    * majority, add-1 smoothed) and items re-labeled by the weighted
    * log-odds vote — one EM half-step, which already flips items
    * where a reliable minority disagrees with an unreliable crowd.
    * Exact: majority via cross-multiplied counts (ties to 0), worker
    * weight = round(1e6·ln((a+1)/(t−a+1))) (the per-term ln-snap
    * convention; a weight is NEGATIVE for worse-than-chance
    * workers), DS label = sign of Σ w·(2v−1) with ties falling back
    * to the majority. Two grouped aggregates + one broadcast-sized
    * worker table join. Output per item: (item, n_votes, majority,
    * ds_label, flipped).
    */
  def dawidSkeneStep(votes: DataFrame, item: Column, worker: Column,
                     vote: Column): DataFrame = {
    val base = votes.select(item.as("item"), worker.as("wk"),
      when(vote, 1L).otherwise(0L).as("v"))
    val maj = base.groupBy(col("item"))
      .agg(count(lit(1)).as("n_votes"), sum(col("v")).as("pos"))
      .withColumn("majority",
        when(col("pos") * 2 > col("n_votes"), 1L).otherwise(0L))
    val wstats = base.join(maj.select(col("item"), col("majority")),
        "item")
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("v") === col("majority"), 1L).otherwise(0L))
          .as("a"))
      .select(col("wk"),
        round(log((col("a") + 1).cast("double") /
          (col("t") - col("a") + 1).cast("double")) * lit(1e6))
          .cast("long").as("w"))
    val score = base.join(broadcast(wstats), "wk")
      .groupBy(col("item"))
      .agg(sum(col("w") * (col("v") * 2 - 1)).as("s"))
    maj.join(score, "item")
      .select(col("item"), col("n_votes"), col("majority"),
        when(col("s") > 0, 1L).when(col("s") < 0, 0L)
          .otherwise(col("majority")).as("ds_label"))
      .withColumn("flipped", col("ds_label") =!= col("majority"))
  }

  /** MATTHEWS CORRELATION COEFFICIENT for a binary classifier — the
    * single-number confusion summary that survives class imbalance
    * (accuracy and F1 both flatter a majority-class guesser; MCC of
    * one is 0). Counts are one exact aggregate; the only doubles are
    * the final (tp·tn − fp·fn)/√(…) evaluated once on exact longs
    * and snapped ×1e6 (the z-test convention). Null when any
    * marginal is empty (the denominator vanishes). Output one row:
    * (tp, fp, fn, tn, mcc_micro).
    */
  def matthewsCorrelation(df: DataFrame, pred: Column,
                          label: Column): DataFrame = {
    val counts = df.agg(
      sum(when(pred && label, 1L).otherwise(0L)).as("tp"),
      sum(when(pred && !label, 1L).otherwise(0L)).as("fp"),
      sum(when(!pred && label, 1L).otherwise(0L)).as("fn"),
      sum(when(!pred && !label, 1L).otherwise(0L)).as("tn"))
    def d(c: Column): Column = c.cast("double")
    val den = sqrt(d(col("tp") + col("fp")) * d(col("tp") + col("fn"))
      * d(col("tn") + col("fp")) * d(col("tn") + col("fn")))
    counts.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(col("tp") + col("fp") === 0L ||
        col("tp") + col("fn") === 0L ||
        col("tn") + col("fp") === 0L ||
        col("tn") + col("fn") === 0L,
        lit(null).cast("long"))
        .otherwise(round((d(col("tp")) * d(col("tn")) -
          d(col("fp")) * d(col("fn"))) / den * lit(1e6)).cast("long"))
        .as("mcc_micro"))
  }

  /** p-CHART control limits (Shewhart SPC) for a per-group defect
    * rate — the ops read behind "is today's reject rate just noise":
    * a group is out of control when |p_g − p̄| exceeds 3σ of the
    * pooled binomial. ENTIRELY integer: with e_g/n_g the group and
    * E/N the pooled counts, the 3σ test squares to
    * (e_g·N − n_g·E)² > 9·E·(N−E)·n_g — cross-multiplied exact
    * decimals, the square root never evaluates. Output one row per
    * group: (grp, n, defects, out_of_control) plus the pooled
    * (total_n, total_defects) constants.
    */
  def pChart(df: DataFrame, group: Column, isDefect: Column): DataFrame = {
    val per = df.groupBy(group.as("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(isDefect, 1L).otherwise(0L)).as("defects"))
    val tot = per.agg(sum(col("n")).as("total_n"),
      sum(col("defects")).as("total_defects"))
    per.crossJoin(broadcast(tot))
      .withColumn("out_of_control", {
        val t = dec(col("defects")) * col("total_n") -
          dec(col("n")) * col("total_defects")
        t * t > dec(lit(9L)) * col("total_defects") *
          (col("total_n") - col("total_defects")) * col("n")
      })
      .select(col("grp"), col("n"), col("defects"),
        col("out_of_control"), col("total_n"), col("total_defects"))
  }

  /** BENFORD'S-LAW first-digit audit — the classic forensic screen
    * for fabricated or unit-mangled numeric feeds: naturally-grown
    * magnitudes put ~30.1% of leading digits on 1, and a feed that
    * deviates hard earns a look. `expectedMicro` carries the nine
    * ⌊1e6·log₁₀(1+1/d)⌋ constants as DRIVER literals (both engines
    * see the same numbers — no cross-engine log₁₀ at all). Exact
    * counts, floored micro shares, per-digit absolute deviation, and
    * the total-variation distance constant on every row. Output one
    * row per digit 1..9: (digit, n_obs, obs_micro, expected_micro,
    * dev_micro, tvd_micro). Non-positive values are excluded (they
    * have no Benford digit).
    */
  def benfordAudit(df: DataFrame, valueCents: Column,
                   expectedMicro: Seq[Long]): DataFrame = {
    require(expectedMicro.length == 9, "need 9 digit expectations")
    val exp = expectedMicro.zipWithIndex.map { case (e, i) =>
      (i + 1, e)
    }
    val obs = df.select(valueCents.cast("long").as("c"))
      .filter(col("c") > 0L)
      .select(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val spark = df.sparkSession
    import spark.implicits._
    val spine = exp.toDF("digit", "expected_micro")
    val total = obs.agg(sum(col("n_obs")).as("n_total"))
    spine.join(obs, Seq("digit"), "left")
      .na.fill(0L, Seq("n_obs"))
      .crossJoin(broadcast(total))
      .withColumn("obs_micro", fdiv(dec(col("n_obs")) * lit(1000000L),
        dec(greatest(col("n_total"), lit(1L)))))
      .withColumn("dev_micro",
        abs(col("obs_micro") - col("expected_micro")))
      .withColumn("tvd_micro", sum(col("dev_micro")).over(
        Window.partitionBy(graft.ops.Cols.onePartitionKey(col("digit"))))
        / lit(2))
      .withColumn("tvd_micro", col("tvd_micro").cast("long"))
      .select(col("digit"), col("n_obs"), col("obs_micro"),
        col("expected_micro"), col("dev_micro"), col("tvd_micro"))
  }

  /** QUERY-BY-COMMITTEE disagreement (Seung et al. 1992) — the
    * active-learning read over any set of binary classifiers: union
    * the per-model (id, pred ∈ {0,1}) frames, one aggregate per id
    * counts positive votes; DISPUTED ids (not unanimous) are where
    * labeling budget buys the most. Pure counting — the committee's
    * members carry all the model arithmetic.
    */
  def committeeVotes(preds: Seq[DataFrame]): DataFrame = {
    require(preds.nonEmpty, "need at least one committee member")
    preds.map(_.select(col("id"), col("pred").cast("long").as("pred")))
      .reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_models"), sum(col("pred"))
        .as("votes_pos"))
      .withColumn("disputed",
        col("votes_pos") > 0L && col("votes_pos") < col("n_models"))
  }

  /** KRIPPENDORFF'S ALPHA for binary ratings with a CONSTANT rater
    * count per unit — the multi-rater generalization of
    * [[cohenKappa]] every labeling campaign needs (kappa only
    * compares two raters). With R raters per unit, o_u positive votes
    * on unit u, N = units·R total ratings, n₁/n₀ the pooled vote
    * margins, the nominal-data coincidence algebra collapses to
    *   α = 1 − (N−1)·Σ_u o_u(R−o_u) / ((R−1)·n₁·n₀)
    * — every factor an EXACT integer, α_micro one truncated division
    * (α can be negative — worse than chance). Degenerate margins
    * (n₁·n₀ = 0: all raters unanimous everywhere) yield null α, the
    * cohenKappa convention. The constant-R contract is enforced with
    * one model-sized aggregate (distinct rater counts), never a
    * data-sized collect. Output one row: (n_units, n_ratings, n_pos,
    * disagreement, alpha_micro).
    */
  def krippendorffAlpha(df: DataFrame, unit: Column,
                        vote: Column): DataFrame = {
    val perUnit = df
      .select(unit.as("u"), when(vote, 1L).otherwise(0L).as("v"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("r"), sum(col("v")).as("o"))
    val rr = perUnit.agg(countDistinct(col("r")).as("nr"),
      min(col("r")).as("r")).head()
    require(rr.getLong(0) == 1L && rr.getLong(1) >= 2L,
      "krippendorffAlpha requires a constant rater count >= 2 per unit")
    val r = rr.getLong(1)
    perUnit
      .agg(count(lit(1)).as("n_units"),
        sum(col("o")).as("n_pos"),
        sum(col("o") * (lit(r) - col("o"))).as("disagreement"))
      .select(col("n_units"), (col("n_units") * r).as("n_ratings"),
        col("n_pos"), col("disagreement"),
        when(col("n_pos") === 0L ||
          col("n_pos") === col("n_units") * r, lit(null).cast("long"))
          .otherwise(lit(1000000L) - tdiv(
            dec(col("n_units") * r - 1) * col("disagreement") *
              lit(1000000L),
            dec(lit(r - 1)) * col("n_pos") *
              (col("n_units") * r - col("n_pos"))))
          .as("alpha_micro"))
  }

  /** CONFIDENT-LEARNING label-noise audit (Northcutt et al. 2021,
    * "Confident Learning") — the curation step that finds MISLABELED
    * rows before a classifier trains on them: a row whose predicted
    * class-j score clears class j's self-confidence threshold is
    * "confidently" class j; rows confidently in a class OTHER than
    * their given label are the label-issue candidates. All exact:
    * threshold t_j is the MEAN score of class j over rows GIVEN
    * label j, and the compare is cross-multiplied (p·n_j ≥ Σp_j) so
    * no lossy mean ever materializes; the confident pick is argmax
    * score over clearing classes with ties to the smallest class.
    *
    * Scale shape: one K×data explode, one K-row threshold aggregate
    * broadcast back, one per-row argmax aggregate, one K²-row joint
    * aggregate — two data-sized shuffles, map-side combinable, no
    * windows, no collect. `probs` is array&lt;long&gt; micro scores
    * (need not be normalized — thresholds are per-class). Output one
    * row per non-empty (given, predicted) cell: (given, predicted,
    * n, n_flagged, n_unconfident, n_rows) where n_flagged = total
    * off-diagonal mass and n_unconfident = rows clearing no
    * threshold (counted in no cell).
    */
  def confidentJoint(df: DataFrame, id: Column, given: Column,
                     probs: Column): DataFrame = {
    val base = df
      .select(id.as("id"), given.cast("int").as("y"),
        posexplode(probs).as(Seq("j", "p")))
      .select(col("id"), col("y"), col("j").cast("int").as("j"),
        col("p").cast("long").as("p"))
    val th = base.filter(col("j") === col("y"))
      .groupBy(col("j"))
      .agg(sum(col("p")).as("sp"), count(lit(1)).as("nj"))
    val pick = base.join(broadcast(th), Seq("j"))
      .filter(dec(col("p")) * col("nj") >= dec(col("sp")))
      .groupBy(col("id"), col("y"))
      .agg(max(struct(col("p"), (-col("j")).as("nj"),
        col("j").as("j"))).as("m"))
      .select(col("id"), col("y"), col("m.j").as("pred"))
    val joint = pick.groupBy(col("y").as("given"),
        col("pred").as("predicted"))
      .agg(count(lit(1)).as("n"))
    val totals = df.agg(count(lit(1)).as("n_rows"))
      .crossJoin(joint.agg(
        coalesce(sum(when(col("given") =!= col("predicted"),
          col("n"))), lit(0L)).as("n_flagged"),
        coalesce(sum(col("n")), lit(0L)).as("n_confident")))
      .select(col("n_rows"), col("n_flagged"),
        (col("n_rows") - col("n_confident")).as("n_unconfident"))
    joint.crossJoin(broadcast(totals))
      .select(col("given"), col("predicted"), col("n"),
        col("n_flagged"), col("n_unconfident"), col("n_rows"))
  }

  /** SPLIT-CONFORMAL CALIBRATION audit (Vovk's conformal prediction;
    * Angelopoulos & Bates 2021) — the distribution-free coverage
    * check a quality/reward scorer ships with: per group, the
    * conformal threshold at miscoverage α is the
    * ⌈(n_cal+1)(1−α)⌉-th SMALLEST calibration nonconformity score
    * (exact integer index arithmetic: idx = ((n+1)(100−a)+99)//100
    * for α = a%), and the audit measures the EMPIRICAL holdout
    * coverage P(score ≤ q̂) that the theory lower-bounds by 1−α.
    * An index past n_cal means the threshold is +∞ (q_score null,
    * full coverage) — the standard small-n degenerate case. Ranks
    * come from one row_number per group (group-sized partitions, the
    * perplexityBuckets sort precedent); the α grid is a literal
    * explode. Output per (grp, alpha_pct): (n_cal, q_rank, q_score,
    * n_holdout, n_covered, coverage_micro — null when the holdout is
    * empty). Exact integers throughout.
    */
  def conformalCalibration(cal: DataFrame, holdout: DataFrame,
                           alphaPcts: Seq[Int]): DataFrame = {
    require(alphaPcts.nonEmpty && alphaPcts.forall(a => a >= 1 && a <= 99),
      "alpha percents must be in [1, 99]")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("score"), col("o"))
    val ranked = cal
      .select(col("grp"), col("score").cast("long").as("score"),
        col("o"))
      .withColumn("r", row_number().over(w).cast("long"))
    val grid = ranked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_cal"))
      .select(col("grp"), col("n_cal"),
        explode(typedLit(alphaPcts.map(_.toLong))).as("alpha_pct"))
      .withColumn("q_rank",
        fdiv((col("n_cal") + 1) * (lit(100L) - col("alpha_pct"))
          + 99, lit(100L)))
    val withQ = grid.join(
      ranked.select(col("grp"), col("r").as("q_rank"),
        col("score").as("q_score")),
      Seq("grp", "q_rank"), "left")
    val hold = holdout
      .select(col("grp"), col("score").cast("long").as("hs"))
    withQ.join(hold, Seq("grp"), "left")
      .groupBy(col("grp"), col("alpha_pct"), col("n_cal"),
        col("q_rank"), col("q_score"))
      .agg(count(col("hs")).as("n_holdout"),
        sum(when(col("hs").isNotNull &&
            (col("q_score").isNull || col("hs") <= col("q_score")),
          1L).otherwise(0L)).as("n_covered"))
      .select(col("grp"), col("alpha_pct").cast("int").as("alpha_pct"),
        col("n_cal"), col("q_rank"), col("q_score"), col("n_holdout"),
        col("n_covered"),
        when(col("n_holdout") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("n_covered")) * lit(1000000L),
            dec(col("n_holdout")))).as("coverage_micro"))
  }

  /** [[conformalCalibration]] from an ADDITIVE (grp, score, c)
    * histogram instead of raw rows — the incremental/streaming form:
    * per-batch partial histograms merge by summation in any order,
    * and the ⌈(n+1)(1−α)⌉-th smallest score falls out of the RUNNING
    * count (q̂ = min score with cum ≥ q_rank) instead of a
    * row_number rank — a genuinely different algebra from the rank
    * formulation, which is what lets the batch oracle check the
    * streaming path. Same output contract as
    * [[conformalCalibration]]; q_rank past n_cal means +∞ (q_score
    * null, full coverage). The running count rides one per-group
    * ordered window over DISTINCT scores (≤ group size, usually far
    * fewer rows than the corpus); the α grid join is a 3n-row pass
    * through one conditional-min aggregate.
    */
  def conformalFromHistogram(hist: DataFrame, holdout: DataFrame,
                             alphaPcts: Seq[Int]): DataFrame = {
    require(alphaPcts.nonEmpty && alphaPcts.forall(a => a >= 1 && a <= 99),
      "alpha percents must be in [1, 99]")
    val w = Window.partitionBy(col("grp")).orderBy(col("score"))
    val cum = hist
      .select(col("grp"), col("score").cast("long").as("score"),
        col("c").cast("long").as("c"))
      .groupBy(col("grp"), col("score"))
      .agg(sum(col("c")).as("c")) // merge replayed batch partials
      .withColumn("cumc", sum(col("c")).over(w))
    val grid = cum.groupBy(col("grp")).agg(sum(col("c")).as("n_cal"))
      .select(col("grp"), col("n_cal"),
        explode(typedLit(alphaPcts.map(_.toLong))).as("alpha_pct"))
      .withColumn("q_rank",
        fdiv((col("n_cal") + 1) * (lit(100L) - col("alpha_pct"))
          + 99, lit(100L)))
    val withQ = grid
      .join(cum.select(col("grp"), col("score"), col("cumc")),
        Seq("grp"), "left")
      .groupBy(col("grp"), col("alpha_pct"), col("n_cal"),
        col("q_rank"))
      .agg(min(when(col("cumc") >= col("q_rank"), col("score")))
        .as("q_score"))
    val hold = holdout
      .select(col("grp"), col("score").cast("long").as("hs"))
    withQ.join(hold, Seq("grp"), "left")
      .groupBy(col("grp"), col("alpha_pct"), col("n_cal"),
        col("q_rank"), col("q_score"))
      .agg(count(col("hs")).as("n_holdout"),
        sum(when(col("hs").isNotNull &&
            (col("q_score").isNull || col("hs") <= col("q_score")),
          1L).otherwise(0L)).as("n_covered"))
      .select(col("grp"), col("alpha_pct").cast("int").as("alpha_pct"),
        col("n_cal"), col("q_rank"), col("q_score"), col("n_holdout"),
        col("n_covered"),
        when(col("n_holdout") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("n_covered")) * lit(1000000L),
            dec(col("n_holdout")))).as("coverage_micro"))
  }

  /** ISOTONIC CALIBRATION over score bins — the pool-adjacent-
    * violators fit (Ayer et al. 1955; Zadrozny & Elkan 2002 for
    * classifier calibration) via the minimax identity
    *   f_i = max_{j ≤ i} min_{k ≥ i} rate(j..k),
    * the closed form of the PAV solution (no sequential pooling
    * loop). Scores bin into `bins` equal-width buckets of the micro
    * domain [0, 1e6); per (group, bin) the empirical positive rate
    * and its isotonic (monotone non-decreasing) repair. Segment
    * rates snap to nano (one nonneg floor division per (j, k)
    * segment) BEFORE the minimax, so both engines compare identical
    * integers — the repo's snap-then-compare convention.
    *
    * Scale shape: ONE data-sized hash aggregate to (grp, bin)
    * cells; everything after is bin-bounded — prefix sums over ≤
    * `bins` rows per group, a B² segment self-join, and the B³
    * minimax expansion (64³ = 262k rows per group at the cap,
    * map-side arithmetic). The guard is structural: `bins ≤ 64`, so
    * a caller cannot smuggle a data-sized domain into the cube.
    * Output per non-empty (grp, bin): (grp, bin, n, n_pos,
    * raw_nano, iso_nano) — iso_nano is monotone in bin within every
    * group.
    */
  def isotonicCalibration(df: DataFrame, grp: Column,
                          scoreMicro: Column, label: Column,
                          bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 64, "bins must be in [2, 64]")
    val cells = df
      .select(grp.as("grp"),
        least(lit(bins - 1L),
          fdiv(scoreMicro.cast("long") * bins, lit(1000000L)))
          .as("bin"),
        when(label, 1L).otherwise(0L).as("y"))
      .groupBy(col("grp"), col("bin"))
      .agg(sum(col("y")).as("n_pos"), count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("bin"))
    val cum = cells
      .withColumn("cp", sum(col("n_pos")).over(w))
      .withColumn("ct", sum(col("n")).over(w))
    val seg = cum
      .select(col("grp"), col("bin").as("jbin"),
        (col("cp") - col("n_pos")).as("cp0"),
        (col("ct") - col("n")).as("ct0"))
      .join(cum.select(col("grp"), col("bin").as("kbin"),
        col("cp").as("cpk"), col("ct").as("ctk")), Seq("grp"))
      .filter(col("jbin") <= col("kbin"))
      .select(col("grp"), col("jbin"), col("kbin"),
        fdiv(dec(col("cpk") - col("cp0")) * lit(1000000000L),
          dec(col("ctk") - col("ct0"))).as("rate"))
    cells
      .join(seg, Seq("grp"))
      .filter(col("jbin") <= col("bin") && col("bin") <= col("kbin"))
      .groupBy(col("grp"), col("bin"), col("n"), col("n_pos"),
        col("jbin"))
      .agg(min(col("rate")).as("minr"))
      .groupBy(col("grp"), col("bin"), col("n"), col("n_pos"))
      .agg(max(col("minr")).as("iso_nano"))
      .select(col("grp"), col("bin"), col("n"), col("n_pos"),
        fdiv(dec(col("n_pos")) * lit(1000000000L), dec(col("n")))
          .as("raw_nano"),
        col("iso_nano"))
  }

  /** GROUP-FAIRNESS audit of a binary classifier (Hardt et al. 2016's
    * metric panel) — the governance read beside the privacy ladder:
    * per protected group the selection rate (demographic parity),
    * TPR/FPR (equalized odds) and PPV (predictive parity), plus the
    * GAP of each against the corpus-overall rate — the four numbers
    * every model card reports, and mathematically not all equalizable
    * at once (the impossibility theorem), which is why the audit
    * reports them all. Exact counts, one ×1e6 floor per rate, null
    * where a denominator is empty; the overall row broadcasts onto
    * every group (the positionBias shape). One hash aggregate.
    * Output per group: (grp, n, sel_micro, tpr_micro, fpr_micro,
    * ppv_micro, sel_gap_micro, tpr_gap_micro, fpr_gap_micro).
    */
  def fairnessAudit(df: DataFrame, group: Column, label: Column,
                    pred: Column): DataFrame = {
    def rate(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("long"))
        .otherwise(fdiv(dec(num) * lit(1000000L), dec(den)))
    def counts(d: DataFrame): DataFrame = d
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p"), 1L).otherwise(0L)).as("np"),
        sum(when(col("y"), 1L).otherwise(0L)).as("ny"),
        sum(when(col("y") && col("p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("y") && col("p"), 1L).otherwise(0L)).as("fp"))
      .select(col("grp"), col("n"),
        rate(col("np"), col("n")).as("sel"),
        rate(col("tp"), col("ny")).as("tpr"),
        rate(col("fp"), col("n") - col("ny")).as("fpr"),
        rate(col("tp"), col("np")).as("ppv"))
    val base = df.select(group.as("grp"), label.as("y"), pred.as("p"))
    val per = counts(base)
    val overall = counts(base.withColumn("grp", lit("__all__")))
      .select(col("n").as("n_all"), col("sel").as("sel_all"),
        col("tpr").as("tpr_all"), col("fpr").as("fpr_all"))
    per.crossJoin(broadcast(overall))
      .select(col("grp"), col("n"), col("sel").as("sel_micro"),
        col("tpr").as("tpr_micro"), col("fpr").as("fpr_micro"),
        col("ppv").as("ppv_micro"),
        (col("sel") - col("sel_all")).as("sel_gap_micro"),
        (col("tpr") - col("tpr_all")).as("tpr_gap_micro"),
        (col("fpr") - col("fpr_all")).as("fpr_gap_micro"))
  }

  /** B-CUBED precision/recall/F1 (Bagga & Baldwin 1998; the standard
    * entity-resolution / coreference clustering score) — judges a
    * PREDICTED clustering against gold per ITEM: an item's precision
    * is the share of its predicted cluster sharing its gold cluster,
    * recall the share of its gold cluster it was clustered with;
    * corpus scores are the item means. Complements q232's ARI
    * (chance-corrected pair agreement) and q228's purity
    * (majority-label share): B³ is the one that punishes both
    * over-merging AND over-splitting per item, the dedup-pipeline
    * acceptance metric.
    *
    * The per-item definition collapses to contingency algebra — an
    * item in cell (p, g) contributes n_pg/n_p to precision and
    * n_pg/n_g to recall, so the item sum is Σ_cells n_pg²/n_p
    * (resp. /n_g): never the n² item pairs, ONE data-sized cell
    * aggregate plus cluster-sized size joins. Per-cell terms snap
    * ×1e6 with one floor each (nonneg), one floor per corpus score,
    * F1 the harmonic mean of the snapped scores. Output one row:
    * (n_items, n_pred_clusters, n_gold_clusters, precision_micro,
    * recall_micro, f1_micro) — empty input yields the zero row with
    * nulls.
    */
  def bCubed(df: DataFrame, item: Column, pred: Column,
             gold: Column): DataFrame = {
    val cells = df
      .select(item.as("id"), pred.cast("string").as("p"),
        gold.cast("string").as("g"))
      .groupBy(col("p"), col("g")).agg(count(lit(1)).as("npg"))
    val psz = cells.groupBy(col("p")).agg(sum(col("npg")).as("np"))
    val gsz = cells.groupBy(col("g")).agg(sum(col("npg")).as("ng"))
    val sums = cells.join(psz, Seq("p")).join(gsz, Seq("g"))
      .agg(coalesce(sum(col("npg")), lit(0L)).as("n_items"),
        sum(fdiv(dec(col("npg")) * col("npg") * lit(1000000L),
          dec(col("np")))).as("psum"),
        sum(fdiv(dec(col("npg")) * col("npg") * lit(1000000L),
          dec(col("ng")))).as("rsum"))
    val kp = psz.agg(count(lit(1)).as("n_pred_clusters"))
    val kg = gsz.agg(count(lit(1)).as("n_gold_clusters"))
    sums.crossJoin(broadcast(kp)).crossJoin(broadcast(kg))
      .withColumn("precision_micro",
        when(col("n_items") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("psum")), dec(col("n_items")))))
      .withColumn("recall_micro",
        when(col("n_items") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("rsum")), dec(col("n_items")))))
      .select(col("n_items"), col("n_pred_clusters"),
        col("n_gold_clusters"), col("precision_micro"),
        col("recall_micro"),
        when(col("n_items") === 0 ||
            col("precision_micro") + col("recall_micro") === 0,
          lit(null).cast("long"))
          .otherwise(fdiv(
            dec(lit(2L)) * col("precision_micro") *
              col("recall_micro"),
            dec(col("precision_micro") + col("recall_micro"))))
          .as("f1_micro"))
  }
}
