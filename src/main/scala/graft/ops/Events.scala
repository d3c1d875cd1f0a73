package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv, tdiv}

/** Event-stream analytics — funnel conversion, sessionization and
  * cohort retention: the behavioral-analysis face of an events table
  * (and, for a training pipeline, the interaction-log preprocessing
  * that turns raw events into per-user sequences).
  *
  * Everything here shuffles exactly once on the user key and keeps all
  * per-user work inside that partitioning — the shapes that survive a
  * 1000-executor scale-up.
  */
object Events {

  /** Ordered funnel: per user, the deepest step reached through a
    * time-increasing walk of `steps` (step k counts only after steps
    * 1..k-1 were hit in order — the strict product-funnel semantics,
    * not mere per-step presence).
    *
    * The walk is a fold over the user's time-sorted events with the
    * step index packed into the sort key (`epoch_us·8 + idx`, so ties
    * at the same microsecond resolve to the earlier step first and the
    * encoding stays one BIGINT — exact to ±36,000 years). One
    * hash-aggregate on user builds the sorted sequence; the fold is a
    * per-row lambda over it. Events at the same user are the only
    * grouping — no window, no self-join, one shuffle.
    *
    * At 100 TB the per-user arrays are bounded by per-user event
    * counts; a pathological mega-user would need a time-bucketed
    * pre-fold, which composes on top of this same encoding.
    */
  /** Per-user time-sorted sequence of epoch_us·8 + step-index codes —
    * the shared input of both funnel folds.
    */
  private def encodedSeq(events: DataFrame, user: Column, ts: Column,
                         step: Column, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.size <= 7,
      "funnel depth must be 1..7 (3-bit step encoding)")
    val stepIdx = steps.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (s, i)) => when(step === s, lit(i.toLong + 1L)).otherwise(acc)
    }
    events.select(user.as("user"), (unix_micros(ts) * 8 + stepIdx).as("enc"),
        stepIdx.as("si"))
      .filter(col("si") > 0)
      .groupBy(col("user"))
      .agg(sort_array(collect_list(col("enc"))).as("seq"))
  }

  def funnelReached(events: DataFrame, user: Column, ts: Column,
                    step: Column, steps: Seq[String]): DataFrame =
    encodedSeq(events, user, ts, step, steps)
      .select(col("user"),
        aggregate(col("seq"), lit(0L), (acc, x) =>
          when(pmod(x, lit(8L)) === acc + 1L, acc + 1L).otherwise(acc))
          .as("reached"))

  /** Conversion-window funnel: like [[funnelReached]], but steps count
    * only within `windowSeconds` of the user's FIRST step-1 event (the
    * anchor does not restart on later step-1s — the strict "first
    * touch" attribution). The fold state packs (anchor_us, reached)
    * into one BIGINT as t·8+r and decodes with bit shifts — pure
    * integer ops, exact at any epoch (no double division anywhere).
    */
  def funnelReachedWithin(events: DataFrame, user: Column, ts: Column,
                          step: Column, steps: Seq[String],
                          windowSeconds: Long): DataFrame = {
    val wUs = windowSeconds * 1000000L
    encodedSeq(events, user, ts, step, steps)
      .select(col("user"),
        pmod(aggregate(col("seq"), lit(0L), (acc, x) =>
          when(pmod(acc, lit(8L)) === 0L && pmod(x, lit(8L)) === 1L,
            shiftleft(shiftright(x, 3), 3) + 1L)
            .when(pmod(acc, lit(8L)) > 0L &&
              pmod(x, lit(8L)) === pmod(acc, lit(8L)) + 1L &&
              shiftright(x, 3) - shiftright(acc, 3) <= wUs,
              shiftleft(shiftright(acc, 3), 3) + pmod(acc, lit(8L)) + 1L)
            .otherwise(acc)), lit(8L)).as("reached"))
  }

  /** Funnel step counts: for each step k, how many users reached depth
    * ≥ k. The per-user table reduces to a ≤(k+1)-row histogram before
    * the step join, so the cumulative sum runs over k² tiny rows.
    */
  def funnelCounts(events: DataFrame, user: Column, ts: Column,
                   step: Column, steps: Seq[String]): DataFrame =
    countsFrom(funnelReached(events, user, ts, step, steps), steps)

  /** [[funnelCounts]] with the conversion-window semantics of
    * [[funnelReachedWithin]].
    */
  def funnelCountsWithin(events: DataFrame, user: Column, ts: Column,
                         step: Column, steps: Seq[String],
                         windowSeconds: Long): DataFrame =
    countsFrom(
      funnelReachedWithin(events, user, ts, step, steps, windowSeconds),
      steps)

  private def countsFrom(reachedDf: DataFrame, steps: Seq[String]): DataFrame = {
    val spark = reachedDf.sparkSession
    import spark.implicits._
    val hist = reachedDf.groupBy(col("reached")).agg(count(lit(1)).as("n"))
    val stepDf = steps.zipWithIndex
      .map { case (s, i) => (i + 1, s) }.toDF("step", "step_name")
    stepDf.join(hist, hist("reached") >= stepDf("step"), "left")
      .groupBy(col("step"), col("step_name"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_users"))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * user's previous event exceeds `gapSeconds`. Adds a 1-based
    * `session_id` per user. `order` breaks timestamp ties
    * deterministically (pass the event id).
    *
    * One shuffle + one sort: the running sum can't fuse into the lag's
    * WindowExec (it consumes the marker), but both windows share the
    * same (user, (ts, order)) spec, so the second reuses the first's
    * partitioning and ordering — no extra exchange, no extra sort.
    */
  def sessionize(events: DataFrame, user: Column, ts: Column,
                 order: Column, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(user).orderBy(ts, order)
    val prev = lag(unix_micros(ts), 1).over(w)
    events
      .withColumn("__new",
        when(prev.isNull ||
          unix_micros(ts) - prev > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new")
  }

  /** BOUNDED-DAY RETENTION (the D1/D7/D30 read) — for each first-seen
    * cohort day, the share of its users active again EXACTLY `d`
    * days later, for each offset in `offsets`. Sharper than
    * [[cohortRetention]]'s week buckets when launch analysis needs
    * day granularity. One shuffle to per-user first days, one
    * distinct activity table, one join per offset spine row (the
    * offsets explode on the small cohort side). Output one row per
    * (cohort_day, offset): (cohort_day, d, cohort_users, retained,
    * retention_micro).
    */
  def dayRetention(df: DataFrame, user: Column, ts: Column,
                   offsets: Seq[Int]): DataFrame = {
    require(offsets.nonEmpty && offsets.forall(_ >= 1))
    val act = df.select(user.as("u"), to_date(ts).as("day")).distinct()
    val first = act.groupBy(col("u")).agg(min(col("day")).as("c0"))
    val spine = explode(array(offsets.map(lit): _*)).as("d")
    val probes = first.select(col("u"), col("c0"), spine)
      .withColumn("target", date_add(col("c0"), col("d")))
    probes
      .join(act.select(col("u"), col("day").as("target"))
        .withColumn("hit", lit(1L)), Seq("u", "target"), "left")
      .groupBy(col("c0").as("cohort_day"), col("d"))
      .agg(count(lit(1)).as("cohort_users"),
        coalesce(sum(col("hit")), lit(0L)).as("retained"))
      .withColumn("retention_micro",
        fdiv(dec(col("retained")) * lit(1000000L),
          dec(col("cohort_users"))))
  }

  /** DAU/WAU/MAU ENGAGEMENT ladder — the product-metrics staple:
    * distinct users per day, joined to the containing week's and
    * calendar month's distinct counts, stickiness = ⌊DAU·1e6/MAU⌋.
    * Three distinct-aggregates (each one shuffle, map-side partial
    * distinct), two small joins on the calendar keys. Output one row
    * per active day: (day, dau, wau, mau, stickiness_micro).
    */
  def engagement(df: DataFrame, user: Column, ts: Column): DataFrame = {
    val base = df.select(to_date(ts).as("day"), user.as("u"))
    val dau = base.groupBy(col("day"))
      .agg(countDistinct(col("u")).as("dau"))
    val wau = base.groupBy(trunc(col("day"), "week").as("wk"))
      .agg(countDistinct(col("u")).as("wau"))
    val mau = base.groupBy(trunc(col("day"), "month").as("mo"))
      .agg(countDistinct(col("u")).as("mau"))
    dau
      .join(wau, trunc(col("day"), "week") === col("wk"))
      .join(mau, trunc(col("day"), "month") === col("mo"))
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        fdiv(dec(col("dau")) * lit(1000000L), dec(col("mau")))
          .as("stickiness_micro"))
  }

  /** TWO-PROPORTION Z-TEST for a binary conversion between exactly
    * two variants — the A/B readout ([[funnelCounts]]' significance
    * companion; [[graft.ops.Profile.chiSquareIndependence]] gives the
    * same verdict asymptotically, this one reports the SIGNED z).
    * All inputs are exact integer counts; the single double chain
    * (rates, pooled variance, one sqrt) runs in a fixed expression
    * order and the z snaps ×1e6 — the sigmoid convention. Degenerate
    * pools (p̂ ∈ {0, 1}: nobody or everybody converts) yield null z.
    * `variant` must take exactly two values; rows pivot by the
    * SMALLER variant label as side A. Output one row: (variant_a,
    * variant_b, n_a, conv_a, n_b, conv_b, z_micro, significant —
    * |z| ≥ 1.96).
    */
  def conversionZTest(df: DataFrame, variant: Column,
                      converted: Column): DataFrame = {
    val agg = df
      .groupBy(variant.cast("string").as("v"))
      .agg(count(lit(1)).as("n"),
        sum(when(converted, 1L).otherwise(0L)).as("c"))
    val two = agg.agg(count(lit(1)).as("k")).head().getLong(0)
    require(two == 2L, s"conversionZTest needs exactly 2 variants, got $two")
    val a = agg.select(col("v").as("variant_a"), col("n").as("n_a"),
      col("c").as("conv_a"))
    val b = agg.select(col("v").as("variant_b"), col("n").as("n_b"),
      col("c").as("conv_b"))
    val wide = a.crossJoin(b).filter(col("variant_a") < col("variant_b"))
    def d(c: Column): Column = c.cast("double")
    val p1 = d(col("conv_a")) / d(col("n_a"))
    val p2 = d(col("conv_b")) / d(col("n_b"))
    val pp = d(col("conv_a") + col("conv_b")) /
      d(col("n_a") + col("n_b"))
    val z = (p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))
    wide.select(col("variant_a"), col("variant_b"), col("n_a"),
        col("conv_a"), col("n_b"), col("conv_b"),
        when(col("conv_a") + col("conv_b") === 0L ||
          col("conv_a") + col("conv_b") === col("n_a") + col("n_b"),
          lit(null).cast("long"))
          .otherwise(round(z * lit(1e6)).cast("long")).as("z_micro"))
      .withColumn("significant",
        abs(col("z_micro")) >= 1960000L)
  }

  /** DIFFERENCE-IN-DIFFERENCES — [[conversionZTest]]'s observational
    * sibling (Card–Krueger's workhorse): with a treated and a
    * control group observed pre and post, the effect estimate is
    * (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) — parallel trends
    * difference out the level gap AND the common shock. Exact: one
    * hash aggregate to the four (treated, post) cells, cell means as
    * single truncated divisions (signed metrics welcome — the
    * tdiv/`//` contract), the DiD a difference of those snapped
    * means. Output one row: (n_t_pre, n_t_post, n_c_pre, n_c_post,
    * the four mean_micro cells, did_micro — null if any cell is
    * empty, the design's hard requirement).
    */
  def diffInDiff(df: DataFrame, treated: Column, post: Column,
                 yMicro: Column): DataFrame = {
    val cells = df
      .select(when(treated, 1L).otherwise(0L).as("t"),
        when(post, 1L).otherwise(0L).as("p"),
        yMicro.cast("long").as("y"))
      .groupBy(col("t"), col("p"))
      .agg(count(lit(1)).as("n"), sum(dec(col("y"))).as("s"))
      .select(col("t"), col("p"), col("n"),
        tdiv(col("s"), dec(col("n"))).as("m"))
    def cell(t: Int, p: Int, c: String) =
      max(when(col("t") === t && col("p") === p, col(c)))
    cells.agg(
        coalesce(cell(1, 0, "n"), lit(0L)).as("n_t_pre"),
        coalesce(cell(1, 1, "n"), lit(0L)).as("n_t_post"),
        coalesce(cell(0, 0, "n"), lit(0L)).as("n_c_pre"),
        coalesce(cell(0, 1, "n"), lit(0L)).as("n_c_post"),
        cell(1, 0, "m").as("mean_t_pre_micro"),
        cell(1, 1, "m").as("mean_t_post_micro"),
        cell(0, 0, "m").as("mean_c_pre_micro"),
        cell(0, 1, "m").as("mean_c_post_micro"))
      .withColumn("did_micro",
        when(col("n_t_pre") === 0 || col("n_t_post") === 0 ||
          col("n_c_pre") === 0 || col("n_c_post") === 0,
          lit(null).cast("long"))
          .otherwise((col("mean_t_post_micro") -
            col("mean_t_pre_micro")) -
            (col("mean_c_post_micro") - col("mean_c_pre_micro"))))
  }

  /** MARKET-BASKET association rules (Agrawal–Srikant's
    * support/confidence/lift, pairs tier) — the co-occurrence read
    * over (basket, item) rows: for item pairs appearing in ≥
    * `minCount` baskets, exact support, both directional
    * confidences, and lift, each ONE ×1e6 floor of exact integer
    * counts. Scale shape: distinct (basket, item) first, then the
    * within-basket self-join — Σ|basket|² work with |basket| bounded
    * by the domain (an order, a session), never an item-domain
    * cross; item marginals are an item-sized table joined back onto
    * the (already support-filtered) pair table. The minCount filter
    * applies BEFORE the marginal joins, so the long tail of
    * singleton pairs never reaches a shuffle join. Output per
    * canonical pair (a < b): (item_a, item_b, n_ab, n_a, n_b,
    * support_micro, conf_a_to_b_micro, conf_b_to_a_micro,
    * lift_micro).
    */
  def marketBasket(df: DataFrame, basket: Column, item: Column,
                   minCount: Long, maxBasket: Long = 0L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val bi0 = df.select(basket.as("bk"), item.as("it")).distinct()
    // q102/OPH density guard: one mega-basket of m items yields m²
    // pairs in a single join task. Over-cap baskets are dropped from
    // PAIRING only (they still count in n_baskets and the item
    // marginals — support semantics stay corpus-wide); 0 = unlimited.
    val bi =
      if (maxBasket <= 0) bi0
      else bi0.join(bi0.groupBy(col("bk"))
          .agg(count(lit(1)).as("sz"))
          .filter(col("sz") <= maxBasket).select(col("bk")),
        Seq("bk"), "left_semi")
    val nB = bi0.select(col("bk")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val marg = bi0.groupBy(col("it")).agg(count(lit(1)).as("n_it"))
    val pairs = bi.select(col("bk"), col("it").as("item_a"))
      .join(bi.select(col("bk"), col("it").as("item_b")), Seq("bk"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(marg.select(col("it").as("item_a"), col("n_it").as("n_a")),
        Seq("item_a"))
      .join(marg.select(col("it").as("item_b"), col("n_it").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(nB))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        fdiv(dec(col("n_ab")) * lit(1000000L), dec(col("n_baskets")))
          .as("support_micro"),
        fdiv(dec(col("n_ab")) * lit(1000000L), dec(col("n_a")))
          .as("conf_a_to_b_micro"),
        fdiv(dec(col("n_ab")) * lit(1000000L), dec(col("n_b")))
          .as("conf_b_to_a_micro"),
        fdiv(dec(col("n_ab")) * col("n_baskets") * lit(1000000L),
          dec(col("n_a")) * col("n_b")).as("lift_micro"))
  }

  /** COVARIATE-BALANCE audit (standardized mean differences — the
    * Table-1 column every observational study prints): per covariate
    * the treated/control means and SMD = (m_T − m_C)/√((v_T+v_C)/2)
    * (Cohen's d with the pooled-variance convention of the matching
    * literature). |SMD| < 0.1 is the conventional balance bar. Means
    * are exact truncated divisions of micro sums; sample variances
    * ride the exact moment numerators (n·Σx² − S², DECIMAL) and only
    * the final SMD runs one double chain with a micro snap (the
    * conversionZTest convention). Input melts to (cov, treated, x);
    * one hash aggregate over (cov, arm). Output per covariate:
    * (cov, n_t, n_c, mean_t_micro, mean_c_micro, smd_micro — null
    * when both variances are 0, balanced).
    */
  def smdBalance(df: DataFrame, treated: Column,
                 covs: Seq[(String, Column)]): DataFrame = {
    require(covs.nonEmpty, "need at least one covariate")
    val melted = df
      .select(when(treated, 1L).otherwise(0L).as("t"),
        explode(array(covs.map { case (nm, c) =>
          struct(lit(nm).as("cov"), c.cast("long").as("x"))
        }: _*)).as("m"))
      .select(col("t"), col("m.cov").as("cov"), col("m.x").as("x"))
    val byArm = melted.groupBy(col("cov"), col("t"))
      .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("s"),
        sum(dec(col("x")) * col("x")).as("s2"))
      .withColumn("m", tdiv(col("s"), dec(col("n"))))
      // sample variance numerator/denominator kept exact; the double
      // division happens once inside the final chain
      .withColumn("vnum", dec(col("n")) * col("s2") -
        col("s") * col("s"))
      .withColumn("vden", dec(col("n")) * (col("n") - 1))
    val tArm = byArm.filter(col("t") === 1)
      .select(col("cov"), col("n").as("n_t"), col("m").as("m_t"),
        col("vnum").as("vn_t"), col("vden").as("vd_t"))
    val cArm = byArm.filter(col("t") === 0)
      .select(col("cov"), col("n").as("n_c"), col("m").as("m_c"),
        col("vnum").as("vn_c"), col("vden").as("vd_c"))
    tArm.join(cArm, Seq("cov"))
      .withColumn("pooled",
        (col("vn_t").cast("double") / col("vd_t").cast("double") +
          col("vn_c").cast("double") / col("vd_c").cast("double")) /
          lit(2.0))
      .select(col("cov"), col("n_t"), col("n_c"),
        col("m_t").as("mean_t_micro"), col("m_c").as("mean_c_micro"),
        when(col("pooled") <= 0, lit(null).cast("long"))
          .otherwise(round(
            (col("m_t") - col("m_c")).cast("double") /
              sqrt(col("pooled")) * lit(1e6)).cast("long"))
          .as("smd_micro"))
      .withColumn("balanced",
        coalesce(abs(col("smd_micro")) < 100000L, lit(false)))
  }

  /** PROPENSITY-STRATIFIED ATE — the adjustment between the raw
    * difference and [[ipsPolicyEval]]'s weighting (Rosenbaum–Rubin
    * subclassification): rows stratify into `buckets` equal-width
    * bins of a propensity-like micro score, the treated−control mean
    * difference is taken WITHIN each bin (confounding that the score
    * captures cancels there), and the ATE is the bin-size-weighted
    * average. Exact: bin means are truncated divisions, the combined
    * ATE is one more truncated division of the exact
    * Σ n_b·diff_b cross-product (bins missing an arm are excluded
    * from the weighting — the standard common-support trim, reported
    * via n_used vs n). Output one row plus per-bin detail columns
    * folded map-side: (n, n_used, n_bins_used, ate_micro,
    * raw_diff_micro — the unadjusted contrast for comparison).
    */
  def psStratifiedAte(df: DataFrame, treated: Column,
                      scoreMicro: Column, yMicro: Column,
                      buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 64, "buckets must be in [2, 64]")
    val base = df.select(when(treated, 1L).otherwise(0L).as("t"),
      least(lit(buckets - 1L),
        fdiv(scoreMicro.cast("long") * buckets, lit(1000000L)))
        .as("b"),
      yMicro.cast("long").as("y"))
    val cells = base.groupBy(col("b"), col("t"))
      .agg(count(lit(1)).as("n"), sum(dec(col("y"))).as("s"))
      .withColumn("m", tdiv(col("s"), dec(col("n"))))
    val bins = cells.groupBy(col("b"))
      .agg(sum(col("n")).as("nb"), count(lit(1)).as("arms"),
        max(when(col("t") === 1, col("m"))).as("mt"),
        max(when(col("t") === 0, col("m"))).as("mc"))
    val raw = cells.groupBy(col("t"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      .withColumn("m", tdiv(col("s"), dec(col("n"))))
      .agg(sum(col("n")).as("n"),
        (max(when(col("t") === 1, col("m"))) -
          max(when(col("t") === 0, col("m")))).as("raw_diff_micro"))
    bins
      .agg(coalesce(sum(when(col("arms") === 2, col("nb"))), lit(0L))
          .as("n_used"),
        coalesce(sum(when(col("arms") === 2, 1L)), lit(0L))
          .as("n_bins_used"),
        coalesce(sum(when(col("arms") === 2,
          dec(col("nb")) * (col("mt") - col("mc")))), dec(lit(0L)))
          .as("wsum"))
      .crossJoin(broadcast(raw))
      .select(col("n"), col("n_used"), col("n_bins_used"),
        when(col("n_used") === 0, lit(null).cast("long"))
          .otherwise(tdiv(col("wsum"), dec(col("n_used"))))
          .as("ate_micro"),
        col("raw_diff_micro"))
  }

  /** OFF-POLICY EVALUATION of a deterministic target policy over
    * logged bandit feedback (Li et al. 2011's replay method + the
    * inverse-propensity family): per logged row (arm, reward,
    * logging propensity) and the target policy's arm for the same
    * context, three estimators of the target's value — REPLAY (mean
    * reward over matching rows: unbiased under uniform logging),
    * IPS (mean of reward·1[match]·1e6/propensity — unbiased under
    * ANY logged propensity, high variance when propensities are
    * small) and SNIPS (the self-normalized ratio Σr·w/Σw — biased
    * O(1/n), far lower variance). Exact: per-row weights are single
    * floored divisions of micro integers, estimator numerators and
    * denominators are exact integer sums with ONE final floor each.
    * One data-sized aggregate; nothing collects. Output one row:
    * (n, n_match, replay_micro, ips_micro, snips_micro — nulls when
    * the denominators are empty).
    */
  def ipsPolicyEval(df: DataFrame, loggedArm: Column, targetArm: Column,
                    rewardMicro: Column,
                    propensityMicro: Column): DataFrame = {
    df
      .select(
        (loggedArm.cast("string") === targetArm.cast("string"))
          .as("hit"),
        rewardMicro.cast("long").as("r"),
        propensityMicro.cast("long").as("p"))
      .select(col("hit"), col("r"),
        when(col("hit"), fdiv(dec(lit(1000000L)) * lit(1000000L),
          dec(col("p")))).otherwise(0L).as("w"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("hit"), col("r")).otherwise(0L)).as("rsum"),
        sum(fdiv(dec(col("r")) * col("w"), dec(lit(1000000L))))
          .as("rw"),
        sum(col("w")).as("wsum"))
      .select(col("n"), col("n_match"),
        when(col("n_match") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("rsum")), dec(col("n_match"))))
          .as("replay_micro"),
        when(col("n") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("rw")), dec(col("n"))))
          .as("ips_micro"),
        when(col("wsum") === 0, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("rw")) * lit(1000000L),
            dec(col("wsum")))).as("snips_micro"))
  }

  /** INTER-ARRIVAL BURSTINESS (Fano factor of the gap distribution) —
    * the traffic-shape read: Fano = var/mean of consecutive per-user
    * event gaps; ≈mean (Fano→mean ratio 1) is Poisson-like, ≫ is
    * bursty. Exact: gaps are integer µs; with S = Σd, Q = Σd², the
    * estimator var/mean = (n·Q − S²)/(n·S) is ONE floored division of
    * exact decimal sums — no double variance ever materializes.
    * Output one row: (n_gaps, sum_gap_us, mean_gap_us, fano_micro —
    * null when no gaps or zero mean).
    */
  def interArrivalBurstiness(events: DataFrame, user: Column,
                             ts: Column, order: Column): DataFrame = {
    val w = Window.partitionBy(user).orderBy(ts, order)
    val gaps = events
      .select((unix_micros(ts) - lag(unix_micros(ts), 1).over(w))
        .as("d"))
      .filter(col("d").isNotNull)
    gaps.agg(count(lit(1)).as("n_gaps"), sum(col("d"))
        .as("sum_gap_us"),
      sum(dec(col("d")) * col("d")).as("q"))
      .select(col("n_gaps"), col("sum_gap_us"),
        when(col("n_gaps") === 0L, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("sum_gap_us")), dec(col("n_gaps"))))
          .as("mean_gap_us"),
        when(col("n_gaps") === 0L || col("sum_gap_us") === 0L,
          lit(null).cast("long"))
          .otherwise(fdiv(
            (dec(col("n_gaps")) * col("q") -
              dec(col("sum_gap_us")) * col("sum_gap_us")) *
              lit(1000000L),
            dec(col("n_gaps")) * col("sum_gap_us")))
          .as("fano_micro"))
  }

  /** PEAK CONCURRENCY over inclusive [start, end] µs intervals — the
    * capacity read (max simultaneous sessions/streams/licenses): the
    * classic sweep — +1 at start, −1 at end+1, depth = running sum
    * over distinct change points. The running sum is the two-level
    * prefix kernel ([[Ranks.withRunningBelow]]), never a data-sized
    * global window; depth at a point = exclusive-below + the point's
    * own delta. Output one row: (peak_depth, first_peak_us,
    * n_peak_points).
    */
  def peakConcurrency(intervals: DataFrame, startUs: Column,
                      endUs: Column): DataFrame = {
    val deltas = intervals
      .select(startUs.cast("long").as("t"), lit(1L).as("d"))
      .unionByName(intervals
        .select((endUs.cast("long") + 1L).as("t"), lit(-1L).as("d")))
      .groupBy(col("t")).agg(sum(col("d")).as("d"))
    val run = Ranks.withRunningBelow(deltas, "t", 3600000000L,
      Seq("d"))
      .select(col("t"), (col("d_below") + col("d")).as("depth"))
    val peak = run.agg(max(col("depth")).as("peak_depth"))
    run.crossJoin(broadcast(peak))
      .filter(col("depth") === col("peak_depth"))
      .groupBy(col("peak_depth"))
      .agg(min(col("t")).as("first_peak_us"),
        count(lit(1)).as("n_peak_points"))
  }

  /** Weekly cohort retention: users cohorted by the ISO week of their
    * first event; for each (cohort_week, week_offset), the distinct
    * users active that week. The first-event timestamp comes from an
    * unordered min over the user partition — no join back, the
    * activity rows and their cohort label materialize in one pass
    * after a single shuffle on user.
    */
  def cohortRetention(events: DataFrame, user: Column, ts: Column): DataFrame = {
    val w = Window.partitionBy(user)
    events
      .select(user.as("u"), to_date(date_trunc("week", ts)).as("wk"),
        min(ts).over(w).as("first_ts"))
      .select(col("u"), col("wk"),
        to_date(date_trunc("week", col("first_ts"))).as("cohort_week"))
      .distinct()
      .select(col("u"), col("cohort_week"),
        floor(datediff(col("wk"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      // (u, wk) is distinct already and offset is a function of wk, so a
      // plain count is the distinct-user count — no second distinct agg
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Last-touch attribution: every `convType` event credits the same
    * user's most recent PRECEDING event whose type is in `touchTypes`
    * (most recent = struct-max on (ts, order) over the running window —
    * deterministic, no join back; conversions with no preceding touch
    * attribute to 'none'). Output: attributed_type, n conversions,
    * value sum (rounded 2 — the order-dependent-double convention).
    * One shuffle on the user key; the rollup runs on the tiny
    * touch-type domain.
    */
  def lastTouchAttribution(events: DataFrame, user: Column, ts: Column,
                           order: Column, etype: Column, value: Column,
                           touchTypes: Seq[String],
                           convType: String): DataFrame = {
    val w = Window.partitionBy(user).orderBy(ts, order)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = max(when(etype.isInCollection(touchTypes),
      struct(ts.as("tts"), order.as("tid"), etype.as("ttype")))).over(w)
    events.withColumn("touch", touch)
      .filter(etype === convType)
      .select(value.as("v"),
        coalesce(col("touch.ttype"), lit("none")).as("attributed_type"))
      .groupBy(col("attributed_type"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("v")), 2).as("value_sum"))
  }

  /** Within-session event-type transition matrix (the Markov-chain
    * summary a behavior-sequence pipeline trains against): consecutive
    * (from_type → to_type) pairs inside each [[sessionize]] session,
    * counted corpus-wide, with the per-from-type transition probability
    * snapped through decimal(20,10) before the 4-place round.
    *
    * Session boundaries are hard: the last event of a session never
    * pairs with the first of the next. One shuffle on the user key
    * covers sessionize AND the lead (the (user, session) window's
    * clustering is satisfied by the user hash; only a sort is added);
    * the transition count then aggregates on the (from, to) key, whose
    * domain is |event types|² — tiny at any corpus scale — so the final
    * probability window runs on the aggregated matrix, not the events.
    */
  def sessionTransitions(events: DataFrame, user: Column, ts: Column,
                         order: Column, etype: Column,
                         gapSeconds: Long): DataFrame = {
    val sess = sessionize(events, user, ts, order, gapSeconds)
    val w = Window.partitionBy(user, col("session_id")).orderBy(ts, order)
    val counts = sess
      .select(etype.as("from_type"), lead(etype, 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    counts.withColumn("p",
      round((col("n").cast("double") /
        sum(col("n")).over(wf).cast("double")).cast("decimal(20,10)"), 4)
        .cast("double"))
  }

  /** Time-to-conversion distribution: per user, the lag from the FIRST
    * `fromType` event to the first `toType` event at-or-after it;
    * converted users cohort by the ISO week of their first `fromType`
    * and each cohort reports exact interpolated lag percentiles.
    *
    * The first-touch anchor is an unordered min window over the user
    * partition (no join back), the conversion scan filters against it
    * in the same partitioning, and the per-user reduction reuses that
    * shuffle (groupBy on the window's own key adds no exchange). The
    * percentile sort-aggregate runs on one row per CONVERTED user,
    * grouped by cohort week — at 100 TB that's the users table, not
    * the events table. Lags stay exact integer microseconds until the
    * final seconds division.
    */
  def conversionLag(events: DataFrame, user: Column, ts: Column,
                    etype: Column, fromType: String,
                    toType: String): DataFrame = {
    val anchored = events
      .select(user.as("u"), etype.as("et"), unix_micros(ts).as("tus"))
      .withColumn("first_from",
        min(when(col("et") === fromType, col("tus")))
          .over(Window.partitionBy(col("u"))))
    val perUser = anchored
      .filter(col("et") === toType && col("first_from").isNotNull &&
        col("tus") >= col("first_from"))
      .groupBy(col("u"), col("first_from"))
      .agg(min(col("tus")).as("first_to"))
      .select(col("u"),
        timestamp_micros(col("first_from")).as("ft"),
        (col("first_to") - col("first_from")).as("lag_us"))
    perUser
      .groupBy(to_date(date_trunc("week", col("ft"))).as("cohort_week"))
      .agg(count(lit(1)).as("n_converted"),
        round((percentile(col("lag_us"), lit(0.5)) / lit(1e6))
          .cast("decimal(20,10)"), 4).cast("double").as("p50_s"),
        round((percentile(col("lag_us"), lit(0.9)) / lit(1e6))
          .cast("decimal(20,10)"), 4).cast("double").as("p90_s"))
  }

  /** LINEAR multi-touch attribution — the equal-split sibling of
    * [[lastTouchAttribution]]: every `convType` event divides its value
    * equally across ALL the user's preceding `touchTypes` events, so a
    * touch's credit is Σ over later conversions of value/n_touches.
    *
    * Two windows over ONE user shuffle: each conversion counts its
    * preceding touches (rows-to-−1 count) and snaps its per-touch
    * share ×10⁶ BEFORE distribution (exact integer credits from there
    * on); each touch then collects the shares of every LATER
    * conversion via the suffix sum (rows +1-to-∞) — correct because a
    * touch precedes exactly the conversions whose windows include it.
    * Conversions with no preceding touch credit nobody (reported via
    * the unattributed row). Output per touch type: n_touches,
    * credit (rounded 2).
    */
  def linearAttribution(events: DataFrame, user: Column, ts: Column,
                        order: Column, etype: Column, value: Column,
                        touchTypes: Seq[String],
                        convType: String): DataFrame = {
    val wPrior = Window.partitionBy(user).orderBy(ts, order)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAfter = Window.partitionBy(user).orderBy(ts, order)
      .rowsBetween(1, Window.unboundedFollowing)
    val isTouch = etype.isInCollection(touchTypes)
    val withN = events.withColumn("__nprior",
      count(when(isTouch, lit(1))).over(wPrior))
    val withCredit = withN.withColumn("__share_fp",
      when(etype === convType && col("__nprior") > 0,
        round(value / col("__nprior") * lit(1e6)).cast("long"))
        .otherwise(lit(0L)))
    val collected = withCredit.withColumn("__credit_fp",
      sum(col("__share_fp")).over(wAfter))
    val touches = collected.filter(isTouch)
      .groupBy(etype.as("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        round((sum(col("__credit_fp")).cast("double") / lit(1e6))
          .cast("decimal(20,10)"), 2).cast("double").as("credit"))
    val unattributed = withCredit
      .filter(etype === convType && col("__nprior") === 0)
      .agg(count(lit(1)).as("n_touches"),
        round(sum(value), 2).as("credit"))
      .select(lit("none").as("touch_type"), col("n_touches"),
        coalesce(col("credit"), lit(0.0)).as("credit"))
    touches.unionByName(unattributed)
  }

  /** TIME-DECAY multi-touch attribution — the third member of the
    * attribution family (last-touch q140 winner-take-all, linear q158
    * equal split): each conversion's value splits over its prior
    * touches proportionally to 2^(−Δt/halfLife), so recent touches earn
    * more. Weights vary per (touch, conversion) pair, so this is a
    * bounded per-user pair join (touches × conversions inside one user
    * — work Σ_u t_u·c_u, the q161 within-key economics), not a window
    * suffix sum. Determinism: the one pow() per pair snaps to ×1e6
    * BEFORE the per-conversion weight total (exact integer Σ), each
    * pair's credit is one double chain snapped to ×1e4 cents pre-sum,
    * and the final per-type credit is one division. Conversions with
    * no prior touch report under 'none'. Output:
    * (touch_type, n_pairs, credit).
    */
  def timeDecayAttribution(events: DataFrame, user: Column, ts: Column,
                           order: Column, etype: Column, value: Column,
                           touchTypes: Seq[String], convType: String,
                           halfLifeDays: Double): DataFrame = {
    val isTouch = etype.isInCollection(touchTypes)
    val touches = events.filter(isTouch)
      .select(user.as("u"), etype.as("tt"),
        unix_micros(ts).as("tus"), order.as("tord"))
    val convs = events.filter(etype === convType)
      .select(user.as("u"), unix_micros(ts).as("cus"), order.as("cord"),
        round(value * 100).cast("long").as("vc"))
    // strict time order with the order column as the total tiebreak —
    // the same (ts, order) discipline as linearAttribution's windows
    val pairsRaw = convs.join(touches, Seq("u"))
      .filter(col("tus") < col("cus") ||
        (col("tus") === col("cus") && col("tord") < col("cord")))
    // Δt beyond ~21 half-lives rounds the ×1e6 weight to 0; a
    // conversion whose EVERY touch rounds to 0 would make sw_fp=0 and
    // credit_fp = round(NaN) → 0 (Spark) vs a CAST error (DuckDB) —
    // the value silently vanishes from both 'none' and the touch rows.
    // Clamp each weight to ≥1 so far-past touches split the value
    // evenly (the linear-attribution limit) instead of dropping it;
    // the oracle applies the identical greatest(..., 1).
    val pairs = pairsRaw.withColumn("w_fp",
      greatest(round(pow(lit(0.5),
        (col("cus") - col("tus")).cast("double") /
          lit(86400000000.0) / lit(halfLifeDays)) * lit(1e6))
        .cast("long"), lit(1L)))
    val perConv = pairs.groupBy(col("u"), col("cus"), col("cord"))
      .agg(sum(col("w_fp")).as("sw_fp"))
    val credited = pairs.join(perConv, Seq("u", "cus", "cord"))
      .withColumn("credit_fp",
        round(col("vc").cast("double") * col("w_fp").cast("double") /
          col("sw_fp").cast("double") * lit(1e4)).cast("long"))
    val byType = credited.groupBy(col("tt").as("touch_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round((sum(col("credit_fp")).cast("double") / lit(1e6))
          .cast("decimal(20,10)"), 2).cast("double").as("credit"))
    val orphan = convs.join(pairsRaw.select(col("u"), col("cus"),
        col("cord")).distinct(), Seq("u", "cus", "cord"), "left_anti")
      .agg(count(lit(1)).as("n_pairs"),
        round((sum(col("vc")).cast("double") / lit(100.0))
          .cast("decimal(20,10)"), 2).cast("double").as("credit"))
      .select(lit("none").as("touch_type"), col("n_pairs"),
        coalesce(col("credit"), lit(0.0)).as("credit"))
    byType.unionByName(orphan)
  }

  /** Top behavior trigrams: within-session consecutive event-type
    * 3-grams (the sequence-mining summary a next-action model trains
    * on), counted corpus-wide. Session boundaries are hard — a 3-gram
    * never spans sessions. One shuffle on the user key covers
    * [[sessionize]] and both leads (same window spec); the count
    * aggregates on the 3-gram key (≤ |types|³ rows) and the top-k is
    * sort+limit — TakeOrderedAndProject, never a global sort.
    */
  def sessionPathTrigrams(events: DataFrame, user: Column, ts: Column,
                          order: Column, etype: Column, gapSeconds: Long,
                          k: Int): DataFrame = {
    val sess = sessionize(events, user, ts, order, gapSeconds)
    val w = Window.partitionBy(user, col("session_id")).orderBy(ts, order)
    sess.select(etype.as("e1"), lead(etype, 1).over(w).as("e2"),
        lead(etype, 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(k)
  }

  /** Journey transitions for MARKOV ATTRIBUTION: per session, the
    * channel-touch sequence BEFORE the first `convType` event becomes
    * a START → touch… → CONV/DROP chain (CONV when the session
    * converts, DROP when it ends untouched by a conversion; a session
    * that converts with no prior touch contributes START → CONV).
    * Output: (from_s, to_s, n) — the absorbing-chain transition counts
    * [[markovRemovalEffect]] consumes.
    *
    * One shuffle on the user key (sessionize, the first-conversion
    * aggregate, and the touch-sequence window all share it); the
    * output is |types+2|² rows regardless of corpus size.
    */
  def journeyTransitions(events: DataFrame, user: Column, ts: Column,
                         order: Column, etype: Column, gapSeconds: Long,
                         convType: String): DataFrame = {
    val sess = sessionize(events, user, ts, order, gapSeconds)
      .select(user.as("u"), col("session_id").as("sid"),
        ts.as("t"), order.as("o"), etype.as("et"))
    val fp = sess.filter(col("et") === convType)
      .groupBy(col("u"), col("sid"))
      .agg(min(struct(col("t"), col("o"))).as("fp"))
    val touches = sess.filter(col("et") =!= convType)
      .join(fp, Seq("u", "sid"), "left")
      .filter(col("fp").isNull || struct(col("t"), col("o")) < col("fp"))
    val w = Window.partitionBy(col("u"), col("sid"))
      .orderBy(col("t"), col("o"))
    val seqd = touches.select(col("u"), col("sid"), col("et"),
      col("fp").isNotNull.as("conv"),
      row_number().over(w).as("rn"), lead(col("et"), 1).over(w).as("nxt"))
    val mid = seqd.select(col("et").as("from_s"),
      coalesce(col("nxt"),
        when(col("conv"), lit("CONV")).otherwise(lit("DROP"))).as("to_s"))
    val starts = seqd.filter(col("rn") === 1)
      .select(lit("START").as("from_s"), col("et").as("to_s"))
    // converted sessions whose journey has no touch: START -> CONV
    val bare = fp.join(seqd.select(col("u"), col("sid")).distinct(),
        Seq("u", "sid"), "left_anti")
      .select(lit("START").as("from_s"), lit("CONV").as("to_s"))
    mid.unionByName(starts).unionByName(bare)
      .groupBy(col("from_s"), col("to_s"))
      .agg(count(lit(1)).as("n"))
  }

  /** MARKOV REMOVAL-EFFECT attribution over [[journeyTransitions]]
    * counts — the data-driven multi-touch model (Anderl et al. 2014):
    * P(conv) of the absorbing chain is estimated from START, then
    * re-estimated with each channel's inbound edges cut (its states
    * become unreachable); removal_effect(c) = 1 − P₋c/P and channels
    * split the credit ∝ their effects.
    *
    * Numerics: conversion values ride as ×1e9-snapped longs — each
    * unrolled step (8 of them — geometric tail ≤ p_max^8) computes
    * round((n/rt)·v9) per edge so both engines
    * (this and a SQL oracle) make identical IEEE double ops, and the
    * per-state sums are exact integers. Removal can only lower the
    * (snapped) conversion probability; the 0-clamp absorbs ±1-unit
    * snap noise.
    *
    * Scale shape: only `transitions` is corpus-sized; the frame it
    * yields is ≤ |types+2|² rows — a MODEL matrix, not data — so the
    * 8-round value iteration runs DRIVER-SIDE on the collected
    * matrix (the LinearModel.logisticGd / Preference Bradley-Terry
    * bounded-domain precedent, guarded by the limit-collect
    * convention).
    *
    * DECLARED INPUT CONTRACT (r15 verdict/advice): `transitions` must
    * be (a) PRE-AGGREGATED — one row per (from_s, to_s) with summed n,
    * which is what [[journeyTransitions]] emits — and (b) a model-
    * sized matrix: < 65537 rows, i.e. ≲255 distinct states. A larger
    * event-type vocabulary fails fast (require below) rather than
    * collecting data-sized input to the driver; callers with a
    * pathological vocabulary should bucket types upstream. This is a
    * deliberate semantics change from the pre-r15 unrolled-DataFrame
    * form, which was slow-but-total. The former unrolled-DataFrame formulation spent
    * ~30 scheduler rounds on |channels|·|states|-row shuffles — pure
    * per-stage overhead at every scale (r15 optimization: 6.6 s →
    * the cost of the journey extraction alone at sf0.1); the driver
    * chain replays the identical arithmetic (same IEEE divisions,
    * same HALF_UP rounds via BigDecimal — Spark's own Round
    * semantics — same exact long sums), and the q311 oracle gate
    * pins the equality.
    */
  def markovRemovalEffect(transitions: DataFrame): DataFrame = {
    val spark = transitions.sparkSession
    // Spark round(double) semantics: BigDecimal.valueOf (canonical
    // shortest decimal) then setScale(HALF_UP) — NOT math.round, whose
    // floor(x+0.5) drifts on halfway-adjacent doubles
    def rnd9(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact
    // round((x)::decimal(20,10), 4)::double — the engine's exact
    // double→decimal→round→double chain
    def dec4(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(10, java.math.RoundingMode.HALF_UP)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    // bounded-domain guard (the limit(65537) convention): the matrix
    // is keyed by event types, not documents — fail fast, never OOM
    val rows = transitions.select(col("from_s"), col("to_s"), col("n"))
      .limit(65537).collect()
    require(rows.length < 65537,
      "markovRemovalEffect: transition matrix exceeds the bounded-domain " +
        "contract (>=65537 rows) — states must be an event-type " +
        "vocabulary, not data rows")
    val tr = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("channel",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("removal_effect",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("attribution_share",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    def emit(out: Seq[(String, Option[Double], Option[Double])]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(out.map { case (c, re, as) =>
          org.apache.spark.sql.Row(c, re.orNull, as.orNull)
        }, math.max(1, math.min(out.size, 4))), schema)
    if (tr.isEmpty) return emit(Nil)
    val rt = tr.groupBy(_._1).map { case (k, g) => k -> g.map(_._3).sum }
    // pc9: ×1e9-snapped P(conv) per state with outgoing mass. CONV
    // counts aggregate defensively like rt (r15 advice: a bare toMap
    // kept only the LAST of duplicate (from_s, CONV) rows — silent
    // divergence from the old join semantics on unaggregated input;
    // journeyTransitions pre-aggregates, so in-repo callers see no
    // behavior change).
    val convN = tr.filter(_._2 == "CONV").groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._3).sum }
    val pc9 = rt.map { case (st, t) =>
      st -> rnd9(convN.getOrElse(st, 0L).toDouble / t.toDouble * 1e9)
    }
    val edges = tr.filter(t => t._2 != "CONV" && t._2 != "DROP")
      .map(t => (t._1, t._2, t._3.toDouble / rt(t._1).toDouble))
    val channels = (tr.filter(_._1 != "START").map(_._1) ++
      edges.map(_._2)).distinct.sorted
    val rms = channels :+ "__none"
    // value iteration per removal variant: v9(st) = pc9(st) + Σ over
    // edges st→to (to != removed, to in pc domain) round(pd · v9(to))
    val states = pc9.keys.toVector
    val pst = rms.map { rm =>
      var v: Map[String, Long] = pc9
      for (_ <- 1 until 8) {
        val sc = edges.iterator
          .filter(e => e._2 != rm && v.contains(e._2))
          .map(e => e._1 -> rnd9(e._3 * v(e._2).toDouble))
          .toSeq.groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
        v = states.map(st => st -> (pc9(st) + sc.getOrElse(st, 0L))).toMap
      }
      rm -> v.getOrElse("START", 0L)
    }.toMap
    // a variant with no START row contributes p9 = 0 exactly like the
    // former frame (its (rm, START) row was absent from the v filter)
    val hasStart = pc9.contains("START")
    def p9(rm: String): Option[Long] =
      if (hasStart) Some(pst(rm)) else None
    val b9 = p9("__none")
    val out = for {
      ch <- channels
      b <- b9.toSeq
      p <- p9(ch).toSeq
    } yield (ch, math.max(0L, b - p), b)
    val ret = out.map(_._2).sum
    emit(out.map { case (ch, re9, b) =>
      (ch,
        if (b == 0L) None else Some(dec4(re9.toDouble / b.toDouble)),
        if (ret == 0L) None else Some(dec4(re9.toDouble / ret.toDouble)))
    })
  }
}
