package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.{dec, fdiv}

/** Query surface + DuckDB oracles: statistics, experiments, drift and time-series reads.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesStatsExperiments {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Causal hygiene: COVARIATE BALANCE (SMD) — one md5 covariate
    // shifted +0.15 on the treated arm, one balanced; exact moment
    // numerators, one double chain per covariate, the 0.1 bar.
    "q506_smd_balance" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      def h(tag: String): Column =
        pmod(hashLong(concat(lit(tag),
          col("event_id").cast("string"))), lit(1000000L))
      val treated = col("user_id") % 2 === 0
      Events.smdBalance(
        t(s, dir, "events").select(treated.as("tr"),
          (h("c1") + when(treated, 150000L).otherwise(0L)).as("c1"),
          h("c2").as("c2")),
        col("tr"), Seq("age" -> col("c1"), "income" -> col("c2")))
    }),
    // Forecast eval: MASE BACKTEST — the q06 keep-latest bar series
    // per symbol (unique dates, deterministic), naive-1 MAE scaled
    // by the seasonal-5 naive MAE, one cross-multiplied floor.
    "q507_mase" -> ((s, dir) => {
      val w = Window.partitionBy(col("symbol"), col("d"))
        .orderBy(col("ord").desc, col("px").desc, col("vol").desc)
      val series = bars(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      Resample.maseBacktest(series, col("symbol"), col("d"),
        round(col("px") * 100).cast("long"), 5)
    }),
    // Causal: PROPENSITY-STRATIFIED ATE — treatment confounded by
    // the md5 score (P(treat) = score), outcome score-driven with a
    // +0.1 planted effect; the raw contrast overstates it, the
    // within-bin weighting recovers it.
    "q508_ps_ate" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      def h(tag: String): Column =
        pmod(hashLong(concat(lit(tag),
          col("event_id").cast("string"))), lit(1000000L))
      val sc = h("ps")
      val tr = h("tr") < sc
      Events.psStratifiedAte(
        t(s, dir, "events").select(tr.as("tr"), sc.as("sc"),
          (floor(sc / 2).cast("long") +
            when(tr, 100000L).otherwise(0L)).as("y")),
        col("tr"), col("sc"), col("y"), 5)
    }),
    // Survival: LOG-RANK TEST — md5 event flags with +15pt hazard
    // planted on the treated arm over 50 distinct durations; exact
    // nano O/E/V terms through the two-level prefix kernel, one
    // snapped z.
    "q501_log_rank" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val g1 = col("user_id") % 2 === 0
      Profile.logRankTest(
        t(s, dir, "events").select(g1.as("g"),
          (lit(1L) + col("event_id") % 50).as("t"),
          (pmod(hashLong(concat(lit("lr"),
            col("event_id").cast("string"))), lit(100L)) <
            lit(60L) + when(g1, 15L).otherwise(0L)).as("e")),
        col("g"), col("t"), col("e"), 8)
    }),
    // Causal: DIFFERENCE-IN-DIFFERENCES — md5 signed outcomes with a
    // +0.25 effect planted ONLY in the treated×post cell; the double
    // difference recovers it net of the level gap and common shock.
    "q499_diff_in_diff" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val treated = col("user_id") % 2 === 0
      val post = col("event_id") % 2 === 1
      Events.diffInDiff(
        t(s, dir, "events").select(treated.as("t"), post.as("p"),
          (pmod(hashLong(concat(lit("dd2"),
            col("event_id").cast("string"))), lit(2000000L))
            - 1000000L +
            when(treated && post, 250000L).otherwise(0L)).as("y")),
        col("t"), col("p"), col("y"))
    }),
    // Robust stats: MEDIAN-OF-MEANS per source — md5 bucket blocks,
    // truncated bucket means, lower median; the %101 planted 80-unit
    // outliers drag the mean while MoM holds the clean level.
    "q491_median_of_means" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      Profile.medianOfMeans(
        t(s, dir, "documents").select(col("source").as("grp"),
          (pmod(hashLong(concat(lit("mm"),
            col("doc_id").cast("string"))), lit(1000000L)) +
            when(col("doc_id") % 101 === 0, 80000000L).otherwise(0L))
            .as("v"),
          col("doc_id").as("k")),
        col("grp"), col("v"), col("k"), 9)
    }),
    // Forecast eval: PINBALL LOSS + quantile coverage — md5-uniform
    // actuals against the constant true quantile forecast q·1e4 per
    // τ ∈ {10%, 50%, 90%}; exact percent arithmetic, coverage ≈ τ.
    "q492_pinball" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      Profile.pinballLoss(
        t(s, dir, "documents").select(col("source").as("grp"),
            pmod(hashLong(concat(lit("pb"),
              col("doc_id").cast("string"))), lit(1000000L)).as("a"))
          .select(col("grp"), col("a"),
            explode(typedLit(Seq(10L, 50L, 90L))).as("q")),
        col("grp"), col("q"), col("a"), col("q") * lit(10000L))
    }),
    // Profiling: per-group WINSORIZED stats — exact interpolated
    // p01/p99 bounds rounded to the cents fixed point, clamp + count +
    // mean all in exact integer arithmetic (the winsorized mean is a
    // ratio of exact integers; no float accumulates).
    "q147_winsorized_stats" -> ((s, dir) =>
      Profile.winsorizedStats(t(s, dir, "lineitem"), col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long"), 0.01, 0.99)
        .withColumnRenamed("g", "l_returnflag")),
    // Quality: exact two-sample KOLMOGOROV–SMIRNOV drift statistic
    // (returned-vs-normal price distributions) — distributed-exact
    // ECDFs via the two-level prefix sum, the sup as a max over exact
    // DECIMAL cross-products, one double division at the end.
    "q151_ks_drift" -> ((s, dir) =>
      Quality.ksStatistic(
        t(s, dir, "lineitem").filter(col("l_returnflag").isin("R", "N"))
          .select((col("l_returnflag") === "R").as("t"),
            round(col("l_extendedprice") * 100).cast("long").as("vc")),
        col("t"), col("vc"), 100000L)),
    // Profiling: per-symbol OLS TREND (slope + Pearson r of price over
    // time) — five exact DECIMAL moment sums in one aggregate pass,
    // normal equations on exact integers, one double division per
    // output; degenerate series yield null, not ±∞.
    "q152_ols_trend" -> ((s, dir) =>
      Profile.olsTrend(
        bars(s, dir).filter(col("symbol") <= 200)
          .select(col("symbol"),
            datediff(col("d"), lit("1970-01-01").cast("date")).as("xd"),
            round(col("px") * 100).cast("long").as("yc")),
        col("symbol"), col("xd"), col("yc"))
        .withColumnRenamed("g", "symbol")),
    // Stats: exact WEIGHTED MEDIAN per group — smallest value whose
    // running weight reaches half the total, all in exact integer
    // arithmetic (2·cum ≥ total, no division): the robust center a
    // quantity-weighted price summary needs. Values aggregate to one
    // row per distinct value before the window.
    "q167_weighted_median" -> ((s, dir) => {
      val rows = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        round(col("l_extendedprice") * 100).cast("long").as("v"),
        round(col("l_quantity") * 100).cast("long").as("wt"))
      val byV = rows.groupBy(col("g"), col("v"))
        .agg(sum(col("wt")).as("wsum"))
      val W = org.apache.spark.sql.expressions.Window
      val cum = sum(col("wsum")).over(
        W.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(W.unboundedPreceding, W.currentRow))
      val tot = byV.groupBy(col("g")).agg(sum(col("wsum")).as("tw"))
      byV.withColumn("cum", cum)
        .join(broadcast(tot), "g")
        .filter(col("cum") * 2 >= col("tw"))
        .groupBy(col("g"), col("tw"))
        .agg(min(col("v")).as("mv"))
        .select(col("g").as("l_returnflag"), col("tw").as("total_w"),
          round(col("mv").cast("double") / 100.0, 2).as("w_median"))
    }),
    // Stats: 2-D PARETO FRONTIER (skyline) — parts undominated on
    // (cheaper price, bigger size): on DISTINCT value pairs sorted
    // (price asc, size desc), every earlier row is strictly better in
    // one dimension, so frontier membership is an EXCLUSIVE prefix max
    // — computed two-level (per-cost collapse, bucket-partitioned
    // running max, broadcast bucket offsets), never a dominance
    // self-join; inputs are integral by contract (cents / sizes).
    "q164_pareto_frontier" -> ((s, dir) =>
      Profile.paretoFrontier2D(t(s, dir, "part"),
          round(col("p_retailprice") * 100).cast("long"), col("p_size"))
        .select(col("cost").as("price_c"), col("gain").as("p_size"),
          col("n_rows").as("n_parts"))),
    // Stats: A/B CONVERSION z-test — users split by id parity, per-arm
    // distinct users and converters in one pass, two-proportion z on
    // exact integer counts with one double chain (identical op order
    // in the oracle).
    "q165_ab_test" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .select((col("user_id") % 2).as("arm"), col("converted"))
      val arms = perUser.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
      val a = arms.filter(col("arm") === 0)
        .select(col("n").as("n_a"), col("conv").as("conv_a"))
      val b = arms.filter(col("arm") === 1)
        .select(col("n").as("n_b"), col("conv").as("conv_b"))
      a.crossJoin(b).select(col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"),
        // degenerate pools (nobody or everybody converted) have a zero
        // denominator — report null, not an ANSI division error
        when(col("conv_a") + col("conv_b") === 0 ||
            col("conv_a") + col("conv_b") === col("n_a") + col("n_b"),
          lit(null))
          .otherwise(
            round((((col("conv_a").cast("double") /
              col("n_a").cast("double")) -
              (col("conv_b").cast("double") / col("n_b").cast("double"))) /
              sqrt(((col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b")).cast("double")) *
                (lit(1.0) -
                  (col("conv_a") + col("conv_b")).cast("double") /
                    (col("n_a") + col("n_b")).cast("double")) *
                (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double"))))
              .cast("decimal(20,10)"), 4).cast("double")).as("z"))
    }),
    // Stats: THEIL-SEN robust trend per symbol — the median of
    // pairwise slopes shrugs off the outliers that drag q152's OLS:
    // series pre-collapse to monthly last-price points (bounding the
    // per-group pair count), slopes snap ×1e6 pre-median, the median
    // is the exact q167 integer crossing.
    "q182_theil_sen" -> ((s, dir) => {
      val m = bars(s, dir).filter(col("symbol") <= 100)
        .select(col("symbol"),
          (year(col("d")) * 12 + month(col("d")) - 1).as("xm"),
          round(col("px") * 100).cast("long").as("pxc"),
          col("d"), col("ord"))
      val monthly = m.groupBy(col("symbol"), col("xm"))
        .agg(max_by(col("pxc"),
          struct(col("d"), col("ord"), col("pxc"))).as("yc"))
      Profile.theilSenTrend(monthly, col("symbol"), col("xm"), col("yc"))
        .withColumnRenamed("g", "symbol")
    }),
    // Stats/rigor: delete-one-block JACKKNIFE standard error of the
    // mean price — uncertainty for a corpus metric without resampling
    // rows: B=20 deterministic hash blocks, leave-one-out means snap
    // ×1e6, variance from exact integer moments.
    "q184_block_jackknife" -> ((s, dir) =>
      Profile.blockJackknifeMean(t(s, dir, "lineitem"),
        col("l_orderkey") * 10 + col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long"), 20)),
    // Profiling: BENFORD first-digit audit — the fabricated-data
    // smell test: first significant digit of price cents (exact via
    // the integer's string head) vs log10(1+1/d), with per-digit χ²
    // contributions.
    "q185_benford" -> ((s, dir) => {
      val v = t(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
        .filter(col("v") > 0)
      val counts = v
        .select(substring(col("v").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("nn"))
      val expd = log(10.0,
        lit(1.0) + lit(1.0) / col("digit").cast("double"))
      counts.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          round((col("n").cast("double") / col("nn").cast("double"))
            .cast("decimal(20,10)"), 6).cast("double").as("obs_share"),
          round(expd.cast("decimal(20,10)"), 6).cast("double")
            .as("benford_share"),
          round((((col("n").cast("double") -
            col("nn").cast("double") * expd) *
            (col("n").cast("double") -
              col("nn").cast("double") * expd)) /
            (col("nn").cast("double") * expd))
            .cast("decimal(20,10)"), 4).cast("double").as("chi2"))
        .orderBy(col("digit"))
    }),
    // Events/segmentation: RFM QUINTILES — per-user recency/frequency/
    // monetary scores binned by exact global quantiles (three uses of
    // the shared Ranks kernel; the (v, bin) maps come back broadcast),
    // segments reported with exact-integer monetary means.
    "q188_rfm" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val maxD = ev.agg(max(to_date(col("ts"))).as("d0"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_d"),
          count(lit(1)).as("freq"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L))
            .as("mon"))
        .crossJoin(broadcast(maxD))
        .select(col("user_id"),
          datediff(col("d0"), col("last_d")).cast("long").as("rec"),
          col("freq"), col("mon"))
      def binJoin(df: DataFrame, c: String, w: Long, out: String) =
        df.join(broadcast(Profile.equalCountBinMap(
            perUser.select(col(c)), col(c), 5, w)
          .select(col("v").as(c), col("bin").as(out))), Seq(c))
      val binned = binJoin(binJoin(binJoin(perUser,
        "rec", 10L, "r_bin"), "freq", 10L, "f_bin"), "mon", 10000L, "m_bin")
      binned.groupBy(col("r_bin"), col("f_bin"), col("m_bin"))
        .agg(count(lit(1)).as("n_users"),
          round((sum(col("mon")).cast("double") /
            count(lit(1)).cast("double") / lit(100.0))
            .cast("decimal(20,10)"), 2).cast("double").as("avg_monetary"))
        .orderBy(col("r_bin"), col("f_bin"), col("m_bin"))
    }),
    // Series: ROLLING REGRESSION — per-symbol OLS slope over the
    // trailing 30 daily observations, reported at each series' end:
    // moment sums ride ONE partitioned window (exact DECIMAL(38,0)
    // from integer day×cent inputs, q152's algebra windowed), the
    // series pre-collapses to one row per (symbol, day) so the window
    // order is total and the trailing frame deterministic.
    "q196_rolling_beta" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = bars(s, dir).filter(col("symbol") <= 100)
        .select(col("symbol"), col("d"), col("ord"),
          round(col("px") * 100).cast("long").as("y"))
        .groupBy(col("symbol"), col("d"))
        .agg(max_by(col("y"), struct(col("ord"), col("y"))).as("y"))
        .withColumn("x",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
      val w = W.partitionBy(col("symbol")).orderBy(col("d"))
        .rowsBetween(-29, 0)
      val rolled = daily.select(col("symbol"), col("d"),
        count(lit(1)).over(w).as("n"),
        sum(dec(col("x"))).over(w).as("sx"),
        sum(dec(col("y"))).over(w).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).over(w).as("sxx"),
        sum(dec(col("x")) * dec(col("y"))).over(w).as("sxy"))
      val last = rolled.groupBy(col("symbol"))
        .agg(max_by(struct(col("n"), col("sx"), col("sy"), col("sxx"),
          col("sxy")), col("d")).as("r"))
        .select(col("symbol"), col("r.n").as("n_window"),
          col("r.sx").as("sx"), col("r.sy").as("sy"),
          col("r.sxx").as("sxx"), col("r.sxy").as("sxy"))
      val num = last("n_window") * col("sxy") - col("sx") * col("sy")
      val den = last("n_window") * col("sxx") - col("sx") * col("sx")
      last.select(col("symbol"), col("n_window"),
          when(den === 0, lit(null))
            .otherwise(round((num.cast("double") / den.cast("double"))
              .cast("decimal(20,10)"), 6).cast("double")).as("beta"))
        .orderBy(col("symbol"))
    }),
    // Stats: exact tie-aware SPEARMAN rank correlation of price vs
    // quantity — quantity's tiny integer domain is almost ALL ties, so
    // the doubled mid-rank (2·below + count + 1, exact integers from
    // the shared two-level kernel) is what makes the answer
    // well-defined; Pearson's exact moment algebra runs on the ranks.
    "q201_spearman" -> ((s, dir) =>
      Profile.spearmanExact(t(s, dir, "lineitem"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_quantity").cast("long"), 100000L)),
    // Stats: CHI-SQUARE independence of lang × source — the
    // composition-drift gate; cells via one hash aggregate, each term
    // through the division-free (n·o − rt·ct)²/(n·rt·ct) identity on
    // exact DECIMAL integers, ×1e6 snap pre-sum.
    "q202_chi2_independence" -> ((s, dir) =>
      Profile.chiSquareIndependence(t(s, dir, "documents"),
        col("lang"), col("source"))),
    // Stats: KAPLAN–MEIER time-to-first-purchase — per-user durations
    // (hours from first event; no purchase = right-censored at the
    // last event) in ONE user-key aggregate, then the survival curve
    // from two passes of the shared rank kernel (at-risk counts +
    // the ×1e6-snapped ln-hazard running sum).
    "q203_kaplan_meier" -> ((s, dir) => {
      val perUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1"),
          min(when(col("event_type") === "purchase",
            unix_micros(col("ts")))).as("tp"))
      val obs = perUser.select(
        expr("(coalesce(tp, t1) - t0) div 3600000000").as("dur_h"),
        col("tp").isNotNull.as("ev"))
      Profile.kaplanMeier(obs, col("dur_h"), col("ev"), 24L)
    }),
    // Reporting: CUBE corpus profile — all four (source × lang)
    // grouping sets of the doc-count/char-mass profile in ONE pass
    // (Spark's Expand: 4 set-tagged copies feed one partially-
    // aggregated shuffle, never four scans), grouping flags
    // disambiguate rolled-up cells from data NULLs. The multi-level
    // rollup every corpus dashboard wants without re-scanning 100 TB
    // per level.
    "q248_cube_profile" -> ((s, dir) =>
      t(s, dir, "documents")
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          grouping(col("source")).cast("int").as("g_source"),
          grouping(col("lang")).cast("int").as("g_lang"))),
    // Reporting: PIVOT — event-type × weekday count matrix as ONE
    // wide aggregate (Spark's pivot with an EXPLICIT value list stays
    // a single groupBy — no distinct-scan to discover columns, the
    // scale contract); absent cells coalesce to 0 on both engines.
    "q249_pivot_weekday" -> ((s, dir) => {
      val p = t(s, dir, "events")
        .select(col("event_type"), dayofweek(col("ts")).as("dow"))
        .groupBy(col("event_type"))
        .pivot("dow", (1 to 7).map(i => i: Any))
        .agg(count(lit(1)))
      p.select(col("event_type") +:
        (1 to 7).map(i =>
          coalesce(col(s"`$i`"), lit(0L)).as(s"d$i")): _*)
    }),
    // Stats: 1-D WASSERSTEIN drift — each source's length distribution
    // vs the rest over a 64-bin grid, the transport-cost companion to
    // PSI/KL (q86/q185: how much mass disagrees) and KS (q90: max CDF
    // gap): W1 integrates |ΔCDF| so it also sees HOW FAR the mass
    // moved. One data-sized (source, bin) aggregate; the CDF algebra
    // runs on the sources×64 grid in exact DECIMAL(38,0)
    // cross-multiples.
    "q250_wasserstein_drift" -> ((s, dir) =>
      Profile.wassersteinVsRest(t(s, dir, "documents"), col("source"),
          col("n_chars"), 64)
        .withColumnRenamed("g", "source")),
    // Stats: SIGN-FLIP randomization test — does a user's purchase
    // value sit above their click value? Paired per-user mean diffs
    // (µ-snapped longs), 64 deterministic md5-parity flip replicates
    // manufacture the exchangeable null, add-one p-value. The exact-
    // null companion to q171's parametric z-test; zero RNG, so the
    // verdict is reproducible on any engine or cluster layout.
    "q252_signflip_test" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id"),
          col("event_type"),
          round(col("value") * 1e6).cast("long").as("vu"))
      val pu = ev.groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", col("vu")))
            .as("sp"),
          count(when(col("event_type") === "purchase", lit(1)))
            .as("np"),
          sum(when(col("event_type") === "click", col("vu"))).as("sc"),
          count(when(col("event_type") === "click", lit(1))).as("nc"))
        .filter(col("np") > 0 && col("nc") > 0)
        .select(col("user_id"),
          round((col("sp").cast("double") / col("np").cast("double") -
            col("sc").cast("double") / col("nc").cast("double"))
            .cast("decimal(20,10)"), 0).cast("long").as("dm"))
      Profile.signFlipTest(pu, col("user_id"), col("dm"), 64)
    }),
    // Stats: SIMPSON'S PARADOX audit — the OLS slope of value-cents
    // on hour-of-day, pooled vs per-event-type: a stratum whose slope
    // SIGN disagrees with the pooled slope is the aggregation-bias
    // red flag (the pooled trend would mislead). Exact integer moment
    // algebra (the q147 OLS shape), ×1e6 slope snap, sign from the
    // exact integers — never from the rounded double.
    "q259_simpson_audit" -> ((s, dir) => {
      val rows = t(s, dir, "events")
        .select(col("event_type").as("g"),
          hour(col("ts")).cast("long").as("x"),
          round(col("value") * 100).cast("long").as("y"))
      def moments(df: DataFrame, keys: Seq[Column]): DataFrame =
        df.groupBy(keys: _*)
          .agg(count(lit(1)).as("n"),
            sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
            sum(dec(col("x")) * col("y")).as("sxy"),
            sum(dec(col("x")) * col("x")).as("sxx"))
          .withColumn("num", dec(col("n")) * col("sxy") -
            col("sx") * col("sy"))
          .withColumn("den", dec(col("n")) * col("sxx") -
            col("sx") * col("sx"))
      val pooled = moments(rows.withColumn("g", lit("_all")),
          Seq(col("g")))
        .select(col("num").as("pnum"), col("den").as("pden"))
      val strata = moments(rows, Seq(col("g")))
      // sign off the EXACT decimal — a >2^53 numerator cast to double
      // could round a hair past zero
      def sgn(c: Column): Column =
        when(c > 0, lit(1)).when(c < 0, lit(-1)).otherwise(lit(0))
      strata.crossJoin(broadcast(pooled))
        .select(col("g"), col("n"),
          round((col("num").cast("double") / col("den").cast("double")
            * 1e6).cast("decimal(20,10)"), 0).cast("long")
            .as("slope_micro"),
          sgn(col("num")).as("sign"),
          sgn(col("pnum")).as("pooled_sign"),
          (sgn(col("num")) =!= sgn(col("pnum"))).as("flip"))
    }),
    // Events/curation: RFM SEGMENTATION — every user scored 1–5 on
    // recency (5 = most recent), frequency and monetary by EXACT
    // quintile ranks (q178's below·5 ÷ N rule on the two-level prefix
    // kernel — ties never straddle a boundary, no data-sized sort
    // partition), then the ≤125-cell segment table with exact
    // monetary means. The classic audience/cohort cut for any
    // engagement warehouse.
    "q262_rfm_segments" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id").as("u"),
        to_date(col("ts")).as("d"),
        round(col("value") * 100).cast("long").as("vc"))
      val mx = ev.agg(max(col("d")).as("dmax"))
      val usr = ev.crossJoin(broadcast(mx))
        .groupBy(col("u"))
        .agg(min(datediff(col("dmax"), col("d"))).cast("long").as("rec"),
          count(lit(1)).as("freq"), sum(col("vc")).as("mon"))
      val nn = usr.agg(count(lit(1)).as("n"))
      def qscore(vcol: String): DataFrame = {
        val byV = usr.groupBy(col(vcol).cast("long").as("v"))
          .agg(count(lit(1)).as("cnt"))
        Ranks.withRunningBelow(byV, "v", 64L, Seq("cnt"))
          .crossJoin(broadcast(nn))
          .select(col("v"),
            (fdiv(col("cnt_below") * 5, col("n")) + 1).cast("int")
              .as("q"))
      }
      val r = qscore("rec")
        .select(col("v").as("rec"), (lit(6) - col("q")).as("r_score"))
      val f = qscore("freq")
        .select(col("v").as("freq"), col("q").as("f_score"))
      val m = qscore("mon")
        .select(col("v").as("mon"), col("q").as("m_score"))
      usr.join(broadcast(r), "rec").join(broadcast(f), "freq")
        .join(m, "mon")
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_users"),
          round((sum(col("mon")).cast("double") /
            count(lit(1)).cast("double") / lit(100.0))
            .cast("decimal(20,10)"), 2).cast("double")
            .as("avg_monetary"))
    }),
    // Reporting: UNPIVOT (melt) — the wide per-user type×cents matrix
    // (q54's pivot shape) melted back to long via Spark's native
    // unpivot operator; null cells (type never seen for the user)
    // drop, so pivot→unpivot is exactly the direct (user, type)
    // aggregate — the oracle IS that identity. Completes the
    // reshaping surface: cube (q248), pivot (q249), unpivot here.
    "q268_unpivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val wide = t(s, dir, "events").groupBy(col("user_id"))
        .pivot("event_type", types.map(x => x: Any))
        .agg(sum(round(col("value") * 100).cast("long")))
      wide.unpivot(Array(col("user_id")),
          types.map(x => col(s"`$x`")).toArray,
          "event_type", "cents")
        .filter(col("cents").isNotNull)
    }),
    // Stats/causal: CLUSTER-ROBUST standard error — value-cents mean
    // per cohort with the naive iid SE beside the USER-clustered SE
    // (events of one user correlate; iid SEs overstate precision —
    // the q171/q272 readings are honest only at the cluster-robust
    // width). CR0 sandwich on exact per-user residual sums:
    // Var_cl = Σ_u(s_u − n_u·m)²/N², design effect = Var_cl/Var_iid.
    // One (cohort, user) aggregate; residual algebra in DECIMAL(38,0)
    // cross-multiples (×N keeps it integer), two snapped divisions.
    "q287_cluster_robust_se" -> ((s, dir) => {
      val ug = t(s, dir, "events")
        .select((col("user_id") % 2 === 0).as("tr"), col("user_id"),
          round(col("value") * 100).cast("long").as("vc"))
        .groupBy(col("tr"), col("user_id"))
        .agg(count(lit(1)).as("nu"), sum(col("vc")).as("su"),
          sum(dec(col("vc")) * col("vc")).as("ssu"))
      val tot = ug.groupBy(col("tr"))
        .agg(count(lit(1)).as("n_users"), sum(col("nu")).as("n"),
          sum(col("su")).as("sv"), sum(col("ssu")).as("ssv"))
      // Σ_u (N·s_u − n_u·S)² — the ×N-scaled clustered residual mass,
      // exact because every factor is an integer
      val crm = ug.join(broadcast(tot), "tr")
        .select(col("tr"),
          ((dec(col("n")) * col("su") - dec(col("nu")) * col("sv")) *
            (dec(col("n")) * col("su") - dec(col("nu")) * col("sv")))
            .as("r2"))
        .groupBy(col("tr")).agg(sum(col("r2")).as("crm"))
      val xiid = dec(col("n")) * col("ssv") - col("sv") * col("sv")
      tot.join(crm, "tr")
        .select(col("tr").as("treat_cohort"), col("n_users"), col("n"),
          round((col("sv").cast("double") / col("n").cast("double") /
            lit(100.0)).cast("decimal(20,10)"), 2).cast("double")
            .as("mean_value"),
          round((sqrt(xiid.cast("double") /
            (dec(col("n")) * col("n") * col("n")).cast("double")) /
            lit(100.0)).cast("decimal(20,10)"), 4).cast("double")
            .as("se_iid"),
          round((sqrt(col("crm").cast("double") /
            (dec(col("n")) * col("n") * col("n") * col("n"))
              .cast("double")) / lit(100.0)).cast("decimal(20,10)"), 4)
            .cast("double").as("se_cluster"),
          round((col("crm").cast("double") /
            (dec(col("n")) * xiid).cast("double"))
            .cast("decimal(20,10)"), 2).cast("double")
            .as("design_effect"))
    }),
    // Attribution: MARKOV REMOVAL EFFECT — the data-driven
    // multi-touch model (vs q140 last-touch / q158 linear / q179
    // decay, which are positional heuristics): session journeys →
    // absorbing-chain transition counts → P(conv) from START with
    // each channel's inbound edges cut; credit ∝ removal effect.
    // Eight ×1e9-snapped value-iteration steps solved DRIVER-side on
    // the collected |states|²-bounded matrix (r15: the former
    // unrolled-DataFrame chain was a 528 KB physical plan and ~30
    // scheduler rounds of tiny shuffles — see
    // Events.markovRemovalEffect; oracle pins arithmetic equality).
    "q311_removal_effect" -> ((s, dir) =>
      Events.markovRemovalEffect(
        Events.journeyTransitions(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"),
          col("event_type"), 1800L, "purchase"))),
    // Stats: TWO-REGRESSOR OLS by exact normal equations — the
    // hedonic price model p_retailprice ~ p_size + len(p_name),
    // solved by Cramer's rule on EXACT centered DECIMAL(38,0)
    // moment sums (q152's single-regressor trend can't untangle
    // correlated features; the centered 2×2 system stays inside 38
    // digits where the raw 3×3 would overflow). Betas, intercept,
    // and R² leave integerland in one deterministic double division
    // each.
    "q312_multi_ols" -> ((s, dir) => {
      val r = t(s, dir, "part").select(
        round(col("p_retailprice") * 100).cast("long").as("y"),
        col("p_size").cast("long").as("a"),
        length(col("p_name")).cast("long").as("b"))
      val g = r.agg(count(lit(1)).as("n"),
        sum(dec(col("a"))).as("sa"), sum(dec(col("b"))).as("sb"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("a")) * col("a")).as("saa"),
        sum(dec(col("a")) * col("b")).as("sab"),
        sum(dec(col("b")) * col("b")).as("sbb"),
        sum(dec(col("a")) * col("y")).as("say"),
        sum(dec(col("b")) * col("y")).as("sby"),
        sum(dec(col("y")) * col("y")).as("syy"))
      val c = g.select(col("n"), col("sa"), col("sb"), col("sy"),
        (dec(col("n")) * col("saa") - col("sa") * col("sa")).as("caa"),
        (dec(col("n")) * col("sab") - col("sa") * col("sb")).as("cab"),
        (dec(col("n")) * col("sbb") - col("sb") * col("sb")).as("cbb"),
        (dec(col("n")) * col("say") - col("sa") * col("sy")).as("cay"),
        (dec(col("n")) * col("sby") - col("sb") * col("sy")).as("cby"),
        (dec(col("n")) * col("syy") - col("sy") * col("sy")).as("cyy"))
      // degenerate designs (constant regressor → det = 0; constant
      // response → cyy = 0) yield null, never a NaN→null-by-cast
      // divergence from the SQL oracle (ADVICE r11, the q313 guard)
      val detX = col("caa") * col("cbb") - col("cab") * col("cab")
      val det = detX.cast("double")
      val ba = (col("cay") * col("cbb") - col("cby") * col("cab"))
        .cast("double") / det
      val bb = (col("cby") * col("caa") - col("cay") * col("cab"))
        .cast("double") / det
      c.select(col("n"),
        when(detX === 0, lit(null)).otherwise(
          round((ba / lit(100.0)).cast("decimal(20,10)"), 6)
            .cast("double")).as("beta_size"),
        when(detX === 0, lit(null)).otherwise(
          round((bb / lit(100.0)).cast("decimal(20,10)"), 6)
            .cast("double")).as("beta_namelen"),
        when(detX === 0, lit(null)).otherwise(
          round(((col("sy").cast("double") - ba * col("sa").cast("double")
              - bb * col("sb").cast("double")) / col("n").cast("double")
              / lit(100.0)).cast("decimal(20,10)"), 4)
            .cast("double")).as("intercept"),
        when(detX === 0 || col("cyy") === 0, lit(null)).otherwise(
          round(((ba * col("cay").cast("double") +
              bb * col("cby").cast("double")) / col("cyy").cast("double"))
              .cast("decimal(20,10)"), 6)
            .cast("double")).as("r2"))
    }),
    // Experimentation: CUPED variance reduction — the pre-period
    // covariate adjustment every mature A/B platform applies before
    // reading a metric (q165's z-test reads the raw delta). Users
    // split at the time midpoint into pre (X) / post (Y) cent sums;
    // θ = cov(X,Y)/var(X) from EXACT centered DECIMAL(38,0) moments,
    // per-arm adjusted mean = (ΣY − θ(ΣX − n·mean X))/n, and the
    // variance-reduction share θ·Sxy/Syy (= ρ²) — each leaving
    // integerland in one deterministic double chain.
    "q313_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("vc"))
      val ext = ev.agg(floor((min(col("us")) + max(col("us"))) / 2)
        .cast("long").as("mid"))
      val pu = ev.crossJoin(broadcast(ext))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") <= col("mid"), col("vc"))
            .otherwise(0L)).as("x"),
          sum(when(col("us") > col("mid"), col("vc"))
            .otherwise(0L)).as("y"))
        .select((col("user_id") % 2).as("arm"), col("x"), col("y"))
      val tot = pu.agg(count(lit(1)).as("n"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
          sum(dec(col("x")) * col("x")).as("sxx"),
          sum(dec(col("x")) * col("y")).as("sxy"),
          sum(dec(col("y")) * col("y")).as("syy"))
        .select(col("n"), col("sx"),
          (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
            .as("cxx"),
          (dec(col("n")) * col("sxy") - col("sx") * col("sy"))
            .as("cxy"),
          (dec(col("n")) * col("syy") - col("sy") * col("sy"))
            .as("cyy"))
      val arms = pu.groupBy(col("arm")).agg(count(lit(1)).as("ng"),
        sum(dec(col("x"))).as("sxg"), sum(dec(col("y"))).as("syg"))
      val theta = col("cxy").cast("double") / col("cxx").cast("double")
      val meanx = col("sx").cast("double") / col("n").cast("double")
      arms.crossJoin(broadcast(tot))
        .select(col("arm"), col("ng").as("n_users"),
          round((col("syg").cast("double") / col("ng").cast("double") /
            lit(100.0)).cast("decimal(20,10)"), 4).cast("double")
            .as("mean_y"),
          when(col("cxx") === 0, lit(null)).otherwise(
            round(((col("syg").cast("double") - theta *
              (col("sxg").cast("double") -
                col("ng").cast("double") * meanx)) /
              col("ng").cast("double") / lit(100.0))
              .cast("decimal(20,10)"), 4).cast("double"))
            .as("mean_y_cuped"),
          when(col("cxx") === 0 || col("cyy") === 0, lit(null))
            .otherwise(round((theta * col("cxy").cast("double") /
              col("cyy").cast("double")).cast("decimal(20,10)"), 6)
              .cast("double")).as("var_reduction"))
    }),
    // PII audit: LUHN-VALID NUMBER GATE — candidate digit runs of
    // 13–16 digits checked against the Luhn checksum (q69's regex
    // redaction can't tell a card number from a tracking id; the
    // checksum can). Deterministic plants (a known-valid and a
    // known-invalid test number on every 37th/41st doc) give the gate
    // known positives. The checksum is a per-row array fold — pure
    // codegen, no UDF, no shuffle beyond the source-key rollup.
    "q314_luhn_gate" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 37 === 0,
            lit(" pay 4532015112830366")).otherwise(lit("")),
          when(col("doc_id") % 41 === 0,
            lit(" ref 4532015112830367")).otherwise(lit("")))
          .as("text"))
      val cands = planted.select(col("source"),
          explode(expr("regexp_extract_all(text, '[0-9]+', 0)"))
            .as("c"))
        .filter(length(col("c")).between(13, 16))
      val dsum = cands.withColumn("s",
        aggregate(transform(sequence(lit(1), length(col("c"))),
          j => {
            val d = col("c").substr(j, lit(1)).cast("int")
            when(pmod(length(col("c")) - j, lit(2)) === 1,
              when(d > 4, d * 2 - 9).otherwise(d * 2)).otherwise(d)
          }),
          lit(0), (acc, x) => acc + x))
      dsum.groupBy(col("source")).agg(
        count(lit(1)).as("n_candidates"),
        sum(when(pmod(col("s"), lit(10)) === 0, 1L).otherwise(0L))
          .as("n_luhn_valid"))
        .withColumn("valid_share",
          round((col("n_luhn_valid").cast("double") /
            col("n_candidates").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double"))
    }),
    // Feature engineering: WEIGHT OF EVIDENCE + INFORMATION VALUE of
    // order-value deciles against the urgent-priority label — the
    // credit-scoring-style predictive-power read a feature store runs
    // before training (q233's lift curve ranks by score; WoE/IV bins
    // a FEATURE). Exact rank deciles via the two-level prefix kernel
    // (no global sort), exact bin counts, one ln per bin.
    "q315_woe_iv" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("pos"))
      val byV = o.groupBy(col("v"))
        .agg(count(lit(1)).as("tot"), sum(col("pos")).as("p"))
      val rk = Ranks.withRunningBelow(byV, "v", 1000000L, Seq("tot"))
      val nn = byV.agg(sum(col("tot")).as("n"), sum(col("p"))
        .as("npos"))
      val t10 = col("tot_below") * 10
      val bins = rk.crossJoin(broadcast(nn))
        .select(((t10 - pmod(t10, col("n"))) / col("n")).cast("long")
            .as("decile"), col("tot"), col("p"), col("n"), col("npos"))
        .groupBy(col("decile"))
        .agg(sum(col("tot")).as("n_d"), sum(col("p")).as("pos_d"),
          max(col("n")).as("n"), max(col("npos")).as("npos"))
        .select(col("decile"), col("n_d"), col("pos_d"),
          (col("n_d") - col("pos_d")).as("neg_d"),
          col("npos"), (col("n") - col("npos")).as("nneg"))
      bins.select(col("decile"), col("n_d").as("n"),
        col("pos_d").as("n_pos"),
        when(col("pos_d") === 0 || col("neg_d") === 0 ||
            col("npos") === 0 || col("nneg") === 0, lit(null))
          .otherwise(round(log((col("pos_d") * col("nneg"))
              .cast("double") / (col("neg_d") * col("npos"))
              .cast("double")).cast("decimal(20,10)"), 4)
            .cast("double")).as("woe"),
        when(col("pos_d") === 0 || col("neg_d") === 0 ||
            col("npos") === 0 || col("nneg") === 0, lit(null))
          .otherwise(round(((col("pos_d").cast("double") /
              col("npos").cast("double") -
              col("neg_d").cast("double") /
              col("nneg").cast("double")) *
              log((col("pos_d") * col("nneg")).cast("double") /
                (col("neg_d") * col("npos")).cast("double")))
              .cast("decimal(20,10)"), 6).cast("double"))
          .as("iv_term"))
    }),
    // Inequality: GINI CONCENTRATION of per-user activity by event
    // type — how concentrated is each action in few power users (the
    // bot/whale diagnostic; q284's cache curve reads the same skew
    // but not as a single comparable index). Tie-invariant exact
    // integer form on the value histogram: num = Σ_v v·cnt_v·
    // (2·below_v + cnt_v − n), G = num/(n·Σvx) — ranks from the
    // grouped two-level prefix kernel, no global sort, one division.
    "q316_gini_activity" -> ((s, dir) => {
      val pu = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("x"))
      val byV = pu.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("cnt"))
      val rk = Ranks.withRunningBelowBy(byV, "event_type", "x", 100L,
        Seq("cnt"))
      val tot = byV.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("x") * col("cnt")).as("sx"))
      rk.join(tot, "event_type")
        .groupBy(col("event_type"), col("n"), col("sx"))
        .agg(sum(col("x") * col("cnt") *
          (lit(2L) * col("cnt_below") + col("cnt") - col("n")))
          .as("num"))
        .select(col("event_type"), col("n").as("n_users"),
          col("sx").as("n_events"),
          round((col("num").cast("double") /
            (col("n") * col("sx")).cast("double"))
            .cast("decimal(20,10)"), 6).cast("double").as("gini"))
    }),
    // Inequality: THEIL T DECOMPOSITION of document length across
    // sources — T = between + Σ share·within, the additive split a
    // corpus-balance audit wants (is length inequality a few bloated
    // SOURCES, or bloat inside each source?). Terms take one ln per
    // DISTINCT (source, length) value, ×1e9-snapped pre-sum; the
    // mass ratios stay exact integer products inside the ln.
    "q317_theil_decomposition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("n_chars").as("x"))
        .filter(col("x") >= 1)
      val bySrcV = d.groupBy(col("source"), col("x"))
        .agg(count(lit(1)).as("cnt"))
      val grp = bySrcV.groupBy(col("source"))
        .agg(sum(col("cnt")).as("ng"),
          sum(col("x") * col("cnt")).as("sg"))
      val glob = grp.agg(sum(col("ng")).as("nn"), sum(col("sg"))
        .as("ss"))
      val p = (col("x") * col("ng")).cast("double") /
        col("sg").cast("double")
      val within = bySrcV.join(grp, "source")
        .select(col("source"), col("ng"), col("sg"),
          (round(p * log(p) * 1e9).cast("long") * col("cnt")).as("t9"))
        .groupBy(col("source"), col("ng"), col("sg"))
        .agg(sum(col("t9")).as("t9"))
      within.crossJoin(broadcast(glob))
        .select(col("source"), col("ng").as("n_docs"),
          round((col("sg").cast("double") / col("ss").cast("double"))
            .cast("decimal(20,10)"), 6).cast("double")
            .as("mass_share"),
          round((col("t9").cast("double") / lit(1e9) /
            col("ng").cast("double")).cast("decimal(20,10)"), 6)
            .cast("double").as("t_within"),
          round(((col("sg").cast("double") / col("ss").cast("double"))
            * log((col("sg") * col("nn")).cast("double") /
              (col("ss") * col("ng")).cast("double")))
            .cast("decimal(20,10)"), 6).cast("double")
            .as("between_term"))
    }),
    // Concentration: HHI of sources within each language — the
    // square-of-shares read beside q470's Gini.
    "q474_hhi" -> ((s, dir) =>
      Profile.hhiConcentration(t(s, dir, "documents"), col("lang"),
        col("source"))),
    // Concentration: GINI of document lengths — rank-weighted sum
    // collapsed onto the distinct-value spectrum, prefix-kernel
    // ranks, one floored division.
    "q470_gini" -> ((s, dir) =>
      Profile.giniCoefficient(t(s, dir, "documents"),
        col("n_chars"), 1024L)),
    // SPC: p-CHART — daily defect rates vs the pooled 3σ binomial
    // band, squared cross-multiplied (the sqrt never evaluates);
    // day-7 planted spike goes out of control.
    "q463_p_chart" -> ((s, dir) =>
      Quality.pChart(t(s, dir, "events"), to_date(col("ts")),
        col("event_type") === "error" ||
          (dayofmonth(col("ts")) === 7 && col("event_id") % 2 === 0))),
    // Contracts: SCHEMA DIFF — dropped lang, narrowed n_chars,
    // added quality; the CI evolution linter.
    "q462_schema_diff" -> ((s, dir) => {
      val a = t(s, dir, "documents")
      val b = a.drop("lang")
        .withColumn("n_chars", col("n_chars").cast("int"))
        .withColumn("quality", lit(0.5))
      Merge.schemaDiff(a, b)
    }),
    // Finance/risk: ROLLING VARIANCE (w=5) peak per symbol — exact
    // integer window sums, var = (nQ−S²)/n² floored, reported in cents².
    "q449_rolling_variance" -> ((s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val li = t(s, dir, "lineitem")
        .filter(col("l_partkey") % 5 === 0)
        .select(col("l_partkey").as("k"),
          struct(col("l_shipdate"), col("l_orderkey"),
            col("l_linenumber"), cents.as("c")).as("o"),
          cents.as("cents"))
      Resample.rollingVariance(li, col("k"), col("o"),
        col("cents"), 5)
    }),
    // Forensics: BENFORD first-digit audit over price cents — the
    // nine expectations are DRIVER literals (no cross-engine log10),
    // exact counts, floored shares, TVD constant on every row.
    "q450_benford" -> ((s, dir) => {
      val exp = (1 to 9).map(d =>
        math.round(1e6 * math.log10(1 + 1.0 / d)))
      Quality.benfordAudit(t(s, dir, "lineitem"),
        round(col("l_extendedprice") * 100).cast("long"), exp)
    }),
    // Packing/dataloader: PADDING-WASTE audit — sorted vs md5-shuffled
    // batching at B=16, exact global row numbers from the prefix
    // kernel, floored micro waste. The length-bucketing decision read.
    "q406_padding_waste" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n"))
      Packing.paddingWaste(d, col("doc_id"), col("n"), 16)
    }),
    // Stats/eval: DETERMINISTIC BOOTSTRAP CI on the mean doc length —
    // the error bar an eval report carries, with no RNG state: every
    // draw is md5(rep:j) mod n (the hashLong convention), 200
    // resamples, exact ×1e6 floored means, CI = order statistics at
    // 2.5/97.5% basis-point indexes. Two engines replay the identical
    // resample universe.
    "q386_bootstrap_ci" -> ((s, dir) =>
      Sampling.bootstrapCiMean(
        t(s, dir, "documents")
          .select(col("doc_id"), Text.tokenCount(col("text")).as("v")),
        col("doc_id"), col("v"), 200, 250, 9750)),
    // Series/monitoring: DAILY QUANTILE BANDS — p10/p50/p90 of value
    // cents per day by EXACT grouped ranks (the monitoring band every
    // latency/value dashboard draws; approximate sketches drift,
    // these are the true order statistics): the grouped two-level
    // prefix kernel attaches per-day exclusive ranks, each band is
    // the smallest value whose inclusive rank reaches ⌈q·n⌉ — one
    // (day, value) aggregate, never a per-day sort partition of raw
    // rows.
    "q301_daily_bands" -> ((s, dir) => {
      val byV = t(s, dir, "events")
        .select(to_date(col("ts")).as("d"),
          round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("d"), col("v")).agg(count(lit(1)).as("cnt"))
      val rk = Ranks.withRunningBelowBy(byV, "d", "v", 1000L,
          Seq("cnt"))
        .join(byV.groupBy(col("d")).agg(sum(col("cnt")).as("n")), "d")
      def band(q: Int, out: String): Column =
        (min(when((col("cnt_below") + col("cnt")) * 100 >=
          col("n") * q, col("v"))).cast("double") / 100.0)
          .cast("decimal(20,10)")
      rk.groupBy(col("d"), col("n"))
        .agg(round(band(10, "p10"), 2).cast("double").as("p10"),
          round(band(50, "p50"), 2).cast("double").as("p50"),
          round(band(90, "p90"), 2).cast("double").as("p90"))
        .select(col("d"), col("n").as("n_events"), col("p10"),
          col("p50"), col("p90"))
    }),
    // Reporting/privacy: K-SUPPRESSED heatmap — the weekday × hour
    // activity matrix with cells under k = 20 users SUPPRESSED (the
    // small-cell rule every published dashboard applies; q171
    // measures identifiability, this enforces the release policy):
    // suppressed cells survive as rows with null counts so the
    // consumer sees WHAT was withheld, never the value.
    "q302_suppressed_heatmap" -> ((s, dir) => {
      val cell = t(s, dir, "events")
        .select(dayofweek(col("ts")).as("dow"),
          hour(col("ts")).as("h"), col("user_id"))
        .groupBy(col("dow"), col("h"))
        .agg(count(lit(1)).as("n_events_raw"),
          countDistinct(col("user_id")).as("n_users_raw"))
      cell.select(col("dow"), col("h"),
        (col("n_users_raw") >= 20).as("released"),
        when(col("n_users_raw") >= 20, col("n_events_raw"))
          .as("n_events"),
        when(col("n_users_raw") >= 20, col("n_users_raw"))
          .as("n_users"))
    }),
    // Stats/guardrail: SAMPLE-RATIO MISMATCH (SRM) check — the first
    // A/B hygiene alarm: per day, χ²₁ = (n_t − n_c)²/(n_t + n_c)
    // against the designed 50/50 split; a crossed day means broken
    // RANDOMIZATION, and every effect estimate downstream of it is
    // void (run before q171/q272/q286 ever get read). Pure integer
    // numerator, one division, 3.84 = χ²₁ @ 95%.
    "q299_srm_check" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L))
            .as("n_t"),
          sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L))
            .as("n_c"))
      val chi2 = round((((dec(col("n_t")) - col("n_c")) *
        (dec(col("n_t")) - col("n_c"))).cast("double") /
        (col("n_t") + col("n_c")).cast("double"))
        .cast("decimal(20,10)"), 4).cast("double")
      daily.select(col("d"), col("n_t"), col("n_c"),
        chi2.as("chi2"), (chi2 > 3.84).as("srm_alarm"))
    }),
    // Systems/curation: SHUFFLE-QUALITY audit of plain hash ordering
    // — per source, the positional-gap dispersion index (var/mean)
    // in the md5-rank global order: the check that "ORDER BY hash"
    // actually interleaves sources (clumped gaps starve a training
    // run of diversity mid-epoch; q243's round-robin is the
    // constructive fix, gaps exactly k by design). Global ranks ride
    // the bucketed prefix kernel over the hash domain; gaps are a
    // per-source window; moments exact.
    "q292_shuffle_quality" -> ((s, dir) => {
      val rated = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Dedup.hashLong(concat(lit("sq"),
            col("doc_id").cast("string"))).as("h"))
      val byV = rated.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      val rk = Ranks.withRunningBelow(byV, "h", 1000000000000000L,
        Seq("cnt"))
      val pos = rated.join(rk.select(col("h"), col("cnt_below")), "h")
        .select(col("source"),
          (col("cnt_below") + 1).as("pos"))
      val gaps = pos.withColumn("g",
          col("pos") - lag(col("pos"), 1).over(
            Window.partitionBy(col("source")).orderBy(col("pos"))))
        .filter(col("g").isNotNull)
      gaps.groupBy(col("source"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sg"),
          sum(dec(col("g")) * col("g")).as("sgg"))
        .select(col("source"), col("n_gaps"),
          round((col("sg").cast("double") /
            col("n_gaps").cast("double")).cast("decimal(20,10)"), 2)
            .cast("double").as("mean_gap"),
          round(((dec(col("n_gaps")) * col("sgg") -
            col("sg") * col("sg")).cast("double") /
            (dec(col("n_gaps")) * col("n_gaps")).cast("double") /
            (col("sg").cast("double") / col("n_gaps").cast("double")))
            .cast("decimal(20,10)"), 4).cast("double")
            .as("dispersion"))
    }),
    // Stats/causal: COVARIATE-BALANCE audit (standardized mean
    // difference) — before reading q272's DiD as causal, check the
    // hash cohorts are actually exchangeable: per covariate,
    // SMD = (m_t − m_c)/√((v_t+v_c)/2), |SMD| < 0.1 = balanced (the
    // propensity-matching diagnostic). One melt (Expand) + one
    // (covariate, cohort) aggregate; moments exact, one snapped
    // division.
    "q285_covariate_balance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select((col("user_id") % 2 === 0).as("tr"),
          explode(array(
            struct(lit("hour").as("cov"),
              hour(col("ts")).cast("long").as("x")),
            struct(lit("dow").as("cov"),
              dayofweek(col("ts")).cast("long").as("x")),
            struct(lit("value_cents").as("cov"),
              round(col("value") * 100).cast("long").as("x"))))
            .as("m"))
        .select(col("tr"), col("m.cov").as("cov"), col("m.x").as("x"))
      val g = ev.groupBy(col("cov"), col("tr"))
        .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
          sum(dec(col("x")) * col("x")).as("ss"))
      def side(t0: Boolean, c: String, out: String): Column =
        max(when(col("tr") === t0, col(c))).as(out)
      val wide = g.groupBy(col("cov"))
        .agg(side(true, "n", "n_t"), side(true, "sx", "s_t"),
          side(true, "ss", "ss_t"), side(false, "n", "n_c"),
          side(false, "sx", "s_c"), side(false, "ss", "ss_c"))
      def mean(sx: String, n: String): Column =
        col(sx).cast("double") / col(n).cast("double")
      def variance(n: String, sx: String, ss: String): Column =
        (dec(col(n)) * col(ss) - col(sx) * col(sx)).cast("double") /
          (dec(col(n)) * col(n)).cast("double")
      val vsum = variance("n_t", "s_t", "ss_t") +
        variance("n_c", "s_c", "ss_c")
      wide.select(col("cov").as("covariate"), col("n_t"), col("n_c"),
        when(vsum === 0.0, lit(null)).otherwise(
          round(((mean("s_t", "n_t") - mean("s_c", "n_c")) /
            sqrt(vsum / lit(2.0))).cast("decimal(20,10)"), 4)
            .cast("double")).as("smd"))
    }),
    // Stats/eval: SEQUENTIAL PEEKING curve — the cumulative two-
    // proportion z between the hash cohorts after each day: the
    // methodological trap made visible (a fixed-horizon test "peeked"
    // daily crosses 1.96 by chance long before the horizon — compare
    // the crossed flags against the final day's verdict). Cumulative
    // counts ride per-cohort windows over the tiny day grid; z is
    // exact integers through one division + sqrt.
    "q286_peeking_curve" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select((col("user_id") % 2 === 0).as("tr"),
          to_date(col("ts")).as("d"),
          (col("event_type") === "purchase").cast("long").as("y"))
        .groupBy(col("tr"), col("d"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("cv"))
      val w = Window.partitionBy(col("tr")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = daily
        .withColumn("cn", sum(col("n")).over(w))
        .withColumn("cc", sum(col("cv")).over(w))
      def sideCol(t0: Boolean, c: String, out: String): Column =
        max(when(col("tr") === t0, col(c))).as(out)
      val wide = cum.groupBy(col("d"))
        .agg(sideCol(true, "cn", "n_t"), sideCol(true, "cc", "c_t"),
          sideCol(false, "cn", "n_c"), sideCol(false, "cc", "c_c"))
        .filter(col("n_t").isNotNull && col("n_c").isNotNull)
      val pt = col("c_t").cast("double") / col("n_t").cast("double")
      val pc = col("c_c").cast("double") / col("n_c").cast("double")
      val pb = (col("c_t") + col("c_c")).cast("double") /
        (col("n_t") + col("n_c")).cast("double")
      val z = (pt - pc) / sqrt(pb * (lit(1.0) - pb) *
        (lit(1.0) / col("n_t").cast("double") +
          lit(1.0) / col("n_c").cast("double")))
      wide.select(col("d"), col("n_t"), col("n_c"),
        when(col("c_t") + col("c_c") === 0 ||
          col("c_t") + col("c_c") === col("n_t") + col("n_c"),
          lit(null))
          .otherwise(round(z.cast("decimal(20,10)"), 4)
            .cast("double")).as("z"),
        when(col("c_t") + col("c_c") === 0 ||
          col("c_t") + col("c_c") === col("n_t") + col("n_c"),
          lit(null))
          .otherwise(abs(round(z.cast("decimal(20,10)"), 4)) >= 1.96)
          .as("crossed"))
    }),
    // Dedup/tuning: THRESHOLD SWEEP — the dedup-aggressiveness curve
    // in ONE pass: pairs generate once at the loosest threshold
    // (0.5, the recall-complete prefix kernel), then every 0.05-step
    // threshold reads its pair count and droppable-doc count off the
    // same stream (snapped ×1e4 integer jaccard vs th·500 — no float
    // boundary ambiguity). The "how much does 0.8 vs 0.7 actually
    // delete" question answered without re-running the join per
    // candidate threshold.
    "q281_threshold_sweep" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairsPrefixHashed(
        docsDup(s, dir).select(col("doc_id").as("id"),
          Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs")),
        "id", "hs", 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jac") * 10000).cast("long").as("jm"))
        // persist IS right here despite the one-output-plan rule of
        // thumb: the two consumers aggregate on DIFFERENT keys (jm vs
        // id_b), so no exchange is identical and ReusedExchange can't
        // dedup the pair generation (measured: 10.3 s without the
        // persist, 4.4 s with — the divergent-consumer exception the
        // NOTES item-80 lesson names)
        .persist()
      // collapse BEFORE the sweep: a pair-count histogram over the
      // <=5001-value jm domain and a per-doc MAX-jm histogram (a doc
      // is droppable at th iff its best pair reaches th) — the 9-way
      // grid then joins two tiny frames, never the pair stream
      val hist = pairs.groupBy(col("jm")).agg(count(lit(1)).as("np"))
      val hb = pairs.groupBy(col("id_b")).agg(max(col("jm")).as("mj"))
        .groupBy(col("mj")).agg(count(lit(1)).as("nb"))
      val grid = s.range(10, 19)
        .select((col("id") * 5).cast("int").as("th_pct"))
      val np = grid.join(hist, col("jm") >= col("th_pct") * 100)
        .groupBy(col("th_pct")).agg(sum(col("np")).as("n_pairs"))
      val nd = grid.join(hb, col("mj") >= col("th_pct") * 100)
        .groupBy(col("th_pct")).agg(sum(col("nb")).as("n_droppable"))
      np.join(nd, "th_pct")
        .select(col("th_pct"), col("n_pairs"), col("n_droppable"))
    }),
    // Stats/robust: DETERMINISTIC RANSAC line fit — tokens vs chars
    // per doc with 16 hash-drawn candidate pairs (two md5 argmins per
    // candidate, zero RNG), inliers counted by the PURE INTEGER band
    // test |dy·(x−x1) − dx·(y−y1)| ≤ tol·|dx|, winner by (inliers
    // desc, candidate id). The breakdown-resistant fit beside OLS
    // (q147, pulled by outliers) and Theil-Sen (q182, exact but
    // pair-quadratic): candidate scoring is points×16 through one
    // aggregate — linear, broadcast-only.
    "q270_ransac_fit" -> ((s, dir) => {
      val pts = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").as("x"),
          size(Text.tokens(col("text"))).cast("long").as("y"))
      val cands = pts
        .crossJoin(broadcast(s.range(1, 17).toDF("ci")))
        .groupBy(col("ci"))
        .agg(
          min_by(struct(col("x").as("x1"), col("y").as("y1")),
            Dedup.hashLong(concat(lit("ra"), col("ci").cast("string"),
              lit(":"), col("doc_id").cast("string")))).as("pa"),
          min_by(struct(col("x").as("x2"), col("y").as("y2")),
            Dedup.hashLong(concat(lit("rb"), col("ci").cast("string"),
              lit(":"), col("doc_id").cast("string")))).as("pb"))
        .select(col("ci"), col("pa.x1").as("x1"), col("pa.y1").as("y1"),
          (col("pb.x2") - col("pa.x1")).as("dx"),
          (col("pb.y2") - col("pa.y1")).as("dy"))
        .filter(col("dx") =!= 0)
      val scored = pts.crossJoin(broadcast(cands))
        .filter(abs(dec(col("dy")) * (col("x") - col("x1")) -
          dec(col("dx")) * (col("y") - col("y1"))) <=
          dec(lit(5L)) * abs(col("dx")))
        .groupBy(col("ci"), col("dx"), col("dy"))
        .agg(count(lit(1)).as("n_inliers"))
      val nTot = pts.agg(count(lit(1)).as("n_points"))
      scored.crossJoin(broadcast(nTot))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(Cols.onePartitionKey(col("ci")))
            .orderBy(col("n_inliers").desc, col("ci"))))
        .filter(col("rn") === 1)
        .select(col("ci").cast("long").as("cand_id"), col("n_inliers"),
          col("n_points"),
          round((col("dy").cast("double") / col("dx").cast("double")
            * 1e6).cast("decimal(20,10)"), 0).cast("long")
            .as("slope_micro"),
          round((col("n_inliers").cast("double") /
            col("n_points").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("inlier_share"))
    }),
    // Stats/causal: DIFF-IN-DIFFERENCES — the 2×2 (treat × post)
    // panel estimate (ȳ₁₁−ȳ₁₀)−(ȳ₀₁−ȳ₀₀) over value cents, hash
    // cohort × calendar split: the causal-read companion to q171's
    // raw A/B z (DiD nets out both the cohort baseline and the
    // secular time trend). One 4-cell aggregate; means are exact
    // integer ratios, the estimate one snapped double expression.
    "q272_diff_in_diff" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        (col("user_id") % 2 === 0).as("tr"),
        (dayofmonth(col("ts")) >= 16).as("po"),
        round(col("value") * 100).cast("long").as("vc"))
      def cell(t0: Boolean, p0: Boolean, c: Column): Column =
        sum(when(col("tr") === t0 && col("po") === p0, c))
      val m = (s0: Column, n0: Column) =>
        s0.cast("double") / n0.cast("double")
      ev.agg(
          cell(true, true, lit(1L)).as("n11"),
          cell(true, true, col("vc")).as("s11"),
          cell(true, false, lit(1L)).as("n10"),
          cell(true, false, col("vc")).as("s10"),
          cell(false, true, lit(1L)).as("n01"),
          cell(false, true, col("vc")).as("s01"),
          cell(false, false, lit(1L)).as("n00"),
          cell(false, false, col("vc")).as("s00"))
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
          round((m(col("s11"), col("n11")) / 100.0)
            .cast("decimal(20,10)"), 4).cast("double").as("mean_tp"),
          round((m(col("s10"), col("n10")) / 100.0)
            .cast("decimal(20,10)"), 4).cast("double").as("mean_tb"),
          round((m(col("s01"), col("n01")) / 100.0)
            .cast("decimal(20,10)"), 4).cast("double").as("mean_cp"),
          round((m(col("s00"), col("n00")) / 100.0)
            .cast("decimal(20,10)"), 4).cast("double").as("mean_cb"),
          round(((m(col("s11"), col("n11")) - m(col("s10"), col("n10"))
            - (m(col("s01"), col("n01")) - m(col("s00"), col("n00"))))
            / 100.0).cast("decimal(20,10)"), 4).cast("double")
            .as("did"))
    }),
    // Series/quality: SEASONALITY-ADJUSTED anomaly days — daily event
    // volume vs its weekday's mean, flagged when the residual exceeds
    // 2σ of that weekday (a Monday is judged against Mondays; raw
    // thresholds would flag every weekend). The flag is the PURE
    // INTEGER inequality (c·n − S)² > 4·(n·ΣC² − S²) — resid and σ
    // never materialize as floats, so the verdict is exact on any
    // engine. One day aggregate + a 7-row broadcast.
    "q269_seasonal_anomaly" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("c"))
        .withColumn("dow", dayofweek(col("d")))
      val g = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(dec(col("c")) * col("c")).as("m2"))
      daily.join(broadcast(g), "dow")
        .select(col("d"), col("dow"), col("c").as("n_events"),
          round((col("sc").cast("double") / col("n").cast("double"))
            .cast("decimal(20,10)"), 2).cast("double").as("expected"),
          ((dec(col("c")) * col("n") - col("sc")) *
            (dec(col("c")) * col("n") - col("sc")) >
            (dec(col("n")) * col("m2") - dec(col("sc")) * col("sc"))
              * 4).as("is_anomaly"))
    }),
    // Sampling: NEYMAN-ALLOCATED stratified sample of event values by
    // type — the design-optimal n_h ∝ N_h·σ_h budget split
    // (proportional allocation wastes budget on low-variance strata),
    // exact largest-remainder rounding on ×1e6 integer micro-shares,
    // then the deterministic per-stratum bottom-alloc md5 draw with
    // its sample-mean receipt.
    "q236_neyman" -> ((s, dir) =>
      Sampling.neymanAllocation(t(s, dir, "events"),
        col("event_type"), round(col("value") * 100).cast("long"),
        col("event_id"), 500)),
    // Stats/eval: DECILE LIFT table — event value as a purchase
    // score: what do the top-d deciles actually capture vs the base
    // rate? AUC (q182) summarizes the ranking; this is the acting
    // read. Distinct scores rank on the two-level prefix kernel,
    // tied scores take their worst decile (can't split — order-
    // invariant), the cumulative walk runs on the 10-row tile table.
    "q233_decile_lift" -> ((s, dir) =>
      Profile.decileLift(t(s, dir, "events"),
        round(col("value") * 100).cast("long"),
        col("event_type") === "purchase", 10, 1024L)),
    // Stats/ML: optimal DECISION-STUMP split — which event value
    // threshold best separates purchases from everything else, by
    // Gini impurity reduction over EVERY distinct cent value as a
    // candidate. Both running label counts ride one two-level prefix
    // pass; the argmax is a TakeOrdered head. The supervised
    // counterpart of q222's unsupervised change-point.
    "q229_gini_stump" -> ((s, dir) =>
      Profile.giniSplitStump(t(s, dir, "events"),
        round(col("value") * 100).cast("long"),
        col("event_type") === "purchase", 1024L)),
    // Stats: deterministic BLOCK BOOTSTRAP percentile CI for the mean
    // event value — users hash into 50 blocks (within-user dependence
    // stays intact), 200 replicates redraw blocks with replacement
    // via hashed (replicate, draw) selection — no RNG state, same
    // answer on any engine/partitioning. One data-sized aggregate;
    // everything after is bounded by reps×m. The jackknife (q170)
    // gives the SE; this gives the full resampling distribution's
    // exact 2.5/97.5 order statistics.
    "q227_block_bootstrap" -> ((s, dir) =>
      Profile.blockBootstrapMean(t(s, dir, "events"),
        col("user_id"), round(col("value") * 100).cast("long"),
        50, 200)),
    // Stats/series: single CHANGE-POINT localization per order
    // priority — daily revenue pre-collapses to the bounded (grp, day)
    // grid (the q196 contract), then ONE prefix-sum window scores
    // every split's between-segment SSE reduction and the argmax
    // names the day the regime changed. CUSUM (q80) screens "did it
    // drift"; this answers "WHERE did it break" — the localization
    // read a 100 TB ingest-quality monitor runs after the screen
    // fires.
    "q222_changepoint" -> ((s, dir) =>
      Profile.changePointSSE(
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("grp"),
            col("o_orderdate").cast("date").as("day"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("vc")),
        col("grp"), col("day"), col("vc"))),
    // Stats: per-source KENDALL τ-b between token count and char
    // length — pairwise order agreement under heavy ties (many docs
    // share a token count), on the distinct (x, y) cell grid, never
    // row pairs. Length enters in 16-char buckets: kendallTauB's work
    // is Σ|cells|², so the CALLER bounds the value domains (the
    // theilSenTrend pre-collapse contract) — raw char length is
    // near-unique per doc and would re-inflate the grid to row pairs.
    "q210_kendall_tau" -> ((s, dir) =>
      Profile.kendallTauB(t(s, dir, "documents"), col("source"),
        Text.tokenCount(col("text")),
        floor(length(col("text")) / lit(16)))
        .withColumnRenamed("g", "source")),
    // Series: per-symbol AUTOCORRELATION at lags 1–3 — the series
    // pre-collapses to one exact-cents row per (symbol, day) (q196's
    // total-order lesson), all three lags ride one ordered window,
    // correlations on exact DECIMAL moments.
    "q204_acf" -> ((s, dir) => {
      val series = bars(s, dir)
        .groupBy(col("symbol"), col("d"))
        .agg(sum(round(col("px") * 100).cast("long")).as("px_c"))
      Resample.acf(series, col("symbol"), col("d"), col("px_c"), 3)
        .select(col("series").as("symbol"), col("lag"), col("n"),
          col("acf"))
    }),
    // Profiling: exact interpolated percentiles per group (median/p90)
    // — one sort-aggregate per group key; snapped through
    // decimal(20,10) so the interpolation rounds identically.
    "q97_group_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(percentile(col("o_totalprice"), lit(0.5))
            .cast("decimal(20,10)"), 4).cast("double").as("p50"),
          round(percentile(col("o_totalprice"), lit(0.9))
            .cast("decimal(20,10)"), 4).cast("double").as("p90"))),
    // Series: day-of-week seasonality — per-symbol DOW mean price vs
    // the symbol's overall mean, every mean an exact integer-cents
    // rational, ONE double division at the end (engine-proof; dow is
    // epoch-day mod 7 so no engine's week-start convention leaks in).
    "q99_dow_seasonality" -> ((s, dir) => {
      val b = bars(s, dir).select(col("symbol"),
        pmod(datediff(col("d"), lit("1970-01-01").cast("date")), lit(7))
          .as("dow"),
        round(col("px") * 100).cast("long").as("px_c"))
      val byDow = b.groupBy(col("symbol"), col("dow"))
        .agg(count(lit(1)).as("n_dow"), sum(col("px_c")).as("s_dow"))
      val bySym = b.groupBy(col("symbol"))
        .agg(count(lit(1)).as("n_all"), sum(col("px_c")).as("s_all"))
      byDow.join(bySym, Seq("symbol"))
        .filter(col("symbol") <= 50)
        .select(col("symbol"), col("dow"), col("n_dow"),
          round(((col("s_dow") * col("n_all")).cast("double") /
            (col("n_dow") * col("s_all")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("ratio"))
    }),
    // Quality: PSI distribution drift between two order populations —
    // fixed bins, exact integer histograms, each (p−q)·ln(p/q) term
    // snapped to ×1e6 BIGINT before the sum (order-free, the q72
    // pattern); bins counted only where BOTH sides have mass.
    "q90_psi_drift" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def hist(par: Int, as: String) =
        o.filter(pmod(col("o_orderkey"), lit(2)) === par)
          .groupBy(floor(col("o_totalprice") / 20000).cast("long").as("bin"))
          .agg(count(lit(1)).as(as))
      Quality.psiBetween(hist(0, "n_r"), hist(1, "n_c"))
    }),
    // Quality: CUSUM drift per symbol (sequential ingest monitor) —
    // integer-cent values, exact integer mean, fold state packed as
    // S·2^20 + alarms so the whole recursion is bit-identical integer
    // arithmetic on any engine.
    "q86_cusum_drift" -> ((s, dir) => {
      val b = Merge.keepLatestInSeries(bars(s, dir), Seq("symbol"), Seq("d"),
        struct(col("ord"), col("px"), col("vol")))
      Quality.cusumDrift(b, col("symbol"), col("d"),
        round(col("px") * 100).cast("long"), 50L, 500L)
        .withColumnRenamed("series", "symbol")
    }),
    // Series: RANGE-frame rolling window — a 7-CALENDAR-DAY mean per
    // symbol (range ≠ rows when dates gap or repeat). Prices snap to
    // integer cents before the frame sum, so the windowed aggregate is
    // exact and order-free on any engine.
    "q83_range_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("symbol")).orderBy(col("day"))
        .rangeBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
      bars(s, dir)
        .withColumn("day", datediff(col("d"), lit("1970-01-01").cast("date")))
        .withColumn("px_c", round(col("px") * 100).cast("long"))
        .select(col("symbol"), col("d"),
          count(lit(1)).over(w).as("n_win"),
          round((sum(col("px_c")).over(w).cast("double") / 100.0 /
            count(lit(1)).over(w)).cast("decimal(20,10)"), 4)
            .cast("double").as("avg7"))
    }),
    // Quality/stats: per-source drift screen under FDR CONTROL — every
    // source's quality distribution KS-tested against the rest of the
    // corpus (leave-one-out, grid-derived rest ECDF — one pass, no
    // m× corpus replication), Smirnov asymptotic p = 2e^(−2D²n₁n₂/n),
    // then Benjamini–Hochberg at α=0.05 decides WHICH sources to flag
    // — the multiple-testing gate 20 simultaneous screens need.
    "q214_drift_fdr" -> ((s, dir) => {
      val ks = Quality.ksLeaveOneOut(
        t(s, dir, "documents").select(col("source"), col("text")),
        col("source"),
        round(Text.qualityScore(col("text")) * 1e4).cast("long"),
        1000L)
      val tests = ks.withColumn("p",
        least(lit(1.0), round((lit(2.0) *
          exp(lit(-2.0) * col("ks") * col("ks") *
            col("n1").cast("double") * col("n2").cast("double") /
            (col("n1") + col("n2")).cast("double")))
          .cast("decimal(20,10)"), 6).cast("double")))
      Profile.bhFdr(tests, col("p"), 0.05, col("g"))
        .withColumnRenamed("g", "source")
    }),
    // Aggregate extension: hierarchical ROLLUP totals (subtotal rows
    // carry NULL group keys, matching ANSI GROUP BY ROLLUP).
    "q40_rollup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .rollup(col("c_nationkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
    }),
    // Aggregate extension: exact interpolated quantiles per group.
    "q41_quantiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"),
          count(lit(1)).as("n"))),
    // Beyond-reference: rolling per-symbol indicators over the daily
    // series — 20-bar moving average, 10-bar rate of change, running-max
    // drawdown. One window partitioning serves all three frames; only
    // exactly-reproducible aggregates (avg/max/lag), snapped through
    // decimal(20,10) before the 4-place round.
    "q53_rolling_indicators" -> ((s, dir) => {
      // dedup INSIDE the symbol partitioning (keepLatestInSeries): the
      // dedup and all three indicator windows share one exchange
      val b = Merge.keepLatestInSeries(bars(s, dir), Seq("symbol"), Seq("d"),
        struct(col("ord"), col("px"), col("vol")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("d")
      val w20 = w.rowsBetween(-19, 0)
      val wRun = w.rowsBetween(Long.MinValue, 0)
      b.select(col("symbol"), col("d"),
        round(avg(col("px")).over(w20).cast("decimal(20,10)"), 4)
          .cast("double").as("sma20"),
        round((col("px") / lag(col("px"), 10).over(w) - 1)
          .cast("decimal(20,10)"), 4).cast("double").as("roc10"),
        round((col("px") / max(col("px")).over(wRun) - 1)
          .cast("decimal(20,10)"), 4).cast("double").as("drawdown"))
    }),
    // Beyond-reference: per-symbol EMA(α=0.1) — the recursive indicator
    // no window frame expresses. One hash-collect per symbol, one
    // ordered fold; identical fold order on both engines makes the
    // doubles bit-identical with NO rounding. Scale: state is one
    // array per symbol (bounded series), shuffle on the symbol key.
    "q58_ema" -> ((s, dir) => {
      val b = Merge.keepLatestInSeries(bars(s, dir), Seq("symbol"), Seq("d"),
        struct(col("ord"), col("px"), col("vol")))
      b.groupBy(col("symbol"))
        .agg(sort_array(collect_list(struct(col("d"), col("px")))).as("ser"))
        .select(col("symbol"), size(col("ser")).as("n_days"),
          Cols.bound(transform(col("ser"), r => r("px"))) { px =>
            aggregate(slice(px, lit(2), size(px) - 1), element_at(px, 1),
              (acc, x) => lit(0.1) * x + lit(0.9) * acc)
          }.as("ema"))
    }),
    // Beyond-reference: CUBE over (nation, order status) — all four
    // grouping-set combinations in one pass (q40 covers ROLLUP).
    "q59_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .cube(col("c_nationkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))),
    // Beyond-reference: pairwise monthly-return correlation over the
    // top-20 symbols by volume — the quant correlation matrix. Pearson
    // from RAW SUMS (not the Welford-based corr() builtin, whose
    // update order differs per engine); with returns ≤ |0.5| over ~70
    // periods the sum noise is ~1e-15, far under the decimal snap.
    "q61_return_corr" -> ((s, dir) => {
      val monthly = Resample.ohlc(bars(s, dir), col("symbol"),
        Resample.monthEnd(col("d")), col("px"), col("vol"), col("ord"))
      val rets = Resample.periodReturn(monthly)
        .filter(col("return").isNotNull)
        .select(col("symbol"), col("period"), col("return").as("ret"))
      // Top-20 via orderBy+limit → TakeOrderedAndProject: every partition
      // computes its own top-20 and only those reach the driver-side
      // merge — fully parallel. (A row_number over a global Window here
      // funnels ALL per-symbol aggregates through ONE task; it was the
      // codebase's only unpartitioned window.) Tiebreak (v desc, symbol)
      // keeps the selection deterministic.
      val top = bars(s, dir).groupBy(col("symbol"))
        .agg(round(sum(col("vol")), 2).as("v"))
        .orderBy(col("v").desc, col("symbol"))
        .limit(20).select(col("symbol"))
      val r = rets.join(broadcast(top), "symbol")
      val pairs = r.as("a").join(r.as("b"),
          col("a.period") === col("b.period") &&
            col("a.symbol") < col("b.symbol"))
        .select(col("a.symbol").as("s1"), col("b.symbol").as("s2"),
          col("a.ret").as("x"), col("b.ret").as("y"))
      pairs.groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("n_periods"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("s1"), col("s2"), col("n_periods"),
          Cols.bound(col("n_periods").cast("double")) { n =>
            Cols.bound(sqrt(n * col("sxx") - col("sx") * col("sx")) *
              sqrt(n * col("syy") - col("sy") * col("sy"))) { den =>
              when(den > 0,
                round(((n * col("sxy") - col("sx") * col("sy")) / den)
                  .cast("decimal(20,10)"), 4).cast("double"))
            }
          }.as("corr"))
    }),
    // Beyond-reference: mergeable histogram quantiles — the one-pass
    // percentile path for 100 TB (exact percentiles need a full sort;
    // q41 keeps the exact face). Registers are exact integer counts, so
    // the interpolated estimate is deterministic on any engine.
    "q64_hist_quantiles" -> ((s, dir) =>
      Sketch.histQuantiles(
        Sketch.histRegisters(t(s, dir, "orders"), Seq("o_orderstatus"),
          col("o_totalprice"), 1000.0),
        Seq("o_orderstatus"), 1000.0, Seq(0.5, 0.95))),
    // P-dynamic: schema reconciliation on load — missing column appears
    // as typed null, drifted type casts back, target order projected.
    "q46_schema_reconcile" -> ((s, dir) => {
      val target = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("source_file",
          org.apache.spark.sql.types.StringType)))
      val drifted = t(s, dir, "events")
        .select(col("user_id").cast("int").as("user_id"),
          col("value").cast("string").as("value"))
      // count of null source_file proves the backfilled column exists
      // while keeping the aggregate hash-based (max(string) would force
      // a SortAggregate — needless sort at scale)
      Pipeline.reconcileSchema(drifted, target)
        .groupBy(col("user_id"))
        .agg(round(sum(col("value")), 2).as("value_sum"),
          sum(when(col("source_file").isNull, 1).otherwise(0)).as("n_null_sf"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    // Same cents fixed point: percentile bounds round to cents, clamp
    // and sum in exact integers, mean through the DECIMAL snap.
    // Same md5 covariates; UNION-melted arms, HUGEINT moment
    // numerators, one double chain and micro snap per covariate.
    "q506_smd_balance" ->
      s"""WITH s AS (SELECT
         |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         |    CAST(${h60("'c1' || CAST(event_id AS VARCHAR)")}
         |        % 1000000 AS BIGINT)
         |      + CASE WHEN user_id % 2 = 0 THEN 150000 ELSE 0 END
         |      AS c1,
         |    CAST(${h60("'c2' || CAST(event_id AS VARCHAR)")}
         |      % 1000000 AS BIGINT) AS c2 FROM events),
         |m AS (SELECT t, 'age' AS cov, c1 AS x FROM s
         |  UNION ALL SELECT t, 'income', c2 FROM s),
         |a AS (SELECT cov, t, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS s1,
         |    sum(CAST(x AS HUGEINT) * x) AS s2
         |  FROM m GROUP BY 1, 2),
         |w AS (SELECT cov, t, n, CAST(s1 // n AS BIGINT) AS m,
         |    CAST(n AS HUGEINT) * s2 - s1 * s1 AS vnum,
         |    CAST(n AS HUGEINT) * (n - 1) AS vden FROM a),
         |j AS (SELECT tt.cov, tt.n AS n_t, cc.n AS n_c,
         |    tt.m AS mean_t_micro, cc.m AS mean_c_micro,
         |    (CAST(tt.vnum AS DOUBLE) / CAST(tt.vden AS DOUBLE)
         |      + CAST(cc.vnum AS DOUBLE) / CAST(cc.vden AS DOUBLE))
         |      / CAST(2 AS DOUBLE) AS pooled
         |  FROM w tt JOIN w cc
         |    ON tt.cov = cc.cov AND tt.t = 1 AND cc.t = 0)
         |SELECT cov, n_t, n_c, mean_t_micro, mean_c_micro,
         |  CASE WHEN pooled <= 0 THEN NULL ELSE
         |    CAST(round(CAST(mean_t_micro - mean_c_micro AS DOUBLE)
         |      / sqrt(pooled) * CAST(1000000 AS DOUBLE)) AS BIGINT)
         |    END AS smd_micro,
         |  coalesce(abs(CASE WHEN pooled <= 0 THEN NULL ELSE
         |    CAST(round(CAST(mean_t_micro - mean_c_micro AS DOUBLE)
         |      / sqrt(pooled) * CAST(1000000 AS DOUBLE)) AS BIGINT)
         |    END) < 100000, false) AS balanced
         |FROM j""".stripMargin,

    // The q06 keep-latest series, two lag windows, the single
    // cross-multiplied HUGEINT floor.
    "q507_mase" ->
      s"""WITH b AS (SELECT * FROM (SELECT *, row_number() OVER (
         |    PARTITION BY symbol, d
         |    ORDER BY ord DESC, px DESC, vol DESC) AS rn
         |  FROM ($barsSql)) WHERE rn = 1),
         |v AS (SELECT symbol, d,
         |    CAST(round(px * 100) AS BIGINT) AS v FROM b),
         |e AS (SELECT symbol,
         |    abs(v - lag(v, 1) OVER w) AS e1,
         |    abs(v - lag(v, 5) OVER w) AS es
         |  FROM v WINDOW w AS (PARTITION BY symbol ORDER BY d))
         |SELECT symbol AS series,
         |  CAST(count(e1) AS BIGINT) AS n_naive,
         |  CAST(count(es) AS BIGINT) AS n_seasonal,
         |  CAST(coalesce(sum(e1), 0) AS BIGINT) AS sum_abs_naive,
         |  CAST(coalesce(sum(es), 0) AS BIGINT) AS sum_abs_seasonal,
         |  CASE WHEN coalesce(sum(es), 0) = 0 OR count(e1) = 0
         |    THEN NULL ELSE
         |    CAST((CAST(sum(e1) AS HUGEINT) * count(es) * 1000000)
         |      // (CAST(sum(es) AS HUGEINT) * count(e1)) AS BIGINT)
         |    END AS mase_micro
         |FROM e GROUP BY symbol""".stripMargin,

    // Same md5 confounding; bucket cell means by truncating //, the
    // arms=2 common-support trim, one weighted floor.
    "q508_ps_ate" ->
      s"""WITH s AS (SELECT
         |    CAST(${h60("'ps' || CAST(event_id AS VARCHAR)")}
         |      % 1000000 AS BIGINT) AS sc,
         |    ${h60("'tr' || CAST(event_id AS VARCHAR)")} % 1000000 <
         |      ${h60("'ps' || CAST(event_id AS VARCHAR)")} % 1000000
         |      AS tr FROM events),
         |r AS (SELECT CASE WHEN tr THEN 1 ELSE 0 END AS t,
         |    least(4, (sc * 5) // 1000000) AS b,
         |    sc // 2 + CASE WHEN tr THEN 100000 ELSE 0 END AS y
         |  FROM s),
         |cells AS (SELECT b, t, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(y AS HUGEINT)) AS sy FROM r GROUP BY 1, 2),
         |cm AS (SELECT b, t, n, CAST(sy // n AS BIGINT) AS m
         |  FROM cells),
         |bins AS (SELECT b, sum(n) AS nb, count(*) AS arms,
         |    max(CASE WHEN t = 1 THEN m END) AS mt,
         |    max(CASE WHEN t = 0 THEN m END) AS mc
         |  FROM cm GROUP BY 1),
         |raw AS (SELECT CAST(sum(n) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN t = 1 THEN sy END)
         |        // sum(CASE WHEN t = 1 THEN n END) AS BIGINT)
         |      - CAST(sum(CASE WHEN t = 0 THEN sy END)
         |        // sum(CASE WHEN t = 0 THEN n END) AS BIGINT)
         |      AS raw_diff_micro
         |  FROM cells),
         |agg AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN arms = 2 THEN nb END), 0)
         |      AS BIGINT) AS n_used,
         |    CAST(coalesce(sum(CASE WHEN arms = 2 THEN 1 END), 0)
         |      AS BIGINT) AS n_bins_used,
         |    coalesce(sum(CASE WHEN arms = 2
         |      THEN CAST(nb AS HUGEINT) * (mt - mc) END), 0) AS ws
         |  FROM bins)
         |SELECT raw.n, agg.n_used, agg.n_bins_used,
         |  CASE WHEN agg.n_used = 0 THEN NULL ELSE
         |    CAST(agg.ws // agg.n_used AS BIGINT) END AS ate_micro,
         |  raw.raw_diff_micro
         |FROM agg CROSS JOIN raw""".stripMargin,

    // Same md5 hazards; single-window cumulative at-risk counts (the
    // engine's two-level kernel must equal them), HUGEINT nano
    // floors per event time, the same final double chain.
    "q501_log_rank" ->
      s"""WITH s AS (SELECT
         |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
         |    1 + event_id % 50 AS t,
         |    CASE WHEN ${h60("'lr' || CAST(event_id AS VARCHAR)")}
         |        % 100 < 60 + CASE WHEN user_id % 2 = 0 THEN 15
         |        ELSE 0 END
         |      THEN 1 ELSE 0 END AS e FROM events),
         |byt AS (SELECT t, sum(g1) AS c1, sum(1 - g1) AS c2,
         |    sum(g1 * e) AS d1, sum((1 - g1) * e) AS d2
         |  FROM s GROUP BY 1),
         |tot AS (SELECT CAST(sum(g1) AS BIGINT) AS n1t,
         |    CAST(sum(1 - g1) AS BIGINT) AS n2t FROM s),
         |cum AS (SELECT t, d1, d2,
         |    coalesce(sum(c1) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS c1b,
         |    coalesce(sum(c2) OVER (ORDER BY t
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS c2b FROM byt),
         |t2 AS (SELECT d1, d1 + d2 AS d,
         |    n1t - c1b AS n1, n2t - c2b AS n2,
         |    (n1t - c1b) + (n2t - c2b) AS nr
         |  FROM cum CROSS JOIN tot WHERE d1 + d2 > 0),
         |agg AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
         |    CAST(sum((CAST(d AS HUGEINT) * n1 * 1000000000) // nr)
         |      AS BIGINT) AS e1_nano,
         |    CAST(sum(CASE WHEN nr <= 1 THEN 0 ELSE
         |      (CAST(d AS HUGEINT) * n1 * n2 * (nr - d)
         |        * 1000000000)
         |      // (CAST(nr AS HUGEINT) * nr * (nr - 1)) END)
         |      AS BIGINT) AS v_nano FROM t2),
         |z AS (SELECT tot.n1t AS n_1, tot.n2t AS n_2, agg.o1,
         |    agg.e1_nano, agg.v_nano,
         |    CASE WHEN agg.v_nano = 0 THEN NULL ELSE
         |      CAST(round((CAST(agg.o1 AS DOUBLE)
         |          - CAST(agg.e1_nano AS DOUBLE)
         |            / CAST(1000000000 AS DOUBLE))
         |        / sqrt(CAST(agg.v_nano AS DOUBLE)
         |            / CAST(1000000000 AS DOUBLE))
         |        * CAST(1000000 AS DOUBLE)) AS BIGINT) END
         |      AS z_micro
         |  FROM agg CROSS JOIN tot)
         |SELECT n_1, n_2, o1, e1_nano, v_nano, z_micro,
         |  coalesce(abs(z_micro) >= 1960000, false) AS significant
         |FROM z""".stripMargin,

    // Same md5 outcomes/cells; HUGEINT cell sums, truncating //
    // means, conditional-max pivot, null on any empty cell.
    "q499_diff_in_diff" ->
      s"""WITH r AS (SELECT
         |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
         |    CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS p,
         |    CAST(${h60("'dd2' || CAST(event_id AS VARCHAR)")}
         |        % 2000000 AS BIGINT) - 1000000
         |      + CASE WHEN user_id % 2 = 0 AND event_id % 2 = 1
         |        THEN 250000 ELSE 0 END AS y
         |  FROM events),
         |c AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(y AS HUGEINT)) // count(*) AS BIGINT)
         |      AS m
         |  FROM r GROUP BY 1, 2)
         |SELECT
         |  coalesce(max(CASE WHEN t = 1 AND p = 0 THEN n END), 0)
         |    AS n_t_pre,
         |  coalesce(max(CASE WHEN t = 1 AND p = 1 THEN n END), 0)
         |    AS n_t_post,
         |  coalesce(max(CASE WHEN t = 0 AND p = 0 THEN n END), 0)
         |    AS n_c_pre,
         |  coalesce(max(CASE WHEN t = 0 AND p = 1 THEN n END), 0)
         |    AS n_c_post,
         |  max(CASE WHEN t = 1 AND p = 0 THEN m END)
         |    AS mean_t_pre_micro,
         |  max(CASE WHEN t = 1 AND p = 1 THEN m END)
         |    AS mean_t_post_micro,
         |  max(CASE WHEN t = 0 AND p = 0 THEN m END)
         |    AS mean_c_pre_micro,
         |  max(CASE WHEN t = 0 AND p = 1 THEN m END)
         |    AS mean_c_post_micro,
         |  CASE WHEN count(*) < 4 THEN NULL ELSE
         |    (max(CASE WHEN t = 1 AND p = 1 THEN m END)
         |     - max(CASE WHEN t = 1 AND p = 0 THEN m END))
         |    - (max(CASE WHEN t = 0 AND p = 1 THEN m END)
         |       - max(CASE WHEN t = 0 AND p = 0 THEN m END)) END
         |    AS did_micro
         |FROM c""".stripMargin,

    // Same md5 buckets/outliers; HUGEINT bucket sums, truncating //
    // means, lower-median pick by (mean, bucket) rank.
    "q491_median_of_means" ->
      s"""WITH s AS (SELECT source AS grp,
         |    CAST(${h60("'mm' || CAST(doc_id AS VARCHAR)")} % 1000000
         |        AS BIGINT)
         |      + CASE WHEN doc_id % 101 = 0 THEN 80000000 ELSE 0 END
         |      AS v,
         |    ${h60("CAST(doc_id AS VARCHAR)")} % 9 AS b
         |  FROM documents),
         |pb AS (SELECT grp, b, CAST(count(*) AS BIGINT) AS nb,
         |    sum(CAST(v AS HUGEINT)) AS sb FROM s GROUP BY 1, 2),
         |pm AS (SELECT grp, b, nb, sb,
         |    CAST(sb // nb AS BIGINT) AS mb FROM pb),
         |r AS (SELECT grp, nb, mb,
         |    row_number() OVER (PARTITION BY grp
         |      ORDER BY mb, b) AS rn,
         |    sum(nb) OVER (PARTITION BY grp) AS n,
         |    sum(sb) OVER (PARTITION BY grp) AS ssum,
         |    count(*) OVER (PARTITION BY grp) AS nbk FROM pm)
         |SELECT grp, CAST(n AS BIGINT) AS n,
         |  CAST(nbk AS BIGINT) AS n_buckets,
         |  CAST(ssum // n AS BIGINT) AS mean_micro,
         |  mb AS mom_micro
         |FROM r WHERE rn = (nbk + 1) // 2""".stripMargin,

    // Same md5 actuals, grid unnest, exact percent terms, one
    // HUGEINT floor per (grp, q) for mean and coverage.
    "q492_pinball" ->
      s"""WITH s AS (SELECT source AS grp,
         |    CAST(${h60("'pb' || CAST(doc_id AS VARCHAR)")} % 1000000
         |      AS BIGINT) AS a,
         |    unnest([10, 50, 90]) AS q FROM documents)
         |SELECT grp, CAST(q AS INT) AS q_pct,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN a >= q * 10000
         |      THEN CAST(q AS HUGEINT) * (a - q * 10000)
         |      ELSE CAST(100 - q AS HUGEINT) * (q * 10000 - a) END)
         |    // (CAST(count(*) AS HUGEINT) * 100) AS BIGINT)
         |    AS pinball_micro,
         |  CAST((CAST(sum(CASE WHEN a <= q * 10000 THEN 1 ELSE 0 END)
         |      AS HUGEINT) * 1000000) // count(*) AS BIGINT)
         |    AS coverage_micro
         |FROM s GROUP BY grp, q""".stripMargin,

    "q147_winsorized_stats" ->
      """WITH r AS (SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS vc
        |  FROM lineitem),
        |b AS (SELECT g,
        |    CAST(round(quantile_cont(vc, CAST(0.01 AS DOUBLE)))
        |      AS BIGINT) AS lo_c,
        |    CAST(round(quantile_cont(vc, CAST(0.99 AS DOUBLE)))
        |      AS BIGINT) AS hi_c
        |  FROM r GROUP BY 1)
        |SELECT g AS l_returnflag, lo_c, hi_c,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN vc < lo_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN vc > hi_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  CAST(round(CAST(
        |    CAST(sum(least(greatest(vc, lo_c), hi_c)) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 100.0)
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS win_mean
        |FROM r JOIN b USING (g) GROUP BY 1, 2, 3""".stripMargin,
    // The pooled-ECDF sup over one ordered window (single-threaded
    // truth ≙ the engine's two-level prefix sum); the cross-products
    // stay exact (HUGEINT ≙ DECIMAL(38,0)), one double division.
    "q151_ks_drift" ->
      """WITH r AS (SELECT l_returnflag = 'R' AS t,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |n AS (SELECT
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM r),
        |bv AS (SELECT v,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM r GROUP BY 1),
        |c AS (SELECT sum(c1) OVER (ORDER BY v) AS cum1,
        |    sum(c2) OVER (ORDER BY v) AS cum2 FROM bv)
        |SELECT n1, n2,
        |  CAST(round(CAST(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS ks
        |FROM c CROSS JOIN n GROUP BY 1, 2""".stripMargin,
    // Same five HUGEINT moment sums (≙ DECIMAL(38,0)), same normal-
    // equation integers, same single double division / sqrt chain.
    "q152_ols_trend" ->
      s"""WITH b AS (SELECT symbol,
         |    date_diff('day', DATE '1970-01-01', d) AS x,
         |    CAST(round(px * 100) AS BIGINT) AS y
         |  FROM ($barsSql) WHERE symbol <= 200),
         |m AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         |  FROM b GROUP BY 1)
         |SELECT symbol, n,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE)
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS slope,
         |  CASE WHEN n * sxx - sx * sx = 0
         |      OR n * syy - sy * sy = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |        * CAST(n * syy - sy * sy AS DOUBLE))
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS r
         |FROM m""".stripMargin,
    // Same distinct-value cumulative weights, same integer 2·cum ≥
    // total crossing.
    "q167_weighted_median" ->
      """WITH r AS (SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS wt
        |  FROM lineitem),
        |bv AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS wsum
        |  FROM r GROUP BY 1, 2),
        |t AS (SELECT g, CAST(sum(wsum) AS BIGINT) AS tw
        |  FROM bv GROUP BY 1),
        |c AS (SELECT g, v,
        |    CAST(sum(wsum) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM bv)
        |SELECT c.g AS l_returnflag, t.tw AS total_w,
        |  round(CAST(min(c.v) AS DOUBLE) / 100.0, 2) AS w_median
        |FROM c JOIN t ON c.g = t.g
        |WHERE c.cum * 2 >= t.tw
        |GROUP BY 1, 2""".stripMargin,
    // Same distinct-pair running-max window (ROWS frame over the same
    // two-key sort).
    "q164_pareto_frontier" ->
      """WITH pts AS (SELECT CAST(round(p_retailprice * 100) AS BIGINT)
        |    AS price_c, p_size, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1, 2),
        |m AS (SELECT price_c, p_size, n_parts,
        |    max(p_size) OVER (ORDER BY price_c ASC, p_size DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxs
        |  FROM pts)
        |SELECT price_c, p_size, n_parts FROM m
        |WHERE maxs IS NULL OR p_size > maxs""".stripMargin,
    // Same per-user conversion reduction and the identical double op
    // order in the z chain.
    "q165_ab_test" ->
      """WITH pu AS (SELECT user_id % 2 AS arm,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY user_id),
        |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(converted) AS BIGINT) AS conv
        |  FROM pu GROUP BY 1),
        |a AS (SELECT n AS n_a, conv AS conv_a FROM arms WHERE arm = 0),
        |b AS (SELECT n AS n_b, conv AS conv_b FROM arms WHERE arm = 1)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |    THEN NULL ELSE
        |  CAST(round(CAST(
        |    ((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      - (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (CAST(1.0 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE)
        |        / CAST(n_a + n_b AS DOUBLE))
        |      * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE)))
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) END AS z
        |FROM a CROSS JOIN b""".stripMargin,
    // Same monthly-last collapse (full (d, ord, px) tiebreak), same
    // ×1e6 slope snap, same exact integer median crossing.
    "q182_theil_sen" ->
      s"""WITH b AS ($barsSql),
         |m AS (SELECT symbol, year(d) * 12 + month(d) - 1 AS xm,
         |    CAST(round(px * 100) AS BIGINT) AS pxc, d, ord
         |  FROM b WHERE symbol <= 100),
         |mm AS (SELECT symbol, xm, pxc AS yc FROM (
         |    SELECT symbol, xm, pxc, row_number() OVER (
         |      PARTITION BY symbol, xm
         |      ORDER BY d DESC, ord DESC, pxc DESC) AS rn FROM m)
         |  WHERE rn = 1),
         |pr AS (SELECT a.symbol AS g,
         |    CAST(round((CAST(b2.yc - a.yc AS DOUBLE)
         |      / CAST(b2.xm - a.xm AS DOUBLE)) * 1e6) AS BIGINT) AS s_fp
         |  FROM mm a JOIN mm b2
         |    ON a.symbol = b2.symbol AND a.xm < b2.xm),
         |bv AS (SELECT g, s_fp, CAST(count(*) AS BIGINT) AS c
         |  FROM pr GROUP BY 1, 2),
         |t AS (SELECT g, CAST(sum(c) AS BIGINT) AS tw FROM bv GROUP BY 1),
         |cc AS (SELECT g, s_fp,
         |    CAST(sum(c) OVER (PARTITION BY g ORDER BY s_fp
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM bv)
         |SELECT cc.g AS symbol, t.tw AS n_pairs,
         |  CAST(round(CAST(CAST(min(cc.s_fp) AS DOUBLE) / 1e6
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS ts_slope
         |FROM cc JOIN t USING (g) WHERE cc.cum * 2 >= t.tw
         |GROUP BY 1, 2""".stripMargin,
    // Same md5 hash blocks, same ×1e6 leave-one-out snap, same exact
    // integer moment algebra, same final double chain.
    "q184_block_jackknife" -> {
      val keySql = "CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)"
      s"""WITH r AS (SELECT ${h60(keySql)} % 20 AS b,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
         |  FROM lineitem),
         |pb AS (SELECT b, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(v) AS BIGINT) AS sb
         |  FROM r GROUP BY 1),
         |t AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
         |    CAST(sum(sb) AS BIGINT) AS s,
         |    CAST(count(*) AS BIGINT) AS bb FROM pb),
         |m AS (SELECT n, s, bb,
         |    CAST(round(CAST(s - sb AS DOUBLE) / CAST(n - nb AS DOUBLE)
         |      * 1e6) AS BIGINT) AS m_fp
         |  FROM pb CROSS JOIN t WHERE nb < n),
         |a AS (SELECT n, s, bb,
         |    CAST(sum(CAST(m_fp AS HUGEINT)) AS HUGEINT) AS sm,
         |    CAST(sum(CAST(m_fp AS HUGEINT) * CAST(m_fp AS HUGEINT))
         |      AS HUGEINT) AS sm2
         |  FROM m GROUP BY 1, 2, 3)
         |SELECT n AS n_rows, bb AS n_blocks,
         |  CAST(round(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
         |    / CAST(100.0 AS DOUBLE) AS DECIMAL(20,10)), 6) AS DOUBLE)
         |    AS mean,
         |  CAST(round(CAST(sqrt(CAST(bb - 1 AS DOUBLE)
         |      * CAST(bb * sm2 - sm * sm AS DOUBLE)
         |      / CAST(bb * bb AS DOUBLE) / 1e12)
         |    / CAST(100.0 AS DOUBLE) AS DECIMAL(20,10)), 6) AS DOUBLE)
         |    AS se
         |FROM a""".stripMargin
    },
    // Same first-digit-of-cents-string extraction, same log10
    // expected share, same χ² op order.
    "q185_benford" ->
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |    AS v FROM lineitem
        |  WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0),
        |c AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT)
        |    AS digit, CAST(count(*) AS BIGINT) AS n
        |  FROM v GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c)
        |SELECT digit, n,
        |  CAST(round(CAST(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS obs_share,
        |  CAST(round(CAST(log(CAST(1.0 AS DOUBLE)
        |    + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS benford_share,
        |  CAST(round(CAST(
        |    ((CAST(n AS DOUBLE) - CAST(nn AS DOUBLE)
        |       * log(CAST(1.0 AS DOUBLE)
        |         + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)))
        |     * (CAST(n AS DOUBLE) - CAST(nn AS DOUBLE)
        |       * log(CAST(1.0 AS DOUBLE)
        |         + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE))))
        |    / (CAST(nn AS DOUBLE) * log(CAST(1.0 AS DOUBLE)
        |       + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)))
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS chi2
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    // Same per-user reductions, same three exclusive-running-count bin
    // maps, same exact-integer monetary means.
    "q188_rfm" ->
      s"""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events),
         |pu AS (SELECT user_id,
         |    CAST(date_diff('day', max(CAST(ts AS DATE)),
         |      (SELECT d0 FROM mx)) AS BIGINT) AS rec,
         |    CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS mon
         |  FROM events GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM pu),
         |${rfmBinSql("rec", 5, "rb")},
         |${rfmBinSql("freq", 5, "fb")},
         |${rfmBinSql("mon", 5, "mb")}
         |SELECT rb.bin AS r_bin, fb.bin AS f_bin, mb.bin AS m_bin,
         |  CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(round(CAST(CAST(sum(mon) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / CAST(100.0 AS DOUBLE)
         |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS avg_monetary
         |FROM pu
         |JOIN rb ON pu.rec = rb.v
         |JOIN fb ON pu.freq = fb.v
         |JOIN mb ON pu.mon = mb.v
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Same daily collapse (full (ord, y) tiebreak), same windowed
    // moment sums, same end-of-series pick and normal-equation chain.
    "q196_rolling_beta" ->
      s"""WITH b AS ($barsSql),
         |f AS (SELECT symbol, d, ord,
         |    CAST(round(px * 100) AS BIGINT) AS y
         |  FROM b WHERE symbol <= 100),
         |daily AS (SELECT symbol, d, y,
         |    CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS x
         |  FROM (SELECT symbol, d, y, row_number() OVER (
         |      PARTITION BY symbol, d ORDER BY ord DESC, y DESC) AS rn
         |    FROM f) WHERE rn = 1),
         |r AS (SELECT symbol, d,
         |    CAST(count(*) OVER win AS BIGINT) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) OVER win AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) OVER win AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) OVER win AS HUGEINT)
         |      AS sxx,
         |    CAST(sum(CAST(x AS HUGEINT) * y) OVER win AS HUGEINT)
         |      AS sxy
         |  FROM daily
         |  WINDOW win AS (PARTITION BY symbol ORDER BY d
         |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
         |l AS (SELECT symbol, n, sx, sy, sxx, sxy, row_number() OVER (
         |    PARTITION BY symbol ORDER BY d DESC) AS rn FROM r)
         |SELECT symbol, n AS n_window,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE)
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS beta
         |FROM l WHERE rn = 1 ORDER BY symbol""".stripMargin,
    // Independent double-rank construction (window rank + tie count),
    // same HUGEINT moments and one-double chain as q194.
    "q201_spearman" ->
      """WITH r AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |    AS x, CAST(l_quantity AS BIGINT) AS y FROM lineitem),
        |bx AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1),
        |rx AS (SELECT x, 2 * COALESCE(CAST(sum(c) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) + c + 1 AS drx FROM bx),
        |by_ AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1),
        |ry AS (SELECT y, 2 * COALESCE(CAST(sum(c) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) + c + 1 AS dry FROM by_),
        |j AS (SELECT drx, dry FROM r JOIN rx USING (x) JOIN ry USING (y)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(drx AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(dry AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(drx AS HUGEINT) * drx) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(dry AS HUGEINT) * dry) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(drx AS HUGEINT) * dry) AS HUGEINT) AS sxy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |    THEN NULL ELSE
        |    CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE))
        |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS spearman
        |FROM m""".stripMargin,
    // Same division-free per-cell identity, same ×1e6 snap; the grid
    // is the margins' cross product so EMPTY cells contribute e.
    "q202_chi2_independence" ->
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS na,
        |    CAST(count(DISTINCT source) AS BIGINT) AS nb FROM cells),
        |grid AS (SELECT lang, source, rt, ct, COALESCE(o, 0) AS o
        |  FROM rt CROSS JOIN ct LEFT JOIN cells USING (lang, source)),
        |terms AS (SELECT nn, na, nb,
        |    CAST(round(1e6 * CAST((CAST(nn AS HUGEINT) * o
        |        - CAST(rt AS HUGEINT) * ct)
        |        * (CAST(nn AS HUGEINT) * o - CAST(rt AS HUGEINT) * ct)
        |        AS DOUBLE)
        |      / CAST(CAST(nn AS HUGEINT) * rt * ct AS DOUBLE))
        |      AS BIGINT) AS term_fp
        |  FROM grid CROSS JOIN tot)
        |SELECT nn AS n, na AS n_a, nb AS n_b,
        |  (na - 1) * (nb - 1) AS dof,
        |  CAST(round(CAST(CAST(sum(term_fp) AS DOUBLE) / 1e6
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS chi2
        |FROM terms GROUP BY 1, 2, 3, 4""".stripMargin,
    // Independent KM: window prefix count for at-risk, running ln-sum
    // for the product; same −1e8 sentinel where everyone at risk fails.
    "q203_kaplan_meier" ->
      """WITH pu AS (SELECT user_id, min(epoch_us(ts)) AS t0,
        |    max(epoch_us(ts)) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts)
        |      END) AS tp
        |  FROM events GROUP BY 1),
        |obs AS (SELECT (COALESCE(tp, t1) - t0) // 3600000000 AS t,
        |    (tp IS NOT NULL) AS e FROM pu),
        |byt AS (SELECT t, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM obs GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM obs),
        |rk AS (SELECT t, c, d, COALESCE(CAST(sum(c) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) AS cb FROM byt),
        |ev AS (SELECT t, n - cb AS n_risk, d,
        |    CASE WHEN d = n - cb THEN CAST(-100000000 AS BIGINT)
        |      ELSE CAST(round(1e6 * ln(CAST(n - cb - d AS DOUBLE)
        |        / CAST(n - cb AS DOUBLE))) AS BIGINT) END AS lf
        |  FROM rk CROSS JOIN nn WHERE d > 0)
        |SELECT t, n_risk, d AS n_events,
        |  CAST(round(CAST(exp(CAST(sum(lf) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) / 1e6) AS DECIMAL(20,10)), 4) AS DOUBLE)
        |    AS survival
        |FROM ev""".stripMargin,
    // GROUP BY CUBE with GROUPING() flags — same four grouping sets,
    // same flag semantics (1 = rolled up).
    "q248_cube_profile" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(GROUPING(source) AS INT) AS g_source,
        |  CAST(GROUPING(lang) AS INT) AS g_lang
        |FROM documents GROUP BY CUBE (source, lang)""".stripMargin,
    // Manual CASE pivot; DuckDB dayofweek is Sunday=0, Spark's is
    // Sunday=1 — the +1 aligns them.
    "q249_pivot_weekday" ->
      """WITH d AS (SELECT event_type, dayofweek(ts) + 1 AS dow
        |  FROM events)
        |SELECT event_type,
        |  CAST(count(*) FILTER (WHERE dow = 1) AS BIGINT) AS d1,
        |  CAST(count(*) FILTER (WHERE dow = 2) AS BIGINT) AS d2,
        |  CAST(count(*) FILTER (WHERE dow = 3) AS BIGINT) AS d3,
        |  CAST(count(*) FILTER (WHERE dow = 4) AS BIGINT) AS d4,
        |  CAST(count(*) FILTER (WHERE dow = 5) AS BIGINT) AS d5,
        |  CAST(count(*) FILTER (WHERE dow = 6) AS BIGINT) AS d6,
        |  CAST(count(*) FILTER (WHERE dow = 7) AS BIGINT) AS d7
        |FROM d GROUP BY 1""".stripMargin,
    // Same integer bin width floor((max-min)/64)+1, dense 64-bin grid
    // per source, HUGEINT CDF cross-multiples, one division at the
    // end.
    "q250_wasserstein_drift" ->
      """WITH r AS (SELECT source AS g, n_chars AS v FROM documents),
        |ext AS (SELECT min(v) AS vmin,
        |    (max(v) - min(v)) // 64 + 1 AS w FROM r),
        |gb AS (SELECT g, (v - vmin) // w AS bin,
        |    CAST(count(*) AS BIGINT) AS n_gb
        |  FROM r CROSS JOIN ext GROUP BY 1, 2),
        |gs AS (SELECT g, CAST(sum(n_gb) AS BIGINT) AS n_g
        |  FROM gb GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot FROM gs),
        |grid AS (SELECT g, n_g, b AS bin FROM gs
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
        |dg AS (SELECT grid.g, grid.n_g, grid.bin,
        |    coalesce(gb.n_gb, 0) AS n_gb
        |  FROM grid LEFT JOIN gb
        |    ON gb.g = grid.g AND gb.bin = grid.bin),
        |cg AS (SELECT g, n_g, bin, CAST(sum(n_gb) OVER (PARTITION BY g
        |    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |    ROW) AS BIGINT) AS cum_g FROM dg),
        |bt AS (SELECT b AS bin, CAST(coalesce(t.n_b, 0) AS BIGINT)
        |    AS n_b
        |  FROM (SELECT unnest(range(0, 64)) AS b)
        |  LEFT JOIN (SELECT bin, sum(n_gb) AS n_b FROM gb GROUP BY 1) t
        |    ON t.bin = b),
        |ct AS (SELECT bin, CAST(sum(n_b) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_t FROM bt)
        |SELECT g AS source, n_g,
        |  CASE WHEN n_tot = n_g THEN NULL ELSE
        |    CAST(round(CAST(CAST(sum(abs(
        |        CAST(cum_g AS HUGEINT) * (n_tot - n_g)
        |        - CAST(cum_t - cum_g AS HUGEINT) * n_g)) AS DOUBLE)
        |      / CAST(CAST(n_g AS HUGEINT) * (n_tot - n_g) AS DOUBLE)
        |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS w1
        |FROM cg JOIN ct USING (bin) CROSS JOIN tot
        |GROUP BY g, n_g, n_tot""".stripMargin,
    // Same µ-snapped paired diffs, same md5-parity flips over
    // range(1, 65), identical add-one p.
    "q252_signflip_test" ->
      s"""WITH ev AS (SELECT user_id, event_type,
         |    CAST(round(CAST(value AS DOUBLE) * CAST(1e6 AS DOUBLE))
         |      AS BIGINT) AS vu
         |  FROM events WHERE event_type IN ('purchase', 'click')),
         |pu AS (SELECT user_id,
         |    CAST(sum(vu) FILTER (WHERE event_type = 'purchase')
         |      AS BIGINT) AS sp,
         |    CAST(count(*) FILTER (WHERE event_type = 'purchase')
         |      AS BIGINT) AS np,
         |    CAST(sum(vu) FILTER (WHERE event_type = 'click')
         |      AS BIGINT) AS sc,
         |    CAST(count(*) FILTER (WHERE event_type = 'click')
         |      AS BIGINT) AS nc
         |  FROM ev GROUP BY 1 HAVING np > 0 AND nc > 0),
         |d AS (SELECT CAST(user_id AS VARCHAR) AS u,
         |    CAST(round(CAST(CAST(sp AS DOUBLE) / np
         |      - CAST(sc AS DOUBLE) / nc AS DECIMAL(20,10)), 0)
         |      AS BIGINT) AS dm
         |  FROM pu),
         |obs AS (SELECT CAST(sum(dm) AS BIGINT) AS t_obs,
         |    CAST(count(*) AS BIGINT) AS n_units FROM d),
         |fl AS (SELECT r, CAST(sum(CASE WHEN
         |      ${h60("'sf' || u || ':' || CAST(r AS VARCHAR)")} % 2 = 0
         |      THEN dm ELSE -dm END) AS BIGINT) AS t_r
         |  FROM d CROSS JOIN (SELECT unnest(range(1, 65)) AS r)
         |  GROUP BY 1)
         |SELECT n_units, t_obs, CAST(count(*) AS BIGINT) AS m,
         |  CAST(count(*) FILTER (WHERE abs(t_r) >= abs(t_obs))
         |    AS BIGINT) AS n_extreme,
         |  CAST(round(CAST(
         |    CAST(1 + count(*) FILTER (WHERE abs(t_r) >= abs(t_obs))
         |      AS DOUBLE) / (count(*) + 1) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS p_value
         |FROM fl CROSS JOIN obs GROUP BY 1, 2""".stripMargin,
    // Same cents snap, same exact-integer slope sign (never the
    // rounded double's), pooled row via the '_all' relabel.
    "q259_simpson_audit" ->
      """WITH rows_ AS (SELECT event_type AS g,
        |    CAST(hour(ts) AS BIGINT) AS x,
        |    CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS y
        |  FROM events),
        |ms AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM rows_ GROUP BY 1),
        |mm AS (SELECT g, n, n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS den FROM ms),
        |mp AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |    sum(sx) AS sx, sum(sy) AS sy, sum(sxy) AS sxy,
        |    sum(sxx) AS sxx FROM ms),
        |pp AS (SELECT n * sxy - sx * sy AS pnum FROM mp)
        |SELECT g, n,
        |  CAST(round(CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |    * CAST(1e6 AS DOUBLE) AS DECIMAL(20,10)), 0) AS BIGINT)
        |    AS slope_micro,
        |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0
        |    END AS INT) AS sign,
        |  CAST(CASE WHEN pnum > 0 THEN 1 WHEN pnum < 0 THEN -1 ELSE 0
        |    END AS INT) AS pooled_sign,
        |  (CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END)
        |    <> (CASE WHEN pnum > 0 THEN 1 WHEN pnum < 0 THEN -1
        |      ELSE 0 END) AS flip
        |FROM mm CROSS JOIN pp""".stripMargin,
    // Same exact below·5 ÷ N quintile rule (the oracle may sort the
    // distinct domains globally — the engine must not), same cents
    // snap and date-difference recency.
    "q262_rfm_segments" ->
      """WITH ev AS (SELECT user_id AS u, CAST(ts AS DATE) AS d,
        |    CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc
        |  FROM events),
        |mx AS (SELECT max(d) AS dmax FROM ev),
        |usr AS (SELECT u, CAST(min(dmax - d) AS BIGINT) AS rec,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(vc) AS BIGINT) AS mon
        |  FROM ev CROSS JOIN mx GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM usr),
        |rq AS (SELECT v, CAST(6 - (below * 5 // n + 1) AS INT)
        |    AS r_score
        |  FROM (SELECT v, CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |    FROM (SELECT rec AS v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM usr GROUP BY 1)) CROSS JOIN nn),
        |fq AS (SELECT v, CAST(below * 5 // n + 1 AS INT) AS f_score
        |  FROM (SELECT v, CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |    FROM (SELECT freq AS v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM usr GROUP BY 1)) CROSS JOIN nn),
        |mq AS (SELECT v, CAST(below * 5 // n + 1 AS INT) AS m_score
        |  FROM (SELECT v, CAST(coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |    FROM (SELECT mon AS v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM usr GROUP BY 1)) CROSS JOIN nn)
        |SELECT rq.r_score, fq.f_score, mq.m_score,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(round(CAST(CAST(sum(usr.mon) AS DOUBLE) / count(*)
        |    / CAST(100.0 AS DOUBLE) AS DECIMAL(20,10)), 2) AS DOUBLE)
        |    AS avg_monetary
        |FROM usr JOIN rq ON rq.v = usr.rec JOIN fq ON fq.v = usr.freq
        |JOIN mq ON mq.v = usr.mon
        |GROUP BY 1, 2, 3""".stripMargin,
    // The round-trip identity: pivot→unpivot with null cells dropped
    // IS the direct (user, type) aggregate.
    "q268_unpivot" ->
      """SELECT user_id, event_type,
        |  CAST(sum(CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    // Same ×N-scaled integer residual mass, same sandwich ratios.
    "q287_cluster_robust_se" ->
      """WITH ug AS (SELECT user_id % 2 = 0 AS tr, user_id,
        |    CAST(count(*) AS BIGINT) AS nu,
        |    CAST(sum(CAST(round(CAST(value AS DOUBLE) * 100)
        |      AS BIGINT)) AS BIGINT) AS su,
        |    sum(CAST(CAST(round(CAST(value AS DOUBLE) * 100)
        |      AS BIGINT) AS HUGEINT)
        |      * CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT))
        |      AS ssu
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT tr, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(nu) AS BIGINT) AS n, CAST(sum(su) AS BIGINT)
        |      AS sv, sum(ssu) AS ssv
        |  FROM ug GROUP BY 1),
        |crm AS (SELECT ug.tr,
        |    sum((CAST(n AS HUGEINT) * su - CAST(nu AS HUGEINT) * sv)
        |      * (CAST(n AS HUGEINT) * su - CAST(nu AS HUGEINT) * sv))
        |      AS crm
        |  FROM ug JOIN tot ON tot.tr = ug.tr GROUP BY 1)
        |SELECT tot.tr AS treat_cohort, n_users, n,
        |  CAST(round(CAST(CAST(sv AS DOUBLE) / n / 100.0
        |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS mean_value,
        |  CAST(round(CAST(sqrt(
        |      CAST(CAST(n AS HUGEINT) * ssv - CAST(sv AS HUGEINT) * sv
        |        AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n * n AS DOUBLE)) / 100.0
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS se_iid,
        |  CAST(round(CAST(sqrt(CAST(crm AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n * n * n AS DOUBLE))
        |      / 100.0 AS DECIMAL(20,10)), 4) AS DOUBLE)
        |    AS se_cluster,
        |  CAST(round(CAST(CAST(crm AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * ssv
        |      - CAST(sv AS HUGEINT) * sv) AS DOUBLE)
        |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS design_effect
        |FROM tot JOIN crm ON crm.tr = tot.tr""".stripMargin,
    // q306's sessionize chain; journeys cut at the first purchase,
    // then the same 8 ×1e9-snapped value-iteration steps with each
    // channel's inbound edges removed.
    "q311_removal_effect" -> {
      def stepSql(prev: String, tag: String): String =
        s"""$tag AS (SELECT i.rm, i.st, i.pc9,
           |  i.pc9 + coalesce(s.sc, 0) AS v9
           |  FROM init i LEFT JOIN (
           |    SELECT v.rm, e.from_s AS st,
           |      CAST(sum(CAST(round(e.pd * v.v9) AS BIGINT))
           |        AS BIGINT) AS sc
           |    FROM edges e JOIN $prev v
           |      ON v.st = e.to_s AND e.to_s <> v.rm
           |    GROUP BY 1, 2) s ON s.rm = i.rm AND s.st = i.st)"""
          .stripMargin
      s"""WITH m AS (SELECT user_id, ts, event_id, event_type,
         |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
         |        > 1800 * 1000000 THEN 1
         |      WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
         |      ELSE 0 END AS new_s
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sx AS (SELECT user_id, ts, event_id, event_type,
         |    sum(new_s) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS session_id
         |  FROM m),
         |fp AS (SELECT user_id, session_id, ts AS fts,
         |    event_id AS fid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY user_id,
         |      session_id ORDER BY ts, event_id) AS rn
         |   FROM sx WHERE event_type = 'purchase') WHERE rn = 1),
         |tch AS (SELECT s.user_id, s.session_id, s.ts, s.event_id,
         |    s.event_type, fp.fts IS NOT NULL AS conv
         |  FROM sx s LEFT JOIN fp USING (user_id, session_id)
         |  WHERE s.event_type <> 'purchase'
         |    AND (fp.fts IS NULL OR s.ts < fp.fts
         |      OR (s.ts = fp.fts AND s.event_id < fp.fid))),
         |sq AS (SELECT user_id, session_id, event_type, conv,
         |    row_number() OVER wt AS rn, lead(event_type) OVER wt
         |      AS nxt
         |  FROM tch WINDOW wt AS (PARTITION BY user_id, session_id
         |    ORDER BY ts, event_id)),
         |tr AS (SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS n
         |  FROM (
         |    SELECT event_type AS from_s, coalesce(nxt, CASE WHEN conv
         |      THEN 'CONV' ELSE 'DROP' END) AS to_s FROM sq
         |    UNION ALL SELECT 'START', event_type FROM sq WHERE rn = 1
         |    UNION ALL SELECT 'START', 'CONV' FROM fp
         |    WHERE NOT EXISTS (SELECT 1 FROM tch t
         |      WHERE t.user_id = fp.user_id
         |        AND t.session_id = fp.session_id))
         |  GROUP BY 1, 2),
         |rt AS (SELECT from_s, CAST(sum(n) AS BIGINT) AS rt
         |  FROM tr GROUP BY 1),
         |pc AS (SELECT r.from_s AS st,
         |    CAST(round(CAST(coalesce(c.n, 0) AS DOUBLE) / r.rt * 1e9)
         |      AS BIGINT) AS pc9
         |  FROM rt r LEFT JOIN (SELECT from_s, n FROM tr
         |    WHERE to_s = 'CONV') c USING (from_s)),
         |edges AS (SELECT t.from_s, t.to_s,
         |    CAST(t.n AS DOUBLE) / r.rt AS pd
         |  FROM tr t JOIN rt r USING (from_s)
         |  WHERE t.to_s NOT IN ('CONV', 'DROP')),
         |rms AS (SELECT DISTINCT rm FROM (
         |  SELECT from_s AS rm FROM tr WHERE from_s <> 'START'
         |  UNION ALL SELECT to_s FROM tr
         |    WHERE to_s NOT IN ('CONV', 'DROP')
         |  UNION ALL SELECT '__none')),
         |init AS (SELECT rm, st, pc9 FROM rms CROSS JOIN pc),
         |v1 AS (SELECT rm, st, pc9, pc9 AS v9 FROM init),
         |${stepSql("v1", "v2")},
         |${stepSql("v2", "v3")},
         |${stepSql("v3", "v4")},
         |${stepSql("v4", "v5")},
         |${stepSql("v5", "v6")},
         |${stepSql("v6", "v7")},
         |${stepSql("v7", "v8")},
         |pst AS (SELECT rm, v9 AS p9 FROM v8 WHERE st = 'START'),
         |base AS (SELECT p9 AS b9 FROM pst WHERE rm = '__none'),
         |re AS (SELECT rm AS channel, greatest(0, b9 - p9) AS re9, b9
         |  FROM pst CROSS JOIN base WHERE rm <> '__none'),
         |tt AS (SELECT CAST(sum(re9) AS BIGINT) AS ret FROM re)
         |SELECT channel,
         |  CASE WHEN b9 = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(re9 AS DOUBLE) / b9
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS removal_effect,
         |  CASE WHEN ret = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(re9 AS DOUBLE) / ret
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) END
         |    AS attribution_share
         |FROM re CROSS JOIN tt""".stripMargin
    },
    // Same exact centered HUGEINT moments and Cramer solve.
    "q312_multi_ols" ->
      """WITH r AS (SELECT
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS y,
        |    CAST(p_size AS BIGINT) AS a,
        |    CAST(length(p_name) AS BIGINT) AS b FROM part),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(a AS HUGEINT)) AS sa,
        |    sum(CAST(b AS HUGEINT)) AS sb,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(a AS HUGEINT) * a) AS saa,
        |    sum(CAST(a AS HUGEINT) * b) AS sab,
        |    sum(CAST(b AS HUGEINT) * b) AS sbb,
        |    sum(CAST(a AS HUGEINT) * y) AS say,
        |    sum(CAST(b AS HUGEINT) * y) AS sby,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM r),
        |c AS (SELECT n, sa, sb, sy,
        |    n * saa - sa * sa AS caa, n * sab - sa * sb AS cab,
        |    n * sbb - sb * sb AS cbb, n * say - sa * sy AS cay,
        |    n * sby - sb * sy AS cby, n * syy - sy * sy AS cyy
        |  FROM g),
        |s AS (SELECT n, sa, sb, sy, cay, cby, cyy,
        |    caa * cbb - cab * cab AS det,
        |    CAST(cay * cbb - cby * cab AS DOUBLE)
        |      / CAST(caa * cbb - cab * cab AS DOUBLE) AS ba,
        |    CAST(cby * caa - cay * cab AS DOUBLE)
        |      / CAST(caa * cbb - cab * cab AS DOUBLE) AS bb
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN det = 0 THEN NULL ELSE
        |    CAST(round(CAST(ba / 100.0 AS DECIMAL(20,10)), 6) AS DOUBLE)
        |    END AS beta_size,
        |  CASE WHEN det = 0 THEN NULL ELSE
        |    CAST(round(CAST(bb / 100.0 AS DECIMAL(20,10)), 6) AS DOUBLE)
        |    END AS beta_namelen,
        |  CASE WHEN det = 0 THEN NULL ELSE
        |    CAST(round(CAST((CAST(sy AS DOUBLE) - ba * CAST(sa AS DOUBLE)
        |      - bb * CAST(sb AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0
        |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS intercept,
        |  CASE WHEN det = 0 OR cyy = 0 THEN NULL ELSE
        |    CAST(round(CAST((ba * CAST(cay AS DOUBLE)
        |      + bb * CAST(cby AS DOUBLE)) / CAST(cyy AS DOUBLE)
        |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS r2
        |FROM s""".stripMargin,
    // Same midpoint split, exact centered HUGEINT moments, identical
    // double chains for theta/means.
    "q313_cuped" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |ext AS (SELECT CAST(floor((min(us) + max(us)) / 2) AS BIGINT)
        |    AS mid FROM ev),
        |pu AS (SELECT user_id % 2 AS arm,
        |    CAST(sum(CASE WHEN us <= mid THEN vc ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN us > mid THEN vc ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM ev CROSS JOIN ext GROUP BY user_id, user_id % 2),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT))
        |      AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pu),
        |c AS (SELECT n, sx, n * sxx - sx * sx AS cxx,
        |    n * sxy - sx * sy AS cxy, n * syy - sy * sy AS cyy
        |  FROM g),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS ng,
        |    sum(CAST(x AS HUGEINT)) AS sxg,
        |    sum(CAST(y AS HUGEINT)) AS syg
        |  FROM pu GROUP BY 1)
        |SELECT arm, ng AS n_users,
        |  CAST(round(CAST(CAST(syg AS DOUBLE) / CAST(ng AS DOUBLE)
        |    / 100.0 AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_y,
        |  CASE WHEN cxx = 0 THEN NULL ELSE
        |    CAST(round(CAST((CAST(syg AS DOUBLE)
        |      - (CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE))
        |        * (CAST(sxg AS DOUBLE) - CAST(ng AS DOUBLE)
        |          * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
        |      / CAST(ng AS DOUBLE) / 100.0 AS DECIMAL(20,10)), 4)
        |      AS DOUBLE) END AS mean_y_cuped,
        |  CASE WHEN cxx = 0 OR cyy = 0 THEN NULL ELSE
        |    CAST(round(CAST(CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE)
        |      * CAST(cxy AS DOUBLE) / CAST(cyy AS DOUBLE)
        |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS var_reduction
        |FROM a CROSS JOIN c""".stripMargin,
    // Same plants, same digit-run extraction, same fold.
    "q314_luhn_gate" ->
      """WITH pl AS (SELECT source, text ||
        |    CASE WHEN doc_id % 37 = 0 THEN ' pay 4532015112830366'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 41 = 0 THEN ' ref 4532015112830367'
        |      ELSE '' END AS text
        |  FROM documents),
        |cd AS (SELECT source,
        |    unnest(regexp_extract_all(text, '[0-9]+')) AS c FROM pl),
        |ok AS (SELECT source, c FROM cd
        |  WHERE length(c) BETWEEN 13 AND 16),
        |sc AS (SELECT source, CAST(list_sum([
        |    CASE WHEN (length(c) - j) % 2 = 1 THEN
        |      CASE WHEN CAST(c[j] AS INT) > 4
        |        THEN CAST(c[j] AS INT) * 2 - 9
        |        ELSE CAST(c[j] AS INT) * 2 END
        |    ELSE CAST(c[j] AS INT) END
        |    FOR j IN range(1, length(c) + 1)]) AS BIGINT) AS s
        |  FROM ok)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_candidates,
        |  CAST(sum(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_luhn_valid,
        |  CAST(round(CAST(CAST(sum(CASE WHEN s % 10 = 0 THEN 1
        |    ELSE 0 END) AS DOUBLE) / count(*) AS DECIMAL(20,10)), 4)
        |    AS DOUBLE) AS valid_share
        |FROM sc GROUP BY 1""".stripMargin,
    // Same exact rank deciles (running-below prefix), same single-ln
    // WoE and iv-term double chain.
    "q315_woe_iv" ->
      """WITH r AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS v,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS pos
        |  FROM orders),
        |bv AS (SELECT v, CAST(count(*) AS BIGINT) AS tot,
        |    CAST(sum(pos) AS BIGINT) AS p FROM r GROUP BY 1),
        |rk AS (SELECT v, tot, p,
        |    CAST(coalesce(sum(tot) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tot_below FROM bv),
        |nn AS (SELECT CAST(sum(tot) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS npos FROM bv),
        |bn AS (SELECT (tot_below * 10) // n AS decile, tot, p, n,
        |    npos
        |  FROM rk CROSS JOIN nn),
        |ag AS (SELECT decile, CAST(sum(tot) AS BIGINT) AS n_d,
        |    CAST(sum(p) AS BIGINT) AS pos_d,
        |    CAST(max(n) AS BIGINT) AS n,
        |    CAST(max(npos) AS BIGINT) AS npos
        |  FROM bn GROUP BY 1),
        |fn AS (SELECT decile, n_d, pos_d, n_d - pos_d AS neg_d,
        |    npos, n - npos AS nneg FROM ag)
        |SELECT CAST(decile AS BIGINT) AS decile, n_d AS n,
        |  pos_d AS n_pos,
        |  CASE WHEN pos_d = 0 OR neg_d = 0 OR npos = 0 OR nneg = 0
        |    THEN NULL ELSE
        |    CAST(round(CAST(ln(CAST(pos_d * nneg AS DOUBLE)
        |      / CAST(neg_d * npos AS DOUBLE)) AS DECIMAL(20,10)), 4)
        |      AS DOUBLE) END AS woe,
        |  CASE WHEN pos_d = 0 OR neg_d = 0 OR npos = 0 OR nneg = 0
        |    THEN NULL ELSE
        |    CAST(round(CAST((CAST(pos_d AS DOUBLE)
        |        / CAST(npos AS DOUBLE)
        |      - CAST(neg_d AS DOUBLE) / CAST(nneg AS DOUBLE))
        |      * ln(CAST(pos_d * nneg AS DOUBLE)
        |        / CAST(neg_d * npos AS DOUBLE))
        |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS iv_term
        |FROM fn""".stripMargin,
    // Same grouped running-below ranks and exact integer numerator.
    "q316_gini_activity" ->
      """WITH pu AS (SELECT event_type, user_id,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |bv AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pu GROUP BY 1, 2),
        |rk AS (SELECT event_type, x, cnt,
        |    CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type
        |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS cnt_below FROM bv),
        |tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(x * cnt) AS BIGINT) AS sx FROM bv GROUP BY 1)
        |SELECT r.event_type, n AS n_users, sx AS n_events,
        |  CAST(round(CAST(
        |    CAST(sum(x * cnt * (2 * cnt_below + cnt - n)) AS DOUBLE)
        |    / CAST(n * sx AS DOUBLE) AS DECIMAL(20,10)), 6)
        |    AS DOUBLE) AS gini
        |FROM rk r JOIN tot t USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,
    // Same ×1e9 p·ln(p) snaps per distinct value and exact mass
    // ratios inside the ln.
    "q317_theil_decomposition" ->
      """WITH d AS (SELECT source, n_chars AS x FROM documents
        |  WHERE n_chars >= 1),
        |bsv AS (SELECT source, x, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1, 2),
        |grp AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ng,
        |    CAST(sum(x * cnt) AS BIGINT) AS sg FROM bsv GROUP BY 1),
        |gl AS (SELECT CAST(sum(ng) AS BIGINT) AS nn,
        |    CAST(sum(sg) AS BIGINT) AS ss FROM grp),
        |wi AS (SELECT b.source, g.ng, g.sg,
        |    CAST(sum(CAST(round(
        |      (CAST(b.x * g.ng AS DOUBLE) / g.sg)
        |      * ln(CAST(b.x * g.ng AS DOUBLE) / g.sg) * 1e9)
        |      AS BIGINT) * b.cnt) AS BIGINT) AS t9
        |  FROM bsv b JOIN grp g USING (source) GROUP BY 1, 2, 3)
        |SELECT source, ng AS n_docs,
        |  CAST(round(CAST(CAST(sg AS DOUBLE) / ss
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS mass_share,
        |  CAST(round(CAST(CAST(t9 AS DOUBLE) / 1e9 / ng
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS t_within,
        |  CAST(round(CAST((CAST(sg AS DOUBLE) / ss)
        |    * ln(CAST(sg * nn AS DOUBLE) / CAST(ss * ng AS DOUBLE))
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS between_term
        |FROM wi CROSS JOIN gl""".stripMargin,
    // Same two-aggregate chain, exact floor.
    "q474_hhi" ->
      """WITH c AS (SELECT lang AS grp, source AS m,
        |    CAST(count(*) AS BIGINT) AS c FROM documents
        |  GROUP BY 1, 2)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(c) AS BIGINT) AS total,
        |  CAST((sum(CAST(c AS HUGEINT) * c) * 1000000)
        |    // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT)
        |    AS hhi_micro
        |FROM c GROUP BY 1""".stripMargin,
    // Rank-weighted sum over the distinct-value spectrum; the tie
    // block contributes cnt·below + cnt(cnt+1)/2 exactly.
    "q470_gini" ->
      """WITH s AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT)
        |    AS cnt FROM documents WHERE n_chars >= 0 GROUP BY 1),
        |r AS (SELECT v, cnt, CAST(coalesce(sum(cnt) OVER (
        |    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    1 PRECEDING), 0) AS BIGINT) AS below FROM s),
        |a AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(sum(CAST(v AS HUGEINT) * cnt) AS HUGEINT) AS s2,
        |    CAST(sum(CAST(v AS HUGEINT) *
        |      (CAST(cnt AS HUGEINT) * below
        |        + (cnt * (cnt + 1)) // 2)) AS HUGEINT) AS iw
        |  FROM r)
        |SELECT n, CAST(s2 AS BIGINT) AS value_sum,
        |  CASE WHEN s2 = 0 THEN NULL
        |    ELSE CAST(((2 * iw - (n + 1) * s2) * 1000000)
        |      // (CAST(n AS HUGEINT) * s2) AS BIGINT)
        |    END AS gini_micro
        |FROM a""".stripMargin,
    // The same squared 3σ inequality over exact pooled counts.
    "q463_p_chart" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS grp,
        |    CASE WHEN event_type = 'error'
        |      OR (extract(day FROM ts) = 7 AND event_id % 2 = 0)
        |      THEN 1 ELSE 0 END AS d
        |  FROM events),
        |p AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(d) AS BIGINT) AS defects FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
        |    CAST(sum(defects) AS BIGINT) AS td FROM p)
        |SELECT grp, n, defects,
        |  (CAST(defects AS HUGEINT) * tn - CAST(n AS HUGEINT) * td)
        |    * (CAST(defects AS HUGEINT) * tn
        |      - CAST(n AS HUGEINT) * td)
        |    > 9 * CAST(td AS HUGEINT) * (tn - td) * n
        |    AS out_of_control,
        |  tn AS total_n, td AS total_defects
        |FROM p, t""".stripMargin,
    // Pure metadata rows pinned literally.
    "q462_schema_diff" ->
      """SELECT 'doc_id' AS "column", 'unchanged' AS status,
        |  'bigint' AS type_a, 'bigint' AS type_b
        |UNION ALL SELECT 'text', 'unchanged', 'string', 'string'
        |UNION ALL SELECT 'lang', 'removed', 'string', ''
        |UNION ALL SELECT 'source', 'unchanged', 'string', 'string'
        |UNION ALL SELECT 'n_chars', 'type_changed', 'bigint', 'int'
        |UNION ALL SELECT 'quality', 'added', '', 'double'""".stripMargin,
    // Full 5-row windows only; (nQ − S²)·1e6 // 25 in HUGEINT.
    "q449_rolling_variance" ->
      """WITH b AS (SELECT l_partkey AS k, l_shipdate, l_orderkey,
        |    l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem WHERE l_partkey % 5 = 0),
        |r AS (SELECT k, count(*) OVER wf AS nw, sum(c) OVER wf AS s1,
        |    sum(CAST(c AS HUGEINT) * c) OVER wf AS q
        |  FROM b WINDOW wf AS (PARTITION BY k
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, c
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
        |v AS (SELECT k, CAST((nw * q - CAST(s1 AS HUGEINT) * s1)
        |    // 25 AS BIGINT) AS var_cents2
        |  FROM r WHERE nw = 5)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(max(var_cents2) AS BIGINT) AS max_var_cents2
        |FROM v GROUP BY 1""".stripMargin,
    // The same driver-literal expectations; counts and floors only.
    "q450_benford" -> {
      val exp = (1 to 9).map(d =>
        math.round(1e6 * math.log10(1 + 1.0 / d)))
      val spine = (1 to 9).map(d => s"($d, ${exp(d - 1)})")
        .mkString(", ")
      s"""WITH spine(digit, expected_micro) AS (VALUES $spine),
         |o AS (SELECT CAST(substr(CAST(CAST(round(l_extendedprice
         |    * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM lineitem
         |  WHERE CAST(round(l_extendedprice * 100) AS BIGINT) > 0),
         |oc AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM o GROUP BY 1),
         |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM oc),
         |j AS (SELECT s.digit, s.expected_micro,
         |    coalesce(oc.n_obs, 0) AS n_obs,
         |    (coalesce(oc.n_obs, 0) * 1000000)
         |      // greatest(t.n, 1) AS obs_micro
         |  FROM spine s LEFT JOIN oc USING (digit), t),
         |tv AS (SELECT CAST(sum(abs(obs_micro - expected_micro))
         |    // 2 AS BIGINT) AS tvd FROM j)
         |SELECT CAST(j.digit AS INT) AS digit,
         |  CAST(j.n_obs AS BIGINT) AS n_obs,
         |  CAST(j.obs_micro AS BIGINT) AS obs_micro,
         |  CAST(j.expected_micro AS BIGINT) AS expected_micro,
         |  CAST(abs(j.obs_micro - j.expected_micro) AS BIGINT)
         |    AS dev_micro,
         |  tv.tvd AS tvd_micro
         |FROM j, tv""".stripMargin
    },
    // Plain global row_number orders (the engine's prefix kernel is
    // provably the same order), the same batch floor and waste ratio.
    "q406_padding_waste" ->
      s"""WITH d AS (SELECT doc_id AS id,
         |    CAST(len($tokSql) AS BIGINT) AS len FROM documents),
         |so AS (SELECT id, len,
         |    row_number() OVER (ORDER BY len, id) AS rn FROM d),
         |sh AS (SELECT id, len, row_number() OVER (ORDER BY
         |    CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)
         |      AS BIGINT), id) AS rn FROM d),
         |b AS (SELECT 'sorted' AS strategy, (rn - 1) // 16 AS batch,
         |    len FROM so
         |  UNION ALL SELECT 'shuffled', (rn - 1) // 16, len FROM sh),
         |g AS (SELECT strategy, batch, count(*) AS bn, max(len) AS mx,
         |    sum(len) AS tot FROM b GROUP BY 1, 2)
         |SELECT strategy, CAST(sum(bn) AS BIGINT) AS n_seqs,
         |  CAST(count(*) AS BIGINT) AS n_batches,
         |  CAST(sum(tot) AS BIGINT) AS total_tokens,
         |  CAST(sum(mx * bn) AS BIGINT) AS padded_tokens,
         |  CAST(((sum(mx * bn) - sum(tot)) * 1000000)
         |    // sum(mx * bn) AS BIGINT) AS waste_micro
         |FROM g GROUP BY 1""".stripMargin,
    // The identical resample universe: md5(rep:j) mod n draws, exact
    // floored means, the same order-statistic indexes.
    "q386_bootstrap_ci" -> {
      val (bb, loIdx, hiIdx) = (200L, (250L * 199) / 10000,
        (9750L * 199) / 10000)
      s"""WITH tk AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS v
         |  FROM documents),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk),
         |rk AS (SELECT v, row_number() OVER (ORDER BY doc_id) - 1
         |    AS idx FROM tk),
         |dr AS (SELECT CAST(r.range AS BIGINT) AS rep,
         |    CAST('0x' || substr(md5(CAST(r.range AS VARCHAR) || ':' ||
         |      CAST(rk.idx AS VARCHAR)), 1, 15) AS BIGINT) % nn.n
         |      AS idx
         |  FROM range($bb) r CROSS JOIN rk, nn),
         |mm AS (SELECT dr.rep,
         |    CAST((CAST(sum(rv.v) AS HUGEINT) * 1000000) // nn.n
         |      AS BIGINT) AS m
         |  FROM dr JOIN rk rv ON rv.idx = dr.idx, nn
         |  GROUP BY dr.rep, nn.n),
         |o AS (SELECT m, row_number() OVER (ORDER BY m) - 1 AS r
         |  FROM mm),
         |ci AS (SELECT max(CASE WHEN r = $loIdx THEN m END)
         |    AS ci_lo_micro,
         |  max(CASE WHEN r = $hiIdx THEN m END) AS ci_hi_micro FROM o),
         |pt AS (SELECT CAST((CAST(sum(v) AS HUGEINT) * 1000000) // nn.n
         |    AS BIGINT) AS mean_micro FROM tk, nn GROUP BY nn.n)
         |SELECT nn.n, CAST($bb AS BIGINT) AS b, pt.mean_micro,
         |  ci.ci_lo_micro, ci.ci_hi_micro
         |FROM nn, pt, ci""".stripMargin
    },
    // Same exact inclusive-rank band rule (the oracle may sort each
    // day globally), same cent→dollar snap.
    "q301_daily_bands" ->
      """WITH byv AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT d, v, cnt,
        |    CAST(coalesce(sum(cnt) OVER (PARTITION BY d ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cnt_below
        |  FROM byv),
        |nn AS (SELECT d, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM byv GROUP BY 1)
        |SELECT rk.d, n AS n_events,
        |  CAST(round(CAST(CAST(min(CASE WHEN (cnt_below + cnt) * 100
        |      >= n * 10 THEN v END) AS DOUBLE) / 100.0
        |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS p10,
        |  CAST(round(CAST(CAST(min(CASE WHEN (cnt_below + cnt) * 100
        |      >= n * 50 THEN v END) AS DOUBLE) / 100.0
        |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS p50,
        |  CAST(round(CAST(CAST(min(CASE WHEN (cnt_below + cnt) * 100
        |      >= n * 90 THEN v END) AS DOUBLE) / 100.0
        |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS p90
        |FROM rk JOIN nn ON nn.d = rk.d GROUP BY rk.d, n""".stripMargin,
    // Same cells, same k = 20 release rule with null-suppressed
    // values.
    "q302_suppressed_heatmap" ->
      """WITH cell AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS h,
        |    CAST(count(*) AS BIGINT) AS ner,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS nur
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(dow AS INT) AS dow, CAST(h AS INT) AS h,
        |  nur >= 20 AS released,
        |  CASE WHEN nur >= 20 THEN ner END AS n_events,
        |  CASE WHEN nur >= 20 THEN nur END AS n_users
        |FROM cell""".stripMargin,
    // Same exact integer numerator, same snapped χ² and 3.84 gate.
    "q299_srm_check" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c
        |  FROM events GROUP BY 1),
        |z AS (SELECT d, n_t, n_c,
        |    CAST(round(CAST(
        |      CAST((CAST(n_t AS HUGEINT) - n_c)
        |        * (CAST(n_t AS HUGEINT) - n_c) AS DOUBLE)
        |      / (n_t + n_c) AS DECIMAL(20,10)), 4) AS DOUBLE) AS chi2
        |  FROM daily)
        |SELECT d, n_t, n_c, chi2, chi2 > 3.84 AS srm_alarm
        |FROM z""".stripMargin,
    // Same md5 global ranks (the oracle may sort the hash domain
    // globally), same per-source gaps and exact moment dispersion.
    "q292_shuffle_quality" ->
      s"""WITH rated AS (SELECT doc_id, source,
         |    ${h60("'sq' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |rk AS (SELECT h, CAST(coalesce(sum(cnt) OVER (ORDER BY h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS cnt_below
         |  FROM (SELECT h, CAST(count(*) AS BIGINT) AS cnt
         |    FROM rated GROUP BY 1)),
         |pos AS (SELECT source, cnt_below + 1 AS pos
         |  FROM rated JOIN rk USING (h)),
         |gg AS (SELECT source, CAST(g AS BIGINT) AS g FROM (
         |  SELECT source, pos - lag(pos) OVER (PARTITION BY source
         |    ORDER BY pos) AS g FROM pos) WHERE g IS NOT NULL),
         |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_gaps,
         |    CAST(sum(g) AS BIGINT) AS sg,
         |    sum(CAST(g AS HUGEINT) * g) AS sgg FROM gg GROUP BY 1)
         |SELECT source, n_gaps,
         |  CAST(round(CAST(CAST(sg AS DOUBLE) / n_gaps
         |    AS DECIMAL(20,10)), 2) AS DOUBLE) AS mean_gap,
         |  CAST(round(CAST(
         |    CAST(CAST(n_gaps AS HUGEINT) * sgg
         |      - CAST(sg AS HUGEINT) * sg AS DOUBLE)
         |    / CAST(CAST(n_gaps AS HUGEINT) * n_gaps AS DOUBLE)
         |    / (CAST(sg AS DOUBLE) / n_gaps) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS dispersion
         |FROM m""".stripMargin,
    // Same three-covariate melt (UNION ALL ≡ the engine's Expand),
    // same exact moments and SMD shape.
    "q285_covariate_balance" ->
      """WITH ev AS (
        |  SELECT user_id % 2 = 0 AS tr, 'hour' AS cov,
        |    CAST(hour(ts) AS BIGINT) AS x FROM events
        |  UNION ALL SELECT user_id % 2 = 0, 'dow',
        |    CAST(dayofweek(ts) + 1 AS BIGINT) FROM events
        |  UNION ALL SELECT user_id % 2 = 0, 'value_cents',
        |    CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT)
        |  FROM events),
        |g AS (SELECT cov, tr, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS ss
        |  FROM ev GROUP BY 1, 2),
        |wide AS (SELECT cov,
        |    max(CASE WHEN tr THEN n END) AS n_t,
        |    max(CASE WHEN tr THEN sx END) AS s_t,
        |    max(CASE WHEN tr THEN ss END) AS ss_t,
        |    max(CASE WHEN NOT tr THEN n END) AS n_c,
        |    max(CASE WHEN NOT tr THEN sx END) AS s_c,
        |    max(CASE WHEN NOT tr THEN ss END) AS ss_c
        |  FROM g GROUP BY 1),
        |v AS (SELECT *,
        |    CAST(CAST(n_t AS HUGEINT) * ss_t - s_t * s_t AS DOUBLE)
        |      / CAST(CAST(n_t AS HUGEINT) * n_t AS DOUBLE) AS v_t,
        |    CAST(CAST(n_c AS HUGEINT) * ss_c - s_c * s_c AS DOUBLE)
        |      / CAST(CAST(n_c AS HUGEINT) * n_c AS DOUBLE) AS v_c
        |  FROM wide)
        |SELECT cov AS covariate, n_t, n_c,
        |  CASE WHEN v_t + v_c = 0 THEN NULL ELSE
        |    CAST(round(CAST(
        |      (CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
        |      / sqrt((v_t + v_c) / CAST(2.0 AS DOUBLE))
        |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS smd
        |FROM v""".stripMargin,
    // Same per-cohort cumulative windows over the day grid, same
    // pooled-proportion z shape and 4dp snap before the 1.96 compare.
    "q286_peeking_curve" ->
      """WITH daily AS (SELECT user_id % 2 = 0 AS tr,
        |    CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(event_type = 'purchase' AS BIGINT))
        |      AS BIGINT) AS cv
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT tr, d, CAST(sum(n) OVER w AS BIGINT) AS cn,
        |    CAST(sum(cv) OVER w AS BIGINT) AS cc
        |  FROM daily WINDOW w AS (PARTITION BY tr ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |wide AS (SELECT d,
        |    max(CASE WHEN tr THEN cn END) AS n_t,
        |    max(CASE WHEN tr THEN cc END) AS c_t,
        |    max(CASE WHEN NOT tr THEN cn END) AS n_c,
        |    max(CASE WHEN NOT tr THEN cc END) AS c_c
        |  FROM cum GROUP BY 1),
        |zz AS (SELECT d, n_t, n_c, c_t, c_c,
        |    CAST(round(CAST(
        |      (CAST(c_t AS DOUBLE) / n_t - CAST(c_c AS DOUBLE) / n_c)
        |      / sqrt((CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
        |        * (CAST(1.0 AS DOUBLE)
        |          - CAST(c_t + c_c AS DOUBLE) / (n_t + n_c))
        |        * (CAST(1.0 AS DOUBLE) / n_t
        |          + CAST(1.0 AS DOUBLE) / n_c))
        |      AS DECIMAL(20,10)), 4) AS DOUBLE) AS z4
        |  FROM wide WHERE n_t IS NOT NULL AND n_c IS NOT NULL)
        |SELECT d, n_t, n_c,
        |  CASE WHEN c_t + c_c = 0 OR c_t + c_c = n_t + n_c
        |    THEN NULL ELSE z4 END AS z,
        |  CASE WHEN c_t + c_c = 0 OR c_t + c_c = n_t + n_c
        |    THEN NULL ELSE abs(z4) >= 1.96 END AS crossed
        |FROM zz""".stripMargin,
    // Same one-pass pair stream (q28's oracle kernel), same ×1e4
    // integer threshold compare.
    "q281_threshold_sweep" ->
      s"""WITH u AS ($docsDupSql),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM u),
         |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[])
         |    ELSE $shingleSql END AS sh FROM tk),
         |p AS (SELECT id_a, id_b,
         |    CAST(round(jac * 10000) AS BIGINT) AS jm FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |      (len(a.sh) + len(b.sh)
         |        - len(list_intersect(a.sh, b.sh))), 4) AS jac
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jac >= 0.5)
         |SELECT th_pct, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT id_b) AS BIGINT) AS n_droppable
         |FROM p CROSS JOIN (SELECT CAST(unnest(range(10, 19)) * 5
         |    AS INT) AS th_pct)
         |WHERE jm >= th_pct * 100 GROUP BY 1""".stripMargin,
    // Same hash-argmin candidate draws, same integer band inequality,
    // same (inliers desc, ci) winner.
    "q270_ransac_fit" ->
      s"""WITH pts AS (SELECT doc_id, n_chars AS x,
         |    CAST(len($tokSql) AS BIGINT) AS y FROM documents),
         |cix AS (SELECT unnest(range(1, 17)) AS ci),
         |cd0 AS (SELECT ci,
         |    arg_min({'x1': x, 'y1': y}, ${h60(
             "'ra' || CAST(ci AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")})
         |      AS pa,
         |    arg_min({'x2': x, 'y2': y}, ${h60(
             "'rb' || CAST(ci AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")})
         |      AS pb
         |  FROM pts CROSS JOIN cix GROUP BY 1),
         |cands AS (SELECT ci, (pa).x1 AS x1, (pa).y1 AS y1,
         |    (pb).x2 - (pa).x1 AS dx, (pb).y2 - (pa).y1 AS dy
         |  FROM cd0 WHERE (pb).x2 - (pa).x1 <> 0),
         |sc AS (SELECT ci, dx, dy, CAST(count(*) AS BIGINT)
         |    AS n_inliers
         |  FROM pts CROSS JOIN cands
         |  WHERE abs(CAST(dy AS HUGEINT) * (x - x1)
         |      - CAST(dx AS HUGEINT) * (y - y1))
         |    <= 5 * abs(CAST(dx AS HUGEINT))
         |  GROUP BY 1, 2, 3),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts)
         |SELECT CAST(ci AS BIGINT) AS cand_id, n_inliers, n_points,
         |  CAST(round(CAST(CAST(dy AS DOUBLE) / dx
         |    * CAST(1e6 AS DOUBLE) AS DECIMAL(20,10)), 0) AS BIGINT)
         |    AS slope_micro,
         |  CAST(round(CAST(CAST(n_inliers AS DOUBLE) / n_points
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS inlier_share
         |FROM (SELECT *, row_number() OVER (ORDER BY n_inliers DESC,
         |    ci) AS rn FROM sc) CROSS JOIN nt
         |WHERE rn = 1""".stripMargin,
    // Same 2×2 cells, identical double shape for means and the
    // estimate.
    "q272_diff_in_diff" ->
      """WITH ev AS (SELECT user_id % 2 = 0 AS tr,
        |    day(ts) >= 16 AS po,
        |    CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vc
        |  FROM events),
        |c AS (SELECT
        |    CAST(count(*) FILTER (WHERE tr AND po) AS BIGINT) AS n11,
        |    CAST(sum(vc) FILTER (WHERE tr AND po) AS BIGINT) AS s11,
        |    CAST(count(*) FILTER (WHERE tr AND NOT po) AS BIGINT)
        |      AS n10,
        |    CAST(sum(vc) FILTER (WHERE tr AND NOT po) AS BIGINT)
        |      AS s10,
        |    CAST(count(*) FILTER (WHERE NOT tr AND po) AS BIGINT)
        |      AS n01,
        |    CAST(sum(vc) FILTER (WHERE NOT tr AND po) AS BIGINT)
        |      AS s01,
        |    CAST(count(*) FILTER (WHERE NOT tr AND NOT po) AS BIGINT)
        |      AS n00,
        |    CAST(sum(vc) FILTER (WHERE NOT tr AND NOT po) AS BIGINT)
        |      AS s00
        |  FROM ev)
        |SELECT n11, n10, n01, n00,
        |  CAST(round(CAST(CAST(s11 AS DOUBLE) / n11 / 100.0
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_tp,
        |  CAST(round(CAST(CAST(s10 AS DOUBLE) / n10 / 100.0
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_tb,
        |  CAST(round(CAST(CAST(s01 AS DOUBLE) / n01 / 100.0
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_cp,
        |  CAST(round(CAST(CAST(s00 AS DOUBLE) / n00 / 100.0
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_cb,
        |  CAST(round(CAST((CAST(s11 AS DOUBLE) / n11
        |    - CAST(s10 AS DOUBLE) / n10
        |    - (CAST(s01 AS DOUBLE) / n01 - CAST(s00 AS DOUBLE) / n00))
        |    / 100.0 AS DECIMAL(20,10)), 4) AS DOUBLE) AS did
        |FROM c""".stripMargin,
    // Same weekday grid (+1 aligns the Sunday conventions), same
    // exact HUGEINT inequality.
    "q269_seasonal_anomaly" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |dd AS (SELECT d, dayofweek(d) + 1 AS dow, c FROM daily),
        |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c) AS BIGINT) AS sc,
        |    sum(CAST(c AS HUGEINT) * c) AS m2
        |  FROM dd GROUP BY 1)
        |SELECT d, CAST(dow AS INT) AS dow, c AS n_events,
        |  CAST(round(CAST(CAST(sc AS DOUBLE) / n AS DECIMAL(20,10)),
        |    2) AS DOUBLE) AS expected,
        |  (CAST(c AS HUGEINT) * n - sc) * (CAST(c AS HUGEINT) * n - sc)
        |    > (CAST(n AS HUGEINT) * m2 - CAST(sc AS HUGEINT) * sc) * 4
        |    AS is_anomaly
        |FROM dd JOIN g USING (dow)""".stripMargin,
    // Same exact-moment σ, ×1e6 weight snap + integer micro-share
    // largest-remainder split, same md5 bottom-alloc draw.
    "q236_neyman" ->
      s"""WITH rws AS (SELECT event_type AS h,
         |    CAST(round(value * 100) AS BIGINT) AS v,
         |    CAST(event_id AS VARCHAR) AS k FROM events),
         |st AS (SELECT h, CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(v AS HUGEINT)) AS sx,
         |    sum(CAST(v AS HUGEINT) * v) AS sxx
         |  FROM rws GROUP BY 1),
         |wt AS (SELECT h, n,
         |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / CAST(n AS DOUBLE)
         |      AS sd,
         |    CAST(round(CAST(n AS DOUBLE)
         |      * (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         |         / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wfp
         |  FROM st),
         |ws AS (SELECT CAST(sum(wfp) AS BIGINT) AS wsum FROM wt),
         |sh AS (SELECT h, n, sd,
         |    CASE WHEN wsum = 0 THEN 0 ELSE
         |      CAST(round(CAST(500 AS DOUBLE) * CAST(wfp AS DOUBLE)
         |        * 1e6 / CAST(wsum AS DOUBLE)) AS BIGINT) END AS qfp
         |  FROM wt CROSS JOIN ws),
         |bs AS (SELECT h, n, sd,
         |    CAST((qfp - qfp % 1000000) / 1000000 AS BIGINT) AS base,
         |    qfp % 1000000 AS rem
         |  FROM sh),
         |df_ AS (SELECT greatest(0, 500 - CAST(sum(base) AS BIGINT))
         |    AS d FROM bs),
         |al AS (SELECT h, n, sd,
         |    base + (CASE WHEN row_number() OVER (ORDER BY rem DESC, h)
         |      <= d THEN 1 ELSE 0 END) AS alloc
         |  FROM bs CROSS JOIN df_),
         |sm AS (SELECT r.h, CAST(count(*) AS BIGINT) AS n_sampled,
         |    sum(CAST(v AS HUGEINT)) AS ssum
         |  FROM (SELECT h, v, row_number() OVER (PARTITION BY h
         |      ORDER BY ${h60("'s' || k")}, k) AS srn
         |    FROM rws) r JOIN al ON al.h = r.h
         |  WHERE r.srn <= al.alloc GROUP BY 1)
         |SELECT al.h, al.n,
         |  CAST(round(CAST(sd AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS sigma,
         |  CAST(al.alloc AS BIGINT) AS alloc,
         |  CAST(coalesce(sm.n_sampled, 0) AS BIGINT) AS n_sampled,
         |  CASE WHEN coalesce(sm.n_sampled, 0) = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(ssum AS DOUBLE)
         |      / CAST(sm.n_sampled AS DOUBLE) / CAST(100 AS DOUBLE)
         |      AS DECIMAL(20,10)), 2) AS DOUBLE) END AS mean_sample
         |FROM al LEFT JOIN sm ON sm.h = al.h""".stripMargin,
    // Same descending-upper-rank decile snap (exact subtract-mod
    // ceil-div), same cumulative walk and 4dp rate/lift snaps.
    "q233_decile_lift" ->
      """WITH rws AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |bv AS (SELECT v, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS tot FROM rws GROUP BY 1),
        |rk AS (SELECT v, pos, tot,
        |    CAST(coalesce(sum(tot) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tot_below
        |  FROM bv),
        |tt AS (SELECT CAST(sum(pos) AS BIGINT) AS npos,
        |    CAST(sum(tot) AS BIGINT) AS n FROM bv),
        |td AS (SELECT
        |    CAST((((n - tot_below) * 10 + n - 1
        |      - (((n - tot_below) * 10 + n - 1) % n)) / n) AS BIGINT)
        |      AS decile,
        |    pos, tot, npos, n
        |  FROM rk CROSS JOIN tt),
        |ag AS (SELECT decile, CAST(sum(tot) AS BIGINT) AS n_d,
        |    CAST(sum(pos) AS BIGINT) AS pos_d,
        |    CAST(max(npos) AS BIGINT) AS npos,
        |    CAST(max(n) AS BIGINT) AS nn
        |  FROM td GROUP BY 1),
        |cm AS (SELECT decile, n_d, pos_d, npos, nn,
        |    CAST(sum(n_d) OVER wc AS BIGINT) AS cum_n,
        |    CAST(sum(pos_d) OVER wc AS BIGINT) AS cum_pos
        |  FROM ag WINDOW wc AS (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT decile, n_d AS n, pos_d AS n_pos, cum_n, cum_pos,
        |  CAST(round(CAST(CAST(cum_pos AS DOUBLE)
        |    / CAST(cum_n AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
        |    AS cum_rate,
        |  CASE WHEN npos = 0 THEN NULL ELSE
        |    CAST(round(CAST(
        |      CAST(CAST(cum_pos AS HUGEINT) * nn AS DOUBLE)
        |      / CAST(CAST(cum_n AS HUGEINT) * npos AS DOUBLE)
        |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS lift
        |FROM cm""".stripMargin,
    // Same inclusive-left prefix counts, the same ×1e9 weighted
    // purity expression term-for-term, same (gfp desc, v) head.
    "q229_gini_stump" ->
      """WITH rws AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |bv AS (SELECT v, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(count(*) AS BIGINT) AS tot FROM rws GROUP BY 1),
        |rk AS (SELECT v, pos, tot,
        |    CAST(coalesce(sum(pos) OVER w, 0) AS BIGINT) AS pos_below,
        |    CAST(coalesce(sum(tot) OVER w, 0) AS BIGINT) AS tot_below
        |  FROM bv WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |tt AS (SELECT CAST(sum(pos) AS BIGINT) AS npos,
        |    CAST(sum(tot) AS BIGINT) AS n FROM bv),
        |sc AS (SELECT v, npos, n,
        |    pos_below + pos AS posl, tot_below + tot AS nl,
        |    npos - (pos_below + pos) AS posr,
        |    n - (tot_below + tot) AS nr
        |  FROM rk CROSS JOIN tt WHERE tot_below + tot < n),
        |gg AS (SELECT v, npos, n,
        |    CAST(round((CAST(CAST(posl AS HUGEINT) * posl
        |        + CAST(nl - posl AS HUGEINT) * (nl - posl) AS DOUBLE)
        |        / CAST(CAST(nl AS HUGEINT) * n AS DOUBLE)
        |      + CAST(CAST(posr AS HUGEINT) * posr
        |        + CAST(nr - posr AS HUGEINT) * (nr - posr) AS DOUBLE)
        |        / CAST(CAST(nr AS HUGEINT) * n AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS gfp
        |  FROM sc),
        |best AS (SELECT *,
        |    CAST(round(CAST(CAST(npos AS HUGEINT) * npos
        |      + CAST(n - npos AS HUGEINT) * (n - npos) AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) * 1e9)
        |      AS BIGINT) AS pfp
        |  FROM gg ORDER BY gfp DESC, v LIMIT 1)
        |SELECT n, npos AS n_pos, v AS threshold,
        |  CAST(round(CAST(CAST(1000000000 - pfp AS DOUBLE) / 1e9
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS gini_parent,
        |  CAST(round(CAST(CAST(1000000000 - gfp AS DOUBLE) / 1e9
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS gini_split,
        |  CAST(round(CAST(CAST(gfp - pfp AS DOUBLE) / 1e9
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS gain
        |FROM best""".stripMargin,
    // Same md5-hash block/selection routing, micro-cent replicate
    // snaps, exact ceil-div order-statistic picks, HUGEINT moments.
    "q227_block_bootstrap" ->
      s"""WITH rws AS (SELECT
         |    ${h60("'u' || CAST(user_id AS VARCHAR)")} % 50 AS blk,
         |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |blocks AS (SELECT blk, sum(CAST(v AS HUGEINT)) AS s,
         |    CAST(count(*) AS BIGINT) AS c FROM rws GROUP BY 1),
         |grid AS (SELECT t.b AS b,
         |    ${h60("'r' || CAST(t.b AS VARCHAR) || ':' || CAST(u.i AS VARCHAR)")}
         |      % 50 AS blk
         |  FROM range(0, 200) t(b) CROSS JOIN range(0, 50) u(i)),
         |reps AS (SELECT b, sum(s) AS ss, sum(c) AS cc
         |  FROM grid JOIN blocks USING (blk) GROUP BY 1
         |  HAVING sum(c) > 0),
         |rm AS (SELECT b, CAST(round(CAST(ss AS DOUBLE)
         |    / CAST(cc AS DOUBLE) * 1e6) AS BIGINT) AS mfp FROM reps),
         |rk AS (SELECT b, mfp,
         |    row_number() OVER (ORDER BY mfp, b) AS rn FROM rm),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS nb,
         |    sum(CAST(mfp AS HUGEINT)) AS sx,
         |    sum(CAST(mfp AS HUGEINT) * mfp) AS sxx FROM rm),
         |ci AS (SELECT nb, sx, sxx,
         |    max(CASE WHEN rn = CAST(((nb * 25 + 999)
         |      - ((nb * 25 + 999) % 1000)) / 1000 AS BIGINT)
         |      THEN mfp END) AS lofp,
         |    max(CASE WHEN rn = CAST(((nb * 975 + 999)
         |      - ((nb * 975 + 999) % 1000)) / 1000 AS BIGINT)
         |      THEN mfp END) AS hifp
         |  FROM rk CROSS JOIN st GROUP BY 1, 2, 3),
         |fl AS (SELECT sum(CAST(v AS HUGEINT)) AS stt,
         |    CAST(count(*) AS BIGINT) AS ct,
         |    CAST(count(DISTINCT blk) AS BIGINT) AS nblk FROM rws)
         |SELECT ct AS n_rows, nblk AS n_blocks, nb AS n_reps,
         |  CAST(round(CAST(CAST(stt AS DOUBLE) / CAST(ct AS DOUBLE)
         |    / CAST(100 AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS mean_full,
         |  CAST(round(CAST(CAST(lofp AS DOUBLE) / 1e8
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS ci_lo,
         |  CAST(round(CAST(CAST(hifp AS DOUBLE) / 1e8
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS ci_hi,
         |  CAST(round(CAST(sqrt(CAST(nb * sxx - sx * sx AS DOUBLE)
         |    / CAST(nb * (nb - 1) AS DOUBLE)) / 1e8
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS se
         |FROM fl CROSS JOIN ci WHERE ct > 0""".stripMargin,
    // Same daily-cents collapse, HUGEINT prefix/total sums, the same
    // normalized-gain double expression term-for-term (×1e9 snap),
    // same (gfp desc, ord) argmax tie break.
    "q222_changepoint" ->
      """WITH daily AS (SELECT o_orderpriority AS g,
        |    CAST(o_orderdate AS DATE) AS ord,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
        |  FROM orders GROUP BY 1, 2),
        |pre AS (SELECT g, ord, v,
        |    row_number() OVER (PARTITION BY g ORDER BY ord) AS i,
        |    sum(CAST(v AS HUGEINT)) OVER (PARTITION BY g ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS si,
        |    count(*) OVER (PARTITION BY g) AS n,
        |    sum(CAST(v AS HUGEINT)) OVER (PARTITION BY g) AS st
        |  FROM daily),
        |sc AS (SELECT g, ord, i, n, si, st, st - si AS sr,
        |    CAST(round((CAST(n * si * si AS DOUBLE)
        |        / CAST(i * st * st AS DOUBLE)
        |      + CAST(n * (st - si) * (st - si) AS DOUBLE)
        |        / CAST((n - i) * st * st AS DOUBLE)
        |      - CAST(1 AS DOUBLE)) * 1e9) AS BIGINT) AS gfp
        |  FROM pre WHERE i < n AND st <> 0),
        |pick AS (SELECT *, row_number() OVER (PARTITION BY g
        |    ORDER BY gfp DESC, ord) AS rn FROM sc)
        |SELECT g, CAST(n AS BIGINT) AS n_points, ord AS split_ord,
        |  CAST(round(CAST(CAST(gfp AS DOUBLE) / 1e9
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS gain_norm,
        |  CAST(round(CAST(CAST(si AS DOUBLE) / CAST(i AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS DECIMAL(20,10)), 2) AS DOUBLE)
        |    AS mean_left,
        |  CAST(round(CAST(CAST(sr AS DOUBLE) / CAST(n - i AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS DECIMAL(20,10)), 2) AS DOUBLE)
        |    AS mean_right
        |FROM pick WHERE rn = 1""".stripMargin,
    // Independent formulation on the same cell grid: canonical-order
    // cell self-join for C/D mass, doubled marginal tie terms, the
    // 2(C−D)/√ double chain with the same DECIMAL(20,10) snap.
    "q210_kendall_tau" ->
      s"""WITH r AS (SELECT source AS g,
         |    CAST(len($tokSql) AS BIGINT) AS x,
         |    CAST(length(text) // 16 AS BIGINT) AS y FROM documents),
         |cells AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS w
         |  FROM r GROUP BY 1, 2, 3),
         |prs AS (SELECT a.g AS g,
         |    sum(CASE WHEN a.x < b.x AND a.y < b.y
         |      THEN CAST(a.w AS HUGEINT) * b.w ELSE 0 END) AS cc,
         |    sum(CASE WHEN a.x < b.x AND a.y > b.y
         |      THEN CAST(a.w AS HUGEINT) * b.w ELSE 0 END) AS dd
         |  FROM cells a JOIN cells b ON a.g = b.g
         |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
         |  GROUP BY 1),
         |t1 AS (SELECT g, sum(CAST(t AS HUGEINT) * (t - 1)) AS n1d
         |  FROM (SELECT g, x, CAST(sum(w) AS BIGINT) AS t
         |    FROM cells GROUP BY 1, 2) GROUP BY 1),
         |t2 AS (SELECT g, sum(CAST(t AS HUGEINT) * (t - 1)) AS n2d
         |  FROM (SELECT g, y, CAST(sum(w) AS BIGINT) AS t
         |    FROM cells GROUP BY 1, 2) GROUP BY 1),
         |nn AS (SELECT g, CAST(sum(w) AS BIGINT) AS n
         |  FROM cells GROUP BY 1)
         |SELECT nn.g AS source, nn.n,
         |  CAST(coalesce(cc, 0) AS BIGINT) AS concordant,
         |  CAST(coalesce(dd, 0) AS BIGINT) AS discordant,
         |  CASE WHEN CAST(n AS HUGEINT) * (n - 1) - n1d = 0
         |      OR CAST(n AS HUGEINT) * (n - 1) - n2d = 0 THEN NULL
         |    ELSE CAST(round(CAST(
         |      CAST(2 * (coalesce(cc, 0) - coalesce(dd, 0)) AS DOUBLE)
         |      / sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) - n1d AS DOUBLE)
         |        * CAST(CAST(n AS HUGEINT) * (n - 1) - n2d AS DOUBLE))
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS tau_b
         |FROM nn JOIN t1 USING (g) JOIN t2 USING (g)
         |LEFT JOIN prs USING (g)""".stripMargin,
    // Lag windows over the same (symbol, day) collapse, HUGEINT
    // moments, q194's double chain.
    "q204_acf" ->
      """WITH srs AS (SELECT l_partkey AS symbol,
        |    CAST(l_shipdate AS DATE) AS d,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |lagd AS (SELECT symbol, v AS y,
        |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
        |    lag(v, 3) OVER w AS l3
        |  FROM srs WINDOW w AS (PARTITION BY symbol ORDER BY d)),
        |p AS (SELECT symbol, 1 AS lag, l1 AS x, y FROM lagd
        |    WHERE l1 IS NOT NULL
        |  UNION ALL SELECT symbol, 2, l2, y FROM lagd
        |    WHERE l2 IS NOT NULL
        |  UNION ALL SELECT symbol, 3, l3, y FROM lagd
        |    WHERE l3 IS NOT NULL),
        |m AS (SELECT symbol, lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM p GROUP BY 1, 2)
        |SELECT symbol, lag, n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |    THEN NULL ELSE
        |    CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE))
        |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS acf
        |FROM m""".stripMargin,
    // quantile_cont uses the same h=(n-1)p interpolation as Spark's
    // percentile; both sides snap through DECIMAL(20,10) before the
    // 4-place round.
    "q97_group_percentiles" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(CAST(quantile_cont(o_totalprice,
        |    CAST(0.5 AS DOUBLE)) AS DECIMAL(20,10)), 4) AS DOUBLE) AS p50,
        |  CAST(round(CAST(quantile_cont(o_totalprice,
        |    CAST(0.9 AS DOUBLE)) AS DECIMAL(20,10)), 4) AS DOUBLE) AS p90
        |FROM orders GROUP BY 1""".stripMargin,
    // Exact integer-cents rationals; ONE double division at the end,
    // identical operand order.
    "q99_dow_seasonality" ->
      """WITH b AS (SELECT l_partkey AS symbol,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) % 7 AS INTEGER) AS dow,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS px_c
        |  FROM lineitem),
        |d AS (SELECT symbol, dow, count(*) AS n_dow, sum(px_c) AS s_dow
        |  FROM b GROUP BY 1, 2),
        |a AS (SELECT symbol, count(*) AS n_all, sum(px_c) AS s_all
        |  FROM b GROUP BY 1)
        |SELECT d.symbol, d.dow, CAST(d.n_dow AS BIGINT) AS n_dow,
        |  CAST(round(CAST(CAST(d.s_dow * a.n_all AS DOUBLE)
        |    / CAST(d.n_dow * a.s_all AS DOUBLE) AS DECIMAL(20,10)), 4)
        |    AS DOUBLE) AS ratio
        |FROM d JOIN a USING (symbol) WHERE d.symbol <= 50""".stripMargin,
    // Same operation order per term; every constant cast to DOUBLE;
    // the ×1e6 BIGINT snap makes the sum order-free.
    "q90_psi_drift" ->
      """WITH r AS (SELECT CAST(floor(o_totalprice
        |      / CAST(20000 AS DOUBLE)) AS BIGINT) AS bin,
        |    count(*) AS n_r FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
        |c AS (SELECT CAST(floor(o_totalprice
        |      / CAST(20000 AS DOUBLE)) AS BIGINT) AS bin,
        |    count(*) AS n_c FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1),
        |tr AS (SELECT CAST(sum(n_r) AS BIGINT) AS t_r FROM r),
        |tc AS (SELECT CAST(sum(n_c) AS BIGINT) AS t_c FROM c),
        |terms AS (SELECT
        |    CAST(round((CAST(n_r AS DOUBLE) / t_r - CAST(n_c AS DOUBLE) / t_c)
        |      * ln((CAST(n_r AS DOUBLE) / t_r) / (CAST(n_c AS DOUBLE) / t_c))
        |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS term_fp
        |  FROM r JOIN c USING (bin) CROSS JOIN tr CROSS JOIN tc)
        |SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(round(CAST(CAST(sum(term_fp) AS DOUBLE)
        |    / CAST(1000000.0 AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
        |    AS psi
        |FROM terms""".stripMargin,
    // Same keep-latest series, same integer-cent fold with the packed
    // (S·2^20 + alarms) state — DuckDB's // and % keep it exact.
    "q86_cusum_drift" ->
      s"""WITH b AS (
         |  SELECT symbol, d, px FROM (SELECT *, row_number() OVER (
         |    PARTITION BY symbol, d ORDER BY ord DESC, px DESC, vol DESC)
         |    AS rn FROM ($barsSql)) WHERE rn = 1),
         |ser AS (
         |  SELECT symbol,
         |    list(CAST(round(px * 100) AS BIGINT) ORDER BY d) AS xs,
         |    CAST(sum(CAST(round(px * 100) AS BIGINT)) AS BIGINT) AS sum_c,
         |    count(*) AS n
         |  FROM b GROUP BY symbol),
         |f AS (SELECT symbol, CAST(n AS INT) AS n_obs,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), xs), (acc, x) ->
         |      greatest(CAST(0 AS BIGINT),
         |        acc // 1048576 + x - sum_c // n - 50) * 1048576
         |      + acc % 1048576
         |      + CASE WHEN greatest(CAST(0 AS BIGINT),
         |          acc // 1048576 + x - sum_c // n - 50) > 500
         |        THEN 1 ELSE 0 END) AS packed
         |  FROM ser)
         |SELECT symbol, n_obs,
         |  packed // 1048576 AS cusum_final,
         |  packed % 1048576 AS n_alarms
         |FROM f""".stripMargin,
    // Integer-day RANGE frame (same -6..0 bounds); cent-snap before the
    // sum keeps the frame aggregate order-free; count/avg written in
    // the identical operation order.
    "q83_range_window" ->
      s"""SELECT symbol, d,
         |  CAST(count(*) OVER w AS BIGINT) AS n_win,
         |  CAST(round(CAST(CAST(sum(CAST(round(px * 100) AS BIGINT))
         |        OVER w AS DOUBLE) / 100.0 / count(*) OVER w
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) AS avg7
         |FROM (SELECT symbol, d,
         |    date_diff('day', DATE '1970-01-01', d) AS day, px
         |  FROM ($barsSql))
         |WINDOW w AS (PARTITION BY symbol ORDER BY day
         |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    // Same ×1e4 quality integers, window-cumulative grid ECDFs per
    // source, the same exact |F1·n2 − F2·n1| sup, the same exp/round
    // p chain, and BH's integer step-up rule (p_fp·m ≤ 50000·rank).
    "q214_drift_fdr" ->
      s"""WITH sc AS (SELECT source,
         |    CAST(round(CAST(round(CAST(0.4 * least(1.0, len(tk) / 100.0)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_filter(tk,
         |            t -> t IN ('the','a','of','to','and'))) * 1.0
         |            / len(tk) END)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_distinct(tk)) * 1.0 / len(tk) END)
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) * 10000) AS BIGINT)
         |      AS v
         |  FROM (SELECT source, $tokSql AS tk FROM documents)),
         |gv AS (SELECT source AS g, v, CAST(count(*) AS BIGINT) AS c1
         |  FROM sc GROUP BY 1, 2),
         |vv AS (SELECT v, CAST(sum(c1) AS BIGINT) AS ct
         |  FROM gv GROUP BY 1),
         |gs AS (SELECT DISTINCT g FROM gv),
         |grid AS (SELECT g, v, ct, coalesce(c1, 0) AS c1
         |  FROM gs CROSS JOIN vv LEFT JOIN gv USING (g, v)),
         |cum AS (SELECT g, v,
         |    sum(c1) OVER (PARTITION BY g ORDER BY v) AS k1,
         |    sum(ct - c1) OVER (PARTITION BY g ORDER BY v) AS k2
         |  FROM grid),
         |ns AS (SELECT g, CAST(sum(c1) AS BIGINT) AS n1
         |  FROM gv GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM sc),
         |ksq AS (SELECT g, n1, nn - n1 AS n2,
         |    CAST(round(CAST(CAST(max(abs(CAST(k1 AS HUGEINT)
         |        * (nn - n1) - CAST(k2 AS HUGEINT) * n1)) AS DOUBLE)
         |      / (CAST(n1 AS DOUBLE) * CAST(nn - n1 AS DOUBLE))
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) AS ks
         |  FROM cum JOIN ns USING (g) CROSS JOIN tot
         |  GROUP BY 1, 2, 3),
         |tests AS (SELECT g, n1, n2, ks,
         |    least(CAST(1.0 AS DOUBLE), CAST(round(CAST(
         |      CAST(2 AS DOUBLE) * exp(CAST(-2 AS DOUBLE) * ks * ks
         |        * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
         |        / CAST(n1 + n2 AS DOUBLE))
         |      AS DECIMAL(20,10)), 6) AS DOUBLE)) AS p
         |  FROM ksq),
         |ranked AS (SELECT *,
         |    CAST(round(p * 1e6) AS BIGINT) AS pfp,
         |    row_number() OVER (ORDER BY CAST(round(p * 1e6) AS BIGINT),
         |      g) AS rnk,
         |    count(*) OVER () AS m FROM tests),
         |dec AS (SELECT *,
         |    max(CASE WHEN pfp * m <= 50000 * rnk THEN rnk ELSE 0 END)
         |      OVER () AS kstar
         |  FROM ranked)
         |SELECT g AS source, n1, n2, ks, p, CAST(rnk AS INT) AS rnk,
         |  rnk <= kstar AS rejected
         |FROM dec""".stripMargin,
    "q40_rollup" ->
      """SELECT c_nationkey, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP (c_nationkey, o_orderstatus)""".stripMargin,
    "q41_quantiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q53_rolling_indicators" ->
      s"""WITH b AS (
         |  SELECT symbol, d, px FROM (SELECT *, row_number() OVER (
         |    PARTITION BY symbol, d ORDER BY ord DESC, px DESC, vol DESC)
         |    AS rn FROM ($barsSql)) WHERE rn = 1)
         |SELECT symbol, d,
         |  CAST(round(CAST(avg(px) OVER (PARTITION BY symbol ORDER BY d
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS sma20,
         |  CAST(round(CAST(px / lag(px, 10) OVER (PARTITION BY symbol ORDER BY d)
         |    - 1 AS DECIMAL(20,10)), 4) AS DOUBLE) AS roc10,
         |  CAST(round(CAST(px / max(px) OVER (PARTITION BY symbol ORDER BY d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - 1 AS DECIMAL(20,10)), 4) AS DOUBLE) AS drawdown
         |FROM b""".stripMargin,
    // Same seed-with-first, fold-the-rest shape as the Spark aggregate;
    // every constant cast to DOUBLE so the arithmetic is bit-identical.
    "q58_ema" ->
      s"""WITH b AS (
         |  SELECT symbol, d, px FROM (SELECT *, row_number() OVER (
         |    PARTITION BY symbol, d ORDER BY ord DESC, px DESC, vol DESC)
         |    AS rn FROM ($barsSql)) WHERE rn = 1),
         |ser AS (
         |  SELECT symbol, list(CAST(px AS DOUBLE) ORDER BY d) AS px
         |  FROM b GROUP BY symbol)
         |SELECT symbol, CAST(len(px) AS INTEGER) AS n_days,
         |  list_reduce(px, (acc, x) ->
         |    CAST(0.1 AS DOUBLE) * x + CAST(0.9 AS DOUBLE) * acc) AS ema
         |FROM ser""".stripMargin,
    "q59_cube" ->
      """SELECT c_nationkey, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE (c_nationkey, o_orderstatus)""".stripMargin,
    // Pearson from raw sums in the SAME arithmetic order as the Spark
    // side — never corr(), whose streaming update order is per-engine.
    "q61_return_corr" ->
      s"""WITH m AS (${ohlcSql("last_day(d)")}),
         |r AS (
         |  SELECT symbol, period,
         |    round(close / lag(close) OVER (PARTITION BY symbol
         |      ORDER BY period) - 1, 4) + 0 AS ret
         |  FROM m),
         |top AS (
         |  SELECT symbol FROM (
         |    SELECT symbol, round(sum(vol), 2) AS v,
         |      row_number() OVER (ORDER BY round(sum(vol), 2) DESC, symbol) AS rk
         |    FROM ($barsSql) GROUP BY symbol) WHERE rk <= 20),
         |rr AS (SELECT r.* FROM r JOIN top USING (symbol)
         |       WHERE ret IS NOT NULL),
         |p AS (
         |  SELECT a.symbol AS s1, b.symbol AS s2, a.ret AS x, b.ret AS y
         |  FROM rr a JOIN rr b
         |    ON a.period = b.period AND a.symbol < b.symbol),
         |agg AS (
         |  SELECT s1, s2, count(*) AS n_periods,
         |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM p GROUP BY 1, 2)
         |SELECT s1, s2, n_periods,
         |  CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
         |    THEN CAST(round(CAST((n * sxy - sx * sy)
         |        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS corr
         |FROM (SELECT *, CAST(n_periods AS DOUBLE) AS n FROM agg)""".stripMargin,
    // Same register/locate/interpolate arithmetic; every literal forced
    // to DOUBLE (DuckDB decimal-literal trap).
    "q64_hist_quantiles" -> {
      def q(t: String, name: String) =
        s"""max(CASE WHEN CAST(cum AS DOUBLE) >= $t
           |    AND CAST(cum - cnt AS DOUBLE) < $t
           |  THEN bucket * CAST(1000.0 AS DOUBLE)
           |    + CAST(1000.0 AS DOUBLE) * ($t - CAST(cum - cnt AS DOUBLE))
           |      / CAST(cnt AS DOUBLE) END) AS $name""".stripMargin
      s"""WITH reg AS (
         |  SELECT o_orderstatus,
         |    CAST(floor(o_totalprice / CAST(1000.0 AS DOUBLE)) AS BIGINT) AS bucket,
         |    count(*) AS cnt
         |  FROM orders GROUP BY 1, 2),
         |cum AS (
         |  SELECT o_orderstatus, bucket, cnt,
         |    sum(cnt) OVER (PARTITION BY o_orderstatus ORDER BY bucket) AS cum,
         |    sum(cnt) OVER (PARTITION BY o_orderstatus) AS n
         |  FROM reg),
         |t AS (SELECT *, CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE) AS t50,
         |        CAST(0.95 AS DOUBLE) * CAST(n AS DOUBLE) AS t95 FROM cum)
         |SELECT o_orderstatus,
         |  ${q("t50", "p50")},
         |  ${q("t95", "p95")}
         |FROM t GROUP BY 1""".stripMargin
    },
    "q46_schema_reconcile" ->
      """SELECT user_id, round(sum(value), 2) AS value_sum,
        |  count(*) AS n_null_sf
        |FROM (SELECT CAST(CAST(user_id AS INTEGER) AS BIGINT) AS user_id,
        |             CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value
        |      FROM events)
        |GROUP BY 1""".stripMargin
  )
}
