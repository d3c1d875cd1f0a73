package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv}

/** Calendar OHLC resampling — the reference's flagship aggregation
  * (downloader_wmy.py:39-58): day bars → weekly (Friday-anchored),
  * month-end and year buckets with open→first, high→max, low→min,
  * close→last, volume→sum, plus the lag-based period return.
  *
  * Spark-first design notes (100 TB posture):
  *  - buckets are plain date expressions, so the groupBy is one hash
  *    aggregate with map-side partial aggregation; no window/sort needed
  *    for the bars themselves;
  *  - ordered first/last inside a bucket uses min_by/max_by over a single
  *    monotone ordering column, which stays inside whole-stage codegen
  *    (no sort, no collect_list);
  *  - the only shuffle is on (key, bucket) — high-cardinality,
  *    well-distributed; returns then reuse the same (key) partitioning.
  */
object Resample {

  /** Friday-anchored week-end label: smallest Friday >= d.
    * pandas 'W-FRI' parity (downloader_wmy.py:44): buckets are labeled by
    * their Friday end and empty buckets never materialize (groupBy only
    * sees present rows). Spark dayofweek: Sun=1..Sat=7, Friday=6.
    */
  def weekEndFri(d: Column): Column =
    date_add(d, ((lit(6) - dayofweek(d)) + lit(7)) % lit(7))

  /** Month-end label — pandas 'M' parity (labels by period end). */
  def monthEnd(d: Column): Column = last_day(d)

  /** Year bucket label (first day of year; formatted at edges as needed). */
  def yearStart(d: Column): Column = trunc(d, "year")

  /** A strictly monotone per-row ordering surrogate: days-since-epoch
    * majored with a unique tiebreak, so first/last inside a bucket is
    * deterministic even when several rows share a date. Callers supply the
    * tiebreak (e.g. ingest batch id, orderkey) — the reference gets this
    * for free from pandas row order; a distributed engine must not rely on
    * row order, ever.
    */
  def ordinal(date: Column, tiebreak: Column): Column =
    datediff(date, to_date(lit("1970-01-01"))).cast("long") * lit(100000000L) +
      tiebreak.cast("long")

  /** OHLC resample into `bucket` labels. Output columns:
    * (symbol, period, open, high, low, close, volume).
    */
  def ohlc(df: DataFrame, key: Column, bucket: Column, price: Column,
           volume: Column, ord: Column): DataFrame =
    df.groupBy(key.as("symbol"), bucket.as("period"))
      .agg(
        min_by(price, ord).as("open"),
        max(price).as("high"),
        min(price).as("low"),
        max_by(price, ord).as("close"),
        round(sum(volume), 2).as("volume"))

  /** pct_change parity (downloader_wmy.py:54-58): (close - prev)/prev,
    * rounded to 4, null on each key's first period. One shuffle on key;
    * the window sort is per-key and tiny (periods per key).
    */
  /** Exponentially time-decayed sum per group — the recency-weighted
    * rollup of monitoring / feature stores: a value `delta` days
    * before `anchor` contributes value·2^(−delta/halfLifeDays).
    * Output (group, n_rows, decayed_sum), with decayed_sum rounded to
    * cents.
    *
    * Scale shape: ONE hash aggregate on the group key — the weight is
    * a pure row-local expression (no window, no self-join, map-side
    * partial aggregation collapses before the shuffle).
    *
    * Cross-engine determinism (NOTES lesson 11/15): each term snaps
    * to integer CENTS after the decay multiply — value·100 is already
    * exact for 2-dp money, and round() after one double pow/multiply
    * is stable across engines away from exact .5 boundaries — so the
    * SUM is exact BIGINT arithmetic, order-free on any engine. Rows
    * after `anchor` or more than 20 half-lives stale contribute 0 and
    * are dropped before the shuffle (2^-20 of a cent rounds to 0
    * anyway; the filter keeps a mostly-cold 100 TB history out of the
    * aggregate entirely and is partition-prunable on a date-
    * partitioned table).
    */
  def decayedSum(df: DataFrame, group: Column, date: Column, value: Column,
                 anchor: Column, halfLifeDays: Int): DataFrame = {
    require(halfLifeDays >= 1, "halfLifeDays must be >= 1")
    val delta = datediff(anchor, date)
    df.filter(delta >= 0 && delta <= lit(20L * halfLifeDays))
      .select(group.as("grp"),
        round(round(value * 100).cast("long") *
          pow(lit(0.5), delta.cast("double") / halfLifeDays))
          .cast("long").as("term_c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("term_c")).cast("double") / 100.0).as("decayed_sum"))
  }

  def periodReturn(bars: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol")).orderBy(col("period"))
    bars.withColumn("return",
      round(col("close") / lag(col("close"), 1).over(w) - lit(1.0), 4))
  }

  /** MAXIMUM DRAWDOWN per series — the canonical risk read: the
    * deepest peak-to-trough fall of the running maximum. Exact cents
    * end to end: running max over the (partitioned, totally-ordered)
    * series window, drawdown = runmax − price, one grouped aggregate.
    * `ord` must be a TOTAL order (include content tiebreaks — the
    * synthetic lineitem carries duplicate natural keys); rel_micro =
    * ⌊maxdd·1e6/max_cents⌋. Output per series: (k, n_bars,
    * max_cents, max_drawdown_cents, rel_micro).
    */
  def maxDrawdown(bars: DataFrame, key: Column, ord: Column,
                  priceCents: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, 0)
    bars.select(key.as("k"), ord.as("o"),
        priceCents.cast("long").as("c"))
      .withColumn("dd", max(col("c")).over(w) - col("c"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_bars"), max(col("c")).as("max_cents"),
        max(col("dd")).as("max_drawdown_cents"))
      .withColumn("rel_micro",
        fdiv(dec(col("max_drawdown_cents")) * lit(1000000L),
          dec(greatest(col("max_cents"), lit(1L)))))
  }

  /** ROLLING VARIANCE of a cent series (window of `w` rows) — the
    * volatility read with NO double variance: per full window,
    * var = ⌊(n·Q − S²)/n²⌋ over exact integer sums, reported in
    * CENTS² (no micro scaling — cent-scale prices square to ~1e14,
    * and another ×1e6 would overflow the long range). Summarized per
    * series (the full rolling table is data-sized):
    * (k, n_windows, max_var_cents2) — the volatility peak.
    */
  def rollingVariance(bars: DataFrame, key: Column, ord: Column,
                      priceCents: Column, w: Int): DataFrame = {
    require(w >= 2, "window must be >= 2")
    val win = Window.partitionBy(key).orderBy(ord)
      .rowsBetween(-(w - 1), 0)
    bars.select(key.as("k"), ord.as("o"),
        priceCents.cast("long").as("c"))
      .withColumn("nw", count(lit(1)).over(win))
      .withColumn("s", sum(col("c")).over(win))
      .withColumn("q", sum(dec(col("c")) * col("c")).over(win))
      .filter(col("nw") === w.toLong)
      .select(col("k"),
        fdiv(dec(col("nw")) * col("q") - dec(col("s")) * col("s"),
          dec(lit(w.toLong * w))).as("var_cents2"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_windows"),
        max(col("var_cents2")).as("max_var_cents2"))
  }

  /** Calendar densification + forward fill: expand each series to every
    * day of its own [min, max] date span and carry the last observed
    * value across the gaps — the trading-calendar alignment step
    * before any same-grid cross-series math (correlation, spread,
    * index construction).
    *
    * The day grid comes from `sequence()` over the per-series span
    * (generated, not joined against a calendar table), the observed
    * rows land on it via a per-series equi-join, and the fill is
    * `last(value, ignoreNulls)` over the date-ordered series window —
    * one shuffle on the series key covers the span aggregate, the
    * join and the fill window. Values should arrive as exact integers
    * (cents) so downstream sums stay exact; `is_filled` marks carried
    * rows. Gap days before the first observation stay null only when
    * the span starts with one — impossible here since the span is the
    * series' own min. Output: (series, d, value_c, is_filled).
    *
    * At 100 TB the explode multiplies rows by span/observation density
    * — the fill's window is the same single shuffle, but callers
    * should aggregate or re-partition before writing; a mega-series
    * with a decades-long span fans out exactly span-many rows, never
    * more.
    */
  def gapFillForward(bars: DataFrame, series: Column, d: Column,
                     valueCents: Column): DataFrame = {
    val obs = bars.select(series.as("s"), d.as("d"),
      valueCents.cast("long").as("vc"))
    val grid = obs.groupBy(col("s"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("s"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val w = Window.partitionBy(col("s")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq("s", "d"), "left")
      .select(col("s"), col("d"),
        last(col("vc"), ignoreNulls = true).over(w).as("value_c"),
        col("vc").isNull.as("is_filled"))
  }

  /** Per-series AUTOCORRELATION function at lags 1..maxLag — the
    * "does yesterday predict today?" correlogram a feature pipeline
    * reads before choosing lag features or differencing. All maxLag
    * lagged copies ride ONE ordered window over the series shuffle
    * (then unpivot to (series, lag) pairs — no per-lag re-sort), and
    * each (series, lag)'s correlation is the exact DECIMAL(38,0)
    * moment algebra of [[Profile.olsTrend]] (Σx, Σy, Σx², Σy², Σxy on
    * integer cents, one double chain per output row). The caller
    * pre-collapses to one row per (series, ord) — a ROWS-adjacent lag
    * is only deterministic under a TOTAL order (q196's lesson) — and
    * the contract is ENFORCED in-plan: a duplicate (series, ord) row
    * raises at execution instead of silently returning order-dependent
    * correlations. Output: (series, lag, n, acf); degenerate
    * (constant) windows yield null.
    */
  def acf(df: DataFrame, series: Column, ord: Column, valueCents: Column,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val d18 = (c: Column) => c.cast("decimal(18,0)")
    val w = Window.partitionBy(col("__s")).orderBy(col("__o"))
    val rows = df.select(series.as("__s"), ord.as("__o"),
      valueCents.cast("long").as("__v"))
    // The pre-collapse contract (one row per (series, ord) — q196's
    // total-order lesson) enforced IN-PLAN, not by scaladoc: inside
    // the ordered window a duplicate ord surfaces as lag(ord,1)=ord,
    // and the guard rides the y column (+0 when clean) so column
    // pruning can't drop it. Zero extra shuffle, zero extra action.
    val dupGuard = when(lag(col("__o"), 1).over(w) === col("__o"),
      raise_error(lit("acf: duplicate (series, ord) rows — collapse " +
        "to one row per (series, ord) first; a ROWS-adjacent lag is " +
        "only deterministic under a total order")).cast("long"))
      .otherwise(lit(0L))
    val lagged = (1 to maxLag).foldLeft(rows)((d, k) =>
      d.withColumn(s"__l$k", lag(col("__v"), k).over(w)))
      .withColumn("__g", dupGuard)
    val pairs = lagged.select(col("__s"), col("__v"), col("__g"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k).as("lag"), col(s"__l$k").as("vl"))): _*)).as("p"))
      .select(col("__s"), col("p.lag").as("lag"),
        col("p.vl").as("x"), (col("__v") + col("__g")).as("y"))
      .filter(col("x").isNotNull)
    val m = pairs.groupBy(col("__s"), col("lag")).agg(
      count(lit(1)).as("n"),
      sum(d18(col("x"))).as("sx"), sum(d18(col("y"))).as("sy"),
      sum(d18(col("x")) * d18(col("x"))).as("sxx"),
      sum(d18(col("y")) * d18(col("y"))).as("syy"),
      sum(d18(col("x")) * d18(col("y"))).as("sxy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val denx = col("n") * col("sxx") - col("sx") * col("sx")
    val deny = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("__s").as("series"), col("lag"), col("n"),
      when(denx === 0 || deny === 0, lit(null))
        .otherwise(round((num.cast("double") /
          sqrt(denx.cast("double") * deny.cast("double")))
          .cast("decimal(20,10)"), 6).cast("double")).as("acf"))
  }

  /** MASE forecast backtest (Hyndman & Koehler 2006) — the
    * scale-free point-forecast score ([[graft.ops.Profile.pinballLoss]]
    * scores quantiles; this scores levels): the naive one-step
    * forecast's MAE scaled by the in-sample SEASONAL-naive MAE, so
    * MASE < 1 beats "repeat last season" and the score compares
    * across series of different scale. Exact: absolute errors are
    * integer cents from two lag windows sharing ONE series
    * partitioning, and the ratio is a single cross-multiplied floor
    * ⌊Σ|e₁|·n_s·1e6 / (Σ|e_s|·n₁)⌋ — no intermediate means. Output
    * per series: (series, n_1, n_s, mae1_cents_micro…) —
    * (series, n_naive, n_seasonal, sum_abs_naive, sum_abs_seasonal,
    * mase_micro — null when the seasonal error mass is 0).
    */
  def maseBacktest(bars: DataFrame, key: Column, ord: Column,
                   valueCents: Column, season: Int): DataFrame = {
    require(season >= 2, "season must be >= 2 (1 is the naive lag)")
    val w = Window.partitionBy(col("__k")).orderBy(col("__o"))
    val e = bars
      .select(key.as("__k"), ord.as("__o"),
        valueCents.cast("long").as("v"))
      .withColumn("e1", abs(col("v") - lag(col("v"), 1).over(w)))
      .withColumn("es", abs(col("v") - lag(col("v"), season).over(w)))
    e.groupBy(col("__k"))
      .agg(count(col("e1")).as("n_naive"),
        count(col("es")).as("n_seasonal"),
        coalesce(sum(col("e1")), lit(0L)).as("sum_abs_naive"),
        coalesce(sum(col("es")), lit(0L)).as("sum_abs_seasonal"))
      .select(col("__k").as("series"), col("n_naive"),
        col("n_seasonal"), col("sum_abs_naive"),
        col("sum_abs_seasonal"),
        when(col("sum_abs_seasonal") === 0 || col("n_naive") === 0,
          lit(null).cast("long"))
          .otherwise(fdiv(
            dec(col("sum_abs_naive")) * col("n_seasonal") *
              lit(1000000L),
            dec(col("sum_abs_seasonal")) * col("n_naive")))
          .as("mase_micro"))
  }
}
