package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.ops.Cols.{dec, fdiv, tdiv}

/** Column profiler — the ANALYZE face of a training-data pipeline:
  * per-column row/null/distinct counts and numeric min/max in ONE job,
  * not a job per column.
  *
  * Shape: melt each row into k (col_name, value) structs with one
  * Expand (cost k× the scan, all codegen'd), then a single aggregate.
  * The exact-distinct inner shuffle is keyed on (col_name, value) —
  * high cardinality, no hot keys — and the outer aggregate reduces to k
  * rows. Values are compared via their string rendering, which is 1:1
  * per engine, so distinct counts agree across engines even where
  * renderings differ. For profile-at-every-ingest at 100 TB scale, swap
  * the exact distinct for [[Sketch.hllRegisters]] and keep running
  * register tables instead (mergeable, no rescan).
  */
object Profile {

  private def melt(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map { c =>
      val numeric = df.schema(c).dataType match {
        case _: NumericType => col(c).cast("double")
        case _ => lit(null).cast("double")
      }
      struct(lit(c).as("col_name"),
        col(c).cast("string").as("sval"),
        numeric.as("nval"))
    }: _*)).as("m"))
      .select("m.*")

  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    melt(df, cols).groupBy(col("col_name")).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("sval").isNull, 1L).otherwise(0L)).as("n_nulls"),
      countDistinct(col("sval")).as("n_distinct"),
      min(col("nval")).as("min_num"),
      max(col("nval")).as("max_num"))

  /** The profile-at-every-ingest variant: identical counts and bounds,
    * but distinct cardinality comes from the mergeable HLL sketch —
    * no (col_name, value) distinct shuffle, state ≤ cols × m registers.
    * `n_distinct_approx` replaces the exact column.
    */
  def profileSketched(df: DataFrame, cols: Seq[String]): DataFrame = {
    val m = melt(df, cols)
    val base = m.groupBy(col("col_name")).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("sval").isNull, 1L).otherwise(0L)).as("n_nulls"),
      min(col("nval")).as("min_num"),
      max(col("nval")).as("max_num"))
    val est = Sketch.hllEstimate(
      Sketch.hllRegisters(m.filter(col("sval").isNotNull),
        Seq("col_name"), col("sval")),
      Seq("col_name"))
      .withColumnRenamed("n_approx", "n_distinct_approx")
    // an all-null column has no registers (the sketch only sees non-null
    // values) — report 0 like the exact profile, not a null estimate
    base.join(est, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        coalesce(col("n_distinct_approx"), lit(0.0)).as("n_distinct_approx"),
        col("min_num"), col("max_num"))
  }

  /** Robust per-group outlier detection: median/MAD (the estimator that
    * survives the outliers it hunts — mean/stddev get dragged by the
    * very points being flagged). A value is an outlier when
    * |x − median| > k · 1.4826 · MAD (1.4826 scales MAD to σ under
    * normality).
    *
    * Three scans of the input (median, MAD of the deviations, then the
    * flag count), each a plain aggregate with the per-group stats
    * broadcast back — the data never joins against itself, and
    * rescanning beats caching a data-sized intermediate at scale. The
    * flag is a multiply-form comparison (no division), so MAD = 0
    * degenerates safely to "any deviation flags".
    *
    * Exact medians sort within groups; for profile-at-every-ingest at
    * 100 TB swap them for [[Sketch.histQuantiles]] registers (mergeable,
    * one pass) and keep this exact face for verification.
    */
  def robustOutliers(df: DataFrame, group: Column, value: Column,
                     k: Double = 3.0): DataFrame = {
    val rows = df.select(group.as("g"), value.cast("double").as("v"))
    val med = rows.groupBy(col("g")).agg(median(col("v")).as("med"))
    val dev = rows.join(broadcast(med), "g")
      .withColumn("adev", abs(col("v") - col("med")))
    val mad = dev.groupBy(col("g")).agg(median(col("adev")).as("mad"))
    dev.join(broadcast(mad), "g")
      .groupBy(col("g"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("adev") > lit(k) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Per-group winsorized statistics — the tail-clipping feature
    * normalization of a training pipeline: exact interpolated
    * [pLo, pHi] percentile bounds per group, values clamped to them,
    * and the clipped mean reported next to the clip counts.
    *
    * `valueCents` must be an exact integer column (cents, micros —
    * whatever the domain's fixed point is). The percentile bounds
    * round to that SAME fixed point, so clamping and summing stay in
    * exact integer arithmetic — the winsorized mean is a ratio of two
    * exact integers and cross-engine bit-identical; no float ever
    * accumulates. Two passes, both on the group key: the percentile
    * sort-aggregate (one row per group, broadcast back) and the
    * clamp + hash-aggregate. At 100 TB the exact percentile pass is
    * the cost ceiling — swap in [[Sketch.histQuantiles]] bounds for
    * the sketched variant; the clamp pass is unchanged.
    */
  def winsorizedStats(df: DataFrame, group: Column, valueCents: Column,
                      pLo: Double, pHi: Double): DataFrame = {
    val rows = df.select(group.as("g"), valueCents.cast("long").as("vc"))
    val bounds = rows.groupBy(col("g")).agg(
      round(percentile(col("vc"), lit(pLo))).cast("long").as("lo_c"),
      round(percentile(col("vc"), lit(pHi))).cast("long").as("hi_c"))
    rows.join(broadcast(bounds), "g")
      .select(col("g"), col("lo_c"), col("hi_c"),
        least(greatest(col("vc"), col("lo_c")), col("hi_c")).as("wc"),
        when(col("vc") < col("lo_c"), 1L).otherwise(0L).as("clip_lo"),
        when(col("vc") > col("hi_c"), 1L).otherwise(0L).as("clip_hi"))
      .groupBy(col("g"), col("lo_c"), col("hi_c"))
      .agg(count(lit(1)).as("n"),
        sum(col("clip_lo")).as("n_clip_lo"),
        sum(col("clip_hi")).as("n_clip_hi"),
        round((sum(col("wc")).cast("double") /
          (count(lit(1)).cast("double") * 100.0))
          .cast("decimal(20,10)"), 4).cast("double").as("win_mean"))
  }

  /** 2-D PARETO FRONTIER (skyline): the (cost, gain) value pairs not
    * strictly dominated by any other — lower cost and higher gain both
    * better. A pair survives iff its gain exceeds the best gain at any
    * strictly lower cost (and it is its cost's best — equal-cost ties
    * lose to the higher gain), so membership is an EXCLUSIVE prefix
    * max over cost order, never a dominance self-join. The prefix max
    * runs two-level (the [[Ranks.withRunningBelow]] decomposition with
    * max for sum): per-cost candidates collapse first (hash
    * aggregate), costs bucket by exact floor division, level 1 is a
    * per-bucket exclusive running max (parallel across buckets), level
    * 2 broadcasts the exclusive running max of the tiny per-bucket
    * totals — the only single-partition window walks BUCKETS
    * (cost-domain/bucketWidth rows), never the distinct-pair table,
    * which at corpus scale is value-domain-sized. Duplicate input rows
    * collapse into the pair's `n_rows`. Both columns must be integral
    * (the engine's fixed-point convention — snap floats ×10ᵏ first).
    * Output: (cost, gain, n_rows), frontier members only.
    */
  def paretoFrontier2D(df: DataFrame, cost: Column, gain: Column,
                       bucketWidth: Long = 1L << 16): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    // the integral contract must fail LOUDLY: a silent cast('long')
    // would truncate double costs (0.4 and 0.6 merge at 0) or null out
    // strings, returning a wrong frontier instead of an error
    df.select(cost.as("cost"), gain.as("gain")).schema.fields.foreach { f =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(f.dataType),
        s"paretoFrontier2D needs integral columns (snap floats ×10^k " +
          s"first); '${f.name}' is ${f.dataType.simpleString}")
    }
    val pts = df.groupBy(cost.cast("long").as("cost"),
        gain.cast("long").as("gain"))
      .agg(count(lit(1)).as("n_rows"))
    // only a cost's best gain can make the frontier; gains are unique
    // within a cost after the distinct-pair collapse, so max_by is
    // deterministic
    val cand = pts.groupBy(col("cost")).agg(
      max(col("gain")).as("gain"),
      max_by(col("n_rows"), col("gain")).as("n_rows"))
    val b = cand.withColumn("__bkt",
      ((col("cost").cast("decimal(38,0)") -
        pmod(col("cost"), lit(bucketWidth))) / lit(bucketWidth))
        .cast("long"))
    val wIntra = Window.partitionBy(col("__bkt")).orderBy(col("cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val intra = b.withColumn("__i", max(col("gain")).over(wIntra))
    val wOff = Window.partitionBy(Cols.onePartitionKey(col("__bkt")))
      .orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col("__bkt")).agg(max(col("gain")).as("__t"))
      .select(col("__bkt"), max(col("__t")).over(wOff).as("__o"))
    // greatest() skips nulls: first-in-bucket rows carry a null intra
    // max, the first bucket a null offset, the global first row both —
    // exactly the "no prior point" frontier-by-default case
    intra.join(broadcast(offs), "__bkt")
      .withColumn("__maxg", greatest(col("__i"), col("__o")))
      .filter(col("__maxg").isNull || col("gain") > col("__maxg"))
      .select(col("cost"), col("gain"), col("n_rows"))
  }

  /** Per-group closed-form OLS trend (slope + Pearson r of y over x) —
    * the per-series drift/trend summary of a monitoring pipeline, in
    * ONE map-side-combinable aggregate pass: the five moment sums
    * (Σx, Σy, Σx², Σy², Σxy) accumulate in DECIMAL(38,0) from exact
    * integer inputs (x·y at epoch-day × cent scale overflows a long
    * corpus-wide), the normal-equation numerator and denominators stay
    * exact integers, and each output is ONE double division (slope) or
    * division-by-√ (r) on both engines. Degenerate groups (constant x
    * or constant y) yield null rather than ±∞. `x` and `yCents` must
    * be integral. Output: (g, n, slope, r).
    */
  def olsTrend(df: DataFrame, group: Column, x: Column,
               yCents: Column): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(18,0)")
    val rows = df.select(group.as("g"), x.cast("long").as("x"),
      yCents.cast("long").as("y"))
    val m = rows.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      sum(d18(col("x"))).as("sx"),
      sum(d18(col("y"))).as("sy"),
      sum(d18(col("x")) * d18(col("x"))).as("sxx"),
      sum(d18(col("y")) * d18(col("y"))).as("syy"),
      sum(d18(col("x")) * d18(col("y"))).as("sxy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val denx = col("n") * col("sxx") - col("sx") * col("sx")
    val deny = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("g"), col("n"),
      when(denx === 0, lit(null))
        .otherwise(round((num.cast("double") / denx.cast("double"))
          .cast("decimal(20,10)"), 6).cast("double")).as("slope"),
      when(denx === 0 || deny === 0, lit(null))
        .otherwise(round((num.cast("double") /
          sqrt(denx.cast("double") * deny.cast("double")))
          .cast("decimal(20,10)"), 6).cast("double")).as("r"))
  }

  /** Theil–Sen robust trend — the median of all pairwise slopes, the
    * estimator that keeps its value under up to ~29% outliers where
    * [[olsTrend]]'s least squares drags: every (xᵢ < xⱼ) pair's slope
    * snaps to ×1e6 fixed point (one double division per pair,
    * deterministic), and the median is the exact integer 2·cum ≥ total
    * crossing (the weighted-median convention, lower median on even
    * counts) over a group-partitioned window. Work is Σ_g n_g² — the
    * caller bounds n_g by pre-collapsing the series (e.g. to monthly
    * points) exactly as a 100 TB run would. Equal-x pairs are skipped
    * (slope undefined). Output: (g, n_pairs, ts_slope); single-point
    * groups emit nothing.
    */
  def theilSenTrend(df: DataFrame, group: Column, x: Column,
                    yCents: Column): DataFrame = {
    val rows = df.select(group.as("g"), x.cast("long").as("x"),
      yCents.cast("long").as("y"))
    val pairs = rows.as("a").join(rows.as("b"),
        col("a.g") === col("b.g") && col("a.x") < col("b.x"))
      .select(col("a.g").as("g"),
        round(((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x")).cast("double")) * lit(1e6))
          .cast("long").as("s_fp"))
    val byV = pairs.groupBy(col("g"), col("s_fp")).agg(count(lit(1)).as("c"))
    val tot = byV.groupBy(col("g")).agg(sum(col("c")).as("tw"))
    val w = Window.partitionBy(col("g")).orderBy(col("s_fp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byV.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(tot), "g")
      .filter(col("cum") * 2 >= col("tw"))
      .groupBy(col("g"), col("tw"))
      .agg(min(col("s_fp")).as("m_fp"))
      .select(col("g"), col("tw").as("n_pairs"),
        round((col("m_fp").cast("double") / lit(1e6))
          .cast("decimal(20,10)"), 4).cast("double").as("ts_slope"))
  }

  /** JOIN-KEY SKEW report with exact Gini — the pre-shuffle diagnostic
    * a 100 TB join plan reads before choosing salting/AQE: rows-per-key
    * collapse to a (rows-per-key value, #keys) table, the hottest key's
    * share comes from exact integers, and the Gini concentration index
    * uses the grouped closed form B = Σ_v v·(c·K_below + c(c+1)/2)
    * (keys with equal load are consecutive in the sorted order, so
    * their position-sum is exact without materializing per-key ranks),
    * with K_below from the shared [[Ranks.withRunningBelow]] kernel —
    * G = 2B/(n·S) − (n+1)/n in ONE double chain. Output: one row
    * (n_keys, n_rows, max_key_share, gini).
    */
  def keySkewReport(df: DataFrame, key: Column,
                    bucketWidth: Long): DataFrame = {
    val perKey = df.groupBy(key.as("__k")).agg(count(lit(1)).as("v"))
    val byV = perKey.groupBy(col("v")).agg(count(lit(1)).as("c"))
    Ranks.withRunningBelow(byV, "v", bucketWidth, Seq("c"))
      .agg(sum(col("c")).as("n_keys"),
        sum(col("v").cast("decimal(38,0)") * col("c")).as("s"),
        max(col("v")).as("vmax"),
        sum(col("v").cast("decimal(38,0)") *
          (col("c").cast("decimal(38,0)") * col("c_below") +
            expr("(c * (c + 1)) div 2").cast("decimal(38,0)")))
          .as("b"))
      .select(col("n_keys"), col("s").cast("long").as("n_rows"),
        round((col("vmax").cast("double") / col("s").cast("double"))
          .cast("decimal(20,10)"), 6).cast("double").as("max_key_share"),
        round((lit(2.0) * col("b").cast("double") /
          (col("n_keys").cast("double") * col("s").cast("double")) -
          (col("n_keys") + 1).cast("double") /
            col("n_keys").cast("double")).cast("decimal(20,10)"), 6)
          .cast("double").as("gini"))
  }

  /** Exact ROC AUC (ties-aware Mann–Whitney) — the classifier-quality
    * summary a filtering pipeline reports for its quality/toxicity
    * scorers, computed without ever sorting the corpus in one
    * partition: rows collapse to one row per DISTINCT score (positive
    * and negative counts side by side), negatives-strictly-below come
    * from the shared [[Ranks.withRunningBelow]] two-level prefix
    * kernel, and
    * AUC = Σ_v p_v·(2·negBelow_v + negAt_v) / (2·P·N) accumulates in
    * DECIMAL(38,0) — exact integers end to end, ties contribute the
    * standard ½, ONE double division at the end so the value is
    * bit-identical on any engine. `scoreCents` must be integral.
    * Output: one row (n_pos, n_neg, auc); auc null if a class is empty.
    */
  def aucExact(df: DataFrame, label: Column, scoreCents: Column,
               bucketWidth: Long): DataFrame = {
    val rows = df.select(label.as("__y"), scoreCents.cast("long").as("__v"))
    val byV = rows.groupBy(col("__v"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("p"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("q"))
    Ranks.withRunningBelow(byV, "__v", bucketWidth, Seq("q"))
      .agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
        sum(col("p").cast("decimal(38,0)") *
          (lit(2L) * col("q_below") + col("q"))
            .cast("decimal(38,0)")).as("num2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(round((col("num2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double"))).cast("decimal(20,10)"), 6)
            .cast("double")).as("auc"))
  }

  /** Value → exact equal-count bin MAP — the reusable face of the
    * quantile-binning rule ([[calibrationBins]], RFM scoring): each
    * DISTINCT value maps to bin ⌊rowsStrictlyBelow·bins/N⌋ via the
    * shared [[Ranks.withRunningBelow]] kernel; ties share a bin by
    * construction. The result is a value-domain-sized (v, bin) table —
    * broadcastable back onto the rows that produced it.
    */
  def equalCountBinMap(df: DataFrame, value: Column, bins: Int,
                       bucketWidth: Long): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val rows = df.select(value.cast("long").as("__v"))
    val byV = rows.groupBy(col("__v")).agg(count(lit(1)).as("c"))
    val n = rows.agg(count(lit(1)).as("nn"))
    Ranks.withRunningBelow(byV, "__v", bucketWidth, Seq("c"))
      .crossJoin(broadcast(n))
      .select(col("__v").as("v"),
        expr(s"(c_below * $bins) div nn").cast("int").as("bin"))
  }

  /** Exact equal-count CALIBRATION bins — "are high scores actually
    * better?": rows land in `bins` quantile bins of the score by EXACT
    * global rank (bin = ⌊rowsStrictlyBelow·bins/N⌋ — value-level, so
    * ties never straddle a boundary), and each bin reports its
    * observed positive rate next to its score range. The global rank
    * comes from the shared [[Ranks.withRunningBelow]] kernel (no
    * single-partition sort of the score domain); everything is exact
    * integers except the one rate division per bin. `scoreCents` must
    * be integral. Output per non-empty bin:
    * (bin, n_rows, n_pos, rate, lo_c, hi_c).
    */
  def calibrationBins(df: DataFrame, label: Column, scoreCents: Column,
                      bins: Int, bucketWidth: Long): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val rows = df.select(label.as("__y"), scoreCents.cast("long").as("__v"))
    val byV = rows.groupBy(col("__v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("pos"))
    val n = rows.agg(count(lit(1)).as("nn"))
    Ranks.withRunningBelow(byV, "__v", bucketWidth, Seq("c"))
      .crossJoin(broadcast(n))
      .withColumn("bin",
        expr(s"(c_below * $bins) div nn").cast("int"))
      .groupBy(col("bin"))
      .agg(sum(col("c")).as("n_rows"), sum(col("pos")).as("n_pos"),
        round((sum(col("pos")).cast("double") /
          sum(col("c")).cast("double")).cast("decimal(20,10)"), 4)
          .cast("double").as("rate"),
        min(col("__v")).as("lo_c"), max(col("__v")).as("hi_c"))
  }

  /** Delete-one-block JACKKNIFE standard error of a corpus mean — the
    * "how sure are we?" companion every reported metric needs at
    * 100 TB, where resampling-by-rows is unaffordable: rows fold to B
    * deterministic hash blocks (one map-side-combinable aggregate —
    * the ONLY data-sized stage), each leave-one-block-out mean snaps
    * to ×1e6 fixed point (one double division per block), and the
    * jackknife variance (B−1)/B·Σ(m_b−m̄)² comes from exact integer
    * moments (B·Σm² − (Σm)² in DECIMAL(38,0)) with one double chain at
    * the end — deterministic on any engine, no random number ever
    * drawn. Output: one row (n_rows, n_blocks, mean, se).
    */
  def blockJackknifeMean(df: DataFrame, key: Column, valueCents: Column,
                         blocks: Int): DataFrame = {
    require(blocks >= 2, "need at least 2 blocks")
    val rows = df.select(Sampling.hashBucket(key, blocks).as("b"),
      valueCents.cast("long").as("v"))
    val perB = rows.groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("v")).as("sb"))
    val tot = perB.agg(sum(col("nb")).as("n"), sum(col("sb")).as("s"),
      count(lit(1)).as("bb"))
    val m = perB.crossJoin(broadcast(tot))
      .filter(col("nb") < col("n")) // degenerate single-block corpus
      .select(col("n"), col("s"), col("bb"),
        round((col("s") - col("sb")).cast("double") /
          (col("n") - col("nb")).cast("double") * lit(1e6))
          .cast("long").as("m_fp"))
    m.groupBy(col("n"), col("s"), col("bb"))
      .agg(sum(col("m_fp").cast("decimal(38,0)")).as("sm"),
        sum((col("m_fp").cast("decimal(38,0)") *
          col("m_fp").cast("decimal(38,0)"))).as("sm2"))
      .select(col("n").as("n_rows"), col("bb").as("n_blocks"),
        round((col("s").cast("double") / col("n").cast("double") /
          lit(100.0)).cast("decimal(20,10)"), 6).cast("double").as("mean"),
        round((sqrt(
          (col("bb") - 1).cast("double") *
            (col("bb").cast("decimal(38,0)") * col("sm2") -
              col("sm") * col("sm")).cast("double") /
            (col("bb") * col("bb")).cast("double") / lit(1e12)) /
          lit(100.0)).cast("decimal(20,10)"), 6).cast("double").as("se"))
  }

  /** Exact tie-aware SPEARMAN rank correlation — the monotone-trend
    * companion to [[olsTrend]]'s Pearson r (does higher quality come
    * with more tokens, regardless of the curve's shape?): each
    * variable's rows collapse to one row per DISTINCT value, the
    * shared [[Ranks.withRunningBelow]] kernel attaches
    * rows-strictly-below (no single-partition sort of either value
    * domain), and the tie-midpoint rank enters DOUBLED
    * (2·below + count_at + 1 — the exact integer 2·avg-rank, so tied
    * rows share a rank with no fractional arithmetic). The value→rank
    * maps are value-domain-sized and join back on the value key; the
    * correlation itself is [[olsTrend]]'s exact DECIMAL moment algebra
    * over the integer double-ranks with its one double chain at the
    * end. `xCents`/`yCents` must be integral. Output: one row
    * (n, spearman).
    */
  def spearmanExact(df: DataFrame, xCents: Column, yCents: Column,
                    bucketWidth: Long): DataFrame = {
    val rows = df.select(xCents.cast("long").as("__x"),
      yCents.cast("long").as("__y"))
    def drMap(v: String): DataFrame = {
      val byV = rows.groupBy(col(s"__$v")).agg(count(lit(1)).as("c"))
      Ranks.withRunningBelow(byV, s"__$v", bucketWidth, Seq("c"))
        .select(col(s"__$v"),
          (lit(2L) * col("c_below") + col("c") + lit(1L)).as(s"__dr$v"))
    }
    val ranked = rows.join(drMap("x"), Seq("__x"))
      .join(drMap("y"), Seq("__y"))
    olsTrend(ranked, lit(1), col("__drx"), col("__dry"))
      .select(col("n"), col("r").as("spearman"))
  }

  /** Exact tie-aware KENDALL τ-b per group — the concordance companion
    * to [[spearmanExact]] (Spearman measures monotone position, τ
    * measures pairwise ORDER agreement — its ±1 means every pair
    * agrees, a strictly stronger read under heavy ties). Scale shape:
    * rows collapse to the DISTINCT (x, y) value-pair grid with
    * multiplicities first (one hash aggregate — the data-sized pass),
    * then the grid self-joins per group under the canonical
    * (x, y)-lexicographic order so each unordered cell pair counts
    * once: concordant mass Σ wᵢwⱼ where both coordinates rise,
    * discordant where they cross — work is Σ_g |cells_g|², NEVER
    * Σ n_g² row pairs (a million rows over a 100-cell domain cost
    * 10⁴ cell pairs, not 10¹¹). Tie corrections come from the
    * marginal totals in DOUBLED form (n1d = Σ_x t(t−1) etc. — no /2,
    * everything stays an exact DECIMAL(38,0) integer) and
    * τ_b = 2(C−D)/√((n(n−1)−n1d)(n(n−1)−n2d)) takes the single
    * double chain at the end; degenerate groups (either variable
    * constant) yield null, not ±∞. Output per group:
    * (g, n, concordant, discordant, tau_b).
    */
  def kendallTauB(df: DataFrame, group: Column, x: Column,
                  y: Column): DataFrame = {
    // four consumers (both pair-join sides + both marginal collapses)
    // all live in ONE plan: ReusedExchange dedups the identical cell
    // aggregate — persist() here would BLOCK that reuse (the measured
    // q108 lesson) and serialize the consumers against the cache
    val cells = df.select(group.as("g"), x.cast("long").as("x"),
        y.cast("long").as("y"))
      .groupBy(col("g"), col("x"), col("y"))
      .agg(count(lit(1)).as("w"))
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.g") === col("b.g") &&
          (col("a.x") < col("b.x") ||
            (col("a.x") === col("b.x") && col("a.y") < col("b.y"))))
      .groupBy(col("a.g").as("g"))
      .agg(
        sum(when(col("a.x") < col("b.x") && col("a.y") < col("b.y"),
          dec(col("a.w")) * dec(col("b.w"))).otherwise(dec(lit(0))))
          .as("cc"),
        sum(when(col("a.x") < col("b.x") && col("a.y") > col("b.y"),
          dec(col("a.w")) * dec(col("b.w"))).otherwise(dec(lit(0))))
          .as("dd"))
    def marginalDoubled(v: String, out: String): DataFrame =
      cells.groupBy(col("g"), col(v)).agg(sum(col("w")).as("t"))
        .groupBy(col("g"))
        .agg(sum(dec(col("t")) * dec(col("t") - 1)).as(out))
    val totals = cells.groupBy(col("g")).agg(sum(col("w")).as("n"))
      .join(marginalDoubled("x", "n1d"), Seq("g"))
      .join(marginalDoubled("y", "n2d"), Seq("g"))
      .join(pairs, Seq("g"), "left")
      .withColumn("cc", coalesce(col("cc"), dec(lit(0))))
      .withColumn("dd", coalesce(col("dd"), dec(lit(0))))
    val n0d = dec(col("n")) * dec(col("n") - 1)
    val denx = n0d - col("n1d")
    val deny = n0d - col("n2d")
    totals.select(col("g"), col("n"),
      col("cc").cast("long").as("concordant"),
      col("dd").cast("long").as("discordant"),
      when(denx === 0 || deny === 0, lit(null))
        .otherwise(round(((dec(lit(2)) * (col("cc") - col("dd")))
          .cast("double") /
          sqrt(denx.cast("double") * deny.cast("double")))
          .cast("decimal(20,10)"), 6).cast("double")).as("tau_b"))
  }

  /** BENJAMINI–HOCHBERG FDR control over a battery of hypothesis
    * tests — the multiple-testing gate between "m per-group drift
    * screens" and "which groups do we actually flag" (at m tests even
    * pure noise hands you α·m naive rejections; BH caps the expected
    * FALSE-discovery fraction at α instead). The tests table is
    * m rows — the number of HYPOTHESES, bounded by construction — so
    * it ranks under one explicit constant partition (the bounded-frame
    * window convention, not the data-sized rank kernel). The decision
    * rule is exact integers end to end: p snaps ×1e6 (callers pass
    * p already rounded ≤ 6 places), the step-up condition is
    * p_fp·m ≤ α_fp·rank, and k* = the largest satisfying rank (one
    * running max over the same bounded frame); REJECT every rank ≤ k*
    * (including ties and any non-satisfying p below the crossing —
    * the step-up shape). Ties order by (p, tie) for determinism;
    * rejection is tie-stable because equal p at the boundary share
    * the k* side. Output: input columns + (rnk, rejected).
    */
  def bhFdr(tests: DataFrame, p: Column, alpha: Double,
            tie: Column): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    val alphaFp = math.round(alpha * 1e6)
    val withP = tests.withColumn("__pfp",
      round(p.cast("double") * lit(1e6)).cast("long"))
    val wRank = Window.partitionBy(Cols.onePartitionKey(tie))
      .orderBy(col("__pfp"), tie)
    val wAll = Window.partitionBy(Cols.onePartitionKey(tie))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withP
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__kstar",
        max(when(col("__pfp") * col("__m") <= lit(alphaFp) * col("rnk"),
          col("rnk")).otherwise(0L)).over(wAll))
      .withColumn("rejected", col("rnk") <= col("__kstar"))
      .drop("__pfp", "__m", "__kstar")
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * feature-selection companion to [[chiSquareIndependence]] (χ²
    * answers "are they dependent at all"; MI measures HOW MANY nats
    * of one the other carries, the number a "which metadata field
    * predicts quality" ranking compares across fields). Same scale
    * shape: one data-sized hash aggregate to the contingency cells,
    * margins derive from the cells and broadcast back. Only OBSERVED
    * cells contribute (o·ln(0)=0 by convention, so the grid here is
    * the observed cells, not the margins' cross product — the exact
    * opposite of χ²'s empty-cell rule, documented on both). Each
    * cell's o·ln(n·o/(rt·ct)) term snaps ×1e9 pre-sum; MI is the
    * exact term sum over n with one final division. Also reports the
    * normalized MI/ln(min(|A|,|B|)) ∈ [0,1] coefficient (null when
    * min(|A|,|B|) = 1 — a constant column carries nothing). Output:
    * one row (n, n_a, n_b, mi, nmi).
    */
  def mutualInformation(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("__a")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("__b")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("nn"),
      countDistinct(col("__a")).as("na"), countDistinct(col("__b")).as("nb"))
    cells
      .join(broadcast(rt), Seq("__a"))
      .join(broadcast(ct), Seq("__b"))
      .crossJoin(broadcast(tot))
      .select(col("nn"), col("na"), col("nb"),
        round(lit(1e9) * col("o").cast("double") *
          log((dec(col("nn")) * col("o")).cast("double") /
            (dec(col("rt")) * col("ct")).cast("double")))
          .cast("long").as("term_fp"))
      .groupBy(col("nn"), col("na"), col("nb"))
      .agg(sum(col("term_fp")).as("s_fp"))
      .select(col("nn").as("n"), col("na").as("n_a"), col("nb").as("n_b"),
        round((col("s_fp").cast("double") / col("nn").cast("double") /
          lit(1e9)).cast("decimal(20,10)"), 6).cast("double").as("mi"),
        when(least(col("na"), col("nb")) <= 1, lit(null))
          .otherwise(round((col("s_fp").cast("double") /
            col("nn").cast("double") / lit(1e9) /
            log(least(col("na"), col("nb")).cast("double")))
            .cast("decimal(20,10)"), 6).cast("double")).as("nmi"))
  }

  /** Chi-square INDEPENDENCE test between two categorical columns —
    * "is language independent of source?", the composition-drift gate
    * a corpus release runs per ingest. One data-sized hash aggregate
    * builds the contingency cells; row/column/grand totals derive from
    * the cells (category-domain-sized, broadcast back), and each
    * cell's term uses the division-free identity
    * (o−e)²/e = (n·o − rt·ct)² / (n·rt·ct) on exact DECIMAL(38,0)
    * integers, snapped ×1e6 per cell BEFORE the order-free sum — one
    * double division per cell, one final /1e6. EMPTY cells still
    * contribute (their term is e itself), so the grid is the margins'
    * cross product with observed counts left-joined on — never just
    * the observed cells. Output: one row (n, n_a, n_b, dof, chi2).
    */
  def chiSquareIndependence(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("__a"), b.as("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("__a")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("__b")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("nn"),
      countDistinct(col("__a")).as("na"), countDistinct(col("__b")).as("nb"))
    rt.crossJoin(broadcast(ct)) // the FULL |A|×|B| contingency grid
      .join(cells, Seq("__a", "__b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("nn"), col("na"), col("nb"),
        round(lit(1e6) *
          ((dec(col("nn")) * col("o") - dec(col("rt")) * col("ct")) *
            (dec(col("nn")) * col("o") - dec(col("rt")) * col("ct")))
            .cast("double") /
          (dec(col("nn")) * col("rt") * col("ct")).cast("double"))
          .cast("long").as("term_fp"))
      .groupBy(col("nn"), col("na"), col("nb"))
      .agg(sum(col("term_fp")).as("s_fp"))
      .select(col("nn").as("n"), col("na").as("n_a"), col("nb").as("n_b"),
        ((col("na") - 1) * (col("nb") - 1)).as("dof"),
        round((col("s_fp").cast("double") / lit(1e6))
          .cast("decimal(20,10)"), 4).cast("double").as("chi2"))
  }

  /** KAPLAN–MEIER survival estimate — retention/time-to-event over
    * right-censored observations (one row per subject: duration +
    * did-the-event-happen flag), computed with NO single-partition
    * pass over the duration domain: subjects collapse to one row per
    * DISTINCT duration, at-risk counts come from the shared
    * [[Ranks.withRunningBelow]] kernel (n_risk = N − strictly-below),
    * and the survival product runs as a SECOND pass of the same kernel
    * over the ×1e6-snapped ln(1 − d/n) hazard terms (exclusive-below +
    * own = inclusive cumulative sum — associative, never a global
    * window). A time where every at-risk subject fails (d = n_risk,
    * ln 0 = −∞) contributes the exact integer sentinel −1e8 (e^-100):
    * survival rounds to 0 there and stays 0 after, on any engine.
    * Output per distinct EVENT time: (t, n_risk, n_events, survival).
    */
  def kaplanMeier(df: DataFrame, duration: Column, event: Column,
                  bucketWidth: Long): DataFrame = {
    val rows = df.select(duration.cast("long").as("__t"),
      when(event, 1L).otherwise(0L).as("__e"))
    val byT = rows.groupBy(col("__t"))
      .agg(count(lit(1)).as("c"), sum(col("__e")).as("d"))
    val n = rows.agg(count(lit(1)).as("nn"))
    val ev = Ranks.withRunningBelow(byT, "__t", bucketWidth, Seq("c"))
      .crossJoin(broadcast(n))
      .withColumn("n_risk", col("nn") - col("c_below"))
      .filter(col("d") > 0)
      .withColumn("lnterm_fp",
        when(col("d") === col("n_risk"), lit(-100000000L))
          .otherwise(round(lit(1e6) *
            log((col("n_risk") - col("d")).cast("double") /
              col("n_risk").cast("double"))).cast("long")))
      .select(col("__t"), col("n_risk"), col("d"), col("lnterm_fp"))
    Ranks.withRunningBelow(ev, "__t", bucketWidth, Seq("lnterm_fp"))
      .select(col("__t").as("t"), col("n_risk"), col("d").as("n_events"),
        round(exp((col("lnterm_fp_below") + col("lnterm_fp"))
          .cast("double") / lit(1e6)).cast("decimal(20,10)"), 4)
          .cast("double").as("survival"))
  }

  /** LOG-RANK TEST (Mantel–Haenszel) — [[kaplanMeier]]'s two-sample
    * significance companion: do two survival curves differ, or is
    * the gap censoring noise? At each distinct event time the 2×2
    * table contributes O/E/V terms (E₁ = d·n₁/n,
    * V = d·n₁·n₂·(n−d)/(n²·(n−1))); z = (O₁ − E₁)/√V. Same
    * no-single-partition discipline as KM: both groups' subject and
    * event counts ride ONE [[Ranks.withRunningBelow]] pass over the
    * pooled distinct times (at-risk = total − strictly-below), the
    * rational E/V terms snap ×1e9 per time (one floor each, exact
    * integers in DECIMAL), and the single double chain is the final
    * z (micro snap, the conversionZTest convention). A time where
    * n ≤ 1 contributes zero variance by definition. Output one row:
    * (n_1, n_2, o1, e1_nano, v_nano, z_micro — null when V = 0,
    * significant = |z| ≥ 1.96).
    */
  def logRankTest(df: DataFrame, group1: Column, duration: Column,
                  event: Column, bucketWidth: Long): DataFrame = {
    val rows = df.select(duration.cast("long").as("__t"),
      when(group1, 1L).otherwise(0L).as("g1"),
      when(event, 1L).otherwise(0L).as("e"))
    val byT = rows.groupBy(col("__t"))
      .agg(sum(col("g1")).as("c1"),
        sum(lit(1L) - col("g1")).as("c2"),
        sum(col("g1") * col("e")).as("d1"),
        sum((lit(1L) - col("g1")) * col("e")).as("d2"))
    val tot = rows.agg(sum(col("g1")).as("n1t"),
      sum(lit(1L) - col("g1")).as("n2t"))
    val terms = Ranks.withRunningBelow(byT, "__t", bucketWidth,
        Seq("c1", "c2"))
      .crossJoin(broadcast(tot))
      .withColumn("n1", col("n1t") - col("c1_below"))
      .withColumn("n2", col("n2t") - col("c2_below"))
      .withColumn("nr", col("n1") + col("n2"))
      .withColumn("d", col("d1") + col("d2"))
      .filter(col("d") > 0)
      .withColumn("e_fp",
        fdiv(dec(col("d")) * col("n1") * lit(1000000000L),
          dec(col("nr"))))
      .withColumn("v_fp",
        when(col("nr") <= 1, 0L).otherwise(
          fdiv(dec(col("d")) * col("n1") * col("n2") *
            (col("nr") - col("d")) * lit(1000000000L),
            dec(col("nr")) * col("nr") * (col("nr") - 1))))
    terms
      .agg(max(col("n1t")).as("n_1"), max(col("n2t")).as("n_2"),
        sum(col("d1")).as("o1"), sum(col("e_fp")).as("e1_nano"),
        sum(col("v_fp")).as("v_nano"))
      .withColumn("z_micro",
        when(col("v_nano") === 0, lit(null).cast("long"))
          .otherwise(round(
            (col("o1").cast("double") -
              col("e1_nano").cast("double") / lit(1e9)) /
              sqrt(col("v_nano").cast("double") / lit(1e9)) *
              lit(1e6)).cast("long")))
      .withColumn("significant",
        coalesce(abs(col("z_micro")) >= 1960000L, lit(false)))
  }

  /** K-anonymity generalization ladder — the privacy gate a
    * training-data release needs: for each candidate generalization of
    * the numeric quasi-identifier (bucket width w; w = 0 drops the
    * column entirely), how many rows sit in a quasi-identifier group
    * smaller than k (re-identifiable), and does the level meet k?
    * ONE shuffle for every level: rows explode over the (few) widths,
    * group sizes aggregate map-side-combinably on (width, QI...,
    * generalized bucket), and the per-level report is a second tiny
    * aggregate. Negative values bucket by true floor division (pmod),
    * matching SQL's ((v % w) + w) % w chain. Output per width:
    * (width, n_groups, n_risky_groups, n_risky_rows, meets_k).
    */
  def kAnonymityLadder(df: DataFrame, qi: Seq[Column], numCents: Column,
                       widths: Seq[Long], k: Int): DataFrame = {
    require(widths.nonEmpty && k >= 1)
    val lvl = df.select((qi :+ numCents.cast("long").as("__v") :+
        explode(array(widths.map(lit): _*)).as("width")): _*)
      .withColumn("__g",
        when(col("width") === 0L, lit(-1L)) // column generalized away
          .otherwise(((col("__v").cast("decimal(38,0)") -
            pmod(col("__v"), col("width"))) / col("width")).cast("long")))
    val qiNames = lvl.columns.filter(c => c != "__v" && c != "width" &&
      c != "__g").toSeq
    val groups = lvl.groupBy((col("width") +: qiNames.map(col) :+
        col("__g")): _*)
      .agg(count(lit(1)).as("n"))
    groups.groupBy(col("width"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_risky_rows"))
      .withColumn("meets_k", col("n_risky_rows") === 0L)
  }

  /** L-DIVERSITY ladder — [[kAnonymityLadder]]'s sibling for the
    * attack k-anonymity misses: an equivalence class can be large
    * (k-anonymous) yet carry ONE sensitive value, so membership alone
    * discloses it. Per quasi-identifier class, l = distinct sensitive
    * values; for each rung 1..`maxL` the ladder reports how many
    * classes (and rows) fall BELOW that diversity, plus the corpus
    * min/max l. One grouped aggregate to class level, then every rung
    * reads the tiny class table — the ladder explode never touches
    * data-sized rows. Output one row per rung: (l, n_groups_below,
    * n_rows_below, min_l, max_l, meets_l).
    */
  def lDiversity(df: DataFrame, qi: Seq[Column], sensitive: Column,
                 maxL: Int): DataFrame = {
    require(qi.nonEmpty && maxL >= 1)
    val classes = df
      .groupBy(qi: _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("ldist"))
    val bounds = classes.agg(min(col("ldist")).as("min_l"),
      max(col("ldist")).as("max_l"))
    classes
      .select(col("n"), col("ldist"),
        explode(array((1 to maxL).map(lit): _*)).as("rung"))
      .groupBy(col("rung").as("l"))
      .agg(sum(when(col("ldist") < col("rung"), 1L).otherwise(0L))
          .as("n_groups_below"),
        sum(when(col("ldist") < col("rung"), col("n")).otherwise(0L))
          .as("n_rows_below"))
      .crossJoin(broadcast(bounds))
      .withColumn("meets_l", col("n_rows_below") === 0L)
  }

  /** t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung of the privacy ladder after k-anonymity (q171/q366) and
    * [[lDiversity]] (q416): a quasi-identifier class leaks when its
    * SENSITIVE-value distribution sits far from the corpus's, and for
    * an ORDERED sensitive attribute the paper's distance is the
    * earth-mover's distance with unit ground distance between
    * adjacent values:
    *   EMD(g) = (1/(m−1)) · Σ_{i<m} |CumP_g(vᵢ) − CumP_all(vᵢ)|
    * over the m GLOBAL ordered distinct values. Exact rational
    * arithmetic: each cumulative gap is (cum_g·T − cum_all·T_g) over
    * the common denominator T_g·T, so
    *   emd_micro = ⌊Σ|cum_g·T − cum_all·T_g| · 10⁶ / ((m−1)·T_g·T)⌋
    * — one integer floor per group, no doubles anywhere. The value
    * grid is groups × m rows (bucket a high-cardinality sensitive
    * column upstream — the audit's m is a policy choice, not data-
    * sized); cumulative sums run per group over the m-value frame.
    * Output per class: (grp, n_rows, m_values, emd_micro — null when
    * m = 1, where t-closeness is vacuous).
    */
  def tCloseness(df: DataFrame, quasi: Column,
                 sensitive: Column): DataFrame = {
    val base = df.select(quasi.as("grp"), sensitive.as("v"))
    val gv = base.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c"))
    val vall = base.groupBy(col("v")).agg(count(lit(1)).as("c_all"))
    val groups = gv.groupBy(col("grp")).agg(sum(col("c")).as("t_g"))
    val mT = vall.agg(count(lit(1)).as("m"),
      sum(col("c_all")).as("t"))
    // the full groups × values grid: absent cells count 0 but still
    // carry the cumulative gap forward
    val grid = groups.crossJoin(broadcast(vall))
      .join(gv, Seq("grp", "v"), "left")
      .na.fill(0L, Seq("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    grid
      .withColumn("cum_g", sum(col("c")).over(w))
      // the grid carries every value once per group, so cumulating
      // the global per-value counts inside the group frame IS the
      // global cumulative at each value
      .withColumn("cum_all", sum(col("c_all")).over(w))
      .crossJoin(broadcast(mT))
      // the last value's cumulative gap is 0 by construction; summing
      // over ALL m rows instead of m−1 adds exactly nothing
      .select(col("grp"), col("t_g"), col("m"), col("t"),
        abs(dec(col("cum_g")) * dec(col("t")) -
          dec(col("cum_all")) * dec(col("t_g"))).as("gap"))
      .groupBy(col("grp"), col("t_g"), col("m"), col("t"))
      .agg(sum(col("gap")).as("gap_sum"))
      .select(col("grp"), col("t_g").as("n_rows"),
        col("m").as("m_values"),
        when(col("m") <= 1, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("gap_sum")) * lit(1000000L),
            dec(col("m") - 1) * dec(col("t_g")) * dec(col("t"))))
          .as("emd_micro"))
  }

  /** HERFINDAHL–HIRSCHMAN INDEX per group — [[giniCoefficient]]'s
    * antitrust sibling, the square-of-shares concentration read
    * (HHI of 1e6 = a monopoly domain; ≤ ~1500 "unconcentrated" in
    * the classic scale ×1e4, here ×1e6): per group,
    * hhi = Σ_member (count/total)² = ⌊Σ count²·1e6 / total²⌋ — exact
    * integers, two map-side-combinable aggregates. Output one row
    * per group: (grp, n_members, total, hhi_micro).
    */
  def hhiConcentration(df: DataFrame, group: Column,
                       member: Column): DataFrame = {
    df.groupBy(group.as("grp"), member.as("m"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_members"), sum(col("c")).as("total"),
        sum(dec(col("c")) * col("c")).as("sq"))
      .select(col("grp"), col("n_members"), col("total"),
        fdiv(col("sq") * lit(1000000L),
          dec(col("total")) * col("total")).as("hhi_micro"))
  }

  /** GINI COEFFICIENT of a nonnegative value column — the corpus-
    * concentration read ("do 1% of domains hold 90% of the
    * tokens?"): G = (2·Σᵢ i·xᵢ − (n+1)·S) / (n·S) over values sorted
    * ascending. EXACT despite the rank weighting: equal values make
    * Σ i·xᵢ invariant under tie order, so the sum collapses onto the
    * distinct-value spectrum — a block of cnt copies of v starting
    * above `below` contributes v·(cnt·below + cnt(cnt+1)/2) — and
    * ranks come from the two-level prefix kernel, never a global
    * sort. One floored division at the end. Output one row:
    * (n, value_sum, gini_micro — null on an all-zero or empty
    * column).
    */
  def giniCoefficient(df: DataFrame, value: Column,
                      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1)
    val byV = df.select(value.cast("long").as("v"))
      .filter(col("v") >= 0L)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val ranked = Ranks.withRunningBelow(byV, "v", bucketWidth,
      Seq("cnt"))
    val agg = ranked.agg(
      sum(col("cnt")).as("n"),
      sum(dec(col("v")) * col("cnt")).as("s"),
      sum(dec(col("v")) * (dec(col("cnt")) * col("cnt_below") +
        (col("cnt") * (col("cnt") + 1) / 2).cast("long"))).as("iw"))
    agg.select(col("n"), col("s").cast("long").as("value_sum"),
      when(col("s") === 0, lit(null).cast("long"))
        .otherwise(fdiv(
          (dec(lit(2L)) * col("iw") - (dec(col("n")) + 1) * col("s"))
            * lit(1000000L),
          dec(col("n")) * col("s"))).as("gini_micro"))
  }

  /** DATA-CONTRACT INFERENCE (the Deequ-style profiler): per column
    * one exact pass suggests the constraints the data already
    * satisfies — not_null when zero nulls, unique when the non-null
    * values are all distinct. These are the rules a pipeline then
    * ENFORCES via [[graft.sources.Snapshot.commitChecked]]; inferring
    * them from a healthy snapshot is how contracts get written in
    * practice. One aggregate carrying every column's count/distinct
    * (the distinct expansion is Spark's standard multi-distinct
    * rewrite); output one row per column: (column, n_rows, n_nulls,
    * n_distinct, null_micro, suggest_not_null, suggest_unique).
    */
  def inferContract(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"))) :+
      count(lit(1)).as("__n")
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"nn_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        fdiv(dec(col("__n") - col(s"nn_$c")) * lit(1000000L),
          dec(greatest(col("__n"), lit(1L)))).as("null_micro"),
        (col("__n") === col(s"nn_$c")).as("suggest_not_null"),
        (col(s"nd_$c") === col(s"nn_$c")).as("suggest_unique"))): _*))
        .as("r"))
      .select(col("r.*"))
  }

  /** AVERAGE PRECISION (the PR-curve area, interpolation-free form) —
    * the ranking eval that matters when positives are rare and
    * [[aucExact]]'s symmetric view flatters: AP = mean over positives
    * of precision@their-rank, ranks by (score desc, id). House
    * determinism: each positive's precision snaps ×1e6 before the
    * sum (the −ln-terms convention — harmonic denominators admit no
    * single rational), the final mean is one more floor. Global ranks
    * come from the two-level prefix kernel ([[Ranks.withRunningBelow]]
    * on distinct scores — never a data-sized global window); the
    * within-tie walk partitions by score value. Output one row:
    * (n, n_pos, sum_prec_micro, ap_micro — null when no positives).
    */
  def averagePrecision(df: DataFrame, id: Column, score: Column,
                       label: Column, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val rows = df.select(id.as("id"), score.cast("long").as("v"),
      when(label, 1L).otherwise(0L).as("y"))
    val byV = rows.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
      .withColumn("nv", -col("v"))
    val below = Ranks.withRunningBelow(byV, "nv", bucketWidth,
      Seq("cnt", "pos"))
      .select(col("v"), col("cnt_below"), col("pos_below"))
    val wTie = Window.partitionBy(col("v")).orderBy(col("id"))
    val ranked = rows.join(below, "v")
      .withColumn("k", col("cnt_below") + row_number().over(wTie))
      .withColumn("posK", col("pos_below") + sum(col("y"))
        .over(wTie.rowsBetween(Window.unboundedPreceding, 0)))
    val totals = rows.agg(count(lit(1)).as("n"),
      sum(col("y")).as("n_pos"))
    val apAgg = ranked.filter(col("y") === 1L)
      .agg(coalesce(sum(fdiv(dec(col("posK")) * lit(1000000L),
        dec(col("k")))), lit(0L)).as("sum_prec_micro"))
    totals.crossJoin(broadcast(apAgg))
      .select(col("n"), col("n_pos"), col("sum_prec_micro"),
        when(col("n_pos") === 0L, lit(null).cast("long"))
          .otherwise(fdiv(dec(col("sum_prec_micro")),
            dec(col("n_pos")))).as("ap_micro"))
  }

  /** DECILE LIFT / cumulative-gains table for a score against a
    * binary label — the campaign-targeting companion to [[aucExact]]
    * (AUC summarizes ranking quality in one number; the lift table
    * says what acting on the top-d deciles actually captures).
    * Rows land in deciles by descending score; a tied score's rows
    * all take the decile of their last (worst) position — ties can't
    * split, so the table is deterministic under any physical order.
    *
    * Scale shape: one hash aggregate to distinct scores, running
    * counts via the two-level prefix kernel (descending upper rank =
    * n − below), then everything lives on the ≤ `tiles`-row table:
    * the cumulative walk is a constant-partition window over tiles
    * rows. Exact integer counts; rates and lift snap 4dp. Output one
    * row per non-empty decile: (decile, n, n_pos, cum_n, cum_pos,
    * cum_rate, lift); lift is null when the corpus has no positives.
    */
  def decileLift(df: DataFrame, score: Column, label: Column,
                 tiles: Int, bucketWidth: Long): DataFrame = {
    require(tiles >= 1, "tiles must be >= 1")
    def ceilDiv(a: Column, b: Column): Column = {
      val t = a + b - lit(1L)
      ((t - pmod(t, b)) / b).cast("long")
    }
    val byV = df.select(score.cast("long").as("v"),
        when(label, 1L).otherwise(0L).as("y"))
      .groupBy(col("v"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("tot"))
    val ranked = Ranks.withRunningBelow(byV, "v", bucketWidth,
      Seq("pos", "tot"))
    val totals = byV.agg(sum(col("pos")).as("npos"),
      sum(col("tot")).as("n"))
    val tiled = ranked.crossJoin(broadcast(totals))
      .withColumn("decile",
        ceilDiv((col("n") - col("tot_below")) * tiles, col("n")))
      .groupBy(col("decile"))
      .agg(sum(col("tot")).as("n_d"), sum(col("pos")).as("pos_d"),
        max(col("npos")).as("npos"), max(col("n")).as("nn"))
    val wCum = Window.partitionBy(Cols.onePartitionKey(col("decile")))
      .orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tiled
      .withColumn("cum_n", sum(col("n_d")).over(wCum))
      .withColumn("cum_pos", sum(col("pos_d")).over(wCum))
      .select(col("decile"), col("n_d").as("n"),
        col("pos_d").as("n_pos"), col("cum_n"), col("cum_pos"),
        round((col("cum_pos").cast("double") /
          col("cum_n").cast("double")).cast("decimal(20,10)"), 4)
          .cast("double").as("cum_rate"),
        when(col("npos") === 0, lit(null)).otherwise(
          round(((dec(col("cum_pos")) * col("nn")).cast("double") /
            (dec(col("cum_n")) * col("npos")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double")).as("lift"))
  }

  /** Optimal DECISION-STUMP split by GINI impurity reduction — the
    * one-feature supervised learner (and the inner step of any
    * distributed tree build): over candidate thresholds "x ≤ v" for
    * every distinct v, pick the split minimizing the weighted child
    * Gini impurity against a binary label. changePointSSE localizes
    * an unsupervised regime shift; this finds the supervised
    * boundary a label actually separates on.
    *
    * Scale shape: one hash aggregate to per-distinct-value (pos,
    * tot), then BOTH running counts ride ONE two-level prefix pass
    * ([[Ranks.withRunningBelow]] — never a value-domain
    * single-partition window); every threshold scores from its
    * inclusive-left counts alone and the argmax is a sort+limit head
    * (TakeOrderedAndProject). Exact integer moments; the weighted
    * purity (posL²+negL²)/(nL·n) + (posR²+negR²)/(nR·n) snaps ×1e9
    * (maximizing purity = minimizing impurity), ties on the smallest
    * threshold. Output one row: (n, n_pos, threshold, gini_parent,
    * gini_split, gain); empty/single-value input yields empty.
    */
  def giniSplitStump(df: DataFrame, value: Column, label: Column,
                     bucketWidth: Long): DataFrame = {
    val byV = df.select(value.cast("long").as("v"),
        when(label, 1L).otherwise(0L).as("y"))
      .groupBy(col("v"))
      .agg(sum(col("y")).as("pos"), count(lit(1)).as("tot"))
    val ranked = Ranks.withRunningBelow(byV, "v", bucketWidth,
      Seq("pos", "tot"))
    val totals = byV.agg(sum(col("pos")).as("npos"),
      sum(col("tot")).as("n"))
    def purity(p: Column, m: Column, den: Column): Column =
      (dec(p) * p + dec(m - p) * (m - p)).cast("double") /
        den.cast("double")
    val sc = ranked.crossJoin(broadcast(totals))
      .withColumn("posl", col("pos_below") + col("pos"))
      .withColumn("nl", col("tot_below") + col("tot"))
      .filter(col("nl") < col("n"))
      .withColumn("posr", col("npos") - col("posl"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("gfp", round((
        purity(col("posl"), col("nl"), dec(col("nl")) * col("n")) +
        purity(col("posr"), col("nr"), dec(col("nr")) * col("n"))) *
        lit(1e9)).cast("long"))
    val pfp = round(purity(col("npos"), col("n"),
      dec(col("n")) * col("n")) * lit(1e9)).cast("long")
    def m6(fp: Column): Column =
      round((fp.cast("double") / lit(1e9)).cast("decimal(20,10)"), 6)
        .cast("double")
    sc.orderBy(col("gfp").desc, col("v")).limit(1)
      .select(col("n"), col("npos").as("n_pos"),
        col("v").as("threshold"),
        m6(lit(1000000000L) - pfp).as("gini_parent"),
        m6(lit(1000000000L) - col("gfp")).as("gini_split"),
        m6(col("gfp") - pfp).as("gain"))
  }

  /** Deterministic BLOCK BOOTSTRAP percentile CI for the mean —
    * [[blockJackknifeMean]]'s companion when the bias-corrected SE is
    * not enough and the full resampling distribution is wanted
    * (skewed metrics, ratio estimators). Rows hash into `m` key
    * blocks (dependence within a key stays intact); each of `reps`
    * replicates redraws m blocks WITH replacement, selection hashed
    * from (replicate, draw) — no RNG state, identical on any engine
    * and any re-run. Replicate means snap ×1e6 (micro-cents); the CI
    * is the exact 2.5%/97.5% order statistics of the replicate means
    * and the SE their exact-moment sample stddev.
    *
    * Shape: ONE data-sized aggregate to per-block (sum, count); the
    * reps×m selection grid is constant-sized and joins the m-row
    * block table — everything after the first aggregate is bounded,
    * so reps scales freely. The final rank walks reps rows under one
    * constant partition. Output one row: (n_rows, n_blocks, n_reps,
    * mean_full, ci_lo, ci_hi, se) — money columns /100-scaled to 4dp
    * (6dp for se); empty input yields an empty result.
    */
  def blockBootstrapMean(df: DataFrame, key: Column, valueCents: Column,
                         m: Int, reps: Int): DataFrame = {
    require(m >= 1 && reps >= 2, "need m >= 1 blocks and reps >= 2")
    val spark = df.sparkSession
    val rows = df.select(
      pmod(Dedup.hashLong(concat(lit("u"), key.cast("string"))),
        lit(m.toLong)).as("blk"),
      valueCents.cast("long").as("v"))
    val blocks = rows.groupBy(col("blk"))
      .agg(sum(dec(col("v"))).as("s"), count(lit(1)).as("c"))
    val grid = spark.range(0, reps).toDF("b")
      .crossJoin(spark.range(0, m).toDF("i"))
      .select(col("b"), pmod(Dedup.hashLong(concat(lit("r"),
        col("b").cast("string"), lit(":"), col("i").cast("string"))),
        lit(m.toLong)).as("blk"))
    val repMeans = grid.join(blocks, "blk")
      .groupBy(col("b"))
      .agg(sum(col("s")).as("ss"), sum(col("c")).as("cc"))
      .filter(col("cc") > 0)
      .select(col("b"), round(col("ss").cast("double") /
        col("cc").cast("double") * lit(1e6)).cast("long").as("mfp"))
    val ranked = repMeans.withColumn("rn", row_number().over(
      Window.partitionBy(Cols.onePartitionKey(col("b")))
        .orderBy(col("mfp"), col("b"))))
    // exact ceil-div picks: lo = ceil(0.025 nB), hi = ceil(0.975 nB)
    def pick(q: Int): Column = {
      val t = col("nb") * q + lit(999L)
      (t - pmod(t, lit(1000L))) / lit(1000L)
    }
    val stats = repMeans.agg(count(lit(1)).as("nb"),
      sum(dec(col("mfp"))).as("sx"),
      sum(dec(col("mfp")) * col("mfp")).as("sxx"))
    val ci = ranked.crossJoin(broadcast(stats))
      .groupBy(col("nb"), col("sx"), col("sxx"))
      .agg(max(when(col("rn") === pick(25).cast("long"), col("mfp")))
          .as("lofp"),
        max(when(col("rn") === pick(975).cast("long"), col("mfp")))
          .as("hifp"))
    val full = rows.agg(sum(dec(col("v"))).as("st"),
      count(lit(1)).as("ct"), count_distinct(col("blk")).as("nblk"))
      .filter(col("ct") > 0)
    def money4(fp: Column): Column =
      round((fp.cast("double") / lit(1e8)).cast("decimal(20,10)"), 4)
        .cast("double")
    full.crossJoin(broadcast(ci))
      .select(col("ct").as("n_rows"), col("nblk").as("n_blocks"),
        col("nb").as("n_reps"),
        round((col("st").cast("double") / col("ct").cast("double") /
          lit(100.0)).cast("decimal(20,10)"), 4).cast("double")
          .as("mean_full"),
        money4(col("lofp")).as("ci_lo"),
        money4(col("hifp")).as("ci_hi"),
        round((sqrt((dec(col("nb")) * col("sxx") -
            col("sx") * col("sx")).cast("double") /
            (dec(col("nb")) * (col("nb") - 1)).cast("double")) /
          lit(1e8)).cast("decimal(20,10)"), 6).cast("double").as("se"))
  }

  /** COHEN'S KAPPA chance-corrected agreement between two categorical
    * raters over the same rows — the inter-annotator/filter-agreement
    * audit: when two quality gates both pass 80% of a corpus, raw
    * agreement is high by chance alone; κ = (p_o − p_e)/(1 − p_e)
    * subtracts the margins' product expectation. The read a pipeline
    * takes before swapping one labeling heuristic for another.
    *
    * Shape: one hash aggregate to the observed (a, b) cell grid
    * (never corpus²), margins re-aggregate from the cells, expected
    * agreement joins margins on category equality (absent categories
    * contribute 0 via the inner join). Exact integer algebra
    * throughout: κ = (n·Σn_cc − Σr_c·c_c)/(n² − Σr_c·c_c) in
    * DECIMAL(38,0), one double division snapped 6dp; p_o/p_e snap
    * 4dp. Output one row (n, agree, po, pe, kappa); κ is null when
    * p_e = 1 (a single category on both sides).
    */
  def cohenKappa(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("a"), b.as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val n = cells.agg(sum(col("o")).as("n"))
    val agree = cells.filter(col("a") === col("b"))
      .agg(coalesce(sum(col("o")), lit(0L)).as("agree"))
    val spc = ra.join(cb, col("a") === col("b"))
      .agg(coalesce(sum(dec(col("ra")) * col("cb")),
        lit(0).cast("decimal(38,0)")).as("spc"))
    n.crossJoin(agree).crossJoin(spc)
      .select(col("n"), col("agree"),
        round((col("agree").cast("double") / col("n").cast("double"))
          .cast("decimal(20,10)"), 4).cast("double").as("po"),
        round((col("spc").cast("double") /
          (dec(col("n")) * col("n")).cast("double"))
          .cast("decimal(20,10)"), 4).cast("double").as("pe"),
        when(dec(col("n")) * col("n") === col("spc"), lit(null))
          .otherwise(round(
            ((dec(col("n")) * col("agree") - col("spc")).cast("double") /
             (dec(col("n")) * col("n") - col("spc")).cast("double"))
            .cast("decimal(20,10)"), 6).cast("double")).as("kappa"))
  }

  /** QUANTILE NORMALIZATION across groups — map every value to the
    * POOLED distribution's value at the same quantile, so each
    * group's distribution becomes the shared reference (the
    * microarray-normalization classic, and the cross-source score
    * calibration step a mixed-corpus pipeline runs before a global
    * quality threshold). Discrete convention: a value's quantile is
    * its UPPER within-group rank r/n_g, snapped to a fixed grid of
    * `bins` quantile bins; bin b's reference is the pooled value
    * covering position ceil(b·N/bins).
    *
    * Scale shape: within-group ranks ride the GROUPED two-level
    * prefix kernel and pooled ranks the ungrouped one (never a
    * global sort partition); the bins-row grid broadcasts against
    * the pooled range table (O(D·bins) distributed comparisons, the
    * documented cost of an exact reference lookup), and the final
    * bin→reference map broadcasts back onto the distinct (g, v)
    * table. The bounded bin grid is also what keeps rank×N products
    * inside exact integer range at any corpus size — rank·bins and
    * bin·N, never rank·N. All divisions are exact floor-div on
    * integers (subtract-mod form, quotients < 2⁵³). Output one row
    * per distinct (g, v): (g, v, cnt, v_norm).
    */
  def quantileNormalize(df: DataFrame, group: Column, value: Column,
                        bins: Int, bucketWidth: Long): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    // ceil(a/b) for positive integers, exact: floor((a+b-1)/b) via
    // subtract-mod (the quotient is an exact integer, so the double
    // division below 2^53 is exact)
    def ceilDiv(a: Column, b: Column): Column = {
      val t = a + b - lit(1L)
      ((t - pmod(t, b)) / b).cast("long")
    }
    val rows = df.select(group.as("g"), value.cast("long").as("v"))
    val byGV = rows.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = Ranks.withRunningBelowBy(byGV, "g", "v", bucketWidth,
        Seq("cnt"))
      .join(byGV.groupBy(col("g")).agg(sum(col("cnt")).as("ng")), "g")
      .withColumn("b",
        ceilDiv((col("cnt_below") + col("cnt")) * bins, col("ng")))
    val byV = byGV.groupBy(col("v")).agg(sum(col("cnt")).as("cnt"))
    val pooled = Ranks.withRunningBelow(byV, "v", bucketWidth, Seq("cnt"))
    val nTot = byV.agg(sum(col("cnt")).as("n_tot"))
    val grid = df.sparkSession.range(1, bins + 1).toDF("b")
      .crossJoin(broadcast(nTot))
      .withColumn("p", ceilDiv(col("b") * col("n_tot"), lit(bins.toLong)))
    val refMap = pooled.join(broadcast(grid),
        col("p") > col("cnt_below") &&
        col("p") <= col("cnt_below") + col("cnt"))
      .select(col("b"), col("v").as("v_norm"))
    ranked.join(broadcast(refMap), "b")
      .select(col("g"), col("v"), col("cnt"), col("v_norm"))
  }

  /** Single CHANGE-POINT localization per group — the binary-
    * segmentation step (the argmax companion to the CUSUM drift
    * SCREEN): over an integer series pre-collapsed to one row per
    * (group, ord) — the olsTrend/theilSenTrend pre-collapse contract —
    * find the split maximizing the between-segment SSE reduction
    * gain(i) = S_i²/i + (S−S_i)²/(n−i) − S²/n. One ordered window
    * pass of prefix sums scores every candidate split from (i, S_i)
    * alone: O(n) per group, never the O(n²) rescan.
    *
    * Determinism: prefix/total sums are exact DECIMAL(38,0); the
    * NORMALIZED gain n·gain/S² (scale-free, so the ×1e9 snap is
    * meaningful at any value magnitude) is two exact-integer ratios
    * cast to double; argmax ties break on the earliest split. Output
    * (g, n_points, split_ord = last ord of the left segment,
    * gain_norm, mean_left, mean_right /100-scaled); groups with
    * n < 2 or S = 0 emit nothing (declared).
    */
  def changePointSSE(df: DataFrame, group: Column, ord: Column,
                     valueCents: Column): DataFrame = {
    val rows = df.select(group.as("g"), ord.as("ord"),
      valueCents.cast("long").as("v"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("ord"))
    val wAll = Window.partitionBy(col("g"))
    val pre = rows
      .withColumn("i", row_number().over(wOrd))
      .withColumn("si", sum(dec(col("v"))).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("st", sum(dec(col("v"))).over(wAll))
    val scored = pre
      .filter(col("i") < col("n") && col("st") =!= 0)
      .withColumn("sr", col("st") - col("si"))
      .withColumn("gfp", round((
        (dec(col("n")) * col("si") * col("si")).cast("double") /
          (dec(col("i")) * col("st") * col("st")).cast("double") +
        (dec(col("n")) * col("sr") * col("sr")).cast("double") /
          (dec(col("n") - col("i")) * col("st") * col("st")).cast("double") -
        lit(1.0)) * lit(1e9)).cast("long"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("gfp").desc, col("ord"))))
      .filter(col("rn") === 1)
      .select(col("g"), col("n").as("n_points"),
        col("ord").as("split_ord"),
        round((col("gfp").cast("double") / lit(1e9))
          .cast("decimal(20,10)"), 4).cast("double").as("gain_norm"),
        round((col("si").cast("double") / col("i").cast("double") /
          lit(100.0)).cast("decimal(20,10)"), 2).cast("double")
          .as("mean_left"),
        round((col("sr").cast("double") /
          (col("n") - col("i")).cast("double") / lit(100.0))
          .cast("decimal(20,10)"), 2).cast("double").as("mean_right"))
  }

  /** MANN–WHITNEY U rank-sum test, each group vs THE REST of the pool —
    * the nonparametric "is this source's length/score distribution
    * shifted?" screen that doesn't assume normality (the KS statistic's
    * location-sensitive companion; together they cover shift and shape).
    *
    * Exact midrank algebra on the DISTINCT value domain: per distinct
    * value v, below(v) = pooled count strictly below (the two-level
    * prefix kernel — never a data-sized single-partition window), so a
    * group's doubled rank-sum is 2R_g = Σ_v n_gv·(2·below(v)+n_v+1),
    * an exact integer. U follows as 2U = 2R_g − n_g(n_g+1); the
    * tie-corrected variance Var(U) = n1·n2·((N+1)·N(N−1) − Σ(t³−t)) /
    * (12·N(N−1)) stays in DECIMAL(38,0) (N³·n1·n2 overflows a long at
    * ~10⁵ rows) until the ONE division + sqrt that z needs; the
    * rank-biserial effect size 2U/(n1n2) − 1 is a snapped exact
    * rational. Work: one (group, value) hash aggregate — never the n²
    * pairs the U statistic is defined over — plus the distinct-value
    * prefix pass; the per-group tail is a broadcast-sized join.
    */
  def mannWhitneyVsRest(df: DataFrame, group: Column, value: Column,
                        bucketWidth: Long = 64L): DataFrame = {
    val gv = df.select(group.as("g"), value.cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("n_gv"))
    val byV = gv.groupBy(col("v")).agg(sum(col("n_gv")).as("n_v"))
    val bl = Ranks.withRunningBelow(byV, "v", bucketWidth, Seq("n_v"))
      .select(col("v"), col("n_v"), col("n_v_below"))
    val tot = byV.agg(sum(col("n_v")).as("n_tot"),
      sum(dec(col("n_v")) * col("n_v") * col("n_v") - col("n_v"))
        .as("tie_t"))
    val perG = gv.join(bl, "v")
      .groupBy(col("g"))
      .agg(sum(col("n_gv")).as("n_g"),
        sum(dec(col("n_gv")) *
          (col("n_v_below") * 2 + col("n_v") + 1)).as("r2"))
    val withTot = perG.crossJoin(broadcast(tot))
      .withColumn("n_o", col("n_tot") - col("n_g"))
      .withColumn("u2",
        (col("r2") - dec(col("n_g")) * (col("n_g") + 1)).cast("long"))
      .withColumn("var_num",
        dec(col("n_g")) * col("n_o") *
          (dec(col("n_tot") + 1) * col("n_tot") * (col("n_tot") - 1) -
            col("tie_t")))
      .withColumn("var_den",
        dec(col("n_tot")) * (col("n_tot") - 1) * 12)
    val sd = sqrt(col("var_num").cast("double") /
      col("var_den").cast("double"))
    withTot.select(col("g"), col("n_g"), col("u2"),
      when(col("n_o") === 0 || col("var_num") === 0, lit(null))
        .otherwise(round(
          ((col("u2") - dec(col("n_g")) * col("n_o")).cast("double") /
            (sd * 2.0)).cast("decimal(20,10)"), 4).cast("double"))
        .as("z"),
      when(col("n_o") === 0, lit(null))
        .otherwise(round(
          ((col("u2") - dec(col("n_g")) * col("n_o")).cast("double") /
            (dec(col("n_g")) * col("n_o")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double"))
        .as("r_rb"))
  }

  /** 1-D WASSERSTEIN-1 (earth-mover) distance of each group's value
    * distribution vs the REST of the pool, on a fixed `bins`-cell
    * integer grid — the transport-cost drift metric beside PSI/KL
    * (bin-mass disagreement) and KS (max CDF gap): W₁ = Σ_b |F_g(b) −
    * F_rest(b)| in bin-width units, so it SEES how far mass moved,
    * not just that it moved.
    *
    * Scale shape: ONE data-sized hash aggregate to (g, bin) counts;
    * everything after lives on the groups×bins grid (dense via a
    * bins-row range crossed with the group totals). CDF prefix sums
    * are per-group windows over ≤`bins` rows (and one `bins`-row
    * global frame on a non-foldable constant key — never a data-sized
    * single-partition window). Exact integer algebra: the integer bin
    * width ⌊(vmax−vmin)/bins⌋+1 guarantees bin ∈ [0, bins), the CDF
    * comparison cross-multiplies in DECIMAL(38,0)
    * (|cum_g·n_rest − cum_rest·n_g|, exact at any corpus size), and
    * only the final ratio casts to double (DECIMAL(20,10)-snapped,
    * 4dp). A group owning the whole pool (n_rest = 0) emits null.
    * Output one row per group: (g, n_g, w1).
    */
  def wassersteinVsRest(df: DataFrame, group: Column, value: Column,
                        bins: Int): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val rows = df.select(group.as("g"), value.cast("long").as("v"))
    val ext = rows.agg(min(col("v")).as("vmin"),
        (fdiv(max(col("v")) - min(col("v")), lit(bins.toLong)) + 1L)
          .as("w"))
    val gb = rows.crossJoin(broadcast(ext))
      .select(col("g"), fdiv(col("v") - col("vmin"), col("w")).as("bin"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("n_gb"))
    val gs = gb.groupBy(col("g")).agg(sum(col("n_gb")).as("n_g"))
    val tot = gs.agg(sum(col("n_g")).as("n_tot"))
    val binsDf = df.sparkSession.range(0, bins).toDF("bin")
    val dense = gs.crossJoin(broadcast(binsDf))
      .join(gb, Seq("g", "bin"), "left")
      .na.fill(0L, Seq("n_gb"))
    val cumG = dense.withColumn("cum_g",
      sum(col("n_gb")).over(Window.partitionBy(col("g"))
        .orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bt = binsDf
      .join(gb.groupBy(col("bin")).agg(sum(col("n_gb")).as("n_b")),
        Seq("bin"), "left")
      .na.fill(0L, Seq("n_b"))
      .withColumn("cum_t",
        sum(col("n_b")).over(
          Window.partitionBy(Cols.onePartitionKey(col("bin")))
            .orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bin"), col("cum_t"))
    cumG.join(broadcast(bt), "bin")
      .crossJoin(broadcast(tot))
      .groupBy(col("g"), col("n_g"), col("n_tot"))
      .agg(sum(abs(dec(col("cum_g")) * (col("n_tot") - col("n_g")) -
        dec(col("cum_t") - col("cum_g")) * col("n_g"))).as("num"))
      .select(col("g"), col("n_g"),
        when(col("n_tot") === col("n_g"), lit(null))
          .otherwise(round((col("num").cast("double") /
            (dec(col("n_g")) * (col("n_tot") - col("n_g")))
              .cast("double")).cast("decimal(20,10)"), 4)
            .cast("double")).as("w1"))
  }

  /** MURPHY DECOMPOSITION of the Brier score — reliability −
    * resolution + uncertainty over the groups of identical predicted
    * probability (the canonical partition: within a group the
    * prediction is constant, so the identity is exact): REL = how far
    * predictions sit from their group's event rate (miscalibration,
    * lower better), RES = how far group rates spread from the base
    * rate (discrimination, higher better), UNC = ō(1−ō). The "WHY is
    * my Brier bad" read behind the q178 calibration curve.
    *
    * Input: one row per scored unit, `pMicro` the ×10⁶ integer
    * predicted probability, `label` 0/1. Scale shape: ONE hash
    * aggregate to the (p, n_k, s_k) group table; every component is
    * an exact DECIMAL(38,0) cross-multiple per group
    * (Δ = p·n_k − 10⁶·s_k, Δr = s_k·N − S·n_k), scaled to a ×10⁹
    * per-group term snap before the final (tiny) sum — no
    * order-dependent double accumulation over data-sized frames.
    * Output one row: (n, brier, reliability, resolution,
    * uncertainty), 6dp.
    */
  def brierDecomposition(df: DataFrame, pMicro: Column,
                         label: Column): DataFrame = {
    val rows = df.select(pMicro.cast("long").as("p"),
      label.cast("long").as("y"))
    val g = rows.groupBy(col("p"))
      .agg(count(lit(1)).as("nk"), sum(col("y")).as("sk"))
    val tot = g.agg(sum(col("nk")).as("n"), sum(col("sk")).as("s1"))
    val per = g.crossJoin(broadcast(tot))
      .withColumn("bs", dec(col("nk")) * col("p") * col("p")
        - dec(lit(2L)) * col("p") * lit(1000000L) * col("sk")
        + dec(lit(1000000L)) * lit(1000000L) * col("sk"))
      .withColumn("dl", dec(col("p")) * col("nk")
        - dec(lit(1000000L)) * col("sk"))
      .withColumn("dr", dec(col("sk")) * col("n")
        - dec(col("s1")) * col("nk"))
      .select(col("n"), col("s1"),
        round(col("bs").cast("double") / col("n").cast("double")
          / lit(1e12) * lit(1e9)).cast("long").as("tb"),
        round((col("dl") * col("dl")).cast("double") /
          (dec(col("nk")) * col("n")).cast("double")
          / lit(1e12) * lit(1e9)).cast("long").as("tl"),
        round((col("dr") * col("dr")).cast("double") /
          (dec(col("nk")) * col("n") * col("n") * col("n"))
            .cast("double") * lit(1e9)).cast("long").as("tr"))
    per.groupBy(col("n"), col("s1"))
      .agg(sum(col("tb")).as("sb"), sum(col("tl")).as("sl"),
        sum(col("tr")).as("sr"))
      .select(col("n"),
        round((col("sb").cast("double") / lit(1e9))
          .cast("decimal(20,10)"), 6).cast("double").as("brier"),
        round((col("sl").cast("double") / lit(1e9))
          .cast("decimal(20,10)"), 6).cast("double").as("reliability"),
        round((col("sr").cast("double") / lit(1e9))
          .cast("decimal(20,10)"), 6).cast("double").as("resolution"),
        round(((dec(col("s1")) * (col("n") - col("s1"))).cast("double") /
          (dec(col("n")) * col("n")).cast("double"))
          .cast("decimal(20,10)"), 6).cast("double").as("uncertainty"))
  }

  /** Deterministic SIGN-FLIP randomization test on paired per-unit
    * differences — the exact-null permutation companion to the
    * parametric z/t tests (q171's A/B z-test assumes a normal null;
    * this one MANUFACTURES the null from the data): under H₀ the sign
    * of each unit's difference is exchangeable, so `reps` pseudo-
    * samples flip every unit's sign by a 60-bit md5 parity of
    * (unit, rep) and the p-value is the add-one-smoothed share of
    * replicates with |T_r| ≥ |T_obs|, T = Σ±d. No RNG anywhere — the
    * flips are pure functions of (unit, rep), identical on any
    * engine, run, or cluster layout (the blockBootstrapMean hashed-
    * selection convention).
    *
    * Scale shape: the units×reps flip stream is one projection off a
    * broadcast reps range and feeds a map-side-combined aggregate to
    * `reps` rows — no shuffle ever carries more than reps partials
    * per task. Sums ride DECIMAL(38,0). Input contract: one row per
    * unit with an INTEGER (pre-snapped) difference. Output one row:
    * (n_units, t_obs, m, n_extreme, p_value).
    */
  def signFlipTest(pairs: DataFrame, unit: Column, diffMicro: Column,
                   reps: Int = 64): DataFrame = {
    require(reps >= 1, "reps must be >= 1")
    val rows = pairs.select(unit.cast("string").as("u"),
      diffMicro.cast("long").as("d"))
    val obs = rows.agg(sum(dec(col("d"))).cast("long").as("t_obs"),
      count(lit(1)).as("n_units"))
    val repsDf = pairs.sparkSession.range(1, reps + 1).toDF("r")
    val tr = rows.crossJoin(broadcast(repsDf))
      .select(col("r"),
        when(pmod(Dedup.hashLong(concat(lit("sf"), col("u"), lit(":"),
          col("r").cast("string"))), lit(2L)) === 0, col("d"))
          .otherwise(-col("d")).as("sd"))
      .groupBy(col("r")).agg(sum(dec(col("sd"))).cast("long").as("t_r"))
    tr.crossJoin(broadcast(obs))
      .groupBy(col("n_units"), col("t_obs"))
      .agg(count(lit(1)).as("m"),
        sum(when(abs(col("t_r")) >= abs(col("t_obs")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("n_units"), col("t_obs"), col("m"), col("n_extreme"),
        round(((col("n_extreme") + 1L).cast("double") /
          (col("m") + 1L).cast("double")).cast("decimal(20,10)"), 4)
          .cast("double").as("p_value"))
  }

  /** DIFFERENTIAL-PRIVACY BUDGET ACCOUNTANT — the governance ledger
    * read that completes the privacy tier's release side (the
    * k-anon/l-div/t-closeness ladder audits the DATA; this audits
    * the QUERIES): per analyst, basic sequential composition
    * (Dwork–Roth Thm 3.14: ε and δ ADD over queries) and parallel
    * composition (McSherry's PINQ rule: queries over DISJOINT
    * partitions compose as the MAX of the per-partition sequential
    * sums), against a per-analyst (ε, δ) cap. Everything is exact
    * integer arithmetic on the micro/nano fixed-point ledger — a
    * budget gate must never owe its verdict to float summation
    * order. Advanced (√k ln(1/δ')) composition is deliberately out:
    * it is irrational, and the basic bound is the CONSERVATIVE one
    * a gate should enforce.
    *
    * Scale shape: one (analyst, partition) hash aggregate, one
    * analyst rollup — both map-side combinable, nothing collects.
    * Output per analyst: (analyst, n_queries, n_partitions,
    * eps_seq_micro, delta_seq_nano, eps_parallel_micro,
    * eps_remaining_micro = cap − sequential (negative = overdrawn),
    * over_budget on the sequential ε OR δ cap).
    */
  def dpBudgetAccountant(ledger: DataFrame, analyst: Column,
                         partition: Column, epsMicro: Column,
                         deltaNano: Column, epsCapMicro: Long,
                         deltaCapNano: Long): DataFrame = {
    require(epsCapMicro > 0 && deltaCapNano >= 0, "caps must be positive")
    val perPart = ledger
      .select(analyst.as("analyst"), partition.as("part"),
        epsMicro.cast("long").as("e"), deltaNano.cast("long").as("d"))
      .groupBy(col("analyst"), col("part"))
      .agg(count(lit(1)).as("nq"), sum(col("e")).as("se"),
        sum(col("d")).as("sd"))
    perPart.groupBy(col("analyst"))
      .agg(sum(col("nq")).as("n_queries"),
        count(lit(1)).as("n_partitions"),
        sum(col("se")).as("eps_seq_micro"),
        sum(col("sd")).as("delta_seq_nano"),
        max(col("se")).as("eps_parallel_micro"))
      .select(col("analyst"), col("n_queries"), col("n_partitions"),
        col("eps_seq_micro"), col("delta_seq_nano"),
        col("eps_parallel_micro"),
        (lit(epsCapMicro) - col("eps_seq_micro"))
          .as("eps_remaining_micro"),
        (col("eps_seq_micro") > epsCapMicro ||
          col("delta_seq_nano") > deltaCapNano).as("over_budget"))
  }

  /** MEDIAN-OF-MEANS robust mean per group (Nemirovsky & Yudin 1983;
    * the heavy-tail-safe estimator behind robust mean estimation at
    * scale) — [[winsorizedStats]] clips by quantile, the jackknife
    * reports spread; MoM is the estimator that stays accurate when a
    * vanishing fraction of rows is adversarially large: rows hash
    * into `k` deterministic buckets (the blockJackknifeMean block
    * trick — no RNG), each bucket's mean snaps to micro with one
    * truncated division (signed values welcome, the tdiv/`//`
    * contract), and the estimate is the LOWER MEDIAN of the bucket
    * means (deterministic ties: mean, then bucket id).
    *
    * Scale shape: one data-sized map-side-combinable aggregate to
    * (grp, bucket); the median rank walks ≤ k rows per group — a
    * k-bounded window, never data-sized. Output per group:
    * (grp, n, n_buckets, mean_micro, mom_micro).
    */
  def medianOfMeans(df: DataFrame, group: Column, valueMicro: Column,
                    key: Column, k: Int): DataFrame = {
    require(k >= 3 && k <= 99, "k must be in [3, 99]")
    val perB = df
      .select(group.as("grp"), valueMicro.cast("long").as("v"),
        Sampling.hashBucket(key, k).as("b"))
      .groupBy(col("grp"), col("b"))
      .agg(count(lit(1)).as("nb"), sum(dec(col("v"))).as("sb"))
      .select(col("grp"), col("b"), col("nb"),
        tdiv(col("sb"), dec(col("nb"))).as("mb"), col("sb"))
    val w = Window.partitionBy(col("grp"))
    val ranked = perB
      .withColumn("rn", row_number().over(
        w.orderBy(col("mb"), col("b"))))
      .withColumn("nb_sum", sum(col("nb")).over(w))
      .withColumn("s_sum", sum(col("sb")).over(w))
      .withColumn("n_buckets", count(lit(1)).over(w))
    ranked
      // floor((nbk+1)/2): Spark column `/` is double division — the
      // floor keeps the EVEN-bucket-count case on the lower median
      // (DuckDB (nbk+1)//2 parity) instead of a never-matching x.5
      .filter(col("rn") === floor((col("n_buckets") + 1) / 2))
      .select(col("grp"), col("nb_sum").as("n"), col("n_buckets"),
        tdiv(col("s_sum"), dec(col("nb_sum"))).as("mean_micro"),
        col("mb").as("mom_micro"))
  }

  /** PINBALL (quantile) LOSS + quantile coverage per group — the
    * eval every quantile forecast ships with ([[brierDecomposition]]
    * scores probabilities; this scores quantile predictions): for a
    * τ-quantile forecast f of actual a, loss = τ·(a−f) when a ≥ f
    * else (1−τ)·(f−a), here in exact integer percent arithmetic
    * (τ = q/100, per-row term = q·(a−f) or (100−q)·(f−a), both
    * nonneg), with ONE floor per (grp, q) for the mean and one for
    * the empirical coverage P(a ≤ f) — a calibrated τ-forecast
    * covers ≈ τ. Input one row per (unit, quantile): `qPct` the
    * integer percent quantile the forecast targets. One hash
    * aggregate, map-side combinable, nothing collects. Output per
    * (grp, q_pct): (n, pinball_micro, coverage_micro).
    */
  def pinballLoss(df: DataFrame, group: Column, qPct: Column,
                  actualMicro: Column,
                  forecastMicro: Column): DataFrame = {
    df
      .select(group.as("grp"), qPct.cast("long").as("q"),
        actualMicro.cast("long").as("a"),
        forecastMicro.cast("long").as("f"))
      .select(col("grp"), col("q"),
        when(col("a") >= col("f"),
          dec(col("q")) * (col("a") - col("f")))
          .otherwise(dec(lit(100L) - col("q")) *
            (col("f") - col("a"))).as("term"),
        when(col("a") <= col("f"), 1L).otherwise(0L).as("cov"))
      .groupBy(col("grp"), col("q"))
      .agg(count(lit(1)).as("n"), sum(col("term")).as("ts"),
        sum(col("cov")).as("cs"))
      .select(col("grp"), col("q").cast("int").as("q_pct"), col("n"),
        fdiv(col("ts"), dec(col("n")) * lit(100L)).as("pinball_micro"),
        fdiv(dec(col("cs")) * lit(1000000L), dec(col("n")))
          .as("coverage_micro"))
  }
}
