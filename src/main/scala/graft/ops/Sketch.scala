package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv}

/** Engine-portable HyperLogLog — approximate distinct counting as pure
  * relational algebra over the md5 hash, so the SAME registers and the
  * SAME estimate come out of any SQL engine (the q56 DuckDB oracle
  * reproduces it to the last rounded digit). Spark's built-in
  * `approx_count_distinct` is the everyday tool; this exists for
  * pipelines that need sketches to be REPRODUCIBLE and MERGEABLE across
  * engines and runs — sketch per day/partition, store the tiny register
  * table, merge by max, estimate late.
  *
  * Shape at 100 TB: one narrow projection (bucket, rho) per row — all
  * string ops on the md5 hex, fully codegen'd — then a hash aggregate to
  * ≤ m rows per group. No distinct shuffle of the raw values (the whole
  * point vs countDistinct): the exchange carries at most groups × m
  * tiny rows. Merging day-sketches is a max-aggregate over register
  * tables, never a rescan.
  *
  * Determinism details:
  *  - bucket = first `BHex` hex chars of md5 (4·BHex bits);
  *  - rho = leading-zero count of the REMAINING hex string + 1, derived
  *    with string ops only (no floating log2, whose libm rounding could
  *    disagree between engines near powers of two);
  *  - the register sum Σ 2^−rho is accumulated as EXACT fixed-point
  *    integers scaled by 2^50 (registers beyond rho=50 contribute 0 —
  *    identically on every engine), so the raw-path estimate is
  *    bit-deterministic regardless of aggregation order. Only the
  *    linear-counting branch touches libm (one `ln`), absorbed by the
  *    decimal snap before rounding.
  */
object Sketch {

  /** HLL bucket width in hex digits: m = 16^BHex = 4096 registers. */
  private val BHex = 3
  /** Count-min geometry: CmDepth hash rows × CmWidth buckets. */
  private val CmDepth = 4
  private val CmWidth = 1024
  /** Bloom geometry: BloomK hash rows over BloomM buckets. */
  private val BloomK = 5
  private val BloomM = 8192

  /** Register table: `groups ++ (bucket, rho)` with rho = max over the
    * group's values. `BHex` hex digits of bucket → m = 16^BHex registers.
    */
  def hllRegisters(df: DataFrame, groups: Seq[String], value: Column): DataFrame = {
    val h = md5(value.cast("string"))
    val rest = substring(h, BHex + 1, 32 - BHex)
    val stripped = ltrim(rest, "0")
    val firstNz = substring(stripped, 1, 1)
    // extra zero BITS inside the first non-zero hex digit
    val extra = when(firstNz === "1", 3)
      .when(firstNz.isin("2", "3"), 2)
      .when(firstNz.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rho = when(length(stripped) === 0, lit(4 * (32 - BHex) + 1))
      .otherwise((length(rest) - length(stripped)) * 4 + extra + 1)
    df.select(
        groups.map(col) ++ Seq(
          conv(substring(h, 1, BHex), 16, 10).cast("int").as("bucket"),
          rho.cast("int").as("rho")): _*)
      .groupBy(groups.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Merge two register tables (same groups): per-bucket max —
    * the associative/commutative sketch union.
    */
  def hllMerge(a: DataFrame, b: DataFrame, groups: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(groups.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("rho"))

  /** Estimate distinct counts from a register table: standard HLL with
    * the linear-counting small-range correction, rounded to 2 decimals
    * through a decimal(20,10) snap.
    */
  def hllEstimate(registers: DataFrame, groups: Seq[String]): DataFrame = {
    val m = math.pow(16.0, BHex) // exact for BHex <= 7
    // Σ 2^(50-rho) as exact integers: floor() pins the >50 underflow to
    // 0 on engines that round rather than truncate their bigint cast
    val term = floor(pow(lit(2.0), lit(50) - col("rho"))).cast("long")
    registers
      .groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_buckets"), sum(term).as("sum_fp"))
      .select(
        groups.map(col) ++ Seq(Cols.bound(
          // alpha_m · m² · 2^50 / Σ2^(50-rho): every factor identical on
          // every engine, the integer sum order-independent
          (lit(0.7213) / (lit(1.0) + lit(1.079) / m)) * m * m * pow(lit(2.0), 50)
            / (col("sum_fp") + (lit(m.toLong) - col("n_buckets")) * lit(1L << 50))
        ) { raw =>
          Cols.bound((lit(m.toLong) - col("n_buckets")).cast("double")) { v =>
            round(when(raw <= 2.5 * m && v > 0, log(lit(m) / v) * m)
              .otherwise(raw).cast("decimal(20,10)"), 2).cast("double")
          }
        }.as("n_approx")): _*)
  }

  /** One-shot convenience: registers → estimate. */
  def hllDistinct(df: DataFrame, groups: Seq[String], value: Column): DataFrame =
    hllEstimate(hllRegisters(df, groups, value), groups)

  // ----- Count-min: point-frequency estimation, same portability rules -----

  /** Bucket of `v` under hash row `row` — md5 of "row|value", identical
    * in any SQL engine.
    */
  private def cmBucket(v: Column, row: Int, w: Int): Column =
    pmod(Dedup.hashLong(concat(lit(row.toString), lit("|"), v.cast("string"))),
      lit(w.toLong))

  private def cmCells(v: Column, d: Int, w: Int): Column =
    explode(array((0 until d).map(i =>
      struct(lit(i).as("row"), cmBucket(v, i, w).as("bucket"))): _*))

  /** Count-min register table over an item stream: d hash rows × w
    * buckets, cells hold EXACT integer sums — deterministic on any
    * engine, mergeable by cellwise addition. State is ≤ d·w rows no
    * matter the stream size; the shuffle carries (row, bucket) cells,
    * never the items.
    */
  def cmRegisters(items: DataFrame, value: Column): DataFrame =
    items.select(cmCells(value, CmDepth, CmWidth).as("rb"))
      .select(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Equi-join cardinality estimate from two count-min register tables
    * |A ⋈ B| ≈ min over hash rows of Σ_bucket cntA·cntB.
    * Each row's inner product equals the true join size plus
    * NON-NEGATIVE collision noise, so the minimum never underestimates
    * (the AMS/CM inner-product bound). All-integer, mergeable inputs,
    * no join executed — the planning probe that decides broadcast vs
    * shuffle vs skew-salt at 100 TB from d·w-cell state per side.
    */
  def cmJoinSizeEstimate(ra: DataFrame, rb: DataFrame): DataFrame = {
    val spark = ra.sparkSession
    // every hash row participates in the min: a row whose sketches
    // share NO bucket has inner product 0 (and proves the true join is
    // empty) — dropping it from the inner join would overestimate
    val rows = spark.range(CmDepth).select(col("id").cast("int").as("row"))
    val sums = ra.select(col("row"), col("bucket"), col("cnt").as("ca"))
      .join(rb.select(col("row"), col("bucket"), col("cnt").as("cb")),
        Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("ca") * col("cb")).as("rowsum"))
    rows.join(sums, Seq("row"), "left")
      .agg(min(coalesce(col("rowsum"), lit(0L))).as("join_size_est"))
  }

  /** Point estimates for `probes`: min over the d cells a probe hashes
    * to (absent cell = 0). Never underestimates the true count.
    */
  def cmEstimate(registers: DataFrame, probes: DataFrame, value: String): DataFrame =
    probes.select(col(value), cmCells(col(value), CmDepth, CmWidth).as("rb"))
      .select(col(value), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .join(registers, Seq("row", "bucket"), "left")
      .groupBy(col(value))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))

  // ----- Bloom filter: set membership, same portability rules -----

  /** Bloom register table: the DISTINCT (row, bucket) cells the values
    * hash into under k independent md5 hash rows over m buckets — the
    * set-bit positions of a classic Bloom filter, stored relationally.
    * Mergeable by union-distinct; state ≤ k·m tiny rows. The scale use:
    * pre-filter a huge probe stream against a set too big to broadcast
    * exactly (e.g. "already-ingested document ids") with zero false
    * negatives, before the exact anti-join touches only survivors.
    */
  def bloomRegisters(df: DataFrame, value: Column): DataFrame =
    df.select(cmCells(value, BloomK, BloomM).as("rb"))
      .select(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .distinct()

  /** Membership test for `probes`: true iff ALL k cells are present —
    * possibly-in-set (false positives shrink with m), never a false
    * negative.
    */
  def bloomMightContain(registers: DataFrame, probes: DataFrame,
                        value: String): DataFrame =
    probes.select(col(value), cmCells(col(value), BloomK, BloomM).as("rb"))
      .select(col(value), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .join(registers.withColumn("__hit", lit(1)),
        Seq("row", "bucket"), "left")
      .groupBy(col(value))
      .agg((sum(coalesce(col("__hit"), lit(0))) === BloomK).as("might_contain"))

  // ----- Histogram quantiles: one-pass mergeable percentiles -----

  /** Fixed-width histogram registers per group: (bucket, count). The
    * one-pass alternative to exact percentiles (which need a full sort
    * at 100 TB): state is one integer count per occupied bucket,
    * mergeable by addition, and every register is an exact integer —
    * the estimate is deterministic on any engine.
    */
  def histRegisters(df: DataFrame, groups: Seq[String], value: Column,
                    width: Double): DataFrame =
    df.groupBy(groups.map(col) :+
        floor(value / width).cast("long").as("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from histogram registers: for each p in (0,1],
    * locate the bucket where the cumulative count first reaches p·n and
    * interpolate linearly inside it. One window pass computes every
    * requested quantile; each p's bucket condition selects exactly one
    * row per group.
    */
  def histQuantiles(registers: DataFrame, groups: Seq[String], width: Double,
                    ps: Seq[Double]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*).orderBy(col("bucket"))
    val cum = registers
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(groups.map(col): _*)))
    val qCols = ps.map { p =>
      val target = lit(p) * col("n")
      val before = (col("cum") - col("cnt")).cast("double")
      max(when(col("cum").cast("double") >= target && before < target,
        col("bucket") * width +
          lit(width) * (target - before) / col("cnt").cast("double")))
        .as(s"p${(p * 100).round}")
    }
    cum.groupBy(groups.map(col): _*).agg(qCols.head, qCols.tail: _*)
  }

  // ----- KMV / theta sketch: SET-OPERATION distinct estimation --------------

  private val KmvMax = 1L << 60 // exclusive upper bound of the 60-bit hash

  /** K-MINIMUM-VALUES (theta) sketch registers — the sketch family HLL
    * can't replace: because a KMV sketch is an actual SAMPLE of hashes
    * (the k smallest 60-bit md5 values per group), two sketches
    * support INTERSECTION and Jaccard estimates ([[kmvOverlap]]), the
    * "how much does corpus A overlap corpus B" read that would
    * otherwise cost a full distinct join of two 100 TB scans. Fully
    * deterministic: same values → same hashes → same registers on any
    * engine (the Beyer et al. 2007 estimator over the portable hash).
    *
    * Scale shape: one distinct aggregate on (groups, hash) — map-side
    * combinable — then the per-group k smallest via the rank window
    * (WindowGroupLimit pushes the top-k below the shuffle, so only
    * ~k rows per group ever reach the sort). Register tables are
    * groups × k tiny rows; everything downstream is sketch-sized.
    */
  def kmvRegisters(df: DataFrame, groups: Seq[String], value: Column,
                   k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    // empty groups: a constant partition key keeps WindowExec's
    // "No Partition Defined" warning meaningful (the Ranks convention)
    val parts = if (groups.isEmpty) Seq(Cols.onePartitionKey(col("h")))
      else groups.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(parts: _*).orderBy(col("h"))
    df.select(groups.map(col) :+
        Dedup.hashLong(value.cast("string")).as("h"): _*)
      .distinct()
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= k)
  }

  /** Distinct estimate from KMV registers: a sketch holding fewer than
    * k hashes saw the WHOLE set (estimate = exact count); a full one
    * estimates (k−1)·2⁶⁰ / θ with θ = the k-th smallest hash — one
    * exact integer floor division per group.
    */
  def kmvEstimate(registers: DataFrame, groups: Seq[String],
                  k: Int): DataFrame = {
    registers.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("theta"))
      .select(groups.map(col) ++ Seq(col("n_kept"), col("theta"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(fdiv(dec(lit(KmvMax)) * lit(k - 1L),
            dec(col("theta")))).as("n_est")): _*)
  }

  /** Theta-sketch OVERLAP of two ungrouped register sets: hashes below
    * θcut = min of the two sketch thresholds (2⁶⁰ when a sketch isn't
    * full — it saw everything) are a uniform sample of A∪B restricted
    * to [0, θcut); matches present in BOTH register sets estimate the
    * intersection as matched·2⁶⁰/θcut, the union sketch (k smallest of
    * the merged registers) estimates |A∪B|, and Jaccard is their
    * floored micro ratio. Every operand is sketch-sized — the whole
    * overlap read runs on ≤ 4k rows regardless of corpus size. Output
    * one row: (n_a_est, n_b_est, matched, inter_est, union_est,
    * jaccard_micro).
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    def est(r: DataFrame, name: String): DataFrame =
      kmvEstimate(r, Nil, k).select(col("n_est").as(name),
        when(col("n_kept") < k, lit(KmvMax)).otherwise(col("theta"))
          .as(s"cut_$name"))
    val ea = est(a, "n_a_est")
    val eb = est(b, "n_b_est")
    val matched = a.select(col("h")).join(b.select(col("h")), "h")
      .crossJoin(broadcast(ea)).crossJoin(broadcast(eb))
      .filter(col("h") < least(col("cut_n_a_est"), col("cut_n_b_est")))
      .agg(count(lit(1)).as("matched"),
        min(least(col("cut_n_a_est"), col("cut_n_b_est"))).as("cut"))
    val union = kmvEstimate(
      a.select(col("h")).unionByName(b.select(col("h"))).distinct()
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(Cols.onePartitionKey(col("h")))
            .orderBy(col("h"))))
        .filter(col("pos") <= k), Nil, k)
      .select(col("n_est").as("union_est"))
    ea.crossJoin(eb).crossJoin(matched).crossJoin(union)
      .select(col("n_a_est"), col("n_b_est"), col("matched"),
        when(col("matched") === 0L, lit(0L))
          .when(col("cut") === KmvMax, col("matched"))
          .otherwise(fdiv(dec(col("matched")) * lit(KmvMax),
            dec(col("cut")))).as("inter_est"),
        col("union_est"))
      .withColumn("jaccard_micro",
        when(col("union_est") === 0L, lit(0L))
          .otherwise(fdiv(dec(col("inter_est")) * lit(1000000L),
            dec(col("union_est")))))
  }
}
