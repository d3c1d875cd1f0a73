package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv, tdiv}

/** Gradient-trained linear models INSIDE the engine — the supervised
  * tier above [[Text.naiveBayesEval]]'s closed-form counts and the
  * q295 kNN zero-training baseline (reference analog: none; the
  * quality-classifier training step a curation pipeline runs over its
  * own feature/embedding tables without leaving the warehouse).
  *
  * Determinism contract (the repo's fixed-point convention, extended
  * to a training LOOP): features snap to ×1e6 integers once; every
  * margin and gradient is an exact integer sum ACCUMULATED AS
  * decimal(38,0) — the oracle's HUGEINT semantics. Per-row gradient
  * terms are ~2e12, so a LongType sum would silently wrap past
  * ~4.6M labeled rows (the r13 advisor finding); decimal(38,0)
  * headroom is ~1e25 rows at that term size, unreachable; the only
  * transcendental (the sigmoid) snaps to ×1e6 immediately after
  * evaluation; weight updates round half-away-from-zero on the
  * driver (matching both engines' round()). The entire training
  * trajectory is therefore replayable bit-for-bit by a SQL oracle
  * with the iterations unrolled.
  *
  * Scale shape: one posexplode lays the corpus out as (id, dim, xi)
  * rows — data-sized but map-side combinable in both per-iteration
  * aggregates (margins collapse to ids, gradients to dims). The
  * weight vector itself is dims+1 rows: it broadcasts into the
  * margin join and COLLECTS to the driver each iteration (the
  * mmrRerank bounded-collect precedent — the collect is
  * dimensionality-sized, never data-sized). Iterations are full-batch
  * passes: iters × 2 shuffles total, no per-row driver loop anywhere.
  */
object LinearModel {

  private def roundAway(d: Double): Long =
    if (d >= 0) math.floor(d + 0.5).toLong else math.ceil(d - 0.5).toLong

  /** `iters` full-batch gradient steps of logistic regression from
    * w = 0 with learning rate 1: wᵗ⁺¹_µ = wᵗ_µ + round(Σᵢ xiᵢ·(yµᵢ −
    * pµᵢ) / (n·1e6)) where pµ = round(1e6·σ(m12/1e12)) and m12 =
    * Σ_d xi·w_µ exactly. `vecs` is (id, x: array&lt;numeric&gt;),
    * `labels` is (id, y ∈ {0,1}); every id in `vecs` must appear in
    * `labels`. Returns the trained weights (dim, w_micro) with
    * dim = −1 the bias — the full trajectory pin, not a lossy score.
    */
  def logisticGd(vecs: DataFrame, labels: DataFrame,
                 iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = vecs.sparkSession
    import spark.implicits._
    val x = vecs
      .select(col("id"), posexplode(col("x")).as(Seq("dim", "xv")))
      .select(col("id"), col("dim").cast("int").as("dim"),
        round(col("xv").cast("double") * 1e6).cast("long").as("xi"))
      .unionByName(vecs.select(col("id"), lit(-1).as("dim"),
        lit(1000000L).as("xi")))
    val xy = x.join(labels.select(col("id"),
      (col("y").cast("long") * 1000000L).as("ymu")), "id")
      .persist() // cross-action reuse: every iteration aggregates it
    val n = labels.count()
    require(n > 0, "logisticGd needs at least one labeled row")
    val dims = x.select(col("dim")).distinct().as[Int].collect().sorted
    var w = dims.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val wDf = w.toSeq.toDF("dim", "w")
      val p = xy.join(broadcast(wDf), "dim")
        .groupBy(col("id"), col("ymu"))
        .agg(sum(col("xi").cast("decimal(38,0)") * col("w")).as("m12"))
        .select(col("id"), col("ymu"),
          round(lit(1e6) / (lit(1.0) +
            exp(-(col("m12").cast("double") / lit(1e12)))))
            .cast("long").as("pmu"))
      val grad = xy.join(p.select(col("id"), col("pmu")), "id")
        .groupBy(col("dim"))
        .agg(sum(col("xi").cast("decimal(38,0)") *
          (col("ymu") - col("pmu"))).as("g12"))
        .collect() // dims+1 rows — dimensionality-sized
      w = w ++ grad.map { r =>
        val d = r.getInt(0)
        val g = r.getDecimal(1).doubleValue()
        d -> (w(d) + roundAway(g / (n.toDouble * 1e6)))
      }
    }
    xy.unpersist()
    w.toSeq.sortBy(_._1).toDF("dim", "w_micro")
  }

  /** Forward pass with a trained (dim, w_micro) table: (id, pmu) with
    * the exact ×1e6-snapped sigmoid of the training loop — the same
    * feature snap, the same decimal(38,0) margin sum, so a score is
    * bit-reproducible wherever the weights travel. Weights broadcast
    * (dims+1 rows); the margin aggregate collapses map-side.
    */
  def scoreLogistic(vecs: DataFrame, weights: DataFrame): DataFrame = {
    val x = vecs
      .select(col("id"), posexplode(col("x")).as(Seq("dim", "xv")))
      .select(col("id"), col("dim").cast("int").as("dim"),
        round(col("xv").cast("double") * 1e6).cast("long").as("xi"))
      .unionByName(vecs.select(col("id"), lit(-1).as("dim"),
        lit(1000000L).as("xi")))
    x.join(broadcast(weights.select(col("dim"),
        col("w_micro").as("w"))), "dim")
      .groupBy(col("id"))
      .agg(sum(col("xi").cast("decimal(38,0)") * col("w")).as("m12"))
      .select(col("id"),
        round(lit(1e6) / (lit(1.0) +
          exp(-(col("m12").cast("double") / lit(1e12)))))
          .cast("long").as("pmu"))
  }

  /** RELIABILITY DIAGRAM masses — the calibration read every trained
    * quality classifier needs before its scores gate data ("do docs
    * scored 0.7 actually pass review 70% of the time?"): equal-width
    * probability bins over the ×1e6-snapped scores, per bin the row
    * count, positive-label count, and predicted-probability mass —
    * EXACT integers (consumers divide for observed/expected rates;
    * the engine never emits a lossy ratio). bin = ⌊pmu·bins/1e6⌋
    * clamped so pmu = 1e6 lands in the top bin; integer floor via the
    * pmod identity, never a double division. pmu_mass is a long sum
    * of ≤ 1e6 terms — ~9e12 labeled rows of headroom; past that,
    * lift to decimal like the gradient sums. `scored` is (id, pmu),
    * `labels` (id, y ∈ {0,1}).
    */
  /** EXPECTED CALIBRATION ERROR from [[calibrationBins]] masses — the
    * one-number summary a model card prints: ECE = Σ_b (n_b/N)·
    * |acc_b − conf_b|, which over the exact integer masses is
    * Σ_b |positives_b·1e6 − pmu_mass_b| / (N·1e6) — so ece_micro is
    * ONE exact floored division over exact sums, no per-bin rates
    * ever materialize lossily. Also emits the worst single bin's gap
    * (⌊|…|/n_b⌋ micro, the "where is it miscalibrated" pointer).
    */
  def expectedCalibrationError(bins: DataFrame): DataFrame = {
    bins
      .select(col("n"), abs(col("positives").cast("decimal(38,0)")
        * lit(1000000L) - col("pmu_mass")).as("gap12"))
      .agg(sum(col("n")).as("n"), count(lit(1)).as("n_bins"),
        fdiv(sum(col("gap12")).cast("decimal(38,0)"),
          sum(col("n")).cast("decimal(38,0)")).as("ece_micro"),
        max(fdiv(col("gap12").cast("decimal(38,0)"),
          col("n").cast("decimal(38,0)"))).as("max_bin_gap_micro"))
  }

  /** TracIn-style data valuation (Pruthi et al. 2020, "Estimating
    * Training Data Influence by Tracing Gradient Descent"), the
    * single-checkpoint form over the trained logistic weights:
    * influence(train i → probe t) = ∇ℓ(i)·∇ℓ(t), and for logistic
    * loss ∇ℓ = (p − y)·x, so the dot collapses to
    * rᵢ·r_t·(xᵢ·x_t) with r = pmu − ymu — three EXACT integer
    * factors (the ×1e6 sigmoid snap, the ×1e6 feature snap), no
    * gradient vector ever materializes. Positive influence =
    * "training on i pushes the model the way probe t's own gradient
    * points" (a proponent); large-magnitude influencers on a
    * mislabeled probe are the classic label-noise suspects —
    * [[Similarity.knnShapley]]'s model-aware sibling.
    *
    * Scale shape: the probe pool is BOUNDED (the knnShapley probe
    * contract — probes are the rows under audit, never the corpus):
    * probe features/residuals broadcast; the train side computes
    * dots via one dim-join aggregate (map-side combinable, train
    * rows × probe count partial products, never train²); top-k per
    * probe via the rank window on the probe-count-partition.
    * influence18 ≈ r·r·dot12 ≤ ~1e26 accumulates as decimal(38,0);
    * the emitted infl_micro = influence18 with the ×1e12 residual
    * scale divided back out, truncated toward zero (DuckDB `//`
    * parity). Probes are excluded from the train side. Output:
    * (probe_id, train_id, rank, infl_micro).
    */
  def tracInfluence(vecs: DataFrame, labels: DataFrame,
                    weights: DataFrame, probeIds: DataFrame,
                    k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val pid = probeIds.select(col("id"))
    val resid = scoreLogistic(vecs, weights)
      .join(labels.select(col("id"),
        (col("y").cast("long") * 1000000L).as("ymu")), "id")
      .select(col("id"), (col("pmu") - col("ymu")).as("r"))
    val x = vecs
      .select(col("id"), posexplode(col("x")).as(Seq("dim", "xv")))
      .select(col("id"), col("dim").cast("int").as("dim"),
        round(col("xv").cast("double") * 1e6).cast("long").as("xi"))
      .unionByName(vecs.select(col("id"), lit(-1).as("dim"),
        lit(1000000L).as("xi")))
    val px = x.join(broadcast(pid), Seq("id"))
      .select(col("id").as("probe_id"),
      col("dim"), col("xi").as("pxi"))
    val tx = x.join(broadcast(pid), Seq("id"), "left_anti")
    val dots = tx.join(broadcast(px), Seq("dim"))
      .groupBy(col("id").as("train_id"), col("probe_id"))
      .agg(sum(dec(col("xi")) * col("pxi")).as("dot12"))
    val infl = dots
      .join(resid.select(col("id").as("train_id"), col("r").as("rt")),
        "train_id")
      .join(broadcast(resid.join(pid, "id")
        .select(col("id").as("probe_id"), col("r").as("rp"))),
        "probe_id")
      .select(col("probe_id"), col("train_id"),
        tdiv(dec(col("rt")) * col("rp") * col("dot12"),
          dec(lit(1000000000000L))).as("infl_micro"))
    infl
      .withColumn("rank", row_number().over(Window
        .partitionBy(col("probe_id"))
        .orderBy(col("infl_micro").desc, col("train_id"))))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("train_id"),
        col("rank").cast("int").as("rank"), col("infl_micro"))
  }

  /** EL2N "data diet" scores (Paul et al. 2021, "Deep Learning on a
    * Data Diet") — the cheap sibling of [[tracInfluence]]: rank
    * training examples by error-vector norm, which for the binary
    * logistic model is exactly |pmu − ymu| (already a ×1e6 integer —
    * no new arithmetic enters). High scorers are the hard/mislabeled
    * candidates; pruning low scorers is the classic data-diet move.
    * Top-k by (el2n desc, id) via sort+limit (TakeOrdered — never a
    * global sort). Output: (id, pmu, ymu, el2n_micro).
    */
  def el2nScores(vecs: DataFrame, labels: DataFrame,
                 weights: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    scoreLogistic(vecs, weights)
      .join(labels.select(col("id"),
        (col("y").cast("long") * 1000000L).as("ymu")), "id")
      .select(col("id"), col("pmu"), col("ymu"),
        abs(col("pmu") - col("ymu")).as("el2n_micro"))
      .orderBy(col("el2n_micro").desc, col("id")).limit(k)
  }

  def calibrationBins(scored: DataFrame, labels: DataFrame,
                      bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val pb = col("pmu") * bins
    scored
      .join(labels.select(col("id"), col("y").cast("long").as("y")), "id")
      .select(least(((pb - pmod(pb, lit(1000000L))) / lit(1000000L))
          .cast("long"), lit(bins - 1L)).cast("int").as("bin"),
        col("pmu"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("positives"),
        sum(col("pmu")).as("pmu_mass"))
  }
}
