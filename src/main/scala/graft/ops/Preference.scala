package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv, tdiv}

/** Pairwise-preference analytics — the RLHF data tier (reference
  * analog: none; the reference never ranks, but every preference
  * dataset a reward model trains on needs exactly this read): turn a
  * large table of duels (winner, loser) into per-item skill ratings
  * and per-pair agreement stats, entirely inside the engine.
  *
  * Determinism contract: the Bradley–Terry MM iteration (Hunter 2004)
  * runs in ×1e6 fixed point — every per-pair term and every rating
  * update is one integer floor division of exact integer sums, so a
  * fixed round count replays bit-for-bit in SQL with the rounds
  * unrolled (the logisticGd/kmeansTrain convention).
  *
  * Scale shape: the duel table is data-sized but collapses to the
  * item-pair matrix in ONE map-side-combinable aggregate; everything
  * after lives on the model-sized matrix (items², items bounded —
  * model identifiers, not documents), iterated on the driver exactly
  * like logisticGd's dims+1 weight collect. No per-duel work ever
  * repeats across rounds.
  */
object Preference {

  /** Hard ceiling on collected duel-matrix rows (≤ items², so it
    * bounds the item set too) — the repo's bounded-collect convention
    * (cf. `limit(65537)` point-lookups in Streams): a caller passing
    * a document-keyed duel table fails fast, never OOMs the driver.
    */
  val MaxMatrixRows: Int = 1 << 20

  /** Hard ceiling on distinct items for the O(items³) driver triple
    * walk in [[intransitivityAudit]] (512³/6 ≈ 2.2e7 triples — driver
    * milliseconds; model identifiers, never documents).
    */
  val MaxTripleItems: Int = 512

  /** Collapse raw duels (winner, loser) to the directed win matrix
    * (i, j, wins) — the one data-sized pass every consumer shares.
    */
  def duelMatrix(duels: DataFrame, winner: Column,
                 loser: Column): DataFrame =
    duels.groupBy(winner.as("i"), loser.as("j"))
      .agg(count(lit(1)).as("wins"))

  /** BRADLEY–TERRY ratings via `rounds` minorization–maximization
    * steps from a flat 1e6 start: with N_ij = duels between i and j
    * and W_i = total wins of i,
    *   π'_i = ⌊W_i·1e12 / Σ_j ⌊N_ij·1e12/(π_i + π_j)⌋⌋   (micro).
    * Undefeated (or winless) items stay meaningful: W_i = 0 pins the
    * rating to 0; an item with no duels at all never appears (it has
    * no matrix row). Items must be a BOUNDED model-sized set — the
    * matrix collects to the driver once and each round is O(items²)
    * driver arithmetic (the bounded-collect precedent of
    * [[LinearModel.logisticGd]]'s weight vector).
    * Output: (item, wins, duels, rating_micro) after `rounds`.
    */
  def bradleyTerry(duels: DataFrame, winner: Column, loser: Column,
                   rounds: Int): DataFrame =
    bradleyTerryFromMatrix(duelMatrix(duels, winner, loser), rounds)

  /** [[bradleyTerry]] over a pre-aggregated (i, j, wins) matrix — the
    * entry point streaming ingestion uses (the matrix is additive, so
    * per-batch partials sum to the corpus matrix in any order).
    */
  def bradleyTerryFromMatrix(matrix: DataFrame,
                             rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = matrix.sparkSession
    import spark.implicits._
    val wm = matrix
      .select(col("i").cast("string"), col("j").cast("string"),
        col("wins").cast("long"))
      .limit(MaxMatrixRows + 1)
      .as[(String, String, Long)].collect()
    require(wm.length <= MaxMatrixRows,
      s"duel matrix exceeds $MaxMatrixRows rows — items must be a " +
        "bounded model-sized set (identifiers, not documents); " +
        "pre-aggregate or re-key before rating")
    val undirected = wm.map { case (i, j, w) =>
      (if (i <= j) (i, j) else (j, i)) -> w
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val winsOf = wm.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._3).sum
    }
    val duelsOf = undirected.toSeq
      .flatMap { case ((i, j), n) => Seq(i -> n, j -> n) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    val items = duelsOf.keys.toSeq.sorted
    var pi = items.map(_ -> 1000000L).toMap
    for (_ <- 1 to rounds) {
      pi = items.map { it =>
        val denom = undirected.iterator.collect {
          case ((a, b), n) if a == it || b == it =>
            val other = if (a == it) b else a
            // Clamp: two floor-to-zero ratings sharing a pair would
            // make pi(it)+pi(other) == 0 (rating floors to 0 when
            // 2e6·wins < duels); max(1) keeps the term finite.
            BigInt(n) * BigInt(1000000000000L) /
              (pi(it) + pi(other)).max(1L)
        }.sum
        val w = winsOf.getOrElse(it, 0L)
        it -> (if (denom == 0) 1000000L
               else (BigInt(w) * BigInt(1000000000000L) / denom).toLong)
      }.toMap
    }
    items.map { it =>
      (it, winsOf.getOrElse(it, 0L), duelsOf(it), pi(it))
    }.toDF("item", "wins", "duels", "rating_micro")
  }

  /** INTRANSITIVITY audit — the preference-data consistency read: a
    * Bradley–Terry (or any scalar reward) model ASSUMES a total
    * order, but raw duels often contain majority cycles (A beats B
    * beats C beats A); a high cycle rate means a scalar reward
    * cannot fit this data. Majority edges come from the duel matrix
    * (pair dueled, not tied); cycles are counted over triples whose
    * three pairs all carry edges. Items are a BOUNDED model-sized
    * set (the bradleyTerry collect contract) — the matrix collapses
    * map-side, the triple walk runs on the driver. Output one row:
    * (n_items, n_pairs_dueled, n_ties, n_triangles, n_cycles,
    * cycle_rate_micro = ⌊cycles·1e6/max(triangles, 1)⌋).
    */
  def intransitivityAudit(duels: DataFrame, winner: Column,
                          loser: Column): DataFrame = {
    val spark = duels.sparkSession
    import spark.implicits._
    val wm = duelMatrix(duels, winner, loser)
      .select(col("i").cast("string"), col("j").cast("string"),
        col("wins")).limit(MaxMatrixRows + 1)
      .as[(String, String, Long)].collect()
    require(wm.length <= MaxMatrixRows,
      s"duel matrix exceeds $MaxMatrixRows rows — items must be a " +
        "bounded model-sized set (identifiers, not documents)")
    val w = wm.map { case (i, j, n) => (i, j) -> n }.toMap
      .withDefaultValue(0L)
    val items = wm.flatMap(r => Seq(r._1, r._2)).distinct.sorted.toSeq
    require(items.size <= MaxTripleItems,
      s"${items.size} items exceeds $MaxTripleItems — the triple " +
        "walk is O(items³); intransitivity is a model-panel audit, " +
        "not a document-scale one")
    val pairs = items.combinations(2).map { case Seq(a, b) =>
      (a, b, w((a, b)), w((b, a)))
    }.filter(p => p._3 + p._4 > 0).toSeq
    val ties = pairs.count(p => p._3 == p._4).toLong
    val edge = pairs.filter(p => p._3 != p._4)
      .map(p => if (p._3 > p._4) (p._1, p._2) else (p._2, p._1)).toSet
    def dir(a: String, b: String): Int =
      if (edge((a, b))) 1 else if (edge((b, a))) -1 else 0
    var triangles = 0L
    var cycles = 0L
    for (Seq(a, b, c) <- items.combinations(3)) {
      val (ab, bc, ca) = (dir(a, b), dir(b, c), dir(c, a))
      if (ab != 0 && bc != 0 && ca != 0) {
        triangles += 1
        if (ab == bc && bc == ca) cycles += 1
      }
    }
    Seq((items.size.toLong, pairs.size.toLong, ties, triangles,
      cycles, cycles * 1000000L / math.max(triangles, 1L)))
      .toDF("n_items", "n_pairs_dueled", "n_ties", "n_triangles",
        "n_cycles", "cycle_rate_micro")
  }

  /** BEST-OF-N REWARD CURVE — the rejection-sampling planning read
    * (pass@k's RLHF sibling, same unbiased-order-statistics idea as
    * Chen et al. 2021): given per prompt N sampled completions with
    * reward scores, the EXACT expected maximum reward of a uniformly
    * random n-subset, for n = 1..maxN, via the order-statistics
    * identity  E[max_n] = Σ_r s_(r) · C(r−1, n−1) / C(N, n)
    * (s_(r) the r-th SMALLEST score; a subset's max is s_(r) iff its
    * other n−1 members come from the r−1 below it). Deterministic
    * ranks (score, then `ord`), combination counts as closed-form
    * consecutive-integer products (n ≤ 8, so no factorial tables),
    * every term an exact decimal(38,0) product with ONE floored
    * division per (prompt, n) — the passAtK determinism contract.
    * Output: (prompt, n, n_samples, emax_micro) — null emax when
    * n > N. One rank window per prompt (prompt-sized partitions) and
    * one map-side aggregate per n; nothing corpus-global.
    */
  def bestOfNCurve(samples: DataFrame, prompt: Column, scoreMicro: Column,
                   ord: Column, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "maxN must be in [1, 8]")
    // C(x, j) for a LITERAL j: product of j consecutive terms / j!
    // (consecutive-integer products are exactly divisible, so the
    // division is exact in decimal)
    def chooseLit(x: Column, j: Int): Column =
      if (j == 0) dec(lit(1L))
      else dec((0 until j).map(i => dec(x - i)).reduce(_ * _) /
        dec(lit((1 to j).product.toLong)))
    // C(x, j) with j a COLUMN ranging over 0..maxN: a when-chain over
    // the (tiny, literal) j domain
    def chooseCol(x: Column, j: Column, jMax: Int): Column =
      (0 to jMax).foldLeft(lit(null).cast("decimal(38,0)")) {
        (acc, jj) => when(j === jj, chooseLit(x, jj)).otherwise(acc)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prompt")).orderBy(col("s"), col("o"))
    val ranked = samples
      .select(prompt.as("prompt"), scoreMicro.cast("long").as("s"),
        ord.as("o"))
      .withColumn("r", row_number().over(w).cast("long"))
    ranked
      .select(col("prompt"), col("s"), col("r"),
        explode(sequence(lit(1L), lit(maxN.toLong))).as("n"))
      .groupBy(col("prompt"), col("n"))
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col("r") >= col("n"),
            dec(col("s")) * chooseCol(col("r") - 1, col("n") - 1,
              maxN - 1))
          .otherwise(dec(lit(0L)))).as("num"))
      .select(col("prompt"), col("n").cast("int").as("n"),
        col("n_samples"),
        when(col("n") > col("n_samples"), lit(null).cast("long"))
          .otherwise(fdiv(dec(col("num")),
            chooseCol(col("n_samples"), col("n"), maxN)))
          .as("emax_micro"))
  }

  /** DPO PAIR MINING — turn per-prompt scored completions into the
    * (chosen, rejected) training pairs direct preference optimization
    * (Rafailov et al. 2023) consumes: per prompt, chosen = the
    * highest-reward sample, rejected = the lowest, with deterministic
    * tiebreaks (equal scores resolve by smallest `ord` on BOTH
    * sides — the repo's rank-window convention), and pairs whose
    * margin (chosen − rejected, micro) falls under `minMarginMicro`
    * are dropped, as are single-sample prompts (no pair exists).
    * Scale shape: two rank windows sharing ONE prompt partitioning
    * (prompt-sized partitions — sample panels, never corpus-global),
    * then a per-prompt conditional aggregate; nothing collects.
    * Output: (prompt, n_samples, chosen_ord, chosen_micro,
    * rejected_ord, rejected_micro, margin_micro).
    */
  def dpoPairs(samples: DataFrame, prompt: Column, scoreMicro: Column,
               ord: Column, minMarginMicro: Long): DataFrame = {
    require(minMarginMicro >= 0, "minMarginMicro must be >= 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prompt"))
    val base = samples.select(prompt.as("prompt"),
      scoreMicro.cast("long").as("s"), ord.cast("long").as("o"))
    base
      .withColumn("rc",
        row_number().over(w.orderBy(col("s").desc, col("o"))))
      .withColumn("rr",
        row_number().over(w.orderBy(col("s").asc, col("o"))))
      .groupBy(col("prompt"))
      .agg(count(lit(1)).as("n_samples"),
        max(when(col("rc") === 1, struct(col("o"), col("s"))))
          .as("ch"),
        max(when(col("rr") === 1, struct(col("o"), col("s"))))
          .as("rj"))
      .filter(col("n_samples") >= 2)
      .select(col("prompt"), col("n_samples"),
        col("ch.o").as("chosen_ord"), col("ch.s").as("chosen_micro"),
        col("rj.o").as("rejected_ord"),
        col("rj.s").as("rejected_micro"),
        (col("ch.s") - col("rj.s")).as("margin_micro"))
      .filter(col("margin_micro") >= minMarginMicro)
  }

  /** GROUP-RELATIVE ADVANTAGE + KL-PENALTY audit — the GRPO data
    * read (Shao et al. 2024), in the bias-corrected Dr. GRPO form
    * (Liu et al. 2025: drop the per-group std division, which
    * up-weights low-variance groups): per sample the mean-centered
    * advantage  adv = r − mean(group), exact as ⌊(n·r − Σr)/n⌋
    * truncated toward zero (the tdiv convention — one division per
    * row, no intermediate mean rounding), plus the per-group
    * diagnostics every RLHF run watches: reward variance (exact
    * numerator n·Σr² − (Σr)², one truncated division, micro² units)
    * and Schulman's k1/k2 KL estimators between policy and reference
    * log-probs (k1 = mean(lp − lr), k2 = mean((lp − lr)²)/2, micro).
    * Scale shape: ONE prompt-partitioned window (partition-only, no
    * sort) carries every group sum — the per-sample pass stays
    * data-sized and nothing collects.
    * Output one row per sample: (prompt, ord, reward_micro,
    * adv_micro, n_samples, var_micro2, kl_k1_micro, kl_k2_micro).
    */
  def grpoAdvantage(samples: DataFrame, prompt: Column, ord: Column,
                    rewardMicro: Column, logpPolicyMicro: Column,
                    logpRefMicro: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prompt"))
    samples
      .select(prompt.as("prompt"), ord.cast("long").as("o"),
        rewardMicro.cast("long").as("r"),
        (logpPolicyMicro.cast("long") - logpRefMicro.cast("long"))
          .as("d"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sr", sum(dec(col("r"))).over(w))
      .withColumn("sr2", sum(dec(col("r")) * col("r")).over(w))
      .withColumn("sd", sum(dec(col("d"))).over(w))
      .withColumn("sd2", sum(dec(col("d")) * col("d")).over(w))
      .select(col("prompt"), col("o").as("ord"),
        col("r").as("reward_micro"),
        tdiv(dec(col("n")) * col("r") - col("sr"), dec(col("n")))
          .as("adv_micro"),
        col("n").as("n_samples"),
        tdiv(dec(col("n")) * col("sr2") - col("sr") * col("sr"),
          dec(col("n")) * col("n")).as("var_micro2"),
        tdiv(col("sd"), dec(col("n"))).as("kl_k1_micro"),
        tdiv(col("sd2"), dec(lit(2L)) * col("n") * lit(1000000L))
          .as("kl_k2_micro"))
  }

  /** LENGTH-BIAS audit — RLHF's best-documented annotation artifact:
    * raters (and LLM judges) favor the LONGER response, and a reward
    * model trained on length-biased duels optimizes verbosity. One
    * exact aggregate over (winner_len, loser_len): how often the
    * longer side won (ties excluded from the rate), and the raw
    * winner-minus-loser length mass. Output one row: (n_duels,
    * n_longer_won, n_ties, len_diff_sum, longer_wins_micro — null
    * when every duel tied).
    */
  def lengthBias(duels: DataFrame, winLen: Column,
                 loseLen: Column): DataFrame = {
    duels
      .select(winLen.cast("long").as("lw"), loseLen.cast("long")
        .as("ll"))
      .agg(count(lit(1)).as("n_duels"),
        sum(when(col("lw") > col("ll"), 1L).otherwise(0L))
          .as("n_longer_won"),
        sum(when(col("lw") === col("ll"), 1L).otherwise(0L))
          .as("n_ties"),
        sum(col("lw") - col("ll")).as("len_diff_sum"))
      .withColumn("longer_wins_micro",
        when(col("n_duels") === col("n_ties"),
          lit(null).cast("long"))
          .otherwise(fdiv(dec(col("n_longer_won")) * lit(1000000L),
            dec(col("n_duels") - col("n_ties")))))
  }

  /** POSITION-BIAS audit — the preference-data hygiene read a reward
    * model needs before trusting its duels: annotators (and LLM
    * judges) systematically favor the FIRST-presented response, and a
    * biased duel table poisons every downstream rating. Per item: win
    * rate when presented first vs when presented second (exact micro
    * floors), bias = the truncated difference; plus the corpus-level
    * first-slot win rate every row carries. One data-sized aggregate
    * per slot role, joined on the item-sized tables — map-side
    * combinable, no windows. `first`/`second` are the presented
    * items, `firstWon` whether slot one won the duel.
    */
  def positionBias(duels: DataFrame, first: Column, second: Column,
                   firstWon: Column): DataFrame = {
    val base = duels.select(first.cast("string").as("f"),
      second.cast("string").as("s"),
      when(firstWon, 1L).otherwise(0L).as("fw"))
    val asFirst = base.groupBy(col("f").as("item"))
      .agg(count(lit(1)).as("n_first"), sum(col("fw")).as("w_first"))
    val asSecond = base.groupBy(col("s").as("item"))
      .agg(count(lit(1)).as("n_second"),
        sum(lit(1L) - col("fw")).as("w_second"))
    val overall = base.agg(count(lit(1)).as("n_duels"),
      fdiv(dec(sum(col("fw"))) * lit(1000000L), dec(count(lit(1))))
        .as("first_rate_micro"))
    asFirst.join(asSecond, Seq("item"), "full_outer")
      .na.fill(0L, Seq("n_first", "w_first", "n_second", "w_second"))
      .select(col("item"), col("n_first"), col("w_first"),
        col("n_second"), col("w_second"),
        (when(col("n_first") === 0L, lit(0L))
          .otherwise(fdiv(dec(col("w_first")) * lit(1000000L),
            dec(col("n_first")))) -
         when(col("n_second") === 0L, lit(0L))
          .otherwise(fdiv(dec(col("w_second")) * lit(1000000L),
            dec(col("n_second"))))).as("bias_micro"))
      .crossJoin(broadcast(overall))
  }
}
