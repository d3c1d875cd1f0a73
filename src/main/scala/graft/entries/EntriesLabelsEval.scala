package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.dec

/** Query surface + DuckDB oracles: label quality, agreement, preference (RLHF), valuation, eval metrics.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesLabelsEval {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Stats/eval: exact ROC AUC (ties-aware Mann–Whitney) of the event
    // value as a purchase predictor — the scorer-quality summary of a
    // filtering pipeline, via the KS two-level prefix sum (no
    // single-partition sort of the score domain) and an exact-integer
    // rank-sum numerator; one double division at the end.
    "q170_auc" -> ((s, dir) =>
      Profile.aucExact(t(s, dir, "events"),
        col("event_type") === "purchase",
        round(col("value") * 100).cast("long"), 1000L)),
    // Stats/eval: exact equal-count CALIBRATION bins — conversion rate
    // per score decile with the bin assignment from exact global ranks
    // (the aucExact two-level prefix sum), ties never straddle a
    // boundary.
    "q178_calibration" -> ((s, dir) =>
      Profile.calibrationBins(t(s, dir, "events"),
          col("event_type") === "purchase",
          round(col("value") * 100).cast("long"), 10, 1000L)
        .orderBy(col("bin"))),
    // Stats: MUTUAL INFORMATION lang↔source — how many nats of one
    // field the other carries (the cross-field number a "which
    // metadata predicts what" ranking compares); observed cells only,
    // ×1e9 term snaps, normalized MI rides along.
    "q212_mutual_information" -> ((s, dir) =>
      Profile.mutualInformation(t(s, dir, "documents"),
        col("lang"), col("source"))),
    // Text/ML: MULTINOMIAL NAIVE BAYES lang classifier — 3:1 hash
    // split, add-one token likelihoods fit on train, held-out docs
    // argmax-scored, confusion counts out. The supervised baseline
    // beside q25's heuristic langId and q138's bigram LM; ×1e6
    // integer log-weights keep every score an exact sum.
    "q255_naive_bayes" -> ((s, dir) =>
      Text.naiveBayesEval(t(s, dir, "documents"), "doc_id",
          col("lang"), col("text"))
        .withColumnRenamed("y", "lang")),
    // Stats/eval: BRIER (Murphy) DECOMPOSITION — an hour-of-day
    // purchase-rate predictor fit on a hash half, held-out Brier
    // split into reliability − resolution + uncertainty over the
    // constant-prediction groups (the WHY behind q178's calibration
    // curve: miscalibration vs missing discrimination).
    "q260_brier_decomposition" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(hour(col("ts")).as("h"),
          (col("event_type") === "purchase").cast("long").as("y"),
          Sampling.hashBucket(col("event_id"), 2).as("b"))
      val tr = ev.filter(col("b") === 0).groupBy(col("h"))
        .agg(count(lit(1)).as("nh"), sum(col("y")).as("ph"))
        .select(col("h"),
          round((col("ph").cast("double") / col("nh").cast("double")
            * 1e6).cast("decimal(20,10)")).cast("long").as("p"))
      Profile.brierDecomposition(
        ev.filter(col("b") =!= 0).join(broadcast(tr), "h"),
        col("p"), col("y"))
    }),
    // Annotation QA: KRIPPENDORFF'S ALPHA (nominal) over three
    // synthetic raters of the language label (rater 1 = the gold
    // lang; raters 2/3 flip every 7th/11th doc to a noise code) —
    // the multi-rater agreement gate a labeling pipeline runs before
    // trusting a batch (q226's kappa stops at two raters). With
    // m_u = 3 codings per unit the whole estimator is exact integer
    // algebra: per-unit disagreeing ordered pairs D_u = 6 − Σ_c
    // n_uc(n_uc−1), α = 1 − (n−1)·ΣD_u / (2·((Σn_c)² − Σn_c²)) —
    // one (unit, code) aggregate + two tiny rollups, one double
    // division at the end.
    "q310_krippendorff" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val codes = d.select(col("doc_id").as("unit"),
          col("lang").as("code"))
        .unionByName(d.select(col("doc_id").as("unit"),
          when(col("doc_id") % 7 === 0, lit("xx"))
            .otherwise(col("lang")).as("code")))
        .unionByName(d.select(col("doc_id").as("unit"),
          when(col("doc_id") % 11 === 0, lit("xx"))
            .otherwise(col("lang")).as("code")))
      val nuc = codes.groupBy(col("unit"), col("code"))
        .agg(count(lit(1)).as("m"))
      val du = nuc.groupBy(col("unit"))
        .agg((lit(6L) - sum(col("m") * (col("m") - 1))).as("d2"))
        .agg(sum(col("d2")).as("d2"), count(lit(1)).as("nu"))
      val marg = nuc.groupBy(col("code")).agg(sum(col("m")).as("nc"))
        .agg(sum(col("nc")).as("ntot"),
          sum(col("nc") * col("nc")).as("nc2"))
      du.crossJoin(broadcast(marg))
        .select(col("nu").as("n_units"), col("ntot").as("n_codings"),
          round((lit(1.0) -
            ((col("ntot") - 1) * col("d2")).cast("double") /
            (lit(2L) * (col("ntot") * col("ntot") - col("nc2")))
              .cast("double")).cast("decimal(20,10)"), 6)
            .cast("double").as("alpha"))
    }),
    // ML/curation: CONFIDENT-LEARNING label-noise audit (Northcutt
    // 2021) — md5-derived per-class micro scores with a planted
    // doc_id%17 label flip; per-class mean thresholds via exact
    // cross-multiply, confident joint counts, off-diagonal mass =
    // the label-issue candidates.
    "q413_confident_labels" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val tl = hashLong(concat(lit("lbl"), col("doc_id"))) % 3
      val withY = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 17 === 0, (tl + 1) % 3).otherwise(tl)
          .cast("int").as("y"),
        transform(sequence(lit(0), lit(2)), j =>
          when(j === tl, lit(700000L)).otherwise(lit(150000L)) +
            hashLong(concat(col("doc_id"), lit(":"), j)) % 400001L -
            lit(200000L)).as("probs"))
      Quality.confidentJoint(withY, col("doc_id"), col("y"),
        col("probs"))
    }),
    // ML/valuation: TracIn single-checkpoint influence (Pruthi 2020)
    // over the q361 trained weights — r_i·r_t·(x_i·x_t) exact integer
    // gradient dots, top-5 proponents per bounded %89 probe.
    "q414_tracin_influence" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = e.select(col("vec_id").as("id"),
        col("embedding").as("x"))
      val labels = e.select(col("vec_id").as("id"),
        when(col("label") === 0, 1L).otherwise(0L).as("y"))
      val w = LinearModel.logisticGd(vecs, labels, 3)
      LinearModel.tracInfluence(vecs, labels, w,
        e.filter(col("vec_id") % 89 === 0)
          .select(col("vec_id").as("id")), 5)
    }),
    // RLHF/preference: BRADLEY–TERRY ratings via 3 fixed-point MM
    // rounds over md5-coin duels with a planted skill gradient
    // (lower-indexed arms win more) — the reward-model data read.
    "q415_bradley_terry" -> ((s, dir) =>
      Preference.bradleyTerry(duelFixture(s, dir),
        col("winner"), col("loser"), 3)),
    // RLHF planning: BEST-OF-N REWARD CURVE — exact E[max reward of a
    // random n-subset] per prompt for n = 1..4 via the order-
    // statistics identity (pass@k's sampling-without-replacement
    // algebra applied to rejection sampling): rank window per prompt,
    // closed-form consecutive-product combinations, one floored
    // division per (prompt, n).
    "q483_best_of_n" -> ((s, dir) =>
      Preference.bestOfNCurve(
        t(s, dir, "events").select(
          concat(lit("p"), (col("user_id") % 40).cast("string"))
            .as("p"),
          pmod(graft.ops.Dedup.hashLong(concat(lit("bon"),
            col("event_id").cast("string"))), lit(1000000L)).as("sc"),
          col("event_id").as("o")),
        col("p"), col("sc"), col("o"), 4)),
    // RLHF curation: DPO PAIR MINING — per prompt the best/worst
    // md5-scored completions become the (chosen, rejected) training
    // pair, deterministic ord tiebreaks, 0.2-margin floor; sparse
    // sampling (every 25th event over 200 prompts) exercises both
    // the single-sample drop and the margin filter.
    "q486_dpo_pairs" -> ((s, dir) =>
      Preference.dpoPairs(
        t(s, dir, "events").filter(col("event_id") % 25 === 0)
          .select(
            concat(lit("p"), (col("user_id") % 200).cast("string"))
              .as("p"),
            pmod(graft.ops.Dedup.hashLong(concat(lit("dpo"),
              col("event_id").cast("string"))), lit(1000000L))
              .as("sc"),
            col("event_id").as("o")),
        col("p"), col("sc"), col("o"), 200000L)),
    // RLHF: Dr-GRPO GROUP-RELATIVE ADVANTAGE + KL audit — md5
    // rewards and policy/ref log-probs per prompt panel; exact
    // mean-centered advantages (tdiv — signed dividends), group
    // variance, Schulman k1/k2 KL estimators, one partition-only
    // window.
    "q487_grpo_advantage" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      def h(tag: String): Column =
        pmod(hashLong(concat(lit(tag),
          col("event_id").cast("string"))), lit(1000000L))
      Preference.grpoAdvantage(
        t(s, dir, "events").select(
          concat(lit("p"), (col("user_id") % 40).cast("string"))
            .as("p"),
          col("event_id").as("o"), h("gr").as("r"),
          h("lp").as("lp"), h("lr").as("lr")),
        col("p"), col("o"), col("r"), col("lp"), col("lr"))
    }),
    // Eval/calibration: SPLIT-CONFORMAL coverage audit — per language
    // the exact ⌈(n+1)(1−α)⌉-th-smallest calibration threshold for
    // α ∈ {10%, 5%, 1%} and the holdout coverage it actually
    // achieves; the distribution-free guarantee is ≥ 1−α, and the
    // md5-uniform fixture should land near it.
    "q484_conformal_coverage" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("lang").as("grp"),
        col("doc_id").as("o"),
        pmod(graft.ops.Dedup.hashLong(concat(lit("cp"),
          col("doc_id").cast("string"))), lit(1000000L)).as("score"))
      Quality.conformalCalibration(
        d.filter(col("o") % 2 === 0),
        d.filter(col("o") % 2 =!= 0).select(col("grp"), col("score")),
        Seq(10, 5, 1))
    }),
    // Governance: GROUP-FAIRNESS audit — the q469 planted classifier
    // (%3 positives, +40pt accuracy) read per language: selection
    // rate / TPR / FPR / PPV per group and the gaps against the
    // broadcast overall row.
    "q505_fairness" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val label = col("doc_id") % 3 === 0
      Quality.fairnessAudit(
        t(s, dir, "documents").select(col("lang").as("g"),
          label.as("y"),
          (pmod(hashLong(concat(lit("fa"),
            col("doc_id").cast("string"))), lit(100L)) <
            lit(30L) + when(label, 40L).otherwise(0L)).as("p")),
        col("g"), col("y"), col("p"))
    }),
    // Clustering eval: B-CUBED precision/recall/F1 — gold clusters
    // of five consecutive doc_ids, predictions with an md5 ~20% of
    // items shifted one group over; the per-item score collapses to
    // contingency cells (never item pairs). Completes the
    // purity (q228) / ARI (q232) panel with the ER-standard metric.
    "q490_bcubed" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val shifted = col("doc_id") +
        when(pmod(hashLong(concat(lit("bc"),
          col("doc_id").cast("string"))), lit(10L)) < 2, 3L)
          .otherwise(0L)
      Quality.bCubed(
        t(s, dir, "documents").select(col("doc_id"),
          floor(shifted / 5).as("p"),
          floor(col("doc_id") / 5).as("g")),
        col("doc_id"), col("p"), col("g"))
    }),
    // Eval/calibration: ISOTONIC CALIBRATION (PAV) — md5 scores with
    // Bernoulli(score) md5 labels per language; the minimax closed
    // form repairs the empirical bin-rate wiggles into the monotone
    // fit, 8 bins, nano snaps before every compare.
    "q489_isotonic" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      def h(tag: String): Column =
        pmod(hashLong(concat(lit(tag),
          col("doc_id").cast("string"))), lit(1000000L))
      Quality.isotonicCalibration(
        t(s, dir, "documents").select(col("lang").as("g"),
          h("iso").as("sc"), (h("lb") < h("iso")).as("y")),
        col("g"), col("sc"), col("y"), 8)
    }),
    // RLHF hygiene: POSITION-BIAS audit — the same duels with the
    // md5 parity deciding presentation order; per-item first-vs-
    // second win rates and the corpus first-slot rate.
    "q421_position_bias" -> ((s, dir) => {
      val d = duelFixture(s, dir)
      val firstIsWinner = col("event_id") % 2 === 0
      Preference.positionBias(
        d.select(
          when(firstIsWinner, col("winner")).otherwise(col("loser"))
            .as("first"),
          when(firstIsWinner, col("loser")).otherwise(col("winner"))
            .as("second"),
          firstIsWinner.as("first_won")),
        col("first"), col("second"), col("first_won"))
    }),
    // Label QA: KRIPPENDORFF'S ALPHA — 4 md5 raters per doc with a
    // planted ~20% flip rate against the latent label; the binary
    // coincidence algebra collapses to exact integers, one truncated
    // division.
    "q423_krippendorff" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val votes = t(s, dir, "documents")
        .select(col("doc_id"), explode(sequence(lit(0), lit(3)))
          .as("r"))
        .select(col("doc_id"),
          ((hashLong(concat(lit("kr"), col("doc_id"))) % 2 === 1) =!=
            (hashLong(concat(col("doc_id"), lit("#"), col("r"))) %
              10 < 2)).as("v"))
      Quality.krippendorffAlpha(votes, col("doc_id"), col("v"))
    }),
    // Crowdsourcing: ONE-STEP DAWID–SKENE — 3 reliable + 2 noisy md5
    // workers; reliability-weighted log-odds votes flip items where
    // the reliable minority disagrees.
    "q476_dawid_skene" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val votes = t(s, dir, "documents").select(col("doc_id"),
          explode(sequence(lit(0), lit(4))).as("wk"))
        .select(col("doc_id"), col("wk"),
          ((hashLong(concat(lit("ds"), col("doc_id"))) % 2 === 1) =!=
            (hashLong(concat(col("doc_id"), lit("@"), col("wk"))) %
              100 < lit(10) + when(col("wk") >= 3, 35).otherwise(0)))
            .as("v"))
      Quality.dawidSkeneStep(votes, col("doc_id"),
        concat(lit("w"), col("wk")), col("v"))
    }),
    // RLHF: INTRANSITIVITY audit — majority cycles in the duel
    // tournament; the planted skill gradient keeps most triples
    // transitive, the md5 noise plants the exceptions.
    "q471_intransitivity" -> ((s, dir) =>
      Preference.intransitivityAudit(duelFixture(s, dir),
        col("winner"), col("loser"))),
    // Eval: MATTHEWS CORRELATION — planted +40pt accuracy on the
    // %3 positives; exact counts, one snapped double chain.
    "q469_mcc" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val label = col("doc_id") % 3 === 0
      Quality.matthewsCorrelation(t(s, dir, "documents"),
        hashLong(concat(lit("mc"), col("doc_id"))) % 100 <
          lit(30) + when(label, 40).otherwise(0), label)
    }),
    // Dataloader: INTERLEAVE-FAIRNESS audit — md5 training order,
    // per-source share of the first 100/1000 rows vs overall share.
    "q467_interleave_audit" -> ((s, dir) =>
      Sampling.interleaveAudit(t(s, dir, "documents"), col("source"),
        col("doc_id"), Seq(100L, 1000L))),
    // RLHF hygiene: LENGTH-BIAS audit — duels with an md5 coin
    // tilted +20 toward the longer document; the audit recovers the
    // planted verbosity preference exactly.
    "q441_length_bias" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val d = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars"))
      val n = d.count()
      val pairs = d.select(col("doc_id").as("ia"),
          col("n_chars").as("la"),
          pmod(col("doc_id") * 7 + 3, lit(n)).as("ib"))
        .join(d.select(col("doc_id").as("ib"),
          col("n_chars").as("lb")), "ib")
        .filter(col("ia") =!= col("ib"))
      val aWins = hashLong(concat(lit("lb"), col("ia"))) % 100 <
        lit(50) + when(col("la") > col("lb"), 20)
          .when(col("la") < col("lb"), -20).otherwise(0)
      Preference.lengthBias(
        pairs.select(when(aWins, col("la")).otherwise(col("lb"))
          .as("lw"),
          when(aWins, col("lb")).otherwise(col("la")).as("ll")),
        col("lw"), col("ll"))
    }),
    // Ranking eval: AVERAGE PRECISION — md5 scores with a planted
    // +0.3 boost on %5 positives; global ranks from the prefix
    // kernel, per-positive precision snapped ×1e6 pre-sum.
    "q433_average_precision" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 5 === 0).as("rel"))
      val score = hashLong(concat(lit("ap"), col("doc_id"))) %
        1000000L + when(col("rel"), 300000L).otherwise(0L)
      Profile.averagePrecision(
        d.select(col("doc_id"), score.as("sc"), col("rel")),
        col("doc_id"), col("sc"), col("rel"), 100000L)
    }),
    // Active learning: QUERY-BY-COMMITTEE — logistic (q361 weights),
    // 5-NN majority, and nearest class-sum centroid vote on the %89
    // probe pool; disputed probes are the labeling-budget targets.
    "q435_committee_disagreement" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = e.select(col("vec_id").as("id"),
        col("embedding").as("x"))
      val labels = e.select(col("vec_id").as("id"),
        when(col("label") === 0, 1L).otherwise(0L).as("y"))
      val pv = e.filter(col("vec_id") % 89 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val w = LinearModel.logisticGd(vecs, labels, 3)
      val lr = LinearModel.scoreLogistic(
        pv.select(col("id"), col("vec").as("x")), w)
        .select(col("id"),
          (col("pmu") >= 500000L).cast("long").as("pred"))
      val knn = Similarity.bruteForceTopK(pv,
        e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        5)
        .join(labels.select(col("id").as("neighbor_id"), col("y")),
          "neighbor_id")
        .groupBy(col("query_id").as("id"))
        .agg((sum(col("y")) >= 3L).cast("long").as("pred"))
      val sums = e.select(
          when(col("label") === 0, 1).otherwise(0).as("cid"),
          posexplode(col("embedding")).as(Seq("dim", "xv")))
        .groupBy(col("cid"), col("dim"))
        .agg(sum(round(col("xv").cast("double") * 1e6).cast("long"))
          .as("sm"))
        .collect() // 2 classes × dims — model-sized
      val cdf = {
        import s.implicits._
        sums.groupBy(_.getInt(0)).toSeq.map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2).toDouble)
            .toSeq)
        }.toDF("cid", "cvec")
      }
      val cent = Similarity.ivfAssign(pv, cdf)
        .select(col("id"), col("cell").cast("long").as("pred"))
      Quality.committeeVotes(Seq(lr, knn, cent))
    }),
    // Data diet: EL2N scores (Paul 2021) — |pmu − ymu| under the
    // trained q361 weights, top-50 hardest examples, no new
    // arithmetic beyond the exact forward pass.
    "q422_el2n_scores" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = e.select(col("vec_id").as("id"),
        col("embedding").as("x"))
      val labels = e.select(col("vec_id").as("id"),
        when(col("label") === 0, 1L).otherwise(0L).as("y"))
      LinearModel.el2nScores(vecs, labels,
        LinearModel.logisticGd(vecs, labels, 3), 50)
    }),
    // Curation: RHO-LOSS selection (Mindermann 2022) — reducible loss
    // = pool NLL under the bucket-0 model minus NLL under the
    // bucket-1 reference model (λ=0.5 interpolated bigrams, exact
    // snapped term sums), top-40 most-learnable docs.
    "q418_rho_loss" -> ((s, dir) =>
      Text.rhoLossSelect(t(s, dir, "documents"), "doc_id",
        col("text"), 0.5, 40)),
    // Quality/eval: UNBIASED pass@k (Chen et al. 2021) — per task
    // (source) the exact C(n−c,k)/C(n,k) estimator in decimal(38,0)
    // integer products; deterministic "correct" predicate on ids.
    "q405_pass_at_k" -> ((s, dir) =>
      Quality.passAtK(t(s, dir, "documents"), col("source"),
        col("doc_id") % 3 === 0, 5)),
    // Quality/eval: MACRO-F1 over the Naive-Bayes confusion (q255's
    // table): per true class one exact floored F1 (2tp/(2tp+fp+fn) —
    // never a precision/recall chain), macro over true classes.
    "q396_macro_f1" -> ((s, dir) => {
      val conf = Text.naiveBayesEval(t(s, dir, "documents"), "doc_id",
        col("lang"), col("text"))
      Quality.macroF1(conf, col("y"), col("pred"), col("n"))
    }),
    // ML/curation: EXPECTED CALIBRATION ERROR — the model-card number
    // over q379's exact bin masses: one floored division over exact
    // gap sums (no lossy per-bin rates), plus the worst bin's gap.
    "q392_calibration_ece" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = e.select(col("vec_id").as("id"), col("embedding").as("x"))
      val labels = e.select(col("vec_id").as("id"),
        when(col("label") === 0, 1L).otherwise(0L).as("y"))
      val w = LinearModel.logisticGd(vecs, labels, 3)
      LinearModel.expectedCalibrationError(
        LinearModel.calibrationBins(
          LinearModel.scoreLogistic(vecs, w), labels, 1000))
    }),
    // Quality/labels: COHEN'S KAPPA between the annotator (label 0)
    // and the trained classifier at a fixed operating point — the
    // chance-corrected agreement behind any "model matches the
    // labeler" claim, exact fixed-point (kappa can be negative;
    // truncation matches SQL integer division). The oracle replays
    // training, scoring, thresholding AND the kappa arithmetic.
    "q385_cohen_kappa" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = e.select(col("vec_id").as("id"), col("embedding").as("x"))
      val labels = e.select(col("vec_id").as("id"),
        when(col("label") === 0, 1L).otherwise(0L).as("y"))
      val w = LinearModel.logisticGd(vecs, labels, 3)
      val scored = LinearModel.scoreLogistic(vecs, w)
        .join(labels, "id")
      Quality.cohenKappa(scored, col("y") === 1L,
        col("pmu") >= 282000L)
    }),
    // ML/curation: CALIBRATION of the trained quality classifier —
    // before q361's scores gate any data, the reliability masses:
    // train the same 3-step trajectory, score every row with the
    // final weights (same snapped forward pass), bin by predicted
    // probability (1000 equal widths — per-mille, because a 3-step
    // model's scores cluster tightly around σ(0); top edge clamped)
    // and emit EXACT integer masses per bin — row count, positives,
    // ×1e6 predicted mass. The oracle replays training AND scoring
    // AND binning.
    "q379_calibration_bins" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = e.select(col("vec_id").as("id"), col("embedding").as("x"))
      val labels = e.select(col("vec_id").as("id"),
        when(col("label") === 0, 1L).otherwise(0L).as("y"))
      val w = LinearModel.logisticGd(vecs, labels, 3)
      LinearModel.calibrationBins(
        LinearModel.scoreLogistic(vecs, w), labels, 1000)
    }),
    // Similarity/eval: RECALL@n CURVE — where in the IVF ranking the
    // TRUE nearest neighbor actually sits, cumulated over n ∈ {1, 2,
    // 5, 10, 20} (q108 reports recall at one k per nprobe; tuning
    // reads the whole curve to pick the rerank depth). First-hit
    // rank via one (query, neighbor) equi-join of truth@1 against
    // the k=20 nprobe=2 ranking.
    "q290_recall_curve" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val centroids = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      val truth1 = Similarity.bruteForceTopK(qs, e, 1)
        .select(col("query_id"), col("neighbor_id"))
      val assigned = Similarity.ivfAssign(e, centroids)
      val approx = Similarity.ivfSearch(qs, assigned, centroids, 20,
        nprobe = 2, preAssigned = true)
      val fh = truth1.join(approx.select(col("query_id"),
        col("neighbor_id"), col("rank")), Seq("query_id",
        "neighbor_id"))
      val grid = {
        import s.implicits._
        Seq(1, 2, 5, 10, 20).toDF("n_at")
      }
      val nq = qs.agg(count(lit(1)).as("n_queries"))
      grid.join(fh, col("rank") <= col("n_at"), "left")
        .groupBy(col("n_at"))
        .agg(count(col("query_id")).as("n_hit"))
        .crossJoin(broadcast(nq))
        .select(col("n_at"), col("n_hit"), col("n_queries"),
          round((col("n_hit").cast("double") /
            col("n_queries").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("recall"))
    }),
    // Stats/eval: EXPECTED + MAXIMUM CALIBRATION ERROR — the two
    // headline calibration numbers (ECE = Σ n_k|p̄_k − ō_k|/N, MCE =
    // max_k gap) over q260's constant-prediction groups: ECE's
    // numerator is the PURE INTEGER Σ|p·n_k − 10⁶·s_k| (one exact
    // aggregate, one division); MCE snaps each group's gap ×1e9
    // before the max.
    "q288_calibration_error" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(hour(col("ts")).as("h"),
          (col("event_type") === "purchase").cast("long").as("y"),
          Sampling.hashBucket(col("event_id"), 2).as("b"))
      val tr = ev.filter(col("b") === 0).groupBy(col("h"))
        .agg(count(lit(1)).as("nh"), sum(col("y")).as("ph"))
        .select(col("h"),
          round((col("ph").cast("double") / col("nh").cast("double")
            * 1e6).cast("decimal(20,10)")).cast("long").as("p"))
      val g = ev.filter(col("b") =!= 0).join(broadcast(tr), "h")
        .groupBy(col("p"))
        .agg(count(lit(1)).as("nk"), sum(col("y")).as("sk"))
        .withColumn("dl", abs(dec(col("p")) * col("nk")
          - dec(lit(1000000L)) * col("sk")))
      g.agg(sum(col("nk")).as("n"), sum(col("dl")).as("sdl"),
          max(round(col("dl").cast("double") /
            col("nk").cast("double") / lit(1e6) * lit(1e9))
            .cast("long")).as("mx"))
        .select(col("n"),
          round((col("sdl").cast("double") /
            (col("n").cast("double") * lit(1e6)))
            .cast("decimal(20,10)"), 6).cast("double").as("ece"),
          round((col("mx").cast("double") / lit(1e9))
            .cast("decimal(20,10)"), 6).cast("double").as("mce"))
    }),
    // Stats/preference: BRADLEY-TERRY strength fit — sources duel on
    // 64 hash panels (a beats b on a panel iff its mean doc length
    // wins by exact cross-multiply), two unrolled minorization
    // iterations π' = W/Σ n_ab/(π_a+π_b) from π⁰ = 1 — the pairwise-
    // preference → scalar-strength model behind ranking/reward
    // pipelines, with q135's fixed-iteration determinism discipline:
    // per-term ×1e9 snaps make every denominator an exact integer
    // sum, shares renormalize on ×1e6-snapped strengths. The
    // data-sized stage is one (source, panel) aggregate; everything
    // after lives on the sources×sources duel table.
    "q275_bradley_terry" -> ((s, dir) => {
      val sp = t(s, dir, "documents")
        .select(col("source").as("g"),
          Sampling.hashBucket(col("doc_id"), 64).as("p"),
          col("n_chars").as("v"))
        .groupBy(col("g"), col("p"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val duel = sp.as("x").join(sp.as("y"),
          col("x.p") === col("y.p") && col("x.g") =!= col("y.g"))
        .select(col("x.g").as("a"), col("y.g").as("b"),
          (dec(col("x.sv")) * col("y.n") >
            dec(col("y.sv")) * col("x.n")).as("win"))
      val w = duel.groupBy(col("a"), col("b"))
        .agg(sum(when(col("win"), 1L).otherwise(0L)).as("w"))
      val m = w.as("u").join(w.as("v"),
          col("u.a") === col("v.b") && col("u.b") === col("v.a"))
        .select(col("u.a").as("a"), col("u.b").as("b"),
          col("u.w").as("w_ab"), (col("u.w") + col("v.w")).as("n_ab"))
        .filter(col("n_ab") > 0)
      val wa = m.groupBy(col("a")).agg(sum(col("w_ab")).as("w_tot"))
      def iter(pi: DataFrame): DataFrame = {
        val terms = m
          .join(pi.select(col("g").as("a"), col("pi").as("pa")), "a")
          .join(pi.select(col("g").as("b"), col("pi").as("pb")), "b")
          .select(col("a"),
            round(lit(1e9) * col("n_ab").cast("double") /
              (col("pa") + col("pb"))).cast("long").as("t"))
          .groupBy(col("a")).agg(sum(col("t")).as("den"))
        wa.join(terms, "a")
          .select(col("a").as("g"),
            (col("w_tot").cast("double") * lit(1e9) /
              col("den").cast("double")).as("pi"))
      }
      val pi0 = wa.select(col("a").as("g"), lit(1.0).as("pi"))
      val pi2 = iter(iter(pi0))
      val pm = pi2.select(col("g"),
        round(col("pi").cast("decimal(20,10)") * 1000000).cast("long")
          .as("pm"))
      val tot = pm.agg(sum(col("pm")).as("tot"))
      pm.crossJoin(broadcast(tot))
        .join(wa.select(col("a").as("g"), col("w_tot")), "g")
        .select(col("g").as("source"), col("w_tot"),
          round((col("pm").cast("double") / lit(1e6))
            .cast("decimal(20,10)"), 4).cast("double").as("bt_pi"),
          round((col("pm").cast("double") / col("tot").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("share"))
    }),
    // Stats/curation: COHEN'S KAPPA between two quality gates — does
    // the cheap length tier agree with the lexical-diversity tier
    // beyond chance? Both raters are pure column expressions (length
    // <250/<400 vs type-token-ratio ×1000 <400/<550, exact
    // subtract-mod floor-div); κ's integer algebra runs on the
    // observed 3×3 cell grid. The audit a pipeline runs before
    // swapping one labeling heuristic for another.
    "q226_kappa" -> ((s, dir) => {
      val tk = Text.tokens(col("text"))
      val d = size(array_distinct(tk)).cast("long") * 1000L
      val tot = size(tk).cast("long")
      val rfp = when(tot === 0L, 0L)
        .otherwise(((d - pmod(d, tot)) / tot).cast("long"))
      val rated = t(s, dir, "documents").select(
        when(col("n_chars") < 250, 0L).when(col("n_chars") < 400, 1L)
          .otherwise(2L).as("len_tier"),
        when(rfp < 400L, 0L).when(rfp < 550L, 1L).otherwise(2L)
          .as("ttr_tier"))
      Profile.cohenKappa(rated, col("len_tier"), col("ttr_tier"))
    }),
    // Graph: LABEL-PROPAGATION communities over the doc-link graph —
    // two synchronous neighbor-majority sweeps (deterministic LPA:
    // id-seeded labels, min-label tiebreak), reported as the top-20
    // communities by size. Per round one edge equi-join + one (node,
    // label) count — PageRank economics, no transitive closure.
    "q174_label_prop" -> ((s, dir) =>
      Graph.labelPropagation(docLinkEdges(s, dir), 2)
        .groupBy(col("community")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("community")).limit(20)),
    // Similarity/eval: ADJUSTED RAND INDEX between two differently
    // seeded k-means runs — the clustering STABILITY read (purity
    // judges against labels; ARI judges the clustering against
    // itself under seed perturbation: chance-corrected pair
    // agreement). All pair counts collapse to the contingency-cell
    // grid — Σn_ij(n_ij−1) algebra, never the n² point pairs; exact
    // DECIMAL integers into one snapped division. den = 0 (both
    // runs a single cluster) is null.
    "q232_ari" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      def assignFrom(lo: Long, hi: Long) =
        Similarity.ivfAssignL2Scored(e,
            Similarity.kmeansTrainL2(e,
              e.filter(col("id") >= lo && col("id") < hi)
                .select(col("id").as("cid"), col("vec").as("cvec")), 2))
          .select(col("id"), col("cell"))
      val cells = assignFrom(0, 16)
        .join(assignFrom(100, 116).withColumnRenamed("cell", "cellb"),
          "id")
        .groupBy(col("cell"), col("cellb")).agg(count(lit(1)).as("nij"))
      val av = cells.groupBy(col("cell")).agg(sum(col("nij")).as("ai"))
        .agg(sum(dec(col("ai")) * (col("ai") - 1)).as("a2"),
          count(lit(1)).as("ka"))
      val bv = cells.groupBy(col("cellb")).agg(sum(col("nij")).as("bi"))
        .agg(sum(dec(col("bi")) * (col("bi") - 1)).as("b2"),
          count(lit(1)).as("kb"))
      val cv = cells.agg(sum(dec(col("nij")) * (col("nij") - 1)).as("c2"),
        sum(col("nij")).as("n"))
      val t2 = dec(col("n")) * (col("n") - 1)
      val den = t2 * (col("a2") + col("b2")) -
        lit(2) * col("a2") * col("b2")
      cv.crossJoin(broadcast(av)).crossJoin(broadcast(bv))
        .select(col("n"), col("ka"), col("kb"),
          when(den === 0, lit(null)).otherwise(
            round(((lit(2) * t2 * col("c2") -
              lit(2) * col("a2") * col("b2")).cast("double") /
              den.cast("double")).cast("decimal(20,10)"), 6)
              .cast("double")).as("ari"))
    }),
    // Similarity/eval: CLUSTER PURITY + label-entropy scorecard — the
    // external-validity companion to q215's silhouette (geometry):
    // the trained IVF cells judged against the ground-truth labels.
    // Per cell its majority label, purity share, and the label
    // entropy (×1e9 ln snaps pre-sum); one broadcast-centroid
    // assignment pass, one cell×label hash aggregate (never corpus²).
    "q228_cluster_purity" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val assign = Similarity.ivfAssignL2Scored(e,
        Similarity.kmeansTrainL2(e, c0, 2)).select(col("id"), col("cell"))
      val cl = assign.join(t(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("label")), "id")
        .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("o"))
      val nc = cl.groupBy(col("cell")).agg(sum(col("o")).as("n"))
      val top = cl.withColumn("rn", row_number().over(
          Window.partitionBy(col("cell"))
            .orderBy(col("o").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("cell"), col("label").as("top_label"),
          col("o").as("n_top"))
      val ent = cl.join(nc, "cell")
        .select(col("cell"),
          round(col("o").cast("double") / col("n").cast("double") *
            log(col("o").cast("double") / col("n").cast("double")) *
            lit(1e9)).cast("long").as("tfp"))
        .groupBy(col("cell")).agg((-sum(col("tfp"))).as("efp"))
      nc.join(top, "cell").join(ent, "cell")
        .select(col("cell").as("cid"), col("n"), col("top_label"),
          col("n_top"),
          round((col("n_top").cast("double") / col("n").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("purity"),
          round((col("efp").cast("double") / lit(1e9))
            .cast("decimal(20,10)"), 6).cast("double").as("entropy"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    // Same distinct-score counts, same exclusive running negative
    // count (the single ordered window IS the two-level sum's value),
    // same exact-integer rank-sum numerator and final division.
    "q170_auc" ->
      """WITH r AS (SELECT (event_type = 'purchase') AS y,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |bv AS (SELECT v,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
        |  FROM r GROUP BY 1),
        |c AS (SELECT p, q,
        |    COALESCE(CAST(sum(q) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS nb
        |  FROM bv)
        |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(q) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(p) = 0 OR sum(q) = 0 THEN NULL ELSE
        |    CAST(round(CAST(CAST(sum(CAST(p AS HUGEINT)
        |        * (2 * nb + q)) AS DOUBLE)
        |      / (CAST(2.0 AS DOUBLE) * CAST(sum(p) AS DOUBLE)
        |        * CAST(sum(q) AS DOUBLE))
        |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS auc
        |FROM c""".stripMargin,
    // Same distinct-value counts, same exclusive running count, same
    // ⌊below·bins/N⌋ integer bin, one rate division per bin.
    "q178_calibration" ->
      """WITH r AS (SELECT (event_type = 'purchase') AS y,
        |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |bv AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM r GROUP BY 1),
        |cb AS (SELECT v, c, pos,
        |    COALESCE(CAST(sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS below
        |  FROM bv),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r)
        |SELECT CAST((below * 10) // n AS INTEGER) AS bin,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(round(CAST(CAST(sum(pos) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
        |    AS rate,
        |  min(v) AS lo_c, max(v) AS hi_c
        |FROM cb CROSS JOIN nn GROUP BY 1 ORDER BY bin""".stripMargin,
    // Observed cells only (o·ln(0) = 0 convention — the opposite of
    // chi2's empty-cell grid), same ×1e9 per-cell snap, MI and the
    // ln(min(|A|,|B|))-normalized coefficient off one exact term sum.
    "q212_mutual_information" ->
      """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rt
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS na,
        |    CAST(count(DISTINCT source) AS BIGINT) AS nb FROM cells),
        |terms AS (SELECT nn, na, nb,
        |    CAST(round(1e9 * CAST(o AS DOUBLE)
        |      * ln(CAST(CAST(nn AS HUGEINT) * o AS DOUBLE)
        |        / CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE)))
        |      AS BIGINT) AS term_fp
        |  FROM cells JOIN rt USING (lang) JOIN ct USING (source)
        |  CROSS JOIN tot)
        |SELECT nn AS n, na AS n_a, nb AS n_b,
        |  CAST(round(CAST(CAST(sum(term_fp) AS DOUBLE) / nn / 1e9
        |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS mi,
        |  CASE WHEN least(na, nb) <= 1 THEN NULL ELSE
        |    CAST(round(CAST(CAST(sum(term_fp) AS DOUBLE) / nn / 1e9
        |      / ln(CAST(least(na, nb) AS DOUBLE))
        |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS nmi
        |FROM terms GROUP BY 1, 2, 3""".stripMargin,
    // Same 3:1 md5 split, same add-one ×1e6 integer log-weights,
    // same seen/unseen score decomposition and (score desc, c) argmax.
    "q255_naive_bayes" ->
      s"""WITH $naiveBayesCtes
         |SELECT y AS lang, pred, CAST(count(*) AS BIGINT) AS n
         |FROM pr GROUP BY 1, 2""".stripMargin,
    // Same hash split, same ×1e6 rate snap, same per-group HUGEINT
    // cross-multiples and ×1e9 term snaps before the tiny sum.
    "q260_brier_decomposition" ->
      s"""WITH ev AS (SELECT hour(ts) AS h,
         |    CAST(event_type = 'purchase' AS BIGINT) AS y,
         |    ${h60("CAST(event_id AS VARCHAR)")} % 2 AS b
         |  FROM events),
         |trn AS (SELECT h, CAST(round(CAST(CAST(sum(y) AS DOUBLE)
         |    / count(*) * CAST(1e6 AS DOUBLE) AS DECIMAL(20,10)))
         |    AS BIGINT) AS p
         |  FROM ev WHERE b = 0 GROUP BY 1),
         |ho AS (SELECT trn.p, ev.y FROM ev JOIN trn USING (h)
         |  WHERE ev.b <> 0),
         |g AS (SELECT p, CAST(count(*) AS BIGINT) AS nk,
         |    CAST(sum(y) AS BIGINT) AS sk FROM ho GROUP BY 1),
         |tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n,
         |    CAST(sum(sk) AS BIGINT) AS s1 FROM g),
         |p0 AS (SELECT n, s1, nk,
         |    CAST(nk AS HUGEINT) * p * p
         |      - 2 * CAST(p AS HUGEINT) * 1000000 * sk
         |      + CAST(1000000 AS HUGEINT) * 1000000 * sk AS bs,
         |    CAST(p AS HUGEINT) * nk
         |      - CAST(1000000 AS HUGEINT) * sk AS dl,
         |    CAST(sk AS HUGEINT) * n
         |      - CAST(s1 AS HUGEINT) * nk AS dr
         |  FROM g CROSS JOIN tot),
         |per AS (SELECT n, s1,
         |    CAST(round(CAST(bs AS DOUBLE) / n / 1e12 * 1e9)
         |      AS BIGINT) AS tb,
         |    CAST(round(CAST(dl * dl AS DOUBLE)
         |      / CAST(CAST(nk AS HUGEINT) * n AS DOUBLE)
         |      / 1e12 * 1e9) AS BIGINT) AS tl,
         |    CAST(round(CAST(dr * dr AS DOUBLE)
         |      / CAST(CAST(nk AS HUGEINT) * n * n * n AS DOUBLE)
         |      * 1e9) AS BIGINT) AS tr2
         |  FROM p0)
         |SELECT n,
         |  CAST(round(CAST(CAST(sum(tb) AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS brier,
         |  CAST(round(CAST(CAST(sum(tl) AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS reliability,
         |  CAST(round(CAST(CAST(sum(tr2) AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS resolution,
         |  CAST(round(CAST(CAST(CAST(s1 AS HUGEINT) * (n - s1)
         |      AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS uncertainty
         |FROM per GROUP BY n, s1""".stripMargin,
    // Same per-unit disagreeing-pair counts and exact integer alpha.
    "q310_krippendorff" ->
      """WITH codes AS (
        |  SELECT doc_id AS unit, lang AS code FROM documents
        |  UNION ALL SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END
        |  FROM documents
        |  UNION ALL SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN 'xx' ELSE lang END
        |  FROM documents),
        |nuc AS (SELECT unit, code, CAST(count(*) AS BIGINT) AS m
        |  FROM codes GROUP BY 1, 2),
        |du AS (SELECT CAST(sum(d2) AS BIGINT) AS d2,
        |    CAST(count(*) AS BIGINT) AS nu FROM
        |  (SELECT unit, 6 - sum(m * (m - 1)) AS d2
        |   FROM nuc GROUP BY 1)),
        |marg AS (SELECT CAST(sum(nc) AS BIGINT) AS ntot,
        |    CAST(sum(nc * nc) AS BIGINT) AS nc2 FROM
        |  (SELECT code, sum(m) AS nc FROM nuc GROUP BY 1))
        |SELECT nu AS n_units, ntot AS n_codings,
        |  CAST(round(CAST(1.0 - CAST((ntot - 1) * d2 AS DOUBLE)
        |    / (2 * (ntot * ntot - nc2)) AS DECIMAL(20,10)), 6)
        |    AS DOUBLE) AS alpha
        |FROM du CROSS JOIN marg""".stripMargin,
    // Same md5 scores, same cross-multiplied per-class mean
    // thresholds, same argmax-with-smallest-class tie; the planted
    // %17 flips surface as off-diagonal confident-joint mass.
    "q413_confident_labels" ->
      """WITH b AS (SELECT doc_id,
        |    CAST('0x'||substr(md5('lbl'||CAST(doc_id AS VARCHAR)),1,15)
        |      AS BIGINT) % 3 AS tl FROM documents),
        |yb AS (SELECT doc_id, tl, CAST(CASE WHEN doc_id % 17 = 0
        |    THEN (tl+1)%3 ELSE tl END AS INT) AS y FROM b),
        |e AS (SELECT yb.doc_id, yb.y, j.j,
        |    (CASE WHEN j.j = yb.tl THEN 700000 ELSE 150000 END)
        |      + CAST('0x'||substr(md5(CAST(yb.doc_id AS VARCHAR)||':'
        |        ||CAST(j.j AS VARCHAR)),1,15) AS BIGINT) % 400001
        |      - 200000 AS p
        |  FROM yb CROSS JOIN (SELECT unnest([0,1,2]) AS j) j),
        |th AS (SELECT j, sum(p) AS sp, count(*) AS nj FROM e
        |  WHERE j = y GROUP BY 1),
        |pick AS (SELECT doc_id, y, j AS pred FROM (
        |    SELECT e.doc_id, e.y, e.j, row_number() OVER (
        |      PARTITION BY e.doc_id ORDER BY e.p DESC, e.j) AS rn
        |    FROM e JOIN th USING (j)
        |    WHERE CAST(e.p AS HUGEINT) * th.nj >= th.sp)
        |  WHERE rn = 1),
        |joint AS (SELECT y AS given, pred AS predicted,
        |    CAST(count(*) AS BIGINT) AS n FROM pick GROUP BY 1, 2),
        |tot AS (SELECT
        |    (SELECT count(*) FROM documents) AS n_rows,
        |    CAST(coalesce(sum(CASE WHEN given <> predicted THEN n
        |      END), 0) AS BIGINT) AS n_flagged,
        |    CAST(coalesce(sum(n), 0) AS BIGINT) AS n_confident
        |  FROM joint)
        |SELECT CAST(given AS INT) AS given,
        |  CAST(predicted AS INT) AS predicted, n, tot.n_flagged,
        |  CAST(tot.n_rows - tot.n_confident AS BIGINT)
        |    AS n_unconfident,
        |  CAST(tot.n_rows AS BIGINT) AS n_rows
        |FROM joint, tot""".stripMargin,
    // The q379 forward pass supplies residuals r = pmu − ymu; the
    // influence is the exact three-factor product truncated ×1e12
    // back to micro, top-5 per probe with (desc, id) ties.
    "q414_tracin_influence" ->
      s"""WITH $logisticGdCtes,
         |m4 AS (SELECT x.id, sum(CAST(x.xi AS HUGEINT) * w3.w) AS m12
         |  FROM x JOIN w3 USING (dim) GROUP BY 1),
         |p4 AS (SELECT id, CAST(round(1e6 / (1 + exp(
         |    -(CAST(m12 AS DOUBLE) / 1e12)))) AS BIGINT) AS pmu
         |  FROM m4),
         |r AS (SELECT p4.id, p4.pmu - y.ymu AS r
         |  FROM p4 JOIN y USING (id)),
         |pr AS (SELECT vec_id AS id FROM embeddings
         |  WHERE vec_id % 89 = 0),
         |dots AS (SELECT tx.id AS train_id, px.id AS probe_id,
         |    sum(CAST(tx.xi AS HUGEINT) * px.xi) AS dot12
         |  FROM x tx JOIN x px ON tx.dim = px.dim
         |  WHERE px.id IN (SELECT id FROM pr)
         |    AND tx.id NOT IN (SELECT id FROM pr)
         |  GROUP BY 1, 2),
         |infl AS (SELECT d.probe_id, d.train_id,
         |    CAST((CAST(rt.r AS HUGEINT) * rp.r * d.dot12)
         |      // 1000000000000 AS BIGINT) AS infl_micro
         |  FROM dots d
         |  JOIN r rt ON rt.id = d.train_id
         |  JOIN r rp ON rp.id = d.probe_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY infl_micro DESC, train_id) AS rnk FROM infl)
         |SELECT probe_id, train_id, CAST(rnk AS INT) AS "rank",
         |  infl_micro
         |FROM rk WHERE rnk <= 5""".stripMargin,
    // Duel matrix from the same md5 coins, then three MM rounds
    // unrolled — every term an exact HUGEINT floor division.
    "q415_bradley_terry" -> btOracleSql,

    // Same md5 rewards, rank + count windows per prompt, the CASE
    // ladder of closed-form combination products (consecutive-integer
    // products divide exactly), one HUGEINT floor per (prompt, n).
    "q483_best_of_n" ->
      s"""WITH s AS (SELECT 'p' || CAST(user_id % 40 AS VARCHAR)
         |      AS prompt,
         |    ${h60("'bon' || CAST(event_id AS VARCHAR)")} % 1000000
         |      AS sc, event_id AS o FROM events),
         |r AS (SELECT prompt, sc,
         |    CAST(row_number() OVER (PARTITION BY prompt
         |      ORDER BY sc, o) AS HUGEINT) AS rk,
         |    count(*) OVER (PARTITION BY prompt) AS nn FROM s),
         |e AS (SELECT prompt, sc, rk, nn, unnest([1, 2, 3, 4]) AS n
         |  FROM r)
         |SELECT prompt, CAST(n AS INT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_samples,
         |  CASE WHEN n > max(nn) THEN NULL ELSE CAST(
         |    sum(CASE WHEN rk >= n THEN CAST(sc AS HUGEINT) *
         |      (CASE n WHEN 1 THEN 1 WHEN 2 THEN rk - 1
         |        WHEN 3 THEN ((rk - 1) * (rk - 2)) // 2
         |        ELSE ((rk - 1) * (rk - 2) * (rk - 3)) // 6 END)
         |      ELSE 0 END)
         |    // (CASE n WHEN 1 THEN CAST(max(nn) AS HUGEINT)
         |      WHEN 2 THEN (CAST(max(nn) AS HUGEINT) * (max(nn) - 1))
         |        // 2
         |      WHEN 3 THEN (CAST(max(nn) AS HUGEINT) * (max(nn) - 1)
         |        * (max(nn) - 2)) // 6
         |      ELSE (CAST(max(nn) AS HUGEINT) * (max(nn) - 1)
         |        * (max(nn) - 2) * (max(nn) - 3)) // 24 END)
         |    AS BIGINT) END AS emax_micro
         |FROM e GROUP BY prompt, n""".stripMargin,

    // Same md5 scores, two rank windows per prompt, conditional
    // max picks the rank-1 rows; margin + pair-exists filters last.
    "q486_dpo_pairs" ->
      s"""WITH s AS (SELECT 'p' || CAST(user_id % 200 AS VARCHAR)
         |      AS prompt,
         |    ${h60("'dpo' || CAST(event_id AS VARCHAR)")} % 1000000
         |      AS sc, event_id AS o
         |  FROM events WHERE event_id % 25 = 0),
         |r AS (SELECT prompt, sc, o,
         |    row_number() OVER (PARTITION BY prompt
         |      ORDER BY sc DESC, o) AS rc,
         |    row_number() OVER (PARTITION BY prompt
         |      ORDER BY sc ASC, o) AS rr FROM s),
         |g AS (SELECT prompt, CAST(count(*) AS BIGINT) AS n_samples,
         |    CAST(max(CASE WHEN rc = 1 THEN o END) AS BIGINT)
         |      AS chosen_ord,
         |    CAST(max(CASE WHEN rc = 1 THEN sc END) AS BIGINT)
         |      AS chosen_micro,
         |    CAST(max(CASE WHEN rr = 1 THEN o END) AS BIGINT)
         |      AS rejected_ord,
         |    CAST(max(CASE WHEN rr = 1 THEN sc END) AS BIGINT)
         |      AS rejected_micro
         |  FROM r GROUP BY prompt)
         |SELECT prompt, n_samples, chosen_ord, chosen_micro,
         |  rejected_ord, rejected_micro,
         |  chosen_micro - rejected_micro AS margin_micro
         |FROM g WHERE n_samples >= 2
         |  AND chosen_micro - rejected_micro >= 200000""".stripMargin,

    // Same md5 rewards/log-probs; HUGEINT window sums per prompt,
    // truncating // divisions (signed dividends — DuckDB // and the
    // engine's tdiv both truncate toward zero).
    "q487_grpo_advantage" ->
      s"""WITH s AS (SELECT 'p' || CAST(user_id % 40 AS VARCHAR)
         |      AS prompt, event_id AS o,
         |    CAST(${h60("'gr' || CAST(event_id AS VARCHAR)")} % 1000000
         |      AS BIGINT) AS r,
         |    CAST(${h60("'lp' || CAST(event_id AS VARCHAR)")} % 1000000
         |        AS BIGINT)
         |      - CAST(${h60("'lr' || CAST(event_id AS VARCHAR)")}
         |        % 1000000 AS BIGINT) AS d FROM events),
         |g AS (SELECT prompt, o, r, d,
         |    CAST(count(*) OVER (PARTITION BY prompt) AS HUGEINT)
         |      AS n,
         |    sum(CAST(r AS HUGEINT)) OVER (PARTITION BY prompt)
         |      AS sr,
         |    sum(CAST(r AS HUGEINT) * r) OVER (PARTITION BY prompt)
         |      AS sr2,
         |    sum(CAST(d AS HUGEINT)) OVER (PARTITION BY prompt)
         |      AS sd,
         |    sum(CAST(d AS HUGEINT) * d) OVER (PARTITION BY prompt)
         |      AS sd2 FROM s)
         |SELECT prompt, o AS ord, r AS reward_micro,
         |  CAST((n * r - sr) // n AS BIGINT) AS adv_micro,
         |  CAST(n AS BIGINT) AS n_samples,
         |  CAST((n * sr2 - sr * sr) // (n * n) AS BIGINT)
         |    AS var_micro2,
         |  CAST(sd // n AS BIGINT) AS kl_k1_micro,
         |  CAST(sd2 // (2 * n * 1000000) AS BIGINT) AS kl_k2_micro
         |FROM g""".stripMargin,

    // Same md5 classifier; per-group and overall count panels, one
    // HUGEINT floor per rate, gap differences.
    "q505_fairness" ->
      s"""WITH s AS (SELECT lang AS g,
         |    (doc_id % 3 = 0) AS y,
         |    ${h60("'fa' || CAST(doc_id AS VARCHAR)")} % 100 <
         |      30 + CASE WHEN doc_id % 3 = 0 THEN 40 ELSE 0 END
         |      AS p FROM documents),
         |c AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)
         |      AS np,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ny,
         |    CAST(sum(CASE WHEN y AND p THEN 1 ELSE 0 END)
         |      AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN NOT y AND p THEN 1 ELSE 0 END)
         |      AS BIGINT) AS fp
         |  FROM s GROUP BY 1),
         |r AS (SELECT g, n,
         |    (CAST(np AS HUGEINT) * 1000000) // n AS sel,
         |    CASE WHEN ny = 0 THEN NULL ELSE
         |      (CAST(tp AS HUGEINT) * 1000000) // ny END AS tpr,
         |    CASE WHEN n - ny = 0 THEN NULL ELSE
         |      (CAST(fp AS HUGEINT) * 1000000) // (n - ny) END
         |      AS fpr,
         |    CASE WHEN np = 0 THEN NULL ELSE
         |      (CAST(tp AS HUGEINT) * 1000000) // np END AS ppv
         |  FROM c),
         |o AS (SELECT
         |    (CAST(sum(np) AS HUGEINT) * 1000000) // sum(n)
         |      AS sel_all,
         |    (CAST(sum(tp) AS HUGEINT) * 1000000) // sum(ny)
         |      AS tpr_all,
         |    (CAST(sum(fp) AS HUGEINT) * 1000000)
         |      // (sum(n) - sum(ny)) AS fpr_all FROM c)
         |SELECT g AS grp, n,
         |  CAST(sel AS BIGINT) AS sel_micro,
         |  CAST(tpr AS BIGINT) AS tpr_micro,
         |  CAST(fpr AS BIGINT) AS fpr_micro,
         |  CAST(ppv AS BIGINT) AS ppv_micro,
         |  CAST(sel - sel_all AS BIGINT) AS sel_gap_micro,
         |  CAST(tpr - tpr_all AS BIGINT) AS tpr_gap_micro,
         |  CAST(fpr - fpr_all AS BIGINT) AS fpr_gap_micro
         |FROM r CROSS JOIN o""".stripMargin,

    // Same construction clusters; cell counts, cluster sizes, the
    // Σ npg²/n_p (resp. /n_g) HUGEINT floors, harmonic-mean F1.
    "q490_bcubed" ->
      s"""WITH s AS (SELECT doc_id,
         |    (doc_id + CASE WHEN
         |        ${h60("'bc' || CAST(doc_id AS VARCHAR)")} % 10 < 2
         |      THEN 3 ELSE 0 END) // 5 AS p,
         |    doc_id // 5 AS g FROM documents),
         |c AS (SELECT p, g, CAST(count(*) AS BIGINT) AS npg
         |  FROM s GROUP BY 1, 2),
         |ps AS (SELECT p, sum(npg) AS np FROM c GROUP BY 1),
         |gs AS (SELECT g, sum(npg) AS ng FROM c GROUP BY 1),
         |t AS (SELECT CAST(sum(npg) AS BIGINT) AS n_items,
         |    sum((CAST(npg AS HUGEINT) * npg * 1000000) // np)
         |      AS psum,
         |    sum((CAST(npg AS HUGEINT) * npg * 1000000) // ng)
         |      AS rsum
         |  FROM c JOIN ps USING (p) JOIN gs USING (g)),
         |k AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM ps)
         |      AS n_pred_clusters,
         |    (SELECT CAST(count(*) AS BIGINT) FROM gs)
         |      AS n_gold_clusters)
         |SELECT n_items, n_pred_clusters, n_gold_clusters,
         |  CAST(psum // n_items AS BIGINT) AS precision_micro,
         |  CAST(rsum // n_items AS BIGINT) AS recall_micro,
         |  CAST(CASE WHEN psum // n_items + rsum // n_items = 0
         |    THEN NULL
         |    ELSE (2 * (psum // n_items) * (rsum // n_items))
         |      // ((psum // n_items) + (rsum // n_items)) END
         |    AS BIGINT) AS f1_micro
         |FROM t CROSS JOIN k""".stripMargin,

    // Same md5 scores/labels; cumulative windows per language, the
    // B² segment join with HUGEINT nano floors, min-then-max over
    // the covering segments — the PAV minimax verbatim.
    "q489_isotonic" ->
      s"""WITH s AS (SELECT lang AS grp,
         |    ${h60("'iso' || CAST(doc_id AS VARCHAR)")} % 1000000
         |      AS sc,
         |    CASE WHEN ${h60("'lb' || CAST(doc_id AS VARCHAR)")}
         |        % 1000000 <
         |      ${h60("'iso' || CAST(doc_id AS VARCHAR)")} % 1000000
         |      THEN 1 ELSE 0 END AS y FROM documents),
         |c AS (SELECT grp,
         |    CAST(least(7, (sc * 8) // 1000000) AS BIGINT) AS bin,
         |    CAST(sum(y) AS BIGINT) AS n_pos,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM s GROUP BY 1, 2),
         |cum AS (SELECT grp, bin, n_pos, n,
         |    sum(n_pos) OVER (PARTITION BY grp ORDER BY bin) AS cp,
         |    sum(n) OVER (PARTITION BY grp ORDER BY bin) AS ct
         |  FROM c),
         |seg AS (SELECT a.grp, a.bin AS jbin, b.bin AS kbin,
         |    CAST((CAST(b.cp - (a.cp - a.n_pos) AS HUGEINT)
         |        * 1000000000)
         |      // (b.ct - (a.ct - a.n)) AS BIGINT) AS rate
         |  FROM cum a JOIN cum b ON a.grp = b.grp
         |    AND a.bin <= b.bin),
         |mn AS (SELECT c.grp, c.bin, c.n, c.n_pos, seg.jbin,
         |    min(seg.rate) AS minr
         |  FROM c JOIN seg ON seg.grp = c.grp
         |    AND seg.jbin <= c.bin AND c.bin <= seg.kbin
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT grp, bin, n, n_pos,
         |  CAST((CAST(n_pos AS HUGEINT) * 1000000000) // n
         |    AS BIGINT) AS raw_nano,
         |  CAST(max(minr) AS BIGINT) AS iso_nano
         |FROM mn GROUP BY grp, bin, n, n_pos""".stripMargin,

    // Same md5 scores, rank + count windows on the even half, the
    // exact ceil index, coverage counted on the odd half (shared
    // with the q496 streaming-histogram gate — SparkEntry val).
    "q484_conformal_coverage" -> conformalOracleSql,
    // The same duels with md5 parity deciding presentation order;
    // exact per-slot counts, floored micro rates, truncated bias.
    "q421_position_bias" ->
      """WITH base AS (SELECT CAST(user_id % 6 AS INT) AS ia,
        |    CAST((user_id // 6) % 6 AS INT) AS ib, event_id
        |  FROM events WHERE user_id % 6 <> (user_id // 6) % 6),
        |duel AS (SELECT event_id,
        |    CASE WHEN CAST('0x'||substr(md5('duel'
        |        ||CAST(event_id AS VARCHAR)),1,15) AS BIGINT) % 100
        |      < 50 + (ib - ia) * 8 THEN ia ELSE ib END AS wn,
        |    CASE WHEN CAST('0x'||substr(md5('duel'
        |        ||CAST(event_id AS VARCHAR)),1,15) AS BIGINT) % 100
        |      < 50 + (ib - ia) * 8 THEN ib ELSE ia END AS lo
        |  FROM base),
        |d2 AS (SELECT
        |    'm'||CAST(CASE WHEN event_id % 2 = 0 THEN wn ELSE lo END
        |      AS VARCHAR) AS f,
        |    'm'||CAST(CASE WHEN event_id % 2 = 0 THEN lo ELSE wn END
        |      AS VARCHAR) AS s,
        |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS fw
        |  FROM duel),
        |af AS (SELECT f AS item, CAST(count(*) AS BIGINT) AS n_first,
        |    CAST(sum(fw) AS BIGINT) AS w_first FROM d2 GROUP BY 1),
        |asd AS (SELECT s AS item,
        |    CAST(count(*) AS BIGINT) AS n_second,
        |    CAST(sum(1 - fw) AS BIGINT) AS w_second
        |  FROM d2 GROUP BY 1),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS n_duels,
        |    CAST((sum(fw) * 1000000) // count(*) AS BIGINT)
        |      AS first_rate_micro FROM d2)
        |SELECT coalesce(af.item, asd.item) AS item,
        |  coalesce(af.n_first, 0) AS n_first,
        |  coalesce(af.w_first, 0) AS w_first,
        |  coalesce(asd.n_second, 0) AS n_second,
        |  coalesce(asd.w_second, 0) AS w_second,
        |  (CASE WHEN coalesce(af.n_first, 0) = 0 THEN 0
        |    ELSE (af.w_first * 1000000) // af.n_first END)
        |  - (CASE WHEN coalesce(asd.n_second, 0) = 0 THEN 0
        |    ELSE (asd.w_second * 1000000) // asd.n_second END)
        |    AS bias_micro,
        |  o.n_duels, o.first_rate_micro
        |FROM af FULL OUTER JOIN asd ON af.item = asd.item
        |CROSS JOIN o""".stripMargin,
    // Same md5 votes, same collapsed binary coincidence algebra:
    // α = 1 − (N−1)·Σo(R−o) / ((R−1)·n₁·n₀), one truncated division.
    "q423_krippendorff" ->
      s"""WITH v AS (SELECT doc_id, r.r,
         |    ((${h60("'kr'||CAST(doc_id AS VARCHAR)")} % 2 = 1)
         |     <> (${h60("CAST(doc_id AS VARCHAR)||'#'||CAST(r.r AS VARCHAR)")}
         |       % 10 < 2)) AS v
         |  FROM documents
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r),
         |pu AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT) AS o
         |  FROM v GROUP BY 1),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
         |    CAST(sum(o) AS BIGINT) AS n_pos,
         |    CAST(sum(o * (4 - o)) AS BIGINT) AS disagreement
         |  FROM pu)
         |SELECT n_units, n_units * 4 AS n_ratings, n_pos,
         |  disagreement,
         |  CASE WHEN n_pos = 0 OR n_pos = n_units * 4 THEN NULL
         |    ELSE 1000000 - CAST((n_units * 4 - 1) * disagreement
         |      * 1000000 // (3 * n_pos * (n_units * 4 - n_pos))
         |      AS BIGINT) END AS alpha_micro
         |FROM ag""".stripMargin,
    // Same md5 votes; majority by cross-multiply, worker log-odds
    // snapped per term, sign vote with majority tiebreak.
    "q476_dawid_skene" ->
      s"""WITH v AS (SELECT doc_id AS item,
         |    'w' || CAST(w.w AS VARCHAR) AS wk,
         |    CASE WHEN (${h60("'ds'||CAST(doc_id AS VARCHAR)")} % 2
         |        = 1) <> (${h60("CAST(doc_id AS VARCHAR)||'@'||CAST(w.w AS VARCHAR)")}
         |        % 100 < 10 + CASE WHEN w.w >= 3 THEN 35 ELSE 0 END)
         |      THEN 1 ELSE 0 END AS v
         |  FROM documents
         |  CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS w) w),
         |mj AS (SELECT item, CAST(count(*) AS BIGINT) AS n_votes,
         |    CAST(CASE WHEN sum(v) * 2 > count(*) THEN 1 ELSE 0 END
         |      AS BIGINT) AS majority
         |  FROM v GROUP BY 1),
         |ws AS (SELECT wk, CAST(round(ln(CAST(a + 1 AS DOUBLE)
         |      / CAST(t - a + 1 AS DOUBLE)) * 1e6) AS BIGINT) AS wt
         |  FROM (SELECT v.wk, count(*) AS t,
         |      sum(CASE WHEN v.v = mj.majority THEN 1 ELSE 0 END)
         |        AS a
         |    FROM v JOIN mj USING (item) GROUP BY 1)),
         |sc AS (SELECT v.item,
         |    CAST(sum(ws.wt * (v.v * 2 - 1)) AS BIGINT) AS s
         |  FROM v JOIN ws USING (wk) GROUP BY 1)
         |SELECT mj.item, mj.n_votes, mj.majority,
         |  CAST(CASE WHEN sc.s > 0 THEN 1 WHEN sc.s < 0 THEN 0
         |    ELSE mj.majority END AS BIGINT) AS ds_label,
         |  (CASE WHEN sc.s > 0 THEN 1 WHEN sc.s < 0 THEN 0
         |    ELSE mj.majority END) <> mj.majority AS flipped
         |FROM mj JOIN sc USING (item)""".stripMargin,
    // The duel matrix canonicalized to unordered pairs; a triple is
    // a cycle iff its three majority edges rotate.
    "q471_intransitivity" ->
      """WITH base AS (SELECT CAST(user_id % 6 AS INT) AS ia,
        |    CAST((user_id // 6) % 6 AS INT) AS ib, event_id
        |  FROM events WHERE user_id % 6 <> (user_id // 6) % 6),
        |duel AS (SELECT
        |    CASE WHEN CAST('0x'||substr(md5('duel'
        |        ||CAST(event_id AS VARCHAR)),1,15) AS BIGINT) % 100
        |      < 50 + (ib - ia) * 8 THEN ia ELSE ib END AS wn,
        |    CASE WHEN CAST('0x'||substr(md5('duel'
        |        ||CAST(event_id AS VARCHAR)),1,15) AS BIGINT) % 100
        |      < 50 + (ib - ia) * 8 THEN ib ELSE ia END AS lo
        |  FROM base),
        |d AS (SELECT 'm'||CAST(wn AS VARCHAR) AS i,
        |    'm'||CAST(lo AS VARCHAR) AS j,
        |    CAST(count(*) AS BIGINT) AS w FROM duel GROUP BY 1, 2),
        |cd AS (SELECT CASE WHEN i < j THEN i ELSE j END AS a,
        |    CASE WHEN i < j THEN j ELSE i END AS b,
        |    CAST(sum(CASE WHEN i < j THEN w ELSE 0 END) AS BIGINT)
        |      AS wab,
        |    CAST(sum(CASE WHEN i > j THEN w ELSE 0 END) AS BIGINT)
        |      AS wba
        |  FROM d GROUP BY 1, 2),
        |st AS (SELECT CAST(count(DISTINCT x) AS BIGINT) AS n_items
        |  FROM (SELECT i AS x FROM d UNION SELECT j FROM d)),
        |tr AS (SELECT c1.wab > c1.wba AS e1, c2.wab > c2.wba AS e2,
        |    c3.wab > c3.wba AS e3
        |  FROM cd c1 JOIN cd c2 ON c2.a = c1.b
        |  JOIN cd c3 ON c3.a = c1.a AND c3.b = c2.b
        |  WHERE c1.wab <> c1.wba AND c2.wab <> c2.wba
        |    AND c3.wab <> c3.wba),
        |trs AS (SELECT CAST(count(*) AS BIGINT) AS n_tri,
        |    CAST(count(*) FILTER ((e1 AND e2 AND NOT e3)
        |      OR (NOT e1 AND NOT e2 AND e3)) AS BIGINT) AS n_cyc
        |  FROM tr)
        |SELECT st.n_items,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cd)
        |    AS n_pairs_dueled,
        |  (SELECT CAST(count(*) FILTER (wab = wba) AS BIGINT)
        |    FROM cd) AS n_ties,
        |  trs.n_tri AS n_triangles, trs.n_cyc AS n_cycles,
        |  CAST((trs.n_cyc * 1000000) // greatest(trs.n_tri, 1)
        |    AS BIGINT) AS cycle_rate_micro
        |FROM st, trs""".stripMargin,
    // Same counts, same double chain, same ×1e6 snap.
    "q469_mcc" ->
      s"""WITH c AS (SELECT
         |    CAST(count(*) FILTER (p AND l) AS BIGINT) AS tp,
         |    CAST(count(*) FILTER (p AND NOT l) AS BIGINT) AS fp,
         |    CAST(count(*) FILTER (NOT p AND l) AS BIGINT) AS fn,
         |    CAST(count(*) FILTER (NOT p AND NOT l) AS BIGINT) AS tn
         |  FROM (SELECT doc_id % 3 = 0 AS l,
         |      ${h60("'mc'||CAST(doc_id AS VARCHAR)")} % 100
         |        < 30 + CASE WHEN doc_id % 3 = 0 THEN 40 ELSE 0 END
         |        AS p
         |    FROM documents))
         |SELECT tp, fp, fn, tn,
         |  CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0
         |      OR tn + fn = 0 THEN NULL
         |    ELSE CAST(round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
         |      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
         |      / sqrt(CAST(tp + fp AS DOUBLE)
         |        * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE)
         |        * CAST(tn + fn AS DOUBLE)) * 1e6) AS BIGINT)
         |    END AS mcc_micro
         |FROM c""".stripMargin,
    // rank()−1 = rows strictly below = the kernel's cnt_below; the
    // same prefix rule, shares floored identically.
    "q467_interleave_audit" ->
      s"""WITH r AS (SELECT source AS src,
         |    ${h60("'il'||CAST(doc_id AS VARCHAR)")} AS ord
         |  FROM documents),
         |rk AS (SELECT src, rank() OVER (ORDER BY ord) - 1 AS below
         |  FROM r),
         |tt AS (SELECT src, CAST(count(*) AS BIGINT) AS tot FROM r
         |  GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
         |p AS (SELECT unnest([100, 1000]) AS prefix),
         |g AS (SELECT p.prefix, rk.src,
         |    CAST(count(*) AS BIGINT) AS n_in_prefix
         |  FROM p CROSS JOIN rk WHERE rk.below < p.prefix
         |  GROUP BY 1, 2)
         |SELECT CAST(g.prefix AS BIGINT) AS prefix, g.src,
         |  g.n_in_prefix,
         |  CAST((g.n_in_prefix * 1000000) // least(g.prefix, nn.n)
         |    AS BIGINT) AS share_micro,
         |  CAST((tt.tot * 1000000) // nn.n AS BIGINT)
         |    AS overall_share_micro
         |FROM g JOIN tt ON tt.src = g.src CROSS JOIN nn""".stripMargin,
    // The same tilted-coin duels; the audit is one exact aggregate.
    "q441_length_bias" ->
      s"""WITH n AS (SELECT count(*) AS c FROM documents),
         |p AS (SELECT a.doc_id AS ia, a.n_chars AS la,
         |    b.doc_id AS ib, b.n_chars AS lb
         |  FROM documents a, n
         |  JOIN documents b ON b.doc_id = (a.doc_id * 7 + 3) % n.c
         |  WHERE a.doc_id <> b.doc_id),
         |d AS (SELECT CASE WHEN aw THEN la ELSE lb END AS lw,
         |    CASE WHEN aw THEN lb ELSE la END AS ll FROM (
         |  SELECT *, ${h60("'lb'||CAST(ia AS VARCHAR)")} % 100
         |      < 50 + CASE WHEN la > lb THEN 20
         |        WHEN la < lb THEN -20 ELSE 0 END AS aw
         |  FROM p))
         |SELECT CAST(count(*) AS BIGINT) AS n_duels,
         |  CAST(count(*) FILTER (lw > ll) AS BIGINT) AS n_longer_won,
         |  CAST(count(*) FILTER (lw = ll) AS BIGINT) AS n_ties,
         |  CAST(sum(lw - ll) AS BIGINT) AS len_diff_sum,
         |  CASE WHEN count(*) = count(*) FILTER (lw = ll) THEN NULL
         |    ELSE CAST((count(*) FILTER (lw > ll) * 1000000)
         |      // (count(*) - count(*) FILTER (lw = ll)) AS BIGINT)
         |    END AS longer_wins_micro
         |FROM d""".stripMargin,
    // Same boosted scores, global (desc, id) ranks, per-positive
    // ×1e6 precision snap, one more floor for the mean.
    "q433_average_precision" ->
      s"""WITH r AS (SELECT doc_id AS id, doc_id % 5 = 0 AS rel,
         |    ${h60("'ap'||CAST(doc_id AS VARCHAR)")} % 1000000
         |      + CASE WHEN doc_id % 5 = 0 THEN 300000 ELSE 0 END AS v
         |  FROM documents),
         |rk AS (SELECT id, rel, v,
         |    row_number() OVER (ORDER BY v DESC, id) AS k,
         |    sum(CASE WHEN rel THEN 1 ELSE 0 END)
         |      OVER (ORDER BY v DESC, id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS posk
         |  FROM r),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) FILTER (rel) AS BIGINT) AS n_pos FROM r),
         |ap AS (SELECT CAST(coalesce(sum((posk * 1000000) // k), 0)
         |    AS BIGINT) AS sum_prec_micro FROM rk WHERE rel)
         |SELECT tot.n, tot.n_pos, ap.sum_prec_micro,
         |  CASE WHEN tot.n_pos = 0 THEN NULL
         |    ELSE CAST(ap.sum_prec_micro // tot.n_pos AS BIGINT)
         |    END AS ap_micro
         |FROM tot, ap""".stripMargin,
    // Three committee members replayed: the logistic forward pass,
    // the q295-style 5-NN majority on the binary label, the nearest
    // class-SUM centroid (counts cancel in cosine); one vote count.
    "q435_committee_disagreement" ->
      s"""WITH $logisticGdCtes,
         |pr AS (SELECT vec_id AS id FROM embeddings
         |  WHERE vec_id % 89 = 0),
         |m4 AS (SELECT x.id, sum(CAST(x.xi AS HUGEINT) * w3.w) AS m12
         |  FROM x JOIN pr USING (id) JOIN w3 USING (dim) GROUP BY 1),
         |p4 AS (SELECT id, CAST(round(1e6 / (1 + exp(
         |    -(CAST(m12 AS DOUBLE) / 1e12)))) AS BIGINT) AS pmu
         |  FROM m4),
         |lr AS (SELECT id, CASE WHEN pmu >= 500000 THEN 1 ELSE 0 END
         |    AS pred FROM p4),
         |nnb AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${cosSql("q.embedding", "c.embedding")},
         |        6) DESC, c.vec_id) AS rnk
         |  FROM embeddings q JOIN pr ON pr.id = q.vec_id
         |  JOIN embeddings c ON q.vec_id != c.vec_id)
         |  WHERE rnk <= 5),
         |kn AS (SELECT nnb.query_id AS id,
         |    CASE WHEN sum(CASE WHEN e.label = 0 THEN 1 ELSE 0 END)
         |      >= 3 THEN 1 ELSE 0 END AS pred
         |  FROM nnb JOIN embeddings e ON e.vec_id = nnb.neighbor_id
         |  GROUP BY 1),
         |cs AS (SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS cid,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT)
         |      AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
         |      AS BIGINT) AS xi FROM embeddings),
         |cl AS (SELECT cid, list(CAST(s AS DOUBLE) ORDER BY dim)
         |    AS cvec
         |  FROM (SELECT cid, dim, CAST(sum(xi) AS BIGINT) AS s
         |    FROM cs GROUP BY 1, 2) GROUP BY cid),
         |ce AS (SELECT e.vec_id AS id, cl.cid,
         |    round(${cosSql("e.embedding", "cl.cvec")}, 6) AS cosv
         |  FROM embeddings e JOIN pr ON pr.id = e.vec_id
         |  CROSS JOIN cl),
         |cp AS (SELECT id, cid AS pred FROM (
         |    SELECT id, cid, row_number() OVER (PARTITION BY id
         |      ORDER BY cosv DESC, cid) AS rn FROM ce)
         |  WHERE rn = 1),
         |u AS (SELECT * FROM lr UNION ALL SELECT * FROM kn
         |  UNION ALL SELECT * FROM cp)
         |SELECT id, CAST(count(*) AS BIGINT) AS n_models,
         |  CAST(sum(pred) AS BIGINT) AS votes_pos,
         |  sum(pred) > 0 AND sum(pred) < count(*) AS disputed
         |FROM u GROUP BY 1""".stripMargin,
    // Forward pass under w3 (the q379 m4/p4 stage), |pmu − ymu|
    // top-50 with (desc, id) ties.
    "q422_el2n_scores" ->
      s"""WITH $logisticGdCtes,
         |m4 AS (SELECT x.id, sum(CAST(x.xi AS HUGEINT) * w3.w) AS m12
         |  FROM x JOIN w3 USING (dim) GROUP BY 1),
         |p4 AS (SELECT id, CAST(round(1e6 / (1 + exp(
         |    -(CAST(m12 AS DOUBLE) / 1e12)))) AS BIGINT) AS pmu
         |  FROM m4)
         |SELECT p4.id, p4.pmu, y.ymu, abs(p4.pmu - y.ymu)
         |    AS el2n_micro
         |FROM p4 JOIN y USING (id)
         |ORDER BY el2n_micro DESC, p4.id LIMIT 50""".stripMargin,
    // Both interpolated-bigram models replayed off one shared bigram
    // table (λ = 0.5 — exact in binary on both engines), per-doc
    // exact term sums, trunc-toward-zero score, (desc, id) top-40.
    "q418_rho_loss" -> {
      def model(p: String, bkt: Int): String =
        s"""${p}u AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
           |  FROM (SELECT unnest(tk) AS w FROM tg WHERE bkt = $bkt)
           |  GROUP BY 1),
           |${p}tv AS (SELECT CAST(sum(cw) AS BIGINT) AS tt,
           |    CAST(count(*) AS BIGINT) AS v FROM ${p}u),
           |${p}cb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
           |  FROM bg WHERE bkt = $bkt GROUP BY 1, 2),
           |${p}ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca
           |  FROM ${p}cb GROUP BY 1)""".stripMargin
      def term(p: String): String =
        s"""CAST(round(-ln(CAST(0.5 AS DOUBLE)
           |      * (CASE WHEN ${p}cb.cab IS NULL OR ${p}ca.ca IS NULL
           |          THEN CAST(0.0 AS DOUBLE)
           |          ELSE CAST(${p}cb.cab AS DOUBLE)
           |            / CAST(${p}ca.ca AS DOUBLE) END)
           |      + CAST(0.5 AS DOUBLE)
           |      * (CAST(coalesce(${p}u.cw, 0) + 1 AS DOUBLE)
           |        / CAST(${p}tv.tt + ${p}tv.v AS DOUBLE))) * 1e6)
           |    AS BIGINT)""".stripMargin
      s"""WITH tg AS (SELECT doc_id, $tokSql AS tk,
         |    ${h60("CAST(doc_id AS VARCHAR)")} % 3 AS bkt
         |  FROM documents),
         |bgx AS (SELECT doc_id, bkt, tk,
         |    unnest(range(1, len(tk))) AS i FROM tg),
         |bg AS (SELECT doc_id, bkt, tk[i] AS a, tk[i+1] AS b
         |  FROM bgx),
         |${model("m", 0)},
         |${model("r", 1)},
         |terms AS (SELECT pool.doc_id,
         |    ${term("m")} AS tm,
         |    ${term("r")} AS tr
         |  FROM (SELECT * FROM bg WHERE bkt = 2) pool
         |  LEFT JOIN mcb ON mcb.a = pool.a AND mcb.b = pool.b
         |  LEFT JOIN mca ON mca.a = pool.a
         |  LEFT JOIN mu ON mu.w = pool.b
         |  CROSS JOIN mtv
         |  LEFT JOIN rcb ON rcb.a = pool.a AND rcb.b = pool.b
         |  LEFT JOIN rca ON rca.a = pool.a
         |  LEFT JOIN ru ON ru.w = pool.b
         |  CROSS JOIN rtv),
         |pd AS (SELECT doc_id AS id,
         |    CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(tm) AS BIGINT) AS nll_main_micro,
         |    CAST(sum(tr) AS BIGINT) AS nll_ref_micro
         |  FROM terms GROUP BY 1)
         |SELECT id, n_bigrams, nll_main_micro, nll_ref_micro,
         |  (nll_main_micro - nll_ref_micro) // n_bigrams
         |    AS score_micro
         |FROM pd
         |ORDER BY score_micro DESC, id LIMIT 40""".stripMargin
    },
    // The NB chain's confusion feeds the same one-division F1s and
    // the floored macro mean.
    // The same k-term integer products (HUGEINT), the same floored
    // divisions and the n−c<k short-circuit.
    "q405_pass_at_k" ->
      """WITH a AS (SELECT source AS task, count(*) AS n,
        |    count(*) FILTER (doc_id % 3 = 0) AS c
        |  FROM documents GROUP BY 1)
        |SELECT task, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
        |  CAST((c * 1000000) // n AS BIGINT) AS pass_at_1_micro,
        |  CASE WHEN n - c < 5 THEN CAST(1000000 AS BIGINT)
        |    ELSE CAST(1000000 -
        |      ((n-c)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4)
        |        * CAST(1000000 AS HUGEINT))
        |      // (n*(n-1)*(n-2)*(n-3)*(n-4)) AS BIGINT)
        |  END AS pass_at_k_micro
        |FROM a WHERE n >= 5""".stripMargin,
    "q396_macro_f1" ->
      s"""WITH $naiveBayesCtes,
         |cf AS (SELECT y, pred, CAST(count(*) AS BIGINT) AS n
         |  FROM pr GROUP BY 1, 2),
         |sup AS (SELECT y AS cls, CAST(sum(n) AS BIGINT) AS support
         |  FROM cf GROUP BY 1),
         |pp AS (SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS predicted
         |  FROM cf GROUP BY 1),
         |tp AS (SELECT y AS cls, CAST(n AS BIGINT) AS tp FROM cf
         |  WHERE y = pred),
         |per AS (SELECT sup.cls, sup.support,
         |    coalesce(tp.tp, 0) AS tp,
         |    coalesce(pp.predicted, 0) - coalesce(tp.tp, 0) AS fp,
         |    sup.support - coalesce(tp.tp, 0) AS fn
         |  FROM sup LEFT JOIN tp USING (cls) LEFT JOIN pp USING (cls)),
         |f AS (SELECT *, CAST((CAST(tp AS HUGEINT) * 2000000)
         |    // (tp * 2 + fp + fn) AS BIGINT) AS f1_micro FROM per),
         |m AS (SELECT CAST(sum(f1_micro) // count(*) AS BIGINT)
         |    AS macro_f1_micro FROM f)
         |SELECT f.cls, f.support, f.tp, f.fp, f.fn, f.f1_micro,
         |  m.macro_f1_micro
         |FROM f, m""".stripMargin,
    // Training + scoring + binning via the shared chain, then the
    // same exact gap sums and floored divisions.
    "q392_calibration_ece" ->
      s"""WITH $logisticGdCtes,
         |m4 AS (SELECT x.id, sum(CAST(x.xi AS HUGEINT) * w3.w) AS m12
         |  FROM x JOIN w3 USING (dim) GROUP BY 1),
         |p4 AS (SELECT id, CAST(round(1e6 / (1 + exp(
         |    -(CAST(m12 AS DOUBLE) / 1e12)))) AS BIGINT) AS pmu
         |  FROM m4),
         |b AS (SELECT least((p4.pmu * 1000) // 1000000, 999) AS bin,
         |    p4.pmu, y.ymu
         |  FROM p4 JOIN y USING (id)),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    abs(CAST(count(*) FILTER (ymu = 1000000) AS HUGEINT)
         |      * 1000000 - sum(pmu)) AS gap12
         |  FROM b GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(gap12) // sum(n) AS BIGINT) AS ece_micro,
         |  CAST(max(gap12 // n) AS BIGINT) AS max_bin_gap_micro
         |FROM g""".stripMargin,
    // Training + scoring via the shared chain, then the same
    // fixed-point kappa with // truncation on the signed step.
    "q385_cohen_kappa" ->
      s"""WITH $logisticGdCtes,
         |m4 AS (SELECT x.id, sum(CAST(x.xi AS HUGEINT) * w3.w) AS m12
         |  FROM x JOIN w3 USING (dim) GROUP BY 1),
         |p4 AS (SELECT id, CAST(round(1e6 / (1 + exp(
         |    -(CAST(m12 AS DOUBLE) / 1e12)))) AS BIGINT) AS pmu
         |  FROM m4),
         |r AS (SELECT (y.ymu = 1000000) AS a, (p4.pmu >= 282000) AS b
         |  FROM p4 JOIN y USING (id)),
         |cts AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(*) FILTER (a) AS BIGINT) AS a_yes,
         |    CAST(count(*) FILTER (b) AS BIGINT) AS b_yes,
         |    CAST(count(*) FILTER (a = b) AS BIGINT) AS agree
         |  FROM r),
         |p AS (SELECT *,
         |    CAST((CAST(agree AS HUGEINT) * 1000000) // n AS BIGINT)
         |      AS po_micro,
         |    CAST((CAST(a_yes AS HUGEINT) * b_yes * 1000000
         |      + CAST(n - a_yes AS HUGEINT) * (n - b_yes) * 1000000)
         |      // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_micro
         |  FROM cts)
         |SELECT n, a_yes, b_yes, agree, po_micro, pe_micro,
         |  CASE WHEN pe_micro = 1000000 THEN NULL
         |    ELSE CAST((CAST(po_micro - pe_micro AS HUGEINT) * 1000000)
         |      // (1000000 - pe_micro) AS BIGINT) END AS kappa_micro
         |FROM p""".stripMargin,
    // Scoring replays the forward pass with w3 (one more m/p stage),
    // bins by integer floor with the top edge clamped, and the masses
    // are exact integer sums — train, score, AND bin must all agree.
    "q379_calibration_bins" ->
      s"""WITH $logisticGdCtes,
         |m4 AS (SELECT x.id, sum(CAST(x.xi AS HUGEINT) * w3.w) AS m12
         |  FROM x JOIN w3 USING (dim) GROUP BY 1),
         |p4 AS (SELECT id, CAST(round(1e6 / (1 + exp(
         |    -(CAST(m12 AS DOUBLE) / 1e12)))) AS BIGINT) AS pmu
         |  FROM m4),
         |b AS (SELECT least((p4.pmu * 1000) // 1000000, 999) AS bin,
         |    p4.pmu, y.ymu
         |  FROM p4 JOIN y USING (id))
         |SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) FILTER (ymu = 1000000) AS BIGINT) AS positives,
         |  CAST(sum(pmu) AS BIGINT) AS pmu_mass
         |FROM b GROUP BY 1""".stripMargin,
    // q108's IVF chain at k=20/nprobe=2, truth@1, cumulative grid.
    "q290_recall_curve" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
         |  FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |  ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 100),
         |assigned AS (SELECT id, vec, cid AS cell FROM (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6)
         |        DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |qc AS (SELECT qid, qv, cell FROM (
         |  SELECT q.id AS qid, q.vec AS qv, c.cid AS cell,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c.cvec")}, 6) DESC,
         |        c.cid) AS pr
         |  FROM q CROSS JOIN c) WHERE pr <= 2),
         |ranked AS (SELECT qid, nid, rnk FROM (
         |  SELECT qc.qid, a.id AS nid, row_number() OVER (
         |      PARTITION BY qc.qid ORDER BY
         |      round(${cosSql("qc.qv", "a.vec")}, 6) DESC, a.id)
         |      AS rnk
         |  FROM qc JOIN assigned a
         |    ON qc.cell = a.cell AND qc.qid != a.id) WHERE rnk <= 20),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c2.embedding")}, 6)
         |        DESC, c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 1),
         |fh AS (SELECT t.query_id, r.rnk FROM truth t
         |  JOIN ranked r ON r.qid = t.query_id
         |    AND r.nid = t.neighbor_id),
         |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q)
         |SELECT n_at, CAST(count(fh.query_id) AS BIGINT) AS n_hit,
         |  n_queries,
         |  CAST(round(CAST(CAST(count(fh.query_id) AS DOUBLE)
         |    / n_queries AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall
         |FROM (SELECT CAST(unnest([1, 2, 5, 10, 20]) AS INT) AS n_at)
         |LEFT JOIN fh ON fh.rnk <= n_at
         |CROSS JOIN nq
         |GROUP BY n_at, n_queries""".stripMargin,
    // Same q260 grouping, pure-integer ECE numerator, per-group ×1e9
    // MCE snap before the max.
    "q288_calibration_error" ->
      s"""WITH ev AS (SELECT hour(ts) AS h,
         |    CAST(event_type = 'purchase' AS BIGINT) AS y,
         |    ${h60("CAST(event_id AS VARCHAR)")} % 2 AS b
         |  FROM events),
         |trn AS (SELECT h, CAST(round(CAST(CAST(sum(y) AS DOUBLE)
         |    / count(*) * CAST(1e6 AS DOUBLE) AS DECIMAL(20,10)))
         |    AS BIGINT) AS p
         |  FROM ev WHERE b = 0 GROUP BY 1),
         |g AS (SELECT p, CAST(count(*) AS BIGINT) AS nk,
         |    CAST(sum(y) AS BIGINT) AS sk
         |  FROM ev JOIN trn USING (h) WHERE ev.b <> 0 GROUP BY 1),
         |dd AS (SELECT nk, abs(CAST(p AS HUGEINT) * nk
         |    - CAST(1000000 AS HUGEINT) * sk) AS dl FROM g)
         |SELECT CAST(sum(nk) AS BIGINT) AS n,
         |  CAST(round(CAST(CAST(sum(dl) AS DOUBLE)
         |    / (CAST(sum(nk) AS DOUBLE) * CAST(1e6 AS DOUBLE))
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS ece,
         |  CAST(round(CAST(CAST(max(CAST(round(CAST(dl AS DOUBLE)
         |      / nk / 1e6 * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS mce
         |FROM dd""".stripMargin,
    // Same panels, same exact cross-multiply duels, two identically
    // unrolled iterations with ×1e9 term snaps, same ×1e6 share
    // renormalization.
    "q275_bradley_terry" ->
      s"""WITH sp AS (SELECT source AS g,
         |    ${h60("CAST(doc_id AS VARCHAR)")} % 64 AS p,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(n_chars) AS BIGINT) AS sv
         |  FROM documents GROUP BY 1, 2),
         |duel AS (SELECT x.g AS a, y.g AS b,
         |    CAST(x.sv AS HUGEINT) * y.n > CAST(y.sv AS HUGEINT) * x.n
         |      AS win
         |  FROM sp x JOIN sp y ON x.p = y.p AND x.g <> y.g),
         |w AS (SELECT a, b, CAST(sum(CASE WHEN win THEN 1 ELSE 0 END)
         |    AS BIGINT) AS w FROM duel GROUP BY 1, 2),
         |m AS (SELECT u.a, u.b, u.w AS w_ab, u.w + v.w AS n_ab
         |  FROM w u JOIN w v ON u.a = v.b AND u.b = v.a
         |  WHERE u.w + v.w > 0),
         |wa AS (SELECT a, CAST(sum(w_ab) AS BIGINT) AS w_tot
         |  FROM m GROUP BY 1),
         |t1 AS (SELECT a, CAST(sum(CAST(round(1e9
         |      * CAST(n_ab AS DOUBLE)
         |      / (CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |      AS BIGINT)) AS BIGINT) AS den
         |  FROM m GROUP BY 1),
         |p1 AS (SELECT wa.a AS g, CAST(w_tot AS DOUBLE) * 1e9 / den
         |    AS pi FROM wa JOIN t1 ON t1.a = wa.a),
         |t2 AS (SELECT m.a, CAST(sum(CAST(round(1e9
         |      * CAST(n_ab AS DOUBLE) / (pa.pi + pb.pi))
         |      AS BIGINT)) AS BIGINT) AS den
         |  FROM m JOIN p1 pa ON pa.g = m.a JOIN p1 pb ON pb.g = m.b
         |  GROUP BY 1),
         |p2 AS (SELECT wa.a AS g, CAST(w_tot AS DOUBLE) * 1e9 / den
         |    AS pi FROM wa JOIN t2 ON t2.a = wa.a),
         |pm AS (SELECT g, CAST(round(CAST(pi AS DECIMAL(20,10))
         |    * 1000000) AS BIGINT) AS pm FROM p2),
         |tot AS (SELECT CAST(sum(pm) AS BIGINT) AS tot FROM pm)
         |SELECT pm.g AS source, wa.w_tot,
         |  CAST(round(CAST(CAST(pm AS DOUBLE) / 1e6
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS bt_pi,
         |  CAST(round(CAST(CAST(pm AS DOUBLE) / tot
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS share
         |FROM pm CROSS JOIN tot JOIN wa ON wa.a = pm.g""".stripMargin,
    // Same tier thresholds, subtract-mod TTR floor-div, the same
    // exact κ integer algebra through HUGEINT, same snaps.
    "q226_kappa" ->
      s"""WITH rated AS (SELECT
         |    CASE WHEN n_chars < 250 THEN 0 WHEN n_chars < 400 THEN 1
         |      ELSE 2 END AS a,
         |    CASE WHEN rfp < 400 THEN 0 WHEN rfp < 550 THEN 1
         |      ELSE 2 END AS b
         |  FROM (SELECT n_chars,
         |      CASE WHEN len(tk) = 0 THEN 0 ELSE
         |        CAST(((CAST(len(list_distinct(tk)) AS BIGINT) * 1000
         |          - (CAST(len(list_distinct(tk)) AS BIGINT) * 1000
         |             % len(tk))) / len(tk)) AS BIGINT) END AS rfp
         |    FROM (SELECT n_chars, $tokSql AS tk FROM documents))),
         |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
         |  FROM rated GROUP BY 1, 2),
         |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra
         |  FROM cells GROUP BY 1),
         |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb
         |  FROM cells GROUP BY 1),
         |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         |ag AS (SELECT CAST(coalesce(sum(o), 0) AS BIGINT) AS agree
         |  FROM cells WHERE a = b),
         |sp AS (SELECT CAST(coalesce(sum(CAST(ra AS HUGEINT) * cb), 0)
         |    AS HUGEINT) AS spc
         |  FROM ra JOIN cb ON ra.a = cb.b)
         |SELECT n, agree,
         |  CAST(round(CAST(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS po,
         |  CAST(round(CAST(CAST(spc AS DOUBLE)
         |    / CAST(CAST(n AS HUGEINT) * n AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS pe,
         |  CASE WHEN CAST(n AS HUGEINT) * n = spc THEN NULL ELSE
         |    CAST(round(CAST(
         |      CAST(CAST(n AS HUGEINT) * agree - spc AS DOUBLE)
         |      / CAST(CAST(n AS HUGEINT) * n - spc AS DOUBLE)
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS kappa
         |FROM nn CROSS JOIN ag CROSS JOIN sp""".stripMargin,
    "q174_label_prop" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |eu AS (SELECT src, dst FROM e WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e WHERE src <> dst),
         |nodes AS (SELECT DISTINCT src AS id FROM eu),
         |l0 AS (SELECT id, id AS lbl FROM nodes),
         |${lpaIterSql("l0", "l1")},
         |${lpaIterSql("l1", "l2")}
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         |FROM l2 GROUP BY 1
         |ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
    // Two independent two-iteration Lloyd chains (q215's helpers,
    // different seed windows), the same contingency-cell pair algebra
    // in HUGEINT, same snapped division and null-den convention.
    "q232_ari" ->
      s"""WITH c0a AS (SELECT vec_id AS cid, embedding AS cvec
         |             FROM embeddings WHERE vec_id < 16),
         |a0a AS (${l2aSql("c0a")}),
         |c1a AS (${l2MeanSql("a0a")}),
         |a1a AS (${l2aSql("c1a")}),
         |c2a AS (${l2MeanSql("a1a")}),
         |a2a AS (${l2aSql("c2a")}),
         |c0b AS (SELECT vec_id AS cid, embedding AS cvec
         |        FROM embeddings WHERE vec_id >= 100 AND vec_id < 116),
         |a0b AS (${l2aSql("c0b")}),
         |c1b AS (${l2MeanSql("a0b")}),
         |a1b AS (${l2aSql("c1b")}),
         |c2b AS (${l2MeanSql("a1b")}),
         |a2b AS (${l2aSql("c2b")}),
         |cl AS (SELECT x.cell AS ca, y.cell AS cb,
         |    CAST(count(*) AS BIGINT) AS nij
         |  FROM a2a x JOIN a2b y ON x.id = y.id GROUP BY 1, 2),
         |av AS (SELECT sum(CAST(ai AS HUGEINT) * (ai - 1)) AS a2,
         |    CAST(count(*) AS BIGINT) AS ka
         |  FROM (SELECT ca, CAST(sum(nij) AS BIGINT) AS ai
         |    FROM cl GROUP BY 1)),
         |bv AS (SELECT sum(CAST(bi AS HUGEINT) * (bi - 1)) AS b2,
         |    CAST(count(*) AS BIGINT) AS kb
         |  FROM (SELECT cb, CAST(sum(nij) AS BIGINT) AS bi
         |    FROM cl GROUP BY 1)),
         |cv AS (SELECT sum(CAST(nij AS HUGEINT) * (nij - 1)) AS c2,
         |    CAST(sum(nij) AS BIGINT) AS n FROM cl)
         |SELECT n, ka, kb,
         |  CASE WHEN CAST(n AS HUGEINT) * (n - 1) * (a2 + b2)
         |      - 2 * a2 * b2 = 0 THEN NULL
         |    ELSE CAST(round(CAST(
         |      CAST(2 * CAST(n AS HUGEINT) * (n - 1) * c2
         |        - 2 * a2 * b2 AS DOUBLE)
         |      / CAST(CAST(n AS HUGEINT) * (n - 1) * (a2 + b2)
         |        - 2 * a2 * b2 AS DOUBLE)
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS ari
         |FROM cv CROSS JOIN av CROSS JOIN bv""".stripMargin,
    // Same two-iteration Lloyd chain (q215's CTE helpers), same
    // (o desc, label) majority pick and ×1e9 entropy snaps.
    "q228_cluster_purity" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (${l2aSql("c0")}),
         |c1 AS (${l2MeanSql("a0")}),
         |a1 AS (${l2aSql("c1")}),
         |c2 AS (${l2MeanSql("a1")}),
         |a2 AS (${l2aSql("c2")}),
         |cl AS (SELECT a2.cell, e.label, CAST(count(*) AS BIGINT) AS o
         |  FROM a2 JOIN embeddings e ON e.vec_id = a2.id
         |  GROUP BY 1, 2),
         |nc AS (SELECT cell, CAST(sum(o) AS BIGINT) AS n
         |  FROM cl GROUP BY 1),
         |top AS (SELECT cell, label AS top_label, o AS n_top FROM (
         |  SELECT cell, label, o, row_number() OVER (PARTITION BY cell
         |      ORDER BY o DESC, label) AS rn FROM cl) WHERE rn = 1),
         |ent AS (SELECT cell,
         |    CAST(-sum(CAST(round(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
         |      * ln(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9)
         |      AS BIGINT)) AS BIGINT) AS efp
         |  FROM cl JOIN nc USING (cell) GROUP BY 1)
         |SELECT nc.cell AS cid, n, top_label, n_top,
         |  CAST(round(CAST(CAST(n_top AS DOUBLE) / CAST(n AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS purity,
         |  CAST(round(CAST(CAST(efp AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS entropy
         |FROM nc JOIN top USING (cell) JOIN ent USING (cell)""".stripMargin
  )
}
