package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.fdiv

/** Query surface + DuckDB oracles: cross-cutting operators that fit no single family.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesMisc {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text/mixture: pairwise source KL DIVERGENCE — add-one-smoothed
    // token distributions compared over the union vocabulary; work is
    // |pairs|·|vocab|, never corpus²; per-term ×1e9 snap keeps the sum
    // order-free.
    "q177_source_kl" -> ((s, dir) =>
      Text.sourceKlDivergence(t(s, dir, "documents"),
          col("source"), col("text"))
        .orderBy(col("kl").desc, col("source_a"), col("source_b"))
        .limit(25)),
    // Text/stats: HILL TAIL-INDEX of the 3-shingle document-frequency
    // distribution (k = 50) — zipfFit reads the head's slope, Hill
    // reads how heavy the extreme tail is: α ≤ 2 says
    // occurrence-weighted sampling has unbounded variance and needs
    // frequency caps. Units are word 3-shingles (q220's convention —
    // the 31-token synthetic vocabulary is too narrow to have a
    // tail). One hash aggregate + a (k+1)-row TakeOrdered head; ln
    // terms snap ×1e6.
    "q225_hill_tail" -> ((s, dir) =>
      Text.hillTailIndex(t(s, dir, "documents"),
        Text.wordShingles(Text.tokens(col("text")), 3), 50)),
    // Stats/text: JENSEN–SHANNON divergence per source vs rest — the
    // symmetric ln2-bounded drift read beside the directional KL
    // (q185) and the binned PSI/W1 (q86/q250): mixture-referenced, no
    // smoothing, 0·ln0 terms drop exactly. Vocabulary×sources term
    // grid off one (source, token) aggregate, ×1e9 term snaps.
    "q257_js_divergence" -> ((s, dir) =>
      Text.sourceJsVsRest(t(s, dir, "documents"), col("source"),
        col("text"))),
    // Warehouse: SCD TYPE-2 dimension history — the slowly-changing-
    // dimension op the reference's SCD-1 upsert (K2/q06) can't
    // express: each symbol's price band becomes validity INTERVALS
    // (valid_from, valid_to = day before the next change, open +
    // is_current for the live row). Run boundaries by lag-compare →
    // prefix-sum run ids → one aggregate per run; everything rides
    // the ONE symbol-key window exchange, run-table windows are
    // per-symbol and tiny.
    "q265_scd2_history" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val b = Merge.keepLatestInSeries(
          bars(s, dir).filter(col("symbol") <= 500), Seq("symbol"),
          Seq("d"), struct(col("ord"), col("px"), col("vol")))
        .select(col("symbol"), col("d"),
          fdiv(round(col("px") * 100).cast("long"), lit(2000L))
            .as("band"))
      val w = W.partitionBy("symbol").orderBy("d")
      val runs = b
        .withColumn("prev", lag(col("band"), 1).over(w))
        .withColumn("chg", when(col("prev").isNull ||
          col("prev") =!= col("band"), 1L).otherwise(0L))
        .withColumn("run_id", sum(col("chg")).over(
          w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      runs.groupBy(col("symbol"), col("run_id"), col("band"))
        .agg(min(col("d")).as("valid_from"),
          count(lit(1)).as("n_days"))
        .withColumn("nxt", lead(col("valid_from"), 1).over(
          W.partitionBy("symbol").orderBy("run_id")))
        .select(col("symbol"), col("band"), col("valid_from"),
          coalesce(date_sub(col("nxt"), 1),
            lit("9999-12-31").cast("date")).as("valid_to"),
          col("n_days"), col("nxt").isNull.as("is_current"))
    }),
    // ML/curation: LOGISTIC-REGRESSION quality classifier TRAINED in
    // the engine — 3 full-batch gradient steps over the embedding
    // corpus (y = label 0 one-vs-rest), the supervised tier above
    // Naive Bayes q255 and kNN q295. Every margin/gradient is an
    // exact ×1e6/×1e12 integer sum, the sigmoid snaps ×1e6 at
    // evaluation, updates round half-away-from-zero — so the oracle
    // replays the ENTIRE training trajectory with the iterations
    // unrolled and the output pins all 65 final weights exactly.
    "q361_logistic_gd" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      LinearModel.logisticGd(
        e.select(col("vec_id").as("id"), col("embedding").as("x")),
        e.select(col("vec_id").as("id"),
          when(col("label") === 0, 1L).otherwise(0L).as("y")),
        3)
    }),
    // Dataloader: IN-BATCH FALSE-NEGATIVE audit — near-dup pairs
    // (same lang, ids within 2) vs hash-sharded batches at three
    // sizes; observed collision rate vs the uniform 1/n_batches.
    "q428_inbatch_collisions" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("a"), col("lang"))
        .join(d.select(col("doc_id").as("b"), col("lang")), "lang")
        .filter(col("a") < col("b") && col("b") - col("a") <= 2)
        .select(col("a"), col("b"))
      Sampling.inBatchCollisionAudit(pairs, col("a"), col("b"),
        d.count(), Seq(64, 256, 1024))
    }),
    // Quality/meta: GATE REDUNDANCY matrix — pairwise overlap of the
    // three cheap quality gates' REJECT sets (too-short, high
    // repetition-proxy, blocklist-heavy): near-identical reject sets
    // mean a gate adds cost, not filtering (the ablation read before
    // adding filter #7 to a pipeline). One scan derives all three
    // flags; the matrix is 3×3 over exact counts with Jaccard 4dp.
    "q300_gate_overlap" -> ((s, dir) => {
      // bound token subtree: three gate expressions share ONE
      // tokenization per row (the Cols.bound interpreted-lambda
      // lesson)
      val fl = t(s, dir, "documents")
        .select((col("n_chars") < 250).as("gs"),
          Cols.bound(Text.tokens(col("text"))) { t0 =>
            struct(
              (size(array_distinct(t0)) * 3 < size(t0)).as("gr"),
              (size(filter(t0, x => x.isin("the", "of", "and"))) * 5
                >= size(t0)).as("gb"))
          }.as("m"))
        .select(col("gs"), col("m.gr").as("gr"), col("m.gb").as("gb"))
      def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
      // one aggregate computes all six masses; the 3-row matrix then
      // reads the checkpointed one-row frame (no re-scan per pair)
      val a = fl.agg(cnt(col("gs")).as("ns"), cnt(col("gr")).as("nr"),
          cnt(col("gb")).as("nb"),
          cnt(col("gs") && col("gr")).as("nsr"),
          cnt(col("gs") && col("gb")).as("nsb"),
          cnt(col("gr") && col("gb")).as("nrb"))
        .localCheckpoint(true)
      def row(ga: String, gb: String, na: Column, nb: Column,
              both: Column): DataFrame =
        a.select(lit(ga).as("gate_a"), lit(gb).as("gate_b"),
          na.as("n_a"), nb.as("n_b"), both.as("n_both"))
      row("g_block", "g_repeat", col("nb"), col("nr"), col("nrb"))
        .unionByName(row("g_block", "g_short", col("nb"), col("ns"),
          col("nsb")))
        .unionByName(row("g_repeat", "g_short", col("nr"), col("ns"),
          col("nsr")))
        .select(col("gate_a"), col("gate_b"), col("n_a"), col("n_b"),
          col("n_both"),
          when(col("n_a") + col("n_b") - col("n_both") === 0,
            lit(null))
            .otherwise(round((col("n_both").cast("double") /
              (col("n_a") + col("n_b") - col("n_both"))
                .cast("double")).cast("decimal(20,10)"), 4)
              .cast("double")).as("jaccard"))
    }),
    // Events/mining: SEQUENTIAL PATTERN support (PrefixSpan-lite) —
    // user support of every gap-allowed ORDERED pattern a>b and
    // a>b>c over event-type sequences (q146's trigrams demand
    // contiguity; funnels demand fixed steps — this is the general
    // subsequence mine). The order-theoretic trick keeps it linear:
    // a>b holds iff first(a) < last(b), and a>b>c iff SOME b
    // occurrence sits strictly between first(a) and last(c) — so
    // pairs need only the per-(user, type) extremes table (≤|Σ| rows
    // per user) and triples one alphabet-bounded ×|Σ|² fan of the
    // event stream. One user-key window exchange feeds everything.
    "q266_sequence_patterns" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val pos = t(s, dir, "events")
        .select(col("user_id").as("u"), col("event_type").as("ty"),
          col("ts"), col("event_id"))
        .withColumn("pos", row_number().over(
          W.partitionBy("u").orderBy(col("ts"), col("event_id"))))
      val ext = pos.groupBy(col("u"), col("ty"))
        .agg(min(col("pos")).as("fp"), max(col("pos")).as("lp"))
      val nn = ext.select(col("u")).distinct()
        .agg(count(lit(1)).as("n"))
      val pairs = ext.as("a").join(ext.as("b"),
          col("a.u") === col("b.u") && col("a.fp") < col("b.lp"))
        .groupBy(concat(col("a.ty"), lit(">"), col("b.ty")).as("pattern"))
        .agg(count(lit(1)).as("n_users"))
      val triples = pos.select(col("u"), col("ty").as("bt"), col("pos"))
        .join(ext.select(col("u"), col("ty").as("at"), col("fp")), "u")
        .join(ext.select(col("u"), col("ty").as("ct"), col("lp")), "u")
        .filter(col("pos") > col("fp") && col("pos") < col("lp"))
        .select(col("u"), col("at"), col("bt"), col("ct")).distinct()
        .groupBy(concat(col("at"), lit(">"), col("bt"), lit(">"),
          col("ct")).as("pattern"))
        .agg(count(lit(1)).as("n_users"))
      pairs.unionByName(triples).crossJoin(broadcast(nn))
        .select(col("pattern"), col("n_users"),
          round((col("n_users").cast("double") / col("n").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("support"))
    }),
    // Similarity/IR-eval: RANK-BIASED OVERLAP (Webber et al. 2010)
    // between the nprobe=2 IVF ranking and exact L2 truth at k=10 —
    // recall@k (q125) counts set hits; RBO weights agreement
    // top-heavily (p=0.9), the right read when only the first
    // results matter. The geometric weights are an exact integer
    // recurrence w_d = round(0.9·w_{d−1}) in micro-units and each
    // match contributes the PRECOMPUTED Σ_{d≥max(ra,rb)} w_d/d
    // constant — no cross-engine pow() drift, one equi-join on
    // (query, neighbor).
    "q238_rbo" -> ((s, dir) => {
      val k = 10
      val cfp = rboCfp(k)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val c1 = Similarity.kmeansTrainL2(e, c0, 1)
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      val truth = Similarity.bruteForceTopKL2(qs, e, k)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("rb"))
      val approx = Similarity.ivfSearchL2(qs, e, c1, k, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").as("ra"))
      val contrib = truth.join(approx, Seq("query_id", "neighbor_id"))
        .select(col("query_id"),
          element_at(array(cfp.map(lit(_)): _*),
            greatest(col("ra"), col("rb")).cast("int")).as("cfp"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_common"), sum(col("cfp")).as("rbofp"))
      qs.select(col("id").as("query_id"))
        .join(contrib, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          round((coalesce(col("rbofp"), lit(0L)).cast("double") /
            lit(1e7)).cast("decimal(20,10)"), 4).cast("double")
            .as("rbo"))
    }),
    // Join: point-in-interval range join via grid blocking — urgent
    // orders' [orderdate, +3d] windows × lineitem ship days. A bare
    // BETWEEN join is a BroadcastNestedLoopJoin (dead at scale); the
    // 4-day grid makes it an equi-join on the cell id. The aggregate
    // is distributive, so the point side pre-collapses to one partial
    // row per DISTINCT day (~2.5k) before the join — pairs scale with
    // intervals×span, not facts×span; partials sum in exact integer
    // cents so the collapse can't reassociate a float sum.
    "q92_range_join" -> ((s, dir) => {
      val epoch = lit("1970-01-01").cast("date")
      val pts = t(s, dir, "lineitem")
        .groupBy(datediff(to_date(col("l_shipdate")), epoch).as("pt_day"))
        .agg(count(lit(1)).as("d_n"),
          sum(round(col("l_quantity") * 100).cast("long")).as("d_qty_c"))
      val iv = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), epoch).as("lo_day"),
          (datediff(to_date(col("o_orderdate")), epoch) + 3).as("hi_day"))
      Joins.rangeJoin(pts, "pt_day", iv, "lo_day", "hi_day", 4L)
        .groupBy(col("o_orderkey"))
        .agg(sum(col("d_n")).as("n_pts"),
          round(sum(col("d_qty_c")).cast("double") / 100.0, 2).as("qty_sum"))
    }),
    // Relational set ops: EXCEPT / INTERSECT customer segments between
    // two order years — Catalyst plans these as anti/semi joins on the
    // distinct sets, never a materialized set difference.
    "q96_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def cust(yr: Int) = o
        .filter(year(to_date(col("o_orderdate"))) === yr)
        .select(col("o_custkey")).distinct()
      val c95 = cust(1995)
      val c96 = cust(1996)
      c95.except(c96).select(lit("only_1995").as("segment"), col("o_custkey"))
        .unionByName(c96.except(c95)
          .select(lit("only_1996").as("segment"), col("o_custkey")))
        .unionByName(c95.intersect(c96)
          .select(lit("both").as("segment"), col("o_custkey")))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"))
    }),
    // Reshape: dense-rank top-3 per group — ties keep ALL rows at a
    // rank (the output set is deterministic even when row_number would
    // not be), one shuffle on the grouping key.
    "q84_topn_per_group" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"),
          dense_rank().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice").desc)).as("rk"))
        .filter(col("rk") <= 3)),
    // Text: order-sensitive rolling-hash document fingerprint.
    "q39_rolling_hash" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.rollingHash(Text.tokens(col("text"))).as("rh"))),
    // Beyond-reference: backward as-of join — the latest 'view' at or
    // before each 'purchase' per user (union-and-window: ONE shuffle on
    // the key, no range-join candidate explosion). Oracle: DuckDB's
    // native ASOF LEFT JOIN.
    "q52_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val trades = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("trade_v"))
      val quotes = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value").as("quote_v"))
      Asof.joinAsOf(trades, quotes, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), col("trade_v"),
          col("quote_v"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    // Same smoothed probabilities (identical double op order), same
    // per-term ×1e9 snap, same (kl desc, a, b) cutoff.
    "q177_source_kl" ->
      s"""WITH tk AS (SELECT source, unnest($tokSql) AS tok
         |  FROM documents),
         |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
         |  FROM cnt GROUP BY 1),
         |voc AS (SELECT DISTINCT tok FROM cnt),
         |vc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM voc),
         |pr AS (SELECT x.source AS sa, x.n AS na, y.source AS sb,
         |    y.n AS nb
         |  FROM tot x JOIN tot y ON x.source <> y.source),
         |sup AS (SELECT sa, na, sb, nb, tok, v
         |  FROM pr CROSS JOIN voc CROSS JOIN vc),
         |j AS (SELECT sa, sb,
         |    CAST(coalesce(a.c, 0) + 1 AS DOUBLE)
         |      / CAST(na + v AS DOUBLE) AS pa,
         |    CAST(coalesce(b.c, 0) + 1 AS DOUBLE)
         |      / CAST(nb + v AS DOUBLE) AS pb
         |  FROM sup
         |  LEFT JOIN cnt a ON a.source = sup.sa AND a.tok = sup.tok
         |  LEFT JOIN cnt b ON b.source = sup.sb AND b.tok = sup.tok),
         |t AS (SELECT sa, sb,
         |    CAST(round(pa * ln(pa / pb) * 1e9) AS BIGINT) AS tf
         |  FROM j)
         |SELECT sa AS source_a, sb AS source_b,
         |  CAST(round(CAST(CAST(sum(tf) AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS kl
         |FROM t GROUP BY 1, 2
         |ORDER BY kl DESC, source_a, source_b LIMIT 25""".stripMargin,
    // Same (cnt desc, u) top-51 cut, ×1e6 ln snaps pre-sum, one
    // double division through the DECIMAL snap.
    "q225_hill_tail" ->
      s"""WITH tk AS (SELECT $tokSql AS tk FROM documents),
         |tok AS (SELECT unnest(CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END) AS u
         |  FROM tk),
         |vf AS (SELECT u, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab FROM vf),
         |top AS (SELECT u, cnt FROM vf ORDER BY cnt DESC, u LIMIT 51),
         |rk AS (SELECT cnt,
         |    row_number() OVER (ORDER BY cnt DESC, u) AS rnk,
         |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS lfp
         |  FROM top),
         |tl AS (SELECT cnt AS x_tail, lfp AS lt FROM rk WHERE rnk = 51),
         |s AS (SELECT x_tail, CAST(count(*) AS BIGINT) AS k,
         |    CAST(sum(lfp - lt) AS BIGINT) AS sfp
         |  FROM rk CROSS JOIN tl WHERE rnk <= 50 GROUP BY 1)
         |SELECT n_vocab, k, x_tail,
         |  CASE WHEN sfp = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(k AS DOUBLE) * 1e6
         |      / CAST(sfp AS DOUBLE) AS DECIMAL(20,10)), 6) AS DOUBLE)
         |    END AS alpha
         |FROM s CROSS JOIN nv""".stripMargin,
    // Same union-support grid, same ×1e9 half-terms with 0·ln0
    // dropped by the CASE guards, every constant forced DOUBLE.
    "q257_js_divergence" ->
      s"""WITH tok AS (SELECT source, unnest($tokSql) AS tok
         |  FROM documents),
         |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tok GROUP BY 1, 2),
         |tt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct
         |  FROM cnt GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_g
         |  FROM cnt GROUP BY 1),
         |na AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot FROM ns),
         |grid AS (SELECT ns.source, ns.n_g,
         |    coalesce(cnt.c, 0) AS cg,
         |    tt.ct - coalesce(cnt.c, 0) AS cr,
         |    na.n_tot - ns.n_g AS n_r
         |  FROM tt CROSS JOIN ns CROSS JOIN na
         |  LEFT JOIN cnt ON cnt.source = ns.source
         |    AND cnt.tok = tt.tok),
         |tf AS (SELECT source, n_g,
         |    CAST(round((
         |      CASE WHEN cg > 0 THEN
         |        (CAST(cg AS DOUBLE) / n_g) * ln((CAST(cg AS DOUBLE)
         |          / n_g) / ((CAST(cg AS DOUBLE) / n_g
         |          + CAST(cr AS DOUBLE) / n_r) / CAST(2.0 AS DOUBLE)))
         |        ELSE CAST(0.0 AS DOUBLE) END
         |      + CASE WHEN cr > 0 THEN
         |        (CAST(cr AS DOUBLE) / n_r) * ln((CAST(cr AS DOUBLE)
         |          / n_r) / ((CAST(cg AS DOUBLE) / n_g
         |          + CAST(cr AS DOUBLE) / n_r) / CAST(2.0 AS DOUBLE)))
         |        ELSE CAST(0.0 AS DOUBLE) END)
         |      * CAST(0.5 AS DOUBLE) * CAST(1e9 AS DOUBLE)) AS BIGINT)
         |      AS tf
         |  FROM grid)
         |SELECT source, n_g AS n_tokens,
         |  CAST(round(CAST(CAST(sum(tf) AS DOUBLE)
         |    / CAST(1e9 AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS js
         |FROM tf GROUP BY 1, 2""".stripMargin,
    // Same keep-latest dedup (q53's rn rule), same 20-unit band, same
    // lag-compare runs and lead(valid_from) − 1 day interval close.
    "q265_scd2_history" ->
      s"""WITH b AS (SELECT symbol, d,
         |    CAST(round(CAST(px AS DOUBLE) * 100) AS BIGINT) // 2000
         |      AS band
         |  FROM (SELECT *, row_number() OVER (
         |    PARTITION BY symbol, d ORDER BY ord DESC, px DESC, vol
         |    DESC) AS rn FROM ($barsSql) WHERE symbol <= 500)
         |    WHERE rn = 1),
         |r AS (SELECT symbol, d, band,
         |    CASE WHEN lag(band) OVER w IS NULL
         |      OR lag(band) OVER w <> band THEN 1 ELSE 0 END AS chg
         |  FROM b WINDOW w AS (PARTITION BY symbol ORDER BY d)),
         |ri AS (SELECT symbol, d, band,
         |    CAST(sum(chg) OVER (PARTITION BY symbol ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS run_id FROM r),
         |iv AS (SELECT symbol, run_id, band, min(d) AS valid_from,
         |    CAST(count(*) AS BIGINT) AS n_days
         |  FROM ri GROUP BY 1, 2, 3),
         |nx AS (SELECT *, lead(valid_from) OVER (PARTITION BY symbol
         |    ORDER BY run_id) AS nxt FROM iv)
         |SELECT symbol, CAST(band AS BIGINT) AS band, valid_from,
         |  coalesce(nxt - 1, DATE '9999-12-31') AS valid_to, n_days,
         |  nxt IS NULL AS is_current
         |FROM nx""".stripMargin,
    // The full training trajectory replayed with iterations unrolled:
    // same ×1e6 feature/bias snap, exact integer margins/gradients,
    // sigmoid snapped ×1e6 (iteration 1's p is exactly 500000 — w=0),
    // same round-half-away-from-zero updates.
    "q361_logistic_gd" ->
      s"""WITH $logisticGdCtes
         |SELECT dim, w AS w_micro FROM w3""".stripMargin,
    // Same 60-bit bucket assignment with n_batches a scalar of the
    // corpus count; exact collision counts, floored micro rates.
    "q428_inbatch_collisions" ->
      s"""WITH n AS (SELECT count(*) AS c FROM documents),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM documents a JOIN documents b
         |    ON a.lang = b.lang AND a.doc_id < b.doc_id
         |    AND b.doc_id - a.doc_id <= 2),
         |s AS (SELECT unnest([64, 256, 1024]) AS bs),
         |cfg AS (SELECT s.bs,
         |    greatest(1, (n.c + s.bs - 1) // s.bs) AS nb FROM s, n),
         |r AS (SELECT cfg.bs, cfg.nb,
         |    CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN
         |        ${h60("CAST(p.a AS VARCHAR)")} % cfg.nb =
         |        ${h60("CAST(p.b AS VARCHAR)")} % cfg.nb
         |      THEN 1 ELSE 0 END) AS BIGINT) AS collisions
         |  FROM cfg, p GROUP BY 1, 2)
         |SELECT CAST(bs AS INT) AS batch_size,
         |  CAST(nb AS BIGINT) AS n_batches, n_pairs, collisions,
         |  CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((collisions * 1000000) // n_pairs AS BIGINT)
         |    END AS collision_micro,
         |  CAST(1000000 // nb AS BIGINT) AS expected_micro
         |FROM r""".stripMargin,
    // Same single-pass flags and pair masses, list_filter ≡ the
    // engine's bound filter.
    "q300_gate_overlap" ->
      s"""WITH tk AS (SELECT n_chars, $tokSql AS tk FROM documents),
         |fl AS (SELECT n_chars < 250 AS gs,
         |    len(list_distinct(tk)) * 3 < len(tk) AS gr,
         |    len(list_filter(tk, t -> t IN ('the', 'of', 'and'))) * 5
         |      >= len(tk) AS gb
         |  FROM tk),
         |a AS (SELECT
         |    CAST(sum(CASE WHEN gs THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ns,
         |    CAST(sum(CASE WHEN gr THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nr,
         |    CAST(sum(CASE WHEN gb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nb,
         |    CAST(sum(CASE WHEN gs AND gr THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nsr,
         |    CAST(sum(CASE WHEN gs AND gb THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nsb,
         |    CAST(sum(CASE WHEN gr AND gb THEN 1 ELSE 0 END)
         |      AS BIGINT) AS nrb
         |  FROM fl),
         |m AS (
         |  SELECT 'g_block' AS gate_a, 'g_repeat' AS gate_b,
         |    nb AS n_a, nr AS n_b, nrb AS n_both FROM a
         |  UNION ALL SELECT 'g_block', 'g_short', nb, ns, nsb FROM a
         |  UNION ALL SELECT 'g_repeat', 'g_short', nr, ns, nsr FROM a)
         |SELECT gate_a, gate_b, n_a, n_b, n_both,
         |  CASE WHEN n_a + n_b - n_both = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n_both AS DOUBLE)
         |      / (n_a + n_b - n_both) AS DECIMAL(20,10)), 4)
         |      AS DOUBLE) END AS jaccard
         |FROM m""".stripMargin,
    // Same (ts, event_id) position order, same first/last-occurrence
    // order algebra for pairs and betweenness witness for triples.
    "q266_sequence_patterns" ->
      """WITH pos AS (SELECT user_id AS u, event_type AS ty,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pos
        |  FROM events),
        |ext AS (SELECT u, ty, CAST(min(pos) AS BIGINT) AS fp,
        |    CAST(max(pos) AS BIGINT) AS lp
        |  FROM pos GROUP BY 1, 2),
        |nn AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n FROM ext),
        |pr AS (SELECT a.ty || '>' || b.ty AS pattern,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM ext a JOIN ext b ON a.u = b.u AND a.fp < b.lp
        |  GROUP BY 1),
        |tr AS (SELECT at || '>' || bt || '>' || ct AS pattern,
        |    CAST(count(*) AS BIGINT) AS n_users
        |  FROM (SELECT DISTINCT p.u, ea.ty AS at, p.ty AS bt,
        |      ec.ty AS ct
        |    FROM pos p JOIN ext ea ON ea.u = p.u
        |    JOIN ext ec ON ec.u = p.u
        |    WHERE p.pos > ea.fp AND p.pos < ec.lp)
        |  GROUP BY 1),
        |u AS (SELECT * FROM pr UNION ALL SELECT * FROM tr)
        |SELECT pattern, n_users,
        |  CAST(round(CAST(CAST(n_users AS DOUBLE) / n
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS support
        |FROM u CROSS JOIN nn""".stripMargin,
    // Same one-iteration Lloyd chain + nprobe=2 probe (q125's CTEs at
    // k=10), the SAME inlined cfp literals, same (query, neighbor)
    // match join and /1e7 snap.
    "q238_rbo" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (${l2aSql("c0")}),
         |c1 AS (${l2MeanSql("a0")}),
         |a1 AS (${l2aSql("c1")}),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |ap AS (SELECT qid, nid, rnk AS ra FROM (
         |  SELECT qc.qid, a.id AS nid,
         |    row_number() OVER (PARTITION BY qc.qid
         |      ORDER BY round(${sqdSql("qc.qv", "a.vec")}, 6), a.id)
         |      AS rnk
         |  FROM (SELECT qid, qv, cell FROM (
         |    SELECT q.id AS qid, q.vec AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(${sqdSql("q.vec", "c.cvec")}, 6),
         |          c.cid) AS pr
         |    FROM q CROSS JOIN c1 c) WHERE pr <= 2) qc
         |  JOIN a1 a ON qc.cell = a.cell AND qc.qid != a.id)
         |  WHERE rnk <= 10),
         |tr AS (SELECT query_id, neighbor_id, rnk AS rb FROM (
         |  SELECT q.id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "c.embedding")}, 6),
         |        c.vec_id) AS rnk
         |  FROM q JOIN embeddings c ON q.id != c.vec_id)
         |  WHERE rnk <= 10),
         |mt AS (SELECT tr.query_id,
         |    ([${rboCfp(10).mkString(", ")}])[greatest(ap.ra, tr.rb)]
         |      AS cfp
         |  FROM tr JOIN ap ON ap.qid = tr.query_id
         |    AND ap.nid = tr.neighbor_id),
         |ag AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common,
         |    CAST(sum(cfp) AS BIGINT) AS rbofp FROM mt GROUP BY 1)
         |SELECT q.id AS query_id,
         |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
         |  CAST(round(CAST(CAST(coalesce(rbofp, 0) AS DOUBLE) / 1e7
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS rbo
         |FROM q LEFT JOIN ag ON ag.query_id = q.id""".stripMargin,
    // The naive BETWEEN join the engine's grid blocking must equal.
    "q92_range_join" ->
      """SELECT o_orderkey, count(*) AS n_pts,
        |  round(sum(l_quantity), 2) AS qty_sum
        |FROM orders JOIN lineitem
        |  ON CAST(l_shipdate AS DATE)
        |    BETWEEN CAST(o_orderdate AS DATE)
        |    AND CAST(o_orderdate AS DATE) + 3
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,
    // Native EXCEPT/INTERSECT — Catalyst's anti/semi-join plans must
    // produce the same distinct sets.
    "q96_set_ops" ->
      """WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE year(CAST(o_orderdate AS DATE)) = 1995),
        |c96 AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE year(CAST(o_orderdate AS DATE)) = 1996),
        |seg AS (
        |  SELECT 'only_1995' AS segment, o_custkey
        |  FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96)
        |  UNION ALL
        |  SELECT 'only_1996' AS segment, o_custkey
        |  FROM (SELECT * FROM c96 EXCEPT SELECT * FROM c95)
        |  UNION ALL
        |  SELECT 'both' AS segment, o_custkey
        |  FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96))
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers
        |FROM seg GROUP BY 1""".stripMargin,
    "q84_topn_per_group" ->
      """SELECT o_orderpriority, o_totalprice,
        |  CAST(dense_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC) AS INT) AS rk
        |FROM orders QUALIFY rk <= 3""".stripMargin,
    // Horner fold, same recurrence as Text.rollingHash — NO token cap on
    // either side (the earlier positional power-table oracle silently
    // went NULL→0 past 512 tokens, a parity trap; ADVICE round 2).
    // list_reduce seeds with the first element, which equals the
    // engine's (0*31 + h₁) mod P first step since h₁ < P.
    "q39_rolling_hash" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN len(tk) = 0 THEN 0 ELSE
         |    list_reduce([${h60("t")} % 2147483647 for t in tk],
         |                (acc, h) -> (acc * 31 + h) % 2147483647) END AS BIGINT) AS rh
         |FROM (SELECT doc_id, $tokSql AS tk FROM documents)""".stripMargin,
    "q52_asof_join" ->
      """WITH t AS (SELECT event_id, user_id, ts, value AS trade_v
        |  FROM events WHERE event_type = 'purchase'),
        |q AS (SELECT user_id, ts, value AS quote_v
        |  FROM events WHERE event_type = 'view')
        |SELECT event_id, t.user_id AS user_id, trade_v, quote_v
        |FROM t ASOF LEFT JOIN q
        |  ON t.user_id = q.user_id AND t.ts >= q.ts""".stripMargin
  )
}
