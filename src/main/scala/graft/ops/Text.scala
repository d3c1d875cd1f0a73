package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv, tdiv}

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, fingerprinting,
  * shingling. All pure Column expressions over built-in / higher-order
  * functions — no UDFs — so every operator stays inside whole-stage
  * codegen and scales linearly with the scan (one pass, no shuffle until
  * the caller aggregates).
  *
  * The reference warehouse has no text surface; these extend it toward the
  * LLM-data-pipeline capabilities the engine is graded on (BASELINE.json
  * north star).
  */
object Text {

  /** Tiny per-language function-word lists for the n-gram/stopword
    * language-ID heuristic. Deliberately small: the heuristic's contract
    * is determinism + one-pass evaluation, not linguistic accuracy.
    */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "to", "and")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ein")
  val StopwordsEs: Seq[String] = Seq("el", "la", "de", "y", "que")
  val StopwordsFr: Seq[String] = Seq("le", "la", "de", "et", "les")

  /** Whitespace tokenization of lowercased text; empty tokens dropped so
    * blank/empty documents yield an empty array (not [""]).
    */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Type-token ratio: distinct tokens / tokens — a lexical-diversity
    * quality signal. Null-safe: 0 for empty docs.
    */
  def typeTokenRatio(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks))

  /** Fraction of tokens found in `words` (stopword density). */
  def wordListRatio(toks: Column, words: Seq[String]): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        size(filter(toks, t => t.isInCollection(words))).cast("double") /
          size(toks))

  /** Composite document-quality score in [0,1]:
    * 0.4·length saturation (100 tokens = full marks) +
    * 0.3·stopword density + 0.3·lexical diversity. Rounded to 4.
    * Tokenization bound once (Cols.bound) — the three components share
    * one token array instead of re-splitting per term.
    */
  def qualityScore(text: Column): Column =
    Cols.bound(tokens(text)) { toks =>
      // the 0.4/0.3-weighted sum of rationals can land a hair BELOW an
      // exact .xxxx5 in binary while an engine that rounds via
      // multiply-then-rint sees it AT the half — snapping through
      // decimal(20,10) first makes the 4-place round engine-portable
      // (observed: doc with score 0.49025 → 0.4902 vs 0.4903)
      round(
        (lit(0.4) * least(lit(1.0), size(toks).cast("double") / 100.0) +
          lit(0.3) * wordListRatio(toks, StopwordsEn) +
          lit(0.3) * typeTokenRatio(toks)).cast("decimal(20,10)"),
        4).cast("double")
    }

  /** Deterministic language-ID: argmax of per-language stopword density,
    * ties and all-zero scores resolved in a fixed order (en,de,es,fr) with
    * fallback "und" (undetermined). One pass, no shuffle.
    */
  def langId(text: Column): Column =
    Cols.bound(tokens(text))(langIdFromTokens)

  /** [[langId]] over a pre-tokenized array — the segment-level face
    * ([[langConsistency]] scores windows of one doc's tokens).
    */
  def langIdFromTokens(toks: Column): Column = {
    val en = wordListRatio(toks, StopwordsEn)
    val de = wordListRatio(toks, StopwordsDe)
    val es = wordListRatio(toks, StopwordsEs)
    val fr = wordListRatio(toks, StopwordsFr)
    val top = greatest(en, de, es, fr)
    when(top === 0.0, lit("und"))
      .when(en === top, lit("en"))
      .when(de === top, lit("de"))
      .when(es === top, lit("es"))
      .otherwise(lit("fr"))
  }

  /** LANGUAGE CONSISTENCY per document — the mixed-language screen
    * doc-level langid (q25) cannot see: a document that opens in one
    * language and drifts into another scores as its dominant family
    * at the doc level while poisoning monolingual training slices.
    * Non-overlapping `segTokens`-token windows each classify
    * independently; per doc: segment count, the DOMINANT language
    * (max segments, lexicographic tie), its segment count, and the
    * distinct-language count (> 1 = mixed). Empty docs emit nothing
    * (no segments to classify — the q25 convention). Scale shape:
    * one generator over per-doc window starts, doc-bounded windows
    * for the mode.
    */
  def langConsistency(docs: DataFrame, id: Column, text: Column,
                      segTokens: Int): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    val segs = docs
      .select(id.cast("long").as("doc_id"), tokens(text).as("tk"))
      .select(col("doc_id"), col("tk"),
        posexplode(when(size(col("tk")) === 0,
            array().cast("array<int>"))
          .otherwise(sequence(lit(1), size(col("tk")), lit(segTokens))))
          .as(Seq("seg_id", "start")))
      .select(col("doc_id"),
        langIdFromTokens(slice(col("tk"), col("start"), lit(segTokens)))
          .as("lang"))
    val cnt = segs.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("c").desc, col("lang"))
    cnt.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_segments"),
        max(when(col("rn") === 1, col("lang"))).as("dominant_lang"),
        max(when(col("rn") === 1, col("c"))).as("dominant_segments"),
        count(lit(1)).as("distinct_langs"))
  }

  /** Content fingerprint: md5 over whitespace-normalized lowercase text.
    * The exact-dedup key — identical logical content hashes identically
    * regardless of spacing/case.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Strip INVISIBLE characters — zero-width space/non-joiner/joiner,
    * BOM, soft hyphen: bytes that render as nothing and break every
    * byte-level dedup key while leaving the text looking identical
    * (the classic crawl-mirror false-negative next to NFC, q377).
    */
  def stripInvisible(text: Column): Column =
    regexp_replace(text,
      "[\\u200B\\u200C\\u200D\\uFEFF\\u00AD]", "")

  /** Collapse whitespace runs to single spaces and trim — with an
    * EXPLICIT class, not \s: Java's \s includes vertical tab, RE2's
    * (DuckDB's) does not, so \s-based canonicalization diverges
    * cross-engine on exotic whitespace.
    */
  def collapseWhitespace(text: Column): Column =
    trim(regexp_replace(text, "[ \t\n\r\f]+", " "))

  /** BPE-ish subword tokenization: letter runs, digit runs, and single
    * non-alphanumeric marks — the shape of a byte-pair pre-tokenizer's
    * split pattern, engine-portable (no lookarounds). Feeds token-count
    * estimation for LLM-corpus budgeting.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** Pairwise KL divergence between per-source token distributions —
    * the information-theoretic corpus-comparison signal next to the
    * binned PSI (q90) and the set-level vocabulary Jaccard (q168):
    * KL(a‖b) = Σ_t p_a(t)·ln(p_a(t)/p_b(t)) over the UNION vocabulary
    * with add-one smoothing (so zero counts never divide by zero and
    * the sum is finite). Work is |source pairs|·|vocabulary| — bounded
    * by the vocabulary, never the corpus; the only corpus-sized stage
    * is the (source, token) count. Each term snaps to ×1e9 fixed
    * point pre-sum (order-free — the q72 surprisal convention; the
    * one ln per term is the only libm call and its argument is an
    * exact integer ratio). Output: (source_a, source_b, kl) for every
    * ORDERED pair (KL is asymmetric).
    */
  def sourceKlDivergence(docs: DataFrame, source: Column,
                         text: Column): DataFrame = {
    val tok = docs.select(source.as("source"),
      explode(tokens(text)).as("tok"))
    val cnt = tok.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val voc = cnt.select(col("tok")).distinct()
    val vc = voc.agg(count(lit(1)).as("v"))
    val pairs = tot.as("x").join(tot.as("y"),
        col("x.source") =!= col("y.source"))
      .select(col("x.source").as("sa"), col("x.n").as("na"),
        col("y.source").as("sb"), col("y.n").as("nb"))
    val sup = voc.crossJoin(broadcast(pairs)).crossJoin(broadcast(vc))
    val j = sup
      .join(cnt.select(col("source").as("sa"), col("tok"),
        col("c").as("ca")), Seq("sa", "tok"), "left")
      .join(cnt.select(col("source").as("sb"), col("tok"),
        col("c").as("cb")), Seq("sb", "tok"), "left")
      .select(col("sa"), col("sb"),
        ((coalesce(col("ca"), lit(0L)) + 1).cast("double") /
          (col("na") + col("v")).cast("double")).as("pa"),
        ((coalesce(col("cb"), lit(0L)) + 1).cast("double") /
          (col("nb") + col("v")).cast("double")).as("pb"))
    j.select(col("sa"), col("sb"),
        round(col("pa") * log(col("pa") / col("pb")) * lit(1e9))
          .cast("long").as("tf"))
      .groupBy(col("sa").as("source_a"), col("sb").as("source_b"))
      .agg(round((sum(col("tf")).cast("double") / lit(1e9))
        .cast("decimal(20,10)"), 4).cast("double").as("kl"))
  }

  /** JENSEN–SHANNON divergence of each source's token distribution vs
    * the REST of the pool — the SYMMETRIC, ln2-bounded companion to
    * [[sourceKlDivergence]] (KL explodes on disjoint support and
    * depends on direction; JS is the mixture-referenced average both
    * drift dashboards and mixture tuners actually plot):
    * JS = ½Σ_t [p·ln(p/m) + q·ln(q/m)], m = (p+q)/2, with 0·ln0 = 0 —
    * no smoothing needed, m > 0 on the union support by construction.
    *
    * Scale shape: the corpus-sized stage is the (source, token)
    * count; the term grid is vocabulary × sources (the KL precedent)
    * with the per-source totals broadcast. Each row's term snaps to
    * ×1e9 fixed point pre-sum; the two ln calls take exact-integer-
    * ratio arguments. A source that owns the ENTIRE pool has no rest
    * to compare against — js is null for it (the wassersteinVsRest
    * convention), never NaN. Output: (source, n_tokens, js).
    */
  def sourceJsVsRest(docs: DataFrame, source: Column,
                     text: Column): DataFrame = {
    val tok = docs.select(source.as("source"),
      explode(tokens(text)).as("tok"))
    val cnt = tok.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val ns = cnt.groupBy(col("source")).agg(sum(col("c")).as("n_g"))
    val nAll = ns.agg(sum(col("n_g")).as("n_tot"))
    val grid = tot.crossJoin(broadcast(ns))
      .crossJoin(broadcast(nAll))
      .join(cnt, Seq("source", "tok"), "left")
      .select(col("source"), col("n_g"),
        coalesce(col("c"), lit(0L)).as("cg"),
        (col("ct") - coalesce(col("c"), lit(0L))).as("cr"),
        (col("n_tot") - col("n_g")).as("n_r"))
    val pa = col("cg").cast("double") / col("n_g").cast("double")
    // n_r = 0 means this source IS the whole pool — 0/0 would poison
    // m with NaN; qb→0 keeps the row arithmetic clean and the final
    // agg emits null js for that source (wassersteinVsRest convention).
    val qb = when(col("n_r") > 0,
      col("cr").cast("double") / col("n_r").cast("double"))
      .otherwise(lit(0.0))
    val m = (pa + qb) / lit(2.0)
    grid
      .select(col("source"), col("n_g"), col("n_r"),
        round((when(col("cg") > 0, pa * log(pa / m)).otherwise(lit(0.0))
          + when(col("cr") > 0, qb * log(qb / m)).otherwise(lit(0.0)))
          * lit(0.5) * lit(1e9)).cast("long").as("tf"))
      .groupBy(col("source"), col("n_g").as("n_tokens"))
      .agg(when(max(col("n_r")) === 0, lit(null).cast("double"))
        .otherwise(round((sum(col("tf")).cast("double") / lit(1e9))
          .cast("decimal(20,10)"), 4).cast("double")).as("js"))
  }

  /** DISTINGUISHING TERMS per source via log-odds with an informative
    * Dirichlet prior (Monroe–Colaresi–Quinn 2008, "Fightin' Words") —
    * the data-curation read on "what makes this source different":
    * per (source, token), δ = ln((y_sw+1)/(n_s+V−y_sw−1)) −
    * ln((y_rest+1)/(n_rest+V−y_rest−1)) against the REST of the
    * corpus, scaled to a z-score by the prior-smoothed variance
    * 1/(y_sw+1) + 1/(y_rest+1); raw TF-IDF-style ratios overweight
    * rare tokens — the z-scaling is the point of the method. All
    * counts are exact integers off two hash aggregates (token-key,
    * then source-key — never corpus²); z snaps ×1e6 per (source,
    * token); top-k per source ranks the vocabulary-sized score table
    * by (z desc, term) under a per-source window (q84's top-N-per-group
    * economics). Output: (source, rnk, term, n_in_source, z).
    */
  def logOddsTerms(docs: DataFrame, source: Column, text: Column,
                   topK: Int): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val tok = docs.select(source.as("src"), explode(tokens(text)).as("tok"))
    val ysw = tok.groupBy(col("src"), col("tok"))
      .agg(count(lit(1)).as("ysw"))
    val yw = ysw.groupBy(col("tok")).agg(sum(col("ysw")).as("yw"))
    val ns = ysw.groupBy(col("src")).agg(sum(col("ysw")).as("ns"))
    val tot = ysw.agg(sum(col("ysw")).as("n"),
      countDistinct(col("tok")).as("v"))
    val scored = ysw.join(yw, Seq("tok"))
      .join(broadcast(ns), Seq("src")).crossJoin(broadcast(tot))
      .withColumn("yrest", col("yw") - col("ysw"))
      .withColumn("delta",
        log((col("ysw") + 1).cast("double") /
          (col("ns") + col("v") - col("ysw") - 1).cast("double")) -
          log((col("yrest") + 1).cast("double") /
            (col("n") - col("ns") + col("v") - col("yrest") - 1)
              .cast("double")))
      .withColumn("z_fp",
        round(lit(1e6) * col("delta") /
          sqrt(lit(1.0) / (col("ysw") + 1).cast("double") +
            lit(1.0) / (col("yrest") + 1).cast("double"))).cast("long"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("z_fp").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("src").as("source"), col("rnk"), col("tok").as("term"),
        col("ysw").as("n_in_source"),
        round((col("z_fp").cast("double") / lit(1e6))
          .cast("decimal(20,10)"), 4).cast("double").as("z"))
  }

  /** ZIPF rank-frequency fit over the corpus vocabulary — the "is this
    * corpus shaped like natural language" read (slope ≈ −1 on organic
    * text; templated/generated corpora run flat or cliffy): ln(rank)
    * vs ln(count) OLS over the `topN` most frequent tokens. The
    * vocabulary aggregates in ONE hash aggregate; the head cut is
    * sort+limit (TakeOrderedAndProject — never a global sort); the
    * topN-row head ranks under one explicit constant partition; both
    * logs snap ×1e6 so the regression is [[graft.ops.Profile.olsTrend]]'s
    * exact DECIMAL moment algebra. Output: (corpus='topN', n, slope, r).
    */
  def zipfFit(docs: DataFrame, text: Column, topN: Int): DataFrame = {
    require(topN >= 2, "topN must be >= 2")
    val vf = docs.select(explode(tokens(text)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val top = vf.orderBy(col("cnt").desc, col("tok")).limit(topN)
    val w = Window.partitionBy(Cols.onePartitionKey(col("tok")))
      .orderBy(col("cnt").desc, col("tok"))
    val pts = top.withColumn("rnk", row_number().over(w))
      .select(round(log(col("rnk").cast("double")) * lit(1e6))
        .cast("long").as("lx"),
        round(log(col("cnt").cast("double")) * lit(1e6))
          .cast("long").as("ly"))
    Profile.olsTrend(pts.withColumn("g", lit(s"top$topN")), col("g"),
      col("lx"), col("ly"))
      .withColumnRenamed("g", "corpus")
  }

  /** HEAPS' LAW fit — [[zipfFit]]'s companion corpus-shape read:
    * vocabulary growth V(n) ≈ K·n^β against tokens seen, the number
    * that predicts how much NEW vocabulary another 10× of this source
    * buys (β ≈ 0.4–0.6 on organic text; templated corpora saturate,
    * β → 0). The corpus splits into `checkpoints` equal doc-id-range
    * buckets; per bucket the token mass and the NEW-vocabulary count
    * (a token's first bucket = one min-aggregate on the token key —
    * cumulative distinct without any distinct-in-window), both
    * accumulated over the checkpoint-many rows under one constant
    * partition; ln V vs ln n snaps ×1e6 into
    * [[graft.ops.Profile.olsTrend]]'s exact moment algebra. Empty
    * buckets (sparse id ranges) drop out. `units` is the per-doc
    * ARRAY of vocabulary units — pass [[tokens]] for the classic
    * token law, or [[wordShingles]] when the token vocabulary is too
    * small to keep growing (n-gram vocabularies grow combinatorially,
    * so the curve stays informative on narrow-vocab corpora). Output:
    * one row (n_checkpoints, n_units, vocab, beta, r).
    */
  def heapsFit(docs: DataFrame, id: Column, units: Column,
               checkpoints: Int): DataFrame = {
    require(checkpoints >= 2, "checkpoints must be >= 2")
    val nn = docs.agg((max(id) + 1).as("mx"))
    val tok = docs.crossJoin(broadcast(nn))
      // floor-of-double bucketing (not a bare int cast: Spark casts
      // double→int by truncation, DuckDB by rounding — floor is the
      // form both engines agree on exactly)
      .select(least(lit(checkpoints - 1),
          floor(id * checkpoints / col("mx")).cast("int")).as("bkt"),
        explode(units).as("tok"))
    val perBkt = tok.groupBy(col("bkt")).agg(count(lit(1)).as("tc"))
    val newV = tok.groupBy(col("tok")).agg(min(col("bkt")).as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("vc"))
    val w = Window.partitionBy(Cols.onePartitionKey(col("bkt")))
      .orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = perBkt.join(newV, Seq("bkt"), "left")
      .withColumn("vc", coalesce(col("vc"), lit(0L)))
      .withColumn("n", sum(col("tc")).over(w))
      .withColumn("v", sum(col("vc")).over(w))
      .filter(col("n") > 0 && col("v") > 0)
    val fitted = Profile.olsTrend(
      pts.select(lit("heaps").as("g"),
        round(log(col("n").cast("double")) * lit(1e6))
          .cast("long").as("lx"),
        round(log(col("v").cast("double")) * lit(1e6))
          .cast("long").as("ly")),
      col("g"), col("lx"), col("ly"))
    val tot = pts.agg(max(col("n")).as("n_units"),
      max(col("v")).as("vocab"))
    fitted.crossJoin(broadcast(tot))
      .select(col("n").as("n_checkpoints"), col("n_units"),
        col("vocab"), col("slope").as("beta"), col("r"))
  }

  /** Byte-pair-encoding MERGE LEARNING — the distributed core of
    * tokenizer training: `rounds` greedy rounds of (count all adjacent
    * symbol pairs across the corpus, weighted by word frequency; pick
    * the most frequent pair, ties to the lexicographically smallest;
    * rewrite every word with the pair fused). Input is the DISTINCT
    * word table (`w`, `cnt`) — duplicate words collapse before any
    * per-symbol work (the q28 collapse-first economics), so each round
    * is one explode + one hash aggregate over vocabulary-sized data,
    * never corpus-sized.
    *
    * Words are framed as "(c1)(c2)…": applying a merge is then a
    * LITERAL string replace of "(a)(b)" → "(ab)". Adjacent matches
    * share no boundary characters under this framing, so left-to-right
    * non-overlapping replacement is well-defined and identical on any
    * engine (a space-separated framing is NOT: consecutive pairs share
    * the separator and replace() semantics diverge). Pair counting
    * enumerates every adjacent pair including overlapping runs
    * ("aaa" counts (a,a) twice) — the classic BPE counting rule.
    * Symbols must match ^[a-z0-9]+$ so the frame chars stay unambiguous.
    * Output: one row per round (round, sym_a, sym_b, pair_count).
    */
  def bpeLearnMerges(wordCounts: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    var words = bpeFrame(wordCounts)
    val perRound = (1 to rounds).map { r =>
      val best = bpeBestPair(words)
      words = bpeApplyMerge(words, best)
      best.select(lit(r).as("round"), col("a").as("sym_a"),
        col("b").as("sym_b"), col("pc").as("pair_count"))
    }
    perRound.reduce(_.unionByName(_))
  }

  /** BPE COMPRESSION CURVE — the companion audit to
    * [[bpeLearnMerges]]: after each greedy merge round, the corpus's
    * total symbol count (Σ word_count · symbols_per_word), i.e. how
    * much sequence length the learned vocabulary buys. Round 0 is the
    * character baseline. Same per-round economics as the learner
    * (vocabulary-sized work only). Output: (round, total_symbols).
    */
  def bpeCompressionCurve(wordCounts: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    def total(words: DataFrame, r: Int) =
      words.agg(sum(col("cnt") *
          size(split(expr("substring(w, 2, length(w) - 2)"), "\\)\\(")))
          .as("total_symbols"))
        .select(lit(r).as("round"), col("total_symbols"))
    var words = bpeFrame(wordCounts)
    val rows = total(words, 0) +: (1 to rounds).map { r =>
      words = bpeApplyMerge(words, bpeBestPair(words))
      total(words, r)
    }
    rows.reduce(_.unionByName(_))
  }

  /** APPLY a learned merge table to the distinct word table — the
    * tokenize step every packing/perplexity consumer needs upstream
    * of [[bpeLearnMerges]]'s training loop: fuse each (sym_a, sym_b)
    * pair in ROUND ORDER into every framed word, then unframe.
    * `merges` is (round, sym_a, sym_b) — [[bpeLearnMerges]]'s output
    * shape; it COLLECTS to the driver (vocabulary-rounds-sized, the
    * LinearModel bounded-collect discipline — a merge table is model
    * state, never data) and the application is `rounds` literal
    * replaces over the vocabulary-sized word table, each a codegen'd
    * string pass: corpus-scale cost is |vocab|·rounds, and the
    * corpus itself only ever joins the result by word. Same framing
    * contract as the learner (symbols match ^[a-z0-9]+$). Output one
    * row per distinct word: (w, cnt, symbols, n_symbols).
    */
  def bpeApplyMerges(wordCounts: DataFrame, merges: DataFrame): DataFrame = {
    val ms = merges.select(col("round"), col("sym_a"), col("sym_b"))
      .orderBy(col("round")).collect()
    val start = wordCounts.select(col("w"),
      regexp_replace(col("w"), "(.)", "($1)").as("fw"), col("cnt"))
    val done = ms.foldLeft(start)((df, r) =>
      df.withColumn("fw", replace(col("fw"),
        lit("(" + r.getString(1) + ")(" + r.getString(2) + ")"),
        lit("(" + r.getString(1) + r.getString(2) + ")"))))
    done
      .select(col("w"), col("cnt"),
        split(expr("substring(fw, 2, length(fw) - 2)"), "\\)\\(")
          .as("symbols"))
      .select(col("w"), col("cnt"), col("symbols"),
        size(col("symbols")).cast("long").as("n_symbols"))
  }

  /** Frame every symbol in parens: "ab" → "(a)(b)" (see
    * [[bpeLearnMerges]] for why this framing makes merges exact).
    */
  private def bpeFrame(wordCounts: DataFrame): DataFrame =
    wordCounts
      .select(regexp_replace(col("w"), "(.)", "($1)").as("w"), col("cnt"))

  /** The weighted-majority adjacent pair of a framed word table, ties
    * to the lexicographically smallest (a, b). One row (a, b, pc).
    */
  private def bpeBestPair(words: DataFrame): DataFrame = {
    val pairs = words.select(col("cnt"),
      explode(Cols.bound(
        split(expr("substring(w, 2, length(w) - 2)"), "\\)\\("))(s =>
        when(size(s) >= 2,
          transform(sequence(lit(0), size(s) - 2), i =>
            struct(element_at(s, i + 1).as("a"),
              element_at(s, i + 2).as("b"))))
          .otherwise(array()
            .cast("array<struct<a:string,b:string>>")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("cnt"))
    pairs.groupBy(col("a"), col("b"))
      .agg(sum(col("cnt")).as("pc"))
      .orderBy(col("pc").desc, col("a"), col("b")).limit(1)
  }

  /** Fuse `best`'s pair in every framed word (literal replace — see
    * [[bpeLearnMerges]]).
    */
  private def bpeApplyMerge(words: DataFrame, best: DataFrame): DataFrame =
    words.crossJoin(broadcast(best))
      .select(replace(col("w"),
        concat(lit("("), col("a"), lit(")("), col("b"), lit(")")),
        concat(lit("("), col("a"), col("b"), lit(")"))).as("w"),
        col("cnt"))

  /** Polynomial rolling-hash document fingerprint over the token stream:
    * Σ H(tᵢ)·31^(n−1−i) mod P — the order-sensitive cousin of the md5
    * fingerprint (re-ordered tokens hash differently). H is the portable
    * 60-bit md5 hash mod P (Dedup.hashLong).
    *
    * Evaluated as a Horner fold (acc·31 + h mod P) — algebraically equal
    * to the positional power sum for EVERY document length, with no
    * precomputed power table to exhaust (the earlier table-driven form
    * silently mis-hashed documents past 512 tokens). One interpreted
    * fold per doc; the element hashes are the fold input, so each md5 is
    * computed exactly once.
    */
  def rollingHash(toks: Column): Column = {
    val p = Dedup.P
    aggregate(transform(toks, t => pmod(Dedup.hashLong(t), lit(p))),
      lit(0L), (acc, h) => pmod(acc * 31 + h, lit(p)))
  }

  /** TF-IDF top-k terms per document — the corpus-relevance staple of a
    * training-data pipeline (keyword extraction, topic balance audits).
    *
    * Scale shape: one explode + two hash aggregates (term frequency per
    * doc, document frequency per term — both map-side partial), a
    * shuffle equi-join on `term` (high-cardinality vocabulary key, no
    * hot spots after stopwords spread across docs), the corpus size as
    * a broadcast 1-row aggregate, and a per-doc top-k window (partition
    * = doc, tiny sorts). Nothing driver-side.
    *
    * tfidf = tf · ln(N/df), snapped through decimal(20,10) before the
    * 4-place round so engine libm ulp noise cannot flip the rounding.
    * Deterministic ranking: score desc, then term.
    */
  def tfidfTopTerms(docs: DataFrame, id: String, text: Column,
                    k: Int): DataFrame = {
    val terms = docs.select(col(id).as("id"), explode(tokens(text)).as("term"))
    val tf = terms.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.distinct().groupBy("term")
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col(id)).as("n_docs"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round((col("tf") * log(col("n_docs").cast("double") / col("df")))
          .cast("decimal(20,10)"), 4).cast("double"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("id"), col("term"), col("tfidf"), col("rnk"))
  }

  /** PII patterns safe to match structurally (emails, dashed/dotted
    * phone numbers). Deliberately engine-portable: no lookarounds, no
    * word boundaries — the same pattern string runs under Java regex
    * and RE2, and both engines share greedy leftmost semantics here.
    * Names/addresses need NER models and are out of scope for a regex
    * scrubber (the honest contract: structural PII only).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"

  /** Redact structural PII: emails → <EMAIL>, phone numbers → <PHONE>.
    * Pure codegen'd regexp_replace chain — the pre-training scrub pass,
    * one pass over the scan, no shuffle.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  def piiEmailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0)))

  /** Phone matches are counted AFTER email redaction so digit runs
    * inside an address never double-count.
    */
  def piiPhoneCount(text: Column): Column =
    size(regexp_extract_all(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      lit(PhonePattern), lit(0)))

  /** Candidate payment-card digit runs: MAXIMAL digit runs of PAN
    * length (13–16). Maximal-run extraction (greedy `[0-9]+`, then a
    * length filter) needs no lookaround — RE2 engines (DuckDB) have
    * none — and correctly rejects a 20-digit run instead of carving
    * card-shaped windows out of it.
    */
  def luhnCandidates(text: Column): Column =
    filter(regexp_extract_all(text, lit("[0-9]+"), lit(0)),
      s => length(s) >= 13 && length(s) <= 16)

  /** LUHN mod-10 checksum validity of a digit string — the checksum
    * a real PAN carries, so a digit run that also passes Luhn is a
    * far stronger card signal than the regex alone (≈10× fewer false
    * positives: a random digit run passes 1-in-10). Pure integer HOF
    * fold (1-based position i, doubled when the from-right position
    * L−i+1 is even, 2d−9 digit-sum fold), usable on lambda variables
    * (no bound-column tricks), exact on any engine.
    */
  def luhnValid(s: Column): Column = {
    val L = length(s)
    val total = aggregate(sequence(lit(1), L), lit(0L), (acc, i) => {
      val d = (ascii(s.substr(i, lit(1))) - 48).cast("long")
      acc + when(pmod(L - i, lit(2)) === 1,
        d * 2 - when(d >= 5, 9L).otherwise(0L)).otherwise(d)
    })
    pmod(total, lit(10)) === 0
  }

  /** PAYMENT-CARD PII audit per group — the hygiene read a corpus
    * release runs beside [[piiEmailCount]]/[[piiPhoneCount]]: per
    * group the candidate card-shaped digit runs, how many actually
    * carry a valid Luhn checksum, and the share of documents flagged
    * (≥ 1 valid PAN). One scan, map-side-combinable counts, one
    * floor per group; payload texts never shuffle — only the counts
    * do. Output per group: (grp, n_docs, n_candidates, n_luhn_valid,
    * n_docs_flagged, flag_micro).
    */
  def ccLuhnAudit(df: DataFrame, group: Column,
                  text: Column): DataFrame = {
    df
      .select(group.as("grp"), luhnCandidates(text).as("cands"))
      .select(col("grp"), size(col("cands")).as("nc"),
        size(filter(col("cands"), s => luhnValid(s))).as("nv"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).cast("long").as("n_candidates"),
        sum(col("nv")).cast("long").as("n_luhn_valid"),
        sum(when(col("nv") > 0, 1L).otherwise(0L))
          .as("n_docs_flagged"))
      .withColumn("flag_micro",
        fdiv(dec(col("n_docs_flagged")) * lit(1000000L),
          dec(col("n_docs"))))
  }

  /** FLESCH–KINCAID grade level per group (Kincaid 1975) — the
    * classic readability score beside [[qualityScore]]'s
    * structural ratios: grade = 0.39·(words/sentences) +
    * 11.8·(syllables/words) − 15.59, with syllables approximated by
    * VOWEL GROUPS (`[aeiouy]+` runs — the standard cheap estimator;
    * word boundaries split groups for free) and sentences by
    * terminal-punctuation runs (`[.!?]+`, floor 1). All-integer
    * micro arithmetic: the two ratios are single floors, the
    * constants are exact micro literals — the grade is reproducible
    * to the digit on any engine, which a float Flesch never is.
    * One scan, one per-group aggregate averaging the per-doc snapped
    * grades. Output per group: (grp, n_docs, n_words, n_sentences,
    * n_syllables, grade_micro_avg).
    */
  def readabilityGrade(df: DataFrame, group: Column,
                       text: Column): DataFrame = {
    val perDoc = df
      .select(group.as("grp"),
        tokenCount(text).cast("long").as("w"),
        greatest(lit(1L),
          size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))
            .cast("long")).as("s"),
        size(regexp_extract_all(lower(text), lit("[aeiouy]+"),
          lit(0))).cast("long").as("sy"))
      .withColumn("grade",
        when(col("w") === 0, lit(null).cast("long"))
          .otherwise(fdiv(lit(390000L) * col("w"), col("s")) +
            fdiv(lit(11800000L) * col("sy"), col("w")) -
            15590000L))
    perDoc.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sentences"),
        sum(col("sy")).as("n_syllables"),
        when(count(col("grade")) === 0, lit(null).cast("long"))
          .otherwise(tdiv(sum(dec(col("grade"))),
            dec(count(col("grade"))))).as("grade_micro_avg"))
  }

  /** MIXED-SCRIPT (confusable/spoofing) audit per group — the Unicode
    * hygiene read beside [[stripInvisible]] and the NFC
    * canonicalizer: a token carrying BOTH Latin and Cyrillic letters
    * is the classic homoglyph-spoof / mojibake signal (а and a are
    * different code points that render identically; mixed tokens
    * defeat exact dedup and poison vocabularies). Counts tokens
    * matching both `[A-Za-z]` and `[Ѐ-ӿ]` (an RE2-portable
    * class pair — no properties, no lookaround), docs flagged, one
    * floor per group. One scan, map-side counts; text never
    * shuffles. Output per group: (grp, n_docs, n_tokens,
    * n_mixed_tokens, n_docs_flagged, flag_micro).
    */
  def mixedScriptAudit(df: DataFrame, group: Column,
                       text: Column): DataFrame = {
    df
      .select(group.as("grp"), tokens(text).as("tk"))
      .select(col("grp"), size(col("tk")).cast("long").as("nt"),
        size(filter(col("tk"), t =>
          t.rlike("[A-Za-z]") && t.rlike("[\\u0400-\\u04FF]")))
          .cast("long").as("nm"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("nm")).as("n_mixed_tokens"),
        sum(when(col("nm") > 0, 1L).otherwise(0L))
          .as("n_docs_flagged"))
      .withColumn("flag_micro",
        fdiv(dec(col("n_docs_flagged")) * lit(1000000L),
          dec(col("n_docs"))))
  }

  /** In-document repetition score (the Gopher/RefinedWeb-style quality
    * gate): 1 − distinct n-grams / total n-grams ∈ [0,1] — 0 for fully
    * novel text, → 1 for degenerate repetition; 0 for docs shorter than
    * n tokens. Snapped through decimal(20,10) before the 4-place round
    * (engine-portable rounding, same as qualityScore).
    */
  def repetitionScore(text: Column, n: Int): Column =
    Cols.bound(tokens(text)) { t =>
      val total = size(t) - (n - 1)
      when(size(t) < n, lit(0.0)).otherwise(
        round((lit(1.0) - size(wordShingles(t, n)).cast("double") / total)
          .cast("decimal(20,10)"), 4).cast("double"))
    }

  /** Per-document mean unigram surprisal −Σᵢ ln p(tokᵢ) / n, with
    * p(tok) = corpus tf / corpus total — the cheap language-model
    * perplexity proxy pipelines gate low-quality text on (a KenLM
    * stand-in with an honest contract: unigram only). Output:
    * (id, n_tokens, avg_surprisal), docs with ≥1 token.
    *
    * Scale shape: corpus counts are ONE hash aggregate (hot tokens like
    * "the" collapse map-side before the shuffle) and come back as a
    * BROADCAST — the corpus-sized posting stream is never shuffled on
    * the skewed token key; the only other exchange is the per-doc
    * aggregate on the well-distributed id. Vocabulary must fit a
    * broadcast (tens of millions of types — fine); salt the join if a
    * corpus ever breaks that.
    *
    * Cross-engine determinism: each term's surprisal is snapped to
    * fixed-point (×10⁶, BIGINT) BEFORE the per-doc sum, so the sum is
    * exact and order-free (NOTES lesson: never hash-compare an
    * order-sensitive double sum); the mean then rounds through
    * decimal(20,10) to 4 places.
    */
  def unigramSurprisal(docs: DataFrame, id: String, text: Column): DataFrame = {
    val toks = docs.select(col(id).as("id"), explode(tokens(text)).as("tok"))
    val cf = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cf), "tok")
      .crossJoin(broadcast(total))
      .withColumn("surp_fp",
        round(-log(col("tf").cast("double") / col("n_total")) * 1e6).cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("surp_fp")).as("fp"))
      .select(col("id"), col("n_tokens"),
        round((col("fp").cast("double") / (col("n_tokens") * 1e6))
          .cast("decimal(20,10)"), 4).cast("double").as("avg_surprisal"))
  }

  /** Fixed-size token-window chunking with overlap — the context-length
    * packing primitive of an LLM training pipeline (a 100k-token document
    * becomes ~2k overlapping training sequences). Output one row per
    * chunk: (id, chunk_id, n_tokens, chunk_fp) where chunk_fp is the md5
    * of the space-joined chunk (compact + cross-engine checkable; callers
    * wanting the text swap `md5` for `array_join` at the same cost).
    *
    * Chunk starts are 1, 1+stride, 1+2·stride, … while ≤ token count, so
    * the final chunk may be shorter than `size` (never empty) and every
    * token belongs to ≥1 chunk when stride ≤ size. Zero-token documents
    * emit no rows (inner explode of an empty start list).
    *
    * Scale shape: one codegen'd pass over the scan — tokenize, build the
    * start list, explode, slice. No shuffle at all; the output inherits
    * the input partitioning, so a downstream repartition is the caller's
    * (budget-aware) choice. The token array is bound once per row.
    */
  def chunkTokens(docs: DataFrame, id: String, text: Column,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(stride >= 1 && chunkSize >= 1, "chunkSize and stride must be >= 1")
    docs.select(col(id).as("id"), tokens(text).as("tk"))
      .select(col("id"), col("tk"),
        posexplode(
          when(size(col("tk")) === 0, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(col("tk")), lit(stride))))
          .as(Seq("chunk_id", "start")))
      .select(col("id"), col("chunk_id"),
        size(slice(col("tk"), col("start"), lit(chunkSize))).as("n_tokens"),
        md5(array_join(slice(col("tk"), col("start"), lit(chunkSize)), " "))
          .as("chunk_fp"))
  }

  /** Adjacent-bigram PMI — collocation mining over a corpus: for every
    * token bigram seen ≥ `minCount` times, pointwise mutual information
    * ln(p(ab) / (p(a)·p(b))) with p(ab) over bigram occurrences and
    * p(a), p(b) over unigram occurrences. High-PMI pairs are the
    * multi-word expressions ("new york") tokenizer and phrase-mining
    * passes promote. Output (a, b, n_ab, pmi), pmi rounded to 4.
    *
    * Scale shape: bigram extraction is a zero-shuffle codegen pass
    * (token array bound once, O(1) element_at windows); the only
    * corpus-sized shuffle is the hash aggregate on the (a,b) key —
    * hot bigrams collapse map-side. Unigram counts and the two totals
    * are vocabulary-sized and come back as BROADCASTs, never a
    * shuffled join (q72's posting-stream rule). The `minCount` filter
    * runs before the unigram joins, so the PMI arithmetic touches
    * only surviving pairs.
    *
    * Cross-engine determinism: counts are exact integers; the PMI is
    * ONE fixed-order double chain (each count divided by its total
    * first — the ratios stay near 1 and never overflow, unlike the
    * cross-multiplied integer form at corpus scale) snapped through
    * decimal(20,10) before the 4-place round.
    */
  def bigramPmi(docs: DataFrame, text: Column,
                minCount: Long): DataFrame = {
    val tk = docs.select(tokens(text).as("tk"))
    val bi = tk.select(explode(Cols.bound(col("tk")) { t =>
        when(size(t) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(t) - 1),
            i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
      }).as("ab"))
      .select(split(col("ab"), " ").getItem(0).as("a"),
        split(col("ab"), " ").getItem(1).as("b"))
    val uni = tk.select(explode(col("tk")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_uni"))
    val nUni = uni.agg(sum(col("n_uni")).as("n_u"))
    val pairs = bi.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
    val nBi = pairs.agg(sum(col("n_ab")).as("n_b_tot"))
    pairs.filter(col("n_ab") >= minCount)
      .join(broadcast(uni.select(col("tok").as("a"),
        col("n_uni").as("n_a"))), "a")
      .join(broadcast(uni.select(col("tok").as("b"),
        col("n_uni").as("n_b"))), "b")
      .crossJoin(broadcast(nBi))
      .crossJoin(broadcast(nUni))
      .select(col("a"), col("b"), col("n_ab"),
        round(log((col("n_ab").cast("double") / col("n_b_tot")) /
          ((col("n_a").cast("double") / col("n_u")) *
            (col("n_b").cast("double") / col("n_u"))))
          .cast("decimal(20,10)"), 4).cast("double").as("pmi"))
  }

  /** SKIP-GRAM co-occurrence PMI over a ±`window` token window — the
    * co-occurrence matrix a word-embedding trainer (SGNS/GloVe) feeds
    * on, where [[bigramPmi]] sees only ADJACENT pairs. Unordered pairs
    * canonicalize as (least, greatest); the symmetric-count convention
    * (each co-occurrence counted once, totals over the same pair
    * stream) is used on both engines.
    *
    * Scale shape: pairs are generated from each row's token ARRAY in
    * ONE projection — for position i, partners i+1..i+window — so
    * there is NO self-join on (doc, position) and no per-doc quadratic
    * blowup: exactly ≤ window·tokens pair rows feed one hash
    * aggregate. Vocabulary margins broadcast back onto the surviving
    * (≥ minCount) pairs; totals are one-row broadcasts. ln snaps
    * through DECIMAL(20,10) to 4dp (the q100 convention).
    */
  def skipgramPmi(docs: DataFrame, text: Column, window: Int,
                  minCount: Long): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val tk = docs.select(tokens(text).as("tk"))
    val pr = skipgramPairsOf(tk, window)
    val uni = tk.select(explode(col("tk")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_uni"))
    val nUni = uni.agg(sum(col("n_uni")).as("n_u"))
    val pairs = pr.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
    val nPr = pairs.agg(sum(col("n_ab")).as("n_p_tot"))
    pairs.filter(col("n_ab") >= minCount)
      .join(broadcast(uni.select(col("tok").as("a"),
        col("n_uni").as("n_a"))), "a")
      .join(broadcast(uni.select(col("tok").as("b"),
        col("n_uni").as("n_b"))), "b")
      .crossJoin(broadcast(nPr))
      .crossJoin(broadcast(nUni))
      .select(col("a"), col("b"), col("n_ab"),
        round(log((col("n_ab").cast("double") / col("n_p_tot")) /
          ((col("n_a").cast("double") / col("n_u")) *
            (col("n_b").cast("double") / col("n_u"))))
          .cast("decimal(20,10)"), 4).cast("double").as("pmi"))
  }

  /** The raw unordered skip-gram pair stream of [[skipgramPmi]] —
    * every within-±`window` token co-occurrence as one (a, b) row with
    * a = least, b = greatest. Public so graph consumers (TextRank's
    * word graph) share the exact generation contract: pairs come off
    * each row's token ARRAY in one projection (position i with
    * partners i+1..i+window), ≤ window·tokens rows, no (doc, position)
    * self-join.
    */
  def skipgramPairs(docs: DataFrame, text: Column, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    skipgramPairsOf(docs.select(tokens(text).as("tk")), window)
  }

  private def skipgramPairsOf(tk: DataFrame, window: Int): DataFrame =
    tk.select(explode(Cols.bound(col("tk")) { t =>
        when(size(t) < 2, array().cast("array<array<string>>"))
          .otherwise(flatten(transform(sequence(lit(1), size(t) - 1),
            i => transform(sequence(i + 1, least(i + window, size(t))),
              j => array(element_at(t, i), element_at(t, j))))))
      }).as("pr"))
      .select(least(col("pr").getItem(0), col("pr").getItem(1)).as("a"),
        greatest(col("pr").getItem(0), col("pr").getItem(1)).as("b"))

  /** Blocked fuzzy (edit-distance) join — the entity-resolution
    * primitive: probe names match reference names within `maxDist`
    * edits. All-pairs levenshtein is quadratic in the corpus; blocking
    * on (first char, length) with the probe side exploded over the
    * ±maxDist length band turns it into an EQUI-join — levenshtein
    * runs only inside blocks, and the length part of the block key is
    * sound because |len(a)−len(b)| ≤ maxDist is necessary for edit
    * distance ≤ maxDist. First-char blocking trades recall for scale
    * exactly like production ER blocking; `fuzzyJoinMultiBlock` below
    * composes a second (last char, length) pass for recall.
    *
    * The verifier is the THRESHOLDED levenshtein (banded O(maxDist·n)
    * DP with early exit, returns −1 past the band) — at maxDist ≪ len
    * that is ~len/maxDist× cheaper per pair than the full O(n²) DP,
    * and on dense blocks where most candidates miss, the early exit
    * dominates the join cost.
    *
    * `maxBlockPairs` > 0 arms the density guard: before the verify
    * join runs, a histogram over the block key counts candidate pairs
    * per block (`blockHistogram`) and the total + hottest blocks are
    * logged; any single block above the limit throws instead of
    * silently going quadratic — the `jaccardPairsPrefixHashed` hot-shingle
    * lesson applied to the edit-distance path. The stats pass is two
    * small hash aggregates (block-key cardinality, not row count), so
    * arming it costs one extra scan of each side's key projection.
    */
  def fuzzyJoin(probes: DataFrame, refs: DataFrame, probeId: String,
                probeName: Column, refId: String, refName: Column,
                maxDist: Int, maxBlockPairs: Long = 0L): DataFrame =
    fuzzyPass(probes, refs, probeId, probeName, refId, refName, maxDist,
      n => substring(n, 1, 1), maxBlockPairs)

  /** One blocked pass with a caller-supplied block character. Kept
    * private: the public recall story is `fuzzyJoin` (single pass) and
    * `fuzzyJoinMultiBlock` (first-char ∪ last-char).
    */
  private def fuzzyPass(probes: DataFrame, refs: DataFrame, probeId: String,
                        probeName: Column, refId: String, refName: Column,
                        maxDist: Int, keyOf: Column => Column,
                        maxBlockPairs: Long): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    import graft.functions.NativeFunctions.{fuzzySig, sigBound, levWithin}
    // distinct-string collapse (the fuzzyJoinSegments shape): block,
    // prefilter and DP-verify once per STRING pair, then fan verified
    // matches back out to id pairs by multiplicity — duplicate-heavy
    // vocabularies otherwise pay the verify once per copy-pair
    val pAll = probes.select(col(probeId).as("probe_id"), probeName.as("pn"))
    val rAll = refs.select(col(refId).as("ref_id"), refName.as("rn"))
    // the 64-bit histogram signature is computed per ROW on the small
    // pre-join sides and carried through the join — the per-PAIR
    // prefilter below then touches only two longs
    val p = pAll.select(col("pn")).distinct()
      .select(col("pn"), fuzzySig(col("pn")).as("psig"),
        keyOf(col("pn")).as("bc"),
        explode(sequence(length(col("pn")) - maxDist,
          length(col("pn")) + maxDist)).as("blen"))
    val r = rAll.select(col("rn")).distinct()
      .select(col("rn"), fuzzySig(col("rn")).as("rsig"),
        keyOf(col("rn")).as("bc"), length(col("rn")).as("blen"))
    // hot-block degrade: salt any block over the limit (same candidate
    // set, bounded task sizes) instead of aborting
    val (pJ, rJ, joinKeys) =
      (if (maxBlockPairs > 0L) resolveBlockSalts(p, r, maxBlockPairs)
       else None) match {
        case Some(hot) =>
          val (ps, rs) = applyBlockSalts(p, r, hot, Seq("bc", "blen"), "rn")
          (ps, rs, Seq("bc", "blen", "salt"))
        case None => (p, r, Seq("bc", "blen"))
      }
    // The blocked join FANS OUT ~10²–10³ pairs per input row, which
    // input-size-based scheduling cannot see: small sides read as 1–2
    // scan tasks (and AQE would coalesce them further), so the per-pair
    // verify work lands on 1–2 cores while the rest idle. Explicit-N
    // repartition on the block key spreads pair ENUMERATION across the
    // cluster whichever side ends up streamed (measured at sf0.1:
    // verify stage 35 s → 3 s on local[32]); the shuffles move only the
    // small input sides, never pairs.
    val shufN = probes.sparkSession.sessionState.conf.numShufflePartitions
    // filter-verify split, both stages codegen'd (see FuzzyMatch.scala):
    // sig_bound is a SOUND Levenshtein lower bound (results identical,
    // only the work changes; FuzzyJoinSpec pins it) that rejects most
    // candidates at ~30 ns/pair without touching the strings; survivors
    // hit the trimmed, banded, early-exit lev_within verifier. Measured
    // at sf0.1 part names / maxDist=2: 41.5M candidates, 10M past the
    // bound, 6.2M true pairs.
    pJ.repartition(shufN, joinKeys.map(col): _*)
      .join(rJ.repartition(shufN, joinKeys.map(col): _*), joinKeys)
      .filter(sigBound(col("psig"), col("rsig")) <= maxDist)
      .withColumn("dist", levWithin(col("pn"), col("rn"), maxDist))
      .filter(col("dist").between(0, maxDist))
      .select(col("pn"), col("rn"), col("dist"))
      .join(pAll, Seq("pn"))
      .join(rAll, Seq("rn"))
      .select(col("probe_id"), col("ref_id"), col("dist"))
  }

  private def blockHistogram(p: DataFrame, r: DataFrame,
                             keys: Seq[String] = Seq("bc", "blen")): DataFrame =
    // ONE shuffle, not three (probe-agg + ref-agg + join): tag each
    // side, aggregate conditional counts in a single hash agg — the
    // guard is a pre-flight that runs eagerly before the real join, so
    // its cost is pure overhead and the map-side partial aggregation
    // collapses each side's explosion before anything moves
    p.select(keys.map(col) :+ lit(1L).as("side"): _*)
      .unionByName(r.select(keys.map(col) :+ lit(0L).as("side"): _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("side")).as("n_probes"),
        sum(lit(1L) - col("side")).as("n_refs"))
      .filter(col("n_probes") > 0 && col("n_refs") > 0)
      .select(keys.map(col) ++ Seq(col("n_probes"), col("n_refs"),
        (col("n_probes") * col("n_refs")).as("n_pairs")): _*)

  /** Density guard: log total candidate volume, and DEGRADE (never
    * abort) on hot blocks. A block whose candidate count exceeds
    * `maxBlockPairs` is returned with a salt factor
    * c = ⌈n_pairs / maxBlockPairs⌉; the caller splits that block's
    * work across c join keys (`applyBlockSalts`), so a skewed key
    * vocabulary turns into bounded-size parallel tasks instead of a
    * pipeline-killing exception or a straggler/OOM task. The candidate
    * SET is untouched — salting re-partitions the same pairs — so
    * output is identical to the unguarded join (FuzzyJoinSpec pins
    * this with an adversarial constant-segment vocabulary).
    *
    * Returns None when no block is hot (the happy path pays one
    * histogram aggregate and the join runs unchanged). The driver-side
    * footprint is one aggregate row; the hot-block map itself stays a
    * DataFrame and rides to the join as a broadcast.
    */
  private def resolveBlockSalts(p: DataFrame, r: DataFrame,
                                maxBlockPairs: Long,
                                keys: Seq[String] = Seq("bc", "blen"))
      : Option[DataFrame] = {
    val stats = blockHistogram(p, r, keys)
    val tot = stats.agg(coalesce(sum(col("n_pairs")), lit(0L)).as("t"),
      coalesce(max(col("n_pairs")), lit(0L)).as("m")).collect()(0)
    val (total, hottest) = (tot.getLong(0), tot.getLong(1))
    System.err.println(
      s"[graft] fuzzyJoin density: $total candidate pairs, " +
      s"hottest block $hottest (limit $maxBlockPairs)")
    if (hottest <= maxBlockPairs) None
    else {
      System.err.println(
        s"[graft] fuzzyJoin degrading: salting blocks over " +
        s"$maxBlockPairs candidate pairs (hottest $hottest)")
      Some(stats.filter(col("n_pairs") > maxBlockPairs)
        .select(keys.map(col) :+
          ceil(col("n_pairs").cast("double") / maxBlockPairs)
            .cast("long").as("salt_c"): _*))
    }
  }

  /** Split hot blocks across `salt_c` sub-keys: every ref row of a hot
    * block lands in ONE salt bucket (hash of its name), every probe row
    * replicates across ALL of them — each candidate pair meets exactly
    * once, in a task bounded by ~maxBlockPairs/salt_c pairs. Cold
    * blocks ride through with salt 0 on both sides.
    */
  private def applyBlockSalts(p: DataFrame, r: DataFrame, hot: DataFrame,
                              keys: Seq[String], rName: String)
      : (DataFrame, DataFrame) = {
    val pS = p.join(broadcast(hot), keys, "left")
      .withColumn("salt",
        explode(sequence(lit(0L), coalesce(col("salt_c"), lit(1L)) - 1)))
      .drop("salt_c")
    val rS = r.join(broadcast(hot), keys, "left")
      .withColumn("salt",
        pmod(xxhash64(col(rName)), coalesce(col("salt_c"), lit(1L))))
      .drop("salt_c")
    (pS, rS)
  }

  /** Multi-pass blocked fuzzy join — the recall composition the
    * single-pass doc promises: a (first char, length-band) pass
    * unioned with a (last char, length-band) pass, pair-deduped on
    * (probe_id, ref_id). An edit AT position 1 escapes first-char
    * blocking but preserves the last char, and vice versa; for
    * maxDist = 1 the two passes together are RECALL-COMPLETE on names
    * of length ≥ 2, because one edit operation touches at most one of
    * the two anchor positions (FuzzyJoinSpec pins this against
    * all-pairs ground truth). Cost is ≤ 2× the single pass — same
    * equi-join shape, and the dedup aggregates the (already small)
    * verified pair set, not the candidates.
    */
  def fuzzyJoinMultiBlock(probes: DataFrame, refs: DataFrame,
                          probeId: String, probeName: Column,
                          refId: String, refName: Column,
                          maxDist: Int): DataFrame = {
    val first = fuzzyPass(probes, refs, probeId, probeName, refId, refName,
      maxDist, n => substring(n, 1, 1), 0L)
    val last = fuzzyPass(probes, refs, probeId, probeName, refId, refName,
      maxDist, n => substring(n, -1, 1), 0L)
    first.unionByName(last)
      .groupBy(col("probe_id"), col("ref_id"))
      .agg(min(col("dist")).as("dist"))
  }

  /** Segment-partition blocked fuzzy join (the PassJoin blocking idea):
    * RECALL-COMPLETE at ANY `maxDist`, unlike single-anchor blocking
    * (complete never) or first∪last multi-block (complete only at
    * maxDist = 1).
    *
    * Pigeonhole: split every REF name into maxDist+1 contiguous
    * segments — k edits cannot touch all k+1 of them, so for any true
    * pair some segment survives VERBATIM in the probe, shifted by at
    * most k positions (net insertions−deletions before it). The probe
    * side therefore enumerates, for every candidate ref length
    * L ∈ [len±k] and every segment index, the substrings in the ±k
    * position window — (2k+1)²·(k+1) keys per probe (18 at k=1, 75 at
    * k=2), each joined EXACTLY on (segment text, index, L). Segment
    * text is a far more selective key than any single-character block:
    * candidates ≈ true pairs, and the clean all-pairs oracle (no block
    * predicate at all) pins the completeness (q109, FuzzyJoinSpec).
    *
    * Refs shorter than k+1 cannot form k+1 non-empty segments; they
    * route through a dedicated band join of the two degenerate-tiny
    * sub-populations (names shorter than maxDist+1 characters).
    *
    * Scale shape: both sides collapse to DISTINCT strings before
    * enumeration and verify — duplicate-heavy vocabularies (hundreds
    * of copies per name in templated/real-world ER corpora) would
    * otherwise pay the segment enumeration and the DP verify once per
    * COPY-pair instead of once per string-pair (measured at sf0.1:
    * 34.7M copy-level candidates collapse to ~40k string-level ones).
    * Verified string matches fan back out to id pairs through two
    * equi-joins on the name, so the pair contract is unchanged. The
    * exploded sides repartition on the block key (the fan-out lesson)
    * and the verify is the trimmed banded `lev_within`.
    */
  def fuzzyJoinSegments(probes: DataFrame, refs: DataFrame, probeId: String,
                        probeName: Column, refId: String, refName: Column,
                        maxDist: Int, maxBlockPairs: Long = 0L): DataFrame = {
    val (strPairs, pAll, rAll) = segmentStringMatches(probes, refs, probeId,
      probeName, refId, refName, maxDist, maxBlockPairs)
    // multiplicity expansion: every (probe copy, ref copy) of a matched
    // string pair is an output pair
    strPairs
      .join(pAll, Seq("pn"))
      .join(rAll, Seq("rn"))
      .select(col("probe_id"), col("ref_id"), col("dist"))
  }

  /** Asymmetric best-match resolution over segment blocking — the fused
    * production-ER primitive: each probe RECORD resolves to its
    * lexicographically best (dist, ref_id) reference match within
    * `maxDist`, plus the total match count (copy-level, i.e. what
    * `fuzzyJoinSegments(...).groupBy(probe_id).count` would report).
    * Probes with no match emit no row.
    *
    * Same recall-complete candidate generation as [[fuzzyJoinSegments]],
    * but the per-probe aggregation runs at STRING level BEFORE the
    * multiplicity expansion: per matched ref name only its min id and
    * copy count travel, so a duplicate-heavy corpus never materializes
    * the copy-level pair set (6.4M rows for 20k records on the q102
    * corpus — the round-7/8 cost of resolving through the pair
    * operator). Correctness: for a fixed dist, the min ref_id over all
    * copies of all matched names equals the min over names of each
    * name's min id — so the string-level lexicographic min is the
    * record-level one.
    */
  def fuzzyResolveBest(probes: DataFrame, refs: DataFrame, probeId: String,
                       probeName: Column, refId: String, refName: Column,
                       maxDist: Int, maxBlockPairs: Long = 0L): DataFrame = {
    val (strPairs, pAll, rAll) = segmentStringMatches(probes, refs, probeId,
      probeName, refId, refName, maxDist, maxBlockPairs)
    val rByName = rAll.groupBy(col("rn"))
      .agg(min(col("ref_id")).as("r_min"), count(lit(1)).as("n_copies"))
    val bestByString = strPairs.join(rByName, Seq("rn"))
      .groupBy(col("pn"))
      .agg(min(struct(col("dist").as("d"), col("r_min").as("r"))).as("bk"),
        sum(col("n_copies")).as("n_matches"))
    pAll.join(bestByString, Seq("pn"))
      .select(col("probe_id"), col("bk.d").as("dist"),
        col("bk.r").as("ref_id"), col("n_matches"))
  }

  /** Shared kernel of [[fuzzyJoinSegments]] / [[fuzzyResolveBest]]:
    * distinct-string collapse, segment enumeration, hot-block-salted
    * candidate join, inline verify. Returns the STRING-level matches
    * (pn, rn, dist) plus the id-level projections (probe_id, pn) /
    * (ref_id, rn) for the caller's expansion or aggregation.
    */
  private def segmentStringMatches(probes: DataFrame, refs: DataFrame,
                                   probeId: String, probeName: Column,
                                   refId: String, refName: Column,
                                   maxDist: Int, maxBlockPairs: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    require(maxDist >= 1, "segment blocking needs maxDist >= 1 (use an " +
      "equality join for exact matching)")
    import graft.functions.NativeFunctions.levWithin
    val k = maxDist
    val kp1 = k + 1

    // segment i of a length-L name (1-based start; the L mod (k+1)
    // leftover chars go one-each to the FIRST segments)
    def segLen(len: Column, i: Column): Column =
      floor(len / kp1).cast("int") +
        when(i < pmod(len, lit(kp1)), 1).otherwise(0)
    def segStart(len: Column, i: Column): Column =
      (i * floor(len / kp1).cast("int") +
        least(i, pmod(len, lit(kp1))) + 1).cast("int")

    import graft.functions.NativeFunctions.{fuzzySig, sigBound}
    // id-level inputs (for the final multiplicity expansion) and their
    // distinct-string projections (everything expensive runs on these)
    val pAll = probes.select(col(probeId).as("probe_id"), probeName.as("pn"))
    val rAll = refs.select(col(refId).as("ref_id"), refName.as("rn"))
    val pBase = pAll.select(col("pn")).distinct()
    val rBase = rAll.select(col("rn")).distinct()

    val rLong = rBase.filter(length(col("rn")) >= kp1)
      .select(col("rn"), fuzzySig(col("rn")).as("rsig"),
        explode(transform(sequence(lit(0), lit(k)), i => {
          val ln = length(col("rn"))
          struct(col("rn").substr(segStart(ln, i), segLen(ln, i)).as("bc"),
            i.cast("int").as("seg"), ln.as("blen"))
        })).as("b"))
      .select(col("rn"), col("rsig"),
        col("b.bc"), col("b.seg"), col("b.blen"))

    val pLong = pBase
      .select(col("pn"), fuzzySig(col("pn")).as("psig"),
        explode(flatten(transform(sequence(lit(-k), lit(k)), dL => {
          val pl = length(col("pn"))
          val refLen = (pl + dL).cast("int")
          flatten(transform(sequence(lit(0), lit(k)), i => {
            val st = segStart(refLen, i)
            val ln = segLen(refLen, i)
            transform(sequence(lit(-k), lit(k)), s => {
              val p0 = (st + s).cast("int")
              // shift-budget prune (sound): if ref segment i survives
              // verbatim at probe offset s, the edits BEFORE it number
              // ≥ |s| (each shifts the start by ≤ 1) and the edits
              // after it ≥ |dL + s| (they must close the remaining
              // length gap: probe−ref length = −dL), so a true pair
              // needs |s| + |dL + s| ≤ k. Cuts enumerated keys per
              // probe from (2k+1)²(k+1) to Σ_d (k−|d|+1)(k+1): 18→10
              // at k=1, 75→33 at k=2. FuzzyJoinSpec's all-pairs
              // property pins that recall is untouched.
              struct(col("pn").substr(p0, ln).as("bc"),
                i.cast("int").as("seg"), refLen.as("blen"),
                (refLen >= kp1 && p0 >= 1 &&
                  p0 + ln - 1 <= pl &&
                  abs(s) + abs(dL + s) <= k).as("ok"))
            })
          }))
        }))).as("b"))
      .filter(col("b.ok"))
      .select(col("pn"), col("psig"),
        col("b.bc"), col("b.seg"), col("b.blen"))

    // Segment keys are far more selective than single-char blocks, but
    // a constant vocabulary (every name sharing the same k+1 segments)
    // still degenerates to |P|·|R| — same pre-flight as fuzzyPass, on
    // the finer (segment text, index, target length) key.
    //
    // The guard is a SECOND action over the exploded sides, and the
    // segment enumeration is interpreted HOF lambdas (the expensive
    // part of either pass) — so when the guard runs, persist both
    // sides: the guard's histogram materializes them once and the
    // main join reads the cache (cross-action reuse, where persist
    // earns its cost — lesson 23's exception). Batch harnesses clear
    // the cache between queries.
    val salts = if (maxBlockPairs > 0L) {
      pLong.persist()
      rLong.persist()
      resolveBlockSalts(pLong, rLong, maxBlockPairs,
        Seq("bc", "seg", "blen"))
    } else None
    // hot-block degrade (same candidate set, bounded task sizes): salt
    // any (segment, index, length) block over the limit
    val (pJ, rJ, joinKeys) = salts match {
      case Some(hot) =>
        val (ps, rs) = applyBlockSalts(pLong, rLong, hot,
          Seq("bc", "seg", "blen"), "rn")
        (ps, rs, Seq("bc", "seg", "blen", "salt"))
      case None => (pLong, rLong, Seq("bc", "seg", "blen"))
    }

    val shufN = probes.sparkSession.sessionState.conf.numShufflePartitions
    // verify INLINE in the join stage (sig prefilter + banded DP, the
    // fuzzyPass shape — a STRING pair duplicated across (segment,
    // shift) keys re-verifies at ~µs, far cheaper than a candidate-
    // level distinct that shuffles the raw candidate stream), then
    // dedup only the SURVIVORS: same pair → same dist, so groupBy-min
    // is the dedup.
    val candLong = pJ
      .repartition(shufN, joinKeys.map(col): _*)
      .join(rJ.repartition(shufN, joinKeys.map(col): _*), joinKeys)
      .filter(sigBound(col("psig"), col("rsig")) <= k)
      .select(col("pn"), col("rn"))

    val candShort = pBase.filter(length(col("pn")) <= 2 * k)
      .join(rBase.filter(length(col("rn")) <= k),
        abs(length(col("pn")) - length(col("rn"))) <= k)
      .select(col("pn"), col("rn"))

    // string-level verified matches
    val strPairs = candLong.unionByName(candShort)
      .withColumn("dist", levWithin(col("pn"), col("rn"), k))
      .filter(col("dist").between(0, k))
      .groupBy(col("pn"), col("rn"))
      .agg(min(col("dist")).as("dist"))
    (strPairs, pAll, rAll)
  }

  /** Incremental fuzzy entity resolution — the q82/jaccardPairsIncremental
    * pattern on the edit-distance path: a NEW batch of records probes the
    * accumulated entity snapshot plus itself; old×old is never re-paired,
    * so the per-ingest cost is |batch|·blockDensity, not |corpus|².
    *
    * Output: (probe_id, ref_id, dist) where probe_id is always from the
    * new batch and ref_id is an old entity OR an earlier (smaller-id)
    * member of the same batch — exactly the pairs a batch run over
    * old ∪ new would emit minus the old×old ones (FuzzyJoinSpec proves
    * the equality).
    */
  def fuzzyJoinIncremental(oldRefs: DataFrame, batch: DataFrame,
                           id: String, name: Column,
                           maxDist: Int): DataFrame = {
    val vsOld = fuzzyJoin(batch, oldRefs, id, name, id, name, maxDist)
    val vsNew = fuzzyJoin(batch, batch, id, name, id, name, maxDist)
      .filter(col("ref_id") < col("probe_id"))
    vsOld.unionByName(vsNew)
  }

  /** [[fuzzyJoinIncremental]] with RECALL-COMPLETE segment blocking:
    * same (batch×old) ∪ (batch×earlier-of-batch) pair contract, but
    * both passes route through [[fuzzyJoinSegments]], so no true pair
    * within `maxDist` is lost to the block predicate — the variant a
    * continuous ER stream should sit on (first-char blocking misses
    * every record whose FIRST character was edited; q107 measures
    * exactly that loss).
    */
  def fuzzyJoinIncrementalSegments(oldRefs: DataFrame, batch: DataFrame,
                                   id: String, name: Column,
                                   maxDist: Int): DataFrame = {
    val vsOld = fuzzyJoinSegments(batch, oldRefs, id, name, id, name,
      maxDist)
    val vsNew = fuzzyJoinSegments(batch, batch, id, name, id, name,
      maxDist)
      .filter(col("ref_id") < col("probe_id"))
    vsOld.unionByName(vsNew)
  }

  /** SORTED-NEIGHBORHOOD blocking (Hernández–Stolfo) — the third
    * classic ER blocking family beside first-char equi-blocks and
    * PassJoin segments: sort the name vocabulary once and pair only
    * names within `window` POSITIONS of each other. Distributed-exact
    * ranking without a global sort partition: distinct names bucket by
    * their 2-char prefix (prefix order is consistent with full
    * lexicographic order, so per-bucket `row_number` + the broadcast
    * exclusive bucket-count offsets reproduce the global rank — the
    * [[graft.ops.Ranks]] two-level shape on a string domain), then
    * ⌊rank/window⌋ blocks equi-join (each left name probes its own and
    * the NEXT block — by construction that covers every pair less than
    * `window` ranks apart, each pair exactly once via the right side's
    * home block), and survivors verify through the banded early-exit
    * `lev_within` kernel. Output: one row per matched DISTINCT-name
    * pair (name_a before name_b in sort order, rank_gap, dist).
    *
    * Recall is positional — a true match > `window` ranks away (e.g. a
    * FIRST-letter typo) is missed; that is SN's declared trade, bought
    * back by multi-key sweeps exactly as `fuzzyJoinMultiBlock` does for
    * char blocking. Work is |vocab|·window candidates, immune to the
    * hot-block quadratic blowup the density guard exists for.
    */
  def sortedNeighborhoodPairs(names: DataFrame, name: Column,
                              window: Int, maxDist: Int): DataFrame = {
    require(window >= 2, "window must be >= 2")
    require(maxDist >= 0, "maxDist must be >= 0")
    import graft.functions.NativeFunctions.levWithin
    val dn = names.select(name.as("n")).distinct()
      .withColumn("bc", substring(col("n"), 1, 2))
    val wIntra = Window.partitionBy(col("bc")).orderBy(col("n"))
    val wOff = Window.partitionBy(Cols.onePartitionKey(col("bc")))
      .orderBy(col("bc")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = dn.groupBy(col("bc")).agg(count(lit(1)).as("c"))
      .select(col("bc"),
        coalesce(sum(col("c")).over(wOff), lit(0L)).as("off"))
    val ranked = dn.withColumn("rn0", row_number().over(wIntra))
      .join(broadcast(offs), Seq("bc"))
      .select(col("n"), (col("off") + col("rn0") - 1).as("rk"))
      .withColumn("blk", expr(s"rk div $window"))
    val probes = ranked.select(col("n").as("name_a"), col("rk").as("ra"),
      explode(array(col("blk"), col("blk") + 1)).as("jb"))
    val rhs = ranked.select(col("n").as("name_b"), col("rk").as("rb"),
      col("blk").as("jb"))
    probes.join(rhs, Seq("jb"))
      .filter(col("rb") > col("ra") &&
        col("rb") - col("ra") <= window - 1)
      .withColumn("dist",
        levWithin(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("dist").between(0, maxDist))
      .select(col("name_a"), col("name_b"),
        (col("rb") - col("ra")).as("rank_gap"), col("dist"))
  }

  /** PHONETIC (Soundex) blocking — the fourth classic ER blocking
    * family beside first-char equi-blocks, PassJoin segments and the
    * sorted neighborhood: block the name vocabulary by its American
    * Soundex code (Spark's codegen'd `soundex` — the US-Census
    * algorithm with the H/W bridge rule, pinned against the
    * canonical Ashcraft/Pfister/Tymczak vectors in TextDedupSpec),
    * pair within blocks, verify with the banded early-exit
    * Levenshtein kernel. Phonetic blocks keep together what the
    * other families drop: same-sounding different-spelling variants
    * whose FIRST letters differ in rank (KNUTH/KANT → K530) never
    * share a prefix block.
    *
    * Scale shape: vocabulary-sized (distinct names), and the code
    * domain is structurally bounded (letter × 7³ ≤ 26·343 codes), so
    * blocks hold |vocab|/Σcodes names on average; Σblock² work, the
    * same economics as first-char blocking one granularity finer. A
    * pathological single-name-flood vocabulary is the q102/OPH
    * density case — pre-thin or salt there. Output per code:
    * (code, n_names, n_pairs, n_matched ≤ maxDist).
    */
  def phoneticBlocking(names: DataFrame, name: Column, maxDist: Int,
                       maxBlock: Long = 0L): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    import graft.functions.NativeFunctions.levWithin
    val dn = names.select(name.as("n")).distinct()
      .withColumn("code", soundex(col("n")))
    val sizes = dn.groupBy(col("code")).agg(count(lit(1)).as("n_names"))
      // the q102/OPH density-guard convention: a hot code (SMITH at
      // population scale) would make its block self-join quadratic in
      // one task — over-cap blocks skip pairing (capped = true) and
      // the caller salts or pre-thins them; 0 = unlimited (gate
      // fixtures are code-domain-sparse by construction)
      .withColumn("capped",
        lit(maxBlock) > 0 && col("n_names") > maxBlock)
    val keep = dn.join(sizes.filter(!col("capped"))
      .select(col("code")), Seq("code"))
    val pairs = keep.select(col("code"), col("n").as("name_a"))
      .join(keep.select(col("code"), col("n").as("name_b")),
        Seq("code"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist",
        levWithin(col("name_a"), col("name_b"), maxDist).cast("long"))
    sizes
      .join(pairs.groupBy(col("code"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("dist").between(0, maxDist), 1L)
              .otherwise(0L)).as("n_matched")),
        Seq("code"), "left")
      .na.fill(0L, Seq("n_pairs", "n_matched"))
      .select(col("code"), col("n_names"), col("n_pairs"),
        col("n_matched"), col("capped"))
  }

  /** Word n-gram shingles (distinct), the MinHash/Jaccard input unit.
    * Documents shorter than n shingle to an empty array.
    *
    * The token array is bound once and windows are built from O(1)
    * element_at lookups — a lambda that referenced the tokenize subtree
    * (or sliced a copy per window) would cost O(n²) per document.
    */
  def wordShingles(toks: Column, n: Int): Column =
    Cols.bound(toks) { t =>
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(sequence(lit(1), size(t) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k)): _*))))
    }

  /** Positional postings — the inverted-index build: one (token, id,
    * pos) row per token occurrence. At 100 TB this is THE text-search
    * layout: partitioned by token, a phrase/adjacency query touches
    * only its own tokens' postings.
    */
  def postings(docs: DataFrame, idCol: String, text: Column): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(tokens(text)).as(Seq("pos", "token")))

  /** Exact BIGRAM-phrase occurrences from positional postings: the
    * phrase arrives as a ONE-ROW frame (a, b) — data-derived (e.g. the
    * corpus' top bigram) or constant — and rides broadcasts. Both
    * posting sides prune to the phrase's own tokens via a broadcast
    * semi-join BEFORE the adjacency join, so only those tokens'
    * postings ever shuffle (the positional-index economics); adjacency
    * is the equi-join on (id, pos+1). Output per matching doc:
    * (a, b, id, n_matches, first_pos).
    */
  def bigramPhraseMatches(post: DataFrame, phrase: DataFrame): DataFrame = {
    val toks = phrase.select(explode(array(col("a"), col("b"))).as("token"))
    val pruned = post.join(broadcast(toks), Seq("token"), "left_semi")
    pruned.as("p1")
      .join(broadcast(phrase), col("p1.token") === col("a"))
      .join(pruned.as("p2"),
        col("p1.id") === col("p2.id") &&
          col("p2.pos") === col("p1.pos") + 1 &&
          col("p2.token") === col("b"))
      .select(col("a"), col("b"), col("p1.id").as("id"),
        col("p1.pos").as("pos"))
      .groupBy(col("a"), col("b"), col("id"))
      .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
  }

  /** Per-document add-one-smoothed BIGRAM negative log-likelihood —
    * the perplexity-style quality score an LLM pipeline trains a cheap
    * n-gram LM for (boilerplate and word-salad both score high; docs
    * shorter than 2 tokens drop out): the corpus trains in-query
    * (bigram counts c(a,b), context counts c(a) = bigrams starting at
    * a, vocabulary size V), and every occurrence scores
    * −ln((c(a,b)+1)/(c(a)+V)).
    *
    * Determinism across engines: each occurrence's term snaps to ×10⁶
    * fixed point BEFORE the per-doc sum (log's last-ulp libm wiggle is
    * absorbed by the snap — the q126 −ln convention), so the mean NLL
    * is a ratio of exact integers. Shuffles: one on the bigram key
    * (count + score join), one on the context key, one per-doc
    * aggregate — each the join a 100 TB LM-scoring pass needs anyway;
    * V rides a one-row broadcast.
    */
  def bigramNll(docs: DataFrame, idCol: String, text: Column): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), tokens(text).as("tk"))
    val bigrams = toks
      .select(col("id"), explode(Cols.bound(col("tk")) { t =>
        when(size(t) < 2,
          array().cast("array<struct<a:string,b:string>>"))
          .otherwise(transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("a"),
              element_at(t, i + 1).as("b"))))
      }).as("bg"))
      .select(col("id"), col("bg.a").as("a"), col("bg.b").as("b"))
    val cb = bigrams.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cab"))
    val ca = bigrams.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val v = toks.select(explode(col("tk")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    bigrams
      .join(cb, Seq("a", "b"))
      .join(ca, Seq("a"))
      .crossJoin(broadcast(v))
      .select(col("id"),
        round(-log((col("cab") + 1).cast("double") /
          (col("ca") + col("v")).cast("double")) * lit(1e6))
          .cast("long").as("tfp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round((sum(col("tfp")).cast("double") /
          (count(lit(1)).cast("double") * 1e6)).cast("decimal(20,10)"), 4)
          .cast("double").as("avg_nll"))
  }

  /** CCNet-style PERPLEXITY BUCKETS (Wenzek et al. 2020): per
    * LANGUAGE, score every document with that language's own add-1
    * bigram LM ([[bigramNll]]'s model keyed by lang) and split the
    * language's documents into `nBuckets` equal-rank bands — head
    * (lowest perplexity, the "keep" band), middle, tail. The classic
    * CommonCrawl curation cut: one global threshold can't work because
    * perplexity scales differ per language; rank-within-language is
    * the portable criterion.
    *
    * Exactness: each bigram's −ln term snaps ×1e6 pre-sum (the q72
    * convention), the per-doc mean is one floored division of exact
    * integers, and the band is pure rank arithmetic
    * (⌊(rank−1)·nBuckets/n_lang⌋) — no lossy percentile estimate, so
    * a SQL oracle replays bit-for-bit. Docs with <2 tokens have no
    * bigrams and drop (CCNet discards them upstream).
    *
    * Scale shape: bigram/context counts are hash aggregates keyed by
    * (lang, gram); the per-language rank is one range-partitioned sort
    * per language — the same cost any percentile cut pays, and the
    * only order-sensitive step. Output: (lang, bucket, n_docs,
    * nll_min_micro, nll_max_micro).
    */
  def perplexityBuckets(docs: DataFrame, id: Column, text: Column,
                        lang: Column, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val toks = docs.select(id.as("id"), lang.as("lang"),
      tokens(text).as("tk"))
    val bigrams = toks
      .select(col("id"), col("lang"), explode(Cols.bound(col("tk")) { t =>
        when(size(t) < 2,
          array().cast("array<struct<a:string,b:string>>"))
          .otherwise(transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("a"),
              element_at(t, i + 1).as("b"))))
      }).as("bg"))
      .select(col("id"), col("lang"), col("bg.a").as("a"),
        col("bg.b").as("b"))
    val cb = bigrams.groupBy(col("lang"), col("a"), col("b"))
      .agg(count(lit(1)).as("cab"))
    val ca = bigrams.groupBy(col("lang"), col("a"))
      .agg(count(lit(1)).as("ca"))
    val v = toks.select(col("lang"), explode(col("tk")).as("w"))
      .groupBy(col("lang")).agg(countDistinct(col("w")).as("v"))
    val perDoc = bigrams
      .join(cb, Seq("lang", "a", "b"))
      .join(ca, Seq("lang", "a"))
      .join(broadcast(v), Seq("lang"))
      .select(col("id"), col("lang"),
        round(-log((col("cab") + 1).cast("double") /
          (col("ca") + col("v")).cast("double")) * lit(1e6))
          .cast("long").as("tfp"))
      .groupBy(col("id"), col("lang"))
      .agg(fdiv(sum(col("tfp")), count(lit(1))).as("nll_micro"))
    val nPerLang = perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("nll_micro"), col("id"))
    perDoc
      .withColumn("rn", row_number().over(w))
      .join(broadcast(nPerLang), Seq("lang"))
      .withColumn("bucket",
        fdiv((col("rn") - 1) * nBuckets, col("n_lang")).cast("int"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("nll_micro")).as("nll_min_micro"),
        max(col("nll_micro")).as("nll_max_micro"))
  }

  /** The GOPHER quality rules (Rae et al. 2021, MassiveText, App. A) —
    * the named heuristic filter set a pretraining corpus is screened
    * with before any model-based scoring. Every rule is EXACT integer
    * arithmetic on counts (cross-multiplied thresholds — never a float
    * ratio), so a SQL oracle replays it bit-for-bit and the same doc
    * passes identically on any engine:
    *   r_word_count    — 50 ≤ words ≤ 100000
    *   r_mean_word_len — 3·words ≤ Σ token length ≤ 10·words
    *   r_symbol_ratio  — 10·(# '#' + # '…'-as-'...') ≤ words
    *   r_bullet_lines  — 10·(lines starting - * •) ≤ lines
    *   r_ellipsis_lines— 10·(lines ending '...') ≤ 3·lines
    *   r_alpha_words   — 5·(words containing [a-z]) ≥ 4·words
    *   r_stopwords     — ≥2 distinct of {the be to of and that have with}
    * `pass` is their conjunction. One projection over the scan — no
    * shuffle, no join; the filter a 100 TB screen wants pushed into
    * the first read. Output: (id, n_words, the 7 rule booleans, pass).
    */
  def gopherRules(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that",
      "have", "with")
    docs.select(id.as("id"), text.as("t"), tokens(text).as("tk"))
      .select(col("id"), col("t"), col("tk"),
        size(col("tk")).cast("long").as("nw"),
        aggregate(col("tk"), lit(0L), (acc, x) => acc + length(x))
          .as("sum_len"),
        (length(col("t")) - length(regexp_replace(col("t"), "#", "")) +
          (length(col("t")) - length(regexp_replace(col("t"), "\\.\\.\\.",
            ""))) / 3).cast("long").as("symbols"),
        split(col("t"), "\n").as("ls"),
        size(filter(col("tk"), x => x.rlike("[a-z]"))).cast("long")
          .as("alpha_words"),
        size(array_intersect(array_distinct(col("tk")),
          array(gopherStops.map(lit): _*))).cast("long").as("stop_hits"))
      .select(col("id"), col("nw").as("n_words"),
        (col("nw") >= 50 && col("nw") <= 100000)
          .as("r_word_count"),
        (lit(3L) * col("nw") <= col("sum_len") &&
          col("sum_len") <= lit(10L) * col("nw")).as("r_mean_word_len"),
        (lit(10L) * col("symbols") <= col("nw")).as("r_symbol_ratio"),
        (lit(10L) * size(filter(col("ls"),
          l => ltrim(l).rlike("^[-*•]"))).cast("long") <=
          size(col("ls")).cast("long")).as("r_bullet_lines"),
        (lit(10L) * size(filter(col("ls"),
          l => rtrim(l).rlike("\\.\\.\\.$"))).cast("long") <=
          lit(3L) * size(col("ls")).cast("long")).as("r_ellipsis_lines"),
        (lit(5L) * col("alpha_words") >= lit(4L) * col("nw"))
          .as("r_alpha_words"),
        (col("stop_hits") >= 2L).as("r_stopwords"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_bullet_lines") &&
          col("r_ellipsis_lines") && col("r_alpha_words") &&
          col("r_stopwords"))
  }

  /** GREEN-LIST WATERMARK DETECTION (Kirchenbauer et al. 2023) — the
    * screen a pretraining pipeline runs to keep watermarked
    * MODEL-GENERATED text out of its corpus: under the soft watermark,
    * each token is biased toward the "green" half of the vocabulary
    * seeded by its predecessor; a detector recounts. Green(prev, tok)
    * = portable 60-bit md5(salt:prev:tok) even — a pure function, so
    * the same transition is green on every engine. Per doc: the
    * transition count n, green count g, the EXACT excess 2g−n (the
    * un-normalized z-score numerator: 0-mean under no watermark,
    * z = excess/√n if a consumer wants it) and the floored micro
    * green fraction. Docs with <2 tokens have no transitions and
    * drop. One explode + hash aggregate — corpus-linear.
    */
  def watermarkGreens(docs: DataFrame, idCol: Column, text: Column,
                      salt: String): DataFrame = {
    val toks = docs.select(idCol.as("id"), tokens(text).as("tk"))
    toks
      .select(col("id"), explode(Cols.bound(col("tk")) { t =>
        when(size(t) < 2, array().cast("array<struct<a:string,b:string>>"))
          .otherwise(transform(sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("a"),
              element_at(t, i + 1).as("b"))))
      }).as("bg"))
      .select(col("id"),
        when(pmod(Dedup.hashLong(concat(lit(salt), lit(":"),
          col("bg.a"), lit(":"), col("bg.b"))), lit(2L)) === 0, 1L)
          .otherwise(0L).as("green"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("green")).as("n_green"))
      .select(col("id"), col("n_transitions"), col("n_green"),
        (col("n_green") * 2 - col("n_transitions")).as("excess"),
        fdiv(col("n_green") * 1000000L, col("n_transitions"))
          .as("green_micro"))
  }

  /** TOKENIZER FERTILITY per language — the tokenizer-evaluation
    * numbers a multilingual pipeline reads before committing to a
    * vocabulary: tokens-per-word (fertility — how many subword pieces
    * a whitespace word shatters into) and bytes-per-token, per
    * language, under the BPE-ish regex tokenizer ([[bpeTokenCount]]).
    * High fertility = the language is under-served by the vocabulary
    * (its documents cost more sequence length per word). Exact
    * integer arithmetic: raw count sums and two floored micro ratios
    * (counts nonnegative, so the pmod floor ≡ SQL `//`). One
    * aggregate over the scan. Output: (lang, n_docs, total_words,
    * total_bpe, total_bytes, fertility_micro, bytes_per_token_micro).
    */
  def tokenFertility(docs: DataFrame, lang: Column,
                     text: Column): DataFrame = {
    docs.select(lang.as("lang"),
        tokenCount(text).cast("long").as("nw"),
        bpeTokenCount(text).cast("long").as("nb"),
        octet_length(text).cast("long").as("nby"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("total_words"),
        sum(col("nb")).as("total_bpe"),
        sum(col("nby")).as("total_bytes"))
      .select(col("lang"), col("n_docs"), col("total_words"),
        col("total_bpe"), col("total_bytes"),
        fdiv(col("total_bpe") * 1000000L, col("total_words"))
          .as("fertility_micro"),
        fdiv(col("total_bytes") * 1000000L, col("total_bpe"))
          .as("bytes_per_token_micro"))
  }

  /** HELD-OUT bigram perplexity with interpolated back-off — the
    * language-model quality score as it is actually used in a data
    * pipeline: the model TRAINS on one deterministic hash half of the
    * corpus and SCORES the other, so unseen bigrams are real and the
    * back-off path (λ·p₂ + (1−λ)·p₁, add-one-smoothed unigrams with
    * the train vocabulary as V) genuinely fires — [[bigramNll]]'s
    * self-scoring never exercises it. Per-term −ln snaps ×1e6 pre-sum
    * (order-free); `backoff_rate` reports how often p₂ was absent.
    * Corpus-sized work: one token scan + bigram/unigram hash
    * aggregates + the posting joins on the (a, b)/(a)/(b) keys.
    * Output: one row (n_train_docs, n_heldout_docs, n_bigrams,
    * avg_nll, backoff_rate).
    */
  def heldoutBigramNll(docs: DataFrame, idCol: String, text: Column,
                       lam: Double = 0.7): DataFrame = {
    // λ = 1 would make an unseen bigram's probability exactly 0 and
    // its −ln infinite; the unigram floor must keep positive weight
    require(lam > 0.0 && lam < 1.0, "lam must be in (0, 1)")
    val tagged = docs.select(col(idCol).as("id"), tokens(text).as("tk"),
      (Sampling.hashBucket(col(idCol), 2) === 0).as("is_train"))
    val bg = tagged
      .select(col("id"), col("is_train"), explode(Cols.bound(col("tk")) {
        t =>
          when(size(t) < 2,
            array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(sequence(lit(1), size(t) - 1),
              i => struct(element_at(t, i).as("a"),
                element_at(t, i + 1).as("b"))))
      }).as("bgp"))
      .select(col("id"), col("is_train"),
        col("bgp.a").as("a"), col("bgp.b").as("b"))
    val uni = tagged.filter(col("is_train"))
      .select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val tv = uni.agg(sum(col("cw")).as("tt"), count(lit(1)).as("v"))
    val cb = bg.filter(col("is_train")).groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cab"))
    val ca2 = cb.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val nd = tagged.agg(
      sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train_docs"),
      sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_heldout_docs"))
    val p2 = when(col("cab").isNull || col("ca").isNull, lit(0.0))
      .otherwise(col("cab").cast("double") / col("ca").cast("double"))
    val p1 = (coalesce(col("cb1"), lit(0L)) + 1).cast("double") /
      (col("tt") + col("v")).cast("double")
    bg.filter(!col("is_train"))
      .join(cb, Seq("a", "b"), "left")
      .join(ca2, Seq("a"), "left")
      .join(uni.select(col("w").as("b"), col("cw").as("cb1")),
        Seq("b"), "left")
      .crossJoin(broadcast(tv))
      .select(
        round(-log(lit(lam) * p2 + lit(1.0 - lam) * p1) * lit(1e6))
          .cast("long").as("tfp"),
        when(col("cab").isNull, 1L).otherwise(0L).as("bo"))
      .agg(count(lit(1)).as("n_bigrams"),
        round((sum(col("tfp")).cast("double") /
          (count(lit(1)).cast("double") * 1e6)).cast("decimal(20,10)"), 4)
          .cast("double").as("avg_nll"),
        round((sum(col("bo")).cast("double") /
          count(lit(1)).cast("double")).cast("decimal(20,10)"), 4)
          .cast("double").as("backoff_rate"))
      .crossJoin(broadcast(nd))
      .select(col("n_train_docs"), col("n_heldout_docs"),
        col("n_bigrams"), col("avg_nll"), col("backoff_rate"))
      // a corpus whose held-out half has no bigram (everything hashed
      // to train, or held-out docs all single-token) aggregates to one
      // all-null row here while a grouped oracle yields ZERO rows —
      // drop the degenerate row so both engines agree on emptiness
      .filter(col("n_bigrams") > 0)
  }

  /** Okapi BM25 top-k retrieval: score every document against
    * `queryTerms` (a small one-column `token` frame — data-derived or
    * constant) and keep the best `k` by (score desc, id).
    *
    * The inverted-index economics, expressed relationally: per-doc
    * lengths materialize in the scan pass, occurrences PRUNE to the
    * query's own tokens via a broadcast semi-join BEFORE anything
    * shuffles (only matching postings move — at 100 TB the other
    * 99.99% of the index never leaves the scan), tf aggregates on the
    * (doc, token) key, df and the corpus stats ride one-row/tiny
    * broadcasts back. Each (doc, term) BM25 term — idf ·
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with idf = ln(1 + (N−df+0.5)
    * /(df+0.5)) — snaps ×10⁶ pre-sum (the −ln convention), so a doc's
    * score is an exact integer and the top-k cutoff is engine-portable;
    * the k rows come from sort+limit (TakeOrderedAndProject, never a
    * global sort). Ranking needs dl for every doc but only matched
    * docs score, so dl joins AFTER the per-doc sum — one row per
    * matched doc, not per posting.
    */
  def bm25(docs: DataFrame, idCol: String, text: Column,
           queryTerms: DataFrame, k: Int): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val lens = docs.select(col(idCol).as("id"), tokenCount(text).as("dl"),
      tokens(text).as("tk"))
    // N and total length in ONE row; avgdl enters every term as the
    // exact ratio dl_total/N so both engines divide the same integers
    val corpus = lens.agg(count(lit(1)).as("nn"), sum(col("dl")).as("dlt"))
    val occ = lens.select(col("id"), col("dl"), explode(col("tk")).as("token"))
      .join(broadcast(queryTerms.select(col("token"))), Seq("token"),
        "left_semi")
    val tf = occ.groupBy(col("id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val terms = tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(corpus))
      .select(col("id"),
        round(
          log(lit(1.0) + (col("nn") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
            (col("tf") * lit(k1 + 1.0)) /
            (col("tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl") * col("nn").cast("double") /
                col("dlt").cast("double"))) * lit(1e6))
          .cast("long").as("sfp"))
    terms.groupBy(col("id"))
      .agg(sum(col("sfp")).as("sfp"), count(lit(1)).as("n_terms"))
      .orderBy(col("sfp").desc, col("id")).limit(k)
      // rank assigned AFTER the top-k cut: a k-row single-partition
      // window, never a global sort of the corpus; ordering on the
      // EXACT integer sum so ranks are engine-portable at ties
      .withColumn("rank", row_number().over(
        Window.partitionBy(Cols.onePartitionKey(col("id")))
          .orderBy(col("sfp").desc, col("id"))))
      .select(col("id"), col("n_terms"),
        round((col("sfp").cast("double") / lit(1e6))
          .cast("decimal(20,10)"), 4).cast("double").as("score"),
        col("rank"))
  }

  /** All-pairs sparse TF-IDF cosine similarity ≥ `minSim` via the
    * inverted index — the lexical near-dup/similarity primitive next
    * to the embedding family: weights are L2-normalized tf·ln(N/df),
    * candidate pairs come from the (term → docs) posting join, and a
    * pair's similarity is the exact sum of its shared terms' weight
    * products.
    *
    * Scale contract: posting-join work is Σ_term df², so ubiquitous
    * terms are PRUNED from the similarity domain up front —
    * `df · dfPruneDen > N · dfPruneNum` drops a term everywhere
    * (declared semantics, not an approximation of the unpruned
    * result; the integer cross-multiply keeps the cutoff exact). This
    * is the stopword economics every APSS system applies; tightening
    * the fraction trades recall on boilerplate overlap for a hard
    * df² bound. A production run would add prefix filtering on top —
    * same output, smaller candidate set.
    *
    * Determinism: raw weights snap ×10⁶ to BIGINT; the norm is
    * √(Σ wfp²) with the square-sum in DECIMAL(38,0) (wfp² ≈ 10¹⁷ —
    * a long sum overflows at 19 terms); normalized weights re-snap
    * ×10⁶ so each pair's dot product is an exact ×10¹² integer and
    * the `minSim` cutoff compares integers. Output: (id_a, id_b, sim)
    * with id_a < id_b.
    */
  def sparseCosinePairs(docs: DataFrame, idCol: String, text: Column,
                        minSim: Double, dfPruneNum: Int,
                        dfPruneDen: Int): DataFrame = {
    val terms = docs.select(col(idCol).as("id"), explode(tokens(text)).as("term"))
    val tf = terms.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val wts = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * dfPruneDen <= col("n_docs") * dfPruneNum)
      .select(col("id"), col("term"),
        round(col("tf") * log(col("n_docs").cast("double") /
          col("df").cast("double")) * lit(1e6)).cast("long").as("wfp"))
    val norms = wts.groupBy(col("id"))
      .agg(sqrt(sum((col("wfp") * col("wfp")).cast("decimal(38,0)"))
        .cast("double")).as("norm"))
    val nw = wts.join(norms, "id")
      .select(col("id"), col("term"),
        round(col("wfp").cast("double") / col("norm") * lit(1e6))
          .cast("long").as("nwfp"))
    nw.as("a").join(nw.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.nwfp") * col("b.nwfp")).as("sfp"))
      .filter(col("sfp") >= math.round(minSim * 1e12))
      .select(col("id_a"), col("id_b"),
        round((col("sfp").cast("double") / lit(1e12))
          .cast("decimal(20,10)"), 4).cast("double").as("sim"))
  }

  /** HILL TAIL-INDEX estimator over a unit-frequency distribution —
    * zipfFit's heavy-tail companion: α̂ = k / Σ_{i≤k}(ln x_(i) −
    * ln x_(k+1)) over the top-(k+1) order statistics of the unit
    * counts. Where zipfFit regresses the whole head's shape, Hill
    * reads just how heavy the extreme tail is — the number that
    * decides whether frequency-based sampling caps are needed (α ≤ 2
    * means unbounded variance: a uniform-over-occurrences sample is
    * dominated by a few units).
    *
    * Scale shape: one hash aggregate to unit counts, the order
    * statistics via sort+limit (TakeOrderedAndProject — never a
    * global sort), ranks under one constant partition on the bounded
    * (k+1)-row head. Determinism: each ln snaps ×1e6 pre-sum, α is
    * one double division snapped to 6dp. Output one row (n_vocab, k,
    * x_tail, alpha); alpha is null when all top-(k+1) counts tie, and
    * the result is empty when the vocabulary has ≤ k units (declared).
    */
  def hillTailIndex(docs: DataFrame, unit: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val vf = docs.select(explode(unit).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("cnt"))
    val nv = vf.agg(count(lit(1)).as("n_vocab"))
    val top = vf.orderBy(col("cnt").desc, col("u")).limit(k + 1)
    val w = Window.partitionBy(Cols.onePartitionKey(col("u")))
      .orderBy(col("cnt").desc, col("u"))
    val ranked = top.withColumn("rnk", row_number().over(w))
      .withColumn("lfp",
        round(log(col("cnt").cast("double")) * lit(1e6)).cast("long"))
    val tailv = ranked.filter(col("rnk") === k + 1)
      .select(col("cnt").as("x_tail"), col("lfp").as("lt"))
    ranked.filter(col("rnk") <= k)
      .crossJoin(broadcast(tailv))
      .groupBy(col("x_tail"))
      .agg(count(lit(1)).as("k"), sum(col("lfp") - col("lt")).as("sfp"))
      .crossJoin(broadcast(nv))
      .select(col("n_vocab"), col("k"), col("x_tail"),
        when(col("sfp") === 0, lit(null)).otherwise(
          round((col("k").cast("double") * lit(1e6) /
            col("sfp").cast("double")).cast("decimal(20,10)"), 6)
            .cast("double")).as("alpha"))
  }

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS kernel): hash every POSITIONAL token
    * `k`-gram, slide a window of `w` consecutive gram hashes, and in
    * each window select the minimum hash, ties broken by RIGHTMOST
    * position. The selected set is the document's fingerprint sketch,
    * with the paper's two guarantees: any shared token run of length
    * ≥ w + k − 1 between two documents yields at least one shared
    * selected hash (detection), and expected density is 2/(w+1) of
    * the gram stream (compression) — the sketch a plagiarism /
    * near-dup span system stores instead of full text.
    *
    * Shape: one positional-gram expansion inside the scan projection
    * (the k-gram and its 60-bit md5 hash are pure codegen'd column
    * expressions), then ONE shuffle on the doc key where both the
    * per-doc gram count and the sliding `rowsBetween(0, w-1)` min
    * ride the same partitioning. The rightmost-min tie break is the
    * lexicographic struct min over (h, -pos) — no second pass.
    * Windows are the n−w+1 FULL ones; documents with fewer than `w`
    * grams (but ≥ 1) degrade to their single overall min, so every
    * non-empty document keeps ≥ 1 fingerprint. Output one row per
    * distinct selected (id, h, fpos) — position kept so callers can
    * localize matched spans; hash-level matching should distinct on
    * (id, h).
    */
  def winnowingFingerprints(docs: DataFrame, idCol: Column, text: Column,
                            k: Int, w: Int): DataFrame = {
    require(k >= 1, "gram size k must be >= 1")
    require(w >= 1, "window size w must be >= 1")
    val grams = docs.select(idCol.as("id"), tokens(text).as("tk"))
      .select(col("id"), posexplode(Cols.bound(col("tk")) { t =>
        when(size(t) < k, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(t) - (k - 1)),
            i => concat_ws(" ", (0 until k).map(j => element_at(t, i + j)): _*)))
      }))
      .select(col("id"), col("pos"), Dedup.hashLong(col("col")).as("h"))
    val wSlide = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    val wDoc = Window.partitionBy(col("id"))
    grams
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(wSlide))
      .filter(col("pos") <= col("n") - w ||
        (col("n") < w && col("pos") === 0))
      .select(col("id"), col("sel.h").as("h"), (-col("sel.np")).as("fpos"))
      .distinct()
  }

  /** MULTINOMIAL NAIVE BAYES train/eval — the classic bag-of-words
    * text classifier as a full in-engine protocol: docs hash-split
    * 3:1, add-one-smoothed per-(class, token) log-probabilities fit
    * on the train split, every held-out doc scored argmax_c
    * [ln P(c) + Σ_tok ln P(tok|c)], confusion counts out. The
    * supervised baseline beside the heuristic langId (q25) and the
    * unsupervised bigram-LM (q138) — and the eval harness any
    * replacement classifier must beat.
    *
    * Determinism: every log-probability snaps to a ×10⁶ integer
    * weight BEFORE any sum (the bigramNll convention), scores are
    * exact integer sums, argmax ties break on class name.
    *
    * Scale shape: training is one (class, token) hash aggregate;
    * scoring joins held-out token OCCURRENCES to the weight table on
    * the token key (|classes|× fan-out, map-side combinable to
    * (doc, class) partials); every token the class did NOT see —
    * whether in-vocabulary-but-absent-from-c or out-of-vocabulary —
    * rides a per-doc count times the class default ln(1/(n_c+V)), so
    * no per-doc vocabulary scan is ever needed. The
    * doc×class score grid crosses a broadcast |classes|-row table.
    * Output: (y, pred, n) held-out confusion counts.
    */
  def naiveBayesEval(docs: DataFrame, idCol: String, label: Column,
                     text: Column): DataFrame = {
    val tg = docs.select(col(idCol).as("id"), label.as("y"),
      tokens(text).as("tk"),
      (Sampling.hashBucket(col(idCol), 4) =!= 0).as("is_train"))
    val occ = tg.select(col("id"), col("y"), col("is_train"),
      explode(col("tk")).as("tok"))
    // cw fans out 5 ways (nc, vd→vv, wts, and vd again via niv/uns)
    // and ho 3 ways (seen, niv, uns) — lazy, every consumer re-ran the
    // tokenize→explode→aggregate chain and the q396/q255 plan carried
    // 78 parquet scans (r16 plan audit). Materialize each once: cw is
    // model-sized (class × vocab), ho is the held-out quarter's token
    // stream — both far below the 5 repeated full-corpus passes they
    // replace. Results unchanged (pure materialization).
    val cw = occ.filter(col("is_train"))
      .groupBy(col("y").as("c"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val nc = cw.groupBy(col("c")).agg(sum(col("cnt")).as("n_c"))
    val vd = cw.select(col("tok")).distinct()
    val vv = vd.agg(count(lit(1)).as("v"))
    val dc = tg.filter(col("is_train"))
      .groupBy(col("y").as("c")).agg(count(lit(1)).as("nd_c"))
    val nd = dc.agg(sum(col("nd_c")).as("nd"))
    val cls = nc.join(dc, "c").crossJoin(broadcast(nd))
      .crossJoin(broadcast(vv))
      .select(col("c"), col("n_c"), col("v"),
        round(log(col("nd_c").cast("double") /
          col("nd").cast("double")) * 1e6).cast("long").as("prior_m"),
        round(log(lit(1.0) / (col("n_c") + col("v")).cast("double"))
          * 1e6).cast("long").as("def_m"))
    val wts = cw.join(nc, "c").crossJoin(broadcast(vv))
      .select(col("c"), col("tok"),
        round(log((col("cnt") + 1).cast("double") /
          (col("n_c") + col("v")).cast("double")) * 1e6).cast("long")
          .as("w_m"))
    val ho = occ.filter(!col("is_train"))
      .select(col("id"), col("tok"))
      .localCheckpoint(true)
    val seen = ho.join(wts, "tok")
      .groupBy(col("id"), col("c")).agg(sum(col("w_m")).as("s_seen"),
        count(lit(1)).as("n_seen"))
    // An IN-VOCAB token a class never saw still carries the smoothed
    // default mass ln(1/(n_c+V)) — without it, absent tokens score 0,
    // which BEATS the negative default and biases toward classes that
    // never saw the token. n_iv counts in-vocab held-out occurrences;
    // (n_iv - n_seen_c) of them fall back to def_m per class.
    val niv = ho.join(vd, Seq("tok"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_iv"))
    val uns = ho.join(vd, Seq("tok"), "left_anti")
      .groupBy(col("id")).agg(count(lit(1)).as("n_unseen"))
    val hd = tg.filter(!col("is_train")).select(col("id"), col("y"))
    val sc = hd.crossJoin(broadcast(cls.select(col("c"),
        col("prior_m"), col("def_m"))))
      .join(seen, Seq("id", "c"), "left")
      .join(niv, Seq("id"), "left")
      .join(uns, Seq("id"), "left")
      .select(col("id"), col("y"), col("c"),
        (col("prior_m") + coalesce(col("s_seen"), lit(0L)) +
          (coalesce(col("n_iv"), lit(0L)) -
            coalesce(col("n_seen"), lit(0L))) * col("def_m") +
          coalesce(col("n_unseen"), lit(0L)) * col("def_m"))
          .as("score"))
    sc.withColumn("rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("score").desc, col("c"))))
      .filter(col("rn") === 1)
      .groupBy(col("y"), col("c").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022 — the infill
    * training format code models ship on): per document, two
    * DETERMINISTIC cut points c = hashLong(id:salt) mod (n+1) (the
    * no-RNG sampling convention; the same doc cuts identically on
    * every run and engine), the token stream splits prefix/middle/
    * suffix at [lo, hi), and the PSM render re-orders them behind
    * sentinel markers: `<PRE> prefix <SUF> suffix <MID> middle` —
    * the model learns to produce the middle conditioned on both
    * sides. Degenerate docs (empty, or cuts collapsing) flow through
    * with empty segments — the render is total. Output: (doc_id,
    * n_tokens, lo, hi, psm_fp) with psm_fp the md5 of the rendered
    * string (byte-exact cross-engine).
    */
  def fimSplit(docs: DataFrame, id: Column, text: Column): DataFrame = {
    def cut(salt: String, n: Column): Column =
      pmod(Dedup.hashLong(concat(id.cast("string"), lit(":" + salt))),
        n + 1)
    val tk = tokens(text)
    docs.select(id.cast("long").as("doc_id"), tk.as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .withColumn("c1", cut("a", col("n_tokens")))
      .withColumn("c2", cut("b", col("n_tokens")))
      .withColumn("lo", least(col("c1"), col("c2")))
      .withColumn("hi", greatest(col("c1"), col("c2")))
      .select(col("doc_id"), col("n_tokens"), col("lo"), col("hi"),
        md5(concat(lit("<PRE> "),
          concat_ws(" ", slice(col("tk"), lit(1), col("lo").cast("int"))),
          lit(" <SUF> "),
          concat_ws(" ", slice(col("tk"), (col("hi") + 1).cast("int"),
            (col("n_tokens") - col("hi")).cast("int"))),
          lit(" <MID> "),
          concat_ws(" ", slice(col("tk"), (col("lo") + 1).cast("int"),
            (col("hi") - col("lo")).cast("int"))))).as("psm_fp"))
  }

  /** SPAN-CORRUPTION yield plan (T5, Raffel et al. 2020 §3.1.4 —
    * [[fimSplit]]'s denoising sibling): for corruption rate r% with
    * mean span length L, a doc of n tokens yields
    * n_corrupt = max(1, ⌊n·r/100⌋) masked tokens in
    * n_spans = max(1, ⌊n_corrupt/L⌋) spans; the encoder input is
    * n − n_corrupt + n_spans tokens (one sentinel per span) and the
    * decoder target n_corrupt + n_spans + 1 (sentinels + EOS) — the
    * exact token-budget arithmetic that sizes a denoising dataset
    * BEFORE it is built (the mixturePlan convention: plan on
    * counts, not materialized examples). Zero-token docs yield
    * nothing on either side. One scan, one per-group aggregate.
    * Output per group: (grp, n_docs, n_tokens, n_corrupt, n_spans,
    * input_tokens, target_tokens, blowup_micro = (input+target)/raw).
    */
  def spanCorruptionPlan(docs: DataFrame, group: Column, text: Column,
                         ratePct: Int, meanSpan: Int): DataFrame = {
    require(ratePct >= 1 && ratePct <= 99, "rate must be in [1, 99]")
    require(meanSpan >= 1, "meanSpan must be >= 1")
    docs
      .select(group.as("grp"), tokenCount(text).cast("long").as("n"))
      .select(col("grp"), col("n"),
        when(col("n") === 0, 0L).otherwise(
          greatest(lit(1L), fdiv(col("n") * ratePct, lit(100L))))
          .as("nc"))
      .select(col("grp"), col("n"), col("nc"),
        when(col("n") === 0, 0L).otherwise(
          greatest(lit(1L), fdiv(col("nc"), lit(meanSpan.toLong))))
          .as("ns"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        sum(col("nc")).as("n_corrupt"), sum(col("ns")).as("n_spans"),
        sum(col("n") - col("nc") + col("ns")).as("input_tokens"),
        sum(when(col("n") === 0, 0L)
          .otherwise(col("nc") + col("ns") + 1)).as("target_tokens"))
      .withColumn("blowup_micro",
        when(col("n_tokens") === 0, lit(null).cast("long"))
          .otherwise(fdiv(
            dec(col("input_tokens") + col("target_tokens")) *
              lit(1000000L), dec(col("n_tokens")))))
  }

  /** VOCABULARY-COVERAGE plan — the tokenizer-budget read: if the
    * vocab keeps only the top-V types (by corpus frequency), what
    * share of the TOKEN mass is covered (the rest falls back to
    * bytes/UNK)? Exact: the frequency SPECTRUM (freq → type count)
    * is tiny; descending-frequency type ranks come from the prefix
    * kernel over the spectrum; coverage(V) = Σ over frequency
    * classes of min(n_types, max(0, V − types_above)) · freq — ties
    * inside the boundary class take the partial count, so coverage
    * is a pure function of V (no per-type ordering needed). Output
    * one row per V: (vocab_size, covered_tokens, total_tokens,
    * coverage_micro).
    */
  def vocabCoveragePlan(docs: DataFrame, text: Column,
                        vs: Seq[Int]): DataFrame = {
    require(vs.nonEmpty && vs.forall(_ >= 1))
    val spectrum = docs.select(explode(tokens(text)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
    val ranked = Ranks.withRunningBelow(
      spectrum.withColumn("nf", -col("freq")), "nf", 1000000L,
      Seq("n_types"))
      .select(col("freq"), col("n_types"),
        col("n_types_below").as("types_above"))
    val tot = spectrum
      .agg(sum(dec(col("freq")) * col("n_types")).cast("long")
        .as("total_tokens"))
    val spark = docs.sparkSession
    import spark.implicits._
    val spine = vs.map(_.toLong).toDF("v")
    ranked
      .crossJoin(broadcast(spine))
      .groupBy(col("v").as("vocab_size"))
      .agg(sum(dec(col("freq")) * least(col("n_types"),
        greatest(col("v") - col("types_above"), lit(0L))))
        .cast("long").as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_micro",
        fdiv(dec(col("covered_tokens")) * lit(1000000L),
          dec(greatest(col("total_tokens"), lit(1L)))))
  }
  /** GOOD–TURING unseen-mass estimate per group — the "how much
    * vocabulary have we NOT seen yet" read behind corpus-growth
    * planning (the probabilistic complement of [[heapsFit]]'s
    * type-growth curve): the Good–Turing estimator puts probability
    * N₁/N on unseen types (N₁ = singleton count). Exact integers off
    * one token-frequency aggregate: (grp, n_tokens, n_types,
    * singletons, doubletons, p_unseen_micro = ⌊N₁·1e6/N⌋). Two
    * map-side-combinable aggregates, no windows.
    */
  def goodTuringUnseen(docs: DataFrame, group: Column,
                       text: Column): DataFrame = {
    docs.select(group.as("grp"), explode(tokens(text)).as("w"))
      .groupBy(col("grp"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("singletons"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("doubletons"))
      .withColumn("p_unseen_micro",
        fdiv(dec(col("singletons")) * lit(1000000L),
          dec(col("n_tokens"))))
  }

  /** N-GRAM NOVELTY CURVE — the "creativity index" family read (Lu
    * et al. 2024): for each n ≤ maxN, the fraction of candidate-side
    * n-gram occurrences NOT present anywhere in the reference slice.
    * The inverse of [[graft.ops.Dedup.contaminationOverlap]]'s
    * single-n containment: sweeping n shows WHERE text stops being
    * recombination (high novelty at large n, low at small n is
    * healthy; low everywhere means verbatim copying). Grams never
    * materialize as strings: tokens hash to the portable 60-bit md5
    * ONCE, and each n-gram's key is a rolling integer fold
    * acc·3 + h mod (2⁶¹ − 1) over the token-hash slice — tokens×Σn
    * integer ops instead of an md5 per gram (measured ~2× on the
    * q426 gate), with the modulus chosen so 3·(p−1)+(p−1) < 2⁶³
    * never overflows and the 2⁶¹ key space keeps birthday collisions
    * negligible at 1e9 grams. The reference set is distinct per
    * (n, hash); novelty counts OCCURRENCES (a repeated novel gram is
    * repeated novelty). Exact integers + one micro floor per n.
    * Output one row per n: (n, cand_grams, novel_grams,
    * novelty_micro).
    */
  def ngramNoveltyCurve(docs: DataFrame, id: Column, text: Column,
                        isRef: Column, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 16, "maxN must be in [1, 16]")
    val p61 = 2305843009213693951L // 2^61 − 1: 4·(p−1) < Long.Max
    // Level-by-level ROLLING gram keys (r16): level n extends level
    // n−1 by one token hash — g_n(i) = (g_{n−1}(i)·3 + h(i+n−1)) mod p,
    // identical by induction to the former per-window fold
    // aggregate(slice(hs, i, n)) but O(maxN·len) interpreted lambda
    // steps instead of O(Σn·len) ≈ 4.5× more, and with two big slices
    // per level per row instead of one n-element slice ALLOCATION per
    // window. Each level lands as its own aliased column so it
    // evaluates once per row (g_{n−1} is referenced twice — by g_n and
    // by the final explode — which blocks CollapseProject inlining).
    def lvl(n: Int): String = s"__g$n"
    var leveled = docs
      .select(isRef.as("is_ref"),
        transform(tokens(text), t => Dedup.hashLong(t)).as(lvl(1)))
    for (n <- 2 to maxN) leveled = leveled.withColumn(lvl(n),
      when(size(col(lvl(1))) < n, array().cast("array<long>"))
        .otherwise(zip_with(
          slice(col(lvl(n - 1)), lit(1), size(col(lvl(1))) - (n - 1)),
          slice(col(lvl(1)), lit(n), size(col(lvl(1))) - (n - 1)),
          (g, h) => pmod(g * 3 + h, lit(p61)))))
    val base = leveled
      .select(col("is_ref"),
        explode(array((1 to maxN).map(n =>
          struct(lit(n).as("n"), col(lvl(n)).as("gs"))): _*))
          .as("r"))
      .select(col("is_ref"), col("r.n").as("n"),
        explode(col("r.gs")).as("h"))
    val ref = base.filter(col("is_ref"))
      .select(col("n"), col("h")).distinct()
    base.filter(!col("is_ref"))
      .join(ref.withColumn("seen", lit(true)), Seq("n", "h"), "left")
      .groupBy(col("n"))
      .agg(count(lit(1)).as("cand_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L))
          .as("novel_grams"))
      .select(col("n"), col("cand_grams"), col("novel_grams"),
        fdiv(dec(col("novel_grams")) * lit(1000000L),
          dec(col("cand_grams"))).as("novelty_micro"))
  }

  /** SPECULATIVE-DECODING ACCEPTANCE AUDIT (Leviathan et al. 2023;
    * Chen et al. 2023, greedy variant) — the data-side read before
    * deploying a draft model: given per doc the draft (`hyp`) and
    * target (`ref`) token sequences, replay the speculation loop with
    * window W exactly: each round proposes W draft tokens from the
    * current position, the accepted prefix runs to the first
    * disagreement, then ONE corrected target token advances past it.
    * A mismatch at i (i ≥ |hyp| or hyp[i] ≠ ref[i]) therefore ends
    * its round at i+1, and the rounds BETWEEN mismatches are pure
    * gap arithmetic: gap g of agreeing tokens costs ⌈g/W⌉ full-
    * accept rounds. So per doc, with sorted mismatch positions m_k:
    *   rounds = Σ_k (⌊(m_k − m_{k−1} − 1)/W⌋ + 1)  (m_{−1} = −1)
    *          + ⌈(n − m_last − 1)/W⌉               (the match tail)
    * — the whole sequential loop collapses to one lag formula over
    * the mismatch array (HOF fold, no window, no explode; the
    * mismatch array is doc-sized like the tokens themselves).
    * Output per doc: (id, n_tokens, n_mismatch, n_rounds,
    * accept_rate_micro, speedup_micro = ⌊n·10⁶/rounds⌋ — the target-
    * model-calls saving; null on empty docs). Exact integers only.
    */
  def speculativeAcceptance(pairs: DataFrame, id: Column, hyp: Column,
                            ref: Column, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val w = lit(window.toLong)
    val n = size(ref).cast("long")
    // mismatch positions, 0-based (CaseWhen guards the OOB read)
    val mm = when(n === 0, array().cast("array<long>"))
      .otherwise(filter(sequence(lit(0L), n - 1), i =>
        when(i < size(hyp),
          element_at(hyp, (i + 1).cast("int")) =!=
            element_at(ref, (i + 1).cast("int"))).otherwise(lit(true))))
    val out = pairs.select(id.as("id"), n.as("n_tokens"),
        Cols.bound(mm) { m =>
          struct(size(m).cast("long").as("nm"),
            (aggregate(zip_with(m,
                slice(concat(array(lit(-1L)), m), lit(1), size(m)),
                (cur, prev) => fdiv(cur - prev - 1, w) + 1),
              lit(0L), (acc, r) => acc + r) +
             Cols.bound(when(size(m) === 0, lit(-1L))
               .otherwise(element_at(m, -1))) { lastm =>
               fdiv(size(ref).cast("long") - lastm - 1 + w - 1, w)
             }).as("rounds"))
        }.as("s"))
      .select(col("id"), col("n_tokens"),
        col("s.nm").as("n_mismatch"), col("s.rounds").as("n_rounds"))
    out.select(col("id"), col("n_tokens"), col("n_mismatch"),
      col("n_rounds"),
      when(col("n_tokens") === 0, lit(null).cast("long"))
        .otherwise(fdiv(dec(col("n_tokens") - col("n_mismatch")) *
          lit(1000000L), dec(col("n_tokens"))))
        .as("accept_rate_micro"),
      when(col("n_rounds") === 0, lit(null).cast("long"))
        .otherwise(fdiv(dec(col("n_tokens")) * lit(1000000L),
          dec(col("n_rounds")))).as("speedup_micro"))
  }

  /** Corpus-level BLEU-4 (Papineni et al. 2002) — the canonical MT /
    * generation eval, computed as pure relational algebra: per doc
    * and per n ∈ 1..4 the CLIPPED n-gram matches (min of hypothesis
    * and reference counts per distinct gram — one join + least, the
    * textbook clipping), summed corpus-wide; precisions are exact
    * integer ratios; the only transcendentals (the brevity penalty's
    * exp and the geometric mean's ln/exp) run on corpus-level
    * integer totals and the final score snaps ×1e6 — bit-replayable
    * like every −ln convention op. Zero matches at any order → BLEU
    * 0 (the standard corpus-BLEU degenerate case, no smoothing).
    * `pairs` is (id, hyp: array&lt;string&gt;, ref: array&lt;string&gt;).
    * Output one row: (hyp_len, ref_len, m1..m4, t1..t4, bleu_micro).
    *
    * Scale shape: one explode per side per order (8 narrow explodes
    * over token-sized data), every aggregate map-side combinable,
    * the join on (id, n, gram) natural keys; nothing after the
    * per-order totals is data-sized.
    */
  def corpusBleu(pairs: DataFrame): DataFrame = {
    def grams(c: Column, n: Int): Column =
      when(size(c) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(c) - (n - 1)),
          i => concat_ws(" ", slice(c, i, lit(n)))))
    // ONE shuffle on the gram key: side-tagged union, clip inside a
    // single aggregate (see chrF for the shape rationale)
    val tagged = pairs
      .select(col("id"), lit(1L).as("hs"), col("hyp").as("s"))
      .unionByName(pairs
        .select(col("id"), lit(0L).as("hs"), col("ref").as("s")))
    val clipped = tagged
      .select(col("id"), col("hs"),
        explode(array((1 to 4).map(n =>
          struct(lit(n).as("n"), grams(col("s"), n).as("gs"))): _*))
          .as("r"))
      .select(col("id"), col("hs"), col("r.n").as("n"),
        explode(col("r.gs")).as("g"))
      .groupBy(col("id"), col("n"), col("g"))
      .agg(sum(col("hs")).as("c_hyp"), sum(lit(1L) - col("hs"))
        .as("c_ref"))
      .filter(col("c_hyp") > 0L)
      .groupBy(col("n"))
      .agg(sum(least(col("c_hyp"), col("c_ref"))).as("m"),
        sum(col("c_hyp")).as("t"))
    val lens = pairs.agg(
      sum(size(col("hyp")).cast("long")).as("hyp_len"),
      sum(size(col("ref")).cast("long")).as("ref_len"))
    val wide = clipped.groupBy()
      .pivot("n", Seq(1, 2, 3, 4))
      .agg(first(col("m")).as("m"), first(col("t")).as("t"))
      .select((1 to 4).flatMap(n => Seq(
        coalesce(col(s"${n}_m"), lit(0L)).as(s"m$n"),
        coalesce(col(s"${n}_t"), lit(0L)).as(s"t$n"))): _*)
    val logPrecisions = (1 to 4).map(n =>
      log(col(s"m$n").cast("double") / col(s"t$n").cast("double")))
    val bp = when(col("hyp_len") >= col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) - col("ref_len").cast("double") /
        col("hyp_len").cast("double")))
    lens.crossJoin(broadcast(wide))
      .select(col("hyp_len"), col("ref_len"),
        col("m1"), col("m2"), col("m3"), col("m4"),
        col("t1"), col("t2"), col("t3"), col("t4"),
        when((1 to 4).map(n => col(s"m$n") === 0L).reduce(_ || _),
          lit(0L))
          .otherwise(round(lit(1e6) * bp *
            exp(logPrecisions.reduce(_ + _) / lit(4.0))).cast("long"))
          .as("bleu_micro"))
  }

  /** ROUGE-N (Lin 2004) corpus-level — the summarization eval:
    * recall-oriented n-gram overlap with the reference. ENTIRELY
    * integer: with m the clipped matches, h/r the hypothesis/
    * reference gram totals, recall = m/r, precision = m/h, and F1
    * collapses to 2m/(h + r) — three micro floors, no
    * transcendental. Same side-tagged single-aggregate clip shape as
    * [[corpusBleu]]/[[chrF]]. Output one row: (n, matches,
    * hyp_grams, ref_grams, recall_micro, precision_micro, f1_micro).
    */
  def rougeN(pairs: DataFrame, n: Int): DataFrame = {
    require(n >= 1 && n <= 8, "n must be in [1, 8]")
    def grams(c: Column): Column =
      when(size(c) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(c) - (n - 1)),
          i => concat_ws(" ", slice(c, i, lit(n)))))
    def rate(num: Column, den: Column): Column =
      when(den === 0L, lit(0L))
        .otherwise(fdiv(dec(num) * lit(1000000L), dec(den)))
    pairs
      .select(col("id"), lit(1L).as("hs"), col("hyp").as("s"))
      .unionByName(pairs
        .select(col("id"), lit(0L).as("hs"), col("ref").as("s")))
      .select(col("id"), col("hs"), explode(grams(col("s"))).as("g"))
      .groupBy(col("id"), col("g"))
      .agg(sum(col("hs")).as("ch"), sum(lit(1L) - col("hs")).as("cr"))
      .agg(sum(when(col("ch") > 0L && col("cr") > 0L,
          least(col("ch"), col("cr"))).otherwise(0L)).as("matches"),
        sum(col("ch")).as("hyp_grams"),
        sum(col("cr")).as("ref_grams"))
      .select(lit(n).as("n"), coalesce(col("matches"), lit(0L))
          .as("matches"),
        coalesce(col("hyp_grams"), lit(0L)).as("hyp_grams"),
        coalesce(col("ref_grams"), lit(0L)).as("ref_grams"))
      .withColumn("recall_micro", rate(col("matches"),
        col("ref_grams")))
      .withColumn("precision_micro", rate(col("matches"),
        col("hyp_grams")))
      .withColumn("f1_micro", rate(col("matches") * 2,
        col("hyp_grams") + col("ref_grams")))
  }

  /** chrF (Popović 2015) with β = 2 — the character-level generation
    * eval beside [[corpusBleu]] (robust to tokenization and
    * morphology, the WMT default alongside BLEU). ENTIRELY integer:
    * with tp_n the clipped char-n-gram matches, th_n/tr_n the
    * hypothesis/reference gram totals, the β = 2 F-score collapses to
    * F2_n = 5·tp_n/(4·tr_n + th_n) — one micro floor per order, no
    * transcendental anywhere (unlike BLEU's geometric mean); chrF =
    * the floored mean of the per-order F2s (orders with no grams on
    * either side contribute 0). `pairs` is (id, hyp, ref) STRINGS —
    * callers strip whitespace first (the tokens-joined convention);
    * char grams come from substr sweeps, clipping from one
    * (id, n, gram) join + least, all aggregates map-side combinable.
    * Output one row per order (n, tp, hyp_grams, ref_grams, f2_micro)
    * with the constant chrf_micro on every row.
    */
  def chrF(pairs: DataFrame, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 10, "maxN must be in [1, 10]")
    def grams(c: Column, n: Int): Column =
      when(length(c) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(c) - (n - 1)),
          i => c.substr(i, lit(n))))
    // ONE shuffle on the gram key: both sides union side-tagged and
    // clip inside a single aggregate (the q360 max-over-unpivot
    // convention) — a per-side groupBy + full-outer join would pay
    // the (id, n, gram) exchange twice plus a join.
    val tagged = pairs
      .select(col("id"), lit(1L).as("hs"), col("hyp").as("s"))
      .unionByName(pairs
        .select(col("id"), lit(0L).as("hs"), col("ref").as("s")))
    val perOrder = tagged
      .select(col("id"), col("hs"),
        explode(array((1 to maxN).map(n =>
          struct(lit(n).as("n"), grams(col("s"), n).as("gs"))): _*))
          .as("r"))
      .select(col("id"), col("hs"), col("r.n").as("n"),
        explode(col("r.gs")).as("g"))
      .groupBy(col("id"), col("n"), col("g"))
      .agg(sum(col("hs")).as("c_hyp"),
        sum(lit(1L) - col("hs")).as("c_ref"))
      .groupBy(col("n"))
      .agg(sum(when(col("c_hyp") > 0L && col("c_ref") > 0L,
          least(col("c_hyp"), col("c_ref"))).otherwise(0L)).as("tp"),
        sum(col("c_hyp")).as("hyp_grams"),
        sum(col("c_ref")).as("ref_grams"))
      .select(col("n"), col("tp"), col("hyp_grams"), col("ref_grams"),
        when(col("ref_grams") * 4 + col("hyp_grams") === 0L, lit(0L))
          .otherwise(fdiv(dec(col("tp")) * lit(5000000L),
            dec(col("ref_grams") * 4 + col("hyp_grams"))))
          .as("f2_micro"))
    // overall chrF rides a GLOBAL WINDOW over the maxN-row per-order
    // frame, not a crossJoin(broadcast(agg)): the broadcast side was a
    // separate subtree, so the whole gram explode + both exchanges ran
    // TWICE per action (r16 plan audit: nodes 19-40 duplicated 1-18;
    // q429 5.0 -> 2.6 s). A single-partition window is fine here — the
    // frame is ≤ maxN ≤ 10 rows, never data (the onePartitionKey rule
    // targets data-sized frames). Same integer arithmetic, same rows.
    val wAll = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    perOrder.withColumn("chrf_micro",
      fdiv(dec(coalesce(sum(col("f2_micro")).over(wAll), lit(0L))),
        dec(lit(maxN.toLong))))
  }

  /** RHO-LOSS selection (Mindermann et al. 2022, "Prioritized
    * Training on Points that are Learnable, Worth Learning, and Not
    * Yet Learnt") — rank candidate docs by REDUCIBLE loss: training
    * loss minus the irreducible loss a reference model (trained on
    * clean held-out data) assigns. High training loss alone surfaces
    * noise; subtracting the reference loss keeps only points the
    * model can still LEARN — the curation tier above plain
    * perplexity filtering ([[heldoutBigramNll]]).
    *
    * Concretely: hash-split the corpus into thirds — bucket 0 trains
    * the main interpolated-bigram model, bucket 1 the reference
    * model, bucket 2 is the candidate pool. Each pool bigram scores
    * −ln(λ·p₂ + (1−λ)·p₁) under BOTH models, snapped ×1e6 pre-sum
    * (the −ln convention), so a doc's two NLL sums are exact
    * integers; score = (nll_main − nll_ref) // n_bigrams truncated
    * toward zero (DuckDB `//` parity — the diff can be negative).
    * Top-k by (score desc, id) via sort+limit (TakeOrdered, never a
    * global sort). Pool docs with <2 tokens have no bigrams and
    * drop out — they carry no trainable signal for a bigram LM.
    *
    * Scale shape: both models are count tables off one shared bigram
    * explode (map-side combinable); the pool side left-joins the
    * count tables on their natural keys and aggregates per doc —
    * the same join economics as [[heldoutBigramNll]] at twice the
    * model width, no new shuffle class.
    */
  def rhoLossSelect(docs: DataFrame, idCol: String, text: Column,
                    lam: Double, k: Int): DataFrame = {
    require(lam > 0.0 && lam < 1.0, "lam must be in (0, 1)")
    require(k >= 1, "k must be >= 1")
    val tagged = docs.select(col(idCol).as("id"), tokens(text).as("tk"),
      Sampling.hashBucket(col(idCol), 3).as("bkt"))
    val bg = tagged
      .select(col("id"), col("bkt"), explode(Cols.bound(col("tk")) {
        t =>
          when(size(t) < 2,
            array().cast("array<struct<a:string,b:string>>"))
            .otherwise(transform(sequence(lit(1), size(t) - 1),
              i => struct(element_at(t, i).as("a"),
                element_at(t, i + 1).as("b"))))
      }).as("bgp"))
      .select(col("id"), col("bkt"),
        col("bgp.a").as("a"), col("bgp.b").as("b"))
    def uniOf(bkt: Int, tag: String) =
      tagged.filter(col("bkt") === bkt)
        .select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as(s"cw_$tag"))
    def term(tag: String): Column = {
      val p2 = when(col(s"cab_$tag").isNull || col(s"ca_$tag").isNull,
        lit(0.0))
        .otherwise(col(s"cab_$tag").cast("double") /
          col(s"ca_$tag").cast("double"))
      val p1 = (coalesce(col(s"cb1_$tag"), lit(0L)) + 1).cast("double") /
        (col(s"tt_$tag") + col(s"v_$tag")).cast("double")
      round(-log(lit(lam) * p2 + lit(1.0 - lam) * p1) * lit(1e6))
        .cast("long")
    }
    def joined(pool: DataFrame, bkt: Int, tag: String): DataFrame = {
      val uni = uniOf(bkt, tag)
      val tv = uni.agg(sum(col(s"cw_$tag")).as(s"tt_$tag"),
        count(lit(1)).as(s"v_$tag"))
      val cb = bg.filter(col("bkt") === bkt).groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as(s"cab_$tag"))
      val ca = cb.groupBy(col("a")).agg(sum(col(s"cab_$tag"))
        .as(s"ca_$tag"))
      pool.join(cb, Seq("a", "b"), "left")
        .join(ca, Seq("a"), "left")
        .join(uni.select(col("w").as("b"), col(s"cw_$tag")
          .as(s"cb1_$tag")), Seq("b"), "left")
        .crossJoin(broadcast(tv))
    }
    val scored = joined(joined(bg.filter(col("bkt") === 2), 0, "m"),
      1, "r")
      .select(col("id"), term("m").as("tm"), term("r").as("tr"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("tm")).as("nll_main_micro"),
        sum(col("tr")).as("nll_ref_micro"))
    scored
      .select(col("id"), col("n_bigrams"), col("nll_main_micro"),
        col("nll_ref_micro"),
        tdiv(col("nll_main_micro") - col("nll_ref_micro"),
          col("n_bigrams")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("id")).limit(k)
  }
}
