package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.{dec, fdiv, snap4}

/** Query surface + DuckDB oracles: text analysis, tokenizers, IR scoring, LM-adjacent reads.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesTextIr {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text: token counting + corpus stats per language.
    "q23_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(Text.tokenCount(col("text"))), 2).as("avg_tokens"),
          round(avg(length(col("text"))), 2).as("avg_chars"),
          sum(Text.tokenCount(col("text"))).cast("long").as("total_tokens"))),
    // Text: per-document quality scoring (length/stopword/diversity mix).
    "q24_doc_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val toks = Text.tokens(col("text"))
      d.select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        round(Text.typeTokenRatio(toks), 4).as("ttr"),
        round(Text.wordListRatio(toks, Text.StopwordsEn), 4).as("stop_ratio"),
        Text.qualityScore(col("text")).as("score"))
    }),
    // Text: heuristic language-ID vs the labeled lang (confusion counts).
    "q25_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), Text.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n"))),
    // Text: structural-PII scrub — emails/phones planted on every 5th
    // doc, redacted with a codegen'd regexp chain; the fingerprint of
    // the redacted text proves the rewrite byte-exact cross-engine.
    "q69_pii_redact" -> ((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(" contact alice.smith@example.com or 555-123-4567 now")))
          .otherwise(col("text")).as("text"))
      seeded.select(col("doc_id"),
        Text.piiEmailCount(col("text")).as("n_emails"),
        Text.piiPhoneCount(col("text")).as("n_phones"),
        Text.fingerprint(Text.piiRedact(col("text"))).as("clean_fp"))
    }),
    // PII hygiene: PAYMENT-CARD audit with the LUHN CHECKSUM — card
    // PANs planted by doc_id residue (two valid test PANs, one
    // checksum-broken, one 12-digit non-candidate, plus a 20-digit
    // run that maximal-run extraction must NOT carve cards out of);
    // the oracle recomputes the checksum independently per extracted
    // run, so a wrong double position or digit-sum fold hash-fails.
    "q493_luhn_audit" -> ((s, dir) => {
      val seeded = t(s, dir, "documents").select(
        col("source").as("grp"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" 4111111111111111"))
            .when(col("doc_id") % 5 === 1, lit(" 5500005555555559"))
            .when(col("doc_id") % 5 === 2, lit(" 4111111111111112"))
            .when(col("doc_id") % 5 === 3, lit(" 123456789012"))
            .otherwise(lit("")),
          when(col("doc_id") % 10 === 9,
            lit(" 12345678901234567890")).otherwise(lit("")))
          .as("text"))
      Text.ccLuhnAudit(seeded, col("grp"), col("text"))
    }),
    // Text quality: FLESCH–KINCAID readability grade per source —
    // vowel-group syllables, terminal-punctuation sentences, the
    // exact micro-constant formula, per-doc snapped grades averaged.
    "q509_readability" -> ((s, dir) =>
      Text.readabilityGrade(t(s, dir, "documents"),
        col("source"), col("text"))),
    // Unicode hygiene: MIXED-SCRIPT (homoglyph-spoof) audit — every
    // 9th doc gets its a/e transliterated to the Cyrillic
    // lookalikes, so most of its tokens carry both scripts; per
    // source the mixed-token counts and flagged-doc rate.
    "q502_mixed_script" -> ((s, dir) =>
      Text.mixedScriptAudit(
        t(s, dir, "documents").select(col("source").as("grp"),
          when(col("doc_id") % 9 === 0,
            translate(col("text"), "ae", "\u0430\u0435"))
            .otherwise(col("text")).as("text")),
        col("grp"), col("text"))),
    // Text: in-document repetition (Gopher-style quality gate) —
    // 1 − distinct/total 3-grams per doc.
    "q71_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        greatest(Text.tokenCount(col("text")) - 2, lit(0)).as("n_grams"),
        Text.repetitionScore(col("text"), 3).as("repetition"))),
    // Text: mean unigram surprisal per doc (LM-perplexity proxy) —
    // corpus counts broadcast, per-term fixed-point snap so the sum is
    // order-free cross-engine.
    "q72_unigram_surprisal" -> ((s, dir) =>
      Text.unigramSurprisal(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", col("text"))
        .withColumnRenamed("id", "doc_id")),
    // Text: fixed-size token-window chunking with overlap (the
    // context-length packing step of a training pipeline) — one
    // codegen'd pass over the scan, zero shuffle; chunk_fp keeps the
    // output compact and cross-engine checkable.
    "q74_chunk_tokens" -> ((s, dir) =>
      Text.chunkTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", col("text"), 64, 48)
        .withColumnRenamed("id", "doc_id")),
    // Dedup: line-level boilerplate scrub (CCNet/RefinedWeb cleaning) —
    // multi-line docs are built in-query (a headline line + the body;
    // every 2nd doc carries a planted cookie-banner line), then every
    // line appearing in ≥ 20 distinct docs is dropped corpus-wide. The
    // clean-text md5 proves the rewrite byte-exact cross-engine.
    "q127_boilerplate_scrub" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      val headline = array_join(slice(toks, 1, 5), " ")
      val lined = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat_ws("\n", headline,
            lit("ACCEPT COOKIES TO CONTINUE"), col("text")))
          .otherwise(concat_ws("\n", headline, col("text"))).as("t"))
      Dedup.scrubBoilerplateLines(lined, "doc_id", col("t"), 20)
        .withColumnRenamed("id", "doc_id")
    }),
    // Text: BIGRAM-LM quality scoring — the corpus trains an add-one
    // bigram model in-query and every doc scores its mean negative
    // log-likelihood (the perplexity filter of LLM data pipelines);
    // per-occurrence terms snap ×1e6 pre-sum so the mean is a ratio of
    // exact integers.
    "q138_bigram_nll" -> ((s, dir) =>
      Text.bigramNll(t(s, dir, "documents"), "doc_id", col("text"))
        .withColumnRenamed("id", "doc_id")),
    // Text/IR: POSITIONAL PHRASE SEARCH — build the inverted index
    // (token, doc, pos), derive the corpus' top bigram in-query, and
    // find its exact-phrase occurrences via the (id, pos+1) adjacency
    // equi-join; posting sides prune to the phrase's own tokens via a
    // broadcast semi-join first, so only those postings shuffle.
    "q141_phrase_search" -> ((s, dir) => {
      val post = Text.postings(t(s, dir, "documents"), "doc_id",
        col("text"))
      val top = post.as("x")
        .join(post.as("y"),
          col("x.id") === col("y.id") && col("y.pos") === col("x.pos") + 1)
        .groupBy(col("x.token").as("a"), col("y.token").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .select(col("a"), col("b"))
      Text.bigramPhraseMatches(post, top)
        .withColumnRenamed("id", "doc_id")
    }),
    // Text/IR: Okapi BM25 top-20 — the query is data-derived (the 3
    // highest-df tokens, df desc then token); only the query terms'
    // postings ever shuffle (broadcast semi-join prune), per-term
    // scores snap ×1e6 pre-sum so the ranking cutoff is exact, and the
    // top-k is TakeOrderedAndProject.
    "q144_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val q = docs
        .select(explode(array_distinct(Text.tokens(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(3)
        .select(col("token"))
      Text.bm25(docs, "doc_id", col("text"), q, 20)
        .withColumnRenamed("id", "doc_id")
    }),
    // Events: top behavior TRIGRAMS within sessions (the
    // sequence-mining summary) — one user-key shuffle covers
    // sessionize + both leads; count aggregates on the ≤|types|³ 3-gram
    // key; top-20 via sort+limit.
    "q146_path_trigrams" -> ((s, dir) =>
      Events.sessionPathTrigrams(t(s, dir, "events"), col("user_id"),
        col("ts"), col("event_id"), col("event_type"), 1800L, 20)),
    // Text: cross-source VOCABULARY OVERLAP — Jaccard of the token
    // sets of every source pair (the corpus-comparison signal behind
    // mixture planning): (source, token) distincts self-join on the
    // token key, so work is Σ_token (#sources containing it)² — bounded
    // by the source count squared, never corpus²; top-15 pairs by
    // overlap.
    "q168_vocab_overlap" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
      val inter = st.as("x").join(st.as("y"),
          col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("a"), col("y.source").as("b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("a"),
          col("n_tok").as("n_a"))), "a")
        .join(broadcast(sizes.select(col("source").as("b"),
          col("n_tok").as("n_b"))), "b")
        .select(col("a"), col("b"), col("n_inter"),
          round((col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("b")).limit(15)
    }),
    // Text/tokenizer: BPE MERGE LEARNING — three greedy merge rounds
    // over the corpus vocabulary (distinct words with counts collapse
    // FIRST, so per-round work is vocabulary-sized): the distributed
    // core of tokenizer training, with the paren-framed literal-replace
    // trick making merge application engine-exact.
    "q175_bpe_train" -> ((s, dir) => {
      val wc = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      Text.bpeLearnMerges(wc, 3).orderBy(col("round"))
    }),
    // Text/tokenizer: BPE COMPRESSION CURVE — total corpus symbols
    // after each learned merge (round 0 = character baseline): the
    // sequence-length-per-vocabulary-size trade a tokenizer budget
    // decision reads.
    "q186_bpe_compression" -> ((s, dir) => {
      val wc = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      Text.bpeCompressionCurve(wc, 3).orderBy(col("round"))
    }),
    // Text/LM: HELD-OUT bigram perplexity with back-off — train on one
    // hash half, score the other: unseen bigrams genuinely back off to
    // smoothed unigrams (λ = 0.7), the real LM-based quality gate.
    "q190_heldout_perplexity" -> ((s, dir) =>
      Text.heldoutBigramNll(t(s, dir, "documents"), "doc_id",
        col("text"), 0.7)),
    // Text: DISTINGUISHING TERMS per source (log-odds, informative
    // Dirichlet prior, Monroe et al. 2008) — top-5 tokens whose
    // prior-smoothed z marks them as over-represented vs the REST of
    // the corpus; the "what is this source made of" curation read.
    "q207_log_odds_terms" -> ((s, dir) =>
      Text.logOddsTerms(t(s, dir, "documents"), col("source"),
        col("text"), 5)),
    // Text/stats: ZIPF rank-frequency fit — is this corpus shaped like
    // natural language (slope ≈ −1) or like generated/templated spam?
    // The vocabulary aggregates once (hash agg on the token key), the
    // head cut is sort+limit (TakeOrderedAndProject — never a global
    // sort), and the 100-row head ranks under one explicit constant
    // partition; ln(rank)/ln(count) snap ×1e6 so the regression runs
    // on olsTrend's exact DECIMAL moment algebra.
    "q209_zipf_fit" -> ((s, dir) =>
      Text.zipfFit(t(s, dir, "documents"), col("text"), 100)),
    // Text/stats: HEAPS' LAW vocabulary-growth fit over 10 doc-range
    // checkpoints — how much new vocabulary does another 10× of this
    // source buy? Units are word 3-SHINGLES (the synthetic token
    // vocabulary saturates in bucket 0; the n-gram vocabulary keeps
    // growing, so the curve stays informative). Cumulative distinct
    // via each unit's first bucket, never a distinct-in-window.
    "q220_heaps_fit" -> ((s, dir) =>
      Text.heapsFit(t(s, dir, "documents"), col("doc_id"),
        Text.wordShingles(Text.tokens(col("text")), 3), 10)),
    // Text: SKIP-GRAM windowed co-occurrence PMI (±3 tokens) — the
    // word-embedding co-occurrence matrix where q100 sees only
    // adjacent bigrams. Pairs come straight off each token array in
    // one projection (≤ window·tokens rows, NO position self-join),
    // unordered (least, greatest) canonical form, vocab margins
    // broadcast onto the ≥25-count survivors.
    "q245_skipgram_pmi" -> ((s, dir) =>
      Text.skipgramPmi(t(s, dir, "documents"), col("text"), 3, 25L)),
    // Text/graph: TEXTRANK keyword scores (Mihalcea & Tarau 2004) —
    // unweighted PageRank over the ±2-token co-occurrence word graph,
    // the graph-centrality keyword extractor beside the frequency
    // (q38) and log-odds (q212) term scores. Pairs ride q245's
    // single-projection generator (no position self-join); the ≥25
    // count threshold bounds the graph to the heavy vocab before any
    // iteration; 3 damped rounds of the q135 kernel (×1e9 snapped
    // contributions, bit-identical cross-engine); top-20 keywords via
    // sort+limit (TakeOrderedAndProject, never a global sort).
    "q247_textrank" -> ((s, dir) => {
      val pairs = Text.skipgramPairs(t(s, dir, "documents"),
          col("text"), 2)
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 25)
      // materialize the tiny thresholded edge table ONCE: pageRank's
      // plan references its edges ~6× (nodes, outdeg, one join per
      // round) and each reference would otherwise re-run the
      // corpus-sized pair aggregation (measured 18.9 s cold → 2.4 s)
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"),
          col("a").as("dst")))
        .localCheckpoint(true)
      Graph.pageRank(edges, 3)
        .select(col("id").as("token"),
          round(col("pr").cast("decimal(20,10)"), 8).cast("double")
            .as("score"))
        .orderBy(col("score").desc, col("token")).limit(20)
    }),
    // Text/eval: CORPUS-OVERLAP precision (the self-BLEU corpus
    // redundancy read): per source, the CLIPPED share of its bigram
    // occurrences already covered by the rest of the corpus —
    // Σ min(own_g, rest_g) / Σ own_g. High overlap = the source adds
    // little content the pool doesn't have; the diversity dial a
    // data-mixture tuner reads beside q88's token mixing. Two hash
    // aggregates + one equi-join on the bigram key, exact integer
    // clipping.
    "q256_corpus_overlap" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(col("source"), Text.tokens(col("text")).as("tk"))
      val bg = tk.select(col("source"),
        explode(when(size(col("tk")) < 2,
            array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(col("tk")) - 1),
            i => concat(element_at(col("tk"), i), lit(" "),
              element_at(col("tk"), i + 1))))).as("g"))
      val sb = bg.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("own"))
      val tb = sb.groupBy(col("g")).agg(sum(col("own")).as("tot"))
      sb.join(tb, "g")
        .groupBy(col("source"))
        .agg(sum(col("own")).as("n_bigrams"),
          round((sum(least(col("own"), col("tot") - col("own")))
            .cast("double") / sum(col("own")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("overlap"))
    }),
    // Text/stats: YULE'S K vocabulary-richness characteristic per
    // source — K = 10⁴·(Σ_r r²V_r − N)/N², which collapses to the
    // frequency-spectrum-free 10⁴·(Σc² − N)/N² over the (source,
    // token) counts: length-robust repetitiveness beside Heaps'
    // growth (q220), Zipf slope (q209) and Good–Turing mass (q241).
    // One (source, token) aggregate + one per-source rollup, exact
    // DECIMAL(38,0) moments, one snapped division.
    "q261_yules_k" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text")))
          .as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(dec(col("c")) * col("c")).as("m2"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          round((lit(1e4) * (col("m2") - col("n_tokens")).cast("double")
            / (dec(col("n_tokens")) * col("n_tokens")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("yules_k"))
    }),
    // Stylometry: BURROWS' DELTA between sources — mean |Δz| of the
    // 30 corpus-wide most-frequent tokens' relative frequencies,
    // z-scored across sources (the authorship/provenance distance;
    // q305's containment reads vocabulary OVERLAP, Delta reads USAGE
    // RATES). Frequencies snap ×1e9 before any cross-source moment,
    // so variances are exact integers and |z_a−z_b| = k·|Δf9|/√V
    // takes one sqrt per token; 20 closest pairs.
    "q318_burrows_delta" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text")))
          .as("tok"))
      val cnts = st.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val stot = st.groupBy(col("source")).agg(count(lit(1)).as("tt"))
      val top = cnts.groupBy(col("tok")).agg(sum(col("c")).as("gc"))
        .orderBy(col("gc").desc, col("tok")).limit(30)
      // 30·|sources| rows; checkpoint so the token explode runs in
      // ONE job instead of once per downstream reference
      val dense = stot.crossJoin(broadcast(top.select(col("tok"))))
        .join(cnts, Seq("source", "tok"), "left")
        .select(col("source"), col("tok"),
          round(coalesce(col("c"), lit(0L)).cast("double") /
            col("tt").cast("double") * 1e9).cast("long").as("f9"))
        .localCheckpoint(true)
      val vt = dense.groupBy(col("tok"))
        .agg(count(lit(1)).as("k"), sum(dec(col("f9"))).as("sf"),
          sum(dec(col("f9")) * col("f9")).as("sff"))
        .select(col("tok").as("vtok"), col("k"),
          (dec(col("k")) * col("sff") - col("sf") * col("sf"))
            .as("v"))
      val diffs = dense.as("a").join(dense.as("b"),
          col("a.tok") === col("b.tok") &&
            col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"),
          col("b.source").as("source_b"), col("a.tok").as("tok"),
          abs(col("a.f9") - col("b.f9")).as("adf"))
      diffs.join(broadcast(vt), col("tok") === col("vtok"))
        .select(col("source_a"), col("source_b"),
          when(col("v") === 0, lit(0L)).otherwise(
            round(col("adf").cast("double") * col("k").cast("double")
              / sqrt(col("v").cast("double")) * 1e6).cast("long"))
            .as("t6"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(col("t6")).as("s6"), count(lit(1)).as("m"))
        .select(col("source_a"), col("source_b"),
          round((col("s6").cast("double") / lit(1e6) /
            col("m").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("delta"))
        .orderBy(col("delta"), col("source_a"), col("source_b"))
        .limit(20)
    }),
    // Generation eval: CORPUS BLEU-4 — candidate = each doc with every
    // 7th token dropped, reference = the doc itself (known-overlap
    // fixture; the brevity penalty branch c < r is always live). All
    // clipped n-gram counts are EXACT integers (per-(doc, gram)
    // min(cand, ref) summed corpus-wide); the only doubles are the
    // four ln ratios in one FIXED association + the BP exp — both
    // engines run the identical IEEE chain.
    "q334_bleu_eval" -> ((s, dir) => {
      val pair = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("ref"))
        .withColumn("cand",
          filter(col("ref"), (_, i) => (i + 1) % 7 =!= 0))
        .persist()
      def grams(c: Column, n: Int): Column =
        when(size(c) >= n,
          transform(sequence(lit(1), size(c) - (n - 1)),
            i => concat_ws(" ", slice(c, i, lit(n)))))
          .otherwise(array().cast("array<string>"))
      def counts(side: String, n: Int, as: String) = pair
        .select(col("doc_id"), explode(grams(col(side), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as(as))
      val perN = (1 to 4).map { n =>
        counts("cand", n, "cc")
          .join(counts("ref", n, "rc"), Seq("doc_id", "g"), "left")
          .agg(sum(col("cc")).cast("long").as("total"),
            sum(least(col("cc"), coalesce(col("rc"), lit(0L))))
              .cast("long").as("matched"))
          .select(lit(n).as("n"), col("matched"), col("total"))
      }.reduce(_ unionByName _)
      val wide = perN.groupBy()
        .pivot("n", Seq(1, 2, 3, 4))
        .agg(first(col("matched")).as("m"), first(col("total")).as("t"))
      val lens = pair.agg(sum(size(col("cand"))).cast("long").as("c_len"),
        sum(size(col("ref"))).cast("long").as("r_len"))
      val p = (x: Int) => log(col(s"${x}_m").cast("double") /
        col(s"${x}_t").cast("double"))
      wide.crossJoin(lens)
        .select(col("c_len"), col("r_len"),
          col("1_m").as("matched_1"), col("1_t").as("total_1"),
          col("2_m").as("matched_2"), col("2_t").as("total_2"),
          col("3_m").as("matched_3"), col("3_t").as("total_3"),
          col("4_m").as("matched_4"), col("4_t").as("total_4"),
          when(col("1_m") === 0 || col("2_m") === 0 ||
              col("3_m") === 0 || col("4_m") === 0 ||
              col("c_len") === 0, lit(null)).otherwise(
            round((when(col("c_len") < col("r_len"),
                exp(lit(1.0) - col("r_len").cast("double") /
                  col("c_len").cast("double"))).otherwise(lit(1.0)) *
              exp((p(1) + p(2) + p(3) + p(4)) / lit(4.0)))
              .cast("decimal(20,10)"), 6).cast("double")).as("bleu"))
    }),
    // Generation eval: corpus BLEU-4 — hypothesis = reference with
    // every 7th token dropped and every 11th (original index)
    // substituted; clipped matches per order, exact integer
    // precisions, snapped brevity penalty × geometric mean.
    "q424_corpus_bleu" -> ((s, dir) =>
      Text.corpusBleu(bleuPairs(s, dir))),
    // Generation eval: SPECULATIVE-DECODING ACCEPTANCE — the draft
    // disagrees at md5-irregular positions (≈1 in 5, skipping tokens
    // that already read "xx"), window 4; the whole sequential
    // speculation loop collapses to the lag formula over the
    // mismatch array, and the oracle replays it with a window LAG —
    // two formulations of the round count must agree per doc.
    "q482_spec_decode_audit" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        Text.tokens(col("text")).as("ref"))
      val hyp = when(size(col("ref")) === 0,
        array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("ref"))), i =>
          when(pmod(graft.ops.Dedup.hashLong(concat(lit("sd"),
              col("doc_id").cast("string"), lit(":"),
              (i - 1).cast("string"))), lit(5L)) === 0, lit("xx"))
            .otherwise(element_at(col("ref"), i))))
      Text.speculativeAcceptance(d.withColumn("hyp", hyp),
        col("doc_id"), col("hyp"), col("ref"), 4)
    }),
    // Provenance: N-GRAM NOVELTY CURVE — candidate-side n-gram
    // occurrences absent from the even-doc reference slice, n = 1..8;
    // the creativity-index sweep over hashed grams.
    "q426_ngram_novelty" -> ((s, dir) =>
      Text.ngramNoveltyCurve(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("doc_id") % 2 === 0, 8)),
    // Generation eval: chrF (β=2) — char n-grams 1..6 over the
    // whitespace-stripped q424 pair fixture; every F2 one exact
    // integer floor, no transcendental anywhere. Gated on a %3 doc
    // slice: char-hexagram volume is 6× the text — the slice bounds
    // the gate, the operator itself is one shuffle regardless.
    "q429_chrf" -> ((s, dir) => {
      val p = bleuPairs(s, dir).filter(col("id") % 3 === 0)
      Text.chrF(p.select(col("id"),
        concat_ws("", col("hyp")).as("hyp"),
        concat_ws("", col("ref")).as("ref")), 6)
    }),
    // Tokenizer: VOCABULARY-COVERAGE plan — token-mass share covered
    // by the top-V types, partial boundary class taken exactly.
    "q460_vocab_coverage" -> ((s, dir) =>
      Text.vocabCoveragePlan(t(s, dir, "documents"), col("text"),
        Seq(8, 16, 32, 64))),
    // Summarization eval: ROUGE-2 — recall/precision/F1 from clipped
    // bigram overlap on the q424 pairs; F1 = 2m/(h+r), integers only.
    "q445_rouge2" -> ((s, dir) => Text.rougeN(bleuPairs(s, dir), 2)),
    // Text/provenance: GREEN-LIST WATERMARK DETECTION (Kirchenbauer
    // et al. 2023) — per doc the green-transition count under the
    // md5-seeded green list, the exact 2g−n excess and micro fraction.
    "q407_watermark_detect" -> ((s, dir) =>
      Text.watermarkGreens(t(s, dir, "documents"), col("doc_id"),
        col("text"), "wm7")),
    // Text/tokenizer: FERTILITY per language — tokens-per-word and
    // bytes-per-token under the BPE-ish regex tokenizer; the
    // vocabulary-equity read of a multilingual corpus.
    "q404_token_fertility" -> ((s, dir) =>
      Text.tokenFertility(t(s, dir, "documents"), col("lang"),
        col("text"))),
    // Text/curation: CCNet PERPLEXITY BUCKETS (Wenzek et al. 2020) —
    // per language, its OWN bigram-LM score ranks docs into
    // head/middle/tail thirds (rank-within-language — the portable
    // criterion; cross-language perplexities don't compare). Exact
    // integer NLLs and rank arithmetic; the oracle replays per-lang.
    "q398_ccnet_buckets" -> ((s, dir) => withShufflePartitions(s, 8) {
      Text.perplexityBuckets(t(s, dir, "documents"), col("doc_id"),
        col("text"), col("lang"), 3)
    }),
    // Text/curation: the GOPHER rule set (Rae et al. 2021) — the named
    // MassiveText heuristic screen, every rule a cross-multiplied
    // integer comparison (never a float ratio). Planted tails exercise
    // the bullet/ellipsis/symbol/stopword rules the base fixture
    // wouldn't touch.
    "q399_gopher_rules" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 13 === 0,
            lit("\n- buy one\n- buy two\nplain tail...")).otherwise(lit("")),
          when(col("doc_id") % 17 === 0,
            lit(" ## ... ## end")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" be to of and that have with")).otherwise(lit("")))
          .as("text"))
      Text.gopherRules(d, col("doc_id"), col("text"))
    }),
    // Text/quality: LANGUAGE CONSISTENCY — the mixed-language screen
    // doc-level langid can't see: 16-token segments classify
    // independently; planted German tails on 1-in-7 docs force mixed
    // documents whose dominant language and segment splits the oracle
    // recomputes with its own stopword ratios.
    "q391_lang_consistency" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" der die das und ein der die das und ein" +
            " der die das und ein")))
          .otherwise(col("text")).as("text"))
      Text.langConsistency(docs, col("doc_id"), col("text"), 16)
    }),
    // Text/format: FILL-IN-THE-MIDDLE transform — the infill training
    // format: per doc two deterministic hash cuts (no RNG state),
    // prefix/middle/suffix re-rendered as <PRE>/<SUF>/<MID>, the PSM
    // string pinned byte-exactly by md5. Degenerate docs flow through
    // with empty segments.
    "q388_fim_split" -> ((s, dir) =>
      Text.fimSplit(t(s, dir, "documents"), col("doc_id"), col("text"))),
    // Tokenizer/packing: BPE APPLIED AT CORPUS SCALE — q175 learns
    // merges, q186 scores compression, this runs the step a training
    // pipeline actually ships: apply the learned 4-round merge table
    // to every word (vocabulary-sized replaces, corpus joins by
    // word), roll BPE token counts up per doc, and feed them STRAIGHT
    // into q363's concat-and-chunk packer — the learn→tokenize→pack
    // chain end-to-end, every value exact.
    "q375_bpe_apply_pack" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
      val wc = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .persist() // cross-action reuse: learner rounds + apply + join
      val merges = Text.bpeLearnMerges(wc, 4)
      val applied = Text.bpeApplyMerges(wc, merges)
      val perDoc = toks
        .join(applied.select(col("w"), col("n_symbols")), "w")
        .groupBy(col("doc_id")).agg(sum(col("n_symbols")).as("n"))
      Packing.sequencePacking(perDoc, 512L)
    }),
    // Generation eval: DISTINCT-N DIVERSITY — corpus-wide distinct
    // n-gram counts and ratios for n=1..4 (the mode-collapse screen
    // run beside q334's BLEU; a self-repetitive generator shows low
    // distinct-2/3 long before quality scores move). Exact integer
    // counts, one double ratio each.
    "q341_distinct_ngrams" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
        .persist()
      def grams(n: Int): Column =
        when(size(col("tk")) >= n,
          transform(sequence(lit(1), size(col("tk")) - (n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n)))))
          .otherwise(array().cast("array<string>"))
      (1 to 4).map { n =>
        toks.select(explode(grams(n)).as("g"))
          .agg(count(lit(1)).as("total"),
            countDistinct(col("g")).as("distinct"))
          .select(lit(n).as("n"), col("total"), col("distinct"),
            when(col("total") === 0, lit(null)).otherwise(
              round((col("distinct").cast("double") /
                col("total").cast("double")).cast("decimal(20,10)"), 6)
                .cast("double")).as("distinct_ratio"))
      }.reduce(_ unionByName _)
    }),
    // Dedup/trend: INCREMENTAL NOVELTY curve — treating doc_id as
    // crawl order, the share of each arrival's shingles NEVER SEEN in
    // any earlier doc, pooled per id-decile: the "is the crawl still
    // finding new content" decay read (q134 asks it of URLs; this of
    // CONTENT mass). First-seen is one min-aggregate on the shingle
    // key; deciles are exact integer floor-division — no rank pass.
    "q296_novelty_curve" -> ((s, dir) => {
      val ds = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          Dedup.hashedShingles(Text.tokens(col("text")), 3)))
          .as("sh"))
      val fs = ds.groupBy(col("sh")).agg(min(col("doc_id")).as("fid"))
      val per = ds.join(fs, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("fid") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      val mx = t(s, dir, "documents").agg(max(col("doc_id")).as("mid"))
      per.crossJoin(broadcast(mx))
        .groupBy(fdiv(col("doc_id") * 10, col("mid") + 1)
          .as("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_sh")).as("n_sh"),
          sum(col("n_novel")).as("n_novel"))
        .select(col("decile"), col("n_docs"), col("n_sh"),
          col("n_novel"),
          round((col("n_novel").cast("double") /
            col("n_sh").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("novelty"))
    }),
    // Text/preprocess: AUTOMATIC STOPWORD discovery — rank tokens by
    // document-frequency share × cross-source distribution FLATNESS
    // (normalized source entropy): a true stopword is everywhere and
    // belongs to no one (q212's log-odds finds the opposite — the
    // owned terms). Entropy terms snap ×1e9 pre-sum (q230), the
    // composite score snaps 6dp BEFORE ranking so the cut is
    // engine-stable.
    "q291_stopword_discovery" -> ((s, dir) => {
      val occ = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(Text.tokens(col("text"))).as("tok"))
      val ts = occ.groupBy(col("tok"), col("source"))
        .agg(count(lit(1)).as("c"))
      val tt = ts.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
      val hh = ts.join(tt, "tok")
        .select(col("tok"),
          round(-(col("c").cast("double") / col("ct").cast("double")) *
            log(col("c").cast("double") / col("ct").cast("double")) *
            lit(1e9)).cast("long").as("tf"))
        .groupBy(col("tok")).agg(sum(col("tf")).as("sh"))
      val dfreq = occ.select(col("tok"), col("doc_id")).distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val flat = (col("sh").cast("double") / lit(1e9)) /
        log(lit(20.0))
      val dshare = col("df").cast("double") / col("n_docs").cast("double")
      tt.join(hh, "tok").join(dfreq, "tok").crossJoin(broadcast(nd))
        .select(col("tok").as("token"), col("df"), col("ct").as("n_occ"),
          round(flat.cast("decimal(20,10)"), 4).cast("double")
            .as("flatness"),
          round((dshare * flat).cast("decimal(20,10)"), 6)
            .cast("double").as("score"))
        .orderBy(col("score").desc, col("token")).limit(20)
    }),
    // Text/trend: EPOCH TRENDING TERMS — log-odds shift of every
    // ≥25-count token between the two hash epochs (the q207
    // "fightin' words" kernel pointed at TIME instead of source):
    // the top risers are what changed in the corpus between crawls.
    // One (epoch, token) aggregate, ×1e4 ln snap, top-20 by
    // (shift desc, token).
    "q289_trending_terms" -> ((s, dir) => {
      val occ = t(s, dir, "documents")
        .select(Sampling.hashBucket(col("doc_id"), 2).as("ep"),
          explode(Text.tokens(col("text"))).as("tok"))
      val g = occ.groupBy(col("tok"))
        .agg(sum(when(col("ep") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("ep") === 1, 1L).otherwise(0L)).as("c1"))
        .filter(col("c0") + col("c1") >= 25)
      val tots = g.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      g.crossJoin(broadcast(tots))
        .select(col("tok").as("token"), col("c0"), col("c1"),
          round((log((col("c1") + 1).cast("double") /
              (col("n1") - col("c1") + 1).cast("double")) -
            log((col("c0") + 1).cast("double") /
              (col("n0") - col("c0") + 1).cast("double")))
            .cast("decimal(20,10)"), 4).cast("double").as("log_odds"))
        .orderBy(col("log_odds").desc, col("token")).limit(20)
    }),
    // Text/LM: KNESER-NEY CONTINUATION counts — for each head-of-
    // vocab token, how many DISTINCT left contexts it follows vs its
    // raw frequency: the KN insight ("Francisco" is frequent but
    // follows only "San", so its unigram back-off weight should be
    // tiny) as a corpus diagnostic beside the add-one/back-off LMs
    // (q138/q190). One ordered-bigram distinct + two aggregates;
    // p_raw and p_cont are exact integer ratios snapped 6dp.
    "q273_kn_continuation" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(Text.tokens(col("text")).as("tk"))
      val bg = tk.select(explode(when(size(col("tk")) < 2,
          array().cast("array<struct<a:string,b:string>>"))
        .otherwise(transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("a"),
            element_at(col("tk"), i + 1).as("b"))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      val dist = bg.distinct()
      val cont = dist.groupBy(col("b").as("token"))
        .agg(count(lit(1)).as("n_contexts"))
      val dd = dist.agg(count(lit(1)).as("d"))
      val uni = tk.select(explode(col("tk")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
      val nn = uni.agg(sum(col("c")).as("n"))
      uni.join(cont, Seq("token"), "left")
        .na.fill(0L, Seq("n_contexts"))
        .crossJoin(broadcast(dd)).crossJoin(broadcast(nn))
        .select(col("token"), col("c"), col("n_contexts"),
          round((col("c").cast("double") / col("n").cast("double"))
            .cast("decimal(20,10)"), 6).cast("double").as("p_raw"),
          round((col("n_contexts").cast("double") /
            col("d").cast("double")).cast("decimal(20,10)"), 6)
            .cast("double").as("p_cont"))
        .orderBy(col("c").desc, col("token")).limit(50)
    }),
    // Text/IR: PROXIMITY search — the general Boolean-retrieval
    // within-k operator (q141's phrase search demands ADJACENCY):
    // docs where the corpus' two most frequent tokens co-occur
    // within ≤ 3 positions, with the window count and closest gap.
    // Postings prune to the two probe tokens via broadcast semi-join
    // BEFORE any shuffle (the q141 contract), then one (doc) x
    // (doc) equi-join over the pruned streams.
    "q274_proximity_search" -> ((s, dir) => {
      val post = Text.postings(t(s, dir, "documents"), "doc_id",
        col("text"))
      val top2 = post.groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(2)
        .select(col("token"),
          row_number().over(Window
            .partitionBy(Cols.onePartitionKey(col("token")))
            .orderBy(col("n").desc, col("token"))).as("r"))
      val p1 = post.join(broadcast(top2.filter(col("r") === 1)
        .select(col("token"))), "token")
      val p2 = post.join(broadcast(top2.filter(col("r") === 2)
        .select(col("token"))), "token")
      p1.as("x").join(p2.as("y"),
          col("x.id") === col("y.id") &&
            abs(col("x.pos") - col("y.pos")) <= 3)
        .groupBy(col("x.id").as("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          min(abs(col("x.pos") - col("y.pos"))).cast("long")
            .as("min_gap"))
    }),
    // Text/eval: CLASSIFICATION REPORT for the language-ID heuristic
    // vs the declared lang — q25 gives the raw confusion counts; this
    // derives the per-class report over the UNION of truth/predicted
    // classes (full-outer margins: 'zh' is never predicted → null
    // precision; 'und' has no truth support → null recall). F1 uses
    // the exact identity 2·TP/(pred+support) — never composed from
    // two already-rounded ratios.
    "q234_langid_report" -> ((s, dir) => {
      val rows = t(s, dir, "documents")
        .filter(size(Text.tokens(col("text"))) > 0)
        .select(col("lang").as("truth"),
          Text.langId(col("text")).as("pred"))
      val cells = rows.groupBy(col("truth"), col("pred"))
        .agg(count(lit(1)).as("o"))
      val sup = cells.groupBy(col("truth").as("cls"))
        .agg(sum(col("o")).as("support"))
      val prd = cells.groupBy(col("pred").as("cls"))
        .agg(sum(col("o")).as("predicted"))
      val diag = cells.filter(col("truth") === col("pred"))
        .select(col("truth").as("cls"), col("o").as("tp"))
      sup.join(prd, Seq("cls"), "full_outer")
        .join(diag, Seq("cls"), "left")
        .na.fill(0L, Seq("support", "predicted", "tp"))
        .select(col("cls"), col("support"), col("predicted"), col("tp"),
          when(col("predicted") === 0, lit(null))
            .otherwise(snap4(col("tp"), col("predicted"))).as("precision"),
          when(col("support") === 0, lit(null))
            .otherwise(snap4(col("tp"), col("support"))).as("recall"),
          snap4(col("tp") * 2, col("predicted") + col("support"))
            .as("f1"))
    }),
    // IR: HYBRID RETRIEVAL via reciprocal-rank fusion — the lexical
    // leg (BM25 top-50, q144's ranking) and the semantic leg (exact
    // cosine top-50 from query vector 0) fuse as
    // Σ round(1e9/(60+rank)): exact integer scores, full-outer so
    // single-leg hits rank too, top-20 via sort+limit. The RAG-stack
    // retrieval pattern as one relational plan.
    "q154_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val qterms = docs
        .select(explode(array_distinct(Text.tokens(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token")).limit(3)
        .select(col("token"))
      val lex = Text.bm25(docs, "doc_id", col("text"), qterms, 50)
        .select(col("id"), col("rank").as("rt"))
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val sem = Similarity.bruteForceTopK(e.filter(col("id") === 0), e, 50)
        .select(col("neighbor_id").as("id"), col("rank").as("rv"))
      lex.join(sem, Seq("id"), "full_outer")
        .select(col("id").as("doc_id"), col("rt"), col("rv"),
          (coalesce(round(lit(1e9) / (lit(60) + col("rt"))).cast("long"),
            lit(0L)) +
           coalesce(round(lit(1e9) / (lit(60) + col("rv"))).cast("long"),
             lit(0L))).as("sfp"))
        .orderBy(col("sfp").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), col("rt"), col("rv"),
          round((col("sfp").cast("double") / lit(1e9))
            .cast("decimal(20,10)"), 6).cast("double").as("rrf"))
    }),
    // Text: per-doc out-of-vocabulary rate against the corpus-induced
    // vocabulary (q94's exact heavy hitters ARE the vocab) — the
    // tokenizer-health gate; vocab rides back broadcast.
    "q103_oov_rate" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val vocab = Frequent.heavyHitters(toks, col("tok"), 1, 50)
        .select(col("item").as("tok"), lit(1).as("iv"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round((col("n_oov").cast("double") / col("n_tokens"))
            .cast("decimal(20,10)"), 4).cast("double").as("oov_rate"))
    }),
    // Text: adjacent-bigram PMI collocations — the phrase-mining pass;
    // bigram extraction is zero-shuffle, the (a,b) aggregate is the
    // only corpus-sized exchange, unigrams ride back broadcast.
    "q100_bigram_pmi" -> ((s, dir) =>
      Text.bigramPmi(t(s, dir, "documents"), col("text"), 10L)),
    // Text: BPE-ish subword token counting vs whitespace words — the
    // LLM-corpus budgeting measure.
    "q38_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          sum(Text.bpeTokenCount(col("text"))).cast("long").as("total_bpe"),
          sum(Text.tokenCount(col("text"))).cast("long").as("total_words"),
          round(avg(Text.bpeTokenCount(col("text"))), 2).as("avg_bpe"))),
    // Text: TF-IDF top-5 terms per document (explode -> tf/df hash
    // aggs -> term join -> broadcast corpus size -> per-doc top-k).
    "q49_tfidf" -> ((s, dir) =>
      Text.tfidfTopTerms(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", col("text"), 5)
        .withColumnRenamed("id", "doc_id"))
  )

  val oracleSql: Map[String, String] = Map(

    "q23_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  round(avg(ntok), 2) AS avg_tokens,
         |  round(avg(nch), 2) AS avg_chars,
         |  CAST(sum(ntok) AS BIGINT) AS total_tokens
         |FROM (SELECT lang, len($tokSql) AS ntok, length(text) AS nch
         |      FROM documents)
         |GROUP BY lang""".stripMargin,
    "q24_doc_quality" ->
      s"""SELECT doc_id, len(tk) AS n_tokens,
         |  round(CASE WHEN len(tk) = 0 THEN 0.0
         |    ELSE len(list_distinct(tk)) * 1.0 / len(tk) END, 4) AS ttr,
         |  round(CASE WHEN len(tk) = 0 THEN 0.0
         |    ELSE len(list_filter(tk, t -> t IN ('the','a','of','to','and'))) * 1.0 / len(tk) END, 4) AS stop_ratio,
         |  CAST(round(CAST(0.4 * least(1.0, len(tk) / 100.0)
         |    + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE len(list_filter(tk, t -> t IN ('the','a','of','to','and'))) * 1.0 / len(tk) END)
         |    + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |        ELSE len(list_distinct(tk)) * 1.0 / len(tk) END)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS score
         |FROM (SELECT doc_id, $tokSql AS tk FROM documents)""".stripMargin,
    "q25_langid" ->
      s"""WITH sc AS (
         |  SELECT lang,
         |    len(list_filter(tk, t -> t IN ('the','a','of','to','and'))) * 1.0 / len(tk) AS s_en,
         |    len(list_filter(tk, t -> t IN ('der','die','das','und','ein'))) * 1.0 / len(tk) AS s_de,
         |    len(list_filter(tk, t -> t IN ('el','la','de','y','que'))) * 1.0 / len(tk) AS s_es,
         |    len(list_filter(tk, t -> t IN ('le','la','de','et','les'))) * 1.0 / len(tk) AS s_fr
         |  FROM (SELECT lang, $tokSql AS tk FROM documents) WHERE len(tk) > 0)
         |SELECT lang,
         |  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         |    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |    ELSE 'fr' END AS predicted,
         |  count(*) AS n
         |FROM sc GROUP BY 1, 2""".stripMargin,
    // Same vowel-group/sentence regexes; per-doc integer grades
    // (negative grades welcome — // truncation = tdiv), one rollup.
    "q509_readability" ->
      s"""WITH d AS (SELECT source AS grp,
         |    CAST(len($tokSql) AS BIGINT) AS w,
         |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))
         |      AS s2,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |      AS BIGINT) AS sy
         |  FROM documents),
         |g AS (SELECT grp, w, s2, sy,
         |    CASE WHEN w = 0 THEN NULL ELSE
         |      (390000 * w) // s2 + (11800000 * sy) // w
         |        - 15590000 END AS grade FROM d)
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS n_words,
         |  CAST(sum(s2) AS BIGINT) AS n_sentences,
         |  CAST(sum(sy) AS BIGINT) AS n_syllables,
         |  CASE WHEN count(grade) = 0 THEN NULL ELSE
         |    CAST(sum(CAST(grade AS HUGEINT)) // count(grade)
         |      AS BIGINT) END AS grade_micro_avg
         |FROM g GROUP BY grp""".stripMargin,

    // Same transliteration via chr() (no raw non-ASCII in the
    // oracle either); RE2 \x{...} classes, token comprehension.
    "q502_mixed_script" ->
      """WITH seeded AS (SELECT source AS grp,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN translate(text, 'ae', chr(1072) || chr(1077))
        |      ELSE text END AS text FROM documents),
        |tk AS (SELECT grp,
        |    list_filter(string_split_regex(lower(trim(text)),
        |      '\s+'), t -> t <> '') AS tk FROM seeded),
        |v AS (SELECT grp, len(tk) AS nt,
        |    len([x for x in tk
        |      if regexp_matches(x, '[A-Za-z]')
        |      AND regexp_matches(x, '[\x{0400}-\x{04FF}]')]) AS nm
        |  FROM tk)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(nm) AS BIGINT) AS n_mixed_tokens,
        |  CAST(sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_flagged,
        |  CAST((CAST(sum(CASE WHEN nm > 0 THEN 1 ELSE 0 END)
        |      AS HUGEINT) * 1000000) // count(*) AS BIGINT)
        |    AS flag_micro
        |FROM v GROUP BY grp""".stripMargin,

    // Same planted PANs; maximal digit runs by greedy regex (no
    // lookaround — RE2), the Luhn fold as a nested comprehension,
    // exact counts and one floor per group.
    "q493_luhn_audit" ->
      """WITH seeded AS (SELECT source AS grp,
        |    text ||
        |    CASE doc_id % 5
        |      WHEN 0 THEN ' 4111111111111111'
        |      WHEN 1 THEN ' 5500005555555559'
        |      WHEN 2 THEN ' 4111111111111112'
        |      WHEN 3 THEN ' 123456789012' ELSE '' END ||
        |    CASE WHEN doc_id % 10 = 9
        |      THEN ' 12345678901234567890' ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT grp,
        |    [x for x in regexp_extract_all(text, '[0-9]+')
        |      if length(x) BETWEEN 13 AND 16] AS cands
        |  FROM seeded),
        |v AS (SELECT grp, len(cands) AS nc,
        |    len([x for x in cands if
        |      list_sum([CASE WHEN (length(x) - i) % 2 = 1
        |          THEN (ascii(substr(x, CAST(i AS INT), 1)) - 48) * 2
        |            - CASE WHEN ascii(substr(x, CAST(i AS INT), 1))
        |              - 48 >= 5 THEN 9 ELSE 0 END
        |          ELSE ascii(substr(x, CAST(i AS INT), 1)) - 48 END
        |        for i in range(1, length(x) + 1)]) % 10 = 0])
        |      AS nv
        |  FROM c)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_candidates,
        |  CAST(sum(nv) AS BIGINT) AS n_luhn_valid,
        |  CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_flagged,
        |  CAST((CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END)
        |      AS HUGEINT) * 1000000) // count(*) AS BIGINT)
        |    AS flag_micro
        |FROM v GROUP BY grp""".stripMargin,

    // Same seeded PII, same patterns (portable Java-regex/RE2 subset),
    // same redact-then-count order; the fingerprint of the redacted
    // text pins the rewrite byte-exact.
    "q69_pii_redact" -> {
      val e = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val p = """[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"""
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN text || ' contact alice.smith@example.com or 555-123-4567 now'
         |      ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$e')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(text, '$e', '<EMAIL>', 'g'), '$p')) AS INT) AS n_phones,
         |  md5(regexp_replace(trim(lower(
         |    regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'),
         |      '$p', '<PHONE>', 'g'))), '\\s+', ' ', 'g')) AS clean_fp
         |FROM seeded""".stripMargin
    },
    // All (non-distinct) 3-grams via the same 1-based inclusive-slice
    // comprehension, minus list_distinct; decimal-snapped round.
    "q71_repetition" ->
      s"""SELECT doc_id,
         |  CAST(greatest(len(tk) - 2, 0) AS INT) AS n_grams,
         |  CASE WHEN len(tk) < 3 THEN 0.0
         |    ELSE CAST(round(CAST(CAST(1.0 AS DOUBLE)
         |      - CAST(len(list_distinct([array_to_string(tk[i:i+2], ' ')
         |          for i in range(1, len(tk) - 1)])) AS DOUBLE)
         |        / (len(tk) - 2) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |  END AS repetition
         |FROM (SELECT doc_id, $tokSql AS tk FROM documents)""".stripMargin,
    // Identical fixed-point term snap (×1e6 BIGINT) before the per-doc
    // sum → exact, order-free; same broadcast-free relational shape.
    "q72_unigram_surprisal" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
         |cf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM toks)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(round(CAST(
         |    CAST(sum(CAST(round(-ln(CAST(tf AS DOUBLE) / n_total)
         |        * CAST(1000000.0 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
         |      / (count(*) * CAST(1000000.0 AS DOUBLE))
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS avg_surprisal
         |FROM toks JOIN cf USING (tok) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,
    // Same 1-based slice windows: Spark sequence(1,len,stride) ==
    // DuckDB range(1,len+1,stride) (inclusive vs exclusive stop);
    // chunk_id = (start-1)/stride matches posexplode's 0-based pos.
    "q74_chunk_tokens" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |st AS (SELECT doc_id, tk,
         |         unnest(range(1, len(tk) + 1, 48)) AS start FROM tk)
         |SELECT doc_id, CAST((start - 1) // 48 AS INT) AS chunk_id,
         |  CAST(len(tk[start : start + 63]) AS INT) AS n_tokens,
         |  md5(array_to_string(tk[start : start + 63], ' ')) AS chunk_fp
         |FROM st""".stripMargin,
    // Same line construction, same trimmed-line md5 document
    // frequency, same ordered reassembly (parallel unnest zips the
    // line list with its subscripts in DuckDB).
    "q127_boilerplate_scrub" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0
         |      THEN l1 || chr(10) || 'ACCEPT COOKIES TO CONTINUE'
         |        || chr(10) || text
         |      ELSE l1 || chr(10) || text END AS t
         |  FROM (SELECT doc_id, text,
         |      array_to_string(($tokSql)[1:5], ' ') AS l1
         |    FROM documents)),
         |ls AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM d),
         |ln AS (
         |  SELECT doc_id, unnest(l) AS line,
         |    unnest(range(1, len(l) + 1)) AS pos
         |  FROM ls),
         |fr AS (
         |  SELECT md5(trim(line)) AS lfp,
         |    count(DISTINCT doc_id) AS line_df
         |  FROM ln GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN line_df >= 20 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
         |    FILTER (WHERE line_df < 20), '')) AS clean_fp
         |FROM ln JOIN fr ON fr.lfp = md5(trim(ln.line))
         |GROUP BY doc_id""".stripMargin,
    // The same in-query bigram model: counts and V are exact integers,
    // each occurrence's -ln term snapped x1e6 pre-sum (q126's ln
    // convention), mean through the DECIMAL(20,10) snap.
    "q138_bigram_nll" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |bg AS (SELECT doc_id, r['a'] AS a, r['b'] AS b FROM (
         |  SELECT doc_id, unnest([{'a': tk[i + 1], 'b': tk[i + 2]}
         |      for i in range(0, len(tk) - 1)]) AS r
         |  FROM tk)),
         |cb AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY 1, 2),
         |ca AS (SELECT a, count(*) AS ca FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v FROM
         |  (SELECT unnest(tk) AS w FROM tk)),
         |terms AS (SELECT bg.doc_id,
         |    CAST(round(-ln(CAST(cab + 1 AS DOUBLE)
         |      / CAST(ca + v AS DOUBLE)) * 1e6) AS BIGINT) AS tfp
         |  FROM bg JOIN cb USING (a, b) JOIN ca USING (a) CROSS JOIN v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(round(CAST(CAST(sum(tfp) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 1e6)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS avg_nll
         |FROM terms GROUP BY 1""".stripMargin,
    // The same index: postings from generate_subscripts, top bigram
    // from the comprehension (consecutive-pair enumeration — identical
    // pair set to the engine's adjacency self-join), same (n desc, a,
    // b) tie-break, same (doc, pos+1) adjacency.
    "q141_phrase_search" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |pg AS (SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos,
         |    unnest(tk) AS token FROM tk),
         |bgc AS (SELECT r['a'] AS a, r['b'] AS b, count(*) AS n FROM (
         |  SELECT unnest([{'a': tk[i + 1], 'b': tk[i + 2]}
         |      for i in range(0, len(tk) - 1)]) AS r
         |  FROM tk) GROUP BY 1, 2),
         |top AS (SELECT a, b FROM bgc ORDER BY n DESC, a, b LIMIT 1),
         |m AS (SELECT top.a, top.b, p1.doc_id, p1.pos
         |  FROM pg p1 JOIN top ON p1.token = top.a
         |  JOIN pg p2 ON p2.doc_id = p1.doc_id
         |    AND p2.pos = p1.pos + 1 AND p2.token = top.b)
         |SELECT a, b, doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |  CAST(min(pos) AS INT) AS first_pos
         |FROM m GROUP BY 1, 2, 3""".stripMargin,
    // Same df-derived query terms, same BM25 chain with every literal
    // forced DOUBLE and k1+1 COMPUTED (a 2.2 literal is not the same
    // double as 1.2+1.0); per-term snap ×1e6 pre-sum, top-k on the
    // exact integer score.
    "q144_bm25" -> bm25OracleSql(20),
    // q132's session CTE + two leads inside (user, session); same
    // (n desc, e1, e2, e3) cutoff.
    "q146_path_trigrams" ->
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |        > 1800 * 1000000 THEN 1
        |      WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |      ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM m),
        |tg AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w2 AS e2,
        |    lead(event_type, 2) OVER w2 AS e3
        |  FROM s WINDOW w2 AS (PARTITION BY user_id, session_id
        |    ORDER BY ts, event_id)),
        |c AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        |  FROM tg WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |SELECT e1, e2, e3, n FROM c
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,
    // Same distinct (source, token) sets, same a<b intersection join,
    // same (jaccard desc, a, b) cutoff.
    "q168_vocab_overlap" ->
      s"""WITH st AS (SELECT DISTINCT source, unnest(tk) AS tok
         |  FROM (SELECT source, $tokSql AS tk FROM documents)),
         |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tok
         |  FROM st GROUP BY 1),
         |inter AS (SELECT x.source AS a, y.source AS b,
         |    CAST(count(*) AS BIGINT) AS n_inter
         |  FROM st x JOIN st y
         |    ON x.tok = y.tok AND x.source < y.source
         |  GROUP BY 1, 2)
         |SELECT a, b, n_inter,
         |  CAST(round(CAST(CAST(n_inter AS DOUBLE)
         |    / CAST(sa.n_tok + sb.n_tok - n_inter AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sz sa ON inter.a = sa.source
         |JOIN sz sb ON inter.b = sb.source
         |ORDER BY jaccard DESC, a, b LIMIT 15""".stripMargin,
    // Same collapsed vocabulary, same paren framing, three unrolled
    // merge rounds with the identical (pc desc, a, b) greedy pick.
    "q175_bpe_train" ->
      s"""WITH wc AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest($tokSql) AS tok FROM documents)
         |  WHERE regexp_matches(tok, '^[a-z0-9]+${"$"}')
         |  GROUP BY 1),
         |w0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS w, cnt
         |  FROM wc),
         |${bpeIterSql("w0", "w1")},
         |${bpeIterSql("w1", "w2")},
         |${bpeIterSql("w2", "w3")}
         |SELECT 1 AS round, a AS sym_a, b AS sym_b, pc AS pair_count
         |  FROM w1b
         |UNION ALL SELECT 2, a, b, pc FROM w2b
         |UNION ALL SELECT 3, a, b, pc FROM w3b
         |ORDER BY round""".stripMargin,
    // The q175 unrolled merge chain, with per-round total symbol
    // counts read off each words CTE.
    "q186_bpe_compression" ->
      s"""WITH wc AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest($tokSql) AS tok FROM documents)
         |  WHERE regexp_matches(tok, '^[a-z0-9]+${"$"}')
         |  GROUP BY 1),
         |w0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS w, cnt
         |  FROM wc),
         |${bpeIterSql("w0", "w1")},
         |${bpeIterSql("w1", "w2")},
         |${bpeIterSql("w2", "w3")}
         |SELECT 0 AS round, CAST(sum(cnt *
         |    len(string_split(w[2:-2], ')('))) AS BIGINT)
         |    AS total_symbols FROM w0
         |UNION ALL SELECT 1, CAST(sum(cnt *
         |    len(string_split(w[2:-2], ')('))) AS BIGINT) FROM w1
         |UNION ALL SELECT 2, CAST(sum(cnt *
         |    len(string_split(w[2:-2], ')('))) AS BIGINT) FROM w2
         |UNION ALL SELECT 3, CAST(sum(cnt *
         |    len(string_split(w[2:-2], ')('))) AS BIGINT) FROM w3
         |ORDER BY round""".stripMargin,
    // Same md5 halves, same train-side counts, same interpolated
    // λ·p₂ + (1−λ)·p₁ chain with the ×1e6 per-term snap.
    "q190_heldout_perplexity" -> {
      val half = s"${h60("CAST(doc_id AS VARCHAR)")} % 2"
      s"""WITH tg AS (SELECT doc_id, $tokSql AS tk, $half = 0 AS tr
         |  FROM documents),
         |bgx AS (SELECT doc_id, tr, tk,
         |    unnest(range(1, len(tk))) AS i FROM tg),
         |bg AS (SELECT doc_id, tr, tk[i] AS a, tk[i+1] AS b FROM bgx),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
         |  FROM (SELECT unnest(tk) AS w FROM tg WHERE tr) GROUP BY 1),
         |tv AS (SELECT CAST(sum(cw) AS BIGINT) AS tt,
         |    CAST(count(*) AS BIGINT) AS v FROM uni),
         |cb AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
         |  FROM bg WHERE tr GROUP BY 1, 2),
         |ca2 AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca
         |  FROM cb GROUP BY 1),
         |nd AS (SELECT
         |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_train_docs,
         |    CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_heldout_docs
         |  FROM tg),
         |terms AS (SELECT
         |    CAST(round(-ln(CAST(0.7 AS DOUBLE)
         |      * (CASE WHEN cab IS NULL OR ca IS NULL
         |          THEN CAST(0.0 AS DOUBLE)
         |          ELSE CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE) END)
         |      + CAST(0.3 AS DOUBLE)
         |      * (CAST(coalesce(u.cw, 0) + 1 AS DOUBLE)
         |        / CAST(tt + v AS DOUBLE))) * 1e6) AS BIGINT) AS tfp,
         |    CASE WHEN cab IS NULL THEN 1 ELSE 0 END AS bo
         |  FROM (SELECT * FROM bg WHERE NOT tr) h
         |  LEFT JOIN cb USING (a, b)
         |  LEFT JOIN ca2 USING (a)
         |  LEFT JOIN uni u ON u.w = h.b
         |  CROSS JOIN tv)
         |SELECT n_train_docs, n_heldout_docs,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(round(CAST(CAST(sum(tfp) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 1e6) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS avg_nll,
         |  CAST(round(CAST(CAST(sum(bo) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS backoff_rate
         |FROM terms CROSS JOIN nd
         |GROUP BY 1, 2""".stripMargin
    },
    // Independent log-odds chain: same add-one Dirichlet smoothing,
    // same (1e6·δ/√var) snap, same (z desc, term) top-5 cut.
    "q207_log_odds_terms" ->
      s"""WITH tok AS (SELECT source AS src, unnest($tokSql) AS tok
         |  FROM documents),
         |ysw AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS ysw
         |  FROM tok GROUP BY 1, 2),
         |yw AS (SELECT tok, CAST(sum(ysw) AS BIGINT) AS yw
         |  FROM ysw GROUP BY 1),
         |ns AS (SELECT src, CAST(sum(ysw) AS BIGINT) AS ns
         |  FROM ysw GROUP BY 1),
         |tot AS (SELECT CAST(sum(ysw) AS BIGINT) AS n,
         |    CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ysw),
         |sc AS (SELECT src, tok, ysw,
         |    ln(CAST(ysw + 1 AS DOUBLE)
         |        / CAST(ns + v - ysw - 1 AS DOUBLE))
         |      - ln(CAST(yw - ysw + 1 AS DOUBLE)
         |        / CAST(n - ns + v - (yw - ysw) - 1 AS DOUBLE))
         |      AS delta,
         |    CAST(1 AS DOUBLE) / CAST(ysw + 1 AS DOUBLE)
         |      + CAST(1 AS DOUBLE) / CAST(yw - ysw + 1 AS DOUBLE)
         |      AS var
         |  FROM ysw JOIN yw USING (tok) JOIN ns USING (src)
         |  CROSS JOIN tot),
         |zf AS (SELECT src, tok, ysw,
         |    CAST(round(1e6 * delta / sqrt(var)) AS BIGINT) AS z_fp
         |  FROM sc),
         |rkd AS (SELECT src, tok, ysw, z_fp, row_number() OVER
         |    (PARTITION BY src ORDER BY z_fp DESC, tok) AS rnk
         |  FROM zf)
         |SELECT src AS source, CAST(rnk AS INT) AS rnk, tok AS term,
         |  ysw AS n_in_source,
         |  CAST(round(CAST(CAST(z_fp AS DOUBLE) / 1e6
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS z
         |FROM rkd WHERE rnk <= 5""".stripMargin,
    // Same (cnt desc, tok) head cut and ranking, same ×1e6 ln snaps,
    // q152's HUGEINT moment algebra and rounding chain.
    "q209_zipf_fit" ->
      s"""WITH tok AS (SELECT unnest($tokSql) AS tok FROM documents),
         |vf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1),
         |top AS (SELECT tok, cnt FROM vf ORDER BY cnt DESC, tok
         |  LIMIT 100),
         |rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok)
         |    AS rnk FROM top),
         |pts AS (SELECT
         |    CAST(round(1e6 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
         |    CAST(round(1e6 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
         |  FROM rk),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         |  FROM pts)
         |SELECT 'top100' AS corpus, n,
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
    // Same floor-bucketing, first-bucket-per-token cumulative vocab,
    // window running sums, the q152 moment/rounding chain on the
    // ×1e6 ln points.
    "q220_heaps_fit" ->
      s"""WITH nn AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS mx
         |  FROM documents),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |shl AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh
         |  FROM tk),
         |tok AS (SELECT least(9, CAST(floor(doc_id * 10 / mx) AS INT))
         |    AS bkt, unnest(sh) AS tok
         |  FROM shl CROSS JOIN nn),
         |pb AS (SELECT bkt, CAST(count(*) AS BIGINT) AS tc
         |  FROM tok GROUP BY 1),
         |fv AS (SELECT bkt, CAST(count(*) AS BIGINT) AS vc FROM (
         |  SELECT tok, min(bkt) AS bkt FROM tok GROUP BY 1)
         |  GROUP BY 1),
         |pts AS (SELECT
         |    sum(tc) OVER (ORDER BY bkt) AS n,
         |    sum(coalesce(vc, 0)) OVER (ORDER BY bkt) AS v
         |  FROM pb LEFT JOIN fv USING (bkt)),
         |pp AS (SELECT
         |    CAST(round(1e6 * ln(CAST(n AS DOUBLE))) AS BIGINT) AS x,
         |    CAST(round(1e6 * ln(CAST(v AS DOUBLE))) AS BIGINT) AS y
         |  FROM pts WHERE n > 0 AND v > 0),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
         |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
         |  FROM pp),
         |tot AS (SELECT CAST(max(n) AS BIGINT) AS n_units,
         |    CAST(max(v) AS BIGINT) AS vocab FROM pts
         |  WHERE n > 0 AND v > 0)
         |SELECT m.n AS n_checkpoints, tot.n_units, tot.vocab,
         |  CASE WHEN m.n * sxx - sx * sx = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(m.n * sxy - sx * sy AS DOUBLE)
         |      / CAST(m.n * sxx - sx * sx AS DOUBLE)
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS beta,
         |  CASE WHEN m.n * sxx - sx * sx = 0
         |      OR m.n * syy - sy * sy = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(m.n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(m.n * sxx - sx * sx AS DOUBLE)
         |        * CAST(m.n * syy - sy * sy AS DOUBLE))
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS r
         |FROM m CROSS JOIN tot""".stripMargin,
    // Same pair stream as three distance-d passes (d = 1..3) unioned
    // by a VALUES cross join, same (least, greatest) canonical form
    // and q100-style ln snap.
    "q245_skipgram_pmi" ->
      s"""WITH tk AS (SELECT $tokSql AS tk FROM documents),
         |pr AS (SELECT least(tk[i], tk[i + d]) AS a,
         |    greatest(tk[i], tk[i + d]) AS b
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)
         |  CROSS JOIN (VALUES (1), (2), (3)) dd(d)
         |  WHERE i + d <= len(tk)),
         |uni AS (SELECT unnest(tk) AS tok FROM tk),
         |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_uni
         |  FROM uni GROUP BY 1),
         |nu AS (SELECT CAST(sum(n_uni) AS BIGINT) AS n_u FROM u),
         |p AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM pr GROUP BY 1, 2),
         |np AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_p_tot FROM p)
         |SELECT a, b, n_ab,
         |  CAST(round(CAST(ln((CAST(n_ab AS DOUBLE) / n_p_tot)
         |    / ((CAST(ua.n_uni AS DOUBLE) / n_u)
         |      * (CAST(ub.n_uni AS DOUBLE) / n_u))) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS pmi
         |FROM p JOIN u ua ON p.a = ua.tok JOIN u ub ON p.b = ub.tok
         |CROSS JOIN nu CROSS JOIN np
         |WHERE n_ab >= 25""".stripMargin,
    // q245's pair generator at window 2, self-pairs dropped, ≥25
    // survivors symmetrized into a directed edge list, then three
    // unrolled q135 PageRank iterations (string node ids join the same
    // way), identical sort+limit cutoff.
    "q247_textrank" ->
      s"""WITH tk AS (SELECT $tokSql AS tk FROM documents),
         |pr0 AS (SELECT least(tk[i], tk[i + d]) AS a,
         |    greatest(tk[i], tk[i + d]) AS b
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)
         |  CROSS JOIN (VALUES (1), (2)) dd(d)
         |  WHERE i + d <= len(tk)),
         |p AS (SELECT a, b FROM pr0 WHERE a <> b
         |  GROUP BY 1, 2 HAVING count(*) >= 25),
         |e AS (SELECT a AS src, b AS dst FROM p
         |  UNION ALL SELECT b, a FROM p),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM e GROUP BY 1),
         |p0 AS (SELECT id, CAST(1.0 AS DOUBLE) / CAST(nn AS DOUBLE) AS pr
         |  FROM nodes CROSS JOIN nc),
         |${prIterSql("p0", "p1")},
         |${prIterSql("p1", "p2")},
         |${prIterSql("p2", "p3")}
         |SELECT id AS token,
         |  CAST(round(CAST(pr AS DECIMAL(20,10)), 8) AS DOUBLE) AS score
         |FROM p3
         |ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
    // Same adjacent-bigram stream (list comprehension ≡ the engine's
    // transform), same exact integer clip.
    "q256_corpus_overlap" ->
      s"""WITH tk AS (SELECT source, $tokSql AS tk FROM documents),
         |bg AS (SELECT source,
         |    unnest([tk[i + 1] || ' ' || tk[i + 2]
         |      for i in range(0, len(tk) - 1)]) AS g
         |  FROM tk),
         |sb AS (SELECT source, g, CAST(count(*) AS BIGINT) AS own
         |  FROM bg GROUP BY 1, 2),
         |tb AS (SELECT g, CAST(sum(own) AS BIGINT) AS tot
         |  FROM sb GROUP BY 1)
         |SELECT source, CAST(sum(own) AS BIGINT) AS n_bigrams,
         |  CAST(round(CAST(
         |    CAST(sum(least(own, tot - own)) AS DOUBLE) /
         |    CAST(sum(own) AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS overlap
         |FROM sb JOIN tb USING (g) GROUP BY 1""".stripMargin,
    // Same Σc²-collapsed spectrum identity, HUGEINT moments.
    "q261_yules_k" ->
      s"""WITH cnt AS (SELECT source, tok,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($tokSql) AS tok FROM documents)
         |  GROUP BY 1, 2)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(round(CAST(CAST(1e4 AS DOUBLE)
         |    * CAST(sum(CAST(c AS HUGEINT) * c) - sum(c) AS DOUBLE)
         |    / CAST(CAST(sum(c) AS HUGEINT) * CAST(sum(c) AS HUGEINT)
         |      AS DOUBLE) AS DECIMAL(20,10)), 4) AS DOUBLE) AS yules_k
         |FROM cnt GROUP BY 1""".stripMargin,
    // Same ×1e9 frequency snaps, exact HUGEINT variances, one sqrt
    // per token, same 20-closest ordering.
    "q318_burrows_delta" ->
      s"""WITH st AS (SELECT source, unnest($tokSql) AS tok
         |  FROM documents),
         |cnts AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM st GROUP BY 1, 2),
         |stot AS (SELECT source, CAST(count(*) AS BIGINT) AS tt
         |  FROM st GROUP BY 1),
         |top AS (SELECT tok FROM (SELECT tok,
         |    CAST(sum(c) AS BIGINT) AS gc FROM cnts GROUP BY 1)
         |  ORDER BY gc DESC, tok LIMIT 30),
         |dense AS (SELECT s.source, t.tok,
         |    CAST(round(CAST(coalesce(c.c, 0) AS DOUBLE) / s.tt * 1e9)
         |      AS BIGINT) AS f9
         |  FROM stot s CROSS JOIN top t
         |  LEFT JOIN cnts c ON c.source = s.source AND c.tok = t.tok),
         |vt AS (SELECT tok, CAST(count(*) AS BIGINT) AS k,
         |    CAST(count(*) AS HUGEINT)
         |      * sum(CAST(f9 AS HUGEINT) * f9)
         |      - sum(CAST(f9 AS HUGEINT)) * sum(CAST(f9 AS HUGEINT))
         |      AS v
         |  FROM dense GROUP BY 1),
         |df AS (SELECT a.source AS source_a, b.source AS source_b,
         |    a.tok, abs(a.f9 - b.f9) AS adf
         |  FROM dense a JOIN dense b
         |    ON a.tok = b.tok AND a.source < b.source),
         |tm AS (SELECT source_a, source_b,
         |    CASE WHEN v = 0 THEN 0 ELSE
         |      CAST(round(CAST(adf AS DOUBLE) * CAST(k AS DOUBLE)
         |        / sqrt(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) END
         |      AS t6
         |  FROM df JOIN vt USING (tok))
         |SELECT source_a, source_b,
         |  CAST(round(CAST(CAST(sum(t6) AS DOUBLE) / 1e6 / count(*)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS delta
         |FROM tm GROUP BY 1, 2
         |ORDER BY 3, 1, 2 LIMIT 20""".stripMargin,
    // Same exact clipped counts (per-(doc, gram) least summed
    // corpus-wide) and the identical fixed-association double chain.
    "q334_bleu_eval" -> {
      def gramsSql(src: String, n: Int): String =
        if (n == 1) src
        else s"""CASE WHEN len($src) >= $n
                |  THEN [array_to_string($src[i:i+${n - 1}], ' ')
                |    for i in range(1, len($src) - ${n - 2})]
                |  ELSE CAST([] AS VARCHAR[]) END""".stripMargin
      def cntSql(side: String, n: Int, out: String): String =
        s"""$out AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT doc_id, unnest(${gramsSql(side, n)}) AS g
           |    FROM pair) GROUP BY 1, 2)""".stripMargin
      def nSql(n: Int): String =
        s"""${cntSql("cand", n, s"c$n")},
           |${cntSql("ref", n, s"r$n")},
           |p$n AS (SELECT CAST(sum(c$n.c) AS BIGINT) AS total,
           |    CAST(sum(least(c$n.c, coalesce(r$n.c, 0))) AS BIGINT)
           |      AS matched
           |  FROM c$n LEFT JOIN r$n USING (doc_id, g))""".stripMargin
      s"""WITH tk AS (SELECT doc_id, $tokSql AS ref FROM documents),
         |pair AS (SELECT doc_id, ref,
         |    [ref[i] for i in range(1, len(ref) + 1) if i % 7 != 0]
         |      AS cand
         |  FROM tk),
         |${nSql(1)},
         |${nSql(2)},
         |${nSql(3)},
         |${nSql(4)},
         |lens AS (SELECT CAST(sum(len(cand)) AS BIGINT) AS c_len,
         |    CAST(sum(len(ref)) AS BIGINT) AS r_len FROM pair)
         |SELECT c_len, r_len,
         |  p1.matched AS matched_1, p1.total AS total_1,
         |  p2.matched AS matched_2, p2.total AS total_2,
         |  p3.matched AS matched_3, p3.total AS total_3,
         |  p4.matched AS matched_4, p4.total AS total_4,
         |  CASE WHEN p1.matched = 0 OR p2.matched = 0
         |      OR p3.matched = 0 OR p4.matched = 0 OR c_len = 0
         |    THEN NULL ELSE
         |    CAST(round(CAST(
         |      (CASE WHEN c_len < r_len
         |        THEN exp(CAST(1.0 AS DOUBLE)
         |          - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))
         |        ELSE CAST(1.0 AS DOUBLE) END)
         |      * exp((ln(CAST(p1.matched AS DOUBLE)
         |            / CAST(p1.total AS DOUBLE))
         |          + ln(CAST(p2.matched AS DOUBLE)
         |            / CAST(p2.total AS DOUBLE))
         |          + ln(CAST(p3.matched AS DOUBLE)
         |            / CAST(p3.total AS DOUBLE))
         |          + ln(CAST(p4.matched AS DOUBLE)
         |            / CAST(p4.total AS DOUBLE)))
         |        / CAST(4.0 AS DOUBLE))
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS bleu
         |FROM p1, p2, p3, p4, lens""".stripMargin
    },
    // Same drop/substitute hypothesis, clipped per-(doc, order, gram)
    // matches, identical double chain for BP × geometric mean.
    "q424_corpus_bleu" ->
      s"""WITH tk AS (SELECT doc_id AS id, $tokSql AS ref
         |  FROM documents),
         |hp AS (SELECT id, ref,
         |    [CASE WHEN i % 11 = 0 THEN 'xx' ELSE ref[i] END
         |      for i in range(1, len(ref) + 1) if i % 7 <> 0] AS hyp
         |  FROM tk),
         |nn AS (SELECT unnest([1, 2, 3, 4]) AS n),
         |hs AS (SELECT id, nn.n,
         |    unnest([array_to_string(hyp[i:i+nn.n-1], ' ')
         |      for i in range(1, len(hyp) - nn.n + 2)]) AS g
         |  FROM hp CROSS JOIN nn),
         |rs AS (SELECT id, nn.n,
         |    unnest([array_to_string(ref[i:i+nn.n-1], ' ')
         |      for i in range(1, len(ref) - nn.n + 2)]) AS g
         |  FROM hp CROSS JOIN nn),
         |hc AS (SELECT id, n, g, count(*) AS ch FROM hs
         |  GROUP BY 1, 2, 3),
         |rc AS (SELECT id, n, g, count(*) AS cr FROM rs
         |  GROUP BY 1, 2, 3),
         |cl AS (SELECT hc.n,
         |    CAST(sum(least(hc.ch, coalesce(rc.cr, 0))) AS BIGINT)
         |      AS m,
         |    CAST(sum(hc.ch) AS BIGINT) AS t
         |  FROM hc LEFT JOIN rc ON rc.id = hc.id AND rc.n = hc.n
         |    AND rc.g = hc.g
         |  GROUP BY 1),
         |lens AS (SELECT CAST(sum(len(hyp)) AS BIGINT) AS hyp_len,
         |    CAST(sum(len(ref)) AS BIGINT) AS ref_len FROM hp),
         |wide AS (SELECT
         |    coalesce(max(CASE WHEN n = 1 THEN m END), 0) AS m1,
         |    coalesce(max(CASE WHEN n = 2 THEN m END), 0) AS m2,
         |    coalesce(max(CASE WHEN n = 3 THEN m END), 0) AS m3,
         |    coalesce(max(CASE WHEN n = 4 THEN m END), 0) AS m4,
         |    coalesce(max(CASE WHEN n = 1 THEN t END), 0) AS t1,
         |    coalesce(max(CASE WHEN n = 2 THEN t END), 0) AS t2,
         |    coalesce(max(CASE WHEN n = 3 THEN t END), 0) AS t3,
         |    coalesce(max(CASE WHEN n = 4 THEN t END), 0) AS t4
         |  FROM cl)
         |SELECT hyp_len, ref_len, m1, m2, m3, m4, t1, t2, t3, t4,
         |  CASE WHEN m1 = 0 OR m2 = 0 OR m3 = 0 OR m4 = 0
         |    THEN CAST(0 AS BIGINT)
         |    ELSE CAST(round(1e6
         |      * (CASE WHEN hyp_len >= ref_len THEN CAST(1.0 AS DOUBLE)
         |          ELSE exp(CAST(1.0 AS DOUBLE)
         |            - CAST(ref_len AS DOUBLE) / CAST(hyp_len AS DOUBLE))
         |          END)
         |      * exp((ln(CAST(m1 AS DOUBLE) / CAST(t1 AS DOUBLE))
         |        + ln(CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE))
         |        + ln(CAST(m3 AS DOUBLE) / CAST(t3 AS DOUBLE))
         |        + ln(CAST(m4 AS DOUBLE) / CAST(t4 AS DOUBLE)))
         |        / CAST(4.0 AS DOUBLE))) AS BIGINT) END AS bleu_micro
         |FROM lens, wide""".stripMargin,

    // The mismatch set replayed from the same md5 coins (skipping
    // positions whose original token is already 'xx'), rounds via a
    // per-doc LAG window — an independent formulation of the gap
    // arithmetic the engine computes with an array fold.
    "q482_spec_decode_audit" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |mm AS (SELECT doc_id, unnest(
         |    [i for i in range(0, len(tk))
         |     if ${h60("'sd' || CAST(doc_id AS VARCHAR) || ':' " +
                  "|| CAST(i AS VARCHAR)")} % 5 = 0
         |        and tk[CAST(i + 1 AS INT)] <> 'xx']) AS m FROM d),
         |lg AS (SELECT doc_id, m,
         |    lag(m, 1, -1) OVER (PARTITION BY doc_id ORDER BY m) AS pm
         |  FROM mm),
         |rm AS (SELECT doc_id,
         |    CAST(sum((m - pm - 1) // 4 + 1) AS BIGINT) AS r,
         |    max(m) AS lastm, CAST(count(*) AS BIGINT) AS nm
         |  FROM lg GROUP BY 1),
         |rr AS (SELECT d.doc_id AS id,
         |    CAST(len(d.tk) AS BIGINT) AS n_tokens,
         |    coalesce(rm.nm, 0) AS n_mismatch,
         |    CAST(coalesce(rm.r, 0)
         |      + (len(d.tk) - coalesce(rm.lastm, -1) - 1 + 3) // 4
         |      AS BIGINT) AS n_rounds
         |  FROM d LEFT JOIN rm ON rm.doc_id = d.doc_id)
         |SELECT id, n_tokens, n_mismatch, n_rounds,
         |  CASE WHEN n_tokens = 0 THEN NULL ELSE
         |    CAST((CAST(n_tokens - n_mismatch AS HUGEINT) * 1000000)
         |      // n_tokens AS BIGINT) END AS accept_rate_micro,
         |  CASE WHEN n_rounds = 0 THEN NULL ELSE
         |    CAST((CAST(n_tokens AS HUGEINT) * 1000000)
         |      // n_rounds AS BIGINT) END AS speedup_micro
         |FROM rr""".stripMargin,
    // Rolling-fold gram keys over per-token 60-bit hashes (the
    // acc·3 + h mod 2⁶¹−1 chain), reference distinct per (n, hash),
    // occurrence-counted novelty with one micro floor.
    "q426_ngram_novelty" ->
      s"""WITH tk AS (SELECT doc_id,
         |    list_transform($tokSql, t ->
         |      CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs,
         |    doc_id % 2 = 0 AS is_ref FROM documents),
         |g AS (SELECT is_ref, nn.n,
         |    unnest([list_reduce(hs[i:i+nn.n-1],
         |        (a, b) -> (a * 3 + b) % 2305843009213693951)
         |      for i in range(1, len(hs) - nn.n + 2)]) AS h
         |  FROM tk
         |  CROSS JOIN (SELECT unnest([1,2,3,4,5,6,7,8]) AS n) nn),
         |ref AS (SELECT DISTINCT n, h FROM g WHERE is_ref),
         |cand AS (SELECT g.n, g.h, ref.h IS NOT NULL AS seen
         |  FROM g LEFT JOIN ref ON ref.n = g.n AND ref.h = g.h
         |  WHERE NOT g.is_ref)
         |SELECT CAST(n AS INT) AS n,
         |  CAST(count(*) AS BIGINT) AS cand_grams,
         |  CAST(sum(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT)
         |    AS novel_grams,
         |  CAST((sum(CASE WHEN seen THEN 0 ELSE 1 END) * 1000000)
         |    // count(*) AS BIGINT) AS novelty_micro
         |FROM cand GROUP BY 1""".stripMargin,
    // The q424 pair fixture joined to whitespace-free strings; char
    // grams by substr sweep, clipped full-outer counts, the β=2
    // F collapses to 5tp/(4tr+th) — integers end to end.
    "q429_chrf" ->
      s"""WITH tk AS (SELECT doc_id AS id, $tokSql AS ref
         |  FROM documents WHERE doc_id % 3 = 0),
         |hp AS (SELECT id, ref,
         |    [CASE WHEN i % 11 = 0 THEN 'xx' ELSE ref[i] END
         |      for i in range(1, len(ref) + 1) if i % 7 <> 0] AS hyp
         |  FROM tk),
         |st AS (SELECT id,
         |    coalesce(array_to_string(hyp, ''), '') AS hyp,
         |    coalesce(array_to_string(ref, ''), '') AS ref FROM hp),
         |nn AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
         |hs AS (SELECT id, nn.n,
         |    unnest([substr(hyp, i, nn.n)
         |      for i in range(1, length(hyp) - nn.n + 2)]) AS g
         |  FROM st CROSS JOIN nn),
         |rs AS (SELECT id, nn.n,
         |    unnest([substr(ref, i, nn.n)
         |      for i in range(1, length(ref) - nn.n + 2)]) AS g
         |  FROM st CROSS JOIN nn),
         |hc AS (SELECT id, n, g, count(*) AS ch FROM hs
         |  GROUP BY 1, 2, 3),
         |rc AS (SELECT id, n, g, count(*) AS cr FROM rs
         |  GROUP BY 1, 2, 3),
         |po AS (SELECT n,
         |    CAST(sum(CASE WHEN ch IS NOT NULL AND cr IS NOT NULL
         |      THEN least(ch, cr) ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(coalesce(ch, 0)) AS BIGINT) AS hyp_grams,
         |    CAST(sum(coalesce(cr, 0)) AS BIGINT) AS ref_grams
         |  FROM hc FULL OUTER JOIN rc USING (id, n, g)
         |  GROUP BY 1),
         |f AS (SELECT CAST(n AS INT) AS n, tp, hyp_grams, ref_grams,
         |    CASE WHEN ref_grams * 4 + hyp_grams = 0
         |      THEN CAST(0 AS BIGINT)
         |      ELSE CAST((tp * 5000000) // (ref_grams * 4 + hyp_grams)
         |        AS BIGINT) END AS f2_micro
         |  FROM po),
         |o AS (SELECT CAST(coalesce(sum(f2_micro), 0) // 6 AS BIGINT)
         |    AS chrf_micro FROM f)
         |SELECT f.n, f.tp, f.hyp_grams, f.ref_grams, f.f2_micro,
         |  o.chrf_micro
         |FROM f, o""".stripMargin,
    // Frequency spectrum + descending type ranks; the boundary
    // class contributes its partial count exactly.
    "q460_vocab_coverage" ->
      s"""WITH f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($tokSql) AS w FROM documents)
         |  GROUP BY 1),
         |sp AS (SELECT freq, CAST(count(*) AS BIGINT) AS n_types
         |  FROM f GROUP BY 1),
         |r AS (SELECT freq, n_types,
         |    CAST(coalesce(sum(n_types) OVER (ORDER BY freq DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS types_above FROM sp),
         |t AS (SELECT CAST(sum(freq * n_types) AS BIGINT) AS total
         |  FROM sp),
         |v AS (SELECT unnest([8, 16, 32, 64]) AS v)
         |SELECT CAST(v.v AS BIGINT) AS vocab_size,
         |  CAST(sum(r.freq * least(r.n_types,
         |    greatest(v.v - r.types_above, 0))) AS BIGINT)
         |    AS covered_tokens,
         |  t.total AS total_tokens,
         |  CAST((sum(r.freq * least(r.n_types,
         |    greatest(v.v - r.types_above, 0))) * 1000000)
         |    // greatest(t.total, 1) AS BIGINT) AS coverage_micro
         |FROM v CROSS JOIN r CROSS JOIN t
         |GROUP BY 1, t.total""".stripMargin,
    // Clipped bigram overlap on the shared pair fixture; F1 =
    // 2m/(h+r) — one more floor, no transcendental.
    "q445_rouge2" ->
      s"""WITH tk AS (SELECT doc_id AS id, $tokSql AS ref
         |  FROM documents),
         |hp AS (SELECT id, ref,
         |    [CASE WHEN i % 11 = 0 THEN 'xx' ELSE ref[i] END
         |      for i in range(1, len(ref) + 1) if i % 7 <> 0] AS hyp
         |  FROM tk),
         |hs AS (SELECT id, unnest([array_to_string(hyp[i:i+1], ' ')
         |    for i in range(1, len(hyp))]) AS g FROM hp),
         |rs AS (SELECT id, unnest([array_to_string(ref[i:i+1], ' ')
         |    for i in range(1, len(ref))]) AS g FROM hp),
         |hc AS (SELECT id, g, count(*) AS ch FROM hs GROUP BY 1, 2),
         |rc AS (SELECT id, g, count(*) AS cr FROM rs GROUP BY 1, 2),
         |po AS (SELECT
         |    CAST(sum(CASE WHEN ch IS NOT NULL AND cr IS NOT NULL
         |      THEN least(ch, cr) ELSE 0 END) AS BIGINT) AS m,
         |    CAST(sum(coalesce(ch, 0)) AS BIGINT) AS h,
         |    CAST(sum(coalesce(cr, 0)) AS BIGINT) AS r
         |  FROM hc FULL OUTER JOIN rc USING (id, g))
         |SELECT CAST(2 AS INT) AS n, m AS matches, h AS hyp_grams,
         |  r AS ref_grams,
         |  CASE WHEN r = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((m * 1000000) // r AS BIGINT) END
         |    AS recall_micro,
         |  CASE WHEN h = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((m * 1000000) // h AS BIGINT) END
         |    AS precision_micro,
         |  CASE WHEN h + r = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((m * 2 * 1000000) // (h + r) AS BIGINT) END
         |    AS f1_micro
         |FROM po""".stripMargin,
    // The same salted md5 green list over the same adjacent pairs.
    "q407_watermark_detect" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |bg AS (SELECT doc_id, r['a'] AS a, r['b'] AS b FROM (
         |  SELECT doc_id, unnest([{'a': tk[i + 1], 'b': tk[i + 2]}
         |      for i in range(0, len(tk) - 1)]) AS r FROM tk)),
         |g AS (SELECT doc_id, CASE WHEN CAST('0x' ||
         |    substr(md5('wm7:' || a || ':' || b), 1, 15) AS BIGINT)
         |    % 2 = 0 THEN 1 ELSE 0 END AS green FROM bg)
         |SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_transitions,
         |  CAST(sum(green) AS BIGINT) AS n_green,
         |  CAST(sum(green) * 2 - count(*) AS BIGINT) AS excess,
         |  CAST((sum(green) * 1000000) // count(*) AS BIGINT)
         |    AS green_micro
         |FROM g GROUP BY 1""".stripMargin,
    // The q38 tokenizers (whitespace + BPE-ish regex), byte lengths,
    // two floored micro ratios.
    "q404_token_fertility" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS total_words,
         |  CAST(sum(nb) AS BIGINT) AS total_bpe,
         |  CAST(sum(nby) AS BIGINT) AS total_bytes,
         |  CAST((CAST(sum(nb) AS HUGEINT) * 1000000) // sum(nw)
         |    AS BIGINT) AS fertility_micro,
         |  CAST((CAST(sum(nby) AS HUGEINT) * 1000000) // sum(nb)
         |    AS BIGINT) AS bytes_per_token_micro
         |FROM (SELECT lang, len($tokSql) AS nw,
         |    len(regexp_extract_all(lower(text),
         |      '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS nb,
         |    strlen(text) AS nby FROM documents)
         |GROUP BY 1""".stripMargin,
    // Per-language bigram model (the q138 chain keyed by lang), the
    // same per-term ln snap and floored mean, rank/band arithmetic in
    // plain window functions.
    "q398_ccnet_buckets" ->
      s"""WITH tk AS (SELECT doc_id, lang, $tokSql AS tk FROM documents),
         |bg AS (SELECT doc_id, lang, r['a'] AS a, r['b'] AS b FROM (
         |  SELECT doc_id, lang, unnest([{'a': tk[i + 1], 'b': tk[i + 2]}
         |      for i in range(0, len(tk) - 1)]) AS r FROM tk)),
         |cb AS (SELECT lang, a, b, count(*) AS cab FROM bg
         |  GROUP BY 1, 2, 3),
         |ca AS (SELECT lang, a, count(*) AS ca FROM bg GROUP BY 1, 2),
         |v AS (SELECT lang, count(DISTINCT w) AS v FROM
         |  (SELECT lang, unnest(tk) AS w FROM tk) GROUP BY 1),
         |d AS (SELECT bg.doc_id, bg.lang,
         |    CAST(sum(CAST(round(-ln(CAST(cab + 1 AS DOUBLE)
         |        / CAST(ca + v AS DOUBLE)) * 1e6) AS BIGINT))
         |      // count(*) AS BIGINT) AS nll_micro
         |  FROM bg JOIN cb USING (lang, a, b) JOIN ca USING (lang, a)
         |    JOIN v USING (lang)
         |  GROUP BY 1, 2),
         |r AS (SELECT lang, nll_micro,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY nll_micro, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS nl FROM d)
         |SELECT lang, CAST(((rn - 1) * 3) // nl AS INT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(nll_micro) AS nll_min_micro,
         |  max(nll_micro) AS nll_max_micro
         |FROM r GROUP BY 1, 2""".stripMargin,
    // The same planted tails, every rule the same cross-multiplied
    // integer comparison over the same token/line counts.
    "q399_gopher_rules" ->
      s"""WITH d AS (SELECT doc_id, text
         |    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || '- buy one'
         |        || chr(10) || '- buy two' || chr(10) || 'plain tail...'
         |      ELSE '' END
         |    || CASE WHEN doc_id % 17 = 0 THEN ' ## ... ## end'
         |      ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0
         |      THEN ' be to of and that have with' ELSE '' END AS text
         |  FROM documents),
         |x AS (SELECT doc_id, text AS t, $tokSql AS tk,
         |    string_split(text, chr(10)) AS ls FROM d),
         |y AS (SELECT doc_id,
         |    CAST(len(tk) AS BIGINT) AS nw,
         |    CAST(coalesce(list_sum(list_transform(tk, s -> len(s))), 0)
         |      AS BIGINT) AS sum_len,
         |    CAST(len(t) - len(replace(t, '#', ''))
         |      + (len(t) - len(replace(t, '...', ''))) // 3
         |      AS BIGINT) AS symbols,
         |    CAST(len(list_filter(ls,
         |      s -> regexp_matches(ltrim(s), '^[-*•]'))) AS BIGINT)
         |      AS bullets,
         |    CAST(len(ls) AS BIGINT) AS nl,
         |    CAST(len(list_filter(ls,
         |      s -> regexp_matches(rtrim(s), '\\.\\.\\.$$'))) AS BIGINT)
         |      AS ell,
         |    CAST(len(list_filter(tk,
         |      s -> regexp_matches(s, '[a-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_intersect(list_distinct(tk),
         |      ['the','be','to','of','and','that','have','with']))
         |      AS BIGINT) AS stop_hits
         |  FROM x)
         |SELECT doc_id AS id, nw AS n_words,
         |  nw >= 50 AND nw <= 100000 AS r_word_count,
         |  3 * nw <= sum_len AND sum_len <= 10 * nw AS r_mean_word_len,
         |  10 * symbols <= nw AS r_symbol_ratio,
         |  10 * bullets <= nl AS r_bullet_lines,
         |  10 * ell <= 3 * nl AS r_ellipsis_lines,
         |  5 * alpha_words >= 4 * nw AS r_alpha_words,
         |  stop_hits >= 2 AS r_stopwords,
         |  (nw >= 50 AND nw <= 100000)
         |    AND (3 * nw <= sum_len AND sum_len <= 10 * nw)
         |    AND 10 * symbols <= nw AND 10 * bullets <= nl
         |    AND 10 * ell <= 3 * nl AND 5 * alpha_words >= 4 * nw
         |    AND stop_hits >= 2 AS pass
         |FROM y""".stripMargin,
    // Segment starts, stopword-family ratios, the same tie rules, the
    // same (count desc, lang) mode — replayed per 16-token window.
    "q391_lang_consistency" -> {
      val de = "' der die das und ein der die das und ein" +
        " der die das und ein'"
      s"""WITH t0 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN text || $de ELSE text END AS text FROM documents),
         |t2 AS (SELECT doc_id, $tokSql AS tk FROM t0),
         |sg AS (SELECT doc_id, tk,
         |    unnest(range(1, len(tk) + 1, 16)) AS st
         |  FROM t2 WHERE len(tk) > 0),
         |seg AS (SELECT doc_id, tk[CAST(st AS INT):CAST(st + 15 AS INT)]
         |    AS s FROM sg),
         |sc AS (SELECT doc_id,
         |    len(list_filter(s, t -> t IN ('the','a','of','to','and')))
         |      * 1.0 / len(s) AS s_en,
         |    len(list_filter(s, t -> t IN ('der','die','das','und','ein')))
         |      * 1.0 / len(s) AS s_de,
         |    len(list_filter(s, t -> t IN ('el','la','de','y','que')))
         |      * 1.0 / len(s) AS s_es,
         |    len(list_filter(s, t -> t IN ('le','la','de','et','les')))
         |      * 1.0 / len(s) AS s_fr
         |  FROM seg),
         |lg AS (SELECT doc_id,
         |    CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         |      WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |      WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |      WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |      ELSE 'fr' END AS lang
         |  FROM sc),
         |cnt AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS c
         |  FROM lg GROUP BY 1, 2),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, lang) AS rn FROM cnt)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_segments,
         |  max(CASE WHEN rn = 1 THEN lang END) AS dominant_lang,
         |  CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT)
         |    AS dominant_segments,
         |  CAST(count(*) AS BIGINT) AS distinct_langs
         |FROM rk GROUP BY 1""".stripMargin
    },
    // Same hash cuts, 1-based-inclusive list slices, byte-identical
    // PSM render.
    "q388_fim_split" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |b AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a'),
         |      1, 15) AS BIGINT) % (len(tk) + 1) AS c1,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':b'),
         |      1, 15) AS BIGINT) % (len(tk) + 1) AS c2
         |  FROM tk),
         |s AS (SELECT doc_id, tk, n,
         |    CAST(least(c1, c2) AS BIGINT) AS lo,
         |    CAST(greatest(c1, c2) AS BIGINT) AS hi FROM b)
         |SELECT doc_id, n AS n_tokens, lo, hi,
         |  md5('<PRE> '
         |    || coalesce(array_to_string(tk[1:CAST(lo AS INT)], ' '), '')
         |    || ' <SUF> '
         |    || coalesce(array_to_string(
         |      tk[CAST(hi + 1 AS INT):CAST(n AS INT)], ' '), '')
         |    || ' <MID> '
         |    || coalesce(array_to_string(
         |      tk[CAST(lo + 1 AS INT):CAST(hi AS INT)], ' '), ''))
         |    AS psm_fp
         |FROM s""".stripMargin,
    // The q175 unrolled learning chain drives an APPLICATION pass the
    // engine never sees: the oracle re-fuses the four learned pairs
    // into an (original word, framed) table, counts symbols per word,
    // rolls up per doc, and replays q363's window-cumsum packing —
    // identical sequences only if learn, apply, and pack all agree.
    "q375_bpe_apply_pack" ->
      s"""WITH wc AS (SELECT tok AS w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest($tokSql) AS tok FROM documents)
         |  WHERE regexp_matches(tok, '^[a-z0-9]+${"$"}')
         |  GROUP BY 1),
         |w0 AS (SELECT regexp_replace(w, '(.)', '(\\1)', 'g') AS w, cnt
         |  FROM wc),
         |${bpeIterSql("w0", "w1")},
         |${bpeIterSql("w1", "w2")},
         |${bpeIterSql("w2", "w3")},
         |${bpeIterSql("w3", "w4")},
         |ap0 AS (SELECT w AS ow,
         |    regexp_replace(w, '(.)', '(\\1)', 'g') AS fw FROM wc),
         |${(1 to 4).map(k =>
              s"""ap$k AS (SELECT ow, replace(fw,
                 |    '(' || w${k}b.a || ')(' || w${k}b.b || ')',
                 |    '(' || w${k}b.a || w${k}b.b || ')') AS fw
                 |  FROM ap${k - 1} CROSS JOIN w${k}b)""".stripMargin)
            .mkString(",\n")},
         |sym AS (SELECT ow, CAST(len(string_split(fw[2:-2], ')('))
         |    AS BIGINT) AS ns FROM ap4),
         |et AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
         |dn AS (SELECT doc_id, CAST(sum(ns) AS BIGINT) AS n
         |  FROM et JOIN sym ON sym.ow = et.tok GROUP BY 1),
         |o AS (SELECT doc_id, n,
         |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS off FROM dn),
         |l AS (SELECT doc_id, n, off, off // 512 AS s,
         |    (off + n - 1) // 512 AS e FROM o WHERE n > 0),
         |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM dn),
         |tc AS (SELECT doc_id, s AS start_seq,
         |    unnest(range(s, e + 1)) AS seq_id FROM l)
         |SELECT CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (start_seq = seq_id) AS BIGINT)
         |    AS n_docs_starting,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc,
         |  CAST(least(512, tt.total - seq_id * 512) AS BIGINT)
         |    AS tokens_filled
         |FROM tc, tt GROUP BY seq_id, tt.total""".stripMargin,
    // Same per-n corpus gram totals and one double ratio each.
    "q341_distinct_ngrams" -> {
      def nSql(n: Int): String = {
        val g = if (n == 1) "tk"
        else s"""CASE WHEN len(tk) >= $n
                |  THEN [array_to_string(tk[i:i+${n - 1}], ' ')
                |    for i in range(1, len(tk) - ${n - 2})]
                |  ELSE CAST([] AS VARCHAR[]) END""".stripMargin
        s"""SELECT CAST($n AS INT) AS n,
           |  CAST(count(*) AS BIGINT) AS total,
           |  CAST(count(DISTINCT g) AS BIGINT) AS "distinct",
           |  CASE WHEN count(*) = 0 THEN NULL ELSE
           |    CAST(round(CAST(CAST(count(DISTINCT g) AS DOUBLE)
           |      / CAST(count(*) AS DOUBLE) AS DECIMAL(20,10)), 6)
           |      AS DOUBLE) END AS distinct_ratio
           |FROM (SELECT unnest($g) AS g
           |  FROM (SELECT $tokSql AS tk FROM documents))""".stripMargin
      }
      s"""${nSql(1)}
         |UNION ALL ${nSql(2)}
         |UNION ALL ${nSql(3)}
         |UNION ALL ${nSql(4)}""".stripMargin
    },
    // Shingle strings key the same domain the engine's hashes do
    // (grouping is representation-free); same floor-div deciles and
    // pooled ratio.
    "q296_novelty_curve" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |ds AS (SELECT doc_id, sh FROM (SELECT doc_id,
         |    unnest(CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
         |      ELSE $shingleSql END) AS sh FROM tk)),
         |fs AS (SELECT sh, CAST(min(doc_id) AS BIGINT) AS fid
         |  FROM ds GROUP BY 1),
         |per AS (SELECT ds.doc_id, CAST(count(*) AS BIGINT) AS n_sh,
         |    CAST(sum(CASE WHEN fid = ds.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM ds JOIN fs USING (sh) GROUP BY 1),
         |mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mid
         |  FROM documents)
         |SELECT doc_id * 10 // (mid + 1) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_sh) AS BIGINT) AS n_sh,
         |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
         |  CAST(round(CAST(CAST(sum(n_novel) AS DOUBLE) / sum(n_sh)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS novelty
         |FROM per CROSS JOIN mx GROUP BY 1""".stripMargin,
    // Same ×1e9 entropy terms, same (df-share × flatness) composite
    // snapped 6dp before the cut.
    "q291_stopword_discovery" ->
      s"""WITH occ AS (SELECT doc_id, source, unnest($tokSql) AS tok
         |  FROM documents),
         |ts AS (SELECT tok, source, CAST(count(*) AS BIGINT) AS c
         |  FROM occ GROUP BY 1, 2),
         |tt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct
         |  FROM ts GROUP BY 1),
         |hh AS (SELECT ts.tok, CAST(sum(CAST(round(
         |      -(CAST(c AS DOUBLE) / ct) * ln(CAST(c AS DOUBLE) / ct)
         |      * 1e9) AS BIGINT)) AS BIGINT) AS sh
         |  FROM ts JOIN tt USING (tok) GROUP BY 1),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM
         |  (SELECT DISTINCT tok, doc_id FROM occ) GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents)
         |SELECT tok AS token, df, ct AS n_occ,
         |  CAST(round(CAST(CAST(sh AS DOUBLE) / 1e9
         |    / ln(CAST(20.0 AS DOUBLE)) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS flatness,
         |  CAST(round(CAST(CAST(df AS DOUBLE) / n_docs
         |    * (CAST(sh AS DOUBLE) / 1e9 / ln(CAST(20.0 AS DOUBLE)))
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS score
         |FROM tt JOIN hh USING (tok) JOIN dfq USING (tok)
         |CROSS JOIN nd
         |ORDER BY 5 DESC, 1 LIMIT 20""".stripMargin,
    // Same hash epochs, add-one log-odds, ×1e4 snap.
    "q289_trending_terms" ->
      s"""WITH occ AS (SELECT
         |    ${h60("CAST(doc_id AS VARCHAR)")} % 2 AS ep,
         |    unnest($tokSql) AS tok FROM documents),
         |g AS (SELECT tok,
         |    CAST(sum(CASE WHEN ep = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN ep = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1
         |  FROM occ GROUP BY 1 HAVING count(*) >= 25),
         |tots AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
         |    CAST(sum(c1) AS BIGINT) AS n1 FROM g)
         |SELECT tok AS token, c0, c1,
         |  CAST(round(CAST(
         |    ln(CAST(c1 + 1 AS DOUBLE) / (n1 - c1 + 1))
         |    - ln(CAST(c0 + 1 AS DOUBLE) / (n0 - c0 + 1))
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS log_odds
         |FROM g CROSS JOIN tots
         |ORDER BY 4 DESC, 1 LIMIT 20""".stripMargin,
    // Same ordered-bigram distinct and exact ratios.
    "q273_kn_continuation" ->
      s"""WITH tk AS (SELECT $tokSql AS tk FROM documents),
         |bg AS (SELECT r['a'] AS a, r['b'] AS b FROM (
         |  SELECT unnest([{'a': tk[i + 1], 'b': tk[i + 2]}
         |      for i in range(0, len(tk) - 1)]) AS r FROM tk)),
         |dist AS (SELECT DISTINCT a, b FROM bg),
         |cont AS (SELECT b AS token, CAST(count(*) AS BIGINT)
         |    AS n_contexts FROM dist GROUP BY 1),
         |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM dist),
         |uni AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(tk) AS tok FROM tk) GROUP BY 1),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
         |SELECT token, c,
         |  CAST(coalesce(cont.n_contexts, 0) AS BIGINT) AS n_contexts,
         |  CAST(round(CAST(CAST(c AS DOUBLE) / n AS DECIMAL(20,10)),
         |    6) AS DOUBLE) AS p_raw,
         |  CAST(round(CAST(CAST(coalesce(cont.n_contexts, 0)
         |    AS DOUBLE) / d AS DECIMAL(20,10)), 6) AS DOUBLE)
         |    AS p_cont
         |FROM uni LEFT JOIN cont USING (token)
         |CROSS JOIN dd CROSS JOIN nn
         |ORDER BY c DESC, token LIMIT 50""".stripMargin,
    // Same top-2 probe derivation (n desc, token), same ≤3 window.
    "q274_proximity_search" ->
      s"""WITH pg AS (SELECT doc_id,
         |    generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS token
         |  FROM (SELECT doc_id, $tokSql AS tk FROM documents)),
         |tc AS (SELECT token, count(*) AS n FROM pg GROUP BY 1),
         |t1 AS (SELECT token FROM tc ORDER BY n DESC, token LIMIT 1),
         |t2 AS (SELECT token FROM (SELECT token, row_number() OVER (
         |    ORDER BY n DESC, token) AS rn FROM tc) WHERE rn = 2)
         |SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(min(abs(x.pos - y.pos)) AS BIGINT) AS min_gap
         |FROM pg x JOIN t1 ON x.token = t1.token
         |JOIN pg y ON y.doc_id = x.doc_id
         |JOIN t2 ON y.token = t2.token
         |WHERE abs(x.pos - y.pos) <= 3
         |GROUP BY 1""".stripMargin,
    // q25's stopword-family scorer verbatim, then the full-outer
    // class margins and the exact 2·TP/(pred+support) F1 identity.
    "q234_langid_report" ->
      s"""WITH sc AS (
         |  SELECT lang,
         |    len(list_filter(tk, t -> t IN ('the','a','of','to','and'))) * 1.0 / len(tk) AS s_en,
         |    len(list_filter(tk, t -> t IN ('der','die','das','und','ein'))) * 1.0 / len(tk) AS s_de,
         |    len(list_filter(tk, t -> t IN ('el','la','de','y','que'))) * 1.0 / len(tk) AS s_es,
         |    len(list_filter(tk, t -> t IN ('le','la','de','et','les'))) * 1.0 / len(tk) AS s_fr
         |  FROM (SELECT lang, $tokSql AS tk FROM documents)
         |  WHERE len(tk) > 0),
         |pr AS (SELECT lang AS truth,
         |  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         |    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |    ELSE 'fr' END AS pred
         |  FROM sc),
         |cells AS (SELECT truth, pred, CAST(count(*) AS BIGINT) AS o
         |  FROM pr GROUP BY 1, 2),
         |sup AS (SELECT truth AS cls, CAST(sum(o) AS BIGINT)
         |    AS support FROM cells GROUP BY 1),
         |prd AS (SELECT pred AS cls, CAST(sum(o) AS BIGINT)
         |    AS predicted FROM cells GROUP BY 1),
         |diag AS (SELECT truth AS cls, o AS tp FROM cells
         |  WHERE truth = pred),
         |j AS (SELECT cls, coalesce(support, 0) AS support,
         |    coalesce(predicted, 0) AS predicted,
         |    coalesce(tp, 0) AS tp
         |  FROM sup FULL OUTER JOIN prd USING (cls)
         |  LEFT JOIN diag USING (cls))
         |SELECT cls, support, predicted, tp,
         |  CASE WHEN predicted = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(tp AS DOUBLE)
         |      / CAST(predicted AS DOUBLE) AS DECIMAL(20,10)), 4)
         |      AS DOUBLE) END AS "precision",
         |  CASE WHEN support = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(tp AS DOUBLE)
         |      / CAST(support AS DOUBLE) AS DECIMAL(20,10)), 4)
         |      AS DOUBLE) END AS recall,
         |  CAST(round(CAST(CAST(tp * 2 AS DOUBLE)
         |    / CAST(predicted + support AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS f1
         |FROM j""".stripMargin,
    // The lexical leg IS q144's statement at k=50; the semantic leg is
    // q31's brute ranking for query 0; fusion sums exact
    // round(1e9/(60+rank)) integers, full-outer so single-leg docs
    // score too.
    "q154_rrf_fusion" ->
      s"""WITH lex AS (SELECT doc_id AS id, "rank" AS rt
         |  FROM (${bm25OracleSql(50)})),
         |sem AS (SELECT neighbor_id AS id, rv FROM (
         |  SELECT c.vec_id AS neighbor_id,
         |    row_number() OVER (ORDER BY
         |      round(${cosSql("q.embedding", "c.embedding")}, 6) DESC,
         |      c.vec_id) AS rv
         |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         |  WHERE q.vec_id = 0)
         |  WHERE rv <= 50),
         |f AS (SELECT coalesce(l.id, s.id) AS doc_id, l.rt, s.rv,
         |    (coalesce(CAST(round(1e9 / (60 + l.rt)) AS BIGINT), 0)
         |     + coalesce(CAST(round(1e9 / (60 + s.rv)) AS BIGINT), 0))
         |      AS sfp
         |  FROM lex l FULL JOIN sem s ON l.id = s.id)
         |SELECT doc_id, rt, rv,
         |  CAST(round(CAST(CAST(sfp AS DOUBLE) / 1e9
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS rrf
         |FROM f ORDER BY sfp DESC, doc_id LIMIT 20""".stripMargin,
    // q94's vocabulary CTE; OOV = token missing from it; same decimal
    // snap on the rate.
    "q103_oov_rate" ->
      s"""WITH it AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
         |c AS (SELECT tok AS item, count(*) AS cnt FROM it GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
         |vocab AS (SELECT item FROM c CROSS JOIN tot WHERE cnt * 50 >= n)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.item IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(round(CAST(CAST(sum(CASE WHEN v.item IS NULL THEN 1 ELSE 0
         |      END) AS DOUBLE) / count(*) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS oov_rate
         |FROM it LEFT JOIN vocab v ON it.tok = v.item
         |GROUP BY 1""".stripMargin,
    // Same fixed-order double chain: each count divided by its own
    // total first, then ln, then the decimal snap.
    "q100_bigram_pmi" ->
      s"""WITH tk AS (SELECT $tokSql AS tk FROM documents),
         |bi AS (SELECT tk[i] AS a, tk[i + 1] AS b
         |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM tk)),
         |uni AS (SELECT unnest(tk) AS tok FROM tk),
         |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_uni
         |  FROM uni GROUP BY 1),
         |nu AS (SELECT CAST(sum(n_uni) AS BIGINT) AS n_u FROM u),
         |p AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM bi GROUP BY 1, 2),
         |nb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_b_tot FROM p)
         |SELECT a, b, n_ab,
         |  CAST(round(CAST(ln((CAST(n_ab AS DOUBLE) / n_b_tot)
         |    / ((CAST(ua.n_uni AS DOUBLE) / n_u)
         |      * (CAST(ub.n_uni AS DOUBLE) / n_u))) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS pmi
         |FROM p JOIN u ua ON p.a = ua.tok JOIN u ub ON p.b = ub.tok
         |CROSS JOIN nu CROSS JOIN nb
         |WHERE n_ab >= 10""".stripMargin,
    "q38_bpe_tokens" ->
      s"""SELECT lang,
         |  CAST(sum(nb) AS BIGINT) AS total_bpe,
         |  CAST(sum(nw) AS BIGINT) AS total_words,
         |  round(avg(nb), 2) AS avg_bpe
         |FROM (SELECT lang,
         |        len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS nb,
         |        len($tokSql) AS nw
         |      FROM documents)
         |GROUP BY lang""".stripMargin,
    "q49_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |s AS (SELECT doc_id, tf.term,
         |        CAST(round(CAST(tf * ln(n_docs * 1.0 / df) AS DECIMAL(20,10)), 4)
         |          AS DOUBLE) AS tfidf
         |      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
         |SELECT doc_id, term, tfidf, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS rnk FROM s)
         |WHERE rnk <= 5""".stripMargin
  )
}
