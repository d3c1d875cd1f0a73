package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Query surface + DuckDB oracles: the exact-substring tier (suffix array build/LCP/decontaminate/excise).
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesExactSub {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text/dedup: WINNOWING fingerprint overlap (Schleimer et al.,
    // SIGMOD 2003 — the MOSS kernel): per doc the rightmost-min hash
    // of every 4-window over positional 4-gram hashes, then the
    // top-20 doc pairs by shared selected hashes. The sketch stores
    // ~2/(w+1) of the gram stream yet GUARANTEES any shared run of
    // ≥ w+k−1 tokens collides — the span-level near-dup audit a
    // 100 TB corpus runs without ever joining full shingle sets.
    // Ubiquitous fingerprints (df > 16) are dropped before pairing —
    // the same df guard every MOSS deployment applies to boilerplate.
    "q221_winnowing" -> ((s, dir) => {
      val fps = Text.winnowingFingerprints(t(s, dir, "documents"),
          col("doc_id"), col("text"), 4, 4)
        .select(col("id"), col("h")).distinct()
      val nf = fps.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
      val kept = fps.join(
        fps.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
          .filter(col("dfh") <= 16).select(col("h")), "h")
      val pairs = kept.as("a")
        .join(kept.as("b"), col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(nf.select(col("id").as("doc_a"), col("nfp").as("nfp_a")), "doc_a")
        .join(nf.select(col("id").as("doc_b"), col("nfp").as("nfp_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("nfp_a"), col("nfp_b"),
          round((col("n_shared").cast("double") /
            least(col("nfp_a"), col("nfp_b")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("containment"))
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),
    // Dedup/exact: distributed token SUFFIX ARRAY (prefix doubling,
    // Manber–Myers; the Lee et al. 2022 exact-substring-dedup kernel)
    // — gated on a 1/4 doc slice. Per-doc rank aggregates verify the
    // COMPLETE array through exact integer sums: any single rank
    // off-by-one shifts its doc's sum. Round count is ⌈log₂ max doc
    // slots⌉ (sentinel-uniqueness bound), not log₂ corpus — the scale
    // contract that keeps the shuffle-round count flat at 100 TB.
    "q356_suffix_array" -> ((s, dir) => withShufflePartitions(s, 8) {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      val c = SuffixArray.corpus(docs, col("doc_id"), col("text"))
      SuffixArray.build(c).finalFrame().filter(!col("sent"))
        .select(col("doc_id"), (col("rank") - c.numDocs).as("r"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("r")).as("sum_rank"),
          min(col("r")).as("min_rank"), max(col("r")).as("max_rank"))
    }),
    // Dedup/exact: SA-adjacent LCP — every repeated token run ≥ 8
    // PROVEN with its exact length and both locations (winnowing
    // q221 only bounds these probabilistically), top-40 by length.
    // LCP via rank-table descent: O(log maxDoc) join rounds over the
    // N−1 adjacent pairs, never a quadratic compare.
    "q357_repeated_spans" -> ((s, dir) => withShufflePartitions(s, 8) {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val c = SuffixArray.corpus(docs, col("doc_id"), col("text"))
      val b = SuffixArray.build(c)
      // materialize the descent INSIDE the partition scope (the gate
      // queries' deferred action would otherwise run it at the
      // session's 32)
      val (pairs, descent) = SuffixArray.adjacentLcp(b, c.numDocs)
      val lcps = pairs.filter(col("lcp") >= 8).localCheckpoint(true)
      // the result reads the checkpointed pairs, never the build
      b.unpersistAll()
      descent.foreach(Frames.release)
      val tk = docs.select(col("doc_id").as("doc_a"),
        Text.tokens(col("text")).as("tk"))
      lcps.join(tk, "doc_a")
        .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
          col("lcp"), concat_ws(" ", slice(col("tk"),
            (col("pos_a") + 1).cast("int"), col("lcp").cast("int")))
            .as("span_text"))
        .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"),
          col("doc_b"))
        .limit(40)
    }),
    // Dedup/exact: Lee et al.'s DEDUP-MASS statistic — per doc, how
    // many positions start a repeated run ≥ 8 (longest match anywhere
    // else in the corpus ≥ 8 ⟺ the position's 8-window repeats) and
    // the token coverage of the UNION of those runs (= the union of
    // the repeated 8-windows): the number that decides how aggressive
    // span-level dedup should be before anyone deletes a byte. Three
    // doubling rounds, no complete order, no LCP; interval union per
    // doc, never global.
    "q358_dup_span_coverage" -> ((s, dir) => withShufflePartitions(s, 8) {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      val c = SuffixArray.corpus(docs, col("doc_id"), col("text"))
      val spans = SuffixArray.repeatedWindows(c, 8L)
        .select(col("doc_id"), col("pos"), lit(8L).as("l"))
      val nTok = docs.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      SuffixArray.dupSpanCoverage(spans, nTok)
    }),
    // Dedup/exact: REPEATED n-GRAM FAMILIES — the "most duplicated
    // substrings" census. The window-8 count-below rank IS the 8-gram
    // equivalence class, so grouping the repeated windows by rank
    // gives each gram's exact corpus occurrence count — off three
    // doubling rounds, never an n-gram explosion. Any member slices
    // the same gram text. The ORACLE counts grams brute-force: two
    // unrelated algorithms must emit identical rows.
    "q359_repeat_families" -> ((s, dir) => withShufflePartitions(s, 8) {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      val c = SuffixArray.corpus(docs, col("doc_id"), col("text"))
      val fams = SuffixArray.repeatedWindows(c, 8L)
        .groupBy(col("rank"))
        .agg(count(lit(1)).as("occurrences"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(struct(col("doc_id"), col("pos"))).as("rep"))
      val tk = docs.select(col("doc_id").as("rep_doc"),
        Text.tokens(col("text")).as("tk"))
      fams.join(tk, col("rep.doc_id") === col("rep_doc"))
        .select(concat_ws(" ", slice(col("tk"),
          (col("rep.pos") + 1).cast("int"), lit(8))).as("gram"),
          col("occurrences"), col("n_docs"))
        .orderBy(col("occurrences").desc, col("gram"))
        .limit(30)
    }),
    // Dedup/exact: EXACT-SPAN DECONTAMINATION of an eval split
    // against a train split (the 13-gram-style screen frontier labs
    // run, with exact maximal span lengths instead of a fixed-L hash
    // hit). Full corpus, leakage-safe parity split.
    //
    // r16 restructure (verdict task 4; oracle unchanged and green):
    // the screen now builds the TRAIN-ONLY index to window 8 and
    // rank-descends the EVAL half against its in-memory probe faces
    // (q373's increment machinery, minus the snapshot round-trip) —
    // diagonal chaining gives the exact full-rebuild cross-match value for
    // every match ≥ 8, and the query only consumes matches ≥ 8 (the
    // filter and the contaminated_starts predicate), so the output is
    // provably identical to the former full-corpus build(+full
    // doubling ceiling)+adjacentLcp+segmented-scan pipeline at a
    // fraction of the rounds: 3 doubling rounds over half the corpus
    // vs ~7 over all of it plus the LCP descent. The q373/q380 oracle
    // (full DuckDB SA rebuild) pins the chain≡rebuild equality; q360's
    // own oracle re-pins it on this split.
    "q360_decontaminate" -> ((s, dir) => withShufflePartitions(s, 8) {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val ev = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
      val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
      val b = SuffixArray.buildTo(c, 8L)
      val m = SuffixArray.decontaminateIncrement(
        SuffixArray.probeFaces(c, b, 8L), ev,
        materializeLevels = true).localCheckpoint(true)
      val nTok = ev.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      m.groupBy(col("doc_id"))
        .agg(max(col("train_match")).as("longest_train_match"),
          sum(when(col("train_match") >= 8, lit(1L)).otherwise(lit(0L)))
            .as("contaminated_starts"))
        .join(nTok, "doc_id")
        .filter(col("longest_train_match") >= 8)
        .select(col("doc_id"), col("n_tokens"),
          col("longest_train_match"), col("contaminated_starts"))
        .orderBy(col("longest_train_match").desc, col("doc_id"))
        .limit(50)
    }),
    // Text/filtering: BLOCKLIST PHRASE SPANS — multi-token phrase
    // matching against a broadcast blocklist (the profanity/banned-
    // content screen): grams of each blocklist length equi-join the
    // tiny phrase set, per (doc, phrase) hit counts + first position.
    // One gram explosion per phrase LENGTH (2 here), never per
    // phrase — a 10⁵-phrase list still costs two gram streams.
    "q367_blocklist_spans" -> ((s, dir) => {
      import s.implicits._
      val phrases = Seq("merge sort", "batch batch batch",
        "spark join stream")
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      val grams = phrases.map(_.split(" ").length).distinct.sorted
        .map { l =>
          toks.filter(size(col("tk")) >= l)
            .select(col("doc_id"), posexplode(
              transform(sequence(lit(1), size(col("tk")) - (l - 1)),
                i => concat_ws(" ", slice(col("tk"), i, lit(l)))))
              .as(Seq("p0", "gram")))
            .select(col("doc_id"), col("p0").cast("long").as("pos"),
              col("gram"))
        }.reduce(_ unionByName _)
      grams.join(broadcast(phrases.toDF("gram")), "gram")
        .groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
        .select(col("doc_id"), col("gram").as("phrase"), col("n_hits"),
          col("first_pos"))
    }),
    // Dedup/exact: duplicate-span EXCISION — the rewrite a dedup user
    // actually runs after the q357/q358 census: every token inside a
    // repeated 8-window (also occurring elsewhere in the corpus) is
    // cut; overlapping spans coalesce through the per-doc running-max
    // pass before any token is removed, and clean_fp pins the rewrite
    // BYTE-EXACTLY (the scrubBoilerplateLines convention). The same
    // cut pass as the incremental q480 stream, fed the repeated
    // windows instead of probe hits. The oracle recomputes removal
    // from brute-force 8-gram counts — two unrelated algorithms must
    // emit identical hashes.
    "q372_excise_spans" -> ((s, dir) => withShufflePartitions(s, 8) {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      val c = SuffixArray.corpus(docs, col("doc_id"), col("text"))
      val spans = SuffixArray.repeatedWindows(c, 8L)
        .select(col("doc_id"), col("pos"), lit(8L).as("l"))
      val toks = docs.select(col("doc_id"),
        Text.tokens(col("text")).as("tk"))
      SuffixArray.cutSpans(spans, toks)
    }),
    // Dedup/exact: INCREMENTAL decontamination — the q114/q119
    // increment contract at the exact-substring tier. The TRAIN
    // corpus's suffix-array probe faces (vocab + doubling maps + the
    // 8-window occurrence table) persist through Snapshot ONCE; a new
    // batch (planted near-copies of 1-in-10 train docs, the docsDup
    // convention) rank-descends its 8-grams against them (3 inner
    // joins; an absent pair proves the window never occurs in train)
    // and DIAGONAL-CHAINS the hits: consecutive positions hitting one
    // (train doc, alignment) diagonal are ONE contiguous match of
    // exactly run+8 tokens — the full-rebuild cross-match value
    // for every match ≥ 8, with NO rebuild and cost tracking the
    // increment, never the corpus. The oracle rebuilds the FULL
    // combined SA, so the gate IS that equality.
    "q373_decontaminate_increment" -> ((s, dir) =>
      withShufflePartitions(s, 8) {
        val train = t(s, dir, "documents")
          .filter(col("doc_id") % 6 === 0)
          .select(col("doc_id"), col("text"))
        val inc = train.filter(col("doc_id") % 60 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            concat(col("text"), lit(" zz9 qq8")).as("text"))
        val idx = gateTempDir("q373") + "/sa_index"
        val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
        val b = SuffixArray.buildTo(c, 8L)
        SuffixArray.persistProbeIndex(c, b, idx, 8L)
        val index = SuffixArray.loadProbeIndex(s, idx, 8L)
        val m = SuffixArray.decontaminateIncrement(index, inc)
          .localCheckpoint(true)
        index.unpersistAll()
        val nTok = inc.select(col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"))
        m.groupBy(col("doc_id"))
          .agg(max(col("train_match")).as("longest_train_match"),
            sum(when(col("train_match") >= 8, lit(1L)).otherwise(lit(0L)))
              .as("contaminated_starts"))
          .join(nTok, "doc_id")
          .filter(col("longest_train_match") >= 8)
          .select(col("doc_id"), col("n_tokens"),
            col("longest_train_match"), col("contaminated_starts"))
          .orderBy(col("longest_train_match").desc, col("doc_id"))
          .limit(50)
      }),
    // Text/dedup: WINNOWING SPAN ALIGNMENT — q221 finds WHICH pairs
    // overlap; this finds WHERE: matched fingerprint positions vote
    // on the positional offset pos_a − pos_b, and the modal offset
    // with its support is the alignment a span-level dedup/quote
    // detector acts on (a high aligned_share means one contiguous
    // lifted span, a flat vote means scattered boilerplate). Same
    // df ≤ 16 guard; only the top-10 pairs (≥ 3 shared) align.
    "q240_winnow_align" -> ((s, dir) => {
      val fps = Text.winnowingFingerprints(t(s, dir, "documents"),
        col("doc_id"), col("text"), 4, 4)
      val fph = fps.select(col("id"), col("h")).distinct()
      val hOk = fph.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
        .filter(col("dfh") <= 16).select(col("h"))
      val kept = fph.join(hOk, "h")
      val pairs = kept.as("a")
        .join(kept.as("b"), col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(10)
      val fpsOk = fps.join(hOk, "h")
      val votes = broadcast(pairs)
        .join(fpsOk.as("x"), col("x.id") === col("doc_a"))
        .join(fpsOk.as("y"), col("y.id") === col("doc_b") &&
          col("x.h") === col("y.h"))
        .groupBy(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("x.fpos") - col("y.fpos")).as("d"))
        .agg(count(lit(1)).as("nv"))
      votes
        .withColumn("n_matches", sum(col("nv")).over(
          Window.partitionBy(col("doc_a"), col("doc_b"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_a"), col("doc_b"))
            .orderBy(col("nv").desc, col("d"))))
        .filter(col("rn") === 1)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("n_matches"), col("d").as("offset_mode"),
          col("nv").as("offset_support"),
          round((col("nv").cast("double") /
            col("n_matches").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("aligned_share"))
    }),
    // Text/safety: BLOCKLIST GATE — per-doc occurrence and distinct-term
    // counts against a broadcast-literal blocklist, flag at ≥ 2
    // occurrences: the safety-filtering pass of a training pipeline as
    // one codegen'd scan projection, zero shuffle.
    "q162_blocklist_gate" -> ((s, dir) => {
      val bl = array(lit("the"), lit("of"), lit("and"))
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(filter(col("tk"), t => array_contains(bl, t)))
            .as("n_occurrences"),
          size(array_intersect(array_distinct(col("tk")), bl))
            .as("n_terms"))
        .withColumn("blocked", col("n_occurrences") >= 2)
    }),
    // Dedup: exact duplicate-span (substring-level) detection — the
    // Lee-et-al boilerplate scrub over the planted-dup corpus; 8-token
    // non-overlapping spans, corpus frequency ≥2 flags a span.
    "q93_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(docsDup(s, dir), "doc_id", col("text"), 8)
        .withColumnRenamed("id", "doc_id"))
  )

  val oracleSql: Map[String, String] = Map(

    // Same positional 4-gram hashes, full-window starts (short docs
    // degrade to one global window at pos 0), rightmost-min via
    // (h asc, pos desc) row_number, df ≤ 16 guard, same top-20 cut.
    "q221_winnowing" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |gr AS (SELECT doc_id, r['p'] AS pos,
         |    ${h60("r['g']")} AS h FROM (
         |  SELECT doc_id, unnest([{'p': i,
         |      'g': array_to_string(tk[i+1:i+4], ' ')}
         |      for i in range(0, len(tk) - 3)]) AS r FROM tk)),
         |n AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY 1),
         |st AS (SELECT gr.doc_id, gr.pos AS ws
         |  FROM gr JOIN n USING (doc_id)
         |  WHERE gr.pos <= n.n - 4 OR (n.n < 4 AND gr.pos = 0)),
         |sel AS (SELECT doc_id, h FROM (
         |  SELECT st.doc_id, g2.h,
         |    row_number() OVER (PARTITION BY st.doc_id, st.ws
         |      ORDER BY g2.h ASC, g2.pos DESC) AS rn
         |  FROM st JOIN gr g2 ON g2.doc_id = st.doc_id
         |    AND g2.pos BETWEEN st.ws AND st.ws + 3)
         |  WHERE rn = 1),
         |fp AS (SELECT DISTINCT doc_id, h FROM sel),
         |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
         |  FROM fp GROUP BY 1),
         |dfh AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 16),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM fp a JOIN dfh USING (h) JOIN fp b USING (h)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared, na.nfp AS nfp_a,
         |  nb.nfp AS nfp_b,
         |  CAST(round(CAST(CAST(n_shared AS DOUBLE)
         |    / CAST(least(na.nfp, nb.nfp) AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS containment
         |FROM pr JOIN nf na ON na.doc_id = pr.doc_a
         |JOIN nf nb ON nb.doc_id = pr.doc_b
         |ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // The SA replayed as a sort of chr(1)-joined doc-local suffix
    // strings (sentinel semantics — see saCteSql), same slice, same
    // per-doc exact rank sums.
    "q356_suffix_array" ->
      s"""WITH ${saCteSql("doc_id % 4 = 0")}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(r) AS BIGINT) AS sum_rank,
         |  CAST(min(r) AS BIGINT) AS min_rank,
         |  CAST(max(r) AS BIGINT) AS max_rank
         |FROM sa GROUP BY 1""".stripMargin,
    // Adjacent-pair LCP via the exploded first-mismatch, same ≥ 8
    // floor, same (lcp desc, doc_a, pos_a, doc_b) top-40 cut, span
    // text sliced from the left doc's tokens.
    "q357_repeated_spans" ->
      s"""WITH ${saCteSql("doc_id % 2 = 0")}
         |SELECT lc.doc_a, lc.pos_a, lc.doc_b, lc.pos_b, lc.lcp,
         |  array_to_string(list_slice(tk.tk, lc.pos_a + 1,
         |    lc.pos_a + lc.lcp), ' ') AS span_text
         |FROM lc JOIN tk ON tk.doc_id = lc.doc_a
         |WHERE lc.lcp >= 8
         |ORDER BY lc.lcp DESC, lc.doc_a, lc.pos_a, lc.doc_b
         |LIMIT 40""".stripMargin,
    // INDEPENDENT verification: the engine reads repeated 8-windows off
    // the window-8 ranks; the oracle replays the LCP definition (per
    // position the max of the two SA-neighbor LCPs, spans ≥ 8) and the
    // same per-doc interval union via the running max of previous span
    // ends.
    "q358_dup_span_coverage" ->
      s"""WITH ${saCteSql("doc_id % 3 = 0")},
         |sp0 AS (SELECT doc_a AS doc_id, pos_a AS pos, lcp
         |    FROM lc WHERE lcp >= 8
         |  UNION ALL SELECT doc_b, pos_b, lcp FROM lc WHERE lcp >= 8),
         |sp AS (SELECT doc_id, pos, max(lcp) AS l
         |  FROM sp0 GROUP BY 1, 2),
         |cv AS (SELECT doc_id, pos, l,
         |    max(pos + l) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prev_end FROM sp),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_starts,
         |    CAST(sum(greatest(0, pos + l
         |      - greatest(coalesce(prev_end, pos), pos))) AS BIGINT)
         |      AS covered_tokens
         |  FROM cv GROUP BY 1)
         |SELECT tk.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(ag.dup_starts, 0) AS BIGINT) AS dup_starts,
         |  CAST(coalesce(ag.covered_tokens, 0) AS BIGINT)
         |    AS covered_tokens,
         |  CASE WHEN len(tk.tk) = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(coalesce(ag.covered_tokens, 0)
         |      AS DOUBLE) / CAST(len(tk.tk) AS DOUBLE)
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS covered_ratio
         |FROM tk LEFT JOIN ag ON ag.doc_id = tk.doc_id""".stripMargin,
    // INDEPENDENT verification: the engine groups repeated windows by
    // their window-8 rank; the oracle brute-counts every 8-gram —
    // identical rows only if the ranks are right everywhere.
    "q359_repeat_families" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk
         |  FROM documents WHERE doc_id % 3 = 0),
         |g AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gram
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
         |    FROM tk))
         |SELECT gram, CAST(count(*) AS BIGINT) AS occurrences,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM g GROUP BY 1 HAVING count(*) >= 2
         |ORDER BY occurrences DESC, gram LIMIT 30""".stripMargin,
    // Nearest-train-neighbor replay: prev/next train suffix by SA
    // order (aggregate-as-window max/min skips the eval rows), direct
    // LCP against those two via the exploded first-mismatch, same
    // per-doc rollup and ≥ 8 floor.
    "q360_decontaminate" ->
      s"""WITH ${saCteSql("1 = 1")},
         |${saCrossMatchCtes("doc_id % 2 = 0")}
         |SELECT ag.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tokens,
         |  ag.longest_train_match, ag.contaminated_starts
         |FROM ag JOIN tk ON tk.doc_id = ag.doc_id
         |WHERE ag.longest_train_match >= 8
         |ORDER BY ag.longest_train_match DESC, ag.doc_id
         |LIMIT 50""".stripMargin,
    // Same per-length gram streams (q221's 0-based struct
    // comprehension), VALUES blocklist, same per-(doc, phrase)
    // rollup.
    "q367_blocklist_spans" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |g AS (SELECT doc_id, r['p'] AS pos, r['g'] AS gram FROM (
         |    SELECT doc_id, unnest([{'p': i,
         |        'g': array_to_string(tk[i+1:i+2], ' ')}
         |        for i in range(0, len(tk) - 1)]) AS r FROM tk)
         |  UNION ALL SELECT doc_id, r['p'], r['g'] FROM (
         |    SELECT doc_id, unnest([{'p': i,
         |        'g': array_to_string(tk[i+1:i+3], ' ')}
         |        for i in range(0, len(tk) - 2)]) AS r FROM tk)),
         |bl(phrase) AS (VALUES ('merge sort'), ('batch batch batch'),
         |  ('spark join stream'))
         |SELECT doc_id, bl.phrase, CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(min(pos) AS BIGINT) AS first_pos
         |FROM g JOIN bl ON g.gram = bl.phrase GROUP BY 1, 2""".stripMargin,
    // INDEPENDENT verification of the rewrite: the engine cuts the
    // interval union of the repeated windows its window-8 ranks find;
    // the oracle removes every token inside some duplicated 8-gram
    // (brute string counts) and re-hashes the kept tokens in order —
    // identical clean_fp only if the ranks are right everywhere (see
    // SuffixArray.repeatedWindows and SuffixArray.cutSpans).
    "q372_excise_spans" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk
         |  FROM documents WHERE doc_id % 3 = 0),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS s,
         |    array_to_string(tk[i:i+7], ' ') AS gram
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
         |    FROM tk)),
         |dupg AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT g.doc_id, g.s + CAST(o.o AS BIGINT) AS p
         |  FROM g JOIN dupg USING (gram),
         |    (SELECT unnest(range(0, 8)) AS o) o),
         |et AS (SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT)
         |    AS p, unnest(tk) AS tok FROM tk),
         |kept AS (SELECT et.doc_id, et.p, et.tok FROM et
         |  LEFT JOIN cov ON cov.doc_id = et.doc_id AND cov.p = et.p
         |  WHERE cov.p IS NULL),
         |fp AS (SELECT doc_id,
         |    md5(coalesce(string_agg(tok, ' ' ORDER BY p), ''))
         |      AS clean_fp
         |  FROM kept GROUP BY 1),
         |rm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
         |  FROM cov GROUP BY 1)
         |SELECT tk.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tokens,
         |  coalesce(rm.n_removed, 0) AS n_removed,
         |  coalesce(fp.clean_fp, md5('')) AS clean_fp
         |FROM tk LEFT JOIN rm ON rm.doc_id = tk.doc_id
         |LEFT JOIN fp ON fp.doc_id = tk.doc_id""".stripMargin,
    // The q360 nearest-train-neighbor replay over train ∪ increment:
    // the oracle knows nothing about the index/probe split — it
    // rebuilds the FULL combined suffix array, so the gate is exactly
    // the claim "increment-probe ≡ full rebuild at the ≥ 8 threshold".
    "q373_decontaminate_increment" ->
      s"""WITH ${saCteSqlFrom(
             """SELECT doc_id, text FROM documents WHERE doc_id % 6 = 0
               |    UNION ALL SELECT doc_id + 1000000000 AS doc_id,
               |      text || ' zz9 qq8' AS text
               |    FROM documents WHERE doc_id % 60 = 0""".stripMargin)},
         |${saCrossMatchCtes("doc_id < 1000000000")}
         |SELECT ag.doc_id, CAST(len(tk.tk) AS BIGINT) AS n_tokens,
         |  ag.longest_train_match, ag.contaminated_starts
         |FROM ag JOIN tk ON tk.doc_id = ag.doc_id
         |WHERE ag.longest_train_match >= 8
         |ORDER BY ag.longest_train_match DESC, ag.doc_id
         |LIMIT 50""".stripMargin,
    // q221's winnowing chain with the selected POSITION kept, the
    // same df guard and pair cut, then the (nv desc, d) modal vote.
    "q240_winnow_align" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |gr AS (SELECT doc_id, r['p'] AS pos,
         |    ${h60("r['g']")} AS h FROM (
         |  SELECT doc_id, unnest([{'p': i,
         |      'g': array_to_string(tk[i+1:i+4], ' ')}
         |      for i in range(0, len(tk) - 3)]) AS r FROM tk)),
         |n AS (SELECT doc_id, count(*) AS n FROM gr GROUP BY 1),
         |st AS (SELECT gr.doc_id, gr.pos AS ws
         |  FROM gr JOIN n USING (doc_id)
         |  WHERE gr.pos <= n.n - 4 OR (n.n < 4 AND gr.pos = 0)),
         |sel AS (SELECT doc_id, h, pos FROM (
         |  SELECT st.doc_id, g2.h, g2.pos,
         |    row_number() OVER (PARTITION BY st.doc_id, st.ws
         |      ORDER BY g2.h ASC, g2.pos DESC) AS rn
         |  FROM st JOIN gr g2 ON g2.doc_id = st.doc_id
         |    AND g2.pos BETWEEN st.ws AND st.ws + 3)
         |  WHERE rn = 1),
         |fpp AS (SELECT DISTINCT doc_id, h, pos FROM sel),
         |fp AS (SELECT DISTINCT doc_id, h FROM fpp),
         |hok AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 16),
         |pr AS (SELECT doc_a, doc_b, n_shared FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM fp a JOIN hok USING (h) JOIN fp b USING (h)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |  WHERE n_shared >= 3
         |  ORDER BY n_shared DESC, doc_a, doc_b LIMIT 10),
         |vt AS (SELECT pr.doc_a, pr.doc_b, pr.n_shared,
         |    x.pos - y.pos AS d, CAST(count(*) AS BIGINT) AS nv
         |  FROM pr
         |  JOIN (SELECT fpp.* FROM fpp JOIN hok USING (h)) x
         |    ON x.doc_id = pr.doc_a
         |  JOIN (SELECT fpp.* FROM fpp JOIN hok USING (h)) y
         |    ON y.doc_id = pr.doc_b AND y.h = x.h
         |  GROUP BY 1, 2, 3, 4),
         |mx AS (SELECT doc_a, doc_b, n_shared, d, nv,
         |    CAST(sum(nv) OVER (PARTITION BY doc_a, doc_b) AS BIGINT)
         |      AS n_matches,
         |    row_number() OVER (PARTITION BY doc_a, doc_b
         |      ORDER BY nv DESC, d) AS rn
         |  FROM vt)
         |SELECT doc_a, doc_b, n_shared, n_matches,
         |  CAST(d AS INT) AS offset_mode, nv AS offset_support,
         |  CAST(round(CAST(CAST(nv AS DOUBLE)
         |    / CAST(n_matches AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS aligned_share
         |FROM mx WHERE rn = 1""".stripMargin,
    // Same literal blocklist, same occurrence/distinct-term split.
    "q162_blocklist_gate" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(tk,
         |    t -> t IN ('the', 'of', 'and'))) AS INT) AS n_occurrences,
         |  CAST(len(list_filter(list_distinct(tk),
         |    t -> t IN ('the', 'of', 'and'))) AS INT) AS n_terms,
         |  len(list_filter(tk, t -> t IN ('the', 'of', 'and'))) >= 2
         |    AS blocked
         |FROM tk""".stripMargin,
    // q74's chunk windows at stride=size=8 over the planted-dup
    // corpus; a span is duplicated iff its fingerprint count ≥ 2.
    "q93_dup_spans" ->
      s"""WITH d AS ($docsDupSql),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM d),
         |st AS (SELECT doc_id, tk,
         |    unnest(range(1, len(tk) + 1, 8)) AS start FROM tk),
         |ch AS (SELECT doc_id,
         |    md5(array_to_string(tk[start : start + 7], ' ')) AS fp
         |  FROM st),
         |fr AS (SELECT fp, count(*) AS fp_n FROM ch GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN fp_n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_spans,
         |  CAST(round(CAST(CAST(sum(CASE WHEN fp_n >= 2 THEN 1 ELSE 0 END)
         |      AS DOUBLE) / count(*) AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS dup_ratio
         |FROM ch JOIN fr USING (fp) GROUP BY 1""".stripMargin
  )
}
