package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.{dec, fdiv}

/** Query surface + DuckDB oracles: dedup + record linkage (exact/MinHash/SimHash/LSH/ER/URL).
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesDedupLinkage {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Dedup/eval hygiene: benchmark-contamination check — every 10th
    // doc poses as the eval set; per corpus doc, how many of its
    // distinct 3-gram shingles the benchmark contains (broadcast
    // benchmark shingle set, no corpus-sized shuffle).
    "q70_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
      Dedup.contaminationOverlap(docs, "doc_id", "hs",
        docs.filter(col("doc_id") % 10 === 0), "hs")
        .withColumnRenamed("id", "doc_id")
    }),
    // Web: URL-level dedup — canonicalize crawl URLs (scheme/www/port/
    // fragment/tracking-param/param-order/trailing-slash noise all
    // collapse) and keep ONE doc per canonical URL, longest-first. The
    // entire canonicalization is codegen'd string expressions in the
    // scan pass; the only shuffle is the hash-aggregate on the
    // canonical key — the shuffle the dedup needs anyway at 100 TB.
    "q130_url_dedup" -> ((s, dir) => {
      val u = docUrls(s, dir)
      Web.dedupByCanonicalUrl(u, col("doc_id"), col("url"),
        -Text.tokenCount(col("text")))
    }),
    // Web: DOMAIN-level quality gate — per registered domain, doc count
    // and fixed-point mean quality score, flagging domains whose mean
    // sits below 0.5 (the spam-domain drop list a crawl pipeline
    // anti-joins against). ONE aggregate on the domain key; the flag
    // compares exact integers scaled by the count, no float division.
    "q131_domain_quality" -> ((s, dir) => {
      val u = docUrls(s, dir)
      Web.domainQualityGate(u, col("url"),
        Text.qualityScore(col("text")), 0.5)
    }),
    // Web: incremental crawl NOVELTY per domain — a new increment
    // (every 4th doc rehosted on an unseen domain; the rest re-crawled
    // URL noise over known content) anti-joined on the canonical key
    // against the existing corpus, the frontier-prioritization signal.
    "q133_url_novelty" -> ((s, dir) =>
      Web.urlNoveltyByDomain(docUrls(s, dir), incUrls(s, dir), col("url"))),
    // Dedup/leakage: CROSS-SOURCE span-contamination matrix — which
    // source pairs share verbatim 8-token spans: distinct (source, fp)
    // first, so the fp self-join is Σ_fp (#sources)² work; top-15
    // most-contaminated pairs.
    "q181_cross_contamination" -> ((s, dir) =>
      Dedup.crossSourceSpanMatrix(t(s, dir, "documents"), "doc_id",
          col("source"), col("text"), 8)
        .orderBy(col("n_shared_spans").desc, col("source_a"),
          col("source_b"))
        .limit(15)),
    // Dedup: CONTENT-DEFINED chunking stats — boundaries fall after
    // hash-selected tokens (mod 8), so chunk fingerprints survive
    // local insertions where fixed-stride spans re-align; corpus-level
    // cross-doc duplication mass.
    "q191_cdc_chunks" -> ((s, dir) =>
      Dedup.cdcChunkStats(t(s, dir, "documents"), "doc_id",
        col("text"), 8)),
    // Dedup/pipeline: the DEDUP CASCADE survivors report — how many
    // docs each successive deterministic dedup stage keeps (exact
    // fingerprint → template skeleton → canonical URL), each stage
    // keeping the min doc_id of its group: the shrinkage audit a
    // pipeline publishes with every corpus build.
    "q192_dedup_cascade" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      def keepMin(df: DataFrame, key: Column) =
        df.groupBy(key.as("__k"))
          .agg(min_by(struct(col("doc_id"), col("text"), col("source")),
            col("doc_id")).as("r"))
          .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
            col("r.source").as("source"))
      val s1 = keepMin(base, Text.fingerprint(col("text")))
      val s2 = keepMin(s1, md5(Dedup.templateSkeleton(col("text"))))
      val s3 = keepMin(s2,
        Web.canonicalizeUrl(crawlUrl(col("doc_id"), col("source"))))
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_surviving"))
          .select(lit(name).as("stage"), col("n_surviving"))
      stage("0_input", base).unionByName(stage("1_exact", s1))
        .unionByName(stage("2_template", s2))
        .unionByName(stage("3_url", s3))
        .orderBy(col("stage"))
    }),
    // Dedup: COUNT-PRESERVING dedup — canonical per cluster + the
    // cluster multiplicity as a weight column, so weighted token mass
    // equals the raw corpus total (exact-dup clusters; the invariant
    // the oracle recomputes from fingerprint groups) instead of
    // silently down-weighting popular content.
    "q200_dedup_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      // three consumers (fingerprint chain, weight count, payload
      // re-attach) re-derive the tripled corpus — cache it once (q67's
      // convention)
      val dup = d
        .unionByName(d.select((col("doc_id") + 1000000000).as("doc_id"),
          col("text"), col("lang")))
        .unionByName(d.select((col("doc_id") + 2000000000).as("doc_id"),
          col("text"), col("lang")))
        .persist()
      val fp = dup.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val edges = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      Dedup.dedupWithWeights(dup, "doc_id", edges)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("weight")).cast("long").as("n_represented"),
          sum(col("weight") * Text.tokenCount(col("text")))
            .cast("long").as("weighted_tokens"))
    }),
    // Text/ER: SORTED-NEIGHBORHOOD blocking — part names plus their
    // single-deletion variants rank once (two-level prefix ranking on
    // the name vocabulary), names within 8 positions pair, the banded
    // lev kernel verifies. The third blocking family next to
    // first-char (q85) and segments (q109); |vocab|·window candidates,
    // hot-block-proof by construction.
    "q205_sorted_neighborhood" -> ((s, dir) => {
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val len = length(col("p_name"))
      val k = (col("p_partkey") % len).cast("int")
      val names = parts.select(col("p_name").as("nm"))
        .unionByName(parts.select(
          concat(col("p_name").substr(lit(1), k),
            col("p_name").substr(k + 2, len)).as("nm")))
      Text.sortedNeighborhoodPairs(names, col("nm"), 8, 2)
    }),
    // ER blocking: PHONETIC (Soundex) blocks over the part-name
    // first words — the fourth blocking family (q205 is rank-window,
    // the fuzzy joins are char/segment blocks): per code the block
    // size, candidate pairs, and lev≤2 verified matches. The oracle
    // implements American Soundex INDEPENDENTLY in SQL (char-map
    // comprehension, per-digit run collapse — RE2 has no
    // backreferences — zero-drop, H/W bridge by empty mapping).
    "q494_phonetic_blocking" -> ((s, dir) =>
      Text.phoneticBlocking(
        t(s, dir, "part").select(
          upper(element_at(split(col("p_name"), " "), 1)).as("nm")),
        col("nm"), 2)),
    // Dedup/planning: MinHash-LSH PARAMETER PLANNER — every (b, r)
    // split of a 16-hash signature scored on an observed LABELED pair
    // sample (planted near-dups = true, shifted-neighbor pairs =
    // false): expected recall vs expected wasted-verify rate, the two
    // numbers a 100 TB banding choice trades. Pair sims are exact
    // |∩|/|∪| ratios via the native sorted-merge intersect.
    "q206_lsh_plan" -> ((s, dir) => {
      val d = docsDup(s, dir).select(col("doc_id").as("id"),
        Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
        .filter(size(col("hs")) > 0)
        .persist() // three consumers: base, planted probe, neighbor probe
      val base = d.filter(col("id") < 1000000000)
      val planted = d.filter(col("id") >= 1000000000)
        .select((col("id") - 1000000000).as("id"), col("hs").as("hs_b"))
      val neigh = base.select((col("id") - 1).as("id"),
        col("hs").as("hs_b"))
      val truePairs = base.join(planted, Seq("id"))
        .select(Dedup.jaccardHashed(col("hs"), col("hs_b")).as("s"),
          lit(true).as("tp"))
      val falsePairs = base.join(neigh, Seq("id"))
        .select(Dedup.jaccardHashed(col("hs"), col("hs_b")).as("s"),
          lit(false).as("tp"))
      Dedup.lshPlan(truePairs.unionByName(falsePairs), col("s"),
        col("tp"), 16)
    }),
    // ER: GOLDEN-RECORD fusion (survivorship) — after clustering, a
    // master record per cluster: modal attribute vote with the
    // (count desc, value asc) tie rule, max char count, min id as the
    // canonical key. The duplicated corpus plants attribute NOISE
    // (mirror copies relabel source, every 3rd/5th doc's lang flips)
    // so the vote genuinely fuses — including 3-way count ties on
    // doc_id % 15 docs. Clusters ride the exact-fingerprint partition
    // (≤ handful rows per fp window); the modal votes are per-cluster
    // row_number over the tiny (cluster, attr) count table.
    "q253_golden_record" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val c0 = d.select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      val c1 = d.select((col("doc_id") + 1000000000).as("doc_id"),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("yy")).otherwise(col("lang"))
          .as("lang"),
        lit("mirror").as("source"),
        (col("n_chars") + 2).as("n_chars"))
      val c2 = d.select((col("doc_id") + 2000000000).as("doc_id"),
        col("text"),
        when(col("doc_id") % 5 === 0, lit("xx")).otherwise(col("lang"))
          .as("lang"),
        col("source"), col("n_chars"))
      val cl = c0.unionByName(c1).unionByName(c2)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), Text.fingerprint(col("text")).as("fp"))
        .withColumn("cluster", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      def modal(attr: String): DataFrame =
        cl.groupBy(col("cluster"), col(attr))
          .agg(count(lit(1)).as("n"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("cluster").orderBy(col("n").desc, col(attr))))
          .filter(col("rn") === 1).select(col("cluster"), col(attr))
      cl.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          max(col("n_chars")).as("n_chars_max"))
        .join(modal("lang"), "cluster")
        .join(modal("source"), "cluster")
        .select(col("cluster"), col("n_members"), col("lang"),
          col("source"), col("n_chars_max"))
    }),
    // Text: UNICODE NORMALIZATION (native codegen'd expression; Spark
    // ships none) — the step exact dedup needs FIRST: composed é
    // (U+00E9) and decomposed e+U+0301 are different bytes with
    // identical rendering, so a mirror crawl in NFD never fingerprint-
    // matches its NFC twin until normalized. Plant an NFD twin per
    // doc: raw md5 groups match nothing, NFC-normalized groups pair
    // every doc with its twin; DuckDB's nfc_normalize is the oracle.
    "q377_unicode_nfc_dedup" -> ((s, dir) => {
      import graft.functions.NativeFunctions
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = base
        .select(col("doc_id"),
          concat(col("text"), lit(" caf\u00e9 na\u00efve")).as("text"))
        .unionByName(base.select(
          (col("doc_id") + 1000000000L).as("doc_id"),
          concat(col("text"), lit(" cafe\u0301 nai\u0308ve")).as("text")))
      val scored = all.select(col("doc_id"), col("text"),
        NativeFunctions.unicodeNorm(col("text"), "NFC").as("nfc"))
        .localCheckpoint(true)
      val rawG = scored.groupBy(md5(col("text"))).count()
        .filter(col("count") >= 2).count()
      val nfcG = scored.groupBy(md5(col("nfc"))).count()
        .filter(col("count") >= 2).count()
      scored.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("nfc") =!= col("text"), 1L).otherwise(0L))
          .as("docs_rewritten"))
        .select(col("n_docs"), col("docs_rewritten"),
          lit(rawG).as("raw_dup_groups"), lit(nfcG).as("nfc_dup_groups"))
    }),
    // Dedup: ONE-PERMUTATION HASHING with densification — k=32
    // signatures at one hash per element; slot-match estimate vs the
    // exact token-set Jaccard on planted every-9th-substituted pairs.
    "q456_oph_minhash" -> ((s, dir) => {
      import graft.ops.Dedup
      val elems = ophElems(s, dir)
      val sig = Dedup.ophDensifiedSignature(elems, col("id"),
        col("h"), 32)
      val matches = sig.filter(col("id") < 1000000L)
        .join(sig.filter(col("id") >= 1000000L)
          .select((col("id") - 1000000L).as("id"), col("slot"),
            col("sig").as("sigb")), Seq("id", "slot"))
        .groupBy(col("id"))
        .agg(sum(when(col("sig") === col("sigb"), 1L).otherwise(0L))
          .as("matches"))
      val ha = elems.filter(col("id") < 1000000L).distinct()
      val hb = elems.filter(col("id") >= 1000000L)
        .select((col("id") - 1000000L).as("id"), col("h")).distinct()
      val inter = ha.join(hb, Seq("id", "h"))
        .groupBy(col("id")).agg(count(lit(1)).as("ni"))
      val union = ha.unionByName(hb).distinct()
        .groupBy(col("id")).agg(count(lit(1)).as("nu"))
      matches.join(inter, Seq("id"), "left").join(union, Seq("id"))
        .na.fill(0L, Seq("ni"))
        .select(col("id"), col("matches"),
          fdiv(dec(col("matches")) * lit(1000000L), dec(lit(32L)))
            .as("est_micro"),
          fdiv(dec(col("ni")) * lit(1000000L), dec(col("nu")))
            .as("exact_micro"))
        .withColumn("err_micro",
          abs(col("est_micro") - col("exact_micro")))
    }),
    // Dedup: OPH BANDED CANDIDATES — the q456 signatures split into
    // 8 bands of 4; planted variants recovered through bucket joins,
    // never all-pairs.
    "q458_oph_bands" -> ((s, dir) => {
      import graft.ops.Dedup
      val sig = Dedup.ophDensifiedSignature(ophElems(s, dir),
        col("id"), col("h"), 32)
      val pairs = Dedup.ophCandidatePairs(sig, 32, 8)
      pairs.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(pairs
          .filter(col("id_b") === col("id_a") + 1000000L)
          .agg(count(lit(1)).as("n_planted_found"))))
        .crossJoin(broadcast(t(s, dir, "documents")
          .filter(col("doc_id") % 40 === 0)
          .agg(count(lit(1)).as("n_docs"))))
    }),
    // Web: MIRROR/DRIFT matrix — same canonical URL with different
    // content fingerprints (recrawl drift) and same fingerprint
    // across registered domains (mirrors), one summary row.
    "q436_mirror_matrix" -> ((s, dir) => {
      val u = docUrls(s, dir).select(col("doc_id"), col("url"),
        md5((col("doc_id") % 120).cast("string")).as("fp"))
      Web.mirrorMatrix(u, col("doc_id"), col("url"), col("fp"))
    }),
    // Dedup/linkage: FELLEGI–SUNTER match weights — m/u estimated
    // from labeled pairs (planted near-copies = matches, id-adjacent
    // docs = non-matches), per-field ln weights snapped per term,
    // pair scores exact integer sums banded match/possible/nonmatch.
    "q402_fellegi_sunter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), col("lang").as("la"),
        col("source").as("sa"), col("n_chars").as("ca"))
      val mp = a.select(col("id_a"),
        (col("id_a") + 1000000000L).as("id_b"), lit(true).as("y"),
        (col("la") === when(col("id_a") % 5 === 0, lit("xx"))
          .otherwise(col("la"))).as("ag_lang"),
        lit(true).as("ag_src"),
        (abs(lit(-8L)) <= 10).as("ag_len"))
      val b = d.select((col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b"), col("lang").as("lb"),
        col("source").as("sb"), col("n_chars").as("cb"))
      val np = a.join(b, Seq("id_a"))
        .select(col("id_a"), col("id_b"), lit(false).as("y"),
          (col("la") === col("lb")).as("ag_lang"),
          (col("sa") === col("sb")).as("ag_src"),
          (abs(col("ca") - col("cb")) <= 10).as("ag_len"))
      Dedup.fellegiSunter(mp.unionByName(np), col("id_a"), col("id_b"),
        col("y"), Seq("lang" -> col("ag_lang"), "src" -> col("ag_src"),
          "len" -> col("ag_len")), 3000000L, -1000000L)
    }),
    // Dedup/graph: DUP-GRAPH HEALTH — the read before any cluster
    // collapse ships: the component-SIZE distribution and the giant
    // component's corpus share. A giant component is the classic
    // over-aggressive-threshold symptom (one transitive blob swallows
    // the corpus and "keep one per cluster" deletes it); the oracle
    // recomputes components by recursive closure.
    "q394_dup_graph_health" -> ((s, dir) => withShufflePartitions(s, 8) {
      val dd0 = docsDup(s, dir)
        .filter((col("doc_id") % 1000000000) % 5 === 0)
      // a SECOND variant for 1-in-25 base docs: transitive size-3
      // components next to the pair floor — the distribution must
      // show real structure, not one size
      val dd = dd0.unionByName(dd0
        .filter(col("doc_id") < 1000000000L && col("doc_id") % 25 === 0)
        .select((col("doc_id") + 2000000000L).as("doc_id"),
          concat(col("text"), lit(" qq7 vv6")).as("text")))
      val hs = dd.select(col("doc_id").as("id"),
        Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
      val pairs = Dedup.jaccardPairsHashed(hs, "id", "hs", 0.5)
      val cl = Dedup.duplicateClusters(pairs)
      val n = dd.count()
      val sizes = cl.groupBy(col("component"))
        .agg(count(lit(1)).as("size")).localCheckpoint(true)
      val giant = sizes.agg(max(col("size"))).head().getLong(0)
      sizes.groupBy(col("size")).agg(count(lit(1)).as("n_components"))
        .select(col("size"), col("n_components"),
          lit(giant).as("giant_size"),
          lit(giant * 1000000L / n).as("giant_share_micro"))
    }),
    // Text/dedup: the full crawl CANONICALIZER — NFC + invisible
    // strip + whitespace collapse + lowercase, the chain that turns
    // two renders of one page (NFD, zero-width-injected, re-wrapped,
    // case-shifted) into ONE dedup key. Twins planted per doc differ
    // in all four ways; raw md5 pairs nothing, canonical md5 pairs
    // every twin. Per-stage rewrite counts localize which class of
    // mangling the corpus actually carries.
    "q384_canonical_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val all = base
        .select(col("doc_id"),
          concat(lit(" "), col("text"), lit(" Caf\u00e9 X")).as("text"))
        .unionByName(base.select(
          (col("doc_id") + 1000000000L).as("doc_id"),
          concat(lit(" \u200B"), col("text"),
            lit("  cafe\u0301  x")).as("text")))
      val st = all
        .select(col("doc_id"), col("text"),
          graft.functions.NativeFunctions.unicodeNorm(col("text"), "NFC")
            .as("s1"))
        .withColumn("s2", Text.stripInvisible(col("s1")))
        .withColumn("s3", Text.collapseWhitespace(col("s2")))
        .withColumn("canon", lower(col("s3")))
        .localCheckpoint(true)
      val groups = st.groupBy(md5(col("canon"))).count()
        .filter(col("count") >= 2).count()
      val rawGroups = st.groupBy(md5(col("text"))).count()
        .filter(col("count") >= 2).count()
      st.agg(count(lit(1)).as("n_docs"),
          sum(when(col("s1") =!= col("text"), 1L).otherwise(0L))
            .as("changed_nfc"),
          sum(when(col("s2") =!= col("s1"), 1L).otherwise(0L))
            .as("changed_invisible"),
          sum(when(col("s3") =!= col("s2"), 1L).otherwise(0L))
            .as("changed_ws"))
        .select(col("n_docs"), col("changed_nfc"),
          col("changed_invisible"), col("changed_ws"),
          lit(rawGroups).as("raw_dup_groups"),
          lit(groups).as("canonical_dup_groups"))
    }),
    // Text/provenance: WEIGHTED VOCAB CONTAINMENT — directional
    // C(A⊂B) = Σ_{t∈A∩B} idf_t / Σ_{t∈A} idf_t per source pair
    // (q168's Jaccard is symmetric and unweighted; containment says
    // who SUBSUMES whom, idf stops stopwords from faking overlap):
    // idf ×1e6-snapped per term so the masses are exact integer sums,
    // one (source, token) distinct + a vocab-keyed pair join.
    "q305_vocab_containment" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("source"), explode(array_distinct(
          Text.tokens(col("text")))).as("tok"))
        .distinct()
      val dfq = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(
          Text.tokens(col("text")))).as("tok"))
        .distinct()
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val w = dfq.crossJoin(broadcast(nd))
        .select(col("tok"),
          round(log(col("n_docs").cast("double") /
            col("df").cast("double")) * 1e6).cast("long").as("wm"))
      val sw = st.join(w, "tok")
      val tot = sw.groupBy(col("source")).agg(sum(col("wm")).as("tw"))
      val inter = sw.as("a").join(sw.as("b"),
          col("a.tok") === col("b.tok") &&
            col("a.source") =!= col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(sum(col("a.wm")).as("iw"))
      inter.join(tot.select(col("source").as("source_a"),
          col("tw").as("tw_a")), "source_a")
        .select(col("source_a"), col("source_b"),
          round((col("iw").cast("double") / col("tw_a").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double")
            .as("containment"))
        .orderBy(col("containment").desc, col("source_a"),
          col("source_b")).limit(30)
    }),
    // Curation/fairness: DEDUP BIAS audit — keep-lowest-id exact
    // dedup on the mirrored corpus (q293's), measured as each
    // source's share BEFORE vs AFTER: position-biased keep rules
    // silently starve late/mirrored sources (mirrors lose every
    // duel to their originals here — the worst case made visible).
    // One fingerprint min-aggregate + two share tables.
    "q298_dedup_bias" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val corpus = base
        .unionByName(base.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 3000000000L).as("doc_id"),
            lit("mirror1").as("source"), col("text")))
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 4000000000L).as("doc_id"),
            lit("mirror2").as("source"), col("text")))
        .select(col("doc_id"), col("source"),
          Text.fingerprint(col("text")).as("fp"))
      // the kept key gets its own name: `keep` derives from `corpus`,
      // so `keep("fp")` would resolve to corpus's own fp attribute and
      // turn the fingerprint half of the join into fp = fp
      val keep = corpus.groupBy(col("fp").as("keep_fp"))
        .agg(min(col("doc_id")).as("keep_id"))
      val before = corpus.groupBy(col("source"))
        .agg(count(lit(1)).as("n_before"))
      val after = corpus.join(keep,
          col("fp") === col("keep_fp") && col("doc_id") === col("keep_id"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_after"))
      val tots = before.agg(sum(col("n_before")).as("tb"))
        .crossJoin(after.agg(sum(col("n_after")).as("ta")))
      before.join(after, Seq("source"), "left")
        .na.fill(0L, Seq("n_after"))
        .crossJoin(broadcast(tots))
        .select(col("source"), col("n_before"), col("n_after"),
          round((col("n_before").cast("double") /
            col("tb").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("share_before"),
          round((col("n_after").cast("double") /
            col("ta").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("share_after"))
    }),
    // Dedup/provenance: CROSS-SOURCE DUPLICATION matrix — exact-
    // fingerprint duplicate pairs bucketed by (source_a, source_b):
    // WHO mirrors WHOM, the provenance read behind dedup priorities
    // (q181 asks it of spans; this of whole documents). Per-
    // fingerprint per-source counts keep the pair algebra n·(n−1)/2
    // on the tiny (fp, source) groups — the corpus never self-joins.
    "q293_dup_source_matrix" -> ((s, dir) => {
      // the crawl-mirror scenario: every 3rd doc re-hosted verbatim
      // on mirror1, every 7th on mirror2 (raw texts are unique, so
      // the cross-source structure is planted and known)
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val corpus = base.select(col("source"), col("text"))
        .unionByName(base.filter(col("doc_id") % 3 === 0)
          .select(lit("mirror1").as("source"), col("text")))
        .unionByName(base.filter(col("doc_id") % 7 === 0)
          .select(lit("mirror2").as("source"), col("text")))
      val fp = corpus
        .select(col("source"), Text.fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"), col("source"))
        .agg(count(lit(1)).as("c"))
      val within = fp.filter(col("c") > 1)
        .groupBy(col("source").as("source_a"))
        .agg(sum(dec(col("c")) * (col("c") - 1) / 2).cast("long")
          .as("n_pairs"))
        .select(col("source_a"), col("source_a").as("source_b"),
          col("n_pairs"))
      val across = fp.as("x").join(fp.as("y"),
          col("x.fp") === col("y.fp") &&
            col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("source_a"),
          col("y.source").as("source_b"))
        .agg(sum(dec(col("x.c")) * col("y.c")).cast("long")
          .as("n_pairs"))
      within.unionByName(across).filter(col("n_pairs") > 0)
    }),
    // ER: JARO-WINKLER name resolution — the prefix-boosted,
    // transposition-tolerant score record linkage prefers for NAMES
    // (Levenshtein over-penalizes swapped syllables, under-rewards
    // shared prefixes; q85 thresholds a distance, this RANKS in
    // [0, 1]). A native codegen'd Catalyst expression pinned to
    // DuckDB's jaro_winkler_similarity semantics (integer
    // transposition floor, > 0.7 boost gate); first-char + ±2 length
    // blocking keeps the verify join equi-shaped, ×1e6 micro snap,
    // ≥ 0.9 gate, best match by (score desc, ref asc).
    "q267_jaro_winkler" -> ((s, dir) => {
      val parts = t(s, dir, "part").select(col("p_partkey"),
        col("p_name"))
      val len = length(col("p_name"))
      val k = (col("p_partkey") % len).cast("int")
      // probes are the INCREMENT slice (every 10th part) — the ER
      // deployment shape: resolve new arrivals against the full
      // reference, not the corpus against itself (TPC-H color-word
      // names are so mutually similar that an all-vs-all jw >= 0.9
      // join yields ~7M pairs at sf0.1 — real work, wrong question)
      val probes = parts.filter(col("p_partkey") % 10 === 0)
        .select(
          (col("p_partkey") + 2000000000).as("probe_id"),
          concat(col("p_name").substr(lit(1), k),
            col("p_name").substr(k + 2, len)).as("pn"))
        .withColumn("sg", graft.functions.NativeFunctions
          .fuzzySig(col("pn")))
      val refs = parts.withColumn("sgr",
        graft.functions.NativeFunctions.fuzzySig(col("p_name")))
      // SOUND sig prefilter for the jw >= 0.9 gate: jw >= 0.9 forces
      // jaro >= 5/6 (the boost adds at most 0.4·(1−jaro)), hence
      // matches m >= 3·la·lb/(2(la+lb)) and multiset-character L1
      // <= la + lb − 2m =: X; the clamped signature L1 only shrinks
      // (sig_bound = ceil(L1c/2)), so 2·sig_bound − 1 <= L1c <= L1
      // <= X on every true positive — the filter is recall-complete
      // and kills the overwhelming share of blocked candidates before
      // the O(len·win) verifier runs (35 s → ~3 s at sf0.1).
      val la = length(col("pn"))
      val lbn = length(col("p_name"))
      val ceilM = {
        val tq = la * lbn * 3
        val bq = (la + lbn) * 2
        val tb = tq + bq - 1
        ((tb - pmod(tb, bq)) / bq).cast("int")
      }
      // EQUI-join on (first char, exact ref length) with the probe
      // exploded over its ±2 length band — the fuzzyJoin block shape:
      // a bare first-char key leaves ~26 giant blocks (one straggler
      // task per letter, measured 32 s); (char, length) keys spread
      // the same pair set across ~10³ balanced partitions.
      // spread first: the part scan is one small file → one input
      // partition, and a broadcast join would run the whole 41M-pair
      // verify in a single task (measured 28 s; 3.4 s spread)
      val probeX = probes
        .repartition(s.sessionState.conf.numShufflePartitions)
        .withColumn("bl",
          explode(sequence(length(col("pn")) - 2,
            length(col("pn")) + 2)))
      val cand = probeX.join(refs,
          substring(col("pn"), 1, 1) === substring(col("p_name"), 1, 1)
            && col("bl") === lbn
            && graft.functions.NativeFunctions
              .sigBound(col("sg"), col("sgr")) * 2 - 1 <=
              la + lbn - ceilM * 2)
        .withColumn("jw",
          round(graft.functions.NativeFunctions
            .jaroWinkler(col("pn"), col("p_name"))
            .cast("decimal(20,10)") * 1000000).cast("long"))
        .filter(col("jw") >= 900000)
      probes.select(col("probe_id"))
        .join(cand.groupBy(col("probe_id"))
          .agg(count(lit(1)).as("n_cand"),
            min(struct((lit(1000000L) - col("jw")).as("nj"),
              col("p_partkey").cast("long").as("r"))).as("bk")),
          Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(lit(1000000L) - col("bk.nj"), lit(-1L))
            .as("best_jw_micro"),
          coalesce(col("bk.r"), lit(-1L)).as("best_ref"))
    }),
    // Text/ER: BLOCKING-RECALL scorecard — the three blocking families
    // (PassJoin segments = recall-complete truth, first-char
    // equi-blocks, sorted-neighborhood window 8) run over ONE shared
    // distinct name vocabulary; per family the canonical matched-pair
    // count and its recall vs truth. The eval a pipeline runs BEFORE
    // committing a blocking key to a 100 TB ER job — q206's planner
    // read, for the edit-distance family.
    "q211_blocking_recall" -> ((s, dir) => {
      // a deterministic quarter of parts: the scorecard's recall read
      // is population-stable, and the truth family's complete pair
      // set is the expensive leg — sample the vocabulary, not the op
      val parts = t(s, dir, "part")
        .filter(col("p_partkey") % 4 === 0)
        .select(col("p_partkey"), col("p_name"))
      val len = length(col("p_name"))
      val kk = (col("p_partkey") % len).cast("int")
      // all consumers live in ONE plan — ReusedExchange dedups the
      // shared vocabulary/truth subtrees; persist() would block it
      // (the q108/q210 lesson)
      val names = parts.select(col("p_name").as("nm"))
        .unionByName(parts.select(
          concat(col("p_name").substr(lit(1), kk),
            col("p_name").substr(kk + 2, len)).as("nm")))
        .distinct()
      val ids = names.select(col("nm").as("id"), col("nm"))
      def canon(df: DataFrame): DataFrame =
        df.filter(col("probe_id") < col("ref_id"))
          .select(col("probe_id").as("a"), col("ref_id").as("b"))
          .distinct()
      val truth = canon(Text.fuzzyJoinSegments(ids, ids, "id",
        col("nm"), "id", col("nm"), 2))
      val firstChar = canon(Text.fuzzyJoin(ids, ids, "id", col("nm"),
        "id", col("nm"), 2))
      val sn = Text.sortedNeighborhoodPairs(names, col("nm"), 8, 2)
        .select(col("name_a").as("a"), col("name_b").as("b")).distinct()
      def cnt(df: DataFrame, fam: String): DataFrame =
        df.agg(count(lit(1)).as("n_pairs"))
          .select(lit(fam).as("family"), col("n_pairs"))
      val counts = cnt(truth, "segments")
        .unionByName(cnt(firstChar, "first_char"))
        .unionByName(cnt(sn, "sorted_neighborhood"))
      counts.crossJoin(broadcast(
          truth.agg(count(lit(1)).as("n_truth"))))
        .select(col("family"), col("n_pairs"),
          round((col("n_pairs").cast("double") /
            col("n_truth").cast("double")).cast("decimal(20,10)"), 6)
            .cast("double").as("recall"))
    }),
    // Web/PSL: public-suffix-aware registered domains — each host's
    // label-suffixes probe the broadcast PSL via ONE equi-join, the
    // longest match is the public suffix (no match → last-label default
    // = the two-label fallback), rolled up to per-domain doc counts.
    "q198_psl_domains" -> ((s, dir) => {
      import s.implicits._
      val psl = Seq("co.uk", "github.io", "ca.us").toDF("suffix")
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 4 === 0,
            concat(lit("app-"), col("source"), lit(".github.io")))
            .when(col("doc_id") % 4 === 1,
              concat(lit("www."), col("source"), lit("-ltd.co.uk")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("cdn."), col("source"), lit("-site.net")))
            .otherwise(concat(lit("mail."), col("source"), lit(".ca.us"))),
          lit("/p/"), (col("doc_id") % 7).cast("string")).as("url"))
      Web.registeredDomainsPsl(urls, "doc_id", col("url"), psl)
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"))
    }),
    // Dedup: TEMPLATE-SKELETON collapse — generated numeric variants
    // ("order 123 total 45" vs "order 999 total 7") share a skeleton
    // after digit runs fold to '#'; one hash-aggregate on the skeleton
    // fingerprint finds every template family, keep = min id.
    "q156_template_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sessionState.conf.numShufflePartitions)
      val docs = base.select(col("doc_id"),
          concat(col("text"), lit(" order 123 total 45")).as("t"))
        .unionByName(base.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 2000000000).as("doc_id"),
            concat(col("text"), lit(" order 999 total 7")).as("t")))
      docs.groupBy(md5(Dedup.templateSkeleton(col("t"))).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("kept_id"))
        .filter(col("n_docs") >= 2)
    }),
    // Web/Sketch: BLOOM-GATED crawl novelty — the q133 signal at
    // sketch cost: the corpus canonical set folds into k·m bloom cells
    // (state independent of corpus size; at 100 TB the exact URL index
    // no longer broadcasts, the bloom does), the increment probes it,
    // and the exact anti-join rides along as in-query truth so the
    // false-positive cost of the sketch (novel URLs the bloom thinks
    // it has seen) is measured, not assumed. Zero false negatives by
    // construction: n_novel_bloom <= n_novel_exact always.
    "q134_bloom_url_novelty" -> ((s, dir) => {
      val corpus = docUrls(s, dir)
        .select(Web.canonicalizeUrl(col("url")).as("cu")).distinct()
      val inc = incUrls(s, dir)
        .select(Web.canonicalizeUrl(col("url")).as("cu")).distinct()
        .withColumn("domain", regexp_extract(
          regexp_extract(col("cu"), "^([^/?]+)", 1),
          "([^.]+\\.[^.]+)$", 1))
      val reg = Sketch.bloomRegisters(corpus, col("cu"))
      val bloom = Sketch.bloomMightContain(reg, inc.select(col("cu")), "cu")
      val exact = inc.join(corpus, Seq("cu"), "left_anti")
        .select(col("cu"), lit(1L).as("novel_exact"))
      inc.join(bloom, Seq("cu"))
        .join(exact, Seq("cu"), "left")
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          sum(coalesce(col("novel_exact"), lit(0L))).as("n_novel_exact"),
          sum(when(!col("might_contain"), lit(1L)).otherwise(lit(0L)))
            .as("n_novel_bloom"))
    }),
    // Dedup: INCREMENTAL near-dup — a new crawl increment (half exact
    // re-crawls, half token-sorted novel texts) probed against the
    // existing corpus; old×old is never paired. Output per new doc:
    // match count and the first (keep-first) match, -1 when novel.
    "q82_incremental_dedup" -> ((s, dir) => {
      // spread the 1-task text scan before the per-row shingling
      // (docsDup's fan-out lesson; both derived sides inherit it)
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sessionState.conf.numShufflePartitions)
      val inc = base.select((col("doc_id") + 1000000000).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(array_join(sort_array(Text.tokens(col("text"))), " "))
          .as("text"))
      def sh(df: DataFrame) = df.select(col("doc_id"),
        Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
      val pairs = Dedup.jaccardPairsIncremental(sh(base), sh(inc),
        "doc_id", "hs", 0.5)
      inc.select(col("doc_id"))
        .join(pairs.groupBy(col("id_new").as("doc_id"))
          .agg(count(lit(1)).as("n_dups"), min(col("id_match")).as("first_dup")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          coalesce(col("first_dup"), lit(-1L)).as("first_dup"))
    }),
    // Text: END-TO-END entity resolution — corrupted variants probe the
    // CLEAN reference names ASYMMETRICALLY (q85's shape): each variant
    // resolves to its best clean match (min dist, then min ref id, one
    // exact lexicographic min over a (dist, id) struct — domain-safe
    // for any id range, unlike arithmetic packing), canonical = ref;
    // unmatched records stay their own entity. One cluster per true
    // entity — symmetric clean∪variant self-pairing + transitive
    // closure chains near-identical names into mega-clusters and goes
    // quadratic in corpus density (round-5 verdict: 12M edges, 65
    // clusters for 40k entities, 115 s); the asymmetric probe is both
    // the meaningful ER output and the 100×-scale shape. Blocking is
    // the RECALL-COMPLETE segment pigeonhole (the corruption deletes
    // exactly one character, so every variant's true source sits at
    // distance exactly 1 — first-char blocking provably lost every
    // variant whose LEADING character was the one deleted, and q107
    // existed to measure that loss); the oracle therefore uses NO
    // block predicate at all: plain all-pairs levenshtein <= 1 truth.
    // The density guard is ARMED (50M pairs/block) so a pathological
    // vocabulary fails loudly instead of silently blowing up.
    "q102_entity_resolution" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val len = length(col("name"))
      val k = (col("id") % len).cast("int")
      val variants = parts.select((col("id") + 2000000000).as("id"),
        concat(col("name").substr(lit(1), k),
          col("name").substr(k + 2, len)).as("name"))
      // fused resolve-to-best: the per-probe lexicographic min runs at
      // string level inside the operator, so the copy-level pair set
      // (6.4M rows on this duplicate-heavy corpus) never materializes
      val best = Text.fuzzyResolveBest(variants, parts, "id", col("name"),
        "id", col("name"), 1, maxBlockPairs = 50000000L)
      val assigned = parts.select(col("id"), col("id").as("canonical"))
        .unionByName(variants.select(col("id"))
          .join(best.select(col("probe_id"), col("ref_id").cast("long")),
            col("id") === col("probe_id"), "left")
          .select(col("id"),
            coalesce(col("ref_id"), col("id")).as("canonical")))
      assigned.groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_members"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
    }),
    // Dedup: asymmetric containment join — 12-token excerpts probe the
    // full corpus for the documents that CONTAIN them (quote/excerpt
    // detection, where Jaccard is blind); probe prefixes rarity-sorted
    // by target df, targets fully indexed.
    "q101_containment" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tgt = d.select(col("doc_id"),
        Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
      val probes = d.select((col("doc_id") + 2000000000).as("pid"),
        Dedup.hashedShingles(slice(Text.tokens(col("text")), 1, 12), 3)
          .as("hs"))
      Dedup.containmentJoin(probes, "pid", "hs", tgt, "doc_id", "hs", 0.8)
    }),
    // Text: MULTI-PASS blocked fuzzy match — probes corrupted at the
    // ANCHOR positions (first char deleted for even keys, last char for
    // odd), so each single-key blocking pass misses half the corpus and
    // only the (first-char ∪ last-char) composition recovers them; at
    // maxDist=1 the two passes are provably recall-complete
    // (FuzzyJoinSpec pins against all-pairs ground truth).
    "q105_fuzzy_multiblock" -> ((s, dir) => {
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val len = length(col("p_name"))
      val probes = parts.select((col("p_partkey") + 2000000000).as("probe_id"),
        when(pmod(col("p_partkey"), lit(2)) === 0,
            col("p_name").substr(lit(2), len))
          .otherwise(col("p_name").substr(lit(1), len - 1)).as("pn"))
      val m = Text.fuzzyJoinMultiBlock(probes, parts, "probe_id", col("pn"),
        "p_partkey", col("p_name"), 1)
      probes.select(col("probe_id"))
        .join(m.groupBy(col("probe_id"))
          .agg(count(lit(1)).as("n_matches"),
            min(struct(col("dist").cast("long").as("d"),
              col("ref_id").cast("long").as("r"))).as("bk")),
          Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("bk.d"), lit(-1L))
            .as("best_dist"),
          coalesce(col("bk.r"), lit(-1L)).as("best_ref"))
    }),
    // Text: INCREMENTAL entity resolution — the daily-ingest shape: a
    // corrupted batch probes the accumulated clean snapshot plus its
    // own earlier rows; old×old is never re-paired, so per-ingest cost
    // is |batch|·blockDensity instead of |corpus|². Matches split by
    // side (snapshot vs within-batch), best ref BIGINT-packed.
    "q106_incremental_er" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val len = length(col("name"))
      val k = (col("id") % len).cast("int")
      val batch = parts.select((col("id") + 2000000000).as("id"),
        concat(col("name").substr(lit(1), k),
          col("name").substr(k + 2, len)).as("name"))
      val inc = Text.fuzzyJoinIncremental(parts, batch, "id", col("name"), 1)
      batch.select(col("id").as("probe_id"))
        .join(inc.groupBy(col("probe_id")).agg(
            sum(when(col("ref_id") < 2000000000, 1L).otherwise(0L)).as("n_old"),
            sum(when(col("ref_id") >= 2000000000, 1L).otherwise(0L)).as("n_new"),
            min(struct(col("dist").cast("long").as("d"),
              col("ref_id").cast("long").as("r"))).as("bk")),
          Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_old"), lit(0L)).as("n_old"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("bk.r"), lit(-1L)).as("best_ref"))
    }),
    // Text: blocking-recall ESTIMATOR — the pre-flight that decides
    // whether a CHEAP single-anchor blocking suffices before paying
    // for the recall-complete segment path: all-pairs ground truth is
    // unaffordable on the corpus but cheap on a deterministic sample
    // (sample² work), so the blocked join's recall is measured there.
    // It audits first-char blocking exactly because that scheme is
    // lossy (q102 itself moved to segments after this estimator
    // quantified the loss). Blocked output is a subset of truth by
    // construction (same verify), so recall = blocked/truth.
    "q107_blocking_recall" -> ((s, dir) => {
      // fixed-SIZE deterministic sample (bottom-500 by md5, q98's
      // kernel) — a fixed FRACTION would make the sample² audit
      // O(corpus²/1600); bottom-k keeps the truth side constant work
      // at any corpus size
      val sample = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("name"),
          Dedup.hashLong(col("p_partkey").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(500)
        .select(col("id"), col("name"))
      val len = length(col("name"))
      val k = (col("id") % len).cast("int")
      val probes = sample.select((col("id") + 2000000000).as("id"),
        concat(col("name").substr(lit(1), k),
          col("name").substr(k + 2, len)).as("name"))
      val blocked = Text.fuzzyJoin(probes, sample, "id", col("name"),
        "id", col("name"), 1)
      val truth = probes.select(col("id").as("pid"), col("name").as("pn"))
        .crossJoin(sample.select(col("id").as("rid"), col("name").as("rn")))
        .filter(levenshtein(col("pn"), col("rn")) <= 1)
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(broadcast(blocked.agg(count(lit(1)).as("n_blocked"))))
        .select(col("n_true"), col("n_blocked"),
          round((col("n_blocked").cast("double") / col("n_true"))
            .cast("decimal(20,10)"), 4).cast("double").as("recall"))
    }),
    // Text: segment-blocked fuzzy match (PassJoin blocking) — q85's
    // exact corruption (one deletion at a key-determined position,
    // FIRST char included), but the k+1 segment pigeonhole is
    // recall-complete at any maxDist where q85's first-char blocking
    // provably loses the k=0 deletions; the ORACLE proves completeness
    // by using NO block predicate at all: plain all-pairs
    // levenshtein <= 1 truth.
    "q109_fuzzy_segments" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val len = length(col("name"))
      val k1 = (col("id") % len).cast("int")
      val probes = parts.select((col("id") + 2000000000).as("probe_id"),
        concat(col("name").substr(lit(1), k1),
          col("name").substr(k1 + 2, len)).as("pn"))
      // fused resolve-to-best (see q102): n_matches is still the
      // copy-level pair count, aggregated from per-name multiplicities
      val m = Text.fuzzyResolveBest(probes, parts, "probe_id", col("pn"),
        "id", col("name"), 1)
      probes.select(col("probe_id"))
        .join(m, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("dist").cast("long"), lit(-1L))
            .as("best_dist"),
          coalesce(col("ref_id").cast("long"), lit(-1L)).as("best_ref"))
    }),
    // Dedup: INCREMENTAL MinHash+LSH — q82's crawl-increment scenario
    // on the LSH path: only new docs probe the band-bucket index over
    // old ∪ new (old×old never pairs), candidates verified with exact
    // Jaccard on the hashed shingle sets. The production shape when
    // the corpus is banded once and increments arrive forever.
    "q114_incremental_lsh" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sessionState.conf.numShufflePartitions)
      val inc = base.select((col("doc_id") + 1000000000).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(array_join(sort_array(Text.tokens(col("text"))), " "))
          .as("text"))
      // persist: each signature table feeds the banded join and a
      // verification join (divergent consumers — the q27 rationale)
      def sg(df: DataFrame) = df.select(col("doc_id").as("id"),
          Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
        .select(col("id"), col("hs"),
          Dedup.minhashSignatureNative(col("hs"), 16).as("sig"))
        .persist()
      val so = sg(base); val sn = sg(inc)
      val both = so.unionByName(sn)
      Dedup.lshCandidatePairsIncremental(so, sn, "id", "sig", 4, 4)
        .join(sn.select(col("id").as("id_new"), col("hs").as("hsa")),
          Seq("id_new"))
        .join(both.select(col("id").as("id_match"), col("hs").as("hsb")),
          Seq("id_match"))
        .select(col("id_new"), col("id_match"),
          round(Dedup.jaccardHashed(col("hsa"), col("hsb")), 4).as("jac"))
    }),
    // Text: blocked fuzzy match (entity resolution) — part names with
    // one char deleted at a key-determined position probe the clean
    // names through the (first char, ±2 length) equi-join blocking;
    // best match = min((dist, id)) struct: one exact lexicographic min,
    // valid for any id domain (arithmetic dist·K+id packing silently
    // corrupts once ids reach K — ruled out by construction here).
    "q85_fuzzy_match" -> ((s, dir) => {
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val len = length(col("p_name"))
      val k = (col("p_partkey") % len).cast("int")
      val probes = parts.select((col("p_partkey") + 2000000000).as("probe_id"),
        concat(col("p_name").substr(lit(1), k),
          col("p_name").substr(k + 2, len)).as("pn"))
      val m = Text.fuzzyJoin(probes, parts, "probe_id", col("pn"),
        "p_partkey", col("p_name"), 2)
      probes.select(col("probe_id"))
        .join(m.groupBy(col("probe_id"))
          .agg(count(lit(1)).as("n_matches"),
            min(struct(col("dist").cast("long").as("d"),
              col("ref_id").cast("long").as("r"))).as("bk")),
          Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("bk.d"), lit(-1L))
            .as("best_dist"),
          coalesce(col("bk.r"), lit(-1L)).as("best_ref"))
    }),
    // Dedup: exact (fingerprint hash-groupBy) over a corpus with planted
    // exact duplicates — keep-first semantics.
    "q26_exact_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = d.unionByName(
        d.select((col("doc_id") + 1000000000).as("doc_id"), col("text")))
      dup.groupBy(Text.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
    }),
    // Dedup: MinHash(16) + LSH(4 bands × 4 rows) candidate pairs with
    // verified Jaccard — finds the planted near-dups without n² compares.
    // Shingling, hashing and the signature are the native expressions
    // (one JVM pass per doc); verification intersects HASH sets, exact
    // up to md5-60-bit collisions like the inverted Jaccard join.
    "q27_minhash_lsh" -> ((s, dir) => {
      // persist: the signature table feeds the LSH self-join and both
      // verification joins — without it the tokenize+shingle+hash chain
      // re-runs once per reference (4 scans at sf0.1).
      val sig = docsDup(s, dir).select(col("doc_id").as("id"),
          Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
        .select(col("id"), col("hs"),
          Dedup.minhashSignatureNative(col("hs"), 16).as("sig"))
        .persist()
      Dedup.lshCandidatePairs(sig, "id", "sig", 4, 4)
        .join(sig.select(col("id").as("ia"), col("hs").as("hsa")), col("id_a") === col("ia"))
        .join(sig.select(col("id").as("ib"), col("hs").as("hsb")), col("id_b") === col("ib"))
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccardHashed(col("hsa"), col("hsb")), 4).as("jac"))
    }),
    // Dedup/eval: EMPIRICAL LSH audit — q206 plans a banding from the
    // analytic S-curve; this MEASURES the production 4×4 banding on a
    // deterministic half-corpus: candidate pairs vs exact-Jaccard
    // truth (the recall-complete prefix kernel), empirical recall and
    // wasted-verify rate. The sample is keyed on the BASE id so each
    // planted near-dup pair survives or drops atomically — recall on
    // a pair sample is unbiased, the standard audit economics at
    // corpus scales where exact truth over everything is unaffordable.
    "q213_lsh_audit" -> ((s, dir) => {
      val d = docsDup(s, dir)
        .filter((col("doc_id") % 1000000000) % 4 === 0)
        .select(col("doc_id").as("id"),
          Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs"))
        .filter(size(col("hs")) > 0)
        .persist() // feeds the signature chain AND the exact kernel
      val sig = d.select(col("id"),
        Dedup.minhashSignatureNative(col("hs"), 16).as("sig"))
      val truth = Dedup.jaccardPairsPrefixHashed(d, "id", "hs", 0.5)
        .select(col("id_a"), col("id_b"))
      val cand = Dedup.lshCandidatePairs(sig, "id", "sig", 4, 4)
      // one full-outer pair-key join carries all three counts into a
      // single aggregate — no semi-join pass, no per-count crossJoins
      cand.withColumn("is_cand", lit(1L))
        .join(truth.withColumn("is_true", lit(1L)),
          Seq("id_a", "id_b"), "full")
        .agg(sum(coalesce(col("is_true"), lit(0L))).as("n_truth"),
          sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"),
          sum(when(col("is_cand").isNotNull && col("is_true").isNotNull,
            1L).otherwise(0L)).as("n_hits"))
        .select(lit(4).as("bands"), lit(4).as("rows_per_band"),
          col("n_truth"), col("n_cand"), col("n_hits"),
          when(col("n_truth") === 0, lit(null)).otherwise(
            round((col("n_hits").cast("double") /
              col("n_truth").cast("double")).cast("decimal(20,10)"), 6)
              .cast("double")).as("recall"),
          when(col("n_cand") === 0, lit(null)).otherwise(
            round(((col("n_cand") - col("n_hits")).cast("double") /
              col("n_cand").cast("double")).cast("decimal(20,10)"), 6)
              .cast("double")).as("waste_rate"))
    }),
    // Dedup: n-gram Jaccard near-dup pairs via PPJoin-style prefix
    // filtering over the hashed shingle index — the skew-proof path
    // (hot shingles never make a prefix, so no C(df,2) blowup; output
    // identical to the plain inverted join, TextDedupSpec asserts it).
    "q28_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsPrefixHashed(
        docsDup(s, dir).select(col("doc_id").as("id"),
          Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs")),
        "id", "hs", 0.5)),
    // Dedup: SimHash(32) near-dup pairs, banded join (exact for d<=3 by
    // pigeonhole over 4 byte-bands).
    "q29_simhash" -> ((s, dir) => {
      val sk = docsDup(s, dir).select(col("doc_id").as("id"),
        Dedup.simhash(Text.tokens(col("text")), 32).as("sk"))
        .persist() // sketch table feeds the banded self-join twice
      val bands = sk.select(col("id"), col("sk"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sk"), 8 * b).bitwiseAND(255)): _*)).as(Seq("band", "bval")))
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          Dedup.hamming(col("a.sk"), col("b.sk")).as("hamming"))
        // hamming is already known per band-collision: filtering BEFORE
        // the distinct shrinks the dedup exchange to only the true
        // near-dup pairs (~50× fewer rows than distinct-then-filter)
        .filter(col("hamming") <= 3)
        .distinct()
    }),
    // Dedup: semantic dedup AUDIT variant — embedding-cosine near-dup
    // pairs via q30's blocked EXACT kernel (intrinsically all-pairs;
    // the ground-truth role) → duplicate clusters → keep the min-id
    // canonical per cluster. The scale PIPELINE path is q123, which
    // swaps in the IVF-cell-blocked candidate kernel and measures its
    // recall against this exact truth. The oracle recomputes clusters
    // via recursive transitive closure (q67 pattern); the 1-row
    // aggregate fingerprints the surviving set.
    "q73_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
      val pert = t(s, dir, "embeddings").select((col("vec_id") + 1000000000).as("id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x.cast("double") + 0.5).otherwise(x.cast("double"))).as("vec"))
      val all = e.unionByName(pert)
      val pairs = Similarity.cosineNearDupPairsExact(all, 0.9)
        .select(col("id_a"), col("id_b"))
      Dedup.dedupByClusters(all.select(col("id")), "id", pairs)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("id")).cast("long").as("id_sum"))
    }),
    // Dedup: semantic dedup PIPELINE path — the ANN-blocked batch
    // kernel (IVF multi-probe cells → same-cell candidate equi-join →
    // exact cosine verify; Σ occupancy² work, no packed-block cross
    // join) feeds the cluster dedup, and the q73/q30 exact kernel
    // runs alongside as ground truth for a measured pair-recall
    // column. One audit row: surviving-set fingerprint under the
    // blocked pairs + blocked/exact pair counts + recall.
    "q123_semantic_dedup_ann" -> ((s, dir) => {
      val all = q123Vectors(s, dir)
      // persist: the blocked pair set feeds BOTH the cluster dedup
      // (evaluated eagerly inside duplicateClusters' checkpoint loop,
      // which leaves ownership with us) and the n_pairs_blocked audit
      // column — without the cache the whole probe+join+verify pipeline
      // runs twice; the harnesses clear caches per query
      val blocked = q123BlockedPairs(s, dir).persist()
      val exact = Similarity.cosineNearDupPairsExact(all, 0.9)
        .select(col("id_a"), col("id_b"))
      Dedup.dedupByClusters(all.select(col("id")), "id", blocked)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("id")).cast("long").as("id_sum"))
        .crossJoin(blocked.agg(count(lit(1)).as("n_pairs_blocked")))
        .crossJoin(exact.agg(count(lit(1)).as("n_pairs_exact")))
        .withColumn("pair_recall",
          round((col("n_pairs_blocked").cast("double") /
            col("n_pairs_exact").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double"))
    }),
    // Similarity: LSH-bucketed ANN (8 hyperplanes → 256 buckets).
    "q32_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(e, AnnPlanes, 5)
    }),
    // Dedup: cluster formation — connected components over a chained
    // exact-dup pair stream (3 copies per doc, edges chain consecutive
    // ids, so components need MULTI-HOP label propagation); component
    // id = min member = the canonical representative to keep.
    "q50_dup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = d
        .unionByName(d.select((col("doc_id") + 1000000000).as("doc_id"), col("text")))
        .unionByName(d.select((col("doc_id") + 2000000000).as("doc_id"), col("text")))
      val fp = dup.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val edges = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      Dedup.duplicateClusters(edges)
    }),
    // The dedup pipeline END-TO-END: pair stream → connected components
    // → drop non-canonical members (anti-join) → corpus stats. The
    // oracle derives survivors independently (min doc per fingerprint
    // group), so the whole clusters+anti-join chain is value-checked,
    // not just the cluster labels (q50).
    "q60_dedup_pipeline" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val dup = d
        .unionByName(d.select((col("doc_id") + 1000000000).as("doc_id"),
          col("text"), col("lang")))
        .unionByName(d.select((col("doc_id") + 2000000000).as("doc_id"),
          col("text"), col("lang")))
      val fp = dup.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy("doc_id")
      val edges = fp.withColumn("prev", lag(col("doc_id"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      Dedup.dedupByClusters(dup, "doc_id", edges)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text"))).cast("long").as("total_tokens"))
    }),
    // Beyond-reference: keep-BEST dedup — per near-dup cluster keep the
    // member with the most BPE tokens (the planted near-dups carry two
    // extra tokens, so they beat their base copies), ties to smaller
    // id. The oracle recomputes clusters independently via a recursive
    // transitive closure and picks winners with a window.
    "q67_dedup_keep_best" -> ((s, dir) => {
      // three consumers re-derive the doubled corpus (shingling, the
      // winner join, the survivor semi-join) — cache the raw text once
      val dup = docsDup(s, dir).persist()
      val pairs = Dedup.jaccardPairsPrefixHashed(
        dup.select(col("doc_id").as("id"),
          Dedup.hashedShingles(Text.tokens(col("text")), 3).as("hs")),
        "id", "hs", 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.dedupByClustersBest(dup, "doc_id", pairs,
        Text.bpeTokenCount(col("text")))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).cast("long").as("id_sum"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    // Contamination on STRING shingles (hash-free: counts agree with the
    // 60-bit-hash engine path absent md5 collisions); docs too short to
    // shingle report 0/0 via the left join.
    "q70_contamination" ->
      s"""WITH tokd AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest($shingleSql) AS s FROM tokd),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
         |shared AS (
         |  SELECT doc_id, count(*) AS n_shared
         |  FROM sh JOIN bench USING (s) GROUP BY 1)
         |SELECT t.doc_id, CAST(len($shingleSql) AS INT) AS n_shingles,
         |  CAST(coalesce(sh2.n_shared, 0) AS BIGINT) AS n_shared
         |FROM tokd t LEFT JOIN shared sh2 ON t.doc_id = sh2.doc_id""".stripMargin,
    // The same canonicalization chain as the engine (shared CTE block),
    // keep-longest via DuckDB struct-min ≙ Spark min_by(struct) — the
    // (-token-count, id) lexicographic winner.
    "q130_url_dedup" ->
      s"""WITH $urlCanonCtes,
         |tk AS (SELECT doc_id, canonical_url,
         |    len($tokSql) AS n_tok FROM cu)
         |SELECT canonical_url,
         |  (min({'o': -n_tok, 'i': doc_id})).i AS kept_id,
         |  CAST(count(*) AS BIGINT) AS n_urls
         |FROM tk GROUP BY 1""".stripMargin,
    // Registered domain = last two host labels; the q24 quality score
    // snapped ×1e6 to BIGINT per doc BEFORE the sum, so the domain mean
    // and the flag compare exact integers on both engines.
    "q131_domain_quality" ->
      s"""WITH $urlCanonCtes,
         |sc AS (SELECT regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
         |      AS domain,
         |    CAST(round(CAST(round(CAST(
         |      0.4 * least(1.0, len(tk) / 100.0)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_filter(tk,
         |            t -> t IN ('the','a','of','to','and'))) * 1.0 / len(tk)
         |          END)
         |      + 0.3 * (CASE WHEN len(tk) = 0 THEN 0.0
         |          ELSE len(list_distinct(tk)) * 1.0 / len(tk) END)
         |      AS DECIMAL(20,10)), 4) AS DOUBLE) * 1e6) AS BIGINT) AS qfp
         |  FROM (SELECT host, $tokSql AS tk FROM cu)),
         |g AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(qfp) AS BIGINT) AS qsum
         |  FROM sc GROUP BY 1)
         |SELECT domain, n_docs,
         |  CAST(round(CAST(CAST(qsum AS DOUBLE)
         |    / (CAST(n_docs AS DOUBLE) * 1e6)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS mean_quality,
         |  CAST(qsum AS DOUBLE)
         |    < CAST(0.5 AS DOUBLE) * CAST(n_docs AS DOUBLE) * 1e6 AS flagged
         |FROM g""".stripMargin,
    // Corpus and increment each run the shared canonicalization chain
    // (tags c/i); novelty = distinct increment canonicals NOT IN the
    // corpus canonical set, rolled up on the registered domain.
    "q133_url_novelty" ->
      s"""WITH ${urlChainSql("c",
              s"""SELECT doc_id, text,
                 |    ${urlSql("doc_id", "source")} AS url
                 |  FROM documents""".stripMargin)},
         |${urlChainSql("i",
              s"""SELECT nid AS doc_id, text,
                 |    ${urlSql("nid", "src")} AS url
                 |  FROM (SELECT doc_id + 1000000000 AS nid, text,
                 |      CASE WHEN doc_id % 4 = 0 THEN source || 'x'
                 |        ELSE source END AS src
                 |    FROM documents)""".stripMargin)},
         |cd AS (SELECT DISTINCT canonical_url FROM ccu),
         |ci AS (SELECT canonical_url, regexp_extract(
         |      regexp_extract(canonical_url, '^([^/?]+)', 1),
         |      '([^.]+\\.[^.]+)$$', 1) AS domain
         |  FROM (SELECT DISTINCT canonical_url FROM icu)),
         |nv AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_novel
         |  FROM ci WHERE canonical_url NOT IN
         |    (SELECT canonical_url FROM cd)
         |  GROUP BY 1),
         |al AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_urls
         |  FROM ci GROUP BY 1)
         |SELECT al.domain, al.n_urls,
         |  CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
         |  CAST(round(CAST(CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
         |    / CAST(al.n_urls AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS novelty_rate
         |FROM al LEFT JOIN nv ON al.domain = nv.domain""".stripMargin,
    // q93's chunk chain with the source attached; distinct (source,
    // fp) before the self-join, same (n desc, a, b) cutoff.
    "q181_cross_contamination" ->
      s"""WITH tk AS (SELECT doc_id, source, $tokSql AS tk
         |  FROM documents),
         |st AS (SELECT doc_id, source, tk,
         |    unnest(range(1, len(tk) + 1, 8)) AS start FROM tk),
         |ch AS (SELECT DISTINCT source,
         |    md5(array_to_string(tk[start : start + 7], ' ')) AS fp
         |  FROM st),
         |pr AS (SELECT x.source AS source_a, y.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_shared_spans
         |  FROM ch x JOIN ch y
         |    ON x.fp = y.fp AND x.source < y.source
         |  GROUP BY 1, 2)
         |SELECT * FROM pr
         |ORDER BY n_shared_spans DESC, source_a, source_b
         |LIMIT 15""".stripMargin,
    // Same hash-selected cut tokens, same strictly-before chunk ids,
    // same ordered chunk-text fingerprints and cross-doc splits.
    "q191_cdc_chunks" ->
      s"""WITH tx AS (SELECT doc_id, i, tk[i] AS tok
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
         |    FROM (SELECT doc_id, $tokSql AS tk FROM documents))),
         |ct AS (SELECT doc_id, i, tok,
         |    CASE WHEN ${h60("tok")} % 8 = 0 THEN 1 ELSE 0 END AS is_cut
         |  FROM tx),
         |ch AS (SELECT doc_id, i, tok,
         |    COALESCE(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS chunk
         |  FROM ct),
         |cg AS (SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS n_tok,
         |    md5(string_agg(tok, ' ' ORDER BY i)) AS fp
         |  FROM ch GROUP BY 1, 2),
         |bf AS (SELECT fp, CAST(count(*) AS BIGINT) AS n_occ,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS tok_mass
         |  FROM cg GROUP BY 1)
         |SELECT CAST(sum(n_occ) AS BIGINT) AS n_chunks,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_crossdoc_fp,
         |  CAST(round(CAST(CAST(sum(CASE WHEN n_docs >= 2
         |      THEN tok_mass ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(tok_mass) AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS dup_token_share
         |FROM bf""".stripMargin,
    // Same three keep-min stages (exact fp, digit-folded skeleton fp,
    // canonical URL via the q130 chain over stage-2 survivors).
    "q192_dedup_cascade" ->
      s"""WITH b AS (SELECT doc_id, text, source FROM documents),
         |s1 AS (SELECT doc_id, text, source FROM (
         |    SELECT *, row_number() OVER (PARTITION BY
         |      md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn FROM b) WHERE rn = 1),
         |s2 AS (SELECT doc_id, text, source FROM (
         |    SELECT *, row_number() OVER (PARTITION BY
         |      md5(regexp_replace(regexp_replace(trim(lower(text)),
         |        '\\s+', ' ', 'g'), '[0-9]+', '#', 'g'))
         |      ORDER BY doc_id) AS rn FROM s1) WHERE rn = 1),
         |${urlChainSql("cas",
           s"""SELECT doc_id, text,
              |    ${urlSql("doc_id", "source")} AS url FROM s2""".stripMargin)}
         |SELECT '0_input' AS stage, CAST(count(*) AS BIGINT)
         |    AS n_surviving FROM b
         |UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM s1
         |UNION ALL SELECT '2_template', CAST(count(*) AS BIGINT) FROM s2
         |UNION ALL SELECT '3_url',
         |  CAST(count(DISTINCT canonical_url) AS BIGINT) FROM cascu
         |ORDER BY stage""".stripMargin,
    // Independent reconstruction from fingerprint groups: canonical =
    // min id, weight = group size; weighted token mass must equal the
    // raw tripled-corpus totals.
    "q200_dedup_weights" ->
      s"""WITH dup AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL SELECT doc_id + 1000000000, text, lang FROM documents
         |  UNION ALL SELECT doc_id + 2000000000, text, lang FROM documents),
         |fp AS (SELECT doc_id, lang, text,
         |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM dup),
         |grp AS (SELECT fp, min(doc_id) AS doc_id,
         |    CAST(count(*) AS BIGINT) AS weight
         |  FROM fp GROUP BY fp)
         |SELECT lang, count(*) AS n_kept,
         |  CAST(sum(weight) AS BIGINT) AS n_represented,
         |  CAST(sum(weight * len($tokSql)) AS BIGINT) AS weighted_tokens
         |FROM fp JOIN grp USING (doc_id, fp)
         |GROUP BY lang""".stripMargin,
    // Independent SN construction: ONE global row_number over the
    // distinct name vocabulary (the engine's two-level ranking must
    // equal it exactly), rank-distance range join, real levenshtein.
    "q205_sorted_neighborhood" ->
      """WITH vars AS (SELECT p_name AS nm FROM part
        |  UNION ALL SELECT
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |      || substr(p_name,
        |        CAST(p_partkey % length(p_name) AS INT) + 2) AS nm
        |  FROM part),
        |nm AS (SELECT DISTINCT nm FROM vars),
        |rk AS (SELECT nm, row_number() OVER (ORDER BY nm) - 1 AS rk
        |  FROM nm),
        |c AS (SELECT a.nm AS name_a, b.nm AS name_b,
        |    CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
        |    CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |  FROM rk a JOIN rk b ON b.rk > a.rk AND b.rk - a.rk <= 7)
        |SELECT name_a, name_b, rank_gap, dist FROM c
        |WHERE dist <= 2""".stripMargin,
    // Independent US-Census Soundex in SQL: per-char code map (H/W →
    // empty string = the bridge rule), per-digit run collapse (seven
    // regexp passes — runs of one digit never merge across another,
    // so the order is immaterial and RE2 needs no backreference),
    // zero-drop, consonant-first-letter strip, 0-pad; then the same
    // block/pair/levenshtein algebra.
    "q494_phonetic_blocking" ->
      """WITH nm AS (SELECT DISTINCT
        |    upper(split_part(p_name, ' ', 1)) AS n FROM part),
        |cs AS (SELECT n,
        |    array_to_string([CASE
        |      WHEN c IN ('B','F','P','V') THEN '1'
        |      WHEN c IN ('C','G','J','K','Q','S','X','Z') THEN '2'
        |      WHEN c IN ('D','T') THEN '3'
        |      WHEN c = 'L' THEN '4'
        |      WHEN c IN ('M','N') THEN '5'
        |      WHEN c = 'R' THEN '6'
        |      WHEN c IN ('A','E','I','O','U','Y') THEN '0'
        |      ELSE '' END
        |      for c in [substr(n, CAST(i AS INT), 1)
        |        for i in range(1, length(n) + 1)]], '') AS cd
        |  FROM nm),
        |col AS (SELECT n, replace(
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(cd, '0+', '0', 'g'),
        |        '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'),
        |      '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g'),
        |    '0', '') AS body FROM cs),
        |sdx AS (SELECT n, substr(n, 1, 1) || substr(
        |    CASE WHEN substr(n, 1, 1) IN
        |        ('A','E','I','O','U','Y','H','W')
        |      THEN body ELSE substr(body, 2) END || '000', 1, 3)
        |    AS code FROM col),
        |blocks AS (SELECT code, CAST(count(*) AS BIGINT) AS n_names
        |  FROM sdx GROUP BY 1),
        |p AS (SELECT a.code,
        |    CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN levenshtein(a.n, b.n) <= 2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        |  FROM sdx a JOIN sdx b ON a.code = b.code AND a.n < b.n
        |  GROUP BY 1)
        |SELECT blocks.code, blocks.n_names,
        |  coalesce(p.n_pairs, 0) AS n_pairs,
        |  coalesce(p.n_matched, 0) AS n_matched,
        |  false AS capped
        |FROM blocks LEFT JOIN p USING (code)""".stripMargin,
    // Same labeled pair population (planted +10000 near-dups true,
    // +1-neighbor pairs false), exact |∩|/|∪| over the same 60-bit
    // hashed shingles, same S-curve and ×1e6 snap.
    "q206_lsh_plan" ->
      s"""WITH d2 AS ($docsDupSql),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM d2),
         |shl AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh
         |  FROM tk),
         |hs AS (SELECT doc_id,
         |    list_transform(sh, s -> ${h60("s")}) AS hs
         |  FROM shl WHERE len(sh) > 0),
         |tp AS (SELECT a.hs AS ha, b.hs AS hb, TRUE AS tp
         |  FROM hs a JOIN hs b ON b.doc_id = a.doc_id + 1000000000
         |  WHERE a.doc_id < 1000000000),
         |fp AS (SELECT a.hs AS ha, b.hs AS hb, FALSE AS tp
         |  FROM hs a JOIN hs b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id < 1000000000 AND b.doc_id < 1000000000),
         |prs AS (SELECT CAST(len(list_intersect(ha, hb)) AS BIGINT)
         |    AS inter, CAST(len(ha) AS BIGINT) AS la,
         |    CAST(len(hb) AS BIGINT) AS lb, tp
         |  FROM (SELECT * FROM tp UNION ALL SELECT * FROM fp)),
         |sims AS (SELECT CAST(inter AS DOUBLE) / (la + lb - inter)
         |    AS s, tp FROM prs),
         |cfg AS (SELECT unnest([1, 2, 4, 8, 16]) AS r),
         |terms AS (SELECT CAST(16 // r AS INT) AS bands,
         |    CAST(r AS INT) AS rows_per_band, tp,
         |    CAST(round(1e6 * (CAST(1 AS DOUBLE)
         |      - power(CAST(1 AS DOUBLE) - power(s, r), 16 // r)))
         |      AS BIGINT) AS p_fp
         |  FROM sims CROSS JOIN cfg)
         |SELECT bands, rows_per_band,
         |  CAST(sum(CASE WHEN tp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true,
         |  CAST(sum(CASE WHEN tp THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_false,
         |  CAST(round(CAST(CAST(sum(CASE WHEN tp THEN p_fp END)
         |      AS DOUBLE)
         |    / CAST(sum(CASE WHEN tp THEN 1 ELSE 0 END) AS DOUBLE)
         |    / 1e6 AS DECIMAL(20,10)), 6) AS DOUBLE) AS exp_recall,
         |  CAST(round(CAST(CAST(sum(CASE WHEN tp THEN NULL ELSE p_fp
         |      END) AS DOUBLE)
         |    / CAST(sum(CASE WHEN tp THEN 0 ELSE 1 END) AS DOUBLE)
         |    / 1e6 AS DECIMAL(20,10)), 6) AS DOUBLE) AS exp_fp_rate
         |FROM terms GROUP BY 1, 2""".stripMargin,
    // Same planted attribute noise (inner subqueries keep the CASE on
    // the ORIGINAL doc_id — DuckDB lateral aliases would otherwise
    // shadow it), same fingerprint clusters, same (n desc, value asc)
    // modal vote.
    "q253_golden_record" ->
      """WITH c1s AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'yy' ELSE lang END AS lang2,
        |    n_chars FROM documents),
        |c2s AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS lang2,
        |    source, n_chars FROM documents),
        |dup AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL SELECT doc_id + 1000000000, text, lang2, 'mirror',
        |    n_chars + 2 FROM c1s
        |  UNION ALL SELECT doc_id + 2000000000, text, lang2, source,
        |    n_chars FROM c2s),
        |cl AS (SELECT doc_id, lang, source, n_chars,
        |    min(doc_id) OVER (PARTITION BY fp) AS cluster
        |  FROM (SELECT *,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      AS fp FROM dup)),
        |mlc AS (SELECT cluster, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM cl GROUP BY 1, 2),
        |ml AS (SELECT cluster, lang FROM (SELECT cluster, lang,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY n DESC, lang) AS rn FROM mlc) WHERE rn = 1),
        |msc AS (SELECT cluster, source, CAST(count(*) AS BIGINT) AS n
        |  FROM cl GROUP BY 1, 2),
        |ms AS (SELECT cluster, source FROM (SELECT cluster, source,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY n DESC, source) AS rn FROM msc) WHERE rn = 1),
        |b AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(max(n_chars) AS BIGINT) AS n_chars_max
        |  FROM cl GROUP BY 1)
        |SELECT b.cluster, b.n_members, ml.lang, ms.source,
        |  b.n_chars_max
        |FROM b JOIN ml USING (cluster) JOIN ms USING (cluster)""".stripMargin,
    // The oracle runs DuckDB's OWN nfc_normalize over the same
    // composed/decomposed twins — two independent Unicode
    // implementations must agree on every rewrite and every
    // fingerprint group.
    "q377_unicode_nfc_dedup" ->
      """WITH a AS (SELECT doc_id,
        |    text || ' caf' || chr(233) || ' na' || chr(239) || 've'
        |      AS text FROM documents
        |  UNION ALL SELECT doc_id + 1000000000,
        |    text || ' cafe' || chr(769) || ' nai' || chr(776) || 've'
        |  FROM documents),
        |s AS (SELECT doc_id, text, nfc_normalize(text) AS nfc FROM a),
        |rg AS (SELECT CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT md5(text) FROM s GROUP BY 1 HAVING count(*) >= 2)),
        |ng AS (SELECT CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT md5(nfc) FROM s GROUP BY 1 HAVING count(*) >= 2))
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (nfc <> text) AS BIGINT)
        |    AS docs_rewritten,
        |  rg.c AS raw_dup_groups, ng.c AS nfc_dup_groups
        |FROM s, rg, ng GROUP BY rg.c, ng.c""".stripMargin,
    // Full replay: distinct token hashes, h mod 32 slot minima, the
    // same rightward-cyclic densification, slot matches vs the exact
    // set Jaccard.
    "q456_oph_minhash" ->
      s"""WITH $ophCtes,
         |mt AS (SELECT a.id,
         |    CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END)
         |      AS BIGINT) AS matches
         |  FROM dens a JOIN dens b ON b.id = a.id + 1000000
         |    AND b.j = a.j
         |  WHERE a.id < 1000000 GROUP BY 1),
         |ni AS (SELECT ha.id, CAST(count(*) AS BIGINT) AS ni
         |  FROM ha JOIN hb ON hb.id = ha.id AND hb.h = ha.h
         |  GROUP BY 1),
         |nu AS (SELECT id, CAST(count(*) AS BIGINT) AS nu FROM (
         |    SELECT id, h FROM ha UNION SELECT id, h FROM hb)
         |  GROUP BY 1)
         |SELECT mt.id, mt.matches,
         |  CAST((mt.matches * 1000000) // 32 AS BIGINT) AS est_micro,
         |  CAST((coalesce(ni.ni, 0) * 1000000) // nu.nu AS BIGINT)
         |    AS exact_micro,
         |  CAST(abs((mt.matches * 1000000) // 32
         |    - (coalesce(ni.ni, 0) * 1000000) // nu.nu) AS BIGINT)
         |    AS err_micro
         |FROM mt LEFT JOIN ni ON ni.id = mt.id
         |JOIN nu ON nu.id = mt.id""".stripMargin,
    // The shared OPH chain banded 8×4: band key = md5 of the slot
    // values in slot order; distinct bucket pairs.
    "q458_oph_bands" ->
      s"""WITH $ophCtes,
         |bk AS (SELECT id, j // 4 AS band,
         |    md5(array_to_string(list(CAST(v AS VARCHAR)
         |      ORDER BY j), ',')) AS bkey
         |  FROM dens GROUP BY 1, 2),
         |pr AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bk a JOIN bk b ON a.band = b.band
         |    AND a.bkey = b.bkey AND a.id < b.id)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pr
         |    WHERE id_b = id_a + 1000000) AS n_planted_found,
         |  (SELECT CAST(count(*) AS BIGINT) FROM documents
         |    WHERE doc_id % 40 = 0) AS n_docs""".stripMargin,
    // The q130 canonicalization chain (terminal cu) + the %120
    // content stand-in; domains from the canonical host's last two
    // labels; the same two grouped aggregates.
    "q436_mirror_matrix" ->
      s"""WITH $urlCanonCtes,
         |base AS (SELECT cu.doc_id,
         |    cu.canonical_url AS curl,
         |    regexp_extract(cu.host, '([^.]+\\.[^.]+)$$', 1) AS dom,
         |    md5(CAST(cu.doc_id % 120 AS VARCHAR)) AS fp
         |  FROM cu),
         |bu AS (SELECT curl, count(*) AS n,
         |    count(DISTINCT fp) AS nf FROM base GROUP BY 1),
         |bf AS (SELECT fp, count(*) AS n,
         |    count(DISTINCT dom) AS nd FROM base GROUP BY 1)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_docs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bu) AS n_canon,
         |  (SELECT CAST(count(*) FILTER (nf > 1) AS BIGINT) FROM bu)
         |    AS drift_groups,
         |  (SELECT CAST(coalesce(sum(n) FILTER (nf > 1), 0)
         |    AS BIGINT) FROM bu) AS drift_docs,
         |  (SELECT CAST(count(*) FILTER (nd > 1) AS BIGINT) FROM bf)
         |    AS mirror_fps,
         |  (SELECT CAST(coalesce(sum(n) FILTER (nd > 1), 0)
         |    AS BIGINT) FROM bf) AS mirror_docs""".stripMargin,
    // Same planted pair construction, the same add-1/add-2 smoothed
    // m/u counts, per-term ln snaps, integer score sums and bands.
    "q402_fellegi_sunter" -> {
      def snp(n: String, d: String): String =
        s"CAST(round(ln(CAST($n AS DOUBLE) / CAST($d AS DOUBLE)) " +
          s"* 1e6) AS BIGINT)"
      def w(f: String): String =
        s"""CASE WHEN ag_$f
           |  THEN ${snp(s"am_$f + 1", "nm + 2")} - ${snp(s"au_$f + 1", "nu + 2")}
           |  ELSE ${snp(s"nm - am_$f + 1", "nm + 2")} - ${snp(s"nu - au_$f + 1", "nu + 2")}
           |END""".stripMargin
      s"""WITH a AS (SELECT doc_id AS id_a, lang AS la, source AS sa,
         |    n_chars AS ca FROM documents),
         |mp AS (SELECT id_a, id_a + 1000000000 AS id_b, true AS y,
         |    la = (CASE WHEN id_a % 5 = 0 THEN 'xx' ELSE la END)
         |      AS ag_lang,
         |    true AS ag_src, abs(-8) <= 10 AS ag_len
         |  FROM a),
         |np AS (SELECT a.id_a, b.doc_id AS id_b, false AS y,
         |    a.la = b.lang AS ag_lang, a.sa = b.source AS ag_src,
         |    abs(a.ca - b.n_chars) <= 10 AS ag_len
         |  FROM a JOIN documents b ON b.doc_id = a.id_a + 1),
         |p AS (SELECT * FROM mp UNION ALL SELECT * FROM np),
         |st AS (SELECT
         |    count(*) FILTER (y) AS nm, count(*) FILTER (NOT y) AS nu,
         |    count(*) FILTER (y AND ag_lang) AS am_lang,
         |    count(*) FILTER (NOT y AND ag_lang) AS au_lang,
         |    count(*) FILTER (y AND ag_src) AS am_src,
         |    count(*) FILTER (NOT y AND ag_src) AS au_src,
         |    count(*) FILTER (y AND ag_len) AS am_len,
         |    count(*) FILTER (NOT y AND ag_len) AS au_len FROM p),
         |sc AS (SELECT p.id_a, p.id_b, p.y,
         |    (${w("lang")}) + (${w("src")}) + (${w("len")})
         |      AS score_micro
         |  FROM p, st)
         |SELECT id_a, id_b, y, score_micro,
         |  CASE WHEN score_micro >= 3000000 THEN 'match'
         |    WHEN score_micro <= -1000000 THEN 'nonmatch'
         |    ELSE 'possible' END AS band
         |FROM sc""".stripMargin
    },
    // Components by recursive closure (the q67 convention), sizes per
    // component, the same floored giant share.
    "q394_dup_graph_health" ->
      s"""WITH RECURSIVE
         |u0 AS (SELECT * FROM ($docsDupSql)
         |  WHERE (doc_id % 1000000000) % 5 = 0),
         |u AS (SELECT * FROM u0
         |  UNION ALL SELECT doc_id + 2000000000, text || ' qq7 vv6'
         |  FROM u0 WHERE doc_id < 1000000000 AND doc_id % 25 = 0),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM u),
         |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[])
         |    ELSE $shingleSql END AS sh FROM tk),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
         |        4) AS jac
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jac >= 0.5),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (
         |  SELECT v.s AS doc_id, least(v.s, mn.mn) AS c
         |  FROM (SELECT DISTINCT s FROM edges) v
         |  JOIN (SELECT s, min(d) AS mn FROM reach GROUP BY 1) mn
         |    USING (s)),
         |sz AS (SELECT c, CAST(count(*) AS BIGINT) AS size
         |  FROM comp GROUP BY 1),
         |g AS (SELECT max(size) AS giant FROM sz),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u)
         |SELECT sz.size, CAST(count(*) AS BIGINT) AS n_components,
         |  g.giant AS giant_size,
         |  CAST((CAST(g.giant AS HUGEINT) * 1000000) // nn.n AS BIGINT)
         |    AS giant_share_micro
         |FROM sz, g, nn GROUP BY sz.size, g.giant, nn.n""".stripMargin,
    // DuckDB replays the chain with its OWN Unicode machinery
    // (nfc_normalize + RE2 with explicit \x classes — \s differs
    // between Java and RE2 on vertical tab, so neither side uses it).
    "q384_canonical_dedup" ->
      """WITH a AS (SELECT doc_id,
        |    ' ' || text || ' Caf' || chr(233) || ' X' AS text
        |  FROM documents
        |  UNION ALL SELECT doc_id + 1000000000,
        |    ' ' || chr(8203) || text || '  cafe' || chr(769) || '  x'
        |  FROM documents),
        |st AS (SELECT doc_id, text, nfc_normalize(text) AS s1 FROM a),
        |s2t AS (SELECT *, regexp_replace(s1,
        |    '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{00AD}]', '', 'g')
        |    AS s2 FROM st),
        |s3t AS (SELECT *, trim(regexp_replace(s2,
        |    '[ \t\n\r\f]+', ' ', 'g')) AS s3 FROM s2t),
        |c AS (SELECT *, lower(s3) AS canon FROM s3t),
        |rg AS (SELECT CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT md5(text) FROM c GROUP BY 1 HAVING count(*) >= 2)),
        |cg AS (SELECT CAST(count(*) AS BIGINT) AS c FROM
        |  (SELECT md5(canon) FROM c GROUP BY 1 HAVING count(*) >= 2))
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (s1 <> text) AS BIGINT) AS changed_nfc,
        |  CAST(count(*) FILTER (s2 <> s1) AS BIGINT)
        |    AS changed_invisible,
        |  CAST(count(*) FILTER (s3 <> s2) AS BIGINT) AS changed_ws,
        |  rg.c AS raw_dup_groups, cg.c AS canonical_dup_groups
        |FROM c, rg, cg GROUP BY rg.c, cg.c""".stripMargin,
    // Same ×1e6 idf snaps and directional mass ratio.
    "q305_vocab_containment" ->
      s"""WITH st AS (SELECT DISTINCT source, tok FROM
         |  (SELECT source, unnest(list_distinct($tokSql)) AS tok
         |   FROM documents)),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM
         |  (SELECT DISTINCT doc_id, tok FROM
         |    (SELECT doc_id, unnest(list_distinct($tokSql)) AS tok
         |     FROM documents)) GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents),
         |w AS (SELECT tok, CAST(round(ln(CAST(n_docs AS DOUBLE) / df)
         |    * 1e6) AS BIGINT) AS wm
         |  FROM dfq CROSS JOIN nd),
         |sw AS (SELECT st.source, st.tok, w.wm
         |  FROM st JOIN w USING (tok)),
         |tot AS (SELECT source, CAST(sum(wm) AS BIGINT) AS tw
         |  FROM sw GROUP BY 1),
         |inter AS (SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(sum(a.wm) AS BIGINT) AS iw
         |  FROM sw a JOIN sw b ON a.tok = b.tok
         |    AND a.source <> b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b,
         |  CAST(round(CAST(CAST(iw AS DOUBLE) / tw AS DECIMAL(20,10)),
         |    4) AS DOUBLE) AS containment
         |FROM inter JOIN tot ON tot.source = inter.source_a
         |ORDER BY 3 DESC, 1, 2 LIMIT 30""".stripMargin,
    // Same mirrored corpus and keep-min rule, same share tables.
    "q298_dedup_bias" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id + 3000000000, 'mirror1', text
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 4000000000, 'mirror2', text
        |    FROM documents WHERE doc_id % 7 = 0),
        |f0 AS (SELECT doc_id, source,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      AS fp FROM corpus),
        |keep AS (SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id
        |  FROM f0 GROUP BY 1),
        |bfr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_before
        |  FROM f0 GROUP BY 1),
        |aft AS (SELECT source, CAST(count(*) AS BIGINT) AS n_after
        |  FROM f0 JOIN keep ON keep.fp = f0.fp
        |    AND keep.keep_id = f0.doc_id
        |  GROUP BY 1),
        |tt AS (SELECT (SELECT CAST(sum(n_before) AS BIGINT) FROM bfr)
        |    AS tb,
        |  (SELECT CAST(sum(n_after) AS BIGINT) FROM aft) AS ta)
        |SELECT bfr.source, n_before,
        |  CAST(coalesce(aft.n_after, 0) AS BIGINT) AS n_after,
        |  CAST(round(CAST(CAST(n_before AS DOUBLE) / tb
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS share_before,
        |  CAST(round(CAST(CAST(coalesce(aft.n_after, 0) AS DOUBLE)
        |    / ta AS DECIMAL(20,10)), 4) AS DOUBLE) AS share_after
        |FROM bfr LEFT JOIN aft USING (source) CROSS JOIN tt""".stripMargin,
    // Same per-(fp, source) count algebra (// is DuckDB integer
    // division — / would go double).
    "q293_dup_source_matrix" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL SELECT 'mirror1', text FROM documents
        |    WHERE doc_id % 3 = 0
        |  UNION ALL SELECT 'mirror2', text FROM documents
        |    WHERE doc_id % 7 = 0),
        |f0 AS (SELECT source,
        |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      AS fp FROM corpus),
        |fc AS (SELECT fp, source, CAST(count(*) AS BIGINT) AS c
        |  FROM f0 GROUP BY 1, 2),
        |w AS (SELECT source AS source_a, source AS source_b,
        |    CAST(sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT)
        |      AS n_pairs
        |  FROM fc WHERE c > 1 GROUP BY 1, 2),
        |a AS (SELECT x.source AS source_a, y.source AS source_b,
        |    CAST(sum(CAST(x.c AS HUGEINT) * y.c) AS BIGINT) AS n_pairs
        |  FROM fc x JOIN fc y ON x.fp = y.fp AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT * FROM (SELECT * FROM w UNION ALL SELECT * FROM a)
        |WHERE n_pairs > 0""".stripMargin,
    // DuckDB's native jaro_winkler_similarity IS the oracle for the
    // engine's expression — same blocking, snap, gate and best-match
    // struct-min.
    "q267_jaro_winkler" ->
      """WITH probes AS (SELECT p_partkey + 2000000000 AS probe_id,
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |      || substr(p_name,
        |        CAST(p_partkey % length(p_name) AS INT) + 2) AS pn
        |  FROM part WHERE p_partkey % 10 = 0),
        |cand AS (SELECT * FROM (SELECT probe_id, p_partkey,
        |    CAST(round(CAST(jaro_winkler_similarity(pn, p_name)
        |      AS DECIMAL(20,10)) * 1000000) AS BIGINT) AS jw
        |  FROM probes JOIN part
        |    ON substr(pn, 1, 1) = substr(p_name, 1, 1)
        |    AND abs(length(pn) - length(p_name)) <= 2)
        |  WHERE jw >= 900000),
        |m AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_cand,
        |    min({'nj': 1000000 - jw,
        |        'r': CAST(p_partkey AS BIGINT)}) AS bk
        |  FROM cand GROUP BY 1)
        |SELECT p.probe_id,
        |  CAST(coalesce(m.n_cand, 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(1000000 - (m.bk).nj, -1) AS BIGINT)
        |    AS best_jw_micro,
        |  CAST(coalesce((m.bk).r, -1) AS BIGINT) AS best_ref
        |FROM probes p LEFT JOIN m ON p.probe_id = m.probe_id""".stripMargin,
    // Truth = brute-force all-pairs levenshtein <= 2 on the distinct
    // vocabulary (the engine's segment blocking must equal it —
    // recall 1 by construction); first-char adds the equal-head
    // predicate; SN reuses q205's global-rank window construction.
    "q211_blocking_recall" ->
      """WITH p4 AS (SELECT p_partkey, p_name FROM part
        |  WHERE p_partkey % 4 = 0),
        |vars AS (SELECT p_name AS nm FROM p4
        |  UNION ALL SELECT
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |      || substr(p_name,
        |        CAST(p_partkey % length(p_name) AS INT) + 2) AS nm
        |  FROM p4),
        |nm AS (SELECT DISTINCT nm FROM vars),
        |tr AS (SELECT a.nm AS a, b.nm AS b FROM nm a JOIN nm b
        |  ON a.nm < b.nm AND levenshtein(a.nm, b.nm) <= 2),
        |fc AS (SELECT * FROM tr
        |  WHERE substr(a, 1, 1) = substr(b, 1, 1)),
        |rk AS (SELECT nm, row_number() OVER (ORDER BY nm) - 1 AS rk
        |  FROM nm),
        |snp AS (SELECT ra.nm AS a, rb.nm AS b FROM rk ra JOIN rk rb
        |  ON rb.rk > ra.rk AND rb.rk - ra.rk <= 7
        |    AND levenshtein(ra.nm, rb.nm) <= 2),
        |cts AS (SELECT 'segments' AS family,
        |    CAST(count(*) AS BIGINT) AS n_pairs FROM tr
        |  UNION ALL SELECT 'first_char', CAST(count(*) AS BIGINT)
        |    FROM fc
        |  UNION ALL SELECT 'sorted_neighborhood',
        |    CAST(count(*) AS BIGINT) FROM snp),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr)
        |SELECT family, n_pairs,
        |  CAST(round(CAST(CAST(n_pairs AS DOUBLE)
        |    / CAST(n_truth AS DOUBLE) AS DECIMAL(20,10)), 6)
        |    AS DOUBLE) AS recall
        |FROM cts CROSS JOIN tot""".stripMargin,
    // Independent PSL computation: last-2/last-3 label split by
    // membership of the host's 2-label tail in the same literal
    // suffix set (every fixture host is 3+ labels with at most a
    // 2-label public suffix, so the CASE is the full rule here).
    "q198_psl_domains" ->
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |        THEN 'app-' || source || '.github.io'
        |      WHEN doc_id % 4 = 1 THEN 'www.' || source || '-ltd.co.uk'
        |      WHEN doc_id % 4 = 2 THEN 'cdn.' || source || '-site.net'
        |      ELSE 'mail.' || source || '.ca.us' END AS host0
        |  FROM documents),
        |h AS (SELECT doc_id, regexp_replace(host0, '^www\\.', '')
        |    AS host FROM u),
        |l AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h),
        |d AS (SELECT doc_id, host,
        |    CASE WHEN array_to_string(ls[len(ls)-1:], '.')
        |        IN ('co.uk', 'github.io', 'ca.us')
        |      THEN array_to_string(ls[len(ls)-2:], '.')
        |      ELSE array_to_string(ls[len(ls)-1:], '.') END AS domain
        |  FROM l)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
        |FROM d GROUP BY 1""".stripMargin,
    // Same skeleton chain — fingerprint normalization then digit-run
    // fold, both regexp_replace calls GLOBAL ('g').
    "q156_template_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, text || ' order 123 total 45' AS t
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000 AS doc_id, text || ' order 999 total 7'
        |    AS t
        |  FROM documents WHERE doc_id % 3 = 0),
        |s AS (SELECT doc_id,
        |    md5(regexp_replace(
        |      regexp_replace(trim(lower(t)), '\s+', ' ', 'g'),
        |      '[0-9]+', '#', 'g')) AS fp
        |  FROM d)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id)
        |  AS kept_id
        |FROM s GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    // q66's relational bloom (same k=5 hash rows over m=8192 buckets,
    // same md5 bucket function keyed on the canonical string) over the
    // q133 canonical chains; the exact NOT IN rides along as truth.
    "q134_bloom_url_novelty" -> {
      val bkt = s"CAST(${h60("CAST(i AS VARCHAR) || '|' || canonical_url")}" +
        " % 8192 AS BIGINT)"
      s"""WITH ${urlChainSql("c",
              s"""SELECT doc_id, text,
                 |    ${urlSql("doc_id", "source")} AS url
                 |  FROM documents""".stripMargin)},
         |${urlChainSql("i",
              s"""SELECT nid AS doc_id, text,
                 |    ${urlSql("nid", "src")} AS url
                 |  FROM (SELECT doc_id + 1000000000 AS nid, text,
                 |      CASE WHEN doc_id % 4 = 0 THEN source || 'x'
                 |        ELSE source END AS src
                 |    FROM documents)""".stripMargin)},
         |cd AS (SELECT DISTINCT canonical_url FROM ccu),
         |ci AS (SELECT canonical_url, regexp_extract(
         |      regexp_extract(canonical_url, '^([^/?]+)', 1),
         |      '([^.]+\\.[^.]+)$$', 1) AS domain
         |  FROM (SELECT DISTINCT canonical_url FROM icu)),
         |reg AS (SELECT DISTINCT i, $bkt AS bucket
         |  FROM cd, range(5) r(i)),
         |pb AS (SELECT canonical_url, i, $bkt AS bucket
         |  FROM ci, range(5) r(i)),
         |mb AS (SELECT canonical_url,
         |    sum(CASE WHEN hit IS NULL THEN 0 ELSE 1 END) = 5
         |      AS might_contain
         |  FROM pb LEFT JOIN (SELECT i, bucket, 1 AS hit FROM reg)
         |    USING (i, bucket)
         |  GROUP BY 1),
         |ex AS (SELECT canonical_url, 1 AS novel_exact FROM ci
         |  WHERE canonical_url NOT IN (SELECT canonical_url FROM cd))
         |SELECT ci.domain, CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(sum(coalesce(ex.novel_exact, 0)) AS BIGINT)
         |    AS n_novel_exact,
         |  CAST(sum(CASE WHEN NOT mb.might_contain THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel_bloom
         |FROM ci JOIN mb USING (canonical_url)
         |  LEFT JOIN ex USING (canonical_url)
         |GROUP BY 1""".stripMargin
    },
    // Brute-force new×(old ∪ earlier-new) on STRING shingles (q28
    // pattern); the engine's prefix-index path must find exactly the
    // same matches.
    "q82_incremental_dedup" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |oldsh AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh FROM tk),
         |newtk AS (SELECT doc_id + 1000000000 AS doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN tk ELSE list_sort(tk) END AS tk
         |  FROM tk),
         |newsh AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh FROM newtk),
         |pairs AS (
         |  SELECT n.doc_id AS id_new, o.doc_id AS id_match
         |  FROM newsh n JOIN oldsh o ON
         |    round(len(list_intersect(n.sh, o.sh)) * 1.0 /
         |      (len(n.sh) + len(o.sh) - len(list_intersect(n.sh, o.sh))), 4)
         |      >= 0.5
         |  UNION ALL
         |  SELECT a.doc_id AS id_new, b.doc_id AS id_match
         |  FROM newsh a JOIN newsh b ON a.doc_id > b.doc_id AND
         |    round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
         |      >= 0.5)
         |SELECT n.doc_id,
         |  CAST(coalesce(p.n_dups, 0) AS BIGINT) AS n_dups,
         |  CAST(coalesce(p.first_dup, -1) AS BIGINT) AS first_dup
         |FROM newsh n LEFT JOIN (
         |  SELECT id_new, count(*) AS n_dups, min(id_match) AS first_dup
         |  FROM pairs GROUP BY 1) p ON n.doc_id = p.id_new""".stripMargin,
    // NO blocking predicate (the engine's segment blocking is
    // recall-complete, so blocked must equal unblocked truth):
    // all-pairs levenshtein ≤ 1, asymmetric variants→clean probe,
    // struct-min best match, singletons via the left join.
    "q102_entity_resolution" ->
      """WITH p0 AS (SELECT p_partkey AS id, p_name AS name FROM part),
        |pr AS (SELECT id + 2000000000 AS id,
        |    substr(name, 1, CAST(id % length(name) AS INT))
        |      || substr(name, CAST(id % length(name) AS INT) + 2) AS name
        |  FROM p0),
        |m AS (SELECT pr.id AS vid,
        |    min({'d': CAST(levenshtein(pr.name, p0.name) AS BIGINT),
        |        'r': CAST(p0.id AS BIGINT)}) AS bk
        |  FROM pr JOIN p0 ON levenshtein(pr.name, p0.name) <= 1
        |  GROUP BY 1),
        |assigned AS (
        |  SELECT id, id AS canonical FROM p0
        |  UNION ALL
        |  SELECT pr.id, coalesce((m.bk).r, pr.id) AS canonical
        |  FROM pr LEFT JOIN m ON pr.id = m.vid)
        |SELECT canonical, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM assigned GROUP BY 1""".stripMargin,
    // Brute-force all-pairs containment on STRING shingles (q28's
    // hash-transparency argument); same round-then-threshold order.
    "q101_containment" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |tgt AS (SELECT doc_id AS id_t, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh FROM tk),
         |ptk AS (SELECT doc_id + 2000000000 AS id_p, tk[1 : 12] AS tk FROM tk),
         |prb AS (SELECT id_p, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh FROM ptk)
         |SELECT id_p, id_t, cont FROM (
         |  SELECT id_p, id_t,
         |    round(len(list_intersect(p.sh, t.sh)) * 1.0 / len(p.sh), 4)
         |      AS cont
         |  FROM prb p CROSS JOIN tgt t WHERE len(p.sh) > 0)
         |WHERE cont >= 0.8""".stripMargin,
    // The union of the two blocking passes IS the OR of their block
    // predicates (pair-deduped); same ±1 band, thresholded verify,
    // BIGINT best-key packing as q85.
    "q105_fuzzy_multiblock" ->
      """WITH probes AS (SELECT p_partkey + 2000000000 AS probe_id,
        |    CASE WHEN p_partkey % 2 = 0 THEN substr(p_name, 2)
        |      ELSE substr(p_name, 1, length(p_name) - 1) END AS pn
        |  FROM part),
        |m AS (SELECT probe_id,
        |    count(*) AS n_matches,
        |    min({'d': CAST(levenshtein(pn, p_name) AS BIGINT),
        |        'r': CAST(p_partkey AS BIGINT)}) AS bk
        |  FROM probes JOIN part ON
        |    (substr(pn, 1, 1) = substr(p_name, 1, 1)
        |     OR substr(pn, length(pn)) = substr(p_name, length(p_name)))
        |    AND abs(length(pn) - length(p_name)) <= 1
        |    AND levenshtein(pn, p_name) <= 1
        |  GROUP BY 1)
        |SELECT p.probe_id,
        |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  coalesce((m.bk).d, -1) AS best_dist,
        |  coalesce((m.bk).r, -1) AS best_ref
        |FROM probes p LEFT JOIN m ON p.probe_id = m.probe_id""".stripMargin,
    // Batch probes snapshot ∪ earlier-batch rows: the ref side is old
    // (id < 2000000000) OR a smaller batch id — old×old pairs never form.
    "q106_incremental_er" ->
      """WITH p0 AS (SELECT p_partkey AS id, p_name AS name FROM part),
        |b AS (SELECT id + 2000000000 AS id,
        |    substr(name, 1, CAST(id % length(name) AS INT))
        |      || substr(name, CAST(id % length(name) AS INT) + 2) AS name
        |  FROM p0),
        |u AS (SELECT * FROM p0 UNION ALL SELECT * FROM b),
        |pairs AS (SELECT b.id AS probe_id, u.id AS ref_id,
        |    levenshtein(b.name, u.name) AS dist
        |  FROM b JOIN u ON substr(b.name, 1, 1) = substr(u.name, 1, 1)
        |    AND abs(length(b.name) - length(u.name)) <= 1
        |    AND levenshtein(b.name, u.name) <= 1
        |    AND (u.id < 2000000000 OR u.id < b.id)),
        |m AS (SELECT probe_id,
        |    sum(CASE WHEN ref_id < 2000000000 THEN 1 ELSE 0 END) AS n_old,
        |    sum(CASE WHEN ref_id >= 2000000000 THEN 1 ELSE 0 END) AS n_new,
        |    min({'d': CAST(dist AS BIGINT), 'r': CAST(ref_id AS BIGINT)}) AS bk
        |  FROM pairs GROUP BY 1)
        |SELECT b.id AS probe_id,
        |  CAST(coalesce(m.n_old, 0) AS BIGINT) AS n_old,
        |  CAST(coalesce(m.n_new, 0) AS BIGINT) AS n_new,
        |  coalesce((m.bk).r, -1) AS best_ref
        |FROM b LEFT JOIN m ON b.id = m.probe_id""".stripMargin,
    // Truth = all-pairs lev<=1 on the sample; blocked = the engine's
    // block predicate over the same pairs; blocked ⊆ truth.
    "q107_blocking_recall" ->
      s"""WITH s AS (SELECT p_partkey AS id, p_name AS name FROM part
        |           ORDER BY ${h60("CAST(p_partkey AS VARCHAR)")}, p_partkey
        |           LIMIT 500),
        |pr AS (SELECT id + 2000000000 AS id,
        |    substr(name, 1, CAST(id % length(name) AS INT))
        |      || substr(name, CAST(id % length(name) AS INT) + 2) AS name
        |  FROM s),
        |tr AS (SELECT count(*) AS n_true FROM pr, s
        |       WHERE levenshtein(pr.name, s.name) <= 1),
        |bl AS (SELECT count(*) AS n_blocked FROM pr JOIN s
        |  ON substr(pr.name, 1, 1) = substr(s.name, 1, 1)
        |    AND abs(length(pr.name) - length(s.name)) <= 1
        |    AND levenshtein(pr.name, s.name) <= 1)
        |SELECT CAST(n_true AS BIGINT) AS n_true,
        |  CAST(n_blocked AS BIGINT) AS n_blocked,
        |  CAST(round(CAST(CAST(n_blocked AS DOUBLE) / n_true
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall
        |FROM tr, bl""".stripMargin,
    // NO blocking predicate: plain all-pairs truth — recall-complete
    // blocking means the engine's blocked result must equal it exactly.
    "q109_fuzzy_segments" ->
      """WITH p0 AS (SELECT p_partkey AS id, p_name AS name FROM part),
        |probes AS (SELECT id + 2000000000 AS probe_id,
        |    substr(name, 1, CAST(id % length(name) AS INT))
        |      || substr(name, CAST(id % length(name) AS INT) + 2) AS pn
        |  FROM p0),
        |m AS (SELECT probe_id,
        |    count(*) AS n_matches,
        |    min({'d': CAST(levenshtein(pn, name) AS BIGINT), 'r': CAST(id AS BIGINT)}) AS bk
        |  FROM probes JOIN p0 ON levenshtein(pn, name) <= 1
        |  GROUP BY 1)
        |SELECT p.probe_id,
        |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  coalesce((m.bk).d, -1) AS best_dist,
        |  coalesce((m.bk).r, -1) AS best_ref
        |FROM probes p LEFT JOIN m ON p.probe_id = m.probe_id""".stripMargin,
    // Slice-equality banding (md5-bucket equality ≡ slice equality, the
    // q27 transparency argument) with the incremental asymmetry: new
    // probes old ∪ earlier-new; exact Jaccard on string shingles.
    "q114_incremental_lsh" ->
      s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |oldsh AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh FROM tk),
         |newtk AS (SELECT doc_id + 1000000000 AS doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN tk ELSE list_sort(tk) END AS tk
         |  FROM tk),
         |newsh AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh FROM newtk),
         |sigo AS (SELECT doc_id, sh, ${minhashSql(16)} AS sig, 0 AS is_new
         |  FROM oldsh),
         |sign AS (SELECT doc_id, sh, ${minhashSql(16)} AS sig, 1 AS is_new
         |  FROM newsh),
         |allsig AS (SELECT * FROM sigo UNION ALL SELECT * FROM sign)
         |SELECT a.doc_id AS id_new, b.doc_id AS id_match,
         |  round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
         |    AS jac
         |FROM sign a JOIN allsig b
         |  ON (b.is_new = 0 OR b.doc_id < a.doc_id)
         |  AND (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
         |    OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16])""".stripMargin,
    // Identical corruption, blocking predicate (first char + |Δlen|≤2
    // == the exploded length band), levenshtein, and BIGINT best-key.
    "q85_fuzzy_match" ->
      """WITH probes AS (SELECT p_partkey + 2000000000 AS probe_id,
        |    substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |      || substr(p_name,
        |        CAST(p_partkey % length(p_name) AS INT) + 2) AS pn
        |  FROM part),
        |m AS (SELECT probe_id,
        |    count(*) AS n_matches,
        |    min({'d': CAST(levenshtein(pn, p_name) AS BIGINT),
        |        'r': CAST(p_partkey AS BIGINT)}) AS bk
        |  FROM probes JOIN part ON
        |    substr(pn, 1, 1) = substr(p_name, 1, 1)
        |    AND abs(length(pn) - length(p_name)) <= 2
        |    AND levenshtein(pn, p_name) <= 2
        |  GROUP BY 1)
        |SELECT p.probe_id,
        |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  coalesce((m.bk).d, -1) AS best_dist,
        |  coalesce((m.bk).r, -1) AS best_ref
        |FROM probes p LEFT JOIN m ON p.probe_id = m.probe_id""".stripMargin,
    "q26_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |  count(*) AS n_copies, min(doc_id) AS keep_id
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000000, text FROM documents)
        |GROUP BY 1""".stripMargin,
    "q27_minhash_lsh" ->
      s"""WITH u AS ($docsDupSql),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM u),
         |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
         |         ELSE $shingleSql END AS sh FROM tk),
         |sig AS (SELECT doc_id, sh, ${minhashSql(16)} AS sig FROM sh)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  AND (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
         |    OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16])""".stripMargin,
    // Same half-corpus, q28's brute-force truth, q27's band-equality
    // candidate rule, exact integer counts and the two snapped ratios.
    "q213_lsh_audit" ->
      s"""WITH u AS (SELECT * FROM ($docsDupSql)
         |  WHERE (doc_id % 1000000000) % 4 = 0),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM u),
         |shl AS (SELECT doc_id, CASE WHEN len(tk) < 3
         |    THEN CAST([] AS VARCHAR[]) ELSE $shingleSql END AS sh
         |  FROM tk),
         |hs AS (SELECT doc_id, sh FROM shl WHERE len(sh) > 0),
         |sig AS (SELECT doc_id, sh, ${minhashSql(16)} AS sig FROM hs),
         |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
         |  WHERE round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
         |    4) >= 0.5),
         |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  AND (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
         |    OR a.sig[9:12] = b.sig[9:12]
         |    OR a.sig[13:16] = b.sig[13:16])),
         |hits AS (SELECT c.* FROM cand c JOIN truth t
         |  ON c.id_a = t.id_a AND c.id_b = t.id_b),
         |cts AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
         |    (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits)
         |SELECT CAST(4 AS INT) AS bands, CAST(4 AS INT) AS rows_per_band,
         |  n_truth, n_cand, n_hits,
         |  CASE WHEN n_truth = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n_hits AS DOUBLE)
         |      / CAST(n_truth AS DOUBLE) AS DECIMAL(20,10)), 6)
         |      AS DOUBLE) END AS recall,
         |  CASE WHEN n_cand = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n_cand - n_hits AS DOUBLE)
         |      / CAST(n_cand AS DOUBLE) AS DECIMAL(20,10)), 6)
         |      AS DOUBLE) END AS waste_rate
         |FROM cts""".stripMargin,
    "q28_jaccard_pairs" ->
      s"""WITH u AS ($docsDupSql),
         |tk AS (SELECT doc_id, $tokSql AS tk FROM u),
         |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
         |         ELSE $shingleSql END AS sh FROM tk)
         |SELECT id_a, id_b, jac FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE jac >= 0.5""".stripMargin,
    "q29_simhash" ->
      s"""WITH u AS ($docsDupSql),
         |sk AS (SELECT doc_id,
         |  CAST(list_sum([CASE WHEN 2 * len(list_filter(tk, t -> ((${h60("t")} >> i) & 1) = 1)) > len(tk)
         |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END for i in range(0, 32)]) AS BIGINT) AS sk
         |  FROM (SELECT doc_id, $tokSql AS tk FROM u))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sk, b.sk)) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sk, b.sk)) <= 3""".stripMargin,
    // Same pair predicate as q30; clusters via recursive closure,
    // survivors = ids equal to their component min.
    "q73_semantic_dedup" ->
      s"""WITH RECURSIVE
         |e AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000 AS id,
         |    [CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.5
         |      ELSE CAST(embedding[i] AS DOUBLE) END
         |     for i in range(1, len(embedding) + 1)] AS embedding
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM e a JOIN e b ON a.id < b.id
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.9),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, ed.d FROM reach r JOIN edges ed ON r.d = ed.s),
         |comp AS (
         |  SELECT e.id, least(e.id, coalesce(mn.mn, e.id)) AS c
         |  FROM e LEFT JOIN
         |    (SELECT s AS id, min(d) AS mn FROM reach GROUP BY 1) mn
         |    USING (id))
         |SELECT CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(id) AS BIGINT) AS id_sum
         |FROM comp WHERE c = id""".stripMargin,
    // q123 = q73 with the candidate pairs restricted to vectors
    // sharing one of their 2 nearest coarse cells (the engine's
    // IVF-cell-blocked kernel): qc mirrors ivfProbeCells (rounded-
    // cos/cid probe ranking), bp the same-cell verify, the closure
    // runs over the BLOCKED pairs, and ep (plain all-pairs truth)
    // only feeds the recall ratio.
    "q123_semantic_dedup_ann" ->
      s"""WITH RECURSIVE
         |e AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000 AS id,
         |    [CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.5
         |      ELSE CAST(embedding[i] AS DOUBLE) END
         |     for i in range(1, len(embedding) + 1)] AS embedding
         |  FROM embeddings),
         |ct AS (
         |  SELECT vec_id AS cid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
         |  FROM embeddings WHERE vec_id < 16),
         |qc AS (SELECT qid, qv, cell FROM (
         |  SELECT v.id AS qid, v.embedding AS qv, ct.cid AS cell,
         |    row_number() OVER (PARTITION BY v.id
         |      ORDER BY round(${cosSql("v.embedding", "ct.cvec")}, 6) DESC,
         |        ct.cid) AS pr
         |  FROM e v CROSS JOIN ct)
         |  WHERE pr <= 2),
         |bp AS (SELECT DISTINCT a.qid AS id_a, b.qid AS id_b
         |  FROM qc a JOIN qc b ON a.cell = b.cell AND a.qid < b.qid
         |  WHERE round(${cosSql("a.qv", "b.qv")}, 6) >= 0.9),
         |ep AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM e a JOIN e b ON a.id < b.id
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.9),
         |edges AS (SELECT id_a AS s, id_b AS d FROM bp
         |          UNION SELECT id_b, id_a FROM bp),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, ed.d FROM reach r JOIN edges ed ON r.d = ed.s),
         |comp AS (
         |  SELECT e.id, least(e.id, coalesce(mn.mn, e.id)) AS cc
         |  FROM e LEFT JOIN
         |    (SELECT s AS id, min(d) AS mn FROM reach GROUP BY 1) mn
         |    USING (id)),
         |k AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
         |        CAST(sum(id) AS BIGINT) AS id_sum
         |      FROM comp WHERE cc = id),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_blocked FROM bp),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs_exact FROM ep)
         |SELECT k.n_kept, k.id_sum, nb.n_pairs_blocked, ne.n_pairs_exact,
         |  CAST(round(CAST(CAST(nb.n_pairs_blocked AS DOUBLE)
         |    / CAST(ne.n_pairs_exact AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS pair_recall
         |FROM k, nb, ne""".stripMargin,
    "q32_ann_lsh" ->
      s"""WITH bk AS (SELECT vec_id AS id, embedding, $bucketSql AS bucket
         |            FROM embeddings)
         |SELECT query_id, neighbor_id, sim, "rank" FROM (
         |  SELECT x.id AS query_id, y.id AS neighbor_id,
         |    round(${cosSql("x.embedding", "y.embedding")}, 6) AS sim,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY round(${cosSql("x.embedding", "y.embedding")}, 6) DESC, y.id) AS "rank"
         |  FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.id != y.id)
         |WHERE "rank" <= 5""".stripMargin,
    "q50_dup_clusters" ->
      """WITH dup AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000000, text FROM documents
        |  UNION ALL SELECT doc_id + 2000000000, text FROM documents),
        |fp AS (SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM dup)
        |SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY fp) AS component
        |FROM fp""".stripMargin,
    // Survivors derived independently of the engine's clustering: the
    // canonical member of an exact-dup cluster is min(doc_id) per
    // fingerprint, and singletons keep themselves.
    "q60_dedup_pipeline" ->
      s"""WITH dup AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL SELECT doc_id + 1000000000, text, lang FROM documents
         |  UNION ALL SELECT doc_id + 2000000000, text, lang FROM documents),
         |fp AS (SELECT doc_id, lang, text,
         |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM dup),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len($tokSql)) AS BIGINT) AS total_tokens
         |FROM fp JOIN keep USING (doc_id)
         |GROUP BY lang""".stripMargin,
    // Clusters recomputed INDEPENDENTLY via recursive transitive
    // closure; winners picked by a (quality desc, id asc) window.
    "q67_dedup_keep_best" ->
      s"""WITH RECURSIVE
         |u AS ($docsDupSql),
         |tk AS (SELECT doc_id, $tokSql AS tk, text FROM u),
         |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN CAST([] AS VARCHAR[])
         |         ELSE $shingleSql END AS sh FROM tk),
         |pairs AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      round(len(list_intersect(a.sh, b.sh)) * 1.0 /
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jac
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |  WHERE jac >= 0.5),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
         |comp AS (
         |  SELECT u.doc_id, least(u.doc_id, coalesce(mn.mn, u.doc_id)) AS c
         |  FROM u LEFT JOIN
         |    (SELECT s AS doc_id, min(d) AS mn FROM reach GROUP BY 1) mn
         |    USING (doc_id)),
         |q AS (
         |  SELECT u.doc_id, c,
         |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS q
         |  FROM u JOIN comp USING (doc_id)),
         |win AS (SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (
         |    PARTITION BY c ORDER BY q DESC, doc_id ASC) AS rn FROM q)
         |  WHERE rn = 1)
         |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM win""".stripMargin
  )
}
