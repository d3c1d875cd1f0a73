package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT substring deduplication kernel: a distributed token-level
  * SUFFIX ARRAY over the whole corpus via prefix doubling
  * (Manber–Myers 1990), plus LCP of SA-adjacent suffixes via
  * rank-table descent — the Lee et al. 2022 ("Deduplicating Training
  * Data Makes Language Models Better") machinery, re-expressed as
  * DataFrame rounds. Reference analog: none; this is the
  * beyond-reference EXACT span family next to the approximate ones
  * (winnowing [[Text.winnowingFingerprints]], shingle LSH
  * [[Dedup.lshCandidatePairs]]): those BOUND span overlap
  * probabilistically, the suffix array PROVES every repeated token
  * run and its exact length.
  *
  * Construction: docs concatenate (doc_id ascending) into one global
  * token sequence with ONE UNIQUE SENTINEL slot per document
  * appended after its last token. Sentinels rank below every real
  * token and ascend in doc order, so (a) no common prefix ever
  * crosses a document boundary (any window containing a sentinel is
  * globally unique), and (b) the SA order restricted to real
  * positions equals "sort doc-local suffixes lexicographically,
  * end-of-doc smallest, ties by doc order" — which is exactly what a
  * SQL oracle can replay by sorting separator-joined suffix strings.
  * Sentinel-start suffixes occupy the bottom `numDocs` ranks, so the
  * real-position SA index is simply `rank - numDocs`.
  *
  * Rank semantics are COUNT-BELOW, not dense: rank_j(i) = |{i' :
  * window_j(i') < window_j(i)}| — tied windows share their group's
  * start. That choice is the scale lever of the whole construction:
  * a position whose window is UNIQUE at round j keeps the exact same
  * count-below rank at every later round (extending a strictly
  * ordered window pair never reorders it, and i's tie set is empty),
  * so resolved positions FREEZE and each doubling round touches only
  * the still-tied groups — per-round work tracks the corpus's actual
  * remaining ambiguity (duplicated mass), not its size. Within a
  * tied group the refreshed rank is group-start + rows-below by the
  * successor rank, one windowed count PARTITIONED BY GROUP — never a
  * global window, never a corpus-wide re-rank, no join-back.
  *
  * Round ceiling: ⌈log₂(max doc slots)⌉, NOT log₂(corpus) — once the
  * window length covers the longest document every window contains a
  * sentinel and all ranks are provably distinct. A 100 TB corpus of
  * ≤64 Ki-token documents pays at most 16 rounds regardless of row
  * count, and the early-exit usually stops far sooner.
  *
  * Two depths, one loop ([[buildTo]]): the COMPLETE order ([[build]],
  * doubling to the sentinel bound) only for what needs every rank
  * distinct — the array itself and [[adjacentLcp]]'s exact lengths.
  * Every fixed-threshold question stops at window g: "does this
  * position's g-window occur anywhere else?" is `cnt > 1` in the
  * window-g frame ([[repeatedWindows]]), because a position's longest
  * match with its SA neighbours reaches g exactly when its g-window
  * ties, and the union of [p, p + longest match) over those positions
  * equals the union of [p, p + g). Duplicate coverage, repeated-gram
  * census, excision and the persisted probe index all read that frame.
  */
object SuffixArray {

  /** Global position layout: one row per token slot plus one sentinel
    * slot per doc. `rank` is the round-0 count-below rank (sentinels:
    * their doc order index; real tokens: numDocs + occurrences of
    * strictly smaller tokens), `cnt` the tie-group size (1 = already
    * resolved). `vocab` is the (token, cnt, rank) frame those initial
    * ranks came from — the level-0 face an increment rank-descends
    * against ([[persistProbeIndex]]).
    */
  final case class Corpus(positions: DataFrame, numDocs: Long,
                          numSlots: Long, maxSlots: Long,
                          vocab: DataFrame)

  /** `sa` is the final positions frame (from [[build]]: every rank
    * distinct = the SA index; from [[buildTo]]: the count-below ranks
    * and tie-group sizes `cnt` at the last window reached); `tables`
    * holds (windowLen, frame(gpos, rank)) for every power of two
    * reached — the LCP descent's and the probe faces' witness set, each
    * the EXACT count-below rank at its window length. `owned` are the
    * eagerly localCheckpointed frames backing them:
    * [[Built.unpersistAll]] frees all of them once nothing downstream
    * reads the build, [[Built.finalFrame]] all but `sa`.
    */
  final case class Built(sa: DataFrame, tables: Seq[(Long, DataFrame)],
                         owned: Seq[DataFrame]) {
    def unpersistAll(): Unit = owned.foreach(Frames.release)

    /** `sa`, with every other round's checkpoint released — for a
      * result that reads the final frame alone, so only `sa`'s blocks
      * outlive the build.
      */
    def finalFrame(): DataFrame = {
      owned.filterNot(_ eq sa).foreach(Frames.release)
      sa
    }
  }

  /** Tokenize + lay out the global sequence. `docs` must carry one row
    * per distinct id. One docs-sized aggregate action computes the
    * corpus stats; slot offsets come from the two-level prefix kernel
    * (counts ordered by id) and initial token ranks from a
    * vocabulary-sized occurrence prefix sum — never a global window
    * over data rows.
    */
  def corpus(docs: DataFrame, idCol: Column, textCol: Column): Corpus = {
    val toks = docs.select(idCol.cast("long").as("doc_id"),
      Text.tokens(textCol).as("tk"))
    val counts = toks.select(col("doc_id"),
      (size(col("tk")) + 1).cast("long").as("slots"), lit(1L).as("one"))
    val st = counts.agg(count(lit(1)).as("d"),
      coalesce(sum(col("slots")), lit(0L)).as("n"),
      coalesce(max(col("slots")), lit(1L)).as("m")).head()
    val (numDocs, numSlots, maxSlots) =
      (st.getLong(0), st.getLong(1), st.getLong(2))
    val offs = Ranks.withRunningBelow(counts, "doc_id", 1024L,
        Seq("slots", "one"))
      .select(col("doc_id"), (col("slots") - 1).as("n"),
        col("slots_below").as("goff"), col("one_below").as("doc_idx"))
    // vocab occurrence prefix sum: a vocabulary-sized single-partition
    // window (the accepted bounded walk — distinct tokens, never data
    // rows); count-below rank = numDocs + occurrences strictly below
    val wv = Window.partitionBy(Cols.onePartitionKey(col("token")))
      .orderBy(col("token"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val vr = toks.select(explode(col("tk")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .select(col("token"), col("cnt"),
        (coalesce(sum(col("cnt")).over(wv), lit(0L)) + numDocs)
          .as("rank"))
    val real = toks.join(offs, "doc_id")
      .select(col("doc_id"), col("goff"),
        posexplode(col("tk")).as(Seq("pos", "token")))
      .join(vr, "token")
      .select((col("goff") + col("pos")).as("gpos"), col("doc_id"),
        col("pos").cast("long").as("pos"), lit(false).as("sent"),
        col("rank"), col("cnt"))
    val sents = offs.select((col("goff") + col("n")).as("gpos"),
      col("doc_id"), col("n").as("pos"), lit(true).as("sent"),
      col("doc_idx").as("rank"), lit(1L).as("cnt"))
    Corpus(real.unionByName(sents), numDocs, numSlots, maxSlots, vr)
  }

  /** Bounded read of the observed unresolved count. `obs.get` blocks
    * INDEFINITELY; it was safe only because the eager localCheckpoint
    * routes through withAction and fires the metric listener (r15
    * advice: a lazy-checkpoint refactor or a Spark listener change
    * would hang the build loop forever). The listener is async, so
    * wait on the observation's own future under a deadline — no
    * thread of ours is left blocked when it never completes; past the
    * deadline fall back to counting the checkpointed frame directly —
    * one extra job in a pathological case, never a hang.
    */
  private[graft] def unresolvedOf(obs: org.apache.spark.sql.Observation,
                                  fallback: => Long): Long = {
    import scala.concurrent.Await
    import scala.concurrent.duration.DurationInt
    try {
      val row = Await.result(obs.future, 30.seconds)
      // a sum over no rows is null: nothing is unresolved
      Option(row.getAs[java.lang.Long]("unresolved")).fold(0L)(_.longValue)
    } catch {
      case _: java.util.concurrent.TimeoutException => fallback
    }
  }

  /** `df` eagerly localCheckpointed, with its count of still-tied rows
    * (`cnt > 1`) observed during that same materialization — a
    * separate count would cost one more scheduler round per doubling
    * round, and at 100 TB one more full pass over the rank frame.
    */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val held = df
      .observe(obs, sum(when(col("cnt") > 1, 1L).otherwise(0L))
        .as("unresolved"))
      .localCheckpoint(true)
    (held, unresolvedOf(obs, held.filter(col("cnt") > 1).count()))
  }

  /** The doubling loop behind [[build]] and [[buildTo]] (see the object
    * scaladoc for the count-below/freeze mechanics): doubles the window
    * while it is below `maxLen` and some group still ties, and each
    * round eagerly localCheckpoints — the measured iterative-op
    * convention. Returns the build and its count of still-tied rows. A
    * narrow (gpos, rank, cnt)-only variant with an end join-back for
    * the identity columns was measured and REJECTED: the re-attach
    * join's own exchange+checkpoint cost more than the narrower
    * tied-side shuffles saved (BenchSome q356–q373 sum 61.0 s vs
    * 52.2 s), and the geometric tie shrinkage means round 1 is the only
    * wide shuffle that matters.
    */
  private def doublingRounds(c: Corpus, maxLen: Long): (Built, Long) = {
    var (cur, unresolved) = checkpointCounted(c.positions)
    val owned = ArrayBuffer[DataFrame](cur)
    val tables = ArrayBuffer[(Long, DataFrame)](
      (1L, cur.select(col("gpos"), col("rank"))))
    var len = 1L
    while (len < maxLen && unresolved > 0) {
      // successor ranks live on the FULL frame (frozen ranks are exact
      // at every later round); only tied rows pair and re-rank. AQE
      // broadcasts the tied side once it shrinks under the threshold.
      val nxt = cur.select((col("gpos") - len).as("gpos"),
        col("rank").as("r2"))
      val un = cur.filter(col("cnt") > 1)
        .join(nxt, Seq("gpos"), "left")
        .withColumn("r2f", coalesce(col("r2"), lit(-1L)))
      val wg = Window.partitionBy(col("rank")).orderBy(col("r2f"))
      val upd = un
        .withColumn("below", count(lit(1)).over(
          wg.rangeBetween(Window.unboundedPreceding, -1)))
        .withColumn("ties", count(lit(1)).over(wg.rangeBetween(0, 0)))
        .select(col("gpos"), col("doc_id"), col("pos"), col("sent"),
          (col("rank") + col("below")).as("rank"),
          col("ties").as("cnt"))
      val (next, left) = checkpointCounted(
        cur.filter(col("cnt") === 1).unionByName(upd))
      cur = next
      unresolved = left
      owned += cur
      len *= 2
      tables += ((len, cur.select(col("gpos"), col("rank"))))
    }
    (Built(cur, tables.toSeq, owned.toSeq), unresolved)
  }

  /** The complete suffix array: [[buildTo]] at the sentinel bound, the
    * smallest power of two ≥ the longest document's slot count. At that
    * window every window holds a unique sentinel, so every rank is
    * distinct — checked, not assumed.
    */
  def build(c: Corpus): Built = {
    val bound =
      if (c.maxSlots <= 1) 1L
      else java.lang.Long.highestOneBit(c.maxSlots - 1) << 1
    val (b, unresolved) = doublingRounds(c, bound)
    require(unresolved == 0, s"suffix ranks not distinct after " +
      s"${b.tables.size - 1} rounds ($unresolved tied)")
    b
  }

  /** Prefix doubling to a FIXED window length, WITHOUT requiring full
    * rank distinctness — all a threshold-g question needs: the
    * count-below rank at window w is the same value whether or not
    * longer windows still tie, so stopping at w = `windowLen` yields
    * tables bit-identical to [[build]]'s first log₂ w rounds at a
    * fraction of the rounds (an 8-token threshold pays 3 rounds
    * whatever the corpus's longest repeat). Early-exits when ranks
    * resolve sooner; `sa` is the last frame (NOT necessarily distinct —
    * callers needing the full array use [[build]]).
    */
  def buildTo(c: Corpus, windowLen: Long): Built = {
    require(windowLen >= 1 && (windowLen & (windowLen - 1)) == 0,
      s"windowLen must be a power of two, got $windowLen")
    doublingRounds(c, windowLen)._1
  }

  /** Every REPEATED g-window: (doc_id, pos, rank, cnt) for each real
    * position whose g-token window occurs at least twice in the corpus
    * (same doc included) — `cnt > 1` in [[buildTo]]'s window-g frame.
    * `rank` identifies the window (count-below ranks are injective on
    * window values) and `cnt` is its exact occurrence count. A window
    * that runs past its document's end holds that document's unique
    * sentinel and never ties, so every row is an in-document window;
    * when ranks resolve before window g, nothing repeats and the frame
    * is empty. As (pos, g) spans these rows feed [[dupSpanCoverage]]
    * and [[cutSpans]]; grouped by `rank` they are the repeated-gram
    * census. Only the final frame's checkpoint is kept.
    */
  def repeatedWindows(c: Corpus, g: Long): DataFrame =
    buildTo(c, g).finalFrame()
      .filter(!col("sent") && col("cnt") > 1)
      .select(col("doc_id"), col("pos"), col("rank"), col("cnt"))

  /** LCP between SA-adjacent REAL suffixes via rank-table descent:
    * walk window lengths 2^(rounds−1)…1 high-to-low, advancing both
    * cursors whenever the two windows' ranks match (count-below rank
    * equality ⟺ window equality, and any window containing a sentinel
    * is unique, so matches never cross a doc end — the LCP is
    * doc-local by construction). O(log maxDoc) join rounds over the
    * N−1 pairs, never a quadratic compare. Output: (rank_sa, doc_a,
    * pos_a, doc_b, pos_b, lcp) where the `a` suffix holds SA index
    * rank_sa and `b` is its successor.
    *
    * Every third level is eagerly localCheckpointed, and each such
    * checkpoint is released once the next one is taken. The last one,
    * which the returned pairs read, is returned beside them: release it
    * once the pairs are materialized.
    */
  def adjacentLcp(b: Built, numDocs: Long): (DataFrame, Option[DataFrame]) = {
    val real = b.sa.filter(!col("sent"))
      .select((col("rank") - numDocs).as("rank_sa"), col("gpos"),
        col("doc_id"), col("pos"))
    val right = real.select((col("rank_sa") - 1).as("rank_sa"),
      col("gpos").as("gpos_b"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"))
    var p = real.join(right, "rank_sa")
      .select(col("rank_sa"), col("gpos").as("gpos_a"),
        col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("gpos_b"), col("doc_b"), col("pos_b"))
      .withColumn("lcp", lit(0L))
    val descent = b.tables.dropRight(1).reverse
    var pinned = Option.empty[DataFrame]
    for (((len, tbl), i) <- descent.zipWithIndex) {
      val ra = tbl.select(col("gpos").as("qa"), col("rank").as("rka"))
      val rb = tbl.select(col("gpos").as("qb"), col("rank").as("rkb"))
      p = p.withColumn("qa", col("gpos_a") + col("lcp"))
        .withColumn("qb", col("gpos_b") + col("lcp"))
        .join(ra, Seq("qa"), "left")
        .join(rb, Seq("qb"), "left")
        .withColumn("lcp", when(col("rka") === col("rkb"),
          col("lcp") + len).otherwise(col("lcp")))
        .drop("qa", "qb", "rka", "rkb")
      if ((i + 1) % 3 == 0 && i != descent.size - 1) {
        p = p.localCheckpoint(true)
        pinned.foreach(Frames.release)
        pinned = Some(p)
      }
    }
    (p, pinned)
  }

  /** Lee et al.'s dedup-mass read over `spans` (doc_id, pos, l) — the
    * repeated runs, one row per run start (for the queries the
    * [[repeatedWindows]] positions with l = g): per doc, how many
    * positions START a repeated run (`dup_starts`) and how many TOKENS
    * lie inside the union of the runs. Interval union via a per-doc
    * running max of span ends — span-sized, partitioned by doc, never
    * global. `docTokens` must be (doc_id, n_tokens); docs with no run
    * report zeros.
    */
  def dupSpanCoverage(spans: DataFrame, docTokens: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = spans
      .withColumn("prev_end", max(col("pos") + col("l")).over(w))
      .withColumn("add", greatest(lit(0L), col("pos") + col("l") -
        greatest(coalesce(col("prev_end"), col("pos")), col("pos"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_starts"),
        sum(col("add")).as("covered_tokens"))
    docTokens.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_starts"), lit(0L)).as("dup_starts"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") === 0, lit(null)).otherwise(
          round((coalesce(col("covered_tokens"), lit(0L))
            .cast("double") / col("n_tokens").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double"))
          .as("covered_ratio"))
  }

  /** EXACT duplicate-span EXCISION — the step a dedup user actually
    * runs after the census: REWRITE every document with each token
    * inside a span of `spans` (doc_id, pos, l) removed. One pass serves
    * both faces: the batch cut (spans = the [[repeatedWindows]]
    * positions with l = g, the Lee et al. 2022 cut at minLen = g
    * applied corpus-wide) and the incremental one
    * ([[exciseAgainstIndex]], spans = the probe hits). Removing every
    * token inside some duplicated g-window is the whole rule, which is
    * what lets a brute-force gram-count oracle verify the rewrite
    * byte-exactly.
    *
    * OVERLAPPING spans COALESCE before any token is cut — coverage is
    * the per-doc running max of span ends interleaved with the token
    * stream in ONE ordered pass (a span row sorts before the token at
    * its own start), never an exploded position set, so a span of
    * length L costs one row, not L.
    *
    * Output one row per doc: (doc_id, n_tokens, n_removed, clean_fp)
    * — clean_fp the md5 of the kept tokens space-joined in original
    * order (the [[Dedup.scrubBoilerplateLines]] clean_fp convention;
    * zero-token and fully-excised docs hash the empty string).
    * `docToks` is (doc_id, tk: array&lt;string&gt;) — the same
    * tokenization the spans were found in.
    *
    * Scale shape: the coverage window partitions by doc (doc-sized
    * partitions, the interval-union convention); reassembly is one
    * sort_array(collect_list) per doc — a doc-sized array, the same
    * bound as the text itself. Nothing corpus-global, nothing
    * collected.
    */
  def cutSpans(spans: DataFrame, docToks: DataFrame): DataFrame = {
    val toks = docToks
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token"), lit(0).as("is_span"),
        lit(null).cast("long").as("end"))
    val spanRows = spans.select(col("doc_id"), col("pos"),
      lit(null).cast("string").as("token"), lit(1).as("is_span"),
      (col("pos") + col("l")).as("end"))
    // span rows sort BEFORE the token at their own start (is_span
    // desc), so a span covers its first token; running max of ends =
    // the coalesced interval union
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("pos"), col("is_span").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val flagged = toks.unionByName(spanRows)
      .withColumn("cum_end", max(col("end")).over(w))
      .filter(col("is_span") === 0)
      .withColumn("covered",
        coalesce(col("cum_end") > col("pos"), lit(false)))
    val agg = flagged.groupBy(col("doc_id"))
      .agg(sum(when(col("covered"), 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(transform(sort_array(collect_list(
            when(!col("covered"), struct(col("pos"), col("token"))))),
          x => x.getField("token")), " ")).as("clean_fp"))
    docToks
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
  }

  /** INCREMENTAL span excision against a persisted train index — the
    * q372 rewrite at the q373 increment contract: every token of an
    * increment document that lies inside a g-gram OCCURRING IN TRAIN
    * is removed — a train match of length L ≥ g is tiled by its
    * g-grams, so the coalesced cover equals the Lee et al. cut at
    * minLen = g against the train corpus, with NO rebuild and cost
    * tracking the increment ([[probeGramRanks]]: log₂ g inner joins
    * against the persisted doubling maps; an absent window drops
    * immediately). Each hit position is one (pos, g) span row into
    * [[cutSpans]] — the same formulation as the batch cut, whose spans
    * are the [[repeatedWindows]] positions at (pos, g). Output per
    * increment doc: (doc_id, n_tokens, n_removed, clean_fp).
    */
  def exciseAgainstIndex(index: ProbeIndex, docs: DataFrame,
                         idCol: Column, textCol: Column): DataFrame = {
    val spans = probeGramRanks(index, docs, idCol, textCol)
      .select(col("doc_id"), col("pos"), lit(index.g).as("l"))
    val docToks = docs.select(idCol.cast("long").as("doc_id"),
      Text.tokens(textCol).as("tk"))
    cutSpans(spans, docToks)
  }

  /** The level table valid at window length `len` (exactly the stored
    * frame, or — past the last doubling round — the final frame: once
    * every rank is distinct a longer window can never reorder or tie,
    * so the frozen ranks stay exact count-below ranks at every length).
    */
  private def tableAt(b: Built, len: Long): DataFrame =
    b.tables.find(_._1 == len).map(_._2).getOrElse {
      require(b.tables.last._1 <= len,
        s"no rank table at or below window length $len")
      b.tables.last._2
    }

  /** Persist the PROBE-FACING slice of a built train index through
    * [[graft.sources.Snapshot]] — the incremental contract at the
    * exact-substring tier (the jaccard/LSH/fuzzy/cosine convention:
    * an increment probes the persisted structure; old×old is never
    * recomputed). A later increment needs exactly three faces to
    * rank-descend a NEW document against the train corpus up to
    * window length `g` (the decontamination threshold, a power of
    * two):
    *
    *   - `vocab`   (token, rank): level-0 count-below ranks.
    *   - `pairs_k` (r1, r2, rank), k = 1..log2(g): the DOUBLING MAPS
    *     — rank at window 2^k as a function of the two half-window
    *     ranks. Count-below ranks are injective on window values
    *     (w1 < w2 forces below(w2) ≥ below(w1) + occ(w1)), so the
    *     pair (r1, r2) identifies the 2^k-window exactly and a
    *     missing pair PROVES the window never occurs in train.
    *   - `occ`     (rank, doc_id, pos): every in-document train
    *     g-window occurrence (windows crossing a document end are
    *     dropped — they can never equal an increment window) — the
    *     occurrence face diagonal chaining and candidate retrieval
    *     read.
    *
    * Each face commits range-clustered on its probe key, so a point
    * probe prunes to few files ([[graft.sources.Snapshot.commit]]
    * clusterBy stats pruning); the tables are corpus-sized but
    * written ONCE per (re)build, amortized over every increment.
    */
  def persistProbeIndex(c: Corpus, b: Built, dir: String,
                        g: Long = 8L): Unit = {
    require(g >= 2 && (g & (g - 1)) == 0, s"g must be a power of two ≥ 2, got $g")
    val levels = (math.log(g.toDouble) / math.log(2.0)).round.toInt
    graft.sources.Snapshot.commit(
      c.vocab.select(col("token"), col("rank")), s"$dir/vocab",
      clusterBy = Some("token"))
    // all doubling maps land in ONE table partitioned by level — one
    // commit, and a probe prunes its level's dirs from the manifest
    // (5 snapshot round-trips per probe measured as the q380 gate's
    // dominant fixed cost before this)
    val pairs = (1 to levels).map(k =>
      pairFace(b, k).withColumn("k", lit(k)))
      .reduce(_ unionByName _)
    graft.sources.Snapshot.commit(pairs, s"$dir/pairs",
      partitionCol = Some("k"), clusterBy = Some("r1"))
    graft.sources.Snapshot.commit(occFace(b, g), s"$dir/occ",
      clusterBy = Some("rank"))
  }

  /** The level-k doubling map (r1, r2, rank): rank at window 2^k as a
    * function of the two half-window ranks — injective on window
    * values, so a missing pair PROVES the window never occurs in the
    * indexed corpus. Windows whose second half falls off the corpus
    * end can never match a probe window (both probe halves are real);
    * the inner joins drop them.
    */
  private def pairFace(b: Built, k: Int): DataFrame = {
    val half = 1L << (k - 1)
    val prev = tableAt(b, half)
    val next = tableAt(b, 1L << k)
    val shifted = prev.select((col("gpos") - half).as("gpos"),
      col("rank").as("r2"))
    prev.select(col("gpos"), col("rank").as("r1"))
      .join(shifted, Seq("gpos"))
      .join(next.select(col("gpos"), col("rank")), Seq("gpos"))
      .select(col("r1"), col("r2"), col("rank")).distinct()
  }

  /** The occurrence face (rank, doc_id, pos): every in-document
    * g-window occurrence of the indexed corpus (windows crossing a
    * document end dropped — they can never equal a probe window).
    */
  private def occFace(b: Built, g: Long): DataFrame = {
    val nTok = b.sa.filter(col("sent"))
      .select(col("doc_id"), col("pos").as("n_tok"))
    tableAt(b, g)
      .join(b.sa.filter(!col("sent"))
        .select(col("gpos"), col("doc_id"), col("pos")), Seq("gpos"))
      .join(nTok, Seq("doc_id"))
      .filter(col("pos") + g <= col("n_tok"))
      .select(col("rank"), col("doc_id"), col("pos"))
  }

  /** The probe faces computed IN MEMORY from a built train index — the
    * [[persistProbeIndex]] tables WITHOUT the snapshot write+read
    * round-trip, for a same-session single consumer (q360's gate
    * screen probes the train half once and discards the index; three
    * table commits + reads were pure I/O there). Faces stay LAZY: each
    * is consumed exactly once by a single [[decontaminateIncrement]] /
    * [[exciseAgainstIndex]] pass (the probe cascade materializes its
    * own levels), and they sit on the build's already-checkpointed
    * rank tables, so no extra materialization is warranted. Repeated
    * consumers (streams) should use [[persistProbeIndex]] +
    * [[loadProbeIndex]], which pin the faces. Same frames
    * byte-for-byte as a persist+load pair.
    */
  def probeFaces(c: Corpus, b: Built, g: Long = 8L): ProbeIndex = {
    require(g >= 2 && (g & (g - 1)) == 0, s"g must be a power of two ≥ 2, got $g")
    val levels = (math.log(g.toDouble) / math.log(2.0)).round.toInt
    ProbeIndex(c.vocab.select(col("token"), col("rank")),
      (1 to levels).map(k => pairFace(b, k)), occFace(b, g), g)
  }

  /** The probe faces loaded ONCE and pinned in memory — what every
    * repeated consumer (a stream's batches, a probe loop) should hold
    * instead of re-reading the snapshot per call. `unpersistAll`
    * releases the pins.
    */
  final case class ProbeIndex(vocab: DataFrame, pairs: Seq[DataFrame],
                              occ: DataFrame, g: Long) {
    def unpersistAll(): Unit = {
      vocab.unpersist(); pairs.foreach(_.unpersist())
      occ.unpersist(): Unit
    }
  }

  /** Load + persist the probe faces (level dirs pruned from the
    * manifest, one read per face).
    */
  def loadProbeIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String, g: Long = 8L): ProbeIndex = {
    require(g >= 2 && (g & (g - 1)) == 0, s"g must be a power of two ≥ 2, got $g")
    val levels = (math.log(g.toDouble) / math.log(2.0)).round.toInt
    val vocab = graft.sources.Snapshot.read(spark, s"$dir/vocab")
      .persist()
    val pairs = (1 to levels).map { k =>
      graft.sources.Snapshot.readPruned(spark, s"$dir/pairs",
        _ == k.toString).select(col("r1"), col("r2"), col("rank"))
        .persist()
    }
    val occ = graft.sources.Snapshot.read(spark, s"$dir/occ").persist()
    ProbeIndex(vocab, pairs, occ, g)
  }

  /** Rank-descend an increment against a persisted probe index: for
    * every g-gram of every increment document, the train corpus's
    * count-below rank of that window at length g — log2(g) equi-joins
    * of the increment's position frame against the persisted doubling
    * maps, each join INNER so an absent token/pair (a window with no
    * train occurrence) drops the position immediately and never pays
    * another round. Output (doc_id, pos, rank): exactly the increment
    * positions whose g-window occurs somewhere in train, with the
    * train rank identifying WHICH window. Cost is increment-sized:
    * the big sides are the persisted faces, clustered on the join key.
    * `materializeLevels` checkpoints each descent level (see the loop
    * comment).
    */
  def probeGramRanks(index: ProbeIndex, docs: DataFrame,
                     idCol: Column, textCol: Column,
                     materializeLevels: Boolean = false): DataFrame = {
    var cur = docs
      .select(idCol.cast("long").as("doc_id"),
        posexplode(Text.tokens(textCol)).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token"))
      .join(index.vocab.select(col("token"), col("rank")), Seq("token"))
      .select(col("doc_id"), col("pos"), col("rank"))
    for ((pk, i) <- index.pairs.zipWithIndex) {
      val half = 1L << i
      // each level SELF-JOINS cur on (doc_id, pos ± half); the shifted
      // side's pre-exchange projection differs, so ReusedExchange never
      // fires and a lazy cur recomputes its whole cascade on both
      // sides — 2^levels copies of the token→vocab join by the last
      // level. `materializeLevels` checkpoints each level once: worth
      // it when the PROBE side is corpus-sized (q360's eval half);
      // pure overhead (3 extra actions) when the probe is a small
      // increment or a stream batch, so the default stays lazy.
      val curM = if (materializeLevels) cur.localCheckpoint(true) else cur
      val right = curM.select(col("doc_id"), (col("pos") - half).as("pos"),
        col("rank").as("r2"))
      cur = curM.withColumnRenamed("rank", "r1")
        .join(right, Seq("doc_id", "pos"))
        .join(pk, Seq("r1", "r2"))
        .select(col("doc_id"), col("pos"), col("rank"))
    }
    cur
  }

  /** INCREMENTAL exact-span decontamination: score a NEW eval batch
    * against an existing train corpus WITHOUT rebuilding any suffix
    * array — probe, then DIAGONAL RUN CHAINING:
    *
    *   1. PROBE (increment-sized): [[probeGramRanks]] rank-descends
    *      every eval g-gram against the persisted doubling maps —
    *      hits carry the train rank identifying WHICH g-window.
    *   2. CHAIN: join hits to the occurrence face (rank → train doc,
    *      train pos) and group by the alignment DIAGONAL
    *      (eval doc, train doc, train_pos − eval_pos). Consecutive
    *      eval positions hitting one diagonal are overlapping aligned
    *      g-grams, i.e. ONE contiguous match: a maximal run p..q
    *      proves tokens [p, q+g) match [t, t+q−p+g) and the very next
    *      token mismatches (positions q+1..q+g−1 are already covered
    *      by the gram at q, so the first difference sits exactly at
    *      q+g — or the text ends). So the longest train match from
    *      position p via that diagonal is run_end(p) − p + g, and
    *      train_match(p) is the max over diagonals — EXACTLY the
    *      full-rebuild longest cross match (the segmented LCP scan
    *      over the combined train∪eval suffix array, which the specs
    *      compare against) whenever it is ≥ g, with no rebuild, no corpus-sized shuffle: the runs
    *      window partitions by diagonal (doc-bounded), never globally.
    *
    * Positions with no gram hit have NO train match of length ≥ g
    * (a ≥ g match tiles into aligned g-grams, so its first gram hits)
    * and report null — by construction exactly the positions a
    * threshold-g decontamination ignores. Cost tracks
    * Σ_eval-gram freq(gram): the increment and its grams' train
    * frequencies, independent of train corpus SIZE — boilerplate-hot
    * grams cost occurrence rows, never whole candidate documents.
    *
    * `evalDocs` carries (doc_id, text), ids disjoint from train.
    * Returns (doc_id, pos, train_match) for every eval position: the
    * full-rebuild longest cross match thresholded at g.
    */
  def decontaminateIncrement(index: ProbeIndex, evalDocs: DataFrame,
                             materializeLevels: Boolean = false)
      : DataFrame = {
    val g = index.g
    val hits = probeGramRanks(index, evalDocs, col("doc_id"),
      col("text"), materializeLevels)
    val occ = index.occ
    val pairs = hits.join(occ.select(col("rank"),
        col("doc_id").as("t_doc"), col("pos").as("t_pos")), Seq("rank"))
      .select(col("doc_id"), col("pos"), col("t_doc"),
        (col("t_pos") - col("pos")).as("diag"))
    val wd = Window.partitionBy(col("doc_id"), col("t_doc"), col("diag"))
      .orderBy(col("pos"))
    val runs = pairs
      .withColumn("island", col("pos") - row_number().over(wd))
      .withColumn("run_end", max(col("pos")).over(
        Window.partitionBy(col("doc_id"), col("t_doc"), col("diag"),
          col("island"))))
      .groupBy(col("doc_id"), col("pos"))
      .agg(max(col("run_end") - col("pos") + g).as("m"))
    evalDocs
      .select(col("doc_id").cast("long").as("doc_id"),
        posexplode(Text.tokens(col("text"))).as(Seq("pos", "token")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
      .join(runs, Seq("doc_id", "pos"), "left")
      .select(col("doc_id"), col("pos"), col("m").as("train_match"))
  }
}
