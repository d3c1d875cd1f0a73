package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash),
  * n-gram Jaccard, MinHash+LSH, SimHash. Designed for the 100 TB posture:
  *
  *  - exact dedup is one hash-aggregate on the fingerprint (map-side
  *    partial aggregation, single shuffle on a well-distributed key);
  *  - pairwise similarity is NEVER all-pairs at scale — the Jaccard path
  *    goes through an inverted shingle index (explode + equi-join on
  *    shingle), the MinHash path through LSH band buckets (explode + join
  *    on (band, bucket)), so cost tracks the number of truly colliding
  *    pairs, not n²;
  *  - all hashing is md5-derived and engine-portable (same values in any
  *    SQL engine), so results are reproducible across runs and clusters —
  *    no reliance on JVM hashCode or partition order.
  */
object Dedup {

  /** Mersenne prime 2^31-1: modulus of the universal-hash family. */
  val P: Long = 2147483647L

  /** Portable 60-bit content hash: first 15 hex digits of md5. */
  def hashLong(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** See Cols.bound — re-exported for local use. */
  def bound(value: Column)(body: Column => Column): Column =
    Cols.bound(value)(body)

  /** ONE-PERMUTATION HASHING with rotation densification (Li et al.
    * 2012; Shrivastava & Li 2014) — the k×-cheaper MinHash: instead
    * of k independent hashes PER ELEMENT, each element is hashed
    * ONCE and binned into slot h mod k; the signature is the per-slot
    * minimum, and an EMPTY slot borrows the value of the nearest
    * non-empty slot to its right (cyclic — the densification that
    * restores the unbiased collision probability). P(slot match) ≈
    * Jaccard exactly like classic MinHash, at 1/k the hashing cost —
    * the scale path when signatures dominate the dedup bill.
    * `elems` is (id, h) element hashes (one row per element
    * OCCURRENCE is fine — min absorbs duplicates); ids with no
    * elements emit nothing. Output: (id, slot, sig) — k rows per id.
    *
    * Shape: one (id, slot) min aggregate (map-side combinable), then
    * the k-slot densification runs per id on a MAP column (k² HOF
    * steps worst case, k is the signature width — a constant).
    */
  def ophDensifiedSignature(elems: DataFrame, id: Column, h: Column,
                            k: Int): DataFrame = {
    require(k >= 2 && k <= 512, "k must be in [2, 512]")
    val mins = elems
      .select(id.as("id"), pmod(h, lit(k)).cast("int").as("slot"),
        h.as("hv"))
      .groupBy(col("id"), col("slot")).agg(min(col("hv")).as("v"))
    val asMap = mins.groupBy(col("id"))
      .agg(map_from_entries(collect_list(
        struct(col("slot"), col("v")))).as("m"))
    asMap
      .select(col("id"), posexplode(
        transform(sequence(lit(0), lit(k - 1)), j => {
          val tmin = element_at(filter(sequence(lit(0), lit(k - 1)),
            t => element_at(col("m"),
              pmod(j + t, lit(k)).cast("int")).isNotNull), 1)
          element_at(col("m"), pmod(j + tmin, lit(k)).cast("int"))
        })).as(Seq("slot", "sig")))
      .select(col("id"), col("slot").cast("int").as("slot"),
        col("sig"))
  }

  /** Banded candidate pairs over [[ophDensifiedSignature]] tables —
    * the OPH scale path end to end: k slots split into `bands`
    * equal bands, a band's key is the md5 of its slot values in slot
    * order, ids sharing any (band, key) bucket become candidates.
    * Identical banding economics to [[lshCandidatePairs]] at 1/k the
    * signature cost. `sig` is (id, slot, sig) with slots 0..k−1.
    *
    * DENSITY GUARD (the q102 convention, found by the r15 scale
    * probe): a bucket of b members emits b² pair rows, and on a
    * near-dup-saturated corpus the boilerplate mega-bucket alone goes
    * quadratic — measured 3× corpus → 8.5× pairs but 167× join cost
    * (one skewed bucket's self-join). `maxBucket` drops buckets
    * larger than the cap BEFORE the self-join (a giant bucket is a
    * mega-cluster signal, not useful pair candidates — its members
    * still pair through their other, smaller bands when genuinely
    * similar). Default unlimited preserves exact banding semantics;
    * at corpus scale SET THE CAP.
    */
  def ophCandidatePairs(sig: DataFrame, k: Int, bands: Int,
                        maxBucket: Long = Long.MaxValue): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      "bands must divide the signature width")
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val bw = k / bands
    val keys = sig
      .withColumn("band", (col("slot") - pmod(col("slot"), lit(bw)))
        .cast("long") / bw)
      .groupBy(col("id"), col("band").cast("int").as("band"))
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct(col("slot"),
          col("sig")))), x => x.getField("sig").cast("string"))))
        .as("bkey"))
    val bounded =
      if (maxBucket == Long.MaxValue) keys
      else keys.withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bkey"))))
        .filter(col("__n") <= maxBucket).drop("__n")
    bounded.select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(bounded.select(col("band"), col("bkey"),
        col("id").as("id_b")), Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Native hashed word shingles (graftshim.HashedShingles): the
    * distinct 60-bit md5 hashes of every n-token window in one JVM pass —
    * value-equal to `transform(array_distinct(Text.wordShingles(t, n)),
    * hashLong)` (TextDedupSpec asserts it), ~an order of magnitude
    * cheaper than materializing shingle strings through Column md5.
    */
  def hashedShingles(toks: Column, n: Int): Column =
    graft.functions.NativeFunctions.hashedShingles(toks, n)

  /** Native MinHash signature over hashed shingles: k values, the i-th
    * the min over elements of ((2i+1)·(h mod P) + 7+13i) mod P; empty
    * sets sign to all-P (matches nothing). One primitive loop per doc.
    */
  def minhashSignatureNative(hashedShingles: Column, k: Int): Column =
    graft.functions.NativeFunctions.minhashSig(hashedShingles, k)

  /** LSH banding: signature of length bands·rowsPerBand → one bucket id
    * per band (md5 of the band's slice). Two documents collide iff some
    * band hashes identically.
    */
  def lshBandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    bound(sig)(s => transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws(",", slice(s, b * lit(rowsPerBand) + 1, lit(rowsPerBand))))))

  /** Candidate pairs via LSH: explode band buckets, self-join on
    * (band, bucket), distinct (idA < idB) pairs. Input must carry columns
    * (`id`, `sig`). This is the scale path: the join key cardinality is
    * bands × buckets, and only genuinely similar documents co-bucket.
    */
  def lshCandidatePairs(docs: DataFrame, id: String, sig: String,
                        bands: Int, rowsPerBand: Int): DataFrame = {
    val exploded = docs.select(col(id).as("id"),
        posexplode(lshBandBuckets(col(sig), bands, rowsPerBand)).as(Seq("band", "bucket")))
    exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Incremental LSH candidates: only NEW docs probe the band-bucket
    * index over old ∪ new — old×old never pairs, so per-ingest cost
    * tracks the increment (the jaccardPairsIncremental shape on the
    * MinHash path, where re-banding history is cheap but re-PAIRING it
    * is the quadratic trap). Within the increment, keep-first order:
    * the larger id is the probe (id_match < id_new for new×new).
    * Inputs carry (`id`, `sig`); output distinct (id_new, id_match).
    */
  def lshCandidatePairsIncremental(oldDocs: DataFrame, newDocs: DataFrame,
                                   id: String, sig: String,
                                   bands: Int, rowsPerBand: Int): DataFrame = {
    def ex(df: DataFrame, isNew: Boolean) = df.select(col(id).as("id"),
        lit(isNew).as("is_new"),
        posexplode(lshBandBuckets(col(sig), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
    val all = ex(oldDocs, isNew = false).unionByName(ex(newDocs, isNew = true))
    all.filter(col("is_new")).as("a").join(all.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          (!col("b.is_new") || col("b.id") < col("a.id")))
      .select(col("a.id").as("id_new"), col("b.id").as("id_match"))
      .distinct()
  }

  /** MinHash-LSH PARAMETER PLANNER — choose (bands, rowsPerBand)
    * BEFORE committing a 100 TB corpus to one banding: for every
    * (b, r) split of a `sigLen`-hash signature, the analytic S-curve
    * P(candidate | s) = 1 − (1 − sʳ)ᵇ is averaged over an OBSERVED,
    * labeled pair-similarity sample (`sim` ∈ [0,1], `isTrue` = is
    * this a pair we want), yielding the expected recall on true pairs
    * and the expected candidate (wasted-verify) rate on false pairs —
    * the two numbers that trade against each other when picking r.
    * Work: |pairs|·d(sigLen) rows through one hash aggregate; each
    * per-pair probability snaps ×1e6 pre-sum so both means are ratios
    * of exact integers. Output per config: (bands, rows_per_band,
    * n_true, n_false, exp_recall, exp_fp_rate); an empty class yields
    * null, not a division error.
    */
  def lshPlan(pairs: DataFrame, sim: Column, isTrue: Column,
              sigLen: Int): DataFrame = {
    require(sigLen >= 1, "sigLen must be >= 1")
    val configs = (1 to sigLen).filter(sigLen % _ == 0)
    val rows = pairs.select(sim.cast("double").as("s"), isTrue.as("tp"),
        explode(array(configs.map(r =>
          struct(lit(sigLen / r).as("b"), lit(r).as("r"))): _*)).as("c"))
      .select(col("c.b").as("bands"), col("c.r").as("rows_per_band"),
        col("tp"),
        round(lit(1e6) * (lit(1.0) -
          pow(lit(1.0) - pow(col("s"), col("c.r")), col("c.b"))))
          .cast("long").as("p_fp"))
    rows.groupBy(col("bands"), col("rows_per_band"))
      .agg(sum(when(col("tp"), 1L).otherwise(0L)).as("n_true"),
        sum(when(!col("tp"), 1L).otherwise(0L)).as("n_false"),
        round((sum(when(col("tp"), col("p_fp"))).cast("double") /
          sum(when(col("tp"), 1L).otherwise(0L)).cast("double") /
          lit(1e6)).cast("decimal(20,10)"), 6).cast("double")
          .as("exp_recall"),
        round((sum(when(!col("tp"), col("p_fp"))).cast("double") /
          sum(when(!col("tp"), 1L).otherwise(0L)).cast("double") /
          lit(1e6)).cast("decimal(20,10)"), 6).cast("double")
          .as("exp_fp_rate"))
  }

  /** Exact Jaccard over two distinct LONG hash arrays via the native
    * sorted-merge intersect count (graftshim.IntersectCountLong):
    * |∩|/(|A|+|B|−|∩|) as a double chain, with no per-pair hash-set
    * build, no boxing, codegen'd. The verification joins of the hashed
    * Jaccard family run this over every surviving candidate pair,
    * which at sf0.1 is ~10²× the true pair count even after the
    * positional filter.
    */
  def jaccardHashed(shA: Column, shB: Column): Column =
    bound(graft.functions.NativeFunctions.intersectCountLong(shA, shB)
      .cast("double"))(shared =>
      shared / (size(shA) + size(shB) - shared))

  /** Rational effective-threshold bounds shared by every prune below.
    *
    * Each pair-generation prune must be consistent with its VERIFY
    * filter `round(x, 4) >= t`, which passes exact ratios down to
    * teff = tceil4 − 5e-5 (half-up at the 4th decimal; tceil4 = t
    * rounded up to 4 decimals). The naive `ceil(n * t)` had two
    * defects (round-5 advice): the double product can land just above
    * an integral value (100·0.57 → 57.000000000000007 → ceil 58),
    * shortening prefixes and over-pruning, and it pruned on exact t
    * while the verify rounds — near-boundary pairs diverged. Both
    * close by computing ⌈n·teff⌉ in EXACT integer arithmetic over
    * denominator 200000 (numer = 20·⌈t·10⁴⌉ − 10). The division is
    * exact by magnitude: shingle counts are document-bounded
    * (< 2^31), so n·numer < 2^53 and the quotient sits ≥ 5e-6 from
    * any integer it could mis-round across — a million× one ulp.
    */
  private val RatDenom = 200000L
  private def ratNumer(threshold: Double): Long =
    math.max(0L, 20L * math.ceil(threshold * 10000 - 1e-9).toLong - 10L)

  /** ⌈n·teff⌉ — the smallest shared-element count a qualifying pair
    * can have; the matching prefix length is n − minShared + 1.
    */
  private def minShared(n: Column, numer: Long): Column =
    floor((n.cast("long") * numer + (RatDenom - 1)) / RatDenom).cast("long")

  /** Size-band prune `teff·|B| ≤ |A|` in exact integers. */
  private def sizeBandLe(nb: Column, na: Column, numer: Long): Column =
    nb.cast("long") * numer <= na.cast("long") * RatDenom

  /** PPJoin POSITIONAL prune (Xiao et al., WWW 2008): a collision at
    * 0-based sorted positions (pa, pb) can witness at most
    * min(n_a − pa, n_b − pb) common elements, so collisions where that
    * bound is under the pair's required overlap generate no candidate.
    * Recall-complete: for a qualifying pair, its FIRST common element
    * in the global rarity order sits inside both prefixes (the prefix
    * theorem's witness), and every common element lies at positions ≥
    * its own in BOTH sorted lists — that collision always passes.
    * Dissimilar docs collide on common shingles which rank LATE in
    * both prefixes, so this is the prune that kills the accidental
    * candidate mass (measured 1.66M → see scaladoc at the join site).
    */
  private def positionalLe(na: Column, pa: Column, nb: Column, pb: Column,
                           numer: Long): Column =
    least(na.cast("long") - pa.cast("long"),
      nb.cast("long") - pb.cast("long")) >=
      greatest(minShared(na, numer), minShared(nb, numer))

  /** Exact Jaccard near-dup pairs over PRE-HASHED distinct shingles
    * (see `hashedShingles`): explode the hash set, self-equi-join on
    * the hash, count shared shingles per pair in one hash-aggregate,
    * then jac = |∩|/|∪| against per-doc sizes derived FROM THE
    * PERSISTED INDEX (no second pass over the shingling chain). Exact
    * up to md5-60bit shingle collisions (~n²/2⁶¹ — negligible below
    * billions of distinct shingles). Input carries (`id`, hashes);
    * output (id_a, id_b, jac).
    *
    * Cost is Σ_shingle C(df,2) — fine while document frequencies are
    * bounded (measured 5.7M pairs / ~3 s at sf0.1, max df 250). For
    * corpora with hot shingles (df in the millions) use
    * jaccardPairsPrefixHashed, which indexes only each doc's
    * rare-shingle prefix.
    */
  def jaccardPairsHashed(docs: DataFrame, id: String, hashedShingles: String,
                         threshold: Double): DataFrame = {
    // persisted: both self-join sides and the size lookup consume the
    // index — without this the shingle-hash pass runs once per reference
    val inv = docs.select(col(id).as("id"),
        size(col(hashedShingles)).as("n"),
        explode(col(hashedShingles)).as("h"))
      .persist()
    val sizes = inv.select(col("id"), col("n")).distinct()
    // (A df==1 singleton-pruning pass was tried here — round 4 — and
    // REVERTED: at sf0.1 the extra hash-agg + join over the index costs
    // ~12% more than the C(df,2) work it saves on this corpus. For
    // corpora with genuinely hot shingles use jaccardPairsPrefixHashed,
    // whose prefix filter subsumes the benefit.)
    val paired = inv
    val numer = ratNumer(threshold)
    // size-ratio precondition: jac >= θ forces θ·|A| <= |B| <= |A|/θ —
    // incompatible pairs are dropped in the join, before the aggregate
    paired.as("a").join(paired.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          sizeBandLe(col("b.n"), col("a.n"), numer) &&
          sizeBandLe(col("a.n"), col("b.n"), numer))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes).as("sa"), col("id_a") === col("sa.id"))
      .join(broadcast(sizes).as("sb"), col("id_b") === col("sb.id"))
      .withColumn("jac",
        round(col("shared").cast("double") /
          (col("sa.n") + col("sb.n") - col("shared")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Rarity-sorted PPJoin prefix index over a (id, hs[, carry…]) frame:
    * one output row per retained prefix element —
    * (id[, carry…], n, h, pos), `pos` the element's 0-based position in
    * the doc's rarity-sorted FULL list (the positional-filter operand —
    * see [[jaccardPairsPrefixHashed]]).
    * Rarity-sorted per-doc shingle list (ascending df, ties by hash — a
    * total order), prefix sliced ARRAY-side. df==1 postings can collide
    * with nothing, so they are dropped in the same array pass (any
    * qualifying pair shares an element inside both prefixes, and that
    * element has df >= 2 — no candidate is lost; dropped rows still
    * occupy their `pos` slot, keeping the positional bound valid).
    */
  private def prefixIndex(d: DataFrame, threshold: Double,
                          carry: Seq[String]): DataFrame = {
    val inv = d.select(col("id") +: carry.map(col) :+
      explode(col("hs")).as("h"): _*)
    val prefixLen = (size(col("rs")) -
      minShared(size(col("rs")), ratNumer(threshold)) + 1).cast("int")
    // document frequency attaches as a count-over-partition window:
    // ONE exchange of the posting stream (plus WindowExec's
    // in-partition sort) where the former groupBy(h)+join-back cost
    // two, measured 0.90 -> 0.72 s warm / 2.1 -> 0.96 s cold on the
    // q67 corpus at sf0.1. A hot shingle routes its df rows into one
    // task either way (the shuffle join keyed on h identically), so
    // the skew bound is unchanged.
    inv
      .withColumn("f", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(("id" +: carry).map(col): _*)
      .agg(sort_array(collect_list(struct(col("f"), col("h")))).as("rs"))
      .select(col("id") +: carry.map(col) ++: Seq(
        size(col("rs")).as("n"),
        explode(filter(transform(slice(col("rs"), lit(1), prefixLen),
          (r, i) => struct(r.getField("f").as("f"),
            r.getField("h").as("h"), i.as("pos"))),
          r => r.getField("f") >= 2)).as("e")): _*)
      .select(col("id") +: carry.map(col) ++: Seq(col("n"),
        col("e.h").as("h"), col("e.pos").as("pos")): _*)
  }

  /** PPJoin-style prefix filtering over PRE-HASHED shingles — the
    * skew-proof Jaccard variant for corpora where some shingles appear
    * in millions of documents (a plain inverted join would emit
    * C(df,2) pairs per hot shingle):
    *
    *  1. order every document's hash set by ascending global frequency
    *     (rarest first, ties by hash value — a total order);
    *  2. index only the first n−⌈θ·n⌉+1 hashes (the "prefix") — any
    *     pair with Jaccard ≥ θ must collide inside both prefixes
    *     (prefix-filter theorem), and prefixes are by construction the
    *     RARE shingles, so the candidate join has no hot keys;
    *  3. size-ratio prune (θ·|B| ≤ |A| ≤ |B|/θ, necessary for jac ≥ θ);
    *  4. verify every candidate against the FULL hash sets.
    *
    * Identical output to `jaccardPairsHashed`; the candidate stream
    * shrinks superlinearly because hot shingles never make a prefix.
    */
  def jaccardPairsPrefixHashed(docs: DataFrame, id: String,
                               hashedShingles: String,
                               threshold: Double): DataFrame = {
    val d = docs.select(col(id).as("id"), col(hashedShingles).as("hs"))
      .persist() // verification joins re-read the full hash sets
    // Persisted: the candidate self-join consumes this index twice, and
    // without it the whole explode→freq-join→sort chain runs per side.
    // (Re-measured round 7 against the ReusedExchange rule — lesson 23
    // does NOT apply here: dropping the persist was ~1.5 s SLOWER at
    // sf0.1, the multi-exchange freq-join chain doesn't unify.)
    val pidx = prefixIndex(d, threshold, Nil).persist()
    val numer = ratNumer(threshold)
    val cands = pidx.as("a").join(pidx.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          sizeBandLe(col("b.n"), col("a.n"), numer) &&
          sizeBandLe(col("a.n"), col("b.n"), numer) &&
          positionalLe(col("a.n"), col("a.pos"),
            col("b.n"), col("b.pos"), numer))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(d.select(col("id").as("id_a"), col("hs").as("hsa")), Seq("id_a"))
      .join(d.select(col("id").as("id_b"), col("hs").as("hsb")), Seq("id_b"))
      .withColumn("jac", round(jaccardHashed(col("hsa"), col("hsb")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Incremental near-dup detection: a new crawl increment against the
    * EXISTING corpus — the production dedup loop, where re-pairing
    * old×old on every ingest would be quadratic in corpus age.
    *
    * Shape: one rarity-sorted prefix index over old ∪ new (document
    * frequencies must count the union for the prefix theorem to hold),
    * but only NEW docs probe it — the candidate join's left side is the
    * increment, so old×old candidates are never generated. Pairs come
    * back as (id_new, id_match, jac) where id_new is the DROP candidate:
    * for new×old matches the new doc; for new×new matches the larger id
    * (keep-first within the increment). `newDocs.join(pairs, anti)` is
    * then the surviving increment. An id present in BOTH inputs (a
    * replayed increment whose copy already committed) is resolved per
    * side — its old and new copies pair once, at jaccard 1.0 for
    * identical content — though a match id shared by both sides then
    * yields one output row per side.
    *
    * Cache ownership: the op persists its doc union and prefix index
    * internally (both corpus-sized) and returns LAZILY, so their
    * handles are out of the caller's reach. A long-lived caller (a
    * streaming loop calling this per micro-batch) passes
    * `registerCache` to receive every frame this call persists and
    * unpersists them once the result is consumed — the alternative, a
    * session-wide clearCache(), evicts caller-owned tables too.
    */
  def jaccardPairsIncremental(oldDocs: DataFrame, newDocs: DataFrame,
                              id: String, hashedShingles: String,
                              threshold: Double,
                              registerCache: DataFrame => Unit = _ => ())
      : DataFrame = {
    val d = oldDocs
      .select(col(id).as("id"), col(hashedShingles).as("hs"),
        lit(false).as("is_new"))
      .unionByName(newDocs.select(col(id).as("id"),
        col(hashedShingles).as("hs"), lit(true).as("is_new")))
      .persist()
    registerCache(d)
    val pidx = prefixIndex(d, threshold, Seq("is_new")).persist()
    registerCache(pidx)
    val numer = ratNumer(threshold)
    val cands = pidx.filter(col("is_new")).as("a").join(pidx.as("b"),
        col("a.h") === col("b.h") &&
          (!col("b.is_new") || col("a.id") > col("b.id")) &&
          sizeBandLe(col("b.n"), col("a.n"), numer) &&
          sizeBandLe(col("a.n"), col("b.n"), numer) &&
          positionalLe(col("a.n"), col("a.pos"),
            col("b.n"), col("b.pos"), numer))
      .select(col("a.id").as("id_new"), col("b.id").as("id_match"),
        col("b.is_new").as("match_is_new"))
      .distinct()
    // verification rejoins carry the side flag: an id present in BOTH
    // inputs (a replayed increment probing a corpus that already holds
    // its committed copy) resolves to exactly one row per side instead
    // of fanning out across the duplicate
    cands
      .join(d.filter(col("is_new"))
        .select(col("id").as("id_new"), col("hs").as("hsa")), Seq("id_new"))
      .join(d.select(col("id").as("id_match"), col("hs").as("hsb"),
          col("is_new").as("match_is_new")),
        Seq("id_match", "match_is_new"))
      .withColumn("jac", round(jaccardHashed(col("hsa"), col("hsb")), 4))
      .filter(col("jac") >= threshold)
      .select("id_new", "id_match", "jac")
  }

  /** Benchmark-contamination check — the decontamination pass every
    * training corpus needs before an eval is trustworthy: for each
    * corpus document, how many of its distinct n-gram shingles appear
    * ANYWHERE in the benchmark set. Inputs are pre-hashed shingle
    * arrays (see `hashedShingles`); output one row per corpus doc:
    * (id, n_shingles, n_shared).
    *
    * Scale shape: the benchmark side collapses to its distinct shingle
    * hashes and is BROADCAST (eval suites are tiny next to a corpus),
    * so the check is one map-side hash join over the exploded corpus
    * postings plus a hash aggregate on the doc id — no corpus-sized
    * shuffle, no driver materialization.
    */
  def contaminationOverlap(docs: DataFrame, id: String, hashedShingles: String,
                           bench: DataFrame, benchShingles: String): DataFrame = {
    val postings = docs.select(col(id).as("id"),
      explode(col(hashedShingles)).as("h"))
    val benchSet = bench.select(explode(col(benchShingles)).as("h")).distinct()
    val shared = postings.join(broadcast(benchSet), "h")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    docs.select(col(id).as("id"), size(col(hashedShingles)).as("n_shingles"))
      .join(shared, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  /** Exact duplicate-SPAN detection — the substring-level dedup of
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2022): a span is flagged when the identical n-token
    * run occurs ≥2 times anywhere in the corpus (other docs or the
    * same doc). Documents are cut into NON-overlapping n-token chunks
    * (`Text.chunkTokens` with stride = n) and a chunk is duplicated
    * iff its fingerprint's corpus frequency is ≥2. Output one row per
    * doc: (id, n_spans, n_dup_spans, dup_ratio) — the per-document
    * boilerplate score pipelines threshold on; zero-token docs emit
    * no row (no spans to score).
    *
    * Scale shape: chunking is a no-shuffle codegen pass; corpus span
    * frequencies are ONE hash aggregate on the 128-bit fingerprint
    * (map-side combine collapses hot boilerplate before the shuffle,
    * so the classic "same cookie banner in 10⁸ docs" skew never
    * travels); the flag rides back on a fingerprint equi-join and the
    * per-doc rollup shuffles on the well-distributed id. Nothing is
    * quadratic in corpus size and no side is collected.
    */
  /** Line-level boilerplate scrub — the CCNet/RefinedWeb cleaning pass
    * that token-span dedup ([[duplicateSpans]]) doesn't cover: a LINE
    * (newline-delimited) is boilerplate when its trimmed form appears
    * in ≥ `minDf` DISTINCT documents corpus-wide (cookie banners, nav
    * menus, footers), and is dropped from every document it appears
    * in. Output one row per doc: (id, n_lines, n_dropped, clean_fp) —
    * clean_fp the md5 of the scrubbed text with original line order
    * preserved, so the rewrite is verifiable byte-exact cross-engine.
    *
    * Scale shape: lines explode with their position in one codegen
    * pass; document frequency is ONE distinct-count aggregate on the
    * line fingerprint (map-side combine collapses the hot boilerplate
    * lines before the shuffle — the "same cookie banner in 10⁸ docs"
    * skew never travels); the flag rides back on a fingerprint
    * equi-join and each doc reassembles with a per-id
    * sort_array(collect_list(struct(pos, line))). Shuffles only on the
    * well-distributed fingerprint and id keys; nothing quadratic,
    * nothing collected.
    */
  def scrubBoilerplateLines(docs: DataFrame, id: String, text: Column,
                            minDf: Int): DataFrame = {
    val lines = docs.select(col(id).as("id"),
        posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .withColumn("lfp", md5(trim(col("line"))))
    val lineDf = lines.groupBy(col("lfp"))
      .agg(countDistinct(col("id")).as("line_df"))
    lines.join(lineDf, Seq("lfp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("line_df") >= minDf, 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(transform(sort_array(collect_list(
            when(col("line_df") < minDf, struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n")).as("clean_fp"))
  }

  def duplicateSpans(docs: DataFrame, id: String, text: Column,
                     n: Int): DataFrame = {
    val chunks = Text.chunkTokens(docs, id, text, n, n)
    val freq = chunks.groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("fp_n"))
    chunks.join(freq, Seq("chunk_fp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("fp_n") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("id"), col("n_spans"), col("n_dup_spans"),
        round((col("n_dup_spans").cast("double") / col("n_spans"))
          .cast("decimal(20,10)"), 4).cast("double").as("dup_ratio"))
  }

  /** Cross-source span-contamination matrix — which source pairs share
    * verbatim n-token spans (the train/test-leakage signal at the
    * SOURCE level, next to q70's benchmark-vs-corpus gate): span
    * fingerprints fold to DISTINCT (source, fp) first, so the fp
    * self-join's work is Σ_fp (#sources containing fp)² — bounded by
    * the source count squared per fingerprint, never corpus². Spans
    * ride [[Text.chunkTokens]]' stride-n windows (the q93 machinery).
    * Output: (source_a, source_b, n_shared_spans) for a < b.
    */
  def crossSourceSpanMatrix(docs: DataFrame, id: String, source: Column,
                            text: Column, n: Int): DataFrame = {
    val srcMap = docs.select(col(id).as("id"), source.as("__src"))
    val sf = Text.chunkTokens(docs, id, text, n, n)
      .join(srcMap, "id")
      .select(col("__src").as("src"), col("chunk_fp").as("fp"))
      .distinct()
    sf.as("x").join(sf.as("y"),
        col("x.fp") === col("y.fp") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("source_a"), col("y.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  /** CONTENT-DEFINED chunking dedup stats — the insertion-robust
    * sibling of the fixed-stride span family ([[duplicateSpans]]):
    * chunk boundaries fall AFTER any token whose portable hash is
    * ≡ 0 (mod `modulus`), so inserting one token near the front only
    * perturbs its own chunk — every later boundary (and fingerprint)
    * survives, where a stride-n window re-aligns EVERY span. The
    * storage-dedup trick (rsync/CDC) applied to text. Work: one token
    * scan, a per-doc position window (docs are bounded — the window
    * partitions by doc), and hash aggregates on the chunk fingerprint.
    * Output: one row (n_chunks, n_distinct, n_crossdoc_fp,
    * dup_token_share) — fingerprints seen in ≥ 2 DISTINCT docs count
    * as cross-doc, and dup_token_share is the token mass inside them.
    */
  def cdcChunkStats(docs: DataFrame, id: String, text: Column,
                    modulus: Int): DataFrame = {
    require(modulus >= 2, "modulus must be >= 2")
    val toks = docs
      .select(col(id).as("id"),
        posexplode(Text.tokens(text)).as(Seq("pos", "tok")))
    val cut = toks.withColumn("is_cut",
      when(pmod(hashLong(col("tok")), lit(modulus.toLong)) === 0, 1L)
        .otherwise(0L))
    // chunk = number of cuts STRICTLY BEFORE this token: a cut token
    // closes its own chunk, the next token starts a new one
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val chunks = cut
      .withColumn("chunk", coalesce(sum(col("is_cut")).over(w), lit(0L)))
      .groupBy(col("id"), col("chunk"))
      .agg(count(lit(1)).as("n_tok"),
        md5(concat_ws(" ",
          sort_array(collect_list(struct(col("pos"), col("tok"))))
            .getField("tok"))).as("fp"))
    val byFp = chunks.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("id")).as("n_docs"),
        sum(col("n_tok")).as("tok_mass"))
    byFp.agg(sum(col("n_occ")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_crossdoc_fp"),
        round((sum(when(col("n_docs") >= 2, col("tok_mass"))
          .otherwise(0L)).cast("double") /
          sum(col("tok_mass")).cast("double")).cast("decimal(20,10)"), 4)
          .cast("double").as("dup_token_share"))
  }

  /** Asymmetric containment join — excerpt/quote detection: pairs
    * (probe, target) where containment |P∩T| / |P| ≥ threshold, i.e.
    * at least `threshold` of the PROBE's shingles appear in the
    * target (a 40-shingle quote inside a 4000-shingle article scores
    * 1.0 where Jaccard sees 0.01). Inputs are (id, hashedShingles)
    * frames; output (id_p, id_t, cont), probes with zero shingles
    * emit nothing (containment undefined).
    *
    * Prefix theorem, asymmetric form: c(P,T) ≥ t ⇒ |P∩T| ≥ ⌈t·|P|⌉,
    * so ANY |P| − ⌈t·|P|⌉ + 1 shingles of P include one shared with
    * T. Only the PROBE side can truncate to a prefix — the target's
    * overlap FRACTION is unbounded below, so targets index in full.
    * Probe prefixes are rarity-sorted by TARGET document frequency
    * (candidate cost = Σ df_T over prefix elements, so hot target
    * shingles stay out of probes' prefixes); probe shingles absent
    * from every target (df_T = 0, the rarest) stay in the slice but
    * drop from the postings — they can't witness a pair. Size prune:
    * |T| ≥ ⌈t·|P|⌉ or the intersection can't reach the bound.
    *
    * Scale shape: the candidate join is probe-prefix × target-posting
    * equi-join on the shingle hash; verification re-joins the two id
    * frames and intersects arrays per candidate. Skew follows the
    * prefix argument of [[jaccardPairsPrefixHashed]].
    */
  def containmentJoin(probes: DataFrame, probeId: String, probeShingles: String,
                      targets: DataFrame, targetId: String,
                      targetShingles: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // persisted like jaccardPairsPrefixHashed's index: the verification
    // joins re-read both frames; release is the caller's cache hygiene
    val p = probes.select(col(probeId).as("id_p"),
      array_distinct(col(probeShingles)).as("hsp")).persist()
    val tgt = targets.select(col(targetId).as("id_t"),
      array_distinct(col(targetShingles)).as("hst")).persist()
    val tpost = tgt.select(col("id_t"), size(col("hst")).as("n_t"),
      explode(col("hst")).as("h"))
    val freq = tpost.groupBy("h").agg(count(lit(1)).as("f"))
    val numer = ratNumer(threshold)
    val prefixLen = (size(col("rs")) -
      minShared(size(col("rs")), numer) + 1).cast("int")
    val ppost = p.select(col("id_p"), explode(col("hsp")).as("h"))
      .join(freq, Seq("h"), "left").na.fill(0L, Seq("f"))
      .groupBy("id_p")
      .agg(sort_array(collect_list(struct(col("f"), col("h")))).as("rs"))
      .select(col("id_p"), size(col("rs")).as("n_p"),
        explode(transform(
          filter(slice(col("rs"), lit(1), prefixLen),
            r => r.getField("f") >= 1),
          r => r.getField("h"))).as("h"))
    val cands = ppost.join(tpost, "h")
      .filter(col("n_t").cast("long") >= minShared(col("n_p"), numer))
      .select("id_p", "id_t").distinct()
    cands.join(p, "id_p").join(tgt, "id_t")
      .withColumn("cont",
        round(graft.functions.NativeFunctions
          .intersectCountLong(col("hsp"), col("hst")).cast("double")
          / size(col("hsp")), 4))
      .filter(col("cont") >= threshold)
      .select("id_p", "id_t", "cont")
  }

  /** SimHash over a token multiset, `bits` wide (≤ 32): bit i of the
    * sketch is set iff more than half the tokens have bit i set in their
    * md5-hash. Near-dup detection = small Hamming distance between
    * sketches; at scale candidate pairs come from banding the sketch
    * (split into chunks, join on equal chunk), same shape as LSH.
    *
    * Routed through the native codegen'd Catalyst expression
    * (graftshim.SimHash): one JVM loop per doc instead of an
    * interpreted per-token lambda fold — same values bit-for-bit
    * (TextDedupSpec asserts parity with its HOF reference fold).
    */
  def simhash(toks: Column, bits: Int): Column =
    graft.functions.NativeFunctions.simHash(toks, bits)

  /** Hamming distance between two simhash sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The end of the dedup pipeline: given any near-dup pair stream,
    * drop every non-canonical cluster member (canonical = min id via
    * `duplicateClusters`). Documents in no pair survive untouched; the
    * removal is one anti-join on the (pairs-sized) non-canonical set.
    */
  def dedupByClusters(docs: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    val nonCanonical = duplicateClusters(pairs)
      .filter(col("component") =!= col("id"))
      .select(col("id").as(id))
    docs.join(nonCanonical, Seq(id), "left_anti")
  }

  /** COUNT-PRESERVING dedup: one canonical document per duplicate
    * cluster, carrying the cluster's multiplicity as `weight` — the
    * unbiased-sampling correction of an LLM data pipeline (plain
    * dedup silently DOWN-weights popular content; training mixtures
    * and corpus statistics re-weight by this column instead).
    * Canonical = the cluster's min id; documents in no pair survive
    * with weight 1. `pairs` is expected to reference `docs` ids (every
    * in-engine pair generator guarantees it); a foreign id appearing
    * only in `pairs` contributes no weight (weights count actual
    * document rows), and if a foreign id were a cluster's MINIMUM the
    * cluster would have no canonical row to attach to — don't do that.
    * Output: the canonical rows with every `docs` column plus
    * `weight`.
    *
    * Scale shape: the [[dedupByClustersBest]] economics with a count
    * in place of the argmax — clusters (pairs-sized) attach by one
    * left join, multiplicities are one hash aggregate on the
    * component key, and the canonical id (= the component itself)
    * re-attaches its payload with one equi-join. Token-mass
    * conservation (Σ weight·tokens(canonical) = Σ tokens(corpus) for
    * exact-dup clusters) is the invariant the q200 oracle pins.
    */
  def dedupWithWeights(docs: DataFrame, id: String, pairs: DataFrame): DataFrame = {
    // Pairs referencing ids ABSENT from docs would silently drop
    // cluster weight — and a foreign id that happens to be a cluster
    // MINIMUM orphans its entire cluster (no canonical row to attach
    // to). Fail fast instead of documenting "don't do that": member
    // ids are pairs-sized, so the check is one distinct + anti-join
    // with a short-circuit isEmpty — far cheaper than the label-prop
    // it protects. Persist pairs FIRST so the guard and the label-prop
    // share one materialization of the (expensive) pair generation;
    // duplicateClusters sees the cache and leaves ownership here.
    val callerCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerCached) pairs else pairs.persist()
    val foreign = p.select(col("id_a").as("__pid"))
      .union(p.select(col("id_b").as("__pid"))).distinct()
      .join(docs.select(col(id).as("__pid")).distinct(),
        Seq("__pid"), "left_anti")
    require(foreign.isEmpty,
      s"dedupWithWeights: `pairs` references ids absent from docs.`$id`" +
        " — weights count actual document rows; filter the pair stream" +
        " to the corpus first")
    val clusters = duplicateClusters(p)
      .select(col("id").as("__cid"), col("component"))
    // the label-prop result is checkpoint-truncated (materialized), so
    // the pair cache is no longer referenced by the returned plan
    if (!callerCached) p.unpersist(): Unit
    val weights = docs.select(col(id))
      .join(clusters, col(id) === col("__cid"), "left")
      .select(coalesce(col("component"), col(id)).as(id))
      .groupBy(col(id))
      .agg(count(lit(1)).as("weight"))
    docs.join(weights, Seq(id))
  }

  /** dedupByClusters with a QUALITY policy: keep, per duplicate
    * cluster, the member maximizing `quality` (ties to the smaller id)
    * — "keep the best copy", the real training-corpus policy (longest
    * document, highest quality score), where the min-id canonical of
    * `dedupByClusters` is an arbitrary pick. Documents in no pair are
    * their own singleton cluster and always survive.
    *
    * Scale shape: clusters (pairs-sized), one left join to attach
    * components, one max_by hash aggregate per cluster, one semi-join
    * back — nothing driver-side, no window sort.
    */
  def dedupByClustersBest(docs: DataFrame, id: String, pairs: DataFrame,
                          quality: Column): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .select(col("id").as("__cid"), col("component"))
    // winner = min over (−quality, id): highest quality first, ties to
    // the SMALLEST id — min_by over the struct keeps the tiebreak
    // type-agnostic (string/date/numeric ids all order natively; only
    // `quality` must be numeric, it is a score by contract). The former
    // max_by(struct(quality, −id)) negated the id and so silently
    // required numeric ids. A NULL quality must LOSE: struct ordering
    // sorts null fields SMALLEST, so a bare −quality would make the
    // null-scored doc the min — map null to +∞ instead (matching the
    // old max_by behavior, where null sorted last and never won).
    val rankQ = coalesce(-quality.cast("double"),
      lit(Double.PositiveInfinity))
    val winners = docs.join(clusters, col(id) === col("__cid"), "left")
      .withColumn("__c", coalesce(col("component"), col(id)))
      .groupBy(col("__c"))
      .agg(min_by(col(id), struct(rankQ, col(id))).as(id))
      .select(id)
    docs.join(winners, Seq(id), "left_semi")
  }

  /** Duplicate-CLUSTER formation over a near-dup pair stream — the step
    * every dedup pipeline needs after pair generation: connected
    * components by iterative min-label propagation, so "keep one doc
    * per duplicate cluster" becomes `component == id`.
    *
    * Scale shape: each iteration is one shuffle join of the (small,
    * pairs-sized) edge list against the label table plus a hash
    * aggregate — the standard large-graph CC recipe (label propagation
    * converges in O(diameter) rounds; near-dup clusters are shallow).
    * Labels are local checkpoints, one per round; each is released
    * ([[Frames.release]]) once the next round has materialized, so only
    * the returned labels' blocks outlive the call. Convergence is
    * detected by a changed-label count.
    * Deterministic: the component id is the cluster's minimum member id.
    *
    * Input `pairs`: (id_a, id_b). Output: (id, component) for every id
    * appearing in any pair.
    *
    * `saltFactor` > 1 arms the HUB-SKEW hardening: on a star-shaped
    * graph (one vertex in millions of pairs — a boilerplate dup, a
    * crawler trap) two joins concentrate one key into one shuffle
    * partition: the edge⋈label lookup (every hub edge carries the hub
    * as `src`) and, worse, the pointer-jump self-join (every member of
    * a converged mega-cluster shares the same `component` key, so the
    * cluster's whole population lands on one task regardless of graph
    * shape). Salting splits the BIG side of each join into `saltFactor`
    * deterministic sub-keys (hash of the row's other column — no RNG,
    * so replays/retries repartition identically) and explodes the
    * single-row-per-key lookup side across them: per-partition load
    * drops by saltFactor at the cost of replicating the (vertex-sized)
    * lookup rows saltFactor×. Labels propagate identically — the spec
    * pins salted ≡ unsalted on star and chain graphs. AQE's skew-join
    * splitting covers the same risk adaptively when enabled; the
    * explicit salt keeps the guarantee under static planning and
    * bounded for the agg-side combiners.
    */
  def duplicateClusters(pairs: DataFrame, saltFactor: Int = 1): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    val maxIter = 20
    // persist the INPUT before the symmetric union: its two branches
    // are separate scans of `pairs`, and upstream pair generation (an
    // inverted join or LSH pipeline) is far too expensive to run twice.
    // If the CALLER already persisted it, leave ownership there — the
    // final unpersist must not evict a cache we did not create.
    val callerCached =
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val p = if (callerCached) pairs else pairs.persist()
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    // localCheckpoint (eager) rather than persist: it TRUNCATES the
    // logical plan each round. With persist alone the data is cached
    // but the plan keeps nesting, and Catalyst re-analyzes the whole
    // deepening tree every iteration — measured super-linear slowdown
    // (1.7s → 25s/round by iteration 5 at sf0.1) that checkpointing
    // flattens to constant per-round cost.
    // Seed with min(id, min(neighbor)) — the first adoption round fused
    // into initialization (one aggregate instead of distinct+join+agg).
    // Pair components (the common case in near-dup graphs) are already
    // converged at the seed, so the loop exits after one verification
    // round; longer chains save exactly one full iteration.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("nmin")).as("component"))
      .localCheckpoint(true)
    // labels is a projection of the checkpointed frame from round 2 on;
    // release must target the frame that owns the materialized blocks
    var owned = labels
    var iter = 0
    var converged = false
    // replicate a one-row-per-key lookup table across the salt domain
    def salted(lookup: DataFrame): DataFrame =
      lookup.withColumn("__salt",
        explode(sequence(lit(0), lit(saltFactor - 1))))
    while (iter < maxIter && !converged) {
      // each vertex adopts min(own label, neighbors' labels) ...
      val edgeLabels =
        if (saltFactor == 1)
          edges.join(labels.withColumnRenamed("id", "src"), "src")
        else
          // hub vertices put millions of identical `src` keys on the
          // edge side; the deterministic dst-hash salt fans them across
          // saltFactor partitions (see scaladoc)
          edges.withColumn("__salt", pmod(hash(col("dst")), lit(saltFactor)))
            .join(salted(labels.withColumnRenamed("id", "src")),
              Seq("src", "__salt"))
      val neighborMin = edgeLabels
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nc"))
      // LAZY checkpoint: the convergence count right below is the
      // materializing action (one job, not materialize-then-count),
      // and the pointer-jump — when it runs — reads the cached blocks
      // on BOTH join sides instead of recomputing the adoption subtree
      // once per side.
      val adopted = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("component").as("__prev"),
          least(col("component"), coalesce(col("nc"), col("component")))
            .as("component"))
        .localCheckpoint(false)
      // Convergence witness: the round-START label rides along as
      // __prev, so "did anything change" is an exact filter-count —
      // no old-vs-new join, and TYPE-AGNOSTIC (string/date ids work; a
      // decimal cast of a string id yields null and NPEd). An adoption
      // FIXED POINT is full convergence: symmetric edges make a
      // no-change round mean c(v) ≤ c(u) for every edge both ways, so
      // labels are constant per component, and since c(m) ≤ m for the
      // component's min vertex m, that constant is m — the pointer
      // jump below is a pure ACCELERATOR and converged rounds skip it
      // (and its checkpoint job) entirely. This is where the common
      // shallow near-dup graph saves a self-join every run: pair
      // components are converged at the seed, so the loop runs exactly
      // one adopt-count round and exits.
      val nChanged = adopted.filter(col("component") =!= col("__prev")).count()
      if (nChanged == 0L) {
        Frames.release(owned)
        owned = adopted
        labels = adopted.select(col("id"), col("component"))
        converged = true
      } else {
        // ... then pointer-jumps through its label's own label (every
        // label is itself a vertex id, so the self-join always hits).
        // Plain min-propagation needs O(diameter) rounds — a chain
        // longer than maxIter hops would silently split one true
        // cluster into several labels; doubling halves the remaining
        // distance each round, so convergence is O(log diameter) and
        // maxIter=20 covers chains of ~2^19 hops (detection costs the
        // one extra no-change round).
        val jumped =
          if (saltFactor == 1)
            adopted.as("a")
              .join(adopted.as("b"), col("a.component") === col("b.id"), "left")
          else
            // a converged mega-cluster sends its WHOLE population
            // through one `component` join key; the id-hash salt bounds
            // any one partition to population/saltFactor
            adopted
              .withColumn("__salt", pmod(hash(col("id")), lit(saltFactor)))
              .as("a")
              .join(salted(adopted.select(col("id"), col("component"))).as("b"),
                col("a.component") === col("b.id") &&
                  col("a.__salt") === col("b.__salt"), "left")
        val next = jumped
          .select(col("a.id"),
            coalesce(col("b.component"), col("a.component")).as("component"))
          .localCheckpoint(true)
        Frames.release(owned)
        Frames.release(adopted)
        owned = next
        labels = next
      }
      iter += 1
    }
    edges.unpersist()
    if (!callerCached) p.unpersist(): Unit
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge within $maxIter rounds — " +
        "the pair graph has a component deeper than 2^maxIter hops")
    labels
  }

  /** Template SKELETON of a text: digit runs collapse to `#` after the
    * fingerprint normalization (lowercase, whitespace fold) — the
    * instruction/log-template collapse of LLM-data dedup, where
    * thousands of generated variants differ only in the numbers they
    * mention ("order 123 total 45" ≡ "order 999 total 7"). Group on
    * `md5(templateSkeleton(text))` for exact-template dedup; a pure
    * codegen'd scan-pass expression (the portable regex subset — no
    * lookarounds), zero shuffle.
    */
  def templateSkeleton(text: Column): Column =
    regexp_replace(
      regexp_replace(trim(lower(text)), "\\s+", " "),
      "[0-9]+", "#")

  /** FELLEGI–SUNTER record linkage (1969) — the probabilistic
    * match/possible/nonmatch decision rule every serious ER system
    * still runs on: per comparison field f, m_f = P(agree | match)
    * and u_f = P(agree | non-match) estimated from `label`ed pairs
    * (add-1/add-2 smoothed so a perfectly-discriminating field can't
    * blow up to ±∞), agreement weight ln(m/u) and disagreement weight
    * ln((1−m)/(1−u)); a pair's score is the sum over fields of
    * whichever applies, banded by the caller's thresholds.
    *
    * Exactness: each ln snaps ×10⁶ PER TERM (the q72 convention —
    * w = snap ln(num/den) − snap ln(num'/den') on exact integer
    * ratios), so scores are exact integer sums and a SQL oracle
    * replays them bit-for-bit.
    *
    * Scale shape: the m/u table is ONE aggregate row (2+2·|fields|
    * longs) broadcast back over the pairs — a single pass however
    * many pairs the blocking stage emits; candidate generation stays
    * upstream (LSH/blocking), exactly where Fellegi–Sunter sits in a
    * production linkage stack. Output: (id_a, id_b, y, score_micro,
    * band).
    */
  def fellegiSunter(pairs: DataFrame, idA: Column, idB: Column,
                    label: Column, agrees: Seq[(String, Column)],
                    upperMicro: Long, lowerMicro: Long): DataFrame = {
    require(agrees.nonEmpty, "need at least one comparison field")
    require(lowerMicro <= upperMicro, "lower band must not exceed upper")
    def snapLn(num: Column, den: Column): Column =
      round(log(num.cast("double") / den.cast("double")) * lit(1e6))
        .cast("long")
    val base = pairs.select(
      Seq(idA.as("id_a"), idB.as("id_b"),
        label.cast("boolean").as("y")) ++
        agrees.map { case (n, c) => c.cast("boolean").as(s"ag_$n") }: _*)
    val aggs =
      Seq(sum(when(col("y"), 1L).otherwise(0L)).as("nm"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("nu")) ++
        agrees.flatMap { case (n, _) =>
          Seq(sum(when(col("y") && col(s"ag_$n"), 1L).otherwise(0L))
            .as(s"am_$n"),
            sum(when(!col("y") && col(s"ag_$n"), 1L).otherwise(0L))
              .as(s"au_$n"))
        }
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val score = agrees.map { case (n, _) =>
      val wa = snapLn(col(s"am_$n") + 1, col("nm") + 2) -
        snapLn(col(s"au_$n") + 1, col("nu") + 2)
      val wd = snapLn(col("nm") - col(s"am_$n") + 1, col("nm") + 2) -
        snapLn(col("nu") - col(s"au_$n") + 1, col("nu") + 2)
      when(col(s"ag_$n"), wa).otherwise(wd)
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("score_micro", score)
      .withColumn("band",
        when(col("score_micro") >= upperMicro, lit("match"))
          .when(col("score_micro") <= lowerMicro, lit("nonmatch"))
          .otherwise(lit("possible")))
      .select(col("id_a"), col("id_b"), col("y"), col("score_micro"),
        col("band"))
  }
}
