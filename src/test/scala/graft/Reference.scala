package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Cols, Dedup, Multimodal, Ranks, Sampling, Similarity, SuffixArray, Text}

/** Reference formulations the specs check engine paths against. No
  * query runs them, so they live with the specs: each is the plain
  * (built-ins-only, per-row or full-rebuild) form of an operator whose
  * engine path is native, batched, incremental or tiered.
  */
object Reference {

  // ----- Quality: the valid bars as the gates' complement -----

  /** Remove all rows belonging to rejected keys — the anti-join the
    * lifecycle ran over the drop before `Pipeline.dailySlice` carried
    * its valid day bars; rejection key sets are tiny relative to the
    * fact table, so the anti-join side is broadcast.
    */
  def excludeRejected(df: DataFrame, key: Column, rejections: DataFrame): DataFrame =
    df.join(broadcast(rejections.select(col("key"))),
      key === col("key"), "left_anti")

  // ----- Dedup: the HOF forms of the native minhash and simhash -----

  /** MinHash signature over a shingle-string array: each element hashes
    * to md5-60 mod P, and the i-th of k values is the min over elements
    * of ((2i+1)·h + 7+13i) mod P. Empty sets sign to all-P (matches
    * nothing). One aggregate fold: each element hash is a *bound
    * variable* in the merge lambda, computed once for all k functions.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    aggregate(transform(shingles, s => pmod(Dedup.hashLong(s), lit(Dedup.P))),
      array_repeat(lit(Dedup.P), lit(k)),
      (acc, h) => transform(acc,
        (a, i) => least(a, pmod((lit(2) * i + 1) * h + lit(7) + lit(13) * i, lit(Dedup.P)))))

  /** Built-ins-only simhash, the fold `Dedup.simhash` is verified
    * against: one aggregate over the tokens' 60-bit hashes carrying
    * per-bit set-counts; the finish lambda packs the majority bits.
    */
  def simhashHof(toks: Column, bits: Int): Column =
    Cols.bound(transform(toks, t => Dedup.hashLong(t)))(hs =>
      aggregate(hs, array_repeat(lit(0L), lit(bits)),
        (acc, h) => array((0 until bits).map(i =>
          element_at(acc, i + 1) + shiftright(h, i).bitwiseAND(1L)): _*),
        counts => (0 until bits).map(i =>
          when(element_at(counts, i + 1) * 2 > size(hs), lit(1L << i))
            .otherwise(lit(0L))).reduce(_ + _)))

  // ----- Multimodal: the per-row decode the batched path must equal -----

  /** Per-row stub decode: every payload decoded alone inside one
    * mapPartitions (no batching, no decoder handle).
    */
  def decodeFeatures(media: Dataset[(Long, Array[Byte])]): Dataset[Multimodal.MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { case (id, bytes) =>
      val checksum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
      val first = if (bytes.nonEmpty) bytes(0) & 0xff else -1
      Multimodal.MediaFeatures(id, bytes.length, checksum, first)
    })
  }

  // ----- Sampling: the batch face's kept rows -----

  /** The kept ROWS (g, bin, k) of `Sampling.profileMatchThinning` — the
    * materialized sample the streaming face must reproduce, rather than
    * the audit counts.
    */
  def profileMatchKept(df: DataFrame, group: Column, value: Column,
                       rowKey: Column, bins: Int): DataFrame = {
    val (binned, stats) = Sampling.profileGrid(df, group, value, rowKey, bins)
    Sampling.profileMatchRule(binned, stats).select(col("g"), col("bin"),
      col("k"))
  }

  // ----- Similarity: HOF kernels, all-pairs scan, one-tier IVF-PQ, power iteration -----

  /** Built-ins-only cosine (higher-order functions), the formulation the
    * native `Similarity.cosine` must match bit-for-bit.
    */
  def cosineHof(a: Column, b: Column): Column =
    Similarity.dot(a, b) / (sqrt(Similarity.dot(a, a)) * sqrt(Similarity.dot(b, b)))

  /** Built-ins-only squared L2 (higher-order functions, sequential sum
    * in dimension order), the formulation the native `Similarity.sqDist`
    * must match bit-for-bit.
    */
  def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** Near-duplicate pairs by embedding cosine ≥ threshold as a plain
    * all-pairs self-join — the definition the blocked kernel
    * `Similarity.cosineNearDupPairsExact` must reproduce.
    */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double): DataFrame =
    vecs.select(col("id").as("id_a"),
        col("vec").cast("array<double>").as("va"),
        Similarity.normHoisted(col("vec")).as("na")).as("a")
      .join(vecs.select(col("id").as("id_b"),
          col("vec").cast("array<double>").as("vb"),
          Similarity.normHoisted(col("vec")).as("nb")).as("b"),
        col("id_a") < col("id_b"))
      .withColumn("cos", round(Similarity.cosineHoisted(col("va"), col("vb"),
        col("na"), col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")

  /** IVF-PQ search at ONE nprobe: each query probes its `nprobe`
    * L2-nearest cells and ranks only their members by asymmetric
    * distance over the PQ codes. `Similarity.ivfPqSearchTiered` must
    * equal it tier by tier, and at nprobe = |centroids| it equals the
    * full `Similarity.pqAdcTopK` scan.
    */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame,
                  centroids: DataFrame, codebook: DataFrame,
                  m: Int, k: Int, nprobe: Int): DataFrame = {
    val assigned = Similarity.ivfAssignL2(corpus, centroids).select(col("id"), col("cell"))
    val codes = Similarity.pqEncode(corpus, codebook, m)
    val lut = Similarity.subVectors(queries, m)
      .select(col("id").as("lqid"), col("sub"), col("svec"))
      .join(codebook, Seq("sub"))
      .select(col("lqid"), col("sub"), col("cid"),
        round(round(Similarity.sqDist(col("svec"), col("cvec")), 6) * 1e6)
          .cast("long").as("dfp"))
    val cand = Similarity.ivfProbeCellsL2(queries, centroids, nprobe)
      .select(col("qid"), col("cell"))
      .join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_fp"), col("neighbor_id"))
    cand.join(codes, Seq("id"))
      .join(broadcast(lut),
        col("qid") === col("lqid") &&
          codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("dfp")).as("adist_fp"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        col("adist_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adist_fp")
  }

  /** Driver-side power iteration for the top eigenpair of a (tiny,
    * symmetric, collected) Gramian, the double-precision reference for
    * `Similarity.topEigenFixedPoint`. Deterministic: starts from the
    * all-ones direction. Returns (unit eigenvector, eigenvalue as the
    * Rayleigh quotient).
    */
  def topEigen(g: Array[Array[Double]], iters: Int): (Array[Double], Double) = {
    val d = g.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => g(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      if (n > 0) v = w.map(_ / n)
    }
    val gv = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j) * v(j)).sum)
    val lambda = (0 until d).map(i => v(i) * gv(i)).sum
    (v, lambda)
  }

  // ----- Sketch: the merges that define mergeability -----

  /** Cellwise count-min merge — sketch of a union equals sum of sketches. */
  def cmMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("row"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Union of two Bloom filters: set union of cells. */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).distinct()

  /** Cellwise merge — histogram of a union equals the sum of histograms. */
  def histMerge(a: DataFrame, b: DataFrame, groups: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(groups.map(col) :+ col("bucket"): _*)
      .agg(sum(col("cnt")).as("cnt"))

  // ----- SuffixArray: the full-rebuild cross match -----

  /** Full-rebuild EXACT-SPAN DECONTAMINATION, the value
    * `SuffixArray.decontaminateIncrement` must reproduce for every match
    * of length ≥ g: for every EVAL suffix position, the
    * length of its longest exact token match against the TRAIN side
    * of the corpus — max of the LCPs with the nearest train suffix
    * above and below in SA order (the standard identity: LCP is the
    * interval min of adjacent LCPs, maximized at the nearest
    * same-side neighbor). Computed with two SEGMENTED running mins:
    * segment ids are train-counts from the two-level prefix kernel
    * (left segments [Tᵢ, Tᵢ₊₁) carry the train at their START and
    * scan prev-pair LCPs forward; right segments (Tᵢ, Tᵢ₊₁] carry it
    * at their END and scan next-pair LCPs backward) — windows
    * partition by segment, never globally, and a segment with no
    * train (before the first / after the last) yields null on that
    * side. Output: (doc_id, pos, train_match) for every eval
    * position, train_match null when no train suffix exists on
    * either side. `isTrain` maps the doc_id column to the split
    * predicate (the caller's leakage-safe hash split).
    */
  def longestCrossMatch(b: SuffixArray.Built, numDocs: Long,
                        isTrain: Column => Column): DataFrame = {
    val pairs = SuffixArray.adjacentLcp(b, numDocs)._1.select(col("rank_sa"), col("lcp"))
    val real = b.sa.filter(!col("sent"))
      .select((col("rank") - numDocs).as("rank_sa"), col("doc_id"),
        col("pos"))
      .withColumn("tr", isTrain(col("doc_id")).cast("long"))
    val withL = real
      .join(pairs.select((col("rank_sa") + 1).as("rank_sa"),
        col("lcp").as("prev_lcp")), Seq("rank_sa"), "left")
      .join(pairs.select(col("rank_sa"), col("lcp").as("next_lcp")),
        Seq("rank_sa"), "left")
    val seg = Ranks.withRunningBelow(withL, "rank_sa", 16384L, Seq("tr"))
      .withColumn("seg_l", col("tr_below") + col("tr"))
      .withColumn("seg_r", col("tr_below"))
    val wl = Window.partitionBy(col("seg_l")).orderBy(col("rank_sa"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wr = Window.partitionBy(col("seg_r"))
      .orderBy(col("rank_sa").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // the segment's own train contributes no pair (its prev/next pair
    // lies outside the interval) — nulled out of the min
    val scanned = seg
      .withColumn("lmin", min(when(col("tr") === 1, lit(null))
        .otherwise(col("prev_lcp"))).over(wl))
      .withColumn("l_ok",
        max(col("tr")).over(Window.partitionBy(col("seg_l"))) === 1)
      .withColumn("rmin", min(when(col("tr") === 1, lit(null))
        .otherwise(col("next_lcp"))).over(wr))
      .withColumn("r_ok",
        max(col("tr")).over(Window.partitionBy(col("seg_r"))) === 1)
    scanned.filter(col("tr") === 0)
      .select(col("doc_id"), col("pos"),
        greatest(when(col("l_ok"), col("lmin")),
          when(col("r_ok"), col("rmin"))).as("train_match"))
  }

  // ----- Text: the crawl canonicalizer built from the engine's steps -----

  /** The full crawl CANONICALIZER for dedup keys, in the order the
    * canonicalization query applies the engine's steps: NFC (composed
    * bytes), invisible strip, whitespace collapse, lowercase.
    */
  def canonicalizeForDedup(text: Column): Column =
    lower(Text.collapseWhitespace(Text.stripInvisible(
      graft.functions.NativeFunctions.unicodeNorm(text, "NFC"))))
}
