package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.dec

/** Query surface + DuckDB oracles: embeddings: ANN (IVF/PQ/LSH), kernels, PCA, retrieval.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesSimilarityAnn {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text: all-pairs sparse TF-IDF cosine ≥ 0.6 — the lexical
    // similarity primitive next to the embedding family; ubiquitous
    // terms (df > N/5) pruned from the similarity domain up front
    // (declared stopword economics — bounds posting-join work at Σdf²),
    // every weight and dot product an exact fixed-point integer.
    "q148_sparse_cosine" -> ((s, dir) =>
      Text.sparseCosinePairs(
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .repartition(s.sessionState.conf.numShufflePartitions),
        "doc_id", col("text"), 0.6, 1, 5)),
    // Similarity/PCA: exact fixed-point GRAMIAN of the embedding
    // corpus — the distributed half of tall-skinny PCA/whitening
    // (compute XᵀX in one map-side-combinable pass, eigen-solve the
    // d² matrix locally); cells are exact integers, so the moment
    // matrix is bit-identical on any engine.
    "q176_gramian" -> ((s, dir) =>
      Similarity.gramianFixedPoint(t(s, dir, "embeddings"),
          col("embedding"), 1000)
        .select(col("i"), col("j"), col("g").cast("double").as("g"))),
    // Similarity/QA: EMBEDDING CENTROID DRIFT — per label, the cosine
    // between the centroids of two deterministic hash halves of the
    // corpus (the self-consistency audit an embedding refresh runs:
    // a healthy label's halves agree, cos ≈ 1). Cosine is
    // scale-invariant, so it computes directly on the ×1000-snapped
    // per-dim SUM vectors — counts never divide, everything is exact
    // integers until one double chain per label.
    "q187_centroid_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("label"),
          Sampling.hashBucket(col("vec_id"), 2).as("half"),
          posexplode(transform(col("embedding"),
            x => round(x.cast("double") * 1000).cast("long")))
            .as(Seq("d", "c")))
      val byDim = e.groupBy(col("label"), col("half"), col("d"))
        .agg(sum(col("c")).as("s"))
      val j = byDim.filter(col("half") === 0)
        .select(col("label"), col("d"), col("s").as("sa"))
        .join(byDim.filter(col("half") === 1)
          .select(col("label"), col("d"), col("s").as("sb")),
          Seq("label", "d"))
      val cos = j.groupBy(col("label"))
        .agg(sum(col("sa").cast("decimal(38,0)") * col("sb")).as("dot"),
          sum(col("sa").cast("decimal(38,0)") * col("sa")).as("na2"),
          sum(col("sb").cast("decimal(38,0)") * col("sb")).as("nb2"))
        .select(col("label"),
          round((col("dot").cast("double") /
            sqrt(col("na2").cast("double") * col("nb2").cast("double")))
            .cast("decimal(20,10)"), 6).cast("double").as("cos_halves"))
      val counts = t(s, dir, "embeddings")
        .select(col("label"), Sampling.hashBucket(col("vec_id"), 2).as("half"))
        .groupBy(col("label"))
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
      counts.join(cos, Seq("label")).orderBy(col("label"))
    }),
    // Similarity/eval: CENTROID SEPARATION matrix — pairwise cosine
    // between per-label embedding centroids (the embedding-space
    // drift/slice-separation read; q34 emits the centroid components,
    // this the geometry between them). Cosine is scale-invariant, so
    // it runs on the EXACT ×1e6-snapped per-dim integer sum vectors —
    // no float mean ever aggregates; DECIMAL(38,0) dot/norms through
    // two sqrts and one division. One data-sized posexplode aggregate
    // (map-side combine to labels×dims rows); everything after is
    // labels×dims-sized.
    "q246_centroid_separation" -> ((s, dir) => {
      val dims = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("g"),
          posexplode(col("embedding")))
        .groupBy(col("g"), col("pos"))
        .agg(sum(round(col("col").cast("double") * 1e6).cast("long"))
          .as("sv"), count(lit(1)).as("nn"))
      val norms = dims.groupBy(col("g"))
        .agg(sum(dec(col("sv")) * col("sv")).as("nrm2"),
          max(col("nn")).as("n"))
      val dots = dims.as("a").join(dims.as("b"),
          col("a.pos") === col("b.pos") && col("a.g") < col("b.g"))
        .groupBy(col("a.g").as("la"), col("b.g").as("lb"))
        .agg(sum(dec(col("a.sv")) * col("b.sv")).as("dt"))
      dots
        .join(broadcast(norms.select(col("g").as("la"),
          col("nrm2").as("na2"), col("n").as("n_a"))), "la")
        .join(broadcast(norms.select(col("g").as("lb"),
          col("nrm2").as("nb2"), col("n").as("n_b"))), "lb")
        .select(col("la").as("label_a"), col("lb").as("label_b"),
          col("n_a"), col("n_b"),
          when(col("na2") === 0 || col("nb2") === 0, lit(null))
            .otherwise(round((col("dt").cast("double") /
              (sqrt(col("na2").cast("double")) *
                sqrt(col("nb2").cast("double"))))
              .cast("decimal(20,10)"), 4).cast("double")).as("cos_ab"))
    }),
    // Similarity/IR: MMR DIVERSIFIED re-ranking — greedy top-5 from
    // each query's 20-candidate brute pool at λ = 0.7, the
    // redundancy-penalized result page beside the pure-relevance
    // top-k (q31). All-integer micro scoring (7·rel − 3·maxsim), 5
    // driver-coordinated rounds with a ≤10-row collect each (the
    // greedy q239 precedent).
    "q254_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.mmrRerank(e.filter(col("id") < 10), e, 20, 5)
    }),
    // ANN scale-contract gate (r12 verdict task 1): the k-CHOOSER.
    // The cell-blocked ANN family pins k only for oracle determinism
    // (q123's 16); this gate runs Similarity.chooseK (k = ceil sqrt n,
    // the cost-balanced point of assignment n*k vs verify n^2/k) and
    // chooseNProbe (4, the measured recall knee) on the SAME
    // planted-near-dup corpus at scale 1 and a 10x in-query verbatim
    // replication (copy ids offset by i*1e8, perturbed twins at +1e9 —
    // collision-free by construction), emitting the planted-pair
    // recall at both scales: the contract is recall stays FLAT when k
    // grows with the corpus. (The r11/r12 10x probe's "frozen-k recall
    // 0.93->0.77" adjudicated as the +10000 id-collision artifact —
    // NOTES r13; with clean ids the chooser's real job is cost, and
    // nprobe=4 is what holds recall once k grows.)
    "q352_ann_k_chooser" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"),
          x => x.cast("double")).as("vec"))
      val nEmb = e.count()
      def scaleRow(scale: Int): DataFrame = {
        val copies = s.range(scale).select(col("id").as("copy"))
        val base = e.crossJoin(broadcast(copies))
          .select((col("vec_id") + col("copy") * 100000000L).as("id"),
            col("vec"))
        val all = base.unionByName(base.select(
          (col("id") + 1000000000L).as("id"),
          transform(col("vec"), (x, i) =>
            when(i === 0, x + 0.5).otherwise(x)).as("vec")))
        val n = 2L * scale * nEmb
        val k = Similarity.chooseK(n)
        val npb = Similarity.chooseNProbe(k)
        // vec_id is contiguous from 0, so the k lowest ids are the
        // copy-0 ids < k — the same deterministic seed rule the
        // streaming refresh uses (lowest-id corpus vectors)
        val centroids = all.filter(col("id") < k)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        val planted = all.filter(col("id") < 1000000000L)
          .select(col("id"), col("vec").as("va"))
          .join(all.select((col("id") - 1000000000L).as("id"),
            col("vec").as("vb")), Seq("id"))
          .filter(round(Similarity.cosine(col("va"), col("vb")), 6)
            >= 0.9)
          .select(col("id"))
          .persist()
        // recall only consults the PLANTED pairs' probe cells, so the
        // probe pass runs on those ids (base + twin), not the whole
        // corpus — ~3x less probe work at the 10x scale, same result
        // by construction (found ⊆ planted; oracle restricts alike)
        val probeIds = planted
          .unionByName(planted.select((col("id") + 1000000000L)
            .as("id")))
        val probes = Similarity.ivfProbeCells(
            all.join(probeIds, Seq("id")), centroids, npb)
          .select(col("qid"), col("cell"))
        val found = planted
          .join(probes.select(col("qid").as("id"), col("cell")),
            Seq("id"))
          .join(probes.select((col("qid") - 1000000000L).as("id"),
            col("cell")), Seq("id", "cell"))
          .select(col("id")).distinct()
        planted.agg(count(lit(1)).as("n_planted"))
          .crossJoin(found.agg(count(lit(1)).as("n_found")))
          .select(lit(scale).as("scale"), lit(n).as("n_vecs"),
            lit(k).as("k"), lit(npb).as("nprobe"),
            col("n_planted"), col("n_found"),
            round((col("n_found").cast("double") /
              col("n_planted").cast("double"))
              .cast("decimal(20,10)"), 4).cast("double").as("recall"))
      }
      scaleRow(1).unionByName(scaleRow(10))
    }),
    // Similarity: the declarative IVF COST/OCCUPANCY ADVISOR (r12
    // verdict next #6b) — for k in {kStar/2, kStar, 2·kStar} around
    // the chooser's pick, one row of the quantities the k decision
    // trades: used-cell count, max occupancy (the skew/straggler
    // signal), Σ occupancy² (same-cell verify cost), n·k (assignment
    // cost), and their total — advised marks chooseK's balance point.
    // Exact integer arithmetic end to end.
    "q355_ivf_cost_advisor" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
      val n = e.count()
      val kStar = Similarity.chooseK(n)
      val cands = Seq(math.max(4, kStar / 2), kStar,
        math.min(65536, kStar * 2)).distinct
      cands.map { k =>
        val cen = e.filter(col("id") < k)
          .select(col("id").as("cid"), col("vec").as("cvec"))
        Similarity.ivfAssign(e, cen)
          .groupBy(col("cell")).agg(count(lit(1)).as("occ"))
          .agg(count(lit(1)).as("n_cells"),
            max(col("occ")).as("max_occ"),
            sum(col("occ") * col("occ")).cast("long").as("occ_sq_sum"))
          .select(lit(k).as("k_cand"), col("n_cells"), col("max_occ"),
            col("occ_sq_sum"),
            lit(n * k).as("assign_cost"),
            (col("occ_sq_sum") + lit(n * k)).cast("long")
              .as("total_cost"),
            lit(k == kStar).as("advised"))
      }.reduce(_ unionByName _)
    }),
    // Similarity/training: HARD-NEGATIVE TRIPLET MINING for embedding
    // model training — per anchor (a bounded id%50 panel, the
    // bruteForceTopK broadcast contract) the nearest SAME-label
    // neighbor (positive) and nearest DIFFERENT-label neighbor (the
    // hard negative), cosine ×1e6 micro ints so the margin is an
    // exact integer; ties (cos desc, id).
    "q365_triplet_mining" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").as("vec"), col("label"))
      // anchor/candidate norms hoisted out of the |a|·|e| pair block
      // (Similarity.cosineHoisted — bit-identical to the fused cosine)
      val a = e.filter(col("id") % 50 === 0)
        .select(col("id").as("aid"),
          col("vec").cast("array<double>").as("av"),
          col("label").as("al"), Similarity.normHoisted(col("vec")).as("an"))
      val joined = broadcast(a)
        .join(e.select(col("id").as("cid"),
          col("vec").cast("array<double>").as("cv"),
          col("label").as("cl"),
          Similarity.normHoisted(col("vec")).as("cn")),
          col("aid") =!= col("cid"))
        .withColumn("same", col("al") === col("cl"))
        .withColumn("cm", round(Similarity.cosineHoisted(col("av"),
          col("cv"), col("an"), col("cn")) * 1e6).cast("long"))
      val w = Window.partitionBy(col("aid"), col("same"))
        .orderBy(col("cm").desc, col("cid"))
      val best = joined.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      best.filter(col("same"))
        .select(col("aid"), col("al").as("label"),
          col("cid").as("pos_id"), col("cm").as("pos_cos_micro"))
        .join(best.filter(!col("same")).select(col("aid"),
          col("cid").as("neg_id"), col("cm").as("neg_cos_micro")),
          "aid")
        .select(col("aid").as("anchor_id"), col("label"),
          col("pos_id"), col("pos_cos_micro"), col("neg_id"),
          col("neg_cos_micro"),
          (col("pos_cos_micro") - col("neg_cos_micro"))
            .as("margin_micro"))
    }),
    // Similarity/eval: HUBNESS — the kNN-graph health read: exact
    // k-occurrence (in-degree) moments, max hub, anti-hub count over
    // the brute k=5 graph; Σd = n·k is the built-in invariant. The
    // %2 slice bounds the B² kernel at bench scale.
    "q395_hubness" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.hubnessStats(vecs, 5)
    }),
    // ML/valuation: EXACT kNN-SHAPLEY (Jia et al. 2019) — per-example
    // data value for one probe under the kNN utility: rank by snapped
    // cosine, per-rank floored terms, suffix-sum Shapley values. The
    // closed form that makes data valuation tractable.
    "q410_knn_shapley" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("vec"), col("label").as("y"))
      val cands = e.filter(col("vec_id") % 5 === 1)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").as("y"))
      Similarity.knnShapley(probe, cands, 5)
    }),
    // Coreset: K-CENTER GREEDY (Sener 2018) — 6 farthest-point
    // rounds over the %4 embedding slice, exact ×1e3-snapped L2,
    // incremental min-fold per round, ties (dist desc, id).
    "q425_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterGreedy(
        t(s, dir, "embeddings").filter(col("vec_id") % 4 === 0)
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        6)),
    // Retrieval: LATE INTERACTION (ColBERT MaxSim) — 4 subvector
    // slots, per-query-slot max of snapped cosines, top-5 per %89
    // probe; queries broadcast, docs stream once.
    "q465_late_interaction" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      def dd(c: Column) = transform(c, x => x.cast("double"))
      Similarity.lateInteractionTopK(
        e.filter(col("vec_id") % 89 === 0)
          .select(col("vec_id").as("id"), dd(col("embedding"))
            .as("vec")),
        e.select(col("vec_id").as("id"), dd(col("embedding"))
          .as("vec")), 4, 5)
    }),
    // Embeddings: NEIGHBOR-SET STABILITY — raw vs quarter-grid
    // quantized space; per-%89-probe top-10 Jaccard + corpus mean.
    "q459_neighbor_stability" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      def dd(c: Column) = transform(c, x => x.cast("double"))
      val quant = transform(col("embedding"),
        x => round(x.cast("double") * 4) / 4)
      val qa = e.filter(col("vec_id") % 89 === 0)
        .select(col("vec_id").as("id"), dd(col("embedding")).as("vec"))
      val ca = e.select(col("vec_id").as("id"),
        dd(col("embedding")).as("vec"))
      val qb = e.filter(col("vec_id") % 89 === 0)
        .select(col("vec_id").as("id"), quant.as("vec"))
      val cb = e.select(col("vec_id").as("id"), quant.as("vec"))
      Similarity.neighborStability(qa, ca, qb, cb, 10)
    }),
    // Embeddings: CENTROID DRIFT per class between the even and odd
    // snapshot halves, label 2 planted +0.5 per dim on the odd side;
    // exact cross-multiplied mean distance, no double mean.
    "q454_centroid_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val a = e.filter(col("vec_id") % 2 === 0)
        .select(col("label"),
          transform(col("embedding"), x => x.cast("double"))
            .as("vec"))
      val b = e.filter(col("vec_id") % 2 === 1)
        .select(col("label"),
          transform(col("embedding"), x => x.cast("double") +
            when(col("label") === 2, lit(0.5)).otherwise(lit(0.0)))
            .as("vec"))
      Similarity.centroidDrift(a, b)
    }),
    // Retrieval: ROCCHIO relevance feedback — expand query 0 with
    // α/β/γ = 1/0.75/0.15 over bounded judged sets, rerank the %3
    // candidate slice by exact integer dots.
    "q434_rocchio_expand" -> ((s, dir) => {
      val v = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").as("vec"), col("label"))
      Similarity.rocchioTopK(
        v.filter(col("id") === 0).select(col("id"), col("vec")),
        v.filter(col("label") === 0 && col("id") % 9 === 1)
          .select(col("id"), col("vec")),
        v.filter(col("label") =!= 0 && col("id") % 9 === 2)
          .select(col("id"), col("vec")),
        v.filter(col("id") % 3 === 0).select(col("id"), col("vec")),
        1000000L, 750000L, 150000L, 10)
    }),
    // Similarity/compression: JL SIGNED RANDOM PROJECTION distortion
    // audit — 64→16 dims via the md5-derived ±1 matrix, every pair of
    // a %10 probe slice scored in both spaces (micro cosines, exact
    // integer projections). The read before a pipeline swaps its
    // embedding column for the sketch.
    "q401_random_projection" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.projectionDistortion(vecs, col("id"), col("vec"),
        16, 64, 1000)
    }),
    // Similarity/mining: MARGIN-BASED BITEXT MINING (the LASER
    // criterion) — parity-split the embedding corpus into two "sides",
    // per left vector its best right candidate rescaled by both k-NN
    // neighborhoods; exact micro cosines, DuckDB-`//`-parity division.
    "q403_bitext_margin" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val left = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val right = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.marginMining(left, right, 4)
    }),
    // Similarity/PCA: ALL-BUT-THE-TOP rewrite — the step after q383
    // says yes: subtract each vector's top-component projection in
    // the exact snap space and pin the REWRITE by its invariants per
    // label: Σ r·v (orthogonality witness, ≈ 0 up to truncation),
    // Σ‖r‖², and the projection range. The oracle replays gramian +
    // power steps + the per-dim subtraction.
    "q387_remove_top_component" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val g = Similarity.gramianFixedPoint(e, col("embedding"), 1000)
      val v = Similarity.topEigenFixedPoint(g, 4)
      Similarity.removeTopComponent(e, col("vec_id"), col("embedding"),
          v, 1000)
        .join(e.select(col("vec_id").as("id"), col("label")), "id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("r_dot_v")).as("r_dot_v_sum"),
          sum(col("r_energy")).as("r_energy_sum"),
          min(col("p")).as("p_min"), max(col("p")).as("p_max"))
    }),
    // Similarity/PCA: TOP EIGENVECTOR of the corpus Gramian by
    // fixed-point power iteration — the local eigen-solve of the
    // tall-skinny PCA split made ORACLE-REPLAYABLE: exact decimal
    // matrix-vector products, floor shifts, one correctly-rounded
    // sqrt/divide per step (the logisticGd determinism contract
    // applied to PCA). Four iterations from all-ones; the output pins
    // the entire trajectory, all 64 micro components.
    "q382_top_eigenvector" -> ((s, dir) => {
      val g = Similarity.gramianFixedPoint(t(s, dir, "embeddings"),
        col("embedding"), 1000)
      Similarity.topEigenFixedPoint(g, 4)
    }),
    // Similarity/PCA: TOP-COMPONENT ENERGY per label — the
    // "all-but-the-top" (Arora et al.) decision read: how much of
    // each class's embedding energy lies along the corpus-dominant
    // direction, as EXACT integer masses (projection in the ×1e3
    // snap space, floor via the pmod identity). The oracle replays
    // gramian + 4 power steps + the mass rollup end to end.
    "q383_top_component_mass" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val g = Similarity.gramianFixedPoint(e, col("embedding"), 1000)
      val v = Similarity.topEigenFixedPoint(g, 4)
      Similarity.topComponentMass(e, col("embedding"), col("label"),
        v, 1000)
    }),
    // Similarity/PCA: TOP-K COMPONENTS BY DEFLATION — the
    // multi-component completion of q382/q387 (Arora et al. remove
    // the top k components, not one): one distributed Gramian pass,
    // then k = 3 fixed-point power trajectories with exact-integer
    // Rayleigh/deflation between them, all driver-side on the
    // d²-sized matrix. The output pins every component vector, its
    // eigenvalue, AND the orthogonality witness between successive
    // components — a deflation that drifts anywhere hash-fails.
    "q479_topk_pca_deflation" -> ((s, dir) => {
      val g = Similarity.gramianFixedPoint(t(s, dir, "embeddings"),
        col("embedding"), 1000)
      Similarity.topKComponentsFixedPoint(g, 3, 4)
    }),
    // Similarity/PCA: ALL-BUT-THE-TOP-K — the rewrite q479's
    // components exist FOR (Arora et al.): every vector sheds its
    // top-3 projections sequentially in the exact snap space; the
    // gate pins per vector all three projections, three final-
    // residual orthogonality witnesses, and the exact residual
    // energy — the full deflation→removal chain replayed end to end.
    "q481_remove_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val g = Similarity.gramianFixedPoint(e, col("embedding"), 1000)
      val comps = Similarity.topKComponentsFixedPoint(g, 3, 4)
      Similarity.removeTopKComponents(e, col("vec_id"),
        col("embedding"), comps, 1000)
    }),
    // Similarity/eval: EMBEDDING-QUALITY AUC — over a 200-vector hash
    // panel's pairs, can COSINE separate same-label from diff-label?
    // The metric-learning eval in one number (q232/q295 ask it via
    // clustering/kNN; this is threshold-free): snapped micro cosines
    // as scores, label-equality as truth, the exact two-level-prefix
    // AUC kernel — never the n² comparisons AUC is defined over
    // (pairs here are panel-bounded; the kernel is what scales).
    "q297_embedding_auc" -> ((s, dir) => {
      val panel = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").cast("long").as("lb"),
          Dedup.hashLong(concat(lit("ea"),
            col("vec_id").cast("string"))).as("h"))
        .orderBy(col("h"), col("id")).limit(200)
        .select(col("id"), col("vec").cast("array<double>").as("vec"),
          col("lb"), Similarity.normHoisted(col("vec")).as("vn"))
      val pairs = panel.as("a").join(panel.as("b"),
          col("a.id") < col("b.id"))
        .select((col("a.lb") === col("b.lb")).as("y"),
          round(round(Similarity.cosineHoisted(col("a.vec"), col("b.vec"),
            col("a.vn"), col("b.vn")), 6)
            .cast("decimal(20,10)") * 1000000).cast("long").as("sm"))
      Profile.aucExact(pairs, col("y"), col("sm"), 1000000L)
    }),
    // Similarity/ML: kNN CLASSIFIER eval — 5-NN majority vote over
    // the labeled embeddings for a 100-query hash panel, confusion
    // counts out: the zero-training baseline any embedding-space
    // classifier must beat (and the direct read on whether labels
    // are SEPARABLE in the space — q232/q228 ask it of clusters,
    // this of neighborhoods). Brute candidates on the bounded panel
    // (swap ivfSearch at corpus scale); vote ties break on label.
    "q295_knn_classifier" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").cast("long").as("lb"))
      val e = emb.select(col("id"), col("vec"))
      val qs = emb.select(col("id"), col("vec"), col("lb"),
          Dedup.hashLong(concat(lit("kc"), col("id").cast("string")))
            .as("h"))
        .orderBy(col("h"), col("id")).limit(100)
      val nn = Similarity.bruteForceTopK(
          qs.select(col("id"), col("vec")), e, 5)
        .join(emb.select(col("id").as("neighbor_id"),
          col("lb").as("nl")), "neighbor_id")
      val vote = nn.groupBy(col("query_id"), col("nl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("c").desc, col("nl"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("nl").as("pred"))
      qs.select(col("id").as("query_id"), col("lb").as("true_label"))
        .join(vote, "query_id")
        .groupBy(col("true_label"), col("pred"))
        .agg(count(lit(1)).as("n"))
    }),
    // Graph: EDGE EMBEDDEDNESS / weak-tie audit (Granovetter) — per
    // undirected edge, the number of COMMON neighbors (its triangle
    // support): support-0 edges are the weak ties/bridges information
    // actually crosses, dense-support edges sit inside communities.
    // The per-EDGE face of q142's per-node triangle counts — same
    // wedge equi-join kernel, grouped on the edge; distribution out.
    "q279_edge_embeddedness" -> ((s, dir) => {
      val e = docLinkEdges(s, dir)
      val und = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      val adj = und.select(col("u").as("a"), col("v").as("b"))
        .unionByName(und.select(col("v").as("a"), col("u").as("b")))
      val sup = und.as("e")
        .join(adj.as("x"), col("e.u") === col("x.a"))
        .join(adj.as("y"),
          col("e.v") === col("y.a") && col("x.b") === col("y.b"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("support"))
      val full = und.join(sup, Seq("u", "v"), "left")
        .na.fill(0L, Seq("support"))
      val tot = full.agg(count(lit(1)).as("n_und"))
      full.groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(tot))
        .select(col("support"), col("n_edges"),
          round((col("n_edges").cast("double") /
            col("n_und").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("share"))
    }),
    // Stats: MANN–WHITNEY U, each source's doc-length distribution vs
    // the rest of the pool — the nonparametric location-shift screen
    // beside the KS shape test. Exact tie-corrected midrank algebra on
    // the distinct length domain (two-level prefix kernel, one
    // (source, length) hash aggregate — never the n² pairs U is
    // defined over); z and the rank-biserial effect size snap from
    // exact DECIMAL(38,0) integers through one division + sqrt.
    "q244_mann_whitney" -> ((s, dir) =>
      Profile.mannWhitneyVsRest(t(s, dir, "documents"),
          col("source"), col("n_chars"))
        .withColumnRenamed("g", "source")),
    // Similarity: contrastive HARD-NEGATIVE mining over the planted-dup
    // corpus — per query, the 5 most-similar candidates BELOW the 0.9
    // dup threshold (the q123 near-dup gate): planted duplicates are
    // false negatives and never mined; rank k is the k-th non-dup.
    "q155_hard_negatives" -> ((s, dir) => {
      val all = q123Vectors(s, dir)
      Similarity.hardNegatives(all.filter(col("id") < 10), all, 0.9, 5)
    }),
    // Similarity: ANN recall ESTIMATOR — recall@5 of the multi-probe
    // IVF scale path against brute-force ground truth, per nprobe ∈
    // {1,2,4} (monotone by candidate nesting). The query set is a
    // fixed-SIZE bottom-100-by-md5 sample, so the brute-truth
    // broadcast and the audit cost are constant at any corpus size,
    // and the probe filter lives INSIDE ivfSearch — only sampled
    // queries are ever ranked (round-6 ranked the full corpus and
    // discarded 9/10 of it).
    "q108_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val centroids = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      // truth/assigned are consumed once per nprobe tier (3×) but must
      // NOT be persisted: within one plan Spark's ReusedExchange already
      // computes each identical subtree once, while an InMemoryRelation
      // would BLOCK that reuse and pay columnar cache-compression of the
      // vector columns (measured: persist made this query 3× slower)
      val truth = Similarity.bruteForceTopK(qs, e, 5)
      val assigned = Similarity.ivfAssign(e, centroids)
      val hits = Seq(1, 2, 4).map { np =>
        val approx = Similarity.ivfSearch(qs, assigned, centroids, 5,
          nprobe = np, preAssigned = true)
        truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
          .withColumn("nprobe", lit(np))
      }.reduce(_.unionByName(_))
      qs.select(col("id").as("query_id"))
        .withColumn("nprobe", explode(array(lit(1), lit(2), lit(4))))
        .join(hits, Seq("query_id", "nprobe"), "left")
        .select(col("query_id"), col("nprobe"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: IVF centroid TRAINING (Lloyd's lite) — per-cell
    // occupancy + the ×1e6 fixed-point spherical-kmeans objective
    // under the seed centroids (iter 1) and under the once-trained
    // per-dim means (iter 2). The means snap components to fixed point
    // BEFORE summing, so the trained centroid values — and hence the
    // iter-2 assignment — are bit-identical on any engine.
    "q110_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val c1 = Similarity.kmeansStep(e, c0)
      Similarity.ivfCellStats(e, c0).withColumn("iter", lit(1))
        .unionByName(
          Similarity.ivfCellStats(e, c1).withColumn("iter", lit(2)))
        .select(col("iter"), col("cell").as("cid"), col("n_members"),
          col("obj_fp"))
    }),
    // Similarity: the COMPLETE ANN story end-to-end — train centroids
    // in-engine (one exact fixed-point Lloyd step from the id<16
    // seed), then measure recall@5 of multi-probe IVF (nprobe=2) on
    // the fixed 100-query sample under the SEED vs the TRAINED
    // centroids. Everything composes the audited kernels: kmeansTrain
    // (q110), ivfSearch with the probe filter inside (q108),
    // bruteForceTopK's bounded-sample truth. Trained centroids ride
    // the same broadcast path as the seed; audit cost stays constant
    // in corpus size (fixed-size sample, fixed centroid count).
    "q112_ivf_trained_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val c1 = Similarity.kmeansTrain(e, c0, 1)
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      // no persist on truth: ReusedExchange shares the subtree across
      // both centroid-set branches of this one plan (see q108)
      val truth = Similarity.bruteForceTopK(qs, e, 5)
      val hits = Seq(0 -> c0, 1 -> c1).map { case (tag, c) =>
        val approx = Similarity.ivfSearch(qs, e, c, 5, nprobe = 2)
        truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
          .withColumn("trained", lit(tag))
      }.reduce(_.unionByName(_))
      qs.select(col("id").as("query_id"))
        .withColumn("trained", explode(array(lit(0), lit(1))))
        .join(hits, Seq("query_id", "trained"), "left")
        .select(col("query_id"), col("trained"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: PRODUCT QUANTIZATION (IVF-PQ's memory half) — the
    // 64-dim embeddings split into m=8 subspaces, a per-subspace
    // codebook (16 codewords, id<16 seed) takes one exact fixed-point
    // Lloyd step, the corpus PQ-encodes to 8 code bytes per vector
    // (the 100 TB resident-index story: bytes instead of floats), and
    // the fixed 100-query sample ranks by asymmetric distance — per-
    // subspace LUT sums over codes only, corpus floats never touched
    // after encode. Output: recall@5 of ADC vs exact-L2 truth.
    "q117_pq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val sv = Similarity.subVectors(e, 8)
      val cb1 = Similarity.pqTrainStep(sv, Similarity.pqSeedCodebook(e, 8, 16))
      val codes = Similarity.pqAssign(sv, cb1)
        .select(col("id"), col("sub"), col("code"))
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      // cb1 feeds both the encode and the LUT: ReusedExchange computes
      // the training aggregate once per execution — no persist (lesson
      // 23; persisting measured slower on the q108/q112 siblings)
      val truth = Similarity.bruteForceTopKL2(qs, e, 5)
      val approx = Similarity.pqAdcTopK(qs, codes, cb1, 8, 5)
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      qs.select(col("id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: IVF-PQ END TO END — q117's trained PQ codebook under
    // an L2 coarse quantizer: the corpus routes to 16 cells, encodes to
    // 8 code bytes, and the fixed 100-query sample probes nprobe ∈
    // {2, 4} cells, ranking only those cells' members by LUT-summed
    // asymmetric distance. recall@5 vs exact-L2 truth, per nprobe —
    // monotone by candidate nesting; per-query cost = probed occupancy
    // × 8 lookups, independent of corpus size once assigned+encoded.
    "q118_ivfpq_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val sv = Similarity.subVectors(e, 8)
      val cb1 = Similarity.pqTrainStep(sv, Similarity.pqSeedCodebook(e, 8, 16))
      val ivfC = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      val truth = Similarity.bruteForceTopKL2(qs, e, 5)
      // BOTH tiers from one assign/encode/ADC pass (candidate nesting:
      // tier np = probe-rank ≤ np) — the per-tier loop recomputed the
      // heavy subtrees once per tier and measured 4× the single-tier
      // q117 on the same kernels
      val approx = Similarity.ivfPqSearchTiered(qs, e, ivfC, cb1, 8, 5,
        Seq(2, 4))
      val hits = approx
        .join(truth.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id"), col("nprobe"))
        .agg(count(lit(1)).as("n_hit"))
      qs.select(col("id").as("query_id"))
        .withColumn("nprobe", explode(array(lit(2), lit(4))))
        .join(hits, Seq("query_id", "nprobe"), "left")
        .select(col("query_id"), col("nprobe"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: RESIDUAL IVF-PQ (the canonical form) — the coarse
    // tier takes one exact L2 Lloyd step (means are the within-cell
    // variance minimizers — the step that makes residuals SMALL), PQ
    // codebooks train on vec − centroid(cell) residuals so codewords
    // spend their bits on within-cell spread, per-cell query residuals
    // build the LUT, and the ADC join on (cell, sub, code) restricts
    // candidates to probed cells with no separate candidate join.
    // recall@5 at nprobe=2 vs exact-L2 truth: 0.16 vs q118's 0.134
    // non-residual tier at the same nprobe — the residual win, which
    // INVERTS to 0.08 if the coarse tier stays untrained (loose cells
    // ⇒ residual variance ≈ 2× raw; measured, see NOTES).
    "q121_ivfpq_residual" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val ivfC = Similarity.kmeansStepL2(e, c0).localCheckpoint(true)
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      val truth = Similarity.bruteForceTopKL2(qs, e, 5)
      val approx = Similarity.ivfPqSearchResidual(qs, e, ivfC, 8, 16, 5, 2,
        seedFrom = 16L)
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      qs.select(col("id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: MULTI-ITERATION Euclidean k-means — per-cell
    // occupancy and the ×1e6 fixed-point SSE objective under the seed
    // (iter 0), after one Lloyd step (iter 1), and after three
    // (iter 3). Lloyd guarantees the total SSE is non-increasing
    // (assignment argmins, the mean minimizes within-cell SSE) — a
    // spec pins it; the oracle unrolls the exact fixed-point steps.
    // c3 continues FROM c1 (two more steps), so training cost is 3
    // corpus aggregates, not 4.
    "q124_kmeans_l2_train" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val c1 = Similarity.kmeansTrainL2(e, c0, 1)
      val c3 = Similarity.kmeansTrainL2(e, c1, 2)
      Seq(0 -> c0, 1 -> c1, 3 -> c3).map { case (i, c) =>
        Similarity.ivfCellStatsL2(e, c).withColumn("iter", lit(i))
      }.reduce(_.unionByName(_))
        .select(col("iter"), col("cell").as("cid"), col("n_members"),
          col("sse_fp"))
    }),
    // Similarity/eval: SIMPLIFIED SILHOUETTE of the trained clustering
    // — q124 proves SSE falls; this scores how SEPARATED the result
    // is, per cell (the number an embedding-space "is k right" sweep
    // compares). Same 2-iteration training as q124's c2 tier.
    "q215_silhouette" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      Similarity.silhouetteSimplified(e,
        Similarity.kmeansTrainL2(e, c0, 2))
    }),
    // Similarity/graph: MUTUAL-kNN reciprocity per label over the
    // CELL-BLOCKED kNN graph — neighbors rank within each trained IVF
    // cell (Σ|cell|² work, the 100 TB bound; a corpus-wide brute
    // self-kNN was MEASURED 12.4 s at sf0.1 vs 3.8 s blocked), then
    // each directed edge checks for its reverse via ONE leftsemi
    // self-join (ReusedExchange dedups the shared kNN subtree — no
    // persist, the q210/q216 lesson). Reciprocity is the standard
    // manifold-quality read: mutual edges survive into mutual-kNN
    // clustering, one-way edges mark hubness/boundary points.
    // Singleton-cell nodes have no edges and drop out (declared).
    "q224_mutual_knn" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val assign = Similarity.ivfAssignL2Scored(e,
          Similarity.kmeansTrainL2(e, c0, 1))
        .select(col("id"), col("vec"), col("cell"))
      val knn = assign
        .withColumn("vn", Similarity.normHoisted(col("vec")))
        .withColumn("vecd", col("vec").cast("array<double>"))
        .as("a").join(assign
          .withColumn("vn", Similarity.normHoisted(col("vec")))
          .withColumn("vecd", col("vec").cast("array<double>")).as("b"),
          col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
        .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
          round(Similarity.cosineHoisted(col("a.vecd"), col("b.vecd"),
            col("a.vn"), col("b.vn")), 6)
            .as("sim"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"))
      val mutual = knn.join(
        knn.select(col("query_id").as("neighbor_id"),
          col("neighbor_id").as("query_id")),
        Seq("query_id", "neighbor_id"), "leftsemi")
      val perNode = knn.groupBy(col("query_id"))
        .agg(count(lit(1)).as("deg"))
        .join(mutual.groupBy(col("query_id"))
          .agg(count(lit(1)).as("mdeg")), Seq("query_id"), "left")
        .na.fill(0L, Seq("mdeg"))
      perNode
        .join(t(s, dir, "embeddings")
          .select(col("vec_id").as("query_id"), col("label")), "query_id")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("deg")).as("n_edges"),
          sum(col("mdeg")).as("n_mutual"))
        .select(col("label"), col("n_nodes"), col("n_edges"),
          col("n_mutual"),
          round((col("n_mutual").cast("double") /
            col("n_edges").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("reciprocity"))
    }),
    // Similarity: plain-IVF L2 recall under 1 vs 3 trained Lloyd
    // steps — q112's trained-recall audit under the Euclidean metric
    // (bruteForceTopKL2 truth on the fixed 100-query sample,
    // ivfSearchL2 at nprobe=2 under each centroid set). Reports the
    // recall a better-trained coarse tier buys; the SSE guarantee
    // lives in q124, recall itself is measured, not promised.
    "q125_ivf_l2_trained_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val c0 = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      val c1 = Similarity.kmeansTrainL2(e, c0, 1)
      val c3 = Similarity.kmeansTrainL2(e, c1, 2)
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      // no persist on truth: ReusedExchange shares the subtree across
      // both centroid-set branches of this one plan (see q108)
      val truth = Similarity.bruteForceTopKL2(qs, e, 5)
      val hits = Seq(1 -> c1, 3 -> c3).map { case (tag, c) =>
        val approx = Similarity.ivfSearchL2(qs, e, c, 5, nprobe = 2)
        truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
          .withColumn("iters", lit(tag))
      }.reduce(_.unionByName(_))
      qs.select(col("id").as("query_id"))
        .withColumn("iters", explode(array(lit(1), lit(3))))
        .join(hits, Seq("query_id", "iters"), "left")
        .select(col("query_id"), col("iters"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Retrieval: RECIPROCAL-RANK FUSION — three md5 retriever lists
    // (top 8 each) over a shared candidate pool, fused at k0=60 into
    // a top-5 per query; floored reciprocal contributions, doc-id
    // tiebreaks.
    "q503_rrf_fusion" -> ((s, dir) => {
      import graft.ops.Dedup.hashLong
      val w = Window.partitionBy(col("l"), col("q"))
        .orderBy(col("h"), col("doc_id"))
      val rows = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 0).select(col("doc_id"))
        .crossJoin(s.range(3).select(col("id").as("l")))
        .crossJoin(s.range(10).select(col("id").as("q")))
        .withColumn("h", hashLong(concat(lit("rrf"), col("l"),
          lit(":"), col("q"), lit(":"), col("doc_id"))))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= 8)
      Similarity.rrfFusion(rows,
        concat(lit("q"), col("q").cast("string")), col("doc_id"),
        col("r"), 60, 5)
    }),
    // Similarity: BINARY (1-bit/dim) quantization recall — the 128×
    // compression tier below SQ8: micro-snapped mean thresholds, 32-bit
    // word packing, hamming shortlist (40) + exact cosine rerank,
    // recall@5 vs the exact cosine truth. The quantization ladder
    // (PQ / SQ8 / matryoshka / binary) is now complete.
    "q497_binary_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val thr = Similarity.binaryThresholds(e)
      val codes = Similarity.binaryEncode(e, thr)
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      val cand = Similarity.binaryTopC(
        Similarity.binaryEncode(qs, thr), codes, 40)
      val approx = Similarity.rerankExact(qs, e, cand, 5)
        .select(col("query_id"), col("neighbor_id"))
      val truth = Similarity.bruteForceTopK(qs, e, 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      qs.select(col("id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: SCALAR QUANTIZATION (SQ8) — the compression tier
    // between raw floats and PQ codes: one per-dim min/max pass (d-row
    // aggregate, broadcast back), every vector snaps to d 8-bit bin
    // indices (4× resident-index compression), and the fixed 100-query
    // sample ranks corpus rows by exact-query-vs-reconstruction squared
    // L2 — the scan touches only the codes plus the one stats row.
    // Output: recall@5 of the SQ8 scan vs exact-L2 truth.
    "q128_sq8_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val st = Similarity.sqStats(e)
      val codes = Similarity.sqEncode(e, st)
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      // no persist: the stats row is a ReusedExchange across the encode
      // and decode consumers of this one plan (see q108)
      val truth = Similarity.bruteForceTopKL2(qs, e, 5)
      val approx = Similarity.sqTopK(qs, codes, st, 5)
      val hits = truth.join(approx, Seq("query_id", "neighbor_id"),
          "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      qs.select(col("id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: TRUNCATED-DIMENSION retrieval cascade (matryoshka) —
    // stage 1 shortlists per query by cosine over only the FIRST 16 of
    // 64 dims (at scale: a 4× cheaper scan, the prefix laid out as its
    // own column), stage 2 reranks the shortlist by full-dim cosine.
    // Both shortlist tiers (10, 30) share ONE stage-1 ranking — tier
    // membership is just prank <= R, the q108 multi-probe trick — so
    // recall-vs-cost is measured from a single pass. Output: recall@5
    // per query per shortlist depth vs exact cosine truth.
    "q129_matryoshka_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      val cand = Similarity.truncatedCandidates(qs, e, 16, 30)
      val truth = Similarity.bruteForceTopK(qs, e, 5)
      val hits = Seq(10, 30).map { r =>
        val approx = Similarity.rerankExact(qs, e,
          cand.filter(col("prank") <= r), 5)
        truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
          .withColumn("shortlist", lit(r))
      }.reduce(_.unionByName(_))
      qs.select(col("id").as("query_id"))
        .withColumn("shortlist", explode(array(lit(10), lit(30))))
        .join(hits, Seq("query_id", "shortlist"), "left")
        .select(col("query_id"), col("shortlist"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round((coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
            .cast("decimal(20,10)"), 4).cast("double").as("recall_at_5"))
    }),
    // Similarity: retrieval SCORECARD — RR and NDCG@5 of the
    // matryoshka cascade (shortlist 10) against exact cosine truth,
    // per query: the rank-sensitive metrics recall@k can't see.
    // Discount terms 1e6/log2(rank+1) snap to integers pre-sum, so
    // every NDCG is a ratio of exact integers.
    "q139_ann_ranking_metrics" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = e.select(col("id"), col("vec"),
          Dedup.hashLong(col("id").cast("string")).as("h"))
        .orderBy(col("h"), col("id")).limit(100)
        .select(col("id"), col("vec"))
      val truth = Similarity.bruteForceTopK(qs, e, 5)
      val approx = Similarity.rerankExact(qs, e,
        Similarity.truncatedCandidates(qs, e, 16, 10), 5)
      Similarity.rankingMetrics(truth, approx)
        .withColumnRenamed("ndcg", "ndcg_at_5")
    }),
    // Similarity/Quality: embedding OUTLIER gate — vectors whose cell
    // affinity is > 2σ below their cell's mean (the "belongs nowhere"
    // rows a pipeline drops before training). The z-test runs on exact
    // integers (×1e6 affinities, decimal(38,0) moments, D² vs
    // 4(nΣ²−Σ²)) — no float mean/σ, so the flag is bit-identical on
    // any engine; per-cell stats broadcast back over one assignment
    // shuffle.
    "q120_embedding_outliers" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val centroids = e.filter(col("id") < 16)
        .select(col("id").as("cid"), col("vec").as("cvec"))
      Similarity.cellOutliers(e, centroids)
    }),
    // Similarity: INCREMENTAL exact embedding near-dup — the q82/q114
    // asymmetry on the cosine modality, completing the incremental
    // family (jaccard q82, LSH q114, fuzzy q106): an increment (half
    // exact copies, half reversed-vector strangers) scans old ∪ new
    // with the blocked pair kernel, old×old never computed. Work is
    // |new|·|corpus| dots across Bn·Ba bounded-memory block tasks.
    "q119_incremental_cosine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val inc = e.select((col("id") + 1000000000).as("id"),
        when(pmod(col("id"), lit(2)) === 0, col("vec"))
          .otherwise(reverse(col("vec"))).as("vec"))
      Similarity.cosineNearDupPairsIncremental(e, inc, 0.95, 16)
    }),
    // Profiling: robust median/MAD outlier gate per order priority —
    // the estimator outliers can't drag; multiply-form flag, no
    // division, stats broadcast back between the two passes.
    "q80_robust_outliers" -> ((s, dir) =>
      Profile.robustOutliers(t(s, dir, "orders"),
        col("o_orderpriority"), col("o_totalprice"), 3.0)
        .select(col("g"), col("n"),
          round(col("med").cast("decimal(20,10)"), 4).cast("double").as("med"),
          round(col("mad").cast("decimal(20,10)"), 4).cast("double").as("mad"),
          col("n_outliers"))),
    // Dedup: embedding-cosine near-dup pairs (planted perturbed copies).
    "q30_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val pert = e.select((col("id") + 1000000000).as("id"),
        transform(col("vec"), (x, i) =>
          when(i === 0, x.cast("double") + 0.5).otherwise(x.cast("double"))).as("vec"))
      Similarity.cosineNearDupPairsExact(
        e.select(col("id"), transform(col("vec"), x => x.cast("double")).as("vec"))
          .unionByName(pert), 0.9)
    }),
    // Similarity: brute-force cosine top-5 neighbors for a query batch.
    "q31_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(e.filter(col("id") < 20), e, 5)
    }),
    // Embedding stats: per-label per-dimension centroids (posexplode →
    // (label, dim) hash-agg; the vector-column group-aggregate shape).
    "q34_embed_centroids" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("x").cast("double")), 6).as("avg_val"),
          count(lit(1)).as("n"))),
    // Similarity: IVF-bucketed ANN (16 data-derived centroids, nprobe=1).
    "q37_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("vec_id"), col("embedding").as("vec"))
      val centroids = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("vec").as("cvec"))
      Similarity.ivfTopK(e.select(col("id"), col("vec")), centroids, 5)
    }),
    // Beyond-reference: per-vector int8 quantization of the embedding
    // column (symmetric, scale = 127/max|x|) — the storage-halving step
    // of a large-scale ANN pipeline. floor(x+0.5) not round(): floor is
    // exact in IEEE so both engines pick identical integers.
    "q55_embed_quantize" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          Cols.bound(array_max(transform(col("embedding"),
            x => abs(x))).cast("double")) { amax =>
            when(amax === 0d, array_repeat(lit(0L), size(col("embedding"))))
              .otherwise(transform(col("embedding"),
                x => floor(x.cast("double") * (lit(127.0) / amax) + 0.5)
                  .cast("long")))
          }.as("q"))
        .select(col("vec_id"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          size(filter(col("q"), x => abs(x) === 127L)).as("n_sat")))
  )

  val oracleSql: Map[String, String] = Map(

    // Same fixed-point chain: ×1e6 weight snap, exact 128-bit square
    // sum under the norm, ×1e6 re-snap, integer ×1e12 dot product and
    // integer threshold — the df > N/5 stopword prune via the exact
    // integer cross-multiply on both sides.
    "q148_sparse_cosine" ->
      s"""WITH tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id AS id, unnest($tokSql) AS term
         |    FROM documents) GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |  FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |w AS (SELECT id, term, CAST(round(tf
         |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6)
         |    AS BIGINT) AS wfp
         |  FROM tf JOIN dfq USING (term) CROSS JOIN nd
         |  WHERE df * 5 <= n_docs * 1),
         |norms AS (SELECT id, sqrt(CAST(sum(wfp * wfp) AS DOUBLE)) AS norm
         |  FROM w GROUP BY 1),
         |nw AS (SELECT id, term,
         |    CAST(round(CAST(wfp AS DOUBLE) / norm * 1e6) AS BIGINT)
         |      AS nwfp
         |  FROM w JOIN norms USING (id)),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(sum(a.nwfp * b.nwfp) AS BIGINT) AS sfp
         |  FROM nw a JOIN nw b ON a.term = b.term AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  CAST(round(CAST(CAST(sfp AS DOUBLE) / 1e12
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS sim
         |FROM p WHERE sfp >= 600000000000""".stripMargin,
    // Same ×1000 snap (double-cast first), same per-row outer-product
    // enumeration, exact integer cells cast to double at the end.
    "q176_gramian" ->
      """WITH c AS (SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS c
        |  FROM embeddings),
        |ii AS (SELECT c, unnest(range(1, len(c) + 1)) AS i FROM c),
        |p AS (SELECT i, c[i] AS ci, unnest(range(1, len(c) + 1)) AS j, c
        |  FROM ii)
        |SELECT CAST(i - 1 AS INTEGER) AS i, CAST(j - 1 AS INTEGER) AS j,
        |  CAST(CAST(sum(ci * c[j]) AS HUGEINT) AS DOUBLE) AS g
        |FROM p GROUP BY 1, 2""".stripMargin,
    // Same md5 halves, same snapped per-dim sums, same exact-integer
    // dot/norm algebra with one double chain per label.
    "q187_centroid_drift" -> {
      val halfSql = s"${h60("CAST(vec_id AS VARCHAR)")} % 2"
      s"""WITH ex AS (SELECT label, vec_id, embedding,
         |    unnest(range(1, len(embedding) + 1)) AS i
         |  FROM embeddings),
         |e AS (SELECT label, $halfSql AS half, i,
         |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)
         |      AS c
         |  FROM ex),
         |bd AS (SELECT label, half, i, CAST(sum(c) AS BIGINT) AS s
         |  FROM e GROUP BY 1, 2, 3),
         |j AS (SELECT a.label, a.s AS sa, b.s AS sb
         |  FROM bd a JOIN bd b
         |    ON a.label = b.label AND a.i = b.i
         |   AND a.half = 0 AND b.half = 1),
         |p AS (SELECT label,
         |    CAST(sum(CAST(sa AS HUGEINT) * sb) AS HUGEINT) AS dot,
         |    CAST(sum(CAST(sa AS HUGEINT) * sa) AS HUGEINT) AS na2,
         |    CAST(sum(CAST(sb AS HUGEINT) * sb) AS HUGEINT) AS nb2
         |  FROM j GROUP BY 1),
         |cn AS (SELECT label,
         |    CAST(sum(CASE WHEN $halfSql = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN $halfSql = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_b
         |  FROM embeddings GROUP BY 1)
         |SELECT cn.label AS label, n_a, n_b,
         |  CAST(round(CAST(CAST(dot AS DOUBLE)
         |    / sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE))
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS cos_halves
         |FROM cn JOIN p ON cn.label = p.label
         |ORDER BY label""".stripMargin
    },
    // Same ×1e6 per-component snap pre-sum; cosine on the integer sum
    // vectors in HUGEINT, the identical two-sqrt one-division tail.
    "q246_centroid_separation" ->
      """WITH dm AS (SELECT g, pos, CAST(sum(sv) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS nn
        |  FROM (SELECT label AS g,
        |      generate_subscripts(embedding, 1) - 1 AS pos,
        |      CAST(round(CAST(unnest(embedding) AS DOUBLE)
        |        * CAST(1e6 AS DOUBLE)) AS BIGINT) AS sv
        |    FROM embeddings) GROUP BY 1, 2),
        |nr AS (SELECT g, sum(CAST(sv AS HUGEINT) * sv) AS nrm2,
        |    max(nn) AS n FROM dm GROUP BY 1),
        |dt AS (SELECT a.g AS la, b.g AS lb,
        |    sum(CAST(a.sv AS HUGEINT) * b.sv) AS dt
        |  FROM dm a JOIN dm b ON a.pos = b.pos AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT CAST(la AS BIGINT) AS label_a,
        |  CAST(lb AS BIGINT) AS label_b,
        |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
        |  CASE WHEN na.nrm2 = 0 OR nb.nrm2 = 0 THEN NULL ELSE
        |    CAST(round(CAST(CAST(dt.dt AS DOUBLE) /
        |      (sqrt(CAST(na.nrm2 AS DOUBLE)) * sqrt(CAST(nb.nrm2 AS DOUBLE)))
        |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS cos_ab
        |FROM dt JOIN nr na ON na.g = dt.la JOIN nr nb ON nb.g = dt.lb""".stripMargin,
    // Same ×1e6 micro snap on the 6dp cosines, same integer
    // 7·rel − 3·maxsim score, greedy rounds 2..5 unrolled (selu_r =
    // picks so far, ms_r = per-candidate max sim to them, s_r = the
    // round's (score desc, cid) argmax over the anti-joined rest).
    "q254_mmr_rerank" -> {
      def roundSql(r: Int): String = {
        val pu = if (r == 2) "SELECT qid, cid FROM s1"
        else s"SELECT * FROM selu${r - 1} UNION ALL SELECT qid, cid FROM s${r - 1}"
        s"""selu$r AS ($pu),
           |ms$r AS (SELECT sm.sqid, sm.a, CAST(max(sm.sim_m) AS BIGINT) AS m
           |  FROM sims sm JOIN selu$r su
           |    ON su.qid = sm.sqid AND su.cid = sm.b
           |  GROUP BY 1, 2),
           |s$r AS (SELECT qid, cid, rel_m, score FROM (
           |  SELECT r0.qid, r0.cid, r0.rel_m,
           |    7 * r0.rel_m - 3 * m.m AS score,
           |    row_number() OVER (PARTITION BY r0.qid
           |      ORDER BY 7 * r0.rel_m - 3 * m.m DESC, r0.cid) AS rn
           |  FROM rel r0
           |  JOIN ms$r m ON m.sqid = r0.qid AND m.a = r0.cid
           |  LEFT JOIN selu$r su ON su.qid = r0.qid AND su.cid = r0.cid
           |  WHERE su.cid IS NULL) WHERE rn = 1)""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id AS id, embedding AS vec
         |  FROM embeddings),
         |rel AS (SELECT qid, cid,
         |    CAST(round(CAST(c AS DECIMAL(20,10)) * 1000000) AS BIGINT)
         |      AS rel_m
         |  FROM (SELECT q.id AS qid, c.id AS cid,
         |      round(${cosSql("q.vec", "c.vec")}, 6) AS c,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(${cosSql("q.vec", "c.vec")}, 6) DESC,
         |          c.id) AS rn
         |    FROM e q JOIN e c ON q.id != c.id WHERE q.id < 10)
         |  WHERE rn <= 20),
         |pool AS (SELECT rel.qid, rel.cid, e.vec
         |  FROM rel JOIN e ON e.id = rel.cid),
         |sims AS (SELECT a.qid AS sqid, a.cid AS a, b.cid AS b,
         |    CAST(round(CAST(round(${cosSql("a.vec", "b.vec")}, 6)
         |      AS DECIMAL(20,10)) * 1000000) AS BIGINT) AS sim_m
         |  FROM pool a JOIN pool b
         |    ON a.qid = b.qid AND a.cid != b.cid),
         |s1 AS (SELECT qid, cid, rel_m, 7 * rel_m AS score FROM (
         |  SELECT qid, cid, rel_m, row_number() OVER (PARTITION BY qid
         |    ORDER BY rel_m DESC, cid) AS rn FROM rel) WHERE rn = 1),
         |${(2 to 5).map(roundSql).mkString(",\n")}
         |SELECT qid AS query_id, CAST(pick_rank AS INT) AS pick_rank,
         |  cid AS cand_id, rel_m AS rel_micro, score AS score_micro
         |FROM (
         |  SELECT qid, cid, rel_m, score, 1 AS pick_rank FROM s1
         |  UNION ALL SELECT qid, cid, rel_m, score, 2 FROM s2
         |  UNION ALL SELECT qid, cid, rel_m, score, 3 FROM s3
         |  UNION ALL SELECT qid, cid, rel_m, score, 4 FROM s4
         |  UNION ALL SELECT qid, cid, rel_m, score, 5 FROM s5)""".stripMargin
    },
    // The chooser replayed in SQL: k = clamp(ceil(sqrt n)) from the
    // corpus count, centroids = the k lowest ids, nprobe=4 probe
    // ranking mirrors ivfProbeCells (rounded-cos desc, cid), a planted
    // pair counts as found when its two sides share a probed cell.
    "q352_ann_k_chooser" ->
      s"""WITH e0 AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings),
         |sc AS (SELECT unnest([1, 10]) AS scale),
         |base AS (SELECT s.scale, e.vec_id + i.i * 100000000 AS id,
         |    e.vec
         |  FROM e0 e CROSS JOIN sc s
         |  JOIN (SELECT unnest(range(10)) AS i) i ON i.i < s.scale),
         |allv AS (SELECT scale, id, vec FROM base
         |  UNION ALL
         |  SELECT scale, id + 1000000000,
         |    [CASE WHEN j = 1 THEN vec[j] + CAST(0.5 AS DOUBLE)
         |      ELSE vec[j] END for j in range(1, len(vec) + 1)]
         |  FROM base),
         |params AS (SELECT scale, CAST(count(*) AS BIGINT) AS n,
         |    GREATEST(4, LEAST(65536,
         |      CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS INT))) AS k
         |  FROM allv GROUP BY 1),
         |ct AS (SELECT a.scale, a.id AS cid, a.vec AS cvec
         |  FROM allv a JOIN params p
         |    ON a.scale = p.scale AND a.id < p.k),
         |planted AS (SELECT a.scale, a.id
         |  FROM allv a JOIN allv b ON a.scale = b.scale
         |    AND b.id = a.id + 1000000000
         |  WHERE a.id < 1000000000
         |    AND round(${cosSql("a.vec", "b.vec")}, 6)
         |      >= CAST(0.9 AS DOUBLE)),
         |pids AS (SELECT scale, id FROM planted
         |  UNION ALL SELECT scale, id + 1000000000 FROM planted),
         |pc AS (SELECT scale, qid, cell FROM (
         |  SELECT v.scale, v.id AS qid, c.cid AS cell,
         |    row_number() OVER (PARTITION BY v.scale, v.id
         |      ORDER BY round(${cosSql("v.vec", "c.cvec")}, 6) DESC,
         |        c.cid) AS pr
         |  FROM (SELECT a.* FROM allv a JOIN pids
         |    ON a.scale = pids.scale AND a.id = pids.id) v
         |  JOIN ct c ON v.scale = c.scale) WHERE pr <= 4),
         |found AS (SELECT DISTINCT pl.scale, pl.id
         |  FROM planted pl
         |  JOIN pc x ON x.scale = pl.scale AND x.qid = pl.id
         |  JOIN pc y ON y.scale = pl.scale
         |    AND y.qid = pl.id + 1000000000 AND y.cell = x.cell),
         |pagg AS (SELECT scale, CAST(count(*) AS BIGINT) AS n_planted
         |  FROM planted GROUP BY 1),
         |fagg AS (SELECT scale, CAST(count(*) AS BIGINT) AS n_found
         |  FROM found GROUP BY 1)
         |SELECT CAST(pa.scale AS INT) AS scale, pr.n AS n_vecs,
         |  CAST(pr.k AS INT) AS k, CAST(4 AS INT) AS nprobe,
         |  pa.n_planted,
         |  CAST(coalesce(fa.n_found, 0) AS BIGINT) AS n_found,
         |  CAST(round(CAST(CAST(coalesce(fa.n_found, 0) AS DOUBLE)
         |    / CAST(pa.n_planted AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS recall
         |FROM pagg pa JOIN params pr ON pa.scale = pr.scale
         |LEFT JOIN fagg fa ON fa.scale = pa.scale""".stripMargin,
    // The advisor replayed: same chooser arithmetic, same argmax
    // assignment (rounded-cos desc, cid), exact integer costs.
    "q355_ivf_cost_advisor" ->
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings),
         |p AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    GREATEST(4, LEAST(65536,
         |      CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS INT))) AS k
         |  FROM e),
         |cands AS (SELECT DISTINCT kc FROM (SELECT unnest([
         |    GREATEST(4, k // 2), k, LEAST(65536, k * 2)]) AS kc
         |  FROM p)),
         |asg AS (SELECT kc, id, cell FROM (
         |  SELECT c.kc, v.id, ct.cid AS cell,
         |    row_number() OVER (PARTITION BY c.kc, v.id
         |      ORDER BY round(${cosSql("v.vec", "ct.cvec")}, 6) DESC,
         |        ct.cid) AS pr
         |  FROM e v CROSS JOIN cands c
         |  JOIN (SELECT id AS cid, vec AS cvec FROM e) ct
         |    ON ct.cid < c.kc) WHERE pr = 1),
         |occ AS (SELECT kc, cell, CAST(count(*) AS BIGINT) AS o
         |  FROM asg GROUP BY 1, 2),
         |st AS (SELECT kc, CAST(count(*) AS BIGINT) AS n_cells,
         |    CAST(max(o) AS BIGINT) AS max_occ,
         |    CAST(sum(o * o) AS BIGINT) AS occ_sq_sum
         |  FROM occ GROUP BY 1)
         |SELECT CAST(st.kc AS INT) AS k_cand, st.n_cells, st.max_occ,
         |  st.occ_sq_sum, CAST(p.n * st.kc AS BIGINT) AS assign_cost,
         |  CAST(st.occ_sq_sum + p.n * st.kc AS BIGINT) AS total_cost,
         |  st.kc = p.k AS advised
         |FROM st, p""".stripMargin,
    // Same panel, same ×1e6 cosine micro ints, same (cos desc, id)
    // argmax per side.
    "q365_triplet_mining" ->
      s"""WITH e AS (SELECT vec_id AS id, embedding AS v, label
         |    FROM embeddings),
         |a AS (SELECT * FROM e WHERE id % 50 = 0),
         |p AS (SELECT a.id AS aid, a.label AS al, c.id AS cid,
         |    (a.label = c.label) AS same,
         |    CAST(round(${cosSql("a.v", "c.v")} * 1e6) AS BIGINT) AS cm
         |  FROM a JOIN e c ON c.id <> a.id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY aid, same
         |    ORDER BY cm DESC, cid) AS rn FROM p),
         |pos AS (SELECT aid, al, cid AS pos_id, cm AS pos_cos_micro
         |  FROM r WHERE same AND rn = 1),
         |neg AS (SELECT aid, cid AS neg_id, cm AS neg_cos_micro
         |  FROM r WHERE NOT same AND rn = 1)
         |SELECT pos.aid AS anchor_id, CAST(pos.al AS INT) AS label,
         |  pos.pos_id, pos.pos_cos_micro, neg.neg_id,
         |  neg.neg_cos_micro,
         |  pos.pos_cos_micro - neg.neg_cos_micro AS margin_micro
         |FROM pos JOIN neg USING (aid)""".stripMargin,
    // The same rounded-cosine rank order (ties by neighbor id), the
    // same exact integer moments; zero-degree vectors re-enter via
    // the left join.
    "q395_hubness" -> {
      val cos = cosSql("q.embedding", "c.embedding")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 2 = 0),
         |tk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round($cos, 6) DESC, c.vec_id) AS rnk
         |  FROM e q JOIN e c ON q.vec_id <> c.vec_id)
         |  WHERE rnk <= 5),
         |ind AS (SELECT e.vec_id,
         |    CAST(coalesce(d.d, 0) AS BIGINT) AS d
         |  FROM e LEFT JOIN (SELECT neighbor_id, count(*) AS d
         |    FROM tk GROUP BY 1) d ON d.neighbor_id = e.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n, CAST(5 AS BIGINT) AS k,
         |  CAST(max(d) AS BIGINT) AS max_in_degree,
         |  CAST(count(*) FILTER (d = 0) AS BIGINT) AS n_antihubs,
         |  CAST(sum(d) AS BIGINT) AS sum_d,
         |  CAST(sum(d * d) AS BIGINT) AS sum_d2,
         |  CAST(sum(d * d * d) AS BIGINT) AS sum_d3
         |FROM ind""".stripMargin
    },
    // The same snapped-cosine rank, per-rank floored terms (sign
    // applied after the nonneg floor) and suffix window sum.
    "q410_knn_shapley" ->
      s"""WITH pr AS (SELECT embedding AS pv, label AS py
         |  FROM embeddings WHERE vec_id = 0),
         |tr AS (SELECT vec_id AS id, embedding AS vec, label AS y
         |  FROM embeddings WHERE vec_id % 5 = 1),
         |d AS (SELECT id, CASE WHEN y = pr.py THEN 1 ELSE 0 END AS a,
         |    CAST(round(CAST(round(${cosSql("vec", "pr.pv")}, 6)
         |      AS DECIMAL(20,10)) * 1000000) AS BIGINT) AS sim
         |  FROM tr CROSS JOIN pr),
         |r AS (SELECT *, row_number() OVER (ORDER BY sim DESC, id) AS rk,
         |    count(*) OVER () AS n FROM d),
         |tt AS (SELECT *, lead(a) OVER (ORDER BY rk) AS a_next FROM r),
         |tm AS (SELECT id, rk, a, sim,
         |    CASE WHEN rk = n THEN (a * 1000000000) // n
         |      ELSE (a - coalesce(a_next, 0))
         |        * ((least(5, rk) * 1000000000) // (5 * rk))
         |    END AS term FROM tt)
         |SELECT id, CAST(rk AS INT) AS "rank", a = 1 AS y_match,
         |  sim AS sim_micro,
         |  CAST(sum(term) OVER (ORDER BY rk DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS shapley_nano
         |FROM tm""".stripMargin,
    // Six farthest-point rounds unrolled: per round one argmax
    // (d desc, id) and one incremental least() fold — the same
    // ×1e3 snap, the same exact integer squared distances.
    "q425_kcenter_coreset" -> {
      def dist(aq: String, cq: String): String =
        s"CAST(list_sum(list_transform(range(1, len($aq) + 1), " +
          s"i -> ($aq[i] - $cq[i]) * ($aq[i] - $cq[i]))) AS BIGINT)"
      def rnd(r: Int): String =
        s"""c$r AS (SELECT id, q, d FROM d${r - 1}
           |  ORDER BY d DESC, id LIMIT 1),
           |d$r AS (SELECT p.id, p.q,
           |    least(p.d, ${dist("p.q", "c.q")}) AS d
           |  FROM d${r - 1} p, c$r c)""".stripMargin
      s"""WITH q0 AS (SELECT vec_id AS id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
         |      AS q
         |  FROM embeddings WHERE vec_id % 4 = 0),
         |c1 AS (SELECT id, q FROM q0 ORDER BY id LIMIT 1),
         |d1 AS (SELECT p.id, p.q, ${dist("p.q", "c.q")} AS d
         |  FROM q0 p, c1 c),
         |${rnd(2)},
         |${rnd(3)},
         |${rnd(4)},
         |${rnd(5)},
         |${rnd(6)},
         |fr AS (SELECT max(d) AS final_radius_sq FROM d6),
         |cs AS (SELECT 1 AS rnd, id AS center_id,
         |    CAST(0 AS BIGINT) AS sel_dist_sq FROM c1
         |  UNION ALL SELECT 2, id, d FROM c2
         |  UNION ALL SELECT 3, id, d FROM c3
         |  UNION ALL SELECT 4, id, d FROM c4
         |  UNION ALL SELECT 5, id, d FROM c5
         |  UNION ALL SELECT 6, id, d FROM c6)
         |SELECT CAST(cs.rnd AS INT) AS "round", cs.center_id,
         |  cs.sel_dist_sq, fr.final_radius_sq
         |FROM cs, fr""".stripMargin
    },
    // The same slot cross with the snapped-cosine max/sum chain.
    "q465_late_interaction" ->
      s"""WITH pr AS (SELECT vec_id AS id FROM embeddings
         |  WHERE vec_id % 89 = 0),
         |sv AS (SELECT vec_id AS id, s.s AS sub,
         |    embedding[s.s * 16 + 1 : s.s * 16 + 16] AS v
         |  FROM embeddings
         |  CROSS JOIN (SELECT unnest(range(0, 4)) AS s) s),
         |pairs AS (SELECT q.id AS qid, d.id AS did, q.sub AS qsub,
         |    CAST(round(CAST(round(${cosSql("q.v", "d.v")}, 6)
         |      AS DECIMAL(20,10)) * 1000000) AS BIGINT) AS sm
         |  FROM sv q JOIN pr ON pr.id = q.id
         |  JOIN sv d ON d.id != q.id),
         |mx AS (SELECT qid, did, qsub, max(sm) AS mx FROM pairs
         |  GROUP BY 1, 2, 3),
         |sc AS (SELECT qid, did, CAST(sum(mx) AS BIGINT)
         |    AS maxsim_micro FROM mx GROUP BY 1, 2),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY maxsim_micro DESC, did) AS rnk FROM sc)
         |SELECT qid AS query_id, did AS neighbor_id,
         |  CAST(rnk AS INT) AS "rank", maxsim_micro
         |FROM rk WHERE rnk <= 5""".stripMargin,
    // Two brute-force top-10 replays (raw and quarter-grid space),
    // exact set Jaccard per probe, floored corpus mean.
    "q459_neighbor_stability" -> {
      def topk(vecExpr: String, tag: String): String =
        s"""t$tag AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY round(${cosSql(s"q.$vecExpr", s"c.$vecExpr")},
           |        6) DESC, c.vec_id) AS rnk
           |  FROM ev q JOIN pr ON pr.id = q.vec_id
           |  JOIN ev c ON c.vec_id != q.vec_id)
           |  WHERE rnk <= 10)""".stripMargin
      s"""WITH pr AS (SELECT vec_id AS id FROM embeddings
         |  WHERE vec_id % 89 = 0),
         |ev AS (SELECT vec_id, embedding,
         |    list_transform(embedding, x ->
         |      round(CAST(x AS DOUBLE) * 4) / CAST(4 AS DOUBLE))
         |      AS qv
         |  FROM embeddings),
         |${topk("embedding", "a")},
         |${topk("qv", "b")},
         |per AS (SELECT ta.query_id,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM ta JOIN tb ON tb.query_id = ta.query_id
         |    AND tb.neighbor_id = ta.neighbor_id
         |  GROUP BY 1),
         |rows_ AS (SELECT pr.id AS query_id,
         |    coalesce(per.n_common, 0) AS n_common,
         |    CAST((coalesce(per.n_common, 0) * 1000000)
         |      // (20 - coalesce(per.n_common, 0)) AS BIGINT)
         |      AS jaccard_micro
         |  FROM pr LEFT JOIN per ON per.query_id = pr.id),
         |mn AS (SELECT CAST(coalesce(sum(jaccard_micro), 0)
         |    // greatest(count(*), 1) AS BIGINT)
         |    AS mean_jaccard_micro FROM rows_)
         |SELECT rows_.query_id, CAST(rows_.n_common AS BIGINT)
         |    AS n_common,
         |  rows_.jaccard_micro, mn.mean_jaccard_micro
         |FROM rows_, mn""".stripMargin
    },
    // The same ×1e6 snapped sums; dist² between means via the
    // cross-multiplied numerator, one floor per class.
    "q454_centroid_drift" ->
      """WITH ax AS (SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT)
        |      AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xi
        |  FROM embeddings WHERE vec_id % 2 = 0),
        |bx AS (SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT)
        |      AS dim,
        |    CAST(round((CAST(unnest(embedding) AS DOUBLE)
        |      + CASE WHEN label = 2 THEN CAST(0.5 AS DOUBLE)
        |        ELSE CAST(0.0 AS DOUBLE) END) * 1e6) AS BIGINT)
        |      AS xi
        |  FROM embeddings WHERE vec_id % 2 = 1),
        |sa AS (SELECT label, dim, CAST(sum(xi) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM ax GROUP BY 1, 2),
        |sb AS (SELECT label, dim, CAST(sum(xi) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n FROM bx GROUP BY 1, 2),
        |j AS (SELECT sa.label, sa.n AS na, sb.n AS nb,
        |    CAST(sa.s AS HUGEINT) * sb.n
        |      - CAST(sb.s AS HUGEINT) * sa.n AS t
        |  FROM sa JOIN sb ON sa.label = sb.label AND sa.dim = sb.dim)
        |SELECT label, CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(sum(t * t) // (CAST(max(na) AS HUGEINT) * max(na)
        |    * max(nb) * max(nb)) AS BIGINT) AS drift_e12
        |FROM j GROUP BY 1""".stripMargin,
    // The same ×1e6 snap, truncated per-dim means, the α/β/γ
    // combine truncated back to micro, exact dots, (desc, id) top-10.
    "q434_rocchio_expand" ->
      """WITH x AS (SELECT vec_id AS id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT)
        |      AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
        |      AS BIGINT) AS xi, label FROM embeddings),
        |q AS (SELECT dim, xi AS q FROM x WHERE id = 0),
        |rn AS (SELECT count(*) AS n FROM embeddings
        |  WHERE label = 0 AND vec_id % 9 = 1),
        |mr AS (SELECT dim, CAST(sum(xi) // greatest(rn.n, 1)
        |    AS BIGINT) AS mr
        |  FROM x, rn WHERE label = 0 AND id % 9 = 1
        |  GROUP BY dim, rn.n),
        |nn2 AS (SELECT count(*) AS n FROM embeddings
        |  WHERE label <> 0 AND vec_id % 9 = 2),
        |mn AS (SELECT dim, CAST(sum(xi) // greatest(nn2.n, 1)
        |    AS BIGINT) AS mn
        |  FROM x, nn2 WHERE label <> 0 AND id % 9 = 2
        |  GROUP BY dim, nn2.n),
        |qp AS (SELECT q.dim,
        |    (CAST(1000000 AS HUGEINT) * q.q
        |      + CAST(750000 AS HUGEINT) * coalesce(mr.mr, 0)
        |      - CAST(150000 AS HUGEINT) * coalesce(mn.mn, 0))
        |      // 1000000 AS qe
        |  FROM q LEFT JOIN mr USING (dim) LEFT JOIN mn USING (dim)),
        |dots AS (SELECT x.id,
        |    sum(CAST(x.xi AS HUGEINT) * qp.qe) AS dot12
        |  FROM x JOIN qp USING (dim) WHERE x.id % 3 = 0 GROUP BY 1),
        |rk AS (SELECT id AS neighbor_id, dot12,
        |    row_number() OVER (ORDER BY dot12 DESC, id) AS rnk
        |  FROM dots ORDER BY dot12 DESC, id LIMIT 10)
        |SELECT neighbor_id, CAST(rnk AS INT) AS "rank",
        |  CAST(dot12 // 1000000 AS BIGINT) AS score_micro
        |FROM rk""".stripMargin,
    // The same md5 ±1 sign matrix, exact integer projections, the
    // same 6dp→decimal→micro cosine snap in both spaces.
    "q401_random_projection" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding FROM embeddings
         |  WHERE vec_id % 10 = 0),
         |x AS (SELECT id, generate_subscripts(embedding, 1) - 1 AS d,
         |    unnest(list_transform(embedding,
         |      e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)))
         |      AS xv FROM v),
         |jj AS (SELECT unnest([j for j in range(0, 16)]) AS j),
         |sg AS (SELECT dd.d, jj.j,
         |    CASE WHEN CAST('0x' || substr(md5('rp:' || dd.d || ':'
         |        || jj.j), 1, 15) AS BIGINT) % 2 = 0
         |      THEN 1 ELSE -1 END AS s
         |  FROM (SELECT DISTINCT d FROM x) dd CROSS JOIN jj),
         |y AS (SELECT x.id, sg.j, CAST(sum(x.xv * sg.s) AS BIGINT) AS yv
         |  FROM x JOIN sg USING (d) GROUP BY 1, 2),
         |n2 AS (SELECT id, CAST(sum(yv * yv) AS BIGINT) AS nn
         |  FROM y GROUP BY 1),
         |pd AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(sum(a.yv * b.yv) AS BIGINT) AS dot
         |  FROM y a JOIN y b ON a.j = b.j AND a.id < b.id GROUP BY 1, 2),
         |pc AS (SELECT pd.id_a, pd.id_b,
         |    CAST(round(CAST(round(CAST(pd.dot AS DOUBLE)
         |      / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))),
         |      6) AS DECIMAL(20,10)) * 1000000) AS BIGINT)
         |      AS cos_proj_micro
         |  FROM pd JOIN n2 na ON na.id = pd.id_a
         |    JOIN n2 nb ON nb.id = pd.id_b),
         |oc AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(round(CAST(round(
         |      ${cosSql("a.embedding", "b.embedding")}, 6)
         |      AS DECIMAL(20,10)) * 1000000) AS BIGINT) AS cos_orig_micro
         |  FROM v a JOIN v b ON a.id < b.id)
         |SELECT oc.id_a, oc.id_b, oc.cos_orig_micro, pc.cos_proj_micro,
         |  abs(oc.cos_orig_micro - pc.cos_proj_micro) AS err_micro
         |FROM oc JOIN pc ON oc.id_a = pc.id_a AND oc.id_b = pc.id_b"""
        .stripMargin,
    // Brute-force k-NN on each side, micro-snapped sims, truncating
    // `//` means and margin (the engine divides double-then-casts —
    // the documented `//` parity).
    "q403_bitext_margin" ->
      s"""WITH l AS (SELECT vec_id AS id, embedding AS vec
         |  FROM embeddings WHERE vec_id % 2 = 0),
         |r AS (SELECT vec_id AS id, embedding AS vec
         |  FROM embeddings WHERE vec_id % 2 = 1),
         |lr AS (SELECT l.id AS ql, r.id AS nr,
         |    round(${cosSql("l.vec", "r.vec")}, 6) AS sim
         |  FROM l CROSS JOIN r),
         |lrk AS (SELECT *, row_number() OVER (PARTITION BY ql
         |    ORDER BY sim DESC, nr) AS rk FROM lr),
         |rl AS (SELECT r.id AS qr, l.id AS nl,
         |    round(${cosSql("r.vec", "l.vec")}, 6) AS sim
         |  FROM r CROSS JOIN l),
         |rlk AS (SELECT *, row_number() OVER (PARTITION BY qr
         |    ORDER BY sim DESC, nl) AS rk FROM rl),
         |ml AS (SELECT ql AS id_l,
         |    CAST(sum(CAST(round(CAST(sim AS DECIMAL(20,10)) * 1000000)
         |      AS BIGINT)) // count(*) AS BIGINT) AS ml
         |  FROM lrk WHERE rk <= 4 GROUP BY 1),
         |mr AS (SELECT qr AS id_r,
         |    CAST(sum(CAST(round(CAST(sim AS DECIMAL(20,10)) * 1000000)
         |      AS BIGINT)) // count(*) AS BIGINT) AS mr
         |  FROM rlk WHERE rk <= 4 GROUP BY 1),
         |best AS (SELECT ql AS id_l, nr AS id_r,
         |    CAST(round(CAST(sim AS DECIMAL(20,10)) * 1000000) AS BIGINT)
         |      AS cos_micro
         |  FROM lrk WHERE rk = 1)
         |SELECT b.id_l, b.id_r, b.cos_micro,
         |  CAST((b.cos_micro * 2000000) // (ml.ml + mr.mr) AS BIGINT)
         |    AS margin_micro
         |FROM best b JOIN ml ON ml.id_l = b.id_l
         |  JOIN mr ON mr.id_r = b.id_r""".stripMargin,
    // Gramian + power steps + the per-dim subtraction with the same
    // truncating integer divisions; invariants roll up per label.
    "q387_remove_top_component" ->
      s"""WITH ${powerIterCtes(4)},
         |x3 AS (SELECT label, vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
         |      AS BIGINT) AS x3 FROM embeddings),
         |pv AS (SELECT label, vec_id, sum(x3.x3 * v4.vm) AS pn
         |  FROM x3 JOIN v4 ON v4.dim = x3.dim GROUP BY 1, 2),
         |pq AS (SELECT label, vec_id, pn // 1000000 AS p FROM pv),
         |rr AS (SELECT x3.label, x3.vec_id, pq.p,
         |    x3.x3 - (pq.p * v4.vm) // 1000000 AS r, v4.vm
         |  FROM x3 JOIN v4 ON v4.dim = x3.dim
         |  JOIN pq ON pq.vec_id = x3.vec_id),
         |pv2 AS (SELECT label, vec_id, any_value(p) AS p,
         |    sum(r * vm) AS rdv, sum(r * r) AS ren
         |  FROM rr GROUP BY 1, 2)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(rdv) AS BIGINT) AS r_dot_v_sum,
         |  CAST(sum(ren) AS BIGINT) AS r_energy_sum,
         |  CAST(min(p) AS BIGINT) AS p_min,
         |  CAST(max(p) AS BIGINT) AS p_max
         |FROM pv2 GROUP BY 1""".stripMargin,
    // Four power steps replayed exactly: HUGEINT matrix-vector
    // products, floor shifts, the same correctly-rounded
    // sqrt/divide/round chain per step.
    "q382_top_eigenvector" ->
      s"""WITH ${powerIterCtes(4)}
         |SELECT CAST(dim AS INT) AS dim, vm AS v_micro FROM v4""".stripMargin,
    // Same chain + the projection masses: p = (Σ x₃·vm) // 1e6 per
    // vector (floor ≡ the engine's pmod identity), exact integer
    // energy sums per label.
    "q383_top_component_mass" ->
      s"""WITH ${powerIterCtes(4)},
         |x3 AS (SELECT label, vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
         |      AS BIGINT) AS x3 FROM embeddings),
         |pv AS (SELECT label, vec_id, sum(x3.x3 * v4.vm) AS pn,
         |    sum(x3.x3 * x3.x3) AS tot
         |  FROM x3 JOIN v4 ON v4.dim = x3.dim GROUP BY 1, 2),
         |pf AS (SELECT label, pn // 1000000 AS p, tot FROM pv)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(p * p) AS BIGINT) AS explained_mass,
         |  CAST(sum(tot) AS BIGINT) AS total_mass
         |FROM pf GROUP BY 1""".stripMargin,
    // Three deflated power trajectories unrolled end to end; the
    // ortho witness is recomputed from the replayed vectors, so any
    // divergence in any component's arithmetic shows twice.
    "q479_topk_pca_deflation" -> {
      def sel(c: Int): String = {
        val ortho =
          if (c == 1) "CAST(0 AS BIGINT)"
          else s"""(SELECT CAST(sum(a.vm * b.vm) AS BIGINT)
                  |    FROM vf$c a JOIN vf${c - 1} b ON b.dim = a.dim)"""
            .stripMargin
        s"""SELECT CAST($c AS INT) AS component, CAST(dim AS INT) AS dim,
           |  vm AS v_micro,
           |  (SELECT CAST(lam AS BIGINT) FROM lam$c) AS eigval,
           |  $ortho AS ortho_prev
           |FROM vf$c""".stripMargin
      }
      s"""WITH ${deflationCtes(3, 4)}
         |${(1 to 3).map(sel).mkString("\nUNION ALL\n")}""".stripMargin
    },
    // The deflation chain feeds a per-vector sequential-removal
    // replay: r0 = snap, p_c = (r_{c-1}·v_c) // 1e6, r_c = r_{c-1} −
    // (p_c·vm) // 1e6 per dim — every residual MATERIALIZED (each is
    // read by the next projection, the next residual, and the final
    // witnesses; plain CTEs would inline the chain exponentially).
    "q481_remove_topk" -> {
      def rstep(c: Int): String =
        s"""pr$c AS MATERIALIZED (SELECT r.vec_id,
           |    sum(r.x * v.vm) // 1000000 AS p
           |  FROM r${c - 1} r JOIN vf$c v ON v.dim = r.dim
           |  GROUP BY 1),
           |r$c AS MATERIALIZED (SELECT r.vec_id, r.dim,
           |    r.x - (pr$c.p * v.vm) // 1000000 AS x
           |  FROM r${c - 1} r JOIN vf$c v ON v.dim = r.dim
           |  JOIN pr$c ON pr$c.vec_id = r.vec_id)""".stripMargin
      def wsel(c: Int): String =
        s"""SELECT r3.vec_id AS id, CAST($c AS INT) AS component,
           |  (SELECT p FROM pr$c p WHERE p.vec_id = r3.vec_id) AS p,
           |  CAST(sum(r3.x * v.vm) AS BIGINT) AS r_dot_v
           |FROM r3 JOIN vf$c v ON v.dim = r3.dim GROUP BY 1""".stripMargin
      s"""WITH ${deflationCtes(3, 4)},
         |r0 AS MATERIALIZED (SELECT vec_id,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000)
         |      AS BIGINT) AS x FROM embeddings),
         |${(1 to 3).map(rstep).mkString(",\n")},
         |en AS MATERIALIZED (SELECT vec_id,
         |    CAST(sum(x * x) AS BIGINT) AS r_energy
         |  FROM r3 GROUP BY 1),
         |wz AS (${(1 to 3).map(wsel).mkString("\nUNION ALL\n")})
         |SELECT wz.id, wz.component, CAST(wz.p AS BIGINT) AS p,
         |  wz.r_dot_v, en.r_energy
         |FROM wz JOIN en ON en.vec_id = wz.id""".stripMargin
    },
    // Same 200-vector panel pairs, same micro-cosine scores, q170's
    // exact AUC algebra.
    "q297_embedding_auc" ->
      s"""WITH panel AS (SELECT vec_id AS id, embedding AS vec,
         |    CAST(label AS BIGINT) AS lb FROM embeddings
         |  ORDER BY ${h60("'ea' || CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 200),
         |pr AS (SELECT (a.lb = b.lb) AS y,
         |    CAST(round(CAST(round(${cosSql("a.vec", "b.vec")}, 6)
         |      AS DECIMAL(20,10)) * 1000000) AS BIGINT) AS v
         |  FROM panel a JOIN panel b ON a.id < b.id),
         |bv AS (SELECT v,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
         |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
         |  FROM pr GROUP BY 1),
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
    // Same hash panel, same (rounded-sim desc, id) 5-NN and
    // (count desc, label) vote.
    "q295_knn_classifier" ->
      s"""WITH qs AS (SELECT vec_id AS id, embedding AS vec,
         |    CAST(label AS BIGINT) AS lb FROM embeddings
         |  ORDER BY ${h60("'kc' || CAST(vec_id AS VARCHAR)")}, vec_id
         |  LIMIT 100),
         |nn AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c.embedding")}, 6)
         |        DESC, c.vec_id) AS rnk
         |  FROM qs q JOIN embeddings c ON q.id != c.vec_id)
         |  WHERE rnk <= 5),
         |nl AS (SELECT nn.query_id, CAST(e.label AS BIGINT) AS nl
         |  FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id),
         |vc AS (SELECT query_id, nl, CAST(count(*) AS BIGINT) AS c
         |  FROM nl GROUP BY 1, 2),
         |vote AS (SELECT query_id, nl AS pred FROM (
         |  SELECT query_id, nl, row_number() OVER (
         |      PARTITION BY query_id ORDER BY c DESC, nl) AS rn
         |  FROM vc) WHERE rn = 1)
         |SELECT qs.lb AS true_label, vote.pred,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM qs JOIN vote ON vote.query_id = qs.id
         |GROUP BY 1, 2""".stripMargin,
    // Same canonical undirected edge set and wedge join, same
    // zero-fill.
    "q279_edge_embeddedness" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
        |  FROM docs CROSS JOIN nc
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
        |und AS (SELECT DISTINCT least(src, dst) AS u,
        |    greatest(src, dst) AS v FROM e WHERE src <> dst),
        |adj AS (SELECT u AS a, v AS b FROM und
        |  UNION ALL SELECT v, u FROM und),
        |sup AS (SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS support
        |  FROM und e JOIN adj x ON x.a = e.u
        |  JOIN adj y ON y.a = e.v AND y.b = x.b
        |  GROUP BY 1, 2),
        |fl AS (SELECT und.u, und.v,
        |    CAST(coalesce(s.support, 0) AS BIGINT) AS support
        |  FROM und LEFT JOIN sup s ON s.u = und.u AND s.v = und.v),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_und FROM fl)
        |SELECT support, CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(round(CAST(CAST(count(*) AS DOUBLE) / n_und
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS share
        |FROM fl CROSS JOIN tot GROUP BY support, n_und""".stripMargin,
    // Same exact midrank algebra: exclusive running pooled count as a
    // plain window over the distinct value domain (the oracle may sort
    // it globally — it is the engine that must not), tie term and
    // variance in HUGEINT, identical one-division-one-sqrt z shape.
    "q244_mann_whitney" ->
      """WITH gv AS (SELECT source AS g, n_chars AS v,
        |    CAST(count(*) AS BIGINT) AS n_gv
        |  FROM documents GROUP BY 1, 2),
        |bv AS (SELECT v, CAST(sum(n_gv) AS BIGINT) AS n_v
        |  FROM gv GROUP BY 1),
        |bl AS (SELECT v, n_v, CAST(coalesce(sum(n_v) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_v_below FROM bv),
        |tot AS (SELECT CAST(sum(n_v) AS BIGINT) AS n_tot,
        |    sum(CAST(n_v AS HUGEINT) * n_v * n_v - n_v) AS tie_t
        |  FROM bv),
        |r AS (SELECT g, CAST(sum(n_gv) AS BIGINT) AS n_g,
        |    sum(CAST(n_gv AS HUGEINT) * (2 * n_v_below + n_v + 1)) AS r2
        |  FROM gv JOIN bl USING (v) GROUP BY 1),
        |x AS (SELECT g, n_g, n_tot - n_g AS n_o,
        |    CAST(r2 - CAST(n_g AS HUGEINT) * (n_g + 1) AS BIGINT) AS u2,
        |    CAST(n_g AS HUGEINT) * (n_tot - n_g) *
        |      (CAST(n_tot + 1 AS HUGEINT) * n_tot * (n_tot - 1) - tie_t)
        |      AS var_num,
        |    CAST(n_tot AS HUGEINT) * (n_tot - 1) * 12 AS var_den
        |  FROM r CROSS JOIN tot)
        |SELECT g AS source, n_g, u2,
        |  CASE WHEN n_o = 0 OR var_num = 0 THEN NULL ELSE
        |    CAST(round(CAST(
        |      CAST(u2 - CAST(n_g AS HUGEINT) * n_o AS DOUBLE) /
        |      (sqrt(CAST(var_num AS DOUBLE) / CAST(var_den AS DOUBLE))
        |        * 2.0) AS DECIMAL(20,10)), 4) AS DOUBLE) END AS z,
        |  CASE WHEN n_o = 0 THEN NULL ELSE
        |    CAST(round(CAST(
        |      CAST(u2 - CAST(n_g AS HUGEINT) * n_o AS DOUBLE) /
        |      CAST(CAST(n_g AS HUGEINT) * n_o AS DOUBLE)
        |      AS DECIMAL(20,10)), 4) AS DOUBLE) END AS r_rb
        |FROM x""".stripMargin,
    // q31's brute ranking over the q123 perturbed corpus with the dup
    // gate applied before row_number — rank k is the k-th non-dup on
    // both engines.
    "q155_hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000 AS id,
         |    [CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.5
         |      ELSE CAST(embedding[i] AS DOUBLE) END
         |     for i in range(1, len(embedding) + 1)] AS v
         |  FROM embeddings)
         |SELECT query_id, neighbor_id, "rank", sim FROM (
         |  SELECT q.id AS query_id, c.id AS neighbor_id,
         |    round(${cosSql("q.v", "c.v")}, 6) AS sim,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.v", "c.v")}, 6) DESC, c.id)
         |      AS "rank"
         |  FROM e q JOIN e c ON q.id != c.id
         |  WHERE q.id < 10 AND round(${cosSql("q.v", "c.v")}, 6)
         |    < CAST(0.9 AS DOUBLE))
         |WHERE "rank" <= 5""".stripMargin,
    // Multi-probe IVF vs q31's brute truth on the fixed bottom-100
    // sample: corpus assigned to one cell each (rn = 1), queries fan
    // out to pr <= 4 cells ONCE, and each nprobe tier re-ranks the
    // nested candidate subset; identical rounded-sim/id tiebreaks.
    "q108_ivf_recall" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |           WHERE vec_id < 16),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |assigned AS (
         |  SELECT id, vec, cid AS cell FROM (
         |    SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN c)
         |  WHERE rn = 1),
         |qc AS (SELECT qid, qv, cell, pr FROM (
         |  SELECT q.id AS qid, q.vec AS qv, c.cid AS cell,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c.cvec")}, 6) DESC, c.cid) AS pr
         |  FROM q CROSS JOIN c)
         |  WHERE pr <= 4),
         |cand AS (
         |  SELECT qc.qid, a.id AS nid,
         |    round(${cosSql("qc.qv", "a.vec")}, 6) AS sim, qc.pr
         |  FROM qc JOIN assigned a ON qc.cell = a.cell AND qc.qid != a.id),
         |approx AS (
         |  SELECT 1 AS nprobe, qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, nid) AS rnk FROM cand WHERE pr <= 1)
         |    WHERE rnk <= 5
         |  UNION ALL
         |  SELECT 2 AS nprobe, qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, nid) AS rnk FROM cand WHERE pr <= 2)
         |    WHERE rnk <= 5
         |  UNION ALL
         |  SELECT 4 AS nprobe, qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, nid) AS rnk FROM cand WHERE pr <= 4)
         |    WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c2.embedding")}, 6) DESC, c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT a.nprobe, t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.nid
         |  GROUP BY 1, 2),
         |np AS (SELECT unnest([1, 2, 4]) AS nprobe)
         |SELECT q.id AS query_id, np.nprobe,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q CROSS JOIN np
         |LEFT JOIN h ON q.id = h.query_id AND np.nprobe = h.nprobe""".stripMargin,
    // Lloyd unrolled once in CTEs: a0 = assignment under the seeds,
    // c1 = per-dim fixed-point means, a1 = assignment under c1; both
    // stats tiers from the same rounded-sim/id tiebreaks as the engine.
    "q110_kmeans" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (SELECT id, vec, cell, csim FROM (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid AS cell,
         |    round(${cosSql("e.embedding", "c.cvec")}, 6) AS csim,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c0 c)
         |  WHERE rn = 1),
         |c1 AS (SELECT cell AS cid, list(m ORDER BY pos) AS cvec FROM (
         |  SELECT cell, pos,
         |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS m FROM (
         |    SELECT cell, pos, sum(xfp) AS s, count(*) AS n FROM (
         |      SELECT cell, generate_subscripts(vec, 1) - 1 AS pos,
         |        CAST(round(CAST(unnest(vec) AS DOUBLE) * 1e6) AS BIGINT)
         |          AS xfp
         |      FROM a0)
         |    GROUP BY 1, 2))
         |  GROUP BY 1),
         |a1 AS (SELECT id, cell, csim FROM (
         |  SELECT e.vec_id AS id, c.cid AS cell,
         |    round(${cosSql("e.embedding", "c.cvec")}, 6) AS csim,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c1 c)
         |  WHERE rn = 1)
         |SELECT 1 AS iter, cell AS cid, count(*) AS n_members,
         |  CAST(sum(CAST(round(csim * 1e6) AS BIGINT)) AS BIGINT) AS obj_fp
         |FROM a0 GROUP BY 2
         |UNION ALL
         |SELECT 2 AS iter, cell AS cid, count(*) AS n_members,
         |  CAST(sum(CAST(round(csim * 1e6) AS BIGINT)) AS BIGINT) AS obj_fp
         |FROM a1 GROUP BY 2""".stripMargin,
    // q110's trained-centroid CTE (one exact fixed-point Lloyd step)
    // composed with q108's multi-probe search machinery, at nprobe=2,
    // under both centroid sets; identical rounded-sim/id tiebreaks.
    "q112_ivf_trained_recall" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (SELECT id, vec, cell FROM (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c0 c)
         |  WHERE rn = 1),
         |c1 AS (SELECT cell AS cid, list(m ORDER BY pos) AS cvec FROM (
         |  SELECT cell, pos,
         |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS m FROM (
         |    SELECT cell, pos, sum(xfp) AS s, count(*) AS n FROM (
         |      SELECT cell, generate_subscripts(vec, 1) - 1 AS pos,
         |        CAST(round(CAST(unnest(vec) AS DOUBLE) * 1e6) AS BIGINT)
         |          AS xfp
         |      FROM a0)
         |    GROUP BY 1, 2))
         |  GROUP BY 1),
         |a1 AS (SELECT id, vec, cell FROM (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c1 c)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |qc0 AS (SELECT qid, qv, cell FROM (
         |  SELECT q.id AS qid, q.vec AS qv, c.cid AS cell,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c.cvec")}, 6) DESC, c.cid) AS pr
         |  FROM q CROSS JOIN c0 c)
         |  WHERE pr <= 2),
         |qc1 AS (SELECT qid, qv, cell FROM (
         |  SELECT q.id AS qid, q.vec AS qv, c.cid AS cell,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c.cvec")}, 6) DESC, c.cid) AS pr
         |  FROM q CROSS JOIN c1 c)
         |  WHERE pr <= 2),
         |approx AS (
         |  SELECT 0 AS trained, qid, nid FROM (
         |    SELECT qc.qid, a.id AS nid, row_number() OVER (PARTITION BY qc.qid
         |      ORDER BY round(${cosSql("qc.qv", "a.vec")}, 6) DESC, a.id) AS rnk
         |    FROM qc0 qc JOIN a0 a ON qc.cell = a.cell AND qc.qid != a.id)
         |    WHERE rnk <= 5
         |  UNION ALL
         |  SELECT 1 AS trained, qid, nid FROM (
         |    SELECT qc.qid, a.id AS nid, row_number() OVER (PARTITION BY qc.qid
         |      ORDER BY round(${cosSql("qc.qv", "a.vec")}, 6) DESC, a.id) AS rnk
         |    FROM qc1 qc JOIN a1 a ON qc.cell = a.cell AND qc.qid != a.id)
         |    WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c2.embedding")}, 6) DESC, c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT a.trained, t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.nid
         |  GROUP BY 1, 2),
         |tr AS (SELECT unnest([0, 1]) AS trained)
         |SELECT q.id AS query_id, tr.trained,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q CROSS JOIN tr
         |LEFT JOIN h ON q.id = h.query_id AND tr.trained = h.trained""".stripMargin,
    // Unrolls the whole PQ pipeline in CTEs: subvector slices, seed
    // codebook (id<8), one keyed fixed-point Lloyd step (q110's c1
    // pattern with the subspace in the key), re-assignment = codes,
    // per-query LUT (distances snapped to ×1e6 BIGINT — the m-term ADC
    // sum is then order-free), rank by (adc, id), recall vs exact-L2
    // truth. Identical rounding and tiebreaks to the engine throughout.
    "q117_pq_recall" ->
      s"""WITH subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
         |sv AS (SELECT e.vec_id AS id, s.sub,
         |    e.embedding[CAST(s.sub * 8 + 1 AS INT):CAST((s.sub + 1) * 8 AS INT)]
         |      AS svec
         |  FROM embeddings e CROSS JOIN subs s),
         |cb0 AS (SELECT sub, id AS cid, svec AS cvec FROM sv WHERE id < 16),
         |a0 AS (SELECT id, sub, svec, code FROM (
         |  SELECT v.id, v.sub, v.svec, c.cid AS code,
         |    row_number() OVER (PARTITION BY v.id, v.sub
         |      ORDER BY round(${sqdSql("v.svec", "c.cvec")}, 6), c.cid) AS rn
         |  FROM sv v JOIN cb0 c ON v.sub = c.sub)
         |  WHERE rn = 1),
         |cb1 AS (SELECT sub, code AS cid, list(m ORDER BY pos) AS cvec FROM (
         |  SELECT sub, code, pos,
         |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS m FROM (
         |    SELECT sub, code, pos, sum(xfp) AS s, count(*) AS n FROM (
         |      SELECT sub, code, generate_subscripts(svec, 1) - 1 AS pos,
         |        CAST(round(CAST(unnest(svec) AS DOUBLE) * 1e6) AS BIGINT)
         |          AS xfp
         |      FROM a0)
         |    GROUP BY 1, 2, 3))
         |  GROUP BY 1, 2),
         |codes AS (SELECT id, sub, code FROM (
         |  SELECT v.id, v.sub, c.cid AS code,
         |    row_number() OVER (PARTITION BY v.id, v.sub
         |      ORDER BY round(${sqdSql("v.svec", "c.cvec")}, 6), c.cid) AS rn
         |  FROM sv v JOIN cb1 c ON v.sub = c.sub)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |qsv AS (SELECT q.id AS qid, s.sub,
         |    q.vec[CAST(s.sub * 8 + 1 AS INT):CAST((s.sub + 1) * 8 AS INT)]
         |      AS svec
         |  FROM q CROSS JOIN subs s),
         |lut AS (SELECT v.qid, v.sub, c.cid,
         |    CAST(round(round(${sqdSql("v.svec", "c.cvec")}, 6) * 1e6) AS BIGINT)
         |      AS dfp
         |  FROM qsv v JOIN cb1 c ON v.sub = c.sub),
         |ad AS (SELECT l.qid, k.id, sum(l.dfp) AS adist
         |  FROM codes k JOIN lut l ON k.sub = l.sub AND k.code = l.cid
         |  WHERE l.qid != k.id
         |  GROUP BY 1, 2),
         |approx AS (SELECT qid, id FROM (
         |  SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rnk
         |  FROM ad)
         |  WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "e.embedding")}, 6), e.vec_id)
         |      AS rnk
         |  FROM q JOIN embeddings e ON q.id != e.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.id
         |  GROUP BY 1)
         |SELECT q.id AS query_id,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q LEFT JOIN h ON q.id = h.query_id""".stripMargin,
    // q117's PQ CTE chain under an L2 coarse tier: cell assignment and
    // query probes by round(sqdist,6) asc with cid tiebreaks, candidates
    // restricted to probed cells, ADC rank by (fixed-point LUT sum, id),
    // recall vs the exact-L2 truth — per nprobe ∈ {2,4}.
    "q118_ivfpq_recall" ->
      s"""WITH subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
         |sv AS (SELECT e.vec_id AS id, s.sub,
         |    e.embedding[CAST(s.sub * 8 + 1 AS INT):CAST((s.sub + 1) * 8 AS INT)]
         |      AS svec
         |  FROM embeddings e CROSS JOIN subs s),
         |cb0 AS (SELECT sub, id AS cid, svec AS cvec FROM sv WHERE id < 16),
         |a0 AS (SELECT id, sub, svec, code FROM (
         |  SELECT v.id, v.sub, v.svec, c.cid AS code,
         |    row_number() OVER (PARTITION BY v.id, v.sub
         |      ORDER BY round(${sqdSql("v.svec", "c.cvec")}, 6), c.cid) AS rn
         |  FROM sv v JOIN cb0 c ON v.sub = c.sub)
         |  WHERE rn = 1),
         |cb1 AS (SELECT sub, code AS cid, list(m ORDER BY pos) AS cvec FROM (
         |  SELECT sub, code, pos,
         |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS m FROM (
         |    SELECT sub, code, pos, sum(xfp) AS s, count(*) AS n FROM (
         |      SELECT sub, code, generate_subscripts(svec, 1) - 1 AS pos,
         |        CAST(round(CAST(unnest(svec) AS DOUBLE) * 1e6) AS BIGINT)
         |          AS xfp
         |      FROM a0)
         |    GROUP BY 1, 2, 3))
         |  GROUP BY 1, 2),
         |codes AS (SELECT id, sub, code FROM (
         |  SELECT v.id, v.sub, c.cid AS code,
         |    row_number() OVER (PARTITION BY v.id, v.sub
         |      ORDER BY round(${sqdSql("v.svec", "c.cvec")}, 6), c.cid) AS rn
         |  FROM sv v JOIN cb1 c ON v.sub = c.sub)
         |  WHERE rn = 1),
         |ivfc AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |         WHERE vec_id < 16),
         |acell AS (SELECT id, cell FROM (
         |  SELECT e.vec_id AS id, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${sqdSql("e.embedding", "c.cvec")}, 6), c.cid)
         |      AS rn
         |  FROM embeddings e CROSS JOIN ivfc c)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |qsv AS (SELECT q.id AS qid, s.sub,
         |    q.vec[CAST(s.sub * 8 + 1 AS INT):CAST((s.sub + 1) * 8 AS INT)]
         |      AS svec
         |  FROM q CROSS JOIN subs s),
         |lut AS (SELECT v.qid, v.sub, c.cid,
         |    CAST(round(round(${sqdSql("v.svec", "c.cvec")}, 6) * 1e6) AS BIGINT)
         |      AS dfp
         |  FROM qsv v JOIN cb1 c ON v.sub = c.sub),
         |np AS (SELECT unnest([2, 4]) AS nprobe),
         |qc AS (SELECT n.nprobe, x.qid, x.cell FROM np n, (
         |  SELECT q.id AS qid, c.cid AS cell,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "c.cvec")}, 6), c.cid) AS pr
         |  FROM q CROSS JOIN ivfc c) x
         |  WHERE x.pr <= n.nprobe),
         |ad AS (SELECT qc.nprobe, qc.qid, a.id, sum(l.dfp) AS adist
         |  FROM qc JOIN acell a ON qc.cell = a.cell AND qc.qid != a.id
         |  JOIN codes k ON k.id = a.id
         |  JOIN lut l ON l.qid = qc.qid AND l.sub = k.sub AND l.cid = k.code
         |  GROUP BY 1, 2, 3),
         |approx AS (SELECT nprobe, qid, id FROM (
         |  SELECT nprobe, qid, id,
         |    row_number() OVER (PARTITION BY nprobe, qid
         |      ORDER BY adist, id) AS rnk
         |  FROM ad)
         |  WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "e.embedding")}, 6), e.vec_id)
         |      AS rnk
         |  FROM q JOIN embeddings e ON q.id != e.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT a.nprobe, t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.id
         |  GROUP BY 1, 2)
         |SELECT q.id AS query_id, CAST(n.nprobe AS INT) AS nprobe,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q CROSS JOIN np n
         |LEFT JOIN h ON q.id = h.query_id AND n.nprobe = h.nprobe""".stripMargin,
    // Residual chain in SQL: L2 cell assignment → residual lists
    // (double-exact float subtract) → sliced residual subvectors →
    // seed/trained residual codebooks (the keyed fixed-point Lloyd
    // CTE) → codes WITH cell → per-probed-cell query residual LUT →
    // ADC join on (cell, sub, code) → rank → recall vs exact truth.
    "q121_ivfpq_residual" ->
      s"""WITH subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
         |c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |       WHERE vec_id < 16),
         |acell0 AS (SELECT id, vec, cell FROM (
         |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${sqdSql("e.embedding", "c.cvec")}, 6), c.cid)
         |      AS rn
         |  FROM embeddings e CROSS JOIN c0 c)
         |  WHERE rn = 1),
         |ivfc AS (SELECT cell AS cid, list(m ORDER BY pos) AS cvec FROM (
         |  SELECT cell, pos,
         |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS m FROM (
         |    SELECT cell, pos, sum(xfp) AS s, count(*) AS n FROM (
         |      SELECT cell, generate_subscripts(vec, 1) - 1 AS pos,
         |        CAST(round(CAST(unnest(vec) AS DOUBLE) * 1e6) AS BIGINT)
         |          AS xfp
         |      FROM acell0)
         |    GROUP BY 1, 2))
         |  GROUP BY 1),
         |acell AS (SELECT id, cell FROM (
         |  SELECT e.vec_id AS id, c.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${sqdSql("e.embedding", "c.cvec")}, 6), c.cid)
         |      AS rn
         |  FROM embeddings e CROSS JOIN ivfc c)
         |  WHERE rn = 1),
         |r AS (SELECT a.id, a.cell,
         |    list_transform(list_zip(e.embedding, c.cvec),
         |      p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS vec
         |  FROM acell a JOIN embeddings e ON a.id = e.vec_id
         |  JOIN ivfc c ON a.cell = c.cid),
         |sv AS (SELECT r.id, s.sub,
         |    r.vec[CAST(s.sub * 8 + 1 AS INT):CAST((s.sub + 1) * 8 AS INT)]
         |      AS svec
         |  FROM r CROSS JOIN subs s),
         |cb0 AS (SELECT sub, id - 16 AS cid, svec AS cvec FROM sv
         |        WHERE id >= 16 AND id < 32),
         |a0 AS (SELECT id, sub, svec, code FROM (
         |  SELECT v.id, v.sub, v.svec, c.cid AS code,
         |    row_number() OVER (PARTITION BY v.id, v.sub
         |      ORDER BY round(${sqdSql("v.svec", "c.cvec")}, 6), c.cid) AS rn
         |  FROM sv v JOIN cb0 c ON v.sub = c.sub)
         |  WHERE rn = 1),
         |cb1 AS (SELECT sub, code AS cid, list(m ORDER BY pos) AS cvec FROM (
         |  SELECT sub, code, pos,
         |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS m FROM (
         |    SELECT sub, code, pos, sum(xfp) AS s, count(*) AS n FROM (
         |      SELECT sub, code, generate_subscripts(svec, 1) - 1 AS pos,
         |        CAST(round(CAST(unnest(svec) AS DOUBLE) * 1e6) AS BIGINT)
         |          AS xfp
         |      FROM a0)
         |    GROUP BY 1, 2, 3))
         |  GROUP BY 1, 2),
         |codes AS (SELECT k.id, k.sub, k.code, a.cell FROM (
         |  SELECT id, sub, code FROM (
         |    SELECT v.id, v.sub, c.cid AS code,
         |      row_number() OVER (PARTITION BY v.id, v.sub
         |        ORDER BY round(${sqdSql("v.svec", "c.cvec")}, 6), c.cid) AS rn
         |    FROM sv v JOIN cb1 c ON v.sub = c.sub)
         |    WHERE rn = 1) k
         |  JOIN acell a ON k.id = a.id),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |qc AS (SELECT qid, cell FROM (
         |  SELECT q.id AS qid, c.cid AS cell,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "c.cvec")}, 6), c.cid) AS pr
         |  FROM q CROSS JOIN ivfc c)
         |  WHERE pr <= 2),
         |qr AS (SELECT qc.qid, qc.cell,
         |    list_transform(list_zip(q.vec, c.cvec),
         |      p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS vec
         |  FROM qc JOIN q ON qc.qid = q.id
         |  JOIN ivfc c ON qc.cell = c.cid),
         |qsv AS (SELECT qr.qid, qr.cell, s.sub,
         |    qr.vec[CAST(s.sub * 8 + 1 AS INT):CAST((s.sub + 1) * 8 AS INT)]
         |      AS svec
         |  FROM qr CROSS JOIN subs s),
         |lut AS (SELECT v.qid, v.cell, v.sub, c.cid,
         |    CAST(round(round(${sqdSql("v.svec", "c.cvec")}, 6) * 1e6) AS BIGINT)
         |      AS dfp
         |  FROM qsv v JOIN cb1 c ON v.sub = c.sub),
         |ad AS (SELECT l.qid, k.id, sum(l.dfp) AS adist
         |  FROM codes k JOIN lut l
         |    ON k.cell = l.cell AND k.sub = l.sub AND k.code = l.cid
         |  WHERE l.qid != k.id
         |  GROUP BY 1, 2),
         |approx AS (SELECT qid, id FROM (
         |  SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rnk
         |  FROM ad)
         |  WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, e.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "e.embedding")}, 6), e.vec_id)
         |      AS rnk
         |  FROM q JOIN embeddings e ON q.id != e.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.id
         |  GROUP BY 1)
         |SELECT q.id AS query_id,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q LEFT JOIN h ON q.id = h.query_id""".stripMargin,
    // Three exact fixed-point L2 Lloyd steps unrolled in CTEs
    // (assignment aN under cN, mean cN+1 from aN); per-cell stats from
    // the kept winning distance cd under iters 0, 1, 3 — identical
    // rounding/tiebreaks to ivfAssignL2Scored / ivfCellStatsL2.
    "q124_kmeans_l2_train" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (${l2aSql("c0")}),
         |c1 AS (${l2MeanSql("a0")}),
         |a1 AS (${l2aSql("c1")}),
         |c2 AS (${l2MeanSql("a1")}),
         |a2 AS (${l2aSql("c2")}),
         |c3 AS (${l2MeanSql("a2")}),
         |a3 AS (${l2aSql("c3")})
         |SELECT 0 AS iter, cell AS cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(CAST(round(cd * 1e6) AS BIGINT)) AS BIGINT) AS sse_fp
         |FROM a0 GROUP BY 2
         |UNION ALL
         |SELECT 1 AS iter, cell AS cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(CAST(round(cd * 1e6) AS BIGINT)) AS BIGINT) AS sse_fp
         |FROM a1 GROUP BY 2
         |UNION ALL
         |SELECT 3 AS iter, cell AS cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(CAST(round(cd * 1e6) AS BIGINT)) AS BIGINT) AS sse_fp
         |FROM a3 GROUP BY 2""".stripMargin,
    // q124's unrolled two-iteration training CTEs; both centroid
    // distances per point via the ranked cross join, the same
    // (b−a)/max snap, per-cell exact integer means.
    "q215_silhouette" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (${l2aSql("c0")}),
         |c1 AS (${l2MeanSql("a0")}),
         |a1 AS (${l2aSql("c1")}),
         |c2 AS (${l2MeanSql("a1")}),
         |cds AS (SELECT e.vec_id AS id, c.cid,
         |    round(${sqdSql("e.embedding", "c.cvec")}, 6) AS cd,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${sqdSql("e.embedding", "c.cvec")}, 6),
         |        c.cid) AS rnk
         |  FROM embeddings e CROSS JOIN c2 c),
         |ab AS (SELECT a.id, a.cid AS cell, sqrt(a.cd) AS da,
         |    sqrt(b.cd) AS db
         |  FROM cds a JOIN cds b ON a.id = b.id
         |    AND a.rnk = 1 AND b.rnk = 2),
         |sfp AS (SELECT cell, CAST(round(1e6 *
         |    (CASE WHEN greatest(da, db) = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE (db - da) / greatest(da, db) END)) AS BIGINT)
         |    AS sfp
         |  FROM ab)
         |SELECT cell AS cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(round(CAST(CAST(sum(sfp) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1e6
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS mean_silhouette
         |FROM sfp GROUP BY 1""".stripMargin,
    // Same one-iteration Lloyd chain and within-cell rounded-cosine
    // top-5, reverse-edge EXISTS for mutuality, same per-label
    // aggregate and snap.
    "q224_mutual_knn" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (${l2aSql("c0")}),
         |c1 AS (${l2MeanSql("a0")}),
         |a1 AS (${l2aSql("c1")}),
         |knn AS (SELECT query_id, neighbor_id FROM (
         |  SELECT x.id AS query_id, y.id AS neighbor_id,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY round(${cosSql("x.vec", "y.vec")},
         |        6) DESC, y.id) AS rnk
         |  FROM a1 x JOIN a1 y
         |    ON x.cell = y.cell AND x.id != y.id)
         |  WHERE rnk <= 5),
         |mut AS (SELECT a.query_id FROM knn a
         |  WHERE EXISTS (SELECT 1 FROM knn b
         |    WHERE b.query_id = a.neighbor_id
         |      AND b.neighbor_id = a.query_id)),
         |pn AS (SELECT query_id, CAST(count(*) AS BIGINT) AS deg
         |  FROM knn GROUP BY 1),
         |pm AS (SELECT query_id, CAST(count(*) AS BIGINT) AS mdeg
         |  FROM mut GROUP BY 1)
         |SELECT e.label, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(deg) AS BIGINT) AS n_edges,
         |  CAST(sum(coalesce(mdeg, 0)) AS BIGINT) AS n_mutual,
         |  CAST(round(CAST(CAST(sum(coalesce(mdeg, 0)) AS DOUBLE)
         |    / CAST(sum(deg) AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS reciprocity
         |FROM pn JOIN embeddings e ON e.vec_id = pn.query_id
         |LEFT JOIN pm ON pm.query_id = pn.query_id
         |GROUP BY 1""".stripMargin,
    // q124's unrolled training CTEs feeding q112's recall audit under
    // the Euclidean metric: probe 2 L2-nearest cells per sampled
    // query, rank same-cell corpus members by rounded squared L2
    // (asc, id), hits against the brute-force L2 truth.
    "q125_ivf_l2_trained_recall" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a0 AS (${l2aSql("c0")}),
         |c1 AS (${l2MeanSql("a0")}),
         |a1 AS (${l2aSql("c1")}),
         |c2 AS (${l2MeanSql("a1")}),
         |a2 AS (${l2aSql("c2")}),
         |c3 AS (${l2MeanSql("a2")}),
         |a3 AS (${l2aSql("c3")}),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |s1 AS (SELECT qid, nid FROM (
         |  SELECT qc.qid, a.id AS nid,
         |    row_number() OVER (PARTITION BY qc.qid
         |      ORDER BY round(${sqdSql("qc.qv", "a.vec")}, 6), a.id) AS rnk
         |  FROM (SELECT qid, qv, cell FROM (
         |    SELECT q.id AS qid, q.vec AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(${sqdSql("q.vec", "c.cvec")}, 6), c.cid) AS pr
         |    FROM q CROSS JOIN c1 c) WHERE pr <= 2) qc
         |  JOIN a1 a ON qc.cell = a.cell AND qc.qid != a.id)
         |  WHERE rnk <= 5),
         |s3 AS (SELECT qid, nid FROM (
         |  SELECT qc.qid, a.id AS nid,
         |    row_number() OVER (PARTITION BY qc.qid
         |      ORDER BY round(${sqdSql("qc.qv", "a.vec")}, 6), a.id) AS rnk
         |  FROM (SELECT qid, qv, cell FROM (
         |    SELECT q.id AS qid, q.vec AS qv, c.cid AS cell,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(${sqdSql("q.vec", "c.cvec")}, 6), c.cid) AS pr
         |    FROM q CROSS JOIN c3 c) WHERE pr <= 2) qc
         |  JOIN a3 a ON qc.cell = a.cell AND qc.qid != a.id)
         |  WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "c2.embedding")}, 6),
         |        c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 5),
         |h AS (
         |  SELECT 1 AS iters, t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN s1 ON t.query_id = s1.qid
         |    AND t.neighbor_id = s1.nid
         |  GROUP BY 2
         |  UNION ALL
         |  SELECT 3 AS iters, t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN s3 ON t.query_id = s3.qid
         |    AND t.neighbor_id = s3.nid
         |  GROUP BY 2),
         |it AS (SELECT unnest([1, 3]) AS iters)
         |SELECT q.id AS query_id, it.iters,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q CROSS JOIN it
         |LEFT JOIN h ON q.id = h.query_id AND it.iters = h.iters""".stripMargin,
    // Same md5 lists via windows; integer // reciprocal terms,
    // identical fuse/tiebreak/top-5.
    "q503_rrf_fusion" ->
      s"""WITH pool AS (SELECT doc_id FROM documents
         |  WHERE doc_id % 7 = 0),
         |rows_ AS (SELECT p.doc_id, l.l, q.q,
         |    ${h60("'rrf' || CAST(l.l AS VARCHAR) || ':' || " +
           "CAST(q.q AS VARCHAR) || ':' || CAST(p.doc_id AS VARCHAR)")}
         |      AS h
         |  FROM pool p
         |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS l) l
         |  CROSS JOIN (SELECT unnest(range(0, 10)) AS q) q),
         |rk AS (SELECT doc_id, l, q,
         |    row_number() OVER (PARTITION BY l, q
         |      ORDER BY h, doc_id) AS r FROM rows_),
         |f AS (SELECT 'q' || CAST(q AS VARCHAR) AS query_id, doc_id,
         |    CAST(count(*) AS BIGINT) AS n_lists,
         |    CAST(sum(1000000 // (r + 60)) AS BIGINT) AS score_micro
         |  FROM rk WHERE r <= 8 GROUP BY 1, 2),
         |o AS (SELECT query_id, doc_id, n_lists, score_micro,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY score_micro DESC, doc_id) AS INT)
         |      AS fused_rank FROM f)
         |SELECT * FROM o WHERE fused_rank <= 5""".stripMargin,

    // Same micro-snap thresholds (// truncation = tdiv), the same
    // Σ bit·2^j word integers by comprehension, hamming by
    // bit_count(xor) per word, identical rerank/truth/recall algebra.
    "q497_binary_ann" ->
      s"""WITH thr AS (SELECT list(m ORDER BY pos) AS thr FROM (
         |  SELECT pos, CAST(sum(CAST(round(CAST(x AS DOUBLE)
         |      * 1000000) AS HUGEINT)) // count(*) AS BIGINT) AS m
         |  FROM (SELECT generate_subscripts(embedding, 1) AS pos,
         |      unnest(embedding) AS x FROM embeddings)
         |  GROUP BY 1)),
         |bits AS (SELECT e.vec_id AS id,
         |    [CASE WHEN CAST(round(CAST(q[1] AS DOUBLE) * 1000000)
         |        AS BIGINT) > q[2] THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END
         |      for q in list_zip(e.embedding, thr.thr)] AS b
         |  FROM embeddings e CROSS JOIN thr),
         |wd AS (SELECT id,
         |    [list_sum([b[w * 32 + j + 1] * (CAST(1 AS BIGINT) << j)
         |        for j in range(0, 32)])
         |      for w in range(0, len(b) // 32)] AS words
         |  FROM bits),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |qw AS (SELECT q.id, wd.words FROM q JOIN wd ON wd.id = q.id),
         |cand AS (SELECT qid, nid FROM (
         |  SELECT qw.id AS qid, c.id AS nid,
         |    row_number() OVER (PARTITION BY qw.id
         |      ORDER BY list_sum([bit_count(xor(qw.words[i],
         |          c.words[i]))
         |        for i in range(1, len(qw.words) + 1)]), c.id)
         |      AS prank
         |  FROM qw JOIN wd c ON qw.id != c.id)
         |  WHERE prank <= 40),
         |approx AS (SELECT qid, nid FROM (
         |  SELECT cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY round(${cosSql("q.vec", "e.embedding")}, 6)
         |        DESC, cand.nid) AS rnk
         |  FROM cand JOIN q ON q.id = cand.qid
         |    JOIN embeddings e ON e.vec_id = cand.nid)
         |  WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c2.embedding")}, 6)
         |        DESC, c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.nid
         |  GROUP BY 1)
         |SELECT q.id AS query_id,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q LEFT JOIN h ON q.id = h.query_id""".stripMargin,
    // SQ8 unrolled in CTEs: per-dim min/max lists, codes via the same
    // fixed-association ((x−mn)/(mx−mn))·255 snap, reconstruction
    // mn + (code/255)·(mx−mn), rank by rounded squared L2 to the
    // reconstruction (asc, id) against brute-force L2 truth.
    "q128_sq8_recall" ->
      s"""WITH st AS (
         |  SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
         |  FROM (
         |    SELECT pos, min(x) AS mn, max(x) AS mx FROM (
         |      SELECT generate_subscripts(embedding, 1) AS pos,
         |        CAST(unnest(embedding) AS DOUBLE) AS x
         |      FROM embeddings)
         |    GROUP BY 1)),
         |dec AS (
         |  SELECT e.vec_id AS id,
         |    list_transform(
         |      list_zip(list_transform(list_zip(e.embedding, st.mns, st.mxs),
         |        q -> CASE WHEN q[3] > q[2]
         |          THEN CAST(round((CAST(q[1] AS DOUBLE) - q[2])
         |            / (q[3] - q[2]) * 255.0) AS INT)
         |          ELSE 0 END), st.mns, st.mxs),
         |      q -> q[2] + CAST(q[1] AS DOUBLE) / 255.0 * (q[3] - q[2]))
         |      AS dv
         |  FROM embeddings e CROSS JOIN st),
         |q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |approx AS (SELECT qid, nid FROM (
         |  SELECT q.id AS qid, d.id AS nid,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "d.dv")}, 6), d.id) AS rnk
         |  FROM q JOIN dec d ON q.id != d.id)
         |  WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${sqdSql("q.vec", "c2.embedding")}, 6),
         |        c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.nid
         |  GROUP BY 1)
         |SELECT q.id AS query_id,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q LEFT JOIN h ON q.id = h.query_id""".stripMargin,
    // Matryoshka cascade in CTEs: ONE prefix-cosine ranking (first 16
    // list elements, same rounded-sim/id tiebreaks), tier membership is
    // prank <= R, each tier reranks by full-dim cosine, hits against
    // the full-dim cosine truth.
    "q129_matryoshka_rerank" ->
      s"""WITH q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |cand AS (SELECT qid, nid, prank FROM (
         |  SELECT q.id AS qid, e.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec[1:16]", "e.embedding[1:16]")}, 6)
         |        DESC, e.vec_id) AS prank
         |  FROM q JOIN embeddings e ON q.id != e.vec_id)
         |  WHERE prank <= 30),
         |rr AS (
         |  SELECT 10 AS shortlist, qid, nid FROM (
         |    SELECT c.qid, c.nid, row_number() OVER (PARTITION BY c.qid
         |      ORDER BY round(${cosSql("q.vec", "e.embedding")}, 6) DESC,
         |        c.nid) AS rnk
         |    FROM cand c JOIN q ON q.id = c.qid
         |      JOIN embeddings e ON e.vec_id = c.nid
         |    WHERE c.prank <= 10)
         |    WHERE rnk <= 5
         |  UNION ALL
         |  SELECT 30 AS shortlist, qid, nid FROM (
         |    SELECT c.qid, c.nid, row_number() OVER (PARTITION BY c.qid
         |      ORDER BY round(${cosSql("q.vec", "e.embedding")}, 6) DESC,
         |        c.nid) AS rnk
         |    FROM cand c JOIN q ON q.id = c.qid
         |      JOIN embeddings e ON e.vec_id = c.nid
         |    WHERE c.prank <= 30)
         |    WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c2.embedding")}, 6) DESC,
         |        c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 5),
         |h AS (SELECT a.shortlist, t.query_id, count(*) AS n_hit
         |  FROM truth t JOIN rr a
         |    ON t.query_id = a.qid AND t.neighbor_id = a.nid
         |  GROUP BY 1, 2),
         |sl AS (SELECT unnest([10, 30]) AS shortlist)
         |SELECT q.id AS query_id, sl.shortlist,
         |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(round(CAST(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS recall_at_5
         |FROM q CROSS JOIN sl
         |LEFT JOIN h ON q.id = h.query_id AND sl.shortlist = h.shortlist""".stripMargin,
    // q129's shortlist-10 rerank with ranks kept, truth with ranks
    // kept; RR and NDCG from the same 1e6/log2 integer discounts.
    "q139_ann_ranking_metrics" ->
      s"""WITH q AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
         |      ORDER BY ${h60("CAST(vec_id AS VARCHAR)")}, vec_id
         |      LIMIT 100),
         |cand AS (SELECT qid, nid FROM (
         |  SELECT q.id AS qid, e.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec[1:16]", "e.embedding[1:16]")}, 6)
         |        DESC, e.vec_id) AS prank
         |  FROM q JOIN embeddings e ON q.id != e.vec_id)
         |  WHERE prank <= 10),
         |ap AS (SELECT qid, nid, rnk FROM (
         |  SELECT c.qid, c.nid, row_number() OVER (PARTITION BY c.qid
         |    ORDER BY round(${cosSql("q.vec", "e.embedding")}, 6) DESC,
         |      c.nid) AS rnk
         |  FROM cand c JOIN q ON q.id = c.qid
         |    JOIN embeddings e ON e.vec_id = c.nid)
         |  WHERE rnk <= 5),
         |truth AS (SELECT query_id, neighbor_id, rnk FROM (
         |  SELECT q.id AS query_id, c2.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(${cosSql("q.vec", "c2.embedding")}, 6) DESC,
         |        c2.vec_id) AS rnk
         |  FROM q JOIN embeddings c2 ON q.id != c2.vec_id)
         |  WHERE rnk <= 5),
         |per AS (SELECT a.qid, min(a.rnk) AS first_rel,
         |    CAST(sum(CAST(round(1e6 / log2(a.rnk + 1)) AS BIGINT))
         |      AS BIGINT) AS dcg_fp
         |  FROM ap a JOIN truth t
         |    ON a.qid = t.query_id AND a.nid = t.neighbor_id
         |  GROUP BY 1),
         |ideal AS (SELECT query_id,
         |    CAST(sum(CAST(round(1e6 / log2(rnk + 1)) AS BIGINT))
         |      AS BIGINT) AS idcg_fp
         |  FROM truth GROUP BY 1)
         |SELECT ideal.query_id,
         |  CAST(round(CAST(
         |    coalesce(round(1e6 / CAST(first_rel AS DOUBLE)), 0) / 1e6
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS rr,
         |  CAST(round(CAST(CAST(coalesce(dcg_fp, 0) AS DOUBLE)
         |    / CAST(idcg_fp AS DOUBLE)
         |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS ndcg_at_5
         |FROM ideal LEFT JOIN per ON ideal.query_id = per.qid""".stripMargin,
    // The identical integer z-test in SQL: HUGEINT moments per cell
    // (exact), D = Σ − n·fp, flag iff D > 0 AND D² > 4(n·Σ² − Σ²);
    // assignment tiebreaks as everywhere (rounded cosine desc, cid).
    "q120_embedding_outliers" ->
      s"""WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec
         |            FROM embeddings WHERE vec_id < 16),
         |a AS (SELECT id, cell, csim FROM (
         |  SELECT e.vec_id AS id, c.cid AS cell,
         |    round(${cosSql("e.embedding", "c.cvec")}, 6) AS csim,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC,
         |        c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c0 c)
         |  WHERE rn = 1),
         |f AS (SELECT id, cell, CAST(round(csim * 1e6) AS BIGINT) AS fp
         |  FROM a),
         |g AS (SELECT cell, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(fp) AS HUGEINT) AS s,
         |    CAST(sum(CAST(fp AS HUGEINT) * fp) AS HUGEINT) AS ss
         |  FROM f GROUP BY 1)
         |SELECT f.id, f.cell, CAST(f.fp AS DOUBLE) / 1e6 AS csim,
         |  CASE WHEN (g.s - g.n * f.fp) > 0
         |        AND (g.s - g.n * f.fp) * (g.s - g.n * f.fp)
         |          > 4 * (g.n * g.ss - g.s * g.s)
         |       THEN 1 ELSE 0 END AS is_outlier
         |FROM f JOIN g USING (cell)""".stripMargin,
    // The incremental asymmetry in SQL: new side joins old ∪ new with
    // new×old always emitted (new on the left) and new×new once
    // (id_new < id_match); same double cosine and round-to-6 filter.
    "q119_incremental_cosine" ->
      s"""WITH o AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |n AS (SELECT vec_id + 1000000000 AS id,
         |    CASE WHEN vec_id % 2 = 0 THEN embedding
         |         ELSE list_reverse(embedding) END AS vec
         |  FROM embeddings),
         |allv AS (SELECT id, vec, 0 AS isn FROM o
         |         UNION ALL SELECT id, vec, 1 AS isn FROM n)
         |SELECT a.id AS id_new, b.id AS id_match,
         |  round(${cosSql("a.vec", "b.vec")}, 6) AS cos
         |FROM n a JOIN allv b
         |  ON a.id != b.id AND (b.isn = 0 OR a.id < b.id)
         |WHERE round(${cosSql("a.vec", "b.vec")}, 6) >= CAST(0.95 AS DOUBLE)"""
        .stripMargin,
    // median == quantile_cont(0.5) on both engines (interpolated
    // midpoint); every float constant cast to DOUBLE; the flag compares
    // the same multiply-form expression.
    "q80_robust_outliers" ->
      """WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(o_totalprice AS DOUBLE) AS v FROM orders),
        |med AS (SELECT g, median(v) AS med FROM v GROUP BY 1),
        |dev AS (SELECT v.g, v.v, med.med, abs(v.v - med.med) AS adev
        |  FROM v JOIN med USING (g)),
        |mad AS (SELECT g, median(adev) AS mad FROM dev GROUP BY 1)
        |SELECT dev.g, CAST(round(CAST(dev.med AS DECIMAL(20,10)), 4)
        |    AS DOUBLE) AS med,
        |  CAST(round(CAST(mad.mad AS DECIMAL(20,10)), 4) AS DOUBLE) AS mad,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN dev.adev
        |      > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (g)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q30_embed_neardup" ->
      s"""WITH e AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000 AS id,
         |    [CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.5
         |      ELSE CAST(embedding[i] AS DOUBLE) END
         |     for i in range(1, len(embedding) + 1)] AS embedding
         |  FROM embeddings)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
         |FROM e a JOIN e b ON a.id < b.id
         |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.9""".stripMargin,
    "q31_ann_topk" ->
      s"""SELECT query_id, neighbor_id, "rank", sim FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(${cosSql("q.embedding", "c.embedding")}, 6) AS sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${cosSql("q.embedding", "c.embedding")}, 6) DESC, c.vec_id) AS "rank"
         |  FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         |  WHERE q.vec_id < 20)
         |WHERE "rank" <= 5""".stripMargin,
    "q34_embed_centroids" ->
      """SELECT label, pos, round(avg(x), 6) AS avg_val, count(*) AS n
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
        |        CAST(unnest(embedding) AS DOUBLE) AS x
        |      FROM embeddings)
        |GROUP BY 1, 2""".stripMargin,
    "q37_ann_ivf" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |           WHERE vec_id < 16),
         |assigned AS (
         |  SELECT id, vec, cid AS cell FROM (
         |    SELECT e.vec_id AS id, e.embedding AS vec, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosSql("e.embedding", "c.cvec")}, 6) DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN c)
         |  WHERE rn = 1)
         |SELECT query_id, neighbor_id, sim, "rank" FROM (
         |  SELECT x.id AS query_id, y.id AS neighbor_id,
         |    round(${cosSql("x.vec", "y.vec")}, 6) AS sim,
         |    row_number() OVER (PARTITION BY x.id
         |      ORDER BY round(${cosSql("x.vec", "y.vec")}, 6) DESC, y.id) AS "rank"
         |  FROM assigned x JOIN assigned y ON x.cell = y.cell AND x.id != y.id)
         |WHERE "rank" <= 5""".stripMargin,
    "q55_embed_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    CASE WHEN amax = 0 THEN [CAST(0 AS BIGINT) for x in embedding]
        |         ELSE [CAST(floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5)
        |                    AS BIGINT) for x in embedding] END AS q
        |  FROM (SELECT vec_id, embedding,
        |          CAST(list_max([abs(x) for x in embedding]) AS DOUBLE) AS amax
        |        FROM embeddings))
        |SELECT vec_id, list_min(q) AS q_min, list_max(q) AS q_max,
        |  CAST(list_sum(q) AS BIGINT) AS q_sum,
        |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS INTEGER) AS n_sat
        |FROM q""".stripMargin
  )
}
