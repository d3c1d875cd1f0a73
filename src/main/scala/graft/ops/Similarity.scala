package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cols.{dec, fdiv, tdiv, snapMicro}

/** Vector-similarity operators over an embedding column (array<float>):
  * exact cosine, brute-force top-k (the correctness baseline) and an
  * LSH-bucketed approximate variant (the scale path).
  *
  * Scale posture: brute force is O(n·q) — acceptable when one side is
  * small (a query batch) and broadcast; beyond that the random-hyperplane
  * LSH restricts comparisons to same-bucket vectors, turning the search
  * into an equi-join on bucket id with per-bucket brute force. All
  * arithmetic is double-precision higher-order functions (codegen'd; no
  * UDF, no collect).
  */
object Similarity {

  /** Default cap for [[guardBoundedQueries]] — the scaladoc rule of
    * thumb (~10⁴ query rows) that every broadcast-side search carries.
    */
  val DefaultMaxQueries: Long = 10000L

  /** Runtime enforcement of the bounded-query contract shared by every
    * search that BROADCASTS its query side ([[bruteForceTopK]] /
    * [[bruteForceTopKL2]] broadcast the queries themselves;
    * [[pqAdcTopK]] / [[ivfPqSearchTiered]] /
    * [[ivfPqSearchResidual]] broadcast a |queries|·m·ksub LUT). A
    * caller that passes the corpus as queries would broadcast the
    * corpus — the exact failure the contract forbids — so the guard
    * fails fast instead.
    *
    * Cost: a plan whose row count is statically bounded under the cap
    * (a LIMIT-built sample — Catalyst exposes it as `maxRows`) passes
    * for FREE, no job runs; our sample builders (`bottom-k by hash +
    * limit`) all hit this path. Otherwise one pre-flight action counts
    * at most cap+1 rows (`limit(cap+1).count()` — never a full scan of
    * an oversized set). The static bound can only ACCEPT, never
    * reject: `maxRows` over-approximates (a filter inherits its
    * child's bound), so rejection always comes from the real count.
    * `cap <= 0` disables, for callers that own the scale decision
    * (e.g. a probe side already guarded upstream).
    */
  def guardBoundedQueries(queries: DataFrame, cap: Long,
                          what: String): Unit = {
    if (cap <= 0L) return
    if (queries.queryExecution.optimizedPlan.maxRows.exists(_ <= cap)) return
    val n =
      queries.limit((math.min(cap, Int.MaxValue - 2L) + 1L).toInt).count()
    require(n <= cap,
      s"$what: bounded-query contract violated — query set has " +
      s"more than $cap " +
      s"rows against maxQueries=$cap. The query side becomes a broadcast " +
      "(query vectors or the ADC lookup table); pass a fixed-SIZE sample " +
      "(bottom-k by hash + limit, as in the recall queries), or raise " +
      "maxQueries deliberately / set it <= 0 after sizing the broadcast.")
  }

  /** Element-wise product-sum in double precision (float inputs are cast
    * first, so each product is exact).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity — the native codegen'd Catalyst expression
    * (graft.functions.CosineSimilarity). Same numerics as the
    * composable HOF formulation dot/(√dot(a,a)·√dot(b,b)), which a spec
    * checks bit-for-bit; ~10× faster per pair.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.cosineSim(a, b)

  /** Per-ROW norm for the hoisted pair-kernel form: √dot(v,v) with the
    * native sequential ascending accumulation — the exact value the
    * fused [[cosine]] loop computes for each side internally.
    *
    * PRECONDITION (repeated from [[cosineHoisted]], r15 advice): the
    * hoisted recomposition dot/(na·nb) is bit-identical to the fused
    * [[cosine]] only when both sides share ONE dimensionality —
    * DotProduct dots over the min-length prefix while this norms the
    * FULL vector; ragged inputs would silently diverge instead of
    * failing.
    */
  private[graft] def normHoisted(v: Column): Column =
    sqrt(graft.functions.NativeFunctions.dotProduct(v, v))

  /** Pair-side of the hoisted cosine: dot(a,b)/(na·nb) where na/nb are
    * [[normHoisted]] values carried on each row. BIT-IDENTICAL to
    * [[cosine]] (same IEEE ops in the same order — the fused loop's
    * three accumulators never interact until the final divide;
    * NativeExprSpec pins the equality), but a |Q|·|C| pair block pays
    * one multiply-add per element instead of three and no per-pair
    * sqrt (guide §1.2 step 2: per-task work). Precondition: both
    * sides' vectors share one dimensionality (the fused loop norms
    * only min-length prefixes).
    */
  private[graft] def cosineHoisted(a: Column, b: Column,
                                   na: Column, nb: Column): Column =
    graft.functions.NativeFunctions.dotProduct(a, b) / (na * nb)

  /** Brute-force cosine top-k: every query row (`queries`: id, vec)
    * against every candidate row (`candidates`: id, vec), keep the k
    * nearest per query. Queries are broadcast — the big side streams once
    * with no shuffle; ranking is deterministic (rounded sim desc, then
    * candidate id).
    *
    * CONTRACT: `queries` must be a bounded, driver-broadcastable set —
    * a query batch or a fixed-SIZE sample (bottom-k by hash, never a
    * corpus fraction: a fraction grows with the corpus and turns the
    * broadcast into the corpus itself). Rule of thumb ≤ ~10⁴ rows ×
    * dim ≤ ~10³ doubles; for query sets beyond that, use `ivfSearch`
    * and raise nprobe until recall suffices.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     maxQueries: Long = DefaultMaxQueries): DataFrame = {
    guardBoundedQueries(queries, maxQueries, "bruteForceTopK")
    // Per-pair work is the whole cost of this kernel (|Q|·|C| pairs):
    // hoist each side's norm out of the pair loop — one √dot(v,v) per
    // ROW instead of two per PAIR, so the pair stage runs one
    // multiply-add per element instead of three (guide §1.2 step 2).
    // dot/(√na·√nb) recomposes the fused cosine expression's exact
    // IEEE sequence (same ascending accumulation, same final ops), so
    // `sim` is BIT-IDENTICAL to cosine() — NativeExprSpec pins it.
    // Precondition (held by every caller): both sides' vectors share
    // one dimensionality, as the fused loop norms only min-length
    // prefixes.
    // the float→double cast is hoisted with the norm: otherwise the
    // implicit array<float>→array<double> cast re-allocates per PAIR
    // (measured as the dominant per-pair cost at dim 64 — the cast is
    // exact, so hoisting it is bit-identical)
    val q = queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qv"),
      normHoisted(col("vec")).as("qn"))
    val c = candidates.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cv"),
      normHoisted(col("vec")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosineHoisted(col("qv"), col("cv"),
        col("qn"), col("cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
    * 1998) — diversified top-`k` from each query's `poolK` brute
    * candidates: greedy picks argmax λ·rel(q,c) − (1−λ)·max_{s∈S}
    * sim(c,s), so near-duplicate candidates can't crowd a result
    * page the way a pure-relevance top-k lets them.
    *
    * Determinism: relevance and pool-pair cosines snap to ×10⁶ micro
    * ints (6dp round → DECIMAL(20,10) → integer), λ enters as the
    * exact rational lamNum/lamDen, so every MMR score is the pure
    * integer lamNum·rel − (lamDen−lamNum)·maxsim and ties break on
    * candidate id — the greedy trajectory is bit-identical on any
    * engine.
    *
    * Scale shape: the candidate pool rides [[bruteForceTopK]]'s
    * broadcast-query contract (swap in ivfSearch for corpus-scale
    * candidate generation — the rerank composes unchanged); pool
    * pairwise sims are queries·poolK² rows (bounded by contract);
    * the k greedy rounds are driver-coordinated with a ≤|queries|-row
    * collect per round (the greedySetCover precedent), each round one
    * broadcast semi/anti join + argmax — the selected set never
    * shuffles the data side. Output: (query_id, pick_rank, cand_id,
    * rel_micro, score_micro).
    */
  def mmrRerank(queries: DataFrame, candidates: DataFrame, poolK: Int,
                k: Int, lamNum: Int = 7, lamDen: Int = 10): DataFrame = {
    require(poolK >= k && k >= 1, "need poolK >= k >= 1")
    require(lamNum >= 0 && lamNum <= lamDen, "need 0 <= lamNum <= lamDen")
    // Pool pairwise sims are |queries|·poolK² rows and each of the k
    // greedy rounds is a driver-coordinated job — both bounds are the
    // documented contract; enforce them instead of trusting callers
    // (past 1000 the right tool is ivfSearch candidates + a smaller
    // rerank pool, not a bigger quadratic panel).
    require(poolK <= 1000,
      s"mmrRerank pool pairwise cost is |queries|*poolK^2 — poolK=$poolK" +
        " exceeds the 1000 bound; generate candidates with ivfSearch and" +
        " rerank a smaller pool")
    require(k <= 1000,
      s"mmrRerank runs k driver-coordinated greedy rounds — k=$k exceeds" +
        " the 1000-round bound")
    val spark = queries.sparkSession
    val rel = bruteForceTopK(queries, candidates, poolK)
      .select(col("query_id").cast("long").as("qid"),
        col("neighbor_id").cast("long").as("cid"),
        snapMicro(col("sim")).as("rel_m"))
      .persist()
    val cv = candidates.select(col("id").cast("long").as("cid"),
      col("vec").cast("array<double>").as("cvec"),
      normHoisted(col("vec")).as("cvn"))
    val pool = rel.select(col("qid"), col("cid")).join(cv, "cid")
    val sims = pool.as("x").join(pool.as("y"),
        col("x.qid") === col("y.qid") && col("x.cid") =!= col("y.cid"))
      .select(col("x.qid").as("sqid"), col("x.cid").as("a"),
        col("y.cid").as("b"),
        snapMicro(round(cosineHoisted(col("x.cvec"), col("y.cvec"),
          col("x.cvn"), col("y.cvn")), 6))
          .as("sim_m"))
      .persist()
    val mu = lamDen - lamNum
    var selected = Vector.empty[(Long, Long, Long, Long, Int)]
    for (r <- 1 to k) {
      val scored =
        if (selected.isEmpty)
          rel.select(col("qid"), col("cid"), col("rel_m"),
            (col("rel_m") * lamNum).as("score"))
        else {
          val sel = spark.createDataFrame(selected.map(s => (s._1, s._2)))
            .toDF("pqid", "pcid")
          val ms = sims
            .join(broadcast(sel),
              col("sqid") === col("pqid") && col("b") === col("pcid"))
            .groupBy(col("sqid"), col("a"))
            .agg(max(col("sim_m")).as("ms"))
          rel.join(broadcast(sel),
              col("qid") === col("pqid") && col("cid") === col("pcid"),
              "left_anti")
            .join(ms, col("qid") === col("sqid") && col("cid") === col("a"))
            .select(col("qid"), col("cid"), col("rel_m"),
              (col("rel_m") * lamNum - col("ms") * mu).as("score"))
        }
      val picks = scored
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("cid"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("cid"), col("rel_m"), col("score"))
        .collect()
      selected = selected ++ picks.map(p =>
        (p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3), r))
    }
    rel.unpersist()
    sims.unpersist()
    spark.createDataFrame(selected.map(s => (s._1, s._5, s._2, s._3, s._4)))
      .toDF("query_id", "pick_rank", "cand_id", "rel_micro",
        "score_micro")
  }

  /** Contrastive HARD-NEGATIVE mining: for each query, the top-k most
    * similar candidates whose cosine stays BELOW `dupThreshold` — the
    * highest-value negatives for embedding/reranker training (random
    * negatives are trivially separable; near-dups above the threshold
    * would be false negatives and are excluded, as is the query
    * itself). Same bounded-query brute ranking as [[bruteForceTopK]]
    * with the dup gate applied BEFORE ranking, so rank k is the k-th
    * non-dup. At corpus scale the exact scan swaps for any searcher in
    * this family (IVF/PQ/LSH) — the gate composes on the candidate
    * stream unchanged. Output: (query_id, neighbor_id, rank, sim).
    */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
                    dupThreshold: Double, k: Int): DataFrame = {
    guardBoundedQueries(queries, DefaultMaxQueries, "hardNegatives")
    // per-row norm hoist — see cosineHoisted (bit-identical recompose)
    val q = queries.select(col("id").as("query_id"),
      col("vec").cast("array<double>").as("qv"),
      normHoisted(col("vec")).as("qn"))
    val c = candidates.select(col("id").as("neighbor_id"),
      col("vec").cast("array<double>").as("cv"),
      normHoisted(col("vec")).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosineHoisted(col("qv"), col("cv"),
        col("qn"), col("cn")), 6))
      .filter(col("sim") < dupThreshold)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Exact all-pairs cosine near-dup scan as a blocked B²-pair kernel —
    * fully distributed, nothing ever materializes on the driver:
    *
    *  1. every vector is assigned to one of `blocks` shards by id
    *     (floorMod — deterministic, id-distribution independent enough);
    *  2. each shard packs into ONE row (ids, vectors, precomputed norms,
    *     sorted by id) — task memory is bounded by the block size, which
    *     the caller picks so ~n/B·dim doubles fit an executor core;
    *  3. the B·(B+1)/2 ordered block pairs (a nested-loop self-join on
    *     blk ≤ blk — B rows a side, trivially small) each run one tight
    *     JVM double-array kernel: the upper triangle within a diagonal
    *     block, the full cross product otherwise.
    *
    * This is the classic blocked matrix-product decomposition; at 100 TB
    * the same plan holds — only `blocks` grows (tasks = B²/2, memory per
    * task = 2 blocks). The arithmetic (sequential dot in ascending dim
    * order, dot/(‖a‖·‖b‖), pairs emitted with id_a < id_b) is identical
    * to `cosine` and to the previous broadcast formulation, so results
    * match bit-for-bit.
    */
  def cosineNearDupPairsExact(vecs: DataFrame, threshold: Double,
                              blocks: Int = 16): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val margin = threshold - 1e-7
    val packed = packBlocks(vecs, blocks)
      .persist() // both sides of the block-pair join read the packed shards
    val pairs = packed.as("x")
      .join(packed.as("y"), col("x.blk") <= col("y.blk"))
      .select(
        col("x.blk"), col("x.ids"), col("x.vs"), col("x.ns"),
        col("y.blk"), col("y.ids"), col("y.vs"), col("y.ns"))
      .as[(Int, Array[Long], Array[Array[Double]], Array[Double],
           Int, Array[Long], Array[Array[Double]], Array[Double])]
      .flatMap { case (bx, xids, xvs, xns, by, yids, yvs, yns) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        val diagonal = bx == by
        var i = 0
        while (i < xids.length) {
          val vi = xvs(i)
          var j = if (diagonal) i + 1 else 0
          while (j < yids.length) {
            val vj = yvs(j)
            var dot = 0.0; var d = 0
            while (d < vi.length) { dot += vi(d) * vj(d); d += 1 }
            val c = dot / (xns(i) * yns(j))
            if (c >= margin) {
              if (xids(i) < yids(j)) out += ((xids(i), yids(j), c))
              else out += ((yids(j), xids(i), c))
            }
            j += 1
          }
          i += 1
        }
        out
      }
    pairs.toDF("id_a", "id_b", "cos")
      .withColumn("cos", round(col("cos"), 6))
      .filter(col("cos") >= threshold)
  }

  /** Pack vectors into `blocks` id-sharded single-row bundles
    * (ids asc, precomputed norms) — the unit of the blocked all-pairs
    * kernels; task memory is bounded by the block size.
    */
  private def packBlocks(vecs: DataFrame, blocks: Int) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .select(col("id").cast("long"), col("vec").cast("array<double>"))
      .as[(Long, Array[Double])]
      .groupByKey { case (id, _) => math.floorMod(id, blocks.toLong).toInt }
      .mapGroups { (blk, it) =>
        val rows = it.toArray.sortBy(_._1)
        val norms = rows.map { case (_, v) =>
          var s = 0.0; var d = 0
          while (d < v.length) { s += v(d) * v(d); d += 1 }
          math.sqrt(s)
        }
        (blk, rows.map(_._1), rows.map(_._2), norms)
      }
      .toDF("blk", "ids", "vs", "ns")
  }

  /** INCREMENTAL exact cosine near-dup: `newVecs` (a crawl increment)
    * against `oldVecs` ∪ `newVecs`, emitting every pair at cosine ≥
    * threshold with a new vector on the LEFT — old×old is NEVER
    * computed (the q82/q114 asymmetry on the embedding modality). Same
    * blocked kernel, norms, and double arithmetic as
    * [[cosineNearDupPairsExact]], so incremental ≡ batch minus
    * old-only pairs (spec-pinned). Work is |new|·|old ∪ new| dot
    * products across Bn·Ba block-pair tasks — the increment size, not
    * the corpus size, drives the new work.
    *
    * New×new pairs emit once (id_new < id_match); new×old pairs emit
    * as (new, old) regardless of id order. Id spaces must be disjoint.
    *
    * Both packed sides persist internally (each is read by Bn·Ba
    * block-pair tasks).
    */
  def cosineNearDupPairsIncremental(oldVecs: DataFrame, newVecs: DataFrame,
                                    threshold: Double,
                                    blocks: Int = 16): DataFrame = {
    val spark = oldVecs.sparkSession
    import spark.implicits._
    val margin = threshold - 1e-7
    // the all side carries one is-new boolean per packed vector — no
    // driver-side id set, the flags shuffle with their block
    val flagged = oldVecs
      .select(col("id").cast("long"), col("vec").cast("array<double>"),
        lit(false).as("isn"))
      .unionByName(newVecs.select(col("id").cast("long"),
        col("vec").cast("array<double>"), lit(true).as("isn")))
      .as[(Long, Array[Double], Boolean)]
      .groupByKey { case (id, _, _) => math.floorMod(id, blocks.toLong).toInt }
      .mapGroups { (blk, it) =>
        val rows = it.toArray.sortBy(_._1)
        val norms = rows.map { case (_, v, _) =>
          var s = 0.0; var d = 0
          while (d < v.length) { s += v(d) * v(d); d += 1 }
          math.sqrt(s)
        }
        (blk, rows.map(_._1), rows.map(_._2), norms, rows.map(_._3))
      }
      .toDF("blk", "ids", "vs", "ns", "isn")
    // both packed sides are read by every opposing block: persist
    // (divergent consumers across Bn·Ba tasks, the q28-index rationale)
    val np = packBlocks(newVecs, blocks).persist()
    val ap = flagged.persist()
    val pairs = np.as("x").crossJoin(ap.as("y"))
      .select(col("x.ids").as("xids"), col("x.vs").as("xvs"),
        col("x.ns").as("xns"), col("y.ids").as("yids"),
        col("y.vs").as("yvs"), col("y.ns").as("yns"),
        col("y.isn").as("yisn"))
      .as[(Array[Long], Array[Array[Double]], Array[Double],
           Array[Long], Array[Array[Double]], Array[Double],
           Array[Boolean])]
      .flatMap { case (xids, xvs, xns, yids, yvs, yns, yisn) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < xids.length) {
          val vi = xvs(i)
          var j = 0
          while (j < yids.length) {
            // new×new emits once (i < j); new×old always emits
            if (xids(i) != yids(j) && (!yisn(j) || xids(i) < yids(j))) {
              val vj = yvs(j)
              var dot = 0.0; var d = 0
              while (d < vi.length) { dot += vi(d) * vj(d); d += 1 }
              val c = dot / (xns(i) * yns(j))
              if (c >= margin) out += ((xids(i), yids(j), c))
            }
            j += 1
          }
          i += 1
        }
        out
      }
    pairs.toDF("id_new", "id_match", "cos")
      .withColumn("cos", round(col("cos"), 6))
      .filter(col("cos") >= threshold)
  }

  /** ANN-BLOCKED batch semantic near-dup — the scale twin of
    * [[cosineNearDupPairsExact]] and the batch shape of the streaming
    * `annDedupStream` path: every vector multi-probes its `nprobe`
    * nearest coarse cells ([[ivfProbeCells]], broadcast centroids),
    * candidate pairs are vectors SHARING a probed cell (equi-join on
    * cell — per-cell work is occupancy², the corpus shuffles once on
    * cell, never the packed-block cross join), and every candidate is
    * verified by the exact rounded double cosine. A pair sharing
    * several probed cells verifies once per shared cell (≤ nprobe
    * repeats) and the threshold filter runs BEFORE the distinct, so
    * only true near-dup pairs reach the dedup exchange (the q29
    * filter-before-distinct lesson).
    *
    * Guarantees: result ⊆ [[cosineNearDupPairsExact]] at the same
    * threshold (identical cosine arithmetic, rounding, and filter —
    * spec-pinned), and an EXACT duplicate always pairs (identical
    * vectors probe identical cells, assignment is deterministic). A
    * cross-cell near-dup can slip — recall is the audited tradeoff
    * (q123 measures it against the exact kernel), and probed-cell
    * sets grow monotonically with nprobe, so recall is monotone in
    * nprobe.
    *
    * At 100 TB this is the semantic-dedup PIPELINE path: Σ_cell
    * occupancy² work versus the exact kernel's intrinsic n²/2 — the
    * exact kernel stays the oracle/audit role.
    */
  def cosineNearDupPairsCellBlocked(vecs: DataFrame, centroids: DataFrame,
                                    threshold: Double,
                                    nprobe: Int = 2): DataFrame = {
    val probed = ivfProbeCells(vecs, centroids, nprobe)
      .select(col("qid").as("id"), col("cell"),
        col("qv").cast("array<double>").as("qv"),
        normHoisted(col("qv")).as("nq"))
    sameCellCandidates(
        probed.select(col("id"), col("cell"), col("qv").as("va"),
          col("nq").as("na")),
        probed.select(col("id"), col("cell"), col("qv").as("vb"),
          col("nq").as("nb"), lit(true).as("is_new")),
        probeCarry = Seq("va", "na"), indexCarry = Seq("vb", "nb"))
      .select(col("id_match").as("id_a"), col("id_new").as("id_b"),
        round(cosineHoisted(col("va"), col("vb"),
          col("na"), col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Shared same-cell candidate generator of the ANN dedup family — the
    * ONE place the "candidates = vectors sharing a (probed) cell, under
    * the incremental id-order contract" join lives, consumed by both
    * the batch [[cosineNearDupPairsCellBlocked]] and the streaming
    * `annDedupStream` (graft.streaming.Streams), so a recall fix to
    * the candidate rule lands in both.
    *
    * `probe` carries (id, cell, probeCarry...); `index` carries
    * (id, cell, is_new, indexCarry...). A probe pairs with every OLD
    * index row sharing the cell, and with SMALLER-id NEW rows
    * (keep-first within an increment); self-pairs never emit. For the
    * fully-batch case every index row is new, which degenerates to the
    * classic id-ordered self-join. Output: (id_new, id_match) plus the
    * carried columns, NOT deduplicated — the batch caller filters on
    * the verified similarity BEFORE its distinct (only true pairs
    * reach the dedup exchange), the stream caller distincts the id
    * pairs and verifies on vectors re-read from the corpus snapshot.
    */
  def sameCellCandidates(probe: DataFrame, index: DataFrame,
                         probeCarry: Seq[String] = Nil,
                         indexCarry: Seq[String] = Nil): DataFrame =
    probe.as("a").join(index.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.id") =!= col("b.id") &&
          (!col("b.is_new") || col("a.id") > col("b.id")))
      .select(col("a.id").as("id_new") +: col("b.id").as("id_match") +:
        (probeCarry.map(c => col("a." + c).as(c)) ++
          indexCarry.map(c => col("b." + c).as(c))): _*)

  /** Deterministic pseudo-random hyperplanes: component (p,j) is an LCG
    * over (p·dim+j) mapped to [-1000, 1000]. Precomputed as plain Longs
    * so the identical literals appear in any engine's plan (reproducible
    * across engines and runs — no RNG state).
    */
  def planeComponents(planes: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(planes, dim)((p, j) =>
      ((p.toLong * dim + j) * 1103515245L + 12345L) % 2001L - 1000L)

  /** Random-hyperplane LSH bucket id: one sign bit per plane packed into
    * a long. Vectors with small angular distance agree on most signs and
    * co-bucket with high probability.
    */
  def lshBucket(vec: Column, planes: Array[Array[Long]]): Column =
    planes.zipWithIndex.map { case (pl, p) =>
      val d = aggregate(
        zip_with(vec, array(pl.toIndexedSeq.map(v => lit(v.toDouble)): _*),
          (x, c) => x.cast("double") * c),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF-style coarse quantization: assign every vector to its most
    * similar centroid (deterministic argmax — similarity rounded to 6
    * then centroid id as tiebreak). Centroids broadcast; one pass over
    * the vectors. `centroids` carries (cid, cvec).
    */
  def ivfAssign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssignScored(vecs, centroids).select(col("id"), col("vec"), col("cell"))

  /** [[ivfAssign]] keeping the winning similarity: (id, vec, cell,
    * csim) — the quantization-quality signal k-means training and cell
    * diagnostics consume (csim = max over centroids, independent of
    * the id tiebreak).
    */
  def ivfAssignScored(vecs: DataFrame, centroids: DataFrame): DataFrame =
    // argmax as a min_by aggregate, not a window: the broadcast cross
    // join keeps every centroid next to its row, so map-side partial
    // aggregation collapses to ONE row per id before the exchange —
    // n rows shuffle instead of n×centroids rows shuffled AND sorted.
    // first(vec) is safe: all rows of a group carry the identical vec.
    // norms hoisted out of the |vecs|·|centroids| pair block: one per
    // row/centroid instead of per pair (cosineHoisted — bit-identical)
    vecs.withColumn("vn", normHoisted(col("vec")))
      .withColumn("vecd", col("vec").cast("array<double>"))
      .crossJoin(broadcast(centroids
        .withColumn("cn", normHoisted(col("cvec")))
        .withColumn("cvecd", col("cvec").cast("array<double>"))))
      .withColumn("csim", round(cosineHoisted(col("vecd"), col("cvecd"),
        col("vn"), col("cn")), 6))
      .groupBy(col("id"))
      .agg(
        first(col("vec")).as("vec"),
        min_by(col("cid"), struct(negate(col("csim")), col("cid"))).as("cell"),
        max(col("csim")).as("csim"))

  /** Embedding-quality gate: flag vectors whose centroid affinity sits
    * more than two standard deviations BELOW their cell's mean — the
    * "doesn't belong anywhere" outliers a training-data pipeline drops
    * or routes for review. All decisive arithmetic is exact: affinities
    * snap to ×10⁶ fixed point, per-cell (n, Σ, Σ²) aggregate as
    * decimal(38,0) (exact to 10³⁸ — safe for ~10¹² rows/cell), and the
    * z-test compares integers: csim < mean − 2σ ⇔ D := Σ − n·fp > 0 ∧
    * D² > 4(n·Σ² − Σ²) — no float mean/σ ever computed, so any engine
    * agrees bit-for-bit. Per-cell stats broadcast back (16ish rows);
    * one corpus shuffle total (the assignment's). On a healthy corpus
    * the gate is expected mostly quiet (a 2σ tail needs genuine
    * strays); SimilaritySpec plants one and proves it fires.
    */
  def cellOutliers(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val scored = ivfAssignScored(vecs, centroids)
      .withColumn("fp", round(col("csim") * 1e6).cast("long"))
    val stats = scored.groupBy(col("cell"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("fp").cast(dec)).as("s"),
        sum(col("fp").cast(dec) * col("fp").cast(dec)).as("ss"))
    scored.join(broadcast(stats), Seq("cell"))
      .withColumn("dd", col("s") - col("n") * col("fp").cast(dec))
      .select(col("id"), col("cell"),
        (col("fp").cast("double") / 1e6).as("csim"),
        when(col("dd") > 0 &&
            col("dd") * col("dd") >
              lit(4).cast(dec) * (col("n") * col("ss") - col("s") * col("s")),
          1).otherwise(0).as("is_outlier"))
  }

  /** Per-cell exact fixed-point per-dim means — the Lloyd update step
    * shared by the cosine and L2 assignment variants: components snap
    * to ×10⁶ BEFORE the sum (order-free, bit-identical cross-engine);
    * empty cells die.
    */
  private def cellMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("vec")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(round(col("col").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("s").cast("double") / (col("n").cast("double") * 1e6))
          .as("m")))).as("pm"))
      .select(col("cell").as("cid"),
        transform(col("pm"), x => x.getField("m")).as("cvec"))

  /** One EUCLIDEAN Lloyd's iteration ([[kmeansStep]] with the L2
    * assignment): each centroid moves to the per-dim mean of its
    * L2-nearest members — the mean is exactly the within-cell
    * variance minimizer, so this is the step that makes residual PQ
    * residuals small. Same exact fixed-point arithmetic.
    */
  def kmeansStepL2(vecs: DataFrame, centroids: DataFrame): DataFrame =
    cellMeans(ivfAssignL2(vecs, centroids))

  /** One Lloyd's iteration: assign every vector to its nearest centroid,
    * then recompute each non-empty cell's centroid as the per-dimension
    * mean. The mean is an exact integer rational — components snap to
    * ×10⁶ fixed point BEFORE the sum, so the aggregate is order-free
    * and the resulting centroid values are bit-identical on any engine
    * (one double division per dimension at the end, identical operand
    * order). Cells that attract no vectors die (standard Lloyd).
    *
    * Scale shape: assignment is the broadcast-centroid pass; the mean
    * is a posexplode → (cell, dim) hash aggregate (map-side partial
    * combine collapses to cells×dim rows before the exchange) — no
    * driver-side vector materialization anywhere, so the corpus size
    * only affects the scan.
    */
  def kmeansStep(vecs: DataFrame, centroids: DataFrame): DataFrame =
    cellMeans(ivfAssign(vecs, centroids))

  /** `iters` Lloyd's iterations from `init` (deterministic: seeding is
    * the caller's explicit init set, every step is exact fixed-point
    * arithmetic). Returns the final (cid, cvec) centroid table — small
    * by construction, broadcast by the next assignment.
    */
  def kmeansTrain(vecs: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    var c = init
    // localCheckpoint (eager) each round: the centroid table is tiny
    // (k rows) but its LINEAGE is a full corpus aggregate per
    // iteration. Within a single downstream plan, ReusedExchange
    // already dedups the identical subtrees (measured ≈ equal on
    // q112), but the checkpoint (a) bounds the logical plan depth —
    // without it iteration i nests i corpus aggregates and Catalyst
    // re-analyzes the deepening tree each round, the duplicateClusters
    // super-linear pathology — and (b) pins the k rows for callers
    // that run SEVERAL separate actions against one trained set.
    for (_ <- 1 to iters) c = nextCentroids(c, init, kmeansStep(vecs, c))
    c
  }

  /** Checkpoint `next` (eagerly), then free `prev` unless it is the
    * caller's `init` — the shared loop step of [[kmeansTrain]] and
    * [[kmeansTrainL2]].
    */
  private def nextCentroids(prev: DataFrame, init: DataFrame,
                            next: DataFrame): DataFrame = {
    val c = next.localCheckpoint(true)
    if (prev ne init) Frames.release(prev)
    c
  }

  /** Per-cell occupancy and quantization objective under a centroid
    * set: (cell, n_members, obj_fp) where obj_fp is the ×10⁶
    * fixed-point sum of winning similarities — exact, order-free, and
    * monotone in clustering quality (spherical k-means maximizes it).
    */
  def ivfCellStats(vecs: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssignScored(vecs, centroids)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("csim") * 1e6).cast("long")).as("obj_fp"))

  /** IVF cell-count chooser — the scale contract the frozen-k gate
    * queries pin only by constant (NOTES 100): k = ⌈√n⌉ clamped to
    * [4, 65536]. √n is the COST-balanced point of the two phases of
    * every cell-blocked kernel: assignment work is n·k (each vector
    * scores every centroid) and same-cell verify work is Σ occupancy²
    * ≈ n²/k for balanced cells — equal at k = √n, total Θ(n^1.5).
    * A frozen k degrades to Θ(n²/k) verify as the corpus grows; a k
    * proportional to n explodes the assignment side. Deterministic
    * (pure arithmetic on a count the caller supplies — at scale the
    * count comes from a manifest stat, never a full scan).
    */
  def chooseK(n: Long): Int = {
    require(n >= 0, "n must be >= 0")
    math.max(4, math.min(65536,
      math.ceil(math.sqrt(n.toDouble)).toInt))
  }

  /** Probe-count companion of [[chooseK]]: recall under a √n-grown k
    * is restored by probing a few nearest cells, not by freezing k.
    * Measured on the planted-near-dup corpus (NOTES r13): at k=√n,
    * nprobe=2 reads 0.83–0.95 pair recall across 1×/10× scales while
    * nprobe=4 reads 0.995–0.996 at BOTH — flat in n because the
    * planted-pair geometry is scale-free once k tracks √n. 4 is the
    * measured knee; recall is monotone in nprobe (ivfProbeCells
    * contract) so callers needing more can raise it.
    */
  def chooseNProbe(k: Int): Int = math.min(k, 4)

  /** IVF approximate nearest neighbors (nprobe=1): compare only vectors
    * sharing a centroid cell, then rank as in brute force. The inverted
    * file IS the shuffle key — per-cell brute force, so cost scales with
    * cell occupancy (n²/k for balanced cells), and the centroid set is
    * the only broadcast. Recall grows with probe count; the single-probe
    * variant keeps the oracle deterministic.
    */
  def ivfTopK(vecs: DataFrame, centroids: DataFrame, k: Int): DataFrame = {
    // deliberately NOT persisted: both self-join sides shuffle the same
    // assignment subtree on `cell`, and ReusedExchange computes that
    // identical exchange once per execution — persisting here measured
    // ~25% SLOWER (columnar caching of the vector column, lesson 23)
    val assigned = ivfAssign(vecs, centroids)
      .withColumn("vn", normHoisted(col("vec")))
      .withColumn("vecd", col("vec").cast("array<double>"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
        round(cosineHoisted(col("a.vecd"), col("b.vecd"),
          col("a.vn"), col("b.vn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The nprobe nearest centroid cells per query (deterministic: rounded
    * similarity desc, then centroid id). One row per (query, probed
    * cell) — the probe-side fan-out is exactly ≤ nprobe×, pinned by
    * SimilaritySpec. Centroids broadcast; the window partitions by
    * query id (no global sort).
    */
  def ivfProbeCells(queries: DataFrame, centroids: DataFrame,
                    nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cid"))
    // norm hoist as in ivfAssignScored; output schema unchanged
    queries.select(col("id").as("qid"), col("vec").as("qv"),
        col("vec").cast("array<double>").as("qvd"),
        normHoisted(col("vec")).as("qn"))
      .crossJoin(broadcast(centroids
        .withColumn("cn", normHoisted(col("cvec")))
        .withColumn("cvecd", col("cvec").cast("array<double>"))))
      .withColumn("csim", round(cosineHoisted(col("qvd"), col("cvecd"),
        col("qn"), col("cn")), 6))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("cid").as("cell"), col("pr"))
  }

  /** Multi-probe IVF search: an explicit QUERY set probes its `nprobe`
    * nearest cells and ranks only the corpus vectors assigned there —
    * the scale shape for auditing/serving a bounded probe set against
    * an arbitrarily large corpus (the probe filter lives INSIDE the
    * search: nothing corpus-sized is ranked and then discarded).
    *
    * Each corpus vector belongs to exactly ONE cell, so a (query,
    * neighbor) pair arises at most once — no candidate dedup needed.
    * Raising nprobe grows each query's candidate set monotonically,
    * hence recall@k is monotone in nprobe (candidates nest, and true
    * top-k members always outrank non-members under the shared
    * (rounded sim, id) order); at nprobe = |centroids| the candidate
    * set is the whole corpus minus the query itself and the result
    * EQUALS bruteForceTopK (SimilaritySpec pins both).
    *
    * Pass a pre-computed `ivfAssign(corpus, centroids)` as `corpus`
    * with `preAssigned = true` to amortize assignment across calls.
    */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                k: Int, nprobe: Int = 1,
                preAssigned: Boolean = false): DataFrame = {
    val assigned =
      (if (preAssigned) corpus else ivfAssign(corpus, centroids))
        .withColumn("vn", normHoisted(col("vec")))
        .withColumn("vecd", col("vec").cast("array<double>"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    ivfProbeCells(queries, centroids, nprobe)
      .withColumn("qn", normHoisted(col("qv")))
      .withColumn("qvd", col("qv").cast("array<double>"))
      .join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        round(cosineHoisted(col("qvd"), col("vecd"),
          col("qn"), col("vn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Squared L2 distance — the native codegen'd Catalyst expression
    * (graftshim.SquaredL2; the PQ metric: cosine ranks by angle, PQ's
    * codebooks quantize Euclidean cells). Same numerics as the
    * composable HOF formulation (a sequential sum of squared
    * differences in dimension order); a spec asserts bit-for-bit
    * agreement.
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.squaredL2(a, b)

  /** The `m` equal subvector slices of each vector: (id, sub, svec) with
    * sub ∈ [0, m). Pure narrow projection — the product-quantization
    * decomposition step. Vector length must be divisible by m (enforced
    * per row: a ragged vector would silently mis-slice).
    */
  def subVectors(vecs: DataFrame, m: Int): DataFrame = {
    require(m >= 1, "m must be >= 1")
    // enforced, not assumed: integer division would silently drop the
    // trailing dims of a ragged vector from every downstream distance
    val sz = size(col("vec"))
    val dlen = when(sz % m === 0, (sz / m).cast("int"))
      .otherwise(raise_error(concat(
        lit(s"subVectors: vector length not divisible by m=$m, got "),
        sz.cast("string"))).cast("int"))
    vecs.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("vec"), j * dlen + 1, dlen))))
      .select(col("id"), col("pos").cast("int").as("sub"),
        col("col").as("svec"))
  }

  /** Deterministic PQ seed codebook: the subvectors of the `ksub`
    * vectors with ids in [seedFrom, seedFrom + ksub), per subspace —
    * (sub, cid, cvec) with cid = id − seedFrom (same convention as
    * q110's id<k centroid seed; k-means++ seeding would go here, the
    * training step is seed-agnostic). `seedFrom` matters when seeding
    * from RESIDUALS: the coarse centroids' own residuals are zero
    * vectors, so a residual codebook must seed past the centroid ids
    * or every codeword collapses to the same point.
    */
  def pqSeedCodebook(vecs: DataFrame, m: Int, ksub: Int,
                     seedFrom: Long = 0L): DataFrame =
    subVectors(vecs.filter(col("id") >= seedFrom &&
        col("id") < seedFrom + ksub), m)
      .select(col("sub"), (col("id") - seedFrom).as("cid"),
        col("svec").as("cvec"))

  /** Assign every subvector to its nearest codeword WITHIN its subspace
    * (deterministic argmin: squared L2 rounded to 6, then codeword id).
    * The codebook (m·ksub rows) broadcasts; the argmin is a min_by
    * aggregate so map-side partial combine collapses to one row per
    * (id, sub) before any exchange — n·m rows shuffle, not n·m·ksub.
    */
  def pqAssign(sv: DataFrame, codebook: DataFrame): DataFrame =
    sv.join(broadcast(codebook), Seq("sub"))
      .withColumn("d", round(sqDist(col("svec"), col("cvec")), 6))
      .groupBy(col("id"), col("sub"))
      .agg(first(col("svec")).as("svec"),
        min_by(col("cid"), struct(col("d"), col("cid"))).as("code"),
        min(col("d")).as("qerr"))

  /** One KEYED Lloyd's iteration per subspace — [[kmeansStep]] with
    * (sub, code) as the cell key: each codeword moves to the per-dim
    * mean of its assigned subvectors, components snapped to ×10⁶ fixed
    * point BEFORE the sum (order-free, bit-identical across engines).
    * Codewords that attract nothing die, exactly as in Lloyd.
    */
  def pqTrainStep(sv: DataFrame, codebook: DataFrame): DataFrame =
    pqAssign(sv, codebook)
      .select(col("sub"), col("code"), posexplode(col("svec")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(sum(round(col("col").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .groupBy(col("sub"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("s").cast("double") / (col("n").cast("double") * 1e6))
          .as("m")))).as("pm"))
      .select(col("sub"), col("code").as("cid"),
        transform(col("pm"), x => x.getField("m")).as("cvec"))

  /** PQ-encode a corpus: (id, sub, code) — m small integers per vector
    * instead of the full float array, the 100 TB memory story (64 dims
    * × 4 bytes → m=4 bytes per vector, a 64× compression of the
    * resident index; the floats stay in cold storage).
    */
  def pqEncode(vecs: DataFrame, codebook: DataFrame, m: Int): DataFrame =
    pqAssign(subVectors(vecs, m), codebook)
      .select(col("id"), col("sub"), col("code"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query computes
    * a lookup table of exact subspace distances to every codeword (one
    * broadcast of |q|·m·ksub small rows), and a corpus vector's
    * approximate distance is the SUM of its m table entries — the scan
    * touches only the integer codes, never the corpus floats. Per-entry
    * distances snap to ×10⁶ fixed point so the m-term sum is order-free
    * (`adist_fp`); ranking is deterministic (adist_fp asc, neighbor id).
    *
    * CONTRACT: `queries` must be a bounded set (the bruteForceTopK
    * rule) — the LUT broadcast is |queries|·m·ksub rows.
    */
  def pqAdcTopK(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
                m: Int, k: Int,
                maxQueries: Long = DefaultMaxQueries): DataFrame = {
    guardBoundedQueries(queries, maxQueries, "pqAdcTopK")
    val lut = subVectors(queries, m)
      .select(col("id").as("qid"), col("sub"), col("svec"))
      .join(codebook, Seq("sub"))
      .select(col("qid"), col("sub"), col("cid"),
        round(round(sqDist(col("svec"), col("cvec")), 6) * 1e6)
          .cast("long").as("dfp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_fp"), col("neighbor_id"))
    codes.join(broadcast(lut),
        codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("dfp")).as("adist_fp"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        col("adist_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adist_fp")
  }

  /** [[ivfAssign]] under the EUCLIDEAN metric (squared L2 rounded to 6
    * asc, centroid id tiebreak) — the coarse quantizer that composes
    * coherently with PQ's L2 codebooks in [[ivfPqSearchTiered]]. Same plan
    * shape as the cosine variant: broadcast centroids, min_by argmin,
    * map-side collapse to one row per id.
    */
  def ivfAssignL2(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .withColumn("cd", round(sqDist(col("vec"), col("cvec")), 6))
      .groupBy(col("id"))
      .agg(first(col("vec")).as("vec"),
        min_by(col("cid"), struct(col("cd"), col("cid"))).as("cell"))

  /** [[ivfAssignL2]] keeping the winning squared distance: (id, vec,
    * cell, cd) — cd is the min over centroids of the rounded squared
    * L2, the quantization-error signal the SSE objective sums.
    */
  def ivfAssignL2Scored(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .withColumn("cd", round(sqDist(col("vec"), col("cvec")), 6))
      .groupBy(col("id"))
      .agg(first(col("vec")).as("vec"),
        min_by(col("cid"), struct(col("cd"), col("cid"))).as("cell"),
        min(col("cd")).as("cd"))

  /** Per-cell occupancy and the EUCLIDEAN k-means objective under a
    * centroid set: (cell, n_members, sse_fp) where sse_fp is the ×10⁶
    * fixed-point sum of winning squared distances — exact, order-free,
    * and the quantity Lloyd's algorithm is guaranteed to not increase
    * (assignment picks the argmin; the mean minimizes within-cell SSE).
    */
  def ivfCellStatsL2(vecs: DataFrame, centroids: DataFrame): DataFrame =
    ivfAssignL2Scored(vecs, centroids)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("cd") * 1e6).cast("long")).as("sse_fp"))

  /** SIMPLIFIED (centroid-based) SILHOUETTE per cluster — the
    * clustering-quality read that decides k and flags incoherent
    * cells: for each point a = distance to its OWN centroid, b =
    * distance to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈
    * [−1, 1] (the classic silhouette with centroids standing in for
    * mean member distance — O(n·k) instead of O(n²), the only form
    * that scales). One broadcast-centroid pass; the per-point sorted
    * distance pair comes from a k-element array sort (k = \|centroids\|,
    * bounded), distances are the assignment's own rounded squared L2
    * through one sqrt, and s snaps ×1e6 pre-sum so each cell's mean is
    * a ratio of exact integers. A point sitting ON a duplicated
    * centroid (max(a,b)=0) scores 0. Requires ≥ 2 centroids. Output
    * per cell: (cid, n_members, mean_silhouette).
    */
  def silhouetteSimplified(vecs: DataFrame,
                           centroids: DataFrame): DataFrame = {
    val per = vecs.crossJoin(broadcast(centroids))
      .withColumn("cd", round(sqDist(col("vec"), col("cvec")), 6))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("cd"), col("cid"))))
        .as("ds"))
      .select(col("id"),
        col("ds")(0).getField("cid").as("cell"),
        sqrt(col("ds")(0).getField("cd")).as("da"),
        sqrt(col("ds")(1).getField("cd")).as("db"))
    per
      .withColumn("sfp", round(lit(1e6) *
        when(greatest(col("da"), col("db")) === 0, lit(0.0))
          .otherwise((col("db") - col("da")) /
            greatest(col("da"), col("db")))).cast("long"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round((sum(col("sfp")).cast("double") /
          count(lit(1)).cast("double") / lit(1e6))
          .cast("decimal(20,10)"), 6).cast("double")
          .as("mean_silhouette"))
      .select(col("cell").as("cid"), col("n_members"),
        col("mean_silhouette"))
  }

  /** `iters` EUCLIDEAN Lloyd's iterations from `init` —
    * [[kmeansTrain]] with the L2 assignment ([[kmeansStepL2]]), the
    * same localCheckpoint-per-iteration pattern (bounds the logical
    * plan depth: iteration i would otherwise nest i corpus
    * aggregates) and the same exact fixed-point means. The total SSE
    * ([[ivfCellStatsL2]] summed) is non-increasing per iteration up
    * to the ×10⁶ snapping — spec-pinned over 3 iterations.
    */
  def kmeansTrainL2(vecs: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    var c = init
    for (_ <- 1 to iters) c = nextCentroids(c, init, kmeansStepL2(vecs, c))
    c
  }

  /** [[ivfSearch]] under the EUCLIDEAN metric: queries probe their
    * `nprobe` L2-nearest cells ([[ivfProbeCellsL2]]) and rank only
    * the corpus vectors assigned there ([[ivfAssignL2]]) by rounded
    * squared distance (asc, neighbor id) — the plain-IVF sibling of
    * [[ivfPqSearchTiered]] when the corpus floats are affordable. Same
    * nesting guarantee: candidates grow monotonically with nprobe,
    * and at nprobe = |centroids| the result equals
    * [[bruteForceTopKL2]] (spec-pinned).
    */
  def ivfSearchL2(queries: DataFrame, corpus: DataFrame,
                  centroids: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    val assigned = ivfAssignL2(corpus, centroids)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    ivfProbeCellsL2(queries, centroids, nprobe)
      .join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        round(sqDist(col("qv"), col("vec")), 6).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dist")
  }

  /** [[ivfProbeCells]] under the Euclidean metric: the nprobe NEAREST
    * cells per query by squared L2 (asc, centroid id tiebreak).
    */
  def ivfProbeCellsL2(queries: DataFrame, centroids: DataFrame,
                      nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cd"), col("cid"))
    queries.select(col("id").as("qid"), col("vec").as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cd", round(sqDist(col("qv"), col("cvec")), 6))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qv"), col("cid").as("cell"), col("pr"))
  }

  /** IVF-PQ search at SEVERAL nprobe tiers in ONE pass — the canonical
    * 100 TB ANN shape, end to end and all-Euclidean: a coarse quantizer
    * ([[ivfAssignL2]], broadcast `centroids`) routes every corpus vector
    * to one cell; the corpus is PQ-encoded ([[pqEncode]], `m` code bytes
    * per vector); each query probes its nearest cells and ranks ONLY
    * those cells' members, by asymmetric distance over the codes
    * (per-query LUT, fixed-point sums — [[pqAdcTopK]]'s arithmetic
    * exactly). Per-query cost is probed-cell occupancy × m table
    * lookups; the corpus floats are touched only at assign/encode time,
    * never per query.
    *
    * The tiers are the recall-sweep shape (every IVF evaluation wants
    * recall at 2–4 tiers). A naive per-tier loop rebuilds assign +
    * encode + LUT + ADC once per tier; but candidate sets NEST as
    * nprobe grows, so one ADC pass at max(nprobes) carrying each
    * candidate's probe rank `pr` (the rank of its cell among the
    * query's nearest) contains every tier: tier np is exactly the
    * candidates with pr ≤ np, filtered BEFORE the per-tier ranking. One
    * assign, one encode, one LUT, one ADC aggregate in the plan
    * regardless of tier count; the tier fan-out (explode × |nprobes|)
    * happens on the already-collapsed (query, neighbor) rows. Per tier,
    * results are bit-identical to a single-nprobe IVF-PQ search
    * (SimilaritySpec pins it).
    *
    * Output: (query_id, neighbor_id, nprobe, rank, adist_fp).
    */
  def ivfPqSearchTiered(queries: DataFrame, corpus: DataFrame,
                        centroids: DataFrame, codebook: DataFrame,
                        m: Int, k: Int, nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      "nprobes must be non-empty positive")
    guardBoundedQueries(queries, DefaultMaxQueries, "ivfPqSearchTiered")
    val assigned = ivfAssignL2(corpus, centroids).select(col("id"), col("cell"))
    val codes = pqEncode(corpus, codebook, m)
    val lut = subVectors(queries, m)
      .select(col("id").as("lqid"), col("sub"), col("svec"))
      .join(codebook, Seq("sub"))
      .select(col("lqid"), col("sub"), col("cid"),
        round(round(sqDist(col("svec"), col("cvec")), 6) * 1e6)
          .cast("long").as("dfp"))
    val cand = ivfProbeCellsL2(queries, centroids, nprobes.max)
      .select(col("qid"), col("cell"), col("pr"))
      .join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("id"))
    val w = Window.partitionBy(col("query_id"), col("nprobe"))
      .orderBy(col("adist_fp"), col("neighbor_id"))
    cand.join(codes, Seq("id"))
      .join(broadcast(lut),
        col("qid") === col("lqid") &&
          codes("sub") === lut("sub") && codes("code") === lut("cid"))
      .groupBy(col("qid"), col("id"))
      // pr is functionally determined by (qid, id) — one cell per
      // corpus id, one rank per (query, cell); min is just the safe agg
      .agg(sum(col("dfp")).as("adist_fp"), min(col("pr")).as("pr"))
      .withColumn("nprobe", explode(array(nprobes.map(n => lit(n)): _*)))
      .filter(col("pr") <= col("nprobe"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        col("nprobe"), col("adist_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "nprobe", "rank", "adist_fp")
  }

  /** RESIDUAL IVF-PQ search — the canonical form: PQ quantizes the
    * residual `vec − centroid(cell)` instead of the raw vector, so the
    * codebook spends its codewords on the (much smaller) within-cell
    * spread — recall at equal bits is strictly better in practice.
    * Everything is trained in-engine and exact:
    *
    *  1. coarse-assign the corpus ([[ivfAssignL2]], broadcast
    *     centroids) and form residuals (double-exact float subtract);
    *  2. train per-subspace residual codebooks (seed = lowest-id
    *     residual subvectors, one keyed fixed-point Lloyd step —
    *     [[pqTrainStep]]);
    *  3. encode every corpus residual (m codes) — codes carry their
    *     cell;
    *  4. each query probes `nprobe` nearest cells, forms a PER-CELL
    *     query residual, and builds the (cell, sub, codeword) distance
    *     LUT (fixed-point ×10⁶ BIGINT entries);
    *  5. the ADC join on (cell, sub, code) implicitly restricts
    *     candidates to probed cells — no separate candidate join; each
    *     matched (query, neighbor) sums exactly m order-free terms.
    *
    * Ranking is deterministic (adist_fp asc, neighbor id). LUT size is
    * |queries|·nprobe·m·ksub rows — bounded-query contract as always.
    */
  def ivfPqSearchResidual(queries: DataFrame, corpus: DataFrame,
                          centroids: DataFrame, m: Int, ksub: Int,
                          k: Int, nprobe: Int = 1,
                          seedFrom: Long = 0L): DataFrame = {
    guardBoundedQueries(queries, DefaultMaxQueries, "ivfPqSearchResidual")
    val assigned = ivfAssignL2(corpus, centroids)
    val resid = assigned.join(broadcast(centroids),
        col("cell") === col("cid"))
      .select(col("id"), col("cell"),
        zip_with(col("vec"), col("cvec"),
          (x, y) => x.cast("double") - y.cast("double")).as("vec"))
    // seedFrom must skip the CENTROID id range: the centroids' own
    // residuals are zero vectors — seeding on them collapses every
    // codeword onto the origin and the trained codebook with it
    // (measured: recall 0.052 vs 0.134 non-residual before the skip)
    val sv = subVectors(resid.select(col("id"), col("vec")), m)
    val cbr = pqTrainStep(sv,
      pqSeedCodebook(resid.select(col("id"), col("vec")), m, ksub,
        seedFrom))
    val codes = pqAssign(sv, cbr)
      .select(col("id"), col("sub"), col("code"))
      .join(resid.select(col("id"), col("cell")), Seq("id"))
    val probeResid = ivfProbeCellsL2(queries, centroids, nprobe)
      .join(broadcast(centroids), col("cell") === col("cid"))
      .select(col("qid"), col("cell"),
        zip_with(col("qv"), col("cvec"),
          (x, y) => x.cast("double") - y.cast("double")).as("qr"))
    val dlen = (size(col("qr")) / m).cast("int")
    val lut = probeResid
      .select(col("qid"), col("cell"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("qr"), j * dlen + 1, dlen))))
      .select(col("qid"), col("cell"), col("pos").cast("int").as("sub"),
        col("col").as("svec"))
      .join(cbr, Seq("sub"))
      .select(col("qid"), col("cell").as("lcell"), col("sub"), col("cid"),
        round(round(sqDist(col("svec"), col("cvec")), 6) * 1e6)
          .cast("long").as("dfp"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_fp"), col("neighbor_id"))
    codes.join(broadcast(lut),
        codes("cell") === lut("lcell") && codes("sub") === lut("sub") &&
          codes("code") === lut("cid"))
      .filter(col("qid") =!= col("id"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("dfp")).as("adist_fp"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        col("adist_fp"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "adist_fp")
  }

  /** Exact squared-L2 top-k (the PQ ground truth; [[bruteForceTopK]]'s
    * contract and shape, with the Euclidean metric and ascending order).
    */
  def bruteForceTopKL2(queries: DataFrame, candidates: DataFrame,
                       k: Int,
                       maxQueries: Long = DefaultMaxQueries): DataFrame = {
    guardBoundedQueries(queries, maxQueries, "bruteForceTopKL2")
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = candidates.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", round(sqDist(col("qv"), col("cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dist")
  }

  // ---- scalar quantization (SQ8) ----------------------------------------

  /** Per-dimension corpus min/max for scalar quantization: ONE row
    * (mns: array<double>, mxs: array<double>), dimension order. A single
    * map-side-combining aggregate over the exploded corpus — d·P partial
    * rows shuffle (d = dims, P = partitions), never n·d — then the d
    * final rows collapse into broadcastable arrays. At 100 TB this is
    * the one cheap full pass every quantizer needs anyway; the stats row
    * then rides a broadcast to every encoder/decoder.
    */
  def sqStats(vecs: DataFrame): DataFrame =
    vecs.select(posexplode(col("vec")))
      .groupBy(col("pos"))
      .agg(min(col("col").cast("double")).as("mn"),
        max(col("col").cast("double")).as("mx"))
      .groupBy()
      .agg(
        array_sort(collect_list(struct(col("pos"), col("mn")))).as("pm"),
        array_sort(collect_list(struct(col("pos"), col("mx")))).as("px"))
      .select(transform(col("pm"), x => x.getField("mn")).as("mns"),
        transform(col("px"), x => x.getField("mx")).as("mxs"))

  /** SQ8-encode: every component snaps to its 8-bit bin index within the
    * per-dim [mn, mx] range — (id, codes: array<int>), d bytes of
    * information per vector instead of d floats (the 4× resident-index
    * compression tier below PQ's m bytes). Codes are
    * round(((x − mn) / (mx − mn)) · 255); a constant dimension
    * (mx == mn) encodes as 0. Deterministic: double arithmetic in a
    * fixed association, half-up rounding on non-negative values.
    */
  def sqEncode(vecs: DataFrame, stats: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(stats))
      .select(col("id"),
        transform(arrays_zip(col("vec"), col("mns"), col("mxs")), q => {
          val x = q.getField("vec").cast("double")
          val mn = q.getField("mns")
          val mx = q.getField("mxs")
          when(mx > mn, round((x - mn) / (mx - mn) * lit(255.0)).cast("int"))
            .otherwise(lit(0))
        }).as("codes"))

  /** Asymmetric SQ8 top-k: the corpus is its CODES (+ the one broadcast
    * stats row); each code dequantizes to its bin's reconstruction point
    * mn + (code/255)·(mx − mn) on the fly, and exact double-precision
    * queries rank corpus rows by squared L2 to the reconstruction
    * (rounded to 6, neighbor-id tiebreak). The scan reads d bytes per
    * corpus vector instead of d floats — the SQ8 memory story; compose
    * with an IVF coarse tier exactly as PQ does when the corpus no
    * longer fits a full scan.
    *
    * CONTRACT: `queries` bounded (the [[bruteForceTopK]] rule) — they
    * broadcast against the streaming code scan.
    */
  def sqTopK(queries: DataFrame, codes: DataFrame, stats: DataFrame,
             k: Int): DataFrame = {
    guardBoundedQueries(queries, DefaultMaxQueries, "sqTopK")
    val dec = codes.crossJoin(broadcast(stats))
      .select(col("id").as("neighbor_id"),
        transform(arrays_zip(col("codes"), col("mns"), col("mxs")), q =>
          q.getField("mns") +
            q.getField("codes").cast("double") / lit(255.0) *
              (q.getField("mxs") - q.getField("mns"))).as("dv"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("neighbor_id"))
    broadcast(q).join(dec, col("query_id") =!= col("neighbor_id"))
      // native codegen'd SquaredL2 — bit-identical to the HOF/oracle
      // formulation (spec-pinned) and ~10× cheaper in the |q|·n hot loop
      .withColumn("dist", round(sqDist(col("qv"), col("dv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dist")
  }

  /** RECIPROCAL-RANK FUSION (Cormack et al. 2009) — the hybrid-search
    * combiner every sparse+dense retrieval stack ships: given per
    * (list, query) rankings from independent retrievers, each
    * appearance contributes 1/(k₀ + rank) and the fused order is the
    * per-query score sum. RRF needs no score calibration across
    * retrievers — only ranks — which is exactly why it wins in
    * practice. Exact: each contribution is one ×1e6 floor
    * (fdiv(1e6, k₀+rank)), sums are integers, fused ties break by
    * doc id. One hash aggregate over the (already small) candidate
    * lists + one per-query rank window. Output per (query_id,
    * doc_id): (n_lists, score_micro, fused_rank ≤ topK).
    */
  def rrfFusion(lists: DataFrame, queryId: Column, docId: Column,
                rank: Column, k0: Int, topK: Int): DataFrame = {
    require(k0 >= 1 && topK >= 1, "k0 and topK must be >= 1")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    lists
      .select(queryId.as("query_id"), docId.as("doc_id"),
        rank.cast("long").as("r"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_lists"),
        sum(fdiv(dec(lit(1000000L)), dec(col("r") + k0)))
          .as("score_micro"))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
  }

  // ---- binary (1-bit/dim) quantization -----------------------------------

  /** Per-dimension ×1e6-snapped corpus MEAN thresholds — the
    * binarization pivot (raw sign would saturate any dimension whose
    * mass sits off zero; centering on the mean splits every dim
    * ~half/half, the standard binary-quantization recipe). Exact:
    * components snap to micro longs BEFORE the mean (no
    * order-dependent float sum), one truncated division per dim.
    * One broadcast-sized row: (thr: array&lt;long&gt;).
    */
  def binaryThresholds(vecs: DataFrame): DataFrame = {
    vecs.select(posexplode(col("vec")))
      .select(col("pos"),
        round(col("col").cast("double") * 1e6).cast("long").as("xm"))
      .groupBy(col("pos"))
      .agg(tdiv(sum(dec(col("xm"))), dec(count(lit(1)))).as("m"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("pm"))
      .select(transform(col("pm"), x => x.getField("m")).as("thr"))
  }

  /** BINARY-encode: bit_i = (x_i snapped micro) &gt; thr_i, packed
    * into 32-bit words (d/32 longs — a 128× resident-index
    * compression below SQ8's 4×, the 1-bit tier of the
    * PQ/SQ8/matryoshka quantization ladder). Packing is a high-to-low
    * acc·2+bit fold per word (shift-free: Spark's `shiftleft` wants a
    * literal count), so word w = Σ_j bit(32w+j)·2ʲ exactly — the
    * integer any engine reproduces. Requires dim % 32 == 0 (pad
    * upstream otherwise). Output (id, words: array&lt;long&gt;).
    */
  def binaryEncode(vecs: DataFrame, thresholds: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(thresholds))
      .select(col("id"), Cols.bound(
        transform(arrays_zip(col("vec"), col("thr")), q =>
          when(round(q.getField("vec").cast("double") * 1e6)
            .cast("long") > q.getField("thr"), 1L).otherwise(0L))) {
        bits =>
          transform(sequence(lit(0),
            floor(size(bits) / 32).cast("int") - 1), w =>
            aggregate(sequence(lit(31), lit(0), lit(-1)), lit(0L),
              (acc, j) => acc * 2 +
                element_at(bits, (w * 32 + j + 1).cast("int"))))
      }.as("words"))

  /** Stage-1 HAMMING shortlist over packed binary codes: rank the
    * corpus per query by Σ_w popcount(qw XOR cw) (asc, id tiebreak),
    * keep the top `shortlist` — (qid, id, prank), composing with
    * [[rerankExact]] exactly like [[truncatedCandidates]]. The scan
    * reads d/8 BYTES per corpus vector and the distance is two
    * machine ops per word — the cheapest coarse tier there is; recall
    * comes back in the exact rerank. Queries bounded (broadcast),
    * the [[bruteForceTopK]] contract.
    */
  def binaryTopC(queryCodes: DataFrame, codes: DataFrame,
                 shortlist: Int): DataFrame = {
    guardBoundedQueries(queryCodes, DefaultMaxQueries, "binaryTopC")
    val q = queryCodes.select(col("id").as("qid"),
      col("words").as("qw"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("ham"), col("id"))
    broadcast(q)
      .join(codes.select(col("id"), col("words").as("cw")),
        col("qid") =!= col("id"))
      .withColumn("ham",
        aggregate(zip_with(col("qw"), col("cw"),
          (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, x) => acc + x))
      .withColumn("prank", row_number().over(w))
      .filter(col("prank") <= shortlist)
      .select("qid", "id", "prank")
  }

  // ---- truncated-dimension (matryoshka) retrieval -----------------------

  /** Stage-1 shortlist of a truncated-dimension retrieval cascade: rank
    * the corpus per query by cosine over only the FIRST `prefixDims`
    * components and keep the top `shortlist` — (qid, id, prank). At
    * 100 TB the point is IO: a columnar store can lay the prefix out as
    * its own column, so the coarse scan reads prefixDims/d of the
    * vector bytes, and only shortlist·|q| full vectors are ever touched
    * by the exact stage ([[rerankExact]]). Deterministic: rounded
    * prefix-cosine desc, candidate id.
    *
    * CONTRACT: `queries` bounded — their prefixes broadcast.
    */
  def truncatedCandidates(queries: DataFrame, corpus: DataFrame,
                          prefixDims: Int, shortlist: Int): DataFrame = {
    guardBoundedQueries(queries, DefaultMaxQueries, "truncatedCandidates")
    val q = queries.select(col("id").as("qid"),
        slice(col("vec"), 1, prefixDims).cast("array<double>").as("qp"))
      .withColumn("qpn", normHoisted(col("qp")))
    val c = corpus.select(col("id"),
        slice(col("vec"), 1, prefixDims).cast("array<double>").as("vp"))
      .withColumn("vpn", normHoisted(col("vp")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("psim").desc, col("id"))
    broadcast(q).join(c, col("qid") =!= col("id"))
      .withColumn("psim", round(cosineHoisted(col("qp"), col("vp"),
        col("qpn"), col("vpn")), 6))
      .withColumn("prank", row_number().over(w))
      .filter(col("prank") <= shortlist)
      .select("qid", "id", "prank")
  }

  /** Stage-2 exact rerank: join the stage-1 candidate ids back to their
    * FULL vectors (an equi-join on id — at scale a point-lookup-friendly
    * pattern, the corpus streams once and only candidate rows survive
    * the join) and rank by full-dimension cosine, top `k` per query.
    * Queries broadcast; output matches [[bruteForceTopK]]'s shape so
    * recall audits compose identically.
    */
  def rerankExact(queries: DataFrame, corpus: DataFrame,
                  candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("qid"),
      col("vec").cast("array<double>").as("qv"),
      normHoisted(col("vec")).as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    candidates.join(corpus.select(col("id"),
        col("vec").cast("array<double>").as("cv"),
        normHoisted(col("vec")).as("cn")), Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        round(cosineHoisted(col("qv"), col("cv"),
          col("qn"), col("cn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Ranking-quality metrics of an approximate top-k against exact
    * truth — per query: RR (reciprocal rank of the first relevant
    * result; 0 when none of the approx results are relevant) and
    * NDCG (binary relevance = membership in the exact top-k; ideal
    * DCG from the truth ranks themselves). The standard retrieval
    * scorecard the recall@k family doesn't capture (recall treats
    * rank 1 and rank k the same; NDCG doesn't).
    *
    * Both inputs carry (query_id, neighbor_id, rank) — the shared
    * shape of [[bruteForceTopK]]/[[ivfSearch]]/[[rerankExact]]/
    * [[pqAdcTopK]], so any approximate searcher composes. Per-rank
    * discount terms 10⁶/log2(rank+1) snap to integers pre-sum (the
    * ln convention), so DCG ratios are ratios of exact integers. One
    * equi-join on (query, neighbor) + two per-query aggregates —
    * audit-sized all the way down.
    */
  def rankingMetrics(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("neighbor_id"),
      col("rank").as("trank"))
    val a = approx.select(col("query_id"), col("neighbor_id"),
      col("rank").as("arank"))
    val dterm = (r: Column) =>
      round(lit(1e6) / log2(r + 1)).cast("long")
    val per = a.join(t, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(min(col("arank")).as("first_rel"),
        sum(dterm(col("arank"))).as("dcg_fp"))
    val ideal = t.groupBy(col("query_id"))
      .agg(sum(dterm(col("trank"))).as("idcg_fp"))
    ideal.join(per, Seq("query_id"), "left")
      .select(col("query_id"),
        round((coalesce(round(lit(1e6) / col("first_rel").cast("double")),
          lit(0.0)) / lit(1e6)).cast("decimal(20,10)"), 4)
          .cast("double").as("rr"),
        round((coalesce(col("dcg_fp"), lit(0L)).cast("double") /
          col("idcg_fp").cast("double")).cast("decimal(20,10)"), 4)
          .cast("double").as("ndcg"))
  }

  /** Approximate nearest neighbors: compare only within LSH buckets, then
    * rank as in brute force. Recall < 1 by construction; the point is the
    * join shape — bucket id is the shuffle key, so cost scales with
    * bucket occupancy, not n².
    */
  def lshTopK(vecs: DataFrame, planes: Array[Array[Long]], k: Int): DataFrame = {
    val b = vecs.select(col("id"),
      col("vec").cast("array<double>").as("vec"),
      lshBucket(col("vec"), planes).as("bucket"),
      normHoisted(col("vec")).as("vn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
        round(cosineHoisted(col("a.vec"), col("b.vec"),
          col("a.vn"), col("b.vn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** d×d Gramian of a vector corpus in exact fixed point — the one-pass
    * moment matrix behind PCA / whitening of an embedding column:
    * components snap to ×`scale` integers at the scan, then ONE typed
    * partial aggregate ([[graft.functions.TypedAggs.gramian]]) folds
    * each row's d(d+1)/2 upper-triangular outer products into a
    * per-partition primitive long array — n·d² multiply-adds with no
    * exploded rows and no hash-map probes (the former double-posexplode
    * pushed n·d² ROWS through a hash aggregate: 10⁵–10⁷ per vector at
    * production widths d=512–4096). Partials merge by element-wise
    * array addition, so exactly d(d+1)/2 longs per partition cross the
    * one exchange; the d² output rows unfold from the ONE-row result
    * by an integer-indexed sequence explode (post-aggregate, trivial).
    * Overflow throws via add/multiplyExact instead of wrapping (shard
    * + sum shards past ~9·10¹² unit-norm rows at scale 10³ — see the
    * aggregator scaladoc). The eigen-solve on the collected d² matrix
    * is a DRIVER-side step (a local power iteration) — the canonical
    * tall-skinny PCA split: distribute XᵀX, solve locally. G[i][j] = Σ_rows cᵢ·cⱼ,
    * exact integers, bit-identical on any engine.
    * Output: (i, j, g DECIMAL(38,0)), d² rows, 0-based dims; empty
    * input yields zero rows.
    */
  def gramianFixedPoint(vecs: DataFrame, vec: Column, scale: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // null VECTORS skip (exactly like the former posexplode, which
    // emitted no rows for them) and null ELEMENTS snap to 0 (the former
    // sum() ignored their null products — identical cell values, since
    // a 0 component contributes 0 to every cell); without these the
    // primitive-array encoder would throw where the old plan degraded
    val snapped = vecs.select(transform(vec,
        x => coalesce(round(x.cast("double") * scale).cast("long"),
          lit(0L))).as("c"))
      .filter(col("c").isNotNull)
      .as[Array[Long]]
    // typed select: the Aggregator column binds the input encoder here;
    // the result Dataset[GramTri] exposes (d, tri) as its schema
    val one = snapped
      .select(graft.functions.TypedAggs.gramian.toColumn)
      .filter(col("d") > 0)
    // triangle cell (min(i,j), max(i,j)) lives at lo·d − lo(lo−1)/2 +
    // (hi − lo); exact integer arithmetic, 1-based for element_at
    val lo = least(col("i"), col("j"))
    val hi = greatest(col("i"), col("j"))
    val idx = lo * col("d") - lo * (lo - lit(1)) / lit(2) + (hi - lo)
    one.select(col("d"), col("tri"),
        explode(sequence(lit(0), col("d") - 1)).as("i"))
      .select(col("d"), col("tri"), col("i"),
        explode(sequence(lit(0), col("d") - 1)).as("j"))
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        element_at(col("tri"), (idx + 1).cast("int"))
          .cast("decimal(38,0)").as("g"))
  }

  /** FIXED-POINT power iteration for the Gramian's top eigenvector —
    * the determinism-contract form of a driver-side power iteration
    * over the collected Gramian: every step is either an exact integer
    * operation or one IEEE-correctly-rounded double
    * op in a pinned order, so a SQL oracle replays the whole
    * trajectory bit-for-bit (the [[graft.ops.LinearModel.logisticGd]]
    * convention applied to PCA). Per iteration from v = all-1e6
    * micro: u_i = Σ_j g(i,j)·v_j EXACT as decimal(38,0) (one join of
    * the d² Gramian against the broadcast d-row vector, one map-side
    * aggregate); us = u/1e9 TRUNCATED toward zero (BigInteger's and
    * SQL integer division's shared semantics — note DuckDB's `//`
    * truncates on negatives, unlike the pmod floor identity — and
    * keeping us < 2^53 so its double image is exact); norm =
    * sqrt(double(Σ us²)) with the square-sum exact in BigInt first;
    * v′_i = roundAway(double(us_i)/norm·1e6). The d-row collect per
    * iteration is dimensionality-sized (the bounded-collect
    * discipline). Returns (dim, v_micro).
    */
  def topEigenFixedPoint(gram: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = gram.sparkSession
    import spark.implicits._
    def roundAway(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    val dims = gram.select(col("i")).distinct().as[Int].collect().sorted
    var v: Seq[(Int, Long)] = dims.map(_ -> 1000000L).toSeq
    for (_ <- 1 to iters) {
      val vDf = v.toDF("j", "vj")
      val u = gram.join(broadcast(vDf), "j")
        .groupBy(col("i"))
        .agg(sum(col("g") * col("vj")).as("u"))
        .select(col("i"), col("u").cast("decimal(38,0)").as("u"))
        .as[(Int, java.math.BigDecimal)].collect() // d rows
      val us = u.map { case (i, bd) =>
        i -> BigInt(bd.toBigInteger) / 1000000000L
      }
      val norm = math.sqrt(
        us.map { case (_, x) => x * x }.sum.doubleValue)
      if (norm > 0)
        v = us.sortBy(_._1).map { case (i, x) =>
          i -> roundAway(x.doubleValue / norm * 1e6)
        }.toSeq
    }
    v.toDF("dim", "v_micro")
  }

  /** TOP-COMPONENT ENERGY diagnostic — the read behind "all-but-the-
    * top" embedding postprocessing (Arora et al. 2017: a corpus-wide
    * dominant direction carries frequency artifacts, not meaning; you
    * measure its mass before deciding to remove it). Per `label`
    * group: vector count, the EXACT integer energy along the top
    * component (Σ ((x₃·v_micro)/1e6 truncated)² in the ×`scale` snap
    * space — truncation toward zero, the SQL integer-division
    * semantics) and
    * the exact total energy (Σ‖x₃‖²) — consumers divide for the
    * explained-variance share; the engine never emits a lossy ratio.
    * Long sums: mass terms ≤ ~1e9, so ~9e9 rows of headroom per
    * group; past that lift to decimal like the gradient sums.
    */
  def topComponentMass(vecs: DataFrame, vec: Column, label: Column,
                       vDf: DataFrame, scale: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // the vector is dimensionality-sized: collect it once and fold it
    // into the row expressions as a literal array — no explode, no
    // per-row join, one pass over the corpus (the bounded-collect
    // discipline; lambdas reference only their own args)
    val vArr = vDf.select(col("dim").cast("int"), col("v_micro")
        .cast("long")).as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    val vl = typedLit(vArr.toSeq)
    val x3 = transform(vec, x =>
      round(x.cast("double") * scale).cast("long"))
    val pn = aggregate(zip_with(x3, vl, (a, b) => a * b),
      lit(0L), (acc, t) => acc + t)
    val tot = aggregate(x3, lit(0L), (acc, x) => acc + x * x)
    // |pn| < 2^53, so the double quotient is exact and the long cast
    // truncates toward zero — DuckDB's `//` semantics
    vecs.select(label.as("label"), pn.as("pn"), tot.as("tot"))
      .select(col("label"), col("tot"),
        (col("pn") / lit(1000000L)).cast("long").as("p"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("p") * col("p")).as("explained_mass"),
        sum(col("tot")).as("total_mass"))
  }

  /** HUBNESS diagnostic — the kNN-graph health read for an embedding
    * space (Radovanović et al. 2010): in high dimensions a few
    * vectors ("hubs") appear in a disproportionate share of other
    * vectors' top-k lists while "anti-hubs" appear in none, and both
    * poison retrieval and kNN labeling. One exact summary row over
    * the k-occurrence (in-degree) distribution: max in-degree,
    * anti-hub count, and the RAW integer moments Σd/Σd²/Σd³
    * (consumers derive skewness; the engine never emits a lossy
    * ratio). Invariant: Σd = n·k exactly (every query contributes k
    * edges). Brute-force kNN — the exact read; sample `vecs` upstream
    * at corpus scale (the B² guard applies).
    */
  def hubnessStats(vecs: DataFrame, k: Int): DataFrame = {
    val tk = bruteForceTopK(vecs, vecs, k)
    val indeg = vecs.select(col("id"))
      .join(tk.groupBy(col("neighbor_id").as("id"))
        .agg(count(lit(1)).as("d")), Seq("id"), "left")
      .na.fill(0L, Seq("d"))
    indeg.agg(count(lit(1)).as("n"),
        max(col("d")).as("max_in_degree"),
        sum(when(col("d") === 0, 1L).otherwise(0L)).as("n_antihubs"),
        sum(col("d")).as("sum_d"),
        sum(col("d") * col("d")).as("sum_d2"),
        sum(col("d") * col("d") * col("d")).as("sum_d3"))
      .select(col("n"), lit(k.toLong).as("k"), col("max_in_degree"),
        col("n_antihubs"), col("sum_d"), col("sum_d2"), col("sum_d3"))
  }

  /** ALL-BUT-THE-TOP rewrite (Arora et al. 2017, the step after
    * [[topComponentMass]] says yes): subtract each vector's top-
    * component projection in the EXACT snap space — p = (Σ x₃·vm)/1e6
    * truncated, r_d = x₃(d) − (p·vm_d)/1e6 truncated (truncation ≡
    * SQL integer division throughout, every intermediate < 2^53 so
    * the double quotients are exact). Emits per vector the projection
    * and two exact residual invariants — r·v (≈ 0 up to truncation,
    * THE orthogonality witness) and ‖r‖² — rather than the raw array:
    * the invariants are what a consumer audits, and they pin the
    * rewrite as hard as the array would. Same HOF-fold shape as
    * [[topComponentMass]]: no explode, no per-row join.
    */
  def removeTopComponent(vecs: DataFrame, id: Column, vec: Column,
                         vDf: DataFrame, scale: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val vArr = vDf.select(col("dim").cast("int"), col("v_micro")
        .cast("long")).as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    val vl = typedLit(vArr.toSeq)
    val x3 = transform(vec, x =>
      round(x.cast("double") * scale).cast("long"))
    val withP = vecs.select(id.as("id"), x3.as("x3"))
      .withColumn("pn", aggregate(zip_with(col("x3"), vl,
        (a, b) => a * b), lit(0L), (acc, t) => acc + t))
      .withColumn("p", (col("pn") / lit(1000000L)).cast("long"))
    withP
      .withColumn("r", zip_with(col("x3"), vl, (x, vm) =>
        x - (col("p") * vm / lit(1000000L)).cast("long")))
      .select(col("id"), col("p"),
        aggregate(zip_with(col("r"), vl, (a, b) => a * b), lit(0L),
          (acc, t) => acc + t).as("r_dot_v"),
        aggregate(transform(col("r"), x => x * x), lit(0L),
          (acc, t) => acc + t).as("r_energy"))
  }

  /** TOP-K PCA BY DEFLATION — the multi-component completion of the
    * [[topEigenFixedPoint]] → [[removeTopComponent]] pair (Arora et
    * al. 2017 remove the top k≈d/100 components, not one): after the
    * ONE distributed [[gramianFixedPoint]] pass, the d²-sized Gramian
    * collects to the driver (dims-sized — the bounded-collect
    * discipline) and each component c = 1..k runs the SAME fixed-point
    * power trajectory as [[topEigenFixedPoint]] (exact BigInt
    * mat-vec; us = u/1e9 truncated toward zero — BigInt `/` ≡ SQL
    * `//`; one correctly-rounded sqrt/divide/round per step), then
    * DEFLATES in exact integers:
    *   λ_c  = ⌊vᵀGv / vᵀv⌋                   (Gram units, Rayleigh)
    *   G'ᵢⱼ = Gᵢⱼ − ⌊λ_c·vᵢ·vⱼ / 10¹²⌋        (micro² projector)
    * so a SQL oracle replays every component bit-for-bit. Emits per
    * (component, dim): the component vector, its eigenvalue, and the
    * ORTHOGONALITY WITNESS ortho_prev = Σ_d v_c(d)·v_{c−1}(d)
    * (micro², ≈0 up to truncation; 0 for c = 1) — successive
    * components of a symmetric matrix must be orthogonal, and the
    * witness pins the whole deflation chain. λ stays within long for
    * any Gramian trace < 2⁶³ (×1e3 snaps: ~9e12 unit-norm rows — the
    * gramian aggregator's own overflow bound throws first).
    */
  def topKComponentsFixedPoint(gram: DataFrame, k: Int,
                               iters: Int): DataFrame = {
    require(k >= 1 && k <= 8, "k must be in [1, 8] — deflation is for" +
      " the top few artifact directions, not a full eigendecomposition")
    require(iters >= 1, "iters must be >= 1")
    val spark = gram.sparkSession
    import spark.implicits._
    def roundAway(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    val cells = gram.select(col("i").cast("int"), col("j").cast("int"),
        col("g").cast("decimal(38,0)"))
      .as[(Int, Int, java.math.BigDecimal)].collect() // d² rows
    val dims = cells.map(_._1).distinct.sorted
    require(dims.length <= 512, "Gramian side exceeds 512 dims — the " +
      "driver deflation is for embedding-sized matrices")
    require(k <= math.max(dims.length, 1),
      "k cannot exceed the dimensionality")
    val d = dims.length
    val pos = dims.zipWithIndex.toMap
    val g = Array.fill(d, d)(BigInt(0))
    cells.foreach { case (i, j, bd) =>
      g(pos(i))(pos(j)) = BigInt(bd.toBigInteger)
    }
    val out = Seq.newBuilder[(Int, Int, Long, Long, Long)]
    var prev: Array[Long] = null
    for (c <- 1 to k) {
      var v = Array.fill(d)(1000000L)
      for (_ <- 1 to iters) {
        val us = Array.tabulate(d) { i =>
          (0 until d).foldLeft(BigInt(0))((a, j) =>
            a + g(i)(j) * v(j)) / 1000000000L
        }
        val norm = math.sqrt(us.map(x => (x * x).doubleValue).sum)
        if (norm > 0)
          v = us.map(x => roundAway(x.doubleValue / norm * 1e6))
      }
      val num = (0 until d).foldLeft(BigInt(0)) { (a, i) =>
        a + (0 until d).foldLeft(BigInt(0))((b, j) =>
          b + g(i)(j) * v(j)) * v(i)
      }
      val den = v.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * x)
      val lam = if (den == 0) BigInt(0) else num / den
      val ortho = if (prev == null) 0L
        else (0 until d).foldLeft(0L)((a, i) => a + v(i) * prev(i))
      dims.indices.foreach { i =>
        out += ((c, dims(i), v(i), lam.toLong, ortho))
      }
      for (i <- 0 until d; j <- 0 until d)
        g(i)(j) -= lam * v(i) * v(j) / 1000000000000L
      prev = v
    }
    out.result()
      .toDF("component", "dim", "v_micro", "eigval", "ortho_prev")
  }

  /** ALL-BUT-THE-TOP-K rewrite — [[removeTopComponent]] generalized to
    * the [[topKComponentsFixedPoint]] output (Arora et al. 2017 remove
    * the top k≈d/100 directions, not one): per vector the k
    * projections are subtracted SEQUENTIALLY in the exact snap space
    * (p_c = ⌊r_{c−1}·v_c / 10⁶⌋, r_c = r_{c−1} − ⌊p_c·v_c / 10⁶⌋
    * per dim — truncation ≡ SQL integer division throughout, every
    * intermediate < 2⁵³), and the deliverable is the invariants, not
    * the raw array: one row per (vector, component) carrying the
    * projection and the FINAL residual's dot with that component
    * (≈ 0 up to truncation — k orthogonality witnesses per vector),
    * plus the exact residual energy. Components are dims-sized
    * (collected once, folded as literals); the per-row work is HOF
    * folds with every residual LET-BOUND ([[Cols.bound]]) so
    * projection collapse cannot re-evaluate the chain per consumer.
    */
  def removeTopKComponents(vecs: DataFrame, id: Column, vec: Column,
                           compDf: DataFrame, scale: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val comps = compDf.select(col("component").cast("int"),
        col("dim").cast("int"), col("v_micro").cast("long"))
      .as[(Int, Int, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).toSeq }
    require(comps.nonEmpty && comps.size <= 8,
      "component count must be in [1, 8]")
    val vls = comps.map { case (_, v) => typedLit(v) }
    def dot(a: Column, vl: Column): Column =
      aggregate(zip_with(a, vl, (x, y) => x * y), lit(0L),
        (acc, t) => acc + t)
    // recurse: bind each residual once, thread the projections down
    def step(r: Column, rest: List[Column],
             ps: Seq[Column]): Column = rest match {
      case Nil =>
        Cols.bound(r) { rb =>
          struct(array(ps: _*).as("p"),
            array(vls.map(vl => dot(rb, vl)): _*).as("w"),
            aggregate(transform(rb, x => x * x), lit(0L),
              (acc, t) => acc + t).as("e"))
        }
      case vl :: tail =>
        Cols.bound(r) { rb =>
          Cols.bound((dot(rb, vl) / lit(1000000L)).cast("long")) { p =>
            step(zip_with(rb, vl,
              (x, vm) => x - (p * vm / lit(1000000L)).cast("long")),
              tail, ps :+ p)
          }
        }
    }
    val x3 = transform(vec, x =>
      round(x.cast("double") * scale).cast("long"))
    vecs.select(id.as("id"), step(x3, vls.toList, Nil).as("s"))
      .select(col("id"), col("s.e").as("r_energy"),
        posexplode(arrays_zip(col("s.p").as("p"), col("s.w").as("w"))))
      .select(col("id"), (col("pos") + 1).cast("int").as("component"),
        col("col.p").as("p"), col("col.w").as("r_dot_v"),
        col("r_energy"))
  }

  private def md5hex60(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(15), 16)

  /** JOHNSON–LINDENSTRAUSS SIGNED RANDOM PROJECTION (Achlioptas 2003's
    * ±1 variant) — the embedding-COMPRESSION rewrite d→k: y_j =
    * Σ_d x₃(d)·s(d,j) with s(d,j) ∈ {+1,−1} a pure function of
    * (d, j) via the portable 60-bit md5 (no RNG state — the same
    * matrix on every run, cluster layout, and engine). Components
    * snap ×`scale` first, so every y_j is an exact integer.
    *
    * Scale shape: the k×d sign matrix is a driver-computed LITERAL
    * (k·d entries — dims-sized, the LinearModel bounded-collect
    * discipline) folded per row by HOFs: ONE projection over the
    * scan, no explode, no join, no shuffle — the rewrite a 100 TB
    * embedding column pays exactly one pass for. Output: (id, y).
    */
  def signedProjection(vecs: DataFrame, id: Column, vec: Column,
                       k: Int, d: Int, scale: Int): DataFrame = {
    require(k >= 1 && d >= 1 && k.toLong * d <= 4000000L,
      "sign matrix must stay literal-sized (k*d <= 4e6)")
    val signs: Seq[Seq[Long]] = (0 until k).map(j =>
      (0 until d).map(dd =>
        if (md5hex60(s"rp:$dd:$j") % 2 == 0) 1L else -1L))
    val sl = typedLit(signs)
    val x3 = transform(vec, x =>
      round(x.cast("double") * scale).cast("long"))
    vecs.select(id.as("id"), x3.as("x3"))
      .select(col("id"), Cols.bound(col("x3")) { xb =>
        transform(sequence(lit(1), lit(k)), j =>
          aggregate(zip_with(xb, element_at(sl, j.cast("int")),
            (a, b) => a * b), lit(0L), (acc, t) => acc + t))
      }.as("y"))
  }

  /** The DISTORTION AUDIT for [[signedProjection]] — the read before a
    * pipeline swaps its d-dim column for the k-dim sketch: for every
    * pair of a bounded probe slice, the original-space and
    * projected-space cosines side by side with the absolute error
    * (all ×10⁶ micro via the decimal snap). The JL guarantee is a
    * DISTRIBUTION statement, so the deliverable is the per-pair table
    * a consumer aggregates into its own error budget. The probe slice
    * must be bounded (B² pairs — the documented blocked-kernel
    * convention); production audits sample, they never all-pair.
    */
  def projectionDistortion(vecs: DataFrame, id: Column, vec: Column,
                           k: Int, d: Int, scale: Int): DataFrame = {
    def dotL(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0L),
        (acc, t) => acc + t)
    val proj = signedProjection(vecs, id, vec, k, d, scale)
    // both sides' norms (original vector AND projected long vector)
    // hoisted out of the B² pair block — per row, not per pair; the
    // projected self-dots are exact long sums so the hoist is
    // arithmetic-identical, the original-vector side rides
    // cosineHoisted's bit-identity contract
    val base = vecs.select(id.as("id"),
        vec.cast("array<double>").as("v")).join(proj, Seq("id"))
      .withColumn("vn", normHoisted(col("v")))
      .withColumn("yn", sqrt(dotL(col("y"), col("y")).cast("double")))
    val a = base.select(col("id").as("id_a"), col("v").as("va"),
      col("y").as("ya"), col("vn").as("na"), col("yn").as("pna"))
    val b = base.select(col("id").as("id_b"), col("v").as("vb"),
      col("y").as("yb"), col("vn").as("nb"), col("yn").as("pnb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        snapMicro(round(cosineHoisted(col("va"), col("vb"),
          col("na"), col("nb")), 6))
          .as("cos_orig_micro"),
        snapMicro(round(dotL(col("ya"), col("yb")).cast("double") /
          (col("pna") * col("pnb")), 6))
          .as("cos_proj_micro"))
      .withColumn("err_micro",
        abs(col("cos_orig_micro") - col("cos_proj_micro")))
  }

  /** MARGIN-BASED BITEXT MINING (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix criterion): a raw cosine threshold can't mine
    * parallel pairs because hubs score high against EVERYTHING; the
    * margin rescales each candidate pair by both endpoints' k-NN
    * neighborhoods — margin(x,y) = 2·cos(x,y) / (meanₖ(x→R) +
    * meanₖ(y→L)) — so only pairs that stand OUT of their
    * neighborhoods survive. Emits each left vector's best right candidate
    * with its cos and margin (×10⁶ micro); the caller thresholds.
    *
    * Determinism: pair cosines snap ×10⁶ (6dp → decimal → int); the
    * k-NN means and the final ratio divide by DOUBLE-then-truncate —
    * the documented DuckDB `//` parity for SIGNED fixed-point (every
    * |operand| < 2^53 and true quotients sit ≥1/denominator away from
    * integers, so the rounded double truncates identically).
    *
    * Scale shape: both k-NN passes ride [[bruteForceTopK]]'s
    * broadcast-query contract (swap in ivfSearch for corpus-scale
    * candidate generation — the margin composes unchanged on any
    * (cos, rank) candidate table).
    */
  /** EXACT kNN-SHAPLEY data valuation (Jia et al. 2019): the Shapley
    * value of every candidate training point for a single test probe
    * under the kNN-classifier utility — the closed form that makes
    * per-example data valuation tractable (no retraining, no Monte
    * Carlo): with candidates ranked by similarity to the probe
    * (rank 1 nearest), s_N = 1[y_N = y]/N and
    * s_i = s_{i+1} + (1[y_i=y] − 1[y_{i+1}=y])·min(K,i)/(K·i) —
    * i.e. each s_i is a SUFFIX SUM of per-rank terms.
    *
    * Exactness: similarities snap ×10⁶ (ties break by id), each
    * term's magnitude is one nonneg floored division ×10⁹ with the
    * sign applied after (symmetric truncation ≡ SQL), and the suffix
    * sum is exact integer arithmetic — a SQL oracle replays
    * bit-for-bit.
    *
    * Scale shape: candidates are a BOUNDED valuation pool by contract
    * (the mmrRerank discipline — the formula touches every candidate,
    * so pool size IS the work); the rank and suffix sum run in one
    * bounded window. Production valuations sample the pool per probe.
    * Output: (id, rank, y_match, sim_micro, shapley_nano).
    */
  def knnShapley(probeVec: DataFrame, candidates: DataFrame,
                 k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    guardBoundedQueries(candidates, 100000L, "knnShapley")
    val p = probeVec.select(col("vec").as("pv"), col("y").as("py"))
    val scored = candidates.crossJoin(broadcast(p))
      .select(col("id"),
        when(col("y") === col("py"), 1L).otherwise(0L).as("a"),
        snapMicro(round(cosine(col("vec"), col("pv")), 6)).as("sim"))
    val one = Cols.onePartitionKey(col("id"))
    val wRank = Window.partitionBy(one)
      .orderBy(col("sim").desc, col("id"))
    val wLead = Window.partitionBy(one).orderBy(col("rk"))
    val wSuffix = Window.partitionBy(one).orderBy(col("rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(one)))
      .withColumn("a_next", lead(col("a"), 1).over(wLead))
      .withColumn("term",
        when(col("rk") === col("n"),
          fdiv(col("a") * lit(1000000000L), col("n")))
          .otherwise((col("a") - coalesce(col("a_next"), lit(0L)))
            * fdiv(least(lit(k.toLong), col("rk")) * lit(1000000000L),
              lit(k.toLong) * col("rk"))))
      .withColumn("shapley_nano", sum(col("term")).over(wSuffix))
      .select(col("id"), col("rk").as("rank"),
        (col("a") === 1L).as("y_match"), col("sim").as("sim_micro"),
        col("shapley_nano"))
  }

  def marginMining(left: DataFrame, right: DataFrame, k: Int): DataFrame = {
    val lr = bruteForceTopK(left, right, k)
    val rl = bruteForceTopK(right, left, k)
    val ml = lr.groupBy(col("query_id").as("id_l"))
      .agg(tdiv(sum(snapMicro(col("sim"))), count(lit(1))).as("ml"))
    val mr = rl.groupBy(col("query_id").as("id_r"))
      .agg(tdiv(sum(snapMicro(col("sim"))), count(lit(1))).as("mr"))
    lr.filter(col("rank") === 1)
      .select(col("query_id").as("id_l"),
        col("neighbor_id").as("id_r"),
        snapMicro(col("sim")).as("cos_micro"))
      .join(ml, Seq("id_l"))
      .join(mr, Seq("id_r"))
      .select(col("id_l"), col("id_r"), col("cos_micro"),
        tdiv(col("cos_micro") * lit(2000000L), col("ml") + col("mr"))
          .as("margin_micro"))
  }

  /** LATE-INTERACTION (ColBERT-style MaxSim) top-k — multi-vector
    * retrieval as pure relational algebra: both sides split into m
    * subvectors ([[subVectors]]), score(q, d) = Σ over query slots
    * of max over doc slots of the 6dp-snapped cosine (micro). The
    * shape that makes late interaction tractable at scale: queries
    * are BOUNDED and broadcast; docs stream once through the slot
    * cross (m² rows per (q, d) — m is a small constant), two
    * map-side-combinable aggregates (max per query slot, sum per
    * pair), top-k per query via the rank window. Output:
    * (query_id, neighbor_id, rank, maxsim_micro).
    */
  def lateInteractionTopK(queries: DataFrame, docs: DataFrame,
                          m: Int, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    guardBoundedQueries(queries, DefaultMaxQueries, "lateInteractionTopK")
    // slot norms hoisted out of the m²·|Q|·|D| pair block (subVectors
    // enforces equal slot lengths, so cosineHoisted's equal-dim
    // precondition holds across every slot pair)
    val qs = subVectors(queries, m).select(col("id").as("qid"),
      col("sub").as("qsub"),
      col("svec").cast("array<double>").as("qv"),
      normHoisted(col("svec")).as("qvn"))
    val ds = subVectors(docs, m).select(col("id").as("did"),
      col("sub").as("dsub"),
      col("svec").cast("array<double>").as("dv"),
      normHoisted(col("svec")).as("dvn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("maxsim_micro").desc, col("did"))
    broadcast(qs).join(ds, col("qid") =!= col("did"))
      .select(col("qid"), col("did"), col("qsub"),
        snapMicro(round(cosineHoisted(col("qv"), col("dv"),
          col("qvn"), col("dvn")), 6)).as("sm"))
      .groupBy(col("qid"), col("did"), col("qsub"))
      .agg(max(col("sm")).as("mx"))
      .groupBy(col("qid"), col("did"))
      .agg(sum(col("mx")).as("maxsim_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("did").as("neighbor_id"),
        col("rank"), col("maxsim_micro"))
  }

  /** NEIGHBOR-SET STABILITY between two embedding spaces — the
    * instance-level model-refresh QA beside [[centroidDrift]]'s
    * class-level read: for each bounded probe, the Jaccard of its
    * top-k neighbor-ID sets under space A vs space B. THE acceptance
    * gate before swapping an index to quantized/re-embedded vectors:
    * centroids can hold still while neighborhoods churn. Two
    * [[bruteForceTopK]] passes (probe pools are bounded by that
    * contract), one join on (query, neighbor), exact set arithmetic:
    * jaccard = inter·1e6/(2k − inter) floored. Output per probe
    * (query_id, n_common, jaccard_micro) with the constant
    * mean_jaccard_micro.
    */
  def neighborStability(queriesA: DataFrame, candsA: DataFrame,
                        queriesB: DataFrame, candsB: DataFrame,
                        k: Int): DataFrame = {
    val ta = bruteForceTopK(queriesA, candsA, k)
      .select(col("query_id"), col("neighbor_id"))
    val tb = bruteForceTopK(queriesB, candsB, k)
      .select(col("query_id"), col("neighbor_id"))
    val per = ta.join(tb, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_common"))
    val spine = ta.select(col("query_id")).distinct()
    val rows = spine.join(per, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .select(col("query_id"), col("n_common"),
        fdiv(dec(col("n_common")) * lit(1000000L),
          dec(lit(2L * k) - col("n_common"))).as("jaccard_micro"))
    rows.crossJoin(broadcast(rows.agg(
      fdiv(dec(coalesce(sum(col("jaccard_micro")), lit(0L))),
        dec(greatest(count(lit(1)), lit(1L))))
        .as("mean_jaccard_micro"))))
  }

  /** CENTROID DRIFT between two embedding snapshots per class — the
    * model-refresh QA read: after re-embedding a corpus, how far did
    * each class's mean vector move? Exact despite the rational
    * means: dist²(mean_a, mean_b) = Σ_d (s_a·n_b − s_b·n_a)² /
    * (n_a·n_b)² over ×1e6-snapped integer sums — one cross-
    * multiplied decimal numerator per class, one floored division;
    * no double mean ever materializes. drift_e12 is the squared
    * distance in micro² units. `a`/`b` are (label, vec) frames; a
    * class absent from one side is dropped (inner join — no mean to
    * compare). Two dim-explode aggregates, one label-sized join.
    */
  def centroidDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame = df
      .select(col("label"), posexplode(col("vec"))
        .as(Seq("dim", "xv")))
      .select(col("label"), col("dim"),
        round(col("xv").cast("double") * 1e6).cast("long").as("xi"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("xi")).as(s"s_$tag"),
        count(lit(1)).as(s"n_$tag"))
    side(a, "a").join(side(b, "b"), Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum({
          val t = dec(col("s_a")) * col("n_b") -
            dec(col("s_b")) * col("n_a")
          t * t
        }).as("num"))
      .select(col("label"), col("n_a"), col("n_b"),
        fdiv(col("num"),
          dec(col("n_a")) * col("n_a") * col("n_b") * col("n_b"))
          .as("drift_e12"))
  }

  /** ROCCHIO query expansion (the classic relevance-feedback rewrite):
    * q′ = α·q + β·mean(relevant) − γ·mean(non-relevant), then rank
    * candidates by the expanded query — the retrieval loop's "the
    * user marked these, search again" step. Fixed point end to end:
    * vectors snap ×1e6 once; each mean is one truncated division of
    * exact per-dim sums; q′ combines the three ×1e6 weights and
    * truncates back to micro; candidate scores are exact integer
    * dots, top-k by (dot desc, id) via sort+limit. `query` is ONE
    * row (id, vec); rel/nonrel are bounded feedback sets (relevance
    * judgments are human-sized); empty feedback sets contribute 0.
    * Scale shape: feedback/query explode to dim-sized frames that
    * broadcast; candidates stream once through a dim join + one
    * map-side-combinable dot aggregate (the scoreLogistic shape).
    * Output: (neighbor_id, rank, score_micro = dot12 // 1e6).
    */
  def rocchioTopK(query: DataFrame, rel: DataFrame, nonrel: DataFrame,
                  cands: DataFrame, alphaMicro: Long, betaMicro: Long,
                  gammaMicro: Long, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def x12(df: DataFrame): DataFrame = df
      .select(col("id"), posexplode(col("vec")).as(Seq("dim", "xv")))
      .select(col("id"), col("dim").cast("int").as("dim"),
        round(col("xv").cast("double") * 1e6).cast("long").as("xi"))
    def meanOf(df: DataFrame, name: String): DataFrame = {
      val n = df.count()
      x12(df).groupBy(col("dim"))
        .agg(sum(col("xi")).as("s"))
        .select(col("dim"), tdiv(col("s"), lit(math.max(n, 1L)))
          .as(name))
    }
    require(query.count() == 1L, "query must be exactly one row")
    val qd = x12(query).select(col("dim"), col("xi").as("q"))
    val qp = qd
      .join(meanOf(rel, "mr"), Seq("dim"), "left")
      .join(meanOf(nonrel, "mn"), Seq("dim"), "left")
      .select(col("dim"), tdiv(
        dec(lit(alphaMicro)) * col("q") +
          dec(lit(betaMicro)) * coalesce(col("mr"), lit(0L)) -
          dec(lit(gammaMicro)) * coalesce(col("mn"), lit(0L)),
        dec(lit(1000000L))).as("qe"))
    x12(cands)
      .join(broadcast(qp), Seq("dim"))
      .groupBy(col("id").as("neighbor_id"))
      .agg(sum(dec(col("xi")) * col("qe")).as("dot12"))
      .orderBy(col("dot12").desc, col("neighbor_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(Cols.onePartitionKey(col("neighbor_id")))
          .orderBy(col("dot12").desc, col("neighbor_id"))))
      .select(col("neighbor_id"), col("rank"),
        tdiv(col("dot12"), dec(lit(1000000L))).as("score_micro"))
  }

  /** K-CENTER GREEDY coreset selection (Sener & Savarese 2018) — the
    * geometry-coverage sampler: repeatedly pick the point FARTHEST
    * from every already-chosen center (2-approximation of the
    * optimal k-center cover). The diversity-first complement to
    * density samplers: a coreset chosen this way bounds every
    * point's distance to its nearest representative — the guarantee
    * active-learning/data-pruning consumers actually want.
    *
    * Determinism: vectors snap to ×1e3 integers once (the gramian
    * convention); every distance is an exact integer Σ(aᵢ−bᵢ)²; the
    * seed is the SMALLEST id and every argmax breaks ties (dist
    * desc, id). Scale shape: k driver rounds, each ONE distributed
    * min-fold against the single new center (the incremental-min
    * trick — never recompute against all centers) and ONE
    * sort+limit(1) argmax (TakeOrdered); the only collects are one
    * center row per round (bounded by k — the mmrRerank precedent).
    * k is required small (≤ 64): the loop cost is k scans, not k².
    * Output one row per center: (round, center_id, sel_dist_sq,
    * final_radius_sq) — sel_dist_sq is the max-min distance at
    * selection time (0 for the seed), final_radius_sq the coverage
    * radius after all k.
    */
  def kCenterGreedy(vecs: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, "k must be in [1, 64]")
    val spark = vecs.sparkSession
    import spark.implicits._
    val snapped = vecs.select(col("id").cast("long").as("id"),
      transform(col("vec"), x =>
        round(x.cast("double") * 1000).cast("long")).as("q"))
      .persist()
    def distTo(center: Seq[Long]): Column =
      aggregate(zip_with(col("q"), typedLit(center),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    val first = snapped.orderBy(col("id")).limit(1)
      .as[(Long, Seq[Long])].head()
    var centers = Vector((1, first._1, 0L))
    var d = snapped.select(col("id"), col("q"),
      distTo(first._2).as("d")).persist()
    for (r <- 2 to k) {
      val nxt = d.orderBy(col("d").desc, col("id")).limit(1)
        .as[(Long, Seq[Long], Long)].head()
      centers :+= ((r, nxt._1, nxt._3))
      val nd = d.select(col("id"), col("q"),
        least(col("d"), distTo(nxt._2)).as("d")).persist()
      d.unpersist()
      d = nd
    }
    val radius = d.agg(max(col("d"))).as[Long].head()
    d.unpersist()
    snapped.unpersist()
    centers.toDF("round", "center_id", "sel_dist_sq")
      .withColumn("final_radius_sq", lit(radius))
  }
}
