package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native codegen cosine agrees bit-for-bit with the HOF formulation") {
    val rnd = new scala.util.Random(3)
    val df = (0 until 200).map(_ =>
      (Seq.fill(64)(rnd.nextGaussian().toFloat),
        Seq.fill(64)(rnd.nextGaussian().toFloat))).toDF("a", "b")
    val native = df.select(Similarity.cosine(
      transform($"a", x => x.cast("double")),
      transform($"b", x => x.cast("double")))).as[Double].collect()
    val hof = df.select(Reference.cosineHof(
      transform($"a", x => x.cast("double")),
      transform($"b", x => x.cast("double")))).as[Double].collect()
    assert(native.toSeq == hof.toSeq) // exact equality, not approximate
  }

  test("cosine and dot product reject ragged vectors in the interpreted " +
      "and generated paths, naming both lengths; equal lengths unchanged") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graftshim.{CosineSimilarity, DotProduct, SquaredL2}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val a = BoundReference(0, ArrayType(DoubleType), nullable = true)
    val b = BoundReference(1, ArrayType(DoubleType), nullable = true)
    def row(x: Array[Double], y: Array[Double]) =
      InternalRow(new GenericArrayData(x), new GenericArrayData(y))
    val x = Array(1.0, 2.0, 3.0); val y = Array(4.0, 5.0, 6.0)
    // the ascending-index accumulation both paths implement
    val dot = 1.0 * 4.0 + 2.0 * 5.0 + 3.0 * 6.0
    val cos = dot / (math.sqrt(1.0 + 4.0 + 9.0) * math.sqrt(16.0 + 25.0 + 36.0))
    val l2 = 9.0 + 9.0 + 9.0
    for ((e, want) <- Seq[(Expression, Double)](
        (CosineSimilarity(a, b), cos), (DotProduct(a, b), dot),
        (SquaredL2(a, b), l2))) {
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      def viaCodegen(r: InternalRow): Double = generated(r).getDouble(0)
      assert(e.eval(row(x, y)) == want && viaCodegen(row(x, y)) == want)
      val interpreted = intercept[IllegalArgumentException](
        e.eval(row(x, Array(1.0, 2.0))))
      assert(interpreted.getMessage.contains("(3 vs 2)"), interpreted.getMessage)
      val codegen = intercept[IllegalArgumentException](
        viaCodegen(row(Array(1.0), y)))
      assert(codegen.getMessage.contains("(1 vs 3)"), codegen.getMessage)
    }
    // and through a whole-stage-codegen query on the Column face
    val ragged = spark.range(1).select(
      array($"id".cast("double"), lit(1.0)).as("a"),
      array($"id".cast("double"), lit(1.0), lit(2.0)).as("b"))
    val err = intercept[Exception](
      ragged.select(Similarity.cosine($"a", $"b")).collect())
    assert(err.getMessage.contains("vector lengths differ (2 vs 3)"), err.getMessage)
  }

  test("hoisted-norm cosine recomposes the fused expression bit-for-bit") {
    // the r15 pair-kernel optimization: dot(a,b)/(√dot(a,a)·√dot(b,b))
    // with per-row hoisted norms must be EXACTLY the fused cosine — any
    // reassociation would shift rounded micro sims and break oracle
    // gates downstream
    val rnd = new scala.util.Random(7)
    val df = (0 until 500).map(_ =>
      (Seq.fill(64)(rnd.nextGaussian()),
        Seq.fill(64)(rnd.nextGaussian()))).toDF("a", "b")
    val fused = df.select(Similarity.cosine($"a", $"b"))
      .as[Double].collect()
    val hoisted = df
      .withColumn("na", Similarity.normHoisted($"a"))
      .withColumn("nb", Similarity.normHoisted($"b"))
      .select(Similarity.cosineHoisted($"a", $"b", $"na", $"nb"))
      .as[Double].collect()
    assert(fused.toSeq == hoisted.toSeq) // exact equality, not approximate
  }

  test("cosine_similarity is callable from the SQL surface after registration") {
    graft.functions.NativeFunctions.register(spark)
    val r = spark.sql(
      "SELECT round(cosine_similarity(array(1.0D, 2.0D), array(2.0D, 4.0D)), 9)")
      .as[Double].head()
    assert(r == 1.0)
  }

  test("ivfTopK: every neighbor shares the query's cell; planted dup found") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val centroids = vecs.filter($"id" < 4)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val r = Similarity.ivfTopK(vecs, centroids, 5)
    assert(r.filter($"query_id" === $"neighbor_id").count() == 0)
    // a duplicated vector must be its copy's top neighbor with sim 1
    val withDup = vecs.unionByName(
      vecs.filter($"id" === 7).select(lit(888L).as("id"), $"vec"))
    val top = Similarity.ivfTopK(withDup, centroids, 5)
      .filter($"query_id" === 888L && $"rank" === 1)
      .select($"neighbor_id", $"sim").as[(Long, Double)].head()
    assert(top == ((7L, 1.0)))
  }

  test("cellBlocked near-dup pairs: ⊆ exact kernel, exact dup always " +
      "caught, all-cells probing ≡ exact") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 60L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian())))
    // plant: 70 = exact copy of 3 (must ALWAYS pair — deterministic
    // assignment sends identical vectors to identical cells); 71 = a
    // near copy of 5 (cos ≈ 1 ≥ 0.9)
    val v5 = base(5)._2
    val rows = base ++ Seq((70L, base(3)._2),
      (71L, v5.updated(0, v5.head + 0.05)))
    val vecs = rows.toDF("id", "vec")
    val centroids = vecs.filter($"id" < 6)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val exact = Similarity.cosineNearDupPairsExact(vecs, 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val blocked = Similarity.cosineNearDupPairsCellBlocked(
        vecs, centroids, 0.9, nprobe = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact),
      s"blocked must never invent a pair: ${blocked -- exact}")
    assert(blocked.contains((3L, 70L)), s"exact duplicate missed: $blocked")
    // probing EVERY cell makes the blocking complete: any two vectors
    // share all 6 cells, so candidates = all pairs and the result
    // equals the exact kernel bit-for-bit
    val full = Similarity.cosineNearDupPairsCellBlocked(
        vecs, centroids, 0.9, nprobe = 6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(full == exact, s"all-cells probing must equal exact: " +
      s"missing ${exact -- full}, extra ${full -- exact}")
  }

  test("kmeansTrainL2: total SSE objective is non-increasing per iteration") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 200L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("id", "vec")
    val c0 = vecs.filter($"id" < 8)
      .select($"id".as("cid"), $"vec".as("cvec"))
    // Lloyd's guarantee: assignment argmins, the mean minimizes
    // within-cell SSE — so the total objective can only go down
    // (up to the ×1e6 fixed-point snap, far below the per-step drop)
    var c = c0
    var prev = Long.MaxValue
    for (i <- 0 to 3) {
      val sse = Similarity.ivfCellStatsL2(vecs, c)
        .agg(sum($"sse_fp")).as[Long].head()
      assert(sse <= prev, s"SSE increased at iteration $i: $prev -> $sse")
      prev = sse
      c = Similarity.kmeansTrainL2(vecs, c, 1)
    }
  }

  test("kmeansTrain and kmeansTrainL2 release every earlier iteration's " +
      "checkpoint: only the result's RDD stays, the caller's init is kept") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    def rdds(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val rnd = new scala.util.Random(29)
    val floats = (0L until 60L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val doubles = (0L until 60L).map(i =>
      (i, Seq.fill(4)(rnd.nextGaussian()))).toDF("id", "vec")
    val trainers = Seq[(String, DataFrame,
        (DataFrame, DataFrame, Int) => DataFrame)](
      ("kmeansTrain", floats, Similarity.kmeansTrain),
      ("kmeansTrainL2", doubles, Similarity.kmeansTrainL2))
    for ((name, vecs, train) <- trainers) {
      // a checkpointed init, as when a trained set is trained further
      val init = vecs.filter($"id" < 4)
        .select($"id".as("cid"), $"vec".as("cvec")).localCheckpoint(true)
      val before = persisted
      val c = train(vecs, init, 3)
      assert(c.count() > 0L)
      val left = persisted -- before
      assert(rdds(c).size == 1 && left == rdds(c),
        s"$name left $left, result owns ${rdds(c)}")
      assert(rdds(init).subsetOf(persisted), s"$name released its init")
      graft.ops.Frames.release(c)
      graft.ops.Frames.release(init)
    }
  }

  test("ivfSearchL2 at nprobe=|centroids| equals bruteForceTopKL2") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("id", "vec")
    val cents = vecs.filter($"id" < 5)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val qs = vecs.filter($"id" % 7 === 0)
    val full = Similarity.ivfSearchL2(qs, vecs, cents, 5, nprobe = 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val truth = Similarity.bruteForceTopKL2(qs, vecs, 5)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(full == truth,
      s"missing ${truth -- full}, extra ${full -- truth}")
  }

  test("ivfProbeCells fans out to exactly min(nprobe, centroids) cells " +
      "per query") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val centroids = vecs.filter($"id" < 6)
      .select($"id".as("cid"), $"vec".as("cvec"))
    for (np <- Seq(1, 3, 6, 9)) {
      val perQuery = Similarity.ivfProbeCells(vecs, centroids, np)
        .groupBy($"qid").count().select($"count").distinct()
        .as[Long].collect().toSet
      assert(perQuery == Set(math.min(np, 6).toLong),
        s"nprobe=$np fan-out: $perQuery")
    }
  }

  test("ivfSearch recall is monotone in nprobe and reaches brute force " +
      "at nprobe = |centroids|") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 80L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val centroids = vecs.filter($"id" < 8)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val queries = vecs.filter($"id" % 5 === 0)
    val truth = Similarity.bruteForceTopK(queries, vecs, 5)
      .select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    var prevHits = -1L
    for (np <- Seq(1, 2, 4, 8)) {
      val approx = Similarity.ivfSearch(queries, vecs, centroids, 5, np)
        .select($"query_id", $"neighbor_id")
        .as[(Long, Long)].collect().toSet
      val hits = approx.count(truth.contains).toLong
      assert(hits >= prevHits, s"recall fell at nprobe=$np")
      prevHits = hits
      if (np == 8) assert(approx == truth,
        "probing every cell must equal brute force")
    }
  }

  test("kmeansTrain: objective improves per iteration and centroids " +
      "converge to planted cluster means") {
    val rnd = new scala.util.Random(13)
    // two tight clusters around orthogonal axes + deliberately poor
    // seeds (one cluster member each, so the means must move)
    def around(axis: Int): Seq[Float] =
      Seq.tabulate(8)(d => (if (d == axis) 10f else 0f) +
        rnd.nextGaussian().toFloat * 0.1f)
    val vecs = ((0L until 30L).map(i => (i, around(0))) ++
      (30L until 60L).map(i => (i, around(3)))).toDF("id", "vec")
    val init = vecs.filter($"id" === 0 || $"id" === 30)
      .select($"id".as("cid"), $"vec".as("cvec"))
    def objective(c: org.apache.spark.sql.DataFrame): Long =
      Similarity.ivfCellStats(vecs, c)
        .agg(sum($"obj_fp")).as[Long].head()
    val o0 = objective(init)
    val c1 = Similarity.kmeansTrain(vecs, init, 1)
    val o1 = objective(c1)
    val c2 = Similarity.kmeansTrain(vecs, init, 2)
    val o2 = objective(c2)
    assert(o1 >= o0 && o2 >= o1, s"objective regressed: $o0, $o1, $o2")
    // trained centroid ≈ cluster mean: the axis component dominates
    val cents = c2.select($"cid", $"cvec").as[(Long, Seq[Double])]
      .collect().toMap
    assert(cents.keySet == Set(0L, 30L))
    assert(cents(0L).head > 9.5 && cents(0L)(3) < 0.5)
    assert(cents(30L)(3) > 9.5 && cents(30L).head < 0.5)
    // lineage is TRUNCATED per iteration (localCheckpoint): the trained
    // table is k pinned rows, so a consumer that reads it 2-3 times
    // (assignment + probe scoring) never re-runs the training cascade
    val plan = c2.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate") && !plan.contains("Generate"),
      s"trained centroids still carry corpus lineage:\n$plan")
  }

  test("q107/q108 audit size is CONSTANT across corpus scales " +
      "(fixed-size samples, not fractions)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // 100 sampled queries × 3 nprobe tiers regardless of corpus rows
      assert(SparkEntry.queries("q108_ivf_recall")(spark, sf).count()
        == 300L, s"q108 audit grew with the corpus at $sf")
      assert(SparkEntry.queries("q107_blocking_recall")(spark, sf).count()
        == 1L)
    }
  }

  test("native codegen squared-L2 agrees bit-for-bit with the HOF formulation") {
    val rnd = new scala.util.Random(7)
    val df = (0 until 200).map(_ =>
      (Seq.fill(64)(rnd.nextGaussian().toFloat),
        Seq.fill(64)(rnd.nextGaussian().toFloat))).toDF("a", "b")
    val native = df.select(Similarity.sqDist($"a", $"b")).as[Double].collect()
    val hof = df.select(Reference.sqDistHof($"a", $"b")).as[Double].collect()
    assert(native.toSeq == hof.toSeq) // exact equality, not approximate
    assert(native.forall(_ >= 0.0))
  }

  test("subVectors slices every vector into m contiguous pieces") {
    val vecs = Seq((0L, (0 until 8).map(_.toFloat)),
      (1L, (10 until 18).map(_.toFloat))).toDF("id", "vec")
    val sv = Similarity.subVectors(vecs, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
    assert(sv((0L, 0)) == Seq(0f, 1f) && sv((0L, 3)) == Seq(6f, 7f))
    assert(sv((1L, 2)) == Seq(14f, 15f))
    assert(sv.size == 8)
  }

  test("pq: codes live in the codebook domain; zero quantization error " +
      "makes ADC EQUAL exact L2 ranking") {
    val rnd = new scala.util.Random(11)
    // 12 distinct vectors; codebook seeded from ALL of them (ksub = n)
    // → every subvector quantizes to itself, ADC distances are the
    // exact subspace sums = exact squared L2 (up to the shared fixed-
    // point snap), so the ranking must match bruteForceTopKL2 exactly
    val vecs = (0L until 12L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val cb0 = Similarity.pqSeedCodebook(vecs, 4, 12)
    val codes = Similarity.pqEncode(vecs, cb0, 4)
    assert(codes.filter($"code" < 0 || $"code" >= 12).count() == 0)
    assert(codes.count() == 12 * 4)
    // self-quantization: vector i's code in every subspace is i
    assert(codes.filter($"code" =!= $"id").count() == 0)
    val adc = Similarity.pqAdcTopK(vecs, codes, cb0, 4, 3)
      .select("query_id", "neighbor_id", "rank")
    val exact = Similarity.bruteForceTopKL2(vecs, vecs, 3)
      .select("query_id", "neighbor_id", "rank")
    assert(adc.except(exact).count() == 0 && exact.except(adc).count() == 0)
  }

  test("pqTrainStep lowers total quantization error (keyed Lloyd)") {
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val sv = Similarity.subVectors(vecs, 2)
    val cb0 = Similarity.pqSeedCodebook(vecs, 2, 4)
    val cb1 = Similarity.pqTrainStep(sv, cb0)
    def err(cb: org.apache.spark.sql.DataFrame): Double =
      Similarity.pqAssign(sv, cb).agg(sum($"qerr")).as[Double].head()
    // Lloyd monotonicity: re-assignment under the moved codewords can
    // only lower (or keep) the total squared quantization error
    assert(err(cb1) <= err(cb0) + 1e-9)
    // trained codebook keeps the subspace key structure
    val subs = cb1.select("sub").distinct().as[Int].collect().toSet
    assert(subs.subsetOf(Set(0, 1)))
  }

  test("ivfPqSearch: neighbors come only from probed cells; at nprobe = " +
      "|centroids| it EQUALS the full ADC scan") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val cents = vecs.filter($"id" < 4)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val cb = Similarity.pqTrainStep(Similarity.subVectors(vecs, 2),
      Similarity.pqSeedCodebook(vecs, 2, 6))
    // probed-cell containment at nprobe=1: every neighbor's cell is the
    // query's single probed cell
    val assigned = Similarity.ivfAssignL2(vecs, cents)
      .select($"id", $"cell")
    val probe1 = Similarity.ivfProbeCellsL2(vecs, cents, 1)
      .select($"qid".as("query_id"), $"cell".as("probed"))
    val r1 = Reference.ivfPqSearch(vecs, vecs, cents, cb, 2, 3, 1)
    val breach = r1.join(assigned.withColumnRenamed("id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(probe1, Seq("query_id"))
      .filter($"cell" =!= $"probed")
    assert(breach.count() == 0)
    // candidate sets nest: recall can only grow with nprobe
    val full = Similarity.pqAdcTopK(vecs,
      Similarity.pqEncode(vecs, cb, 2), cb, 2, 3)
      .select("query_id", "neighbor_id", "rank", "adist_fp")
    val rAll = Reference.ivfPqSearch(vecs, vecs, cents, cb, 2, 3, 4)
      .select("query_id", "neighbor_id", "rank", "adist_fp")
    assert(rAll.except(full).count() == 0 && full.except(rAll).count() == 0)
  }

  test("ivfPqSearchTiered tier np is bit-identical to ivfPqSearch at that nprobe") {
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val cents = vecs.filter($"id" < 5)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val cb = Similarity.pqTrainStep(Similarity.subVectors(vecs, 2),
      Similarity.pqSeedCodebook(vecs, 2, 6))
    val qs = vecs.filter($"id" % 7 === 0)
    val tiered = Similarity.ivfPqSearchTiered(qs, vecs, cents, cb, 2, 3,
      Seq(1, 2, 4))
    for (np <- Seq(1, 2, 4)) {
      val tier = tiered.filter($"nprobe" === np)
        .select("query_id", "neighbor_id", "rank", "adist_fp")
      val direct = Reference.ivfPqSearch(qs, vecs, cents, cb, 2, 3, np)
        .select("query_id", "neighbor_id", "rank", "adist_fp")
      assert(tier.except(direct).count() == 0 &&
        direct.except(tier).count() == 0, s"tier $np diverged")
    }
  }

  test("cellOutliers fires on a planted stray, stays quiet on the tight cluster") {
    val rnd = new scala.util.Random(29)
    val base = Seq.fill(16)(rnd.nextGaussian().toFloat * 0.1f + 1f)
    // 30 tiny jitters of one direction (affinity ≈ 1, tiny σ) + one
    // stray pointing elsewhere that still assigns to the same best cell
    val cluster = (0L until 30L).map(i =>
      (i, base.map(v => v + (rnd.nextGaussian() * 0.001).toFloat)))
    val stray = Seq((99L, base.map(-_).updated(0, 5f)))
    val vecs = (cluster ++ stray).toDF("id", "vec")
    val cents = vecs.filter($"id" === 0L)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val r = Similarity.cellOutliers(vecs, cents)
      .collect().map(x => x.getLong(0) -> x.getInt(3)).toMap
    assert(r(99L) == 1) // the stray is > 2σ below its cell mean
    assert((0L until 30L).forall(r(_) == 0)) // the cluster is clean
  }

  test("kmeansStepL2 lowers total within-cell squared distance") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val c0 = vecs.filter($"id" < 4)
      .select($"id".as("cid"), $"vec".as("cvec"))
    val c1 = Similarity.kmeansStepL2(vecs, c0)
    def obj(c: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssignL2(vecs, c)
        .join(broadcast(c), $"cell" === $"cid")
        .agg(sum(Similarity.sqDist($"vec", $"cvec"))).as[Double].head()
    // the mean is the L2 variance minimizer: one Lloyd step can only
    // shrink the objective under re-assignment
    assert(obj(c1) <= obj(c0) + 1e-9)
  }

  test("incremental cosine near-dup ≡ batch minus old-only pairs") {
    val rnd = new scala.util.Random(23)
    val old = (0L until 30L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    // increment: copies of old 0/1/2 (planted near-dups) + 3 strangers
    val nw = old.filter($"id" < 3)
      .select(($"id" + 100).as("id"), $"vec")
      .unionByName((200L until 203L).map(i =>
        (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec"))
    val inc = Similarity.cosineNearDupPairsIncremental(old, nw, 0.9, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch over the union, then drop old-only pairs and re-orient:
    // batch emits id_a < id_b, so a mixed pair always has the OLD id
    // first — flip it; a new×new pair keeps its orientation
    val batch = Similarity.cosineNearDupPairsExact(
        old.unionByName(nw), 0.9, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = batch.filter(_._2 >= 100L)
      .map { case (a, b, c) => if (a >= 100L) (a, b, c) else (b, a, c) }
      .toSet
    assert(inc == expected)
    assert(inc.nonEmpty) // the planted copies surface at cos 1.0
    assert(inc.forall(_._1 >= 100L)) // a new vector is always on the left
  }

  test("cosine: identical vectors 1, orthogonal 0, opposite -1") {
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), 1.0),
      (Seq(1.0f, 0.0f), Seq(0.0f, 3.0f), 0.0),
      (Seq(1.0f, 1.0f), Seq(-1.0f, -1.0f), -1.0)
    ).toDF("a", "b", "want")
    val bad = df.filter(round(Similarity.cosine($"a", $"b"), 9) =!= $"want")
    assert(bad.count() == 0)
  }

  test("bruteForceTopK ranks by similarity with deterministic ties") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f)),  // closest to 0
      (2L, Seq(0.5f, 0.5f)),
      (3L, Seq(0.0f, 1.0f))   // farthest from 0
    ).toDF("id", "vec")
    val r = Similarity.bruteForceTopK(vecs.filter($"id" === 0), vecs, 3)
      .orderBy($"rank").select($"neighbor_id").as[Long].collect().toSeq
    assert(r == Seq(1L, 2L, 3L))
  }

  test("hardNegatives: near-dups above the threshold never mine; rank " +
      "is the k-th NON-dup") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(1.0, 0.001)), // planted near-dup of 0: cos ≈ 1 → excluded
      (2L, Seq(0.9, 0.1)),   // the true hardest negative
      (3L, Seq(0.5, 0.5)),
      (4L, Seq(0.0, 1.0))).toDF("id", "vec")
    val out = Similarity.hardNegatives(
        vecs.filter($"id" === 0), vecs, 0.999, 2)
      .orderBy($"rank")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(out.map(_._2) == Seq(2L, 3L), s"got $out")
    assert(out.map(_._3) == Seq(1, 2),
      "ranks renumber over the non-dup stream, not the raw ranking")
    // with the gate off (threshold > any sim) the dup mines at rank 1
    val all = Similarity.hardNegatives(
        vecs.filter($"id" === 0), vecs, 1.1, 1)
      .select($"neighbor_id").as[Long].head()
    assert(all == 1L)
  }

  test("exact kernel matches the column-expression near-dup scan bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian()))).toDF("id", "vec")
    val hof = Reference.cosineNearDupPairs(vecs, 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(hof.nonEmpty, "test corpus should produce at least one pair")
    // the blocked kernel must agree for any block count, including a
    // single block (pure upper triangle) and a count above n
    for (b <- Seq(1, 3, 64)) {
      val fast = Similarity.cosineNearDupPairsExact(vecs, 0.3, blocks = b)
        .as[(Long, Long, Double)].collect().toSet
      assert(hof == fast, s"blocks=$b")
    }
  }

  test("exact kernel is fully distributed — no driver-side vector materialization") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 20L).map(i =>
      (i, Seq.fill(8)(rnd.nextGaussian()))).toDF("id", "vec")
    val plan = Similarity.cosineNearDupPairsExact(vecs, 0.3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the old formulation collected the vectors and re-parallelized a
    // Range of indices — its plan had no lineage to the input at all.
    // The blocked kernel's plan must carry the input scan through the
    // pack (MapGroups) and kernel (FlatMap/MapPartitions) operators.
    assert(!plan.contains("Range"), plan)
    assert(plan.contains("LocalTableScan") || plan.contains("Scan"), plan)
    assert(plan.contains("MapGroups"), plan)
  }

  test("lshTopK only pairs within buckets and never pairs a vector with itself") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(64)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val planes = Similarity.planeComponents(8, 64)
    val r = Similarity.lshTopK(vecs, planes, 5)
    val rows = r.as[(Long, Long, Double, Int)].collect()
    assert(rows.forall { case (q, n, _, rk) => q != n && rk >= 1 && rk <= 5 })
    // a perturbed copy of vector 0 must land in the same bucket as vector 0
    val withDup = vecs.unionByName(
      vecs.filter($"id" === 0).select(lit(999L).as("id"), $"vec"))
    val dup = Similarity.lshTopK(withDup, planes, 5)
      .filter($"query_id" === 999L && $"neighbor_id" === 0L)
    assert(dup.count() == 1)
  }

  test("bounded-query guard: corpus-as-queries fails fast, bounded sets " +
      "pass, cap<=0 disables") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 40L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    // RDD-backed plan (no static row bound anywhere in the tree) → the
    // guard's eager bounded count fires and rejects
    val rddVecs = spark.createDataFrame(spark.sparkContext.parallelize(
      (0L until 40L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))))
      .toDF("id", "vec")
    assert(rddVecs.queryExecution.optimizedPlan.maxRows.isEmpty)
    val eager = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(rddVecs, vecs, 3, maxQueries = 10L)
    }
    assert(eager.getMessage.contains("more than 10"))
    // LIMIT-derived plan over the cap → still rejected (by the real
    // count; the static bound only ever fast-accepts)
    val overLimit = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopKL2(vecs.limit(30), vecs, 3, maxQueries = 10L)
    }
    assert(overLimit.getMessage.contains("bruteForceTopKL2"))
    // a sample inside the cap passes on both paths
    assert(Similarity.bruteForceTopK(vecs.limit(5), vecs, 3,
      maxQueries = 10L).count() == 15)
    assert(Similarity.bruteForceTopK(vecs.filter($"id" < 5), vecs, 3,
      maxQueries = 10L).count() == 15)
    // cap <= 0 disables — the caller owns the broadcast sizing
    assert(Similarity.bruteForceTopK(vecs, vecs, 1,
      maxQueries = 0L).count() == 40)
    // the LUT builders share the guard
    val cb = Similarity.pqTrainStep(
      Similarity.subVectors(vecs, 4),
      Similarity.pqSeedCodebook(vecs, 4, 8))
    val codes = Similarity.pqEncode(vecs, cb, 4)
    val adc = intercept[IllegalArgumentException] {
      Similarity.pqAdcTopK(vecs, codes, cb, 4, 3, maxQueries = 10L)
    }
    assert(adc.getMessage.contains("pqAdcTopK"))
  }

  test("sq8: codes in [0,255], constant dims encode 0, identical vectors " +
      "share codes, planted dup is its copy's top neighbor") {
    val rnd = new scala.util.Random(23)
    val base = (0L until 50L).map(i =>
      // dim 0 constant across the corpus → mx == mn → code 0 branch
      (i, 1.5f +: Seq.fill(15)(rnd.nextGaussian().toFloat)))
    val rows = base ++ Seq((90L, base(7)._2)) // 90 = exact copy of 7
    val vecs = rows.toDF("id", "vec")
    val st = Similarity.sqStats(vecs)
    val codes = Similarity.sqEncode(vecs, st)
    val flat = codes.select(explode($"codes")).as[Int].collect()
    assert(flat.forall(c => c >= 0 && c <= 255))
    assert(codes.filter($"id" === 90L || $"id" === 7L)
      .select($"codes".cast("string")).distinct().count() == 1)
    assert(codes.select(element_at($"codes", 1)).distinct()
      .as[Int].collect().toSeq == Seq(0))
    // identical codes → identical reconstruction: the copy's decoded
    // point is the nearest any corpus row can sit to the query, so it
    // must be the top-1 neighbor
    val top = Similarity.sqTopK(vecs.filter($"id" === 90L), codes, st, 1)
      .select($"neighbor_id").as[Long].head()
    assert(top == 7L)
  }

  test("sq8 recall: 8-bit bins approximate exact L2 top-5 closely") {
    val rnd = new scala.util.Random(29)
    val vecs = (0L until 80L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val qs = vecs.filter($"id" < 10)
    val st = Similarity.sqStats(vecs)
    val codes = Similarity.sqEncode(vecs, st)
    val truth = Similarity.bruteForceTopKL2(qs, vecs, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.sqTopK(qs, codes, st, 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // 256 bins over a ~±4σ range is a fine grid: expect near-total
    // agreement, and assert a conservative floor so the test is stable
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.9, s"sq8 recall@5 $recall")
  }

  test("rankingMetrics: perfect ranking scores 1/1, a swap lowers NDCG " +
      "but not RR, a total miss scores 0/0") {
    def df(rows: (Long, Long, Int)*) =
      rows.toDF("query_id", "neighbor_id", "rank")
    val truth = df((1L, 10L, 1), (1L, 11L, 2),
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1), (3L, 31L, 2))
    // q1: identical ranking; q2: both relevant docs found but pushed to
    // ranks 2 and 3 behind an irrelevant rank-1; q3: nothing relevant
    val approx = df((1L, 10L, 1), (1L, 11L, 2),
      (2L, 99L, 1), (2L, 21L, 2), (2L, 20L, 3),
      (3L, 98L, 1), (3L, 97L, 2))
    val m = Similarity.rankingMetrics(truth, approx)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(1L) == ((1.0, 1.0)))
    assert(m(2L)._1 == 0.5) // first relevant at rank 2
    // dcg = 1e6/log2(3) + 1e6/log2(4) ints; idcg = 1e6/log2(2) + 1e6/log2(3)
    val d = math.round(1e6 / (math.log(3) / math.log(2))) +
      math.round(1e6 / 2.0)
    val i = math.round(1e6 / 1.0) +
      math.round(1e6 / (math.log(3) / math.log(2)))
    val want = BigDecimal(d.toDouble / i.toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(m(2L)._2 == want, s"ndcg ${m(2L)._2} want $want")
    assert(m(3L) == ((0.0, 0.0)))
  }

  test("matryoshka rerank: shortlist=corpus equals bruteForceTopK; " +
      "candidates carry a dense deterministic prank") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.fill(32)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
    val qs = vecs.filter($"id" < 8)
    // shortlist covering the whole corpus → stage 1 prunes nothing and
    // the cascade must equal exact brute force bit-for-bit
    val cand = Similarity.truncatedCandidates(qs, vecs, 8, 60)
    val full = Similarity.rerankExact(qs, vecs, cand, 5)
      .select($"query_id", $"neighbor_id", $"rank", $"sim")
      .as[(Long, Long, Int, Double)].collect().toSet
    val brute = Similarity.bruteForceTopK(qs, vecs, 5)
      .select($"query_id", $"neighbor_id", $"rank", $"sim")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(full == brute)
    // pranks are dense 1..shortlist per query, never the query itself
    val byQ = cand.groupBy($"qid").agg(count(lit(1)).as("n"),
      max($"prank").as("mx")).as[(Long, Long, Int)].collect()
    assert(byQ.forall { case (_, n, mx) => n == 59 && mx == 59 })
    assert(cand.filter($"qid" === $"id").count() == 0)
    // a tight shortlist is a subset of the corpus-wide rerank's pool
    val tight = Similarity.rerankExact(qs, vecs,
      Similarity.truncatedCandidates(qs, vecs, 8, 10), 5)
    assert(tight.count() == 8 * 5)
  }

  test("centroid-halves cosine: coherent labels agree across halves, " +
      "random labels do not — computed on sum vectors, counts cancel") {
    val rnd = new scala.util.Random(83)
    val d = 16
    val u = Array.fill(d)(rnd.nextGaussian())
    // label 0: tight around u; label 1: isotropic noise
    val rows = (0L until 400L).map { id =>
      val v = if (id % 2 == 0)
        Array.tabulate(d)(i => (u(i) + rnd.nextGaussian() * 0.05).toFloat)
      else Array.fill(d)(rnd.nextGaussian().toFloat)
      (id, (id % 2).toInt, v.toSeq)
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    // same algebra as q187, via the query body (SparkEntry is private;
    // re-derive inline on the same ops)
    val e = df.select(col("label"),
      graft.ops.Sampling.hashBucket(col("vec_id"), 2).as("half"),
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
      .agg((sum(col("sa") * col("sb")).cast("double") /
        sqrt(sum(col("sa") * col("sa")).cast("double") *
          sum(col("sb") * col("sb")).cast("double"))).as("ch"))
      .as[(Int, Double)].collect().toMap
    assert(cos(0) > 0.99, s"coherent label halves must agree: ${cos(0)}")
    assert(math.abs(cos(1)) < 0.5, s"random label: ${cos(1)}")
  }

  test("silhouetteSimplified: tight separated clusters near 1, a " +
      "midpoint scores 0, hand value on a 1-D example") {
    // centroids at x=0 and x=100 (2-D vecs so the arrays are real);
    // members hug their centroid -> s ~= (100-d)/100 per point
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),   // cell A (x~0)
      (3L, Seq(99.0f, 0.0f)), (4L, Seq(101.0f, 0.0f)), // cell B (x~100)
      (5L, Seq(50.0f, 0.0f))                           // exact midpoint
    ).toDF("id", "vec")
    val cents = Seq((10L, Seq(0.0f, 0.0f)), (20L, Seq(100.0f, 0.0f)))
      .toDF("cid", "cvec")
    val out = Similarity.silhouetteSimplified(vecs, cents)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // cell A: ids 1,2 at d=1 vs 99/101 -> s = (99-1)/99, (101-1)/101;
    // id 5 ties at 50/50 -> s=0, assigned to cid 10 (tiebreak)
    val sA = BigDecimal((math.round(1e6 * 98.0 / 99) +
        math.round(1e6 * 100.0 / 101) + 0L) / 3.0 / 1e6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(10L)._2 == 3L)
    assert(out(10L)._3 == sA, s"got ${out(10L)._3}, want $sA")
    assert(out(20L)._2 == 2L && out(20L)._3 > 0.97)
    // duplicated centroid: a point ON it has a=b=0 -> s=0, not NaN
    val dup = Similarity.silhouetteSimplified(
      Seq((9L, Seq(5.0f, 5.0f))).toDF("id", "vec"),
      Seq((1L, Seq(5.0f, 5.0f)), (2L, Seq(5.0f, 5.0f)))
        .toDF("cid", "cvec"))
      .as[(Long, Long, Double)].head()
    assert(dup == ((1L, 1L, 0.0)))
  }

  test("gramianFixedPoint matches the local outer-product sum exactly; " +
      "topEigen recovers a planted dominant direction") {
    val rnd = new scala.util.Random(41)
    val d = 8
    // planted direction u: most variance along it, small isotropic noise
    val u = {
      val raw = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    val data = (0 until 300).map { _ =>
      val a = rnd.nextGaussian() * 5.0
      Array.tabulate(d)(i => (a * u(i) + rnd.nextGaussian() * 0.1).toFloat)
    }
    val df = data.map(v => Tuple1(v.toSeq)).toDF("embedding")
    val got = Similarity.gramianFixedPoint(df, col("embedding"), 1000)
      .select($"i", $"j", $"g".cast("long"))
      .as[(Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // local truth on the SAME snapped integers
    val snapped = data.map(v => v.map(x => math.round(x.toDouble * 1000)))
    for (i <- 0 until d; j <- 0 until d) {
      val want = snapped.map(r => r(i) * r(j)).sum
      assert(got((i, j)) == want, s"G[$i][$j]")
    }
    // symmetric by construction
    for (i <- 0 until d; j <- 0 until d)
      assert(got((i, j)) == got((j, i)))
    // power iteration on the collected matrix finds the planted axis
    val gm = Array.tabulate(d, d)((i, j) => got((i, j)).toDouble)
    val (v, lambda) = Reference.topEigen(gm, 50)
    val align = math.abs((0 until d).map(i => v(i) * u(i)).sum)
    assert(align > 0.99, s"eigenvector alignment $align")
    assert(lambda > 0, "top eigenvalue of a Gramian is positive")
    // Rayleigh quotient of the returned vector is a fixed point:
    // G·v ≈ λ·v
    val gv = Array.tabulate(d)(i => (0 until d).map(j => gm(i)(j) * v(j)).sum)
    val resid = math.sqrt((0 until d).map(i =>
      math.pow(gv(i) - lambda * v(i), 2)).sum) / lambda
    assert(resid < 1e-6, s"eigen residual $resid")
  }

  test("topEigenFixedPoint tracks topEigen's direction on a planted " +
      "axis, matches an independent exact replay, and is " +
      "deterministic; topComponentMass equals the brute energies") {
    val rnd = new scala.util.Random(43)
    val d = 8
    val u = {
      val raw = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    val data = (0 until 200).map { k =>
      val a = rnd.nextGaussian() * 5.0
      (k % 3,
        Array.tabulate(d)(i => (a * u(i) + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = data.map { case (l, v) => (l, v.toSeq) }
      .toDF("label", "embedding")
    val gram = Similarity.gramianFixedPoint(df, col("embedding"), 1000)
    val got = Similarity.topEigenFixedPoint(gram, 6)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    // independent exact replay in BigInt/double (the oracle's shape)
    val snapped = data.map(_._2.map(x => math.round(x.toDouble * 1000)))
    val g = Array.tabulate(d, d)((i, j) =>
      BigInt(snapped.map(r => r(i) * r(j)).sum))
    def away(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    // truncation toward zero — BigInt / and SQL integer division
    def fd(a: BigInt, b: Long): BigInt = a / b
    var vv = Array.fill(d)(1000000L)
    for (_ <- 1 to 6) {
      val uu = Array.tabulate(d)(i =>
        (0 until d).map(j => g(i)(j) * vv(j)).sum)
      val us = uu.map(fd(_, 1000000000L))
      val nrm = math.sqrt(us.map(x => x * x).sum.doubleValue)
      if (nrm > 0) vv = us.map(x => away(x.doubleValue / nrm * 1e6))
    }
    assert(got.toSeq == vv.toSeq)
    // direction agrees with the double-precision solver
    val (vd, _) = Reference.topEigen(
      Array.tabulate(d, d)((i, j) => g(i)(j).toDouble), 50)
    val align = math.abs((0 until d)
      .map(i => vd(i) * got(i).toDouble / 1e6).sum)
    assert(align > 0.99, s"fixed-point alignment $align")
    // determinism: a second run is bit-identical
    val again = Similarity.topEigenFixedPoint(gram, 6)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(again.toSeq == got.toSeq)
    // masses: brute replay of projection/total energies per label
    val vDf = got.zipWithIndex.map { case (vm, i) => (i, vm) }
      .toSeq.toDF("dim", "v_micro")
    val masses = Similarity.topComponentMass(df, col("embedding"),
        col("label"), vDf, 1000)
      .as[(Int, Long, Long, Long)].collect().toSet
    val want = data.zip(snapped).groupBy(_._1._1).map { case (l, rows) =>
      val ps = rows.map { case (_, r) =>
        val pn = (0 until d).map(i => r(i) * got(i)).sum
        fd(BigInt(pn), 1000000L).toLong
      }
      (l, rows.size.toLong, ps.map(p => p * p).sum,
        rows.map(_._2.map(x => x * x).sum).sum)
    }.toSet
    assert(masses == want)
    // all-but-the-top: residuals replay in brute force, the r·v
    // invariant is truncation-bounded (≈ orthogonal), and removing
    // the top component kills most of the planted-axis energy
    val withId = data.zipWithIndex.map { case ((l, v), i) =>
      (i.toLong, v.toSeq) }.toDF("id", "embedding")
    val rem = Similarity.removeTopComponent(withId, col("id"),
        col("embedding"), vDf, 1000)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    data.zipWithIndex.foreach { case ((_, _), i) =>
      val r0 = snapped(i)
      val pn = (0 until d).map(k => r0(k) * got(k)).sum
      val p = pn / 1000000L
      val res = Array.tabulate(d)(k => r0(k) - (p * got(k)) / 1000000L)
      val rdv = (0 until d).map(k => res(k) * got(k)).sum
      val ren = (0 until d).map(k => res(k) * res(k)).sum
      assert(rem(i.toLong) == ((i.toLong, p, rdv, ren)), s"vec $i")
      // |r·v| ≤ (d+1)·1e6: each truncation loses < 1 snap unit ×
      // |v_micro| ≤ 1e6, d per-dim cuts + the projection's own cut
      assert(math.abs(rdv) <= (d + 1) * 1000000L, s"vec $i not ~orthogonal")
    }
    val totalEnergy = snapped.map(_.map(x => x * x).sum).sum
    val residEnergy = rem.values.map(_._4).sum
    assert(residEnergy < totalEnergy / 2,
      "the dominant planted axis must carry most of the energy")
  }

  test("topKComponentsFixedPoint: component 1 IS the single-component " +
      "trajectory, eigenvalues descend, successive components are " +
      "orthogonal up to truncation, and the run is deterministic") {
    val rnd = new scala.util.Random(47)
    val d = 8
    // two planted orthogonal axes with well-separated strengths
    val u1 = Array.tabulate(d)(i => if (i < 4) 0.5 else 0.0)
    val u2 = Array.tabulate(d)(i => if (i >= 4) 0.5 else 0.0)
    val data = (0 until 300).map { _ =>
      val (a, b) = (rnd.nextGaussian() * 6.0, rnd.nextGaussian() * 2.0)
      Array.tabulate(d)(i =>
        (a * u1(i) + b * u2(i) + rnd.nextGaussian() * 0.05).toFloat)
    }
    val df = data.map(v => Tuple1(v.toSeq)).toDF("embedding")
    val gram = Similarity.gramianFixedPoint(df, col("embedding"), 1000)
    val got = Similarity.topKComponentsFixedPoint(gram, 3, 5)
      .as[(Int, Int, Long, Long, Long)].collect()
    assert(got.length == 3 * d)
    val byComp = got.groupBy(_._1)
    // component 1 replays the single-eigenvector trajectory exactly
    val single = Similarity.topEigenFixedPoint(gram, 5)
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2)
    assert(byComp(1).sortBy(_._2).map(_._3).toSeq == single.toSeq)
    // eigenvalues descend and stay positive on a PSD Gramian
    val eig = (1 to 3).map(c => byComp(c).head._4)
    assert(eig(0) > eig(1) && eig(1) > eig(2) && eig(2) >= 0, eig)
    // orthogonality witness: 0 for c=1; |Σ v_c·v_{c-1}| tiny vs the
    // ~1e12 self-product for c>1 (truncation-level, not direction)
    assert(byComp(1).head._5 == 0L)
    (2 to 3).foreach { c =>
      assert(math.abs(byComp(c).head._5) < 2e9.toLong,
        s"component $c not orthogonal: ${byComp(c).head._5}")
    }
    // component 2 aligns with the second planted axis
    val v2 = byComp(2).sortBy(_._2).map(_._3)
    // u2 is unit-norm (4 entries of 0.5), v2 is unit in micro
    val align2 = math.abs((0 until d)
      .map(i => u2(i) * v2(i).toDouble / 1e6).sum)
    assert(align2 > 0.98, s"component-2 alignment $align2")
    // determinism
    val again = Similarity.topKComponentsFixedPoint(gram, 3, 5)
      .as[(Int, Int, Long, Long, Long)].collect()
    assert(again.sortBy(r => (r._1, r._2)).toSeq ==
      got.sortBy(r => (r._1, r._2)).toSeq)
    // guards fail fast
    intercept[IllegalArgumentException] {
      Similarity.topKComponentsFixedPoint(gram, 9, 1)
    }

    // all-but-the-top-k: a brute sequential replay per vector must
    // match every projection, witness, and energy exactly, and the
    // residual energy must be far below the raw energy (both planted
    // axes removed)
    val comps = Similarity.topKComponentsFixedPoint(gram, 2, 5)
    val withId = data.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toSeq) }.toDF("id", "embedding")
    val rem = Similarity.removeTopKComponents(withId, col("id"),
        col("embedding"), comps, 1000)
      .as[(Long, Int, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (k, rs) =>
        k -> rs.sortBy(_._2)
      }
    val vArrs = comps.as[(Int, Int, Long, Long, Long)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    val snapped = data.map(_.map(x => math.round(x.toDouble * 1000)))
    data.indices.foreach { i =>
      var r = snapped(i).clone()
      val expected = vArrs.zipWithIndex.map { case (v, ci) =>
        val pn = r.indices.map(k => r(k) * v(k)).sum
        val p = pn / 1000000L
        r = Array.tabulate(d)(k => r(k) - (p * v(k)) / 1000000L)
        (ci + 1, p)
      }
      val got = rem(i.toLong)
      expected.foreach { case (c, p) =>
        assert(got(c - 1)._3 == p, s"vec $i comp $c projection")
        val w = r.indices.map(k => r(k) * vArrs(c - 1)(k)).sum
        assert(got(c - 1)._4 == w, s"vec $i comp $c witness")
        assert(math.abs(w) <= (d + 1) * 1000000L,
          s"vec $i comp $c not ~orthogonal")
      }
      val en = r.map(x => x * x).sum
      assert(got.forall(_._5 == en), s"vec $i energy")
    }
    val rawEnergy = snapped.map(_.map(x => x * x).sum).sum
    val residEnergy = rem.values.map(_.head._5).sum
    assert(residEnergy < rawEnergy / 10,
      "both planted axes must be gone from the residuals")
  }

  test("q224 mutual-kNN reciprocity on a planted two-pair geometry") {
    // A,B mutually closest; C's nearest is D but D's nearest is B:
    // with k=1 exactly half the directed edges are mutual
    withTempDir { dir =>
      val rows = Seq(
        (0L, Seq(1.0f, 0.0f), 1),
        (1L, Seq(1.0f, 0.01f), 1),
        (2L, Seq(0.0f, 1.0f), 2),
        (3L, Seq(0.7f, 0.7f), 2))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
      val vecs = spark.read
        .parquet(s"${dir.getAbsolutePath}/embeddings.parquet")
        .select($"vec_id".as("id"), $"embedding".as("vec"))
      val knn = graft.ops.Similarity.bruteForceTopK(vecs, vecs, 1)
      val mutual = knn.join(
        knn.select($"query_id".as("neighbor_id"),
          $"neighbor_id".as("query_id")),
        Seq("query_id", "neighbor_id"), "leftsemi")
      assert(knn.count() == 4 && mutual.count() == 2)
      val got = mutual.select($"query_id").as[Long].collect().sorted.toSeq
      assert(got == Seq(0L, 1L))
    }
  }

  test("mmrRerank: the redundant twin is demoted below a diverse " +
      "candidate, ties break on id, scores are exact micro ints") {
    // c1 and c2 are identical directions (rel 1.0, mutual sim 1.0);
    // c3 is diverse (rel 0.8, sim-to-c1 0.8). At lambda = 0.3 the
    // greedy order must be c1, c3, c2 — pure top-k would say c1, c2.
    val cands = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.8f, 0.6f))).toDF("id", "vec")
    val qs = Seq((100L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val got = Similarity.mmrRerank(qs, cands, 3, 3, 3, 10)
      .as[(Long, Int, Long, Long, Long)].collect()
      .sortBy(_._2).toSeq
    assert(got == Seq(
      (100L, 1, 1L, 1000000L, 3000000L),
      (100L, 2, 3L, 800000L, -3200000L),
      (100L, 3, 2L, 1000000L, -4000000L)))
    // the |queries|*poolK^2 pool bound and the k driver-round bound
    // are enforced, not just documented
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(qs, cands, 2000, 3, 3, 10)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(qs, cands, 1001, 1001, 3, 10)
    }
  }

  test("chooseK: sqrt-n contract with clamps; chooseNProbe: the " +
      "measured recall knee, never above k") {
    assert(Similarity.chooseK(0) == 4) // kMin floor
    assert(Similarity.chooseK(8) == 4) // ceil(sqrt 8)=3 -> floor
    assert(Similarity.chooseK(1000) == 32)
    assert(Similarity.chooseK(10000) == 100)
    assert(Similarity.chooseK(40000) == 200)
    assert(Similarity.chooseK(1L << 40) == 65536) // kMax cap
    intercept[IllegalArgumentException](Similarity.chooseK(-1))
    assert(Similarity.chooseNProbe(200) == 4)
    assert(Similarity.chooseNProbe(2) == 2) // never more probes than cells
  }

  test("q352 recall parity: the k-chooser holds planted-pair recall " +
      "flat across a 10x corpus growth (the frozen-k scale contract)") {
    // the gate query itself at sf0.001: two rows (scale 1 and 10),
    // recall at 10x must stay within eps of the 1x reading and both
    // must clear the absolute floor
    val rows = SparkEntry.queries("q352_ann_k_chooser")(
        spark, "/root/testdata/sf0.001")
      .select("scale", "k", "recall").as[(Int, Int, Double)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 10))
    val Array((_, k1, r1), (_, k10, r10)) = rows
    assert(k10 > k1, s"chooser froze k: $k1 -> $k10")
    assert(r1 >= 0.95 && r10 >= 0.95, s"recall floor broken: $r1 / $r10")
    assert(r10 >= r1 - 0.05, s"recall decayed past eps at 10x: $r1 -> $r10")
  }

  test("signedProjection: the md5 sign matrix replays locally; identical " +
      "vectors project identically and pair at zero distortion") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sign(d: Int, j: Int): Long =
      if (java.lang.Long.parseLong(md5hex(s"rp:$d:$j").take(15), 16)
        % 2 == 0) 1L else -1L
    val va = Seq(0.5f, -1.0f, 0.25f)
    val vb = Seq(1.0f, 0.5f, -0.75f)
    val vecs = Seq((1L, va), (2L, vb), (3L, va))
      .toDF("id", "vec")
    val got = Similarity.signedProjection(vecs, $"id", $"vec", 4, 3, 1000)
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2).toMap
    def proj(v: Seq[Float]): Seq[Long] = {
      val x3 = v.map(x => math.round(x.toDouble * 1000))
      (0 until 4).map(j => x3.indices.map(d => x3(d) * sign(d, j)).sum)
    }
    assert(got(1L) == proj(va) && got(2L) == proj(vb))
    assert(got(3L) == got(1L), "identical vectors must project identically")
    val dist = Similarity.projectionDistortion(vecs, $"id", $"vec",
        4, 3, 1000)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // the identical pair: both cosines exactly 1e6, zero error
    assert(dist((1L, 3L))._3 == 1000000L)
    assert(dist((1L, 3L))._4 == 1000000L && dist((1L, 3L))._5 == 0L)
    // every err is the abs difference of the two snapped cosines
    dist.values.foreach(r => assert(r._5 == math.abs(r._3 - r._4)))
    assert(dist.size == 3)
  }

  test("knnShapley: suffix-sum values replay the Jia et al. recursion " +
      "locally; matching neighbors are valued above mismatches nearby") {
    import spark.implicits._
    // probe at (1,0), label 1; candidates at varying angles/labels
    val probe = Seq((Seq(1.0f, 0.0f), 1)).toDF("vec", "y")
    val cands = Seq(
      (1L, Seq(1.0f, 0.1f), 1),   // near, match
      (2L, Seq(1.0f, 0.3f), 0),   // near, mismatch
      (3L, Seq(0.5f, 1.0f), 1),   // far, match
      (4L, Seq(0.0f, 1.0f), 0),   // farthest, mismatch
      (5L, Seq(1.0f, 0.2f), 1))   // near, match
      .toDF("id", "vec", "y")
    val k = 2
    val got = Similarity.knnShapley(probe, cands, k)
      .as[(Long, Int, Boolean, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // local replay in exact integers
    def cosM(a: Seq[Float], b: Seq[Float]): Long = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val n = math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum)
      (BigDecimal(dot / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
    }
    val pv = Seq(1.0f, 0.0f)
    val rows = Seq((1L, Seq(1.0f, 0.1f), 1), (2L, Seq(1.0f, 0.3f), 0),
      (3L, Seq(0.5f, 1.0f), 1), (4L, Seq(0.0f, 1.0f), 0),
      (5L, Seq(1.0f, 0.2f), 1))
      .map { case (id, v, y) => (id, cosM(v, pv), if (y == 1) 1L else 0L) }
      .sortBy { case (id, sim, _) => (-sim, id) }
    val n = rows.size
    val terms = rows.zipWithIndex.map { case ((_, _, a), i0) =>
      val i = i0 + 1
      if (i == n) a * 1000000000L / n
      else {
        val aNext = rows(i0 + 1)._3
        (a - aNext) * (math.min(k.toLong, i) * 1000000000L / (k * i))
      }
    }
    val suffix = terms.scanRight(0L)(_ + _).init
    rows.zipWithIndex.foreach { case ((id, sim, a), i0) =>
      val g = got(id)
      assert(g._2 == i0 + 1 && g._3 == (a == 1L) && g._4 == sim,
        s"rank/match/sim of $id: $g")
      assert(g._5 == suffix(i0),
        s"shapley of $id: ${g._5} != ${suffix(i0)}")
    }
    // the nearest matching candidate is the most valuable
    assert(got(1L)._5 == got.values.map(_._5).max)
    // a mismatching near neighbor is worth less than a matching one
    assert(got(2L)._5 < got(1L)._5)
  }

  test("marginMining: cosines, k-NN means and margins replay a local " +
      "BigInt brute force on a planted geometry") {
    import spark.implicits._
    val left = Seq((0L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "vec")
    val right = Seq((1L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)),
      (5L, Seq(1.0f, 1.0f))).toDF("id", "vec")
    val got = Similarity.marginMining(left, right, 2)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    def cosM(a: Seq[Float], b: Seq[Float]): Long = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      (BigDecimal(dot / (na * nb)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP) * 1000000).toLong
    }
    val l = Map(0L -> Seq(1.0f, 0.0f), 2L -> Seq(0.0f, 1.0f))
    val r = Map(1L -> Seq(1.0f, 0.0f), 3L -> Seq(0.0f, 1.0f),
      5L -> Seq(1.0f, 1.0f))
    def topMean(q: Seq[Float], cands: Map[Long, Seq[Float]]): Long = {
      val top = cands.toSeq.map { case (cid, cv) => (cosM(q, cv), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(2)
      top.map(_._1).sum / top.size // truncating, both operands replay //
    }
    l.foreach { case (lid, lv) =>
      val (bestCos, bestId) = r.toSeq
        .map { case (rid, rv) => (cosM(lv, rv), rid) }
        .sortBy { case (s, rid) => (-s, rid) }.head
      val ml = topMean(lv, r)
      val mr = topMean(r(bestId), l)
      val margin = (BigInt(bestCos) * 2000000 / BigInt(ml + mr)).toLong
      val g = got(lid)
      assert(g._2 == bestId && g._3 == bestCos && g._4 == margin,
        s"left $lid: got $g expected ($bestId, $bestCos, $margin)")
    }
    // the aligned pair's margin beats the diagonal hub's reach
    assert(got(0L)._2 == 1L && got(2L)._2 == 3L)
    assert(got.values.forall(_._4 > 1000000L),
      "planted aligned pairs must clear margin 1.0")
  }

  test("kCenterGreedy: farthest-point rounds with exact snapped L2, " +
    "smallest-id seed, deterministic ties, coverage radius") {
    import org.apache.spark.sql.functions.col
    val vecs = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(10.0, 0.0)), (4L, Seq(11.0, 0.0)), (5L, Seq(30.0, 0.0)))
      .toDF("id", "vec")
    val out = Similarity.kCenterGreedy(vecs, 3)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1, 1L, 0L), (2, 5L, 900000000L), (3, 4L, 121000000L)))
    assert(out.forall(_._4 == 1000000L),
      "after 3 centers every point sits within 1000^2 of one")
  }

  test("rocchioTopK: exact fixed-point expansion and dot ranking") {
    import org.apache.spark.sql.functions.col
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("id", "vec")
    val rel = Seq((1L, Seq(0.0, 1.0))).toDF("id", "vec")
    val non = Seq((2L, Seq(1.0, 0.0))).toDF("id", "vec")
    val cands = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(0.0, 1.0)),
      (12L, Seq(1.0, 1.0))).toDF("id", "vec")
    // q' = (1*q + 0.75*[0,1e6] - 0.15*[1e6,0]) -> [850000, 750000]
    val out = Similarity.rocchioTopK(q, rel, non, cands,
      1000000L, 750000L, 150000L, 3)
      .as[(Long, Int, Long)].collect().sortBy(_._2)
    assert(out.toSeq == Seq((12L, 1, 1600000L), (10L, 2, 850000L),
      (11L, 3, 750000L)))
  }

  test("centroidDrift: zero for matching means, exact micro^2 for a unit shift") {
    import org.apache.spark.sql.functions.col
    val a = Seq((0, Seq(1.0, 0.0)), (0, Seq(3.0, 0.0)), (1, Seq(0.0, 0.0)))
      .toDF("label", "vec")
    val b = Seq((0, Seq(2.0, 0.0)), (1, Seq(1.0, 0.0)))
      .toDF("label", "vec")
    val out = Similarity.centroidDrift(a, b)
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0) == ((0, 2L, 1L, 0L)), "equal means drift 0")
    assert(out(1) == ((1, 1L, 1L, 1000000000000L)),
      "a unit mean shift is 1e12 in micro^2")
  }


  test("neighborStability: identical spaces score 1e6; a fully churned " +
    "neighborhood scores 0") {
    import org.apache.spark.sql.functions.col
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("id", "vec")
    val ca = Seq((1L, Seq(1.0, 0.01)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 1.0))).toDF("id", "vec")
    val same = Similarity.neighborStability(q, ca, q, ca, 1)
      .as[(Long, Long, Long, Long)].head()
    assert(same == ((0L, 1L, 1000000L, 1000000L)))
    val cb = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(0.1, 0.9)),
      (3L, Seq(1.0, 0.0))).toDF("id", "vec")
    val churn = Similarity.neighborStability(q, ca, q, cb, 1)
      .as[(Long, Long, Long, Long)].head()
    assert(churn == ((0L, 0L, 0L, 0L)),
      "nearest flips from 1 to 3 -> zero overlap")
  }


  test("lateInteractionTopK: MaxSim takes each query slot's best DOC " +
    "slot — late interaction matches content in any position") {
    import org.apache.spark.sql.functions.col
    // m=2 over 4 dims. Query slots: [1,0] and [0,1].
    val q = Seq((100L, Seq(1.0, 0.0, 0.0, 1.0))).toDF("id", "vec")
    val docs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 1.0)),   // aligned slots -> 2e6
      (2L, Seq(1.0, 0.0, 1.0, 0.0)),   // only [1,0] content -> 1e6
      (3L, Seq(0.0, 1.0, 1.0, 0.0)))   // both contents, SWAPPED slots
      .toDF("id", "vec")
    val out = Similarity.lateInteractionTopK(q, docs, 2, 3)
      .as[(Long, Long, Int, Long)].collect().sortBy(_._3)
    // doc 3 still scores 2e6: max runs over doc slots, so position
    // doesn't matter (the ColBERT property); tie breaks to doc 1
    assert(out.map(r => (r._2, r._4)).toSeq ==
      Seq((1L, 2000000L), (3L, 2000000L), (2L, 1000000L)))
  }

  test("rrfFusion: floored reciprocal contributions sum and fuse " +
    "with deterministic tiebreaks") {
    val lists = Seq(
      ("A", "q1", "d1", 1L), ("A", "q1", "d2", 2L),
      ("B", "q1", "d2", 1L), ("B", "q1", "d3", 2L))
      .toDF("l", "q", "d", "r")
    val out = Similarity.rrfFusion(lists, col("q"), col("d"),
        col("r"), 60, 2)
      .as[(String, String, Long, Long, Int)].collect()
      .map(x => x._2 -> x).toMap
    // d2: 1e6//61 + 1e6//62 = 16393 + 16129
    assert(out("d2") == (("q1", "d2", 2L, 32522L, 1)))
    assert(out("d1") == (("q1", "d1", 1L, 16393L, 2)))
    assert(!out.contains("d3"), "topK = 2 cuts the tail")
  }

  test("binary quantization: mean thresholds, word packing, and " +
    "hamming shortlist match a bit-level hand model") {
    // 32 dims: vec A = +1 everywhere, vec B = -1 everywhere, vec C =
    // +1 on dims 0..15, -1 on 16..31. Mean thresholds are 1/3 µ > 0
    // for dims 0..15 and -1/3 µ < 0 for 16..31.
    val mk = (f: Int => Float) => Array.tabulate(32)(f)
    val vecs = Seq(
      (1L, mk(_ => 1f)), (2L, mk(_ => -1f)),
      (3L, mk(i => if (i < 16) 1f else -1f))).toDF("id", "vec")
    val thr = Similarity.binaryThresholds(vecs)
    val t = thr.as[Seq[Long]].head()
    assert(t.take(16).forall(_ == 333333L) &&
      t.drop(16).forall(_ == -333333L))
    val codes = Similarity.binaryEncode(vecs, thr)
    val w = codes.as[(Long, Seq[Long])].collect().toMap
    // A: bits 0..15 = 1 (1e6 > 333333), 16..31 = 1 (1e6 > -333333)
    assert(w(1L) == Seq(0xffffffffL))
    // B: all bits 0
    assert(w(2L) == Seq(0L))
    // C: bits 0..15 = 1, 16..31 = 0 -> low half set
    assert(w(3L) == Seq(0x0000ffffL))
    // hamming shortlist: from A, C is 16 bits away, B is 32
    val cand = Similarity.binaryTopC(codes.filter($"id" === 1L),
        codes, 2)
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(cand.map(c => (c._2, c._3)).toSeq == Seq((3L, 1), (2L, 2)))
  }

}
