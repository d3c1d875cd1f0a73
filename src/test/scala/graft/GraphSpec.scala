package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: a cycle stays uniform and mass is conserved") {
    // 0 -> 1 -> 2 -> 0: perfectly symmetric, pr stays 1/3 every iter
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, 4).as[(Long, Double)].collect().toMap
    assert(pr.values.forall(v => math.abs(v - 1.0 / 3) < 1e-9))
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
  }

  test("pageRank matches an independent fixed-point reference " +
      "bit-for-bit; no-inlink nodes hold the exact base") {
    // independent reference: same snapped update, plain Scala
    def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val n = nodes.size
      val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      var pr = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val s = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((u, v) <- edges) s(v) += math.round(pr(u) / out(u) * 1e9)
        pr = nodes.map(v =>
          v -> ((1.0 - 0.85) / n + 0.85 * (s(v).toDouble / 1e9))).toMap
      }
      pr
    }
    // 1,2,3 link to 0; 0 links to 1 and 2. 2-cycle oscillation decays
    // under damping; the reference reproduces every intermediate state
    val es = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L), (0L, 2L))
    val pr = Graph.pageRank(es.toDF("src", "dst"), 8)
      .as[(Long, Double)].collect().toMap
    assert(pr == ref(es, 8)) // exact equality, not approximate
    // node 3 has no in-links: exactly the (1-d)/N base every iteration
    assert(pr(3L) == (1.0 - 0.85) / 4)
  }

  test("hits matches an independent fixed-point reference bit-for-bit; " +
      "norms stay ~1") {
    def ref(edges: Seq[(Long, Long)], iters: Int)
        : Map[Long, (Double, Double)] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      var hub = nodes.map(_ -> 1.0).toMap
      var auth = nodes.map(_ -> 1.0).toMap
      for (_ <- 1 to iters) {
        val as = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((u, v) <- edges) as(v) += math.round(hub(u) * 1e9)
        val at = as.values.sum
        auth = nodes.map(v => v -> as(v).toDouble / at.toDouble).toMap
        val hs = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((u, v) <- edges) hs(u) += math.round(auth(v) * 1e9)
        val ht = hs.values.sum
        hub = nodes.map(u => u -> hs(u).toDouble / ht.toDouble).toMap
      }
      nodes.map(v => v -> ((hub(v), auth(v)))).toMap
    }
    // 0 links to everything (pure hub), 1..3 link only to 3 (authority)
    val es = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 3L), (2L, 3L),
      (3L, 3L))
    val out = Graph.hits(es.toDF("src", "dst"), 2)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == ref(es, 2)) // exact equality, not approximate
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9)
    // 3 is the top authority; 0 the top hub
    assert(out.maxBy(_._2._2)._1 == 3L)
    assert(out.maxBy(_._2._1)._1 == 0L)
  }

  test("pageRank past the checkpoint cadence releases every earlier " +
      "round's checkpoint and its loop pins: only the result's RDD stays") {
    import org.apache.spark.sql.execution.LogicalRDD
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val blocksBefore = org.apache.spark.RddBlocks.live(spark.sparkContext)
    // 7 iterations checkpoint at rounds 3, 6 and 7
    val pr = Graph.pageRank(edges, 7)
    assert(pr.count() == 4L)
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val own = pr.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(own.size == 1 && left == own, s"left $left, result owns $own")
    val blocksLeft = org.apache.spark.RddBlocks.live(spark.sparkContext) -- blocksBefore
    assert(blocksLeft == own, s"blocks left $blocksLeft, result owns $own")
  }

  test("pageRank iterations are deterministic: same input, identical bits") {
    val rnd = new scala.util.Random(7)
    val edges = (0 until 200).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).toDF("src", "dst")
    val a = Graph.pageRank(edges, 3).as[(Long, Double)].collect().sorted
    val b = Graph.pageRank(edges, 3).as[(Long, Double)].collect().sorted
    assert(a.toSeq == b.toSeq) // exact, not approximate
  }

  test("personalizedPageRank matches an independent reference " +
      "bit-for-bit; unreachable nodes hold exactly zero") {
    def ref(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int)
        : Map[Long, Double] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      val ns = seeds.size
      var pr = nodes.map(v =>
        v -> (if (seeds(v)) 1.0 / ns else 0.0)).toMap
      for (_ <- 1 to iters) {
        val s = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((u, v) <- edges) s(v) += math.round(pr(u) / out(u) * 1e9)
        pr = nodes.map(v => v ->
          ((if (seeds(v)) (1.0 - 0.85) / ns else 0.0) +
            0.85 * (s(v).toDouble / 1e9))).toMap
      }
      pr
    }
    // 9 is upstream-only of nothing reaching it: stays exactly 0.0
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (1L, 3L), (9L, 0L))
    val seeds = Seq(0L, 3L)
    val pr = Graph.personalizedPageRank(
        es.toDF("src", "dst"), seeds.toDF("id"), 5)
      .as[(Long, Double)].collect().toMap
    assert(pr == ref(es, seeds.toSet, 5)) // exact equality
    assert(pr(9L) == 0.0)
    // seed 3 (a sink, no outlinks) still holds its teleport base
    assert(pr(3L) >= (1.0 - 0.85) / 2)
  }

  test("triangleCounts: K4 gives 3 per node; direction, duplicates and " +
      "self-loops are noise") {
    // K4 as a messy directed multigraph: some edges doubled, reversed,
    // plus self-loops — the undirected collapse must see plain K4
    val k4 = for {
      a <- 0L to 3L; b <- 0L to 3L if a != b
    } yield (a, b)
    val noisy = (k4 ++ Seq((0L, 0L), (2L, 2L), (1L, 0L), (3L, 2L)))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(noisy).as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangleCounts equals the brute-force triple scan on a random " +
      "graph; triangle-free graphs yield nothing") {
    val rnd = new scala.util.Random(11)
    val es = (0 until 300).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).distinct
    val ue = es.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = ue.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val ref = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && ue((a, b))
      c <- nodes if b < c && ue((b, c)) && ue((a, c))
    } { ref(a) += 1; ref(b) += 1; ref(c) += 1 }
    val out = Graph.triangleCounts(es.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(out == ref.toMap)
    // a path graph has no triangles: empty output, not zero rows per node
    val path = (0L until 10L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(Graph.triangleCounts(path.toDF("src", "dst")).count() == 0)
  }

  test("shortestHops: minimal hop counts, settled nodes keep their first " +
      "round, beyond-maxHops nodes are absent") {
    // 0→1→2→3→4 chain plus a shortcut 0→3: node 3 is 1 hop, not 3
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L))
      .toDF("src", "dst")
    val out = Graph.shortestHops(es,
      Seq(0L).toDF("id"), 2).as[(Long, Int)].collect().toMap
    assert(out == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 1, 4L -> 2))
    // multi-source: nearest seed wins; cycles don't loop forever
    val es2 = Seq((0L, 1L), (1L, 0L), (1L, 2L), (9L, 2L)).toDF("src", "dst")
    val out2 = Graph.shortestHops(es2,
      Seq(0L, 9L).toDF("id"), 3).as[(Long, Int)].collect().toMap
    assert(out2 == Map(0L -> 0, 9L -> 0, 1L -> 1, 2L -> 1))
  }

  test("temporalEarliestArrival: time-respecting paths only, improved " +
      "arrivals re-expand and unlock edges plain BFS order would miss") {
    // 0→1@10 but also 0→4@1→1@3: node 1's arrival improves to 3 in
    // round 2, which makes 1→2@5 legal (5 ≥ 3) in round 3 — under the
    // direct path alone it is NOT (5 < 10)
    val es = Seq((0L, 1L, 10L), (1L, 2L, 5L), (0L, 4L, 1L),
      (4L, 1L, 3L), (1L, 3L, 20L)).toDF("src", "dst", "ts")
    val seeds = Seq(0L).toDF("id")
    val r3 = Graph.temporalEarliestArrival(es, seeds, 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(0L -> 0L, 1L -> 3L, 4L -> 1L, 2L -> 5L, 3L -> 20L),
      s"r3: $r3")
    // after only 2 rounds the improving path hasn't reached node 2 yet
    val r2 = Graph.temporalEarliestArrival(es, seeds, 2)
      .as[(Long, Long)].collect().toMap
    assert(!r2.contains(2L), s"node 2 needs the round-3 re-expansion: $r2")
    assert(r2(1L) == 3L, "the improvement itself lands in round 2")
  }

  test("temporalEarliestArrival past the checkpoint cadence keeps its " +
      "arrivals and leaves only the result's RDD") {
    import org.apache.spark.sql.execution.LogicalRDD
    // a time-increasing chain 0→1@1→…→9@9 plus a late shortcut 0→3@100
    // that round 3 improves to 3: 7 rounds checkpoint the frontier at
    // round 3 and 6 and best at rounds 3, 6 and 7
    val chain = (0L until 9L).map(i => (i, i + 1, i + 1))
    val es = (chain :+ ((0L, 3L, 100L))).toDF("src", "dst", "ts")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val blocksBefore = org.apache.spark.RddBlocks.live(spark.sparkContext)
    val out = Graph.temporalEarliestArrival(es, Seq(0L).toDF("id"), 7)
    val got = out.as[(Long, Long)].collect().toMap
    assert(got == (0L to 7L).map(i => i -> i).toMap, s"arrivals: $got")
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val own = out.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(own.size == 1 && left == own, s"left $left, result owns $own")
    val blocksLeft = org.apache.spark.RddBlocks.live(spark.sparkContext) -- blocksBefore
    assert(blocksLeft == own, s"blocks left $blocksLeft, result owns $own")
  }

  test("degreeAssortativity: a star is perfectly disassortative (r = " +
      "-1), a regular clique has undefined correlation (null)") {
    val star = (1L to 5L).map(l => (0L, l)).toDF("src", "dst")
    val s = Graph.degreeAssortativity(star).collect().head
    assert(s.getLong(0) == 10L, "5 undirected edges × both orientations")
    assert(s.getDouble(2) == -1.0, s"star r: $s")
    // K4: every degree 3 → zero variance → slope/r null
    val k4 = (for { a <- 0L to 3L; b <- 0L to 3L if a < b }
      yield (a, b)).toDF("src", "dst")
    val k = Graph.degreeAssortativity(k4).collect().head
    assert(k.isNullAt(1) && k.isNullAt(2), s"clique: $k")
  }

  test("labelPropagation matches an independent synchronous-sweep " +
      "reference on a random graph; dense cliques keep their min id") {
    // independent reference: same synchronous majority/min-tie sweep
    def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val ue = edges.filter(e => e._1 != e._2)
      val adj = (ue ++ ue.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
      var lab = adj.keys.map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        val prev = lab
        lab = adj.map { case (v, ns) =>
          val votes = ns.map(prev).groupBy(identity)
            .map { case (l, o) => l -> o.size }
          val best = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
          v -> best
        }
      }
      lab
    }
    val rnd = new scala.util.Random(53)
    val es = (0 until 300).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
    for (it <- Seq(1, 2, 3)) {
      val out = Graph.labelPropagation(es.toDF("src", "dst"), it)
        .as[(Long, Long)].collect().toMap
      assert(out == ref(es, it), s"iter $it diverged from reference")
    }
    // an isolated dense clique converges to its min id and stays there
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b }
      yield (a, b)
    val cl = Graph.labelPropagation(
      clique(Seq(5L, 6L, 7L, 8L)).toDF("src", "dst"), 3)
      .as[(Long, Long)].collect().toMap
    assert(cl.values.forall(_ == 5L), s"clique labels: $cl")
    // self-loops are ignored entirely
    val self = Graph.labelPropagation(
      Seq((1L, 1L), (1L, 2L)).toDF("src", "dst"), 2)
      .as[(Long, Long)].collect().toMap
    assert(self.keySet == Set(1L, 2L))
    // the big-iters checkpoint path (iters > cadence) changes no label
    val smallBig = Graph.labelPropagation(es.toDF("src", "dst"), 5)
      .as[(Long, Long)].collect().toMap
    assert(smallBig == ref(es, 5), "checkpointed sweep diverged")
  }

  test("kCoreRounds: clique survives, pendant chain peels one hop per " +
      "round, converged rounds are a fixed point, multi-edges collapse") {
    // K4 on {0,1,2,3} (3-core) + chain 3-4-5-6 hanging off it
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b)
    val chain = Seq((3L, 4L), (4L, 5L), (5L, 6L))
    // duplicates + a self loop must not inflate degrees
    val edges = (k4 ++ chain ++ Seq((0L, 1L), (6L, 6L))).toDF("src", "dst")
    def core(k: Int, r: Int): Map[Long, Long] =
      Graph.kCoreRounds(edges, k, r).as[(Long, Long)].collect().toMap
    // k=2, round 1: degrees 0:3 1:3 2:3 3:4 4:2 5:2 6:1 → 6 peels
    assert(core(2, 1).keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // round 2: 5 now has induced degree 1 → peels; round 3: 4 peels
    assert(core(2, 2).keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(core(2, 3).keySet == Set(0L, 1L, 2L, 3L))
    // round 4+ = fixed point (the true 2-core), degrees all within K4
    assert(core(2, 4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    assert(core(2, 6) == core(2, 4), "converged peel is a fixed point")
    // the whole K4 is a 3-core; k=4 empties the graph
    assert(core(3, 3).keySet == Set(0L, 1L, 2L, 3L))
    assert(core(4, 2).isEmpty)
  }

  test("twoHopNeighborhood: path graph exact counts, triangle has no " +
      "2-hop-only nodes, direction ignored, hub reach") {
    // path 0-1-2-3-4: endpoints reach 1 direct + 1 two-hop; middle 2
    // reaches {1,3} direct + {0,4} two-hop
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val p = Graph.twoHopNeighborhood(path)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(p == Map(0L -> ((1L, 1L)), 1L -> ((2L, 1L)), 2L -> ((2L, 2L)),
      3L -> ((2L, 1L)), 4L -> ((1L, 1L))))
    // triangle: everyone is everyone's direct neighbor -> n_2hop 0
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    assert(Graph.twoHopNeighborhood(tri).as[(Long, Long, Long)]
      .collect().forall(r => r._2 == 2L && r._3 == 0L))
    // star center 0 with leaves 1..4: leaves see 1 direct + 3 two-hop
    // (the other leaves), the center has no 2-hop-only nodes
    val star = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val st = Graph.twoHopNeighborhood(star)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(st(0L) == ((4L, 0L)))
    assert((1L to 4L).forall(i => st(i) == ((1L, 3L))))
  }

  test("shortestHopsPerSeed: per-seed BFS distances on a path + branch " +
      "graph; deep runs return a checkpoint-truncated plan") {
    // 0 -> 1 -> 2 -> 3 -> 4 and a shortcut 1 -> 3: min-hops must win
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(0L, 3L).toDF("id")
    val got = Graph.shortestHopsPerSeed(edges, seeds, 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set(
      (0L, 0L, 0), (0L, 1L, 1), (0L, 2L, 2), (0L, 3L, 2), (0L, 4L, 3),
      (3L, 3L, 0), (3L, 4L, 1)), s"got $got")
    // maxHops = 4 > ckptEvery: the ADVICE-r11 truncation must apply
    val logical = Graph.shortestHopsPerSeed(edges, seeds, 4)
      .queryExecution.logical.toString()
    assert(logical.contains("LogicalRDD"),
      s"expected checkpoint-truncated lineage, got:\n$logical")
  }

  test("harmonicCentrality: exact reciprocal sums on a known graph; " +
      "unreached nodes contribute zero") {
    // star out of 0 (0->1,0->2,0->3) plus 1->4: from 0, dists are
    // 1,1,1,2 -> C_H = 3 + 1/2 = 3.5 over 4 reached; from 4, nothing
    // is reachable -> no output row (count over empty group)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L))
      .toDF("src", "dst")
    val got = Graph.harmonicCentrality(edges,
        Seq(0L, 4L).toDF("id"), 4)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L) == ((4L, 3.5)), s"got $got")
    assert(!got.contains(4L), "an all-unreached seed emits no row")
  }

  test("long iteration runs keep lineage bounded: a 12-round pageRank " +
      "returns a checkpoint-truncated plan with reference-exact values") {
    def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val n = nodes.size
      val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      var pr = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val s = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        for ((u, v) <- edges) s(v) += math.round(pr(u) / out(u) * 1e9)
        pr = nodes.map(v =>
          v -> ((1.0 - 0.85) / n + 0.85 * (s(v).toDouble / 1e9))).toMap
      }
      pr
    }
    val rnd = new scala.util.Random(71)
    val es = (0 until 500).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2).distinct
    val pr12 = Graph.pageRank(es.toDF("src", "dst"), 12)
    // the final round checkpoints, so the RETURNED plan is a leaf over
    // the materialized RDD — not 12 nested join/aggregate rounds; this
    // is the guard against the measured super-linear re-analysis wall
    // (Dedup.duplicateClusters: 1.7 s → 25 s/round by iteration 5)
    val logical = pr12.queryExecution.logical.toString()
    assert(logical.contains("LogicalRDD"),
      s"expected checkpoint-truncated lineage, got:\n$logical")
    assert(logical.linesIterator.size <= 5,
      s"expected a leaf-sized plan, got:\n$logical")
    assert(pr12.as[(Long, Double)].collect().toMap == ref(es, 12),
      "checkpointed pageRank diverged from the exact reference")
  }

  test("bipartiteProject: min-count weights, hub users excluded by the degree cap") {
    import org.apache.spark.sql.functions.col
    val edges = (Seq.fill(2)(("u1", "a")) ++ Seq(("u1", "b")) ++
      Seq(("u2", "a")) ++ Seq.fill(3)(("u2", "b")) ++ Seq(("u2", "c")) ++
      Seq(("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d")))
      .toDF("u", "v")
    val out = Graph.bipartiteProject(edges, col("u"), col("v"), 3)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out(("a", "b")) == (("a", "b", 2L, 2L, 2L, 1L)))
    assert(out(("a", "c")) == (("a", "c", 1L, 1L, 2L, 1L)))
    assert(out(("b", "c")) == (("b", "c", 1L, 1L, 2L, 1L)))
    assert(!out.contains(("a", "d")), "hub-only pairs never project")
  }

  test("reciprocity: mutual share over distinct directed edges") {
    import org.apache.spark.sql.functions.col
    val e = Seq((1, 2), (2, 1), (1, 3), (3, 3), (1, 2)).toDF("s", "d")
    val r = Graph.reciprocity(e, col("s"), col("d"))
      .as[(Long, Long, Long)].head()
    // distinct non-self edges: (1,2),(2,1),(1,3); mutual: both of 1<->2
    assert(r == ((3L, 2L, 666666L)))
  }

  test("linkPredictionScores: wedge candidates minus existing edges, " +
    "exact common/jaccard/RA terms") {
    // path 1-2-3-4 plus chord 1-3: candidates are (1,4) and (2,4),
    // both through z=3 (deg 3); the wedge (1,3) is an edge - excluded
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val out = Graph.linkPredictionScores(edges)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out.keySet == Set((1L, 4L), (2L, 4L)))
    assert(out((1L, 4L)) == ((1L, 4L, 1L, 500000L, 333333L)))
    assert(out((2L, 4L)) == ((2L, 4L, 1L, 500000L, 333333L)))
  }

  test("linkPredictionScores: the hub-degree guard drops wedges " +
    "through over-cap middles") {
    // star 0-(1..5) plus 1-2: all 9 candidates go through the hub
    val edges = ((1L to 5L).map(i => (0L, i)) :+ (1L, 2L))
      .toDF("src", "dst")
    assert(Graph.linkPredictionScores(edges).count() == 9)
    // cap 4 excludes the degree-5 hub as a wedge middle
    assert(Graph.linkPredictionScores(edges, 4L).count() == 0)
  }

}
