package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.dec

/** Query surface + DuckDB oracles: graph algorithms and web/link analysis.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesGraphWeb {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Graph: PAGERANK over a deterministic synthetic link graph (every
    // doc links to 3 computed neighbors) — 3 damped iterations, the
    // per-edge contribution snapped ×1e9 pre-sum so ranks are
    // bit-identical cross-engine; top-20 by (rounded rank desc, id)
    // via sort+limit (TakeOrderedAndProject — per-partition top-k,
    // never a single-partition global sort).
    "q135_pagerank" -> ((s, dir) =>
      Graph.pageRank(docLinkEdges(s, dir), 3)
        .select(col("id").as("doc_id"),
          round(col("pr").cast("decimal(20,10)"), 8).cast("double")
            .as("pr"))
        .orderBy(col("pr").desc, col("doc_id")).limit(20)),
    // Graph: HITS hubs/authorities (2 iterations) on the same link
    // graph — the L1 normalizer is a one-row broadcast aggregate and
    // every normalized score is a ratio of two EXACT ×1e9 integers, so
    // scores are bit-identical cross-engine; top-20 authorities via
    // sort+limit.
    "q136_hits" -> ((s, dir) =>
      Graph.hits(docLinkEdges(s, dir), 2)
        .select(col("id").as("doc_id"),
          round(col("hub").cast("decimal(20,10)"), 8).cast("double")
            .as("hub"),
          round(col("auth").cast("decimal(20,10)"), 8).cast("double")
            .as("auth"))
        .orderBy(col("auth").desc, col("doc_id")).limit(20)),
    // Graph: per-node TRIANGLE counts on the undirected link graph —
    // degree-ordered orientation bounds wedge enumeration by the
    // oriented out-degree (O(√m) on any graph), each triangle found
    // once via a pure equi-join closure check; per-node credit is an
    // explode of the 3 corners + one hash aggregate.
    "q142_triangles" -> ((s, dir) =>
      Graph.triangleCounts(docLinkEdges(s, dir))
        .withColumnRenamed("id", "doc_id")),
    // Graph: multi-source BFS hop counts (≤ 3 hops from the seed set
    // doc_id % 97 = 0) — per round ONE frontier×edges equi-join + one
    // min-aggregate; settled nodes never re-expand, so each edge is
    // walked at most once per round it borders the frontier.
    "q143_bfs_reach" -> ((s, dir) => {
      val seeds = t(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
      Graph.shortestHops(docLinkEdges(s, dir), seeds, 3)
        .withColumnRenamed("id", "doc_id")
    }),
    // Graph: PERSONALIZED PageRank (TrustRank) from the q143 seed set —
    // teleport mass concentrates on the trusted seeds, so ranks measure
    // seed proximity (the crawl-prioritization / spam-demotion signal);
    // same ×1e9 pre-sum snap and iteration shape as q135.
    "q153_trustrank" -> ((s, dir) => {
      val seeds = t(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
      Graph.personalizedPageRank(docLinkEdges(s, dir), seeds, 3)
        .select(col("id").as("doc_id"),
          round(col("pr").cast("decimal(20,10)"), 8).cast("double")
            .as("ppr"))
        .orderBy(col("ppr").desc, col("doc_id")).limit(20)
    }),
    // Events/mining: pairwise ASSOCIATION RULES over per-user
    // event-type baskets — support, confidence and lift for every
    // ordered item pair (the market-basket classic; lift > 1 = the
    // pair co-occurs beyond independence). One distinct (user, item)
    // shuffle, pair generation is a per-basket self-join bounded by
    // the item vocabulary (the 100 TB contract: baskets are small,
    // the user key is the only data-sized shuffle), exact integer
    // ratios snapped 4dp.
    "q263_association_rules" -> ((s, dir) => {
      val ut = t(s, dir, "events")
        .select(col("user_id").as("u"), col("event_type").as("it"))
        .distinct()
      val pairs = ut.as("x").join(ut.as("y"),
          col("x.u") === col("y.u") && col("x.it") =!= col("y.it"))
        .groupBy(col("x.it").as("a"), col("y.it").as("b"))
        .agg(count(lit(1)).as("n_ab"))
      val items = ut.groupBy(col("it")).agg(count(lit(1)).as("n_i"))
      val nn = ut.select(col("u")).distinct().agg(count(lit(1)).as("n"))
      pairs
        .join(broadcast(items.select(col("it").as("a"),
          col("n_i").as("n_a"))), "a")
        .join(broadcast(items.select(col("it").as("b"),
          col("n_i").as("n_b"))), "b")
        .crossJoin(broadcast(nn))
        .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_ab"),
          round((col("n_ab").cast("double") / col("n").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("support"),
          round((col("n_ab").cast("double") / col("n_a").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("confidence"),
          round(((dec(col("n")) * col("n_ab")).cast("double") /
            (dec(col("n_a")) * col("n_b")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("lift"))
    }),
    // Recommender: ITEM-ITEM COLLABORATIVE SIMILARITY — cosine on
    // the binary order×part matrix via the per-basket self-join
    // (work bounded by Σ basket², the inverted-index shape — never
    // items²): co(i,j)/√(n_i·n_j), support ≥ 3, top-20. The
    // co-purchase neighborhood a retrieval/recs pipeline precomputes
    // (q161's lift is directional confidence; cosine is symmetric
    // degree-normalized).
    "q319_item_cf" -> ((s, dir) => {
      val bi = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("i"))
        .distinct()
      val ni = bi.groupBy(col("i")).agg(count(lit(1)).as("n"))
      val co = bi.as("a").join(bi.as("b"),
          col("a.o") === col("b.o") && col("a.i") < col("b.i"))
        .groupBy(col("a.i").as("part_a"), col("b.i").as("part_b"))
        .agg(count(lit(1)).as("co"))
        .filter(col("co") >= 3)
      co.join(ni.select(col("i").as("part_a"), col("n").as("na")),
          "part_a")
        .join(ni.select(col("i").as("part_b"), col("n").as("nb")),
          "part_b")
        .select(col("part_a"), col("part_b"), col("co"),
          round((col("co").cast("double") /
            sqrt((col("na") * col("nb")).cast("double")))
            .cast("decimal(20,10)"), 4).cast("double").as("cosine"))
        .orderBy(col("cosine").desc, col("part_a"), col("part_b"))
        .limit(20)
    }),
    // Graph: HARMONIC CENTRALITY from landmark seeds (every 100th
    // doc) truncated at 4 hops — the disconnected-safe closeness over
    // the q135 link graph. maxHops=4 exceeds the checkpoint cadence,
    // so the seed-keyed BFS runs its lineage-truncation path (ADVICE
    // r11: shortestHopsPerSeed was caller-less and un-truncated). The
    // reciprocal sum rides ×lcm(1..4)=12 exact integers; one double
    // division per seed at the end.
    "q325_harmonic_centrality" -> ((s, dir) =>
      Graph.harmonicCentrality(docLinkEdges(s, dir),
        t(s, dir, "documents").filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("id")), 4)),
    // Graph: RECIPROCITY — mutual share of the distinct directed
    // user-grid edges.
    "q477_reciprocity" -> ((s, dir) =>
      Graph.reciprocity(t(s, dir, "events"),
        (col("user_id") % 30).cast("int"),
        (floor(col("user_id") / 30).cast("long") % 30).cast("int"))),
    // Graph: BIPARTITE PROJECTION — user×event-type engagement to
    // the type–type co-engagement graph, min-count weights, degree
    // cap as the hub-user scale guard.
    "q438_bipartite_project" -> ((s, dir) =>
      Graph.bipartiteProject(t(s, dir, "events"), col("user_id"),
        col("event_type"), 5)),
    // Graph: RECIPROCITY — the share of directed edges whose reverse
    // also exists (the mutual-follow/backlink rate; high reciprocity
    // changes every diffusion estimate on the graph): one self
    // equi-join of the distinct directed edge set against its own
    // transpose, exact ratio.
    "q304_reciprocity" -> ((s, dir) => {
      val e = docLinkEdges(s, dir)
        .filter(col("src") =!= col("dst")).distinct()
      val mut = e.as("a").join(e.as("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
        .select(col("a.src"), col("a.dst"))
      val nE = e.agg(count(lit(1)).as("n_edges"))
      val nM = mut.agg(count(lit(1)).as("n_mutual"))
      nE.crossJoin(nM)
        .select(col("n_edges"), col("n_mutual"),
          round((col("n_mutual").cast("double") /
            col("n_edges").cast("double")).cast("decimal(20,10)"), 4)
            .cast("double").as("reciprocity"))
    }),
    // Graph: TARGETED-ATTACK ROBUSTNESS — the 3-hop reach of the %97
    // seed set before vs after removing the top-8 degree hubs (edges
    // AND seeds touching a hub drop): the scale-free-network fragility
    // read (Albert-Barabási) — random failures barely dent reach,
    // hub removal craters it. Two runs of the q143 BFS kernel; hubs
    // are an 8-row broadcast anti-join.
    "q280_attack_robustness" -> ((s, dir) => {
      val edges = docLinkEdges(s, dir)
      val deg = edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("dg"))
      val hubs = deg.orderBy(col("dg").desc, col("id")).limit(8)
        .select(col("id"))
      val seeds = t(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("id"))
      val before = Graph.shortestHops(edges, seeds, 3)
        .agg(count(lit(1)).as("reach_before"))
      val e2 = edges
        .join(broadcast(hubs.withColumnRenamed("id", "src")),
          Seq("src"), "left_anti")
        .join(broadcast(hubs.withColumnRenamed("id", "dst")),
          Seq("dst"), "left_anti")
      val s2 = seeds.join(broadcast(hubs), Seq("id"), "left_anti")
      val after = Graph.shortestHops(e2, s2, 3)
        .agg(count(lit(1)).as("reach_after"))
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      nn.crossJoin(before).crossJoin(after)
        .select(col("n_nodes"), col("reach_before"), col("reach_after"),
          round(((col("reach_before") - col("reach_after"))
            .cast("double") / col("reach_before").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double")
            .as("drop_share"))
    }),
    // Graph: GLOBAL TRANSITIVITY + average LOCAL clustering
    // coefficient — q142 counts per-node triangles; this closes them
    // into the two canonical one-number reads: C = 3Δ/wedges
    // (transitivity) and the Watts–Strogatz mean of per-node
    // 2·tri/(deg·(deg−1)) over deg ≥ 2 nodes (×1e9 snaps pre-sum).
    // Wedge mass is a degree aggregate — no extra join beyond the
    // triangle kernel.
    "q235_transitivity" -> ((s, dir) => {
      val ue = docLinkEdges(s, dir).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      val deg = ue.select(col("u").as("id"))
        .unionByName(ue.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val nd = deg.join(Graph.triangleCounts(docLinkEdges(s, dir)),
          Seq("id"), "left")
        .na.fill(0L, Seq("n_triangles"))
      val ag = nd.agg(count(lit(1)).as("n_nodes"),
        sum(col("n_triangles")).as("s3"),
        sum(col("deg") * (col("deg") - 1)).as("w2"))
      val ne = ue.agg(count(lit(1)).as("n_edges"))
      val lc = nd.filter(col("deg") >= 2)
        .select(round(col("n_triangles").cast("double") * lit(2e9) /
          (col("deg") * (col("deg") - 1)).cast("double")).cast("long")
          .as("cfp"))
        .agg(count(lit(1)).as("n2"), sum(col("cfp")).as("scfp"))
      def m6(c: Column): Column =
        round(c.cast("decimal(20,10)"), 6).cast("double")
      ag.crossJoin(broadcast(ne)).crossJoin(broadcast(lc))
        .select(col("n_nodes"), col("n_edges"),
          ((col("s3") - pmod(col("s3"), lit(3L))).cast("double") / 3)
            .cast("long").as("n_triangles"),
          ((col("w2") - pmod(col("w2"), lit(2L))).cast("double") / 2)
            .cast("long").as("n_wedges"),
          when(col("w2") === 0, lit(null)).otherwise(
            m6((col("s3") * 2).cast("double") /
              col("w2").cast("double"))).as("transitivity"),
          when(col("n2") === 0, lit(null)).otherwise(
            m6(col("scfp").cast("double") /
              (col("n2").cast("double") * lit(1e9)))).as("avg_local"))
    }),
    // Graph: TIME-RESPECTING earliest arrival — temporal BFS where
    // every hop departs no earlier than the previous arrived; improved
    // nodes only re-expand (frontier economics), merge = min-arrival.
    "q193_temporal_bfs" -> ((s, dir) => {
      val e = docLinkEdges(s, dir)
        .withColumn("ts", (col("src") * 31 + col("dst") * 17) % 1000)
      val seeds = t(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
      Graph.temporalEarliestArrival(e, seeds, 3)
        .orderBy(col("arrival"), col("id")).limit(25)
        .select(col("id").as("doc_id"), col("arrival"))
    }),
    // Graph: LINK-PREDICTION scores — common neighbors, Jaccard and
    // resource allocation over the non-adjacent 2-hop pairs of the
    // doc-link graph (wedge economics, RA instead of Adamic-Adar so
    // every term stays exactly rational).
    "q504_link_prediction" -> ((s, dir) =>
      Graph.linkPredictionScores(docLinkEdges(s, dir))),
    // Graph: degree ASSORTATIVITY — do hubs link to hubs? Pearson r of
    // endpoint degrees over the symmetrized edge list, on olsTrend's
    // exact moment algebra.
    "q194_assortativity" -> ((s, dir) =>
      Graph.degreeAssortativity(docLinkEdges(s, dir))),
    // Graph/eval: MODULARITY of the q174 label-propagation communities
    // — did LPA find real structure? Q = Σ_c (e_c/m − (d_c/2m)²) on
    // exact integers: per-community intra-edge counts and degree sums
    // over the canonical distinct undirected edge set, numerator
    // Σ(4m·e_c − d_c²) in DECIMAL, ONE double division by 4m².
    "q219_modularity" -> ((s, dir) => {
      val edges = docLinkEdges(s, dir)
      // persisted: three consumers join the label table on DIFFERENT
      // keys (a, b, id), so no shared exchange exists for
      // ReusedExchange to dedup — without the persist the whole
      // 2-round LPA chain re-runs per consumer (measured 3.4 → 2.9 s).
      // The canonical edge set is NOT persisted: its distinct's
      // exchange IS shared, and persisting it re-measured slower.
      val lab = Graph.labelPropagation(edges, 2).persist()
      val ue = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val e2 = ue
        .join(lab.select(col("id").as("a"), col("community").as("ca")),
          Seq("a"))
        .join(lab.select(col("id").as("b"), col("community").as("cb")),
          Seq("b"))
      val ec = e2.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_c"))
      val dc = ue.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .join(lab, Seq("id"))
        .groupBy(col("community").as("c")).agg(sum(col("deg")).as("d_c"))
      val m = ue.agg(count(lit(1)).as("m_edges"))
      dc.join(ec, Seq("c"), "left")
        .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
        .crossJoin(broadcast(m))
        .select(col("m_edges"),
          (dec(lit(4)) * col("m_edges") * col("e_c") -
            dec(col("d_c")) * col("d_c")).as("num"))
        .groupBy(col("m_edges"))
        .agg(count(lit(1)).as("n_comms"), sum(col("num")).as("s_num"))
        .select(col("m_edges"), col("n_comms"),
          round((col("s_num").cast("double") /
            (dec(lit(4)) * col("m_edges") * col("m_edges"))
              .cast("double")).cast("decimal(20,10)"), 6)
            .cast("double").as("modularity"))
    }),
    // Graph: TWO-HOP reach per node on the doc-link graph, rolled up
    // as a (n_1hop, n_2hop) histogram with an id-sum fingerprint —
    // the friend-of-friend feature at Σdeg² wedge cost.
    "q217_two_hop" -> ((s, dir) =>
      Graph.twoHopNeighborhood(docLinkEdges(s, dir))
        .groupBy(col("n_1hop"), col("n_2hop"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("id")).cast("long").as("id_sum"))),
    // Graph: K-CORE (k=6) after 3 synchronous peel rounds — the
    // backbone/fringe split on the doc-link graph; per-round induced
    // degrees via endpoint semi-joins, the fixed-unroll contract of
    // the other iterative graph ops.
    "q216_kcore" -> ((s, dir) =>
      Graph.kCoreRounds(docLinkEdges(s, dir), 6, 3)
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"),
          sum(col("id")).cast("long").as("id_sum"))),
    // Joins/stats: MARKET-BASKET lift — suppliers co-occurring in an
    // order (the association-rule mining shape): per-order item set
    // self-joins on the order key (work Σ k², k = items/order — never
    // corpus²), pair supports aggregate on the (a, b) key, and lift =
    // n·n_ab/(n_a·n_b) computes on exact integers with one double
    // division. Top-20 by (lift, pair) among pairs with support ≥ 5.
    "q161_basket_lift" -> ((s, dir) => {
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("pk"))
        .distinct()
      val n = t(s, dir, "orders").agg(count(lit(1)).as("n_orders"))
      val supp = items.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val pairs = items.as("x").join(items.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      pairs
        .join(supp.select(col("pk").as("a"), col("n_item").as("n_a")), "a")
        .join(supp.select(col("pk").as("b"), col("n_item").as("n_b")), "b")
        .crossJoin(broadcast(n))
        .select(col("a"), col("b"), col("n_ab"),
          round(((col("n_orders") * col("n_ab")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
            .cast("decimal(20,10)"), 4).cast("double").as("lift"))
        .orderBy(col("lift").desc, col("a"), col("b")).limit(20)
    })
  )

  val oracleSql: Map[String, String] = Map(

    // Three unrolled Lloyd-style CTE iterations of the damped update;
    // (1.0 − 0.85) is COMPUTED on both sides (an 0.15 literal is not
    // the same double), contributions snap ×1e9 pre-sum.
    "q135_pagerank" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM e GROUP BY 1),
         |p0 AS (SELECT id, CAST(1.0 AS DOUBLE) / CAST(nn AS DOUBLE) AS pr
         |  FROM nodes CROSS JOIN nc),
         |${prIterSql("p0", "p1")},
         |${prIterSql("p1", "p2")},
         |${prIterSql("p2", "p3")}
         |SELECT id AS doc_id,
         |  CAST(round(CAST(pr AS DECIMAL(20,10)), 8) AS DOUBLE) AS pr
         |FROM p3
         |ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
    // Two unrolled HITS iterations; hub then auth both from the LAST
    // iteration, same sort+limit cutoff as the engine.
    "q136_hits" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
         |${hitsIterSql("h0", "i1")},
         |${hitsIterSql("i1h", "i2")}
         |SELECT i2h.id AS doc_id,
         |  CAST(round(CAST(hub AS DECIMAL(20,10)), 8) AS DOUBLE) AS hub,
         |  CAST(round(CAST(auth AS DECIMAL(20,10)), 8) AS DOUBLE) AS auth
         |FROM i2h JOIN i2a ON i2h.id = i2a.id
         |ORDER BY 3 DESC, 1 LIMIT 20""".stripMargin,
    // All-pairs truth: the undirected a<b<c triple join finds each
    // triangle once; per-node credit unions the 3 corners. The engine's
    // degree-ordered orientation must reproduce this set exactly.
    "q142_triangles" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
        |  FROM docs CROSS JOIN nc
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
        |ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e WHERE src <> dst),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM ue e1 JOIN ue e2 ON e2.u = e1.v
        |  JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY 1""".stripMargin,
    // Three unrolled frontier expansions; the min-fold per round keeps
    // hops minimal exactly like the engine's groupBy-min.
    "q143_bfs_reach" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
        |  FROM docs CROSS JOIN nc
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
        |d0 AS (SELECT doc_id AS id, 0 AS hops FROM documents
        |  WHERE doc_id % 97 = 0),
        |f1 AS (SELECT e.dst AS id, 1 AS hops FROM e
        |  JOIN d0 ON e.src = d0.id),
        |d1 AS (SELECT id, min(hops) AS hops FROM
        |  (SELECT * FROM d0 UNION ALL SELECT * FROM f1) GROUP BY 1),
        |f2 AS (SELECT e.dst AS id, 2 AS hops FROM e
        |  JOIN (SELECT id FROM d1 WHERE hops = 1) f ON e.src = f.id),
        |d2 AS (SELECT id, min(hops) AS hops FROM
        |  (SELECT * FROM d1 UNION ALL SELECT * FROM f2) GROUP BY 1),
        |f3 AS (SELECT e.dst AS id, 3 AS hops FROM e
        |  JOIN (SELECT id FROM d2 WHERE hops = 2) f ON e.src = f.id),
        |d3 AS (SELECT id, min(hops) AS hops FROM
        |  (SELECT * FROM d2 UNION ALL SELECT * FROM f3) GROUP BY 1)
        |SELECT id AS doc_id, CAST(hops AS INT) AS hops FROM d3""".stripMargin,
    // Three unrolled personalized iterations; the seed-concentrated
    // base is a CASE inside the update, (1.0 − 0.85) computed on both
    // sides, ×1e9 snapped contributions.
    "q153_trustrank" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
         |  FROM e GROUP BY 1),
         |sd AS (SELECT doc_id AS id FROM documents WHERE doc_id % 97 = 0),
         |scnt AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sd),
         |tg AS (SELECT nodes.id, sd.id IS NOT NULL AS is_seed, ns
         |  FROM nodes CROSS JOIN scnt LEFT JOIN sd ON nodes.id = sd.id),
         |pp0 AS (SELECT id, CASE WHEN is_seed
         |    THEN CAST(1.0 AS DOUBLE) / CAST(ns AS DOUBLE)
         |    ELSE CAST(0.0 AS DOUBLE) END AS pr FROM tg),
         |${pprIterSql("pp0", "pp1")},
         |${pprIterSql("pp1", "pp2")},
         |${pprIterSql("pp2", "pp3")}
         |SELECT id AS doc_id,
         |  CAST(round(CAST(pr AS DECIMAL(20,10)), 8) AS DOUBLE) AS ppr
         |FROM pp3
         |ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
    // Same distinct-basket pair join and exact HUGEINT lift ratio.
    "q263_association_rules" ->
      """WITH ut AS (SELECT DISTINCT user_id AS u, event_type AS it
        |  FROM events),
        |pr AS (SELECT x.it AS a, y.it AS b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM ut x JOIN ut y ON x.u = y.u AND x.it <> y.it
        |  GROUP BY 1, 2),
        |im AS (SELECT it, CAST(count(*) AS BIGINT) AS n_i
        |  FROM ut GROUP BY 1),
        |nn AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n FROM ut)
        |SELECT a, b, ia.n_i AS n_a, ib.n_i AS n_b, n_ab,
        |  CAST(round(CAST(CAST(n_ab AS DOUBLE) / n AS DECIMAL(20,10)),
        |    4) AS DOUBLE) AS support,
        |  CAST(round(CAST(CAST(n_ab AS DOUBLE) / ia.n_i
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS confidence,
        |  CAST(round(CAST(CAST(CAST(n AS HUGEINT) * n_ab AS DOUBLE)
        |    / CAST(CAST(ia.n_i AS HUGEINT) * ib.n_i AS DOUBLE)
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS lift
        |FROM pr JOIN im ia ON ia.it = pr.a JOIN im ib ON ib.it = pr.b
        |CROSS JOIN nn""".stripMargin,
    // Same distinct basket matrix, per-order pair join, support
    // gate, one sqrt per surviving pair.
    "q319_item_cf" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
        |  FROM lineitem),
        |ni AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM bi
        |  GROUP BY 1),
        |co AS (SELECT a.i AS part_a, b.i AS part_b,
        |    CAST(count(*) AS BIGINT) AS co
        |  FROM bi a JOIN bi b ON a.o = b.o AND a.i < b.i
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, co,
        |  CAST(round(CAST(CAST(co AS DOUBLE)
        |    / sqrt(CAST(na.n * nb.n AS DOUBLE)) AS DECIMAL(20,10)),
        |    4) AS DOUBLE) AS cosine
        |FROM co JOIN ni na ON na.i = part_a
        |JOIN ni nb ON nb.i = part_b
        |ORDER BY 4 DESC, 1, 2 LIMIT 20""".stripMargin,
    // Same q135 link graph; seed-keyed BFS unrolled 4 hops with the
    // same union+min-group step; reciprocal sum ×12 exact.
    "q325_harmonic_centrality" -> {
      def bfs(prev: String, tag: String, h: Int): String =
        s"""$tag AS (SELECT seed, id, min(hops) AS hops FROM (
           |  SELECT seed, id, hops FROM $prev
           |  UNION ALL SELECT d.seed, e.dst AS id, d.hops + 1 AS hops
           |  FROM $prev d JOIN e ON d.id = e.src
           |  WHERE d.hops = ${h - 1}) GROUP BY 1, 2)""".stripMargin
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |d0 AS (SELECT doc_id AS seed, doc_id AS id, 0 AS hops
         |  FROM documents WHERE doc_id % 100 = 0),
         |${bfs("d0", "d1", 1)},
         |${bfs("d1", "d2", 2)},
         |${bfs("d2", "d3", 3)},
         |${bfs("d3", "d4", 4)}
         |SELECT CAST(seed AS BIGINT) AS seed,
         |  CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(round(CAST(CAST(CAST(sum(12 / hops) AS BIGINT)
         |    AS DOUBLE) / 12.0 AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS harmonic
         |FROM d4 WHERE hops >= 1 GROUP BY 1""".stripMargin
    },
    // Distinct directed edges, one swapped self-join.
    "q477_reciprocity" ->
      """WITH e AS (SELECT DISTINCT CAST(user_id % 30 AS INT) AS u,
        |    CAST((user_id // 30) % 30 AS INT) AS v FROM events
        |  WHERE user_id % 30 <> (user_id // 30) % 30),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS ne FROM e),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS nm
        |  FROM e a JOIN e b ON b.u = a.v AND b.v = a.u)
        |SELECT n.ne AS n_edges, m.nm AS n_mutual_edges,
        |  CAST((m.nm * 1000000) // n.ne AS BIGINT)
        |    AS reciprocity_micro
        |FROM n, m""".stripMargin,
    // Same count/degree/pair algebra; every user's 5-type degree
    // clears the cap, so nothing drops on this corpus.
    "q438_bipartite_project" ->
      """WITH cnt AS (SELECT user_id AS u, event_type AS v,
        |    CAST(count(*) AS BIGINT) AS w FROM events GROUP BY 1, 2),
        |deg AS (SELECT u, count(*) AS deg FROM cnt GROUP BY 1),
        |kept AS (SELECT cnt.u, cnt.v, cnt.w FROM cnt
        |  JOIN deg USING (u) WHERE deg <= 5),
        |p AS (SELECT a.v AS item_a, b.v AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(least(a.w, b.w)) AS BIGINT) AS weight
        |  FROM kept a JOIN kept b ON a.u = b.u AND a.v < b.v
        |  GROUP BY 1, 2),
        |st AS (SELECT
        |    CAST(count(*) FILTER (deg <= 5) AS BIGINT)
        |      AS n_users_kept,
        |    CAST(count(*) FILTER (deg > 5) AS BIGINT)
        |      AS n_users_dropped FROM deg)
        |SELECT p.item_a, p.item_b, p.n_users, p.weight,
        |  st.n_users_kept, st.n_users_dropped
        |FROM p, st""".stripMargin,
    // Same distinct directed edges against their transpose.
    "q304_reciprocity" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        |e0 AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
        |  FROM docs CROSS JOIN nc
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |m AS (SELECT a.src, a.dst FROM e a
        |  JOIN e b ON a.src = b.dst AND a.dst = b.src)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_mutual,
        |  CAST(round(CAST(
        |    CAST((SELECT count(*) FROM m) AS DOUBLE)
        |    / (SELECT count(*) FROM e) AS DECIMAL(20,10)), 4)
        |    AS DOUBLE) AS reciprocity""".stripMargin,
    // Same degree-hub cut and two identically unrolled q143 BFS
    // chains.
    "q280_attack_robustness" -> {
      def bfs(tag: String, eCte: String): String =
        (1 to 3).map { h =>
          s"""${tag}f$h AS (SELECT $eCte.dst AS id, $h AS hops
             |  FROM $eCte JOIN (SELECT id FROM ${tag}d${h - 1}
             |    WHERE hops = ${h - 1}) f ON $eCte.src = f.id),
             |${tag}d$h AS (SELECT id, min(hops) AS hops FROM
             |  (SELECT * FROM ${tag}d${h - 1}
             |   UNION ALL SELECT * FROM ${tag}f$h) GROUP BY 1)""".stripMargin
        }.mkString(",\n")
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS dg FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
         |  GROUP BY 1),
         |hubs AS (SELECT id FROM deg ORDER BY dg DESC, id LIMIT 8),
         |s0 AS (SELECT doc_id AS id FROM documents
         |  WHERE doc_id % 97 = 0),
         |bd0 AS (SELECT id, 0 AS hops FROM s0),
         |${bfs("b", "e")},
         |e2 AS (SELECT e.src, e.dst FROM e
         |  LEFT JOIN hubs h1 ON h1.id = e.src
         |  LEFT JOIN hubs h2 ON h2.id = e.dst
         |  WHERE h1.id IS NULL AND h2.id IS NULL),
         |ad0 AS (SELECT s0.id, 0 AS hops FROM s0
         |  LEFT JOIN hubs ON hubs.id = s0.id WHERE hubs.id IS NULL),
         |${bfs("a", "e2")},
         |nn2 AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
         |rb AS (SELECT CAST(count(*) AS BIGINT) AS reach_before
         |  FROM bd3),
         |ra AS (SELECT CAST(count(*) AS BIGINT) AS reach_after
         |  FROM ad3)
         |SELECT n_nodes, reach_before, reach_after,
         |  CAST(round(CAST(CAST(reach_before - reach_after AS DOUBLE)
         |    / reach_before AS DECIMAL(20,10)), 4) AS DOUBLE)
         |    AS drop_share
         |FROM nn2 CROSS JOIN rb CROSS JOIN ra""".stripMargin
    },
    // q142's canonical triangle enumeration verbatim, the same
    // degree/wedge aggregates, ×1e9 local-coefficient snaps.
    "q235_transitivity" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
        |  FROM docs CROSS JOIN nc
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
        |ue AS (SELECT DISTINCT least(src, dst) AS u,
        |    greatest(src, dst) AS v
        |  FROM e WHERE src <> dst),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM ue e1 JOIN ue e2 ON e2.u = e1.v
        |  JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT u AS id FROM ue UNION ALL SELECT v FROM ue)
        |  GROUP BY 1),
        |tn AS (SELECT id, CAST(count(*) AS BIGINT) AS tri FROM (
        |  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY 1),
        |nd AS (SELECT deg.id, deg.deg, coalesce(tn.tri, 0) AS tri
        |  FROM deg LEFT JOIN tn USING (id)),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(tri) AS BIGINT) AS s3,
        |    CAST(sum(deg * (deg - 1)) AS BIGINT) AS w2 FROM nd),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ue),
        |lc AS (SELECT CAST(count(*) AS BIGINT) AS n2,
        |    CAST(sum(CAST(round(CAST(tri AS DOUBLE) * 2e9
        |      / CAST(deg * (deg - 1) AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS scfp
        |  FROM nd WHERE deg >= 2)
        |SELECT n_nodes, n_edges,
        |  CAST(CAST(s3 - s3 % 3 AS DOUBLE) / 3 AS BIGINT)
        |    AS n_triangles,
        |  CAST(CAST(w2 - w2 % 2 AS DOUBLE) / 2 AS BIGINT) AS n_wedges,
        |  CASE WHEN w2 = 0 THEN NULL ELSE
        |    CAST(round(CAST(CAST(s3 * 2 AS DOUBLE)
        |      / CAST(w2 AS DOUBLE) AS DECIMAL(20,10)), 6) AS DOUBLE)
        |    END AS transitivity,
        |  CASE WHEN n2 = 0 THEN NULL ELSE
        |    CAST(round(CAST(CAST(scfp AS DOUBLE)
        |      / (CAST(n2 AS DOUBLE) * 1e9) AS DECIMAL(20,10)), 6)
        |      AS DOUBLE) END AS avg_local
        |FROM ag CROSS JOIN ne CROSS JOIN lc""".stripMargin,
    // Three unrolled time-respecting rounds (full expansion, which the
    // min-merge makes equivalent to the engine's frontier-only form).
    "q193_temporal_bfs" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e0 AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |e AS (SELECT src, dst,
         |    CAST((src * 31 + dst * 17) % 1000 AS BIGINT) AS ts
         |  FROM e0),
         |a0 AS (SELECT doc_id AS id, CAST(0 AS BIGINT) AS arrival
         |  FROM documents WHERE doc_id % 97 = 0),
         |${tbfsIterSql("a0", "a1")},
         |${tbfsIterSql("a1", "a2")},
         |${tbfsIterSql("a2", "a3")}
         |SELECT id AS doc_id, arrival FROM a3
         |ORDER BY arrival, id LIMIT 25""".stripMargin,
    // Same symmetrized degree pairs, same five-moment normal-equation
    // algebra (q152's), same null guards.
    "q194_assortativity" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |ue AS (SELECT DISTINCT least(src, dst) AS u,
         |    greatest(src, dst) AS v
         |  FROM e WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
         |  FROM (SELECT u AS id FROM ue UNION ALL SELECT v FROM ue)
         |  GROUP BY 1),
         |sym AS (SELECT u, v FROM ue UNION ALL SELECT v, u FROM ue),
         |p AS (SELECT du.deg AS x, dv.deg AS y
         |  FROM sym JOIN deg du ON sym.u = du.id
         |  JOIN deg dv ON sym.v = dv.id),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
         |  FROM p)
         |SELECT n,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
         |    CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / CAST(n * sxx - sx * sx AS DOUBLE)
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS slope,
         |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
         |    THEN NULL ELSE
         |    CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
         |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |        * CAST(n * syy - sy * sy AS DOUBLE))
         |      AS DECIMAL(20,10)), 6) AS DOUBLE) END AS r
         |FROM m""".stripMargin,
    // Same generated symmetric adjacency; wedge join a–z–b (a < b),
    // per-z floored RA terms, NOT EXISTS edge exclusion, exact
    // Jaccard cross-multiplication.
    "q504_link_prediction" ->
      """WITH docs AS (SELECT doc_id FROM documents),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
        |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
        |  FROM docs CROSS JOIN nc
        |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
        |sym AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM e WHERE src <> dst
        |  UNION ALL SELECT dst, src FROM e WHERE src <> dst)),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        |w AS (SELECT l.src AS a, r.dst AS b, l.dst AS z
        |  FROM sym l JOIN sym r
        |    ON l.dst = r.src AND l.src < r.dst),
        |g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common,
        |    CAST(sum(1000000 // dz.deg) AS BIGINT) AS ra_micro
        |  FROM w JOIN deg dz ON dz.id = w.z GROUP BY 1, 2),
        |cand AS (SELECT * FROM g WHERE NOT EXISTS (
        |  SELECT 1 FROM sym WHERE sym.src = g.a AND sym.dst = g.b))
        |SELECT c.a, c.b, c.common,
        |  CAST((CAST(c.common AS HUGEINT) * 1000000)
        |    // (da.deg + db.deg - c.common) AS BIGINT)
        |    AS jaccard_micro,
        |  c.ra_micro
        |FROM cand c JOIN deg da ON da.id = c.a
        |  JOIN deg db ON db.id = c.b""".stripMargin,

    // Two unrolled LPA sweeps over the same generated edge set (both
    // directions, self-loops out), same (size desc, community) cutoff.
    // q174's LPA CTEs verbatim; canonical distinct pairs, exact
    // HUGEINT Σ(4m·e_c − d_c²), one division by 4m².
    "q219_modularity" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |eu AS (SELECT src, dst FROM e WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e WHERE src <> dst),
         |nodes AS (SELECT DISTINCT src AS id FROM eu),
         |l0 AS (SELECT id, id AS lbl FROM nodes),
         |${lpaIterSql("l0", "l1")},
         |${lpaIterSql("l1", "l2")},
         |ue2 AS (SELECT DISTINCT least(src, dst) AS a,
         |    greatest(src, dst) AS b FROM e WHERE src <> dst),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM ue2),
         |ej AS (SELECT la.lbl AS ca, lb.lbl AS cb FROM ue2
         |  JOIN l2 la ON ue2.a = la.id JOIN l2 lb ON ue2.b = lb.id),
         |ec AS (SELECT ca AS c, CAST(count(*) AS BIGINT) AS e_c
         |  FROM ej WHERE ca = cb GROUP BY 1),
         |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS id FROM ue2 UNION ALL SELECT b FROM ue2)
         |  GROUP BY 1),
         |dc AS (SELECT l2.lbl AS c, CAST(sum(dg.deg) AS BIGINT) AS d_c
         |  FROM dg JOIN l2 ON dg.id = l2.id GROUP BY 1),
         |terms AS (SELECT m_edges,
         |    CAST(4 AS HUGEINT) * m_edges * coalesce(e_c, 0)
         |      - CAST(d_c AS HUGEINT) * d_c AS num
         |  FROM dc LEFT JOIN ec USING (c) CROSS JOIN mm)
         |SELECT m_edges, CAST(count(*) AS BIGINT) AS n_comms,
         |  CAST(round(CAST(CAST(sum(num) AS DOUBLE)
         |    / CAST(CAST(4 AS HUGEINT) * m_edges * m_edges AS DOUBLE)
         |    AS DECIMAL(20,10)), 6) AS DOUBLE) AS modularity
         |FROM terms GROUP BY 1""".stripMargin,
    // Same symmetrized-distinct adjacency; wedge join through the
    // middle endpoint, direct-neighbor/self exclusion, per-node
    // distinct counts, identical rollup.
    "q217_two_hop" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e0 AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |sym AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
         |oneh AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS n_1hop
         |  FROM sym GROUP BY 1),
         |wed AS (SELECT DISTINCT a.src AS id, b.dst AS nb
         |  FROM sym a JOIN sym b ON a.dst = b.src AND b.dst <> a.src),
         |twoh AS (SELECT w.id, CAST(count(*) AS BIGINT) AS n_2hop
         |  FROM wed w ANTI JOIN sym s ON w.id = s.src AND w.nb = s.dst
         |  GROUP BY 1),
         |per AS (SELECT o.id, o.n_1hop, coalesce(t.n_2hop, 0) AS n_2hop
         |  FROM oneh o LEFT JOIN twoh t ON o.id = t.id)
         |SELECT n_1hop, n_2hop, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(id) AS BIGINT) AS id_sum
         |FROM per GROUP BY 1, 2""".stripMargin,
    // Same symmetrized-distinct induced subgraph, three unrolled peel
    // rounds, per-degree rollup with id-sum fingerprint.
    "q216_kcore" ->
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM docs),
         |e0 AS (SELECT doc_id AS src, (doc_id * 7 + k * 13) % nn AS dst
         |  FROM docs CROSS JOIN nc
         |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)),
         |sym AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)),
         |d1 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM sym GROUP BY 1),
         |a1 AS (SELECT src AS id, deg FROM d1 WHERE deg >= 6),
         |e2 AS (SELECT s.src, s.dst FROM sym s
         |  JOIN a1 x ON s.src = x.id JOIN a1 y ON s.dst = y.id),
         |d2 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM e2 GROUP BY 1),
         |a2 AS (SELECT src AS id, deg FROM d2 WHERE deg >= 6),
         |e3 AS (SELECT s.src, s.dst FROM sym s
         |  JOIN a2 x ON s.src = x.id JOIN a2 y ON s.dst = y.id),
         |d3 AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |  FROM e3 GROUP BY 1),
         |a3 AS (SELECT src AS id, deg FROM d3 WHERE deg >= 6)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(id) AS BIGINT) AS id_sum
         |FROM a3 GROUP BY 1""".stripMargin,
    // Same distinct item sets, pair supports from the a<b self-join,
    // lift on exact integers with one double division; same
    // (lift desc, a, b) cutoff.
    "q161_basket_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok,
        |    l_suppkey AS pk FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders),
        |supp AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
        |  FROM items GROUP BY 1),
        |pairs AS (SELECT x.pk AS a, y.pk AS b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items x JOIN items y
        |    ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT a, b, n_ab,
        |  CAST(round(CAST(CAST(n_orders * n_ab AS DOUBLE)
        |    / CAST(sa.n_item * sb.n_item AS DOUBLE)
        |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS lift
        |FROM pairs
        |JOIN supp sa ON pairs.a = sa.pk
        |JOIN supp sb ON pairs.b = sb.pk
        |CROSS JOIN n
        |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin
  )
}
