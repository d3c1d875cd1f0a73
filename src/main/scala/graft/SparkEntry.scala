package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` exercises one operator family from SURVEY §2 on
  * the driver's synthetic warehouse (TESTDATA.md): `lineitem` plays the
  * stock_prices fact (l_partkey≙symbol, l_shipdate≙date,
  * l_extendedprice≙price, l_quantity≙volume), `part`/`customer`/`nation`/
  * `region` play stock_info-style dimensions, `events` plays the intraday
  * feed, `documents`/`embeddings` drive the training-data-pipeline ops.
  *
  * `oracleSql` holds the DuckDB-equivalent SQL; column aliases match the
  * Spark output exactly (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  // ---- shared building blocks -------------------------------------------

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** q130/q131's crawl-URL corpus: documents with an in-query URL whose
    * noise axes (scheme case, www, default port, tracking params, param
    * order slot, trailing slash, fragment) all collapse under
    * [[Web.canonicalizeUrl]] — doc_ids sharing (source, doc_id%50, an
    * id param) land on one canonical URL, giving real dedup groups.
    */
  private[graft] def crawlUrl(id: Column, source: Column): Column =
    concat(
      when(id % 2 === 0, lit("HTTPS://www.")).otherwise(lit("http://")),
      lit("cdn."), source, lit("-site.net"),
      when(id % 7 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), (id % 50).cast("string"),
      when(id % 4 === 0, lit("/")).otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit("?utm_source=feed&id="),
          (id % 50).cast("string"), lit("&ref=rss")))
        .otherwise(when(id % 5 === 0,
          concat(lit("?id="), (id % 50).cast("string")))
          .otherwise(lit(""))),
      when(id % 6 === 0, lit("#sec")).otherwise(lit("")))

  private[graft] def docUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("text"),
      crawlUrl(col("doc_id"), col("source")).as("url"))

  /** q133/q134's crawl increment: every 4th doc rehosted on an unseen
    * domain (`sourcex`), the rest re-crawled URL noise over known
    * content.
    */
  private[graft] def incUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") + 1000000000).as("nid"),
        when(col("doc_id") % 4 === 0, concat(col("source"), lit("x")))
          .otherwise(col("source")).as("src"))
      .select(crawlUrl(col("nid"), col("src")).as("url"))

  /** q135/q136's synthetic link graph: every doc links to its 3
    * computed neighbors (doc_id·7 + k·13 mod N) — deterministic,
    * self-loops possible and mirrored in the oracle.
    */
  private[graft] def docLinkEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val nc = docs.agg(count(lit(1)).as("nn"))
    // NOT persisted: the graph queries reference this subtree 6–12×
    // per plan, but a persist here was MEASURED SLOWER at sf0.1
    // (q136 3.0→5.3 s, q142 1.1→1.8 s, q135 1.3→1.6 s) — the
    // InMemoryRelation's columnar round-trip costs more than the
    // recomputed 3-rows/doc projection chain (NOTES lesson 23 again).
    docs.crossJoin(broadcast(nc))
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("k"), col("nn"))
      .select(col("src"),
        ((col("src") * 7 + col("k") * 13) % col("nn")).as("dst"))
  }

  /** q123's vector corpus: embeddings plus a first-dimension-perturbed
    * copy (the planted near-dup population).
    */
  private[graft] def q123Vectors(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))
    val pert = t(s, dir, "embeddings").select((col("vec_id") + 1000000000).as("id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x.cast("double") + 0.5).otherwise(x.cast("double"))).as("vec"))
    e.unionByName(pert)
  }

  /** q123's PIPELINE leg — the pair set that feeds cluster dedup. This
    * MUST stay on the ANN-blocked cell kernel; the exact O(n²) kernel
    * appears in q123 only as recall ground truth. Exposed so
    * PhysicalPlanSpec can pin the leg's plan (the full query hides it
    * behind dedupByClusters' checkpoint): no object ops, candidates
    * equi-joined on the cell key.
    */
  private[graft] def q123BlockedPairs(s: SparkSession, dir: String): DataFrame = {
    val all = q123Vectors(s, dir)
    val centroids = all.filter(col("id") < 16)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    Similarity.cosineNearDupPairsCellBlocked(all, centroids, 0.9, nprobe = 2)
      .select(col("id_a"), col("id_b"))
  }

  /** lineitem projected as a bar series: symbol/date/px/vol plus a unique
    * monotone ordinal for deterministic first/last (SURVEY §2.5 A1).
    */
  private[graft] def bars(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.select(
      col("l_partkey").as("symbol"),
      to_date(col("l_shipdate")).as("d"),
      col("l_extendedprice").as("px"),
      col("l_quantity").as("vol"),
      Resample.ordinal(to_date(col("l_shipdate")),
        col("l_orderkey") * 10 + col("l_linenumber")).as("ord"))
  }

  /** Run-scoped root for the stream/storage gate queries' scratch
    * tables and checkpoints: every gate allocates under ONE directory
    * that a JVM shutdown hook deletes recursively, so repeated
    * bench/verify runs don't accumulate /tmp data and a re-run never
    * resumes from a stale checkpoint (r12 advisor finding — the ~30
    * gate queries leaked ~2 dirs per pass each).
    */
  private lazy val gateTmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-gates-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val fs = f.listFiles(); if (fs != null) fs.foreach(rm)
        f.delete(): Unit
      }
      rm(root.toFile)
    }))
    root
  }

  /** A fresh scratch directory under [[gateTmpRoot]] (absolute path). */
  private[graft] def gateTempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(gateTmpRoot, tag)
      .toFile.getAbsolutePath

  /** Write `batches` as ONE parquet file each under base/in with strictly
    * increasing modification times, and open them as the file-stream
    * source (maxFilesPerTrigger=1, schema read back from the files) that
    * replays them as deterministic micro-batches 0..n-1
    * (FileStreamSource orders pending files by mtime; the zero-padded
    * names break any residual tie the same way). This is how the
    * q322/q324 gate queries make a streaming pipeline's MULTI-batch
    * incremental semantics oracle-checkable: the batch split is part of
    * the query definition, so the SQL oracle can replay batch 0's
    * survivors before batch 1.
    */
  private[graft] def replayBatches(s: SparkSession, batches: Seq[DataFrame],
                                   base: String): DataFrame = {
    val in = new java.io.File(base, "in"); in.mkdirs()
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = new java.io.File(base, s"b$i")
      b.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      // batch ordering is LOAD-BEARING (FileStreamSource replays by
      // mtime): name the missing part file instead of an opaque
      // NoSuchElementException, and fail loudly if the filesystem
      // refuses the mtime (Files.setLastModifiedTime throws; the
      // boolean-returning File.setLastModified would fall back to
      // incidental creation mtimes silently) — r12 advisor finding.
      val part = tmp.listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(
          s"replayBatches: no part-*.parquet under ${tmp.getPath}; " +
            s"found ${tmp.listFiles().map(_.getName).mkString(", ")}"))
      val dst = new java.io.File(in, f"$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      java.nio.file.Files.setLastModifiedTime(dst.toPath,
        java.nio.file.attribute.FileTime.fromMillis(1000000L * (i + 1)))
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    s.readStream.schema(s.read.parquet(in.getPath).schema)
      .option("maxFilesPerTrigger", 1).parquet(in.getPath)
  }

  /** Run `body` with spark.sql.shuffle.partitions scoped to `n`,
    * restoring the previous value after. Stateful streaming queries
    * keep state-store instances PER shuffle partition per micro-batch;
    * at the session's 32 partitions the state machinery (not data)
    * dominates a small gate query's cost — measured 13 s -> 5 s on
    * q346 at 8 partitions. The suffix-array gates (q356–q358) scope
    * too: ~50 tiny shuffle stages across 7 doubling rounds + the LCP
    * descent pay per-task overhead, not data — a gate-economics knob
    * that reverses at production scale exactly like the streaming
    * one. Other batch queries never use this.
    *
    * CONTRACT (the r13 verdict ask, spelled out): the pinned values in
    * this file are FIXTURE-SIZED gate economics, never library policy.
    * No operator under `graft.ops`/`graft.streaming`/`graft.sources`
    * sets or assumes a shuffle-partition count — every kernel plans
    * against whatever the session provides, so a production caller
    * owns the knob (set `spark.sql.shuffle.partitions` / AQE advisory
    * sizes for the cluster; at 100 TB that is thousands, not 8). A
    * gate query pinning `n` here states "this fixture's stage graph
    * pays per-task overhead, not data" — the economics reverse at
    * scale and the pin must NOT be copied into production configs.
    */
  private[graft] def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** DuckDB rendering of the same projection (kept in lockstep with bars). */
  private[graft] val barsSql =
    """SELECT l_partkey AS symbol, CAST(l_shipdate AS DATE) AS d,
      |  l_extendedprice AS px, l_quantity AS vol,
      |  date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) * 100000000
      |    + l_orderkey * 10 + l_linenumber AS ord
      |FROM lineitem""".stripMargin

  /** DuckDB week-end-Friday: smallest Friday >= d (isodow: Mon=1..Sun=7). */
  private[graft] val weekEndSqlFn = "d + CAST((5 - isodow(d) + 7) % 7 AS INTEGER)"

  private[graft] def ohlcSql(bucketExpr: String): String =
    s"""SELECT symbol, $bucketExpr AS period,
       |  arg_min(px, ord) AS open, max(px) AS high, min(px) AS low,
       |  arg_max(px, ord) AS close, round(sum(vol), 2) AS volume
       |FROM ($barsSql) GROUP BY symbol, period""".stripMargin

  /** documents ∪ planted near-duplicates (two extra tokens appended) —
    * the dedup-operator test bed: every base doc has one known near-dup.
    */
  private[graft] def docsDup(s: SparkSession, dir: String): DataFrame = {
    // The documents scan is a single parquet task at bench scale while
    // every consumer of this helper runs per-row md5 shingling /
    // sketching — spread the TEXT across the cluster before the heavy
    // projections (NOTES round-6 lesson: output-heavy stages need an
    // explicit spread; this is one small shuffle of raw text, measured
    // ~-30% on the prefix-join family).
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .repartition(s.sessionState.conf.numShufflePartitions)
    d.unionByName(d.select((col("doc_id") + 1000000000).as("doc_id"),
      concat(col("text"), lit(" zz9 qq8")).as("text")))
  }

  private[graft] val docsDupSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000000 AS doc_id, text || ' zz9 qq8' AS text
      |FROM documents""".stripMargin

  /** DuckDB tokenization in lockstep with Text.tokens. */
  private[graft] val tokSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')"""

  /** DuckDB CTE chain replaying the suffix-array semantics for the
    * q356–q358 oracles: the SA order over sentinel-terminated docs
    * equals sorting chr(1)-joined doc-local suffix strings (chr(1)
    * sorts below every corpus char) with doc_id as the exact-tie
    * break; adjacent-pair LCP is the first token mismatch over the
    * exploded token table (doc-local by the same sentinel argument).
    * Terminal CTEs: sa(doc_id, p, l, r), lc(doc_a, pos_a, doc_b,
    * pos_b, lcp). `docFilter` is a WHERE tail on documents.
    */
  /** DuckDB CTE chain replaying LinearModel.logisticGd's 3-iteration
    * trajectory over embeddings with the iterations unrolled (same
    * ×1e6 feature/bias snap, exact HUGEINT margins/gradients, sigmoid
    * snapped ×1e6 — iteration 1's p is exactly 500000 at w = 0 — and
    * round-half-away-from-zero updates). Terminal CTEs: x (id, dim,
    * xi), y (id, ymu), nn, w3 (dim, w) — shared by the q361 weight
    * pin and the q379 calibration scorer.
    */
  private[graft] val logisticGdCtes: String = {
    def iter(i: Int): String =
      s"""m$i AS (SELECT x.id, sum(CAST(x.xi AS HUGEINT) * w${i - 1}.w)
         |    AS m12 FROM x JOIN w${i - 1} USING (dim) GROUP BY 1),
         |p$i AS (SELECT id, CAST(round(1e6 / (1 + exp(
         |    -(CAST(m12 AS DOUBLE) / 1e12)))) AS BIGINT) AS pmu
         |  FROM m$i),
         |g$i AS (SELECT x.dim, sum(CAST(x.xi AS HUGEINT)
         |    * (y.ymu - p$i.pmu)) AS g
         |  FROM x JOIN y USING (id) JOIN p$i USING (id) GROUP BY 1),
         |w$i AS (SELECT w${i - 1}.dim, w${i - 1}.w
         |    + CAST(round(CAST(g$i.g AS DOUBLE) / (nn.n * 1e6))
         |      AS BIGINT) AS w
         |  FROM w${i - 1} JOIN g$i USING (dim), nn)""".stripMargin
    s"""x AS (SELECT vec_id AS id,
       |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
       |      AS BIGINT) AS xi FROM embeddings
       |  UNION ALL SELECT vec_id, CAST(-1 AS INT),
       |    CAST(1000000 AS BIGINT) FROM embeddings),
       |y AS (SELECT vec_id AS id, CAST(CASE WHEN label = 0
       |    THEN 1000000 ELSE 0 END AS BIGINT) AS ymu
       |  FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
       |g1 AS (SELECT x.dim, sum(CAST(x.xi AS HUGEINT)
       |    * (y.ymu - 500000)) AS g
       |  FROM x JOIN y USING (id) GROUP BY 1),
       |w1 AS (SELECT dim, CAST(round(CAST(g AS DOUBLE)
       |    / (nn.n * 1e6)) AS BIGINT) AS w FROM g1, nn),
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  /** q424/q429 eval-pair fixture: reference = document tokens,
    * hypothesis = reference with every 7th position dropped and every
    * 11th ORIGINAL position substituted by "xx". Columns
    * (id, hyp, ref) — token arrays.
    */
  private[graft] def bleuPairs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id").as("id"),
      graft.ops.Text.tokens(col("text")).as("ref"))
    val hyp = when(size(col("ref")) === 0,
      array().cast("array<string>"))
      .otherwise(transform(
        filter(sequence(lit(1), size(col("ref"))), i => i % 7 =!= 0),
        i => when(i % 11 === 0, lit("xx"))
          .otherwise(element_at(col("ref"), i))))
    d.select(col("id"), hyp.as("hyp"), col("ref"))
  }

  /** q456/q458 OPH fixture: element hashes for each %40 doc (ids as
    * is) and its every-9th-token-substituted variant (ids + 1e6) —
    * distinct tokens per side, one 60-bit hash per element.
    */
  private[graft] def ophElems(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    val base = t(s, dir, "documents")
      .filter(col("doc_id") % 40 === 0)
      .select(col("doc_id"), graft.ops.Text.tokens(col("text"))
        .as("tk"))
    val varTk = when(size(col("tk")) === 0,
      array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("tk"))), i =>
        when(i % 9 === 0, concat(lit("zz"), i))
          .otherwise(element_at(col("tk"), i))))
    val withVar = base.withColumn("vk", varTk)
    withVar.select(col("doc_id").as("id"),
        explode(array_distinct(col("tk"))).as("tok"))
      .unionByName(withVar.select((col("doc_id") + 1000000L)
        .as("id"), explode(array_distinct(col("vk"))).as("tok")))
      .select(col("id"), Dedup.hashLong(col("tok")).as("h"))
  }

  /** q415/q419/q421 duel fixture: events rows pair arm ia = user%6
    * against ib = (user//6)%6 (self-duels dropped); the md5 coin
    * hands the win to ia with probability 50 + 8·(ib − ia) percent —
    * a planted skill gradient (lower-indexed arms are stronger).
    * Columns: (winner, loser, event_id).
    */
  private[graft] def duelFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup.hashLong
    val base = t(s, dir, "events").select(
        (col("user_id") % 6).cast("int").as("ia"),
        (floor(col("user_id") / 6).cast("long") % 6).cast("int")
          .as("ib"),
        col("event_id"))
      .filter(col("ia") =!= col("ib"))
    val aWins = hashLong(concat(lit("duel"), col("event_id"))) %
      100 < lit(50) + (col("ib") - col("ia")) * 8
    base.select(
      concat(lit("m"), when(aWins, col("ia")).otherwise(col("ib")))
        .as("winner"),
      concat(lit("m"), when(aWins, col("ib")).otherwise(col("ia")))
        .as("loser"),
      col("event_id"))
  }

  /** DuckDB replay of the q456/q458 OPH chain: %40 docs + their
    * every-9th-substituted variants (ids + 1e6), distinct element
    * hashes, h mod 32 slot minima, rightward-cyclic densification.
    * Terminal CTEs: ha/hb (per-side distinct hashes, unshifted ids)
    * and dens(id, j, v) — the densified 32-slot signatures.
    */
  private[graft] val ophCtes: String =
    s"""d AS (SELECT doc_id, $tokSql AS tk FROM documents
       |  WHERE doc_id % 40 = 0),
       |v AS (SELECT doc_id, tk,
       |    [CASE WHEN i % 9 = 0 THEN 'zz' || CAST(i AS VARCHAR)
       |      ELSE tk[i] END
       |      for i in range(1, len(tk) + 1)] AS vk FROM d),
       |ea AS (SELECT doc_id AS id, unnest(list_distinct(tk))
       |    AS tok FROM v),
       |eb AS (SELECT doc_id AS id, unnest(list_distinct(vk))
       |    AS tok FROM v),
       |ha AS (SELECT DISTINCT id, ${h60("tok")} AS h FROM ea),
       |hb AS (SELECT DISTINCT id, ${h60("tok")} AS h FROM eb),
       |el AS (SELECT id, h FROM ha
       |  UNION ALL SELECT id + 1000000, h FROM hb),
       |mins AS (SELECT id, CAST(h % 32 AS INT) AS slot, min(h) AS v
       |  FROM el GROUP BY 1, 2),
       |ids AS (SELECT DISTINCT id FROM mins),
       |spine AS (SELECT unnest(range(0, 32)) AS j),
       |tsp AS (SELECT unnest(range(0, 32)) AS t),
       |cand AS (SELECT ids.id, spine.j, tsp.t, m.v
       |  FROM ids CROSS JOIN spine CROSS JOIN tsp
       |  JOIN mins m ON m.id = ids.id
       |    AND m.slot = CAST((spine.j + tsp.t) % 32 AS INT)),
       |dens AS (SELECT id, j, v FROM (SELECT *,
       |    row_number() OVER (PARTITION BY id, j ORDER BY t) AS rn
       |  FROM cand) WHERE rn = 1)""".stripMargin

  /** DuckDB replay of the q415/q419 Bradley–Terry arithmetic: duel
    * matrix from the md5 coins over events, then three MM rounds
    * unrolled — every term an exact HUGEINT floor division. Shared by
    * the batch gate (q415) and the streaming gate (q419): the
    * streamed matrix is additive and batch-keyed, so both end at the
    * same totals.
    */
  /** Shared DP-accountant oracle — gates the batch query (q495) and
    * the streaming ledger (q510): the (analyst, part) partials are
    * additive, so both end at the same sequential/parallel sums.
    */
  private[graft] val dpOracleSql: String =
    s"""WITH l AS (SELECT
       |    'a' || CAST(user_id % 7 AS VARCHAR) AS analyst,
       |    event_id % 12 AS part,
       |    1000 + ${h60("'dp' || CAST(event_id AS VARCHAR)")}
       |      % 9000 AS e,
       |    ${h60("'dd' || CAST(event_id AS VARCHAR)")} % 1000 AS d
       |  FROM events),
       |pp AS (SELECT analyst, part,
       |    CAST(count(*) AS BIGINT) AS nq,
       |    CAST(sum(e) AS BIGINT) AS se,
       |    CAST(sum(d) AS BIGINT) AS sd
       |  FROM l GROUP BY 1, 2)
       |SELECT analyst, CAST(sum(nq) AS BIGINT) AS n_queries,
       |  CAST(count(*) AS BIGINT) AS n_partitions,
       |  CAST(sum(se) AS BIGINT) AS eps_seq_micro,
       |  CAST(sum(sd) AS BIGINT) AS delta_seq_nano,
       |  CAST(max(se) AS BIGINT) AS eps_parallel_micro,
       |  CAST(8000000 - sum(se) AS BIGINT) AS eps_remaining_micro,
       |  (sum(se) > 8000000 OR sum(sd) > 800000) AS over_budget
       |FROM pp GROUP BY analyst""".stripMargin

  /** Shared split-conformal oracle (rank formulation over the even-
    * doc_id calibration half, coverage on the odd half) — gates both
    * the batch query (q484, row-rank algebra) and the streaming
    * histogram query (q496, running-count algebra): the accumulated
    * histogram is additive, so both end at the same thresholds.
    */
  private[graft] val conformalOracleSql: String =
    s"""WITH s AS (SELECT lang AS grp, doc_id,
       |    ${h60("'cp' || CAST(doc_id AS VARCHAR)")} % 1000000
       |      AS score FROM documents),
       |c AS (SELECT grp, score,
       |    CAST(row_number() OVER (PARTITION BY grp
       |      ORDER BY score, doc_id) AS BIGINT) AS r
       |  FROM s WHERE doc_id % 2 = 0),
       |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_cal
       |  FROM c GROUP BY 1),
       |a AS (SELECT grp, n_cal, unnest([10, 5, 1]) AS alpha_pct
       |  FROM n),
       |q AS (SELECT a.grp, a.alpha_pct, a.n_cal,
       |    ((a.n_cal + 1) * (100 - a.alpha_pct) + 99) // 100
       |      AS q_rank FROM a),
       |qq AS (SELECT q.grp, q.alpha_pct, q.n_cal, q.q_rank,
       |    c.score AS q_score
       |  FROM q LEFT JOIN c ON c.grp = q.grp AND c.r = q.q_rank),
       |h AS (SELECT grp, score AS hs FROM s WHERE doc_id % 2 <> 0)
       |SELECT qq.grp, CAST(qq.alpha_pct AS INT) AS alpha_pct,
       |  qq.n_cal, CAST(qq.q_rank AS BIGINT) AS q_rank,
       |  CAST(qq.q_score AS BIGINT) AS q_score,
       |  CAST(count(h.hs) AS BIGINT) AS n_holdout,
       |  CAST(sum(CASE WHEN h.hs IS NOT NULL AND (qq.q_score IS NULL
       |      OR h.hs <= qq.q_score) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_covered,
       |  CASE WHEN count(h.hs) = 0 THEN NULL ELSE
       |    CAST((CAST(sum(CASE WHEN h.hs IS NOT NULL
       |        AND (qq.q_score IS NULL OR h.hs <= qq.q_score)
       |        THEN 1 ELSE 0 END) AS HUGEINT) * 1000000)
       |      // count(h.hs) AS BIGINT) END AS coverage_micro
       |FROM qq LEFT JOIN h ON h.grp = qq.grp
       |GROUP BY qq.grp, qq.alpha_pct, qq.n_cal, qq.q_rank,
       |  qq.q_score""".stripMargin

  private[graft] val btOracleSql: String = {
    def mmRound(k: Int): String =
      s"""t$k AS (SELECT nd.i AS item,
         |    sum((CAST(nd.n AS HUGEINT) * 1000000000000)
         |      // greatest(pa.p + pb.p, 1)) AS den
         |  FROM nd JOIN p${k - 1} pa ON pa.item = nd.i
         |    JOIN p${k - 1} pb ON pb.item = nd.j GROUP BY 1),
         |p$k AS (SELECT t$k.item,
         |    CAST((CAST(coalesce(wi.wins, 0) AS HUGEINT)
         |      * 1000000000000) // t$k.den AS BIGINT) AS p
         |  FROM t$k LEFT JOIN wi ON wi.item = t$k.item)""".stripMargin
    s"""WITH base AS (SELECT CAST(user_id % 6 AS INT) AS ia,
       |    CAST((user_id // 6) % 6 AS INT) AS ib, event_id
       |  FROM events WHERE user_id % 6 <> (user_id // 6) % 6),
       |duel AS (SELECT
       |    CASE WHEN CAST('0x'||substr(md5('duel'
       |        ||CAST(event_id AS VARCHAR)),1,15) AS BIGINT) % 100
       |      < 50 + (ib - ia) * 8 THEN ia ELSE ib END AS wn,
       |    CASE WHEN CAST('0x'||substr(md5('duel'
       |        ||CAST(event_id AS VARCHAR)),1,15) AS BIGINT) % 100
       |      < 50 + (ib - ia) * 8 THEN ib ELSE ia END AS lo
       |  FROM base),
       |d AS (SELECT 'm'||CAST(wn AS VARCHAR) AS i,
       |    'm'||CAST(lo AS VARCHAR) AS j, count(*) AS w
       |  FROM duel GROUP BY 1, 2),
       |nd AS (SELECT i, j, CAST(sum(w) AS BIGINT) AS n FROM (
       |    SELECT i, j, w FROM d
       |    UNION ALL SELECT j AS i, i AS j, w FROM d)
       |  GROUP BY 1, 2),
       |wi AS (SELECT i AS item, CAST(sum(w) AS BIGINT) AS wins
       |  FROM d GROUP BY 1),
       |du AS (SELECT i AS item, CAST(sum(n) AS BIGINT) AS duels
       |  FROM nd GROUP BY 1),
       |p0 AS (SELECT item, CAST(1000000 AS BIGINT) AS p FROM du),
       |${mmRound(1)},
       |${mmRound(2)},
       |${mmRound(3)}
       |SELECT du.item, CAST(coalesce(wi.wins, 0) AS BIGINT) AS wins,
       |  du.duels, p3.p AS rating_micro
       |FROM du LEFT JOIN wi ON wi.item = du.item
       |JOIN p3 ON p3.item = du.item""".stripMargin
  }

  /** DuckDB CTE chain replaying gramianFixedPoint(scale 1e3) +
    * topEigenFixedPoint over embeddings: exact HUGEINT Gramian cells,
    * `iters` unrolled power steps (u = G·v exact; us = u // 1e9 floor;
    * norm = sqrt(double(Σus²)); v′ = round(double(us)/norm·1e6)) —
    * every double op correctly rounded in the same order the engine
    * applies it. Terminal CTEs: g0(i, j, g) and v$iters(dim, vm).
    */
  /** The exact-Gramian CTE shared by every power-iteration oracle:
    * terminal CTE g0(i, j, g HUGEINT) over the ×1e3-snapped
    * embeddings.
    */
  private[graft] val gramCtes: String =
    s"""c AS (SELECT list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS c
       |  FROM embeddings),
       |ii AS (SELECT c, unnest(range(1, len(c) + 1)) AS i FROM c),
       |pp AS (SELECT i, c[i] AS ci, unnest(range(1, len(c) + 1)) AS j, c
       |  FROM ii),
       |g0 AS (SELECT CAST(i - 1 AS INTEGER) AS i,
       |    CAST(j - 1 AS INTEGER) AS j,
       |    CAST(sum(ci * c[j]) AS HUGEINT) AS g
       |  FROM pp GROUP BY 1, 2)""".stripMargin

  private[graft] def powerIterCtes(iters: Int): String = {
    def step(k: Int): String =
      s"""u$k AS (SELECT g0.i, sum(g0.g * v${k - 1}.vm) AS u
         |  FROM g0 JOIN v${k - 1} ON v${k - 1}.dim = g0.j GROUP BY 1),
         |us$k AS (SELECT i, u // 1000000000 AS us FROM u$k),
         |n$k AS (SELECT sqrt(CAST(sum(us * us) AS DOUBLE)) AS nrm
         |  FROM us$k),
         |v$k AS (SELECT i AS dim, CAST(round(CAST(us AS DOUBLE)
         |    / nrm * 1e6) AS BIGINT) AS vm FROM us$k, n$k)""".stripMargin
    s"""$gramCtes,
       |v0 AS (SELECT i AS dim, CAST(1000000 AS BIGINT) AS vm
       |  FROM (SELECT DISTINCT i FROM g0)),
       |${(1 to iters).map(step).mkString(",\n")}""".stripMargin
  }

  /** DuckDB replay of Similarity.topKComponentsFixedPoint: per
    * component c, `iters` power steps over the deflated Gramian
    * g{c−1} (restarting from all-1e6), Rayleigh λ_c = ⌊vᵀGv/vᵀv⌋,
    * then g{c} = g{c−1} − ⌊λ_c·vᵢ·vⱼ/1e12⌋ — every `//` the same
    * truncate-toward-zero BigInt division the engine runs. Terminal
    * CTEs per c: vf$c(dim, vm), lam$c(lam).
    */
  private[graft] def deflationCtes(k: Int, iters: Int): String = {
    // every CTE that is referenced more than once downstream is
    // MATERIALIZED: DuckDB inlines plain CTEs, and the deflation
    // chain references g{c-1} from each power step AND the Rayleigh
    // AND the deflate — un-materialized, the expansion is exponential
    // in k·iters and re-opens the parquet scan thousands of times
    // (measured: "Too many open files" at k=3, iters=4)
    def step(c: Int, t: Int): String =
      s"""u${c}_$t AS MATERIALIZED (SELECT g.i, sum(g.g * v.vm) AS u
         |  FROM g${c - 1} g JOIN v${c}_${t - 1} v ON v.dim = g.j
         |  GROUP BY 1),
         |us${c}_$t AS MATERIALIZED (SELECT i, u // 1000000000 AS us
         |  FROM u${c}_$t),
         |n${c}_$t AS MATERIALIZED (SELECT
         |    sqrt(CAST(sum(us * us) AS DOUBLE)) AS nrm
         |  FROM us${c}_$t),
         |v${c}_$t AS MATERIALIZED (SELECT i AS dim,
         |    CAST(round(CAST(us AS DOUBLE)
         |    / nrm * 1e6) AS BIGINT) AS vm FROM us${c}_$t, n${c}_$t)"""
        .stripMargin
    def comp(c: Int): String = {
      val chain =
        s"""v${c}_0 AS MATERIALIZED (SELECT i AS dim,
           |    CAST(1000000 AS BIGINT) AS vm
           |  FROM (SELECT DISTINCT i FROM g0)),
           |${(1 to iters).map(t => step(c, t)).mkString(",\n")},
           |vf$c AS MATERIALIZED (SELECT dim, vm FROM v${c}_$iters),
           |lam$c AS MATERIALIZED (SELECT
           |    (SELECT sum(CAST(va.vm AS HUGEINT) * g.g * vb.vm)
           |     FROM g${c - 1} g JOIN vf$c va ON va.dim = g.i
           |       JOIN vf$c vb ON vb.dim = g.j)
           |    // greatest((SELECT sum(CAST(vm AS HUGEINT) * vm)
           |       FROM vf$c), 1) AS lam)""".stripMargin
      val deflate =
        s"""g$c AS MATERIALIZED (SELECT g.i, g.j,
           |    g.g - (lam.lam * va.vm * vb.vm) // 1000000000000 AS g
           |  FROM g${c - 1} g JOIN vf$c va ON va.dim = g.i
           |    JOIN vf$c vb ON vb.dim = g.j, lam$c lam)""".stripMargin
      if (c < k) s"$chain,\n$deflate" else chain
    }
    s"""${gramCtes.replace("g0 AS (", "g0 AS MATERIALIZED (")},
       |${(1 to k).map(comp).mkString(",\n")}""".stripMargin
  }

  /** DuckDB CTE chain replaying Text.naiveBayesEval (train/holdout
    * split, +1-smoothed log weights snapped *1e6, argmax with
    * deterministic class ties) — terminal CTE pr(id, y, pred).
    * Shared by the q255 confusion pin and the q396 macro-F1.
    */
  /** DuckDB CTE chain replaying the DSIR importance-weight arithmetic
    * (hashed unigram∪bigram buckets mod 4096, per-term ln snaps, exact
    * integer doc weights) — shared by the q397 selection and the q408
    * streaming-router oracles. Terminal CTE: aw(id, is_target,
    * n_feats, w_micro).
    */
  private[graft] val dsirCtes: String =
    s"""d AS (SELECT doc_id, lang = 'en' AS is_target,
       |    $tokSql AS tk FROM documents),
       |f0 AS (SELECT doc_id, is_target, unnest(tk) AS f FROM d
       |  UNION ALL
       |  SELECT doc_id, is_target,
       |    unnest([tk[i + 1] || ' ' || tk[i + 2]
       |      for i in range(0, len(tk) - 1)]) AS f FROM d),
       |fb AS (SELECT doc_id, is_target,
       |    CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % 4096 AS b
       |  FROM f0),
       |c AS (SELECT b, count(*) FILTER (is_target) AS ct,
       |    count(*) FILTER (NOT is_target) AS cr FROM fb GROUP BY 1),
       |tt AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
       |lam AS (SELECT b,
       |    CAST(round(ln(CAST(ct + 1 AS DOUBLE)
       |      / CAST(nt + 4096 AS DOUBLE)) * 1e6) AS BIGINT)
       |    - CAST(round(ln(CAST(cr + 1 AS DOUBLE)
       |      / CAST(nr + 4096 AS DOUBLE)) * 1e6) AS BIGINT) AS lam
       |  FROM c CROSS JOIN tt),
       |w AS (SELECT fb.doc_id, count(*) AS n_feats,
       |    sum(lam.lam) AS w FROM fb JOIN lam USING (b) GROUP BY 1),
       |aw AS (SELECT d.doc_id AS id, d.is_target,
       |    CAST(coalesce(w.n_feats, 0) AS BIGINT) AS n_feats,
       |    CAST(coalesce(w.w, 0) AS BIGINT) AS w_micro
       |  FROM d LEFT JOIN w ON d.doc_id = w.doc_id)""".stripMargin

  private[graft] val naiveBayesCtes: String =
    s"""tg AS (SELECT doc_id AS id, lang AS y, $tokSql AS tk,
       |    ${h60("CAST(doc_id AS VARCHAR)")} % 4 <> 0 AS is_train
       |  FROM documents),
       |occ AS (SELECT id, y, is_train, unnest(tk) AS tok FROM tg),
       |cw AS (SELECT y AS c, tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM occ WHERE is_train GROUP BY 1, 2),
       |nc AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS n_c
       |  FROM cw GROUP BY 1),
       |vd AS (SELECT DISTINCT tok FROM cw),
       |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vd),
       |dc AS (SELECT y AS c, CAST(count(*) AS BIGINT) AS nd_c
       |  FROM tg WHERE is_train GROUP BY 1),
       |nd AS (SELECT CAST(sum(nd_c) AS BIGINT) AS nd FROM dc),
       |cls AS (SELECT c,
       |    CAST(round(ln(CAST(nd_c AS DOUBLE) / nd) * 1000000)
       |      AS BIGINT) AS prior_m,
       |    CAST(round(ln(CAST(1.0 AS DOUBLE) / (n_c + v)) * 1000000)
       |      AS BIGINT) AS def_m
       |  FROM nc JOIN dc USING (c) CROSS JOIN nd CROSS JOIN vv),
       |w AS (SELECT cw.c, cw.tok,
       |    CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / (n_c + v))
       |      * 1000000) AS BIGINT) AS w_m
       |  FROM cw JOIN nc USING (c) CROSS JOIN vv),
       |ho AS (SELECT id, tok FROM occ WHERE NOT is_train),
       |seen AS (SELECT ho.id, w.c, CAST(sum(w.w_m) AS BIGINT)
       |    AS s_seen, CAST(count(*) AS BIGINT) AS n_seen
       |  FROM ho JOIN w ON w.tok = ho.tok GROUP BY 1, 2),
       |niv AS (SELECT ho.id, CAST(count(*) AS BIGINT) AS n_iv
       |  FROM ho JOIN vd ON vd.tok = ho.tok GROUP BY 1),
       |uns AS (SELECT ho.id, CAST(count(*) AS BIGINT) AS n_unseen
       |  FROM ho LEFT JOIN vd ON vd.tok = ho.tok
       |  WHERE vd.tok IS NULL GROUP BY 1),
       |hd AS (SELECT id, y FROM tg WHERE NOT is_train),
       |sc AS (SELECT hd.id, hd.y, cls.c,
       |    cls.prior_m + coalesce(seen.s_seen, 0)
       |      + (coalesce(niv.n_iv, 0) - coalesce(seen.n_seen, 0))
       |        * cls.def_m
       |      + coalesce(uns.n_unseen, 0) * cls.def_m AS score
       |  FROM hd CROSS JOIN cls
       |  LEFT JOIN seen ON seen.id = hd.id AND seen.c = cls.c
       |  LEFT JOIN niv ON niv.id = hd.id
       |  LEFT JOIN uns ON uns.id = hd.id),
       |pr AS (SELECT id, y, c AS pred FROM (SELECT id, y, c,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, c) AS rn FROM sc) WHERE rn = 1)""".stripMargin

  private[graft] def saCteSql(docFilter: String): String =
    saCteSqlFrom(s"SELECT doc_id, text FROM documents WHERE $docFilter")

  /** The nearest-train-neighbor replay shared by the decontamination
    * oracles (q360/q373/q380): on top of [[saCteSqlFrom]]'s `sa`/`et`
    * CTEs, split by `isTrSql` (a boolean over doc_id), walk each eval
    * suffix to its nearest train suffix above/below in SA order,
    * compute both LCPs via the exploded first-mismatch, and roll up
    * per eval doc. Terminal CTE: ag(doc_id, longest_train_match,
    * contaminated_starts ≥ 8).
    */
  private[graft] def saCrossMatchCtes(isTrSql: String): String =
    s"""sa2 AS (SELECT doc_id, p, l, r, ($isTrSql) AS is_tr
       |  FROM sa),
       |nb AS (SELECT doc_id, p, l, r, is_tr,
       |    max(CASE WHEN is_tr THEN r END) OVER (ORDER BY r
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
       |    min(CASE WHEN is_tr THEN r END) OVER (ORDER BY r
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
       |  FROM sa2),
       |ev AS (SELECT * FROM nb WHERE NOT is_tr),
       |pr AS (SELECT e.doc_id AS doc_a, e.p AS pos_a,
       |    s2.doc_id AS doc_b, s2.p AS pos_b, e.r AS er, 'p' AS side,
       |    least(e.l - e.p, s2.l - s2.p) AS mx
       |  FROM ev e JOIN sa s2 ON s2.r = e.pt
       |  UNION ALL SELECT e.doc_id, e.p, s3.doc_id, s3.p, e.r, 'n',
       |    least(e.l - e.p, s3.l - s3.p)
       |  FROM ev e JOIN sa s3 ON s3.r = e.nt),
       |mm2 AS (SELECT pr.er, pr.side, min(ea.i - pr.pos_a) AS fm
       |  FROM pr
       |  JOIN et ea ON ea.doc_id = pr.doc_a AND ea.i > pr.pos_a
       |    AND ea.i <= pr.pos_a + pr.mx
       |  JOIN et eb ON eb.doc_id = pr.doc_b
       |    AND eb.i = pr.pos_b + (ea.i - pr.pos_a)
       |  WHERE ea.tok <> eb.tok GROUP BY 1, 2),
       |bp AS (SELECT pr.doc_a AS doc_id, pr.pos_a AS pos, pr.er,
       |    CAST(coalesce(mm2.fm - 1, pr.mx) AS BIGINT) AS lcp
       |  FROM pr LEFT JOIN mm2 ON mm2.er = pr.er
       |    AND mm2.side = pr.side),
       |bst AS (SELECT doc_id, pos, max(lcp) AS best
       |  FROM bp GROUP BY 1, 2),
       |ag AS (SELECT doc_id,
       |    CAST(max(best) AS BIGINT) AS longest_train_match,
       |    CAST(count(*) FILTER (best >= 8) AS BIGINT)
       |      AS contaminated_starts
       |  FROM bst GROUP BY 1)""".stripMargin

  /** [[saCteSql]] over an arbitrary (doc_id, text) source SQL — the
    * incremental gates corpus train ∪ planted-increment unions.
    */
  private[graft] def saCteSqlFrom(src: String): String =
    s"""tk AS (SELECT doc_id, $tokSql AS tk
       |  FROM ($src)),
       |pos AS (SELECT doc_id, tk, unnest(range(len(tk))) AS p FROM tk),
       |sfx AS (SELECT doc_id, p, len(tk) AS l,
       |    array_to_string(list_slice(tk, p + 1, len(tk)), chr(1)) AS s
       |  FROM pos),
       |sa AS (SELECT doc_id, p, l,
       |    row_number() OVER (ORDER BY s, doc_id) - 1 AS r FROM sfx),
       |et AS (SELECT doc_id, generate_subscripts(tk, 1) AS i,
       |    unnest(tk) AS tok FROM tk),
       |adj AS (SELECT a.doc_id AS doc_a, a.p AS pos_a,
       |    b.doc_id AS doc_b, b.p AS pos_b,
       |    least(a.l - a.p, b.l - b.p) AS mx
       |  FROM sa a JOIN sa b ON b.r = a.r + 1),
       |mm AS (SELECT adj.doc_a, adj.pos_a, adj.doc_b, adj.pos_b,
       |    min(ea.i - adj.pos_a) AS fm
       |  FROM adj
       |  JOIN et ea ON ea.doc_id = adj.doc_a AND ea.i > adj.pos_a
       |    AND ea.i <= adj.pos_a + adj.mx
       |  JOIN et eb ON eb.doc_id = adj.doc_b
       |    AND eb.i = adj.pos_b + (ea.i - adj.pos_a)
       |  WHERE ea.tok <> eb.tok GROUP BY 1, 2, 3, 4),
       |lc AS (SELECT adj.doc_a, adj.pos_a, adj.doc_b, adj.pos_b,
       |    CAST(coalesce(mm.fm - 1, adj.mx) AS BIGINT) AS lcp
       |  FROM adj LEFT JOIN mm USING (doc_a, pos_a, doc_b, pos_b))""".stripMargin

  /** DuckDB crawl-URL expression — SparkEntry.crawlUrl parity over an
    * id expression and a source expression.
    */
  private[graft] def urlSql(id: String, src: String): String =
    s"""((CASE WHEN $id % 2 = 0 THEN 'HTTPS://www.' ELSE 'http://' END) ||
       |    'cdn.' || $src || '-site.net' ||
       |    (CASE WHEN $id % 7 = 0 THEN ':443' ELSE '' END) ||
       |    '/p/' || CAST($id % 50 AS VARCHAR) ||
       |    (CASE WHEN $id % 4 = 0 THEN '/' ELSE '' END) ||
       |    (CASE WHEN $id % 3 = 0
       |          THEN '?utm_source=feed&id=' || CAST($id % 50 AS VARCHAR) ||
       |            '&ref=rss'
       |        WHEN $id % 5 = 0 THEN '?id=' || CAST($id % 50 AS VARCHAR)
       |        ELSE '' END) ||
       |    (CASE WHEN $id % 6 = 0 THEN '#sec' ELSE '' END))""".stripMargin

  /** DuckDB CTE chain applying Web.canonicalizeUrl to the rows of
    * `fromSql` (must yield doc_id, text, url) — terminal CTE
    * `${tag}cu(doc_id, text, host, canonical_url)`. `tag` prefixes every
    * CTE name so two chains (corpus + increment) can share one WITH.
    */
  private[graft] def urlChainSql(tag: String, fromSql: String): String =
    s"""${tag}u AS ($fromSql),
       |${tag}s1 AS (SELECT doc_id, text,
       |    regexp_replace(regexp_replace(url, '#.*$$', ''),
       |      '(?i)^https?://', '') AS ns
       |  FROM ${tag}u),
       |${tag}s2 AS (SELECT doc_id, text,
       |    regexp_replace(regexp_replace(
       |      lower(regexp_extract(ns, '^([^/?]+)', 1)),
       |      '^www\\.', ''), ':(80|443)$$', '') AS host,
       |    regexp_replace(ns, '^[^/?]+', '') AS rest FROM ${tag}s1),
       |${tag}s3 AS (SELECT doc_id, text, host,
       |    regexp_replace(regexp_replace(rest, '\\?.*$$', ''), '/$$', '')
       |      AS path,
       |    CASE WHEN contains(rest, '?')
       |      THEN regexp_replace(rest, '^[^?]*\\?', '') ELSE '' END AS qs
       |  FROM ${tag}s2),
       |${tag}cu AS (SELECT doc_id, text, host,
       |    host || path || CASE WHEN len(kept) > 0
       |      THEN '?' || array_to_string(kept, '&') ELSE '' END
       |      AS canonical_url
       |  FROM (SELECT *, list_sort(list_filter(string_split(qs, '&'),
       |      p -> p <> '' AND NOT regexp_matches(p,
       |        '^(utm_[^=]*|ref|fbclid|gclid)(=|$$)'))) AS kept
       |    FROM ${tag}s3))""".stripMargin

  /** The q130/q131 corpus chain: crawl URLs over documents, terminal
    * CTE `cu`.
    */
  private[graft] val urlCanonCtes: String = urlChainSql("",
    s"""SELECT doc_id, text,
       |    ${urlSql("doc_id", "source")} AS url
       |  FROM documents""".stripMargin)

  /** One DuckDB PageRank iteration from CTE `prev` into CTEs
    * `${tag}c`/`$tag` — Graph.pageRank parity: per-edge contribution
    * snapped ×1e9 pre-sum, damped update in the same association.
    * Expects CTEs e(src, dst), od(src, outdeg), nodes(id), nc(nn).
    */
  private[graft] def prIterSql(prev: String, tag: String): String =
    s"""${tag}c AS (SELECT dst,
       |    sum(CAST(round(pr / CAST(outdeg AS DOUBLE) * 1e9) AS BIGINT))
       |      AS s
       |  FROM e JOIN $prev p ON e.src = p.id JOIN od USING (src)
       |  GROUP BY 1),
       |$tag AS (SELECT nodes.id,
       |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
       |      / CAST(nn AS DOUBLE)
       |    + CAST(0.85 AS DOUBLE)
       |      * (CAST(coalesce(s, 0) AS DOUBLE) / 1e9) AS pr
       |  FROM nodes CROSS JOIN nc
       |  LEFT JOIN ${tag}c ON nodes.id = ${tag}c.dst)""".stripMargin

  /** One DuckDB HITS iteration from hub CTE `hubPrev` into CTEs
    * `${tag}a` (auth) and `${tag}h` (hub) — Graph.hits parity: ×1e9
    * snapped contributions, L1 normalization by the exact integer
    * total. Expects CTEs e(src, dst) and nodes(id).
    */
  private[graft] def hitsIterSql(hubPrev: String, tag: String): String =
    s"""${tag}ac AS (SELECT dst,
       |    sum(CAST(round(hub * 1e9) AS BIGINT)) AS s
       |  FROM e JOIN $hubPrev hp ON e.src = hp.id GROUP BY 1),
       |${tag}at AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM ${tag}ac),
       |${tag}a AS (SELECT nodes.id,
       |    CAST(coalesce(s, 0) AS DOUBLE) / CAST(t AS DOUBLE) AS auth
       |  FROM nodes CROSS JOIN ${tag}at
       |  LEFT JOIN ${tag}ac ON nodes.id = ${tag}ac.dst),
       |${tag}hc AS (SELECT src,
       |    sum(CAST(round(auth * 1e9) AS BIGINT)) AS s
       |  FROM e JOIN ${tag}a ap ON e.dst = ap.id GROUP BY 1),
       |${tag}ht AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM ${tag}hc),
       |${tag}h AS (SELECT nodes.id,
       |    CAST(coalesce(s, 0) AS DOUBLE) / CAST(t AS DOUBLE) AS hub
       |  FROM nodes CROSS JOIN ${tag}ht
       |  LEFT JOIN ${tag}hc ON nodes.id = ${tag}hc.src)""".stripMargin

  /** q144's complete BM25 oracle statement, parameterized by the top-k
    * cutoff so the RRF fusion (q154) reuses the IDENTICAL ranking at a
    * different depth. Every float literal forced DOUBLE, k1+1 computed,
    * per-term ×1e6 snap, ranking on the exact integer sum.
    */
  private[graft] def bm25OracleSql(k: Int): String =
    s"""WITH tk AS (SELECT doc_id, $tokSql AS tk FROM documents),
       |lens AS (SELECT doc_id, CAST(len(tk) AS INT) AS dl FROM tk),
       |corpus AS (SELECT CAST(count(*) AS BIGINT) AS nn,
       |    CAST(sum(dl) AS BIGINT) AS dlt FROM lens),
       |dfall AS (SELECT token, CAST(count(*) AS BIGINT) AS dfw FROM
       |  (SELECT DISTINCT doc_id, unnest(tk) AS token FROM tk)
       |  GROUP BY 1),
       |q AS (SELECT token, dfw FROM dfall ORDER BY dfw DESC, token
       |  LIMIT 3),
       |occ AS (SELECT doc_id, unnest(tk) AS token FROM tk),
       |tf AS (SELECT o.doc_id, o.token, CAST(count(*) AS BIGINT) AS tf
       |  FROM occ o JOIN q ON o.token = q.token GROUP BY 1, 2),
       |terms AS (SELECT tf.doc_id,
       |    CAST(round(
       |      ln(CAST(1.0 AS DOUBLE) + (nn - dfw + CAST(0.5 AS DOUBLE))
       |        / (dfw + CAST(0.5 AS DOUBLE)))
       |      * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
       |      / (tf + CAST(1.2 AS DOUBLE) * ((CAST(1.0 AS DOUBLE)
       |          - CAST(0.75 AS DOUBLE))
       |        + CAST(0.75 AS DOUBLE) * dl * CAST(nn AS DOUBLE)
       |          / CAST(dlt AS DOUBLE)))
       |      * 1e6) AS BIGINT) AS sfp
       |  FROM tf JOIN q USING (token) JOIN lens USING (doc_id)
       |  CROSS JOIN corpus),
       |sc AS (SELECT doc_id, CAST(sum(sfp) AS BIGINT) AS sfp,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM terms GROUP BY 1)
       |SELECT doc_id, n_terms,
       |  CAST(round(CAST(CAST(sfp AS DOUBLE) / 1e6
       |    AS DECIMAL(20,10)), 4) AS DOUBLE) AS score,
       |  row_number() OVER (ORDER BY sfp DESC, doc_id) AS "rank"
       |FROM sc ORDER BY sfp DESC, doc_id LIMIT $k""".stripMargin

  /** One DuckDB personalized-PageRank iteration (Graph
    * .personalizedPageRank parity): seed-concentrated base term,
    * ×1e9 snapped contributions. Expects CTEs e(src, dst),
    * od(src, outdeg) and tg(id, is_seed, ns).
    */
  private[graft] def pprIterSql(prev: String, tag: String): String =
    s"""${tag}c AS (SELECT dst,
       |    sum(CAST(round(pr / CAST(outdeg AS DOUBLE) * 1e9) AS BIGINT))
       |      AS s
       |  FROM e JOIN $prev p ON e.src = p.id JOIN od USING (src)
       |  GROUP BY 1),
       |$tag AS (SELECT tg.id,
       |    (CASE WHEN tg.is_seed THEN
       |        (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
       |          / CAST(tg.ns AS DOUBLE)
       |      ELSE CAST(0.0 AS DOUBLE) END
       |    + CAST(0.85 AS DOUBLE)
       |      * (CAST(coalesce(s, 0) AS DOUBLE) / 1e9)) AS pr
       |  FROM tg LEFT JOIN ${tag}c ON tg.id = ${tag}c.dst)""".stripMargin

  /** One DuckDB temporal-BFS round (Graph.temporalEarliestArrival
    * parity): candidates from time-respecting expansion, merge by
    * min arrival. Expects CTE e(src, dst, ts); full expansion each
    * round (≡ the engine's frontier-only form — see the scaladoc).
    */
  private[graft] def tbfsIterSql(prev: String, tag: String): String =
    s"""${tag}c AS (SELECT e.dst AS id, CAST(min(e.ts) AS BIGINT)
       |    AS arrival
       |  FROM $prev JOIN e ON $prev.id = e.src AND e.ts >= $prev.arrival
       |  GROUP BY 1),
       |$tag AS (SELECT id, min(arrival) AS arrival FROM (
       |    SELECT id, arrival FROM $prev
       |    UNION ALL SELECT id, arrival FROM ${tag}c) GROUP BY 1)"""
      .stripMargin

  /** One DuckDB label-propagation iteration (Graph.labelPropagation
    * parity): neighbor-majority vote, ties to the smallest label,
    * isolated nodes keep their own. Expects CTE eu(src, dst) holding
    * BOTH directions of each undirected edge, self-loops removed.
    */
  private[graft] def lpaIterSql(prev: String, tag: String): String =
    s"""${tag}v AS (SELECT eu.dst AS id, p.lbl, count(*) AS c
       |  FROM eu JOIN $prev p ON eu.src = p.id GROUP BY 1, 2),
       |${tag}w AS (SELECT id, lbl AS new_lbl FROM (
       |  SELECT id, lbl, row_number() OVER (PARTITION BY id
       |    ORDER BY c DESC, lbl ASC) AS rn FROM ${tag}v) WHERE rn = 1),
       |$tag AS (SELECT p.id, coalesce(w.new_lbl, p.lbl) AS lbl
       |  FROM $prev p LEFT JOIN ${tag}w w ON p.id = w.id)""".stripMargin

  /** DuckDB HLL estimate CTE pair over a register CTE `regCte`
    * (Sketch.hllEstimate parity at bHex = 3): emits `${out}g`
    * (grouped register sums) and `$out` ($keys, est). The q166 window
    * chain generalized to any group keys.
    */
  private[graft] def hllEstSql(regCte: String, keys: String, out: String): String =
    s"""${out}g AS (SELECT $keys, count(*) AS nb,
       |    CAST(sum(CAST(floor(power(CAST(2.0 AS DOUBLE), 50 - rho))
       |      AS BIGINT)) AS BIGINT) AS sum_fp
       |  FROM $regCte GROUP BY $keys),
       |$out AS (SELECT $keys,
       |    CAST(round(CAST(CASE WHEN raw <= CAST(10240.0 AS DOUBLE)
       |        AND v > 0
       |        THEN ln(CAST(4096.0 AS DOUBLE) / v) * CAST(4096.0 AS DOUBLE)
       |        ELSE raw END AS DECIMAL(20,10)), 2) AS DOUBLE) AS est
       |  FROM (SELECT $keys,
       |      (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
       |         + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
       |        * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
       |        * power(CAST(2.0 AS DOUBLE), 50)
       |        / (sum_fp + (4096 - nb) * (CAST(1 AS BIGINT) << 50)) AS raw,
       |      CAST(4096 - nb AS DOUBLE) AS v
       |    FROM ${out}g))""".stripMargin

  /** DuckDB equal-count bin-map CTE (Profile.equalCountBinMap parity
    * for the q188 RFM chains): value-level exclusive running counts
    * over CTE `pu`'s column `metric`, bin = ⌊below·bins/nn⌋. Expects
    * CTE nn(nn). Emits `${out}v`, `${out}b`, `$out(v, bin)`.
    */
  private[graft] def rfmBinSql(metric: String, bins: Int, out: String): String =
    s"""${out}v AS (SELECT $metric AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM pu GROUP BY 1),
       |${out}b AS (SELECT v,
       |    COALESCE(CAST(sum(c) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT), 0) AS below
       |  FROM ${out}v),
       |$out AS (SELECT v, CAST((below * $bins) // nn AS INTEGER) AS bin
       |  FROM ${out}b CROSS JOIN nn)""".stripMargin

  /** One DuckDB BPE merge-learning round (Text.bpeLearnMerges parity):
    * count adjacent symbol pairs weighted by word count, pick the
    * (count desc, a, b) best, fuse it in every word via the literal
    * paren-framed replace. `prev` holds (w, cnt) with w framed as
    * "(c1)(c2)…"; exposes ${tag}b (a, b, pc) and $tag (w, cnt).
    */
  private[graft] def bpeIterSql(prev: String, tag: String): String =
    s"""${tag}s AS (SELECT string_split(w[2:-2], ')(') AS s, cnt
       |  FROM $prev),
       |${tag}i AS (SELECT s, cnt, unnest(range(1, len(s))) AS i
       |  FROM ${tag}s),
       |${tag}c AS (SELECT s[i] AS a, s[i+1] AS b,
       |    CAST(sum(cnt) AS BIGINT) AS pc
       |  FROM ${tag}i GROUP BY 1, 2),
       |${tag}b AS (SELECT a, b, pc FROM ${tag}c
       |  ORDER BY pc DESC, a, b LIMIT 1),
       |$tag AS (SELECT replace(w, '(' || a || ')(' || b || ')',
       |    '(' || a || b || ')') AS w, cnt
       |  FROM $prev CROSS JOIN ${tag}b)""".stripMargin

  /** DuckDB word-3-gram distinct shingles over a token list column tk. */
  private[graft] val shingleSql =
    """list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])"""

  /** DuckDB portable 60-bit md5 hash of a string expr (Dedup.hashLong). */
  private[graft] def h60(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** RBO (q238) per-match contribution constants, micro-units:
    * geometric weights via the exact integer recurrence w_1 = 10⁶,
    * w_d = round(0.9·w_{d−1}); cfp(m) = round(Σ_{d=m..k} w_d/d) —
    * computed ONCE here and inlined as literals on both engines so
    * no cross-engine pow() ever runs.
    */
  private[graft] def rboCfp(k: Int): IndexedSeq[Long] = {
    val ws = new Array[Long](k)
    ws(0) = 1000000L
    for (d <- 1 until k) ws(d) = math.round(ws(d - 1) * 0.9)
    (1 to k).map(m =>
      math.round((m to k).map(d => ws(d - 1).toDouble / d).sum))
  }

  /** DuckDB MinHash signature over shingle list `sh`: the universal-hash
    * family of `Dedup.minhashSignatureNative` over md5-60 element hashes. */
  private[graft] def minhashSql(k: Int): String =
    s"""[coalesce(list_min(list_transform(sh,
       |    s -> ((2*i+1) * (${h60("s")} % 2147483647) + 7 + 13*i) % 2147483647)),
       |  2147483647) for i in range(0, $k)]""".stripMargin

  /** DuckDB cosine between two FLOAT[] exprs, double precision
    * (Similarity.cosine parity: cast-then-multiply, sequential sum).
    */
  private[graft] def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b),
       |    q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  /** DuckDB squared L2 between two FLOAT[] exprs, double precision
    * (Similarity.sqDist parity: cast-then-subtract, sequential sum).
    */
  private[graft] def sqdSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |  q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))
       |     * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))))""".stripMargin

  /** DuckDB L2 corpus assignment CTE body under centroid CTE `cent`:
    * rn=1 argmin by (rounded squared L2 asc, cid) over embeddings —
    * Similarity.ivfAssignL2Scored parity, keeping the winning cd.
    */
  private[graft] def l2aSql(cent: String): String =
    s"""SELECT id, vec, cell, cd FROM (
       |  SELECT e.vec_id AS id, e.embedding AS vec, c.cid AS cell,
       |    round(${sqdSql("e.embedding", "c.cvec")}, 6) AS cd,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(${sqdSql("e.embedding", "c.cvec")}, 6), c.cid)
       |      AS rn
       |  FROM embeddings e CROSS JOIN $cent c)
       |  WHERE rn = 1""".stripMargin

  /** DuckDB fixed-point per-dim cell means over assignment CTE
    * `assign` (id, vec, cell) — the exact Lloyd update
    * (Similarity.cellMeans parity: ×1e6 snap BEFORE the sum).
    */
  private[graft] def l2MeanSql(assign: String): String =
    s"""SELECT cell AS cid, list(m ORDER BY pos) AS cvec FROM (
       |  SELECT cell, pos,
       |    CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS m FROM (
       |    SELECT cell, pos, sum(xfp) AS s, count(*) AS n FROM (
       |      SELECT cell, generate_subscripts(vec, 1) - 1 AS pos,
       |        CAST(round(CAST(unnest(vec) AS DOUBLE) * 1e6) AS BIGINT)
       |          AS xfp
       |      FROM $assign)
       |    GROUP BY 1, 2))
       |  GROUP BY 1""".stripMargin

  private[graft] val AnnPlanes = Similarity.planeComponents(8, 64)

  /** DuckDB LSH bucket with the identical plane literals. */
  private[graft] val bucketSql: String = AnnPlanes.zipWithIndex.map { case (pl, p) =>
    s"""(CASE WHEN list_sum(list_transform(list_zip(embedding, [${pl.mkString(",")}]),
       |  q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) > 0
       |  THEN ${1L << p} ELSE 0 END)""".stripMargin
  }.mkString("(", " + ", ")")

  // ---- the query inventory ----------------------------------------------

  /** The driver contract: every oracle-gated query, aggregated from
    * the per-family Entries* objects (split r15 — one object holds a
    * family's queries AND its oracles so they move together; EntrySpec
    * pins queries/oracleSql key parity and the >=479 floor).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EntriesCore.queries ++
    EntriesDedupLinkage.queries ++
    EntriesEventsProduct.queries ++
    EntriesExactSub.queries ++
    EntriesGraphWeb.queries ++
    EntriesLabelsEval.queries ++
    EntriesMisc.queries ++
    EntriesMultimodal.queries ++
    EntriesProfileGov.queries ++
    EntriesSamplingPacking.queries ++
    EntriesSimilarityAnn.queries ++
    EntriesSketch.queries ++
    EntriesStatsExperiments.queries ++
    EntriesStorage.queries ++
    EntriesStreaming.queries ++
    EntriesTextIr.queries

  def oracleSql: Map[String, String] =
    EntriesCore.oracleSql ++
    EntriesDedupLinkage.oracleSql ++
    EntriesEventsProduct.oracleSql ++
    EntriesExactSub.oracleSql ++
    EntriesGraphWeb.oracleSql ++
    EntriesLabelsEval.oracleSql ++
    EntriesMisc.oracleSql ++
    EntriesMultimodal.oracleSql ++
    EntriesProfileGov.oracleSql ++
    EntriesSamplingPacking.oracleSql ++
    EntriesSimilarityAnn.oracleSql ++
    EntriesSketch.oracleSql ++
    EntriesStatsExperiments.oracleSql ++
    EntriesStorage.oracleSql ++
    EntriesStreaming.oracleSql ++
    EntriesTextIr.oracleSql

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * the full composed lifecycle — day bars through validation gates,
    * Friday-anchored weekly resample and period returns (Pipeline
    * .dailySlice), i.e. the reference's richest end-to-end query in one
    * job graph.
    */
  def entry(spark: SparkSession): DataFrame =
    entryFrom(spark,
      sys.env.getOrElse("SPARK_GRAFT_ENTRY_DIR", "/root/testdata/sf0.001"))

  /** entry() against an explicit fixture dir — the seam EntrySpec uses
    * to prove the SPARK_GRAFT_ENTRY_DIR override actually redirects the
    * scan (the env var feeds this parameter and nothing else).
    */
  private[graft] def entryFrom(spark: SparkSession, dir: String): DataFrame = {
    val dayBars = bars(spark, dir)
      .groupBy(col("symbol"), col("d").as("date"))
      .agg(min_by(col("px"), col("ord")).as("open"), max(col("px")).as("high"),
        min(col("px")).as("low"), max_by(col("px"), col("ord")).as("close"),
        round(sum(col("vol")), 2).cast("long").as("volume"))
    // synthetic shipdates are sparse (~3 bars/symbol/6y), so the
    // continuity gate uses a cadence-appropriate threshold — at 14d
    // (daily-bar cadence) every symbol here would be rejected. `weekly`
    // reads the slice's checkpoint, so its release is left to the
    // ContextCleaner, as for the other gate queries.
    Pipeline.dailySlice(dayBars, gapDays = 600, gapSince = "1995-01-01").weekly
  }
}
