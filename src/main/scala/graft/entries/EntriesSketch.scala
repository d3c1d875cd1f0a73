package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import graft.ops.Cols.snap4

/** Query surface + DuckDB oracles: probabilistic sketches (HLL/CM/Bloom/KMV) and their joins.
  *
  * Split from the SparkEntry monolith (r14 verdict: 22.9k lines,
  * +25% per round) — entries and their oracles move TOGETHER, are
  * aggregated into the driver contract by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]], and EntrySpec pins key parity across
  * the family objects. Shared fixtures/CTE builders stay on
  * [[SparkEntry]] (private[graft]).
  */
private[graft] object EntriesSketch {
  import SparkEntry._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sketch: SLIDING-WINDOW distinct users via mergeable HLL — raw
    // events fold to per-hour registers ONCE; each hour's registers
    // serve every 3-hour window containing it (explode 3 offsets +
    // per-bucket max — the sketch-union sliding-window pattern, events
    // never re-scanned per window). Exact distincts ride along as the
    // in-query error audit.
    "q166_sliding_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      val offs = explode(array(lit(0), lit(1), lit(2))).as("off")
      val wcol = (col("h") + expr("make_interval(0,0,0,0,off,0,0)")).as("w")
      val winReg = Sketch.hllRegisters(ev, Seq("h"), col("user_id"))
        .select(col("h"), col("bucket"), col("rho"), offs)
        .select(wcol, col("bucket"), col("rho"))
        .groupBy(col("w"), col("bucket")).agg(max(col("rho")).as("rho"))
      val approx = Sketch.hllEstimate(winReg, Seq("w"))
      val exact = ev.select(col("h"), col("user_id"), offs)
        .select(wcol, col("user_id"))
        .groupBy(col("w"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(approx, "w")
    }),
    // Joins/scale: BLOOM-FILTERED runtime join — the semi-join
    // reduction a 100 TB fact×dim join wants: the selective dim side
    // folds to ≤ k·m bloom cells (broadcastable at any dim size), the
    // probe side prefilters map-side with zero false negatives, and
    // the exact join touches only survivors. The false-positive count
    // and the surviving-key revenue are audited in-query.
    "q172_bloom_join" -> ((s, dir) => {
      val dim = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1995-06-01").cast("date"))
        .select(col("o_orderkey"))
      val reg = Sketch.bloomRegisters(dim, col("o_orderkey"))
      val probes = t(s, dir, "lineitem").select(col("l_orderkey")).distinct()
      val pass = Sketch.bloomMightContain(reg, probes, "l_orderkey")
        .filter(col("might_contain")).select(col("l_orderkey"))
      val matched = pass
        .join(dim, pass("l_orderkey") === dim("o_orderkey"))
        .select(col("l_orderkey"))
      val rev = t(s, dir, "lineitem")
        .join(matched, "l_orderkey", "left_semi")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("long").as("rev_c"))
      val counts = probes.agg(count(lit(1)).as("n_probe_keys"))
        .crossJoin(pass.agg(count(lit(1)).as("n_pass")))
        .crossJoin(matched.agg(count(lit(1)).as("n_match")))
      counts.crossJoin(rev)
        .select(col("n_probe_keys"), col("n_pass"), col("n_match"),
          (col("n_pass") - col("n_match")).as("n_false_pos"), col("rev_c"))
    }),
    // Sketch/mixture: SKETCHED vocabulary overlap — per-source HLL
    // registers built ONCE serve every pair: pair-union distincts come
    // from per-bucket register max (the mergeable-sketch property, the
    // q166 trick on the source axis) and intersections from
    // inclusion-exclusion. State is ≤ m registers/source at ANY corpus
    // size — the scale path where q168's exact token self-join becomes
    // the audit.
    "q180_sketched_overlap" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      val reg = Sketch.hllRegisters(st, Seq("source"), col("tok"))
      val singles = Sketch.hllEstimate(reg, Seq("source"))
      val pairs = singles.as("x").join(singles.as("y"),
          col("x.source") < col("y.source"))
        .select(col("x.source").as("a"), col("x.n_approx").as("n_a"),
          col("y.source").as("b"), col("y.n_approx").as("n_b"))
      val members = pairs.select(col("a"), col("b"),
        explode(array(col("a"), col("b"))).as("source"))
      val uReg = members.join(reg, Seq("source"))
        .groupBy(col("a"), col("b"), col("bucket"))
        .agg(max(col("rho")).as("rho"))
      val uEst = Sketch.hllEstimate(uReg, Seq("a", "b"))
        .withColumnRenamed("n_approx", "n_union")
      pairs.join(uEst, Seq("a", "b"))
        .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_union"),
          round((col("n_a") + col("n_b") - col("n_union"))
            .cast("decimal(20,10)"), 2).cast("double").as("n_inter_est"))
        .orderBy(col("n_inter_est").desc, col("a"), col("b")).limit(15)
    }),
    // Sketch: KMV/THETA corpus-overlap — two one-third-overlapping
    // document slices sketched at k=64; intersection/union/Jaccard
    // estimated entirely on sketch-sized register tables (the read a
    // full distinct join of two 100 TB corpora would otherwise cost).
    "q417_kmv_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Sketch.kmvOverlap(
        Sketch.kmvRegisters(d.filter(col("doc_id") % 3 =!= 0), Nil,
          col("text"), 64),
        Sketch.kmvRegisters(d.filter(col("doc_id") % 3 =!= 1), Nil,
          col("text"), 64), 64)
    }),
    // Text/featurize: HASHING-TRICK collision audit — tokens hashed
    // into 256 feature buckets (the feature-hashing featurizer);
    // report the collision structure the trick trades for
    // boundlessness: distinct tokens per bucket, share of colliding
    // buckets, and the OCCURRENCE-mass share landing in colliding
    // buckets (what actually blurs the features). Two aggregates on
    // the (token) and (bucket) domains.
    "q278_feature_hash_audit" -> ((s, dir) => {
      val tokc = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .withColumn("b", Sampling.hashBucket(concat(lit("fh"),
          col("tok")), 256))
      val bk = tokc.groupBy(col("b"))
        .agg(count(lit(1)).as("n_toks"), sum(col("c")).as("mass"))
      bk.agg(count(lit(1)).as("n_buckets_used"),
          sum(col("n_toks")).as("vocab"),
          sum(when(col("n_toks") > 1, 1L).otherwise(0L))
            .as("n_colliding"),
          sum(when(col("n_toks") > 1, col("mass")).otherwise(0L))
            .as("mass_colliding"),
          sum(col("mass")).as("mass_total"))
        .select(col("n_buckets_used"), col("vocab"),
          col("n_colliding"),
          round((col("n_colliding").cast("double") /
            col("n_buckets_used").cast("double"))
            .cast("decimal(20,10)"), 4).cast("double")
            .as("bucket_collision_rate"),
          round((col("mass_colliding").cast("double") /
            col("mass_total").cast("double")).cast("decimal(20,10)"),
            4).cast("double").as("mass_collision_share"))
    }),
    // Systems/placement: CONSISTENT-HASHING ring audit — route every
    // doc to 8 workers (32 vnodes each), then add a 9th and measure
    // who moved: per worker its load share and the share of its keys
    // that LEFT when w8 joined — the ≈1/9 stability property that
    // justifies consistent hashing over mod-n for shard/cache
    // placement. Ring tables broadcast; keys never meet keys.
    "q242_consistent_hash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val w8 = (0 until 8).map(i => s"w$i")
      val o8 = Skew.consistentHashOwners(docs, col("doc_id"), w8, 32)
        .withColumnRenamed("owner", "o8")
      val o9 = Skew.consistentHashOwners(docs, col("doc_id"),
          w8 :+ "w8", 32)
        .withColumnRenamed("owner", "o9")
      val n = docs.agg(count(lit(1)).as("n_total"))
      o8.join(o9, "k")
        .groupBy(col("o8").as("worker"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("o8") =!= col("o9"), 1L).otherwise(0L))
            .as("n_moved_out"))
        .crossJoin(broadcast(n))
        .select(col("worker"), col("n_docs"),
          snap4(col("n_docs"), col("n_total")).as("share"),
          col("n_moved_out"),
          snap4(col("n_moved_out"), col("n_docs")).as("moved_share"))
    }),
    // Events: CUMULATIVE UNIQUE USERS per day — running countDistinct
    // without a distinct-in-window: each user reduces to a first-seen
    // day (one hash agg on the user key), days aggregate to new-user
    // counts, and the running sum walks the tiny day-count table. The
    // growth-curve query at any event volume.
    "q160_cumulative_uniques" -> ((s, dir) => {
      val firstSeen = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"))
      val perDay = firstSeen.groupBy(col("d0").as("d"))
        .agg(count(lit(1)).as("new_users"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(Cols.onePartitionKey(col("d"))).orderBy(col("d"))
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      perDay.withColumn("cum_users", sum(col("new_users")).over(w))
    }),
    // Sketch: join-size estimate from two count-min register tables —
    // the AMS inner-product bound (min over rows of Σ cntA·cntB), next
    // to the exact join size it upper-bounds. No join executed on the
    // sketch path; all-integer registers keep it deterministic.
    "q91_join_size_sketch" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      Sketch.cmJoinSizeEstimate(
          Sketch.cmRegisters(l, col("k")), Sketch.cmRegisters(o, col("k")))
        .crossJoin(l.join(o, "k").agg(count(lit(1)).as("n_exact")))
    }),
    // Frequent: exact heavy hitters (freq ≥ 1/50) over corpus tokens —
    // two-pass Misra-Gries candidates + broadcast-verified exact
    // counts; the oracle is the plain groupBy-having it must equal.
    "q94_heavy_hitters" -> ((s, dir) =>
      Frequent.heavyHitters(
        t(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("tok")),
        col("tok"), 1, 50)),
    // Series: exponentially time-decayed revenue per return flag,
    // 90-day half-life anchored at the corpus max ship date — each
    // term snaps to integer cents so the sum is exact and order-free.
    "q95_decayed_sum" -> ((s, dir) =>
      Resample.decayedSum(t(s, dir, "lineitem"), col("l_returnflag"),
        to_date(col("l_shipdate")), col("l_extendedprice"),
        lit("2001-11-04").cast("date"), 90)),
    // Beyond-reference: engine-portable HyperLogLog — approximate
    // distinct parts per return flag next to the exact count. The
    // register table is the shuffled payload (≤ m tiny rows per group),
    // never the raw values; registers are md5-derived so any engine
    // reproduces the estimate to the rounded digit.
    "q56_hll_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_partkey"))
      val approx = Sketch.hllDistinct(li, Seq("flag"), col("l_partkey"))
      val exact = li.groupBy("flag")
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      exact.join(approx, "flag")
    }),
    // Beyond-reference: the profile-at-every-ingest variant of q57 —
    // same melt + single aggregate, but distinct cardinality from the
    // mergeable HLL sketch (no (col,value) distinct shuffle; state is
    // ≤ cols × 4096 registers). The oracle recomputes the identical
    // register table and estimate arithmetic in DuckDB (q56 lockstep).
    "q68_profile_sketched" -> ((s, dir) =>
      Profile.profileSketched(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),
    // Beyond-reference: engine-portable count-min sketch — point
    // frequencies of probe terms from a d×w register table of exact
    // integer sums (state ≤ d·w cells regardless of stream size,
    // mergeable cellwise; never underestimates). Next to each estimate:
    // the exact count it upper-bounds.
    "q63_cm_frequencies" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("term"))
      val probes = s.createDataFrame(
        Seq(Tuple1("the"), Tuple1("data"), Tuple1("market"), Tuple1("zzznope")))
        .toDF("term")
      val est = Sketch.cmEstimate(Sketch.cmRegisters(terms, col("term")),
        probes, "term")
      val exact = probes.join(terms.groupBy(col("term"))
          .agg(count(lit(1)).as("cnt")), Seq("term"), "left")
        .select(col("term"), coalesce(col("cnt"), lit(0L)).as("n_exact"))
      est.join(exact, "term")
    }),
    // Beyond-reference: Bloom-filter membership — pre-filter probes
    // against a set too large to broadcast exactly, zero false
    // negatives (the cheap side of an ingest-dedup anti-join).
    "q66_bloom_membership" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val reg = Sketch.bloomRegisters(ids, col("doc_id"))
      val probes = s.range(0, 1200).select(col("id").as("doc_id"))
      Sketch.bloomMightContain(reg, probes, "doc_id")
        .groupBy(col("might_contain"))
        .agg(count(lit(1)).as("n"))
    })
  )

  val oracleSql: Map[String, String] = Map(

    // q56's register chain grouped by the exploded window label; the
    // exact side explodes the same 3 offsets.
    "q166_sliding_distinct" ->
      """WITH ev AS (SELECT date_trunc('hour', ts) AS h, user_id
        |  FROM events),
        |hh AS (SELECT h, md5(CAST(user_id AS VARCHAR)) AS hx FROM ev),
        |parts AS (SELECT h, hx, substr(hx, 4, 29) AS rest,
        |    ltrim(substr(hx, 4, 29), '0') AS st
        |  FROM hh),
        |reg AS (SELECT h,
        |    CAST('0x' || substr(hx, 1, 3) AS BIGINT) AS bucket,
        |    max(CASE WHEN length(st) = 0 THEN 117
        |        ELSE (length(rest) - length(st)) * 4 +
        |          (CASE WHEN substr(st, 1, 1) = '1' THEN 3
        |                WHEN substr(st, 1, 1) IN ('2','3') THEN 2
        |                WHEN substr(st, 1, 1) IN ('4','5','6','7') THEN 1
        |                ELSE 0 END) + 1 END) AS rho
        |  FROM parts GROUP BY 1, 2),
        |winreg AS (SELECT h + off * INTERVAL 1 HOUR AS w, bucket,
        |    max(rho) AS rho
        |  FROM reg CROSS JOIN (SELECT unnest([0, 1, 2]) AS off)
        |  GROUP BY 1, 2),
        |agg AS (SELECT w, count(*) AS nb,
        |    CAST(sum(CAST(floor(power(CAST(2.0 AS DOUBLE), 50 - rho))
        |      AS BIGINT)) AS BIGINT) AS sum_fp
        |  FROM winreg GROUP BY 1),
        |est AS (SELECT w,
        |    CAST(round(CAST(CASE WHEN raw <= CAST(10240.0 AS DOUBLE)
        |        AND v > 0
        |        THEN ln(CAST(4096.0 AS DOUBLE) / v) * CAST(4096.0 AS DOUBLE)
        |        ELSE raw END AS DECIMAL(20,10)), 2) AS DOUBLE) AS n_approx
        |  FROM (SELECT w,
        |      (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |         + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
        |        * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |        * power(CAST(2.0 AS DOUBLE), 50)
        |        / (sum_fp + (4096 - nb) * (CAST(1 AS BIGINT) << 50)) AS raw,
        |      CAST(4096 - nb AS DOUBLE) AS v
        |    FROM agg)),
        |ex AS (SELECT h + off * INTERVAL 1 HOUR AS w,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM ev CROSS JOIN (SELECT unnest([0, 1, 2]) AS off)
        |  GROUP BY 1)
        |SELECT ex.w, ex.n_exact, est.n_approx
        |FROM ex JOIN est ON ex.w = est.w""".stripMargin,
    // Same md5 bloom cells (q66's chain) over the filtered dim keys,
    // same pass/match/fp splits, revenue in exact cents.
    "q172_bloom_join" -> {
      val dimBkt = s"CAST(${h60("CAST(i AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)")} % 8192 AS BIGINT)"
      val prbBkt = s"CAST(${h60("CAST(i AS VARCHAR) || '|' || CAST(l_orderkey AS VARCHAR)")} % 8192 AS BIGINT)"
      s"""WITH dim AS (SELECT o_orderkey FROM orders
         |  WHERE o_orderpriority = '1-URGENT'
         |    AND CAST(o_orderdate AS DATE) >= DATE '1995-06-01'),
         |reg AS (SELECT DISTINCT i, $dimBkt AS bucket
         |  FROM dim, range(5) r(i)),
         |probes AS (SELECT DISTINCT l_orderkey FROM lineitem),
         |pb AS (SELECT l_orderkey, i, $prbBkt AS bucket
         |  FROM probes, range(5) r(i)),
         |m AS (SELECT l_orderkey,
         |    sum(CASE WHEN hit IS NULL THEN 0 ELSE 1 END) = 5 AS mc
         |  FROM pb LEFT JOIN (SELECT i, bucket, 1 AS hit FROM reg)
         |    USING (i, bucket)
         |  GROUP BY 1),
         |pass AS (SELECT l_orderkey FROM m WHERE mc),
         |mt AS (SELECT l_orderkey FROM pass
         |  JOIN dim ON l_orderkey = o_orderkey),
         |rev AS (SELECT CAST(sum(CAST(round(l_extendedprice * 100)
         |    AS BIGINT)) AS BIGINT) AS rev_c
         |  FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM mt))
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probe_keys,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pass) AS n_pass,
         |  (SELECT CAST(count(*) AS BIGINT) FROM mt) AS n_match,
         |  (SELECT CAST(count(*) AS BIGINT) FROM pass)
         |    - (SELECT CAST(count(*) AS BIGINT) FROM mt) AS n_false_pos,
         |  rev_c
         |FROM rev""".stripMargin
    },
    // Same per-source registers (q166's md5 chain keyed by source),
    // same pair-union bucket max, same estimate formula both levels.
    "q180_sketched_overlap" ->
      s"""WITH st AS (SELECT source, unnest($tokSql) AS tok
         |  FROM documents),
         |hh AS (SELECT source, md5(tok) AS hx FROM st),
         |parts AS (SELECT source, hx, substr(hx, 4, 29) AS rest,
         |    ltrim(substr(hx, 4, 29), '0') AS st
         |  FROM hh),
         |reg AS (SELECT source,
         |    CAST('0x' || substr(hx, 1, 3) AS BIGINT) AS bucket,
         |    max(CASE WHEN length(st) = 0 THEN 117
         |        ELSE (length(rest) - length(st)) * 4 +
         |          (CASE WHEN substr(st, 1, 1) = '1' THEN 3
         |                WHEN substr(st, 1, 1) IN ('2','3') THEN 2
         |                WHEN substr(st, 1, 1) IN ('4','5','6','7') THEN 1
         |                ELSE 0 END) + 1 END) AS rho
         |  FROM parts GROUP BY 1, 2),
         |${hllEstSql("reg", "source", "se")},
         |pr AS (SELECT x.source AS a, x.est AS n_a,
         |    y.source AS b, y.est AS n_b
         |  FROM se x JOIN se y ON x.source < y.source),
         |mem AS (SELECT a, b, a AS source FROM pr
         |  UNION ALL SELECT a, b, b FROM pr),
         |ureg AS (SELECT a, b, bucket, max(rho) AS rho
         |  FROM mem JOIN reg USING (source) GROUP BY 1, 2, 3),
         |${hllEstSql("ureg", "a, b", "ue")}
         |SELECT pr.a, pr.b, n_a, n_b, ue.est AS n_union,
         |  CAST(round(CAST(n_a + n_b - ue.est AS DECIMAL(20,10)), 2)
         |    AS DOUBLE) AS n_inter_est
         |FROM pr JOIN ue ON pr.a = ue.a AND pr.b = ue.b
         |ORDER BY n_inter_est DESC, pr.a, pr.b LIMIT 15""".stripMargin,
    // Same 60-bit hashes, same k-smallest registers, same
    // (k−1)·2⁶⁰/θ and matched·2⁶⁰/θcut floor estimators.
    "q417_kmv_overlap" -> {
      def regs(p: String, cond: String): String =
        s"""${p}h AS (SELECT DISTINCT ${h60("text")} AS h
           |  FROM documents WHERE $cond),
           |${p}r AS (SELECT h FROM (SELECT h,
           |    row_number() OVER (ORDER BY h) AS p FROM ${p}h)
           |  WHERE p <= 64),
           |${p}e AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
           |    max(h) AS theta FROM ${p}r),
           |${p}v AS (SELECT CASE WHEN n_kept < 64 THEN n_kept
           |      ELSE CAST(CAST(1152921504606846976 AS HUGEINT) * 63
           |        // theta AS BIGINT) END AS ${p}_est,
           |    CASE WHEN n_kept < 64 THEN 1152921504606846976
           |      ELSE theta END AS cut_$p FROM ${p}e)""".stripMargin
      s"""WITH ${regs("a", "doc_id % 3 <> 0")},
         |${regs("b", "doc_id % 3 <> 1")},
         |mt AS (SELECT CAST(count(*) AS BIGINT) AS matched
         |  FROM ar JOIN br USING (h), av, bv
         |  WHERE h < least(cut_a, cut_b)),
         |ur AS (SELECT h FROM (SELECT h,
         |    row_number() OVER (ORDER BY h) AS p FROM (
         |      SELECT DISTINCT h FROM (SELECT h FROM ar
         |        UNION ALL SELECT h FROM br)))
         |  WHERE p <= 64),
         |ue AS (SELECT CAST(count(*) AS BIGINT) AS n_kept,
         |    max(h) AS theta FROM ur),
         |uv AS (SELECT CASE WHEN n_kept < 64 THEN n_kept
         |    ELSE CAST(CAST(1152921504606846976 AS HUGEINT) * 63
         |      // theta AS BIGINT) END AS union_est FROM ue),
         |fin AS (SELECT av.a_est AS n_a_est, bv.b_est AS n_b_est,
         |    mt.matched,
         |    CASE WHEN mt.matched = 0 THEN CAST(0 AS BIGINT)
         |      WHEN least(cut_a, cut_b) = 1152921504606846976
         |        THEN mt.matched
         |      ELSE CAST(CAST(mt.matched AS HUGEINT)
         |        * 1152921504606846976 // least(cut_a, cut_b)
         |        AS BIGINT) END AS inter_est,
         |    uv.union_est
         |  FROM av, bv, mt, uv)
         |SELECT n_a_est, n_b_est, matched, inter_est, union_est,
         |  CASE WHEN union_est = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(CAST(inter_est AS HUGEINT) * 1000000
         |      // union_est AS BIGINT) END AS jaccard_micro
         |FROM fin""".stripMargin
    },
    // Same 256-bucket md5 hashing, same collision aggregates.
    "q278_feature_hash_audit" ->
      s"""WITH tokc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest($tokSql) AS tok FROM documents)
         |  GROUP BY 1),
         |tb AS (SELECT ${h60("'fh' || tok")} % 256 AS b, c FROM tokc),
         |bk AS (SELECT b, CAST(count(*) AS BIGINT) AS n_toks,
         |    CAST(sum(c) AS BIGINT) AS mass FROM tb GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets_used,
         |  CAST(sum(n_toks) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN n_toks > 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_colliding,
         |  CAST(round(CAST(CAST(sum(CASE WHEN n_toks > 1 THEN 1
         |    ELSE 0 END) AS DOUBLE) / count(*) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS bucket_collision_rate,
         |  CAST(round(CAST(CAST(sum(CASE WHEN n_toks > 1 THEN mass
         |    ELSE 0 END) AS DOUBLE) / sum(mass) AS DECIMAL(20,10)),
         |    4) AS DOUBLE) AS mass_collision_share
         |FROM bk""".stripMargin,
    // Same md5 ring/key hashes, clockwise pick via the correlated
    // (p, w)-ordered first point, same wrap rule and 4dp snaps.
    "q242_consistent_hash" ->
      s"""WITH r8 AS (SELECT 'w' || CAST(t.i AS VARCHAR) AS w,
         |    ${h60("'ring:w' || CAST(t.i AS VARCHAR) || ':' || CAST(u.v AS VARCHAR)")}
         |      AS p
         |  FROM range(0, 8) t(i) CROSS JOIN range(0, 32) u(v)),
         |r9 AS (SELECT 'w' || CAST(t.i AS VARCHAR) AS w,
         |    ${h60("'ring:w' || CAST(t.i AS VARCHAR) || ':' || CAST(u.v AS VARCHAR)")}
         |      AS p
         |  FROM range(0, 9) t(i) CROSS JOIN range(0, 32) u(v)),
         |dk AS (SELECT CAST(doc_id AS VARCHAR) AS k,
         |    ${h60("'doc:' || CAST(doc_id AS VARCHAR)")} AS hd
         |  FROM documents),
         |o8 AS (SELECT k, coalesce(
         |    (SELECT r.w FROM r8 r WHERE r.p >= d.hd
         |     ORDER BY r.p, r.w LIMIT 1),
         |    (SELECT w FROM r8 ORDER BY p, w LIMIT 1)) AS o8
         |  FROM dk d),
         |o9 AS (SELECT k, coalesce(
         |    (SELECT r.w FROM r9 r WHERE r.p >= d.hd
         |     ORDER BY r.p, r.w LIMIT 1),
         |    (SELECT w FROM r9 ORDER BY p, w LIMIT 1)) AS o9
         |  FROM dk d),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM dk)
         |SELECT o8 AS worker, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(round(CAST(CAST(count(*) AS DOUBLE)
         |    / CAST(n_total AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS share,
         |  CAST(sum(CASE WHEN o8 <> o9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_moved_out,
         |  CAST(round(CAST(
         |    CAST(sum(CASE WHEN o8 <> o9 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS DECIMAL(20,10)), 4)
         |    AS DOUBLE) AS moved_share
         |FROM o8 JOIN o9 USING (k) CROSS JOIN nn
         |GROUP BY o8, n_total""".stripMargin,
    // Per-user first-seen day → per-day new users → running sum over
    // the aggregated day table.
    "q160_cumulative_uniques" ->
      """WITH fs AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
        |  FROM events GROUP BY 1),
        |pd AS (SELECT d0 AS d, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fs GROUP BY 1)
        |SELECT d, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM pd""".stripMargin,
    // Identical register construction (q63's row|value md5 bucket);
    // the inner product and min are exact integer arithmetic.
    "q91_join_size_sketch" -> {
      def bucket(v: String) =
        s"CAST(${h60(s"CAST(i AS VARCHAR) || '|' || CAST($v AS VARCHAR)")} % 1024 AS BIGINT)"
      s"""WITH ra AS (
         |  SELECT i, ${bucket("l_orderkey")} AS bucket, count(*) AS ca
         |  FROM lineitem, range(4) r(i) GROUP BY 1, 2),
         |rb AS (
         |  SELECT i, ${bucket("o_orderkey")} AS bucket, count(*) AS cb
         |  FROM orders, range(4) r(i) GROUP BY 1, 2),
         |rows_ AS (
         |  SELECT i, sum(ca * cb) AS rowsum
         |  FROM ra JOIN rb USING (i, bucket) GROUP BY 1),
         |allrows AS (
         |  SELECT r.i, coalesce(rows_.rowsum, 0) AS rowsum
         |  FROM range(4) r(i) LEFT JOIN rows_ ON r.i = rows_.i),
         |exact AS (
         |  SELECT count(*) AS n_exact FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey)
         |SELECT CAST(min(rowsum) AS BIGINT) AS join_size_est,
         |  CAST(n_exact AS BIGINT) AS n_exact
         |FROM allrows CROSS JOIN exact
         |GROUP BY n_exact""".stripMargin
    },
    // The one-pass groupBy-having the two-pass MG path must equal.
    "q94_heavy_hitters" ->
      s"""WITH it AS (SELECT unnest($tokSql) AS item FROM documents),
         |c AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt
         |  FROM it WHERE item IS NOT NULL GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
         |SELECT item, cnt FROM c CROSS JOIN tot
         |WHERE cnt * 50 >= n * 1""".stripMargin,
    // Same per-term arithmetic order: cents (exact) × one double pow,
    // rounded to BIGINT before the sum.
    "q95_decayed_sum" ->
      """WITH f AS (SELECT l_returnflag AS grp,
        |    date_diff('day', CAST(l_shipdate AS DATE),
        |      DATE '2001-11-04') AS delta,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(cents * power(CAST(0.5 AS DOUBLE),
        |      CAST(delta AS DOUBLE) / 90)) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS decayed_sum
        |FROM f WHERE delta >= 0 AND delta <= 1800
        |GROUP BY 1""".stripMargin,
    // Lockstep HLL: same md5 bucketing/rho, same exact fixed-point
    // register sum (order-independent), same estimate arithmetic with
    // every constant forced to DOUBLE (a bare 0.7213 would be DECIMAL
    // in DuckDB and diverge).
    "q56_hll_distinct" ->
      """WITH h AS (
        |  SELECT l_returnflag AS flag, md5(CAST(l_partkey AS VARCHAR)) AS hx
        |  FROM lineitem),
        |parts AS (
        |  SELECT flag, hx, substr(hx, 4, 29) AS rest,
        |    ltrim(substr(hx, 4, 29), '0') AS st
        |  FROM h),
        |reg AS (
        |  SELECT flag, CAST('0x' || substr(hx, 1, 3) AS BIGINT) AS bucket,
        |    max(CASE WHEN length(st) = 0 THEN 117
        |        ELSE (length(rest) - length(st)) * 4 +
        |          (CASE WHEN substr(st, 1, 1) = '1' THEN 3
        |                WHEN substr(st, 1, 1) IN ('2','3') THEN 2
        |                WHEN substr(st, 1, 1) IN ('4','5','6','7') THEN 1
        |                ELSE 0 END) + 1 END) AS rho
        |  FROM parts GROUP BY 1, 2),
        |agg AS (
        |  SELECT flag, count(*) AS nb,
        |    CAST(sum(CAST(floor(power(CAST(2.0 AS DOUBLE), 50 - rho))
        |      AS BIGINT)) AS BIGINT) AS sum_fp
        |  FROM reg GROUP BY 1),
        |est AS (
        |  SELECT flag,
        |    CAST(round(CAST(CASE WHEN raw <= CAST(10240.0 AS DOUBLE) AND v > 0
        |        THEN ln(CAST(4096.0 AS DOUBLE) / v) * CAST(4096.0 AS DOUBLE)
        |        ELSE raw END AS DECIMAL(20,10)), 2) AS DOUBLE) AS n_approx
        |  FROM (SELECT flag,
        |      (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |         + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
        |        * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |        * power(CAST(2.0 AS DOUBLE), 50)
        |        / (sum_fp + (4096 - nb) * (CAST(1 AS BIGINT) << 50)) AS raw,
        |      CAST(4096 - nb AS DOUBLE) AS v
        |    FROM agg))
        |SELECT x.flag AS flag, x.n_exact, e.n_approx
        |FROM (SELECT l_returnflag AS flag, count(DISTINCT l_partkey) AS n_exact
        |      FROM lineitem GROUP BY 1) x
        |JOIN est e USING (flag)""".stripMargin,
    // profileSketched in lockstep: the same melt (col_name, string
    // rendering) feeds the q56 HLL register/estimate arithmetic keyed by
    // col_name; plain counts/bounds come from the same melted relation.
    "q68_profile_sketched" ->
      """WITH m AS (
        |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS sval,
        |    CAST(doc_id AS DOUBLE) AS nval FROM documents
        |  UNION ALL SELECT 'lang', lang, CAST(NULL AS DOUBLE) FROM documents
        |  UNION ALL SELECT 'source', source, CAST(NULL AS DOUBLE) FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR),
        |    CAST(n_chars AS DOUBLE) FROM documents),
        |base AS (
        |  SELECT col_name, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN sval IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    min(nval) AS min_num, max(nval) AS max_num
        |  FROM m GROUP BY 1),
        |h AS (SELECT col_name, md5(sval) AS hx FROM m WHERE sval IS NOT NULL),
        |parts AS (
        |  SELECT col_name, hx, substr(hx, 4, 29) AS rest,
        |    ltrim(substr(hx, 4, 29), '0') AS st
        |  FROM h),
        |reg AS (
        |  SELECT col_name, CAST('0x' || substr(hx, 1, 3) AS BIGINT) AS bucket,
        |    max(CASE WHEN length(st) = 0 THEN 117
        |        ELSE (length(rest) - length(st)) * 4 +
        |          (CASE WHEN substr(st, 1, 1) = '1' THEN 3
        |                WHEN substr(st, 1, 1) IN ('2','3') THEN 2
        |                WHEN substr(st, 1, 1) IN ('4','5','6','7') THEN 1
        |                ELSE 0 END) + 1 END) AS rho
        |  FROM parts GROUP BY 1, 2),
        |agg AS (
        |  SELECT col_name, count(*) AS nb,
        |    CAST(sum(CAST(floor(power(CAST(2.0 AS DOUBLE), 50 - rho))
        |      AS BIGINT)) AS BIGINT) AS sum_fp
        |  FROM reg GROUP BY 1),
        |est AS (
        |  SELECT col_name,
        |    CAST(round(CAST(CASE WHEN raw <= CAST(10240.0 AS DOUBLE) AND v > 0
        |        THEN ln(CAST(4096.0 AS DOUBLE) / v) * CAST(4096.0 AS DOUBLE)
        |        ELSE raw END AS DECIMAL(20,10)), 2) AS DOUBLE) AS n_approx
        |  FROM (SELECT col_name,
        |      (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)
        |         + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE)))
        |        * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
        |        * power(CAST(2.0 AS DOUBLE), 50)
        |        / (sum_fp + (4096 - nb) * (CAST(1 AS BIGINT) << 50)) AS raw,
        |      CAST(4096 - nb AS DOUBLE) AS v
        |    FROM agg))
        |SELECT b.col_name AS col_name, b.n_rows, b.n_nulls,
        |  coalesce(e.n_approx, CAST(0.0 AS DOUBLE)) AS n_distinct_approx,
        |  b.min_num, b.max_num
        |FROM base b LEFT JOIN est e USING (col_name)""".stripMargin,
    "q63_cm_frequencies" -> {
      def bucket(term: String) =
        s"CAST(${h60(s"CAST(i AS VARCHAR) || '|' || $term")} % 1024 AS BIGINT)"
      s"""WITH tk AS (SELECT unnest($tokSql) AS term FROM documents),
         |rb AS (
         |  SELECT i, ${bucket("term")} AS bucket, count(*) AS cnt
         |  FROM tk, range(4) r(i) GROUP BY 1, 2),
         |probes AS (
         |  SELECT unnest(['the','data','market','zzznope']) AS term),
         |pb AS (SELECT term, i, ${bucket("term")} AS bucket
         |       FROM probes, range(4) r(i)),
         |est AS (
         |  SELECT term, min(coalesce(cnt, 0)) AS cm_est
         |  FROM pb LEFT JOIN rb USING (i, bucket) GROUP BY term),
         |exact AS (
         |  SELECT p.term, CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_exact
         |  FROM probes p LEFT JOIN
         |    (SELECT term, count(*) AS cnt FROM tk GROUP BY 1) c
         |    USING (term))
         |SELECT term, cm_est, n_exact FROM est JOIN exact USING (term)""".stripMargin
    },
    "q66_bloom_membership" -> {
      val bkt = s"CAST(${h60("CAST(i AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)")} % 8192 AS BIGINT)"
      s"""WITH reg AS (
         |  SELECT DISTINCT i, $bkt AS bucket
         |  FROM documents, range(5) r(i)),
         |probes AS (SELECT range AS doc_id FROM range(0, 1200)),
         |pb AS (SELECT doc_id, i, $bkt AS bucket
         |       FROM probes, range(5) r(i)),
         |m AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN hit IS NULL THEN 0 ELSE 1 END) = 5 AS might_contain
         |  FROM pb LEFT JOIN (SELECT i, bucket, 1 AS hit FROM reg)
         |    USING (i, bucket)
         |  GROUP BY 1)
         |SELECT might_contain, count(*) AS n FROM m GROUP BY 1""".stripMargin
    }
  )
}
