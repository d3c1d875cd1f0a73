package graft

import org.apache.spark.sql.functions._
import graft.ops.{Frames, Pipeline, Quality}

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("invalidPriceKeys: any close <= 0 rejects the whole key") {
    // the V1 price verdict is computed inside Pipeline.dailySlice
    val df = Seq(("A", "2024-01-02", 10.0), ("A", "2024-01-03", -1.0),
        ("B", "2024-01-02", 5.0))
      .toDF("symbol", "date", "close")
      .select($"symbol", to_date($"date").as("date"), $"close".as("open"),
        $"close".as("high"), $"close".as("low"), $"close", lit(1L).as("volume"))
    val out = Pipeline.dailySlice(df)
    try {
      val r = out.rejections.as[(String, String)].collect().toSet
      assert(r == Set(("A", Quality.ReasonInvalidPrice)))
      assert(out.weekly.select($"symbol").as[String].collect().toSet == Set("B"))
    } finally Frames.release(out.held)
  }

  test("gapKeys: boundary — gap of exactly maxGapDays passes, one more rejects") {
    val mk = (sym: String, dates: Seq[String]) => dates.map(d => (sym, d))
    val df = (mk("ok14", Seq("2024-01-01", "2024-01-15")) ++  // gap 14 -> pass
      mk("bad15", Seq("2024-01-01", "2024-01-16")) ++          // gap 15 -> reject
      mk("pre", Seq("2023-01-01", "2023-06-01", "2024-02-01", "2024-02-02")))
      .toDF("symbol", "s").select($"symbol", to_date($"s").as("d"))
    val r = Quality.gapKeys(df, $"symbol", $"d", 14, "2024-01-01")
      .as[(String, String)].collect().toSet
    // "pre": the 2023 gap is outside the window; inside it the gap is 1d
    assert(r == Set(("bad15", "gap_15d")))
  }

  test("ohlcViolationKeys + excludeRejected: rejected keys vanish atomically") {
    val bars = Seq(("A", 9.0, 10.0, 12.0), ("B", 9.0, 13.0, 12.0), ("C", 11.5, 11.0, 12.0))
      .toDF("symbol", "low", "close", "high")
    val bad = Quality.ohlcViolationKeys(bars, $"symbol", $"low", $"close", $"high")
    assert(bad.as[(String, String)].collect().toSet ==
      Set(("B", "ohlc_logic_error"), ("C", "ohlc_logic_error")))
    val clean = Reference.excludeRejected(bars, $"symbol", bad)
    assert(clean.select("symbol").as[String].collect().toSeq == Seq("A"))
  }

  test("cusumDrift accumulates positive drift, resets at zero, counts alarms") {
    // series A: values 100,100,100,400,400 -> mu = (1500/5)=220 exactly?
    // 1500/5=300... hand-compute: mu = 1100 div 5 = 220 for the values
    // below; slack 10, threshold 150.
    val rows = Seq(
      ("A", 1, 100L), ("A", 2, 100L), ("A", 3, 100L),
      ("A", 4, 400L), ("A", 5, 400L),
      // series B: flat -> mu == value, every step max(0, -slack) = 0
      ("B", 1, 200L), ("B", 2, 200L), ("B", 3, 200L))
      .toDF("sym", "o", "x")
    // A: mu = 1100 div 5 = 220; steps (x - 230):
    //   100 -> max(0, -130) = 0 (three times)
    //   400 -> 170, alarm (>150); 400 -> 340, alarm
    val out = Quality.cusumDrift(rows, $"sym", $"o", $"x", 10L, 150L)
      .as[(String, Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("A") == ((5, 340L, 2L)))
    assert(out("B") == ((3, 0L, 0L)))
  }

  test("ksStatistic: disjoint supports hit 1.0, identical samples 0.0, " +
      "interleaved is the hand value; bucket width never matters") {
    def ks(rows: Seq[(Boolean, Long)], w: Long) =
      Quality.ksStatistic(rows.toDF("t", "v"), $"t", $"v", w)
        .as[(Long, Long, Double)].head()
    val disjoint = Seq((true, 1L), (true, 2L), (true, 3L),
      (false, 10L), (false, 11L))
    val same = Seq((true, 5L), (true, 7L), (false, 5L), (false, 7L))
    // A={1,3}, B={2,4}: ECDF gaps 1/2 at v∈{1,3}, so D = 0.5
    val inter = Seq((true, 1L), (true, 3L), (false, 2L), (false, 4L))
    for (w <- Seq(1L, 3L, 1000L)) {
      assert(ks(disjoint, w) == ((3L, 2L, 1.0)), s"w=$w")
      assert(ks(same, w) == ((2L, 2L, 0.0)), s"w=$w")
      assert(ks(inter, w) == ((2L, 2L, 0.5)), s"w=$w")
    }
    // duplicate values collapse into one ECDF step, ties across samples
    // cancel: A={1,1,9}, B={1,5}: D at v=1 is |2/3-1/2|=1/6; at v=5
    // |2/3-1|=1/3 -> 0.333333 after the 6-place round
    val dup = Seq((true, 1L), (true, 1L), (true, 9L),
      (false, 1L), (false, 5L))
    assert(ks(dup, 4L) == ((3L, 2L, 0.333333)))
  }

  test("ksLeaveOneOut: each group equals pairwise ksStatistic vs the " +
      "rest, across bucket widths") {
    val rnd = new scala.util.Random(41)
    val rows = Seq("a", "b", "c").flatMap { g =>
      val shift = if (g == "c") 50L else 0L // c genuinely drifts
      Seq.fill(40)((g, rnd.nextInt(100).toLong + shift))
    }
    for (w <- Seq(1L, 7L, 1000L)) {
      val got = Quality.ksLeaveOneOut(rows.toDF("g", "v"), $"g", $"v", w)
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      for (g <- Seq("a", "b", "c")) {
        val tagged = rows.map { case (s, v) => (s == g, v) }
        val want = Quality.ksStatistic(tagged.toDF("t", "v"),
          $"t", $"v", w).as[(Long, Long, Double)].head()
        assert(got(g) == ((want._1, want._2, want._3)), s"g=$g w=$w")
      }
      assert(got("c")._3 > got("a")._3 && got("c")._3 > got("b")._3,
        "the planted drift group must carry the largest D")
    }
  }

  test("tableChecksum: invariant under order/partitioning, sensitive " +
      "to any changed or duplicated row") {
    val rows = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    def ck(df: org.apache.spark.sql.DataFrame) =
      Quality.tableChecksum(df, Seq("k", "v")).as[(Long, Long)].head()
    val base = ck(rows)
    assert(ck(rows.orderBy($"k".desc)) == base)
    assert(ck(rows.repartition(13, $"v")) == base)
    // one changed value flips the checksum but not the count
    val mutated = ck(rows.withColumn("v",
      when($"k" === 50L, lit("vX")).otherwise($"v")))
    assert(mutated._1 == base._1 && mutated._2 != base._2)
    // a row duplicated twice XORs itself out — the count catches it
    val doubled = ck(rows.unionAll(rows.filter($"k" === 7L))
      .unionAll(rows.filter($"k" === 7L)))
    assert(doubled._2 == base._2 && doubled._1 == base._1 + 2,
      "even-count duplication is invisible to XOR; n_rows must differ")
  }

  test("macroF1: one-division F1s on a textbook confusion; a " +
      "never-predicted class scores 0; phantom predicted classes " +
      "hit fp but not the macro denominator") {
    import graft.ops.Quality
    // classes a,b,c with: a tp=4 fp=1 fn=1 (F1 = 8/10);
    // b tp=2 fp=3 fn=2 (F1 = 4/9); c never predicted tp=0 fn=2;
    // phantom class x predicted 3 times, never true
    val conf = Seq(
      ("a", "a", 4L), ("a", "b", 1L), ("b", "a", 1L), ("b", "b", 2L),
      ("b", "x", 2L), ("c", "b", 2L), ("a", "x", 1L))
      .toDF("y", "pred", "n")
    val got = Quality.macroF1(conf, col("y"), col("pred"), col("n"))
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set("a", "b", "c"), "macro over TRUE classes")
    assert(got("a") == (("a", 6L, 4L, 1L, 2L, 727272L, got("a")._7)))
    assert(got("b") == (("b", 5L, 2L, 3L, 3L, 400000L, got("b")._7)))
    assert(got("c") == (("c", 2L, 0L, 0L, 2L, 0L, got("c")._7)))
    // macro = ⌊(727272 + 400000 + 0)/3⌋
    assert(got.values.map(_._7).toSet == Set(375757L))
  }

  test("hubnessStats: planted line geometry gives the expected " +
      "in-degree moments; sum_d = n·k always") {
    import graft.ops.Similarity
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)),
      math.sin(math.toRadians(deg)))
    // 0°,10°,20°,90°, k=1: 0°→10°, 10°→0° (tie on rounded cosine,
    // smaller id), 20°→10°, 90°→20° ⇒ degrees 1,2,1,0
    val vecs = Seq((0L, at(0)), (1L, at(10)), (2L, at(20)),
      (3L, at(90))).toDF("id", "vec")
    val got = Similarity.hubnessStats(vecs, 1)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got == ((4L, 1L, 2L, 1L, 4L, 6L, 10L)))
    // invariant holds at any k: every query emits exactly k edges
    val g2 = Similarity.hubnessStats(vecs, 2)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(g2._5 == 4L * 2L, s"sum_d must be n·k, got ${g2._5}")
  }

  test("cohenKappa: textbook cell counts give the textbook kappa; " +
      "perfect disagreement is −1e6; aligned-degenerate marginals " +
      "yield null") {
    import graft.ops.Quality
    def mk(tt: Int, tf: Int, ft: Int, ff: Int) =
      (Seq.fill(tt)((true, true)) ++ Seq.fill(tf)((true, false)) ++
        Seq.fill(ft)((false, true)) ++ Seq.fill(ff)((false, false)))
        .toDF("a", "b")
    // po = 35/50 = 0.70, pe = (25·30 + 25·20)/2500 = 0.50 → κ = 0.40
    val k = Quality.cohenKappa(mk(20, 5, 10, 15), $"a", $"b")
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])].head()
    assert(k == ((50L, 25L, 30L, 35L, 700000L, 500000L, Some(400000L))))
    // perfect disagreement with symmetric marginals: κ = −1
    val neg = Quality.cohenKappa(mk(0, 25, 25, 0), $"a", $"b")
      .select($"kappa_micro").as[Option[Long]].head()
    assert(neg.contains(-1000000L))
    // both raters constant-true: pe = 1e6, chance correction undefined
    val degen = Quality.cohenKappa(mk(9, 0, 0, 0), $"a", $"b")
      .select($"kappa_micro").as[Option[Long]].head()
    assert(degen.isEmpty)
    // floors are exact, not rounded: po = ⌊2/3·1e6⌋ = 666666
    val f = Quality.cohenKappa(mk(1, 1, 0, 1), $"a", $"b")
      .select($"po_micro").as[Long].head()
    assert(f == 666666L)
  }

  test("passAtK: textbook values, the n-c<k short-circuit, and the " +
      "n<k drop") {
    val rows =
      (1 to 6).map(i => ("t1", i <= 2)) ++ // n=6, c=2
        (1 to 3).map(_ => ("t2", true)) ++ // n=3, c=3 -> certain pass
        Seq(("t3", false))                 // n=1 < k -> dropped
    val df = rows.toDF("task", "ok")
    val got = Quality.passAtK(df, $"task", $"ok", 2)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // pass@2(t1) = 1 - C(4,2)/C(6,2) = 1 - 6/15 = 0.6
    assert(got("t1") == (("t1", 6L, 2L, 333333L, 600000L)))
    assert(got("t2") == (("t2", 3L, 3L, 1000000L, 1000000L)))
    assert(!got.contains("t3"), "tasks with n < k are undefined")
    // monotone in c at fixed n: more correct samples, higher pass@k
    val mono = Quality.passAtK(
        ((1 to 6).map(i => ("a", i <= 1)) ++
          (1 to 6).map(i => ("b", i <= 4))).toDF("task", "ok"),
        $"task", $"ok", 3)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(mono("b") > mono("a"))
  }

  test("confidentJoint: planted flip lands off-diagonal, threshold is " +
    "an exact cross-multiplied mean, argmax ties to the smallest class") {
    import org.apache.spark.sql.functions.col
    // thresholds from given labels: t0 = (900+800)/2 = 850,
    // t1 = (900+800+900)/3 = 866.67 (exact via p*3 >= 2600),
    // t2 = (200+900)/2 = 550
    val rows = Seq(
      (1L, 0, Seq(900L, 100L, 100L)), // pred 0 (diagonal)
      (2L, 0, Seq(800L, 200L, 100L)), // clears nothing -> unconfident
      (3L, 1, Seq(100L, 900L, 100L)), // pred 1 (diagonal)
      (4L, 1, Seq(200L, 800L, 150L)), // 800*3 < 2600 -> unconfident
      (5L, 2, Seq(850L, 100L, 200L)), // 850*2 >= 1700 -> pred 0: FLIP
      (6L, 2, Seq(100L, 100L, 900L)), // pred 2 (diagonal)
      (7L, 1, Seq(900L, 900L, 100L))) // cands {0,1} tie -> pred 0: FLIP
      .toDF("id", "y", "probs")
    val out = Quality.confidentJoint(rows, col("id"), col("y"),
      col("probs"))
      .as[(Int, Int, Long, Long, Long, Long)].collect()
    val cells = out.map(r => (r._1, r._2) -> r._3).toMap
    assert(cells == Map((0, 0) -> 1L, (1, 1) -> 1L, (2, 2) -> 1L,
      (2, 0) -> 1L, (1, 0) -> 1L))
    assert(out.forall(r => r._4 == 2L && r._5 == 2L && r._6 == 7L))
  }

  test("krippendorffAlpha: hand case, perfect agreement, unanimous " +
    "degenerate, constant-R contract") {
    import org.apache.spark.sql.functions.col
    // R = 2; units (1,0) (1,1) (0,0): S = 1, n1 = n0 = 3, N = 6
    // alpha = 1e6 - 5*1*1e6 // (1*3*3) = 1e6 - 555555 = 444445
    val hand = Seq(("u1", true), ("u1", false), ("u2", true),
      ("u2", true), ("u3", false), ("u3", false)).toDF("u", "v")
    val r = Quality.krippendorffAlpha(hand, col("u"), col("v"))
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(r == ((3L, 6L, 3L, 1L, Some(444445L))))
    // zero disagreement with mixed margins -> alpha exactly 1e6
    val perfect = Seq(("u1", true), ("u1", true), ("u2", false),
      ("u2", false)).toDF("u", "v")
    assert(Quality.krippendorffAlpha(perfect, col("u"), col("v"))
      .as[(Long, Long, Long, Long, Option[Long])].head()._5 ==
      Some(1000000L))
    // unanimous corpus: margins degenerate -> null alpha
    val unan = Seq(("u1", true), ("u1", true)).toDF("u", "v")
    assert(Quality.krippendorffAlpha(unan, col("u"), col("v"))
      .as[(Long, Long, Long, Long, Option[Long])].head()._5.isEmpty)
    // varying rater count is a contract violation
    val uneven = Seq(("u1", true), ("u1", false), ("u2", true))
      .toDF("u", "v")
    intercept[IllegalArgumentException] {
      Quality.krippendorffAlpha(uneven, col("u"), col("v"))
    }
  }

  test("committeeVotes: disputed iff not unanimous") {
    import org.apache.spark.sql.functions.col
    def m(ps: (Long, Long)*) = ps.toSeq.toDF("id", "pred")
    val out = Quality.committeeVotes(Seq(
      m(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L),
      m(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L),
      m(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L)))
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 2L, true)))
    assert(out(2L) == ((2L, 3L, 2L, true)))
    assert(out(3L) == ((3L, 3L, 3L, false)))
    assert(out(4L) == ((4L, 3L, 0L, false)))
  }

  test("benfordAudit: exact digit shares, deviation, and TVD") {
    import org.apache.spark.sql.functions.col
    val exp = (1 to 9).map(d => math.round(1e6 * math.log10(1 + 1.0 / d)))
    // 10 values: leading digits 1x5, 2x3, 9x2 (zeros excluded)
    val vals = (Seq(10L, 11L, 199L, 1L, 150L) ++ Seq(2L, 25L, 299L) ++
      Seq(9L, 90L) ++ Seq(0L, -5L)).toDF("c")
    val out = Quality.benfordAudit(vals, col("c"), exp)
      .as[(Int, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1)._2 == 5L && out(1)._3 == 500000L)
    assert(out(2)._2 == 3L && out(2)._3 == 300000L)
    assert(out(9)._2 == 2L && out(9)._3 == 200000L)
    assert(out(3)._2 == 0L && out(3)._3 == 0L)
    val tvd = out.values.map(_._5).sum / 2
    assert(out.values.forall(_._6 == tvd))
  }


  test("pChart: the squared 3-sigma inequality flags only the spike day") {
    import org.apache.spark.sql.functions.col
    // three groups of 100 with 10 defects, one group of 100 with 40
    val rows = (1 to 3).flatMap(g => (1 to 100).map(i =>
      (s"d$g", i <= 10))) ++ (1 to 100).map(i => ("d4", i <= 40))
    val out = Quality.pChart(rows.toDF("g", "bad"), col("g"),
      col("bad")).as[(String, Long, Long, Boolean, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("d4")._4, "the 40% day must trip the band")
    assert(!out("d1")._4 && !out("d2")._4 && !out("d3")._4)
    assert(out.values.forall(r => r._5 == 400L && r._6 == 70L))
  }


  test("matthewsCorrelation: perfect/inverted/degenerate cases") {
    import org.apache.spark.sql.functions.col
    def mk(rows: Seq[(Boolean, Boolean)]) = rows.toDF("p", "l")
    val perfect = mk(Seq((true, true), (true, true), (false, false)))
    assert(Quality.matthewsCorrelation(perfect, col("p"), col("l"))
      .as[(Long, Long, Long, Long, Option[Long])].head()._5 ==
      Some(1000000L))
    val inverted = mk(Seq((true, false), (false, true)))
    assert(Quality.matthewsCorrelation(inverted, col("p"), col("l"))
      .as[(Long, Long, Long, Long, Option[Long])].head()._5 ==
      Some(-1000000L))
    val onlyPos = mk(Seq((true, true), (false, true)))
    assert(Quality.matthewsCorrelation(onlyPos, col("p"), col("l"))
      .as[(Long, Long, Long, Long, Option[Long])].head()._5.isEmpty,
      "an empty marginal nulls MCC")
  }


  test("dawidSkeneStep: a reliable minority flips an unreliable crowd") {
    import org.apache.spark.sql.functions.col
    // items 1..10 establish reliability: g1..g3 vote true everywhere,
    // b1,b2 vote false on 1..6 (earning NEGATIVE log-odds weights).
    // Item 11 is voted only by g1 (true) vs b1,b2 (false): majority
    // goes false, but the weighted vote must flip it to true.
    val rows = (1L to 10L).flatMap { i =>
      Seq(("g1", i, true), ("g2", i, true), ("g3", i, true),
        ("b1", i, i > 6), ("b2", i, i > 6))
    } ++ Seq(("g1", 11L, true), ("b1", 11L, false), ("b2", 11L, false))
    val out = Quality.dawidSkeneStep(rows.toDF("wk", "item", "v"),
      col("item"), col("wk"), col("v"))
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(11L)._3 == 0L, "majority follows the two bad workers")
    assert(out(11L)._4 == 1L && out(11L)._5,
      "the reliable worker's weight flips item 11")
    assert((1L to 10L).forall(i => !out(i)._5), "agreeing items hold")
  }


  test("conformalCalibration: exact ceil-index thresholds, holdout " +
      "coverage, +inf degenerate case, empty holdout null") {
    import org.apache.spark.sql.functions.col
    // cal scores 1..9 in group g: alpha=10% -> idx ceil(10*0.9)=9 ->
    // q=9; alpha=1% -> idx 10 > n_cal -> q null (+inf). Group h has
    // cal but NO holdout rows.
    val cal = ((1 to 9).map(i => ("g", i.toLong, i.toLong)) ++
      Seq(("h", 7L, 1L))).toDF("grp", "score", "o")
    val hold = Seq(("g", 5L), ("g", 10L)).toDF("grp", "score")
    val out = graft.ops.Quality.conformalCalibration(cal, hold,
        Seq(10, 1))
      .as[(String, Int, Long, Long, Option[Long], Long, Long,
        Option[Long])].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out(("g", 10)) ==
      (("g", 10, 9L, 9L, Some(9L), 2L, 1L, Some(500000L))))
    assert(out(("g", 1)) ==
      (("g", 1, 9L, 10L, None, 2L, 2L, Some(1000000L))))
    // n_cal = 1: idx = ceil(2·0.9) = 2 > n_cal -> +inf threshold
    assert(out(("h", 10)) == (("h", 10, 1L, 2L, None, 0L, 0L, None)))
    // uniform random fixture: empirical coverage must sit at or above
    // 1 - alpha within sampling noise (the conformal guarantee)
    val rnd = new scala.util.Random(11)
    val scores = Seq.fill(2000)(rnd.nextInt(1000000).toLong)
    val big = scores.zipWithIndex
      .map { case (sc, i) => ("u", sc, i.toLong) }.toDF("grp", "score", "o")
    val bc = big.filter(col("o") % 2 === 0)
    val bh = big.filter(col("o") % 2 =!= 0).select(col("grp"), col("score"))
    val cov = graft.ops.Quality.conformalCalibration(bc, bh, Seq(10))
      .as[(String, Int, Long, Long, Option[Long], Long, Long,
        Option[Long])].head()._8.get
    assert(cov > 850000L && cov < 960000L, s"coverage $cov")
  }

  test("isotonicCalibration: the minimax closed form pools the " +
    "adjacent violator and leaves monotone bins alone") {
    // bins (width 250000): bin0 rate 0/2, bin1 2/2, bin2 0/2 —
    // PAV pools bins 1,2 to 1/2; bin0 stays 0
    val rows = Seq(
      ("g", 10000L, false), ("g", 20000L, false),
      ("g", 300000L, true), ("g", 310000L, true),
      ("g", 600000L, false), ("g", 610000L, false)).toDF("g", "s", "y")
    val out = Quality.isotonicCalibration(rows, col("g"), col("s"),
        col("y"), 4)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r).toMap
    assert(out(0L) == (("g", 0L, 2L, 0L, 0L, 0L)))
    assert(out(1L) == (("g", 1L, 2L, 2L, 1000000000L, 500000000L)))
    assert(out(2L) == (("g", 2L, 2L, 0L, 0L, 500000000L)))
    // already-monotone input is a fixed point
    val mono = Seq(("m", 10000L, false), ("m", 300000L, true),
      ("m", 310000L, false), ("m", 600000L, true),
      ("m", 610000L, true)).toDF("g", "s", "y")
    val fit = Quality.isotonicCalibration(mono, col("g"), col("s"),
        col("y"), 4)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._2)
    assert(fit.map(_._6).toSeq == Seq(0L, 500000000L, 1000000000L))
    assert(fit.forall(r => r._5 == r._6), "monotone input unchanged")
  }

  test("conformalFromHistogram: running-count thresholds equal the " +
    "rank formulation, including ties and the +inf degenerate case") {
    val rnd = new scala.util.Random(11)
    val cal = (1 to 60).map(i =>
      ("g", rnd.nextInt(20).toLong, i.toLong)) ++ // heavy ties
      Seq(("tiny", 5L, 1L)) // n_cal = 1: alpha 1% -> q_rank 2 > n
    val calDf = cal.toDF("grp", "score", "o")
    val hold = (1 to 30).map(i => ("g", rnd.nextInt(20).toLong)) ++
      Seq(("tiny", 99L))
    val holdDf = hold.toDF("grp", "score")
    val hist = calDf.groupBy($"grp", $"score")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    val a = Quality.conformalCalibration(calDf, holdDf, Seq(10, 5, 1))
      .as[(String, Int, Long, Long, Option[Long], Long, Long,
        Option[Long])].collect().toSet
    val b = Quality.conformalFromHistogram(hist, holdDf, Seq(10, 5, 1))
      .as[(String, Int, Long, Long, Option[Long], Long, Long,
        Option[Long])].collect().toSet
    assert(a == b)
    assert(a.exists(r => r._1 == "tiny" && r._5.isEmpty &&
      r._8.contains(1000000L)), "+inf threshold covers everything")
  }

  test("fairnessAudit: per-group panel rates and gaps against the " +
    "broadcast overall row") {
    val rows = Seq(
      ("A", true, true), ("A", true, false), ("A", false, true),
      ("A", false, false),
      ("B", true, true), ("B", false, false)).toDF("g", "y", "p")
    val out = Quality.fairnessAudit(rows, col("g"), col("y"), col("p"))
      .as[(String, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    // overall: sel 3/6, tpr 2/3, fpr 1/3
    assert(out("A") == (("A", 4L, Some(500000L), Some(500000L),
      Some(500000L), Some(500000L), Some(0L), Some(-166666L),
      Some(166667L))))
    assert(out("B") == (("B", 2L, Some(500000L), Some(1000000L),
      Some(0L), Some(1000000L), Some(0L), Some(333334L),
      Some(-333333L))))
  }

  test("bCubed: contingency algebra equals the per-item definition") {
    // gold {a,b,c},{d,e}; pred {a,b},{c,d,e}:
    // precision items = 1,1,1/3,2/3,2/3 -> mean 11/15; recall items
    // = 2/3,2/3,1/3,1,1 -> same mean; per-cell micro floors first
    val rows = Seq(("a", "P1", "G1"), ("b", "P1", "G1"),
      ("c", "P2", "G1"), ("d", "P2", "G2"), ("e", "P2", "G2"))
      .toDF("id", "p", "g")
    val r = Quality.bCubed(rows, col("id"), col("p"), col("g"))
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    assert(r._1 == 5L && r._2 == 2L && r._3 == 2L)
    assert(r._4.get == 733333L && r._5.get == 733333L)
    assert(r._6.get == 733333L)
    // perfect clustering scores exactly 1e6 on all three
    val perfect = Quality.bCubed(
      rows.select(col("id"), col("g").as("p"), col("g")),
      col("id"), col("p"), col("g"))
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    assert(perfect._4.get == 1000000L && perfect._5.get == 1000000L &&
      perfect._6.get == 1000000L)
  }
}
