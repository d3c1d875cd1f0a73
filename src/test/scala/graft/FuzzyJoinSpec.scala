package graft

import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions
import graft.ops.Text

/** The blocked fuzzy-join stack: the native filter-verify expressions
  * (lev_within ≡ levenshtein, sig_bound soundness), multi-pass blocking
  * recall, the incremental probe composition, and the candidate-density
  * guard.
  */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  // deterministic corpus: ASCII words, multi-byte (2/3-byte UTF-8)
  // strings, empties, and near-identical variants; 4-byte code points
  // (surrogate pairs in Java strings, unsafe to slice by char index)
  // get dedicated fixed pairs below instead
  private val rnd = new scala.util.Random(42)
  private val alphabet = "abcdefghij zX€日"
  private def randStr(n: Int): String =
    (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString

  private lazy val randomPairs: Seq[(String, String)] = {
    val base = (0 until 150).map(_ => randStr(1 + rnd.nextInt(12)))
    val edited = base.map { s =>
      // random single edit: delete, substitute, or insert
      val i = if (s.isEmpty) 0 else rnd.nextInt(s.length)
      rnd.nextInt(3) match {
        case 0 if s.nonEmpty => s.substring(0, i) + s.substring(i + 1)
        case 1 if s.nonEmpty =>
          s.substring(0, i) + alphabet(rnd.nextInt(alphabet.length)) +
            s.substring(i + 1)
        case _ =>
          s.substring(0, i) + alphabet(rnd.nextInt(alphabet.length)) +
            s.substring(i)
      }
    }
    // near pairs, far pairs, identical pairs, empty-vs-non-empty, and
    // 4-byte-code-point pairs (one emoji = one edit unit)
    base.zip(edited) ++ base.zip(base.reverse) ++ base.zip(base) ++
      base.take(5).map(("", _)) ++ Seq(("", ""),
        ("x😀y", "xy"), ("x😀y", "x😀y"), ("😀😀", "😀z😀"), ("a😀", "😀a"))
  }

  test("lev_within equals the built-in levenshtein for every threshold") {
    val df = randomPairs.toDF("a", "b").persist()
    try {
      for (k <- 0 to 4) {
        val bad = df.select(col("a"), col("b"),
            NativeFunctions.levWithin(col("a"), col("b"), k).as("got"),
            when(levenshtein(col("a"), col("b")) <= k,
              levenshtein(col("a"), col("b"))).otherwise(-1).as("want"))
          .filter(col("got") =!= col("want"))
          .collect()
        assert(bad.isEmpty,
          s"k=$k mismatches: ${bad.take(5).mkString(", ")}")
      }
    } finally { df.unpersist(): Unit }
  }

  test("sig_bound is a sound Levenshtein lower bound") {
    val bad = randomPairs.toDF("a", "b")
      .select(col("a"), col("b"),
        NativeFunctions.sigBound(
          NativeFunctions.fuzzySig(col("a")),
          NativeFunctions.fuzzySig(col("b"))).as("bound"),
        levenshtein(col("a"), col("b")).as("lev"))
      .filter(col("bound") > col("lev"))
      .collect()
    assert(bad.isEmpty, s"bound exceeded true distance: ${bad.take(5).mkString(", ")}")
  }

  test("fuzzyJoin matches the unblocked predicate inside its block") {
    // every pair here shares (first char, ±2 length): blocking recalls
    // all of them, so fuzzyJoin must equal brute-force lev<=2
    val refs = Seq((1L, "widget"), (2L, "wodget"), (3L, "wadgets"))
      .toDF("id", "name")
    val probes = Seq((10L, "widgat"), (11L, "wzzzzz"), (12L, "widgetxx"))
      .toDF("id", "name")
    val got = Text.fuzzyJoin(probes, refs, "id", $"name", "id", $"name", 2)
      .as[(Long, Long, Int)].collect().toSet
    val want = probes.as[(Long, String)].collect().flatMap { case (p, pn) =>
      refs.as[(Long, String)].collect().flatMap { case (r, rn) =>
        val d = levDp(pn, rn)
        if (d <= 2) Some((p, r, d)) else None
      }
    }.toSet
    assert(got == want)
  }

  test("multi-block recall: superset of single-block, complete at maxDist=1") {
    // corrupt at the ANCHORS: deleting the first char escapes first-char
    // blocking; deleting the last escapes last-char blocking
    val refs = (0 until 40).map(i => (i.toLong, f"w${i}%02dxyz")).toDF("id", "name")
    val probes = refs.as[(Long, String)].collect().map { case (i, s) =>
      if (i % 2 == 0) (i + 100, s.substring(1)) else (i + 100, s.dropRight(1))
    }.toSeq.toDF("id", "name")

    val single = Text.fuzzyJoin(probes, refs, "id", $"name", "id", $"name", 1)
      .as[(Long, Long, Int)].collect().toSet
    val multi = Text.fuzzyJoinMultiBlock(probes, refs, "id", $"name",
        "id", $"name", 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(single.subsetOf(multi), "multi-block recall must dominate")
    assert(single.size < multi.size,
      "anchor corruption must escape the single pass")

    // ground truth: ALL-PAIRS levenshtein <= 1 (strings all length >= 2,
    // where one edit cannot change both anchors)
    val truth = probes.as[(Long, String)].collect().flatMap { case (p, pn) =>
      refs.as[(Long, String)].collect().flatMap { case (r, rn) =>
        val d = levDp(pn, rn)
        if (d <= 1) Some((p, r, d)) else None
      }
    }.toSet
    assert(multi == truth, "maxDist=1 multi-block must be recall-complete")
  }

  test("segment blocking is recall-COMPLETE at maxDist 1 and 2 (vs all-pairs truth)") {
    // random refs incl. strings shorter than maxDist+1 (the dedicated
    // short path) and multi-byte chars; probes are random corruptions
    // with edits ANYWHERE (anchors included) plus unrelated strings
    val refs = ((0 until 60).map(i => (i.toLong, randStr(2 + rnd.nextInt(10)))) ++
      Seq((90L, ""), (91L, "a"), (92L, "ab"), (93L, "日a")))
      .toDF("id", "name")
    val probeRows = refs.as[(Long, String)].collect().map { case (i, s) =>
      val corrupted = (0 until (1 + (i % 2).toInt)).foldLeft(s) { (x, _) =>
        if (x.isEmpty) "q"
        else {
          val j = rnd.nextInt(x.length)
          rnd.nextInt(3) match {
            case 0 => x.substring(0, j) + x.substring(j + 1)
            case 1 => x.substring(0, j) + "z" + x.substring(j + 1)
            case _ => x.substring(0, j) + "y" + x.substring(j)
          }
        }
      }
      (i + 1000, corrupted)
    }.toSeq ++ Seq((2000L, "totally unrelated and long"), (2001L, ""))
    val probes = probeRows.toDF("id", "name")

    for (k <- Seq(1, 2)) {
      val got = Text.fuzzyJoinSegments(probes, refs, "id", $"name",
          "id", $"name", k)
        .as[(Long, Long, Int)].collect().toSet
      val truth = probeRows.flatMap { case (p, pn) =>
        refs.as[(Long, String)].collect().flatMap { case (r, rn) =>
          val d = levDp(pn, rn)
          if (d <= k) Some((p, r, d)) else None
        }
      }.toSet
      assert(got == truth,
        s"k=$k: missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
    }
  }

  test("incremental fuzzy join = batch run minus old×old") {
    val old = Seq((1L, "alpha"), (2L, "alphax"), (3L, "beta"))
      .toDF("id", "name")
    val batch = Seq((10L, "alpha"), (11L, "alpba"), (12L, "betax"),
      (13L, "gamma")).toDF("id", "name")
    val inc = Text.fuzzyJoinIncremental(old, batch, "id", $"name", 2)
      .as[(Long, Long, Int)].collect().toSet
    // reference: probe batch against everything, drop old×old (probe is
    // always from batch) and keep within-batch pairs once (ref < probe)
    val want = Text.fuzzyJoin(batch, old.unionByName(batch), "id", $"name",
        "id", $"name", 2)
      .filter(col("ref_id") < 10 || col("ref_id") < col("probe_id"))
      .as[(Long, Long, Int)].collect().toSet
    assert(inc == want)
    assert(inc.nonEmpty && inc.exists(_._2 < 10) && inc.exists(_._2 >= 10),
      "fixture must exercise both old and within-batch matches")
  }

  test("lev_within survives k = Int.MaxValue (clamped, no overflow)") {
    // inf = k+1 would overflow to Int.MinValue and corrupt the DP;
    // the clamp bounds k by the longer byte length first
    val bad = randomPairs.toDF("a", "b")
      .select(col("a"), col("b"),
        NativeFunctions.levWithin(col("a"), col("b"), Int.MaxValue)
          .as("got"),
        levenshtein(col("a"), col("b")).as("want"))
      .filter(col("got") =!= col("want"))
      .collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(5).mkString(", ")}")
  }

  test("segment density guard degrades hot blocks, output = unguarded") {
    // a constant vocabulary collapses to ONE distinct string (no hot
    // block possible), so the adversarial case is DISTINCT strings
    // sharing a segment: "aaaa"+unique suffix puts all 60 names in the
    // one (bc="aaaa", seg=0, blen=8) block -> 3600 candidate pairs,
    // far over the 100-pair limit. The guard must SALT that block and
    // still return exactly the unguarded pair set.
    val hot = (0 until 60).map(i => (i.toLong, f"aaaa${i}%04d"))
      .toDF("id", "name")
    val guarded = Text.fuzzyJoinSegments(hot, hot, "id", $"name",
        "id", $"name", 1, maxBlockPairs = 100L)
      .as[(Long, Long, Int)].collect().toSet
    val unguarded = Text.fuzzyJoinSegments(hot, hot, "id", $"name",
        "id", $"name", 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(guarded == unguarded,
      s"salted output diverged: only-guarded=${(guarded -- unguarded).take(5)} " +
        s"only-unguarded=${(unguarded -- guarded).take(5)}")
    assert(guarded.contains((0L, 0L, 0))) // self-pairs survive salting
    // copy-heavy duplicates still collapse instead of going hot
    val const = (0 until 50).map(i => (i.toLong, "samename"))
      .toDF("id", "name")
    val ok = Text.fuzzyJoinSegments(const, const, "id", $"name",
      "id", $"name", 1, maxBlockPairs = 100L)
    assert(ok.count() == 50L * 50L) // all-pairs at dist 0, no blow-up
  }

  test("incremental-segments recalls a first-character edit; " +
      "first-char incremental provably cannot") {
    val old = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
    // probe 10 lost its FIRST char: invisible to first-char blocking
    val batch = Seq((10L, "lpha"), (11L, "betax")).toDF("id", "name")
    val seg = Text.fuzzyJoinIncrementalSegments(old, batch, "id", $"name", 1)
      .as[(Long, Long, Int)].collect().toSet
    val fc = Text.fuzzyJoinIncremental(old, batch, "id", $"name", 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(seg.contains((10L, 1L, 1)), s"segments missed the pair: $seg")
    assert(!fc.contains((10L, 1L, 1)), "fixture no longer demonstrates " +
      "the first-char recall gap")
    assert(seg.contains((11L, 2L, 1)) && fc.contains((11L, 2L, 1)))
  }

  test("first-char density guard salts a pathological block, output = unguarded") {
    // one hot block: same first char, same length -> 60x60 candidates
    // over the 100-pair limit; the guard salts it instead of throwing
    val hot = (0 until 60).map(i => (i.toLong, f"a${i}%03d")).toDF("id", "name")
    val guarded = Text.fuzzyJoin(hot, hot, "id", $"name", "id", $"name", 1,
        maxBlockPairs = 100L)
      .as[(Long, Long, Int)].collect().toSet
    val unguarded = Text.fuzzyJoin(hot, hot, "id", $"name", "id", $"name", 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(guarded == unguarded,
      s"salted output diverged: only-guarded=${(guarded -- unguarded).take(5)} " +
        s"only-unguarded=${(unguarded -- guarded).take(5)}")
    assert(guarded.count(p => p._1 == p._2) == 60) // every self-pair present
  }

  test("fuzzyResolveBest = pair-operator rollup (duplicate-heavy corpus)") {
    // copies of few names on both sides, plus an unmatched probe: the
    // fused operator must agree with groupBy-min/count over the pair set
    val refs = Seq((5L, "alpha"), (3L, "alpha"), (7L, "beta"), (9L, "betz"),
      (11L, "gamma")).toDF("id", "name")
    val probes = Seq((20L, "alphax"), (21L, "alphax"), (22L, "betz"),
      (23L, "nomatch")).toDF("id", "name")
    val pairs = Text.fuzzyJoinSegments(probes, refs, "id", $"name",
      "id", $"name", 1)
    val viaPairs = pairs.groupBy($"probe_id")
      .agg(count(lit(1)).as("n_matches"),
        min(struct($"dist".as("d"), $"ref_id".as("r"))).as("bk"))
      .select($"probe_id", $"bk.d".as("dist"), $"bk.r".as("ref_id"),
        $"n_matches")
      .as[(Long, Int, Long, Long)].collect().toSet
    val fused = Text.fuzzyResolveBest(probes, refs, "id", $"name",
        "id", $"name", 1)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(fused == viaPairs, s"fused=$fused viaPairs=$viaPairs")
    // spot-check the tie rule: alphax matches alpha copies (ids 3,5) at
    // dist 1 -> best ref 3, n_matches 2
    assert(fused.contains((20L, 1, 3L, 2L)))
    assert(!fused.exists(_._1 == 23L)) // no row for unmatched probes
  }

  test("sortedNeighborhoodPairs: two-level rank = global sort, window " +
      "bounds pairing, lev verifies — brute-force parity") {
    import graft.ops.Text
    // vocabulary spans several 2-char prefix buckets on purpose; the
    // near-identical names ("kite"/"kitf"/"kitz") sort adjacent and
    // must pair; "apple" vs "apply" likewise; far names must not,
    // even when similar ("zebra" vs "aebra": first-letter edit, >w apart)
    val names = Seq("apple", "apply", "aebra", "banana", "bandana",
      "kite", "kitf", "kitz", "zebra", "zebrb").map(Tuple1(_))
      .toDF("nm")
    val w = 3
    val got = Text.sortedNeighborhoodPairs(names, $"nm", w, 2)
      .as[(String, String, Long, Long)].collect().toSet
    // brute force: global sort, pair within w-1 positions, lev <= 2
    val sorted = names.as[String].collect().distinct.sorted
    val want = (for {
      i <- sorted.indices; j <- (i + 1) until math.min(i + w, sorted.length)
      d = levDp(sorted(i), sorted(j)) if d <= 2
    } yield (sorted(i), sorted(j), (j - i).toLong, d.toLong)).toSet
    assert(got == want, s"got $got\nwant $want")
    assert(got.contains(("kite", "kitf", 1L, 1L)))
    assert(!got.exists(p => p._1 == "aebra" && p._2 == "zebra"),
      "SN's declared positional miss: first-letter edits rank far apart")
  }

  test("jaro_winkler_sim matches DuckDB's jaro_winkler_similarity on " +
      "pinned cases incl. the odd-transposition floor and boost gate") {
    import org.apache.spark.sql.graftshim.JaroWinklerUtil
    import org.apache.spark.unsafe.types.UTF8String
    // expected values probed from DuckDB 1.0 jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("", "abc", 0.0), ("abc", "abc", 1.0), ("ab", "ba", 0.0),
      ("crate", "trace", 0.7333333333333334),
      ("dwayne", "duane", 0.8400000000000001),
      ("frog", "fog", 0.9249999999999999),
      ("elephant", "hippo", 0.44166666666666665),
      ("ABC Corporation", "ABC Corp", 0.9066666666666666),
      // odd mismatched-match count: the halving must FLOOR
      ("abcxxx", "bcaxxx", 0.9444444444444445),
      // common prefix but jaro <= 0.7: the boost must NOT fire
      ("aaxxxxx", "aayyyyy", 0.5238095238095238),
      ("kitten", "sitting", 0.746031746031746))
    for ((a, b, want) <- cases) {
      val got = JaroWinklerUtil.sim(UTF8String.fromString(a),
        UTF8String.fromString(b))
      assert(math.abs(got - want) < 1e-9, s"'$a' vs '$b': $got != $want")
    }
    // the codegen'd expression agrees with the util (and symmetry)
    val df = cases.toDF("a", "b", "w")
      .select(NativeFunctions.jaroWinkler($"a", $"b").as("j1"),
        NativeFunctions.jaroWinkler($"b", $"a").as("j2"), $"w")
      .as[(Double, Double, Double)].collect()
    assert(df.forall(r => math.abs(r._1 - r._3) < 1e-9 &&
      math.abs(r._1 - r._2) < 1e-12))
  }

  test("q267's sig prefilter is SOUND for the jw >= 0.9 gate: no " +
      "near-pair above the gate is rejected") {
    import org.apache.spark.sql.graftshim.{FuzzyMatchUtil, JaroWinklerUtil}
    import org.apache.spark.unsafe.types.UTF8String
    def u(s: String) = UTF8String.fromString(s)
    val words = (1 to 300).map(i => randStr(6 + i % 12))
    val nearPairs = words.zipWithIndex.flatMap { case (w, i) =>
      val k = i % w.length
      val del = w.substring(0, k) + w.substring(k + 1)
      val tr = {
        val j = i % (w.length - 1)
        w.substring(0, j) + w.charAt(j + 1) + w.charAt(j) +
          w.substring(j + 2)
      }
      Seq((w, del), (w, tr), (w, w))
    }
    var hits = 0
    for ((a, b) <- nearPairs if a.nonEmpty && b.nonEmpty) {
      val jw = JaroWinklerUtil.sim(u(a), u(b))
      if (jw >= 0.9) {
        hits += 1
        val la = a.length; val lb = b.length
        val ceilM = (3 * la * lb + 2 * (la + lb) - 1) / (2 * (la + lb))
        val x = la + lb - 2 * ceilM
        val sb = FuzzyMatchUtil.sigBound(FuzzyMatchUtil.sig(u(a)),
          FuzzyMatchUtil.sig(u(b)))
        assert(2 * sb - 1 <= x,
          s"'$a' vs '$b' (jw=$jw) rejected: 2*$sb-1 > $x")
      }
    }
    assert(hits > 300, s"fixture must exercise the gate (hits=$hits)")
  }

  /** Plain reference Levenshtein (full DP, code points). */
  private def levDp(a: String, b: String): Int = {
    val s = a.codePoints().toArray
    val t = b.codePoints().toArray
    val d = Array.tabulate(s.length + 1)(i => i)
    for (j <- 1 to t.length) {
      var prev = d(0)
      d(0) = j
      for (i <- 1 to s.length) {
        val tmp = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (s(i - 1) == t(j - 1)) 0 else 1))
        prev = tmp
      }
    }
    d(s.length)
  }
}
