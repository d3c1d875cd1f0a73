package graft
// (fimSplit + canonicalizer specs live at the bottom of this suite)

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Text}

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("tokens: lowercased, whitespace-split, empty-safe") {
    val r = Seq("  Hello   World ", "", "one").toDF("text")
      .select(Text.tokens($"text")).as[Seq[String]].collect().toSeq
    assert(r == Seq(Seq("hello", "world"), Seq(), Seq("one")))
  }

  test("fingerprint is whitespace/case insensitive, content sensitive") {
    val fps = Seq("The  quick fox", "the quick  fox", "the quick cat")
      .toDF("text").select(Text.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1) && fps(1) != fps(2))
  }

  test("wordShingles: sliding distinct 3-grams; short docs empty") {
    val r = Seq("a b c d", "a b").toDF("text")
      .select(Text.wordShingles(Text.tokens($"text"), 3))
      .as[Seq[String]].collect().toSeq
    assert(r == Seq(Seq("a b c", "b c d"), Seq()))
  }

  test("hillTailIndex matches the hand-computed estimator; all-tie " +
    "head yields null alpha; small vocab yields nothing") {
    // counts 8,4,2,1 with k=3: alpha = 3e6 / sum(round(1e6 ln x_i))
    val doc = (Seq.fill(8)("a8") ++ Seq.fill(4)("b4") ++
      Seq.fill(2)("c2") ++ Seq("d1")).mkString(" ")
    val r = Text.hillTailIndex(Seq(doc).toDF("text"),
        Text.tokens($"text"), 3)
      .as[(Long, Long, Long, Option[Double])].head()
    val sfp = Seq(8L, 4L, 2L).map(x => math.round(math.log(x) * 1e6)).sum
    val want = BigDecimal(3e6 / sfp)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r == ((4L, 3L, 1L, Some(want))), s"got $r")
    // uniform counts: every ln term is 0 -> alpha null
    val u = Text.hillTailIndex(
        Seq("x y z w v").toDF("text"), Text.tokens($"text"), 3)
      .as[(Long, Long, Long, Option[Double])].head()
    assert(u._4.isEmpty)
    // vocab <= k: no (k+1)-th order statistic, empty result
    assert(Text.hillTailIndex(Seq("p q").toDF("text"),
      Text.tokens($"text"), 3).isEmpty)
  }

  test("langId picks the dominant stopword family") {
    val r = Seq("the cat of a house", "der hund und das ein", "xyzzy plugh")
      .toDF("text").select(Text.langId($"text")).as[String].collect().toSeq
    assert(r == Seq("en", "de", "und"))
  }

  test("qualityScore stays in [0,1] and rewards diversity") {
    val r = Seq("the a of to and the a of to and", // repetitive, all stopwords
      "alpha beta gamma delta epsilon zeta").toDF("text")
      .select(Text.qualityScore($"text")).as[Double].collect()
    assert(r.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("bpeTokens splits letter runs, digit runs, and marks") {
    val r = Seq("Hello, world42! It's x2.").toDF("text")
      .select(Text.bpeTokens($"text")).as[Seq[String]].head()
    assert(r == Seq("hello", ",", "world", "42", "!", "it", "'", "s", "x", "2", "."))
  }

  test("rollingHash is order-sensitive where the md5 fingerprint is not") {
    val df = Seq("alpha beta gamma", "gamma beta alpha", "alpha beta gamma")
      .toDF("text")
    val rh = df.select(Text.rollingHash(Text.tokens($"text"))).as[Long].collect()
    assert(rh(0) == rh(2) && rh(0) != rh(1))
    assert(rh.forall(h => h >= 0 && h < graft.ops.Dedup.P))
    val empty = Seq("").toDF("text")
      .select(Text.rollingHash(Text.tokens($"text"))).as[Long].head()
    assert(empty == 0L)
  }

  test("rollingHash matches the positional-sum model at 511/512/513+ tokens") {
    // independent Scala model: H(t) = first 15 hex of md5 mod P, then
    // Σ H(tᵢ)·31^(n−1−i) mod P — the Horner fold must equal it for any
    // length, including past the old 512-token power-table cap.
    val P = graft.ops.Dedup.P
    def h(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16) % P
    }
    def model(toks: Seq[String]): Long =
      toks.foldLeft(0L)((acc, t) => (acc * 31 + h(t)) % P)
    for (n <- Seq(1, 511, 512, 513, 1500)) {
      val toks = (0 until n).map(i => s"tok$i")
      val got = Seq(toks.mkString(" ")).toDF("text")
        .select(Text.rollingHash(Text.tokens($"text"))).as[Long].head()
      assert(got == model(toks), s"n=$n")
    }
  }

  test("piiRedact scrubs emails and phones; counts match; clean text unharmed") {
    val docs = Seq(
      (1L, "mail bob.jones+x@corp.example.org today"),
      (2L, "call 555-123-4567 or 01-2345-6789 x"), // 2nd not a phone shape
      (3L, "a@b.io and 800-555-0199 together"),
      (4L, "no pii here at all")).toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        graft.ops.Text.piiEmailCount($"text").as("e"),
        graft.ops.Text.piiPhoneCount($"text").as("p"),
        graft.ops.Text.piiRedact($"text").as("clean"))
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 1 && got(1L)._3 == 0 &&
      got(1L)._4 == "mail <EMAIL> today")
    assert(got(2L)._2 == 0 && got(2L)._3 == 1 &&
      got(2L)._4 == "call <PHONE> or 01-2345-6789 x")
    assert(got(3L)._2 == 1 && got(3L)._3 == 1 &&
      got(3L)._4 == "<EMAIL> and <PHONE> together")
    assert(got(4L) == ((4L, 0, 0, "no pii here at all")))
  }

  test("ccLuhnAudit: maximal-run extraction, Luhn checksum on the " +
    "canonical vectors, exact flag rate") {
    val docs = Seq(
      (1L, "pay 4111111111111111 now"), // valid Visa test PAN
      (2L, "ref 5500005555555559 due"), // valid MC test PAN
      (3L, "num 4111111111111112 bad"), // checksum off by one
      (4L, "id 123456789012 short"), // 12 digits: not card-shaped
      (5L, "blob 12345678901234567890 long"), // 20-run: maximal, out
      (6L, "cards 4111111111111111 and 4111111111111112"))
      .toDF("doc_id", "text")
    val r = graft.ops.Text.ccLuhnAudit(
        docs.selectExpr("'g' AS g", "text"), $"g", $"text")
      .as[(String, Long, Long, Long, Long, Long)].head()
    // candidates: docs 1,2,3 one each + doc 6 two = 5; valid: 1,2,6a
    assert(r == (("g", 6L, 5L, 3L, 3L, 500000L)))
  }

  test("phoneticBlocking: canonical soundex vectors share blocks, " +
    "lev verification counts inside blocks only") {
    val names = Seq("ROBERT", "RUPERT", "RUBIN", "ASHCRAFT",
      "ASHCROFT", "KNUTH", "KANT", "LEE").toDF("n")
    val out = graft.ops.Text.phoneticBlocking(names, $"n", 2)
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // R163 = {ROBERT, RUPERT} (lev dist 2: O→U, B→P — matched);
    // RUBIN codes R150 alone
    assert(out("R163") == (("R163", 2L, 1L, 1L, false)))
    assert(out("R150")._2 == 1L && out("R150")._3 == 0L)
    // the H/W bridge: ASHCRAFT + ASHCROFT both A261, lev dist 1
    assert(out("A261") == (("A261", 2L, 1L, 1L, false)))
    // first-letter-preserving phonetic merge prefix blocking misses
    assert(out("K530")._2 == 2L)
    assert(out("L000")._2 == 1L)
    // density guard: cap 1 drops the multi-name blocks from pairing
    // (capped = true, zero pairs) while singletons still report
    val capped = graft.ops.Text.phoneticBlocking(names, $"n", 2, 1L)
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(capped("R163") == (("R163", 2L, 0L, 0L, true)))
    assert(capped("A261")._5 && capped("A261")._3 == 0L)
    assert(capped("R150") == (("R150", 1L, 0L, 0L, false)))
  }

  test("readabilityGrade: vowel-group syllables, punctuation-run " +
    "sentences, exact micro formula; empty docs excluded from the " +
    "average") {
    val docs = Seq(("g", "the cat sat. it ran!"), ("g", ""))
      .toDF("grp", "text")
    val r = graft.ops.Text.readabilityGrade(docs, $"grp", $"text")
      .as[(String, Long, Long, Long, Long, Option[Long])].head()
    // w=5, sentences=2, syllables=5:
    // (390000*5)//2 + (11800000*5)//5 - 15590000 = -2815000
    assert(r == (("g", 2L, 5L, 3L, 5L, Some(-2815000L))))
  }

  test("mixedScriptAudit: Latin+Cyrillic tokens flagged, pure-script " +
    "tokens pass, exact rate") {
    // non-ASCII as \uXXXX escapes (repo convention: a channel can
    // silently recompose raw literals)
    val mixed = "w\u043erld" // w + CYRILLIC SMALL O + rld
    val cyr = "\u043f\u0440\u0438\u0432\u0435\u0442" // privet
    val docs = Seq(
      ("g", s"hello $mixed plain"),
      ("g", s"$cyr pure cyrillic"),
      ("g", "all ascii here")).toDF("grp", "text")
    val r = graft.ops.Text.mixedScriptAudit(docs, $"grp", $"text")
      .as[(String, Long, Long, Long, Long, Long)].head()
    assert(r == (("g", 3L, 9L, 1L, 1L, 333333L)))
  }

  test("spanCorruptionPlan: T5 yield arithmetic, floors and the " +
    "min-one-span guarantee, empty docs contribute nothing") {
    val docs = Seq(
      ("g", ("w " * 20).trim), // n=20: nc=3, ns=1, in=18, tgt=5
      ("g", "a b c d"), // n=4: nc=max(1,0)=1, ns=1, in=4, tgt=3
      ("g", "")) // n=0: zero rows on both sides
      .toDF("grp", "text")
    val r = graft.ops.Text.spanCorruptionPlan(docs, $"grp", $"text",
        15, 3)
      .as[(String, Long, Long, Long, Long, Long, Long, Option[Long])]
      .head()
    assert(r == (("g", 3L, 24L, 4L, 2L, 22L, 8L,
      Some(30L * 1000000L / 24L))))
  }

  test("repetitionScore: 0 for novel/short text, rises toward 1 on loops") {
    val docs = Seq(
      (1L, "all tokens here are fully distinct words"),
      (2L, "ab ab ab ab ab ab ab ab"), // one distinct 3-gram, 6 total
      (3L, "too shrt")).toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        graft.ops.Text.repetitionScore($"text", 3))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 0.8333, s"1 - 1/6 rounded, got ${got(2L)}")
    assert(got(3L) == 0.0, "below n tokens: defined as 0")
  }

  test("contaminationOverlap counts benchmark-shared shingles per doc") {
    import graft.ops.{Dedup, Text}
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "a totally different sentence entirely here"),
      (3L, "quick brown fox somewhere else"),
      (4L, "xy zz")) // too short to shingle
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.hashedShingles(Text.tokens($"text"), 3).as("hs"))
    val bench = docs.filter($"doc_id" === 1L)
    val got = Dedup.contaminationOverlap(docs, "doc_id", "hs", bench, "hs")
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4, 4L)), "a benchmark member fully overlaps itself")
    assert(got(2L) == ((2L, 4, 0L)))
    assert(got(3L)._3 == 1L, "shares exactly 'quick brown fox'")
    assert(got(4L) == ((4L, 0, 0L)), "unshingleable doc: 0/0, still present")
  }

  test("unigramSurprisal: golden values on a hand-computed corpus") {
    // corpus = "a a a b": p(a)=3/4, p(b)=1/4
    val docs = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val got = graft.ops.Text.unigramSurprisal(docs, "doc_id", $"text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 0.2877)), s"-ln(3/4)=0.28768..., got ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 1.3863)), s"-ln(1/4)=1.38629..., got ${got(2L)}")
  }

  test("bigramNll: golden values on a hand-computed corpus; short docs " +
      "drop out") {
    // corpus bigrams: "a b" ×2, "b a" ×1 (doc1: a b a b → (a,b),(b,a),(a,b))
    // c(a,·)=2, c(b,·)=1, V=3 ({a, b, x} — doc2's token counts toward V)
    // doc1 terms: -ln(3/5) [(a,b): (2+1)/(2+3)], -ln(1/2) [(b,a): (1+1)/(1+3)], -ln(3/5)
    val docs = Seq((1L, "a b a b"), (2L, "x")).toDF("doc_id", "text")
    val got = graft.ops.Text.bigramNll(docs, "doc_id", $"text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val expect = BigDecimal(
      (math.round(-math.log(3.0 / 5) * 1e6) * 2 +
        math.round(-math.log(1.0 / 2) * 1e6)).toDouble / (3 * 1e6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((1L, 3L, expect)), s"got ${got(1L)}, want $expect")
    assert(!got.contains(2L), "a 1-token doc has no bigrams and drops out")
  }

  test("bigramPhraseMatches: adjacency only, overlaps count, " +
      "cross-doc-boundary pairs impossible") {
    val docs = Seq(
      (1L, "x quick fox quick fox y"), // 2 matches at pos 1 and 3
      (2L, "quick y fox"),             // tokens present, never adjacent
      (3L, "fox quick"),               // reversed order — no match
      (4L, "quick quick quick"))       // overlapping self-phrase
      .toDF("doc_id", "text")
    val post = graft.ops.Text.postings(docs, "doc_id", $"text")
    def run(a: String, b: String) =
      graft.ops.Text.bigramPhraseMatches(post,
        Seq((a, b)).toDF("a", "b"))
        .select($"id", $"n_matches", $"first_pos")
        .as[(Long, Long, Int)].collect().toSet
    assert(run("quick", "fox") == Set((1L, 2L, 1)))
    assert(run("quick", "quick") == Set((4L, 2L, 0)))
    assert(run("y", "fox") == Set((2L, 1L, 1)))
  }

  test("jaccard golden value") {
    // A={a,b,c,d}, B={b,c,d,e}: 3 shared / 5 union = 0.6
    val df = Seq((Seq("a", "b", "c", "d"), Seq("b", "c", "d", "e"))).toDF("x", "y")
      .select(transform($"x", Dedup.hashLong(_)).as("x"), transform($"y", Dedup.hashLong(_)).as("y"))
    assert(df.select(round(Dedup.jaccardHashed($"x", $"y"), 4)).as[Double].head() == 0.6)
  }

  test("jaccardPairsHashed and jaccardPairsPrefixHashed agree and find the known pair") {
    val docs = Seq(
      (1L, Seq("a b c", "b c d", "c d e", "d e f")),
      (2L, Seq("a b c", "b c d", "c d e", "x y z")), // jac 3/5 with doc 1
      (3L, Seq("p q r", "q r s", "r s t", "s t u"))
    ).toDF("id", "shingles")
      .select($"id", transform(array_distinct($"shingles"), Dedup.hashLong(_)).as("hs"))
    val want = Set((1L, 2L, 0.6))
    val a = Dedup.jaccardPairsHashed(docs, "id", "hs", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val b = Dedup.jaccardPairsPrefixHashed(docs, "id", "hs", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == want && b == want)
  }

  test("incremental jaccard equals the filtered symmetric result, no old-old") {
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("id", "text")
      .select($"id", Dedup.hashedShingles(Text.tokens($"text"), 3).as("hs"))
    // old corpus: two docs that near-dup EACH OTHER (old-old must stay
    // unreported) and one unique
    val old = mk(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again today"),
      (3L, "completely different content with nothing shared at all")))
    // increment: re-crawl of doc 1, near-dup pair within the increment,
    // and a novel doc
    val inc = mk(Seq(
      (11L, "the quick brown fox jumps over the lazy dog again"),
      (12L, "some brand new page about entirely fresh subject matter"),
      (13L, "some brand new page about entirely fresh subject matter too"),
      (14L, "nothing resembles this lonely novel document anywhere")))
    val got = Dedup.jaccardPairsIncremental(old, inc, "id", "hs", 0.5)
      .select($"id_new", $"id_match").as[(Long, Long)].collect().toSet
    // symmetric ground truth over the union, re-keyed to drop-candidates
    val sym = Dedup.jaccardPairsPrefixHashed(old.unionByName(inc), "id",
        "hs", 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .toSet[(Long, Long)]
      .filter { case (a, b) => a > 10 || b > 10 } // at least one new
      .map { case (a, b) =>
        if (a > 10 && b > 10) (math.max(a, b), math.min(a, b))
        else if (a > 10) (a, b) else (b, a)
      }
    assert(got == sym)
    assert(got.contains((11L, 1L)) && got.contains((13L, 12L)))
    // old-old pair (1,2) is a pair in the union but NOT here
    assert(!got.exists { case (a, b) => a <= 10 && b <= 10 })
    // novel docs appear in no pair
    assert(!got.exists { case (a, b) => a == 14L || b == 14L })

    // replay overlap: the same id on both sides (a committed increment
    // replayed) pairs its own prior copy exactly once, at jac 1.0
    val replay = Dedup.jaccardPairsIncremental(
        old.unionByName(inc.filter($"id" === 11L)), // corpus already has 11
        inc.filter($"id" === 11L), "id", "hs", 0.5)
      .select($"id_new", $"id_match", $"jac")
      .as[(Long, Long, Double)].collect()
    assert(replay.count { case (a, b, j) => a == 11L && b == 11L && j == 1.0 } == 1)
  }

  test("minhash: identical sets sign identically; LSH finds near-dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different content with nothing shared at all whatsoever here")
    ).toDF("id", "text")
      .select($"id", Text.wordShingles(Text.tokens($"text"), 3).as("sh"))
    val sig = docs.select($"id", $"sh",
      Reference.minhashSignature($"sh", 16).as("sig"))
    val sigs = sig.select($"id", $"sig").as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1).size == 16)
    val cands = Dedup.lshCandidatePairs(sig, "id", "sig", 4, 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("incremental LSH candidates = batch-over-union minus old×old") {
    def text(seed: Int) = (0 until 20).map(i =>
      s"w${(seed * 31 + i * 7) % 13}").mkString(" ")
    val mk = (ids: Seq[Long]) => ids.map(i => (i, text(i.toInt % 6)))
      .toDF("id", "text")
      .select($"id", Text.wordShingles(Text.tokens($"text"), 3).as("sh"))
      .select($"id", $"sh", Reference.minhashSignature($"sh", 16).as("sig"))
    val old = mk(0L until 12L)
    val inc = mk(12L until 20L) // seeds repeat → cross old/new dups
    val incr = Dedup.lshCandidatePairsIncremental(old, inc, "id", "sig", 4, 4)
      .as[(Long, Long)].collect().toSet
    // reference: full batch over the union, pairs oriented (bigger id
    // probes), then drop every pair wholly inside the old corpus
    val batch = Dedup.lshCandidatePairs(old.unionByName(inc), "id", "sig", 4, 4)
      .select(greatest($"id_a", $"id_b").as("id_new"),
        least($"id_a", $"id_b").as("id_match"))
      .as[(Long, Long)].collect().toSet
      .filter(p => p._1 >= 12L)
    assert(incr == batch, s"incr=${incr.size} batch=${batch.size}")
    assert(incr.nonEmpty) // the seed overlap really produced dups
    assert(incr.forall { case (n, m) => n >= 12L && m < n })
  }

  test("simhash: identical texts at distance 0, near texts close, far texts far") {
    val sk = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight"))
      .toDF("id", "text")
      .select($"id", Dedup.simhash(Text.tokens($"text"), 32).as("sk"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sk(1), sk(2)) == 0)
    assert(ham(sk(1), sk(3)) < ham(sk(1), sk(4)))
  }

  test("native simhash equals the HOF fold bit-for-bit, and is SQL-callable") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat and dog",
      "completely different text about spark catalyst expressions",
      "single", "", "a a a a a b b c").toDF("text")
    val pairs = docs
      .select(Dedup.simhash(Text.tokens($"text"), 32).as("native"),
        Reference.simhashHof(Text.tokens($"text"), 32).as("hof"))
      .as[(Long, Long)].collect()
    assert(pairs.forall { case (n, h) => n == h }, pairs.mkString(","))
    graft.functions.NativeFunctions.register(spark)
    docs.createOrReplaceTempView("simhash_docs")
    val sql = spark.sql(
      """SELECT simhash(filter(split(lower(trim(text)), '\\s+'), t -> t != ''), 32)
        |FROM simhash_docs""".stripMargin).as[Long].collect()
    assert(sql.toSeq == pairs.map(_._1).toSeq)
  }

  test("native hashed shingles and minhash equal the HOF formulations") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c a b c a b c",   // repeated shingles -> distinct matters
      "a b", "", "one two three").toDF("text")
    val both = docs.select(
      Dedup.hashedShingles(Text.tokens($"text"), 3).as("native"),
      transform(array_distinct(Text.wordShingles(Text.tokens($"text"), 3)),
        s => Dedup.hashLong(s)).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.forall { case (n, h) => n == h }, both.mkString(";"))
    val sigs = docs.select(
      Dedup.minhashSignatureNative(
        Dedup.hashedShingles(Text.tokens($"text"), 3), 16).as("native"),
      Reference.minhashSignature(
        Text.wordShingles(Text.tokens($"text"), 3), 16).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(sigs.forall { case (n, h) => n == h }, sigs.mkString(";"))
  }

  test("hashed prefix-filtered Jaccard equals the inverted join exactly") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog and then naps",
      2L -> "the quick brown fox jumps over the lazy dog and then runs",
      3L -> "a completely different document about catalyst expressions",
      4L -> "the quick brown fox jumps over the lazy dog and then naps",
      5L -> "short one").toDF("id", "text")
      .select($"id", Dedup.hashedShingles(Text.tokens($"text"), 3).as("hs"))
    val inverted = Dedup.jaccardPairsHashed(docs, "id", "hs", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = Dedup.jaccardPairsPrefixHashed(docs, "id", "hs", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(inverted.nonEmpty && inverted == prefix)
  }

  test("containmentJoin equals brute force; sees excerpts Jaccard is blind to") {
    val mk = (s: String) => Dedup.hashedShingles(Text.tokens(lit(s)), 3)
    val long = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15 " +
      "t16 t17 t18 t19 t20 t21 t22 t23 t24 t25"
    val targets = Seq(
      10L -> long,                          // contains the excerpt
      11L -> "x1 x2 x3 x4 x5 x6 x7 x8 x9",  // unrelated
      12L -> "t5 t6 t7 zz t9 t10")          // partial overlap
      .toDF("tid", "txt")
      .select($"tid", Dedup.hashedShingles(Text.tokens($"txt"), 3).as("hs"))
    val probes = Seq(
      1L -> "t5 t6 t7 t8 t9 t10",           // pure excerpt of 10
      2L -> "x1 x2 x3 yy",                  // half in 11
      3L -> "zz")                           // no shingles -> no row
      .toDF("pid", "txt")
      .select($"pid", Dedup.hashedShingles(Text.tokens($"txt"), 3).as("hs"))
    val got = Dedup.containmentJoin(probes, "pid", "hs",
        targets, "tid", "hs", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // brute force over the same hashed sets
    val want = probes.select($"pid", $"hs".as("hsp"))
      .crossJoin(targets.select($"tid", $"hs".as("hst")))
      .filter(size($"hsp") > 0)
      .select($"pid", $"tid",
        round(size(array_intersect($"hsp", $"hst")).cast("double") /
          size($"hsp"), 4).as("c"))
      .filter($"c" >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    // the excerpt is fully contained (1.0) while its Jaccard vs the
    // long doc is far below any useful threshold
    assert(got.contains((1L, 10L, 1.0)))
    val jac = Dedup.jaccardPairsHashed(
      probes.select($"pid".as("id"), $"hs")
        .unionByName(targets.select($"tid".as("id"), $"hs")),
      "id", "hs", 0.5).as[(Long, Long, Double)].collect().toSet
    assert(!jac.exists(p => p._1 == 1L && p._2 == 10L),
      "Jaccard at 0.5 must miss the excerpt pair")
    assert(!got.exists(_._1 == 3L), "zero-shingle probes emit nothing")
  }

  test("duplicateClusters: multi-hop chains collapse to min-id components") {
    // two components: a 5-hop chain 1-2-3-4-5 (needs several label
    // propagation rounds) and the pair 10-11; 1 and 10 are canonical
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters releases every round's local checkpoint: only " +
      "the returned labels' RDD stays persisted") {
    import org.apache.spark.sql.execution.LogicalRDD
    // a 40-link chain: the seed leaves it unconverged, so several
    // adopt + pointer-jump rounds checkpoint and hand over
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val blocksBefore = org.apache.spark.RddBlocks.live(spark.sparkContext)
    val labels = Dedup.duplicateClusters(pairs)
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    val own = labels.queryExecution.logical
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(own.size == 1 && left == own, s"left $left, labels own $own")
    val blocksLeft = org.apache.spark.RddBlocks.live(spark.sparkContext) -- blocksBefore
    assert(blocksLeft == own, s"blocks left $blocksLeft, labels own $own")
  }

  test("duplicateClusters: a chain far deeper than maxIter rounds still converges") {
    // a 60-hop path needs 60 rounds of plain min-propagation — past the
    // maxIter=20 cap, where the pre-doubling implementation silently
    // split the cluster (ADVICE round 2). Pointer-jumping makes the
    // label distance halve per round, so this converges in ~6 rounds.
    val pairs = (1L until 61L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got.size == 61 && got.values.forall(_ == 1L))
  }

  test("duplicateClusters: salted path matches unsalted on a 1e5-spoke star") {
    // hub-skew shape: vertex 0 joined to 100k spokes — every edge
    // carries the hub key and, once converged, every vertex shares the
    // hub's component label, so both skew-prone joins concentrate on
    // one key; the salted path must produce the identical labeling
    val spokes = 100000L
    val pairs = spark.range(1, spokes + 1)
      .select(lit(0L).as("id_a"), $"id".as("id_b"))
    val salted = Dedup.duplicateClusters(pairs, saltFactor = 8)
    assert(salted.count() == spokes + 1)
    assert(salted.filter($"component" =!= 0L).count() == 0L,
      "every spoke joins the hub's component")
    // and on a multi-component chain graph, salted ≡ unsalted row-wise
    val chain = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (200L, 201L))).toDF("id_a", "id_b")
    val a = Dedup.duplicateClusters(chain).as[(Long, Long)].collect().toMap
    val b = Dedup.duplicateClusters(chain, saltFactor = 4)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("dedupByClusters keeps the canonical member and all singletons") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b"),
      (99L, "unique")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByClusters(docs, "doc_id", pairs)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("dedupByClustersBest keeps the highest-quality member, ties to smaller id") {
    val docs = Seq(
      (1L, "short"), (2L, "much longer text here"), (3L, "mid text"),
      (10L, "same len"), (11L, "same len"),
      (99L, "lonely")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByClustersBest(docs, "doc_id", pairs,
        length($"text"))
      .select($"doc_id").as[Long].collect().toSet
    // cluster {1,2,3}: 2 has the longest text; {10,11}: equal length -> 10
    assert(kept == Set(2L, 10L, 99L))
  }

  test("dedupWithWeights: canonical per cluster carries the multiplicity, " +
      "unpaired docs weigh 1, foreign pair ids refuse loudly") {
    val docs = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"),   // one chained cluster of 3
      (10L, "b"), (11L, "b"),            // cluster of 2
      (99L, "lonely")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Dedup.dedupWithWeights(docs, "doc_id", pairs)
      .select($"doc_id", $"text", $"weight")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "a", 3L), (10L, "b", 2L), (99L, "lonely", 1L)))
    // count preservation: weights sum back to the corpus size
    assert(out.toSeq.map(_._3).sum == 6L)
    // 77 appears only in pairs, not in docs: silently dropping its
    // cluster weight (or orphaning the cluster when the foreign id is
    // the minimum) was a scaladoc "don't do that" — now a runtime guard
    intercept[IllegalArgumentException] {
      Dedup.dedupWithWeights(docs, "doc_id",
        pairs.union(Seq((11L, 77L)).toDF("id_a", "id_b")))
    }
  }

  test("cluster formation and keep-best work end-to-end with STRING doc ids") {
    // the decimal-sum convergence witness and the -col(id) tiebreak both
    // silently assumed numeric ids (a string id cast to decimal is null
    // -> NPE; -"docA" is unresolvable) — this pins the type-agnostic
    // replacements on the exact shapes that used to break
    val pairs = Seq(("docA", "docB"), ("docB", "docC"), ("docX", "docY"))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(String, String)].collect().toMap
    assert(got == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docX" -> "docX", "docY" -> "docX"))

    val docs = Seq(
      ("docA", "short"), ("docB", "much longer text here"), ("docC", "mid"),
      ("docX", "same len"), ("docY", "same len"),
      ("docZ", "lonely singleton")).toDF("doc_id", "text")
    val kept = Dedup.dedupByClustersBest(docs, "doc_id", pairs,
        length($"text"))
      .select($"doc_id").as[String].collect().toSet
    // {A,B,C}: B longest; {X,Y}: equal length -> lexicographically
    // smaller docX; Z untouched singleton
    assert(kept == Set("docB", "docX", "docZ"))

    // a NULL quality score must LOSE its cluster, never win it
    val nq = Seq(("n1", Some(0.9)), ("n2", Option.empty[Double]))
      .toDF("doc_id", "q")
    val keptNq = Dedup.dedupByClustersBest(nq, "doc_id",
        Seq(("n1", "n2")).toDF("id_a", "id_b"), $"q")
      .select($"doc_id").as[String].collect().toSet
    assert(keptNq == Set("n1"), s"null quality must not win: $keptNq")

    val canonical = Dedup.dedupByClusters(docs, "doc_id", pairs)
      .select($"doc_id").as[String].collect().toSet
    assert(canonical == Set("docA", "docX", "docZ"))
  }

  test("fuzzyJoin matches within maxDist through the blocking, misses outside") {
    val refs = Seq((1L, "widget"), (2L, "wodget"), (3L, "gadget"),
      (4L, "completely")).toDF("id", "name")
    val probes = Seq(
      (10L, "widgat"),   // dist 1 to widget, 2 to wodget; 3 to gadget
      (11L, "idget"),    // first char deleted: blocking MISSES widget
      (12L, "widgetxx"), // +2 len, dist 2 to widget
      (13L, "zzzzzz"))   // nothing close
      .toDF("id", "name")
    val got = graft.ops.Text.fuzzyJoin(probes, refs, "id", $"name",
        "id", $"name", 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((10L, 1L, 1), (10L, 2L, 2), (12L, 1L, 2)))
  }

  test("hashSample is deterministic and disjoint across bucket ranges") {
    val df = (0L until 200L).toDF("id")
    val a = graft.ops.Sampling.hashSample(df, $"id", 30, 100).as[Long].collect().toSet
    val b = graft.ops.Sampling.hashSample(df, $"id", 30, 100).as[Long].collect().toSet
    assert(a == b, "same rows every run")
    assert(a.size > 30 && a.size < 90, s"~30% of 200, got ${a.size}")
    // the complement buckets select exactly the rest
    val rest = df.filter(graft.ops.Sampling.hashBucket($"id", 100) >= 30)
      .as[Long].collect().toSet
    assert((a ++ rest) == (0L until 200L).toSet && (a & rest).isEmpty)
  }

  test("exact dedup keeps one representative per fingerprint") {
    val docs = Seq((1L, "same  text"), (2L, "SAME TEXT"), (3L, "other"))
      .toDF("doc_id", "text")
    val kept = docs.groupBy(Text.fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n"))
      .select($"keep_id", $"n").as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 2L), (3L, 1L)))
  }

  test("scrubBoilerplateLines drops corpus-frequent lines, keeps order") {
    // banner appears in 3 docs (>= minDf 3), unique lines survive in
    // their original positions; trimming unifies "  banner" with
    // "banner"
    val docs = Seq(
      (1L, "alpha\nBANNER\nbody one"),
      (2L, "beta\n  BANNER\nbody two"),
      (3L, "BANNER\ngamma"),
      (4L, "delta\nepsilon")).toDF("doc_id", "text")
    val got = Dedup.scrubBoilerplateLines(docs, "doc_id", $"text", 3)
      .as[(Long, Long, Long, String)].collect()
      .map { case (a, b, c, d) => a -> ((b, c, d)) }.toMap
    def m(s: String) = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      digest.map("%02x".format(_)).mkString
    }
    assert(got(1L) == (3L, 1L, m("alpha\nbody one")))
    assert(got(2L) == (3L, 1L, m("beta\nbody two")))
    assert(got(3L) == (2L, 1L, m("gamma")))
    assert(got(4L) == (2L, 0L, m("delta\nepsilon")))
    // below the threshold nothing is scrubbed
    val none = Dedup.scrubBoilerplateLines(docs, "doc_id", $"text", 4)
      .agg(sum($"n_dropped")).as[Long].collect()(0)
    assert(none == 0L)
  }

  test("bm25: matches the hand formula exactly; unmatched docs are " +
      "absent; rarer terms outrank common ones") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian cherry cherry fig")).toDF("doc_id", "text")
    val out = Text.bm25(docs, "doc_id", $"text",
        Seq("apple", "durian").toDF("token"), 10)
      .as[(Long, Long, Double, Int)].collect().toList
    assert(out.map(_._4) == List(1, 2, 3), "ranks follow the exact sum")
    val noRank = out.map(r => (r._1, r._2, r._3))
    // same arithmetic order as the engine expression, term snap x1e6
    def term(tf: Long, df: Long, dl: Int): Long = {
      val nn = 3L; val dlt = 9L
      math.round(math.log(1.0 + (nn - df + 0.5) / (df + 0.5)) *
        (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) +
          0.75 * dl * nn.toDouble / dlt.toDouble)) * 1e6)
    }
    def score(terms: Long*): Double =
      BigDecimal(terms.sum / 1e6).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc3 matches 'durian' (df=1, rarer -> higher idf than 'apple')
    val expect = List(
      3L -> (1L, score(term(1, 1, 4))),
      1L -> (1L, score(term(2, 2, 3))),
      2L -> (1L, score(term(1, 2, 2))))
    assert(noRank.map(r => r._1 -> ((r._2, r._3))) == expect,
      s"got $out")
    // the df=1 term outranks the df=2 term at equal tf
    assert(out.head._1 == 3L)
  }

  test("sparseCosinePairs: identical docs hit 1.0, disjoint docs are " +
      "absent, pruned ubiquitous terms don't create pairs") {
    val docs = Seq(
      (1L, "red fox jumps high"),
      (2L, "red fox jumps high"),   // identical to 1 → sim 1.0
      (3L, "blue whale swims deep"), // disjoint content
      (4L, "red tree"))              // shares only 'red' with 1/2
      .toDF("doc_id", "text")
    // df prune at > N/2: 'red' has df 3 of 4 → pruned everywhere
    val out = Text.sparseCosinePairs(docs, "doc_id", $"text", 0.1, 1, 2)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out.keySet == Set((1L, 2L)),
      s"only the identical pair survives: $out")
    assert(out((1L, 2L)) == 1.0)
    // without the prune, 'red' links 4 to 1 and 2 (weakly — idf of a
    // df-3 term is small, so the threshold drops to catch it)
    val all = Text.sparseCosinePairs(docs, "doc_id", $"text", 0.04, 1, 1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(all == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("templateSkeleton: digit runs fold to # after whitespace/case " +
      "normalization; digit-free texts pass through normalized") {
    val r = Seq(
      "Order 123  Total 45",
      "order 999 total 7",
      "order xyz total",
      "v2.1.33 build 7")
      .toDF("text").select(Dedup.templateSkeleton($"text"))
      .as[String].collect().toSeq
    assert(r(0) == "order # total #")
    assert(r(1) == "order # total #")
    assert(r(0) == r(1), "numeric variants share one skeleton")
    assert(r(2) == "order xyz total")
    assert(r(3) == "v#.#.# build #")
  }

  test("crossSourceSpanMatrix: planted verbatim spans count once per " +
      "source pair regardless of repetition; disjoint sources absent") {
    val span = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "A", span),                      // the planted span
      (2L, "B", span),                      // shared with A
      (3L, "B", span),                      // SAME span again in B —
                                            // distinct-first: counts once
      (4L, "C", (9 to 16).map(i => s"v$i").mkString(" ")), // disjoint
      (5L, "A", span))                      // repetition inside A too
      .toDF("doc_id", "source", "text")
    val out = Dedup.crossSourceSpanMatrix(docs, "doc_id", $"source",
        $"text", 8)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(("A", "B") -> 1L),
      s"one shared fingerprint, C disjoint: $out")
  }

  test("cdcChunkStats: chunk fingerprints survive a front insertion " +
      "where fixed-stride spans re-align; all-token conservation") {
    val rnd = new scala.util.Random(91)
    val words = Seq.fill(60)("w" + rnd.nextInt(5000))
    val a = words.mkString(" ")
    val b = ("zzz" +: words).mkString(" ") // one token inserted at front
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val cdc = Dedup.cdcChunkStats(docs, "doc_id", col("text"), 8)
      .as[(Long, Long, Long, Double)].head()
    // conservation: chunk token masses must sum to the corpus tokens
    assert(cdc._1 >= 2, "at least one chunk per doc")
    assert(cdc._4 > 0.5,
      s"CDC keeps most mass shared after the insertion: $cdc")
    // fixed-stride spans on the same pair re-align: per-doc dup ratio
    // collapses (only spans before ... none, the offset shifts all)
    val spans = Dedup.duplicateSpans(docs, "doc_id", col("text"), 8)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(spans(1L) < cdc._4,
      s"stride spans lose alignment: ${spans(1L)} vs CDC ${cdc._4}")
    // identical docs: every chunk cross-doc, share = 1
    val same = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val s2 = Dedup.cdcChunkStats(same, "doc_id", col("text"), 8)
      .as[(Long, Long, Long, Double)].head()
    assert(s2._4 == 1.0 && s2._2 == s2._3,
      s"identical docs: all fingerprints cross-doc: $s2")
  }

  test("heldoutBigramNll: back-off fires on unseen bigrams, term math " +
      "matches local computation, degenerate lambda rejected") {
    import graft.ops.Sampling
    // pick ids that land in opposite deterministic halves
    val halves = spark.range(1, 50)
      .select(col("id"), Sampling.hashBucket(col("id"), 2).as("h"))
      .as[(Long, Long)].collect().toMap
    val trainId = halves.collectFirst { case (i, 0L) => i }.get
    val hoId = halves.collectFirst { case (i, 1L) => i }.get
    val docs = Seq((trainId, "a b a b"), (hoId, "a b z"))
      .toDF("doc_id", "text")
    val out = Text.heldoutBigramNll(docs, "doc_id", col("text"), 0.7)
      .as[(Long, Long, Long, Double, Double)].head()
    // train: uni a:2 b:2 (T=4, V=2); bigrams (a,b):2, (b,a):1
    // heldout (a,b): p2 = 2/2, p1(b) = 3/6 → p = .7 + .3·.5
    // heldout (b,z): UNSEEN → p2 = 0, p1(z) = 1/6 → p = .3/6
    val t1 = math.round(-math.log(0.7 * 1.0 + 0.3 * (3.0 / 6)) * 1e6)
    val t2 = math.round(-math.log(0.3 * (1.0 / 6)) * 1e6)
    val want = BigDecimal((t1 + t2) / (2.0 * 1e6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == ((1L, 1L, 2L, want, 0.5)), s"$out vs nll $want")
    intercept[IllegalArgumentException] {
      Text.heldoutBigramNll(docs, "doc_id", col("text"), 1.0)
    }
    // degenerate corpora yield ZERO rows (matching a grouped oracle),
    // not one all-null row: (a) every doc hashes to the train half;
    // (b) the held-out half has only sub-2-token docs
    val allTrain = Seq((trainId, "a b a b")).toDF("doc_id", "text")
    assert(Text.heldoutBigramNll(allTrain, "doc_id", col("text")).isEmpty)
    val hoTiny = Seq((trainId, "a b a b"), (hoId, "a"))
      .toDF("doc_id", "text")
    assert(Text.heldoutBigramNll(hoTiny, "doc_id", col("text")).isEmpty)
  }

  test("sourceKlDivergence: zero against an identical distribution, " +
      "non-negative everywhere, larger for more-divergent sources") {
    val docs = Seq(
      ("a", "x x x y"), ("a2", "x x x y"),          // a ≡ a2
      ("b", "x y y y"),                             // mild shift
      ("c", "z z z z"))                             // disjoint support
      .flatMap { case (s, t) => Seq((s, t)) }
      .toDF("source", "text")
    val kl = graft.ops.Text.sourceKlDivergence(docs, $"source", $"text")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(kl((("a", "a2"))) == 0.0, "identical distributions → KL 0")
    assert(kl.values.forall(_ >= 0.0), s"Gibbs: KL >= 0, got $kl")
    assert(kl(("a", "c")) > kl(("a", "b")),
      "disjoint support diverges more than a mild shift")
    // asymmetry is preserved (ordered pairs both present)
    assert(kl.contains(("b", "a")) && kl.contains(("a", "b")))
  }

  test("bpeLearnMerges: greedy weighted picks, merged symbols compose " +
      "in later rounds, overlapping runs count classic-BPE style") {
    // round 1: "ab" appears in abc (×3) and xab (×2) → (a,b) weight 5
    // beats (b,c) 3 and (x,a) 2.
    // round 2: after fusing, words are (ab)(c)×3, (x)(ab)×2 —
    // (ab,c) 3 beats (x,ab) 2: the new symbol participates.
    val wc = Seq(("abc", 3L), ("xab", 2L)).toDF("w", "cnt")
    val out = Text.bpeLearnMerges(wc, 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1, "a", "b", 5L)), s"round 1: ${out(0)}")
    assert(out(1) == ((2, "ab", "c", 3L)), s"round 2: ${out(1)}")
    // overlapping run: "aaa" counts (a,a) twice per word (classic BPE
    // counting); fusion is left-to-right non-overlapping, so round 2's
    // top pair over the rewritten (aa)(a) is (aa, a)
    val runs = Seq(("aaa", 4L), ("bc", 3L)).toDF("w", "cnt")
    val r2 = Text.bpeLearnMerges(runs, 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
    assert(r2(0) == ((1, "a", "a", 8L)),
      s"overlapping (a,a) pairs count twice per word: ${r2(0)}")
    assert(r2(1) == ((2, "aa", "a", 4L)), s"round 2 on fused runs: ${r2(1)}")
    // tie-break: equal counts resolve to the lexicographically
    // smallest (a, b)
    val tie = Seq(("dc", 1L), ("ba", 1L)).toDF("w", "cnt")
    val t1 = Text.bpeLearnMerges(tie, 1)
      .as[(Int, String, String, Long)].head()
    assert(t1 == ((1, "b", "a", 1L)), s"tie goes to smallest pair: $t1")
  }

  test("bpeCompressionCurve: monotone non-increasing totals, each " +
      "round saves exactly the merged pair's occurrence count") {
    // abc×3, xab×2: round 1 merges (a,b) weight 5 → saves 5 symbols;
    // round 2 merges (ab,c) weight 3 → saves 3 more
    val wc = Seq(("abc", 3L), ("xab", 2L)).toDF("w", "cnt")
    val out = Text.bpeCompressionCurve(wc, 2)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(out(0) == ((0, 15L)), "baseline: 3·3 + 2·3 characters")
    assert(out(1) == ((1, 10L)), "each (a,b) fusion drops one symbol")
    assert(out(2) == ((2, 7L)))
    // an overlapping run fuses left-to-right: "aaaa"×1 merging (a,a)
    // saves floor(4/2) = 2 symbols in one round
    val run = Seq(("aaaa", 1L)).toDF("w", "cnt")
    val r = Text.bpeCompressionCurve(run, 1)
      .as[(Int, Long)].collect().sortBy(_._1)
    assert(r.toSeq == Seq((0, 4L), (1, 2L)))
  }

  test("bpeApplyMerges: application reproduces the learner's own end " +
      "state (compression-curve identity) and segments by hand") {
    val wc = Seq(("abc", 3L), ("xab", 2L), ("aaaa", 1L)).toDF("w", "cnt")
    val merges = Text.bpeLearnMerges(wc, 2)
    val applied = Text.bpeApplyMerges(wc, merges)
      .as[(String, Long, Seq[String], Long)].collect()
      .map(t => t._1 -> ((t._3, t._4))).toMap
    // round 1 merges (a,b) w5; round 2 ties (ab,c)=3 vs (a,a)=3 and
    // resolves lexicographically to (a,a) — hand segmentation
    assert(applied("abc") == ((Seq("ab", "c"), 2L)))
    assert(applied("xab") == ((Seq("x", "ab"), 2L)))
    assert(applied("aaaa") == ((Seq("aa", "aa"), 2L)))
    // invariant: Σ cnt·n_symbols after applying N learned rounds ==
    // the compression curve's round-N total (two code paths, one
    // number) — for every prefix of the table
    val curve = Text.bpeCompressionCurve(wc, 2)
      .as[(Int, Long)].collect().toMap
    for (r <- 1 to 2) {
      val tot = Text.bpeApplyMerges(wc,
          merges.filter($"round" <= r))
        .agg(sum($"cnt" * $"n_symbols")).as[Long].head()
      assert(tot == curve(r), s"round $r")
    }
    // an empty merge table is the character baseline
    assert(Text.bpeApplyMerges(wc, merges.filter($"round" > 99))
      .agg(sum($"cnt" * $"n_symbols")).as[Long].head() == curve(0))
  }

  test("lshPlan: S-curve endpoints pin recall 1/0, hand value at " +
      "s=0.5, every divisor config present") {
    import graft.ops.Dedup
    // identical pairs (s=1) always candidate; disjoint pairs (s=0)
    // never; a 0.5 pair under (b=1, r=16) passes with p = 0.5^16
    val pairs = Seq((1.0, true), (1.0, true), (0.0, false))
      .toDF("s", "tp")
    val out = Dedup.lshPlan(pairs, $"s", $"tp", 16)
      .as[(Int, Int, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out.keySet == Set((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)))
    out.values.foreach { r =>
      assert(r._3 == 2L && r._4 == 1L)
      assert(r._5 == 1.0, s"s=1 pairs must always be candidates: $r")
      assert(r._6 == 0.0, s"s=0 pairs never collide: $r")
    }
    val half = Dedup.lshPlan(Seq((0.5, true)).toDF("s", "tp"),
        $"s", $"tp", 16)
      .as[(Int, Int, Long, Long, Double, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // b=1, r=16: p = 0.5^16 = 1.52587890625e-5 → ×1e6 snap = 15
    assert(half((1, 16))._5 == 0.000015)
    // b=16, r=1: p = 1 - 0.5^16 → snapped 999985
    assert(half((16, 1))._5 == 0.999985)
    assert(half((1, 16))._6.isEmpty,
      "no false pairs → null fp rate, not a division error")
  }

  test("zipfFit: exact-power-law corpus fits slope -1 with r -1, " +
      "uniform corpus fits slope 0, topN caps the head") {
    import graft.ops.Text
    // token t_r appears exactly round(e^8/r) times → ln(cnt) is an
    // affine function of -ln(rank) up to the count rounding, so the
    // snapped regression must land within rounding error of -1 / -1
    val zipf = (1 to 20).flatMap(r =>
      Seq.fill(math.round(math.exp(8.0) / r).toInt)(s"t$r%02d"))
    val zdocs = zipf.grouped(500).map(g => Tuple1(g.mkString(" ")))
      .toSeq.toDF("text")
    val zf = Text.zipfFit(zdocs, $"text", 20)
      .as[(String, Long, Option[Double], Option[Double])].collect().head
    assert(zf._1 == "top20" && zf._2 == 20L)
    assert(math.abs(zf._3.get + 1.0) < 0.001, s"slope ${zf._3}")
    assert(zf._4.get < -0.999)
    // uniform: every token equally frequent → ln(cnt) constant → slope 0
    val uni = (1 to 10).flatMap(r => Seq.fill(50)(s"u$r"))
    val udocs = uni.grouped(100).map(g => Tuple1(g.mkString(" ")))
      .toSeq.toDF("text")
    val uf = Text.zipfFit(udocs, $"text", 5)
      .as[(String, Long, Option[Double], Option[Double])].collect().head
    assert(uf._1 == "top5" && uf._2 == 5L)
    assert(uf._3.get == 0.0)
    assert(uf._4.isEmpty, "constant counts: r undefined (deny = 0)")
  }

  test("heapsFit: every-unit-new corpus fits beta 1 exactly, saturated " +
      "vocab flattens to 0, unit column is caller-controlled") {
    import graft.ops.Text
    // each doc contributes 10 BRAND-NEW tokens -> V = n exactly, beta 1
    val fresh = (0 until 100).map(d =>
      (d.toLong, (0 until 10).map(i => s"w${d}_$i").mkString(" ")))
      .toDF("doc_id", "text")
    val f = Text.heapsFit(fresh, $"doc_id", Text.tokens($"text"), 10)
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    assert(f == ((10L, 1000L, 1000L, Some(1.0), Some(1.0))), s"got $f")
    // a 3-word vocabulary: V pins to 3 from bucket 0 -> slope 0,
    // r undefined
    val flat = (0 until 100).map(d => (d.toLong, "a b c a b c"))
      .toDF("doc_id", "text")
    val g = Text.heapsFit(flat, $"doc_id", Text.tokens($"text"), 10)
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    assert(g._3 == 3L && g._4 == Some(0.0) && g._5.isEmpty)
    // shingle units: the same flat corpus has 4 distinct 2-shingles
    // ('a b','b c','c a'... here: 'a b','b c','c a'? doc='a b c a b c'
    // -> shingles {a b, b c, c a}) — the unit column swap changes the
    // measured vocabulary
    val h = Text.heapsFit(flat, $"doc_id",
        Text.wordShingles(Text.tokens($"text"), 2), 10)
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    assert(h._3 == 3L)
  }

  test("logOddsTerms: planted source-exclusive token tops its source, " +
      "z sign separates over/under-representation") {
    // source A's docs repeat 'qqq' heavily; B shares the common tokens
    val docs = Seq(
      ("A", "qqq qqq qqq common words here"),
      ("A", "qqq qqq common words there"),
      ("B", "common words here and there again"),
      ("B", "common words everywhere again")).toDF("src", "text")
    val out = Text.logOddsTerms(docs, $"src", $"text", 3)
      .as[(String, Int, String, Long, Double)].collect()
    val byKey = out.map(r => (r._1, r._2) -> r).toMap
    assert(byKey(("A", 1))._3 == "qqq", s"got ${out.toSeq}")
    assert(byKey(("A", 1))._4 == 5L)
    assert(byKey(("A", 1))._5 > 0.0)
    // 'qqq' never appears in B, so it cannot enter B's top-k positively
    assert(!out.filter(_._1 == "B").exists(r => r._3 == "qqq" && r._5 > 0))
    // exactly topK rows per source
    assert(out.count(_._1 == "A") == 3 && out.count(_._1 == "B") == 3)
  }

  test("skipgramPmi pair counts equal brute-force windowed pairs; " +
      "window 1 collapses to unordered adjacent bigrams") {
    val texts = Seq("a b c a b", "b a a c", "c", "")
    val docs = texts.toDF("text")
    val got = Text.skipgramPmi(docs, $"text", 3, 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // brute force: every (i, j) with 1 <= j - i <= 3, unordered
    val brute = scala.collection.mutable.Map[(String, String), Long]()
    for (t <- texts; tk = t.split("\\s+").filter(_.nonEmpty);
         i <- tk.indices; d <- 1 to 3 if i + d < tk.length) {
      val k = if (tk(i) <= tk(i + d)) (tk(i), tk(i + d))
              else (tk(i + d), tk(i))
      brute(k) = brute.getOrElse(k, 0L) + 1L
    }
    assert(got == brute.toMap, s"got $got want $brute")
    // PMI of a pair occurring at independence rate ~ ln near 0; just
    // pin one exact count and that every emitted pmi is finite
    assert(got(("a", "b")) == brute(("a", "b")))
    val w1 = Text.skipgramPmi(docs, $"text", 1, 1L)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val bruteAdj = scala.collection.mutable.Map[(String, String), Long]()
    for (t <- texts; tk = t.split("\\s+").filter(_.nonEmpty);
         i <- 0 until tk.length - 1) {
      val k = if (tk(i) <= tk(i + 1)) (tk(i), tk(i + 1))
              else (tk(i + 1), tk(i))
      bruteAdj(k) = bruteAdj.getOrElse(k, 0L) + 1L
    }
    assert(w1 == bruteAdj.toMap)
  }

  test("sourceJsVsRest: identical split reads 0, disjoint vocab reads " +
      "ln 2, a solo source reads null (never NaN)") {
    // two sources, identical distributions -> JS = 0
    val same = Seq(("a", "x y"), ("b", "x y")).toDF("src", "text")
    val o0 = Text.sourceJsVsRest(same, $"src", $"text")
      .as[(String, Long, Option[Double])].collect()
    assert(o0.forall(_._3 == Some(0.0)), o0.mkString(","))
    // disjoint vocabularies -> JS = ln 2 per side
    val disj = Seq(("a", "x x"), ("b", "y y")).toDF("src", "text")
    val oD = Text.sourceJsVsRest(disj, $"src", $"text")
      .as[(String, Long, Option[Double])].collect()
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(oD.forall(_._3 == Some(ln2)), oD.mkString(","))
    // a source that IS the whole pool has no rest: null, not NaN
    val solo = Seq(("only", "x y z")).toDF("src", "text")
    val oS = Text.sourceJsVsRest(solo, $"src", $"text")
      .as[(String, Long, Option[Double])].head()
    assert(oS == (("only", 3L, None)), s"got $oS")
  }

  test("langConsistency: a language drift is visible at segment level " +
      "while doc-level langid hides it; ties break lexicographically; " +
      "empty docs emit nothing") {
    val en8 = "the cat a dog of it to go"            // 8 en tokens
    val de8 = "der hund und das ein der die das"     // 8 de tokens
    val docs = Seq(
      (1L, en8 + " " + en8 + " " + de8),  // 3 segments of 8: en,en,de
      (2L, de8),                          // pure de
      (3L, en8 + " " + de8),              // 1-1 tie -> 'de' < 'en' wins
      (4L, "")).toDF("doc_id", "text")
    val got = Text.langConsistency(docs, col("doc_id"), col("text"), 8)
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, "en", 2L, 2L)))
    assert(got(2L) == ((2L, 1L, "de", 1L, 1L)))
    assert(got(3L) == ((3L, 2L, "de", 1L, 2L)), "tie must break to 'de'")
    assert(!got.contains(4L), "empty docs have no segments")
    // doc-level langid on doc 1 reports the dominant family only
    val docLevel = docs.filter($"doc_id" === 1L)
      .select(Text.langId($"text")).as[String].head()
    assert(docLevel == "en")
  }

  test("fimSplit: hash cuts and the PSM render replay in a local " +
      "brute force; degenerate docs flow through; deterministic") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hashLong(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a"), (3L, ""), (4L, "alpha beta gamma delta"))
    val got = Text.fimSplit(docs.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    docs.foreach { case (id, txt) =>
      val tk = txt.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val n = tk.length
      val c1 = hashLong(s"$id:a") % (n + 1)
      val c2 = hashLong(s"$id:b") % (n + 1)
      val (lo, hi) = (math.min(c1, c2).toInt, math.max(c1, c2).toInt)
      val psm = "<PRE> " + tk.slice(0, lo).mkString(" ") +
        " <SUF> " + tk.slice(hi, n).mkString(" ") +
        " <MID> " + tk.slice(lo, hi).mkString(" ")
      assert(got(id) ==
        ((id, n.toLong, lo.toLong, hi.toLong, md5hex(psm))), s"doc $id")
    }
    // the empty doc renders the all-empty PSM
    assert(got(3L)._5 == md5hex("<PRE>  <SUF>  <MID> "))
  }

  test("canonicalizeForDedup folds NFD/zero-width/whitespace/case " +
      "variants of one page to a single dedup key; fingerprint on " +
      "raw text does not") {
    val base = "Some Page Content here"
    val variants = Seq(
      base + " Caf\u00e9",                      // NFC composed
      base + " Cafe\u0301",                     // NFD decomposed
      "\u200B" + base + " Caf\u00e9\uFEFF",     // zero-width injected
      " " + base.toLowerCase + "  caf\u00e9  ",  // case + wrapping
      base + "\tCaf\u00e9\n")                   // exotic whitespace
    val df = variants.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val canon = df.select(Reference.canonicalizeForDedup($"text"))
      .as[String].collect().toSet
    assert(canon.size == 1, s"canonical keys diverged: $canon")
    val raw = df.select(Text.fingerprint($"text"))
      .as[String].collect().toSet
    assert(raw.size > 1, "raw fingerprint must NOT fold these")
  }

  test("gopherRules: each rule fires on its planted violator and the " +
      "clean doc passes") {
    val good = (1 to 60).map(i => s"word$i").mkString(" ") +
      " the be to of and"
    val docs = Seq(
      (1L, good),                                   // passes everything
      (2L, "too short the be"),                     // word count
      (3L, good + "\n- b1\n- b2\n- b3\n- b4\n- b5\n- b6\n- b7\n- b8"),
      (4L, good + " ### #### ##### ###### #######"),
      (5L, (1 to 60).map(_ => "a").mkString(" ") + " the be"),
      (6L, (1 to 60).map(i => s"w$i").mkString(" ")) // no stopwords
    ).toDF("doc_id", "text")
    val got = Text.gopherRules(docs, $"doc_id", $"text")
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean,
        Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._10, "the clean doc must pass")
    assert(!got(2L)._3 && !got(2L)._10, "short doc fails word count")
    assert(!got(3L)._6 && !got(3L)._10, "bullet doc fails bullet rule")
    assert(!got(4L)._5 && !got(4L)._10, "symbol doc fails symbol ratio")
    assert(!got(5L)._4 && !got(5L)._10, "single-char doc fails mean len")
    assert(!got(6L)._9 && !got(6L)._10, "stopword-free doc fails")
    // n_words is the plain token count
    assert(got(1L)._2 == 65L)
  }

  test("perplexityBuckets: per-language bands are rank-exact (sizes " +
      "from the floor formula, band ranges ordered)") {
    // lang A: 6 docs with 3 distinct repetition levels (bigram NLL
    // separates them); lang B: 4 docs -> band sizes (2, 1, 1)
    val rep = (s: String, n: Int) => Seq.fill(n)(s).mkString(" ")
    val docs = (
      (1 to 6).map(i => (i.toLong, "A",
        rep(if (i <= 2) "x y" else if (i <= 4) "p q" else s"r$i s$i t u v w", 4))) ++
      (11 to 14).map(i => (i.toLong, "B", rep(s"m$i n$i", 3)))
    ).toDF("doc_id", "lang", "text")
    val got = Text.perplexityBuckets(docs, $"doc_id", $"text", $"lang", 3)
      .as[(String, Int, Long, Long, Long)].collect()
    val a = got.filter(_._1 == "A").sortBy(_._2)
    val b = got.filter(_._1 == "B").sortBy(_._2)
    assert(a.map(r => r._2 -> r._3).toSeq == Seq(0 -> 2L, 1 -> 2L, 2 -> 2L))
    assert(b.map(r => r._2 -> r._3).toSeq == Seq(0 -> 2L, 1 -> 1L, 2 -> 1L))
    // bands are rank bands: ranges must be ordered and non-overlapping
    a.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._5 <= hi._4, s"band ranges overlap: $lo vs $hi")
    case _ => ()
    }
  }

  test("tokenFertility: hand-computed counts and floored micro ratios") {
    val docs = Seq(
      ("aa", "ab cd"),        // 2 words, 2 bpe, 5 bytes
      ("aa", "a1! x"),        // 2 words, 4 bpe (a,1,!,x), 5 bytes
      ("bb", "zz zz zz")      // 3 words, 3 bpe, 8 bytes
    ).toDF("lang", "text")
    val got = Text.tokenFertility(docs, $"lang", $"text")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("aa") == (("aa", 2L, 4L, 6L, 10L,
      6L * 1000000L / 4L, 10L * 1000000L / 6L)))
    assert(got("bb") == (("bb", 1L, 3L, 3L, 8L, 1000000L,
      8L * 1000000L / 3L)))
  }

  test("fellegiSunter: m/u weights replay locally; banding splits the " +
      "planted pairs; a constant-true field stays finite") {
    val pairs = Seq(
      // matches: both agree f1; one disagrees f2
      (1L, 101L, true, true, true),
      (2L, 102L, true, true, false),
      // non-matches: one agrees f1; none agree f2
      (3L, 103L, false, true, false),
      (4L, 104L, false, false, false),
      (5L, 105L, false, false, false)
    ).toDF("id_a", "id_b", "y", "f1", "f2")
    val got = Dedup.fellegiSunter(pairs, $"id_a", $"id_b", $"y",
        Seq("f1" -> $"f1", "f2" -> $"f2"), 900000L, -900000L)
      .as[(Long, Long, Boolean, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    def snp(n: Long, d: Long): Long = {
      val x = math.log(n.toDouble / d.toDouble) * 1e6
      // Spark round() is half-away-from-zero (the roundAway caveat)
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    }
    val (nm, nu) = (2L, 3L)
    val (amF1, auF1, amF2, auF2) = (2L, 1L, 1L, 0L)
    def w(agree: Boolean, am: Long, au: Long): Long =
      if (agree) snp(am + 1, nm + 2) - snp(au + 1, nu + 2)
      else snp(nm - am + 1, nm + 2) - snp(nu - au + 1, nu + 2)
    Seq((1L, true, true), (2L, true, false), (3L, true, false),
      (4L, false, false), (5L, false, false)).foreach {
      case (id, a1, a2) =>
        val exp = w(a1, amF1, auF1) + w(a2, amF2, auF2)
        assert(got(id)._4 == exp, s"pair $id: ${got(id)._4} != $exp")
    }
    // agreeing-everything matches band as matches; all-disagree as non
    assert(got(1L)._5 == "match")
    assert(got(4L)._5 == "nonmatch" && got(5L)._5 == "nonmatch")
    // scores are finite even where u would be zero unsmoothed (f2)
    assert(got.values.forall(r => math.abs(r._4) < 10000000L))
  }

  test("watermarkGreens: the salted green list replays locally; " +
      "excess arithmetic exact; short docs drop") {
    val docs = Seq(
      (1L, "a b a b a"),  // 4 transitions, alternating pair
      (2L, "one two three four"),
      (3L, "solo"), (4L, " ")).toDF("doc_id", "text")
    val got = Text.watermarkGreens(docs, $"doc_id", $"text", "wm7")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def green(a: String, b: String): Long =
      if (java.lang.Long.parseLong(md5hex(s"wm7:$a:$b").take(15), 16)
        % 2 == 0) 1L else 0L
    def replay(text: String): (Long, Long) = {
      val tk = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val gs = tk.sliding(2).filter(_.length == 2)
        .map(p => green(p(0), p(1))).toSeq
      (gs.size.toLong, gs.sum)
    }
    Seq(1L -> "a b a b a", 2L -> "one two three four").foreach {
      case (id, text) =>
        val (n, g) = replay(text)
        assert(got(id) == ((id, n, g, 2 * g - n, g * 1000000L / n)),
          s"doc $id mismatch: ${got(id)}")
    }
    // doc 1 alternates one pair both ways: its greens are 2+2 or 0+4
    // of the two transition types — n is exactly 4 either way
    assert(got(1L)._2 == 4L)
    assert(!got.contains(3L) && !got.contains(4L),
      "docs without transitions must drop")
  }

  test("rhoLossSelect: ref-known docs rank above main-known docs, " +
    "per-doc sums are exact and short docs drop") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Sampling, Text}
    // hashBucket(id, 3) decides the split — discover ids per bucket
    val bk = spark.range(1, 120)
      .select(col("id"), Sampling.hashBucket(col("id"), 3).as("b"))
      .as[(Long, Long)].collect().groupBy(_._2)
      .map { case (b, xs) => b -> xs.map(_._1).toSeq }
    val docs = Seq(
      (bk(0L).head, "alpha beta gamma delta"),     // main-train corpus
      (bk(1L).head, "epsilon zeta eta theta"),     // reference corpus
      (bk(2L).head, "epsilon zeta eta theta"),     // pool: ref knows it
      (bk(2L)(1), "alpha beta gamma delta"),       // pool: main knows it
      (bk(2L)(2), "solo"))                         // pool: no bigrams
      .toDF("doc_id", "text")
    val out = Text.rhoLossSelect(docs, "doc_id", col("text"), 0.5, 10)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length == 2, "the single-token pool doc drops")
    assert(out.map(_._2).forall(_ == 3L), "3 bigrams per 4-token doc")
    val byId = out.map(r => r._1 -> r).toMap
    val refKnown = byId(bk(2L).head)
    val mainKnown = byId(bk(2L)(1))
    assert(refKnown._5 > 0 && mainKnown._5 < 0,
      "reducible loss positive iff the reference model explains it")
    assert(out.head._1 == bk(2L).head, "top-1 is the learnable doc")
    assert(refKnown._5 ==
      (refKnown._3 - refKnown._4) / refKnown._2,
      "score is the exact floored per-bigram diff")
  }

  test("corpusBleu: identical pair scores exactly 1e6; clipped " +
    "matches per order; any zero order pins BLEU to 0") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Text
    val same = Seq((1L, Seq("a", "b", "c", "d", "e"),
      Seq("a", "b", "c", "d", "e"))).toDF("id", "hyp", "ref")
    val perfect = Text.corpusBleu(same).collect().head
    assert(perfect.getAs[Long]("bleu_micro") == 1000000L)
    val sub = Seq((1L, Seq("a", "b", "c", "x", "e"),
      Seq("a", "b", "c", "d", "e"))).toDF("id", "hyp", "ref")
    val r = Text.corpusBleu(sub).collect().head
    assert((r.getAs[Long]("hyp_len"), r.getAs[Long]("ref_len")) ==
      ((5L, 5L)))
    assert((1 to 4).map(n => r.getAs[Long](s"m$n")) ==
      Seq(4L, 2L, 1L, 0L))
    assert((1 to 4).map(n => r.getAs[Long](s"t$n")) ==
      Seq(5L, 4L, 3L, 2L))
    assert(r.getAs[Long]("bleu_micro") == 0L,
      "a zero-match order pins corpus BLEU to 0 (no smoothing)")
  }

  test("ngramNoveltyCurve: exact occurrence-counted novelty per n") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Text
    val docs = Seq((1L, "a b c"), (2L, "a b x"))
      .toDF("doc_id", "text")
    val out = Text.ngramNoveltyCurve(docs, col("doc_id"), col("text"),
      col("doc_id") === 1L, 3)
      .as[(Int, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1) == ((1, 3L, 1L, 333333L)))
    assert(out(2) == ((2, 2L, 1L, 500000L)))
    assert(out(3) == ((3, 1L, 1L, 1000000L)))
  }

  test("chrF: beta=2 F collapses to 5tp/(4tr+th); missing orders " +
    "still divide the mean; identical strings score the order count") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Text
    val same = Seq((1L, "abc", "abc")).toDF("id", "hyp", "ref")
    val s = Text.chrF(same, 6)
      .as[(Int, Long, Long, Long, Long, Long)].collect()
    assert(s.length == 3, "orders beyond both lengths emit no row")
    assert(s.forall(_._5 == 1000000L))
    assert(s.forall(_._6 == 500000L), "3 perfect orders of 6 -> 0.5")
    val diff = Seq((1L, "abd", "abc")).toDF("id", "hyp", "ref")
    val d = Text.chrF(diff, 6)
      .as[(Int, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(d(1) == ((1, 2L, 3L, 3L, 666666L, 194444L)))
    assert(d(2) == ((2, 1L, 2L, 2L, 500000L, 194444L)))
    assert(d(3) == ((3, 0L, 1L, 1L, 0L, 194444L)))
  }

  test("goodTuringUnseen: singleton mass is the unseen estimate") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Text
    val docs = Seq(("g", "a a b c")).toDF("src", "text")
    val r = Text.goodTuringUnseen(docs, col("src"), col("text"))
      .as[(String, Long, Long, Long, Long, Long)].head()
    assert(r == (("g", 4L, 3L, 2L, 1L, 500000L)))
  }


  test("rougeN: clipped overlap recall/precision/F1 as exact floors") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Text
    val pairs = Seq((1L, Seq("a", "b", "c"), Seq("a", "b", "d", "c")))
      .toDF("id", "hyp", "ref")
    // hyp bigrams {ab, bc}; ref bigrams {ab, bd, dc}; clipped m=1
    val r = Text.rougeN(pairs, 2)
      .as[(Int, Long, Long, Long, Long, Long, Long)].head()
    assert(r == ((2, 1L, 2L, 3L, 333333L, 500000L, 400000L)))
  }


  test("ophDensifiedSignature: k rows per id, no empty slots, identical " +
    "element sets share every slot, values come from the elements") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    val elems = Seq((1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "c"), (3L, "x"))
      .toDF("id", "tok")
      .select(col("id"), Dedup.hashLong(col("tok")).as("h"))
    val sig = Dedup.ophDensifiedSignature(elems, col("id"),
      col("h"), 8).as[(Long, Int, Long)].collect()
    assert(sig.groupBy(_._1).forall(_._2.length == 8))
    val hashes = elems.as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(sig.forall(r => hashes(r._1).contains(r._3)),
      "every densified slot carries a real element hash")
    val s1 = sig.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    val s2 = sig.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    assert(s1 == s2, "identical element sets -> identical signatures")
    // the single-element doc densifies every slot to that element
    assert(sig.filter(_._1 == 3L).forall(_._3 == hashes(3L).head))
  }


  test("ophCandidatePairs: bucket joins pair identical bands, distinct output") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    // k=8, bands=4 (width 2): ids 1,2 share every slot value; id 3
    // differs everywhere
    val sig = ((0 until 8).flatMap(s0 => Seq((1L, s0, 100L + s0),
      (2L, s0, 100L + s0), (3L, s0, 900L + s0))))
      .toDF("id", "slot", "sig")
    val pairs = Dedup.ophCandidatePairs(sig, 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("ophCandidatePairs density guard: an over-cap mega-bucket emits " +
      "nothing while smaller buckets still pair") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    // k=4, bands=2: ids 1..5 identical in band 0 (bucket of 5, the
    // boilerplate shape); only 1,2 also share band 1 (bucket of 2)
    val sig = ((1L to 5L).flatMap { id =>
      Seq((id, 0, 10L), (id, 1, 11L)) ++
        Seq((id, 2, if (id <= 2) 20L else 200L + id),
          (id, 3, if (id <= 2) 21L else 300L + id))
    }).toDF("id", "slot", "sig")
    val uncapped = Dedup.ophCandidatePairs(sig, 4, 2)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.size == 10, "band 0 pairs everyone")
    val capped = Dedup.ophCandidatePairs(sig, 4, 2, maxBucket = 4)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)),
      "the 5-member bucket is dropped; the 2-member bucket survives")
    intercept[IllegalArgumentException] {
      Dedup.ophCandidatePairs(sig, 4, 2, maxBucket = 1)
    }
  }


  test("vocabCoveragePlan: partial boundary class, exact token shares") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Text
    // freqs: a x4, b x2, c x2, d x1, e x1 -> total 10 tokens, 5 types
    val docs = Seq((1L, "a a a a b b c c d e")).toDF("id", "text")
    val out = Text.vocabCoveragePlan(docs, col("text"), Seq(1, 2, 3, 5))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 10L, 400000L)))
    // V=2: top type (4 tokens) + ONE of the two freq-2 types
    assert(out(2L) == ((2L, 6L, 10L, 600000L)))
    assert(out(3L) == ((3L, 8L, 10L, 800000L)))
    assert(out(5L) == ((5L, 10L, 10L, 1000000L)))
  }


  test("speculativeAcceptance: rounds equal the hand-replayed " +
      "speculation loop on planted mismatch shapes") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Text
    // doc 1: mismatches at 0-based 2 and 7 in a 10-token ref, W=4:
    //   round 1 accepts [0,1], corrects 2; round 2 accepts [3..6]
    //   (full window); round 3 corrects 7 after 0 accepts... replay:
    //   gaps: (2-(-1)-1)=2 -> 1 round; (7-2-1)=4 -> 4//4+1=2 rounds;
    //   tail 10-8=2 -> 1 round; total 4. accepted 8.
    // doc 2: identical 5-token streams, W=4 -> ceil(5/4)=2 rounds.
    // doc 3: hyp shorter (1 vs 3): positions 1,2 mismatch -> 2 rounds.
    // doc 4: empty ref -> 0 rounds, null rates.
    val rows = Seq(
      (1L, Seq("a","b","X","d","e","f","g","Y","i","j"),
        Seq("a","b","c","d","e","f","g","h","i","j")),
      (2L, Seq("p","q","r","s","t"), Seq("p","q","r","s","t")),
      (3L, Seq("a"), Seq("a","b","c")),
      (4L, Seq.empty[String], Seq.empty[String]))
      .toDF("id", "hyp", "ref")
    val got = Text.speculativeAcceptance(rows, col("id"), col("hyp"),
        col("ref"), 4)
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 10L, 2L, 4L, Some(800000L), Some(2500000L))))
    assert(got(2L) == ((2L, 5L, 0L, 2L, Some(1000000L), Some(2500000L))))
    assert(got(3L) == ((3L, 3L, 2L, 2L, Some(333333L), Some(1500000L))))
    assert(got(4L) == ((4L, 0L, 0L, 0L, None, None)))
  }
}
