package graft

import org.apache.spark.sql.functions._
import graft.ops.SuffixArray

class SuffixArraySpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: doc-local suffix sort. Token sequences
    * compare lexicographically with shorter-prefix-first (= the
    * sentinel semantics), exact ties break by doc_id ascending.
    */
  private def tok(s: String): Vector[String] =
    s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector

  private def seqLt(a: Vector[String], b: Vector[String]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (a(i) != b(i)) return a(i) < b(i)
      i += 1
    }
    a.length < b.length
  }

  private def refSa(docs: Seq[(Long, String)]): Vector[(Long, Long)] =
    docs.flatMap { case (id, txt) =>
      val w = tok(txt)
      w.indices.map(p => (id, p.toLong, w.drop(p)))
    }.sortWith { (x, y) =>
      if (x._3 == y._3) x._1 < y._1 else seqLt(x._3, y._3)
    }.map(t => (t._1, t._2)).toVector

  private def refLcp(a: Vector[String], b: Vector[String]): Long = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n && a(i) == b(i)) i += 1
    i.toLong
  }

  // planted structure: 20/21 identical; 22 a strict prefix of 20;
  // 23 internally repetitive; 24 shares an interior run with 20;
  // 25 empty; 26 ends where 27 begins (a cross-boundary trap for a
  // naive concatenation without sentinels)
  private val docs: Seq[(Long, String)] = Seq(
    20L -> "the quick brown fox jumps over the lazy dog today",
    21L -> "the quick brown fox jumps over the lazy dog today",
    22L -> "the quick brown fox",
    23L -> "a a a a a a b a a",
    24L -> "big brown fox jumps over the lazy cat instead",
    25L -> "",
    26L -> "stream merge sort",
    27L -> "sort stream merge the quick brown")

  private def corpusAll() = SuffixArray.corpus(docs.toDF("doc_id", "text"),
    col("doc_id"), col("text"))

  private def buildAll() = {
    val c = corpusAll()
    (c, SuffixArray.build(c))
  }

  test("suffix array equals the doc-local brute-force sort, " +
      "sentinels occupy the bottom numDocs ranks, ranks are dense") {
    val (c, b) = buildAll()
    val ref = refSa(docs)
    val sents = b.sa.filter(col("sent"))
      .select(col("rank"), col("doc_id")).as[(Long, Long)]
      .collect().sortBy(_._1)
    // sentinel-start suffixes sort below all real ones, in doc order
    assert(sents.map(_._1).toSeq == (0L until c.numDocs).toSeq)
    assert(sents.map(_._2).toSeq == docs.map(_._1).sorted)
    val got = b.sa.filter(!col("sent"))
      .select((col("rank") - c.numDocs).as("r"), col("doc_id"),
        col("pos"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == ref.indices.map(_.toLong))
    assert(got.map(t => (t._2, t._3)).toVector == ref)
    b.unpersistAll()
  }

  test("adjacentLcp matches brute force on every adjacent pair and " +
      "never crosses a document boundary") {
    val (c, b) = buildAll()
    val ref = refSa(docs)
    val byDoc = docs.toMap.map { case (k, v) => k -> tok(v) }
    val expect = ref.sliding(2).zipWithIndex.map {
      case (Seq((da, pa), (db, pb)), i) =>
        (i.toLong, da, pa, db, pb,
          refLcp(byDoc(da).drop(pa.toInt), byDoc(db).drop(pb.toInt)))
    }.toSet
    val got = SuffixArray.adjacentLcp(b, c.numDocs)._1
      .select(col("rank_sa"), col("doc_a"), col("pos_a"),
        col("doc_b"), col("pos_b"), col("lcp"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expect)
    // the identical docs 20/21 are adjacent with full-length LCP
    assert(got.exists(t => t._2 == 20L && t._4 == 21L && t._3 == 0L &&
      t._6 == 10L))
    // doc 26 ends with "sort" where 27 begins: no LCP may claim the
    // run continues across the boundary (max possible = doc-local)
    got.filter(t => t._2 == 26L || t._4 == 26L).foreach { t =>
      val la = byDoc(t._2).length - t._3
      val lb = byDoc(t._4).length - t._5
      assert(t._6 <= math.min(la, lb))
    }
    b.unpersistAll()
  }

  // brute n-gram census (the oracles' method): every in-document
  // g-window's (doc_id, pos), keyed by its gram text
  private def census(g: Long): Map[String, Seq[(Long, Long)]] =
    docs.flatMap { case (id, txt) =>
      val w = tok(txt)
      (0 to w.length - g.toInt)
        .map(i => w.slice(i, i + g.toInt).mkString(" ") -> ((id, i.toLong)))
    }.groupBy(_._1).map { case (gr, occ) => gr -> occ.map(_._2) }

  /** (doc_id, pos) of every g-window occurring at least twice. */
  private def bruteRepeated(g: Long): Set[(Long, Long)] =
    census(g).values.filter(_.size >= 2).flatten.toSet

  private def repeatedSpans(g: Long) =
    SuffixArray.repeatedWindows(corpusAll(), g)
      .select(col("doc_id"), col("pos"), lit(g).as("l"))

  test("repeatedWindows: at g in {2, 4} the rank groups equal the brute " +
      "n-gram census (two unrelated algorithms, identical output) and " +
      "no window crosses a document end") {
    val byDoc = docs.toMap.map { case (k, v) => k -> tok(v) }
    for (g <- Seq(2L, 4L)) {
      val got = SuffixArray.repeatedWindows(corpusAll(), g)
        .as[(Long, Long, Long, Long)].collect()
      val fams = got.groupBy(_._3).values.toSeq.map { ms =>
        val grams = ms.map { case (d, p, _, _) =>
          byDoc(d).slice(p.toInt, p.toInt + g.toInt).mkString(" ") }.distinct
        assert(grams.length == 1, s"g=$g: one rank, grams ${grams.mkString("|")}")
        assert(ms.forall(_._4 == ms.length), s"g=$g: cnt is not the group size")
        grams.head -> ((ms.length.toLong, ms.map(_._1).distinct.length.toLong))
      }
      assert(fams.map(_._1).distinct.size == fams.size,
        s"g=$g: one gram split across ranks")
      val ref = census(g).collect {
        case (gr, occ) if occ.size >= 2 =>
          gr -> ((occ.size.toLong, occ.map(_._1).distinct.size.toLong))
      }
      assert(fams.toMap == ref, s"g=$g")
      // doc 26 ends with "sort" where 27 begins, and 20/21 end "today"
      // where 21/22 begin "the": without a sentinel per document those
      // windows would run on into the next doc (and "today the" would
      // even repeat)
      got.foreach { case (d, p, _, _) =>
        assert(p + g <= byDoc(d).length, s"g=$g: ($d, $p) crosses its doc end")
      }
      assert(fams.nonEmpty)
    }
  }

  test("longestCrossMatch: per eval position equals the brute max " +
      "LCP against every train suffix, including matches that pass " +
      "through intervening eval suffixes") {
    val (c, b) = buildAll()
    val byDoc = docs.toMap.map { case (k, v) => k -> tok(v) }
    val trains = docs.map(_._1).filter(_ % 2 == 0)
    val got = Reference.longestCrossMatch(b, c.numDocs,
        d => d % 2 === 0)
      .as[(Long, Long, Option[Long])].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val ref = docs.filter(_._1 % 2 == 1).flatMap { case (id, txt) =>
      val w = tok(txt)
      w.indices.map { p =>
        val best = trains.flatMap(td => byDoc(td).indices.map(tp =>
          refLcp(w.drop(p), byDoc(td).drop(tp)))).max
        (id, p.toLong) -> Some(best)
      }
    }.toMap
    assert(got == ref)
    // doc 21 is an exact copy of train doc 20: full-suffix matches
    assert(got((21L, 0L)).contains(10L))
    b.unpersistAll()
  }

  /** Per real position, its longest match with either suffix-array
    * neighbour (brute force).
    */
  private lazy val maxNeighbourLcp: Map[(Long, Long), Long] = {
    val byDoc = docs.toMap.map { case (k, v) => k -> tok(v) }
    val nbr = scala.collection.mutable.Map[(Long, Long), Long]()
      .withDefaultValue(0L)
    refSa(docs).sliding(2).foreach { case Seq((da, pa), (db, pb)) =>
      val l = refLcp(byDoc(da).drop(pa.toInt), byDoc(db).drop(pb.toInt))
      nbr((da, pa)) = math.max(nbr((da, pa)), l)
      nbr((db, pb)) = math.max(nbr((db, pb)), l)
    }
    nbr.toMap
  }

  test("dupSpanCoverage over the repeated g-windows: per-doc starts and " +
      "interval union match the brute census at g in {2, 4}; " +
      "overlap-heavy repetitive docs never overcount") {
    val nTok = docs.map { case (id, t) => (id, tok(t).length.toLong) }
    for (g <- Seq(2L, 4L)) {
      val rep = bruteRepeated(g)
      // the identity the bounded path rests on: a position's g-window
      // repeats iff its longest match with an SA neighbour reaches g
      assert(rep == maxNeighbourLcp.filter(_._2 >= g).keySet)
      val expect = nTok.map { case (id, n) =>
        val starts = rep.filter(_._1 == id).map(_._2)
        (id, n, starts.size.toLong,
          starts.flatMap(p => p until p + g).size.toLong)
      }.toSet
      val got = SuffixArray.dupSpanCoverage(repeatedSpans(g),
          nTok.toDF("doc_id", "n_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("dup_starts"),
          col("covered_tokens"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expect, s"g=$g")
      // the empty doc reports zeros, identical docs cover fully
      assert(got.contains((25L, 0L, 0L, 0L)))
      assert(got.contains((20L, 10L, 10L - g + 1, 10L)))
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("cutSpans over the repeated g-windows: rewrites equal the brute " +
      "census cut byte-exactly at g in {2, 4}; OVERLAPPING spans " +
      "coalesce before cutting; zero-token and fully-excised docs hash " +
      "empty") {
    val toks = docs.toDF("doc_id", "text")
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("tk"))
    for (g <- Seq(2L, 4L)) {
      // brute: every token inside some duplicated g-gram is cut
      val rep = bruteRepeated(g)
      val expect = docs.map { case (id, txt) =>
        val w = tok(txt)
        val covered = rep.filter(_._1 == id)
          .flatMap { case (_, p) => (p until p + g).map(_.toInt) }
        val kept = w.indices.filterNot(covered).map(w)
        (id, w.length.toLong, covered.size.toLong,
          md5hex(kept.mkString(" ")))
      }.toSet
      val got = SuffixArray.cutSpans(repeatedSpans(g), toks)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got == expect, s"g=$g")
      // doc 20/21 are identical -> fully excised, empty-string hash
      assert(got.contains((20L, 10L, 10L, md5hex(""))))
      // doc 24 shares "brown fox jumps over the lazy" with 20: its
      // repeated windows from pos 1 on all OVERLAP and must coalesce to
      // cover pos 1..6 exactly once — 6 removed of 9, never a double
      // count
      val d24 = got.find(_._1 == 24L).get
      assert(d24._2 == 9L && d24._3 == 6L)
      // the empty doc flows through with the canonical empty hash
      assert(got.contains((25L, 0L, 0L, md5hex(""))))
    }
  }
  // ---- incremental tier: persisted probe index ----

  private val trainDocs: Seq[(Long, String)] = Seq(
    100L -> "alpha beta gamma delta epsilon zeta eta theta",
    102L -> "one two three four five six",
    104L -> "isolated unrelated words nothing shared here at all",
    106L -> "")
  private val evalDocs: Seq[(Long, String)] = Seq(
    201L -> "xx alpha beta gamma delta epsilon yy",
    203L -> "one two three nine five six",
    205L -> "completely novel tokens qqq www eee rrr ttt",
    207L -> "four five six one two three four five six zz")

  test("buildTo stops at the requested window with tables " +
      "bit-identical to build()'s first rounds (count-below ranks at " +
      "window w don't depend on later rounds)") {
    val (c, bFull) = buildAll()
    val bTo = SuffixArray.buildTo(c, 4L)
    assert(bTo.tables.map(_._1) == Seq(1L, 2L, 4L))
    for (((len, t1), (_, t2)) <- bTo.tables.zip(bFull.tables.take(3))) {
      val a = t1.as[(Long, Long)].collect().toSet
      val b = t2.as[(Long, Long)].collect().toSet
      assert(a == b, s"window $len tables diverge")
    }
    bTo.unpersistAll(); bFull.unpersistAll()
  }

  test("probeGramRanks: increment positions found are exactly the " +
      "g-grams occurring in train, ranks identify window equality, " +
      "candidate docs are exactly the docs holding a hit gram") {
    withTempDir { dir =>
      val g = 4L
      val idx = new java.io.File(dir, "sa_index").getAbsolutePath
      val c = SuffixArray.corpus(trainDocs.toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      val b = SuffixArray.build(c)
      SuffixArray.persistProbeIndex(c, b, idx, g)
      val index = SuffixArray.loadProbeIndex(spark, idx, g)
      val ranks = SuffixArray.probeGramRanks(index,
        evalDocs.toDF("doc_id", "text"), col("doc_id"), col("text"))
        .as[(Long, Long, Long)].collect()
      val byDoc = (trainDocs ++ evalDocs).toMap
        .map { case (k, v) => k -> tok(v) }
      val trainGrams = trainDocs.flatMap { case (id, txt) =>
        val w = tok(txt)
        (0 to w.length - g.toInt)
          .map(i => w.slice(i, i + g.toInt).mkString(" ") -> id)
      }
      def evalGram(d: Long, p: Long): String =
        byDoc(d).slice(p.toInt, p.toInt + g.toInt).mkString(" ")
      val expectPos = evalDocs.flatMap { case (id, txt) =>
        val w = tok(txt)
        (0 to w.length - g.toInt).map(i => (id, i.toLong))
      }.filter { case (d, p) =>
        trainGrams.exists(_._1 == evalGram(d, p))
      }.toSet
      assert(ranks.map(t => (t._1, t._2)).toSet == expectPos)
      // equal ranks <=> equal grams across all hit positions
      ranks.foreach { a => ranks.foreach { bb =>
        assert((a._3 == bb._3) ==
          (evalGram(a._1, a._2) == evalGram(bb._1, bb._2)))
      }}
      // candidate retrieval through the occurrence face: the train docs
      // holding a hit gram, never the unrelated doc 104 or the empty 106
      val cand = index.occ
        .join(ranks.toSeq.toDF("doc_id", "pos", "rank").select($"rank").distinct(), Seq("rank"))
        .select($"doc_id").distinct()
        .as[Long].collect().toSet
      val expectCand = trainGrams.filter { case (gr, _) =>
        expectPos.exists { case (d, p) => evalGram(d, p) == gr }
      }.map(_._2).toSet
      assert(cand == expectCand)
      assert(!cand.contains(104L) && !cand.contains(106L))
      index.unpersistAll()
      b.unpersistAll()
    }
  }

  test("decontaminateIncrement: equal to the full train∪eval rebuild " +
      "at the threshold (same positions >= g with identical exact " +
      "lengths; sub-threshold positions stay sub-threshold)") {
    withTempDir { dir =>
      val g = 4L
      val idx = new java.io.File(dir, "sa_index").getAbsolutePath
      val train = trainDocs.toDF("doc_id", "text")
      val ev = evalDocs.toDF("doc_id", "text")
      val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
      val b = SuffixArray.build(c)
      SuffixArray.persistProbeIndex(c, b, idx, g)
      val index = SuffixArray.loadProbeIndex(spark, idx, g)
      val inc = SuffixArray.decontaminateIncrement(index, ev)
        .as[(Long, Long, Option[Long])].collect()
        .map(t => (t._1, t._2) -> t._3.getOrElse(0L)).toMap
      index.unpersistAll()
      val cf = SuffixArray.corpus(
        (trainDocs ++ evalDocs).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      val bf = SuffixArray.build(cf)
      val full = Reference.longestCrossMatch(bf, cf.numDocs,
          d => d % 2 === 0)
        .as[(Long, Long, Option[Long])].collect()
        .map(t => (t._1, t._2) -> t._3.getOrElse(0L)).toMap
      assert(inc.keySet == full.keySet)
      inc.foreach { case (k, v) =>
        assert(v <= full(k), s"$k: increment $v above full ${full(k)}")
        assert((v >= g) == (full(k) >= g), s"$k: threshold flip")
        if (full(k) >= g)
          assert(v == full(k), s"$k: $v != exact ${full(k)}")
      }
      // the planted spans land exactly: 201 carries a 5-token run of
      // train 100; 207 carries train 102 whole (6 tokens)
      assert(full((201L, 1L)) == 5L && inc((201L, 1L)) == 5L)
      assert(full((207L, 3L)) == 6L && inc((207L, 3L)) == 6L)
      b.unpersistAll(); bf.unpersistAll()
    }
  }

  test("probeFaces: the in-memory faces give byte-identical " +
      "decontamination to the persisted+loaded index, off a buildTo " +
      "index (the r16 q360 screen path — no snapshot round-trip)") {
    withTempDir { dir =>
      val g = 4L
      val idx = new java.io.File(dir, "sa_index").getAbsolutePath
      val train = trainDocs.toDF("doc_id", "text")
      val ev = evalDocs.toDF("doc_id", "text")
      val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
      val b = SuffixArray.buildTo(c, g)
      SuffixArray.persistProbeIndex(c, b, idx, g)
      val index = SuffixArray.loadProbeIndex(spark, idx, g)
      val viaDisk = SuffixArray.decontaminateIncrement(index, ev)
        .as[(Long, Long, Option[Long])].collect().toSet
      index.unpersistAll()
      val viaMem = SuffixArray.decontaminateIncrement(
          SuffixArray.probeFaces(c, b, g), ev)
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(viaMem == viaDisk)
      // and the planted exact lengths survive the buildTo(g) index
      val m = viaMem.map(t => (t._1, t._2) -> t._3.getOrElse(0L)).toMap
      assert(m((201L, 1L)) == 5L && m((207L, 3L)) == 6L)
      b.unpersistAll()
    }
  }

  test("exciseAgainstIndex: rewrites equal a brute train-gram " +
      "interval union per doc (kept bytes, not just counts)") {
    withTempDir { dir =>
      val g = 4L
      val idx = new java.io.File(dir, "sa_index").getAbsolutePath
      val train = trainDocs.toDF("doc_id", "text")
      val ev = evalDocs.toDF("doc_id", "text")
      val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
      val b = SuffixArray.build(c)
      SuffixArray.persistProbeIndex(c, b, idx, g)
      val index = SuffixArray.loadProbeIndex(spark, idx, g)
      val got = SuffixArray.exciseAgainstIndex(index, ev,
          col("doc_id"), col("text"))
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> r).toMap
      index.unpersistAll()
      // brute force: every train g-gram string; covered = union of
      // [p, p+g) over hit windows; clean_fp = md5 of kept tokens
      val trainGrams = trainDocs.flatMap { case (_, txt) =>
        val w = tok(txt)
        (0 to w.length - g.toInt).map(i =>
          w.slice(i, i + g.toInt).mkString(" "))
      }.toSet
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      evalDocs.foreach { case (id, txt) =>
        val w = tok(txt)
        val covered = (0 to w.length - g.toInt)
          .filter(p => trainGrams(w.slice(p, p + g.toInt).mkString(" ")))
          .flatMap(p => p until p + g.toInt).toSet
        val kept = w.indices.filterNot(covered).map(w)
        assert(got(id) == ((id, w.length.toLong, covered.size.toLong,
          md5hex(kept.mkString(" ")))), s"doc $id")
      }
      // planted expectations: 201 loses its 5-token train run (the
      // two overlapping 4-grams tile it), 205 is untouched, 207 keeps
      // its leading rotation (no train 4-gram wraps the seam) and the
      // trailing novel zz while the embedded whole train doc goes
      assert(got(201L)._3 == 5L &&
        got(201L)._4 == md5hex("xx yy"))
      assert(got(205L)._3 == 0L)
      assert(got(207L)._3 == 6L &&
        got(207L)._4 == md5hex("four five six zz"))
      b.unpersistAll()
    }
  }

  test("unresolvedOf: an observation that never fires falls back and parks no thread") {
    import scala.jdk.CollectionConverters._
    // never attached to a plan, so its metric row never arrives: the
    // read waits out the full 30 s deadline, then counts instead
    val obs = org.apache.spark.sql.Observation()
    assert(SuffixArray.unresolvedOf(obs, 42L) == 42L)
    val parked = Thread.getAllStackTraces.asScala.collect {
      case (t, frames) if frames.exists(f =>
          f.getClassName == "org.apache.spark.sql.Observation" &&
            f.getMethodName == "get") => t.getName
    }
    assert(parked.isEmpty, s"threads still blocked in Observation.get: $parked")
  }
}
