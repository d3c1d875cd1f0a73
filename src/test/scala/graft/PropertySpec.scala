package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{Merge, Resample}
import graft.ops.Cols.{dec, fdiv, tdiv}
import org.apache.spark.sql.Column
import java.sql.Date

/** Property layer (SURVEY §5): invariants that must hold for arbitrary
  * inputs, not just goldens. Uses raw ScalaCheck generators with fixed
  * seeds (deterministic CI) — a handful of samples per property since
  * each case runs real Spark jobs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val epoch = Date.valueOf("2024-01-01").toLocalDate

  private val barGen: Gen[(String, Date, Double, Long)] = for {
    sym <- Gen.oneOf("A", "B", "C")
    day <- Gen.choose(0, 400)
    px <- Gen.choose(1.0, 1000.0)
    vol <- Gen.choose(1L, 100000L)
  } yield (sym, Date.valueOf(epoch.plusDays(day.toLong)), px, vol)

  test("property: weekEndFri lands on a Friday, within 6 days, order-preserving") {
    for (offsets <- samples(Gen.listOfN(60, Gen.choose(0, 2000)), 5)) {
      val rows = offsets.map(o => Date.valueOf(epoch.plusDays(o.toLong)))
        .toDF("d")
        .select($"d", Resample.weekEndFri($"d").as("we"))
        .select($"d", $"we", dayofweek($"we").as("dow"),
          datediff($"we", $"d").as("delta"))
        .as[(Date, Date, Int, Int)].collect()
      assert(rows.forall(_._3 == 6), "labels must be Fridays (dayofweek=6)")
      assert(rows.forall(r => r._4 >= 0 && r._4 <= 6))
      val sorted = rows.sortBy(_._1.getTime)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => !a._2.after(b._2) },
        "a later day must never map to an earlier week label")
    }
  }

  test("property: resampled bars always satisfy low <= open,close <= high") {
    for (bars <- samples(Gen.listOfN(80, barGen), 5)) {
      val df = bars.toDF("symbol", "d", "px", "vol")
        .withColumn("ord", Resample.ordinal($"d", lit(0)))
      val out = Resample.ohlc(df, $"symbol", Resample.weekEndFri($"d"),
        $"px", $"vol", $"ord")
      val bad = out.filter($"low" > $"open" || $"low" > $"close" ||
        $"high" < $"open" || $"high" < $"close" || $"low" > $"high")
      assert(bad.count() == 0)
      val inVol = bars.map(_._4).sum.toDouble
      val outVol = out.agg(sum($"volume")).as[Double].head()
      assert(math.abs(outVol - inVol) < 0.5, "volume conservation across buckets")
    }
  }

  test("property: upsert is idempotent and last-writer-wins for any batch pair") {
    val pairs = samples(Gen.zip(Gen.listOfN(40, barGen), Gen.listOfN(40, barGen)), 4)
    for ((b0, b1) <- pairs) {
      val existing = b0.toDF("symbol", "d", "px", "vol").withColumn("v", lit(0L))
      val incoming = b1.toDF("symbol", "d", "px", "vol").withColumn("v", lit(1L))
      val keys = Seq("symbol", "d")
      val tiebreaks = Seq($"px", $"vol")
      val merged = Merge.upsert(existing, incoming, keys, "v", tiebreaks: _*)
      assert(merged.groupBy("symbol", "d").count().filter($"count" > 1).count() == 0,
        "merged table must be key-unique")
      val incomingKeys = incoming.select("symbol", "d").distinct()
      assert(merged.join(incomingKeys, keys).filter($"v" =!= 1L).count() == 0,
        "every key present in the incoming batch must carry the incoming row")
      val again = Merge.upsert(merged, incoming, keys, "v", tiebreaks: _*)
      assert(rowsOf(again) == rowsOf(merged), "re-merging must be a no-op")
    }
  }

  test("property: as-of join equals the brute-force per-row maximum") {
    val tradeGen = Gen.listOfN(30, for {
      sym <- Gen.oneOf("A", "B")
      t <- Gen.choose(0L, 100L)
    } yield (sym, t))
    val quoteGen = Gen.listOfN(25, for {
      sym <- Gen.oneOf("A", "B")
      t <- Gen.choose(0L, 100L)
      v <- Gen.choose(1.0, 9.0)
    } yield (sym, t, v))
    for ((ts, qsRaw) <- samples(Gen.zip(tradeGen, quoteGen), 4)) {
      // unique (sym, t) on the right side — the documented precondition
      val qs = qsRaw.groupBy(q => (q._1, q._2)).map(_._2.head).toSeq
      val trades = ts.zipWithIndex
        .map { case ((s, t), i) => (i.toLong, s, t) }
        .toDF("tid", "sym", "t")
      val quotes = qs.toDF("sym", "t", "qv")
      val got = graft.ops.Asof.joinAsOf(trades, quotes, Seq("sym"), "t", "t")
        .select($"tid", $"qv").as[(Long, Option[Double])].collect().toMap
      ts.zipWithIndex.foreach { case ((s, t), i) =>
        val expect = qs.filter(q => q._1 == s && q._2 <= t)
          .sortBy(_._2).lastOption.map(_._3)
        assert(got(i.toLong) == expect,
          s"trade ($s,$t): got ${got(i.toLong)}, want $expect")
      }
    }
  }

  test("property: packByBudget shards are contiguous and conserve weight") {
    val rowGen = Gen.listOfN(50, Gen.choose(1L, 40L))
    for (ws <- samples(rowGen, 5)) {
      val rows = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      val out = graft.ops.Sampling
        .packByBudget(rows.toDF("id", "w"), $"id", $"w", 100L, 7L)
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // same rows, same weights
      assert(out.map(r => r._1 -> r._2).toMap ==
        rows.map(r => r._1.toLong -> r._2).toMap)
      // shard ids are non-decreasing in id order and start at 0
      assert(out.head._3 == 0L)
      assert(out.zip(out.tail).forall { case (a, b) => a._3 <= b._3 })
      // a shard's exclusive prefix stays under budget+max single weight:
      // each shard's rows except the last fit the budget (first-token rule)
      val byShard = out.groupBy(_._3)
      byShard.foreach { case (_, rs) =>
        val allButLast = rs.sortBy(_._1).dropRight(1).map(_._2).sum
        assert(allButLast < 100L, "a row only straddles at the boundary")
      }
    }
  }

  test("property: chunkTokens covers every token exactly once at stride==size") {
    val docGen = Gen.listOfN(6, Gen.choose(0, 40))
    for (lens <- samples(docGen, 5)) {
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(k => s"t$k").mkString(" "))
      }
      val out = graft.ops.Text
        .chunkTokens(docs.toDF("doc_id", "text"), "doc_id", $"text", 7, 7)
        .groupBy($"id").agg(sum($"n_tokens").as("s"), count(lit(1)).as("c"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      docs.foreach { case (id, text) =>
        val n = lens(id.toInt)
        if (n == 0) assert(!out.contains(id), "empty doc emits no chunks")
        else {
          assert(out(id)._1 == n.toLong, "non-overlapping chunks partition")
          assert(out(id)._2 == ((n + 6) / 7).toLong, "ceil(n/size) chunks")
        }
      }
    }
  }

  test("property: cusumDrift state stays in range; flat series never alarms") {
    val serGen = Gen.listOfN(40, Gen.choose(100L, 5000L))
    for (xs <- samples(serGen, 5)) {
      val df = xs.zipWithIndex.map { case (x, i) => ("S", i, x) }
        .toDF("sym", "o", "x")
      val (n, s, a) = graft.ops.Quality
        .cusumDrift(df, $"sym", $"o", $"x", 25L, 200L)
        .as[(String, Int, Long, Long)].collect().head match {
        case (_, n0, s0, a0) => (n0, s0, a0)
      }
      assert(n == xs.length && s >= 0L && a >= 0L && a <= xs.length)
      // driver-side replay of the recursion must agree exactly
      val mu = xs.sum / xs.length
      var st = 0L; var alarms = 0L
      xs.foreach { x =>
        st = math.max(0L, st + x - mu - 25L)
        if (st > 200L) alarms += 1
      }
      assert(s == st && a == alarms, s"exact replay: got ($s,$a), want ($st,$alarms)")
      // a constant series drifts nowhere
      val flat = Seq.fill(20)(("F", 1, 777L)).zipWithIndex
        .map { case ((sym, _, x), i) => (sym, i, x) }.toDF("sym", "o", "x")
      val fr = graft.ops.Quality.cusumDrift(flat, $"sym", $"o", $"x", 0L, 1L)
        .as[(String, Int, Long, Long)].collect().head
      assert(fr._3 == 0L && fr._4 == 0L)
    }
  }

  test("property: mixUniformByTokens rates are exact and bounded") {
    val srcGen = Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.choose(1, 200)))
    for (docs <- samples(srcGen, 5)) {
      val df = docs.zipWithIndex.map { case ((s, w), i) =>
        (i.toLong, s, ("t " * w).trim)
      }.toDF("doc_id", "source", "text")
      val out = graft.ops.Sampling.mixUniformByTokens(df, $"doc_id",
          $"source", graft.ops.Text.tokenCount($"text"), 100)
        .as[(String, Long, Long, Long, Long, Long)].collect()
      val k = out.length
      val wTot = out.map(_._3).sum
      out.foreach { case (src, nDocs, nTok, kb, keptDocs, keptTok) =>
        assert(kb >= 0L && kb <= 100L)
        assert(kb == math.min(100L, (wTot * 100) / (k * nTok)),
          s"$src rate formula")
        assert(keptDocs <= nDocs && keptTok <= nTok)
      }
    }
  }

  test("property: rangeJoin equals the naive between-join for random grids") {
    val ptGen = Gen.listOfN(120, Gen.choose(-200L, 200L))
    val ivGen = Gen.listOfN(40, for {
      lo <- Gen.choose(-220L, 220L)
      span <- Gen.choose(-3L, 40L) // negative span = inverted interval
    } yield (lo, lo + span))
    for (i <- 0 until 4) {
      val pts = samples(ptGen, 1)(0).zipWithIndex
        .map { case (p, j) => (j.toLong, p) }.toDF("pid", "pt")
      val ivs = samples(ivGen, 1)(0).zipWithIndex
        .map { case ((lo, hi), j) => (j.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val want = rowsOf(pts.crossJoin(ivs)
        .filter($"pt".between($"lo", $"hi")))
      val w = Seq(1L, 5L, 17L, 64L)(i)
      val got = rowsOf(graft.ops.Joins
        .rangeJoin(pts, "pt", ivs, "lo", "hi", w)
        .select($"pid", $"pt", $"iid", $"lo", $"hi"))
      assert(got == want, s"width=$w")
    }
  }

  test("property: heavyHitters matches exact counting for random zipf streams") {
    val gen = Gen.listOfN(600, Gen.frequency(
      8 -> Gen.const("hot"), 4 -> Gen.const("warm"),
      3 -> Gen.oneOf("c", "d", "e"),
      1 -> Gen.choose(0, 200).map(i => s"tail$i")))
    for (items <- samples(gen, 4); (num, den) <- Seq((1, 25), (1, 10))) {
      val df = items.toDF("it").repartition(9)
      val n = items.size.toLong
      val want = items.groupBy(identity)
        .map { case (k, v) => (k, v.size.toLong) }
        .filter { case (_, c) => c * den >= n * num }.toSet
      val got = graft.ops.Frequent.heavyHitters(df, $"it", num, den)
        .as[(String, Long)].collect().toSet
      assert(got == want, s"num=$num den=$den")
    }
  }

  test("property: duplicateSpans ratio bounds; corpus self-union makes every span a dup") {
    val docGen = Gen.listOfN(25, for {
      n <- Gen.choose(1, 40)
      ws <- Gen.listOfN(n, Gen.choose(0, 30).map(i => s"w$i"))
    } yield ws.mkString(" "))
    for (texts <- samples(docGen, 3)) {
      val docs = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        .toDF("doc_id", "text")
      val scored = graft.ops.Dedup
        .duplicateSpans(docs, "doc_id", $"text", 5)
        .as[(Long, Long, Long, Double)].collect()
      assert(scored.forall(r => r._3 >= 0 && r._3 <= r._2))
      assert(scored.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
      // union with a shifted copy: every span now occurs >= 2 times
      val doubled = docs.unionByName(
        docs.select(($"doc_id" + 1000).as("doc_id"), $"text"))
      val all = graft.ops.Dedup
        .duplicateSpans(doubled, "doc_id", $"text", 5)
        .as[(Long, Long, Long, Double)].collect()
      assert(all.forall(r => r._3 == r._2 && r._4 == 1.0),
        "self-union must flag every span")
    }
  }

  test("property: funnel depth is monotone under event removal") {
    val evGen = Gen.listOfN(40, for {
      u <- Gen.choose(1L, 6L)
      t <- Gen.choose(0, 5000)
      s <- Gen.oneOf("view", "click", "purchase", "noise")
    } yield (u, t, s))
    for (evs <- samples(evGen, 4)) {
      val df = evs.zipWithIndex.map { case ((u, t, s), i) =>
        (u, new java.sql.Timestamp(1700000000000L + t * 1000L + i), s)
      }.toDF("user_id", "ts", "step")
      val full = graft.ops.Events.funnelReached(df, $"user_id", $"ts",
          $"step", Seq("view", "click", "purchase"))
        .as[(Long, Long)].collect().toMap
      // dropping ALL clicks can only shrink the reached depth, to <= 1
      val noClick = graft.ops.Events.funnelReached(
          df.filter($"step" =!= "click"), $"user_id", $"ts",
          $"step", Seq("view", "click", "purchase"))
        .as[(Long, Long)].collect().toMap
      noClick.foreach { case (u, d) =>
        assert(d <= full.getOrElse(u, 0L), "removal never deepens")
        assert(d <= 1L, "without step 2 nobody passes depth 1")
      }
    }
  }

  test("property: WAV and BMP writers round-trip through their parsers") {
    import graft.ops.Multimodal
    val wavGen = for {
      n <- Gen.choose(0, 500)
      rate <- Gen.oneOf(8000, 16000, 44100)
      s <- Gen.listOfN(n, Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (rate, s.map(_.toShort).toArray)
    for ((rate, smp) <- samples(wavGen, 20)) {
      val w = Multimodal.parseWav(Multimodal.wavBytes(smp, rate))
      assert(w.isDefined)
      assert(w.get.sampleRate == rate && w.get.channels == 1)
      assert(w.get.samples.toSeq == smp.toSeq)
    }
    val bmpGen = for {
      w <- Gen.choose(1, 9) // odd widths exercise every pad length
      h <- Gen.choose(1, 9)
      px <- Gen.listOfN(w * h, Gen.choose(0, 0xffffff))
    } yield (w, h, px.toArray)
    for ((w, h, px) <- samples(bmpGen, 20)) {
      val b = Multimodal.parseBmp(Multimodal.bmpBytes(w, h, px))
      assert(b.isDefined)
      assert(b.get.width == w && b.get.height == h)
      assert(b.get.pixels.toSeq == px.toSeq)
    }
  }

  test("property: MBMP container round-trips any frame sequence; " +
      "resize preserves exact source pixels") {
    import graft.ops.Multimodal
    val framesGen = Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 40).flatMap(len =>
        Gen.listOfN(len, Gen.choose(-128, 127).map(_.toByte)))))
    for (frames <- samples(framesGen, 20)) {
      val arrs = frames.map(_.toArray)
      val r = Multimodal.parseMbmp(Multimodal.mbmpBytes(arrs))
      assert(r.isDefined && r.get.size == arrs.size)
      assert(r.get.zip(arrs).forall { case (a, b) => a.toSeq == b.toSeq })
    }
    // nearest-neighbor resize: every output pixel IS some source pixel
    // at the floor-mapped index — checked against an independent map
    val rzGen = for {
      w <- Gen.choose(1, 8); h <- Gen.choose(1, 8)
      ow <- Gen.choose(1, 8); oh <- Gen.choose(1, 8)
      px <- Gen.listOfN(w * h, Gen.choose(0, 0xffffff))
    } yield (w, h, ow, oh, px.toArray)
    for ((w, h, ow, oh, px) <- samples(rzGen, 30)) {
      val r = Multimodal.resizeNearest(Multimodal.BmpPixels(w, h, px), ow, oh)
      for (y <- 0 until oh; x <- 0 until ow)
        assert(r.pixels(y * ow + x) == px((y * h / oh) * w + (x * w / ow)))
    }
  }

  test("property: Cols.fdiv is Math.floorDiv and Cols.tdiv is Scala /, exactly") {
    // fdiv needs a positive divisor; tdiv also takes a negative one
    // random, exact-multiple and near-zero numerators of either sign
    def pairs(aMax: Long, bMax: Long): Gen[(Long, Long)] = for {
      b <- Gen.oneOf(Gen.choose(1L, bMax), Gen.choose(1L, 7L))
      a <- Gen.oneOf(Gen.choose(-aMax, aMax),
        Gen.choose(-aMax / b, aMax / b).map(_ * b),
        Gen.choose(-2L * b, 2L * b))
    } yield (a, b)
    def check(ps: Seq[(Long, Long)], lift: Column => Column): Unit = {
      val got = ps.toDF("a", "b")
        .select($"a", $"b", fdiv(lift($"a"), lift($"b")),
          tdiv(lift($"a"), lift($"b")), tdiv(lift($"a"), lift(-$"b")))
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(got.length == ps.length)
      val bad = got.filter { case (a, b, f, t, tn) =>
        f != Math.floorDiv(a, b) || t != a / b || tn != a / -b }
      assert(bad.isEmpty, bad.take(5).mkString(", "))
    }
    // long operands: the division runs in double, exact below 2^53
    check(samples(pairs((1L << 53) - (1L << 20), 1L << 20), 2000), c => c)
    // dec operands: exact far past 2^53
    check(samples(pairs(1L << 62, 1L << 40), 2000), dec)
  }
}
