package graft

import org.apache.spark.sql.functions._
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourlyRollup over a file stream (AvailableNow) matches the batch result") {
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val out = dir.getAbsolutePath + "/out"
      val ckpt = dir.getAbsolutePath + "/ckpt"
      // the 13:30 sentinel advances the watermark past the 11:00-12:00
      // window end so every asserted window is emitted (append mode only
      // releases a window once the watermark passes its end); the
      // sentinel's own 13:00-14:00 window stays open in state.
      val events = Seq(
        ("2024-01-01 10:05:00", "click", 1.0),
        ("2024-01-01 10:55:00", "click", 2.0),
        ("2024-01-01 11:05:00", "click", 4.0),
        ("2024-01-01 10:30:00", "view", 8.0),
        ("2024-01-01 13:30:00", "sentinel", 0.0))
        .toDF("s", "event_type", "value")
        .select(to_timestamp($"s").as("ts"), $"event_type", $"value")
      events.write.parquet(in)

      val stream = spark.readStream.schema(events.schema).parquet(in)
      Streams.runAvailableNow(
        Streams.hourlyRollup(stream, watermark = "0 seconds"), out, ckpt)

      val got = spark.read.parquet(out)
        .select($"hour_start".cast("string"), $"event_type", $"n", $"value_sum")
        .as[(String, String, Long, Double)].collect().toSet
      assert(got == Set(
        ("2024-01-01 10:00:00", "click", 2L, 3.0),
        ("2024-01-01 11:00:00", "click", 1L, 4.0),
        ("2024-01-01 10:00:00", "view", 1L, 8.0)))
    }
  }

  test("dedupByKey drops exact re-deliveries within the watermark") {
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val out = dir.getAbsolutePath + "/out"
      val ckpt = dir.getAbsolutePath + "/ckpt"
      val rows = Seq(
        ("2024-01-02 00:00:00", "A", 10.0),
        ("2024-01-02 00:00:00", "A", 10.0), // duplicate delivery
        ("2024-01-03 00:00:00", "A", 11.0))
        .toDF("s", "symbol", "close")
        .select(to_timestamp($"s").as("ts"), $"symbol", $"close")
      rows.write.parquet(in)

      val stream = spark.readStream.schema(rows.schema).parquet(in)
      Streams.runAvailableNow(
        Streams.dedupByKey(stream, "ts", "7 days", Seq("symbol")), out, ckpt)

      val got = spark.read.parquet(out)
        .select($"ts".cast("string"), $"symbol", $"close")
        .as[(String, String, Double)].collect().toSet
      assert(got == Set(
        ("2024-01-02 00:00:00", "A", 10.0),
        ("2024-01-03 00:00:00", "A", 11.0)))
    }
  }

  test("sessionRollup groups activity bursts split by the silence gap") {
    val events = Seq(
      ("2024-01-01 10:00:00", 7L, 1.0),
      ("2024-01-01 10:03:00", 7L, 2.0),  // same session (< 5 min gap)
      ("2024-01-01 10:20:00", 7L, 4.0),  // new session after 17 min silence
      ("2024-01-01 10:01:00", 9L, 8.0))
      .toDF("s", "user_id", "value")
      .select(to_timestamp($"s").as("ts"), $"user_id", $"value")
    val got = Streams.sessionRollup(events, "user_id", "5 minutes")
      .select($"session_start".cast("string"), $"user_id", $"n", $"value_sum")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == Set(
      ("2024-01-01 10:00:00", 7L, 2L, 3.0),
      ("2024-01-01 10:20:00", 7L, 1L, 4.0),
      ("2024-01-01 10:01:00", 9L, 1L, 8.0)))
  }

  test("mergeStream upserts micro-batches into the partitioned warehouse") {
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val table = dir.getAbsolutePath + "/table"
      def rows(vs: ((String, String, Double, Long))*) =
        vs.toSeq.toDF("date", "symbol", "close", "version")
      // batch 1
      rows(("2024-01-01", "A", 10.0, 1L), ("2024-01-02", "A", 11.0, 1L))
        .write.parquet(in)
      val schema = spark.read.parquet(in).schema
      Streams.mergeStream(spark.readStream.schema(schema).parquet(in),
        table, dir.getAbsolutePath + "/ckpt1",
        Seq("date", "symbol"), "version", "date")
      // batch 2: overwrites one key, adds one — separate stream run
      rows(("2024-01-02", "A", 99.0, 2L), ("2024-01-03", "B", 12.0, 2L))
        .write.mode("append").parquet(in)
      Streams.mergeStream(spark.readStream.schema(schema).parquet(in),
        table, dir.getAbsolutePath + "/ckpt2",
        Seq("date", "symbol"), "version", "date")
      val got = spark.read.parquet(table)
        .select($"date", $"symbol", $"close").as[(String, String, Double)]
        .collect().toSet
      assert(got == Set(("2024-01-01", "A", 10.0),
        ("2024-01-02", "A", 99.0), ("2024-01-03", "B", 12.0)))
    }
  }

  test("sketchStream folds batches into a running register table; replays are no-ops") {
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val regs = dir.getAbsolutePath + "/regs"
      def write(lo: Long, hi: Long, mode: String = "append"): Unit =
        (lo to hi).map(i => ("g", i)).toDF("g", "v")
          .write.mode(mode).parquet(in)
      write(1L, 3000L, "overwrite")
      val schema = spark.read.parquet(in).schema
      Streams.sketchStream(spark.readStream.schema(schema).parquet(in),
        regs, dir.getAbsolutePath + "/ck1", Seq("g"), $"v")
      write(2000L, 5000L) // overlapping second batch
      Streams.sketchStream(spark.readStream.schema(schema).parquet(in),
        regs, dir.getAbsolutePath + "/ck2", Seq("g"), $"v")

      val streamed = graft.ops.Sketch.hllEstimate(
          spark.read.parquet(regs), Seq("g"))
        .select($"n_approx").as[Double].head()
      val direct = graft.ops.Sketch.hllDistinct(
          (1L to 5000L).map(i => ("g", i)).toDF("g", "v"), Seq("g"), $"v")
        .select($"n_approx").as[Double].head()
      assert(streamed == direct,
        "running register table must equal the one-shot sketch exactly")

      // replaying ALL input against the existing table changes nothing
      Streams.sketchStream(spark.readStream.schema(schema).parquet(in),
        regs, dir.getAbsolutePath + "/ck3", Seq("g"), $"v")
      val replayed = graft.ops.Sketch.hllEstimate(
          spark.read.parquet(regs), Seq("g"))
        .select($"n_approx").as[Double].head()
      assert(replayed == streamed, "max-merge must absorb replays")
    }
  }

  test("sketchStream survives a crash between the two swap renames") {
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val regs = dir.getAbsolutePath + "/regs"
      (1L to 3000L).map(i => ("g", i)).toDF("g", "v")
        .write.parquet(in)
      val schema = spark.read.parquet(in).schema
      Streams.sketchStream(spark.readStream.schema(schema).parquet(in),
        regs, dir.getAbsolutePath + "/ck1", Seq("g"), $"v")

      // Simulate the writer dying at the WORST point of the swap: the
      // live table already retired, the staged table half-written, the
      // checkpoint not advanced (so the batch will replay). Before the
      // fix (in-place SaveMode.Overwrite) this state was a total loss of
      // accumulated history.
      val live = new java.io.File(regs)
      val retired = new java.io.File(regs + ".retired")
      val staged = new java.io.File(regs + ".staged")
      assert(live.renameTo(retired))
      staged.mkdirs()
      java.nio.file.Files.writeString(
        staged.toPath.resolve("part-00000.parquet"), "torn half-write")
      assert(!live.exists())

      // next run recovers the retired table, discards the torn stage,
      // and replays the pending batch — nothing lost
      (2000L to 5000L).map(i => ("g", i)).toDF("g", "v")
        .write.mode("append").parquet(in)
      Streams.sketchStream(spark.readStream.schema(schema).parquet(in),
        regs, dir.getAbsolutePath + "/ck2", Seq("g"), $"v")
      assert(!staged.exists() && !retired.exists())
      val streamed = graft.ops.Sketch.hllEstimate(
          spark.read.parquet(regs), Seq("g"))
        .select($"n_approx").as[Double].head()
      val direct = graft.ops.Sketch.hllDistinct(
          (1L to 5000L).map(i => ("g", i)).toDF("g", "v"), Seq("g"), $"v")
        .select($"n_approx").as[Double].head()
      assert(streamed == direct,
        "recovered register table must equal the one-shot sketch exactly")

      // recoverRegisters alone is idempotent and restores an orphaned
      // retired table even outside a stream run
      assert(live.renameTo(retired))
      Streams.recoverRegisters(regs)
      assert(live.exists() && !retired.exists())
      Streams.recoverRegisters(regs) // second call: no-op
      assert(live.exists())

      // a RESTART with zero pending input must still repair the swap:
      // recovery runs before the stream waits, not only inside a batch
      // (ck2 has consumed every input file, so NO batch executes here)
      assert(live.renameTo(retired))
      Streams.sketchStream(spark.readStream.schema(schema).parquet(in),
        regs, dir.getAbsolutePath + "/ck2", Seq("g"), $"v")
      assert(live.exists() && !retired.exists(),
        "pre-start recovery must restore the live table with no new data")
    }
  }

  test("driftStream accumulates batch histograms and alarms on distribution shift") {
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val regs = dir.getAbsolutePath + "/regs"
      val alarms = dir.getAbsolutePath + "/alarms"
      val ck = dir.getAbsolutePath + "/ck"
      // reference: uniform over bins 0..9 (binWidth 100)
      val ref = (0 until 10).map(b => (b.toLong, 100L)).toDF("bin", "n_r")
      def run(): Unit = Streams.driftStream(
        spark.readStream.schema("v LONG").parquet(in),
        $"v", 100.0, ref, regs, alarms, ck)

      // batch 1: the reference distribution itself -> psi 0, no alarm
      (0L until 1000L).toDF("v").write.mode("append").parquet(in)
      run()
      val r1 = spark.read.parquet(alarms)
        .as[(String, Long, Long, Double, Boolean)].collect()
      assert(r1.length == 1 && r1(0)._4 == 0.0 && !r1(0)._5)

      // batch 2: shifted 700..1699 -> cumulative drifts past 0.2
      (700L until 1700L).toDF("v").write.mode("append").parquet(in)
      run() // same checkpoint: only the new files form batch 2
      val rows = spark.read.parquet(alarms).orderBy($"psi")
        .as[(String, Long, Long, Double, Boolean)].collect()
      assert(rows.length == 2 && rows(1)._5, s"shift must alarm: ${rows.toSeq}")
      // exactness: the streamed psi equals the direct batch computation
      // over the expected cumulative histogram
      val cum = ((0L until 1000L) ++ (700L until 1700L)).toDF("v")
        .groupBy(floor($"v" / 100.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_c"))
      val direct = graft.ops.Quality.psiBetween(ref, cum)
        .select($"psi").as[Double].head()
      assert(rows(1)._4 == direct)

      // crash-style replay of batch 1 (same content, fresh checkpoint):
      // the content fingerprint rewrites the SAME partition — cumulative
      // histogram and psi unchanged, no double counting
      val vBefore = graft.sources.Snapshot.latestVersion(regs).get
      val replayIn = dir.getAbsolutePath + "/replay"
      (0L until 1000L).toDF("v").write.parquet(replayIn)
      Streams.driftStream(spark.readStream.schema("v LONG").parquet(replayIn),
        $"v", 100.0, ref, regs, alarms, dir.getAbsolutePath + "/ck2")
      assert(graft.sources.Snapshot.latestVersion(regs).get > vBefore)
      val cumAfter = graft.sources.Snapshot.read(spark, regs)
        .groupBy($"bin").agg(sum($"n_c").as("n_c"))
      val psiAfter = graft.ops.Quality.psiBetween(ref, cumAfter)
        .select($"psi").as[Double].head()
      assert(psiAfter == direct, "replayed batch must not double-count")
      // the monitor appended a third row; consumers dedup by batch_fp
      val fps = spark.read.parquet(alarms).select($"batch_fp")
        .as[String].collect()
      assert(fps.length == 3 && fps.toSet.size == 2)
    }
  }

  test("dedupStream grows the corpus, dropping near-dups of history") {
    withTempDir { dir =>
      val in1 = dir.getAbsolutePath + "/in1"
      val in2 = dir.getAbsolutePath + "/in2"
      val table = dir.getAbsolutePath + "/corpus"
      val a = "the quick brown fox jumps over the lazy dog again and again"
      // batch 1: A survives, B (near-dup of A, larger id) drops, C novel
      Seq((1L, a), (2L, a + " today"),
        (3L, "completely different content with nothing shared at all here"))
        .toDF("doc_id", "text").write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.dedupStream(spark.readStream.schema(schema).parquet(in1),
        table, dir.getAbsolutePath + "/ck1", 0.5)
      val afterOne = graft.sources.Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet
      assert(afterOne == Set(1L, 3L))
      // batch 2 (separate stream+checkpoint, same table): a re-crawl of
      // A drops against HISTORY, not just the current batch; E is novel
      Seq((11L, a), (12L, "some brand new page about a fresh subject"))
        .toDF("doc_id", "text").write.parquet(in2)
      Streams.dedupStream(spark.readStream.schema(schema).parquet(in2),
        table, dir.getAbsolutePath + "/ck2", 0.5)
      val afterTwo = graft.sources.Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet
      assert(afterTwo == Set(1L, 3L, 12L))
      // shingle hashes rode along in the corpus (no re-tokenize of history)
      val cols = graft.sources.Snapshot.read(spark, table).columns.toSet
      assert(cols.contains("hs") && cols.contains("ingest_batch"))
    }
  }

  test("lshDedupStream dedups via the persistent banded index; replays converge") {
    import graft.sources.Snapshot
    withTempDir { dir =>
      val in1 = dir.getAbsolutePath + "/in1"
      val in2 = dir.getAbsolutePath + "/in2"
      val table = dir.getAbsolutePath + "/corpus"
      val index = dir.getAbsolutePath + "/index"
      val a = "the quick brown fox jumps over the lazy dog again and again"
      Seq((1L, a), (2L, a), // 2 is an exact dup of 1 (LSH always catches)
        (3L, "completely different content with nothing shared at all here"))
        .toDF("doc_id", "text").write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.lshDedupStream(spark.readStream.schema(schema).parquet(in1),
        table, index, dir.getAbsolutePath + "/ck1", 0.5)
      val afterOne = Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet
      assert(afterOne == Set(1L, 3L))
      // the index holds postings for SURVIVORS only, bands×1 per doc
      val postings = Snapshot.read(spark, index)
        .select($"doc_id").as[Long].collect()
      assert(postings.toSet == Set(1L, 3L))
      assert(postings.length == 2 * 4) // 4 bands each
      // batch 2: an exact re-crawl of 1 drops AGAINST THE STORED INDEX
      // (its text was never re-read from the corpus); one novel doc
      Seq((11L, a), (12L, "some brand new page about a fresh subject"))
        .toDF("doc_id", "text").write.parquet(in2)
      Streams.lshDedupStream(spark.readStream.schema(schema).parquet(in2),
        table, index, dir.getAbsolutePath + "/ck2", 0.5)
      val afterTwo = Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet
      assert(afterTwo == Set(1L, 3L, 12L))
      // replay batch 2 under a fresh checkpoint: 12 finds ITSELF in the
      // index at jaccard 1.0 — neither corpus nor index grows
      Streams.lshDedupStream(spark.readStream.schema(schema).parquet(in2),
        table, index, dir.getAbsolutePath + "/ck3", 0.5)
      assert(Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet == afterTwo)
      assert(Snapshot.read(spark, index)
        .select($"doc_id").as[Long].collect().length == 3 * 4)
    }
  }

  test("decontaminationStream scores batches against the FIXED train " +
      "index (exact lengths, sub-threshold docs never land); replays " +
      "converge on one verdict row per doc") {
    import graft.sources.Snapshot
    import graft.ops.SuffixArray
    withTempDir { dir =>
      val in1 = dir.getAbsolutePath + "/in1"
      val in2 = dir.getAbsolutePath + "/in2"
      val table = dir.getAbsolutePath + "/verdicts"
      val idx = dir.getAbsolutePath + "/sa_index"
      val train = Seq(
        (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (102L, "one two three four five six seven eight"))
        .toDF("doc_id", "text")
      val c = SuffixArray.corpus(train, col("doc_id"), col("text"))
      val b = SuffixArray.build(c)
      SuffixArray.persistProbeIndex(c, b, idx, 4L)
      b.unpersistAll()
      // batch 1: a 6-token span of train 100 (>= 4 threshold) and a
      // clean doc; batch 2: a full copy of train 102
      Seq((201L, "xx alpha beta gamma delta epsilon zeta yy"),
        (203L, "totally novel words qq ww ee rr tt"))
        .toDF("doc_id", "text").write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.decontaminationStream(
        spark.readStream.schema(schema).parquet(in1), idx, table,
        dir.getAbsolutePath + "/ck1", 4L)
      val one = Snapshot.read(spark, table)
        .select($"doc_id", $"longest_train_match", $"ingest_batch")
        .as[(Long, Long, Long)].collect().toSet
      assert(one == Set((201L, 6L, 0L)))
      Seq((205L, "one two three four five six seven eight"))
        .toDF("doc_id", "text").write.parquet(in2)
      Streams.decontaminationStream(
        spark.readStream.schema(schema).parquet(in2), idx, table,
        dir.getAbsolutePath + "/ck2", 4L)
      val two = Snapshot.read(spark, table)
        .select($"doc_id", $"longest_train_match", $"n_tokens")
        .as[(Long, Long, Long)].collect().toSet
      assert(two == Set((201L, 6L, 8L), (205L, 8L, 8L)))
      // replay batch 2 under a fresh checkpoint: the keyed merge
      // absorbs the duplicate verdicts — no row count growth
      Streams.decontaminationStream(
        spark.readStream.schema(schema).parquet(in2), idx, table,
        dir.getAbsolutePath + "/ck3", 4L)
      assert(Snapshot.read(spark, table).count() == 2)
    }
  }

  test("urlDedupStream keeps one fetch per canonical key across batches " +
      "and replays") {
    withTempDir { dir =>
      val in1 = dir.getAbsolutePath + "/in1"
      val in2 = dir.getAbsolutePath + "/in2"
      val table = dir.getAbsolutePath + "/frontier"
      // batch 1: two noise variants of one URL (smaller id wins) + one
      // distinct URL
      Seq((5L, "HTTPS://www.x.com/a/?utm_source=z"),
        (3L, "http://x.com/a"),
        (4L, "http://y.com/b?id=1"))
        .toDF("doc_id", "url").write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.urlDedupStream(spark.readStream.schema(schema).parquet(in1),
        table, dir.getAbsolutePath + "/ck1")
      val afterOne = graft.sources.Snapshot.read(spark, table)
        .select($"canonical_url", $"doc_id").as[(String, Long)]
        .collect().toMap
      assert(afterOne == Map("x.com/a" -> 3L, "y.com/b?id=1" -> 4L))
      // batch 2: a re-crawl of x.com/a under NEW noise drops against
      // history; z.com/c is first-seen
      Seq((10L, "https://x.com/a?fbclid=k"), (11L, "http://z.com/c"))
        .toDF("doc_id", "url").write.parquet(in2)
      Streams.urlDedupStream(spark.readStream.schema(schema).parquet(in2),
        table, dir.getAbsolutePath + "/ck2")
      val afterTwo = graft.sources.Snapshot.read(spark, table)
        .select($"canonical_url", $"doc_id").as[(String, Long)]
        .collect().toMap
      assert(afterTwo == Map("x.com/a" -> 3L, "y.com/b?id=1" -> 4L,
        "z.com/c" -> 11L))
      // replay batch 2 with a FRESH checkpoint: survivors re-detect
      // their committed keys and drop — no duplicates, same frontier
      Streams.urlDedupStream(spark.readStream.schema(schema).parquet(in2),
        table, dir.getAbsolutePath + "/ck2b")
      val afterReplay = graft.sources.Snapshot.read(spark, table)
        .select($"canonical_url").as[String].collect().toSeq
      assert(afterReplay.sorted == Seq("x.com/a", "y.com/b?id=1", "z.com/c"))
    }
  }

  test("profileThinStream keeps EXACTLY the rows the batch thinning " +
      "keeps; unseen cells pass through; replays don't duplicate") {
    import graft.ops.Sampling
    withTempDir { dir =>
      val in1 = dir.getAbsolutePath + "/in1"
      val table = dir.getAbsolutePath + "/thinned"
      // skewed fit corpus: source a over-represents low lengths
      val fit = ((1 to 30).map(i => ("a", 0L, s"a$i")) ++
        (1 to 10).map(i => ("b", 100L, s"b$i"))).toDF("g", "v", "k")
      val stats = Sampling.profileMatchStats(fit, $"g", $"v", 2)
      val batchKept = Reference.profileMatchKept(fit, $"g", $"v", $"k", 2)
        .select($"k").as[String].collect().toSet
      assert(batchKept.nonEmpty && batchKept.size < 40,
        "the skewed fixture must actually thin")
      fit.write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.profileThinStream(
        spark.readStream.schema(schema).parquet(in1), stats, 2,
        table, dir.getAbsolutePath + "/ck1")
      val streamed = graft.sources.Snapshot.read(spark, table)
        .select($"k").as[String].collect().toSet
      assert(streamed == batchKept,
        "stream survivors must equal the batch rule's kept rows")
      // batch 2: a group the profile never saw + an out-of-grid value
      // (clamps to the edge bin, where group c is also unseen) — both
      // pass through untouched
      val in2 = dir.getAbsolutePath + "/in2"
      Seq(("c", 50L, "c1"), ("c", 9999L, "c2")).toDF("g", "v", "k")
        .write.parquet(in2)
      Streams.profileThinStream(
        spark.readStream.schema(schema).parquet(in2), stats, 2,
        table, dir.getAbsolutePath + "/ck2")
      val afterTwo = graft.sources.Snapshot.read(spark, table)
        .select($"k").as[String].collect().toSet
      assert(afterTwo == batchKept + "c1" + "c2")
      // replay batch 1 with a fresh checkpoint: same keys merge onto
      // themselves — no duplicates
      Streams.profileThinStream(
        spark.readStream.schema(schema).parquet(in1), stats, 2,
        table, dir.getAbsolutePath + "/ck1b")
      val replay = graft.sources.Snapshot.read(spark, table)
      assert(replay.count() == replay.select($"k").distinct().count())
      assert(replay.select($"k").as[String].collect().toSet ==
        batchKept + "c1" + "c2")
      // an EMPTY fitted profile must fail fast at setup — the broken
      // alternative (empty cfg crossJoin) would silently discard the
      // whole stream, the exact opposite of the pass-through contract
      intercept[IllegalArgumentException] {
        Streams.profileThinStream(
          spark.readStream.schema(schema).parquet(in1),
          stats.limit(0), 2, table, dir.getAbsolutePath + "/ck3")
      }
    }
  }

  test("dedupStream compaction bounds corpus partitions; re-crawls still drop") {
    import graft.sources.Snapshot
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val table = dir.getAbsolutePath + "/corpus"
      val ck = dir.getAbsolutePath + "/ck"
      def wave(i: Int) = Seq((i * 10L,
        s"wave $i page about topic${i.toString * 4} and subject${i.toString * 4}"))
        .toDF("doc_id", "text")
      wave(1).write.parquet(in)
      val schema = spark.read.parquet(in).schema
      Streams.dedupStream(spark.readStream.schema(schema).parquet(in),
        table, ck, 0.5, compactEvery = 3)
      for (i <- 2 to 5) {
        wave(i).write.mode("append").parquet(in)
        Streams.dedupStream(spark.readStream.schema(schema).parquet(in),
          table, ck, 0.5, compactEvery = 3)
      }
      val m = Snapshot.readManifest(table, Snapshot.latestVersion(table).get)
      assert(m.dirs.size <= 3, s"dirs not bounded: ${m.dirs.size}")
      val docs = Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet
      assert(docs == Set(10L, 20L, 30L, 40L, 50L))
      // a re-crawl of wave 1 against the COMPACTED corpus drops by
      // content (jaccard 1.0 with its committed copy)
      val in2 = dir.getAbsolutePath + "/in2"
      wave(1).select(($"doc_id" + 100).as("doc_id"), $"text")
        .write.parquet(in2)
      Streams.dedupStream(spark.readStream.schema(schema).parquet(in2),
        table, dir.getAbsolutePath + "/ck2", 0.5, compactEvery = 3)
      val after = Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet
      assert(after == docs)
    }
  }

  test("annDedupStream dedups embeddings via the frozen cell index; replays converge") {
    import graft.sources.Snapshot
    withTempDir { dir =>
      val in1 = dir.getAbsolutePath + "/in1"
      val in2 = dir.getAbsolutePath + "/in2"
      val table = dir.getAbsolutePath + "/corpus"
      val model = dir.getAbsolutePath + "/model"
      val va = Seq(1f, 0f, 0f, 0f)
      val vb = Seq(0f, 1f, 0f, 0f)
      val vc = Seq(0f, 0f, 1f, 0f)
      // ids 1,2 seed the two centroids (distinct); 3 is an exact copy
      // of 1 — deterministic assignment co-cells it with 1, cos 1 drops
      Seq((1L, va), (2L, vb), (3L, va)).toDF("doc_id", "vec")
        .write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.annDedupStream(spark.readStream.schema(schema).parquet(in1),
        table, model, dir.getAbsolutePath + "/ck1", 0.99, centroidsK = 2)
      assert(Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L))
      // the model froze on first contact: exactly 2 centroids
      assert(Snapshot.read(spark, model).count() == 2)
      // batch 2: a re-crawl of va drops against the STORED corpus via
      // its cell; an orthogonal novel vector survives
      Seq((11L, va), (12L, vc)).toDF("doc_id", "vec").write.parquet(in2)
      Streams.annDedupStream(spark.readStream.schema(schema).parquet(in2),
        table, model, dir.getAbsolutePath + "/ck2", 0.99, centroidsK = 2)
      val afterTwo = Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet
      assert(afterTwo == Set(1L, 2L, 12L))
      // replay batch 2 under a fresh checkpoint: 12 finds ITSELF at
      // cos 1.0 in its own cell — the corpus does not grow
      Streams.annDedupStream(spark.readStream.schema(schema).parquet(in2),
        table, model, dir.getAbsolutePath + "/ck3", 0.99, centroidsK = 2)
      assert(Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet == afterTwo)
      // survivors carry their frozen cell assignment
      assert(Snapshot.read(spark, table).select($"cell").as[Long]
        .collect().toSet.subsetOf(Set(1L, 2L)))
    }
  }

  test("dedup streams drop a new doc whose id is SMALLER than its stored near-dup") {
    // ids are opaque: a multi-source or hash-derived id stream delivers
    // them in arbitrary order. History must win regardless — the
    // id-order constraint applies only within an increment.
    import graft.sources.Snapshot
    withTempDir { dir =>
      val a = "the quick brown fox jumps over the lazy dog again and again"
      // LSH path: batch 1 commits id 10; batch 2's id 5 is an exact dup
      val in1 = dir.getAbsolutePath + "/l1"
      val in2 = dir.getAbsolutePath + "/l2"
      val table = dir.getAbsolutePath + "/lcorpus"
      val index = dir.getAbsolutePath + "/lindex"
      Seq((10L, a), (20L, "completely different content with nothing shared at all"))
        .toDF("doc_id", "text").write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.lshDedupStream(spark.readStream.schema(schema).parquet(in1),
        table, index, dir.getAbsolutePath + "/lck1", 0.5)
      Seq((5L, a)).toDF("doc_id", "text").write.parquet(in2)
      Streams.lshDedupStream(spark.readStream.schema(schema).parquet(in2),
        table, index, dir.getAbsolutePath + "/lck2", 0.5)
      assert(Snapshot.read(spark, table)
        .select($"doc_id").as[Long].collect().toSet == Set(10L, 20L))
      // ANN path: same shape over embeddings
      val va = Seq(1f, 0f, 0f, 0f)
      val vb = Seq(0f, 1f, 0f, 0f)
      val ain1 = dir.getAbsolutePath + "/a1"
      val ain2 = dir.getAbsolutePath + "/a2"
      val atable = dir.getAbsolutePath + "/acorpus"
      val model = dir.getAbsolutePath + "/amodel"
      Seq((10L, va), (20L, vb)).toDF("doc_id", "vec").write.parquet(ain1)
      val aschema = spark.read.parquet(ain1).schema
      Streams.annDedupStream(spark.readStream.schema(aschema).parquet(ain1),
        atable, model, dir.getAbsolutePath + "/ack1", 0.99, centroidsK = 2)
      Seq((5L, va)).toDF("doc_id", "vec").write.parquet(ain2)
      Streams.annDedupStream(spark.readStream.schema(aschema).parquet(ain2),
        atable, model, dir.getAbsolutePath + "/ack2", 0.99, centroidsK = 2)
      assert(Snapshot.read(spark, atable)
        .select($"doc_id").as[Long].collect().toSet == Set(10L, 20L))
    }
  }

  test("erStream grows the entity snapshot; variants resolve, replays don't duplicate") {
    withTempDir { dir =>
      val in1 = dir.getAbsolutePath + "/in1"
      val in2 = dir.getAbsolutePath + "/in2"
      val table = dir.getAbsolutePath + "/entities"
      // batch 1: two distinct entities + a within-batch variant of the
      // first (one deletion, larger id) that must NOT become an entity
      Seq((1L, "goldenrod lace"), (2L, "midnight chocolate"),
        (3L, "goldenrd lace"))
        .toDF("rec_id", "name").write.parquet(in1)
      val schema = spark.read.parquet(in1).schema
      Streams.erStream(spark.readStream.schema(schema).parquet(in1),
        table, dir.getAbsolutePath + "/ck1", 1)
      val afterOne = graft.sources.Snapshot.read(spark, table)
        .select($"rec_id").as[Long].collect().toSet
      assert(afterOne == Set(1L, 2L))
      // batch 2: a re-keyed variant of entity 1 resolves against
      // HISTORY; one genuinely new entity appends
      Seq((11L, "goldenrod lacs"), (12L, "papaya spring wheat"))
        .toDF("rec_id", "name").write.parquet(in2)
      Streams.erStream(spark.readStream.schema(schema).parquet(in2),
        table, dir.getAbsolutePath + "/ck2", 1)
      val afterTwo = graft.sources.Snapshot.read(spark, table)
        .select($"rec_id").as[Long].collect().toSet
      assert(afterTwo == Set(1L, 2L, 12L))
      // replay the SAME batch under a fresh checkpoint (a crash replay
      // without offset state): every record re-resolves at distance 0
      // against its committed entity — the snapshot must not grow
      Streams.erStream(spark.readStream.schema(schema).parquet(in2),
        table, dir.getAbsolutePath + "/ck3", 1)
      val afterReplay = graft.sources.Snapshot.read(spark, table)
        .select($"rec_id").as[Long].collect().toSet
      assert(afterReplay == Set(1L, 2L, 12L))
    }
  }

  test("erStream compaction bounds snapshot files; replay stays idempotent") {
    import graft.sources.Snapshot
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val table = dir.getAbsolutePath + "/entities"
      val ck = dir.getAbsolutePath + "/ck"
      def parquetFiles(): Int = {
        val m = Snapshot.readManifest(table, Snapshot.latestVersion(table).get)
        m.dirs.map(d => new java.io.File(d).listFiles()
          .count(_.getName.endsWith(".parquet"))).sum
      }
      // 5 waves of mutually-distant entities (repeated digits keep every
      // cross-wave distance > maxDist), SHARED checkpoint so each wave is
      // a new batch id → each merge appends a fresh ingest_batch dir
      def wave(i: Int) = Seq((i * 10L, s"entity ${i.toString * 3} brick"))
        .toDF("rec_id", "name")
      wave(1).write.parquet(in)
      val schema = spark.read.parquet(in).schema
      Streams.erStream(spark.readStream.schema(schema).parquet(in),
        table, ck, 1, compactEvery = 3, vacuumKeep = 1)
      for (i <- 2 to 5) {
        wave(i).write.mode("append").parquet(in)
        Streams.erStream(spark.readStream.schema(schema).parquet(in),
          table, ck, 1, compactEvery = 3, vacuumKeep = 1)
      }
      // without compaction this is 5 dirs / 5 files; the dir-count
      // trigger collapses at ≥3, so the bound holds at any stream age
      val m = Snapshot.readManifest(table, Snapshot.latestVersion(table).get)
      assert(m.dirs.size <= 3, s"dirs not bounded: ${m.dirs.size}")
      assert(parquetFiles() <= 3, s"files not bounded: ${parquetFiles()}")
      // vacuumKeep bounds the DISK, not just the live manifest: data
      // files of superseded versions are reclaimed at each compaction
      def allParquetOnDisk(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(table + "/data"))
      }
      assert(allParquetOnDisk() <= 5,
        s"disk not bounded: ${allParquetOnDisk()} parquet files on disk")
      val entities = Snapshot.read(spark, table)
        .select($"rec_id").as[Long].collect().toSet
      assert(entities == Set(10L, 20L, 30L, 40L, 50L))
      // full replay under a fresh checkpoint: every record self-matches
      // at distance 0 against the COMPACTED snapshot — no growth
      Streams.erStream(spark.readStream.schema(schema).parquet(in),
        table, dir.getAbsolutePath + "/ck2", 1, compactEvery = 3)
      val replayed = Snapshot.read(spark, table)
        .select($"rec_id").as[Long].collect().toSet
      assert(replayed == entities)
    }
  }

  test("wapStream: a poisoned micro-batch is quarantined atomically, " +
      "clean batches publish, checkpoint-free replay converges") {
    import graft.sources.Snapshot
    withTempDir { dir =>
      val tbl = dir.getAbsolutePath + "/t"
      val b0 = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      val b1 = Seq((3L, -5L), (4L, 40L)).toDF("id", "v") // poisoned
      val b2 = Seq((5L, 50L)).toDF("id", "v")
      val src = SparkEntry.replayBatches(spark, Seq(b0, b1, b2),
        dir.getAbsolutePath)
      def run(ck: String): Unit = Streams.wapStream(
        src, tbl, dir.getAbsolutePath + ck, col("v") < 0)
      run("/ck")
      val got = Snapshot.read(spark, tbl)
        .select($"id").as[Long].collect().toSet
      assert(got == Set(1L, 2L, 5L)) // batch 1 vanished whole
      assert(Snapshot.latestVersion(tbl).contains(2L)) // two publishes
      assert(Snapshot.stagedNames(tbl).isEmpty)
      // time travel: v1 is the first clean batch alone
      assert(Snapshot.read(spark, tbl, Some(1L))
        .select($"id").as[Long].collect().toSet == Set(1L, 2L))
      // replay without checkpoint (the crash-after-publish window):
      // each batch's wap id is already recorded in a published
      // manifest, so the replay skips whole — VERSION COUNT converges
      // (the r13 advisor gap), not just content
      run("/ck2")
      assert(Snapshot.read(spark, tbl)
        .select($"id").as[Long].collect().toSet == Set(1L, 2L, 5L))
      assert(Snapshot.stagedNames(tbl).isEmpty)
      assert(Snapshot.latestVersion(tbl).contains(2L)) // no extra versions
      assert(Snapshot.publishedWap(tbl, "wap-000000").contains(1L))
      assert(Snapshot.publishedWap(tbl, "wap-000002").contains(2L))
      assert(Snapshot.publishedWap(tbl, "wap-000001").isEmpty) // poisoned
    }
  }

  test("hygieneStream routes documents by the gate-order reason taxonomy") {
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val acc = dir.getAbsolutePath + "/accepted"
      val rej = dir.getAbsolutePath + "/rejected"
      val good = "the quick brown fox jumps over a lazy dog and then " +
        "walks to the old stone bridge near town"
      val docs = Seq(
        (1L, good), // passes every gate
        (2L, "x x x x x"), // low quality (short, zero stopwords, 1 type)
        // repetitive 3-grams, but enough length/stopwords/diversity from
        // the appended tail to clear the quality gate first
        (3L, ("spam ham " * 30).trim + " the of and to a quick brown fox " +
          good),
        (4L, "completely novel words about the ancient stone bridge near " +
          "town where the quick brown fox jumps over a lazy dog today"))
        .toDF("doc_id", "text")
      docs.write.parquet(in)
      // the benchmark overlaps doc 4's opening 3-grams and nothing else
      val bench = Seq((99L, "completely novel words about the ancient"))
        .toDF("doc_id", "text")
      val schema = docs.schema
      Streams.hygieneStream(
        spark.readStream.schema(schema).parquet(in), bench,
        acc, rej, dir.getAbsolutePath + "/ck",
        minQuality = 0.2)

      val accepted = spark.read.parquet(acc)
        .select($"doc_id").as[Long].collect().toSet
      val rejected = spark.read.parquet(rej)
        .select($"doc_id", $"reason").as[(Long, String)].collect().toMap
      assert(accepted == Set(1L))
      assert(rejected(2L) == "low_quality")
      assert(rejected(3L) == "repetitive")
      assert(rejected(4L) == "contaminated")
      assert(accepted.intersect(rejected.keySet).isEmpty)
    }
  }

  test("dsirStream: frozen-model streaming scores equal the batch " +
      "scorer; routing partitions the corpus at the threshold") {
    import graft.ops.Sampling
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val docs = Seq(
        (1L, "wiki facts wiki archive history", true),
        (2L, "facts history archive wiki", true),
        (10L, "wiki facts archive", false),
        (11L, "buy spam now deal spam buy", false),
        (12L, "facts about the wiki archive", false))
        .toDF("doc_id", "text", "tgt")
      val model = Sampling.dsirModel(docs, $"doc_id", $"text", $"tgt", 64)
      docs.filter($"doc_id" < 10).select($"doc_id", $"text")
        .write.parquet(in)
      docs.filter($"doc_id" >= 10).select($"doc_id", $"text")
        .write.mode("append").parquet(in)
      val schema = docs.select($"doc_id", $"text").schema
      Streams.dsirStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(in), model, 64,
        dir.getAbsolutePath + "/keep", dir.getAbsolutePath + "/drop",
        dir.getAbsolutePath + "/ck", 0L)
      val keep = spark.read.parquet(dir.getAbsolutePath + "/keep")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      val drop = spark.read.parquet(dir.getAbsolutePath + "/drop")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      // every doc routed exactly once, split exactly at the threshold
      assert(keep.keySet.intersect(drop.keySet).isEmpty)
      assert(keep.keySet ++ drop.keySet ==
        Set(1L, 2L, 10L, 11L, 12L))
      assert(keep.values.forall(_ >= 0L) && drop.values.forall(_ < 0L))
      // stream scores == the batch scorer's (frozen model, same space)
      val batchW = Sampling.dsirScore(docs, $"doc_id", $"text", model, 64)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
      (keep ++ drop).foreach { case (id, w) =>
        assert(w == batchW(id), s"doc $id: stream $w vs batch ${batchW(id)}")
      }
      // the target-like raw doc keeps, the spam doc drops
      assert(keep.contains(10L) && drop.contains(11L))
    }
  }

  test("drain: a batch that throws fails the stream to the caller and " +
      "leaves no persisted RDD of the batch or of the run behind") {
    import graft.ops.Sampling
    withTempDir { dir =>
      val in = dir.getAbsolutePath + "/in"
      val docs = Seq(
        (1L, "wiki facts wiki archive history", true),
        (11L, "buy spam now deal spam buy", false))
        .toDF("doc_id", "text", "tgt")
      val model = Sampling.dsirModel(docs, $"doc_id", $"text", $"tgt", 64)
      docs.select($"doc_id", $"text").write.parquet(in)
      // a regular file where the drop sink's directory belongs: the keep
      // write materializes the batch's `scored` and the run's model pin,
      // then the drop write throws
      val dropFile = new java.io.File(dir, "drop")
      java.nio.file.Files.writeString(dropFile.toPath, "not a directory")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.dsirStream(
          spark.readStream.schema(docs.select($"doc_id", $"text").schema)
            .parquet(in), model, 64,
          dir.getAbsolutePath + "/keep", dropFile.getPath,
          dir.getAbsolutePath + "/ck", 0L)
      }
      assert(new java.io.File(dir, "keep").isDirectory,
        "the keep write must run before the failing drop write")
      val left = spark.sparkContext.getPersistentRDDs.toMap -- before
      assert(left.isEmpty, s"left behind: ${left.values.mkString(", ")}")
    }
  }

  test("stream-stream interval join pairs keys within the time bound, drops the rest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val orders = MemoryStream[(Long, String, Double)]
    val events = MemoryStream[(Long, String, String)]
    val l = orders.toDF().toDF("user_id", "ots", "amount")
      .select($"user_id", to_timestamp($"ots").as("ots"), $"amount")
    val r = events.toDF().toDF("user_id", "ets", "etype")
      .select($"user_id", to_timestamp($"ets").as("ets"), $"etype")
    val joined = Streams.intervalJoin(l, r, "user_id", "ots", "ets",
      watermark = "0 seconds", within = "10 minutes")
      .select($"l.user_id", $"amount", $"etype")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      // the click 5 min before the order joins; the one 30 min before
      // falls outside the interval; user 9 never matches a key
      orders.addData((7L, "2024-01-01 10:10:00", 42.0))
      events.addData(
        (7L, "2024-01-01 10:05:00", "click"),
        (7L, "2024-01-01 09:40:00", "stale"),
        (9L, "2024-01-01 10:05:00", "other"))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, amount, etype FROM ssjoin")
        .as[(Long, Double, String)].collect().toSet
      assert(got == Set((7L, 42.0, "click")))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched orders null-padded after the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val orders = MemoryStream[(Long, String, Double)]
    val events = MemoryStream[(Long, String, String)]
    val l = orders.toDF().toDF("user_id", "ots", "amount")
      .select($"user_id", to_timestamp($"ots").as("ots"), $"amount")
    val r = events.toDF().toDF("user_id", "ets", "etype")
      .select($"user_id", to_timestamp($"ets").as("ets"), $"etype")
    val joined = Streams.intervalJoin(l, r, "user_id", "ots", "ets",
      watermark = "0 seconds", within = "10 minutes", joinType = "left_outer")
      .select($"l.user_id", $"amount", $"etype")
    val q = joined.writeStream.format("memory").queryName("ssleft")
      .outputMode("append").start()
    try {
      orders.addData(
        (7L, "2024-01-01 10:10:00", 42.0),   // will match
        (8L, "2024-01-01 10:10:00", 13.0))   // never matches
      events.addData((7L, "2024-01-01 10:05:00", "click"))
      q.processAllAvailable()
      // push the watermark far past 10:10 so user 8 provably can't match
      orders.addData((9L, "2024-01-01 12:00:00", 1.0))
      events.addData((9L, "2024-01-01 11:59:00", "later"))
      q.processAllAvailable()
      orders.addData((9L, "2024-01-01 12:01:00", 1.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, amount, etype FROM ssleft WHERE user_id IN (7, 8)")
        .as[(Long, Double, Option[String])].collect().toSet
      assert(got == Set((7L, 42.0, Some("click")), (8L, 13.0, None)))
    } finally q.stop()
  }

  test("expiringSessions emits a summary only when the watermark ends the session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Streams.SessionEvent]
    val q = Streams.expiringSessions(source.toDS(), "0 seconds",
        gapMs = 5 * 60 * 1000)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      source.addData(
        Streams.SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        Streams.SessionEvent(1L, ts("2024-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM sessions").count() == 0,
        "session still open — nothing emitted")
      // a much later event advances the watermark past 10:06 (10:01+gap);
      // the NEXT batch fires the timeout for user 1
      source.addData(Streams.SessionEvent(2L, ts("2024-01-01 10:30:00"), 9.0))
      q.processAllAvailable()
      source.addData(Streams.SessionEvent(2L, ts("2024-01-01 10:31:00"), 1.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT userId, n, valueSum FROM sessions")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == Set((1L, 2L, 3.0)))
    } finally q.stop()
  }

  test("symbolRunningState tracks per-key incremental state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Streams.BarEvent]
    val q = Streams.symbolRunningState(source.toDS())
      .writeStream.format("memory").queryName("symstate")
      .outputMode(OutputMode.Update()).start()
    try {
      def d(s: String) = java.sql.Date.valueOf(s)
      source.addData(Streams.BarEvent("A", d("2024-01-01"), 10.0))
      q.processAllAvailable()
      source.addData(Streams.BarEvent("A", d("2024-01-03"), 8.0),
        Streams.BarEvent("B", d("2024-01-02"), 5.0))
      q.processAllAvailable()
      val st = spark.sql("SELECT symbol, nRows, CAST(lastDate AS STRING), minClose FROM symstate")
        .as[(String, Long, String, Double)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2) }
      assert(st("A") == (("A", 2L, "2024-01-03", 8.0)))
      assert(st("B") == (("B", 1L, "2024-01-02", 5.0)))
    } finally q.stop()
  }

  test("preferenceStream: batch-keyed partial matrices accumulate to " +
      "the corpus ratings, batch order immaterial, replay-idempotent") {
    import graft.ops.Preference
    val b0 = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A"))).toDF("w", "l")
    val b1 = (Seq.fill(2)(("A", "C")) ++ Seq(("C", "B"))).toDF("w", "l")
    def ratings(batches: Seq[org.apache.spark.sql.DataFrame],
                tag: String): Map[String, (String, Long, Long, Long)] = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"prefstream$tag").toFile
      Streams.preferenceStream(
        SparkEntry.replayBatches(spark, batches, dir.getAbsolutePath),
        col("w"), col("l"), dir.getAbsolutePath + "/matrix",
        dir.getAbsolutePath + "/ck")
      Streams.streamedRatings(spark, dir.getAbsolutePath + "/matrix", 3)
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
    }
    val fwd = ratings(Seq(b0, b1), "f")
    val batch = Preference.bradleyTerry(b0.unionByName(b1),
      col("w"), col("l"), 3)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(fwd == batch, "streamed ratings equal corpus-at-once BT")
    assert(ratings(Seq(b1, b0), "r") == batch, "batch order immaterial")
    // replay safety: re-writing a batch's partition (what a crash
    // replay does) leaves the accumulated matrix unchanged
    val dir = java.nio.file.Files
      .createTempDirectory("prefstreamreplay").toFile
    Streams.preferenceStream(
      SparkEntry.replayBatches(spark, Seq(b0, b1), dir.getAbsolutePath),
      col("w"), col("l"), dir.getAbsolutePath + "/matrix",
      dir.getAbsolutePath + "/ck")
    val p1 = dir.getAbsolutePath + "/matrix/batch=1"
    val replayRows = spark.read.parquet(p1)
      .as[(String, String, Long)].collect().toSeq
    replayRows.toDF("i", "j", "wins")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p1)
    assert(Streams.streamedRatings(spark,
      dir.getAbsolutePath + "/matrix", 3)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap == batch)
  }

  test("erasureStream: per-batch deletion vectors, content converges " +
      "regardless of batch order, history retains") {
    import graft.sources.Snapshot
    def run(batches: Seq[Seq[Long]], tag: String): (Set[Long], Int) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"erasure$tag").toFile
      val t = dir.getAbsolutePath + "/t"
      Snapshot.commit((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), t)
      Streams.erasureStream(
        SparkEntry.replayBatches(spark,
          batches.map(b => b.map(Tuple1(_)).toDF("id")), dir.getAbsolutePath),
        t, "id", dir.getAbsolutePath + "/ck")
      (Snapshot.read(spark, t).select($"id").as[Long].collect().toSet,
        Snapshot.versions(t).size)
    }
    val (a, va) = run(Seq(Seq(2L), Seq(4L, 6L)), "f")
    assert(a == Set(1L, 3L, 5L) && va == 3)
    val (b, _) = run(Seq(Seq(4L, 6L), Seq(2L)), "r")
    assert(b == Set(1L, 3L, 5L), "batch order immaterial for content")
  }

}
