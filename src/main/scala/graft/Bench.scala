package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Host-speed calibration probe: a FIXED synthetic CPU-bound job —
    * xxhash64 over a constant generated range (no I/O, no shuffle,
    * constant rows, fixed 32-way parallelism regardless of the session
    * master) summed to one value. Identical work every round, so its
    * wall time measures the HOST, not the engine: round-over-round
    * per-query deltas divide by the calib ratio to separate host drift
    * from plan changes (round 7's +35% on the shared subset was
    * unfalsifiable without this). Recorded as calib_s in bench.json.
    */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{sum, xxhash64, col, lit}
    val t0 = System.nanoTime()
    // each term bounded to ~1e9 so the 2^28-term sum stays far inside
    // a long even under ANSI overflow checking
    spark.range(0L, 1L << 28, 1L, 32)
      .select(sum(xxhash64(col("id")) % lit(1000000007L))).collect(): Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** Times each query by executing its OWN physical plan. A query that
    * throws is recorded with its wall-time-to-failure AND returned in
    * the error set — a breaking query must never bench as a fast green
    * number (the CORRECTNESS harness catches breakage independently,
    * but target/bench.json is read on its own and round-6's silent
    * `catch { -1L }` would have let one hide). Extracted from main so
    * BenchSpec can drive it with a deliberately failing query.
    */
  def timeQueries(spark: SparkSession, sfDir: String,
                  qs: Map[String, (SparkSession, String) => DataFrame])
      : (Map[String, Double], Set[String]) = {
    val r = timeQueriesInstrumented(spark, sfDir, qs, probeEvery = 0)
    (r.times, r.errors)
  }

  /** One pass's full drift context: per-query times, failures,
    * per-query START offsets (seconds since pass start), and the
    * interleaved calibration probes as (queries-completed, calib_s)
    * pairs. The offsets + probes are what make a slow reading
    * ATTRIBUTABLE after the fact (r11 verdict: the per-pass bracketing
    * probes proved ×2 in-run host swings but couldn't say WHICH
    * queries they hit — q67's 6.52 s vs its 3.96 s profiled floor was
    * un-adjudicable; now the probe nearest its offset settles it).
    */
  final case class PassResult(times: Map[String, Double],
                              errors: Set[String],
                              startOffsets: Map[String, Double],
                              probes: Seq[(Int, Double)])

  def timeQueriesInstrumented(spark: SparkSession, sfDir: String,
                              qs: Map[String, (SparkSession, String) => DataFrame],
                              probeEvery: Int = 25): PassResult = {
    val errs = scala.collection.mutable.LinkedHashSet[String]()
    val probes = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val offsets = scala.collection.mutable.LinkedHashMap[String, Double]()
    val pass0 = System.nanoTime()
    var done = 0
    val times = qs.map { case (name, fn) =>
      // interleave a host probe every `probeEvery` completed queries
      // (not timed into any query; clearCache ran before it)
      if (probeEvery > 0 && done > 0 && done % probeEvery == 0)
        probes += ((done, calibrate(spark)))
      val t0 = System.nanoTime()
      offsets(name) = (t0 - pass0) / 1e9
      // toRdd.count() executes the query's OWN physical plan: a plain
      // df.count() wraps the plan in an aggregate and the optimizer
      // then PRUNES row-preserving final operators (a left join
      // against a grouped-unique key disappears entirely — q85-shaped
      // rollups measured 0.14 s while their join cost 35 s), which
      // under-reports every such query.
      try { fn(spark, sfDir).queryExecution.toRdd.count(); () }
      catch { case _: Throwable => errs += name }
      val dt = (System.nanoTime() - t0) / 1e9
      // release per-query persisted intermediates so queries don't pay
      // for each other's cache memory (cleanup is not timed)
      spark.catalog.clearCache()
      done += 1
      name -> dt
    }
    PassResult(times, errs.toSet, offsets.toMap, probes.toSeq)
  }

  /** bench_drift.py's `local_norm`, computed IN-RUN so the round
    * artifact carries raw AND drift-adjudicated numbers side by side
    * (r13 verdict task 1: the final invocation's in-run host spike
    * read q200/q320/q369 at ~2× their stable cost and the raw-only
    * bench.json could not say so). Per query and pass: estimate the
    * host speed in effect WHEN IT RAN — linear interpolation between
    * the bracketing probes by queries-completed rank, probes
    * Tukey-fenced first (run-edge probes measure the cold JVM 1.5–3×
    * fast) and the interpolated value clamped to [0.5×, 2×] of the
    * pass median — then re-express the reading at the run's MEDIAN
    * host speed. local_norm = min over passes. Kept in exact lockstep
    * with tools/bench_drift.py (same fences, same upper-median).
    * `passes` carries each pass with its FULL probe list (bracket +
    * interleaved) as (queries_completed, calib_s).
    */
  def localNorms(passes: Seq[(PassResult, Seq[(Int, Double)])])
      : Map[String, Double] = {
    val allP = passes.flatMap(_._2.map(_._2)).sorted
    val medianCalib = allP(allP.size / 2)
    def passMedian(probes: Seq[(Int, Double)]): Double = {
      val cs = probes.map(_._2).sorted
      cs(cs.size / 2)
    }
    def fenced(probes: Seq[(Int, Double)]): Seq[(Int, Double)] = {
      val sortedP = probes.sorted
      val vals = probes.map(_._2).sorted
      val q1 = vals(vals.size / 4)
      val q3 = vals((3 * vals.size) / 4)
      val (lo, hi) = (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1))
      val kept = sortedP.filter(p => p._2 >= lo && p._2 <= hi)
      if (kept.size >= 2) kept else sortedP
    }
    def localCalib(r: PassResult, probes: Seq[(Int, Double)],
                   name: String): Double = {
      val order = r.startOffsets.toSeq.sortBy(_._2).map(_._1)
      val idx = order.indexOf(name)
      val ps = fenced(probes)
      val lo = ps.filter(_._1 <= idx).maxOption.getOrElse(ps.head)
      val hi = ps.filter(_._1 >= idx).minOption.getOrElse(ps.last)
      val raw =
        if (hi._1 == lo._1) lo._2
        else {
          val w = (idx - lo._1).toDouble / (hi._1 - lo._1)
          lo._2 + w * (hi._2 - lo._2)
        }
      val med = passMedian(probes)
      math.max(0.5 * med, math.min(2.0 * med, raw))
    }
    passes.head._1.times.keys.map { name =>
      name -> passes.map { case (r, probes) =>
        r.times(name) * medianCalib / localCalib(r, probes, name)
      }.min
    }.toMap
  }

  /** CROSS-ROUND normalization (r14 verdict task 5): `norm_total`
    * adjudicates intra-run drift only, so a round whose CLOSING host
    * ran 22% slow still published a raw total that read as a 38%
    * regression against the previous round (r14: ×1.38 raw vs ×1.02
    * like-for-like). The calib probe is identical work every round,
    * so expressing this run's total AT THE PREVIOUS ROUND'S host
    * speed is one ratio: total · (calib_med_prev / calib_med_now).
    * None when no prior run exists to anchor against.
    */
  def xroundTotal(normTotal: Double, calibMedNow: Double,
                  calibMedPrev: Option[Double]): Option[Double] =
    calibMedPrev.collect {
      case p if p > 0 && calibMedNow > 0 => normTotal * p / calibMedNow
    }

  /** Greedy top-cost inline per-query map (r15 verdict task 1: the
    * driver's PERF per_query/scaling machinery reads ONLY the parsed
    * stdout line, and the stdout tail it captures is a hard 2,000
    * chars — measured: every BENCH_rN.json tail is exactly 2000 chars,
    * and rounds 1–4, which printed the full 511-entry map (≥12.9 KB
    * minified), all landed `parsed: null` because the captured tail
    * started mid-object). The full map cannot fit, so the stdout line
    * carries the TOP-COST entries that fit in `budget` serialized
    * chars (3-decimal seconds, Locale.ROOT), descending by time — the
    * queries that matter for perf adjudication — while the COMPLETE
    * map stays in target/bench.json / bench_history.jsonl exactly as
    * before. The inline map is a strict top-N prefix of the cost order:
    * it stops at the first entry that does not fit, so a reader can
    * take "not inlined" to mean "cheaper than every inlined query".
    * Returns (jsonObject, nInlined).
    */
  def topQueriesJson(times: Map[String, Double], budget: Int)
      : (String, Int) = {
    val parts = times.toSeq.sortBy { case (k, v) => (-v, k) }.map {
      case (k, v) =>
        "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }
    // serialized length after each entry: braces + entries + commas
    val lens = parts.scanLeft(2)((len, p) => len + p.length + (if (len > 2) 1 else 0)).tail
    val kept = parts.zip(lens).takeWhile(_._2 <= budget).map(_._1)
    (kept.mkString("{", ",", "}"), kept.size)
  }

  /** The previous run's `calib_med` for the same sf dir, from the
    * committed bench history (last matching line wins — the most
    * recent prior run). Regex extraction, not a JSON parser: each
    * history line is written by this file with both fields in fixed
    * form. None on no file / no match / malformed.
    */
  def lastHistoryCalibMed(historyPath: String, sfDir: String)
      : Option[Double] = {
    val path = java.nio.file.Paths.get(historyPath)
    if (!java.nio.file.Files.exists(path)) return None
    val sfRe = ("\"sf\":\"" + java.util.regex.Pattern.quote(sfDir) +
      "\"").r
    val cmRe = "\"calib_med\":([0-9.Ee+-]+)".r
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(path).asScala.reverseIterator
        .filter(l => sfRe.findFirstIn(l).isDefined)
        .flatMap(l => cmRe.findFirstMatchIn(l).map(_.group(1).toDouble))
        .find(_ > 0)
    } catch { case _: Exception => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // JVM/codegen/parquet-reader warmup so the first timed query isn't
    // charged for one-time initialization (~4 s of JIT + classloading).
    try SparkEntry.queries("q14_summary_stats")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // calibration: one unrecorded run JITs the probe's own codegen,
    // then min of two spaced measurements (the per-query policy)
    calibrate(spark)
    val calibStart = math.min(calibrate(spark), calibrate(spark))
    // Two full passes, per-query MIN: the host carries background load
    // spikes that randomly slow single queries 3-10x (documented in
    // NOTES); the min of two spaced measurements is far closer to the
    // engine's actual cost than any single draw. Labeled in the JSON.
    // Each pass is BRACKETED by its own calibration probe (r10 lesson:
    // a single start-of-run calib cannot see host drift across a
    // 30-minute sweep — the r10 "×2.6 regressions" were un-adjudicable
    // because no probe ran NEAR the slow queries). All probes land in
    // calib_passes; calib_s stays the min (best-case host speed).
    val passes = (1 to 2).map { _ =>
      val c0 = calibrate(spark)
      val r = timeQueriesInstrumented(spark, sfDir, SparkEntry.queries)
      val c1 = calibrate(spark)
      (r, c0, c1)
    }
    val calibPasses = passes.flatMap(p =>
      (p._2 +: p._1.probes.map(_._2)) :+ p._3)
    val calib = (calibStart +: calibPasses).min
    // calib_s (the min) is "best-case host speed" and kept for
    // round-over-round continuity, but a single anomalously fast probe
    // poisons it (observed: one 0.103 among thirty 0.23-0.41 readings
    // halved the apparent host cost). calib_med is the outlier-robust
    // summary — use IT for cross-round normalization.
    val calibMed = {
      val s = (calibStart +: calibPasses).sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = passes.head._1.times.map { case (name, t1) =>
      name -> math.min(t1, passes(1)._1.times(name))
    }
    // A failure in EITHER pass flags the query: deterministic breakage
    // fails both, and even a transient failure means the min time below
    // covers less than the query's real work.
    val errors = passes.flatMap(_._1.errors).distinct.sorted
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Cost-share tripwire (stderr, stdout keeps its strict contract):
    // round 5's q102 quietly grew to 63% of the whole bench inside a
    // green run — surface the top-5 shares every round and warn LOUDLY
    // when any single query exceeds 20% of the total. Log, not crash:
    // a hot query is a finding, not a failure. tools/bench_share.py
    // runs the same check against target/bench.json after the fact.
    if (total > 0) {
      val top = results.toSeq.sortBy(-_._2).take(5)
      System.err.println("[graft] bench top-5 by share: " + top.map {
        case (n, t) => f"$n=${t}%.2fs(${100 * t / total}%.1f%%)"
      }.mkString(", "))
      top.filter(_._2 > 0.20 * total).foreach { case (n, t) =>
        System.err.println(f"[graft] WARNING: $n takes ${100 * t / total}%.1f%% " +
          "of the bench (>20% tripwire) — investigate before it hides in a green run")
      }
    }
    errors.foreach(n => System.err.println(
      s"[graft] ERROR: $n FAILED during bench — its recorded time is " +
        "time-to-failure, not query cost"))
    val calibJson = calibPasses.mkString("[", ",", "]")
    // Per-pass drift context (disk-only json; stdout stays short):
    // each pass records every query's own time and START offset plus
    // the bracketing + interleaved (every-25-queries) host probes as
    // [queries_completed, calib_s] — so any suspicious reading can be
    // adjudicated against the probe measured NEAREST its offset, per
    // query, after the fact.
    def qmap(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val passJson = passes.map { case (p, c0, c1) =>
      val probeJson = ((0, c0) +: p.probes :+ (p.times.size, c1))
        .map { case (i, c) => s"[$i,$c]" }.mkString("[", ",", "]")
      s"""{"t":${qmap(p.times)},"ts":${qmap(p.startOffsets)},"probes":$probeJson}"""
    }.mkString("[", ",", "]")
    // raw AND drift-adjudicated per-query numbers land side by side in
    // the round artifact (r13 verdict task: a one-invocation host
    // spike must never masquerade as a plan regression) — queries_norm
    // is bench_drift.py's local_norm computed in-run.
    val norms = localNorms(passes.map { case (p, c0, c1) =>
      (p, (0, c0) +: p.probes :+ (p.times.size, c1))
    })
    val normTotal = if (norms.nonEmpty) norms.values.sum else 0.0
    // cross-round anchor: the previous run's calib_med for this sf,
    // read BEFORE this run appends itself to the history. Both the
    // anchor and the re-expressed totals land in the artifact so a
    // loaded closing host can never masquerade as a regression.
    val prevCalibMed = lastHistoryCalibMed("bench_history.jsonl", sfDir)
    val xTotal = xroundTotal(total, calibMed, prevCalibMed)
    val xNormTotal = xroundTotal(normTotal, calibMed, prevCalibMed)
    def optJson(o: Option[Double]): String = o.map(_.toString)
      .getOrElse("null")
    val xJson = s""""calib_med_prev":${optJson(prevCalibMed)},""" +
      s""""xround_total":${optJson(xTotal)},""" +
      s""""xround_norm_total":${optJson(xNormTotal)}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_norm":${qmap(norms)},"norm_total":$normTotal,$xJson,"errors":$errJson,"sf":"$sfDir","runs":2,"agg":"min","calib_s":$calib,"calib_med":$calibMed,"calib_start":$calibStart,"calib_passes":$calibJson,"passes":$passJson}"""
    // Parse contract (4 rounds of "parsed": null taught us the hard way):
    //  - the forked child inherits sbt's real stdout (StdoutOutput), so the
    //    line lands unprefixed; build.sbt sets showSuccess := false, so sbt
    //    prints NO epilogue after it — our line is the LAST line;
    //  - BUT the harness captures only a bounded tail (~2,000 chars) of
    //    stdout, and the full per-query map is >2 KB, so the captured "last
    //    line" starts mid-object and can never parse. Therefore the line
    //    printed to stdout must be SHORT (<200 bytes): totals only, with a
    //    pointer to the full per-query map mirrored on disk.
    // stop() BEFORE printing: Spark shutdown can log to the console, and
    // nothing may land after the JSON line.
    spark.stop()
    for (outFile <- Seq(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json"),
        "target/bench.json")) {
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
          (full + "\n").getBytes("UTF-8"))
      } catch { case _: java.io.IOException => () }
    }
    // target/bench.json is overwritten on every run, and the round
    // artifact (BENCH_rN.json) keeps only the stdout totals — so the
    // per-query map that round-over-round diffs depend on used to
    // survive only by luck. Append each run (timestamped) to a
    // committed history log; ~6 KB per run, grep by ts or sf.
    try {
      val stamped = s"""{"ts":"${java.time.Instant.now()}",""" + full.tail
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_history.jsonl"),
        (stamped + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: java.io.IOException => () }
    // Parse contract addendum (r15 verdict task 1): the summary line
    // now also carries an INLINE per-query map — the top-cost entries
    // that fit — so the driver's per_query/scaling machinery has real
    // data without following queries_file. The line must stay inside
    // the captured 2,000-char stdout tail or NOTHING parses (rounds
    // 1–4), so the map is filled greedily to a fixed total-line budget;
    // queries_inline says how many of n_queries made it. queries_file
    // is absolute so a pointer-following driver finds it from any cwd.
    val qFileAbs = new java.io.File("target/bench.json").getAbsolutePath
    val summaryBase = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"n_errors":${errors.size},"runs":2,"agg":"min","calib_s":$calib,"calib_med":$calibMed,"norm_total":$normTotal,$xJson,"queries_file":"$qFileAbs","queries_inline":NNN,"queries":QQQ}"""
    val (inlineQs, nInline) = topQueriesJson(results,
      1900 - (summaryBase.length - "NNNQQQ".length) - 4)
    val summary = summaryBase
      .replace("\"queries_inline\":NNN", s""""queries_inline":$nInline""")
      .replace("\"queries\":QQQ", s""""queries":$inlineQs""")
    println(summary)
    System.out.flush()
  }
}
