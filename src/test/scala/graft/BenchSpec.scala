package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pins the bench harness's error contract: a query that throws during
  * measurement must surface in the error set, never bench as a silent
  * green number (round 6 recorded -1 rows and wall time with no flag).
  */
class BenchSpec extends SparkSpec {
  import spark.implicits._

  test("timeQueries flags a deliberately broken query and times the rest") {
    val ok: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq(1, 2, 3).toDF("x") }
    val broken: (SparkSession, String) => DataFrame =
      (s, _) => {
        import s.implicits._
        // analysis succeeds, execution throws (raise_error is lazy)
        Seq(1).toDF("x").select(
          when($"x" > 0, raise_error(lit("deliberate bench failure")))
            .otherwise($"x").as("x"))
      }
    val (times, errs) = Bench.timeQueries(spark, "/nonexistent",
      Map("q_ok" -> ok, "q_broken" -> broken))
    assert(errs == Set("q_broken"))
    assert(times.keySet == Set("q_ok", "q_broken"))
    assert(times.values.forall(_ >= 0.0)) // time-to-failure still recorded
  }

  test("calibration probe runs the fixed CPU-bound job and returns " +
      "a positive wall time") {
    // work content is pinned by construction (constant range, fixed
    // slices); the only testable contracts are that it completes and
    // reports elapsed wall time — never a timing bound (host noise)
    val c = Bench.calibrate(spark)
    assert(c > 0.0)
  }

  test("instrumented pass records a start offset per query and " +
      "interleaves probes at the requested cadence") {
    val ok: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq(1).toDF("x") }
    val qs = (1 to 5).map(i => s"q$i" -> ok).toMap
    val r = Bench.timeQueriesInstrumented(spark, "/nonexistent", qs,
      probeEvery = 2)
    assert(r.times.keySet == qs.keySet)
    assert(r.startOffsets.keySet == qs.keySet)
    // offsets are measured from pass start and strictly increase in
    // execution order
    val ordered = r.startOffsets.values.toSeq.sorted
    assert(ordered.head >= 0.0 && ordered == ordered.distinct,
      "start offsets must be distinct and non-negative")
    // 5 queries at cadence 2 → probes after queries 2 and 4
    assert(r.probes.map(_._1) == Seq(2, 4),
      s"probe positions: ${r.probes.map(_._1)}")
    assert(r.probes.forall(_._2 > 0.0))
    // cadence 0 disables probing (the plain timeQueries path)
    val r0 = Bench.timeQueriesInstrumented(spark, "/nonexistent", qs,
      probeEvery = 0)
    assert(r0.probes.isEmpty)
  }

  test("a query whose plan fails at construction is also flagged") {
    val explodes: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("bad query builder")
    val (times, errs) = Bench.timeQueries(spark, "/nonexistent",
      Map("q_boom" -> explodes))
    assert(errs == Set("q_boom"))
    assert(times.contains("q_boom"))
  }

  test("localNorms re-expresses a host-spiked reading at the median " +
      "host speed and leaves steady readings untouched (the r13 " +
      "one-invocation-spike adjudication, in-run)") {
    // two synthetic passes of 10 queries; pass 1 carries a SUSTAINED
    // 2× host spike across the probes at indexes 5 and 7 (calib 0.6
    // vs the 0.3 body — sustained, because an ISOLATED spiked probe
    // is deliberately Tukey-fenced out: one bad probe must not mint
    // fake outliers; a real spike elevates neighboring probes too).
    def pass(times: Map[String, Double], spikeMid: Boolean) = {
      val offsets = (0 until 10).map(i => s"q$i" -> i * 1.0).toMap
      val mid = if (spikeMid) 0.6 else 0.3
      val probes = Seq((0, 0.3), (3, 0.3), (5, mid), (7, mid), (10, 0.3))
      (Bench.PassResult(times, Set.empty, offsets, Seq.empty), probes)
    }
    val base = (0 until 10).map(i => s"q$i" -> 1.0).toMap
    // during the spike, q5 read 2× its steady cost in pass 1; pass 2
    // is the same host speed throughout but q5 reads 2.2 raw (so the
    // raw min, 2.0, is the SPIKED reading — exactly the r13 trap)
    val p1 = pass(base + ("q5" -> 2.0), spikeMid = true)
    val p2 = pass(base + ("q5" -> 2.2), spikeMid = false)
    val norms = Bench.localNorms(Seq(p1, p2))
    // q5's pass-1 reading normalizes by 0.3/0.6 → 1.0; the pass-2 raw
    // 2.2 stays 2.2; min = the adjudicated 1.0, not the raw-min 2.0
    assert(math.abs(norms("q5") - 1.0) < 1e-9,
      s"q5 local_norm ${norms("q5")} != 1.0")
    // a steady query neighboring the spike normalizes by its own
    // INTERPOLATED local calib: q4 sits between probes (3, 0.3) and
    // (5, 0.6) → local 0.45, pass-1 norm 2/3; pass 2 gives 1.0; min
    // keeps the smaller (attribution is per-position, never blanket)
    assert(math.abs(norms("q4") - 2.0 / 3.0) < 1e-9)
    // queries bracketed by steady probes are untouched in both passes
    assert(math.abs(norms("q0") - 1.0) < 1e-9)
    assert(math.abs(norms("q1") - 1.0) < 1e-9)
  }

  test("cross-round normalization: a 22% slower closing host reads at " +
      "the previous round's speed via the calib_med ratio (r14's ×1.38 " +
      "raw vs ×1.02 true); missing/degenerate anchors yield None") {
    // r14's actual shape: prev calib 0.306, closing host 0.374
    val x = Bench.xroundTotal(774.4, 0.374, Some(0.306))
    assert(x.isDefined && math.abs(x.get - 774.4 * 0.306 / 0.374) < 1e-9)
    assert(x.get < 774.4 * 0.85, "the host inflation must come OFF")
    assert(Bench.xroundTotal(100.0, 0.3, None).isEmpty)
    assert(Bench.xroundTotal(100.0, 0.0, Some(0.3)).isEmpty)
    assert(Bench.xroundTotal(100.0, 0.3, Some(0.0)).isEmpty)
  }

  test("topQueriesJson inlines the top-cost queries first, stays inside " +
      "the serialized budget, and emits locale-safe 3-decimal JSON " +
      "(the r15 verdict's driver-visibility fix under the hard " +
      "2000-char stdout-tail cap)") {
    val times = Map("q_slowest" -> 9.87654, "q_mid" -> 1.5,
      "q_fast" -> 0.01, "q_tiny" -> 0.001)
    // budget fits exactly the two most expensive entries
    val two = "{\"q_slowest\":9.877,\"q_mid\":1.500}"
    val (j2, n2) = Bench.topQueriesJson(times, two.length)
    assert(j2 == two && n2 == 2, s"got $j2 ($n2)")
    // a huge budget keeps everything, descending by time
    val (jAll, nAll) = Bench.topQueriesJson(times, 10000)
    assert(nAll == 4)
    assert(jAll.indexOf("q_slowest") < jAll.indexOf("q_mid") &&
      jAll.indexOf("q_mid") < jAll.indexOf("q_fast"))
    // decimal separator is a dot regardless of default locale
    assert(jAll.contains("\"q_tiny\":0.001"))
    // a budget below any entry yields a valid empty object
    val (j0, n0) = Bench.topQueriesJson(times, 5)
    assert(j0 == "{}" && n0 == 0)
    // deterministic tie-break on equal times: name order
    val (jt, _) = Bench.topQueriesJson(Map("qb" -> 1.0, "qa" -> 1.0), 100)
    assert(jt.indexOf("\"qa\"") < jt.indexOf("\"qb\""))
  }

  test("topQueriesJson is a strict top-N prefix: it stops at the first " +
      "entry that does not fit, even when a later, shorter one would") {
    val times = Map("q_a" -> 9.0, "q_a_very_long_query_name" -> 5.0,
      "q_b" -> 1.0)
    // fits q_a and q_b together, but not q_a with the long name
    val budget = "{\"q_a\":9.000,\"q_b\":1.000}".length
    val (j, n) = Bench.topQueriesJson(times, budget)
    assert(j == "{\"q_a\":9.000}" && n == 1, s"got $j ($n)")
    val costOrder = times.toSeq.sortBy { case (k, v) => (-v, k) }.map(_._1)
    val inlined = "\"([^\"]+)\":".r.findAllMatchIn(j).map(_.group(1)).toSeq
    assert(inlined == costOrder.take(inlined.size))
  }

  test("lastHistoryCalibMed finds the LAST entry for the requested sf " +
      "dir only, and survives a missing or malformed history") {
    val dir = java.nio.file.Files.createTempDirectory("benchhist")
    val f = dir.resolve("h.jsonl")
    java.nio.file.Files.write(f, Seq(
      """{"ts":"t1","calib_med":0.25,"sf":"/data/sf0.1","x":1}""",
      """not json at all""",
      """{"ts":"t2","calib_med":0.31,"sf":"/data/sf0.1"}""",
      """{"ts":"t3","calib_med":0.99,"sf":"/data/sf0.01"}"""
    ).mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(Bench.lastHistoryCalibMed(f.toString, "/data/sf0.1")
      .contains(0.31), "last sf0.1 entry wins, sf0.01 ignored")
    assert(Bench.lastHistoryCalibMed(f.toString, "/data/sf9").isEmpty)
    assert(Bench.lastHistoryCalibMed(
      dir.resolve("absent.jsonl").toString, "/data/sf0.1").isEmpty)
  }
}
