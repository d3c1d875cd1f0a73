package graft

import org.apache.spark.sql.functions._
import graft.ops.Sketch

class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("HLL estimate lands within a few percent of the exact count") {
    val df = (1L to 20000L).map(i => ("g", i)).toDF("g", "v")
    val est = Sketch.hllDistinct(df, Seq("g"), $"v")
      .select($"n_approx").as[Double].head()
    assert(math.abs(est - 20000.0) / 20000.0 < 0.05,
      s"estimate $est too far from 20000")
  }

  test("small cardinalities ride the linear-counting branch accurately") {
    val df = (1L to 300L).map(i => ("g", i)).toDF("g", "v")
    val est = Sketch.hllDistinct(df, Seq("g"), $"v")
      .select($"n_approx").as[Double].head()
    assert(math.abs(est - 300.0) / 300.0 < 0.05, s"estimate $est vs 300")
  }

  test("estimate is insensitive to duplication — it sketches the SET") {
    val once = (1L to 5000L).map(i => ("g", i)).toDF("g", "v")
    val thrice = once.unionByName(once).unionByName(once)
    val a = Sketch.hllDistinct(once, Seq("g"), $"v")
      .select($"n_approx").as[Double].head()
    val b = Sketch.hllDistinct(thrice, Seq("g"), $"v")
      .select($"n_approx").as[Double].head()
    assert(a == b, "duplicates must not move the estimate at all")
  }

  test("count-min never underestimates and is exact for unique-bucket items") {
    val items = (Seq.fill(500)("hot") ++ (1 to 200).map(i => s"t$i"))
      .map(Tuple1(_)).toDF("v")
    val reg = Sketch.cmRegisters(items, $"v")
    val probes = Seq("hot", "t1", "absent").map(Tuple1(_)).toDF("v")
    val est = Sketch.cmEstimate(reg, probes, "v")
      .as[(String, Long)].collect().toMap
    assert(est("hot") >= 500L, "CM must never underestimate")
    assert(est("t1") >= 1L)
    assert(est("absent") >= 0L)
    // with 201 distinct items in 4x1024 cells, collisions are rare: the
    // hot item's estimate should be exactly its count
    assert(est("hot") == 500L, s"expected exact 500, got ${est("hot")}")
  }

  test("count-min merge equals the sketch of the concatenated stream") {
    val a = (1 to 300).map(i => Tuple1(s"t${i % 40}")).toDF("v")
    val b = (1 to 200).map(i => Tuple1(s"t${i % 25}")).toDF("v")
    val probes = Seq("t0", "t7", "t39").map(Tuple1(_)).toDF("v")
    val merged = Sketch.cmEstimate(
        Reference.cmMerge(Sketch.cmRegisters(a, $"v"), Sketch.cmRegisters(b, $"v")),
        probes, "v")
      .as[(String, Long)].collect().toMap
    val direct = Sketch.cmEstimate(
        Sketch.cmRegisters(a.unionByName(b), $"v"), probes, "v")
      .as[(String, Long)].collect().toMap
    assert(merged == direct)
  }

  test("histogram quantiles land within one bucket width of the exact value") {
    // uniform 0..9999: p50 ≈ 5000, p95 ≈ 9500
    val df = (0 until 10000).map(i => ("g", i.toDouble)).toDF("g", "v")
    val got = Sketch.histQuantiles(
        Sketch.histRegisters(df, Seq("g"), $"v", 100.0), Seq("g"), 100.0,
        Seq(0.5, 0.95))
      .select($"p50", $"p95").as[(Double, Double)].head()
    assert(math.abs(got._1 - 5000.0) <= 100.0, s"p50 ${got._1}")
    assert(math.abs(got._2 - 9500.0) <= 100.0, s"p95 ${got._2}")
  }

  test("histogram merge equals the histogram of the union") {
    val a = (0 until 500).map(i => ("g", i.toDouble)).toDF("g", "v")
    val b = (250 until 900).map(i => ("g", i.toDouble)).toDF("g", "v")
    val merged = Sketch.histQuantiles(
        Reference.histMerge(Sketch.histRegisters(a, Seq("g"), $"v", 50.0),
          Sketch.histRegisters(b, Seq("g"), $"v", 50.0), Seq("g")),
        Seq("g"), 50.0, Seq(0.5))
      .select($"p50").as[Double].head()
    val direct = Sketch.histQuantiles(
        Sketch.histRegisters(a.unionByName(b), Seq("g"), $"v", 50.0),
        Seq("g"), 50.0, Seq(0.5))
      .select($"p50").as[Double].head()
    assert(merged == direct)
  }

  test("bloom filter: zero false negatives; merge equals union") {
    val in = (0L until 400L).map(Tuple1(_)).toDF("v")
    val reg = Sketch.bloomRegisters(in, $"v")
    val probes = (0L until 800L).map(Tuple1(_)).toDF("v")
    val got = Sketch.bloomMightContain(reg, probes, "v")
      .as[(Long, Boolean)].collect().toMap
    (0L until 400L).foreach(i =>
      assert(got(i), s"member $i must never be reported absent"))
    val fp = (400L until 800L).count(got(_))
    assert(fp < 40, s"false-positive count $fp implausibly high for k=5, m=8192")

    val a = (0L until 200L).map(Tuple1(_)).toDF("v")
    val b = (150L until 400L).map(Tuple1(_)).toDF("v")
    val merged = rowsOf(Reference.bloomMerge(
      Sketch.bloomRegisters(a, $"v"), Sketch.bloomRegisters(b, $"v")))
    assert(merged == rowsOf(Sketch.bloomRegisters(in.filter($"v" < 400), $"v")))
  }

  test("merged register tables equal the sketch of the union") {
    val left = (1L to 4000L).map(i => ("g", i)).toDF("g", "v")
    val right = (2000L to 7000L).map(i => ("g", i)).toDF("g", "v")
    val merged = Sketch.hllEstimate(
      Sketch.hllMerge(
        Sketch.hllRegisters(left, Seq("g"), $"v"),
        Sketch.hllRegisters(right, Seq("g"), $"v"),
        Seq("g")),
      Seq("g"))
      .select($"n_approx").as[Double].head()
    val direct = Sketch.hllDistinct(left.unionByName(right), Seq("g"), $"v")
      .select($"n_approx").as[Double].head()
    assert(merged == direct, "sketch union must equal union sketch exactly")
  }

  test("cm join-size estimate never underestimates; exact when collision-free") {
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")   // key 1 x3
    val b = Seq(1L, 2L, 2L, 9L).toDF("k")        // join size 3*1 + 1*2 = 5
    val est = Sketch.cmJoinSizeEstimate(
        Sketch.cmRegisters(a, $"k"), Sketch.cmRegisters(b, $"k"))
      .as[Long].head()
    // 5 distinct keys over 4x1024 cells: collision-free -> exact
    assert(est == 5L)
    // a denser keyspace can only add non-negative collision noise
    val a2 = (1L to 300L).toDF("k")
    val b2 = (200L to 500L).toDF("k")
    val est2 = Sketch.cmJoinSizeEstimate(
        Sketch.cmRegisters(a2, $"k"), Sketch.cmRegisters(b2, $"k"))
      .as[Long].head()
    assert(est2 >= 101L, s"true join size 101, est $est2")
    // disjoint keysets: any hash row without shared buckets proves the
    // join is empty, and the min must see it — not drop it
    val est3 = Sketch.cmJoinSizeEstimate(
        Sketch.cmRegisters(Seq(1L, 2L).toDF("k"), $"k"),
        Sketch.cmRegisters(Seq(900L, 901L).toDF("k"), $"k"))
      .as[Long].head()
    assert(est3 == 0L, s"disjoint sets must estimate 0, got $est3")
  }

  test("HLL pair-union registers + inclusion-exclusion track a planted " +
      "overlap within a few percent; identical sets intersect fully") {
    // sources A = [0, 3000), B = [2000, 5000): |A∩B| = 1000
    val rows = (0L until 3000L).map(("A", _)) ++
      (2000L until 5000L).map(("B", _))
    val df = rows.toDF("src", "v")
    val reg = Sketch.hllRegisters(df, Seq("src"), col("v"))
    val singles = Sketch.hllEstimate(reg, Seq("src"))
      .as[(String, Double)].collect().toMap
    // union registers = per-bucket max across the two sources
    val uEst = Sketch.hllEstimate(
      reg.groupBy(col("bucket")).agg(max(col("rho")).as("rho")), Nil)
      .as[Double].head()
    val inter = singles("A") + singles("B") - uEst
    assert(math.abs(singles("A") - 3000.0) / 3000.0 < 0.05)
    assert(math.abs(uEst - 5000.0) / 5000.0 < 0.05)
    assert(math.abs(inter - 1000.0) / 1000.0 < 0.25,
      s"inclusion-exclusion intersection $inter vs 1000")
    // identical sets: union estimate EQUALS the single estimate, so
    // the intersection estimate equals it too (registers are identical)
    val same = (0L until 2000L).map(("C", _)) ++
      (0L until 2000L).map(("D", _))
    val reg2 = Sketch.hllRegisters(same.toDF("src", "v"),
      Seq("src"), col("v"))
    val s2 = Sketch.hllEstimate(reg2, Seq("src"))
      .as[(String, Double)].collect().toMap
    val u2 = Sketch.hllEstimate(
      reg2.groupBy(col("bucket")).agg(max(col("rho")).as("rho")), Nil)
      .as[Double].head()
    assert(u2 == s2("C") && u2 == s2("D"),
      "identical register sets must union to themselves")
  }

  test("kmv: not-full sketches are exact; overlap reports exact " +
    "intersection/union/jaccard below capacity") {
    import org.apache.spark.sql.functions.col
    val a = (1 to 10).map(i => s"v$i").toDF("x")
    val b = (6 to 15).map(i => s"v$i").toDF("x")
    val ra = Sketch.kmvRegisters(a, Nil, col("x"), 64)
    val rb = Sketch.kmvRegisters(b, Nil, col("x"), 64)
    assert(ra.count() == 10 && rb.count() == 10)
    val est = Sketch.kmvEstimate(ra, Nil, 64)
      .as[(Long, Long, Long)].head()
    assert(est._1 == 10L && est._3 == 10L, "below k the estimate is exact")
    val ov = Sketch.kmvOverlap(ra, rb, 64)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(ov == ((10L, 10L, 5L, 5L, 15L, 5000000L / 15L)),
      "exact 5-in-15 overlap; jaccard floors to 333333")
  }

  test("kmv: a full sketch estimates (k-1)*2^60/theta and keeps only " +
    "the k smallest hashes") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Dedup
    val vals = (1 to 40).map(i => s"w$i")
    val df = vals.toDF("x")
    val reg = Sketch.kmvRegisters(df, Nil, col("x"), 8)
    val kept = reg.orderBy(col("pos")).as[(Long, Int)].collect()
    val allH = df.select(Dedup.hashLong(col("x").cast("string")))
      .as[Long].collect().sorted
    assert(kept.map(_._1).toSeq == allH.take(8).toSeq,
      "registers are exactly the 8 smallest distinct hashes")
    val est = Sketch.kmvEstimate(reg, Nil, 8)
      .as[(Long, Long, Long)].head()
    val expected = (BigInt(7) * BigInt(1L << 60) / BigInt(allH(7)))
      .toLong
    assert(est == ((8L, allH(7), expected)))
  }
}
