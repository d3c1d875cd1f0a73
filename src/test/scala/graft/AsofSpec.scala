package graft

import org.apache.spark.sql.functions._
import graft.ops.Asof

class AsofSpec extends SparkSpec {
  import spark.implicits._

  private def trades = Seq(
    (1L, "A", 100L, 10.0),   // before any quote
    (2L, "A", 205L, 11.0),   // between quotes at 200 and 300
    (3L, "A", 300L, 12.0),   // exactly at a quote's timestamp
    (4L, "B", 500L, 20.0),   // other key
    (5L, "C", 400L, 30.0))   // key with no quotes at all
    .toDF("trade_id", "sym", "t", "trade_px")

  private def quotes = Seq(
    ("A", 200L, 1.0), ("A", 300L, 2.0), ("A", 310L, 3.0),
    ("B", 100L, 5.0), ("B", 499L, 6.0))
    .toDF("sym", "t", "quote_px")

  test("backward: latest quote at or before each trade; unmatched stay null") {
    val got = Asof.joinAsOf(trades, quotes, Seq("sym"), "t", "t")
      .select($"trade_id", $"quote_px").as[(Long, Option[Double])]
      .collect().toMap
    assert(got == Map(
      1L -> None,        // no quote yet
      2L -> Some(1.0),   // quote@200 wins over later ones
      3L -> Some(2.0),   // exact-timestamp quote matches
      4L -> Some(6.0),
      5L -> None))       // key never quoted
  }

  test("backward tolerance 0 keeps only exact-timestamp matches") {
    val got = Asof.joinAsOf(trades, quotes, Seq("sym"), "t", "t",
        tolerance = Some(lit(0L)))
      .select($"trade_id", $"quote_px").as[(Long, Option[Double])]
      .collect().toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> Some(2.0),
      4L -> None, 5L -> None))
  }

  test("backward tolerance keeps matches exactly at the bound") {
    val got = Asof.joinAsOf(trades, quotes, Seq("sym"), "t", "t",
        tolerance = Some(lit(5L)))
      .select($"trade_id", $"quote_px").as[(Long, Option[Double])]
      .collect().toMap
    assert(got == Map(
      1L -> None,
      2L -> Some(1.0),   // 205 - 200 = 5 = tolerance: kept (inclusive)
      3L -> Some(2.0),   // exact match, age 0
      4L -> Some(6.0),   // 500 - 499 = 1
      5L -> None))
  }

  test("left columns and key columns survive untouched") {
    val out = Asof.joinAsOf(trades, quotes, Seq("sym"), "t", "t")
    assert(out.columns.toSeq == Seq("sym", "trade_id", "t", "trade_px", "quote_px"))
    val row = out.filter($"trade_id" === 2L)
      .select($"sym", $"t", $"trade_px").as[(String, Long, Double)].head()
    assert(row == ("A", 205L, 11.0))
  }
}
