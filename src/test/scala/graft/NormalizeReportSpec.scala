package graft

import org.apache.spark.sql.functions._
import graft.ops.{Normalize, Report}

class NormalizeReportSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): String =
    Seq(1).toDF("x").select(c.cast("string")).as[String].head()

  test("code canonicalization column pipelines") {
    assert(one(Normalize.zfill(lit(42), 6)) == "000042")
    assert(one(Normalize.digitsOnly(lit("a1b2-3"))) == "123")
    assert(one(Normalize.excelIntFix(lit("7203.0"))) == "7203")
    assert(one(Normalize.canonSymbol(lit("  aapl "))) == "AAPL")
    assert(one(Normalize.hkAltCode(lit("00700"))) == "700")
    assert(one(Normalize.cnRoute(lit("600519"))) == "600519.SS")
    assert(one(Normalize.cnRoute(lit("000001"))) == "000001.SZ")
  }

  test("validity predicates") {
    val checks = Seq(
      ("2330", true), ("23", false), ("A1B2C", true), ("60-1", false)
    ).toDF("code", "want")
    assert(checks.filter(Normalize.validSymbol($"code") =!= $"want").count() == 0)
    assert(one(Normalize.isDerivativeName(lit("Acme ETF Trust"))) == "true")
    assert(one(Normalize.isDerivativeName(lit("Acme Industries"))) == "false")
    assert(one(Normalize.normalizeSector(lit(" N/A "))) == "Unknown")
    assert(one(Normalize.normalizeSector(lit("Tech"))) == "Tech")
  }

  test("coverage SLA boundary: exactly 80% is OK") {
    val counts = Seq(("m1", 8L), ("m2", 7L)).toDF("market", "actual")
    val r = Report.coverage(counts, $"actual", lit(10))
      .select($"market", $"status").as[(String, String)].collect().toSet
    assert(r == Set(("m1", "OK"), ("m2", "LOW")))
  }

  test("renderReport truncates the fail list with an 'and N more' suffix") {
    val summary = Seq(("tw", 3L, java.sql.Date.valueOf("2024-03-01")))
      .toDF("market", "success", "end_date")
    val failures = (1 to 14).map(i => (s"SYM$i", "invalid_price"))
      .toDF("key", "reason")
    val text = Report.renderReport(summary, failures)
    assert(text.contains("market=tw success=3 end_date=2024-03-01"))
    assert(text.contains("...and 4 more"))
    assert(text.linesIterator.count(_.contains("invalid_price")) == 10)
    val empty = Report.renderReport(summary, failures.filter($"key" === "nope"))
    assert(empty.contains("(no failures)"))
  }

  test("renderReport counts the failures only past its sample; the stamp is Taipei time") {
    val summary = Seq(("tw", 3L)).toDF("market", "success")
    def fails(n: Int) = (1 to n).map(i => (s"SYM$i", "invalid_price")).toDF("key", "reason")
    val exact = Report.renderReport(summary, fails(10))
    assert(exact.linesIterator.count(_.contains("invalid_price")) == 10)
    assert(!exact.contains("...and"))
    assert(Report.renderReport(summary, fails(11)).contains("...and 1 more"))
    val stamp = """Stock Warehouse Report \((\d{4}-\d\d-\d\d \d\d:\d\d:\d\d) UTC\+8\)""".r
    val at = exact.linesIterator.next() match {
      case stamp(t) => java.time.LocalDateTime.parse(t.replace(' ', 'T'))
    }
    val now = java.time.LocalDateTime.now(java.time.ZoneId.of("Asia/Taipei"))
    assert(math.abs(java.time.Duration.between(at, now).getSeconds) < 120, (at, now))
  }

  test("warehouse schemas expose the reference data model") {
    import graft.Schemas
    assert(Schemas.stockPrices.fieldNames.take(7).toSeq ==
      Seq("date", "symbol", "open", "high", "low", "close", "volume"))
    assert(Schemas.stockPrices("volume").dataType.typeName == "long")
    assert(Schemas.stockPrices("date").dataType.typeName == "date")
    assert(Schemas.periodBars.fieldNames.contains("return"))
    // typed face round-trips through an Encoder
    val ds = Seq(Schemas.PriceBar(java.sql.Date.valueOf("2024-01-02"),
      "2330.TW", 1, 2, 0.5, 1.5, 100L)).toDS()
    assert(ds.schema.fieldNames.toSeq ==
      Schemas.stockPrices.fieldNames.take(7).toSeq)
  }

  test("P5: date column picked by name, else first column positionally") {
    val named = Seq(("x", "2024-01-02")).toDF("sym", "date")
    assert(Normalize.pickDateColumn(named) == "date")
    val positional = Seq(("2024-01-02 00:00:00", "x")).toDF("Datetime", "sym")
    assert(Normalize.pickDateColumn(positional) == "Datetime")
    val got = Normalize.withNormalizedDate(positional)
      .select($"date".cast("string")).as[String].head()
    assert(got == "2024-01-02")
  }

  test("P7/P13/P16: category skip, JP common stock, header cleanup") {
    assert(Normalize.skipCategory("tw_Warrant_call"))
    assert(!Normalize.skipCategory("listed"))
    val codes = Seq("7203", "135A", "72030", "720").toDF("c")
      .filter(Normalize.jpCommonStock($"c")).as[String].collect().toSeq
    assert(codes == Seq("7203"))
    val cleaned = Seq(" Stock Code ").toDF("h")
      .select(Normalize.cleanHeaderCell($"h")).as[String].head()
    assert(cleaned == "Stock Code")
  }

  test("staleKeys flags symbols behind the global max date") {
    val df = Seq(("A", "2024-03-01"), ("B", "2023-12-01"), ("B", "2023-11-01"))
      .toDF("symbol", "s").select($"symbol", to_date($"s").as("d"))
    val r = Report.staleKeys(df, $"symbol", $"d", 60)
      .select($"key").as[String].collect().toSeq
    assert(r == Seq("B"))
  }
}
