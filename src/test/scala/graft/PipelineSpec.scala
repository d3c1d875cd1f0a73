package graft

import org.apache.spark.sql.functions._
import graft.ops.{Frames, Lifecycle, Pipeline}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: java.io.File, name: String, rows: Seq[String]): Unit = {
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    try { w.println("date,open,high,low,close,volume"); rows.foreach(w.println) }
    finally w.close()
  }

  test("ingestCsvDir derives the symbol from the file name") {
    withTempDir { dir =>
      writeCsv(dir, "aapl_day.csv", Seq("2024-01-02,10,12,9,11,100"))
      writeCsv(dir, "msft_day.csv", Seq("2024-01-02,20,22,19,21,200"))
      val got = Pipeline.ingestCsvDir(spark, dir.getAbsolutePath)
        .select($"symbol", $"close").as[(String, Double)].collect().toSet
      assert(got == Set(("AAPL", 11.0), ("MSFT", 21.0)))
    }
  }

  test("dailySlice end-to-end: resample + returns + atomic rejection") {
    withTempDir { dir =>
      // GOOD: two full weeks (Mon-Fri) of bars
      val week1 = Seq(
        "2024-01-01,10,12,9,11,100", "2024-01-02,11,13,10,12,100",
        "2024-01-03,12,14,11,13,100", "2024-01-04,13,15,12,14,100",
        "2024-01-05,14,16,13,15,100")
      val week2 = Seq(
        "2024-01-08,15,17,14,16,100", "2024-01-09,16,18,15,17,100",
        "2024-01-10,17,19,16,18,100", "2024-01-11,18,20,17,19,100",
        "2024-01-12,19,21,18,20,100")
      writeCsv(dir, "good_day.csv", week1 ++ week2)
      // BADPRICE: a non-positive close -> invalid_price
      writeCsv(dir, "badprice_day.csv",
        Seq("2024-01-02,10,12,9,-1,100", "2024-01-03,10,12,9,11,100"))
      // NEGMID: positive closes around ONE negative close -> the whole
      // symbol is rejected invalid_price, not just its bad day
      writeCsv(dir, "negmid_day.csv", Seq("2024-01-02,10,12,9,11,100",
        "2024-01-03,10,12,9,-2,100", "2024-01-04,10,12,9,12,100"))
      // GAPPY: a 20-day hole after the window start -> gap_20d
      writeCsv(dir, "gappy_day.csv",
        Seq("2024-01-02,10,12,9,11,100", "2024-01-22,10,12,9,11,100"))

      // (records read from files, records shuffled) of each shuffling stage
      val shuffles = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val out = listening(new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val m = e.stageInfo.taskMetrics
          if (m.shuffleWriteMetrics.recordsWritten > 0)
            shuffles.add((m.inputMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten)): Unit
        }
      }) {
        Pipeline.dailySlice(Pipeline.ingestCsvDir(spark, dir.getAbsolutePath))
      }

      val rej = out.rejections.as[(String, String)].collect().toMap
      assert(rej == Map("BADPRICE" -> "invalid_price", "NEGMID" -> "invalid_price",
        "GAPPY" -> "gap_20d"))

      // rejected symbols appear in NO period output
      for (df <- Seq(out.weekly, out.monthly, out.yearly))
        assert(df.filter($"symbol" =!= "GOOD").count() == 0)

      val wk = out.weekly.orderBy($"period")
        .select($"period".cast("string"), $"open", $"high", $"low", $"close",
          $"volume", $"return")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      assert(wk.toSeq == Seq(
        ("2024-01-05", 10.0, 16.0, 9.0, 15.0, 500L, None),
        ("2024-01-12", 15.0, 21.0, 14.0, 20.0, 500L, Some(0.3333))))

      val mo = out.monthly.select($"period".cast("string"), $"open", $"close")
        .as[(String, Double, Double)].collect().toSeq
      assert(mo == Seq(("2024-01-31", 10.0, 20.0)))

      val sm = out.summary
        .select($"n_symbols", $"total_rows", $"n_rejected")
        .as[(Long, Long, Long)].head()
      assert(sm == ((1L, 10L, 3L)))

      // the slice is materialized once, through exactly one shuffle of
      // the bars (the stage that scans the drop); the only other shuffle
      // carries the one-row summary aggregate's partials, at most one per
      // partition; and no output scans a file
      val (scanned, partials) = shuffles.toArray(Array.empty[(Long, Long)]).partition(_._1 > 0)
      assert(scanned.length == 1 && partials.length == 1 && partials.head._2 <= 4,
        shuffles)
      def scans(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collectLeaves()
          .count(_.isInstanceOf[LogicalRelation])
      for (df <- Seq(out.rejections, out.weekly, out.monthly, out.yearly, out.summary))
        assert(scans(df) == 0, df.queryExecution.optimizedPlan)
      Frames.release(out.held)
    }
  }

  test("dailySlice: zero close, gap across gapSince, duplicated date, multi-gate symbols") {
    withTempDir { dir =>
      writeCsv(dir, "good_day.csv", Seq(
        "2024-01-04,10,12,9,11,100", "2024-01-05,11,13,10,12,100",
        "2024-01-08,12,14,11,13,100", "2024-01-09,1,1,1,,100",
        "2024-01-12,13,15,12,14,100"))
      // the only gap is from an out-of-window date to the first in-window
      // one: V2 sees no predecessor there, so the symbol is valid
      writeCsv(dir, "straddle_day.csv", Seq(
        "2023-12-11,20,22,19,21,10", "2024-01-10,21,23,20,22,10",
        "2024-01-11,22,24,21,23,10"))
      writeCsv(dir, "dup_day.csv", Seq(
        "2024-01-08,30,32,29,31,5", "2024-01-09,31,33,30,32,5",
        "2024-01-09,31,33,30,32,5", "2024-01-10,32,34,31,33,5"))
      // a zero week close: resampling this symbol would divide by it
      writeCsv(dir, "zero_day.csv", Seq(
        "2024-01-05,10,12,9,0,100", "2024-01-08,10,12,9,11,100"))
      writeCsv(dir, "multi_day.csv", Seq(
        "2024-01-02,10,12,9,-1,100", "2024-01-22,10,12,9,11,100"))
      writeCsv(dir, "gapohlc_day.csv", Seq(
        "2024-01-02,10,12,9,50,100", "2024-01-22,10,12,9,11,100"))
      writeCsv(dir, "ohlc_day.csv", Seq(
        "2024-01-03,10,12,9,11,100", "2024-01-04,10,12,9,99,100"))

      val in = Pipeline.ingestCsvDir(spark, dir.getAbsolutePath)
      val out = Pipeline.dailySlice(in)

      assert(out.rejections.as[(String, String)].collect().toMap == Map(
        "ZERO" -> "invalid_price", "MULTI" -> "invalid_price",
        "GAPOHLC" -> "gap_20d", "OHLC" -> "ohlc_logic_error"))

      // the valid day bars: the non-null-OHLC bars of the symbols no gate
      // rejects, DUP's repeated 2024-01-09 bar once
      val expected = Reference.excludeRejected(
        in.na.drop(Seq("open", "high", "low", "close")), $"symbol", out.rejections)
      assert(out.validBars.columns.toSeq == in.columns.toSeq)
      assert(out.validBars.collect().toSeq.sortBy(_.toString) ==
        expected.distinct().collect().toSeq.sortBy(_.toString))
      assert(out.dates.map(_.toString).toSet ==
        expected.select($"date".cast("string")).as[String].collect().toSet)

      def bars(df: org.apache.spark.sql.DataFrame) =
        df.select($"symbol", $"period".cast("string"), $"open", $"high", $"low",
            $"close", $"volume", $"return")
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6),
            if (r.isNullAt(7)) None else Some(r.getDouble(7)))).toSet
      assert(bars(out.weekly) == Set(
        ("GOOD", "2024-01-05", 10.0, 13.0, 9.0, 12.0, 200L, None),
        ("GOOD", "2024-01-12", 12.0, 15.0, 11.0, 14.0, 200L, Some(0.1667)),
        ("STRADDLE", "2023-12-15", 20.0, 22.0, 19.0, 21.0, 10L, None),
        ("STRADDLE", "2024-01-12", 21.0, 24.0, 20.0, 23.0, 20L, Some(0.0952)),
        ("DUP", "2024-01-12", 30.0, 34.0, 29.0, 33.0, 20L, None)))
      assert(bars(out.monthly) == Set(
        ("GOOD", "2024-01-31", 10.0, 15.0, 9.0, 14.0, 400L, None),
        ("STRADDLE", "2023-12-31", 20.0, 22.0, 19.0, 21.0, 10L, None),
        ("STRADDLE", "2024-01-31", 21.0, 24.0, 20.0, 23.0, 20L, Some(0.0952)),
        ("DUP", "2024-01-31", 30.0, 34.0, 29.0, 33.0, 20L, None)))
      assert(bars(out.yearly) == Set(
        ("GOOD", "2024-01-01", 10.0, 15.0, 9.0, 14.0, 400L, None),
        ("STRADDLE", "2023-01-01", 20.0, 22.0, 19.0, 21.0, 10L, None),
        ("STRADDLE", "2024-01-01", 21.0, 24.0, 20.0, 23.0, 20L, Some(0.0952)),
        ("DUP", "2024-01-01", 30.0, 34.0, 29.0, 33.0, 20L, None)))

      // valid bars = all but the price and gap rejects' (OHLC's count)
      val sm = out.summary
        .select($"n_symbols", $"end_date".cast("string"), $"total_rows", $"n_rejected")
        .as[(Long, String, Long, Long)].head()
      assert(sm == ((4L, "2024-01-12", 13L, 4L)))
      Frames.release(out.held)
    }
  }

  test("multi-gate failure resolves to the reference's first-gate reason, every run") {
    withTempDir { dir =>
      // BOTH gates fail: a non-positive close AND a 20-day hole. The
      // reference checks price before continuity (downloader_wmy.py:98-107)
      // so the reported reason must be invalid_price — deterministically,
      // not whichever union branch an unordered first() saw.
      writeCsv(dir, "both_day.csv",
        Seq("2024-01-02,10,12,9,-1,100", "2024-01-22,10,12,9,11,100"))
      val reasons = (1 to 5).map { _ =>
        Pipeline.dailySlice(Pipeline.ingestCsvDir(spark, dir.getAbsolutePath))
          .rejections.as[(String, String)].collect().toSeq
      }
      assert(reasons.forall(_ == Seq(("BOTH", "invalid_price"))), reasons)
    }
  }

  test("dailySlice rejects OHLC-invariant violations on resampled bars") {
    withTempDir { dir =>
      // close of the last day exceeds every high -> weekly close > max(high)
      writeCsv(dir, "weird_day.csv",
        Seq("2024-01-02,10,12,9,11,100", "2024-01-03,10,12,9,99,100"))
      val out = Pipeline.dailySlice(
        Pipeline.ingestCsvDir(spark, dir.getAbsolutePath))
      // close 99 > high 12 on the resampled week -> ohlc_logic_error
      assert(out.rejections.as[(String, String)].collect().toSet ==
        Set(("WEIRD", "ohlc_logic_error")))
      assert(out.weekly.count() == 0 && out.monthly.count() == 0)
    }
  }

  test("writeSlice persists periods and an audit row") {
    withTempDir { dir =>
      writeCsv(dir, "ok_day.csv",
        Seq("2024-01-02,10,12,9,11,100", "2024-01-03,10,12,9,12,100"))
      val root = dir.getAbsolutePath + "/wh"
      val out = Pipeline.dailySlice(
        Pipeline.ingestCsvDir(spark, dir.getAbsolutePath))
      Pipeline.writeSlice(out, root, "test")
      assert(spark.read.parquet(s"$root/weekly").count() == 1)
      val audit = spark.read.parquet(s"$root/audit")
        .select($"market_id", $"success_count", $"skip_count", $"success_rate")
        .as[(String, Long, Long, Double)].head()
      assert(audit == (("test", 1L, 0L, 100.0)))
    }
  }

  test("reconcileSchema adds missing typed columns idempotently") {
    val target = StructType(Seq(
      StructField("symbol", StringType), StructField("name", StringType),
      StructField("sector", StringType), StructField("market", StringType)))
    val legacy = Seq(("A", "Acme")).toDF("symbol", "name")
    val once = Pipeline.reconcileSchema(legacy, target)
    assert(once.schema.fieldNames.toSeq ==
      Seq("symbol", "name", "sector", "market"))
    val twice = Pipeline.reconcileSchema(once, target)
    assert(twice.schema == once.schema && twice.count() == 1)
    assert(once.filter($"sector".isNull && $"market".isNull).count() == 1)
  }

  test("the prices store keeps one parquet file per date partition") {
    // after a backfill read from several files and input splits, and
    // again after a daily merge into the stored dates
    withTempDir { dir =>
      val days = (0 until 20).map(java.time.LocalDate.parse("2024-01-01").plusDays(_))
      val backfill = new java.io.File(dir, "backfill"); backfill.mkdirs()
      val daily = new java.io.File(dir, "daily"); daily.mkdirs()
      for (sym <- Seq("aaa", "bbb", "ccc", "ddd")) {
        writeCsv(backfill, s"${sym}_day.csv", days.map(d => s"$d,10,12,9,11,100"))
        // re-sends the last two days with revised closes, and one new day
        writeCsv(daily, s"${sym}_day.csv", (days.takeRight(2) :+ days.last.plusDays(1))
          .map(d => s"$d,10,12,9,10.5,100"))
      }
      val cfg = Lifecycle.MarketConfig("tw", backfill.getAbsolutePath,
        dir.getAbsolutePath + "/wh", 4, asOf = "2024-01-20")
      val prices = new java.io.File(Lifecycle.pricesPath(cfg))
      def filesPerDate(): Map[String, Int] =
        prices.listFiles().filter(_.getName.startsWith("date=")).map(d =>
          d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
      val key = "spark.sql.files.maxPartitionBytes"
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, "256")
      try {
        // each ~650-byte file is read as three splits
        assert(Pipeline.ingestCsvDir(spark, backfill.getAbsolutePath)
          .rdd.getNumPartitions >= 8)
        Lifecycle.runMarket(spark, cfg)
        assert(filesPerDate() == days.map(d => s"date=$d" -> 1).toMap)
        val (day, _) = Lifecycle.runMarket(spark,
          cfg.copy(csvDir = daily.getAbsolutePath, asOf = "2024-01-21"))
        assert(filesPerDate() == (days :+ days.last.plusDays(1)).map(d => s"date=$d" -> 1).toMap)
        assert(day.totalRows == 4 * 21)
        assert(spark.read.parquet(prices.getPath).filter($"close" === 10.5).count() == 4 * 3)
      } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
