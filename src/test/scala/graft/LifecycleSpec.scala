package graft

import graft.ops.{Lifecycle, Pipeline, Report}
import graft.ops.Lifecycle.MarketConfig
import org.apache.spark.sql.functions.{lit, raise_error, when}

import scala.jdk.CollectionConverters._

class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def writeCsv(dir: java.io.File, name: String, rows: Seq[String]): Unit = {
    dir.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, name))
    try { w.println("date,open,high,low,close,volume"); rows.foreach(w.println) }
    finally w.close()
  }

  test("two markets through the full loop: ingest, merge, periods, one report") {
    withTempDir { tmp =>
      val twDir = new java.io.File(tmp, "tw"); val hkDir = new java.io.File(tmp, "hk")
      writeCsv(twDir, "2330_day.csv", Seq(
        "2024-01-02,10,12,9,11,100", "2024-01-03,11,13,10,12,100",
        "2024-01-04,12,14,11,13,100"))
      writeCsv(twDir, "badp_day.csv", Seq("2024-01-02,10,12,9,-5,100"))
      writeCsv(hkDir, "00700_day.csv", Seq(
        "2024-01-02,300,310,295,305,1000", "2024-01-03,305,312,300,308,1000"))
      val root = tmp.getAbsolutePath + "/wh"
      val cfgs = Seq(
        MarketConfig("tw", twDir.getAbsolutePath, root, expectedMinSymbols = 1,
          asOf = "2024-01-05"),
        MarketConfig("hk", hkDir.getAbsolutePath, root, expectedMinSymbols = 2,
          asOf = "2024-01-05"))

      val (summaries, report) = Lifecycle.run(spark, cfgs)

      val tw = summaries.find(_.market == "TW").get
      assert(tw.ranSync && tw.success == 1 && tw.totalRows == 3 &&
        tw.nRejected == 1 && tw.status == "OK" && tw.endDate == "2024-01-04")
      val hk = summaries.find(_.market == "HK").get
      assert(hk.ranSync && hk.success == 1 && hk.coverage == 50.0 &&
        hk.status == "LOW")

      // period outputs exist per market; rejected symbols excluded
      val weekly = spark.read.parquet(s"$root/tw/weekly")
      assert(weekly.filter($"symbol" === "BADP").count() == 0)
      assert(weekly.filter($"symbol" === "2330").count() == 1)
      assert(spark.read.parquet(s"$root/hk/weekly").count() == 1)

      // the fleet report carries both markets and the TW rejection
      assert(report.contains("market=TW") && report.contains("market=HK"))
      assert(report.contains("TW:BADP:invalid_price"))

      // markets run side by side give what one market at a time gives,
      // in config order (the report's timestamp header aside)
      val seqCfgs = cfgs.map(_.copy(warehouseRoot = tmp.getAbsolutePath + "/seq"))
      val seq = seqCfgs.map(c => (c, Lifecycle.runMarket(spark, c)))
      assert(summaries == seq.map(_._2._1))
      val seqReport = Report.renderReport(seq.map(_._2._1).toDF(),
        seq.map { case (c, (_, rej)) =>
          rej.select(lit(c.marketId.toUpperCase).as("market"), $"key", $"reason")
        }.reduce(_.unionByName(_)))
      assert(report.linesIterator.drop(1).toSeq == seqReport.linesIterator.drop(1).toSeq)
    }
  }

  test("a failing market is rethrown after the other markets finish; " +
      "no lifecycle thread is left") {
    withTempDir { tmp =>
      val badDir = new java.io.File(tmp, "bad"); val okDir = new java.io.File(tmp, "ok")
      writeCsv(badDir, "2330_day.csv", Seq("2024-01-02,10,12,9,11,100"))
      writeCsv(okDir, "aapl_day.csv", Seq(
        "2024-01-02,10,12,9,11,100", "2024-01-03,11,13,10,12,100",
        "2024-01-04,12,14,11,13,100"))
      val root = tmp.getAbsolutePath + "/wh"
      val bad = MarketConfig("bad", badDir.getAbsolutePath, root, 1, asOf = "2024-01-02")
      Lifecycle.runMarket(spark, bad)
      // corrupt the bad market's store: an unreadable footer, not a missing path
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      files(new java.io.File(Lifecycle.pricesPath(bad)))
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val w = new java.io.FileOutputStream(f); w.write(Array.fill(8)(0x00.toByte)); w.close()
        }
      val ok = MarketConfig("ok", okDir.getAbsolutePath, root, 1, asOf = "2024-01-05")

      intercept[Exception](Lifecycle.run(spark, Seq(bad.copy(asOf = "2024-01-05"), ok)))

      // the healthy market finished its store, all three periods and its audit row
      assert(spark.read.parquet(Lifecycle.pricesPath(ok)).count() == 3)
      for (p <- Seq("weekly", "monthly", "yearly"))
        assert(spark.read.parquet(s"$root/ok/$p").count() == 1, p)
      assert(spark.read.parquet(s"$root/ok/audit").count() == 1)
      val left = Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.getName.startsWith("lifecycle-") && t.isAlive)
      assert(left.isEmpty, left.map(_.getName))
    }
  }

  test("Lifecycle.run leaves no persisted RDD behind, also when a market throws") {
    withTempDir { tmp =>
      val badDir = new java.io.File(tmp, "bad"); val okDir = new java.io.File(tmp, "ok")
      writeCsv(badDir, "2330_day.csv", Seq("2024-01-02,10,12,9,11,100"))
      writeCsv(okDir, "aapl_day.csv", Seq(
        "2024-01-02,10,12,9,11,100", "2024-01-03,11,13,10,12,100"))
      writeCsv(okDir, "badp_day.csv", Seq("2024-01-02,10,12,9,-5,100"))
      val root = tmp.getAbsolutePath + "/wh"
      val bad = MarketConfig("bad", badDir.getAbsolutePath, root, 1, asOf = "2024-01-02")
      val ok = MarketConfig("ok", okDir.getAbsolutePath, root, 1, asOf = "2024-01-04")
      // by the persistent-RDD map and by the block manager master's blocks
      def live(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet ++
        org.apache.spark.RddBlocks.live(spark.sparkContext)
      def leaked(before: Set[Int]): Set[Int] = live() -- before

      val before = live()
      Lifecycle.run(spark, Seq(bad, ok))
      assert(leaked(before).isEmpty)

      // the bad market throws in its merge, after its slice is materialized
      new java.io.File(Lifecycle.pricesPath(bad), "date=2024-01-02").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val w = new java.io.FileOutputStream(f); w.write(Array.fill(8)(0x00.toByte)); w.close()
        }
      intercept[Exception](Lifecycle.run(spark,
        Seq(bad.copy(asOf = "2024-01-05"), ok.copy(asOf = "2024-01-05"))))
      assert(leaked(before).isEmpty)

      // a slice that throws while it materializes leaves nothing persisted
      val boom = Pipeline.ingestCsvDir(spark, okDir.getAbsolutePath)
        .withColumn("close", when($"close" > 11, raise_error(lit("bad bar")))
          .otherwise($"close"))
      intercept[Exception](Pipeline.dailySlice(boom))
      assert(leaked(before).isEmpty)
    }
  }

  test("each market-day's CSV drop is read by one stage only") {
    withTempDir { tmp =>
      val dir = new java.io.File(tmp, "csv")
      writeCsv(dir, "2330_day.csv", Seq(
        "2024-01-02,10,12,9,11,100", "2024-01-03,11,13,10,12,100"))
      writeCsv(dir, "badp_day.csv", Seq("2024-01-02,10,12,9,-5,100"))
      val cfg = MarketConfig("tw", dir.getAbsolutePath, tmp.getAbsolutePath + "/wh", 1,
        asOf = "2024-01-03")
      // per run: the stages whose RDDs include a CSV file scan
      def csvStages(run: => Any): Int = {
        val n = new java.util.concurrent.atomic.AtomicInteger
        listening(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            if (e.stageInfo.rddInfos.exists(_.scope.exists(_.name.startsWith("Scan csv"))))
              n.incrementAndGet(): Unit
        })(run)
        n.get
      }
      // a first write, then a merge into the stored dates
      assert(csvStages(Lifecycle.runMarket(spark, cfg)) == 1)
      assert(csvStages(Lifecycle.runMarket(spark, cfg.copy(asOf = "2024-01-04"))) == 1)
      assert(spark.read.parquet(Lifecycle.pricesPath(cfg)).count() == 2)
    }
  }

  test("freshness gate reads the partition listing: the null-date directory " +
      "is skipped and no Spark job runs") {
    withTempDir { tmp =>
      val cfg = MarketConfig("tw", tmp.getAbsolutePath + "/csv",
        tmp.getAbsolutePath + "/wh", 1, asOf = "2024-01-03")
      val prices = Lifecycle.pricesPath(cfg)
      val nullOnly = cfg.copy(marketId = "hk")
      Seq[(String, java.sql.Date)](("A", java.sql.Date.valueOf("2024-01-03")), ("B", null))
        .toDF("symbol", "date").write.partitionBy("date").parquet(prices)
      Seq[(String, java.sql.Date)](("C", null))
        .toDF("symbol", "date").write.partitionBy("date").parquet(Lifecycle.pricesPath(nullOnly))
      assert(new java.io.File(prices, "date=__HIVE_DEFAULT_PARTITION__").isDirectory)

      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val (fresh, stale, absent, undated) =
        listening(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet(): Unit
        }) {
          (Lifecycle.needsSync(spark, cfg),
            Lifecycle.needsSync(spark, cfg.copy(asOf = "2024-01-04")),
            Lifecycle.needsSync(spark, cfg.copy(marketId = "us")),
            Lifecycle.needsSync(spark, nullOnly))
        }
      // the newest dated partition is 2024-01-03; absent and undated stores run
      assert(!fresh && stale && absent && undated)
      assert(jobs.get == 0)
    }
  }

  test("backfill window: startDate/endDate clamp the ingest scan (hot vs cold)") {
    withTempDir { tmp =>
      val dir = new java.io.File(tmp, "csv")
      writeCsv(dir, "2330_day.csv", Seq(
        "2022-12-28,8,9,7,8.5,100", // pre-hot-epoch history
        "2023-01-03,9,10,8,9.5,100",
        "2024-01-02,10,12,9,11,100",
        "2024-01-03,11,13,10,12,100"))
      def cfg(root: String, start: Option[String], end: Option[String]) =
        MarketConfig("tw", dir.getAbsolutePath, root, 1, asOf = "2024-01-05",
          startDate = start, endDate = end)

      // hot run: scoped to the hot epoch — pre-2023 rows never ingested
      val rootHot = tmp.getAbsolutePath + "/hot"
      val (hot, _) = Lifecycle.runMarket(spark,
        cfg(rootHot, Some("2023-01-01"), None))
      assert(hot.ranSync && hot.totalRows == 3)
      val hotDates = spark.read.parquet(s"$rootHot/tw/prices")
        .select($"date".cast("string")).as[String].collect().toSet
      assert(hotDates == Set("2023-01-03", "2024-01-02", "2024-01-03"))

      // cold backfill: unbounded window picks up the full history
      val rootCold = tmp.getAbsolutePath + "/cold"
      val (cold, _) = Lifecycle.runMarket(spark, cfg(rootCold, None, None))
      assert(cold.totalRows == 4)

      // a bounded historical slice clamps both ends
      val rootSlice = tmp.getAbsolutePath + "/slice"
      val (slice, _) = Lifecycle.runMarket(spark,
        cfg(rootSlice, Some("2023-01-01"), Some("2023-12-31")))
      val sliceDates = spark.read.parquet(s"$rootSlice/tw/prices")
        .select($"date".cast("string")).as[String].collect().toSet
      assert(slice.totalRows == 1 && sliceDates == Set("2023-01-03"))
    }
  }

  test("snapshot-backed lifecycle: atomic merges, versioned store, same summaries") {
    withTempDir { tmp =>
      val dir = new java.io.File(tmp, "csv")
      writeCsv(dir, "2330_day.csv", Seq(
        "2024-01-02,10,12,9,11,100", "2024-01-03,11,13,10,12,100"))
      val root = tmp.getAbsolutePath + "/wh"
      def cfg(asOf: String) = MarketConfig("tw", dir.getAbsolutePath, root, 1,
        asOf, useSnapshot = true)

      val (first, _) = Lifecycle.runMarket(spark, cfg("2024-01-03"))
      assert(first.ranSync && first.totalRows == 2 && first.success == 1)
      val prices = Lifecycle.pricesPath(cfg("2024-01-03"))
      assert(graft.sources.Snapshot.latestVersion(prices).contains(1L))

      // up-to-date -> gate skips, no new snapshot version
      val (second, _) = Lifecycle.runMarket(spark, cfg("2024-01-03"))
      assert(!second.ranSync)
      assert(graft.sources.Snapshot.latestVersion(prices).contains(1L))

      // newer asOf -> idempotent re-merge publishes version 2, same rows
      val (third, _) = Lifecycle.runMarket(spark, cfg("2024-01-05"))
      assert(third.ranSync && third.totalRows == 2)
      assert(graft.sources.Snapshot.latestVersion(prices).contains(2L))
    }
  }

  test("nRejected counts the returned rejection frame; a gated re-run " +
      "reports no sync and no rejections") {
    withTempDir { tmp =>
      val dir = new java.io.File(tmp, "csv")
      writeCsv(dir, "2330_day.csv", Seq(
        "2024-01-02,10,12,9,11,100", "2024-01-03,11,13,10,12,100"))
      writeCsv(dir, "badp_day.csv", Seq("2024-01-02,10,12,9,-5,100"))
      val cfg = MarketConfig("tw", dir.getAbsolutePath,
        tmp.getAbsolutePath + "/wh", 1, asOf = "2024-01-03")

      val (first, rej) = Lifecycle.runMarket(spark, cfg)
      assert(first.ranSync && first.nRejected == 1)
      assert(rej.count() == first.nRejected)

      val (second, rej2) = Lifecycle.runMarket(spark, cfg)
      assert(!second.ranSync && second.nRejected == 0 && rej2.count() == 0)
      assert(second.totalRows == first.totalRows)
    }
  }

  test("freshness gate: an up-to-date store skips sync; a newer asOf re-runs idempotently") {
    withTempDir { tmp =>
      val dir = new java.io.File(tmp, "csv")
      writeCsv(dir, "aapl_day.csv", Seq(
        "2024-01-02,10,12,9,11,100", "2024-01-03,11,13,10,12,100"))
      val root = tmp.getAbsolutePath + "/wh"
      def cfg(asOf: String) = MarketConfig("us", dir.getAbsolutePath, root, 1, asOf)

      val (first, _) = Lifecycle.runMarket(spark, cfg("2024-01-03"))
      assert(first.ranSync && first.totalRows == 2)

      // store max date == asOf -> no sync, same summary
      val (second, _) = Lifecycle.runMarket(spark, cfg("2024-01-03"))
      assert(!second.ranSync && second.totalRows == 2)

      // later asOf -> sync runs again; the merge is idempotent (same rows)
      val (third, _) = Lifecycle.runMarket(spark, cfg("2024-01-05"))
      assert(third.ranSync && third.totalRows == 2 && third.success == 1)
    }
  }
}
