package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, StructField, StructType}

/** The per-market orchestration loop — reference main.py:152-201: for
  * each market, restore-or-init the store, gate on freshness, ingest +
  * merge, resample the period outputs, summarize, and render one report
  * across all markets.
  *
  * Engine posture: one market reads a directory of pre-fetched day-bar
  * CSVs (the network fetch stays outside the engine; see ListAdapters).
  * The plain-parquet freshness gate reads the store's `date=` directory
  * names, not its rows, so it launches no Spark job. `Pipeline.dailySlice`
  * scans and shuffles the drop once and holds one materialization
  * (period bars, the valid day bars and one verdict row per symbol)
  * that its one driver action, the period writes and the merge read;
  * that action returns the rejection set (a local relation of at most
  * one row per symbol, which the report reuses), the valid bars'
  * distinct dates and the summary counts. So one stage reads each
  * day's CSV drop. The merge reads and rewrites only those dates, one
  * file per date. The store summary reads the store with the two
  * columns it needs declared, so no job infers its schema.
  * Markets run side by side on one shared session, one thread each.
  * Everything here reuses the operator library —
  * `Pipeline.dailySlice` (validate/resample), `Merge.upsertIntoPath`
  * (K1 partition-scoped MERGE), `Report` (A2-A6 + K7) — so the lifecycle
  * adds sequencing, not new semantics.
  */
object Lifecycle {

  /** One market's run parameters (module_map + EXPECTED_MIN_STOCKS,
    * main.py:142-151; FORCE date range main.py:163-168). `asOf` is the
    * injected "today" so runs are deterministic and testable.
    *
    * `startDate`/`endDate` (inclusive, ISO) scope the ingest window —
    * the hot/cold backfill semantics the reference intends but never
    * wires (main.py:15-16 FORCE_START_DATE/END_DATE are dead config;
    * the working contract is per-market hardcoded epochs, e.g.
    * downloader_tw.py:80 hot=2023-01-01 / cold=1993-01-04). A "hot"
    * run sets startDate to the hot epoch; a cold backfill widens it.
    * None = unbounded on that side.
    */
  final case class MarketConfig(
      marketId: String,
      csvDir: String,
      warehouseRoot: String,
      expectedMinSymbols: Long,
      asOf: String,
      useSnapshot: Boolean = false,
      startDate: Option[String] = None,
      endDate: Option[String] = None)

  /** One market's run outcome (get_db_summary shape, main.py:113-135). */
  final case class MarketSummary(
      market: String,
      expected: Long,
      success: Long,
      coverage: Double,
      status: String,
      endDate: String,
      totalRows: Long,
      nRejected: Long,
      ranSync: Boolean)

  def pricesPath(cfg: MarketConfig): String =
    s"${cfg.warehouseRoot}/${cfg.marketId}/prices"

  private val rejectionSchema = StructType(Seq(
    StructField("key", StringType), StructField("reason", StringType)))

  /** The store columns the summary reads. */
  private val summarySchema = StructType(Seq(
    StructField("symbol", StringType), StructField("date", DateType)))

  /** The newest ISO date among the `date=` partition directories of the
    * plain-parquet store at `path`, from one directory listing: no
    * Spark job, no footer read. Directory values that are not ISO dates
    * (`__HIVE_DEFAULT_PARTITION__`, the null date) are skipped; None when
    * the store is absent or has no dated partition.
    */
  private def latestDatePartition(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("date=") =>
        scala.util.Try(java.time.LocalDate.parse(n.stripPrefix("date="))).toOption }
      .flatten
      .maxOption
      .map(_.toString)
  }

  /** Freshness gate (check_needs_update, main.py:100-111): sync iff the
    * store is absent, empty, or its MAX(date) predates `asOf`. A plain
    * store answers from its partition listing; a snapshot store from a
    * `max(date)` over its latest version.
    */
  def needsSync(spark: SparkSession, cfg: MarketConfig): Boolean = {
    val prices = pricesPath(cfg)
    val latest =
      if (cfg.useSnapshot)
        graft.sources.Snapshot.latestVersion(prices).flatMap { _ =>
          val mx = graft.sources.Snapshot.read(spark, prices)
            .agg(max(col("date"))).first()
          if (mx.isNullAt(0)) None else Some(mx.getDate(0).toString)
        }
      else latestDatePartition(spark, prices)
    latest.forall(_ < cfg.asOf)
  }

  /** One market through the full loop: freshness gate → CSV ingest →
    * validation gates → MERGE of the valid day bars into the prices
    * store (version = ingest day, so re-running a day is idempotent) →
    * W/M/Y period outputs + audit row → summary computed FROM THE STORE
    * (the reference summarizes the database, not the batch —
    * main.py:113-124). The slice's materialization is released before
    * this returns, also when a step throws.
    */
  def runMarket(spark: SparkSession, cfg: MarketConfig): (MarketSummary, DataFrame) = {
    val prices = pricesPath(cfg)
    val ran = needsSync(spark, cfg)
    val (rejections, nRejected) =
      if (!ran) (spark.createDataFrame(
        java.util.Collections.emptyList[Row](), rejectionSchema), 0L)
      else {
        // Backfill window clamp BEFORE validation: the date predicates
        // sit directly on the scan (pushed to the reader; at warehouse
        // scale, to partition pruning), so a scoped hot run never reads
        // or re-validates history, and the merge below only rewrites
        // date partitions inside the window.
        val bars = Seq(
            cfg.startDate.map(d => col("date") >= to_date(lit(d))),
            cfg.endDate.map(d => col("date") <= to_date(lit(d))))
          .flatten
          .foldLeft(Pipeline.ingestCsvDir(spark, cfg.csvDir))(_.filter(_))
        val slice = Pipeline.dailySlice(bars)
        try {
          val validBars = slice.validBars
            .withColumn("version",
              datediff(to_date(lit(cfg.asOf)), to_date(lit("1970-01-01"))).cast("long"))
          // With useSnapshot, the prices store is a transactional snapshot
          // table (sources.Snapshot): merges publish atomically, a crashed
          // run never half-rewrites the store, re-runs are idempotent versions.
          if (cfg.useSnapshot)
            graft.sources.Snapshot.merge(validBars, prices,
              Seq("symbol", "date"), "version", "date")
          else
            Merge.upsertIntoPath(validBars, prices,
              Seq("symbol", "date"), "version", "date", slice.dates)
          val n = Pipeline.writeSlice(slice,
            s"${cfg.warehouseRoot}/${cfg.marketId}", cfg.marketId)
          (slice.rejections, n)
        } finally Frames.release(slice.held)
      }
    val store =
      if (cfg.useSnapshot) graft.sources.Snapshot.read(spark, prices)
      else spark.read.schema(summarySchema).parquet(prices)
    val stats = Report.summaryStats(store, col("symbol"), col("date")).first()
    val success = stats.getLong(0)
    val endDate = Option(stats.getDate(1)).map(_.toString).getOrElse("N/A")
    val totalRows = stats.getLong(2)
    val coverage = math.rint(success * 10000.0 / math.max(cfg.expectedMinSymbols, 1L)) / 100.0
    val summary = MarketSummary(
      market = cfg.marketId.toUpperCase,
      expected = cfg.expectedMinSymbols,
      success = success,
      coverage = coverage,
      status = if (coverage >= 80) "OK" else "LOW",
      endDate = endDate,
      totalRows = totalRows,
      nRejected = nRejected,
      ranSync = ran)
    (summary, rejections)
  }

  /** The whole fleet: run every market at once, then render ONE report
    * across all summaries + the union of rejection lists (main.py:196-201
    * → notifier.send_stock_report_email). Summaries and report follow
    * config order.
    *
    * Each market runs `runMarket` on its own thread; their Spark jobs
    * share the session's scheduler. `run` waits for every market, even
    * after one throws, so no market's write is still running and no
    * lifecycle thread is alive when it returns or throws; then it
    * rethrows the first failure in config order.
    */
  def run(spark: SparkSession, configs: Seq[MarketConfig]): (Seq[MarketSummary], String) = {
    val outcomes = new Array[Either[Throwable, (MarketSummary, DataFrame)]](configs.size)
    val threads = configs.zipWithIndex.map { case (cfg, i) =>
      val t = new Thread(() =>
        outcomes(i) = try Right(runMarket(spark, cfg)) catch { case e: Throwable => Left(e) },
        s"lifecycle-${cfg.marketId}")
      t.setDaemon(true)
      t.start()
      t
    }
    // an interrupt does not cut the wait short; it is re-asserted after
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val results = configs.zip(outcomes.toSeq.map(_.fold(e => throw e, identity)))
    val summaries = results.map(_._2._1)
    import spark.implicits._
    val summaryDf = summaries.toDF()
    val failures = results.map { case (cfg, (_, rej)) =>
      rej.select(lit(cfg.marketId.toUpperCase).as("market"),
        col("key"), col("reason"))
    }.reduce(_.unionByName(_))
    (summaries, Report.renderReport(summaryDf, failures))
  }
}
