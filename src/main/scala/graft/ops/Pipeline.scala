package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The end-to-end daily slice — the reference's richest lifecycle
  * (downloader_wmy.main + the K1 merge, SURVEY §3.3/§7): ingest a
  * directory of per-symbol day-bar CSVs → validate (V1/V2/V4) → resample
  * to Friday-anchored weekly, month-end and yearly bars with period
  * returns → enforce the OHLC invariant on the outputs (V3) → exclude
  * rejected symbols from ALL period outputs atomically → emit rejection,
  * audit and summary tables.
  *
  * Distributed scans and aggregates replace the reference's per-file
  * thread pool: file-split parallelism subsumes the pool, per-symbol
  * isolation becomes symbol-partition isolation, and the validators and
  * resamples share one shuffle (no per-symbol loops).
  */
object Pipeline {

  /** Day-bar schema for CSV ingest (reference rename map
    * downloader_wmy.py:29-33, anglicized).
    */
  val barSchema: StructType = StructType(Seq(
    StructField("date", DateType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType)))

  /** S7: scan a directory of `<SYMBOL>_*.csv` day-bar files; the symbol
    * rides in the filename (reference downloader_wmy.py:90-92,
    * `stem.split('_')[0]`, upper-cased). One distributed scan replaces
    * the reference's per-file loop; file splits are the parallelism.
    */
  def ingestCsvDir(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(barSchema)
      .csv(dir)
      .withColumn("symbol",
        upper(regexp_extract(input_file_name(), "([^/_]+)_[^/]*\\.csv$", 1)))

  /** What [[dailySlice]] hands on. `rejections` (key, reason) and the
    * one-row `summary` (n_symbols, end_date, total_rows, n_rejected) are
    * local relations. `validBars` are the day bars of the symbols no
    * gate rejects, one per (symbol, date), as (date, open, high, low,
    * close, volume, symbol); `dates` are their distinct dates, the
    * partitions a merge of them touches. `validBars` and the period
    * frames read `held`, which the caller releases once they are written.
    */
  final case class SliceOutputs(weekly: DataFrame, monthly: DataFrame,
                                yearly: DataFrame, rejections: DataFrame,
                                summary: DataFrame, validBars: DataFrame,
                                dates: Seq[Any], held: DataFrame)

  /** Run the validated resample slice over day bars
    * (symbol, date, open, high, low, close, volume).
    *
    * Validation semantics (SURVEY §2.11): a symbol failing ANY gate
    * contributes no rows to ANY period output but appears once in
    * `rejections(key, reason)`, by priority price > gap > OHLC. The
    * reference computes all three period frames and then rejects (order
    * matters for V3) — here V3 is evaluated on the pre-gate survivors'
    * resampled weekly/monthly/yearly bars, so a violation in any period
    * output rejects the symbol everywhere.
    *
    * Shape: ONE exchange, `hashpartitioning(symbol)`. On it, window
    * aggregates give every bar its symbol's V1 price verdict and V2 gap
    * verdict (the gap to the last in-window predecessor). Each pre-gate
    * survivor's bar then fans out to its W, M and Y bucket and to a D
    * row of its own (symbol, date), and every symbol gets one tally row;
    * `groupBy(symbol, kind, period)`, the return window and the V3
    * window all cluster on `symbol`, so none needs another exchange. A
    * pre-rejected symbol is never resampled: under ANSI, its zero close
    * would make the return's division throw.
    *
    * That tagged union (W+M+Y bars, the D day bars and one verdict row
    * per symbol, every row carrying its symbol's reason) is `held`: a
    * lazy local checkpoint, filled by the one driver action of the
    * slice. That action aggregates the verdict and D rows to one row:
    * the rejection set (at most one row per symbol), the distinct dates
    * of the valid bars (deduplicated on the executors, so the driver
    * gets each date once) and the summary counts. Its only shuffle after
    * the bars' is that aggregate's, one partial row per partition. A
    * checkpoint, not a persist, because it keeps the partitions adaptive
    * execution coalesced, so each period write makes as many files as a
    * fresh plan would. The outputs read `held`, never the input, so the
    * drop is scanned once; the caller releases it with `Frames.release`
    * once they are consumed. It holds the drop's valid bars once plus
    * about a quarter more, never the store.
    */
  def dailySlice(bars: DataFrame,
                 gapDays: Int = 14, gapSince: String = "2024-01-01"): SliceOutputs = {
    val bySymbol = Window.partitionBy(col("symbol"))
    val inWindow = when(col("date") >= to_date(lit(gapSince)), col("date"))
    val earlier = bySymbol.orderBy(col("date"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val gated = bars.na.drop(Seq("open", "high", "low", "close")) // P15
      // ordered-first/last surrogate: date-major, unique per (symbol,date)
      // because day bars are PK'd on (date,symbol) post-merge
      .withColumn("ord", Resample.ordinal(col("date"), lit(0)))
      .withColumn("bad_price", max(col("close") <= 0).over(bySymbol))
      .withColumn("__gap", datediff(inWindow, max(inWindow).over(earlier)))
      .withColumn("max_gap", max(col("__gap")).over(bySymbol))
    val gapBad = coalesce(col("max_gap") > gapDays, lit(false))

    def tag(kind: String, period: Column): Column =
      struct(lit(kind).as("kind"), period.as("period"))
    val tally = tag("S", lit(null).cast(DateType))
    val buckets = Seq(tag("W", Resample.weekEndFri(col("date"))),
      tag("M", Resample.monthEnd(col("date"))),
      tag("Y", Resample.yearStart(col("date"))),
      tag("D", col("date")))
    val bySeries = Window.partitionBy(col("symbol"), col("kind"))
      .orderBy(col("period"))
    val resampled = gated
      .withColumn("__t", explode(
        when(!col("bad_price") && !gapBad, array(buckets :+ tally: _*))
          .otherwise(array(tally))))
      .groupBy(col("symbol"), col("__t.kind").as("kind"),
        col("__t.period").as("period"))
      .agg(
        min_by(col("open"), col("ord")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("ord")).as("close"),
        // a (symbol, date) the drop repeats is one day bar, not a sum
        when(col("__t.kind") === "D", max(col("volume")))
          .otherwise(sum(col("volume"))).as("volume"),
        count(lit(1)).as("n_bars"),
        max(col("date")).as("end_date"),
        max(col("bad_price")).as("bad_price"),
        max(col("max_gap")).as("max_gap"))
      // Resample.periodReturn, per (symbol, kind)
      .withColumn("return",
        round(col("close") / lag(col("close"), 1).over(bySeries) - lit(1.0), 4))
      // V3 on every resampled bar of the pre-gate survivors
      .withColumn("ohlc_bad", max(col("kind").isin("W", "M", "Y") &&
        (col("close") > col("high") || col("close") < col("low"))).over(bySymbol))
    val held = resampled.withColumn("reason",
        when(col("bad_price"), lit(Quality.ReasonInvalidPrice))
          .when(gapBad, concat(lit("gap_"), col("max_gap").cast("string"), lit("d")))
          .when(col("ohlc_bad"), lit(Quality.ReasonOhlcLogic)))
      .localCheckpoint(false)

    // the summary is over the valid bars: every bar but the pre-gate rejects'
    val verdict = col("kind") === "S"
    val counted = verdict &&
      (col("reason").isNull || col("reason") === Quality.ReasonOhlcLogic)
    val stats = held.filter(col("kind").isin("S", "D"))
      .agg(
        collect_list(when(verdict && col("reason").isNotNull,
          struct(col("symbol").as("key"), col("reason")))).as("rejected"),
        collect_set(when(col("kind") === "D" && col("reason").isNull, col("period")))
          .as("dates"),
        count(when(counted, lit(1))).as("n_symbols"),
        max(when(counted, col("end_date"))).as("end_date"),
        coalesce(sum(when(counted, col("n_bars"))), lit(0L)).as("total_rows"))
    val row = try stats.first() catch {
      case e: Throwable => Frames.release(held); throw e
    }
    val spark = bars.sparkSession
    val rows = row.getSeq[Row](0)
    val rejections = spark.createDataFrame(rows.asJava,
      stats.schema("rejected").dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType])

    def valid(kind: String): DataFrame =
      held.filter(col("kind") === kind && col("reason").isNull)
    def period(kind: String): DataFrame =
      valid(kind).select("symbol", "period", "open", "high", "low", "close", "volume", "return")
    val validBars = valid("D").select(col("period").as("date") +:
      Seq("open", "high", "low", "close", "volume", "symbol").map(col): _*)
    val summary = spark.createDataFrame(
      Seq(Row(row.get(2), row.get(3), row.get(4), rows.length.toLong)).asJava,
      StructType(stats.schema.fields.drop(2) :+
        StructField("n_rejected", LongType, nullable = false)))

    SliceOutputs(period("W"), period("M"), period("Y"), rejections, summary,
      validBars, row.getSeq[Any](1), held)
  }

  /** K3/K4: persist the slice — one parquet dataset per period plus an
    * append-only audit row (reference downloader_wmy.py:62-83,165-167).
    * The counts come from the slice's local summary, so only the writes
    * run jobs. Returns the number of rejected symbols the audit row
    * records.
    */
  def writeSlice(out: SliceOutputs, root: String, marketId: String): Long = {
    out.weekly.write.mode("overwrite").parquet(s"$root/weekly")
    out.monthly.write.mode("overwrite").parquet(s"$root/monthly")
    out.yearly.write.mode("overwrite").parquet(s"$root/yearly")
    val spark = out.weekly.sparkSession
    val counts = out.summary.select(col("n_symbols"), col("n_rejected")).first()
    val (total, failed) = (counts.getLong(0), counts.getLong(1))
    import spark.implicits._
    Seq((java.util.UUID.randomUUID().toString, marketId, total + failed,
        total, failed,
        if (total + failed == 0) 0.0
        else math.rint(total * 10000.0 / (total + failed)) / 100.0))
      .toDF("run_id", "market_id", "total_symbols", "success_count",
        "skip_count", "success_rate")
      .withColumn("execution_time", current_timestamp())
      .write.mode("append").parquet(s"$root/audit")
    failed
  }

  /** Schema reconciliation on load — the reference's one dynamic-schema
    * behavior (PRAGMA table_info + ALTER TABLE ADD COLUMN,
    * downloader_us.py:38-43): add missing columns as typed nulls, cast
    * drifted types, project to the target order. Idempotent.
    */
  def reconcileSchema(df: DataFrame, target: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(target.fields.map { f =>
      have.get(f.name) match {
        case Some(t) if t == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
  }
}
