package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  final case class SliceOutputs(weekly: DataFrame, monthly: DataFrame,
                                yearly: DataFrame, rejections: DataFrame,
                                summary: DataFrame, held: DataFrame)

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
    * survivor's bar then fans out to its W, M and Y bucket, and every
    * symbol gets one tally row; `groupBy(symbol, kind, period)`, the
    * return window and the V3 window all cluster on `symbol`, so none
    * needs another exchange. A pre-rejected symbol is never resampled:
    * under ANSI, its zero close would make the return's division throw.
    *
    * That tagged union (W+M+Y bars plus one verdict row per symbol) is
    * `held`: a lazy local checkpoint, filled by the one driver action
    * that collects the rejection set (at most one row per symbol) into a
    * local relation. A checkpoint, not a persist, because it keeps the
    * partitions adaptive execution coalesced, so each period write makes
    * as many files as a fresh plan would. The period frames and the
    * summary read `held`, not the input; the caller releases it with
    * `Frames.release` once they are consumed. It holds about a quarter
    * of the bars, never the store.
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
      tag("Y", Resample.yearStart(col("date"))))
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
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_bars"),
        max(col("date")).as("end_date"),
        max(col("bad_price")).as("bad_price"),
        max(col("max_gap")).as("max_gap"))
      // Resample.periodReturn, per (symbol, kind)
      .withColumn("return",
        round(col("close") / lag(col("close"), 1).over(bySeries) - lit(1.0), 4))
      // V3 on every resampled bar of the pre-gate survivors
      .withColumn("ohlc_bad", max(col("kind") =!= "S" &&
        (col("close") > col("high") || col("close") < col("low"))).over(bySymbol))
    val held = resampled.withColumn("reason",
        when(col("bad_price"), lit(Quality.ReasonInvalidPrice))
          .when(gapBad, concat(lit("gap_"), col("max_gap").cast("string"), lit("d")))
          .when(col("ohlc_bad"), lit(Quality.ReasonOhlcLogic)))
      .localCheckpoint(false)

    val verdicts = held.filter(col("kind") === "S")
    val rejected = verdicts.filter(col("reason").isNotNull)
      .select(col("symbol").as("key"), col("reason"))
    val rows = try rejected.collect() catch {
      case e: Throwable => Frames.release(held); throw e
    }
    val rejections = bars.sparkSession.createDataFrame(rows.toSeq.asJava, rejected.schema)

    def period(kind: String): DataFrame =
      held.filter(col("kind") === kind && col("reason").isNull)
        .select("symbol", "period", "open", "high", "low", "close", "volume", "return")
    // over the valid bars: every bar but the pre-gate rejects'
    val summary = verdicts
      .filter(col("reason").isNull || col("reason") === Quality.ReasonOhlcLogic)
      .agg(count(lit(1)).as("n_symbols"), max(col("end_date")).as("end_date"),
        coalesce(sum(col("n_bars")), lit(0L)).as("total_rows"))
      .withColumn("n_rejected", lit(rows.length.toLong))

    SliceOutputs(period("W"), period("M"), period("Y"), rejections, summary, held)
  }

  /** K3/K4: persist the slice — one parquet dataset per period plus an
    * append-only audit row (reference downloader_wmy.py:62-83,165-167).
    * Returns the number of rejected symbols the audit row records.
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
