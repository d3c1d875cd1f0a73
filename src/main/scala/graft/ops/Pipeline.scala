package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The end-to-end daily slice — the reference's richest lifecycle
  * (downloader_wmy.main + the K1 merge, SURVEY §3.3/§7): ingest a
  * directory of per-symbol day-bar CSVs → validate (V1/V2/V4) → resample
  * to Friday-anchored weekly, month-end and yearly bars with period
  * returns → enforce the OHLC invariant on the outputs (V3) → exclude
  * rejected symbols from ALL period outputs atomically → emit rejection,
  * audit and summary tables.
  *
  * One Spark job graph replaces the reference's per-file thread pool:
  * file-split parallelism subsumes the pool, per-symbol isolation
  * becomes groupBy-key isolation, and every validator is a single
  * aggregate pass (no per-symbol loops).
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
                                summary: DataFrame)

  /** Run the validated resample slice over day bars
    * (symbol, date, open, high, low, close, volume).
    *
    * Validation semantics (SURVEY §2.11): a symbol failing ANY gate
    * contributes no rows to ANY period output but appears once in
    * `rejections(key, reason)`. The reference computes all three period
    * frames and then rejects (order matters for V3) — here V3 is
    * evaluated on the resampled weekly/monthly/yearly union, so a
    * violation in any period output rejects the symbol everywhere.
    */
  def dailySlice(bars: DataFrame,
                 gapDays: Int = 14, gapSince: String = "2024-01-01"): SliceOutputs = {
    val clean0 = bars.na.drop(Seq("open", "high", "low", "close")) // P15
    // ordered-first/last surrogate: date-major, unique per (symbol,date)
    // because day bars are PK'd on (date,symbol) post-merge
    val withOrd = clean0.withColumn("ord",
      Resample.ordinal(col("date"), lit(0)))

    val priceRejects = Quality.invalidPriceKeys(withOrd, col("symbol"), col("close"))
    val gapRejects = Quality.gapKeys(withOrd, col("symbol"), col("date"),
      gapDays, gapSince)
    val preRejects = Quality.firstReasonPerKey(
      priceRejects.unionByName(gapRejects))

    val valid = Quality.excludeRejected(withOrd, col("symbol"), preRejects)

    def resample(bucket: Column): DataFrame =
      Resample.periodReturn(
        Resample.ohlcFromBars(valid, col("symbol"), bucket,
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("ord")))

    val weekly = resample(Resample.weekEndFri(col("date")))
    val monthly = resample(Resample.monthEnd(col("date")))
    val yearly = resample(Resample.yearStart(col("date")))

    // V3 on every resampled bar, rejection applied to ALL outputs
    val allPeriods = Seq(weekly, monthly, yearly).reduce(_.unionByName(_))
    val ohlcRejects = Quality.ohlcViolationKeys(allPeriods,
      col("symbol"), col("low"), col("close"), col("high"))
    val rejections = Quality.firstReasonPerKey(
      preRejects.unionByName(ohlcRejects))

    def finalize(df: DataFrame): DataFrame =
      Quality.excludeRejected(df, col("symbol"), ohlcRejects)

    val summary = Report.summaryStats(valid, col("symbol"), col("date"))
      .crossJoin(rejections.agg(count(lit(1)).as("n_rejected")))

    SliceOutputs(finalize(weekly), finalize(monthly), finalize(yearly),
      rejections, summary)
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
    val total = out.summary.select(col("n_symbols")).first().getLong(0)
    val failed = out.rejections.count()
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
