package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * isolation becomes groupBy-key isolation, and every validator is a
  * single aggregate pass (no per-symbol loops).
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
    *
    * The rejection set is resolved with ONE driver action (all gates,
    * all three resamples) into a local relation. It holds at most one
    * row per symbol, so the collect is bounded by the listed universe,
    * not by bar volume. Every returned frame reads that relation instead
    * of re-running the gates, and nothing is cached, so nothing outlives
    * the call.
    */
  def dailySlice(bars: DataFrame,
                 gapDays: Int = 14, gapSince: String = "2024-01-01"): SliceOutputs = {
    val clean0 = bars.na.drop(Seq("open", "high", "low", "close")) // P15
    // ordered-first/last surrogate: date-major, unique per (symbol,date)
    // because day bars are PK'd on (date,symbol) post-merge
    val withOrd = clean0.withColumn("ord",
      Resample.ordinal(col("date"), lit(0)))

    def periods(valid: DataFrame): Seq[DataFrame] =
      Seq(Resample.weekEndFri(col("date")), Resample.monthEnd(col("date")),
          Resample.yearStart(col("date"))).map { bucket =>
        Resample.periodReturn(
          Resample.ohlcFromBars(valid, col("symbol"), bucket,
            col("open"), col("high"), col("low"), col("close"),
            col("volume"), col("ord")))
      }

    val priceRejects = Quality.invalidPriceKeys(withOrd, col("symbol"), col("close"))
    val gapRejects = Quality.gapKeys(withOrd, col("symbol"), col("date"),
      gapDays, gapSince)
    val preRejects = Quality.firstReasonPerKey(
      priceRejects.unionByName(gapRejects))
    // V3 on every resampled bar of the pre-gate survivors
    val ohlcRejects = Quality.ohlcViolationKeys(
      periods(Quality.excludeRejected(withOrd, col("symbol"), preRejects))
        .reduce(_.unionByName(_)),
      col("symbol"), col("low"), col("close"), col("high"))
    val resolved = Quality.firstReasonPerKey(preRejects.unionByName(ohlcRejects))
    val rows = resolved.collect()
    val rejections = bars.sparkSession.createDataFrame(rows.toSeq.asJava, resolved.schema)

    // V3 only sees pre-gate survivors, so the two reason sets are
    // disjoint; resampling is per symbol, so dropping every rejected
    // symbol before the resample equals dropping V3's after it
    val valid = Quality.excludeRejected(withOrd, col("symbol"),
      rejections.filter(col("reason") =!= Quality.ReasonOhlcLogic))
    val Seq(weekly, monthly, yearly) =
      periods(Quality.excludeRejected(withOrd, col("symbol"), rejections))
    val summary = Report.summaryStats(valid, col("symbol"), col("date"))
      .withColumn("n_rejected", lit(rows.length.toLong))

    SliceOutputs(weekly, monthly, yearly, rejections, summary)
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
