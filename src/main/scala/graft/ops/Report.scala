package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Run-summary aggregates — SURVEY §2.5 A2–A9 (reference main.py:114-137,
  * notifier.py:40-119). All of these reduce a fact table to a handful of
  * rows; the only scale concern is exact countDistinct (one extra shuffle)
  * vs approx_count_distinct — the reference's coverage contract is exact,
  * so exact is the default with approx offered for the 100 TB path.
  */
object Report {

  /** A2: COUNT(DISTINCT symbol), MAX(date), COUNT(*) (main.py:118). */
  def summaryStats(df: DataFrame, symbol: Column, date: Column): DataFrame =
    df.agg(
      countDistinct(symbol).as("n_symbols"),
      max(date).as("end_date"),
      count(lit(1)).as("total_rows"))

  /** A6: coverage ratio vs an expected floor, >=80% => OK
    * (main.py:126-133).
    */
  def coverage(counts: DataFrame, actual: Column, expected: Column): DataFrame =
    counts
      .withColumn("coverage", round(actual * lit(100.0) / expected, 2))
      .withColumn("status", when(col("coverage") >= 80, "OK").otherwise("LOW"))

  /** K7/O2 parity: render the per-market run report from the (tiny)
    * summary table — the notifier's text payload (reference
    * notifier.py:40-119) up to the network boundary. The fail list is
    * truncated to 10 with an "...and N more" suffix
    * (notifier.py:56-57); timestamps render in UTC+8
    * (notifier.py:14-17); dates format `yyyy-MM-dd` to preserve the
    * lexicographic-order contract. The stamp is formatted on the driver;
    * the collects are the summary table itself (a handful of rows by
    * construction) and an 11-row sample of the failures, which
    * are counted in full only when that sample overflows.
    */
  def renderReport(summary: DataFrame, failures: DataFrame): String = {
    val sampleN = 10
    val stamp = java.time.ZonedDateTime.now(java.time.ZoneId.of("Asia/Taipei"))
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val header = s"Stock Warehouse Report ($stamp UTC+8)"
    val lines = summary.collect().map { r =>
      val cols = summary.columns.zipWithIndex.map { case (c, i) =>
        val v = r.get(i) match {
          case d: java.sql.Date => d.toString // yyyy-MM-dd
          case other => String.valueOf(other)
        }
        s"$c=$v"
      }
      "  " + cols.mkString(" ")
    }
    val fails = failures.limit(sampleN + 1).collect().map(_.mkString(":"))
    val failBlock: Seq[String] =
      if (fails.isEmpty) Seq("  (no failures)")
      else {
        val total = if (fails.length > sampleN) failures.count() else fails.length.toLong
        val shown = fails.take(sampleN).map("  " + _).toSeq
        if (total > sampleN) shown :+ s"  ...and ${total - sampleN} more"
        else shown
      }
    (Seq(header, "Summary:") ++ lines ++ Seq("Failures:") ++ failBlock)
      .mkString("\n")
  }

  /** A5: freshness — latest date per key, and staleness vs the global max
    * (main.py:105-111 generalized per-key). The global max is a 1-row
    * aggregate broadcast into the comparison.
    */
  def staleKeys(df: DataFrame, key: Column, date: Column, staleDays: Int): DataFrame = {
    val perKey = df.groupBy(key.as("key")).agg(max(date).as("last_date"))
    val global = df.agg(max(date).as("global_max"))
    perKey.crossJoin(broadcast(global))
      .filter(col("last_date") < date_sub(col("global_max"), staleDays))
      .select(col("key"), col("last_date"))
  }
}
