package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.ops.Normalize

/** Ingest-edge adapters for the reference's list sources (SURVEY §2.1
  * S1/S3/S4/S5): the DETERMINISTIC parsing half of each downloader —
  * HTML-table extraction, Excel header-row discovery, fuzzy column
  * matching, code normalization — as pure functions over pre-fetched
  * content. Networking stays out of the engine by design (the reference
  * fetches with `requests`; a production deployment front-loads the same
  * bytes into blob storage and hands the engine paths).
  *
  * Representation contract: a pre-fetched spreadsheet/HTML table is rows
  * of cells. Small list files (thousands of rows) parse driver-side and
  * become DataFrames; everything after the parse is Column expressions.
  *
  * Reference parity, cited per function:
  *  - HKEX header discovery + 5-digit codes: downloader_hk.py:66-89,51-55
  *  - TWSE HTML table lists + validity filter: downloader_tw.py:31-68
  *  - JPX fixed columns + ETF drop: downloader_jp.py:80-110
  *  - KIND industry map (zfill 6): downloader_kr.py:27-50
  */
object ListAdapters {

  /** Header/data cell cleanup: non-breaking spaces (the   that Excel
    * exports pad headers with) to plain spaces, then trim — the
    * reference applies exactly this before matching header names
    * (downloader_hk.py:77,85).
    */
  def cleanCell(c: Column): Column =
    trim(regexp_replace(c, "\u00a0", " "))

  private def cleanCellStr(s: String): String =
    s.replace('\u00a0', ' ').trim

  // ---- S1: HTML-table scan ---------------------------------------------

  /** Parse every `<table>` in a pre-fetched HTML document into a
    * row-major cell matrix (pandas `read_html` shape): rows are `<tr>`,
    * cells `<th>`/`<td>` with inner markup stripped and the common
    * entities decoded. Tolerant of attributes and case.
    */
  def parseHtmlTables(html: String): Seq[Seq[Seq[String]]] = {
    val tableRe = "(?is)<table\\b[^>]*>(.*?)</table>".r
    val trRe = "(?is)<tr\\b[^>]*>(.*?)</tr>".r
    val cellRe = "(?is)<t[hd]\\b[^>]*>(.*?)</t[hd]\\s*>".r
    def decode(s: String): String = cleanCellStr(
      s.replaceAll("(?is)<[^>]*>", "")
        .replace("&nbsp;", " ")
        .replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&#39;", "'")
        .replace("&amp;", "&"))
    tableRe.findAllMatchIn(html).map { t =>
      trRe.findAllMatchIn(t.group(1)).map { r =>
        cellRe.findAllMatchIn(r.group(1)).map(m => decode(m.group(1))).toSeq
      }.toSeq.filter(_.nonEmpty)
    }.toSeq
  }

  /** The document's first HTML table → DataFrame with the first row as the
    * header (pandas `read_html(header=0)`, downloader_tw.py:57). Ragged
    * rows pad with null; duplicate/blank header names are disambiguated
    * positionally.
    */
  def htmlTableDf(spark: SparkSession, html: String): DataFrame = {
    val tables = parseHtmlTables(html)
    require(tables.nonEmpty, "no table in document")
    val rows = tables.head
    require(rows.nonEmpty, "table has no rows")
    fromCells(spark, rows.head, rows.tail)
  }

  /** Rows-of-cells → DataFrame under the given header names. */
  def fromCells(spark: SparkSession, header: Seq[String],
                data: Seq[Seq[String]]): DataFrame = {
    val names = dedupeNames(header.map(cleanCellStr))
    val schema = StructType(names.map(StructField(_, StringType, nullable = true)))
    val padded = data.map(r =>
      Row.fromSeq(names.indices.map(i => r.lift(i).orNull)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(padded.toList), schema)
  }

  private def dedupeNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.zipWithIndex.map { case (n0, i) =>
      val n = if (n0.isEmpty) s"_c$i" else n0
      val k = seen.getOrElse(n, 0)
      seen(n) = k + 1
      if (k == 0) n else s"${n}_$k"
    }
  }

  // ---- S3: Excel scan with header-row discovery ------------------------

  /** Leading rows of a sheet scan searched for its header row. */
  private val ProbeRows = 20

  /** Find the header row of a headerless sheet scan: the first of the
    * leading `ProbeRows` rows in which every required marker appears as
    * a substring of some (cleaned) cell — the reference probes the first
    * 20 rows for "Stock Code" and "Short Name" (downloader_hk.py:74-81).
    * Only the tiny probe prefix ever reaches the driver.
    */
  def discoverHeaderRow(rows: Seq[Seq[String]], required: Seq[String]): Option[Int] =
    rows.take(ProbeRows).zipWithIndex.collectFirst {
      case (r, i) if required.forall(m => r.exists(c => cleanCellStr(c).contains(m))) => i
    }

  /** Discover the header row and re-header the sheet: rows above and
    * including the header are dropped, the header's cleaned cells become
    * the column names (downloader_hk.py:83-85).
    */
  def reHeader(spark: SparkSession, rows: Seq[Seq[String]],
               required: Seq[String]): DataFrame = {
    val idx = discoverHeaderRow(rows, required).getOrElse(
      throw new IllegalArgumentException(
        s"no header row with ${required.mkString(", ")} in the first $ProbeRows rows"))
    fromCells(spark, rows(idx), rows.drop(idx + 1))
  }

  /** Fuzzy column pick: first column whose name CONTAINS the marker —
    * HKEX headers drift ("Stock Code ", "Stock  Code") but keep the
    * substring (downloader_hk.py:87-88).
    */
  def fuzzyColumn(df: DataFrame, marker: String): String =
    df.columns.find(_.contains(marker)).getOrElse(
      throw new IllegalArgumentException(
        s"no column containing '$marker' among ${df.columns.mkString(", ")}"))

  /** HKEX 5-digit code normalization (downloader_hk.py:51-55): strip
    * non-digits; valid iff the digit value is 1..99999; zero-pad to 5
    * WITHOUT truncating longer strings (Python zfill semantics — Spark's
    * lpad would truncate). Invalid codes map to null.
    */
  def normalizeCode5d(c: Column): Column = {
    val digits = Normalize.digitsOnly(c)
    when(digits.rlike("^[0-9]+$") && digits.cast("long").between(1, 99999),
      when(length(digits) >= 5, digits).otherwise(lpad(digits, 5, "0")))
  }

  /** S3 end-to-end: headerless HKEX sheet rows → canonical
    * (symbol, name, sector, market) list (downloader_hk.py:66-104).
    */
  def hkStockList(spark: SparkSession, rows: Seq[Seq[String]]): DataFrame = {
    val df = reHeader(spark, rows, Seq("Stock Code", "Short Name"))
    val code = fuzzyColumn(df, "Stock Code")
    val name = fuzzyColumn(df, "Short Name")
    df.select(
        normalizeCode5d(col(code)).as("symbol"),
        cleanCell(col(name)).as("name"))
      .filter(col("symbol").isNotNull)
      .withColumn("sector", lit("HK-Share"))
      .withColumn("market", lit("HKEX"))
  }

  // ---- S1 end-to-end: TWSE/ISIN category list --------------------------

  /** TWSE list semantics over a parsed HTML table (downloader_tw.py:58-68):
    * alnum codes of length >= 4 survive, symbol = code + market suffix,
    * sector falls back to "Unknown" when the column is absent/null-ish.
    */
  def twStockList(listed: DataFrame, suffix: String): DataFrame = {
    val sector =
      if (listed.columns.contains("產業別"))
        Normalize.normalizeSector(cleanCell(col("產業別")))
      else lit("Unknown")
    listed
      .select(cleanCell(col("有價證券代號")).as("code"),
        cleanCell(col("有價證券名稱")).as("name"), sector.as("sector"))
      .filter(Normalize.validSymbol(col("code")))
      .select(concat(col("code"), lit(suffix)).as("symbol"),
        col("name"), col("sector"))
  }

  /** The whole TWSE category sweep (downloader_tw.py:31-68): one
    * pre-fetched HTML document per category config; warrant categories
    * are skipped BEFORE parsing (P7, downloader_tw.py:49-52); each
    * surviving category's list carries its config name as `market`, and
    * the union dedups exactly as the reference's `set(stock_list)`.
    */
  def twStockLists(spark: SparkSession,
                   categories: Seq[(String, String, String)]): DataFrame = {
    val kept = categories.filterNot { case (cat, _, _) => Normalize.skipCategory(cat) }
    require(kept.nonEmpty, "every category was skipped")
    kept.map { case (cat, suffix, html) =>
        twStockList(htmlTableDf(spark, html), suffix)
          .withColumn("market", lit(cat))
      }
      .reduce(_.unionByName(_))
      .dropDuplicates("symbol")
  }

  // ---- S4: JPX fixed-column list ---------------------------------------

  /** JPX list semantics (downloader_jp.py:80-110): Excel-float code fix
    * ("7203.0" → "7203"), keep only 4-digit numeric common stock, drop
    * "ETFs*" products, symbol = code + ".T", sector defaulting to
    * Unknown, market = the Section/Products cell.
    */
  def jpStockList(df: DataFrame): DataFrame =
    df.filter(col("Local Code").isNotNull)
      .withColumn("code", trim(Normalize.excelIntFix(col("Local Code"))))
      .filter(Normalize.jpCommonStock(col("code")))
      .withColumn("market", cleanCell(col("Section/Products")))
      .filter(!col("market").startsWith("ETFs"))
      .select(concat(col("code"), lit(".T")).as("symbol"),
        cleanCell(col("Name (English)")).as("name"),
        Normalize.normalizeSector(cleanCell(col("33 Sector(name)"))).as("sector"),
        col("market"))

  // ---- S5: KIND industry map -------------------------------------------

  /** KIND industry mapping (downloader_kr.py:27-50): 6-digit zero-padded
    * code → sector, the enrichment side of the KR sector join (J1).
    */
  def kindIndustryMap(df: DataFrame): DataFrame =
    df.select(
      Normalize.zfill(cleanCell(col("종목코드")), 6).as("code"),
      cleanCell(col("업종")).as("sector"))
}
