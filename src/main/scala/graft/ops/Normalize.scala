package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edge-normalization column pipelines — SURVEY §2.3 P1–P16. Pure column
  * expressions (whole-stage-codegen friendly; no UDFs) so Catalyst can
  * push them below shuffles and fold constants.
  */
object Normalize {

  /** P9: null-ish sector normalization (downloader_us.py:80). */
  def normalizeSector(c: Column): Column =
    when(lower(trim(c)).isin("nan", "n/a", "") || c.isNull, lit("Unknown"))
      .otherwise(c)

  /** P12: zero-pad codes (zfill parity, downloader_cn.py:52 etc.). */
  def zfill(c: Column, width: Int): Column = lpad(c.cast("string"), width, "0")

  /** P12: strip everything but digits (downloader_hk.py:51). */
  def digitsOnly(c: Column): Column = regexp_replace(c, "\\D", "")

  /** P12: Excel-float code fix — "7203.0" -> "7203" (downloader_jp.py:94). */
  def excelIntFix(c: Column): Column = split(c.cast("string"), "\\.").getItem(0)

  /** P12: canonical symbol casing (downloader_us.py:67). */
  def canonSymbol(c: Column): Column = upper(trim(c))

  /** P6: TW symbol validity — alphanumeric, length >= 4
    * (downloader_tw.py:64).
    */
  def validSymbol(c: Column): Column = c.rlike("^[A-Za-z0-9]{4,}$")

  /** P8: US derivative exclusion (downloader_us.py:64,70-75). */
  def isDerivativeName(name: Column): Column =
    name.rlike("(?i)Warrant|Right|Preferred|Unit|ETF|Index|Index-linked")

  /** P10: CN board-prefix whitelist (downloader_cn.py:49-53). */
  def cnBoardOk(code: Column): Column =
    substring(code, 1, 3).isin(
      "000", "001", "002", "003", "300", "301", "600", "601", "603", "605", "688")

  /** P11: CN exchange routing — '6'-prefixed codes to Shanghai
    * (downloader_cn.py:56-57).
    */
  def cnRoute(code: Column): Column =
    when(code.startsWith("6"), concat(code, lit(".SS")))
      .otherwise(concat(code, lit(".SZ")))

  /** P14: HK alternate symbol — strip leading zeros (downloader_hk.py:116). */
  def hkAltCode(code: Column): Column = regexp_replace(code, "^0+", "")

  /** P5: fallback date-column pick (downloader_us.py:119-120): the
    * column literally named `date` when present, else the FIRST column
    * positionally (yfinance frames lead with their datetime index).
    */
  def pickDateColumn(df: DataFrame): String =
    if (df.columns.contains("date")) "date" else df.columns.head

  /** P5 applied: normalize the picked column to DateType under the
    * canonical `date` name (downloader_us.py:120-123).
    */
  def withNormalizedDate(df: DataFrame): DataFrame = {
    val picked = pickDateColumn(df)
    df.withColumn("date", to_date(col(picked)))
  }

  /** P7: config-level category skip — warrant categories never parse or
    * persist (downloader_tw.py:49-52).
    */
  def skipCategory(name: String): Boolean =
    name.toLowerCase.contains("warrant")

  /** P13: JP common stock = exactly 4 digits (downloader_jp.py:97). */
  def jpCommonStock(code: Column): Column = code.rlike("^[0-9]{4}$")

  /** P16: header-cell cleanup — non-breaking spaces to spaces, trimmed
    * (downloader_hk.py:77,85).
    */
  def cleanHeaderCell(c: Column): Column =
    trim(regexp_replace(c, "\u00a0", " "))
}
