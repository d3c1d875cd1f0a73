package graft.ops

import graft.ops.Lifecycle.MarketSummary

/** K7 sink parity: render the fleet report exactly as the reference's
  * notifier does (notifier.py:40-119) — a Telegram-HTML brief and a full
  * HTML email body — up to the network boundary (the engine returns the
  * payload strings; POSTing them is deployment plumbing, not engine
  * semantics). Deterministic: the report timestamp is injected, the fail
  * sample caps at 20 with an "...and N more" suffix (notifier.py:55-57),
  * success rate renders at one decimal (notifier.py:53), and row counts
  * group thousands (notifier.py:66).
  */
object Notifier {

  private def groupThousands(n: Long): String =
    n.toString.reverse.grouped(3).mkString(",").reverse

  private def pct1(num: Long, den: Long): String =
    if (den <= 0) "0.0" else f"${num * 100.0 / den}%.1f"

  /** Fail-list sample: first 20 entries, then a count suffix. */
  def failSummary(fails: Seq[String]): String =
    if (fails.isEmpty) "none"
    else {
      val shown = fails.take(20).mkString(", ")
      if (fails.size > 20) s"$shown ...and ${fails.size - 20} more" else shown
    }

  private def statusColor(s: MarketSummary): String =
    if (s.status == "OK") "#28a745" else "#dc3545"

  /** One market's HTML card (notifier.py:60-72). */
  def marketSectionHtml(s: MarketSummary, fails: Seq[String]): String =
    s"""<div style="margin-bottom:30px;border:1px solid #ddd;padding:20px;border-radius:12px;background-color:#fff;">
       |  <h2 style="margin-top:0;color:${statusColor(s)};font-size:18px;">${s.market} report</h2>
       |  <div style="font-size:14px;color:#444;">
       |    <b>coverage:</b> <span style="font-size:18px;font-weight:bold;">${s.coverage}%</span><br>
       |    <b>success/expected:</b> ${s.success} / ${s.expected} (${pct1(s.success, s.expected)}%)<br>
       |    <b>end date:</b> ${s.endDate} | <b>total rows:</b> ${groupThousands(s.totalRows)}<br>
       |    <div style="margin-top:10px;color:#dc3545;font-size:12px;">
       |      <b>failures:</b> ${failSummary(fails)}
       |    </div>
       |  </div>
       |</div>""".stripMargin

  /** One market's Telegram block (notifier.py:76-82). */
  def marketSectionTelegram(s: MarketSummary, fails: Seq[String]): String =
    s"""<b>[${s.market} report]</b>
       |status: ${s.status} | coverage: <b>${s.coverage}%</b>
       |success: <code>${s.success}</code> / <code>${s.expected}</code>
       |date: <code>${s.endDate}</code> | failures: <code>${fails.size}</code>""".stripMargin

  /** The Telegram brief across all markets (notifier.py:86-89). */
  def renderTelegram(results: Seq[(MarketSummary, Seq[String])]): String =
    "<b>Global warehouse sync summary</b>\n\n" +
      results.map { case (s, f) => marketSectionTelegram(s, f) }
        .mkString("\n\n---\n\n")

  /** The full HTML email body (notifier.py:100-114). `reportTime` is
    * caller-supplied (UTC+8 in the reference) so rendering is pure.
    */
  def renderEmailHtml(results: Seq[(MarketSummary, Seq[String])],
                      reportTime: String): String =
    s"""<html>
       |<body style="font-family:sans-serif;background-color:#f4f7f6;padding:20px;">
       |  <div style="max-width:600px;margin:auto;background:white;padding:25px;border-radius:12px;border-top:10px solid #007bff;">
       |    <h1 style="text-align:center;color:#333;font-size:24px;">Warehouse monitoring report</h1>
       |    <p style="text-align:center;color:#888;">report time: $reportTime</p>
       |${results.map { case (s, f) => marketSectionHtml(s, f) }.mkString("\n")}
       |    <p style="font-size:12px;color:#bbb;text-align:center;">automated delivery — do not reply.</p>
       |  </div>
       |</body>
       |</html>""".stripMargin
}
