package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one bounded exact-span path: a fixed-threshold question
  * ("does this g-window occur anywhere else?") reads the window-g frame
  * of `SuffixArray.buildTo` (`SuffixArray.repeatedWindows`), and only a
  * query whose result needs the COMPLETE suffix order doubles to the
  * sentinel bound with `SuffixArray.build`. Each such query is listed
  * below with its reason; the list may only shrink.
  */
class CompleteOrderSpec extends AnyFunSuite {

  private val Allowed: Map[String, String] = Map(
    "q356_suffix_array" -> ("its result is the array itself: per-doc " +
      "sums of every suffix-array rank"),
    "q357_repeated_spans" -> ("SA-adjacent pairs with their exact LCP " +
      "lengths, which no fixed window bounds"))
  private val MaxAllowed = 2

  test("SuffixArray.build( appears in src/main only in the queries that " +
      "need the complete order") {
    val call = """\bSuffixArray\s*\.\s*build\s*\(""".r
    val query = """"(q\d+_\w+)"\s*->""".r
    val hits = for {
      (path, src) <- SourceScan.mainSources()
      at <- call.findAllMatchIn(SourceScan.code(src)).map(_.start)
    } yield query.findAllMatchIn(src.substring(0, at)).toSeq.lastOption
      .fold(s"$path:${src.take(at).count(_ == '\n') + 1}")(_.group(1))
    val offenders = hits.filterNot(Allowed.contains)
    val stale = Allowed.keySet -- hits
    assert(offenders.isEmpty && stale.isEmpty,
      offenders.map(h => s"$h: builds the complete order; a fixed-window " +
        "question reads SuffixArray.repeatedWindows or buildTo")
        .mkString("\n", "\n", "") +
      stale.toSeq.sorted.map(q => s"$q: on the allowlist but no longer " +
        "calls SuffixArray.build; delete the entry").mkString("\n", "\n", ""))
    assert(Allowed.size <= MaxAllowed && Allowed.values.forall(_.trim.nonEmpty))
  }
}
