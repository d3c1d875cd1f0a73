package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the fixed-contract rule for the engine layers: a defaulted
  * parameter (a knob) under graft/ops, graft/streaming or graft/sources
  * exists only because two callers outside the tests need different
  * values. The count is pinned, so adding or removing a knob changes
  * the number below in plain view, in the same change.
  */
class KnobsSpec extends AnyFunSuite {

  /** `src` with comments dropped and string/char literal bodies blanked,
    * so brackets, commas and `=` inside them are not read as code.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def upTo(s: String, from: Int, extra: Int): Int =
      src.indexOf(s, from) match { case -1 => n; case k => k + extra }
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) { out ++= "\"\""; i = upTo("\"\"\"", i + 3, 3) }
      else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"') { if (src(j) == '\\') j += 1; j += 1 }
        out ++= "\"\""; i = j + 1
      }
      else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') { out ++= "' '"; i += 3 }
      else if (src(i) == '\'' && i + 1 < n && src(i + 1) == '\\') { out ++= "' '"; i = upTo("'", i + 2, 1) }
      else if (src.startsWith("//", i)) i = upTo("\n", i, 0)
      else if (src.startsWith("/*", i)) i = upTo("*/", i + 2, 2)
      else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Index of the bracket closing the one at `s(i)`. */
  private def closing(s: String, i: Int): Int = {
    val (open, close) = (s(i), if (s(i) == '(') ')' else ']')
    var depth = 0
    var j = i
    while ({
      if (s(j) == open) depth += 1 else if (s(j) == close) depth -= 1
      depth > 0
    }) j += 1
    j
  }

  /** The parameters of one parameter list, split at top-level commas. */
  private def params(list: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    list.indices.foreach { k =>
      list(k) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 => parts += list.substring(from, k); from = k + 1
        case _ => ()
      }
    }
    (parts += list.substring(from)).result()
  }

  /** True when a parameter carries a top-level `= default` (not `=>`,
    * `==`, `<=`, `>=` or `!=`).
    */
  private def defaulted(p: String): Boolean = {
    var depth = 0
    p.indices.exists { k =>
      p(k) match {
        case '(' | '[' | '{' => depth += 1; false
        case ')' | ']' | '}' => depth -= 1; false
        case '=' => depth == 0 && !(k + 1 < p.length && "=>".contains(p(k + 1))) &&
          !(k > 0 && "=<>!".contains(p(k - 1)))
        case _ => false
      }
    }
  }

  private val definition = """\b(?:def\s+[^\s(\[:=]+|case\s+class\s+\w+)""".r

  /** `path:name.param` for every defaulted parameter of a `def` or a
    * case-class constructor in `src`.
    */
  private def knobs(path: String, src: String): Seq[String] = {
    val s = code(src)
    def skipSpace(i: Int): Int = {
      var j = i
      while (j < s.length && s(j).isWhitespace) j += 1
      j
    }
    definition.findAllMatchIn(s).toSeq.flatMap { m =>
      val name = m.matched.split("\\s+").last
      var i = skipSpace(m.end)
      if (i < s.length && s(i) == '[') i = closing(s, i) + 1
      val found = Seq.newBuilder[String]
      i = skipSpace(i)
      while (i < s.length && s(i) == '(') {
        val end = closing(s, i)
        params(s.substring(i + 1, end)).filter(defaulted).foreach { p =>
          found += s"$path:$name.${p.trim.takeWhile(c => c != ':' && !c.isWhitespace)}"
        }
        i = skipSpace(end + 1)
      }
      found.result()
    }
  }

  test("graft/ops, graft/streaming and graft/sources carry 91 defaulted parameters") {
    val layers = Seq("graft/ops/", "graft/streaming/", "graft/sources/")
    val all = SourceScan.mainSources().collect {
      case (path, src) if layers.exists(path.startsWith) => knobs(path, src)
    }.flatten
    assert(all.size == 91,
      s"${all.size} defaulted parameters:" + all.mkString("\n", "\n", ""))
  }
}
