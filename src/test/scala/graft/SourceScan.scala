package graft

/** Source-scan support for the guard specs: the sources under
  * src/main/scala and one lexer for reading them as code. */
object SourceScan {

  /** Every `.scala` file under src/main/scala as (path relative to it,
    * contents), sorted by path. */
  def mainSources(): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => (root.relativize(p).toString.replace('\\', '/'),
          java.nio.file.Files.readString(p)))
        .toSeq.sortBy(_._1)
    } finally walk.close()
  }

  /** `src` with comments and the bodies of string and char literals
    * blanked to spaces, so brackets, commas, `=` and names inside them
    * are not read as code. The code spliced into an interpolated string
    * (`s"${f(x)}"`, `s"$x"`) stays. Every other character keeps its
    * offset, so an offset's line and column are those in `src`.
    */
  def code(src: String): String = {
    val out = src.toCharArray
    val n = src.length
    def blank(from: Int, to: Int): Unit =
      (from until (to min n)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def upTo(s: String, from: Int, extra: Int): Int =
      src.indexOf(s, from) match { case -1 => n; case k => k + extra }
    /** End (exclusive) of the `${...}` splice whose `{` is at `k`. */
    def splice(k: Int): Int = {
      var depth = 0
      var j = k
      while (j < n && { if (src(j) == '{') depth += 1 else if (src(j) == '}') depth -= 1; depth > 0 }) j += 1
      j + 1
    }
    /** Blanks the literal body [from, to), keeping an interpolator's splices. */
    def literal(from: Int, to: Int, interp: Boolean): Unit = {
      var k = from
      while (k < to) {
        if (interp && src(k) == '$' && k + 1 < to && src(k + 1) == '{') {
          val e = splice(k + 1) min to
          code(src.substring(k + 2, e - 1)).copyToArray(out, k + 2)
          out(k) = ' '; out(k + 1) = '('; out(e - 1) = ')'
          k = e
        } else if (interp && src(k) == '$' && k + 1 < to && (src(k + 1).isLetter || src(k + 1) == '_')) {
          out(k) = ' '
          k += 1
          while (k < to && (src(k).isLetterOrDigit || src(k) == '_')) k += 1
        } else { blank(k, k + 1); k += 1 }
      }
    }
    var i = 0
    while (i < n) {
      val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
      if (src.startsWith("\"\"\"", i)) {
        var e = upTo("\"\"\"", i + 3, 0)
        while (e + 3 < n && src(e + 3) == '"') e += 1
        literal(i + 3, e, interp); i = e + 3
      }
      else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"') {
          if (src(j) == '\\') j += 2
          else if (interp && src(j) == '$' && j + 1 < n && src(j + 1) == '{') j = splice(j + 1)
          else j += 1
        }
        literal(i + 1, j, interp); i = j + 1
      }
      else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') { blank(i + 1, i + 2); i += 3 }
      else if (src(i) == '\'' && i + 1 < n && src(i + 1) == '\\') {
        val e = upTo("'", i + 3, 0); blank(i + 1, e); i = e + 1
      }
      else if (src.startsWith("//", i)) { val e = upTo("\n", i, 0); blank(i, e); i = e }
      else if (src.startsWith("/*", i)) { val e = upTo("*/", i + 2, 2); blank(i, e); i = e }
      else i += 1
    }
    new String(out)
  }

  /** Index of the bracket closing the one at `s(i)`. */
  def closing(s: String, i: Int): Int = {
    val (open, close) = s(i) match {
      case '(' => ('(', ')'); case '[' => ('[', ']'); case _ => ('{', '}')
    }
    var depth = 0
    var j = i
    while ({
      if (s(j) == open) depth += 1 else if (s(j) == close) depth -= 1
      depth > 0
    }) j += 1
    j
  }

  /** The parameters (or arguments) of one list, split at top-level commas. */
  def params(list: String): Seq[String] = {
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

  /** A defaulted parameter: parameter `param` of `owner` (a `def`, or a
    * case class when `ofClass`), at position `index` of its parameter
    * list `list`; `at` is the offset of the definition in the file. */
  final case class Knob(path: String, owner: String, ofClass: Boolean, list: Int,
                        index: Int, param: String, at: Int) {
    override def toString: String = s"$path:$owner.$param"
  }

  /** Every defaulted parameter of a `def` or a case-class constructor in
    * `src`, the file at `path`. */
  def knobs(path: String, src: String): Seq[Knob] = {
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
      val found = Seq.newBuilder[Knob]
      var list = 0
      i = skipSpace(i)
      while (i < s.length && s(i) == '(') {
        val end = closing(s, i)
        params(s.substring(i + 1, end)).zipWithIndex.filter(p => defaulted(p._1)).foreach {
          case (p, k) =>
            val param = p.trim.split("\\s+").filterNot(Set("val", "var", "implicit"))
              .headOption.getOrElse("").takeWhile(c => c != ':')
            found += Knob(path, name, m.matched.startsWith("case"), list, k, param, m.start)
        }
        list += 1
        i = skipSpace(end + 1)
      }
      found.result()
    }
  }
}
