package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the reachability rule for the engine layers: every public
  * `def` and every defaulted parameter under graft/ops, graft/streaming
  * or graft/sources has a caller in src/main, or sits on an allowlist
  * below that names its reason.
  *
  * Reachability is transitive and name-based. The roots are the code of
  * every src/main file outside the three layers (the queries, the mains,
  * the extensions), the three layers' code outside any `def` (object
  * fields, case classes), and every `override def` (called by Spark).
  * A def is reached when a reached text names it: unqualified, on an
  * instance (`x.name`), or through one of its enclosing objects or
  * classes (`Owner.name`); a name behind any other type (`Other.name`)
  * does not count. Only a reached def's body is read for further names,
  * so a def reached only from an unreached or allowlisted def is not
  * reached. A name shared by two defs reaches both: the scan can miss a
  * dead def, never fail a live one.
  *
  * A defaulted parameter is set when a call in reached text passes it,
  * by position or by name. Both allowlists may only shrink: an entry
  * whose def has gained a caller or is gone fails the scan, and each
  * list's size is pinned at most at its count below.
  */
class ReachSpec extends AnyFunSuite {
  import ReachSpec._

  private lazy val scan = Scan(SourceScan.mainSources())

  test("every public def in the engine layers is reached from src/main or allowlisted") {
    val unreached = scan.unreachedPublic
    val offenders = unreached.filterNot(d => Allowed.contains(d.key))
    val stale = Allowed.keySet -- unreached.map(_.key)
    assert(offenders.isEmpty && stale.isEmpty,
      offenders.map(d => s"${d.path}:${d.line} ${d.name}: no caller in src/main")
        .mkString("\n", "\n", "") +
      stale.toSeq.sorted.map(k => s"$k: on the allowlist but reached or gone; delete the entry")
        .mkString("\n", "\n", ""))
    assert(Allowed.size <= MaxAllowed && Allowed.values.forall(_.trim.nonEmpty))
  }

  test("every defaulted parameter in the engine layers is set by a src/main caller or allowlisted") {
    val unset = scan.unsetKnobs
    val offenders = unset.filterNot(k => AllowedKnobs.contains(k.toString))
    val stale = AllowedKnobs.keySet -- unset.map(_.toString)
    assert(offenders.isEmpty && stale.isEmpty,
      offenders.map(k => s"${k.path}:${scan.lineOf(k.path, k.at)} ${k.owner}.${k.param}: " +
        "no src/main caller sets it").mkString("\n", "\n", "") +
      stale.toSeq.sorted.map(k => s"$k: on the allowlist but set or gone; delete the entry")
        .mkString("\n", "\n", ""))
    assert(AllowedKnobs.size <= MaxAllowedKnobs && AllowedKnobs.values.forall(_.trim.nonEmpty))
  }

  test("the scan is transitive: a def reached only from an unreached def stays unreached") {
    val s = Scan(Seq(
      "graft/Root.scala" -> "object Root { def q = s\"${graft.ops.A.used(1, j = 2)}\" }",
      "graft/ops/A.scala" ->
        """object A {
          |  def used(x: Int, k: Int = 1, j: Int = 0) = helper(x) + Other.chain(x)
          |  private def helper(x: Int) = x
          |  def dead(x: Int) = deadOnly(x)
          |  def deadOnly(x: Int, k: Int = 2) = x * k
          |  def chain(x: Int) = x
          |  override def toString = "A"
          |}
          |""".stripMargin,
      "graft/ops/B.scala" ->
        """object B {
          |  // dead(1) in a comment, and "dead" in a string, reach nothing
          |  def chain(x: Int) = A.dead(x)
          |}
          |""".stripMargin))
    assert(s.unreachedPublic.map(d => s"${d.path}:${d.line} ${d.name}") ==
      Seq("graft/ops/A.scala:4 dead", "graft/ops/A.scala:5 deadOnly",
        "graft/ops/A.scala:6 chain", "graft/ops/B.scala:3 chain"))
    assert(s.unsetKnobs.map(_.toString) == Seq("graft/ops/A.scala:used.k"))
  }
}

object ReachSpec {

  private val ListSources = "reference surface: the stock-list downloaders' parsing half " +
    "(SURVEY §2.1 S1/S3/S4/S5); no lifecycle step ingests a stock list yet"
  private val EdgeNormalize = "reference surface: the downloaders' edge normalization " +
    "(SURVEY §2.3); no lifecycle step ingests a stock list yet"
  private val NotifierSink = "reference surface: the notifier's Telegram/email payloads " +
    "(notifier.py:40-119); the lifecycle renders only the text report"

  /** Public defs no query reaches, kept with the reason named. */
  val Allowed: Map[String, String] = Map(
    "graft/ops/Normalize.scala:excelIntFix" -> EdgeNormalize,
    "graft/ops/Normalize.scala:validSymbol" -> EdgeNormalize,
    "graft/ops/Normalize.scala:isDerivativeName" -> EdgeNormalize,
    "graft/ops/Normalize.scala:pickDateColumn" -> EdgeNormalize,
    "graft/ops/Normalize.scala:withNormalizedDate" -> EdgeNormalize,
    "graft/ops/Normalize.scala:skipCategory" -> EdgeNormalize,
    "graft/ops/Normalize.scala:jpCommonStock" -> EdgeNormalize,
    "graft/ops/Normalize.scala:cleanHeaderCell" -> EdgeNormalize,
    "graft/ops/Notifier.scala:failSummary" -> NotifierSink,
    "graft/ops/Notifier.scala:marketSectionHtml" -> NotifierSink,
    "graft/ops/Notifier.scala:marketSectionTelegram" -> NotifierSink,
    "graft/ops/Notifier.scala:renderTelegram" -> NotifierSink,
    "graft/ops/Notifier.scala:renderEmailHtml" -> NotifierSink,
    "graft/sources/ListAdapters.scala:cleanCell" -> ListSources,
    "graft/sources/ListAdapters.scala:parseHtmlTables" -> ListSources,
    "graft/sources/ListAdapters.scala:htmlTableDf" -> ListSources,
    "graft/sources/ListAdapters.scala:fromCells" -> ListSources,
    "graft/sources/ListAdapters.scala:discoverHeaderRow" -> ListSources,
    "graft/sources/ListAdapters.scala:reHeader" -> ListSources,
    "graft/sources/ListAdapters.scala:fuzzyColumn" -> ListSources,
    "graft/sources/ListAdapters.scala:normalizeCode5d" -> ListSources,
    "graft/sources/ListAdapters.scala:hkStockList" -> ListSources,
    "graft/sources/ListAdapters.scala:twStockList" -> ListSources,
    "graft/sources/ListAdapters.scala:twStockLists" -> ListSources,
    "graft/sources/ListAdapters.scala:jpStockList" -> ListSources,
    "graft/sources/ListAdapters.scala:kindIndustryMap" -> ListSources)

  /** Lower it when an entry goes; never raise it. */
  val MaxAllowed = 26

  private val Cap = "a hot-key cap, off by default; a spec arms it on a small fixture and " +
    "pins what it drops and what it keeps"
  private val Cadence = "the compaction cadence of a long-running stream; a spec reaches a " +
    "compaction in 3 batches instead of 16 and pins that replays still converge"
  private val QueryCap = "the bounded-query guard's cap: a caller that owns the broadcast " +
    "sizing raises it or disables it with <= 0; a spec trips it at 10 on a 40-row fixture"

  /** Defaulted parameters no src/main caller sets, kept with the reason
    * named. */
  val AllowedKnobs: Map[String, String] = Map(
    "graft/ops/Asof.scala:joinAsOf.tolerance" -> ("the as-of join's match bound " +
      "(pandas merge_asof tolerance); AsofSpec pins that it is inclusive"),
    "graft/ops/Dedup.scala:ophCandidatePairs.maxBucket" -> Cap,
    "graft/ops/Dedup.scala:duplicateClusters.saltFactor" -> ("hub-key salting of the " +
      "label propagation, off by default; a spec checks a 1e5-spoke star labels the same salted"),
    "graft/ops/Events.scala:marketBasket.maxBasket" -> Cap,
    "graft/ops/Graph.scala:linkPredictionScores.maxDegree" -> Cap,
    "graft/ops/Text.scala:phoneticBlocking.maxBlock" -> Cap,
    "graft/ops/Lifecycle.scala:MarketConfig.useSnapshot" -> ("the store-path switch; " +
      "ROADMAP item 6 removes it together with the plain-parquet path"),
    "graft/ops/Lifecycle.scala:MarketConfig.startDate" -> ("the reference's hot/cold " +
      "backfill window (downloader_tw.py:80); LifecycleSpec pins the ingest clamp"),
    "graft/ops/Lifecycle.scala:MarketConfig.endDate" -> ("the reference's hot/cold " +
      "backfill window (downloader_tw.py:80); LifecycleSpec pins the ingest clamp"),
    "graft/ops/Multimodal.scala:wavBytes.sampleRate" -> ("a WAV header field; the writer " +
      "is also the fixture generator, and the round-trip property covers three rates"),
    "graft/ops/Multimodal.scala:decodeFeaturesBatched.open" -> ("the codec seam: a " +
      "deployment plugs its decoder in here; MultimodalSpec swaps a second decoder in"),
    "graft/ops/Profile.scala:paretoFrontier2D.bucketWidth" -> ("the two-level scan's " +
      "bucket width; a spec crosses bucket edges on a small fixture and gets the same frontier"),
    "graft/ops/Profile.scala:mannWhitneyVsRest.bucketWidth" -> ("the two-level rank " +
      "scan's bucket width; a spec forces many buckets on a small fixture and matches " +
      "brute-force U"),
    "graft/ops/Similarity.scala:bruteForceTopK.maxQueries" -> QueryCap,
    "graft/ops/Similarity.scala:bruteForceTopKL2.maxQueries" -> QueryCap,
    "graft/ops/Similarity.scala:pqAdcTopK.maxQueries" -> QueryCap,
    "graft/ops/Similarity.scala:mmrRerank.lamNum" -> ("MMR's relevance/diversity trade-off " +
      "λ, the operator's defining parameter; a spec demotes a redundant twin at λ = 0.3"),
    "graft/ops/Similarity.scala:mmrRerank.lamDen" -> ("MMR's relevance/diversity trade-off " +
      "λ, the operator's defining parameter; a spec demotes a redundant twin at λ = 0.3"),
    "graft/ops/Similarity.scala:cosineNearDupPairsExact.blocks" -> ("the kernel's shard " +
      "count, sized to the corpus (tasks B²/2, memory 2 blocks a task); a spec checks the " +
      "pairs do not depend on it"),
    "graft/ops/Text.scala:fuzzyJoin.maxBlockPairs" -> ("arms the density guard that " +
      "fuzzyResolveBest arms from a query; FuzzyJoinSpec pins it on the single-pass join"),
    "graft/ops/Text.scala:fuzzyJoinSegments.maxBlockPairs" -> ("arms the density guard that " +
      "fuzzyResolveBest arms from a query; FuzzyJoinSpec pins it on the segmented join"),
    "graft/sources/Snapshot.scala:commitStaged.partitionCol" -> ("a staged commit of a " +
      "partitioned table must carry its partition column; SnapshotSpec pins the typed read"),
    "graft/streaming/Streams.scala:intervalJoin.joinType" -> ("the join's semantics: an " +
      "outer stream join emits unmatched rows at the watermark, which StreamingSpec pins"),
    "graft/streaming/Streams.scala:dedupStream.compactEvery" -> Cadence,
    "graft/streaming/Streams.scala:erStream.compactEvery" -> Cadence,
    "graft/streaming/Streams.scala:erStream.vacuumKeep" -> ("bounds the disk of a " +
      "long-running stream, off by default; StreamingSpec pins that superseded versions' " +
      "files are reclaimed"))

  /** Lower it when an entry goes; never raise it. */
  val MaxAllowedKnobs = 26

  private val layers = Seq("graft/ops/", "graft/streaming/", "graft/sources/")
  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val defName = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val defining = """\b(?:def|val|var|lazy val|type|class|object|trait)\s+$""".r
  private val typeName = """\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  /** One `def` (not a local one) of the three layers. `owners` are the
    * objects, classes and traits around it; [start, end) is its span. */
  final case class Def(path: String, name: String, line: Int, start: Int, end: Int,
                       owners: Set[String], public: Boolean, overrides: Boolean) {
    def key: String = s"$path:$name"
  }

  final case class Scan(sources: Seq[(String, String)]) {
    private val code: Map[String, String] =
      sources.map { case (p, s) => p -> SourceScan.code(s) }.toMap

    def lineOf(path: String, at: Int): Int = code(path).substring(0, at).count(_ == '\n') + 1

    private def inLayers(path: String) = layers.exists(path.startsWith)

    private def indent(s: String, at: Int): Int = {
      val from = s.lastIndexOf('\n', at - 1) + 1
      s.indexWhere(c => c != ' ' && c != '\t', from) - from
    }

    /** End of the block starting on the line of `at`: the first later
      * line that is indented no deeper and does not close it. */
    private def spanEnd(s: String, at: Int): Int = {
      val ind = indent(s, at)
      var from = s.indexOf('\n', at) + 1
      while (from > 0 && from < s.length) {
        val first = s.indexWhere(c => c != ' ' && c != '\t', from)
        val lineEnd = s.indexOf('\n', from) match { case -1 => s.length; case e => e }
        if (first >= 0 && first < lineEnd) {
          val d = first - from
          val c = s(first)
          if (d < ind || (d == ind && c != '}' && c != ')')) return from
        }
        from = lineEnd + 1
      }
      s.length
    }

    /** Text before `at` on its line: the modifiers of a definition. */
    private def mods(s: String, at: Int): String = s.substring(s.lastIndexOf('\n', at - 1) + 1, at)

    val defs: Seq[Def] = code.toSeq.sortBy(_._1).filter(e => inLayers(e._1)).flatMap { case (path, s) =>
      val types = typeName.findAllMatchIn(s).map { m =>
        (m.group(1), m.start, spanEnd(s, m.start), mods(s, m.start).matches(".*\\b(private|protected)\\b.*"))
      }.toSeq
      val all = defName.findAllMatchIn(s).map { m =>
        val enclosing = types.filter(t => t._2 < m.start && m.start < t._3)
        val m0 = mods(s, m.start)
        Def(path, m.group(1), lineOf(path, m.start), m.start, spanEnd(s, m.start),
          enclosing.map(_._1).toSet,
          !m0.matches(".*\\b(private|protected)\\b.*") && !enclosing.exists(_._4),
          m0.matches(".*\\boverride\\b.*"))
      }.toSeq
      all.filterNot(d => all.exists(o => o.start < d.start && d.start < o.end))
    }

    /** (offset, name, qualifier) of every identifier in `s` that is
      * not being defined and not on an import line; the qualifier is the
      * identifier before a `.`. */
    private def names(s: String, from: Int, to: Int): Iterator[(Int, String, String)] =
      ident.findAllMatchIn(s.substring(from, to)).flatMap { m =>
        val at = from + m.start
        val before = s.substring(s.lastIndexOf('\n', at - 1) + 1, at)
        if (before.trim.startsWith("import") || defining.findFirstIn(before).nonEmpty) None
        else {
          var q = at - 1
          while (q >= 0 && s(q).isWhitespace && s(q) != '\n') q -= 1
          val qual = if (q >= 0 && s(q) == '.') {
            val e = q
            var b = q - 1
            while (b >= 0 && (s(b).isLetterOrDigit || s(b) == '_')) b -= 1
            s.substring(b + 1, e)
          } else ""
          Some((at, m.matched, qual))
        }
      }

    /** Does a name behind `qual` refer to a member of `d`? */
    private def refers(d: Def, qual: String): Boolean =
      qual.isEmpty || !qual.head.isUpper || d.owners.contains(qual)

    /** Regions of reached code as (path, from, to), and the reached defs. */
    val (regions, reached): (Seq[(String, Int, Int)], Set[Def]) = {
      val byName = defs.groupBy(_.name)
      val roots = code.toSeq.flatMap { case (path, s) =>
        if (!inLayers(path)) Seq((path, 0, s.length))
        else {
          val spans = defs.filter(d => d.path == path && !d.overrides).sortBy(_.start)
          val cuts = (0 +: spans.flatMap(d => Seq(d.start, d.end)) :+ s.length).grouped(2)
          cuts.collect { case Seq(a, b) if a < b => (path, a, b) }.toSeq
        }
      }
      var seen = Set.empty[Def]
      var todo = roots
      val all = Seq.newBuilder[(String, Int, Int)]
      while (todo.nonEmpty) {
        all ++= todo
        val next = for {
          (path, from, to) <- todo
          (at, n, qual) <- names(code(path), from, to)
          d <- byName.getOrElse(n, Nil)
          if !seen(d) && refers(d, qual)
        } yield d
        val fresh = next.distinct.filterNot(seen)
        seen ++= fresh
        todo = fresh.map(d => (d.path, d.start, d.end))
      }
      (all.result(), seen ++ defs.filter(_.overrides))
    }

    def unreachedPublic: Seq[Def] = defs.filter(d => d.public && !reached(d))

    /** Defaulted parameters of reached defs and case classes that no call
      * in reached code passes. */
    def unsetKnobs: Seq[SourceScan.Knob] = {
      val knobs = sources.filter(e => inLayers(e._1))
        .flatMap { case (p, s) => SourceScan.knobs(p, s) }
        .filter(k => defs.find(d => d.path == k.path && d.start == k.at).forall(reached))
      val wanted = knobs.map(_.owner).toSet + "copy"
      // every argument list of every call, by callee name
      val calls: Map[String, Seq[(String, Seq[Seq[String]])]] = regions.flatMap { case (path, from, to) =>
        val s = code(path)
        names(s, from, to).filter(n => wanted(n._2)).map { case (at, n, qual) =>
          var i = at + n.length
          def skipSpace(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
          skipSpace()
          if (i < s.length && s(i) == '[') { i = SourceScan.closing(s, i) + 1; skipSpace() }
          val lists = Seq.newBuilder[Seq[String]]
          while (i < s.length && (s(i) == '(' || s(i) == '{')) {
            val end = SourceScan.closing(s, i)
            lists += SourceScan.params(s.substring(i + 1, end)).map(_.trim)
            i = end + 1
            skipSpace()
          }
          (n, (qual, lists.result()))
        }
      }.groupMap(_._1)(_._2)
      val named = """^([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])""".r
      def sets(k: SourceScan.Knob, args: Seq[String]): Boolean = {
        val positional = args.takeWhile(a => named.findFirstIn(a).isEmpty && a.nonEmpty)
        positional.size > k.index || args.exists(a => named.findFirstMatchIn(a).exists(_.group(1) == k.param))
      }
      knobs.filterNot { k =>
        calls.getOrElse(k.owner, Nil).exists { case (_, lists) =>
          lists.size > k.list && sets(k, lists(k.list))
        } || k.ofClass && calls.getOrElse("copy", Nil).exists { case (_, lists) =>
          lists.headOption.exists(args => args.exists(a =>
            named.findFirstMatchIn(a).exists(_.group(1) == k.param)))
        }
      }
    }
  }
}
