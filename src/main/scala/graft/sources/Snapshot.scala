package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.ops.{Merge, Pipeline}

/** A minimal transactional table format over plain parquet — the
  * manifest/snapshot commit protocol that gives the K1 merge path the
  * atomicity the reference gets per-row from SQLite (and plain
  * dynamic-partition overwrite lacks: a failed overwrite there leaves
  * the table half-rewritten).
  *
  * Layout:
  * {{{
  *   table/
  *     data/<commit-uuid>/<pcol>=<value>/part-*.parquet   (immutable)
  *     _manifests/v00000042.manifest                      (one per commit)
  * }}}
  *
  * Protocol (Delta-lite):
  *  - a commit first writes NEW data directories (never touching old
  *    ones), then publishes a manifest listing the snapshot's COMPLETE
  *    directory set, via write-temp + atomic rename-no-overwrite;
  *  - readers list `_manifests` and take the highest version — a crash
  *    anywhere before the rename leaves only unreferenced orphan data,
  *    and the previous snapshot stays live;
  *  - two racing writers target the same next version; the rename makes
  *    exactly one win — the loser gets a ConcurrentCommitException and
  *    retries on top of the winner's snapshot;
  *  - old manifests remain readable (time travel) until `vacuum`.
  *
  * Scale posture: a merge commit rewrites only the partitions the batch
  * touches and re-references every untouched directory from the prior
  * manifest, so commit cost tracks the touched-partition volume plus one
  * small manifest file — same economics as Merge.upsertIntoPath but
  * atomic. Partition values ride in directory names; the read path
  * re-injects the column by parsing `input_file_name()` (codegen'd
  * regexp on the scan, no extra join), and partition pruning happens
  * manifest-side before the scan ever starts.
  */
object Snapshot {

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** Spark escapes partition values in directory names (':' → '%3A',
    * null → __HIVE_DEFAULT_PARTITION__, see
    * ExternalCatalogUtils.escapePathName); every comparison between an
    * incoming VALUE and a directory SUFFIX must happen on one side of
    * that encoding. Driver-side we unescape with the same utility Spark
    * wrote the path with.
    */
  private val NullPartitionName =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  private def escapeValue(v: String): String =
    if (v == null) NullPartitionName
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  private def unescapeValue(suffix: String): String =
    if (suffix == NullPartitionName) null
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(suffix)

  /** List a directory's entries eagerly, closing the OS handle —
    * Files.list streams otherwise leak one descriptor per call in a
    * long-running driver doing many commits/reads.
    */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Per-directory file statistics, harvested from the parquet FOOTERS
    * already written (no second pass over the data): exact row count and
    * per-column min/max in a canonical string encoding (numbers as
    * decimal strings, dates ISO — both orders agree with value order).
    * A column absent from the maps has no usable stats (unknown), never
    * "no rows" — consumers must stay conservative.
    */
  final case class DirStats(rows: Long, mins: Map[String, String],
                            maxs: Map[String, String])

  /** One snapshot: the complete set of data directories (absolute),
    * partition column name + catalog type ("" when unpartitioned), the
    * DATA schema (partition column excluded) as StructType JSON — the
    * source of truth for reads, so directories written before a schema
    * evolution read back with the evolved schema (absent columns
    * null-fill at scan time) — and optional per-directory stats (absent
    * for dirs written before stats existed; carried by reference across
    * merges exactly like the dirs themselves).
    */
  final case class Manifest(version: Long, partitionCol: String,
                            partitionType: String, dataSchemaJson: String,
                            dirs: Seq[String],
                            stats: Map[String, DirStats] = Map.empty,
                            fileStats: Map[String, DirStats] = Map.empty,
                            wapId: String = "",
                            dvDirs: Seq[String] = Seq.empty,
                            uvDirs: Seq[String] = Seq.empty,
                            uvKey: String = "") {
    def dataSchema: StructType =
      DataType.fromJson(dataSchemaJson).asInstanceOf[StructType]
    /** Per-file stats grouped under their parent directory. */
    def filesUnder(dir: String): Map[String, DirStats] =
      fileStats.filter { case (f, _) =>
        Paths.get(f).getParent.toString == dir }
  }

  private def manifestDir(table: String): Path = Paths.get(table, "_manifests")

  private def manifestPath(table: String, v: Long): Path =
    manifestDir(table).resolve(f"v$v%08d.manifest")

  private def parseVersion(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".manifest"))
      name.stripPrefix("v").stripSuffix(".manifest").toLongOption
    else None

  def versions(table: String): Seq[Long] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir)
      .flatMap(p => parseVersion(p.getFileName.toString)).sorted
  }

  def latestVersion(table: String): Option[Long] = versions(table).lastOption

  private def urlEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Dir lines are `path` (no stats — pre-stats manifests parse
    * unchanged) or `path TAB rows [TAB col TAB min TAB max]...` with
    * URL-encoded stat fields so values may contain tabs. Per-FILE stat
    * lines are `F TAB path TAB rows [TAB col TAB min TAB max]...` —
    * the `F` marker can't collide with a dir line, whose first field is
    * an absolute path; manifests without them (pre-file-stats) parse
    * unchanged with empty fileStats.
    */
  def readManifest(table: String, v: Long): Manifest = {
    val m = parseManifest(
      Files.readAllLines(manifestPath(table, v), UTF_8).asScala.toSeq)
    require(m.version == v, s"corrupt manifest v$v: claims ${m.version}")
    m
  }

  private def parseManifest(lines: Seq[String]): Manifest = {
    val header = lines.head.split("\t", -1)
    // 3 fields = pre-wap manifests (parse unchanged); an optional 4th
    // carries the write-audit-publish id the version was published from
    require(header.length == 3 || header.length == 4,
      s"corrupt manifest header: ${lines.head}")
    val wapId = if (header.length == 4) urlDecode(header(3)) else ""
    val v = header(0).toLong
    def triples(fields: Seq[String]) = fields.grouped(3).collect {
      case Seq(c, mn, mx) => (urlDecode(c), urlDecode(mn), urlDecode(mx))
    }.toSeq
    def statsOf(rows: String, fields: Seq[String]) = {
      val t = triples(fields)
      DirStats(rows.toLong, t.map(x => x._1 -> x._2).toMap,
        t.map(x => x._1 -> x._3).toMap)
    }
    val (fileLines, rest) = lines.drop(2).partition(_.startsWith("F\t"))
    // `D TAB path` lines carry deletion-vector directories (parquet of
    // deleted key values, applied as an anti-join at read time);
    // `U TAB path TAB key` lines carry merge-on-read UPSERT sidecars
    // (full rows; later sidecars win per key). Pre-MoR manifests have
    // neither and parse unchanged.
    val (dvLines, rest2) = rest.partition(_.startsWith("D\t"))
    val (uvLines, dirLines) = rest2.partition(_.startsWith("U\t"))
    val parsed = dirLines.map { line =>
      val f = line.split("\t", -1)
      if (f.length < 2) (f(0), None)
      else (f(0), Some(statsOf(f(1), f.drop(2).toSeq)))
    }
    val fstats = fileLines.map { line =>
      val f = line.split("\t", -1)
      f(1) -> statsOf(f(2), f.drop(3).toSeq)
    }.toMap
    val uvKeys = uvLines.map(l => urlDecode(l.split("\t", -1)(2))).distinct
    require(uvKeys.size <= 1,
      s"upsert sidecars must share one key; found $uvKeys")
    Manifest(v, header(1), header(2), lines(1), parsed.map(_._1),
      parsed.collect { case (d, Some(st)) => d -> st }.toMap, fstats,
      wapId, dvLines.map(_.split("\t", -1)(1)),
      uvLines.map(_.split("\t", -1)(1)), uvKeys.headOption.getOrElse(""))
  }

  private def manifestBody(m: Manifest): String = {
    def statFields(st: DirStats): Seq[String] =
      st.rows.toString +: st.mins.keys.toSeq.sorted.flatMap(c =>
        Seq(urlEncode(c), urlEncode(st.mins(c)), urlEncode(st.maxs(c))))
    val dirLines = m.dirs.map { d =>
      m.stats.get(d) match {
        case None => d
        case Some(st) => (d +: statFields(st)).mkString("\t")
      }
    }
    val fileLines = m.fileStats.toSeq.sortBy(_._1).map { case (f, st) =>
      (Seq("F", f) ++ statFields(st)).mkString("\t")
    }
    val dvLines = m.dvDirs.map(d => s"D\t$d")
    val uvLines = m.uvDirs.map(d => s"U\t$d\t${urlEncode(m.uvKey)}")
    val header = s"${m.version}\t${m.partitionCol}\t${m.partitionType}" +
      (if (m.wapId.isEmpty) "" else s"\t${urlEncode(m.wapId)}")
    (Seq(header, m.dataSchemaJson) ++ dirLines ++ fileLines ++ dvLines
      ++ uvLines).mkString("", "\n", "\n")
  }

  private def writeManifest(table: String, m: Manifest): Unit = {
    Files.createDirectories(manifestDir(table))
    val body = manifestBody(m)
    val tmp = manifestDir(table).resolve(
      s".tmp-${java.util.UUID.randomUUID().toString}")
    Files.write(tmp, body.getBytes(UTF_8))
    // Publish = hard-link the fully-written temp onto the version name:
    // link(2) atomically fails if the target exists, so exactly one
    // writer wins a version. (POSIX rename(2) — ATOMIC_MOVE — would
    // silently REPLACE the winner's manifest; on object stores / HDFS
    // the equivalent primitive is rename-no-overwrite / put-if-absent.)
    try Files.createLink(manifestPath(table, m.version), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentCommitException(
          s"version ${m.version} of $table was committed concurrently")
    } finally Files.deleteIfExists(tmp)
  }

  /** Write a NEW data directory set for `df` and return the dirs with
    * their footer-derived stats — nothing is published until the
    * manifest rename.
    */
  private def writeData(df: DataFrame, table: String,
                        partitionCol: Option[String]): (Seq[String], Map[String, DirStats], Map[String, DirStats]) = {
    val commitId = java.util.UUID.randomUUID().toString
    val dataRoot = Paths.get(table, "data", commitId)
    val dirs = partitionCol match {
      case Some(pc) =>
        df.write.partitionBy(pc).parquet(dataRoot.toString)
        listDir(dataRoot)
          .filter(p => Files.isDirectory(p) && p.getFileName.toString.contains("="))
          .map(_.toString).sorted
      case None =>
        df.write.parquet(dataRoot.toString)
        Seq(dataRoot.toString)
    }
    val dataSchema = StructType(
      df.schema.filterNot(f => partitionCol.contains(f.name)))
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val harvested = dirs.map(d => d -> harvestDir(d, dataSchema, conf))
    (dirs, harvested.map { case (d, (st, _)) => d -> st }.toMap,
      harvested.flatMap(_._2._2).toMap)
  }

  /** Types whose parquet footer min/max we can decode into the canonical
    * string encoding (decimal strings for numbers, ISO for dates, the
    * value itself for strings) — both encodings sort like the values.
    *
    * Float/Double are EXCLUDED: parquet writers silently skip NaN when
    * recording min/max, while Spark's comparison semantics order NaN
    * above every value — trusting those stats would prune directories
    * whose NaN rows a `col >= x` filter matches (SnapshotSpec pins the
    * conservative behavior). Dates, integers and strings — the realistic
    * pruning keys — keep full stats.
    */
  private def statsSupported(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | StringType => true
      case _ => false
    }
  }

  private def encodeStat(dt: DataType, v: Any): Option[String] = {
    import org.apache.spark.sql.types._
    val s = dt match {
      case DateType =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue).toString
      case StringType =>
        v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
      case _ => v.toString
    }
    dt match {
      case DateType | StringType => Some(s)
      case _ => // reject NaN/Infinity — not orderable in the decimal encoding
        scala.util.Try { new java.math.BigDecimal(s); s }.toOption
    }
  }

  /** Compare two canonical stat strings under the column's type order.
    * Strings compare by UNSIGNED UTF-8 BYTES — the order parquet footers
    * record min/max in and the order Spark's UTF8String sorts by (code
    * points). Java's String.compareTo orders by UTF-16 code units, which
    * disagrees for supplementary-plane characters (surrogates 0xD800+)
    * vs U+E000–U+FFFF: under it a footer max of "😀" would sort BELOW a
    * probe of "" and readStatsPruned would skip a directory that
    * contains matching rows — silent row loss (SnapshotSpec pins the
    * case).
    */
  private def statCompare(dt: DataType, a: String, b: String): Int = dt match {
    case _: org.apache.spark.sql.types.NumericType =>
      new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case org.apache.spark.sql.types.StringType =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case _ => a.compareTo(b) // ISO dates (ASCII, both orders agree)
  }

  /** Harvest exact row counts and per-column min/max from the parquet
    * footers of every file in `dir` — metadata-only reads, no data scan
    * (the same trick Delta/Iceberg use, done at commit time so readers
    * get stats for free from the manifest). Returns the directory
    * envelope plus ONE stats entry per file (the file-level skipping
    * granularity readStatsPruned uses). A column with missing or
    * undecodable stats in ANY block is dropped from the DIR envelope
    * (unknown) and from the affected file's entry; an all-null block
    * contributes nothing but doesn't poison the column.
    */
  private def harvestDir(dir: String, schema: StructType,
                         conf: org.apache.hadoop.conf.Configuration): (DirStats, Map[String, DirStats]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val tracked = schema.fields.filter(f => statsSupported(f.dataType))
      .map(f => f.name -> f.dataType).toMap
    val files = listDir(Paths.get(dir))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val perFile = files.map { f =>
      var rows = 0L
      val mins = scala.collection.mutable.Map.empty[String, String]
      val maxs = scala.collection.mutable.Map.empty[String, String]
      val bad = scala.collection.mutable.Set.empty[String]
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), conf))
      try {
        reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { chunk =>
            val name = chunk.getPath.toDotString
            tracked.get(name).foreach { dt =>
              val st = chunk.getStatistics
              if (st == null || st.isEmpty) bad += name
              else if (st.hasNonNullValue) {
                (encodeStat(dt, st.genericGetMin), encodeStat(dt, st.genericGetMax)) match {
                  case (Some(mn), Some(mx)) =>
                    if (!mins.contains(name) || statCompare(dt, mn, mins(name)) < 0)
                      mins(name) = mn
                    if (!maxs.contains(name) || statCompare(dt, mx, maxs(name)) > 0)
                      maxs(name) = mx
                  case _ => bad += name
                }
              } // all-null block: no contribution, not poisonous
            }
          }
        }
      } finally reader.close()
      (f.toString, DirStats(rows, (mins -- bad).toMap, (maxs -- bad).toMap),
        bad.toSet)
    }
    // dir envelope: fold the per-file ranges; a column undecodable in
    // ANY file is unknown at dir level (same semantics as the previous
    // block-level fold)
    val dirBad = perFile.flatMap(_._3).toSet
    val dirMins = scala.collection.mutable.Map.empty[String, String]
    val dirMaxs = scala.collection.mutable.Map.empty[String, String]
    perFile.foreach { case (_, st, _) =>
      st.mins.foreach { case (c, mn) =>
        val dt = tracked(c)
        if (!dirMins.contains(c) || statCompare(dt, mn, dirMins(c)) < 0)
          dirMins(c) = mn
        val mx = st.maxs(c)
        if (!dirMaxs.contains(c) || statCompare(dt, mx, dirMaxs(c)) > 0)
          dirMaxs(c) = mx
      }
    }
    (DirStats(perFile.map(_._2.rows).sum,
        (dirMins -- dirBad).toMap, (dirMaxs -- dirBad).toMap),
      perFile.map(p => p._1 -> p._2).toMap)
  }

  /** Exact `count(*)` of the latest version from manifest stats alone —
    * no scan, no Spark job.
    * None when any directory predates stats (unknown ≠ zero).
    */
  def countStar(table: String): Option[Long] = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    // outstanding deletion vectors make the manifest row counts an
    // overcount (how many DV keys actually hit rows is data-dependent)
    if (m.dvDirs.isEmpty && m.uvDirs.isEmpty &&
      m.dirs.forall(m.stats.contains))
      Some(m.dirs.map(m.stats(_).rows).sum)
    else None
  }

  /** Stats-based data skipping on ANY tracked column (not just the
    * partition column): read only directories whose [min,max] intersects
    * [lo,hi] (each bound optional/inclusive, canonical string encoding —
    * ISO for dates, decimal strings for numbers), then — where the
    * manifest carries per-FILE stats (any commit since they exist) —
    * only the intersecting FILES inside those directories. Directories/
    * files without stats for the column are conservatively kept. The
    * caller still applies the real filter — this only shrinks the scan.
    * Pair with a `clusterBy` commit to make the per-file ranges tight.
    */
  /** PRUNING-EFFECTIVENESS report for a [lo, hi] predicate on one
    * column — the data-skipping observability read: before running a
    * pruned scan, how many files/rows would the zone maps actually
    * skip? Same intersects logic as [[readStatsPruned]], evaluated
    * over the manifest's file stats only. Output one row:
    * (n_files, files_scanned, files_skipped, rows_total,
    * rows_scanned, skip_micro).
    */
  def pruningReport(spark: SparkSession, table: String, column: String,
                    lo: Option[String], hi: Option[String]): DataFrame = {
    import spark.implicits._
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    val dt = m.dataSchema.find(_.name == column).map(_.dataType).getOrElse(
      throw new IllegalArgumentException(s"$table has no data column '$column'"))
    def intersects(st: DirStats): Boolean =
      if (!st.mins.contains(column)) true
      else lo.forall(l => statCompare(dt, st.maxs(column), l) >= 0) &&
        hi.forall(h => statCompare(dt, st.mins(column), h) <= 0)
    val files = m.dirs.flatMap(d => m.filesUnder(d).values)
    val scanned = files.filter(intersects)
    val nf = files.size.toLong
    val ns = scanned.size.toLong
    val rt = files.map(_.rows).sum
    val rs = scanned.map(_.rows).sum
    Seq((nf, ns, nf - ns, rt, rs,
      if (rt == 0) 0L else (rt - rs) * 1000000L / rt))
      .toDF("n_files", "files_scanned", "files_skipped", "rows_total",
        "rows_scanned", "skip_micro")
  }

  def readStatsPruned(spark: SparkSession, table: String, column: String,
                      lo: Option[String], hi: Option[String]): DataFrame = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    val dt = m.dataSchema.find(_.name == column).map(_.dataType).getOrElse(
      throw new IllegalArgumentException(s"$table has no data column '$column'"))
    def intersects(st: DirStats): Boolean =
      if (!st.mins.contains(column)) true // unknown: must keep
      else lo.forall(l => statCompare(dt, st.maxs(column), l) >= 0) &&
        hi.forall(h => statCompare(dt, st.mins(column), h) <= 0)
    val keptDirs = m.dirs.filter(d => m.stats.get(d).forall(intersects))
    // file-level refinement: a commit's file set is immutable, so the
    // manifest's file entries under a dir ARE its complete file list —
    // a dir with entries scans only the intersecting files (possibly
    // none: the dir envelope can cover a range its files skip over)
    val scanPaths = keptDirs.flatMap { d =>
      val files = m.filesUnder(d)
      if (files.isEmpty) Seq(d)
      else files.collect { case (f, st) if intersects(st) => f }.toSeq.sorted
    }
    if (scanPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(spark, table, Some(v)).schema)
    else {
      val df = spark.read.schema(m.dataSchema).parquet(scanPaths: _*)
      applyUv(spark, m, applyDv(spark, m,
        if (m.partitionCol.isEmpty) df
        else injectPartitionCol(df, m.partitionCol, m.partitionType)))
    }
  }

  /** Point-lookup pruned read: scan only the files whose footer
    * [min,max] can contain AT LEAST ONE of `keys` (canonical string
    * encoding, like [[readStatsPruned]]'s bounds) — the candidate-
    * verification scan shape: a dedup/ER batch matches a bounded id
    * set against a huge corpus snapshot, and with a `clusterBy(id)`
    * commit the per-file ranges are disjoint, so the scan touches
    * O(|keys|) files no matter how large the corpus grows. Files
    * without stats are conservatively kept; the caller still applies
    * the real membership filter.
    */
  def readForKeys(spark: SparkSession, table: String, column: String,
                  keys: Seq[String]): DataFrame = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    val dt = m.dataSchema.find(_.name == column).map(_.dataType).getOrElse(
      throw new IllegalArgumentException(s"$table has no data column '$column'"))
    // sort once; per file range, one binary search instead of |keys|
    val sorted = keys.distinct.sortWith(statCompare(dt, _, _) < 0).toIndexedSeq
    def anyKeyIn(st: DirStats): Boolean =
      if (!st.mins.contains(column)) true // unknown: must keep
      else {
        val (lo, hi) = (st.mins(column), st.maxs(column))
        // first key >= lo; in-range iff it's also <= hi
        var l = 0; var r = sorted.size
        while (l < r) {
          val mid = (l + r) / 2
          if (statCompare(dt, sorted(mid), lo) < 0) l = mid + 1 else r = mid
        }
        l < sorted.size && statCompare(dt, sorted(l), hi) <= 0
      }
    val keptDirs = m.dirs.filter(d => m.stats.get(d).forall(anyKeyIn))
    val scanPaths = keptDirs.flatMap { d =>
      val files = m.filesUnder(d)
      if (files.isEmpty) Seq(d)
      else files.collect { case (f, st) if anyKeyIn(st) => f }.toSeq.sorted
    }
    if (scanPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(spark, table, Some(v)).schema)
    else {
      val df = spark.read.schema(m.dataSchema).parquet(scanPaths: _*)
      applyUv(spark, m, applyDv(spark, m,
        if (m.partitionCol.isEmpty) df
        else injectPartitionCol(df, m.partitionCol, m.partitionType)))
    }
  }

  /** Z-order (Morton) clustering key over k integral columns, `bits`
    * bits each (bits·k ≤ 63): bit i of column j lands at position
    * i·k + j, so consecutive key ranges are k-dimensional blocks.
    * Committing with `clusterByKey = zorderKey(...)` makes the
    * per-file [min,max] stats tight on EVERY participating column at
    * once — `readStatsPruned` then skips files for a probe on ANY of
    * them, where lexicographic `clusterBy` only serves the leading
    * column (the classic multi-dim data-skipping layout; same idea as
    * Delta/Iceberg Z-ordering, built from plain shift/and/or
    * expressions inside codegen).
    *
    * Columns must already be non-negative integers in rank space
    * (day numbers, ids, bucketed values); values ≥ 2^bits clamp to
    * the top cell — map skewed/continuous domains through a quantile
    * or fixed-width bucket first.
    */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && bits >= 1 && bits * cols.size <= 63,
      "need 1..63/bits columns with bits >= 1")
    val k = cols.size
    val top = (1L << bits) - 1
    val clamped = cols.map(c =>
      least(greatest(c.cast("long"), lit(0L)), lit(top)))
    (0 until bits).flatMap { i =>
      clamped.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Publish `df` as the table's next snapshot, REPLACING prior content
    * (the SCD-1 dimension-overwrite shape, K2). Returns the version.
    *
    * `clusterBy` range-partitions (and sorts) the data by the given
    * column before writing, so each file covers a narrow, mostly
    * disjoint value range — that is what turns the per-file footer
    * stats into real skipping: after a random-order ingest every file
    * spans nearly the full range and [[readStatsPruned]] can skip
    * nothing; after a clustered commit a point probe touches one file.
    * `clusterFiles` caps the file count (0 = the session's shuffle
    * parallelism).
    */
  def commit(df: DataFrame, table: String,
             partitionCol: Option[String] = None,
             clusterBy: Option[String] = None,
             clusterFiles: Int = 0,
             clusterByKey: Option[Column] = None): Long = {
    require(clusterBy.isEmpty || clusterByKey.isEmpty,
      "pass clusterBy (a column) or clusterByKey (an expression), not both")
    val (pcName, pcType) = partitionCol match {
      case Some(pc) => (pc, df.schema(pc).dataType.catalogString)
      case None => ("", "")
    }
    val clustered = (clusterBy, clusterByKey) match {
      case (None, None) => df
      case (Some(c), _) =>
        // partition dirs split range-partitioned tasks further, so sort
        // the partition column first to keep each task single-partition
        val keys = (partitionCol.toSeq :+ c).distinct.map(col)
        val ranged =
          if (clusterFiles > 0) df.repartitionByRange(clusterFiles, keys: _*)
          else df.repartitionByRange(keys: _*)
        ranged.sortWithinPartitions(keys: _*)
      case (None, Some(key)) =>
        // computed clustering key (e.g. zorderKey): range-cluster on it,
        // then drop it — the key never reaches the data files, only the
        // layout (and therefore the per-file stats of the REAL columns)
        // remembers it. A caller column named __zck would be silently
        // overwritten here and then DROPPED from the written files while
        // the manifest dataSchema (built from df.schema) still lists it.
        require(!df.columns.contains("__zck"),
          "clusterByKey reserves the working column name __zck; " +
          "rename the input column")
        val withK = df.withColumn("__zck", key)
        val keys = (partitionCol.toSeq.map(col) :+ col("__zck"))
        val ranged =
          if (clusterFiles > 0) withK.repartitionByRange(clusterFiles, keys: _*)
          else withK.repartitionByRange(keys: _*)
        ranged.sortWithinPartitions(keys: _*).drop("__zck")
    }
    val dataSchema = StructType(df.schema.filterNot(_.name == pcName))
    val (dirs, stats, fstats) = writeData(clustered, table, partitionCol)
    val next = latestVersion(table).getOrElse(0L) + 1
    writeManifest(table,
      Manifest(next, pcName, pcType, dataSchema.json, dirs, stats, fstats))
    next
  }

  /** HASH-BUCKETED commit — the co-located-join layout (SURVEY q354):
    * rows write through Spark's native bucketed parquet format
    * (`bucketBy(buckets, key).sortBy(key)` — bucket id = Murmur3 hash
    * of the key, recorded in each file NAME), one data directory per
    * version, the bucket spec in a `_bucketing` sidecar the plain
    * scan ignores (leading underscore). Versioning, time travel, tags
    * and vacuum all work unchanged — the manifest lists the dir like
    * any commit. The payoff is [[readBucketed]]: repeated big×big
    * equi-joins on the bucket key run with ZERO shuffle exchange on
    * either side (both scans report the same hash partitioning), the
    * lever beside range-clustering when neither join side fits a
    * broadcast — at 100 TB the shuffle this removes is the join's
    * dominant cost. Bucketed snapshots are full-rewrite tables (no
    * keyed merge — re-commit to change), matching Spark's own
    * bucketed-table contract; footer-stat pruning is not harvested
    * (bucket files answer key lookups by hash instead).
    */
  def commitBucketed(df: DataFrame, table: String, bucketKey: String,
                     buckets: Int): Long = {
    require(buckets > 0, "buckets must be > 0")
    val spark = df.sparkSession
    val commitId = java.util.UUID.randomUUID().toString
    val dataRoot = Paths.get(table, "data", commitId)
    // write through a throwaway EXTERNAL catalog entry: only
    // saveAsTable produces the bucketed file layout, and dropping an
    // external table keeps its files — the catalog entry is never the
    // source of truth, the manifest is
    val tmpName = "graft_bkt_" + commitId.replace("-", "")
    df.write.format("parquet")
      .bucketBy(buckets, bucketKey).sortBy(bucketKey)
      .option("path", dataRoot.toString)
      .saveAsTable(tmpName)
    spark.sql(s"DROP TABLE `$tmpName`")
    Files.writeString(dataRoot.resolve("_bucketing"),
      s"${urlEncode(bucketKey)}\t$buckets")
    val next = latestVersion(table).getOrElse(0L) + 1
    writeManifest(table, Manifest(next, "", "", df.schema.json,
      Seq(dataRoot.toString)))
    next
  }

  /** Read a [[commitBucketed]] snapshot AS a bucketed table: registers
    * an external catalog table over the version's data directory with
    * the recorded CLUSTERED BY spec, so Catalyst plans scans with the
    * bucket hash partitioning and EnsureRequirements inserts no
    * shuffle under an equi-join on the bucket key (SnapshotSpec pins
    * the plan). `catalogName` must be caller-unique; re-reads replace
    * it (DROP + CREATE are metadata-only on an external table).
    */
  def readBucketed(spark: SparkSession, table: String,
                   catalogName: String): DataFrame = {
    val v = latestVersion(table).getOrElse(
      sys.error(s"no committed version at $table"))
    val m = readManifest(table, v)
    require(m.dirs.size == 1,
      s"bucketed snapshots are single-dir; found ${m.dirs.size}")
    require(m.dvDirs.isEmpty && m.uvDirs.isEmpty,
      s"$table has outstanding row-level sidecars — compact() first")
    val dir = m.dirs.head
    val spec = Files.readString(Paths.get(dir, "_bucketing")).trim
      .split('\t')
    val (key, buckets) = (urlDecode(spec(0)), spec(1).toInt)
    spark.sql(s"DROP TABLE IF EXISTS `$catalogName`")
    spark.sql(
      s"""CREATE TABLE `$catalogName` (${m.dataSchema.toDDL})
         |USING PARQUET
         |CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS
         |LOCATION '$dir'""".stripMargin)
    spark.table(catalogName)
  }

  /** Read a snapshot (latest by default; any retained version for time
    * travel). The partition column is re-injected from the directory
    * names on the scan — one codegen'd regexp, no join, no shuffle.
    */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    loadManifest(spark, readManifest(table, v),
      s"$table v$v is an empty snapshot")
  }

  private def loadManifest(spark: SparkSession, m: Manifest,
                           emptyMsg: String): DataFrame = {
    if (m.dirs.isEmpty) throw new IllegalArgumentException(emptyMsg)
    // explicit schema: directories predating a schema evolution
    // null-fill the columns they lack
    val df = spark.read.schema(m.dataSchema).parquet(m.dirs: _*)
    applyUv(spark, m, applyDv(spark, m,
      if (m.partitionCol.isEmpty) df
      else injectPartitionCol(df, m.partitionCol, m.partitionType)))
  }

  /** Apply a manifest's deletion vectors: one LEFT ANTI join against
    * the union of the referenced DV directories (each a parquet of
    * deleted key values; the single column's NAME is the key column).
    * Row-level deletes therefore cost O(|deleted|) at write time and
    * one anti-join at read time — never a data rewrite; [[compact]]
    * materializes them (it reads through this and publishes a DV-free
    * manifest). No broadcast hint: AQE broadcasts the DV side when it
    * is small (the common case) and falls back to a shuffled anti-join
    * when an accumulated DV set grows past the driver's comfort.
    */
  private def applyDv(spark: SparkSession, m: Manifest,
                      df: DataFrame): DataFrame = {
    if (m.dvDirs.isEmpty) df
    else {
      val dv = spark.read.parquet(m.dvDirs: _*)
      require(dv.schema.length == 1,
        s"deletion vectors must be single-column; found ${dv.schema}")
      val key = dv.schema.head.name
      require(df.columns.contains(key),
        s"deletion-vector key '$key' is not a table column")
      df.join(dv.distinct(), df(key) === dv(key), "left_anti")
    }
  }

  /** Apply a manifest's merge-on-read UPSERT sidecars: keys present in
    * any sidecar read from the sidecars (later sidecars win per key —
    * one window over the DELTA rows only, never the base), everything
    * else from the base scan. The write-cheap upsert for an
    * unpartitioned corpus table; [[compact]] materializes.
    */
  private def applyUv(spark: SparkSession, m: Manifest,
                      df: DataFrame): DataFrame = {
    if (m.uvDirs.isEmpty) df
    else {
      val sides = m.uvDirs.zipWithIndex.map { case (d, i) =>
        spark.read.schema(m.dataSchema).parquet(d)
          .withColumn("__uv_seq", lit(i))
      }
      val delta = sides.reduce(_.unionByName(_))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(m.uvKey)).orderBy(col("__uv_seq").desc)
      val latest = delta
        .withColumn("__uv_rn", row_number().over(w))
        .filter(col("__uv_rn") === 1)
        .drop("__uv_seq", "__uv_rn")
      val keys = latest.select(col(m.uvKey)).distinct()
      df.join(keys, df(m.uvKey) === keys(m.uvKey), "left_anti")
        .unionByName(latest)
    }
  }

  /** Version-to-version semantic diff (the CDC face of time travel):
    * which keys were added, removed, or changed between two retained
    * snapshots. Rows join FULL OUTER on `keys`; change detection
    * compares a fingerprint over the columns COMMON to both versions
    * (schema evolution adds columns — a column only one version has
    * can't count as a change of rows that predate it). Null-safe: null
    * renders as \u0002 (distinct from the empty string) and columns
    * join with a \u0001 separator so values can't shift across column
    * boundaries (values containing those control bytes excepted).
    *
    * One shuffle on the key columns; the fingerprint is a codegen'd
    * md5 over the projected row, so the diff costs two scans + one
    * join regardless of column count.
    */
  def diff(spark: SparkSession, table: String, v1: Long, v2: Long,
           keys: Seq[String]): DataFrame = {
    val a = read(spark, table, Some(v1))
    val b = read(spark, table, Some(v2))
    val common = a.columns.toSet.intersect(b.columns.toSet)
      .diff(keys.toSet).toSeq.sorted
    def fp(df: DataFrame) = md5(concat_ws("\u0001",
      common.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*))
    val l = a.select(keys.map(col) :+ fp(a).as("__fa"): _*)
    val r = b.select(keys.map(col) :+ fp(b).as("__fb"): _*)
    l.join(r, keys, "full_outer")
      .withColumn("change_type",
        when(col("__fa").isNull, lit("added"))
          .when(col("__fb").isNull, lit("removed"))
          .when(col("__fa") =!= col("__fb"), lit("changed")))
      .filter(col("change_type").isNotNull)
      .select(keys.map(col) :+ col("change_type"): _*)
  }

  /** CHANGE DATA FEED between two retained versions — [[diff]] with the
    * row VALUES (the Delta CDF semantic): inserts and deletes carry
    * their full row; a changed key emits TWO rows, `update_preimage`
    * (the v1 values) and `update_postimage` (the v2 values), so a
    * downstream incremental view can retract the old contribution and
    * apply the new one without rescanning either snapshot. Change
    * detection fingerprints the columns COMMON to both versions (the
    * [[diff]] rule — schema evolution can't flag rows that predate a
    * column); emitted rows carry the union of both versions' columns,
    * null-filled where a side lacks one. Output: keys ++ value columns
    * ++ `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage.
    *
    * One shuffle on the key columns; values travel as structs beside
    * the codegen'd md5 fingerprint, so the feed costs two scans + one
    * full-outer join at any column count.
    */
  def cdf(spark: SparkSession, table: String, v1: Long, v2: Long,
          keys: Seq[String]): DataFrame = {
    val a = read(spark, table, Some(v1))
    val b = read(spark, table, Some(v2))
    val common = a.columns.toSet.intersect(b.columns.toSet)
      .diff(keys.toSet).toSeq.sorted
    val vals = (a.columns ++ b.columns).distinct.filterNot(keys.contains)
    def side(df: DataFrame, tag: String) = {
      val withAll = vals.foldLeft(df)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null)))
      withAll.select(keys.map(col) ++ Seq(
        md5(concat_ws("\u0001",
          common.map(c => coalesce(col(c).cast("string"),
            lit("\u0002"))): _*))
          .as(s"__f$tag"),
        struct(vals.map(col): _*).as(s"__v$tag")): _*)
    }
    val joined = side(a, "a").join(side(b, "b"), keys, "full_outer")
    def emit(ct: String, v: String) =
      joined.filter(ct match {
        case "insert" => col("__fa").isNull
        case "delete" => col("__fb").isNull
        case _ => col("__fa").isNotNull && col("__fb").isNotNull &&
          col("__fa") =!= col("__fb")
      }).select(keys.map(col) ++
        vals.map(c => col(s"$v.$c").as(c)) :+
        lit(ct).as("_change_type"): _*)
    emit("insert", "__vb")
      .unionByName(emit("delete", "__va"))
      .unionByName(emit("update_preimage", "__va"))
      .unionByName(emit("update_postimage", "__vb"))
  }

  /** Re-inject the partition column from the directory name on the scan —
    * one codegen'd regexp + percent-decode, no join, no shuffle. The
    * suffix extracted from input_file_name() carries TWO escape layers:
    * Spark's partition escaping (':' → %3A) underneath the URI encoding
    * input_file_name applies to the whole path ('%' → %25, space → %20).
    * Decode twice; before each pass protect literal '+', which neither
    * escaper touches but url_decode would turn into a space. A literal
    * '%' in the value was escaped at both layers (%2525), so '%' only
    * ever introduces an escape. __HIVE_DEFAULT_PARTITION__ maps to null.
    */
  private def injectPartitionCol(df: DataFrame, pc: String,
                                 pcType: String): DataFrame = {
    def pctDecode(c: Column): Column =
      url_decode(regexp_replace(c, "\\+", "%2B"))
    val raw = regexp_extract(input_file_name(),
      java.util.regex.Pattern.quote(pc) + "=([^/]+)/", 1)
    df.withColumn(pc,
      when(raw === lit(NullPartitionName), lit(null).cast("string"))
        .otherwise(pctDecode(pctDecode(raw)))
        .cast(pcType))
  }

  /** Manifest-side partition pruning: read only the directories whose
    * partition value satisfies `keep` — the scan never opens the rest.
    */
  def readPruned(spark: SparkSession, table: String,
                 keep: String => Boolean): DataFrame = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    require(m.partitionCol.nonEmpty, s"$table is not partitioned")
    val kept = m.dirs.filter(d => keep(partitionValueOf(d)))
    if (kept.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        read(spark, table, Some(v)).schema)
    else applyDv(spark, m,
      injectPartitionCol(spark.read.schema(m.dataSchema).parquet(kept: _*),
        m.partitionCol, m.partitionType))
  }

  /** The UNESCAPED partition value a directory holds (null for the
    * null-partition directory) — the form incoming values compare
    * against and `readPruned`'s keep() receives.
    */
  private def partitionValueOf(dir: String): String =
    unescapeValue(dir.substring(dir.lastIndexOf('=') + 1))

  /** Atomic partition-scoped MERGE: keep-latest upsert of `incoming`
    * into the touched partitions only; untouched directories carry over
    * into the new manifest by reference. A crash at ANY point leaves the
    * previous snapshot fully live.
    *
    * Schema evolution (Delta mergeSchema semantics): columns new in
    * `incoming` append to the table schema; columns absent from
    * `incoming` null-fill for its rows. Untouched directories are NOT
    * rewritten — the evolved schema in the manifest null-fills their
    * missing columns at read time.
    */
  def merge(incoming: DataFrame, table: String, keys: Seq[String],
            versionCol: String, partitionCol: String): Long = {
    latestVersion(table) match {
      case None => commit(incoming, table, Some(partitionCol))
      case Some(v) =>
        val m = readManifest(table, v)
        require(m.partitionCol == partitionCol,
          s"partition mismatch: table has '${m.partitionCol}', merge got '$partitionCol'")
        // merge rewrites touched partitions from the RAW directories;
        // outstanding row-level deletes would silently resurrect there
        // (and a re-inserted key would stay hidden) — materialize first
        require(m.dvDirs.isEmpty && m.uvDirs.isEmpty,
          s"$table has outstanding row-level sidecars — compact() first")
        val incomingData = StructType(
          incoming.schema.filterNot(_.name == partitionCol))
        val evolved = StructType(m.dataSchema.fields ++
          incomingData.fields.filterNot(f => m.dataSchema.fieldNames.contains(f.name)))
        val targetFull = StructType(evolved.fields :+
          incoming.schema(partitionCol))
        val incomingR = Pipeline.reconcileSchema(incoming, targetFull)
        val touched = incoming.select(col(partitionCol).cast("string"))
          .distinct().collect().map(_.getString(0)).toSet
        val (touchedDirs, untouchedDirs) =
          m.dirs.partition(d => touched.contains(partitionValueOf(d)))
        val merged =
          if (touchedDirs.isEmpty) incomingR
          else {
            val spark = incoming.sparkSession
            val existing = injectPartitionCol(
              spark.read.schema(m.dataSchema).parquet(touchedDirs: _*),
              partitionCol, m.partitionType)
            Merge.upsert(Pipeline.reconcileSchema(existing, targetFull),
              incomingR, keys, versionCol)
          }
        val (newDirs, newStats, newFStats) = writeData(merged, table, Some(partitionCol))
        val untouchedSet = untouchedDirs.toSet
        writeManifest(table, Manifest(v + 1, partitionCol, m.partitionType,
          evolved.json, (untouchedDirs ++ newDirs).sorted,
          m.stats.view.filterKeys(untouchedSet.contains).toMap ++ newStats,
          m.fileStats.view.filterKeys(f =>
            untouchedSet.contains(Paths.get(f).getParent.toString)).toMap ++ newFStats))
        v + 1
    }
  }

  /** `merge` with the standard optimistic-concurrency loop: a writer
    * losing the version race re-reads the winner's snapshot and re-merges
    * on top of it. Safe because merge is keep-latest (re-applying the
    * same batch over any newer snapshot converges); bounded at 5 retries
    * so a livelocked table surfaces as an error, not an infinite loop.
    */
  def mergeRetrying(incoming: DataFrame, table: String, keys: Seq[String],
                    versionCol: String, partitionCol: String): Long = {
    var attempt = 0
    while (true) {
      try return merge(incoming, table, keys, versionCol, partitionCol)
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > 5) throw e
      }
    }
    -1L // unreachable
  }

  /** K5 compaction as a SNAPSHOT COMMIT: rewrite the current snapshot's
    * data small-file-free and publish it as the next version — fully
    * atomic (readers see either the fragmented or the compacted
    * snapshot, never a mix), and the pre-compaction version stays
    * readable until `vacuum`. Partitioned tables compact to ONE file
    * per partition directory (clustered by the partition column);
    * unpartitioned tables coalesce to `targetFiles`. This is the
    * reference's per-run VACUUM (downloader_tw.py:126, main.py:192)
    * with transactional semantics.
    */
  /** Transactional DELETE: publish a new version without the rows
    * matching `predicate` (rows where the predicate is NULL are kept —
    * SQL DELETE semantics). Returns the new version, or the current
    * one unchanged when nothing matches (no empty commit).
    *
    * Partition-scoped like merge: one scan finds the touched partition
    * values (the predicate may reference any column, including the
    * partition column — pruning pushes down when it does), only the
    * touched directories rewrite, untouched dirs carry into the new
    * manifest by reference with their stats. A crash at any point
    * leaves the previous snapshot fully live, and the deleted rows
    * remain readable via time travel until vacuum. Unpartitioned
    * tables rewrite whole (their dirs are commit-grained, not
    * key-grained — partition the table if deletes must stay scoped).
    */
  def deleteWhere(spark: SparkSession, table: String,
                  predicate: Column): Long = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    // the partitioned branch rewrites touched dirs from the RAW
    // parquet — outstanding DVs would resurrect there; materialize
    // first (the [[deleteVectored]] face handles the no-rewrite case)
    require(m.dvDirs.isEmpty && m.uvDirs.isEmpty,
      s"$table has outstanding row-level sidecars — compact() first")
    val drop = coalesce(predicate, lit(false))
    Option(m.partitionCol).filter(_.nonEmpty) match {
      case None =>
        if (read(spark, table, Some(v)).filter(drop).isEmpty) v
        else {
          val kept = read(spark, table, Some(v)).filter(!drop)
          val (dirs, stats, fstats) = writeData(kept, table, None)
          writeManifest(table, Manifest(v + 1, m.partitionCol,
            m.partitionType, m.dataSchemaJson, dirs, stats, fstats))
          v + 1
        }
      case Some(pc) =>
        val touched = read(spark, table, Some(v)).filter(drop)
          .select(col(pc).cast("string")).distinct()
          .collect().map(r => Option(r.getString(0)).orNull).toSet
        if (touched.isEmpty) v
        else {
          val (touchedDirs, untouchedDirs) =
            m.dirs.partition(d => touched.contains(partitionValueOf(d)))
          val kept = injectPartitionCol(
            spark.read.schema(m.dataSchema).parquet(touchedDirs: _*),
            pc, m.partitionType).filter(!drop)
          val (newDirs, newStats, newFStats) =
            writeData(kept, table, Some(pc))
          val untouchedSet = untouchedDirs.toSet
          writeManifest(table, Manifest(v + 1, m.partitionCol,
            m.partitionType, m.dataSchemaJson,
            (untouchedDirs ++ newDirs).sorted,
            m.stats.view.filterKeys(untouchedSet.contains).toMap ++ newStats,
            m.fileStats.view.filterKeys(f =>
              untouchedSet.contains(Paths.get(f).getParent.toString))
              .toMap ++ newFStats))
          v + 1
        }
    }
  }

  /** DELETION-VECTOR delete (Delta DVs / Iceberg equality-deletes):
    * publish a new version that hides the rows matching `predicate`
    * WITHOUT rewriting any data file — the write-cheap delete an
    * append-heavy 100 TB corpus needs (GDPR erasure, bad-batch
    * retraction) where [[deleteWhere]]'s rewrite would churn whole
    * partitions for a handful of rows.
    *
    * Mechanics: the matching rows' `keyCol` values land in a small
    * sidecar parquet (the "vector"); the new manifest re-references
    * every data directory unchanged and adds a `D` line per sidecar.
    * Every reader ([[read]], the stats/key/partition-pruned variants)
    * applies the union of outstanding DVs as one anti-join. Deletes
    * stack (each call appends a sidecar); [[compact]] materializes
    * them back to a DV-free snapshot; [[countStar]] reports unknown
    * while DVs are outstanding; [[merge]]/[[deleteWhere]] refuse until
    * materialized (their partition rewrites would resurrect hidden
    * rows — the same conflict Delta resolves by DV rewrite). `keyCol`
    * must identify rows (all rows sharing a matched key value hide
    * together — equality-delete semantics). Returns the new version,
    * or the current one when nothing matches.
    */
  def deleteVectored(spark: SparkSession, table: String, keyCol: String,
                     predicate: Column): Long = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    require(m.uvDirs.isEmpty,
      s"$table has outstanding upsert sidecars — compact() first " +
        "(one merge-on-read kind may be outstanding at a time)")
    if (m.dvDirs.nonEmpty) {
      val prior = spark.read.parquet(m.dvDirs: _*)
      require(prior.schema.length == 1 && prior.schema.head.name == keyCol,
        s"outstanding deletion vectors key on " +
          s"'${prior.schema.head.name}', not '$keyCol'")
    }
    val keys = read(spark, table, Some(v))
      .filter(coalesce(predicate, lit(false)))
      .select(col(keyCol)).distinct()
    if (keys.isEmpty) v
    else {
      val (dvDir, _, _) = writeData(keys, table, None)
      writeManifest(table, Manifest(v + 1, m.partitionCol,
        m.partitionType, m.dataSchemaJson, m.dirs, m.stats, m.fileStats,
        dvDirs = m.dvDirs ++ dvDir))
      v + 1
    }
  }

  /** MERGE-ON-READ UPSERT (Iceberg MoR / Hudi MOR deltas): publish a
    * new version whose manifest re-references every data directory
    * unchanged and adds a `U`-line SIDECAR holding the incoming rows —
    * the write-cheap upsert for an UNPARTITIONED corpus table, where
    * [[merge]]'s copy-on-write rewrite would churn the whole table for
    * a small delta. Readers overlay: keys present in any sidecar read
    * from the LATEST sidecar holding them (one window over delta rows
    * only), everything else from the base scan. Sidecars stack;
    * [[compact]] materializes back to a plain snapshot; [[countStar]]
    * reports unknown while outstanding; [[merge]]/[[deleteWhere]]/
    * [[deleteVectored]] refuse until materialized (one merge-on-read
    * kind at a time — the same conflict discipline as DVs). Incoming
    * must be key-unique and schema-compatible (reconciled to the table
    * schema). Returns the new version.
    */
  def upsertVectored(incoming: DataFrame, table: String,
                     keyCol: String): Long = {
    val spark = incoming.sparkSession
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    require(m.partitionCol.isEmpty,
      s"$table is partitioned — use merge() (partition-scoped " +
        "copy-on-write is already delta-sized there)")
    require(m.dvDirs.isEmpty,
      s"$table has outstanding deletion vectors — compact() first " +
        "(one merge-on-read kind may be outstanding at a time)")
    require(m.uvKey.isEmpty || m.uvKey == keyCol,
      s"outstanding upsert sidecars key on '${m.uvKey}', not '$keyCol'")
    require(m.dataSchema.fieldNames.contains(keyCol),
      s"$table has no data column '$keyCol'")
    val rows = Pipeline.reconcileSchema(incoming, m.dataSchema)
    require(rows.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).isEmpty,
      s"incoming upsert batch has duplicate '$keyCol' values")
    if (rows.isEmpty) v
    else {
      val (uvDir, _, _) = writeData(rows, table, None)
      writeManifest(table, Manifest(v + 1, m.partitionCol,
        m.partitionType, m.dataSchemaJson, m.dirs, m.stats, m.fileStats,
        uvDirs = m.uvDirs ++ uvDir, uvKey = keyCol))
      v + 1
    }
  }

  /** CHANGELOG across a version range — [[diff]] unrolled into the
    * Delta `table_changes` shape: one (keys…, change_type, version)
    * row for every row added/removed/changed by each version in
    * (fromV, toV]. Version-count-bounded loop of pairwise diffs;
    * each diff is one full-outer join on the keys.
    */
  def changelog(spark: SparkSession, table: String, fromV: Long,
                toV: Long, keys: Seq[String]): DataFrame = {
    require(fromV < toV, "need fromV < toV")
    (fromV + 1 to toV).map(v =>
      diff(spark, table, v - 1, v, keys).withColumn("version", lit(v)))
      .reduce(_ unionByName _)
  }

  /** DESCRIBE EXTENDED — the one-call operational summary a human
    * (or a catalog UI) reads first: current version, row/dir/file
    * counts from manifest stats, partition spec, outstanding MoR
    * sidecars, tags, staged WAP batches, retained version count.
    * Pure metadata; output (section, key, value) string rows.
    */
  def describeTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    require(vs.nonEmpty, s"$table has no committed snapshot")
    val m = readManifest(table, vs.last)
    val rows = Seq(
      ("version", "current", vs.last.toString),
      ("version", "retained", vs.size.toString),
      ("data", "rows",
        m.dirs.flatMap(m.stats.get).map(_.rows).sum.toString),
      ("data", "dirs", m.dirs.size.toString),
      ("data", "files", m.fileStats.size.toString),
      ("spec", "partition_col",
        if (m.partitionCol.isEmpty) "(none)" else m.partitionCol),
      ("mor", "dv_dirs", m.dvDirs.size.toString),
      ("mor", "uv_dirs", m.uvDirs.size.toString),
      ("refs", "tags", tags(table).size.toString),
      ("refs", "staged", stagedNames(table).size.toString))
    rows.toDF("section", "key", "value")
  }

  /** SMALL-FILE report for the LATEST version — the other classic
    * storage-ops read ([[writeAmplification]]'s sibling): tiny
    * parquet files multiply open/footer costs and starve scans; this
    * counts files under `minRows` from the manifest's per-file stats
    * (no data scan) and advises compaction when more than half the
    * files are small. Output one row: (n_files, n_small, rows_total,
    * small_share_micro, advise_compact).
    */
  def smallFileReport(spark: SparkSession, table: String,
                      minRows: Long): DataFrame = {
    import spark.implicits._
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no snapshot"))
    val m = readManifest(table, v)
    val files = m.dirs.flatMap(d => m.filesUnder(d).values.map(_.rows))
    val nf = files.size.toLong
    val small = files.count(_ < minRows).toLong
    val share = if (nf == 0) 0L else small * 1000000L / nf
    Seq((nf, small, files.sum, share, share > 500000L))
      .toDF("n_files", "n_small", "rows_total", "small_share_micro",
        "advise_compact")
  }

  /** WRITE-AMPLIFICATION accounting across the version chain — the
    * storage-ops read behind "why is this table churning": per
    * version, total rows, rows physically WRITTEN (rows of data dirs
    * that did not exist in the previous manifest — sidecars excluded,
    * they have their own MoR accounting), the net row change, and
    * amp = ⌊written·1e6 / max(|net|, 1)⌋ — an upsert that rewrites a
    * million rows to change ten has amp 100 000×1e6, the signal to
    * move that table to MoR ([[morCowAdvisor]]). Manifest metadata
    * only — no data is scanned; the loop is version-count bounded.
    */
  def writeAmplification(spark: SparkSession,
                         table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    require(vs.nonEmpty, s"$table has no committed snapshot")
    val ms = vs.map(v => (v, readManifest(table, v)))
    val rows = ms.map { case (v, m) =>
      (v, m, m.dirs.flatMap(m.stats.get).map(_.rows).sum)
    }
    rows.zipWithIndex.map { case ((v, m, total), i) =>
      val prevDirs =
        if (i == 0) Set.empty[String] else rows(i - 1)._2.dirs.toSet
      val written = m.dirs.filterNot(prevDirs)
        .flatMap(m.stats.get).map(_.rows).sum
      val net = total - (if (i == 0) 0L else rows(i - 1)._3)
      (v, total, written, net,
        written * 1000000L / math.max(math.abs(net), 1L))
    }.toDF("version", "rows_total", "rows_written", "net_rows",
      "amp_micro")
  }

  /** ERASURE (right-to-be-forgotten) audit — the governance read a
    * time-traveling table makes necessary: deleting rows from the
    * HEAD does nothing to historical versions, so "is this user
    * gone" must sweep EVERY retained version. One bounded driver
    * loop over the version list (model-sized — retention policies
    * keep dozens, not millions), each iteration one pruned count.
    * Output one row per version (version, matching_rows) with the
    * constant verdict columns: head_clean (the latest version holds
    * no match) and retained_versions (HISTORICAL versions that still
    * do — the set [[expireByAge]]/[[vacuum]] must reap before the
    * erasure is real).
    */
  def erasureAudit(spark: SparkSession, table: String,
                   predicate: Column): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    require(vs.nonEmpty, s"$table has no committed snapshot")
    val rows = vs.map(v =>
      (v, read(spark, table, Some(v)).filter(predicate).count()))
    val headClean = rows.last._2 == 0L
    val retained = rows.dropRight(1).count(_._2 > 0L).toLong
    rows.toDF("version", "matching_rows")
      .withColumn("head_clean", lit(headClean))
      .withColumn("retained_versions", lit(retained))
  }

  /** Row-level CHECK constraints (Delta's ADD CONSTRAINT semantics):
    * one pass over the batch counts each named predicate's violations
    * — (rule, n_violations), all rules in ONE aggregate (a struct
    * explode over the single result row, never a pass per rule).
    */
  def checkConstraints(df: DataFrame,
                       constraints: Seq[(String, Column)]): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    val aggs = constraints.map { case (name, pred) =>
      sum(when(!pred, 1L).otherwise(0L)).as(name)
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(constraints.map { case (name, _) =>
        struct(lit(name).as("rule"),
          coalesce(col(name), lit(0L)).as("n_violations"))
      }: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_violations")
        .as("n_violations"))
  }

  /** Commit gated on [[checkConstraints]]: any violation REFUSES the
    * commit atomically (no version, no files — the table is exactly
    * as before), mirroring an engine that enforces CHECK constraints
    * at write time. Returns the new version, or None when refused.
    */
  def commitChecked(df: DataFrame, table: String,
                    constraints: Seq[(String, Column)]): Option[Long] = {
    val bad = checkConstraints(df, constraints)
      .agg(sum(col("n_violations"))).head().getLong(0)
    if (bad > 0) None else Some(commit(df, table))
  }

  /** MERGE-ON-READ vs COPY-ON-WRITE cost advisor — the table-property
    * decision (Iceberg's write.update.mode) quantified from THIS
    * table's manifest stats and an incoming update batch, per
    * partition: CoW pays a one-time rewrite of every touched
    * partition (cow_rewrite_rows = the partition's manifest row
    * count); MoR pays the sidecar write plus, on each of the next
    * `readsBetweenCompactions` reads, a sidecar-sized scan/probe
    * (mor_total_rows = upd_rows·(1 + reads)). Exact integers from
    * stats already in the manifest — the advisor never scans data;
    * the per-partition table is manifest-sized. Output one row per
    * partition (pval, dir_rows, upd_rows, cow_rewrite_rows,
    * mor_total_rows, advise_mor) plus constant table-level totals
    * (total_cow_rows, total_mor_rows, table_advise_mor).
    */
  def morCowAdvisor(spark: SparkSession, table: String,
                    updates: DataFrame,
                    readsBetweenCompactions: Long): DataFrame = {
    require(readsBetweenCompactions >= 1,
      "readsBetweenCompactions must be >= 1")
    val m = readManifest(table, latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no versions in $table")))
    require(m.partitionCol.nonEmpty,
      "morCowAdvisor needs a partitioned table")
    val dirRows = m.dirs.map { d =>
      val base = Paths.get(d).getFileName.toString
      (unescapeValue(base.substring(base.indexOf('=') + 1)),
        m.stats.get(d).map(_.rows).getOrElse(0L))
    }
    import spark.implicits._
    val base = dirRows.toDF("pval", "dir_rows")
    val upd = updates
      .groupBy(col(m.partitionCol).cast("string").as("pval"))
      .agg(count(lit(1)).as("upd_rows"))
    val perDir = base.join(upd, Seq("pval"), "left")
      .na.fill(0L, Seq("upd_rows"))
      .select(col("pval"), col("dir_rows"), col("upd_rows"),
        when(col("upd_rows") > 0, col("dir_rows")).otherwise(0L)
          .as("cow_rewrite_rows"),
        (col("upd_rows") * (1L + readsBetweenCompactions))
          .as("mor_total_rows"))
      .withColumn("advise_mor",
        col("mor_total_rows") < col("cow_rewrite_rows"))
    val totals = perDir.agg(
      sum(col("cow_rewrite_rows")).as("total_cow_rows"),
      sum(col("mor_total_rows")).as("total_mor_rows"))
      .withColumn("table_advise_mor",
        col("total_mor_rows") < col("total_cow_rows"))
    perDir.crossJoin(broadcast(totals))
  }

  def compact(spark: SparkSession, table: String): Long = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    val df = read(spark, table, Some(v))
    val compacted =
      if (m.partitionCol.isEmpty) df.coalesce(1)
      else df.repartition(col(m.partitionCol)) // one shuffle → one file per partition dir
    val (newDirs, newStats, newFStats) = writeData(compacted, table,
      Option(m.partitionCol).filter(_.nonEmpty))
    writeManifest(table, Manifest(v + 1, m.partitionCol, m.partitionType,
      m.dataSchemaJson, newDirs, newStats, newFStats))
    v + 1
  }

  /** Collapse a partitioned snapshot's accumulated partition DIRECTORIES
    * into one — the compaction face a per-micro-batch append stream
    * needs. `compact` keeps one file per partition dir, but a stream
    * that merges a fresh partition value every batch (erStream tags
    * by ingest batch) grows one DIR per batch,
    * so file count still tracks stream age; this re-tags every row's
    * partition value to `intoValue`, writes `targetFiles` files under a
    * single directory, and commits atomically as the next version.
    *
    * Caller contract: readers must not depend on the ORIGINAL partition
    * values for correctness (erStream qualifies — replayed records
    * re-resolve by fuzzy content match, never by partition lookup;
    * after compaction a replayed batch's records match their committed
    * entities at distance 0 and write nothing at all).
    *
    * `clusterBy`: range-cluster the rewritten files on a column while
    * compacting. Without it a round-robin repartition makes every file
    * span the full key range, erasing the per-file footer stats that
    * [[readForKeys]] point-lookups rely on; with it compaction is the
    * moment the stream's accumulated files get TIGHT disjoint ranges.
    */
  def compactInto(spark: SparkSession, table: String, intoValue: Column,
                  targetFiles: Int = 1,
                  clusterBy: Option[String] = None): Long = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    require(m.partitionCol.nonEmpty,
      s"$table is not partitioned — use compact()")
    val retagged = read(spark, table, Some(v))
      .withColumn(m.partitionCol, intoValue.cast(m.partitionType))
    val df = clusterBy match {
      case Some(c) => retagged
        .repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(col(c))
      case None => retagged.repartition(targetFiles)
    }
    val (newDirs, newStats, newFStats) =
      writeData(df, table, Some(m.partitionCol))
    writeManifest(table, Manifest(v + 1, m.partitionCol, m.partitionType,
      m.dataSchemaJson, newDirs, newStats, newFStats))
    v + 1
  }

  /** Drop data directories no longer referenced by the newest
    * `keepVersions` manifests (and the superseded manifests themselves) —
    * the retention/VACUUM face of the format.
    *
    * Also reclaims ORPHAN commit directories under `table/data/` that no
    * manifest references at all — the residue of crashed writers and of
    * losers of a ConcurrentCommitException race, which would otherwise
    * accumulate unboundedly under retries. Orphans younger than
    * `orphanAgeMs` are left alone so vacuum never races an in-flight
    * commit that has written data but not yet published its manifest.
    *
    * An orphan's age is the NEWEST mtime found recursively under it, not
    * the top directory's: a partitioned write creates the commit dir
    * first and keeps appending files, so the top-dir mtime goes stale
    * the moment the first partition subdir lands — aging by it would
    * sweep a still-in-flight commit that merely runs longer than
    * `orphanAgeMs`. Any file the writer touches refreshes the recursive
    * age; `orphanAgeMs` therefore only needs to exceed the longest WRITE
    * STALL (time between two file creations), not the whole write.
    */
  // ---- TAGS: named refs pinning a snapshot version (the Iceberg
  // tag semantic): a tag survives vacuum, so "golden" eval sets and
  // audited releases stay time-travelable while untagged history is
  // reclaimed. One small file per tag under _tags/, content = the
  // version number; re-tagging moves the ref (last write wins —
  // tags are refs, not commits, so the manifest's one-writer-wins
  // link(2) discipline is deliberately NOT applied).

  private def tagDir(table: String): Path = Paths.get(table, "_tags")

  private def checkTagName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '-' || c == '_' || c == '.'),
      s"tag name '$name' must be [A-Za-z0-9._-]+")
    // A leading '.' would make the tag file invisible to tags() (which
    // skips dot-files as temp artifacts) — the tag would "succeed" at
    // write time yet never pin its version against vacuum, and '..'
    // resolves OUTSIDE _tags/. '.' stays legal in interior positions.
    require(name.head.isLetterOrDigit,
      s"tag name '$name' must start with a letter or digit")
  }

  /** Pin `name` to `version` (default: the latest committed). */
  def tag(table: String, name: String,
          version: Option[Long] = None): Long = {
    checkTagName(name)
    val v = version.orElse(latestVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"$table has no snapshot to tag"))
    require(versions(table).contains(v),
      s"cannot tag unknown version $v of $table")
    Files.createDirectories(tagDir(table))
    val tmp = Files.createTempFile(tagDir(table), s".$name", ".tmp")
    Files.write(tmp, v.toString.getBytes(UTF_8))
    Files.move(tmp, tagDir(table).resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
  }

  /** All tags of the table: name → pinned version. */
  def tags(table: String): Map[String, Long] = {
    val d = tagDir(table)
    if (!Files.isDirectory(d)) Map.empty
    else listDir(d)
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap { p =>
        new String(Files.readAllBytes(p), UTF_8).trim.toLongOption
          .map(p.getFileName.toString -> _)
      }.toMap
  }

  /** Time travel by name: read the snapshot a tag pins. */
  def readTag(spark: SparkSession, table: String, name: String): DataFrame = {
    val v = tags(table).getOrElse(name,
      throw new IllegalArgumentException(s"$table has no tag '$name'"))
    read(spark, table, Some(v))
  }

  // ---- WRITE–AUDIT–PUBLISH staging (the Iceberg wap.id pattern) ----
  //
  // A staged snapshot is a fully-written data-dir set whose manifest
  // is parked under _staged/<name> instead of the version sequence:
  // read()/latestVersion/time travel/CDC never see it, so an audit
  // query can interrogate the candidate rows while main readers keep
  // the previous snapshot. publish() assigns the next version with
  // the SAME link(2) one-writer-wins atomicity as any commit;
  // discardStaged() drops the manifest and leaves the data dirs to
  // vacuum's age-gated orphan sweep. Staged dirs count as LIVE in
  // vacuum until published or discarded.

  private def stagedDir(table: String): Path = Paths.get(table, "_staged")

  /** Stage a full snapshot under `name` (replacing any previous stage
    * of that name — its dirs become vacuum orphans). Names share the
    * tag charset.
    */
  def commitStaged(df: DataFrame, table: String, name: String,
                   partitionCol: Option[String] = None): Unit = {
    checkTagName(name)
    val (pcName, pcType) = partitionCol match {
      case Some(pc) => (pc, df.schema(pc).dataType.catalogString)
      case None => ("", "")
    }
    val dataSchema = StructType(df.schema.filterNot(_.name == pcName))
    val (dirs, stats, fstats) = writeData(df, table, partitionCol)
    // version 0 is a placeholder — publish() assigns the real one
    val body = manifestBody(
      Manifest(0L, pcName, pcType, dataSchema.json, dirs, stats, fstats))
    Files.createDirectories(stagedDir(table))
    val tmp = Files.createTempFile(stagedDir(table), s".$name", ".tmp")
    Files.write(tmp, body.getBytes(UTF_8))
    Files.move(tmp, stagedDir(table).resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Currently staged (unpublished) snapshot names. */
  def stagedNames(table: String): Seq[String] = {
    val d = stagedDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else listDir(d).map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).sorted
  }

  private def readStagedManifest(table: String, name: String): Manifest = {
    val p = stagedDir(table).resolve(name)
    require(Files.exists(p), s"$table has no staged snapshot '$name'")
    parseManifest(Files.readAllLines(p, UTF_8).asScala.toSeq)
  }

  /** The audit face: read a staged snapshot's rows (invisible to every
    * other read path).
    */
  def readStaged(spark: SparkSession, table: String,
                 name: String): DataFrame =
    loadManifest(spark, readStagedManifest(table, name),
      s"staged snapshot '$name' of $table is empty")

  /** Promote a staged snapshot to the next version (atomic: the same
    * hard-link winner semantics as commit; retries the version race
    * like mergeRetrying) and un-stage it. Returns the published
    * version.
    */
  def publish(table: String, name: String): Long = {
    val m = readStagedManifest(table, name)
    var attempts = 0
    var v = -1L
    while (v < 0) {
      val next = latestVersion(table).getOrElse(0L) + 1
      // the published manifest RECORDS the wap id it came from — the
      // provenance that makes publishIdempotent's replay check work
      try { writeManifest(table, m.copy(version = next, wapId = name)); v = next }
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts > 20) throw e
      }
    }
    Files.deleteIfExists(stagedDir(table).resolve(name))
    v
  }

  /** The version already published from staged name `wapId`, if any —
    * a version-count-sized manifest walk (the history() discipline).
    */
  def publishedWap(table: String, wapId: String): Option[Long] =
    versions(table).find(v => readManifest(table, v).wapId == wapId)

  /** Replay-idempotent [[publish]]: when some retained version was
    * already published from `name` (a crash landed between publish
    * and the caller's own commit point — e.g. a streaming checkpoint
    * — and the batch replayed), return THAT version and drop any
    * re-staged leftover instead of minting a duplicate. The record is
    * the published manifest itself (an optional 4th header field), so
    * the check survives any crash window — publish IS the marker.
    * Vacuumed-away versions forget their wap id with their manifest;
    * callers that vacuum mid-stream keep the content-convergence
    * guarantee only (the wapStream contract before this face existed).
    */
  def publishIdempotent(table: String, name: String): Long =
    publishedWap(table, name) match {
      case Some(v) => discardStaged(table, name); v
      case None => publish(table, name)
    }

  /** Reject a staged snapshot: drop its manifest; the data dirs age
    * out via vacuum's orphan sweep.
    */
  def discardStaged(table: String, name: String): Unit = {
    checkTagName(name)
    Files.deleteIfExists(stagedDir(table).resolve(name)): Unit
  }

  /** DESCRIBE HISTORY: one row per retained version — (version,
    * n_dirs, n_rows, tags, is_latest). n_rows comes from manifest
    * footer stats alone (the countStar identity; null when any dir
    * predates stats harvesting), tags is the sorted comma-joined pin
    * list. Driver work is version-count-sized (a manifest walk), the
    * returned frame is a local table — the introspection face next to
    * time travel/diff/cdf.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val byVersion = tags(table).toSeq.groupBy(_._2)
      .map { case (v, ns) => v -> ns.map(_._1).sorted.mkString(",") }
    val vs = versions(table)
    val latest = vs.lastOption
    vs.map { v =>
      val m = readManifest(table, v)
      val rows =
        if (m.dirs.forall(m.stats.contains))
          Some(m.dirs.map(m.stats(_).rows).sum)
        else None
      (v, m.dirs.size, rows, byVersion.getOrElse(v, ""),
        latest.contains(v))
    }.toDF("version", "n_dirs", "n_rows", "tags", "is_latest")
  }

  /** SCHEMA HISTORY — the DDL audit face beside [[history]]: per
    * retained version, the column count and the columns ADDED/REMOVED
    * versus the previous retained version (comma-joined, sorted; the
    * first version lists all its columns as added). Manifest-only —
    * a versions-sized driver walk, no data scan.
    */
  def schemaHistory(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    val rows = vs.foldLeft(
      (Option.empty[Set[String]], Seq.empty[(Long, Int, String, String)])) {
      case ((prev, acc), v) =>
        val cols = readManifest(table, v).dataSchema.fieldNames.toSet
        val added = (cols -- prev.getOrElse(Set.empty)).toSeq.sorted
        val removed = (prev.getOrElse(Set.empty) -- cols).toSeq.sorted
        (Some(cols), acc :+ ((v, cols.size, added.mkString(","),
          removed.mkString(","))))
    }._2
    rows.toDF("version", "n_cols", "added_cols", "removed_cols")
  }

  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(rmTree)
    Files.deleteIfExists(p)
  }

  /** The retention step [[vacuum]] and [[expireByAge]] share: delete the
    * `drop` versions' manifests and every data, DV and UV dir they
    * reference that no `keep` manifest and no live staged write
    * references. Returns the dirs still live. Each policy picks
    * `drop` itself, tag pins included.
    */
  private def dropVersions(table: String, keep: Seq[Long],
                           drop: Seq[Long]): Set[String] = {
    // staged (write-audit-publish) dirs are live until published or
    // discarded — an audit window must survive any retention cadence
    val stagedLive = stagedNames(table)
      .flatMap(n => readStagedManifest(table, n).dirs).toSet
    // deletion-vector dirs are references too: a retained manifest's
    // DVs must survive exactly like its data dirs
    def refs(v: Long): Seq[String] = {
      val mm = readManifest(table, v); mm.dirs ++ mm.dvDirs ++ mm.uvDirs
    }
    val live = keep.flatMap(refs).toSet ++ stagedLive
    val dead = drop.flatMap(refs).toSet -- live
    dead.foreach(d => rmTree(Paths.get(d)))
    drop.foreach(v => Files.deleteIfExists(manifestPath(table, v)))
    live
  }

  def vacuum(table: String, keepVersions: Int = 1,
             orphanAgeMs: Long = 3600000L): Unit = {
    def newestMtime(p: Path): Long = {
      val own = Files.getLastModifiedTime(p).toMillis
      if (Files.isDirectory(p)) (own +: listDir(p).map(newestMtime)).max
      else own
    }
    val vs = versions(table)
    val (dropRaw, keepRaw) =
      vs.splitAt(math.max(0, vs.size - keepVersions))
    // tagged versions are pinned: their manifests and data survive
    // any retention window until the tag is dropped
    val pinned = tags(table).values.toSet
    val live = dropVersions(table, keepRaw ++ dropRaw.filter(pinned),
      dropRaw.filterNot(pinned))
    // orphan sweep: a commit dir is live iff some retained manifest
    // references it (partitioned dirs are data/<uuid>/<pc>=<v>;
    // unpartitioned, data/<uuid> itself)
    val dataRoot = Paths.get(table, "data")
    if (Files.isDirectory(dataRoot)) {
      val liveCommits = live.map { d =>
        val p = Paths.get(d)
        if (p.getFileName.toString.contains("=")) p.getParent else p
      }.map(_.toAbsolutePath.normalize)
      val cutoff = System.currentTimeMillis() - orphanAgeMs
      listDir(dataRoot)
        .filterNot(p => liveCommits.contains(p.toAbsolutePath.normalize))
        .filter(p => newestMtime(p) < cutoff)
        .foreach(rmTree)
    }
  }

  /** TIMESTAMP AS OF time travel (Delta's `TIMESTAMP AS OF`, Iceberg's
    * snapshot-at-timestamp): resolve the LATEST version whose commit
    * stamp is ≤ `tsMs` — "what did the table look like when the job
    * ran at T". Commit time = the manifest file's mtime (the same
    * clock [[expireByAge]] and the orphan sweep trust; gates plant
    * deterministic stamps via [[stampVersion]]). Throws when the
    * table has no version that old — reading "before the table
    * existed" is a caller bug, not an empty frame.
    */
  def versionAsOf(table: String, tsMs: Long): Long = {
    val vs = versions(table).filter(v =>
      Files.getLastModifiedTime(manifestPath(table, v)).toMillis <= tsMs)
    require(vs.nonEmpty,
      s"$table has no version committed at or before $tsMs")
    vs.max
  }

  def readAsOf(spark: SparkSession, table: String, tsMs: Long): DataFrame =
    read(spark, table, Some(versionAsOf(table, tsMs)))

  /** FSCK — manifest/data integrity audit of the latest version (the
    * ops tool run before trusting a restored or hand-migrated table):
    * per referenced data/DV/UV directory, flag `missing_dir`; per
    * manifest-listed file, `missing_file`; per directory carrying row
    * stats, recount and flag `row_count_mismatch` (recount ≠ stat).
    * Healthy table ⇒ zero rows. Driver work is directory-listing
    * sized; the recount is one spark count per flagged... per
    * stats-carrying dir (columnar count-star, no row materialization).
    * Output: (path, issue).
    */
  def fsck(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed snapshot"))
    val m = readManifest(table, v)
    val issues = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    (m.dirs ++ m.dvDirs ++ m.uvDirs).foreach { d =>
      if (!Files.isDirectory(Paths.get(d))) issues += d -> "missing_dir"
    }
    m.fileStats.keys.foreach { f =>
      if (!Files.exists(Paths.get(f))) issues += f -> "missing_file"
    }
    m.dirs.filter(d => Files.isDirectory(Paths.get(d))).foreach { d =>
      m.stats.get(d).foreach { st =>
        val actual =
          try spark.read.schema(m.dataSchema).parquet(d).count()
          catch { case _: Exception => -1L }
        if (actual != st.rows) issues += d -> "row_count_mismatch"
      }
    }
    issues.toSeq.toDF("path", "issue")
  }

  /** Fixture clock injection for [[expireByAge]]: stamp a version's
    * manifest with an explicit commit time (file mtime — the same
    * filesystem clock the vacuum orphan sweep trusts). Gates and specs
    * use it to plant deterministic ages; production commits simply
    * carry their real write time.
    */
  def stampVersion(table: String, v: Long, ms: Long): Unit =
    Files.setLastModifiedTime(manifestPath(table, v),
      java.nio.file.attribute.FileTime.fromMillis(ms))

  /** ROLLBACK: restore the table to version `v`'s exact content as a
    * NEW latest version — the undo face of the version chain (Delta's
    * RESTORE, Iceberg's rollback_to_snapshot). Zero data copy: the new
    * manifest re-references `v`'s directories, stats and schema, so
    * the bad version stays inspectable through time travel and the
    * restore is O(manifest) whatever the table size. History keeps
    * every version (the rollback is itself an auditable commit);
    * [[vacuum]]/[[expireByAge]] retire the bad one on their own
    * schedule — and because the restored version shares `v`'s dirs,
    * retiring the bad version can never tear files out from under it.
    */
  def rollback(table: String, v: Long): Long = {
    val m = readManifest(table, v)
    val next = latestVersion(table).getOrElse(0L) + 1
    writeManifest(table, Manifest(next, m.partitionCol, m.partitionType,
      m.dataSchemaJson, m.dirs, m.stats, m.fileStats,
      dvDirs = m.dvDirs, uvDirs = m.uvDirs, uvKey = m.uvKey))
    next
  }

  /** SHALLOW CLONE (Delta's CLONE, zero copy): create a NEW table
    * whose v1 manifest re-references the source's current data
    * directories — the dev/test-sandbox face: experiments commit new
    * versions to the clone without touching the source, and the clone
    * pays manifest bytes, not data bytes. Lifecycle coupling is the
    * documented trade (same as Delta shallow clones): the clone's v1
    * reads through the SOURCE's files, so vacuum/expireByAge on the
    * source can tear a clone that still pins them — clone for
    * sandboxes and short-lived branches, [[rollback]] for in-table
    * undo, full commits for archival copies.
    */
  def cloneTable(src: String, dst: String): Long = {
    require(latestVersion(dst).isEmpty, s"$dst already exists")
    val v = latestVersion(src).getOrElse(
      throw new IllegalArgumentException(s"$src has no committed snapshot"))
    val m = readManifest(src, v)
    writeManifest(dst, Manifest(1L, m.partitionCol, m.partitionType,
      m.dataSchemaJson, m.dirs, m.stats, m.fileStats,
      dvDirs = m.dvDirs, uvDirs = m.uvDirs, uvKey = m.uvKey))
    1L
  }

  /** FAST-FORWARD a branch back onto its source table — the
    * Nessie/Iceberg-branch workflow over [[cloneTable]] branches:
    * work lands on the (shallow) branch; when it's ready, the source
    * adopts the branch HEAD as its next version — iff the source has
    * not moved past `baseVersion` since the branch was cut (a moved
    * source means divergence: fast-forward would silently drop its
    * commits, so this throws [[ConcurrentCommitException]] and the
    * caller rebases — re-clones — instead). Shallow like clone: the
    * adopted manifest references the branch's data dirs; no data
    * copies. Returns the source's new version.
    *
    * LIFETIME HAZARD (inverse of [[cloneTable]]'s): after
    * fast-forward the SOURCE head physically depends on the BRANCH
    * table's directories — vacuuming or deleting the branch tears
    * files out from under the adopted source version. Keep the
    * branch until the source commits past the adopted head (or its
    * retention drops that version); [[vacuum]] only protects dirs
    * referenced within ONE table's manifest chain, not across
    * tables.
    */
  def fastForward(src: String, branch: String,
                  baseVersion: Long): Long = {
    val head = latestVersion(src).getOrElse(
      throw new IllegalArgumentException(s"$src has no snapshot"))
    if (head != baseVersion)
      throw new ConcurrentCommitException(
        s"$src moved $baseVersion -> $head since the branch was cut; " +
          "rebase the branch instead of fast-forwarding")
    val bv = latestVersion(branch).getOrElse(
      throw new IllegalArgumentException(s"$branch has no snapshot"))
    val bm = readManifest(branch, bv)
    writeManifest(src, Manifest(head + 1, bm.partitionCol,
      bm.partitionType, bm.dataSchemaJson, bm.dirs, bm.stats,
      bm.fileStats, dvDirs = bm.dvDirs, uvDirs = bm.uvDirs,
      uvKey = bm.uvKey))
    head + 1
  }

  /** Expire-by-AGE retention — the DESCRIBE-HISTORY-adjacent policy
    * [[vacuum]]'s keep-COUNT window cannot express ("keep 30 days,
    * plus every tagged release"): drop every version whose manifest
    * commit stamp is older than `maxAgeMs` before `nowMs`, EXCEPT
    * tag-pinned versions and the current latest (the table must stay
    * readable whatever the policy). Data directories are removed only
    * when no surviving manifest (or live staged write) references
    * them — merge/compaction chains share dirs across versions and an
    * expired version must never tear files out from under a retained
    * one. Returns the dropped versions, oldest first.
    *
    * Commit time = the manifest file's mtime (the write stamp this
    * store already has; an embedded manifest field would dodge clock
    * skew on a multi-writer filesystem — documented trade, same
    * exposure as the orphan sweep). `nowMs` is explicit so policy
    * runs are replayable; callers pass their own clock.
    */
  def expireByAge(table: String, maxAgeMs: Long,
                  nowMs: Long = System.currentTimeMillis()): Seq[Long] = {
    val vs = versions(table)
    val latest = vs.lastOption.toSet
    val pinned = tags(table).values.toSet
    val cutoff = nowMs - maxAgeMs
    val drop = vs.filter(v => !pinned(v) && !latest(v) &&
      Files.getLastModifiedTime(manifestPath(table, v)).toMillis < cutoff)
    dropVersions(table, vs.filterNot(drop.contains), drop)
    drop
  }
}
