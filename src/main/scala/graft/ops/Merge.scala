package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert — the single most load-bearing semantic in the reference
  * (INSERT OR REPLACE on PK (date,symbol), downloader_tw.py:118-120 ×6;
  * SCD-1 dimension overwrite downloader_tw.py:66-69 ×6).
  *
  * On plain parquet (no transactional table format in the offline jar set)
  * upsert = union + keep-latest-per-key, made deterministic by an explicit
  * version column (ingest batch id). At 100 TB the full-table rewrite is
  * unacceptable, so the write path is partition-scoped: with the table
  * partitioned by a date column and a dynamic partition overwrite, a
  * merge only rewrites the date partitions present in the incoming batch —
  * the same "touch only what changed" property the reference gets from
  * row-level REPLACE. Every write clusters on the partition column, so
  * each partition is one file: the store stays as compact as the
  * reference keeps it with its per-run VACUUM (downloader_tw.py:126,
  * main.py:192), with no compaction step.
  */
object Merge {

  /** Keep the newest row per key set, newest = max(version); ties broken
    * deterministically by preferring later input order via the version
    * column only — callers must make `version` unique per (keys) conflict
    * (e.g. batch_id * 1e6 + intra-batch ordinal).
    *
    * Shape: ONE hash aggregate — `max_by(struct(payload), version)` —
    * not a row_number window. The window formulation shuffles every row
    * and then SORTS each partition; the aggregate gets map-side partial
    * combining (duplicates collapse before the exchange — exactly the
    * re-delivery/overlap case upserts exist for) and no sort at all.
    * Winner parity: lexicographic max over the version struct ==
    * row_number over `version.desc` = 1.
    */
  def keepLatest(df: DataFrame, keys: Seq[String], version: Column): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    if (payload.isEmpty) df.dropDuplicates(keys)
    else df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*), version).as("__kept"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) col(c) else col(s"__kept.$c")).toIndexedSeq: _*)
  }

  /** keep-latest for the case where a per-series window op CONSUMES the
    * deduped rows: dedup inside the series partitioning instead of a
    * separate (keys)-grouped aggregate, so the dedup and every
    * downstream window over `seriesKeys` share ONE exchange.
    *
    * `keepLatest` would hash-partition on seriesKeys++subKeys and (its
    * struct buffer forcing SortAggregate) sort twice before the window
    * repartitions AGAIN on seriesKeys. Here: partition by seriesKeys,
    * sort (subKeys asc, version desc), and keep each subKey-group's
    * first row via a lag marker — same winner as keepLatest
    * (lexicographic max of `version` per key), one shuffle total for
    * dedup + window chain (q53's plan audit pins this).
    */
  def keepLatestInSeries(df: DataFrame, seriesKeys: Seq[String],
                         subKeys: Seq[String], version: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(seriesKeys.map(col): _*)
      .orderBy(subKeys.map(c => col(c).asc) :+ version.desc: _*)
    val group = struct(subKeys.map(col): _*)
    df.withColumn("__prev_grp", lag(group, 1).over(w))
      .filter(col("__prev_grp").isNull || col("__prev_grp") =!= group)
      .drop("__prev_grp")
  }

  /** Merge an incoming batch into the existing table image: last writer
    * wins per key, incoming preferred over existing at equal version;
    * optional content tiebreaks make the pick deterministic when the
    * version itself collides (never rely on physical row order).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             versionCol: String, tiebreaks: Column*): DataFrame =
    keepLatest(
      existing.withColumn("__src", lit(0))
        .unionByName(incoming.withColumn("__src", lit(1))),
      keys,
      struct(Seq(col(versionCol), col("__src")) ++ tiebreaks: _*)
    ).drop("__src")

  /** The parquet table at `path`, or None when nothing exists there.
    * Absence is asked of the path's Hadoop FileSystem first, so a first
    * write to a new table reads nothing and logs nothing. Only that
    * definite absence means "absent": any other I/O or parse error
    * PROPAGATES — treating it as absent would rewrite the table with
    * just the incoming batch and silently drop history.
    */
  def readIfPresent(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      Some(spark.read.parquet(path))
    else None
  }

  /** Partition-scoped physical merge, and the one way the table at
    * `tablePath` is written: only the partitions in `touched` are read,
    * merged and rewritten (dynamic partition overwrite, set on this write
    * only — the session conf is untouched). This is the 100 TB write
    * path: cost scales with the touched partitions, not the table.
    *
    * `touched` is the batch's distinct `partitionCol` values, from the
    * caller, which knows them from an action it runs anyway or collects
    * them itself. They filter the existing side with a static `isin`, so
    * the file index hands the scan only those partitions (a broadcast
    * semi-join against the batch would not prune: dynamic partition
    * pruning needs a selective predicate on the other side, and a bare
    * batch has none). A batch row whose non-null partition value is not
    * in `touched` fails the write before anything commits, since its
    * partition would be replaced without its stored rows.
    *
    * Every write, the first included, is ONE exchange: the touched
    * existing rows (none on a first write) and the batch are
    * hash-partitioned on `partitionCol`, and [[keepLatest]] groups on
    * `keys` plus `partitionCol` on that same exchange. So each partition
    * directory is written by exactly one task, as one file, and a key the
    * batch carries twice is stored once. All rows of one partition value
    * meet in one task: for the prices store that is at most one row per
    * symbol per date, bounded by the market's universe. The partition
    * value must be a function of the key (it is `date` itself for the
    * prices store), so no key is split across partitions.
    *
    * The existing side keeps its inferred schema, so a column only one
    * side has fails `unionByName` loudly instead of being null-filled or
    * dropped. An empty `touched` reads nothing.
    */
  def upsertIntoPath(incoming: DataFrame, tablePath: String, keys: Seq[String],
                     versionCol: String, partitionCol: String, touched: Seq[Any]): Unit = {
    val part = col(partitionCol)
    val batch = incoming
      .withColumn(partitionCol, when(part.isNull || part.isInCollection(touched), part)
        .otherwise(raise_error(concat(lit(s"$partitionCol "), part.cast("string"),
          lit(" is not in the touched set")))))
      .withColumn("__src", lit(1))
    val existing =
      if (touched.isEmpty) None
      else readIfPresent(incoming.sparkSession, tablePath)
        .map(_.filter(part.isInCollection(touched)).withColumn("__src", lit(0)))
    keepLatest(existing.fold(batch)(_.unionByName(batch)).repartition(part),
        (keys :+ partitionCol).distinct, struct(col(versionCol), col("__src")))
      .drop("__src")
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .mode(SaveMode.Overwrite)
      .parquet(tablePath)
  }

  /** SCHEMA DIFF between two frames — the evolution linter a CI
    * contract check runs before a write lands: per column union,
    * status ∈ {added, removed, type_changed, unchanged} with both
    * catalog types. Pure metadata (driver-side schema walk).
    */
  def schemaDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val ta = a.schema.map(f => f.name -> f.dataType.catalogString).toMap
    val tb = b.schema.map(f => f.name -> f.dataType.catalogString).toMap
    val names = (a.schema.map(_.name) ++
      b.schema.map(_.name).filterNot(ta.contains)).toSeq
    names.map { n =>
      val (x, y) = (ta.get(n), tb.get(n))
      val status = (x, y) match {
        case (Some(_), None) => "removed"
        case (None, Some(_)) => "added"
        case (Some(p), Some(q)) if p != q => "type_changed"
        case _ => "unchanged"
      }
      (n, status, x.getOrElse(""), y.getOrElse(""))
    }.toDF("column", "status", "type_a", "type_b")
  }

  /** RECONCILIATION between two keyed value tables — the migration /
    * dual-write / vendor-feed read: one full-outer join classifies
    * every key as equal, within_tol (|Δ| ≤ tolCents), mismatch,
    * missing_in_a, or missing_in_b, and sums the absolute drift of
    * compared keys. Values compare as exact integer cents (the house
    * money convention — a double compare would manufacture phantom
    * mismatches). One shuffle on the key; output one row per
    * non-empty status: (status, n, drift_cents).
    */
  def reconcile(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                valueCol: String, tolCents: Long): DataFrame = {
    require(keyCols.nonEmpty && tolCents >= 0)
    val aa = a.select((keyCols.map(col) :+
      col(valueCol).cast("long").as("__va")): _*)
    val bb = b.select((keyCols.map(col) :+
      col(valueCol).cast("long").as("__vb")): _*)
    aa.join(bb, keyCols, "full_outer")
      .select(
        when(col("__vb").isNull, "missing_in_b")
          .when(col("__va").isNull, "missing_in_a")
          .when(col("__va") === col("__vb"), "equal")
          .when(abs(col("__va") - col("__vb")) <= tolCents,
            "within_tol")
          .otherwise("mismatch").as("status"),
        coalesce(abs(col("__va") - col("__vb")), lit(0L)).as("__d"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("__d")).as("drift_cents"))
  }
}
