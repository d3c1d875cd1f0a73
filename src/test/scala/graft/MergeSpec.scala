package graft

import org.apache.spark.sql.functions._
import graft.ops.Merge

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String, Double, Long)*) =
    rows.toDF("symbol", "date", "close", "version")

  /** upsertIntoPath on (symbol, date), touching the batch's own dates. */
  private def merge(inc: org.apache.spark.sql.DataFrame, path: String): Unit =
    Merge.upsertIntoPath(inc, path, Seq("symbol", "date"), "version", "date",
      inc.select($"date").distinct().as[String].collect().toSeq)

  test("upsert: newer version wins per key, old rows survive") {
    val existing = batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L))
    val incoming = batch(("A", "2024-01-02", 99.0, 1L), ("A", "2024-01-03", 12.0, 1L))
    val out = Merge.upsert(existing, incoming, Seq("symbol", "date"), "version")
      .select($"date", $"close").as[(String, Double)].collect().toSet
    assert(out == Set(("2024-01-01", 10.0), ("2024-01-02", 99.0), ("2024-01-03", 12.0)))
  }

  test("upsert is idempotent: merging the same batch twice changes nothing") {
    val b = batch(("A", "2024-01-01", 10.0, 1L), ("B", "2024-01-01", 20.0, 1L))
    val once = Merge.upsert(b, b, Seq("symbol", "date"), "version")
    assert(once.count() == 2)
    val twice = Merge.upsert(once, b, Seq("symbol", "date"), "version")
    assert(rowsOf(twice.select("symbol", "date", "close")) ==
      rowsOf(b.select("symbol", "date", "close")))
  }

  test("keepLatest honours explicit tiebreaks deterministically") {
    val df = Seq(("A", "2024-01-01", 1.0, 5L), ("A", "2024-01-01", 2.0, 5L))
      .toDF("symbol", "date", "close", "v")
    val kept = Merge.keepLatest(df, Seq("symbol", "date"), struct($"v", $"close"))
      .select($"close").as[Double].collect().toSeq
    assert(kept == Seq(2.0)) // equal version -> higher close wins
  }

  test("keepLatestInSeries picks the same winners as keepLatest") {
    val df = Seq(
      ("A", "2024-01-01", 1.0, 1L), ("A", "2024-01-01", 2.0, 3L),
      ("A", "2024-01-01", 9.0, 2L), ("A", "2024-01-02", 4.0, 1L),
      ("B", "2024-01-01", 5.0, 2L), ("B", "2024-01-01", 6.0, 2L))
      .toDF("symbol", "date", "close", "v")
    val viaAgg = Merge.keepLatest(df, Seq("symbol", "date"),
      struct($"v", $"close"))
      .select($"symbol", $"date", $"close", $"v").collect().toSet
    val viaWindow = Merge.keepLatestInSeries(df, Seq("symbol"), Seq("date"),
      struct($"v", $"close"))
      .select($"symbol", $"date", $"close", $"v").collect().toSet
    assert(viaWindow == viaAgg)
    assert(viaWindow.size == 3)
  }

  test("upsertIntoPath only rewrites touched date partitions") {
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      val b0 = batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L))
      b0.write.partitionBy("date").parquet(path)
      val day1 = new java.io.File(s"$path/date=2024-01-01")
      val before = day1.listFiles().map(f => (f.getName, f.lastModified)).toSet

      val inc = batch(("A", "2024-01-02", 99.0, 1L))
      merge(inc, path)

      val after = day1.listFiles().map(f => (f.getName, f.lastModified)).toSet
      assert(before == after, "untouched partition must not be rewritten")
      val out = spark.read.parquet(path)
        .select($"date".cast("string"), $"close").as[(String, Double)].collect().toSet
      assert(out == Set(("2024-01-01", 10.0), ("2024-01-02", 99.0)))
    }
  }

  test("upsertIntoPath reads only the partitions the batch touches") {
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-01", 20.0, 0L),
        ("A", "2024-01-02", 11.0, 0L), ("B", "2024-01-02", 21.0, 0L),
        ("A", "2024-01-03", 12.0, 0L), ("B", "2024-01-03", 22.0, 0L))
        .write.partitionBy("date").parquet(path)
      val read = new java.util.concurrent.atomic.AtomicLong
      listening(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      }) {
        merge(batch(("A", "2024-01-02", 99.0, 1L)), path)
      }
      // the two stored rows of 2024-01-02; the batch is a local relation
      assert(read.get == 2)
      val out = spark.read.parquet(path)
        .select($"symbol", $"date".cast("string"), $"close")
        .as[(String, String, Double)].collect().toSet
      assert(out == Set(("A", "2024-01-01", 10.0), ("B", "2024-01-01", 20.0),
        ("A", "2024-01-02", 99.0), ("B", "2024-01-02", 21.0),
        ("A", "2024-01-03", 12.0), ("B", "2024-01-03", 22.0)))
    }
  }

  test("upsertIntoPath fails loudly when the table has a column the batch lacks") {
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      batch(("A", "2024-01-01", 10.0, 0L)).withColumn("note", lit("x"))
        .write.partitionBy("date").parquet(path)
      intercept[org.apache.spark.sql.AnalysisException] {
        merge(batch(("A", "2024-01-01", 99.0, 1L)), path)
      }
      val kept = spark.read.parquet(path).select($"close", $"note")
        .as[(Double, String)].collect().toSeq
      assert(kept == Seq((10.0, "x")))
    }
  }

  test("a merge that fails mid-write leaves the table intact and readable") {
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      val b0 = batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L))
      merge(b0, path)
      val before = spark.read.parquet(path)
        .select($"date".cast("string"), $"close").as[(String, Double)].collect().toSet

      // incoming batch that detonates during task execution — the write
      // job fails after tasks have started producing output
      val bomb = batch(("A", "2024-01-02", 99.0, 1L), ("A", "2024-01-03", 12.0, 1L))
        .withColumn("close",
          when($"close" === 12.0, raise_error(lit("disk full"))).otherwise($"close"))
      intercept[Exception] {
        merge(bomb, path)
      }

      // dynamic partition overwrite only swaps partitions at job commit,
      // so the failed job must leave every original row readable
      val after = spark.read.parquet(path)
        .select($"date".cast("string"), $"close").as[(String, Double)].collect().toSet
      assert(after == before, "failed merge must not corrupt the table")
    }
  }

  test("a transient read failure aborts the merge instead of replacing the table") {
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      val b0 = batch(("A", "2024-01-01", 10.0, 0L))
      merge(b0, path)
      // corrupt the store: an unreadable footer is NOT path-not-found, so
      // the probe must propagate instead of treating the table as absent
      // (which would silently drop history)
      val part = new java.io.File(s"$path/date=2024-01-01")
      part.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val w = new java.io.FileOutputStream(f); w.write(Array.fill(8)(0x00.toByte)); w.close()
      }
      val inc = batch(("A", "2024-01-02", 11.0, 1L))
      intercept[Exception] {
        merge(inc, path)
      }
      // the (corrupt) original bytes are still there — nothing was replaced
      assert(part.listFiles().exists(_.getName.endsWith(".parquet")))
    }
  }

  test("upsertIntoPath: a first write to a new table logs no FileNotFoundException") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("merge-spec-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warnings.add(e.toImmutable): Unit
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      merge(batch(("A", "2024-01-01", 10.0, 0L)), path)
      assert(spark.read.parquet(path).count() == 1L)
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      val notFound = warnings.toArray(Array.empty[LogEvent]).toSeq.filter(e =>
        Option(e.getThrown).exists(chain(_).exists(
          _.isInstanceOf[java.io.FileNotFoundException])))
      assert(notFound.isEmpty, notFound.map(_.getMessage.getFormattedMessage)
        .mkString("WARN with FileNotFoundException: ", "; ", ""))
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
  }

  test("upsertIntoPath overwrites partitions dynamically without changing the session") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "STATIC")
    try withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      merge(batch(("A", "2024-01-01", 10.0, 0L)), path)
      merge(batch(("A", "2024-01-02", 11.0, 1L)), path)
      assert(spark.conf.get(key) == "STATIC")
      // a static overwrite would have dropped the untouched partition
      val out = spark.read.parquet(path)
        .select($"date".cast("string"), $"close").as[(String, Double)].collect().toSet
      assert(out == Set(("2024-01-01", 10.0), ("2024-01-02", 11.0)))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("upsertIntoPath: a first write stores one row per key, the newer version") {
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      merge(batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-01", 12.0, 1L),
        ("B", "2024-01-01", 20.0, 0L)), path)
      val out = spark.read.parquet(path).select($"symbol", $"close")
        .as[(String, Double)].collect().toSeq.sorted
      assert(out == Seq(("A", 12.0), ("B", 20.0)))
    }
  }

  test("upsertIntoPath: a batch row outside the touched set fails the write " +
      "and leaves the table as it was") {
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      merge(batch(("A", "2024-01-01", 10.0, 0L), ("A", "2024-01-02", 11.0, 0L)), path)
      intercept[Exception] {
        Merge.upsertIntoPath(batch(("A", "2024-01-01", 99.0, 1L), ("A", "2024-01-02", 98.0, 1L)),
          path, Seq("symbol", "date"), "version", "date", Seq("2024-01-01"))
      }
      val out = spark.read.parquet(path)
        .select($"date".cast("string"), $"close").as[(String, Double)].collect().toSet
      assert(out == Set(("2024-01-01", 10.0), ("2024-01-02", 11.0)))
    }
  }

  test("upsertIntoPath shuffles once, on the partition column, and keepLatest " +
      "reuses that exchange: first write and merge alike") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val capture = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (Plans.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)
          writes.add(qe): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    withTempDir { dir =>
      val path = dir.getAbsolutePath + "/prices"
      spark.listenerManager.register(capture)
      try {
        merge(batch(("A", "2024-01-01", 10.0, 0L), ("B", "2024-01-02", 20.0, 0L)), path)
        merge(batch(("A", "2024-01-02", 11.0, 1L), ("A", "2024-01-03", 12.0, 1L)), path)
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(capture)
    }
    assert(writes.size == 2)
    writes.forEach { qe =>
      val shuffles = Plans.collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }
      assert(shuffles.size == 1, qe.executedPlan)
      val keys = shuffles.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
        case other => Seq(other.toString)
      }
      assert(keys == Seq("date"), qe.executedPlan)
    }
  }

  test("reconcile: exact cent classification with tolerance, missing keys both ways") {
    val a = Seq((1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L))
      .toDF("k", "cents")
    val b = Seq((1L, 100L), (2L, 203L), (3L, 400L), (5L, 7L))
      .toDF("k", "cents")
    val out = Merge.reconcile(a, b, Seq("k"), "cents", 5L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out == Map(
      "equal" -> (("equal", 1L, 0L)),
      "within_tol" -> (("within_tol", 1L, 3L)),
      "mismatch" -> (("mismatch", 1L, 100L)),
      "missing_in_b" -> (("missing_in_b", 1L, 0L)),
      "missing_in_a" -> (("missing_in_a", 1L, 0L))))
  }

  test("schemaDiff: added/removed/type_changed/unchanged classification") {
    import org.apache.spark.sql.functions.{col, lit}
    val a = Seq((1L, "x", 2.0)).toDF("id", "s", "v")
    val b = a.drop("s").withColumn("v", col("v").cast("float"))
      .withColumn("extra", lit(true))
    val out = Merge.schemaDiff(a, b)
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("id") == (("id", "unchanged", "bigint", "bigint")))
    assert(out("s") == (("s", "removed", "string", "")))
    assert(out("v") == (("v", "type_changed", "double", "float")))
    assert(out("extra") == (("extra", "added", "", "boolean")))
  }

}
