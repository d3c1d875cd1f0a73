package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.ops.Lifecycle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** One benchmark run inside one JVM: set up, warm up, run the timed
  * closed loop through the engine's public entry points, then capture
  * what run.py needs to check every operation's output.
  *
  *   --workload daily_etl|warehouse_queries
  *   --data DIR      generated inputs (tables, or drops/ + asof.txt)
  *   --out DIR       result.json, results/, store/, scratch
  *   --seconds S     length of the timed phase (whole passes)
  *   --min-passes N  passes the timed phase makes at least
  *   --seed N        shuffles the query order of every pass
  *   --trace 0|1     record jobs, stages, spans and store listings
  *   --queries a,b   the workload's operations (query workloads)
  *   --markets a,b   the markets of every Lifecycle.run (daily_etl)
  *   --inject-faults add one query that throws and one that is wrong
  */
object Harness {
  final case class Op(name: String, pass: Int, startMs: Long, endMs: Long,
                      durS: Double, buildS: Double, planS: Double,
                      error: Option[String], digest: Option[(Long, Long)],
                      rddsLeft: Int, bytesLeft: Long, extra: Json.Raw = Json.obj())

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap ++ argv.filter(_ == "--inject-faults").map(_ => "inject-faults" -> "1")
    val workload = args("workload")
    val data = new File(args("data")).getAbsolutePath
    val out = new File(args("out")).getAbsolutePath
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors().toString
    new File(out).mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = if (trace) Some(new Trace) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val result = workload match {
      case "daily_etl" => Daily.run(spark, data, out, seconds, args, listStores = trace)
      case _ => Queries.run(spark, data, out, seconds, args)
    }
    tracer.foreach { _ => org.apache.spark.PerfbenchAccess.drain(spark.sparkContext) }
    val json = Json.obj(
      (Seq("workload" -> workload,
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
        "session_ready_ms" -> sessionReadyMs,
        "cpus" -> cpus.toInt,
        "trace" -> tracer.map(_.toJson)) ++ result): _*)
    Files.writeString(Paths.get(s"$out/result.json"), json.json)
    spark.stop()
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Persisted RDD ids and their stored bytes, as the context sees them. */
  def persisted(spark: SparkSession): Map[Int, Long] = {
    val sc = spark.sparkContext
    val sizes = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    sc.getPersistentRDDs.keys.map(id => id -> sizes.getOrElse(id, 0L)).toMap
  }

  /** Order-independent (rows, sum of xxhash64) over the query's OWN
    * physical plan — `toRdd` executes exactly the plan the query built,
    * like graft.Bench's `toRdd.count()`, and hashes each row on the
    * executors so only two longs per partition reach the driver. */
  def digest(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields.toSeq
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val h = XxHash64(fields.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, nullable = true) }, 42L)
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += h.eval(r).asInstanceOf[Long] }
      Iterator((n, s))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def opJson(o: Op): Json.Raw = Json.obj(
    "name" -> o.name, "pass" -> o.pass, "start_ms" -> o.startMs, "end_ms" -> o.endMs,
    "dur_s" -> o.durS, "build_s" -> o.buildS, "plan_s" -> o.planS,
    "error" -> o.error, "digest" -> o.digest.map(d => Seq(d._1, d._2)),
    "rdds_left" -> o.rddsLeft, "bytes_left" -> o.bytesLeft, "extra" -> o.extra)

  /** One line per operation on stderr (the run's jvm.log). */
  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def errorText(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400)
}

/** warehouse_queries: SparkEntry queries in closed loop. */
object Queries {
  import Harness._

  type Query = (SparkSession, String) => DataFrame

  /** The deliberately broken operations the failure-accounting test
    * injects: one throws while it is built, one returns a wrong answer. */
  val faults: Seq[(String, Query, String)] = Seq(
    ("fault_throws", (_, _) => throw new IllegalStateException("injected fault"),
      "SELECT 1 AS id"),
    ("fault_wrong", (s, _) => s.range(5).toDF("id"),
      "SELECT CAST(range AS BIGINT) AS id FROM range(6)"))

  def run(spark: SparkSession, data: String, out: String, seconds: Double,
          args: Map[String, String]): Seq[(String, Any)] = {
    val names = args("queries").split(",").toSeq
    val minPasses = args("min-passes").toInt
    val injected = if (args.contains("inject-faults")) faults else Nil
    val qs: Seq[(String, Query)] =
      names.map(n => n -> SparkEntry.queries(n)) ++ injected.map(f => f._1 -> f._2)
    val oracle = names.map(n => n -> SparkEntry.oracleSql(n)) ++ injected.map(f => f._1 -> f._3)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.value(oracle.toMap))
    val rng = new scala.util.Random(args("seed").toLong)

    def once(name: String, fn: Query, pass: Int): Op = {
      val before = persisted(spark)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = 0L
      var plan = 0.0
      val res = try {
        val df = fn(spark, data)
        t1 = System.nanoTime()
        val d = digest(df)
        plan = Trace.planSeconds(df.queryExecution)
        Right(d)
      } catch { case e: Throwable => Left(errorText(e)) }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      if (t1 == 0L) t1 = t2
      // per-query persisted intermediates are released between queries,
      // as graft.Bench does (not timed)
      spark.catalog.clearCache()
      val left = persisted(spark) -- before.keySet
      progress(f"$name ${(t2 - t0) / 1e9}%.2fs")
      Op(name, pass, startMs, endMs, (t2 - t0) / 1e9, (t1 - t0) / 1e9, plan,
        res.left.toOption, res.toOption, left.size, left.values.sum)
    }

    // warm-up: every query once, untimed. It fills the Tables memo and
    // the JIT, counts the rows each query scans (for rows_per_s) and
    // writes each output to parquet for the DuckDB oracle; the digest of
    // what was written is what every timed op must reproduce.
    val counter = new InputCounter
    val warm = qs.map { case (n, fn) =>
      val path = s"$out/results/$n"
      spark.sparkContext.addSparkListener(counter)
      counter.reset()
      val t0 = System.nanoTime()
      val written = try { fn(spark, data).write.mode("overwrite").parquet(path); None }
      catch { case e: Throwable => Some(errorText(e)) }
      val dur = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counter)
      val capture = written match {
        case Some(err) => Json.obj("error" -> err)
        case None => Json.obj("digest" -> {
          val d = digest(spark.read.parquet(path)); Seq(d._1, d._2) })
      }
      n -> Json.obj("dur_s" -> dur, "input_records" -> counter.records, "capture" -> capture)
    }

    val ops = mutable.ArrayBuffer[Op]()
    val passWalls = mutable.ArrayBuffer[Double]()
    val firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val t = System.nanoTime()
      rng.shuffle(qs).foreach { case (n, fn) => ops += once(n, fn, pass) }
      passWalls += (System.nanoTime() - t) / 1e9
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val rss = peakRssMb()
    Seq("first_op_ms" -> firstOpMs, "timed_wall_s" -> wall, "passes" -> pass,
      "pass_walls" -> passWalls, "peak_rss_mb" -> rss,
      "warmup" -> warm.toMap, "ops" -> ops.map(opJson))
  }
}

/** Counts input records of finished tasks (warm-up only). */
final class InputCounter extends org.apache.spark.scheduler.SparkListener {
  @volatile var records = 0L
  def reset(): Unit = records = 0L
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized { records += e.taskMetrics.inputMetrics.recordsRead }
}

/** daily_etl: Lifecycle.run over the configured markets, one drop per
  * day and one day per pass. */
object Daily {
  import Harness._

  def run(spark: SparkSession, data: String, out: String, seconds: Double,
          args: Map[String, String], listStores: Boolean): Seq[(String, Any)] = {
    val asOf = scala.io.Source.fromFile(s"$data/asof.txt").getLines().toIndexedSeq
    val minPasses = args("min-passes").toInt
    val store = s"$out/store"
    val markets = args("markets").split(",").toSeq
    // a market expects the symbols its backfill drop delivered
    val expected = markets.map(m => m ->
      new File(s"$data/drops/000/$m").list().count(_.endsWith("_day.csv")).toLong).toMap

    def day(op: Int, pass: Int): Op = {
      val configs = markets.map(m => Lifecycle.MarketConfig(
        marketId = m, csvDir = f"$data/drops/$op%03d/$m", warehouseRoot = store,
        expectedMinSymbols = expected(m), asOf = asOf(op)))
      val before = if (listStores) Some(listStore(store)) else None
      val rddsBefore = persisted(spark)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(Lifecycle.run(spark, configs))
      catch { case e: Throwable => Left(errorText(e)) }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      spark.catalog.clearCache()
      val left = persisted(spark) -- rddsBefore.keySet
      val storeDelta = before.map { b =>
        val a = listStore(store)
        val changed = a.filter { case (p, v) => !b.get(p).contains(v) }
        val removed = b.keySet -- a.keySet
        val parts = (changed.keySet ++ removed).map(p => p.substring(0, p.lastIndexOf('/')))
        Json.obj("files" -> a.size, "bytes" -> a.values.map(_._1).sum,
          "bytes_written" -> changed.values.map(_._1).sum,
          "partitions_rewritten" -> parts.count(_.contains("date=")))
      }
      val extra = res match {
        case Right((summaries, report)) => Json.obj(
          "as_of" -> asOf(op),
          "summaries" -> summaries.map(s => Json.obj(
            "market" -> s.market, "expected" -> s.expected, "success" -> s.success,
            "coverage" -> s.coverage, "status" -> s.status, "endDate" -> s.endDate,
            "totalRows" -> s.totalRows, "nRejected" -> s.nRejected,
            "ranSync" -> s.ranSync)),
          "report" -> report, "store" -> storeDelta)
        case Left(_) => Json.obj("as_of" -> asOf(op), "store" -> storeDelta)
      }
      progress(f"day$op%03d ${(t1 - t0) / 1e9}%.2fs")
      Op(s"day$op", pass, startMs, endMs, (t1 - t0) / 1e9, 0.0, 0.0,
        res.left.toOption, None, left.size, left.values.sum, extra)
    }

    val firstOpMs = System.currentTimeMillis()
    val backfill = day(0, -1)
    val ops = mutable.ArrayBuffer[Op]()
    val passWalls = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var pass = 0
    while ((pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) &&
           pass + 1 < asOf.size) {
      val t = System.nanoTime()
      ops += day(pass + 1, pass)
      passWalls += (System.nanoTime() - t) / 1e9
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val rss = peakRssMb()

    // the final store of every market: live rows, checksum, bytes on disk
    val stores = markets.map { m =>
      val path = s"$store/$m/prices"
      val row = spark.read.parquet(path).select(
        md5(concat_ws("|", col("symbol"), date_format(col("date"), "yyyy-MM-dd"),
          round(col("open") * 100).cast("long"), round(col("high") * 100).cast("long"),
          round(col("low") * 100).cast("long"), round(col("close") * 100).cast("long"),
          col("volume"), col("version"))).as("h"))
        .agg(count(lit(1)), sum(conv(substring(col("h"), 1, 10), 16, 10).cast("long")))
        .first()
      val files = listStore(path)
      m -> Json.obj("rows" -> row.getLong(0), "checksum" -> row.getLong(1),
        "bytes" -> files.filter(_._1.endsWith(".parquet")).values.map(_._1).sum)
    }
    Seq("first_op_ms" -> firstOpMs, "timed_wall_s" -> wall, "passes" -> pass,
      "pass_walls" -> passWalls, "peak_rss_mb" -> rss, "backfill" -> opJson(backfill),
      "ops" -> ops.map(opJson), "stores" -> stores.toMap)
  }

  /** Every data file under `root`: path -> (size, mtime). */
  def listStore(root: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = Paths.get(root)
    if (!Files.exists(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.filter { p =>
        val name = p.getFileName.toString
        Files.isRegularFile(p) && !name.startsWith(".") && !name.startsWith("_")
      }.map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally s.close()
    }
  }
}
