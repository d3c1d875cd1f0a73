package graft

import org.apache.spark.scheduler._

/** Iteration helper: time a subset of SparkEntry.queries and show where
  * each query's wall time went, without the full sweep.
  *
  *   runMain graft.BenchSome q28 q67   (prefix match; none = all)
  *
  * Same session and per-query policy as Bench (q14 warm-up, calibration
  * probe, `toRdd.count()`, then `clearCache`), for `runs` passes (env
  * SPARK_GRAFT_RUNS, default 2) at SPARK_GRAFT_SF_DIR. Next to each time
  * it prints the query's job anatomy from a SparkListener: Spark jobs,
  * stages, wall covered by running jobs (overlaps merged), the
  * uncovered driver gap (planning, codegen, manifest I/O, trigger
  * machinery) and summed executor task time. Multi-action gates are
  * stage-count bound, not data bound; these columns make that a printed
  * number instead of a guess.
  */
object BenchSome {
  /** Job and stage counters for one query. */
  private final class JobAnatomy extends SparkListener {
    val jobs = scala.collection.concurrent.TrieMap[Int, (Long, Long)]()
    @volatile var stages = 0
    @volatile var taskMs = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.put(j.jobId, (j.time, -1L)): Unit
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.updateWith(j.jobId)(_.map(p => (p._1, j.time))): Unit
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      taskMs += s.stageInfo.taskMetrics.executorRunTime
    }
    /** Wall ms covered by ≥1 running job (intervals merged). */
    def coveredMs(upTo: Long): Long = {
      val iv = jobs.values.toSeq
        .map { case (s, e) => (s, if (e < 0) upTo else e) }
        .filter(p => p._2 > p._1).sortBy(_._1)
      var cov = 0L; var end = Long.MinValue
      iv.foreach { case (s, e) =>
        if (s > end) { cov += e - s; end = e }
        else if (e > end) { cov += e - end; end = e }
      }
      cov
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = Session.local()
    try SparkEntry.queries("q14_summary_stats")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // same host-speed probe as the full bench, so subset measurements
    // are comparable across sessions/hosts
    Bench.calibrate(spark)
    println(f"calib_s ${math.min(Bench.calibrate(spark), Bench.calibrate(spark))}%.3f")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.isEmpty || args.exists(n.startsWith))
    for (r <- 1 to runs; name <- names) {
      val rec = new JobAnatomy
      spark.sparkContext.addSparkListener(rec)
      val t0 = System.nanoTime()
      // toRdd.count(): execute the plan as-is — see Bench.scala (plain
      // count() prunes row-preserving final operators)
      val n = try SparkEntry.queries(name)(spark, sfDir)
                    .queryExecution.toRdd.count()
              catch { case e: Throwable => println(s"$name FAILED: $e"); -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: let it drain before reading counters
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(rec)
      spark.catalog.clearCache()
      val cov = rec.coveredMs(System.currentTimeMillis()) / 1000.0
      println(f"run$r $name%-28s $dt%8.3f s  rows=$n " +
        f"jobs=${rec.jobs.size}%4d stages=${rec.stages}%4d " +
        f"jobcov=$cov%7.2fs gap=${dt - cov}%7.2fs " +
        f"tasksum=${rec.taskMs / 1000.0}%8.2fs")
    }
    spark.stop()
  }
}
