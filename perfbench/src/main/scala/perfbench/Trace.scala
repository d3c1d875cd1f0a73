package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The traced run's recorder: Spark jobs and stages from a listener,
  * query-execution planning phases from a QueryExecutionListener, and
  * the time spent inside both callbacks (the tracer's own overhead).
  * Everything stays in memory; [[Json]] writes it out when the run ends.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long, module: String,
                       site: String, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, start: Long, end: Long,
                         tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         inputBytes: Long, inputRecords: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long)

  val jobs = mutable.ArrayBuffer[Job]()
  val stages = mutable.ArrayBuffer[Stage]()
  /** (epoch ms at callback, analysis+optimization+planning seconds) of
    * every Dataset action that ran through the SQL execution path. */
  val actions = mutable.ArrayBuffer[(Long, Double)]()
  /** Module of each SQL execution, from its call site: the jobs that AQE
    * and broadcast threads submit carry only the execution id. */
  private val executionModule = mutable.Map[Long, String]()
  @volatile var overheadNs = 0L

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val first = e.stageInfos.sortBy(_.stageId).headOption
    val details = first.map(_.details).getOrElse("")
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.long")))
      .getOrElse("")
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    synchronized {
      val own = Trace.moduleOf(details + "\n" + site)
      val module = if (own != "other") own
        else execution.flatMap(executionModule.get).getOrElse("other")
      jobs += Job(e.jobId, e.time, -1L, module,
        first.map(_.name).getOrElse(""), e.stageIds)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
      synchronized { executionModule(s.executionId) = Trace.moduleOf(s.details) }
    }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    synchronized { jobs.find(_.id == e.jobId).foreach(_.end = e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) synchronized {
      stages += Stage(si.stageId, si.attemptNumber(),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed { synchronized { actions += ((System.currentTimeMillis(), Trace.planSeconds(qe))) } }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def toJson: Json.Raw = synchronized {
    val js = jobs.map(j => Json.obj(
      "id" -> j.id, "start" -> j.start, "end" -> j.end, "module" -> j.module,
      "site" -> j.site, "stages" -> j.stageIds))
    val ss = stages.map(s => Json.obj(
      "id" -> s.id, "attempt" -> s.attempt, "start" -> s.start, "end" -> s.end,
      "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
      "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
      "input_records" -> s.inputRecords, "shuffle_read" -> s.shuffleRead,
      "shuffle_write" -> s.shuffleWrite, "spill" -> s.spill))
    val as = actions.map { case (t, p) => Json.obj("t" -> t, "plan_s" -> p) }
    Json.obj("jobs" -> js, "stages" -> ss, "actions" -> as,
      "overhead_s" -> overheadNs / 1e9)
  }
}

object Trace {
  /** The engine modules a Spark job can be attributed to. */
  val Modules: Seq[String] = Seq("Tables", "Pipeline", "Quality", "Resample",
    "Merge", "Snapshot", "Report", "Lifecycle", "SuffixArray", "Dedup",
    "Similarity", "Text", "Streams")

  private val Frame = """^\s*(?:at\s+)?graft\.(?:[a-z]+\.)*([A-Za-z0-9]+)\$?[.$]""".r.unanchored

  /** Module of the innermost `graft.` frame of a call site (its long
    * form lists frames innermost first), or "other". */
  def moduleOf(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") || l.startsWith("at graft.") =>
        l match {
          case Frame(obj) if Modules.contains(obj) => obj
          case _ => "other"
        }
    }.getOrElse("other")

  /** Analysis + optimization + planning seconds from the tracker. */
  def planSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => p.durationMs).sum / 1e3
}
