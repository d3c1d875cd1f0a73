package graft

/** Dev tool: dump formatted physical plans for selected queries so plan
  * regressions (missed broadcast, lost pushdown, dropped exchange reuse)
  * are visible. Usage: runMain graft.Explain [queryName ...]
  * Plans on the same session as Bench (Session.local), so they are the
  * plans that get timed.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
