package graft

import org.apache.spark.sql.SparkSession

/** The one session every main runs on (Main, Verify, Bench, BenchSome,
  * Explain), so the plans Explain prints are the plans Bench times:
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * no UI, WARN logging. `cpus` is SPARK_GRAFT_CPUS, else the host's
  * available processors. Specs keep their own fixed `local[4]` session
  * (SparkSpec) so test plans do not depend on the host.
  */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
