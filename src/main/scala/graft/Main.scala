package graft

import graft.ops.Lifecycle

/** Runnable per-market lifecycle (reference main.py entrypoint):
  *
  *   runMain graft.Main <warehouseRoot> <asOf> <market>=<csvDir>[:<expected>] ...
  *
  * e.g. `runMain graft.Main /tmp/wh 2026-08-12 tw=/data/tw_csvs:950 hk=/data/hk_csvs`
  *
  * Each market runs restore-check → freshness gate → ingest → validate →
  * merge → resample → summarize; one rendered report covers the fleet.
  * Malformed arguments fail with the usage line before a session starts.
  */
object Main {
  private val Usage =
    "usage: graft.Main <warehouseRoot> <asOf:yyyy-MM-dd> <market>=<csvDir>[:<expected>] ..."

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val root = args(0)
    val asOf = args(1)
    // the freshness gate compares asOf to partition dates as strings,
    // which orders dates only in the ISO form
    require(scala.util.Try(java.time.LocalDate.parse(asOf)).isSuccess,
      s"asOf '$asOf' is not an ISO date; $Usage")
    val configs = args.drop(2).toIndexedSeq.map { spec =>
      val parts = spec.split("=", 2)
      require(parts.length == 2 && parts(0).nonEmpty && parts(1).nonEmpty,
        s"market spec '$spec' is not <market>=<csvDir>[:<expected>]; $Usage")
      val (dir, expected) = parts(1).split(":", 2) match {
        case Array(d, e) =>
          require(e.toLongOption.isDefined,
            s"expected symbol count '$e' in '$spec' is not a number; $Usage")
          (d, e.toLong)
        case Array(d) => (d, 1L)
      }
      Lifecycle.MarketConfig(parts(0), dir, root, expected, asOf)
    }
    val spark = Session.local()
    try {
      val (_, report) = Lifecycle.run(spark, configs)
      println(report)
    } finally spark.stop()
  }
}
