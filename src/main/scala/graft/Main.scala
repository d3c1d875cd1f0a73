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
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Main <warehouseRoot> <asOf:yyyy-MM-dd> <market>=<csvDir>[:<expected>] ...")
    val root = args(0)
    val asOf = args(1)
    val configs = args.drop(2).toIndexedSeq.map { spec =>
      val Array(market, rest) = spec.split("=", 2)
      val (dir, expected) = rest.split(":", 2) match {
        case Array(d, e) => (d, e.toLong)
        case Array(d) => (d, 1L)
      }
      Lifecycle.MarketConfig(market, dir, root, expected, asOf)
    }
    val spark = Session.local()
    try {
      val (_, report) = Lifecycle.run(spark, configs)
      println(report)
    } finally spark.stop()
  }
}
