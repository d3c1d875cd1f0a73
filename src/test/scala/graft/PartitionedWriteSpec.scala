package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one write path for partitioned tables: `Merge.upsertIntoPath`
  * clusters every write on the partition column, so each partition is
  * one file, and it alone overwrites partitions dynamically. A second
  * partitioned writer would bring back one file per scan task. The other
  * partitioned writer allowed is `sources/Snapshot.scala`'s commit
  * directory: the transactional table writes every commit into a fresh
  * directory and never overwrites a partition. */
class PartitionedWriteSpec extends AnyFunSuite {

  /** Offsets in `src` of each `partitionBy` called on a writer chain
    * (`.write` or `.writeStream` followed by `.name(args)` calls), read
    * from the lexed code, so comments and strings never count. A
    * `Window.partitionBy` is not on a writer chain. */
  def writerPartitionBy(src: String): Seq[Int] = {
    val s = SourceScan.code(src)
    def skipSpace(i: Int): Int = {
      var j = i
      while (j < s.length && s(j).isWhitespace) j += 1
      j
    }
    """\.write(?:Stream)?\b""".r.findAllMatchIn(s).toSeq.flatMap { m =>
      val hits = Seq.newBuilder[Int]
      var i = skipSpace(m.end)
      var chained = true
      while (chained) {
        if (i < s.length && s(i) == '(') i = skipSpace(SourceScan.closing(s, i) + 1)
        else if (i < s.length && s(i) == '.') {
          val name = s.substring(i + 1).takeWhile(c => c.isLetterOrDigit || c == '_')
          if (name == "partitionBy") hits += i + 1
          i = skipSpace(i + 1 + name.length)
          chained = name.nonEmpty
        } else chained = false
      }
      hits.result()
    }
  }

  /** Whether `src` names the dynamic-overwrite option in a string: the
    * per-write option key or the session conf key. */
  def overwritesPartitions(src: String): Boolean =
    """[".]partitionOverwriteMode"""".r.findFirstIn(src).nonEmpty

  test("a writer's partitionBy appears in src/main only in graft/ops/Merge.scala " +
      "and Snapshot's commit directory; partitionOverwriteMode only in Merge") {
    val sources = SourceScan.mainSources()
    assert(sources.collect { case (p, src) if writerPartitionBy(src).nonEmpty => p } ==
      Seq("graft/ops/Merge.scala", "graft/sources/Snapshot.scala"))
    assert(sources.collect { case (p, src) if overwritesPartitions(src) => p } ==
      Seq("graft/ops/Merge.scala"))
  }

  test("the scan finds a writer chain's partitionBy across lines and calls, and " +
      "skips window specs, comments and strings") {
    val fixture =
      """object F {
        |  val w = Window.partitionBy(col("a")).orderBy(col("b"))
        |  // df.write.partitionBy("c")
        |  val s = "df.write.partitionBy(c)"
        |  def f(df: DataFrame) = df.write
        |    .option("k", g(1, (2)))
        |    .mode("overwrite")
        |    .partitionBy("d").parquet("p")
        |  def h(df: DataFrame) = df.writeStream.partitionBy("e")
        |  df.write.format("parquet").save("q")
        |}""".stripMargin
    val hits = writerPartitionBy(fixture).map(k => fixture.substring(k).takeWhile(_ != ')'))
    assert(hits == Seq("partitionBy(\"d\"", "partitionBy(\"e\""))
    assert(overwritesPartitions("""w.option("partitionOverwriteMode", "dynamic")"""))
    assert(overwritesPartitions(""""spark.sql.sources.partitionOverwriteMode""""))
    assert(!overwritesPartitions("/** sets `partitionOverwriteMode` per write */"))
  }
}
