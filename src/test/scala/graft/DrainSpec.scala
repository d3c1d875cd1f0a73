package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-stream-loop rule: every micro-batch pipeline runs
  * through Streams.drain and every file sink through runAvailableNow,
  * so trigger, checkpoint and release handling cannot drift apart. */
class DrainSpec extends AnyFunSuite {
  test(".writeStream and Trigger.AvailableNow appear in src/main only in " +
      "graft/streaming/Streams.scala") {
    val hits = SourceScan.mainSources().collect {
      case (path, src) if src.contains(".writeStream") ||
          src.contains("Trigger.AvailableNow") => path
    }
    assert(hits == Seq("graft/streaming/Streams.scala"))
  }
}
