package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the fixed-contract rule for the engine layers: a defaulted
  * parameter (a knob) under graft/ops, graft/streaming or graft/sources
  * exists only because two callers outside the tests need different
  * values. The count is pinned, so adding or removing a knob changes
  * the number below in plain view, in the same change.
  */
class KnobsSpec extends AnyFunSuite {

  test("graft/ops, graft/streaming and graft/sources carry 83 defaulted parameters") {
    val layers = Seq("graft/ops/", "graft/streaming/", "graft/sources/")
    val all = SourceScan.mainSources().collect {
      case (path, src) if layers.exists(path.startsWith) => SourceScan.knobs(path, src)
    }.flatten
    assert(all.size == 83,
      s"${all.size} defaulted parameters:" + all.mkString("\n", "\n", ""))
  }
}
