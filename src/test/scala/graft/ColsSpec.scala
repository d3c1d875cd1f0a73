package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-exact-arithmetic-vocabulary rule: the integer and
  * snapping helpers oracle parity rests on (`dec`, `fdiv`, `tdiv`,
  * `snapMicro`, `snap4`) are defined once, in graft.ops.Cols, and
  * imported everywhere else — never redeclared as local copies. */
class ColsSpec extends AnyFunSuite {
  test("exact-arithmetic helpers are defined in src/main only in graft/ops/Cols.scala") {
    val copy = """def (dec|fdiv|floorDiv|fdivL|tdiv|snapMicro|snap4)\(|val d38 =""".r
    val copies = for {
      (path, src) <- SourceScan.mainSources() if path != "graft/ops/Cols.scala"
      (line, i) <- src.linesIterator.zipWithIndex
      if copy.findFirstIn(line).isDefined
    } yield s"$path:${i + 1}: ${line.trim}"
    if (copies.nonEmpty)
      fail(s"${copies.size} local copies:" + copies.take(10).mkString("\n", "\n", ""))
  }
}
