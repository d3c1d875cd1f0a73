package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-session-factory rule: every main builds its session
  * through graft.Session, so configs cannot drift apart again. */
class SessionFactorySpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only in graft/Session.scala") {
    val builders = SourceScan.mainSources()
      .collect { case (path, src) if src.contains("SparkSession.builder") => path }
    assert(builders == Seq("graft/Session.scala"))
  }
}
