package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-session-factory rule: every main builds its session
  * through graft.Session, so configs cannot drift apart again. */
class SessionFactorySpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only in graft/Session.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val builders =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder"))
          .map(p => root.relativize(p).toString.replace('\\', '/'))
          .toSeq.sorted
      } finally walk.close()
    assert(builders == Seq("graft/Session.scala"))
  }
}
