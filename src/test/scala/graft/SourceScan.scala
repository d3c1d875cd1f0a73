package graft

/** Source-scan support for the guard specs: every `.scala` file under
  * src/main/scala as (path relative to it, contents), sorted by path. */
object SourceScan {
  def mainSources(): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => (root.relativize(p).toString.replace('\\', '/'),
          java.nio.file.Files.readString(p)))
        .toSeq.sortBy(_._1)
    } finally walk.close()
  }
}
