package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; specs run in
  * the forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import org.apache.spark.sql.Row

  def rowsOf(df: DataFrame): Set[Row] = df.collect().toSet

  /** Run `f` with `l` on the listener bus; every event `f` caused has
    * reached `l` when this returns.
    */
  def listening[A](l: org.apache.spark.scheduler.SparkListener)(f: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try { val a = f; org.apache.spark.ListenerBusAccess.drain(sc); a }
    finally sc.removeSparkListener(l)
  }

  def withTempDir[A](f: java.io.File => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test").toFile
    try f(dir)
    finally {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete()
      }
      rm(dir)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
