package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Main` rejects malformed command lines with its usage message,
  * before it builds a session. */
class MainSpec extends AnyFunSuite {

  private def rejected(args: String*): String =
    intercept[IllegalArgumentException](Main.main(args.toArray)).getMessage

  test("Main rejects a market spec without '=', a non-numeric expected count " +
      "and a non-ISO asOf with its usage message, starting no session") {
    import org.apache.spark.sql.SparkSession
    val before = SparkSession.getDefaultSession
    val bad = Seq(
      rejected("/tmp/wh", "2026-08-12", "tw"),
      rejected("/tmp/wh", "2026-08-12", "=/data/tw"),
      rejected("/tmp/wh", "2026-08-12", "tw=/data/tw:many"),
      rejected("/tmp/wh", "12/08/2026", "tw=/data/tw"),
      rejected("/tmp/wh", "2026-8-12", "tw=/data/tw"),
      rejected("/tmp/wh", "2026-08-12"))
    bad.foreach(m => assert(m.contains("usage: graft.Main"), m))
    // no session was built (nor an existing one taken over and stopped)
    assert(SparkSession.getDefaultSession == before &&
      before.forall(!_.sparkContext.isStopped))
  }
}
