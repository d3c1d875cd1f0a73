package graft

import org.apache.spark.sql.functions._
import graft.ops.Provenance

class ProvenanceSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refRoot(rows: Seq[String]): (Long, Long, Option[String]) = {
    var level = rows.map(md5hex).sorted
    var levels = 0L
    while (level.size > 1) {
      levels += 1
      level = level.grouped(2).map {
        case Seq(a, b) => md5hex(a + b)
        case Seq(a) => a
      }.toSeq
    }
    (rows.size.toLong, levels, level.headOption)
  }

  private def got(rows: Seq[(Long, String)]) =
    Provenance.merkleRoot(rows.toDF("id", "v"),
        Seq(col("id"), col("v")))
      .as[(Long, Long, Option[String])].head()

  test("merkleRoot equals a sequential sorted-pairwise reference " +
      "for every size 1..9 (odd tails at multiple levels)") {
    for (n <- 1 to 9) {
      val rows = (1 to n).map(i => (i.toLong, s"v$i"))
      assert(got(rows) == refRoot(rows.map(r => s"${r._1}\u0001${r._2}")),
        s"size $n")
    }
  }

  test("merkleRoot: duplicate rows keep their multiplicity, row order " +
      "never matters, any value change moves the root") {
    val rows = Seq((1L, "a"), (2L, "b"), (1L, "a"), (3L, "c"))
    val base = got(rows)
    assert(base == refRoot(rows.map(r => s"${r._1}\u0001${r._2}")))
    assert(got(rows.reverse) == base)
    assert(got(rows.updated(3, (3L, "C"))) != base)
    assert(got(rows.take(3)) != base) // dropping one dup copy shows
  }

  test("merkleProof: every row's independently-folded path reaches " +
      "the root; odd tails ride through as null siblings") {
    val rows = (1 to 5).map(i => (i.toLong, s"v$i"))
    val root = got(rows)._3.get
    val paths = (1 to 5).map { i =>
      Provenance.merkleProof(rows.toDF("id", "v"),
          Seq(col("id"), col("v")), col("id") === i)
        .as[(Long, Long, Option[String], String, String)]
        .collect().sortBy(_._1)
    }
    paths.foreach { p =>
      assert(p.map(_._1).toSeq == (1L to p.length)) // levels 1..L
      assert(p.last._4 == root)     // driver-refolded acc == root
      assert(p.forall(_._5 == root))
      assert(p.forall(t => t._2 == 0L || t._2 == 1L))
    }
    // with 5 leaves some path must ride an odd tail (null sibling)
    assert(paths.exists(_.exists(_._3.isEmpty)))
  }

  test("leafStarts: distinct hashes SHARING a 60-bit prefix rank " +
      "exactly (the r13 advisor's birthday-bound case at scale)") {
    // synthetic (h, cnt, p60): two pairs of colliding prefixes, one
    // with duplicate multiplicities, interleaved with singletons —
    // expected starts are the exclusive running counts in (h asc)
    // order, which any ROWS-frame tie leak would double/under-count
    val byHash = Seq(
      ("aa01", 1L, 10L), ("aa02", 2L, 10L), // collision pair, dup cnt
      ("bb01", 3L, 20L),
      ("cc01", 1L, 30L), ("cc02", 1L, 30L), ("cc03", 2L, 30L), // triple
      ("dd01", 4L, 40L)
    ).toDF("h", "cnt", "p60")
    val got = Provenance.leafStarts(byHash)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val exp = Seq(("aa01", 0L, 1L), ("aa02", 1L, 2L), ("bb01", 3L, 3L),
      ("cc01", 6L, 1L), ("cc02", 7L, 1L), ("cc03", 8L, 2L),
      ("dd01", 10L, 4L))
    assert(got == exp)
  }

  test("merkleRoot and merkleProof release every level's checkpoint: " +
      "no persisted RDD is left") {
    val df = (1 to 9).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val cols = Seq(col("id"), col("v"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Provenance.merkleRoot(df, cols).collect()
    Provenance.merkleRoot(df.limit(0), cols).collect()
    Provenance.merkleProof(df, cols, col("id") === 4).collect()
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"left $left")
  }

  test("merkleRoot: empty input and null columns are canonical") {
    val empty = Provenance.merkleRoot(
      Seq.empty[(Long, String)].toDF("id", "v"),
      Seq(col("id"), col("v")))
      .as[(Long, Long, Option[String])].head()
    assert(empty == ((0L, 0L, None)))
    // null and empty-string values hash differently (\u0002 sentinel)
    val withNull = got(Seq((1L, null.asInstanceOf[String])))
    assert(withNull != got(Seq((1L, ""))))
    assert(withNull._3.contains(md5hex("1\u0001\u0002")))
  }
}
