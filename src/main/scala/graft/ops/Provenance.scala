package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset ATTESTATION: a Merkle tree over a table's canonical row
  * hashes (reference analog: none; the tamper-evidence a dataset
  * release ships so any consumer can re-derive one root hash and a
  * producer can later prove membership of any row with a log-depth
  * path). The sequential alternative — a fold/chain hash — is
  * order-serial by construction; the Merkle shape is the DISTRIBUTED
  * one: leaves rank once, then ⌈log₂ n⌉ pairwise-md5 levels, each a
  * halving groupBy — total work 2n hashes, shuffle volume halving
  * every level.
  *
  * Determinism: leaves sort by their md5 hex (ASCII — Spark and any
  * SQL engine agree on the order); duplicate rows hash identically so
  * their relative order cannot change the tree. Leaf ranks come from
  * the two-level prefix kernel over the hash's leading-60-bit integer
  * — counts aggregated per DISTINCT prefix first, so two hashes
  * sharing a prefix (vanishingly rare on a fixture, birthday-bound
  * certain at billions of leaves) still rank exactly — plus a
  * per-prefix window ordered by the full hex (collision groups stay
  * tiny) and
  * duplicate multiplicities expand through exact count prefix sums —
  * never a global window over data rows. Odd tails and the post-root
  * fixed point share one rule: a 1-node group passes its hash up
  * unchanged.
  */
object Provenance {

  /** Canonical row hash: md5 over the selected columns cast to string
    * and joined with \u0001 (nulls render as \u0002, distinct from
    * empty — the Snapshot.diff convention).
    */
  def rowHash(cols: Seq[Column]): Column =
    md5(concat_ws("\u0001",
      cols.map(c => coalesce(c.cast("string"), lit("\u0002"))): _*))

  /** Exact 0-based START offset in (hash asc) order for every row of a
    * (h, cnt, p60) frame — one row per DISTINCT hash, p60 the hash's
    * leading-60-bit integer. [[Ranks.withRunningBelow]]'s contract is
    * one row per distinct valueCol, and distinct hashes CAN share a
    * 60-bit prefix (~n²/2⁶¹ — vanishingly rare on a fixture, expected
    * at billions of leaves by the birthday bound), so the counts
    * aggregate per distinct p60 FIRST; the kernel ranks the prefix
    * buckets and the offset joins back on p60 (the window below
    * re-uses that hash partitioning — no extra exchange), with the
    * intra-prefix term from a per-prefix window ordered by the FULL
    * hex. Seam extracted so ProvenanceSpec can feed synthetic
    * colliding prefixes without mining a real 60-bit md5 collision.
    */
  private[graft] def leafStarts(byHash: DataFrame): DataFrame = {
    val perPrefix = byHash.groupBy(col("p60")).agg(sum(col("cnt")).as("cnt"))
    val offs = Ranks.withRunningBelow(perPrefix, "p60",
        math.max(1L, (1L << 60) / 4096), Seq("cnt"))
      .select(col("p60"), col("cnt_below"))
    val wIntra = Window.partitionBy(col("p60")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byHash.join(offs, "p60")
      .withColumn("intra",
        coalesce(sum(col("cnt")).over(wIntra), lit(0L)))
      .select(col("h"),
        (col("cnt_below") + col("intra")).as("start"), col("cnt"))
  }

  /** Leaves ranked by hash: (h, r) with r the exact 0-based position
    * in (hash asc) order — eagerly checkpointed.
    */
  private def rankedLeaves(df: DataFrame, cols: Seq[Column]): DataFrame = {
    val byHash = df.select(rowHash(cols).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .withColumn("p60",
        conv(substring(col("h"), 1, 15), 16, 10).cast("long"))
    leafStarts(byHash)
      .select(col("h"), col("start"),
        explode(sequence(lit(0L), col("cnt") - 1)).as("i"))
      .select(col("h"), (col("start") + col("i")).as("r"))
      .localCheckpoint(true)
  }

  /** One halving level: pair ranks by DIV 2, md5 the ordered pair, a
    * 1-node group (odd tail / post-root) passes through. Frees `cur`'s
    * checkpoint once the new level is materialized and no longer reads it.
    */
  private def collapse(cur: DataFrame): DataFrame = {
    val next = cur.groupBy(expr("r DIV 2").as("r"))
      .agg(count(lit(1)).as("c"), min_by(col("h"), col("r")).as("l"),
        max_by(col("h"), col("r")).as("x"))
      .select(col("r"), when(col("c") === 2,
        md5(concat(col("l"), col("x")))).otherwise(col("l")).as("h"))
      .localCheckpoint(true)
    Frames.release(cur)
    next
  }

  /** The Merkle root of `df`'s rows hashed over `cols`. Returns a
    * one-row frame (n_leaves, levels, root). levels = ⌈log₂ n⌉;
    * empty input yields (0, 0, null).
    */
  def merkleRoot(df: DataFrame, cols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var cur = rankedLeaves(df, cols)
    var n = cur.count()
    val leaves = n
    var levels = 0L
    while (n > 1) {
      levels += 1
      cur = collapse(cur)
      n = cur.count()
    }
    val root: Option[String] =
      if (leaves == 0) None else Some(cur.select(col("h")).head().getString(0))
    Frames.release(cur)
    Seq((leaves, levels, root)).toDF("n_leaves", "levels", "root")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** INCLUSION PROOF for the single row matching `targetPred`: one
    * row per level — (level, side, sibling, acc, root) where side is
    * the target's position in its pair (0 = left), sibling the hash
    * md5-combined in (null when the node rides an odd tail up
    * unchanged) and acc the running digest; at the last level acc ==
    * root BY RE-DERIVATION (the driver folds the path with its own
    * md5 — the verification a consumer would run, not a copy of the
    * engine's root). Driver work is ⌈log₂ n⌉ one-row lookups (the
    * LinearModel bounded-collect discipline); everything data-sized
    * stays distributed.
    */
  def merkleProof(df: DataFrame, cols: Seq[Column],
                  targetPred: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hT = df.filter(targetPred).select(rowHash(cols).as("h"))
      .head().getString(0)
    var cur = rankedLeaves(df, cols)
    var n = cur.count()
    // duplicates share a hash; the proof tracks the first copy
    var rT = cur.filter(col("h") === hT)
      .agg(min(col("r"))).head().getLong(0)
    var acc = hT
    var level = 0L
    val path = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[String], String)]
    while (n > 1) {
      level += 1
      val sib = cur.filter(expr("r DIV 2") === rT / 2 &&
          col("r") =!= rT)
        .select(col("h")).collect().headOption.map(_.getString(0))
      val side = rT % 2
      acc = sib match {
        case None => acc
        case Some(s) => if (side == 0) md5hex(acc + s) else md5hex(s + acc)
      }
      path += ((level, side, sib, acc))
      cur = collapse(cur)
      rT /= 2
      n = cur.count()
    }
    val root = cur.select(col("h")).head().getString(0)
    Frames.release(cur)
    path.toSeq.toDF("level", "side", "sibling", "acc")
      .withColumn("root", lit(root))
  }
}
