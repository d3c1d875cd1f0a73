package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (time-ordered) join — the canonical financial-series operator
  * Spark lacks natively: for every left row, attach the single newest
  * right row with the same key and right.time <= left.time (backward;
  * "latest quote at or before each trade"), optionally bounded by a
  * tolerance.
  *
  * The reference never aligns series across symbols (SURVEY §2.4 scopes
  * as-of out), but any consumer of its warehouse doing trade/quote or
  * price/event alignment needs this first.
  *
  * Implementation is the union-and-window formulation, NOT a range join:
  * tag both inputs, union them, and run one `last(_, ignoreNulls)` over
  * a per-key window ordered by (time, side). That is a single shuffle on
  * the key columns and one sort — no candidate explosion, no
  * O(|L|·|R|) range join, no per-row probe. At 100 TB the shuffle is on
  * the series key (high cardinality, bounded per-key volume), the same
  * partitioning every per-symbol window op in this engine uses; an
  * extreme hot key would call for the same salting used elsewhere.
  *
  * Semantics pinned by AsofSpec and the q52 DuckDB `ASOF LEFT JOIN`
  * oracle:
  *  - a left row at exactly a right row's timestamp matches it
  *    (the right side wins ties of the window ordering);
  *  - unmatched left rows survive with null right payload (left join);
  *  - `tolerance`: matches further than `tolerance`
  *    from the left time are discarded (null payload), mirroring
  *    pandas merge_asof;
  *  - right (key, time) pairs must be unique for a deterministic pick —
  *    run Merge.keepLatest on the right side first when they are not.
  */
object Asof {

  /** Backward as-of join ("latest right at or before each left row").
    * Right payload columns (everything but `by` and `rightTime`) must
    * not collide with left column names.
    */
  def joinAsOf(left: DataFrame, right: DataFrame, by: Seq[String],
               leftTime: String, rightTime: String,
               tolerance: Option[Column] = None): DataFrame = {
    val payload = right.columns.filterNot(c => by.contains(c) || c == rightTime).toIndexedSeq
    require(payload.intersect(left.columns).isEmpty,
      s"right payload ${payload.mkString(",")} collides with left columns")

    val rPacked = right.select(
      by.map(col) ++ Seq(
        col(rightTime).as("__t"), lit(0).as("__side"),
        struct(col(rightTime).as("__rt") +: payload.map(col): _*).as("__r")): _*)
    val leftKeep = left.columns.filterNot(by.contains).toIndexedSeq
    val lPacked = left.select(
      by.map(col) ++ Seq(
        col(leftTime).as("__t"), lit(1).as("__side"),
        lit(null).cast(rPacked.schema("__r").dataType).as("__r"),
        struct(leftKeep.map(col): _*).as("__l")): _*)

    val unioned = rPacked
      .withColumn("__l", lit(null).cast(lPacked.schema("__l").dataType))
      .unionByName(lPacked)
    // right rows sort before left rows at equal time (side 0 < 1), so a
    // left row at exactly a right timestamp sees that right row
    val w = Window.partitionBy(by.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matchedRaw = last(col("__r"), ignoreNulls = true).over(w)
    val matched = tolerance match {
      case None => matchedRaw
      case Some(tol) => Cols.bound(matchedRaw)(m =>
        when(m("__rt") >= col("__t") - tol, m))
    }

    unioned
      .withColumn("__m", matched)
      .filter(col("__side") === 1)
      .select(
        by.map(col) ++
          leftKeep.map(c => col(s"__l.$c").as(c)) ++
          payload.map(c => col(s"__m.$c").as(c)): _*)
  }
}
