package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Cols.fdiv

/** Training-sequence PACKING — the layout step between a curated
  * corpus and a pretraining dataloader (reference analog: none; the
  * stage every LLM pipeline runs after dedup/filter and before
  * tokenized shards are written). Two disciplines:
  *
  *  - [[sequencePacking]]: CONCAT-AND-CHUNK — documents concatenate in
  *    id order into one global token stream cut into fixed-capacity
  *    sequences; documents may straddle cuts (the GPT-style packing
  *    with zero padding waste). Pure prefix-sum arithmetic: offsets
  *    from the two-level kernel, every derived number an exact
  *    integer — no greedy state, hence embarrassingly parallel at any
  *    scale.
  *  - [[stripedBinPacking]]: WHOLE-DOCUMENT packing into B =
  *    ⌈total/cap⌉ bins by striping the (length desc, id) rank r to
  *    bin r mod B — the deterministic, shuffle-free approximation of
  *    first-fit-decreasing a distributed packer actually runs
  *    (true FFD is inherently sequential); the output's overflow
  *    column MEASURES the heuristic's waste instead of hiding it.
  *
  * Both emit bin/sequence-level tables whose every value is exact, so
  * a SQL oracle replays them with window cumsums.
  */
object Packing {

  /** Concat-and-chunk layout table, one row per sequence: (seq_id,
    * n_docs, n_docs_starting, first_doc, tokens_filled). `docTokens`
    * is (doc_id, n); zero-length docs occupy no sequence. The
    * doc→sequence fan-out is `sequence(start,end)` — bounded by
    * ⌈n/cap⌉+1 per doc, never corpus-sized; the one-row total
    * attaches by broadcast cross join (the repo's totals convention).
    */
  def sequencePacking(docTokens: DataFrame, cap: Long): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val offs = Ranks.withRunningBelow(
        docTokens.select(col("doc_id").cast("long").as("doc_id"),
          col("n").cast("long").as("n")),
        "doc_id", 1024L, Seq("n"))
      .select(col("doc_id"), col("n"), col("n_below").as("off"))
      .filter(col("n") > 0)
    val layout = offs.select(col("doc_id"), col("n"), col("off"),
      expr(s"off DIV $cap").as("start_seq"),
      expr(s"(off + n - 1) DIV $cap").as("end_seq"))
    val tot = docTokens.agg(
      coalesce(sum(col("n").cast("long")), lit(0L)).as("total"))
    layout
      .select(col("doc_id"), col("start_seq"),
        explode(sequence(col("start_seq"), col("end_seq"))).as("seq_id"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("start_seq") === col("seq_id"), lit(1L))
          .otherwise(lit(0L))).as("n_docs_starting"),
        min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(tot))
      .select(col("seq_id"), col("n_docs"), col("n_docs_starting"),
        col("first_doc"),
        least(lit(cap), col("total") - col("seq_id") * cap)
          .as("tokens_filled"))
  }

  /** Striped whole-doc packing, one row per bin: (bin, n_docs,
    * tokens, overflow). Rank = (n desc, doc_id asc) via the prefix
    * kernel on the composite key n·2³¹ + (2³¹−1−doc_id) (exact while
    * doc_id < 2³¹ and n < 2³²); bins = ⌈Σn/cap⌉; bin = rank mod bins.
    */
  def stripedBinPacking(docTokens: DataFrame, cap: Long): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val k2 = 1L << 31
    val keyed = docTokens
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n").cast("long").as("n"))
      .withColumn("key", col("n") * k2 + (lit(k2 - 1) - col("doc_id")))
    val below = Ranks.withRunningBelow(
      keyed.withColumn("one", lit(1L)), "key", k2, Seq("one"))
    val tot = keyed.agg(count(lit(1)).as("cnt"),
      coalesce(sum(col("n")), lit(0L)).as("total"))
    below.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n"),
        // rank in (n desc, id asc) order = #docs with strictly
        // greater key
        (col("cnt") - 1L - col("one_below")).as("r"),
        ceil(col("total").cast("double") / lit(cap.toDouble))
          .cast("long").as("nb"))
      .select(col("doc_id"), col("n"), pmod(col("r"), col("nb")).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      .select(col("bin"), col("n_docs"), col("tokens"),
        greatest(lit(0L), col("tokens") - lit(cap)).as("overflow"))
  }

  /** PADDING-WASTE audit: sorted vs shuffled batching — the dataloader
    * decision every fine-tune makes (length-bucketed batching cuts pad
    * tokens massively; the audit quantifies by how much on THIS
    * corpus). Sequences batch `batchSize` at a time in two orders:
    * `sorted` (by length, id ties) and `shuffled` (by the portable
    * 60-bit md5 of the id — deterministic, no RNG); each batch pads
    * every member to its max length; waste = padded−real over padded,
    * floored micro.
    *
    * Exact global row numbers come from the two-level prefix kernel
    * ([[Ranks.withRunningBelow]] on the order value + an intra-value
    * window) — never one global window over data rows. The order-value
    * bucket widths differ per strategy (lengths are small, hashes span
    * 2^60) so the level-2 bucket walk stays tiny in both. Output: one
    * row per strategy (strategy, n_seqs, n_batches, total_tokens,
    * padded_tokens, waste_micro).
    */
  def paddingWaste(docs: DataFrame, id: Column, nTokens: Column,
                   batchSize: Int): DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    val base = docs.select(id.as("id"),
      nTokens.cast("long").as("len")).localCheckpoint(true)
    def strat(name: String, orderVal: Column, width: Long): DataFrame = {
      val v = base.select(col("id"), col("len"),
        orderVal.cast("long").as("v"))
      val counts = v.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val ranked = Ranks.withRunningBelow(counts, "v", width, Seq("cnt"))
      val w = Window.partitionBy(col("v")).orderBy(col("id"))
      v.join(ranked.select(col("v"), col("cnt_below")), Seq("v"))
        .withColumn("rn", col("cnt_below") + row_number().over(w))
        .withColumn("batch", fdiv(col("rn") - 1, lit(batchSize.toLong)))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("bn"), max(col("len")).as("mx"),
          sum(col("len")).as("tot"))
        .agg(sum(col("bn")).as("n_seqs"),
          count(lit(1)).as("n_batches"),
          sum(col("tot")).as("total_tokens"),
          sum(col("mx") * col("bn")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_seqs"),
          col("n_batches"), col("total_tokens"), col("padded_tokens"),
          fdiv((col("padded_tokens") - col("total_tokens"))
            * 1000000L, col("padded_tokens")).as("waste_micro"))
    }
    strat("sorted", col("len"), 1024L)
      .unionByName(strat("shuffled",
        Dedup.hashLong(col("id").cast("string")), 1L << 48))
  }
}
