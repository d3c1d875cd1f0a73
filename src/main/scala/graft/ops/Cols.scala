package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared column-expression utilities. */
object Cols {

  /** Let-binding for column expressions: evaluate `value` once per row
    * and reference it many times in `body` via a lambda variable.
    *
    * Two failure modes this prevents, both real measured costs because
    * higher-order lambdas are interpreted (no codegen, no common
    * subexpression elimination):
    *  - Catalyst's projection collapse inlining an expensive column
    *    (md5 per element, a signature array) into every use site;
    *  - a lambda body referencing an enclosing expression subtree,
    *    which re-evaluates that subtree once per array element
    *    (O(n²) tokenization in shingling, 60× md5 in MinHash).
    */
  def bound(value: Column)(body: Column => Column): Column =
    transform(array(value), v => body(v)).getItem(0)

  /** A constant-valued single-partition window key that SURVIVES the
    * optimizer. The engine's bounded-table windows (bucket offsets,
    * m-row source tables, post-limit ranks) deliberately run in one
    * partition; leaving their partition spec empty makes WindowExec
    * log "No Partition Defined" on every execution, drowning the one
    * warning that WOULD signal an accidental data-sized global window.
    * A literal key doesn't help — constant folding strips foldable
    * partition expressions and the warning fires anyway — so this key
    * derives the constant from a data column: pmod(xxhash64(c), 1) is
    * 0 on every row but non-foldable. Execution is identical to the
    * empty spec (one hash partition, same global order); use ONLY on
    * frames documented to be bounded.
    */
  def onePartitionKey(c: Column): Column = pmod(xxhash64(c), lit(1))

  /** Promote to `decimal(38,0)`: integer arithmetic that cannot
    * overflow or round where a long product or a sum of squares could
    * pass 2^63. [[fdiv]] and [[tdiv]] stay exact on such operands,
    * which is what oracle-checked integer columns need.
    */
  def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Floor division for a POSITIVE divisor; matches DuckDB's `//` on
    * nonnegative operands (`a - pmod(a, b)` is an exact multiple of
    * `b`, so the quotient is an integer before the cast). Exact on
    * `long` operands below 2^53 (the division runs in double) and on
    * [[dec]] operands.
    */
  def fdiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Division truncating toward zero (Scala `/`, DuckDB `//` on signed
    * operands): the quotient of `abs(a)`, sign restored. Any nonzero
    * divisor (`pmod` of a nonnegative value keeps its sign, so a
    * negative `b` flips the quotient's sign once). Exact on `long`
    * operands below 2^53 and on [[dec]] operands.
    */
  def tdiv(a: Column, b: Column): Column = {
    val q = (abs(a) - pmod(abs(a), b)) / b
    (when(a < 0, -q).otherwise(q)).cast("long")
  }

  /** A double as an exact count of millionths: snapped through
    * `decimal(20,10)` first, so a value a hair below .xxxxxx5 in
    * binary rounds the same way in every engine.
    */
  def snapMicro(c: Column): Column =
    round(c.cast("decimal(20,10)") * 1000000).cast("long")

  /** `num / den` as a double rounded to 4 places, snapped through
    * `decimal(20,10)` before the round for the same cross-engine
    * reason as [[snapMicro]].
    */
  def snap4(num: Column, den: Column): Column =
    round((num.cast("double") / den.cast("double"))
      .cast("decimal(20,10)"), 4).cast("double")
}
