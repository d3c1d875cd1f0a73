// Lives under org.apache.spark.sql because the expression-extension
// surface it needs (AbstractDataType for ExpectsInputTypes, the
// Column<->Expression converters in classic.ExpressionUtils) is
// private[sql]. This shim is the only file outside the graft package;
// graft.functions re-exports the public face.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Input contract of the pair kernels below: both vectors have one
  * length. A ragged pair raises, naming both lengths, instead of
  * silently dotting the shorter prefix.
  */
object VectorLengths {
  /** The common length, or the error. */
  def check(fn: String, a: Int, b: Int): Int =
    if (a == b) a
    else throw new IllegalArgumentException(
      s"$fn: vector lengths differ ($a vs $b); both sides must share one dimensionality")

  /** Java for [[check]] over two generated `double[]` locals. */
  def checkCode(fn: String, x: String, y: String): String =
    s"${getClass.getName.stripSuffix("$")}.check(\"$fn\", $x.length, $y.length)"
}

/** Native Catalyst expression for cosine similarity over two double
  * arrays, with whole-stage codegen (`doGenCode` emits one fused Java
  * loop). This replaces the composable-but-interpreted higher-order
  * `aggregate`/`zip_with` formulation in hot paths: the HOF version
  * allocates a lambda frame per element, the generated loop runs on
  * primitive doubles — ~10× per-pair at dim 64.
  *
  * Numerics are kept IDENTICAL to the HOF/oracle definition: each of
  * dot/‖a‖²/‖b‖² accumulates sequentially in ascending index order and
  * the result is dot / (√‖a‖²·√‖b‖²), so rounded outputs match DuckDB's
  * and the interpreted path bit-for-bit. Float inputs arrive via the
  * implicit array<float>→array<double> cast (exact).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes
  with Serializable {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = VectorLengths.check(prettyName, x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |int $n = ${VectorLengths.checkCode(prettyName, x, y)};
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $x[$i] * $y[$i];
         |  $na += $x[$i] * $x[$i];
         |  $nb += $y[$i] * $y[$i];
         |}
         |${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for the raw DOT PRODUCT over two double
  * arrays — the pair-kernel face of [[CosineSimilarity]] for hot paths
  * where one side's norm can be PRECOMPUTED per row instead of per
  * pair: cosine(a, b) = dot(a, b) / (√dot(a,a) · √dot(b,b)), and
  * because this expression accumulates in the exact same ascending
  * index order as CosineSimilarity's fused loop, the recomposed value
  * is BIT-IDENTICAL to the fused expression (same IEEE ops in the same
  * order: the three accumulators never interact until the final
  * divide). A brute-force block of |Q|·|C| pairs then does one
  * multiply-add per element per pair instead of three, with the two
  * norm loops paid |Q|+|C| times instead of |Q|·|C| (guide §1.2 step 2:
  * per-task work, measured on the q403/q224 cross kernels).
  *
  * Both sides must share one dimensionality (the recomposition with
  * hoisted full-vector norms is only meaningful then): a ragged pair
  * fails the task with an error naming both lengths, in the
  * interpreted and the generated path alike, as CosineSimilarity does.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes
  with Serializable {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = VectorLengths.check(prettyName, x.length, y.length)
    var dot = 0.0; var i = 0
    while (i < n) { dot += x(i) * y(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |int $n = ${VectorLengths.checkCode(prettyName, x, y)};
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $x[$i] * $y[$i];
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression for SQUARED L2 distance over two double
  * arrays ([[CosineSimilarity]]'s Euclidean sibling, same codegen
  * rationale — the PQ/IVF-PQ hot path evaluates it per candidate
  * pair). Numerics identical to the interpreted HOF definition and the
  * DuckDB oracle: (x[i]−y[i])² accumulated sequentially in ascending
  * index order; float inputs arrive via the exact array<float>→
  * array<double> implicit cast. A ragged pair fails with both lengths,
  * as in [[CosineSimilarity]].
  */
case class SquaredL2(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes
  with Serializable {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "squared_l2"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    val n = VectorLengths.check(prettyName, x.length, y.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = x(i) - y(i); s += d * d; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |double[] $x = $a.toDoubleArray();
         |double[] $y = $b.toDoubleArray();
         |int $n = ${VectorLengths.checkCode(prettyName, x, y)};
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $x[$i] - $y[$i];
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

object NativeFunctions {
  /** Column-facing wrapper for the native cosine expression. */
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-facing wrapper for the native dot-product expression. */
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-facing wrapper for the native squared-L2 expression. */
  def squaredL2(a: Column, b: Column): Column =
    ExpressionUtils.column(SquaredL2(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-facing wrapper for the native set-intersection count. */
  def intersectCountLong(a: Column, b: Column): Column =
    ExpressionUtils.column(IntersectCountLong(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-facing wrapper for the native simhash expression. */
  def simHash(toks: Column, bits: Int): Column =
    ExpressionUtils.column(SimHash(ExpressionUtils.expression(toks), bits))

  /** Column-facing wrapper for the native hashed-shingles expression. */
  def hashedShingles(toks: Column, n: Int): Column =
    ExpressionUtils.column(HashedShingles(ExpressionUtils.expression(toks), n))

  /** Column-facing wrapper for the native MinHash signature. */
  def minhashSig(hashes: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(hashes), k))

  /** Column-facing wrapper for the fuzzy-join row signature. */
  def fuzzySig(a: Column): Column =
    ExpressionUtils.column(FuzzySig(ExpressionUtils.expression(a)))

  /** Column-facing wrapper for the signature-pair Levenshtein bound. */
  def sigBound(a: Column, b: Column): Column =
    ExpressionUtils.column(SigBound(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-facing wrapper for the thresholded Levenshtein verifier. */
  def levWithin(a: Column, b: Column, k: Int): Column =
    ExpressionUtils.column(LevWithin(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), k))

  /** Column-facing wrapper for the native Jaro-Winkler similarity. */
  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinklerSim(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-facing wrapper for the native Unicode normalizer
    * (form ∈ NFC/NFD/NFKC/NFKD).
    */
  def unicodeNorm(s: Column, form: String): Column =
    ExpressionUtils.column(UnicodeNorm(ExpressionUtils.expression(s), form))

  /** The expression builders, shared by the session-local `register`
    * and the `spark.sql.extensions` injector (`graft.GraftExtensions`).
    */
  private[graftshim] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (exprs => CosineSimilarity(exprs.head, exprs(1))),
    "dot_product" -> (exprs => DotProduct(exprs.head, exprs(1))),
    "squared_l2" -> (exprs => SquaredL2(exprs.head, exprs(1))),
    "intersect_count" -> (exprs => IntersectCountLong(exprs.head, exprs(1))),
    "simhash" -> (exprs => SimHash(exprs.head, intArg(exprs, 1))),
    "hashed_shingles" -> (exprs => HashedShingles(exprs.head, intArg(exprs, 1))),
    "minhash_sig" -> (exprs => MinHashSig(exprs.head, intArg(exprs, 1))),
    "fuzzy_sig" -> (exprs => FuzzySig(exprs.head)),
    "sig_bound" -> (exprs => SigBound(exprs.head, exprs(1))),
    "lev_within" -> (exprs => LevWithin(exprs.head, exprs(1), intArg(exprs, 2))),
    "jaro_winkler_sim" -> (exprs => JaroWinklerSim(exprs.head, exprs(1))),
    "unicode_norm" -> (exprs => UnicodeNorm(exprs.head, strArg(exprs, 1))))

  private def intArg(exprs: Seq[Expression], i: Int): Int =
    exprs(i).eval().asInstanceOf[Number].intValue()

  private def strArg(exprs: Seq[Expression], i: Int): String =
    exprs(i).eval().toString

  /** Expose the expressions to the SQL surface of an EXISTING session:
    * `SELECT cosine_similarity(a, b)`, `simhash(tokens, 32)`,
    * `hashed_shingles(tokens, 3)`, `minhash_sig(hashes, 16)`.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
