// Lives under org.apache.spark.sql for the same reason as
// CosineSimilarity.scala: the expression-extension surface is
// private[sql]; graft.functions re-exports the public face.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression for hashed word shingles: the distinct
  * 60-bit md5 hashes (first 15 hex digits — `Dedup.hashLong` parity) of
  * every n-token window, windows joined by a single space, first-
  * occurrence order. Equivalent to
  * `transform(array_distinct(wordShingles(toks, n)), hashLong)` but one
  * JVM pass per document: no shingle-string Column materialization, no
  * per-window concat_ws/element_at lambda frames, no md5→hex→conv chain.
  *
  * The set-similarity operators consume ONLY the hash set (inverted
  * index keys, intersection counts, MinHash folds), so replacing string
  * shingles with their hashes is exact up to md5-60-bit collisions —
  * the same tolerance the inverted Jaccard join already documents.
  */
case class HashedShingles(child: Expression, n: Int)
  extends UnaryExpression with ImplicitCastInputTypes with Serializable {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "hashed_shingles"

  override protected def nullSafeEval(toks: Any): Any =
    ShingleUtil.hashedShingles(toks.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftshim.ShingleUtil.hashedShingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
}

/** Native MinHash signature over pre-hashed shingles (`HashedShingles`
  * output): k values, the i-th being min over elements of
  * ((2i+1)·(h mod P) + 7 + 13i) mod P with P = 2³¹−1 — the identical
  * universal-hash family as the HOF aggregate fold the specs check it
  * against, evaluated as one primitive double loop.
  * Empty inputs sign to all-P (matches nothing).
  */
case class MinHashSig(child: Expression, k: Int)
  extends UnaryExpression with ImplicitCastInputTypes with Serializable {

  require(k >= 1, s"signature length must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(hashes: Any): Any =
    ShingleUtil.minhashSig(hashes.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftshim.ShingleUtil.minhashSig($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object ShingleUtil {
  val P: Long = 2147483647L

  /** Distinct 60-bit hashes of n-token windows, first-occurrence order.
    * The window string is token bytes joined by 0x20 — byte-identical to
    * `concat_ws(" ", ...)` on UTF8Strings.
    */
  def hashedShingles(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val bytes = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      bytes(i) = if (toks.isNullAt(i)) Array.emptyByteArray
        else toks.getUTF8String(i).getBytes
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val buf = new java.io.ByteArrayOutputStream(64)
    i = 0
    while (i <= m - n) {
      buf.reset()
      var j = 0
      while (j < n) {
        if (j > 0) buf.write(0x20)
        buf.write(bytes(i + j), 0, bytes(i + j).length)
        j += 1
      }
      seen.add(SimHashUtil.hash60(buf.toByteArray))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  def minhashSig(hashes: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(P)
    val m = hashes.numElements()
    var e = 0
    while (e < m) {
      if (!hashes.isNullAt(e)) {
        val h = java.lang.Math.floorMod(hashes.getLong(e), P)
        var i = 0
        while (i < k) {
          val v = java.lang.Math.floorMod((2L * i + 1) * h + 7L + 13L * i, P)
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      e += 1
    }
    new GenericArrayData(sig)
  }
}
