package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one document's near-dup signature from
  * its normalized word array ([[TextNorm.words]]), emitting
  * `struct<sh: array<bigint>, m: array<bigint>>`.
  *
  * It is the signature build of the whole MinHash/OPH family (q26,
  * q75, q110, q243), computed per row inside the scan's own tasks: the
  * work never leaves the document, so it needs no shingle explode,
  * doc_id shuffle, window sort or per-doc aggregate.
  *
  * Shingles are exactly the row form's ([[graft.ops.DedupOps]]'s
  * window-`lead` shingling): for word position p, the words
  * at p, p+1 and p+2 joined by single spaces (absent or null words
  * skipped, as concat_ws skips them), kept when the p+2 word exists or
  * p = 0. So a doc of fewer than 3 words keeps its one partial
  * shingle and trailing partials are cut. Over the DISTINCT shingles:
  *  - `sh` is the set of xxhash64 values (seed 42, the `xxhash64`
  *    column function's), ascending;
  *  - the base hashes are the md5 60-bit windows h1 = hex chars 17–31
  *    and h2 = hex chars 1–15 of md5(shingle), each mod p = 2^31−1
  *    (the oracle's `('0x' || substr(md5(s), …))::BIGINT`);
  *  - with `oph`, `m` holds k one-permutation bins: m(i) is the
  *    minimum h1 with h1 mod k = i, null for an empty bin;
  *  - otherwise `m` holds k double-hash minima: m(i) is the minimum of
  *    (h1 + i·h2) mod p.
  * Minima over a set equal minima over the shingle rows, so every
  * value is the row-form aggregate's. An empty word array (which
  * `split` never yields) gives an empty `sh` and null minima; a null
  * array gives null. */
case class ShingleSignature(child: Expression, oph: Boolean, k: Int) extends UnaryExpression {

  override def dataType: DataType = ShingleSignature.Type
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"shingle_signature needs k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_signature expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(words: Any): Any =
    ShingleSignature.signature(words.asInstanceOf[ArrayData], oph, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ShingleSignature.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, words => s"${ev.value} = $kernel.signature($words, $oph, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSignature =
    copy(child = newChild)
}

object ShingleSignature {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** xxhash64 seed of Spark's `xxhash64` column function. */
  val XxSeed = 42L
  /** Mersenne prime 2^31−1, the modulus of both base hashes. */
  val P = 2147483647L

  val Type: StructType = StructType(Seq(
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("m", ArrayType(LongType, containsNull = true), nullable = false)))

  private val Space = UTF8String.fromString(" ")

  /** OPH signature: `bins` one-permutation bin minima. */
  def ophSignature(words: Column, bins: Int): Column =
    ColumnBridge.column(ShingleSignature(ColumnBridge.expression(words), oph = true, bins))

  /** Double-hash MinHash signature: `k` minima of (h1 + i·h2) mod p. */
  def minHashSignature(words: Column, k: Int): Column =
    ColumnBridge.column(ShingleSignature(ColumnBridge.expression(words), oph = false, k))

  /** Big-endian long of `d(from until from + 8)`, shifted right by 4:
    * the 60-bit value of the 15 hex chars starting at char 2·from. */
  private def window60(d: Array[Byte], from: Int): Long = {
    var v = 0L
    var i = from
    while (i < from + 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private def word(words: ArrayData, i: Int): UTF8String =
    if (i >= words.numElements() || words.isNullAt(i)) null else words.getUTF8String(i)

  /** The kernel body, called from generated code and from `nullSafeEval`. */
  def signature(words: ArrayData, oph: Boolean, k: Int): InternalRow = {
    val n = words.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val xs = new Array[Long](n)
    var ns = 0
    val m = Array.fill(k)(Long.MaxValue)
    val md5 = MessageDigest.getInstance("MD5")
    var pos = 0
    while (pos < n) {
      val w2 = word(words, pos + 2)
      if (w2 != null || pos == 0) {
        val s = UTF8String.concatWs(Space, word(words, pos), word(words, pos + 1), w2)
        if (seen.add(s)) {
          xs(ns) = XXH64.hashUTF8String(s, XxSeed)
          ns += 1
          val d = md5.digest(s.getBytes)
          val h1 = window60(d, 8) % P
          if (oph) {
            val bin = (h1 % k).toInt
            if (h1 < m(bin)) m(bin) = h1
          } else {
            val h2 = window60(d, 0) % P
            var i = 0
            while (i < k) {
              val v = (h1 + i * h2) % P
              if (v < m(i)) m(i) = v
              i += 1
            }
          }
        }
      }
      pos += 1
    }
    java.util.Arrays.sort(xs, 0, ns)
    var nd = 0 // distinct shingles may still share an xxhash64 value
    var i = 0
    while (i < ns) {
      if (nd == 0 || xs(i) != xs(nd - 1)) { xs(nd) = xs(i); nd += 1 }
      i += 1
    }
    val minima = new Array[Any](k)
    i = 0
    while (i < k) { if (m(i) != Long.MaxValue) minima(i) = m(i); i += 1 }
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(xs, nd)),
      new GenericArrayData(minima)))
  }
}
