package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Portable MinHash signature of a token array (array<string> in,
  * array<long> of n mins out), in ONE pass per row inside whole-stage
  * codegen.
  *
  * Computes exactly what [[Dedup.minhashSigPortable]]'s shingle explode +
  * groupBy with n min-aggregates computed: word k-shingles joined with a
  * single space (null tokens skipped — UTF8String.concatWs, the same join
  * [[WordShingles]] emits), per shingle h1 = md5 hex chars 1-15 as a 60-bit
  * int and h2 = chars 16-30 mod P (P = 2^31-1), and permutation i's value
  * is the Kirsch-Mitzenmacher double hash (h1 + i*h2) mod P minimized over
  * shingles. Duplicate shingles cannot change a min, so the aggregate
  * form's array_distinct needs no counterpart here. A doc with NO shingles
  * (fewer than k tokens, or a null token array) returns null — the explode
  * form emitted no rows for it, so it was absent from the signature table;
  * callers filter nulls to match.
  *
  * Exists for guide §2.4/§4 reasons: the aggregate form exploded every
  * shingle (a full per-shingle exchange into the n-min groupBy); this is a
  * pure projection — the md5 per shingle is the only remaining cost. */
case class MinHashSig(child: Expression, k: Int, n: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"shingle width must be >= 1 (got $k)")
  require(n >= 1, s"signature length must be >= 1 (got $n)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // no shingles yields null
  override def prettyName: String = "graft_minhash_sig"
  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    MinHashSig.compute(a.asInstanceOf[ArrayData], k, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.ops.MinHashSig.compute($c, $k, $n);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  private val P = 2147483647L // 2^31 - 1, prime
  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Tight shingle + double-hash min loop shared by interpreted eval and
    * generated code. Returns null when the doc has no shingles. */
  def compute(arr: ArrayData, k: Int, n: Int): ArrayData = {
    val len = arr.numElements()
    val m = len - k + 1
    if (m <= 0) return null
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val parts = new Array[UTF8String](k)
    val md = mdLocal.get()
    var i = 0
    while (i < m) {
      md.reset()
      val h = md.digest(WordShingles.shingleAt(arr, i, parts).getBytes)
      // h1 = md5 hex chars 1-15 (bytes 0-6 + high nibble of byte 7),
      // h2 = chars 16-30 (low nibble of byte 7 + bytes 8-14) mod P —
      // the same `conv(substring(md5(s), ..), 16, 10)` values
      var h1 = 0L
      var j2 = 0
      while (j2 < 7) { h1 = (h1 << 8) | (h(j2) & 0xffL); j2 += 1 }
      h1 = (h1 << 4) | ((h(7) & 0xffL) >>> 4)
      var h2 = h(7) & 0xfL
      j2 = 8
      while (j2 < 15) { h2 = (h2 << 8) | (h(j2) & 0xffL); j2 += 1 }
      h2 = h2 % P
      var p = 0
      while (p < n) {
        val v = (h1 + p * h2) % P
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
