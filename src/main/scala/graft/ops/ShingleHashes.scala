package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 60-bit md5-derived word-shingle hashes of a token array
  * (array<string> in, array<long> out), in ONE pass per row inside
  * whole-stage codegen.
  *
  * Computes exactly what `array_distinct(graft_shingles(toks, k))` followed
  * by `conv(substring(md5(s), 1, 15), 16, 10)` computed per element: word
  * k-shingles joined with a single space (null tokens skipped —
  * UTF8String.concatWs, the same join [[WordShingles]] emits), DISTINCT on
  * the shingle STRINGS in first-occurrence order (array_distinct's order;
  * dedup is on strings, not hashes, so a 2^-60 hash collision between two
  * distinct shingles keeps both occurrences — the DuckDB oracle's
  * list_distinct-then-hash does the same), then the first 15 md5 hex chars
  * of each survivor as a long. Returns an EMPTY array when the doc has
  * fewer than k tokens (array_distinct(graft_shingles) was empty there;
  * exploding callers drop such docs either way).
  *
  * Exists for guide §4 reasons: the md5 + substring + conv chain ran as
  * three builtin expressions per EXPLODED shingle row and the dedup
  * allocated an array_distinct pass; here the whole thing is one JIT-able
  * loop per document, and callers that need per-doc shingle SETS (the
  * ngram verify arrays) can use it as a pure projection instead of
  * re-grouping exploded rows (guide §2.4). */
case class ShingleHashes(child: Expression, k: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"shingle width must be >= 1 (got $k)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    ShingleHashes.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.ShingleHashes.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 15 md5 hex chars of the digest as a 60-bit long: bytes 0-6 plus
    * the high nibble of byte 7 — `conv(substring(md5(s), 1, 15), 16, 10)`. */
  private def hash60(h: Array[Byte]): Long = {
    var v = 0L
    var j = 0
    while (j < 7) { v = (v << 8) | (h(j) & 0xffL); j += 1 }
    (v << 4) | ((h(7) & 0xffL) >>> 4)
  }

  /** Tight shingle + string-distinct + md5 loop shared by interpreted eval
    * and generated code. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(new Array[Long](0))
    val seen = new java.util.HashSet[UTF8String](m * 2)
    val out = new Array[Long](m)
    var cnt = 0
    val parts = new Array[UTF8String](k)
    val md = mdLocal.get()
    var i = 0
    while (i < m) {
      val s = WordShingles.shingleAt(arr, i, parts)
      if (seen.add(s)) {
        md.reset()
        out(cnt) = hash60(md.digest(s.getBytes))
        cnt += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, cnt))
  }
}
