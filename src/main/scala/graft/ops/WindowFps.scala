package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Ordered 60-bit md5-derived sliding-window fingerprints of a token array
  * (array<string> in, array<long> out), in ONE pass per row inside
  * whole-stage codegen: element i = the first 15 md5 hex chars (as a long)
  * of the `n` tokens starting at i joined with a single space — exactly
  * `conv(substring(md5(graft_shingles(tk, n)[i]), 1, 15), 16, 10)`, windows
  * in position order and NOT deduplicated (unlike [[ShingleHashes]] —
  * substring dedup and decontamination key work off the window POSITION, so
  * every window keeps its slot and `posexplode` recovers pos = index + 1).
  *
  * Guide §4: md5 + substring + conv ran as three builtin expressions per
  * exploded window row (the shingle string materialized by WordShingles
  * only to be immediately re-read and hashed); here the hash happens while
  * the window string is still in hand, one JIT-able loop per document. */
case class WindowFps(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"window width must be >= 1 (got $n)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_fps"
  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    WindowFps.compute(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.WindowFps.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WindowFps {
  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Tight window + md5 loop shared by interpreted eval and codegen. */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Long](0))
    val out = new Array[Long](m)
    val parts = new Array[UTF8String](n)
    val md = mdLocal.get()
    var i = 0
    while (i < m) {
      md.reset()
      val h = md.digest(WordShingles.shingleAt(arr, i, parts).getBytes)
      // first 15 md5 hex chars as a 60-bit long: bytes 0-6 + high nibble
      // of byte 7 — `conv(substring(md5(s), 1, 15), 16, 10)`
      var v = 0L
      var j2 = 0
      while (j2 < 7) { v = (v << 8) | (h(j2) & 0xffL); j2 += 1 }
      out(i) = (v << 4) | ((h(7) & 0xffL) >>> 4)
      i += 1
    }
    new GenericArrayData(out)
  }
}
