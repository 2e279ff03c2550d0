package graft.ops

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word k-gram shingle array over a token array (array<string> in,
  * array<string> out): element i = the k tokens starting at i joined with
  * a single space — exactly `array_join(slice(toks, i+1, k), " ")` for
  * i in 0..n-k, i.e. what the higher-order transform/slice/array_join
  * chain it replaced produced, null tokens skipped by the join the same
  * way array_join skips them. It is the one shingle implementation:
  * [[TextOps.dupTrigramFraction]] and the OpsSpec pins build on it, and
  * the hash kernels emit the same space-joined window bytes.
  *
  * Exists for guide §4 reasons: Spark evaluates higher-order-function
  * lambdas interpreted, per element, and the HOF chain allocates a slice
  * ArrayData per output shingle — the r8 stage audit measured 10-25 s of
  * task CPU per signature/window stage at sf0.1 in that chain. This
  * expression emits ONE static-method call per row inside whole-stage
  * codegen (same pattern as [[ArrayDotProduct]]); the loop body is plain
  * JIT-able JVM code. Output strings are byte-identical, so every
  * md5-derived fingerprint downstream (and the DuckDB oracle) is
  * unchanged. */
case class WordShingles(child: Expression, k: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"shingle width must be >= 1 (got $k)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    WordShingles.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.ops.WordShingles.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val SPACE = UTF8String.fromString(" ")

  /** Tight shingle loop shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < m) {
      out(i) = shingleAt(arr, i, parts)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The `parts.length`-token shingle starting at token `i`, joined with
    * single spaces, null tokens skipped (UTF8String.concatWs, as array_join
    * skips them). `parts` is scratch space the caller reuses across calls.
    * Every shingle, window and bigram kernel builds its strings here, so
    * their bytes (and the md5 values derived from them) agree. */
  def shingleAt(arr: ArrayData, i: Int, parts: Array[UTF8String]): UTF8String = {
    var j = 0
    while (j < parts.length) {
      parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
      j += 1
    }
    UTF8String.concatWs(SPACE, parts: _*)
  }
}
