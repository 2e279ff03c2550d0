package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit portable simhash of a token array (array<string> in, bigint out),
  * in ONE pass per row inside whole-stage codegen.
  *
  * Computes exactly what [[Dedup.simhashSigPortable]]'s explode + 64
  * partial-aggregating bit-vote sums computed: per token, the first 64 bits
  * of md5(token) as two 32-bit halves (hhi = hex chars 1-8, hlo = chars
  * 9-16 — the same `conv(substring(md5(t), ..), 16, 10)` values), each of
  * the 64 bit positions votes +1 when its hash bit is set and -1 otherwise,
  * and final bit b is 1 iff the vote sum is > 0. Vote sum > 0 over cnt
  * tokens with ones(b) set bits is `2*ones(b) > cnt` — integer arithmetic,
  * bit-identical to the aggregate form (and hence to the DuckDB oracle,
  * which recomputes the votes its own way). A null token voted -1 on every
  * bit in the aggregate form (md5(null) -> null -> `when` falls to
  * otherwise(-1)); here it increments cnt without setting any ones, the
  * same -1 vote. An EMPTY token array returns null (the exploded form
  * produced no rows for such a doc, so it was absent from the signature
  * table — callers filter nulls to match; unreachable via split(), which
  * yields at least one element).
  *
  * Exists for guide §2.4/§4 reasons: the aggregate form exploded every
  * token occurrence (a full per-token exchange into the 64-sum groupBy);
  * this is a pure projection — the only remaining per-doc cost is the md5
  * itself, amortized through one JIT-able loop. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // empty token array yields null
  override def prettyName: String = "graft_simhash64"
  override def inputTypes = Seq(ArrayType(StringType))

  override def nullSafeEval(a: Any): Any =
    SimHash64.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.ops.SimHash64.computeNonEmpty($c);
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Interpreted-eval entry: null for an empty array (doc absent from the
    * old signature table), otherwise the signature. */
  def compute(arr: ArrayData): Any = {
    if (arr.numElements() == 0) null else computeNonEmpty(arr)
  }

  /** Tight one-pass vote loop shared by interpreted eval and codegen. */
  def computeNonEmpty(arr: ArrayData): Long = {
    val n = arr.numElements()
    val ones = new Array[Int](64)
    val md = mdLocal.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val h = md.digest(arr.getUTF8String(i).getBytes)
        // hhi = md5 hex chars 1-8 (bytes 0-3), hlo = chars 9-16 (bytes 4-7)
        val hhi = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
          ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
        val hlo = ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
          ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
        var b = 0
        while (b < 32) {
          if (((hlo >>> b) & 1L) == 1L) ones(b) += 1
          if (((hhi >>> b) & 1L) == 1L) ones(b + 32) += 1
          b += 1
        }
      } // null token: votes -1 everywhere = counts toward n, sets no ones
      i += 1
    }
    var sh = 0L
    var b = 0
    while (b < 64) {
      if (2 * ones(b) > n) sh |= (1L << b)
      b += 1
    }
    sh
  }
}
