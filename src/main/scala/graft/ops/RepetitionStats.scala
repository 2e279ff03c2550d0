package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document repetition statistics (text, tokens in; one struct of
  * INTEGER tallies + the top bigram out), in ONE pass per row inside
  * whole-stage codegen.
  *
  * Computes the grouped tallies [[TextOps.repetitionSignals]] used to
  * derive via two explode + groupBy exchanges, a per-doc window and two
  * joins — per-row pure functions of the text:
  *
  *  - lines: split on \n, each line trimmed with the SAME UTF8String.trim
  *    Spark's trim() calls, empty lines dropped; `distinct_lines` /
  *    `total_lines` count them, `dup_chars` = sum over distinct lines of
  *    (count-1)*chars, `total_chars` = sum of count*chars (chars =
  *    numChars, matching length()).
  *  - bigrams over the SAME token array the caller splits in Catalyst
  *    (so tokenization parity is inherited, like every signature
  *    expression here): space-joined with null tokens skipped exactly like
  *    [[WordShingles]]; `top_bigram` is the most frequent, ties to the
  *    bytewise-smallest (UTF8String.compareTo — the comparison behind
  *    Spark's string ordering in the old row_number window); `top_c` its
  *    count, 0 / "" when the doc has no bigram.
  *
  * Every field is a long or a string — ALL floating-point division and
  * round(_, 4) stays in Catalyst columns, so the published fractions are
  * computed by the exact same expressions as before (no rounding-parity
  * risk), and the DuckDB q_repetition oracle recomputes the identical
  * numbers its own way (guide §2.4, §4). */
case class RepetitionStats(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = RepetitionStats.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_repetition_stats"
  override def inputTypes = Seq(StringType, ArrayType(StringType))

  override def nullSafeEval(text: Any, toks: Any): Any =
    RepetitionStats.compute(text.asInstanceOf[UTF8String],
      toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, a) =>
      s"${ev.value} = graft.ops.RepetitionStats.compute($t, $a);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RepetitionStats {
  val schema: StructType = StructType(Seq(
    StructField("distinct_lines", LongType, nullable = false),
    StructField("total_lines", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("top_bigram", StringType, nullable = false),
    StructField("top_c", LongType, nullable = false)))

  private val NL = UTF8String.fromString("\n")
  private val EMPTY = UTF8String.fromString("")

  /** Tight line-tally + bigram-tally loop shared by interpreted eval and
    * generated code. */
  def compute(text: UTF8String, toks: ArrayData): InternalRow = {
    // line tallies over trimmed non-empty lines
    val lineCounts = new java.util.HashMap[UTF8String, Array[Long]]()
    val lines = text.split(NL, -1)
    var i = 0
    while (i < lines.length) {
      val l = lines(i).trim()
      if (l.numBytes() > 0) {
        val e = lineCounts.get(l)
        if (e == null) lineCounts.put(l, Array(1L, l.numChars().toLong))
        else e(0) += 1L
      }
      i += 1
    }
    var distinct = 0L
    var total = 0L
    var dupChars = 0L
    var totalChars = 0L
    val it = lineCounts.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e(0); val len = e(1)
      distinct += 1L
      total += c
      dupChars += (c - 1L) * len
      totalChars += c * len
    }
    // bigram tallies over the caller-split token array
    val bgCounts = new java.util.HashMap[UTF8String, Array[Long]]()
    val n = toks.numElements()
    val pair = new Array[UTF8String](2)
    i = 0
    while (i < n - 1) {
      val bg = WordShingles.shingleAt(toks, i, pair)
      val e = bgCounts.get(bg)
      if (e == null) bgCounts.put(bg, Array(1L)) else e(0) += 1L
      i += 1
    }
    var topBg: UTF8String = EMPTY
    var topC = 0L
    val bit = bgCounts.entrySet().iterator()
    while (bit.hasNext) {
      val e = bit.next()
      val c = e.getValue()(0)
      if (c > topC || (c == topC && topC > 0L && e.getKey.compareTo(topBg) < 0)) {
        topBg = e.getKey; topC = c
      }
    }
    new GenericInternalRow(Array[Any](distinct, total, dupChars, totalChars,
      topBg, topC))
  }
}
