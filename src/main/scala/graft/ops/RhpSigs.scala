package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.KernelColumn
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Portable random-hyperplane signatures of an embedding (array<float|double>
  * in, array<long> of `tables` signatures out), in ONE pass per row inside
  * whole-stage codegen.
  *
  * Computes exactly what [[Similarity.rhpSigTablePortable]]'s posexplode +
  * tables×bits literal-weight sum aggregates computed: component d is
  * quantized to `floor(x_d * 2^20)` (exact in doubles) and projection (t, b)
  * is the int64 sum over d of `xi_d * mdWeight(t, b, d)`; signature t has
  * bit b set iff that sum is > 0. Integer sums are associative, so the loop
  * order cannot change a result the aggregate form could produce. Null
  * components are skipped (the aggregate's sum ignored their null products);
  * an empty or null embedding returns null — posexplode emitted no rows for
  * it, so it was absent from the signature table; callers filter nulls.
  *
  * The md5-derived weights ([[Similarity.mdWeight]]) are a pure function of
  * (t, b, d): they are computed on demand into a process-level cache keyed
  * by (bits, tables), d-major so the per-element inner loop reads one flat
  * array. This removes BOTH per-frame `maxDim` probe jobs the literal-array
  * form needed (the weights no longer have to be bounded at plan time) and
  * the tables×bits literal arrays that made those plans expensive to
  * analyze, while the DuckDB oracle keeps recomputing identical weights
  * from its own md5 (guide §2.4, §4). */
case class RhpSigs(child: Expression, bits: Int, tables: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 63, s"bits must be in [1, 63] (got $bits)")
  require(tables >= 1, s"tables must be >= 1 (got $tables)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty/null embedding yields null
  override def prettyName: String = "graft_rhp_sigs"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelColumn.checkFloatOrDoubleArrays(children)

  private lazy val isDouble: Boolean = elemIsDouble(child)

  override def nullSafeEval(a: Any): Any =
    RhpSigs.compute(a.asInstanceOf[ArrayData], bits, tables, isDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.ops.RhpSigs.compute($c, $bits, $tables, $isDouble);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RhpSigs {
  // (bits, tables) -> d-major weight rows; row d holds mdWeight(t, b, d)
  // at index t*bits + b. Grown on demand (doubling), CAS-published so
  // readers never lock; mdWeight is pure, so racing growers compute
  // identical rows.
  private val cache =
    new ConcurrentHashMap[(Int, Int), AtomicReference[Array[Array[Long]]]]()

  private def rowFor(bits: Int, tables: Int, d: Int): Array[Long] = {
    val row = new Array[Long](tables * bits)
    var t = 0
    while (t < tables) {
      var b = 0
      while (b < bits) {
        row(t * bits + b) = Similarity.mdWeight(t, b, d)
        b += 1
      }
      t += 1
    }
    row
  }

  private def weights(bits: Int, tables: Int, minLen: Int): Array[Array[Long]] = {
    val ref = cache.computeIfAbsent((bits, tables),
      _ => new AtomicReference(Array.empty[Array[Long]]))
    var cur = ref.get()
    while (cur.length < minLen) {
      val next = java.util.Arrays.copyOf(cur, math.max(minLen, cur.length * 2))
      var d = cur.length
      while (d < next.length) { next(d) = rowFor(bits, tables, d); d += 1 }
      if (ref.compareAndSet(cur, next)) cur = next else cur = ref.get()
    }
    cur
  }

  /** Tight quantize + multiply-accumulate loop shared by interpreted eval
    * and generated code. Returns null when the embedding is empty. */
  def compute(arr: ArrayData, bits: Int, tables: Int, elemIsDouble: Boolean): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val tb = tables * bits
    val accs = new Array[Long](tb)
    val w = weights(bits, tables, n)
    var d = 0
    while (d < n) {
      if (!arr.isNullAt(d)) {
        val x = if (elemIsDouble) arr.getDouble(d) else arr.getFloat(d).toDouble
        val xi = math.floor(x * 1048576.0d).toLong
        val row = w(d)
        var j = 0
        while (j < tb) { accs(j) += xi * row(j); j += 1 }
      } // null component: contributed a null product the sum ignored
      d += 1
    }
    val sigs = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        if (accs(t * bits + b) > 0L) sig |= (1L << b)
        b += 1
      }
      sigs(t) = sig
      t += 1
    }
    new GenericArrayData(sigs)
  }
}
