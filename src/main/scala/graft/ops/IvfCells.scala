package graft.ops

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.KernelColumn
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** The `nprobe` nearest IVF cells of an embedding (array<float|double> in,
  * array<int> cell ids out), in ONE pass per row inside whole-stage
  * codegen, with the centroid table held as expression FIELDS instead of a
  * plan-literal struct array.
  *
  * Computes exactly what [[Similarity.assignCellsLocal]]'s
  * transform + array_sort + reverse + slice chain computed: per centroid,
  * cosine = graft_dot(vec, c_vec) / (nrm * c_nrm) with the identical
  * ascending-index double fold for dot and norm, the same
  * greatest(sqrt(...), 1e-12) guard, and (when `roundCos`) the same
  * round-to-6 HALF_UP on the decimal string representation
  * (java BigDecimal.valueOf — what Spark's round() does for doubles;
  * OpsSpec pins the parity over a dense boundary sweep). Cells rank by
  * (cc descending, cell id ascending) — including the old struct sort's
  * corner semantics: a null cosine (ragged dims) sorts below every real
  * one, ties among nulls resolve toward the smaller cell id, and NaN sorts
  * above everything (java Double.compare, the ordering behind Spark's
  * double sort).
  *
  * Exists for guide §1.2/§4 reasons: the literal centroid array (nlist
  * structs × dim float literals, built per assignment side) dominated
  * q_ann_ivf's cost as ANALYZER time, not execution — the data now rides
  * in the case class and the plan tree stays O(1). */
case class IvfCells(child: Expression, cells: Array[Int],
                    cvecs: Array[Array[Float]], cnrms: Array[Double],
                    nprobe: Int, roundCos: Boolean) extends UnaryExpression {
  require(cells.length == cvecs.length && cells.length == cnrms.length,
    "centroid arrays must align")
  require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_cells"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelColumn.checkFloatOrDoubleArrays(children)

  private lazy val isDouble: Boolean = elemIsDouble(child)

  override def nullSafeEval(a: Any): Any =
    IvfCells.compute(a.asInstanceOf[ArrayData], cells, cvecs, cnrms,
      nprobe, roundCos, isDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // centroid data published through a codegen object reference — the
    // generated code closes over the same arrays the interpreted path uses
    val cellsRef = ctx.addReferenceObj("ivfCells", cells, "int[]")
    val cvecsRef = ctx.addReferenceObj("ivfCvecs", cvecs, "float[][]")
    val cnrmsRef = ctx.addReferenceObj("ivfCnrms", cnrms, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.ops.IvfCells.compute($c, $cellsRef, $cvecsRef,
         |  $cnrmsRef, $nprobe, $roundCos, $isDouble);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfCells {

  /** Spark's round(x, 6) for doubles: HALF_UP on the decimal string
    * representation (BigDecimal.valueOf). */
  def round6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Tight score + partial-sort loop shared by interpreted eval and
    * generated code. */
  def compute(arr: ArrayData, cells: Array[Int], cvecs: Array[Array[Float]],
              cnrms: Array[Double], nprobe: Int, roundCos: Boolean,
              elemIsDouble: Boolean): ArrayData = {
    val n = arr.numElements()
    // norm: same ascending double fold as Similarity.norm, same 1e-12 guard
    // element reads mirror ArrayDotProduct: primitive accessors, no null
    // branch (embedding columns are containsNull=false parquet arrays)
    var s2 = 0.0d
    var i = 0
    while (i < n) {
      val x = if (elemIsDouble) arr.getDouble(i) else arr.getFloat(i).toDouble
      s2 += x * x
      i += 1
    }
    val nrm = math.max(math.sqrt(s2), 1e-12)
    val m = cells.length
    val ccs = new Array[Double](m)
    val ccNull = new Array[Boolean](m)
    var j = 0
    while (j < m) {
      val cv = cvecs(j)
      if (cv.length != n) { ccNull(j) = true }
      else {
        // same ascending fold as graft_dot
        var d = 0.0d
        var t = 0
        while (t < n) {
          val x = if (elemIsDouble) arr.getDouble(t) else arr.getFloat(t).toDouble
          d += x * cv(t).toDouble
          t += 1
        }
        val cc = d / (nrm * cnrms(j))
        ccs(j) = if (roundCos) round6(cc) else cc
      }
      j += 1
    }
    // rank (cc desc, cell asc), null cc below every real cc, NaN above all
    // (java Double.compare — the ordering behind Spark's struct sort)
    val idx = Array.range(0, m).map(Integer.valueOf)
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val (ia, ib) = (a.intValue(), b.intValue())
      if (ccNull(ia) && ccNull(ib)) Integer.compare(cells(ia), cells(ib))
      else if (ccNull(ia)) 1
      else if (ccNull(ib)) -1
      else {
        val c = java.lang.Double.compare(ccs(ib), ccs(ia))
        if (c != 0) c else Integer.compare(cells(ia), cells(ib))
      }
    })
    val take = math.min(nprobe, m)
    val out = new Array[Int](take)
    var o = 0
    while (o < take) { out(o) = cells(idx(o).intValue()); o += 1 }
    new GenericArrayData(out)
  }
}
