package graft.kg

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `java.lang.String.hashCode` of a string column as a Catalyst
  * expression. Exists so [[KgPipeline.linkEntities]]'s deterministic
  * confidence score — defined in terms of String.hashCode since r1 — can
  * compute inside whole-stage codegen instead of a typed
  * mapPartitions/encoder round trip (guide §4: keep per-row scalar work
  * out of opaque closures). One call per row; values are bit-identical to
  * the closure's by construction. */
case class JavaStringHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_java_hash"
  override def inputTypes = Seq(StringType)

  override def nullSafeEval(a: Any): Any =
    a.asInstanceOf[UTF8String].toString.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c.toString().hashCode();")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
