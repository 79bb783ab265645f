package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `referenced_long(v)` — the constant `v`, handed to generated code through
  * its references array instead of inlined as a `vL` literal. Generated
  * source then reads the same for every value, so a plan that differs only in
  * a per-run constant (an epoch number) reuses the compiled class from the
  * generated-class cache instead of compiling, and JIT-warming, a new one.
  * Not foldable on purpose: constant folding would turn it back into an
  * inlined literal. */
case class ReferencedLong(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "referenced_long"
  override def sql: String = s"$prettyName($value)"
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("referencedLong", java.lang.Long.valueOf(value))
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$ref.longValue()", LongType))
  }
}
