package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** An int constant that generated code reads from the plan's
  * `references` array instead of inlining it the way `lit` does. Two
  * plans that differ only in the value therefore generate the SAME
  * source, and Spark's codegen cache serves both from one compiled
  * class — the crawl stamps its round number this way, so a steady
  * round compiles nothing new. Not foldable: constant folding would
  * turn it back into an inlined Literal.
  */
case class BoundIntExpr(value: Int) extends LeafExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", Integer.valueOf(value), "java.lang.Integer")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$ref.intValue()", IntegerType))
  }
  override def prettyName: String = "bound_int"
}

object BoundIntExpr {
  def col(value: Int): Column = GraftBridge.column(BoundIntExpr(value))
}
