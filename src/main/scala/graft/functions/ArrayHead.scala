package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Native Catalyst expression: element 0 of an array, or null when the
  * array is null or empty (a null element 0 stays null).
  *
  * It is `when(size(c) > 0, c.getItem(0))` with `c` evaluated once.
  * The two-reference form costs more than a second read: Catalyst
  * substitutes a synthesized array (toFeatures' `properties.variables`
  * is an `array(CASE WHEN … struct(…) …)`) into every reference, so
  * each nesting level of heads doubled the generated code, and the map
  * stage of the hydro pipeline grew past the 8,000-byte method size
  * that HotSpot will JIT-compile. Reading index 0 only after the
  * length check keeps it from ever throwing under ANSI mode, and it
  * involves no TryEval. */
case class ArrayHead(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType.asInstanceOf[ArrayType].elementType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"array_head expects an array, got ${other.simpleString}")
  }

  override def nullSafeEval(array: Any): Any = {
    val a = array.asInstanceOf[ArrayData]
    if (a.numElements() == 0 || a.isNullAt(0)) null else a.get(0, dataType)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""if ($a.numElements() > 0 && !$a.isNullAt(0)) {
         |  ${ev.value} = ${CodeGenerator.getValue(a, dataType, "0")};
         |} else {
         |  ${ev.isNull} = true;
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): ArrayHead =
    copy(child = newChild)
}

object ArrayHead {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Element 0 of `array`, null for a null or empty array. */
  def apply(array: Column): Column =
    ColumnBridge.column(ArrayHead(ColumnBridge.expression(array)))
}
