package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A value fixed for one pipeline call — `graft_call_value(label)`:
  * the processing instant an era stamps on every row, a figure the
  * call derived from its own data (the 2022 era's quality score, age
  * fill value and outlier fences), or the trained centroid matrix and
  * its norms that [[VectorFunctions.centroidArgmin]] assigns against.
  *
  * A numeric or timestamp `Literal` is written into the generated
  * Java source, so every call with a new value compiled new classes
  * that could never hit Spark's codegen cache (`current_timestamp()`
  * folds to such a literal per query). This leaf is neither foldable nor
  * rendered: `doGenCode` reads the value through a codegen reference
  * object, as [[BloomProbe]] reads its filter, so one plan shape
  * compiles to the same source on every call. It is deterministic —
  * every row of a call reads the same value, on every partition — and
  * the plan text shows the label only, so two calls render alike.
  * Equality compares the value by content (`ArrayData` included), so
  * two independent builds over one matrix stay one common
  * subexpression. `value` is Catalyst's internal form for `dataType`
  * (micros for a timestamp); build it with
  * [[VectorFunctions.callValue]].
  */
case class CallValue(label: String, value: Any, dataType: DataType)
    extends LeafExpression {

  require(value != null, s"graft_call_value($label) needs a value")

  override def nullable: Boolean = false
  override def prettyName: String = "graft_call_value"
  override protected def stringArgs: Iterator[Any] = Iterator(label)

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj(label, value,
      CodeGenerator.boxedType(dataType))
    val read =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
      else ref
    ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }
}
