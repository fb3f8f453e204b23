package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership probe over a broadcast filter —
  * `graft_might_contain(h)` = `bf.mightContainString(h)`.
  *
  * Spark's own `BloomFilterMightContain` expression is internal to
  * runtime filtering (injected by `InjectRuntimeFilter`, not callable
  * from the DSL), so the library carries its own: the expression holds
  * the `Broadcast` HANDLE (a few bytes in the serialized plan — the
  * filter bits ship once per executor via torrent broadcast, exactly
  * like the closure-UDF form did), and `doGenCode` emits a direct
  * `mightContainString` call that fuses into the surrounding
  * whole-stage codegen — no UDF dispatch, no boxing, and the probe
  * column stays visible to the optimizer as a deterministic
  * expression. Null semantics: null hash → null (standard unary null
  * propagation). The plan text shows the probed column only: the
  * handle's broadcast id is a SparkContext counter, so it would make
  * the same plan render differently from one JVM to the next.
  */
case class BloomProbe(child: Expression, bf: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_might_contain requires a string column, got $t")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_might_contain"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(h: Any): Any =
    bf.value.mightContainString(h.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bf,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)
         |  $ref.value()).mightContainString($c.toString());""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): BloomProbe = copy(child = newChild)
}
