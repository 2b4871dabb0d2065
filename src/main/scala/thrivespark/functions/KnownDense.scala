package thrivespark.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Identity expression that re-types an array as element-non-null — the
  * `KnownNotNull` pattern applied to containsNull (r19). Parquet list
  * columns always surface as containsNull=true (file sources force the
  * read schema nullable — `spark.read.schema` cannot override it), yet the
  * generated fixture vectors never hold a null slot. Since the vec_dot
  * kernels honor element nullability (the r18 advisory fix), a call site
  * that KNOWS its arrays are dense wraps them in known_dense to keep the
  * branch-free codegen loop — the per-element null-bit tests measured ~40%
  * of sim_join_rewrite's 64-dim verify join at sf0.1 (r19).
  * Zero runtime cost: eval and codegen are the identity. The declaration
  * is trust, like KnownNotNull: a null element behind it is undefined
  * behavior at the consumer (an Unsafe array reads 0), which is exactly
  * the contract the wrapper's name states. */
case class KnownDense(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"known_dense requires an array, got ${dt.simpleString(10)}")
  }

  override def dataType: DataType = child.dataType match {
    case ArrayType(et, _) => ArrayType(et, containsNull = false)
    case dt => dt
  }
  override def prettyName: String = "known_dense"

  override def nullSafeEval(input: Any): Any = input

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)

  override protected def withNewChildInternal(newChild: Expression): KnownDense =
    copy(child = newChild)
}
