package graft.functions.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * A [[Literal]] whose value reaches generated code as a parameter instead of
 * as text. `Literal.doGenCode` writes a primitive straight into the
 * whole-stage source (`ts >= 1704085200000L`), so two reads that differ only
 * in their time range or interval generate two sources, and Spark compiles
 * each one (its class cache is keyed by source). This subclass keeps the
 * value in the generated class's `references` array and reads it into a
 * field once per instance, so every such read shares one compiled class.
 *
 * Everything else is `Literal`'s: optimizer rules and filter pushdown match
 * it as a `Literal` (Parquet still prunes on the bound), `explain` prints the
 * value, and equality is by value, so plans over different ranges never
 * compare as `sameResult`. A rule that folds an expression over it builds a
 * plain `Literal`, which inlines again: apply it to the outermost constant.
 *
 * The constructor takes `Literal`'s two parameters in the same order, so the
 * reflective `makeCopy` of tree transforms rebuilds a `ParamLiteral`.
 */
class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "param", f => s"$f = $boxed.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
}

object ParamLiteral {
  /** A Long parameter. */
  def apply(value: Long): Column = apply(value, LongType)

  /** `value` in Catalyst's internal form for `dataType`: a Long of
    * microseconds for the timestamp types. */
  def apply(value: Any, dataType: DataType): Column =
    GraftBridge.toColumn(new ParamLiteral(value, dataType))
}
