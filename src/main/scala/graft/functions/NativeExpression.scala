package graft.functions

import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The scaffold every native Catalyst expression of the library mixes
  * in. The expression declares its `inputTypes` (Spark's
  * [[ExpectsInputTypes]]: a wrong input type fails analysis with
  * Spark's message naming the function, and nothing is cast
  * implicitly) and a public `compute` over its children's values, in
  * child order. This trait writes the generated code once: a direct
  * `compute` call on the referenced expression instance, so the call
  * stays inside whole-stage codegen and never falls back to
  * interpreted eval (SCALE.md round-3 lesson 2).
  *
  * A NULL child makes the result NULL without calling `compute` (the
  * `nullSafeEval` contract). A primitive result is the call's value;
  * an object result is cast to the result's Java type, and a null
  * `compute` result is a NULL value. An expression whose generated
  * code differs keeps its own `doGenCode`. */
trait NativeExpression extends ExpectsInputTypes {

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this)
    val args = children.map(_.genCode(ctx))
    val javaType = CodeGenerator.javaType(dataType)
    val call = s"$ref.compute(${args.map(_.value).mkString(", ")})"
    val assign =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"${ev.value} = $call;\n${ev.isNull} = false;"
      else
        s"${ev.value} = ($javaType) $call;\n${ev.isNull} = ${ev.value} == null;"
    val guarded = children.zip(args).foldRight(assign) {
      case ((c, a), body) => ctx.nullSafeExec(c.nullable, a.isNull)(body)
    }
    ev.copy(code = code"""
      ${args.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $guarded""")
  }
}
