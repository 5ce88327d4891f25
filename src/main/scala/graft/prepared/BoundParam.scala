package graft.prepared

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A bound parameter value on the prepared-statement hot path.
  *
  * Why not a plain [[org.apache.spark.sql.catalyst.expressions.Literal]]?
  * Literal codegen inlines the value into the generated Java source, so every
  * `execute(params)` with a new key produces *different* source and misses
  * Spark's generated-code cache — a janino recompile per execute, which costs
  * more than the Catalyst planning that prepare() exists to skip. BoundParam
  * instead routes the value through the codegen `references` array: the
  * generated source is identical for every binding, the code cache hits, and
  * only the references array (per plan instance) changes.
  *
  * This is the Spark analog of the reference updating its shared
  * `DynamicFilterPhysicalExpr` in place instead of rebuilding the plan
  * (`src/physical.rs:76-92`) — same goal (no per-execute compilation), but
  * as an immutable per-bind value, so concurrent executes stay safe.
  *
  * `value` is the Catalyst-internal representation (e.g. UTF8String).
  */
case class BoundParam(id: String, dataType: DataType, value: Any)
    extends LeafExpression {

  override def nullable: Boolean = value == null
  override def foldable: Boolean = false
  override def toString: String = s"boundparam($id=$value)"

  override def eval(input: InternalRow): Any = value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (value == null) {
      ExprCode.forNullValue(dataType)
    } else {
      val javaType = CodeGenerator.javaType(dataType)
      val boxed = CodeGenerator.boxedType(dataType)
      val ref = ctx.addReferenceObj("graftParam", this, classOf[BoundParam].getName)
      ev.copy(
        code = code"final $javaType ${ev.value} = ($boxed) $ref.value();",
        isNull = FalseLiteral)
    }
  }
}

/** A bound value in a scan's pushed predicates ([[ScanRebind]]).
  *
  * It is a [[Literal]], so Spark's data-source filter translation, cached
  * batch pruning and the keyed-scan key rule all recognise it. Like
  * [[BoundParam]], its generated code reads the value from the references
  * array instead of inlining it: the batch-pruning predicate Spark compiles
  * over a cache's column stats is then the same source for every bound
  * value, and the generated-code cache hits on every execute.
  */
final class PushedParam(value: Any, dataType: DataType) extends Literal(value, dataType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) super.doGenCode(ctx, ev)
    else {
      val ref = ctx.addReferenceObj("pushedParam", value, CodeGenerator.boxedType(dataType))
      val javaType = CodeGenerator.javaType(dataType)
      ev.copy(code = code"final $javaType ${ev.value} = $ref;", isNull = FalseLiteral)
    }
}
