package graft.prepared

import java.util.IdentityHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.{BaseSubqueryExec, ExecSubqueryExpression, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.types.DataType

/** Placeholder detection and substitution (engine-neutral equivalent of the
  * reference's `replace_placeholders`, `src/param_resolver.rs:77-100`, and
  * `contains_placeholder`, `src/rule.rs:16-30`).
  *
  * Substitution is a pure tree rewrite producing an immutable bound plan —
  * there is no shared mutable filter expression and therefore no
  * single-partition restriction (the reference needs `target_partitions=1`,
  * its `README.md:56`; this design does not).
  *
  * Subqueries: a physical plan holds its subquery plans *inside*
  * [[ExecSubqueryExpression]]s, which `transformAllExpressions` does not
  * descend into — both detection and substitution recurse through them
  * explicitly, so `... WHERE x > (SELECT avg(y) FROM t WHERE z = $1)`
  * binds like any other placeholder.
  */
object Params {

  /** True iff the expression tree contains at least one [[ParamPlaceholder]]. */
  def containsPlaceholder(e: Expression): Boolean =
    e.exists(_.isInstanceOf[ParamPlaceholder])

  /** All placeholder ids appearing in an expression tree (not descending
    * into physical subquery plans — see the SparkPlan overload for that).
    */
  def placeholderIds(e: Expression): Seq[String] =
    e.collect { case ParamPlaceholder(id, _) => id }.distinct

  /** All placeholder ids appearing anywhere in a physical plan, including
    * inside subquery plans. [[ReusedSubqueryExec]] is a leaf whose child is
    * NOT in `children`, so it needs its own hop.
    */
  def placeholderIds(plan: SparkPlan): Seq[String] = {
    val b = Seq.newBuilder[String]
    def scanExpr(root: Expression): Unit = root.foreach {
      case ParamPlaceholder(id, _)     => b += id
      case sub: ExecSubqueryExpression => b ++= placeholderIds(sub.plan)
      case _                           =>
    }
    plan.foreach {
      case reused: ReusedSubqueryExec => b ++= placeholderIds(reused.child)
      case reused: ReusedExchangeExec => b ++= placeholderIds(reused.child)
      case node =>
        node match {
          // broadcast key expressions live in the mode, outside `expressions`
          case bc: BroadcastExchangeExec =>
            bc.mode match {
              case HashedRelationBroadcastMode(keys, _) => keys.foreach(scanExpr)
              case _                                    =>
            }
          case _ =>
        }
        node.expressions.foreach(scanExpr)
    }
    b.result().distinct
  }

  /** Error message parity with the reference (`src/param_resolver.rs:90-94`). */
  private def missing(id: String): Nothing =
    throw new IllegalArgumentException(
      s"Placeholder '$id' was not provided a value")

  /** The typed literal for one bound value. A value of the wrong type fails
    * naming the placeholder and both types; values are never coerced.
    */
  private def literal(id: String, dt: DataType, v: Any): Literal =
    try Literal.create(v, dt)
    catch {
      case NonFatal(e) =>
        throw new IllegalArgumentException(
          s"Placeholder '$id' expects ${dt.catalogString}, got ${v.getClass.getName} ($v)", e)
    }

  /** Bind a cached physical plan: clone-and-substitute every placeholder with
    * a literal, recursing into subquery plans. Fails fast if any referenced
    * placeholder has no value.
    */
  def bind(plan: SparkPlan, params: Map[String, Any]): SparkPlan = {
    placeholderIds(plan).foreach(id => if (!params.contains(id)) missing(id))
    // identity cache: a subquery instance shared through ReusedSubqueryExec
    // binds to ONE new instance, so subquery reuse survives the clone and
    // the subquery still executes once per run
    val bound = bindChecked(plan, params, new IdentityHashMap[BaseSubqueryExec, BaseSubqueryExec])
    // deep-clone: transform is copy-on-write, so unchanged subtrees would be
    // SHARED between concurrent bound plans — and whole-stage codegen
    // mutates a `parent` pointer on child nodes during produce/consume,
    // which cross-contaminates concurrently generated spans. A full clone
    // gives every execution a private tree (cheap: pure driver-side copy).
    bound.clone()
  }

  private def bindChecked(
      plan: SparkPlan,
      params: Map[String, Any],
      cache: IdentityHashMap[BaseSubqueryExec, BaseSubqueryExec]): SparkPlan = {
    val exprRule: PartialFunction[Expression, Expression] = {
      case ParamPlaceholder(id, dt) =>
        // BoundParam (not Literal) so every execution of the statement hits
        // the generated-code cache — a Literal would inline the value into
        // the source and force a janino recompile per execute
        BoundParam(id, dt, literal(id, dt, params(id)).value)
      case sub: ExecSubqueryExpression if placeholderIds(sub.plan).nonEmpty =>
        // clone the subquery plan with bound literals; the fresh instance
        // re-executes on next run (its result future is per-instance)
        sub.withNewPlan(bindSubquery(sub.plan, params, cache))
    }
    plan.transformUp {
      // a reused exchange is a leaf whose referenced exchange is NOT in
      // `children` — bind through it (reuse is dropped for parameterized
      // exchanges; correctness over the marginal recompute)
      case r: ReusedExchangeExec if placeholderIds(r.child).nonEmpty =>
        r.copy(child = bindChecked(r.child, params, cache).asInstanceOf[Exchange])
      // broadcast key expressions live in the mode, outside `expressions`,
      // so a placeholder in a broadcast-side join key needs its own rewrite
      case bc: BroadcastExchangeExec =>
        bc.mode match {
          case m @ HashedRelationBroadcastMode(keys, _) if keys.exists(containsPlaceholder) =>
            bc.copy(mode = m.copy(key = keys.map(_.transform(exprRule))))
          case _ => bc
        }
    }.transformAllExpressions(exprRule)
  }

  private def bindSubquery(
      p: BaseSubqueryExec,
      params: Map[String, Any],
      cache: IdentityHashMap[BaseSubqueryExec, BaseSubqueryExec]): BaseSubqueryExec = {
    val cached = cache.get(p)
    if (cached != null) cached
    else {
      val bound = p match {
        case r: ReusedSubqueryExec => ReusedSubqueryExec(bindSubquery(r.child, params, cache))
        case other =>
          // same sharing hazard as the top-level plan: private tree per bind
          bindChecked(other, params, cache).clone().asInstanceOf[BaseSubqueryExec]
      }
      cache.put(p, bound)
      bound
    }
  }

  /** Assert no placeholder remains (used by DynamicFilterExec before run). */
  def requireBound(e: Expression): Unit =
    placeholderIds(e).headOption.foreach(missing)
}
