package graft.prepared

import java.util.IdentityHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.execution.{
  BaseSubqueryExec, ExecSubqueryExpression, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.types.DataType

/** Placeholder detection and substitution (engine-neutral equivalent of the
  * reference's `replace_placeholders`, `src/param_resolver.rs:77-100`, and
  * `contains_placeholder`, `src/rule.rs:16-30`).
  *
  * Substitution copies the frozen plan once per execute into a private
  * bound plan — there is no shared mutable filter expression and therefore
  * no single-partition restriction (the reference needs
  * `target_partitions=1`, its `README.md:56`; this design does not).
  *
  * Subqueries: a physical plan holds its subquery plans *inside*
  * [[ExecSubqueryExpression]]s, and a reused exchange or subquery holds its
  * target outside its children; the bind follows both, so
  * `... WHERE x > (SELECT avg(y) FROM t WHERE z = $1)` binds like any other
  * placeholder, and a shared exchange or subquery binds once per execute.
  */
object Params {

  /** True iff the expression tree contains at least one [[ParamPlaceholder]]. */
  def containsPlaceholder(e: Expression): Boolean =
    e.exists(_.isInstanceOf[ParamPlaceholder])

  /** All placeholder ids appearing in an expression tree (not descending
    * into physical subquery plans).
    */
  def placeholderIds(e: Expression): Seq[String] =
    e.collect { case ParamPlaceholder(id, _) => id }.distinct

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

  /** Bind a cached physical plan: a new instance of every node, with every
    * placeholder substituted by its value, in the plan, its subquery plans
    * and its reused exchanges' targets. Fails, naming the placeholder, if a
    * referenced placeholder has no value.
    */
  def bind(plan: SparkPlan, params: Map[String, Any]): SparkPlan = new Binder(params)(plan)

  /** One bind: every node of the frozen plan is copied, never shared, since
    * codegen `parent` pointers, scan input partitions, subquery result
    * futures and metrics are per-instance state that an execute mutates or
    * fills. Each exchange and subquery plan is bound once, through an
    * identity memo, so a reused exchange or subquery points at the one copy
    * its target got in this bind: it runs once per execute, as in the
    * literal SQL, and never replays an earlier execute's result.
    */
  private final class Binder(params: Map[String, Any]) {
    private val memo = new IdentityHashMap[SparkPlan, SparkPlan]

    private val placeholderRule: PartialFunction[Expression, Expression] = {
      case ParamPlaceholder(id, dt) =>
        // BoundParam (not Literal) so every execution of the statement hits
        // the generated-code cache — a Literal would inline the value into
        // the source and force a janino recompile per execute
        BoundParam(id, dt, literal(id, dt, params.getOrElse(id, missing(id))).value)
    }

    private val expressionRule = placeholderRule.orElse[Expression, Expression] {
      case sub: ExecSubqueryExpression =>
        Rebound(sub.withNewPlan(apply(sub.plan).asInstanceOf[BaseSubqueryExec]))
    }

    def apply(plan: SparkPlan): SparkPlan = plan match {
      case _: Exchange | _: BaseSubqueryExec =>
        Option(memo.get(plan)).getOrElse {
          val bound = copy(plan)
          memo.put(plan, bound)
          bound
        }
      case _ => copy(plan)
    }

    private def copy(plan: SparkPlan): SparkPlan = plan match {
      // reuse nodes are leaves whose target is not among their children
      case r: ReusedExchangeExec => r.copy(child = apply(r.child).asInstanceOf[Exchange])
      case r: ReusedSubqueryExec => r.copy(child = apply(r.child).asInstanceOf[BaseSubqueryExec])
      case leaf if leaf.children.isEmpty => expressions(leaf.clone())
      case node =>
        // makeCopy, not withNewChildren: that keeps a node whose new
        // children equal its old ones, and a bound child equals its frozen one
        def isChild(a: Any) = a match {
          case c: SparkPlan => node.containsChild(c)
          case _ => false
        }
        expressions(node.makeCopy(node.productIterator.map[AnyRef] {
          case c: SparkPlan if isChild(c) => apply(c)
          case cs: Seq[_] if cs.nonEmpty && cs.forall(isChild) =>
            cs.map(c => apply(c.asInstanceOf[SparkPlan]))
          case arg => arg.asInstanceOf[AnyRef]
        }.toArray))
    }

    /** `node` (already a copy) with its placeholders bound and each subquery
      * plan it holds bound through the memo.
      */
    private def expressions(node: SparkPlan): SparkPlan = {
      // broadcast key expressions live in the mode, outside `expressions`,
      // so a placeholder in a broadcast-side join key needs its own rewrite
      val keyed = node match {
        case bc @ BroadcastExchangeExec(m @ HashedRelationBroadcastMode(keys, _), _)
            if keys.exists(containsPlaceholder) =>
          bc.copy(mode = m.copy(key = keys.map(_.transform(placeholderRule))))
        case other => other
      }
      val bound = keyed.transformExpressions(expressionRule)
      if (bound eq keyed) bound else bound.transformExpressions { case Rebound(sub) => sub }
    }
  }

  /** A rebound subquery on its way into the plan. Catalyst's transforms keep
    * a node that equals its replacement, and a rebound subquery equals the
    * frozen one, so it is swapped in through this wrapper, which equals
    * neither.
    */
  private case class Rebound(sub: ExecSubqueryExpression) extends LeafExpression with Unevaluable {
    override def dataType: DataType = sub.dataType
    override def nullable: Boolean = sub.nullable
  }

  /** Assert no placeholder remains (used by DynamicFilterExec before run). */
  def requireBound(e: Expression): Unit =
    placeholderIds(e).headOption.foreach(missing)
}
