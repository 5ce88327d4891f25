package graft.prepared

import java.util.IdentityHashMap

import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, Expression, LeafExpression, Literal, Unevaluable}
import org.apache.spark.sql.execution.{
  BaseSubqueryExec, ExecSubqueryExpression, LeafExecNode, ReusedSubqueryExec, SparkPlan}
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

  /** Bind a cached physical plan: clone-and-substitute every placeholder with
    * a literal, recursing into subquery plans and reused exchanges. Fails,
    * naming the placeholder, if a referenced placeholder has no value.
    */
  def bind(plan: SparkPlan, params: Map[String, Any]): SparkPlan = {
    // identity cache: a subquery instance shared through ReusedSubqueryExec
    // binds to ONE new instance, so subquery reuse survives the clone and
    // the subquery still executes once per run
    val (bound, rebound) =
      bindChecked(plan, params, new IdentityHashMap[BaseSubqueryExec, BaseSubqueryExec])
    // deep-clone: transform is copy-on-write, so unchanged subtrees would be
    // SHARED between concurrent bound plans — and whole-stage codegen
    // mutates a `parent` pointer on child nodes during produce/consume,
    // which cross-contaminates concurrently generated spans. A full clone
    // gives every execution a private tree (cheap: pure driver-side copy).
    val cloned = bound.clone()
    if (rebound) reuseExchanges(cloned) else cloned
  }

  /** `plan` with each reused exchange pointed at the exchange of `plan`
    * it reuses (the one canonically equal to its own bound target), so the
    * reused side runs once per execute, as in the literal SQL, and never
    * across executes (`plan` is this execute's private clone). A target
    * that itself holds a reused exchange is rebuilt by the swaps below, so
    * its reusers keep their own bound copy rather than an outdated instance
    * that shares nodes with the rebuilt one; so does a reused exchange
    * whose exchange sits in a subquery.
    */
  private def reuseExchanges(plan: SparkPlan): SparkPlan = {
    val exchanges = plan.collect {
      case e: Exchange if !e.exists(_.isInstanceOf[ReusedExchangeExec]) => e
    }
    plan
      .transformUp {
        case r: ReusedExchangeExec =>
          exchanges.find(_.canonicalized == r.child.canonicalized)
            .fold[SparkPlan](r)(ReboundExchange(r.output, _))
      }
      .transformUp { case ReboundExchange(output, child) => ReusedExchangeExec(output, child) }
  }

  /** The bound plan, and whether it holds a rebound subquery or reused
    * exchange.
    */
  private def bindChecked(
      plan: SparkPlan,
      params: Map[String, Any],
      cache: IdentityHashMap[BaseSubqueryExec, BaseSubqueryExec]): (SparkPlan, Boolean) = {
    val placeholderRule: PartialFunction[Expression, Expression] = {
      case ParamPlaceholder(id, dt) =>
        // BoundParam (not Literal) so every execution of the statement hits
        // the generated-code cache — a Literal would inline the value into
        // the source and force a janino recompile per execute
        BoundParam(id, dt, literal(id, dt, params.getOrElse(id, missing(id))).value)
    }
    var rebound = false
    val exprRule = placeholderRule.orElse[Expression, Expression] {
      case sub: ExecSubqueryExpression =>
        // a fresh subquery plan on every execute, placeholder or not: its
        // result future and its scans' input partitions are per-instance
        // state, so a shared instance would replay the first execute's
        // result over data that has since changed
        rebound = true
        Rebound(sub.withNewPlan(bindSubquery(sub.plan, params, cache)))
    }
    val bound = plan.transformUp {
      // a reused exchange is a leaf whose referenced exchange is NOT in
      // `children`, so the final clone does not reach it: bind and clone
      // its target on every execute, like a subquery (the reused side is
      // recomputed, not shared with the first execute)
      case r: ReusedExchangeExec =>
        rebound = true
        ReboundExchange(r.output,
          bindChecked(r.child, params, cache)._1.clone().asInstanceOf[Exchange])
      // broadcast key expressions live in the mode, outside `expressions`,
      // so a placeholder in a broadcast-side join key needs its own rewrite
      case bc: BroadcastExchangeExec =>
        bc.mode match {
          case m @ HashedRelationBroadcastMode(keys, _) if keys.exists(containsPlaceholder) =>
            bc.copy(mode = m.copy(key = keys.map(_.transform(placeholderRule))))
          case _ => bc
        }
    }.transformAllExpressions(exprRule)
    if (!rebound) (bound, false)
    else (bound
      .transformUp { case ReboundExchange(output, child) => ReusedExchangeExec(output, child) }
      .transformAllExpressions { case Rebound(sub) => sub }, true)
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

  /** The same for a reused exchange with a rebound or shared target. */
  private case class ReboundExchange(output: Seq[Attribute], child: Exchange)
      extends LeafExecNode {
    override protected def doExecute(): RDD[InternalRow] =
      throw new IllegalStateException("a rebound exchange is replaced before it runs")
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
          bindChecked(other, params, cache)._1.clone().asInstanceOf[BaseSubqueryExec]
      }
      cache.put(p, bound)
      bound
    }
  }

  /** Assert no placeholder remains (used by DynamicFilterExec before run). */
  def requireBound(e: Expression): Unit =
    placeholderIds(e).headOption.foreach(missing)
}
