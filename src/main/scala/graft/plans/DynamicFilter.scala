package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, BasePredicate, BindReferences, Expression, ExpressionInfo, Predicate, PredicateHelper, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.prepared.Params

/** The dynamic-filter operator family: a filter whose predicate contains SQL
  * placeholders, kept opaque to Catalyst's standard rules so the
  * parameterized predicate survives planning intact and is bound to concrete
  * literals only at execute time.
  *
  * Engine-neutral re-creation of the reference crate's four custom
  * constructs (SURVEY.md §2 Tier A):
  *   - logical node      — reference `src/logical.rs:7-104`
  *   - optimizer rule    — reference `src/rule.rs:8-76`
  *   - planner strategy  — reference `src/planner.rs:9-46`
  *   - physical operator — reference `src/physical.rs:20-343`
  */

/** A1 — logical marker node wrapping a parameterized filter predicate.
  * Being a custom node (not a [[Filter]]), Catalyst's predicate-pushdown /
  * constant-folding rules leave the condition alone, exactly like the
  * reference's opaque extension node (`src/rule.rs:44-48`).
  */
case class DynamicFilterNode(condition: Expression, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): DynamicFilterNode =
    copy(child = newChild)
}

/** A2 — optimizer rule: rewrite `Filter(pred, child)` where `pred` contains a
  * placeholder into [[DynamicFilterNode]] (reference `src/rule.rs:32-49`).
  *
  * Improvements over the reference:
  *
  *   - the condition is split into conjuncts; only the parameterized
  *     conjuncts are shielded, static conjuncts stay in a plain [[Filter]]
  *     and keep full Catalyst treatment (pushdown, pruning);
  *   - `Project` over a parameterized filter prunes columns THROUGH the
  *     opaque node: a Project with exactly the referenced columns is placed
  *     below it, so `FileSourceStrategy`'s `PhysicalOperation` still reaches
  *     the relation with a minimal ReadSchema. Without this, every prepared
  *     query would scan every column — a disqualifying cost at 100 TB.
  */
object DynamicFilterRule extends Rule[LogicalPlan] with PredicateHelper {

  private def rewrite(cond: Expression, child: LogicalPlan): DynamicFilterNode = {
    val (dynamic, static) =
      splitConjunctivePredicates(cond).partition(Params.containsPlaceholder)
    val base = if (static.isEmpty) child else Filter(static.reduce(And), child)
    DynamicFilterNode(dynamic.reduce(And), base)
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case Project(projList, Filter(cond, child)) if Params.containsPlaceholder(cond) =>
      val needed = AttributeSet(projList.flatMap(_.references)) ++ cond.references
      val prunedChild =
        if (child.output.forall(needed.contains)) child
        else Project(child.output.filter(needed.contains), child)
      Project(projList, rewrite(cond, prunedChild))
    case Filter(cond, child) if Params.containsPlaceholder(cond) =>
      rewrite(cond, child)
  }
}

/** A3 — planner strategy: [[DynamicFilterNode]] → [[DynamicFilterExec]]
  * (reference `src/planner.rs:28-42`).
  */
object DynamicFilterStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DynamicFilterNode(cond, child) =>
      DynamicFilterExec(cond, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** A4 — physical dynamic filter. At execute time the condition must already
  * be bound (the prepared-statement path substitutes placeholders on a clone
  * of the plan before calling execute); an unbound placeholder is an error
  * with the reference's message (`src/param_resolver.rs:90-94`).
  *
  * Inherits the child's partitioning and ordering (reference
  * `src/physical.rs:40-46`) and filters with a compiled [[Predicate]]
  * per-partition — no shared mutable state, so unlike the reference it is
  * safe under any parallelism (their README.md:56 restriction).
  */
case class DynamicFilterExec(condition: Expression, child: SparkPlan)
    extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  // the reference exec carries an ExecutionPlanMetricsSet (physical.rs:27,
  // :266-268); numOutputRows accumulates from tasks, bindTime is set
  // driver-side by the prepared-statement bind (PreparedStatement.execute)
  // and posted to the SQL listener when execution starts, so both surface
  // in the Spark UI next to the exec; driverTier is set driver-side to 1
  // when graft.prepared.DriverTier answered the execute without a job
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "bindTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "time to bind parameters"),
    "driverTier" -> SQLMetrics.createMetric(sparkContext, "answered on the driver"))

  /** Driver-set metrics (bindTime) only reach the UI through an explicit
    * driver-accum post inside the execution scope — the
    * BroadcastExchangeExec pattern. No-op outside an execution (e.g. a bare
    * `plan.execute()` with no action yet).
    */
  private def postDriverMetrics(): Unit = {
    val executionId =
      sparkContext.getLocalProperty(org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)
    if (executionId != null && metrics("bindTime").value > 0) {
      SQLMetrics.postDriverMetricUpdates(sparkContext, executionId, metrics("bindTime") :: Nil)
    }
  }

  // Whole-stage codegen participation: the bound predicate compiles into the
  // surrounding span (BoundParam keeps the generated source binding-
  // independent), so scan → dynamic filter → project fuses into ONE stage
  // instead of the exec breaking the pipeline with per-row virtual calls.
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String = {
    postDriverMetrics()
    child.asInstanceOf[CodegenSupport].produce(ctx, this)
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    Params.requireBound(condition)
    val numOutput = metricTerm(ctx, "numOutputRows")
    val bound = BindReferences.bindReference(condition, child.output)
    ctx.currentVars = input
    val ev = bound.genCode(ctx)
    s"""
       |${ev.code}
       |if (!${ev.isNull} && ${ev.value}) {
       |  $numOutput.add(1);
       |  ${consume(ctx, input)}
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    Params.requireBound(condition)
    postDriverMetrics()
    val numOutputRows = longMetric("numOutputRows")
    val cond = condition
    val childOutput = child.output
    child.execute().mapPartitionsWithIndex { (index, iter) =>
      DynamicFilterExec.filterRows(Predicate.create(cond, childOutput), index, numOutputRows)(iter)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DynamicFilterExec =
    copy(child = newChild)
}

object DynamicFilterExec {

  /** The rows of `iter` that `predicate` keeps, each counted in
    * `numOutputRows`: the row loop shared by the job path
    * ([[DynamicFilterExec.doExecute]]) and the driver tier
    * ([[graft.prepared.DriverTier]]).
    */
  def filterRows(predicate: BasePredicate, partitionIndex: Int, numOutputRows: SQLMetric)(
      iter: Iterator[InternalRow]): Iterator[InternalRow] = {
    predicate.initialize(partitionIndex)
    iter.filter { row =>
      val keep = predicate.eval(row)
      if (keep) numOutputRows += 1
      keep
    }
  }
}

/** Session wiring (≡ the reference's SessionStateBuilder wiring in every
  * harness, e.g. `tests/preparable_context_basic_test.rs:19-25` — minus the
  * `target_partitions = 1` restriction, which this design does not need).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DynamicFilterRule)
    e.injectPlannerStrategy(_ => DynamicFilterStrategy)
    // the custom codegen expressions, available to SQL text in sessions
    // built with .withExtensions (Graft.install covers existing sessions)
    graft.Graft.sqlFunctions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.clazz.getName, f.name), f.builder))
    }
  }
}
