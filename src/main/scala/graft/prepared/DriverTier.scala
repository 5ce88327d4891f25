package graft.prepared

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, InterpretedUnsafeProjection, PlanExpression, Predicate}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graft.Internals

import graft.plans.DynamicFilterExec
import graft.sources.{KeyedMemScan, KeyedReaderFactory}

/** Driver-local execution tier for bound prepared plans.
  *
  * A prepared lookup whose rows already sit on the driver — a keyed mem
  * table answering pushed keys, or a cached table whose blocks are in the
  * driver's own block manager — does not need a Spark job: scheduling one
  * costs ~10 ms, far more than filtering a handful of rows. When the bound
  * plan is a narrow chain of whole-stage-codegen wrappers, projections and
  * filters over such a leaf, this evaluates it right here with interpreted
  * evaluators (no codegen compile, no job).
  * The reference gets the same effect by streaming record batches straight
  * out of its provider (`parameterized_statement.rs:64-87`).
  *
  * Eligibility, decided from the plan and the state of its cache:
  *   - every node is a [[WholeStageCodegenExec]], [[InputAdapter]],
  *     [[ProjectExec]], [[FilterExec]] or [[DynamicFilterExec]], each with
  *     one child;
  *   - every expression is deterministic and holds no subquery;
  *   - the leaf is a [[BatchScanExec]] over a [[KeyedMemScan]] with pushed
  *     keys, or a row-based [[InMemoryTableScanExec]] (reached through an
  *     [[InputAdapter]]) over a cache built by Spark's default serializer,
  *     materialized, with every block in the driver's block manager
  *     ([[Internals.driverLocalCacheRows]]). In a cluster a cache's blocks
  *     live on the executors, and an unmaterialized or unpersisted relation
  *     has no loaded buffers until a job fills them, so those scans keep
  *     the job.
  *
  * Anything else (columnar cache scans, files, ranges, local relations,
  * joins, aggregates) returns `None` and keeps the job path. The nodes'
  * `numOutputRows` metrics are filled exactly as the job path fills them.
  */
object DriverTier {

  /** The rows of `plan`, evaluated on the driver, or `None` when the plan is
    * not eligible. Every guard is checked on the way down, before the leaf
    * is touched, so an ineligible plan leaves no metric changed. Rows stream
    * one at a time: a row is valid until the next `next()` (projections
    * reuse their output buffer), so callers convert or copy each row first.
    */
  def rows(plan: SparkPlan): Option[Iterator[InternalRow]] = plan match {
    case w: WholeStageCodegenExec => rows(w.child)
    case i: InputAdapter          => rows(i.child)
    case p: ProjectExec if p.projectList.forall(evaluable) =>
      rows(p.child).map { in =>
        val project = InterpretedUnsafeProjection.createProjection(
          BindReferences.bindReferences(p.projectList, p.child.output))
        in.map(project)
      }
    case f: FilterExec if evaluable(f.condition) =>
      rows(f.child).map(filter(f.condition, f.child, f.longMetric("numOutputRows")))
    case d: DynamicFilterExec if evaluable(d.condition) =>
      Params.requireBound(d.condition)
      rows(d.child).map(filter(d.condition, d.child, d.longMetric("numOutputRows")))
    case m: InMemoryTableScanExec => Internals.driverLocalCacheRows(m)
    case b: BatchScanExec if b.runtimeFilters.isEmpty =>
      b.scan match {
        case ks: KeyedMemScan if ks.keys.isDefined => Some(keyed(ks, b.longMetric("numOutputRows")))
        case _                                     => None
      }
    case _ => None
  }

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])

  /** The pushed keys' rows, read through the same reader a task would use. */
  private def keyed(scan: KeyedMemScan, numOutputRows: SQLMetric): Iterator[InternalRow] =
    scan.planInputPartitions().iterator.flatMap { p =>
      val reader = KeyedReaderFactory.createReader(p)
      val shipped = ArrayBuffer.empty[InternalRow]
      try while (reader.next()) shipped += reader.get()
      finally reader.close()
      numOutputRows += shipped.length
      shipped
    }

  // interpreted: a driver-tier lookup compiles no code
  private def filter(cond: Expression, child: SparkPlan, numOutputRows: SQLMetric)(
      in: Iterator[InternalRow]): Iterator[InternalRow] =
    DynamicFilterExec.filterRows(
      Predicate.createInterpreted(BindReferences.bindReference(cond, child.output)), 0, numOutputRows)(in)
}
