package graft.prepared

import java.io.Closeable

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, InterpretedUnsafeProjection, PlanExpression, Predicate}
import org.apache.spark.sql.execution.{
  ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.graft.{Internals, ParquetLeaf}

import graft.plans.DynamicFilterExec
import graft.sources.{KeyedMemScan, KeyedReaderFactory}

/** Driver-local execution tier for bound prepared plans.
  *
  * A prepared lookup whose rows the driver can reach cheaply — a keyed mem
  * table answering pushed keys, a cached table whose blocks are in the
  * driver's own block manager, or a few parquet row groups — does not need a
  * Spark job: scheduling one costs ~10-20 ms, far more than filtering a
  * handful of rows. When the bound plan is a narrow chain of
  * whole-stage-codegen wrappers, projections and filters over such a leaf,
  * this evaluates it right here with interpreted evaluators (no codegen
  * compile, no job).
  * The reference gets the same effect by streaming record batches straight
  * out of its provider (`parameterized_statement.rs:64-87`).
  *
  * Eligibility, decided from the plan, the state of its cache and the
  * parquet footers:
  *   - every node is a [[WholeStageCodegenExec]], [[InputAdapter]],
  *     [[ProjectExec]], [[FilterExec]] or [[DynamicFilterExec]], each with
  *     one child;
  *   - every expression is deterministic and holds no subquery;
  *   - the leaf is one of three:
  *     - a [[BatchScanExec]] over a [[KeyedMemScan]] with pushed keys;
  *     - a row-based [[InMemoryTableScanExec]] (reached through an
  *       [[InputAdapter]]) over a cache built by Spark's default
  *       serializer, materialized, with every block in the driver's block
  *       manager ([[Internals.driverLocalCacheRows]]). In a cluster a
  *       cache's blocks live on the executors, and an unmaterialized or
  *       unpersisted relation has no loaded buffers until a job fills them,
  *       so those scans keep the job;
  *     - a v1 parquet [[FileSourceScanExec]] under a [[ColumnarToRowExec]]
  *       that its statement tagged at prepare time ([[ParquetLeaf]]: no
  *       bucketing, metadata columns, subquery or runtime filters), whose
  *       row groups that survive the bound filters' statistics hold at most
  *       [[ParquetLeaf.MaxDriverRows]] rows. They are read with the reader
  *       function a task builds, built once per statement. A wider bind
  *       keeps the job, whose tasks read in parallel.
  *
  * Anything else (columnar cache scans, DSv2 files, ranges, local
  * relations, joins, aggregates) keeps the job path. The nodes'
  * `numOutputRows` metrics, and a parquet scan's file metrics, are filled
  * as the job path fills them; each [[DynamicFilterExec]]'s `driverTier`
  * metric is set to 1 when this tier answered.
  */
object DriverTier {

  /** The rows of `plan`, evaluated on the driver and converted one at a time
    * by `convert`, or `None` when the plan is not eligible. Every guard is
    * checked on the way down, before the leaf is read, so an ineligible plan
    * leaves no row metric changed. Every reader a leaf opens is closed
    * before this returns, also when a row fails: on the driver no
    * task-completion listener closes it. `maxParquetRows` is the cost
    * rule's bound on a parquet leaf's surviving rows; the crossover probe
    * (`graft.ParquetTierProbe`, in the tests) lifts it to time the driver
    * read on both sides of the rule.
    */
  def collect[T: ClassTag](plan: SparkPlan, maxParquetRows: Long = ParquetLeaf.MaxDriverRows)(
      convert: InternalRow => T): Option[Array[T]] = {
    val opened = ArrayBuffer.empty[Closeable]
    try rows(plan, maxParquetRows, opened).map { in =>
      val out = in.map(convert).toArray
      plan.foreach {
        case d: DynamicFilterExec => d.longMetric("driverTier").set(1L)
        case _                    =>
      }
      out
    } finally opened.foreach(_.close())
  }

  /** Rows stream one at a time: a row is valid until the next `next()`
    * (projections and the parquet reader reuse their buffers).
    */
  private def rows(
      plan: SparkPlan,
      maxParquetRows: Long,
      opened: ArrayBuffer[Closeable]): Option[Iterator[InternalRow]] = {
    def below(child: SparkPlan) = rows(child, maxParquetRows, opened)
    plan match {
      case w: WholeStageCodegenExec => below(w.child)
      case i: InputAdapter          => below(i.child)
      case p: ProjectExec if p.projectList.forall(evaluable) =>
        below(p.child).map { in =>
          val project = InterpretedUnsafeProjection.createProjection(
            BindReferences.bindReferences(p.projectList, p.child.output))
          in.map(project)
        }
      case f: FilterExec if evaluable(f.condition) =>
        below(f.child).map(filter(f.condition, f.child, f.longMetric("numOutputRows")))
      case d: DynamicFilterExec if evaluable(d.condition) =>
        Params.requireBound(d.condition)
        below(d.child).map(filter(d.condition, d.child, d.longMetric("numOutputRows")))
      case m: InMemoryTableScanExec => Internals.driverLocalCacheRows(m)
      case c: ColumnarToRowExec =>
        val scan = c.child match {
          case InputAdapter(s: FileSourceScanExec) => Some(s)
          case s: FileSourceScanExec               => Some(s)
          case _                                   => None
        }
        scan.flatMap(ParquetLeaf.rows(_, c.longMetric("numOutputRows"), maxParquetRows, opened))
      case b: BatchScanExec if b.runtimeFilters.isEmpty =>
        b.scan match {
          case ks: KeyedMemScan if ks.keys.isDefined =>
            Some(keyed(ks, b.longMetric("numOutputRows")))
          case _ => None
        }
      case _ => None
    }
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
