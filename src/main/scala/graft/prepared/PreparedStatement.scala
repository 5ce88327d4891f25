package graft.prepared

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.graft.Internals

/** A prepared statement: SQL parsed, analyzed, optimized, and physically
  * planned exactly once; `execute(params)` re-binds placeholder values into a
  * copy of the cached physical plan and runs it, skipping the entire
  * Catalyst pipeline on the hot path.
  *
  * Engine-neutral equivalent of the reference's `ParameterizedStatement`
  * (`src/parameterized_statement.rs:12-163`), with two deliberate design
  * changes (SURVEY.md §7):
  *
  *   - Binding is a pure copy-and-substitute on the driver
  *     ([[Params.bind]]), not an update of a shared mutable filter
  *     expression — so concurrent executes and multi-partition plans are
  *     safe (the reference requires `target_partitions = 1`, README.md:56).
  *   - No UDF snapshotting side channel: Spark function expressions live
  *     directly in the cached plan tree.
  *
  * Scan pruning parity: after binding, conjuncts of any dynamic filter are
  * re-pushed into descendant parquet, cached and keyed scans
  * (`ScanRebind`), so row-group and batch pruning see the concrete values —
  * the moral equivalent of the reference's `DynamicFilterPhysicalExpr.update`
  * pushdown (`src/physical.rs:240-264`).
  */
class PreparedStatement(
    val spark: SparkSession,
    val sql: String,
    val physicalPlan: SparkPlan,
    val output: Seq[Attribute]) {

  /** Bind `params` and return a lazy DataFrame over the bound plan. No
    * Catalyst work here — one cheap plan-tree copy of the cached physical
    * plan, then straight to execution when an action runs.
    */
  def execute(params: Map[String, Any] = Map.empty): DataFrame =
    Internals.dfFromPhysical(spark, boundPlan(params))

  /** Bind + re-push scan predicates, stamping the measured bind time onto
    * every [[graft.plans.DynamicFilterExec]]'s `bindTime` SQLMetric (set
    * AFTER the rebind — a rebind that copies the exec would re-create its
    * metric accumulators and lose an earlier stamp). The exec posts the
    * value to the SQL listener when execution starts. Public: the returned
    * tree is the statement's per-execution plan, the inspection point for
    * metrics and plan-shape assertions.
    */
  def boundPlan(params: Map[String, Any]): SparkPlan = {
    val start = System.nanoTime()
    val bound = Params.bind(physicalPlan, params)
    val pruned = ScanRebind.rebind(bound)
    val elapsed = System.nanoTime() - start
    pruned.foreach {
      case d: graft.plans.DynamicFilterExec => d.longMetric("bindTime").set(elapsed)
      case _ => ()
    }
    pruned
  }

  /** Hot-path collect: bind and run the physical plan directly, skipping the
    * DataFrame wrapper entirely (the reference's execute() likewise streams
    * record batches straight from the physical plan,
    * `parameterized_statement.rs:64-87`).
    *
    * Runs on one of two tiers ([[Internals.collectPhysical]]):
    * a bound plan that is a narrow project/filter chain over a leaf the
    * driver reads cheaply — a keyed mem table answering the bound keys, a
    * materialized cached table whose blocks are all in the driver's block
    * manager, or a v1 parquet scan whose bound filters leave at most
    * `ParquetLeaf.MaxDriverRows` rows in the surviving row groups (read
    * with a reader built once per statement, on the first such execute) —
    * is evaluated on the driver with no Spark job; any other plan runs as
    * one job. [[DriverTier]] states the eligibility rule; each
    * [[graft.plans.DynamicFilterExec]]'s `driverTier` metric reports which
    * tier ran.
    */
  def executeCollect(params: Map[String, Any]): Array[Row] =
    Internals.collectPhysical(boundPlan(params))
}
