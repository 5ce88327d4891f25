package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}

import _root_.graft.prepared.DriverTier

/** Thin access layer over Spark internal (`private[sql]`) APIs used by the
  * graft engine. Kept in one place so the rest of the codebase stays on the
  * public surface.
  *
  * Rationale (see SURVEY.md §7): the prepared-statement fast path caches a
  * fully planned physical plan and re-executes it with re-bound literals,
  * which requires constructing a [[QueryExecution]] directly and wrapping an
  * executed physical plan back into a [[DataFrame]].
  */
object Internals {

  def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** DataFrame from a logical plan (≡ `Dataset.ofRows`, which is `private[sql]`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(spark), plan)

  /** Build a QueryExecution pipeline for an already-parsed plan. */
  def queryExecution(spark: SparkSession, plan: LogicalPlan): QueryExecution =
    new QueryExecution(classicSession(spark), plan)

  /** Wrap the output RDD of an executed physical plan as a DataFrame.
    * The rows are UnsafeRows produced by a Spark plan, which is exactly what
    * [[LogicalRDD]] expects.
    */
  def dfFromInternalRDD(
      spark: SparkSession,
      output: Seq[Attribute],
      rdd: RDD[InternalRow]): DataFrame =
    ofRows(spark, LogicalRDD(output, rdd)(classicSession(spark)))

  /** Execute a bound physical plan lazily, returning a DataFrame over its
    * output RDD. No job runs until an action is invoked on the result.
    */
  def dfFromPhysical(spark: SparkSession, plan: SparkPlan): DataFrame =
    dfFromInternalRDD(spark, plan.output, plan.execute())

  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    classicSession(spark).sessionState.sqlParser.parsePlan(sql)

  /** Catalyst predicate → data-source `Filter` (`DataSourceStrategy
    * .translateFilter` is `protected[sql]`). Used by the execute-time
    * pushdown to hand freshly bound conjuncts to DSv2 file scans.
    */
  def translateFilter(
      predicate: org.apache.spark.sql.catalyst.expressions.Expression,
      supportNestedPredicatePushdown: Boolean): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown)

  /** Collect a physical plan's rows directly (no Dataset/LogicalRDD wrapper,
    * which costs ~20 ms per call) — the prepared-statement hot path's analog
    * of the reference streaming record batches straight out of
    * `ExecutionPlan::execute`.
    *
    * Two tiers, chosen from the plan alone: a narrow project/filter chain
    * over a driver-resident leaf (a keyed mem scan with pushed keys) is
    * evaluated on the driver with no Spark job ([[DriverTier]] states the
    * exact rule); every other plan runs as a job through `executeCollect()`.
    */
  def collectPhysical(plan: SparkPlan): Array[org.apache.spark.sql.Row] = {
    val schema = org.apache.spark.sql.types.StructType(
      plan.output.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(schema)
    val rows = DriverTier.rows(plan).getOrElse(plan.executeCollect().iterator)
    rows.map(r => conv(r).asInstanceOf[org.apache.spark.sql.Row]).toArray
  }
}
