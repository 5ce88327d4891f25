package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.columnar.CachedBatch
import org.apache.spark.sql.execution.{
  ColumnarToRowExec, LogicalRDD, ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.execution.columnar.{
  DefaultCachedBatch, DefaultCachedBatchSerializer, GenerateColumnAccessor, InMemoryTableScanExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.UserDefinedType
import org.apache.spark.storage.{BlockId, BlockManager, RDDBlockId}

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

  /** A query execution that plans without AQE, whatever the session's AQE
    * conf says: its physical preparations are the session's minus
    * [[InsertAdaptiveSparkPlan]], which is what the session runs with AQE
    * disabled (subqueries included, which then plan through
    * `PlanSubqueries`). The decision is this query's alone; queries planned
    * concurrently on the same session stay adaptive.
    */
  private class StaticQueryExecution(session: classic.SparkSession, plan: LogicalPlan)
      extends QueryExecution(session, plan) {
    override protected def preparations: Seq[Rule[SparkPlan]] =
      super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
  }

  /** The physical plan of a parsed `plan`, planned once without AQE: a
    * prepared statement's frozen plan.
    */
  def staticPlan(spark: SparkSession, plan: LogicalPlan): SparkPlan =
    new StaticQueryExecution(classicSession(spark), plan).executedPlan

  /** `df` planned without AQE. An action on the result, or a checkpoint of
    * it, runs the static plan, so a checkpoint carries the plan's output
    * partitioning (under AQE it comes back unknown).
    */
  def planStatically(df: DataFrame): DataFrame = {
    val qe = new StaticQueryExecution(classicSession(df.sparkSession), df.queryExecution.analyzed)
    new classic.Dataset[Row](qe, ExpressionEncoder(qe.analyzed.schema))
  }

  /** Execute a bound physical plan lazily, returning a DataFrame over its
    * output RDD. No job runs until an action is invoked on the result. The
    * rows are UnsafeRows produced by a Spark plan, which is exactly what
    * [[LogicalRDD]] expects.
    */
  def dfFromPhysical(spark: SparkSession, plan: SparkPlan): DataFrame = ofRows(spark,
    LogicalRDD(plan.output, plan.execute())(classicSession(spark)))

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
    * Two tiers, chosen from the plan, the cache and the parquet footers: a
    * narrow project/filter chain over a leaf the driver reads cheaply (a
    * keyed mem scan with pushed keys, a row-based scan of a materialized
    * cache whose blocks all sit in this JVM's block manager, or a prepared
    * parquet scan whose bound filters leave few rows in the surviving row
    * groups) is evaluated on the driver with no Spark job ([[DriverTier]]
    * states the exact rule); every other plan runs as a job through
    * `executeCollect()`. A bound plan already reads any cache dropped since
    * `prepare()` from its source ([[droppedCacheSource]]).
    */
  def collectPhysical(plan: SparkPlan): Array[org.apache.spark.sql.Row] = {
    val schema = org.apache.spark.sql.types.StructType(
      plan.output.map(a => org.apache.spark.sql.types.StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(schema)
    val toRow = (r: InternalRow) => conv(r).asInstanceOf[org.apache.spark.sql.Row]
    DriverTier.collect(plan)(toRow)
      .getOrElse(plan.executeCollect().map(toRow))
  }

  /** The cache's own source plan in place of `scan`, when the cache was
    * dropped since the plan was built; `None` otherwise. A frozen prepared
    * plan keeps its `InMemoryRelation` after `uncacheTable`, and scanning it
    * calls `cachedColumnBuffers`, which would rebuild and persist the
    * cleared buffers outside the cache manager. A scan counts as dropped
    * when its buffers are not loaded and the session's cache manager no
    * longer holds its builder; a loaded cache costs one flag read, and a
    * registered but unmaterialized cache still fills on this run. Only
    * row-based scans are replaced: a columnar one feeds a `ColumnarToRowExec`
    * that cannot take rows.
    */
  def droppedCacheSource(scan: InMemoryTableScanExec): Option[SparkPlan] = {
    val builder = scan.relation.cacheBuilder
    val dropped = !scan.supportsColumnar && !builder.isCachedColumnBuffersLoaded && {
      val session = classicSession(SparkSession.active)
      !session.sharedState.cacheManager.lookupCachedData(session, builder.logicalPlan)
        .exists(_.cachedRepresentation.cacheBuilder eq builder)
    }
    Option.when(dropped) {
      // the relation's output maps position for position onto its cached
      // plan's; the projection keeps the scan's attribute ids for the parents
      val cached = builder.cachedPlan.clone()
      val rows = if (cached.supportsColumnar) ColumnarToRowExec(cached) else cached
      val byId = scan.relation.output.map(_.exprId).zip(rows.output).toMap
      ProjectExec(scan.attributes.map(a => Alias(byId(a.exprId), a.name)(a.exprId)), rows)
    }
  }

  /** The rows of a cached-table scan read straight out of this JVM's block
    * manager, or `None` when the scan must keep its job: the cache uses a
    * serializer other than [[DefaultCachedBatchSerializer]], is not
    * materialized (or was cleared by an unpersist), or any of its blocks is
    * not local — in a cluster they live on the executors.
    *
    * Mirrors `InMemoryTableScanExec.doExecute` minus the RDD: the scan's own
    * batch pruning (`buildFilter` over `predicates`), `numOutputRows` counted
    * per surviving batch, and `convertCachedBatchToInternalRow`'s decode of
    * just the scan's `attributes`. Every block is read before any row is
    * decoded, so a `None` leaves no metric changed. Rows are lazy and reuse
    * one buffer: a row is valid until the next `next()`.
    */
  def driverLocalCacheRows(scan: InMemoryTableScanExec): Option[Iterator[InternalRow]] = {
    val builder = scan.relation.cacheBuilder
    // atomic, so a concurrent unpersist cannot make `cachedColumnBuffers`
    // rebuild (and re-cache) the buffers it just cleared
    val buffers = builder.synchronized {
      if (builder.isCachedColumnBuffersLoaded) Some(builder.cachedColumnBuffers) else None
    }
    val bm = SparkEnv.get.blockManager
    (builder.serializer, buffers) match {
      case (serializer: DefaultCachedBatchSerializer, Some(rdd)) =>
        // the first block not in this block manager ends the read; the
        // blocks read before it have already released their locks
        val ids = rdd.partitions.indices.map(RDDBlockId(rdd.id, _))
        val blocks =
          ids.iterator.map(localBatches(bm, _)).takeWhile(_.isDefined).map(_.get).toVector
        if (blocks.length < ids.length) None
        else Some(decodeCached(scan, serializer, blocks))
      case _ => None
    }
  }

  /** The cached batches of one block, or `None` when this block manager
    * does not hold it (an evicted or remote block). The read lock
    * `getLocalValues` takes is released when its iterator is drained, and
    * explicitly when the read fails, so no exit path leaks it (a leaked lock
    * would block the block's removal forever). Decoding happens after the
    * lock is released.
    */
  private def localBatches(bm: BlockManager, id: BlockId): Option[ArrayBuffer[CachedBatch]] =
    bm.getLocalValues(id).map { block =>
      val batches = ArrayBuffer.empty[CachedBatch]
      var drained = false
      try {
        while (block.data.hasNext) batches += block.data.next().asInstanceOf[CachedBatch]
        drained = true
      } finally if (!drained) bm.releaseLock(id)
      batches
    }

  private def decodeCached(
      scan: InMemoryTableScanExec,
      serializer: DefaultCachedBatchSerializer,
      blocks: Seq[Iterable[CachedBatch]]): Iterator[InternalRow] = {
    val cachedOutput = scan.relation.output
    val prune =
      if (SQLConf.get.inMemoryPartitionPruning) {
        serializer.buildFilter(scan.predicates, cachedOutput)
      } else (_: Int, batches: Iterator[CachedBatch]) => batches
    val numOutputRows = scan.longMetric("numOutputRows")
    val batches = blocks.iterator.zipWithIndex
      .flatMap { case (b, i) => prune(i, b.iterator) }
      .map { b =>
        numOutputRows += b.numRows
        b.asInstanceOf[DefaultCachedBatch]
      }
    val (ordinals, types) = scan.attributes.map { a =>
      cachedOutput.indexWhere(_.exprId == a.exprId) -> (a.dataType match {
        case udt: UserDefinedType[_] => udt.sqlType
        case other                   => other
      })
    }.unzip
    val rows = GenerateColumnAccessor.generate(types)
    rows.initialize(batches, types.toArray, ordinals.toArray)
    rows
  }
}
