package graft.prepared

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.execution.{
  ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graft.Internals

import graft.plans.DynamicFilterExec
import graft.sources.{KeyedMemScan, KeyedScanBuilder}

/** Execute-time scan pushdown for freshly bound predicates.
  *
  * At prepare time a parameterized predicate cannot be pushed into the scan
  * (no concrete value yet). While `Params.bind` copies a plan, it carries
  * the bound conjuncts of each dynamic filter down to the scans below it,
  * through row-preserving nodes only ([[passesRows]]), and hands each
  * copied leaf to [[push]]: parquet v1/v2 `dataFilters` (row-group /
  * page-level pruning from the scan's own filter translation), cached-table
  * `predicates` (batch-stat pruning) and keyed mem scans' keys (an index
  * lookup), on every execute.
  *
  * Moral equivalent of the reference's pushed `DynamicFilterPhysicalExpr`
  * being `update()`d with bound values before the scan runs
  * (`src/physical.rs:240-264`, `270-336`); here it is a pure copy of the
  * scan node, so nothing shared is mutated.
  */
object ScanRebind {

  /** `bound` itself: `Params.bind` pushes in the walk that binds. Kept for
    * perfbench's traced execute (`Lookups.tracedPrepared`), which times a
    * rebind apart; deleting that traced copy deletes this def too.
    */
  def rebind(bound: SparkPlan): SparkPlan = bound

  /** `plan` is deterministic and passes each input row through on its own:
    * dropping a row that the filters above it would drop leaves the other
    * rows as they were. Below a window, an aggregate, a join, an expand, a
    * generate or a limit, the rows a scan drops would change the rows the
    * filter keeps (their row numbers, their outer-join partners), so no
    * conjunct is pushed past such a node.
    */
  def passesRows(plan: SparkPlan): Boolean = plan match {
    case _: DynamicFilterExec | _: FilterExec | _: ProjectExec | _: WholeStageCodegenExec |
        _: InputAdapter | _: ColumnarToRowExec =>
      plan.expressions.forall(_.deterministic)
    case _ => false
  }

  /** `leaf`, a bound copy, with `conjuncts`, the bound conjuncts of the
    * dynamic filters above it, pushed in; a scan of a cache dropped since
    * `prepare()` becomes the cache's source plan.
    */
  def push(leaf: SparkPlan, conjuncts: Seq[Expression]): SparkPlan = {
    // the conjuncts a scan over `output` can use and does not hold yet
    def newConjuncts(output: AttributeSet, held: Seq[Expression]): Seq[Expression] =
      conjuncts.filter(c => c.references.subsetOf(output) && !held.exists(_.semanticEquals(c)))

    leaf match {
      case scan: FileSourceScanExec =>
        val applicable = newConjuncts(scan.outputSet, scan.dataFilters)
        if (applicable.isEmpty) scan
        else withTags(scan.copy(dataFilters = scan.dataFilters ++ applicable), scan)
      // cached table: bound conjuncts join the scan's predicates, so its
      // batch-stat pruning skips batches on both tiers
      case scan: InMemoryTableScanExec =>
        Internals.droppedCacheSource(scan).getOrElse {
          val applicable = newConjuncts(scan.outputSet, scan.predicates)
          if (applicable.isEmpty) scan
          else withTags(scan.copy(predicates = scan.predicates ++ applicable), scan)
        }
      // DSv2 keyed mem table: bound key equality/IN conjuncts become an
      // index lookup — the scan ships only the matching rows, the prepared
      // analog of the reference provider serving pushed point lookups. The
      // table's own scan builder decides which conjuncts pin keys, as it
      // does for planning-time pushdown; conjuncts over other relations go
      // first, since translation keeps only attribute names
      case b: BatchScanExec =>
        b.scan match {
          case ks: KeyedMemScan if ks.keys.isEmpty =>
            val builder = new KeyedScanBuilder(ks.table)
            builder.pushFilters(conjuncts.filter(_.references.subsetOf(b.outputSet))
              .flatMap(Internals.translateFilter(_, supportNestedPredicatePushdown = true))
              .toArray)
            builder.build() match {
              case keyed: KeyedMemScan if keyed.keys.nonEmpty => withTags(b.copy(scan = keyed), b)
              case _                                          => b
            }
          // DSv2 parquet: the protocol is source-agnostic (the reference
          // pushes its DynamicFilterPhysicalExpr to ANY provider,
          // physical.rs:270-336), so a session reading parquet through v2
          // gets the same execute-time row-group pruning as the v1 path
          // above — bound conjuncts are translated to source Filters and a
          // copied scan carries them into the reader factory.
          case ps: ParquetScan =>
            val applicable = newConjuncts(b.outputSet, ps.dataFilters)
            val translated = applicable.flatMap(
              Internals.translateFilter(_, supportNestedPredicatePushdown = true))
              .filterNot(f => ps.pushedFilters.contains(f))
            if (translated.isEmpty) b
            else withTags(b.copy(scan = ps.copy(
              pushedFilters = ps.pushedFilters ++ translated,
              dataFilters = ps.dataFilters ++ applicable)), b)
          case _ => b
        }
      case _ => leaf
    }
  }

  // a copied scan keeps the tags of the one it replaces (a parquet scan's
  // driver-read state rides in one)
  private def withTags(copy: SparkPlan, from: SparkPlan): SparkPlan = {
    copy.copyTagsFrom(from)
    copy
  }
}
