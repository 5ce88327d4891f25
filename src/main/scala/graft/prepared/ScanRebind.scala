package graft.prepared

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, AttributeSet, EqualTo, Expression, In, Literal, PredicateHelper}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graft.Internals

import graft.plans.DynamicFilterExec
import graft.sources.{KeyedMemScan, KeyedMemTables}

/** Execute-time parquet pushdown for freshly bound predicates.
  *
  * At prepare time a parameterized predicate cannot be pushed into the scan
  * (no concrete value yet). After `Params.bind` turns placeholders into
  * literals, this pass re-pushes the now-concrete conjuncts into descendant
  * parquet scans' `dataFilters`, so the scan's own filter translation gives
  * row-group / page-level pruning on every execute.
  *
  * Moral equivalent of the reference's pushed `DynamicFilterPhysicalExpr`
  * being `update()`d with bound values before the scan runs
  * (`src/physical.rs:240-264`, `270-336`); here it is a pure copy of the
  * scan node, so nothing shared is mutated.
  */
object ScanRebind extends PredicateHelper {

  /** The key values a bound conjunct pins, if it is `key = literal` (either
    * side) or `key IN (literals)` on the scan's `keyCol`.
    */
  private def keySet(c: Expression, keyCol: String, output: AttributeSet): Option[Set[Any]] = {
    val operands = c match {
      case EqualTo(a: AttributeReference, l: Literal) => Some((a, Seq(l)))
      case EqualTo(l: Literal, a: AttributeReference) => Some((a, Seq(l)))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some((a, vs.map(_.asInstanceOf[Literal])))
      case _ => None
    }
    operands.collect { case (a, ls) if a.name.equalsIgnoreCase(keyCol) && output.contains(a) =>
      ls.map(l => CatalystTypeConverters.convertToScala(l.value, l.dataType)).toSet[Any]
    }
  }

  def rebind(bound: SparkPlan): SparkPlan = {
    // Conjuncts of every (now concrete) dynamic filter in the plan. The
    // data-source filter translation only understands Literal, so BoundParam
    // values are materialized here — the scan's pushdown sees plain
    // literals while the row-level predicates keep the codegen-cache-
    // friendly BoundParam form.
    val conjuncts: Seq[Expression] = bound.collect {
      case DynamicFilterExec(cond, _) =>
        splitConjunctivePredicates(cond).map(_.transform {
          case BoundParam(_, dt, v) => Literal(v, dt)
        })
    }.flatten

    if (conjuncts.isEmpty) bound
    else bound.transformUp {
      case scan: FileSourceScanExec =>
        val applicable = conjuncts.filter { c =>
          c.references.subsetOf(scan.outputSet) &&
          !scan.dataFilters.exists(_.semanticEquals(c))
        }
        if (applicable.isEmpty) scan
        else scan.copy(dataFilters = scan.dataFilters ++ applicable)
      // DSv2 keyed mem table: bound key equality/IN conjuncts become an
      // index lookup — the scan ships only the matching rows, the prepared
      // analog of the reference provider serving pushed point lookups
      case b: BatchScanExec =>
        b.scan match {
          case ks: KeyedMemScan if ks.keys.isEmpty =>
            val keyCol = KeyedMemTables.registry(ks.table).keyCol
            val keySets = conjuncts.flatMap(keySet(_, keyCol, b.outputSet))
            if (keySets.isEmpty) b
            else b.copy(scan = ks.withKeys(KeyedMemTables.intersectKeys(keySets)))
          // DSv2 parquet: the protocol is source-agnostic (the reference
          // pushes its DynamicFilterPhysicalExpr to ANY provider,
          // physical.rs:270-336), so a session reading parquet through v2
          // gets the same execute-time row-group pruning as the v1 path
          // above — bound conjuncts are translated to source Filters and a
          // copied scan carries them into the reader factory.
          case ps: ParquetScan =>
            val applicable = conjuncts.filter { c =>
              c.references.subsetOf(b.outputSet) &&
              !ps.dataFilters.exists(_.semanticEquals(c))
            }
            val translated = applicable.flatMap(
              Internals.translateFilter(_, supportNestedPredicatePushdown = true))
              .filterNot(f => ps.pushedFilters.contains(f))
            if (translated.isEmpty) b
            else b.copy(scan = ps.copy(
              pushedFilters = ps.pushedFilters ++ translated,
              dataFilters = ps.dataFilters ++ applicable))
          case _ => b
        }
    }
  }
}
