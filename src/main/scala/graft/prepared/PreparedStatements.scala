package graft.prepared

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamedParameter, PosParameter, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, BinaryExpression, Cast, Expression, In, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Command, GlobalLimit, InsertIntoStatement, LocalLimit, LogicalPlan, Offset, Project, Tail}
import org.apache.spark.sql.graft.{Internals, ParquetLeaf}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Entry point: `prepare(spark, sql, paramTypes)` → [[PreparedStatement]].
  *
  * Engine-neutral equivalent of the reference's
  * `PreparableSessionContext::prepare` (`src/preparable_context.rs:9-38`):
  * parse → reject DDL → plan all the way to the physical layer exactly once,
  * with `$n` placeholders surviving into the physical plan as
  * [[ParamPlaceholder]] leaves.
  *
  * Placeholder syntax: `$1`, `$2`, … (the reference's convention), `?`
  * positional markers, or `:name` named markers — all normalized to
  * `$`-ids at prepare time: `?`s become `$1..$n` in textual order and
  * `:name` becomes `$name`, so bind maps are always `$`-keyed (e.g.
  * `execute(Map("$1" -> 5))`, `execute(Map("$limit" -> 10))`).
  *
  * Types: looked up in `paramTypes` (keys `"$1"`, …); if absent, inferred
  * from the comparison sibling — a column typed against the referenced
  * tables' schemas, a projection alias over a literal/cast (the reference's
  * rule.rs:110-113 shape), or a literal/cast sibling directly. A
  * placeholder that is neither declared nor inferable fails at prepare()
  * with a message naming it.
  */
object PreparedStatements {

  /** Rewrite `$N` markers to `:gpN` outside quoted strings so Spark's parser
    * accepts them as named parameter markers.
    */
  private[prepared] def normalizePlaceholders(sql: String): String = {
    val out = new StringBuilder(sql.length + 8)
    var i = 0
    var inSingle = false
    var inDouble = false
    var inBacktick = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inSingle) {
        out.append(c); if (c == '\'') inSingle = false
      } else if (inDouble) {
        out.append(c); if (c == '"') inDouble = false
      } else if (inBacktick) {
        out.append(c); if (c == '`') inBacktick = false
      } else c match {
        case '\'' => inSingle = true; out.append(c)
        case '"'  => inDouble = true; out.append(c)
        case '`'  => inBacktick = true; out.append(c)
        case '$' if i + 1 < sql.length && sql.charAt(i + 1).isDigit =>
          var j = i + 1
          while (j < sql.length && sql.charAt(j).isDigit) j += 1
          out.append(":gp").append(sql.substring(i + 1, j))
          i = j - 1
        case _ => out.append(c)
      }
      i += 1
    }
    out.toString
  }

  private def placeholderId(e: Expression, posOrdinals: Map[Int, Int]): Option[String] =
    e match {
      case NamedParameter(n) if n.startsWith("gp") => Some("$" + n.drop(2))
      case NamedParameter(n)                       => Some("$" + n)
      case PosParameter(pos)                       => Some("$" + posOrdinals(pos))
      case _                                       => None
    }

  /** The parsed plan plus every (transitively) nested subquery plan —
    * subquery plans live inside [[SubqueryExpression]]s, which plan-level
    * traversal does not descend into.
    */
  private def withSubqueryPlans(plan: LogicalPlan): Seq[LogicalPlan] =
    plan +: plan.flatMap { node =>
      node.expressions.flatMap(_.collect {
        case s: SubqueryExpression => withSubqueryPlans(s.plan)
      }.flatten)
    }

  /** Every expression root across the plan and its nested subquery plans. */
  private def allExpressions(plan: LogicalPlan): Seq[Expression] =
    withSubqueryPlans(plan).flatMap(_.flatMap(_.expressions))

  /** Expression rewrite that also descends into subquery plans. */
  private def rewriteAll(plan: LogicalPlan)(pf: PartialFunction[Expression, Expression]): LogicalPlan =
    plan.transformAllExpressions(pf.orElse {
      case s: SubqueryExpression => s.withNewPlan(rewriteAll(s.plan)(pf))
    })

  /** Each name's type, where every source of the name agrees on it. The
    * names are scope-blind (a column of two joined relations, an alias in
    * two subqueries), so a name typed differently by two sources is dropped
    * (declare the placeholder via paramTypes) rather than resolved to
    * whichever source happened to collect last.
    */
  private def unambiguous(named: Seq[(String, DataType)]): Map[String, DataType] =
    named.groupBy(_._1).collect {
      case (n, ts) if ts.map(_._2).distinct.sizeIs == 1 => (n, ts.head._2)
    }

  /** Infer placeholder types from `col <op> $n` / `col IN ($n,…)` shapes by
    * resolving the sibling column name against the schemas of the referenced
    * temp views / tables. Best-effort; explicit `paramTypes` wins.
    */
  private def inferTypes(
      spark: SparkSession,
      parsed: LogicalPlan,
      posOrdinals: Map[Int, Int]): Map[String, DataType] = {
    val colTypes: Map[String, DataType] = unambiguous(withSubqueryPlans(parsed)
      .flatMap(_.collect { case r: UnresolvedRelation => r.name })
      .distinct
      .flatMap(n => Try(spark.table(n).schema).toOption.toSeq.flatMap(_.fields))
      .map(f => f.name.toLowerCase -> f.dataType))

    // aliases over statically-typed children — the reference's
    // rule.rs:110-113 shape filters a projection of LITERAL aliases
    // (`lit(1).alias("id")`), so the comparison sibling may be an alias
    // that no table schema knows; one level deep (literal, cast, or a
    // table column), which avoids alias→alias cycles
    val aliasTypes: Map[String, DataType] = {
      def staticType(e: Expression): Option[DataType] = e match {
        case l: Literal             => Some(l.dataType)
        case c: Cast                => Some(c.dataType)
        case a: UnresolvedAttribute => colTypes.get(a.nameParts.last.toLowerCase)
        case _                      => None
      }
      unambiguous(withSubqueryPlans(parsed)
        .flatMap(_.collect { case p: Project =>
          p.projectList.collect { case al: Alias => al.name.toLowerCase -> staticType(al.child) }
        })
        .flatten
        .collect { case (n, Some(t)) => (n, t) })
    }

    // Sibling types carry a RANK: schema-anchored sources (table columns,
    // projection aliases, function result types, explicit casts) rank 2,
    // a bare literal sibling ranks 1. A reused named param can meet both —
    // `WHERE :p = 5 AND amount = :p` — and the literal's clause position
    // must not decide the type (ADVICE r15): the column's wins regardless
    // of order.
    def ranked(e: Expression): Option[(DataType, Int)] = e match {
      case a: UnresolvedAttribute =>
        colTypes.get(a.nameParts.last.toLowerCase)
          .orElse(aliasTypes.get(a.nameParts.last.toLowerCase))
          .map((_, 2))
      // a literal or cast sibling types the placeholder directly
      // (`WHERE $1 = 5`, `WHERE col = CAST($1 AS DATE)` reversed forms)
      case l: Literal => Some((l.dataType, 1))
      case c: Cast    => Some((c.dataType, 2))
      // result types of common functions, so HAVING count(*) >= $1 and
      // friends infer without a declaration
      case f: UnresolvedFunction =>
        f.nameParts.last.toLowerCase match {
          case "count" | "count_distinct"        => Some((LongType, 2))
          case "avg" | "mean"                    => Some((DoubleType, 2))
          case "length" | "char_length" | "size" => Some((IntegerType, 2))
          case "sum" =>
            f.arguments.headOption.flatMap(ranked).map {
              case (ByteType | ShortType | IntegerType | LongType, r) => (LongType, r)
              case (FloatType | DoubleType, r)                        => (DoubleType, r)
              case (d: DecimalType, r)                                => (d, r)
              case other                                              => other
            }
          case "min" | "max" | "abs" | "round" | "floor" | "ceil" =>
            f.arguments.headOption.flatMap(ranked)
          case _ => None
        }
      case _ => None
    }
    // Within a rank, FIRST write wins: visit() descends outer-to-inner, so
    // the enclosing comparison's column-derived type lands before a nested
    // arithmetic sibling's literal can re-infer — `amount = $1 + 1`
    // (amount DOUBLE) must type $1 double from the comparison, not int
    // from the `+ 1`. Across ranks, the higher-ranked source wins whatever
    // the clause order.
    val inferred = scala.collection.mutable.LinkedHashMap.empty[String, (DataType, Int)]
    def record(id: String, tr: (DataType, Int)): Unit =
      if (!inferred.get(id).exists(_._2 >= tr._2)) inferred(id) = tr

    // every placeholder id anywhere under `e`
    def nestedPhs(e: Expression): Seq[String] =
      e.collect { case p @ (_: NamedParameter | _: PosParameter) => placeholderId(p, posOrdinals) }
        .flatten

    def visit(e: Expression): Unit = {
      e match {
        // comparisons, arithmetic-in-comparisons, LIKE, …: a typed column on
        // one side types the placeholders anywhere under the other side
        // (`id = $1 + 1`, `name LIKE $1`, `u.id = b.uid + $1`)
        case b: BinaryExpression =>
          ranked(b.right).foreach(t => nestedPhs(b.left).foreach(record(_, t)))
          ranked(b.left).foreach(t => nestedPhs(b.right).foreach(record(_, t)))
        case In(v, list) =>
          ranked(v).foreach { t =>
            list.flatMap(placeholderId(_, posOrdinals)).foreach(record(_, t))
          }
        // `x BETWEEN $1 AND $2` parses as the unresolved function
        // between(x, $1, $2)
        case f: UnresolvedFunction
            if f.nameParts.lastOption.exists(_.equalsIgnoreCase("between")) &&
              f.arguments.nonEmpty =>
          ranked(f.arguments.head).foreach { t =>
            f.arguments.tail.flatMap(nestedPhs).foreach(record(_, t))
          }
        case _ =>
      }
      e.children.foreach(visit)
    }
    allExpressions(parsed).foreach(visit)
    inferred.view.mapValues(_._1).toMap
  }

  private def rejectDdl(parsed: LogicalPlan, sql: String): Unit = {
    val bad = parsed.exists {
      case _: Command             => true
      case _: InsertIntoStatement => true
      case p =>
        val n = p.nodeName
        n.startsWith("Create") || n.startsWith("Drop") || n.startsWith("Alter") ||
        n.startsWith("Merge") || n.startsWith("Update") || n.startsWith("Delete") ||
        n.startsWith("Truncate")
    }
    if (bad) {
      // Parity with the reference, which rejects DDL inside prepare()
      // (preparable_context.rs:18-28).
      throw new UnsupportedOperationException(
        s"DDL/DML statements are not supported in prepared statements: $sql")
    }
  }

  /** Placeholders are supported anywhere a runtime value is legal —
    * predicates, projections, join conditions, subqueries, function
    * arguments. LIMIT/OFFSET/TAIL counts are NOT: Spark requires those to
    * be constants at analysis time (they shape the plan itself), so a
    * placeholder there fails here, at prepare, with an actionable message
    * instead of surfacing Spark's generic IS_UNFOLDABLE analysis error.
    */
  private def rejectUnsupportedPositions(parsed: LogicalPlan, sql: String): Unit = {
    def hasMarker(e: Expression): Boolean = e.exists {
      case _: NamedParameter | _: PosParameter => true
      case _                                   => false
    }
    val bad = withSubqueryPlans(parsed).exists(_.exists {
      case GlobalLimit(le, _) => hasMarker(le)
      case LocalLimit(le, _)  => hasMarker(le)
      case Offset(oe, _)      => hasMarker(oe)
      case Tail(te, _)        => hasMarker(te)
      case _                  => false
    })
    if (bad) throw new UnsupportedOperationException(
      "Placeholders are not supported in LIMIT/OFFSET positions (Spark requires a " +
        s"constant there at analysis time); inline the value into the SQL instead: $sql")
  }

  /** Prepare `sql` for repeated execution: the full Catalyst pipeline runs
    * once, and every execute re-binds the frozen physical plan. That plan is
    * planned statically, without AQE, by a query execution of its own
    * ([[Internals.staticPlan]]): adaptive re-planning would mutate the tree
    * the statement re-binds and bring back per-execute planning, the cost
    * this amortizes. The session's conf is not touched, so queries planned
    * on it meanwhile stay adaptive. A heavy shape that wants AQE (a
    * fact⋈fact join over skewed keys) runs as `spark.sql(text, args)`
    * instead, which plans per call.
    */
  def prepare(
      spark: SparkSession,
      sql: String,
      paramTypes: Map[String, DataType] = Map.empty): PreparedStatement = {
    val parsed = Internals.parsePlan(spark, normalizePlaceholders(sql))
    rejectDdl(parsed, sql)
    rejectUnsupportedPositions(parsed, sql)

    // `?` markers are numbered left to right by their textual position.
    val positions = allExpressions(parsed)
      .flatMap(_.collect { case PosParameter(p) => p })
      .distinct.sorted
    val posOrdinals = positions.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap

    val inferred = inferTypes(spark, parsed, posOrdinals)
    // Fail fast at prepare time when a placeholder's type is neither
    // declared nor inferable — a blind default would surface later as a
    // confusing bind-time conversion failure (ADVICE r1).
    def typeOf(id: String): DataType =
      paramTypes.getOrElse(id, inferred.getOrElse(id,
        throw new IllegalArgumentException(
          s"Cannot infer the type of placeholder '$id' from the query; " +
            s"declare it explicitly via prepare(..., paramTypes = Map(\"$id\" -> <DataType>))")))

    val withPlaceholders = rewriteAll(parsed) {
      case e @ (_: NamedParameter | _: PosParameter) =>
        val id = placeholderId(e, posOrdinals).get
        ParamPlaceholder(id, typeOf(id))
    }

    // Plan once, through the full Catalyst pipeline (AQE off: see above).
    val physical = Internals.staticPlan(spark, withPlaceholders)
    ParquetLeaf.attach(physical)

    new PreparedStatement(spark, sql, physical, physical.output)
  }
}
