package graft

import java.util.{Collections, IdentityHashMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{
  FilterExec, LocalTableScanExec, ReusedSubqueryExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.prepared.{BoundParam, ParamPlaceholder, Params, PreparedStatements}
import graft.sources.{KeyedMemScan, KeyedMemTables}

/** Ports of the reference substitution unit tests
  * (`/root/reference/datafusion-dynamic-filter/src/param_resolver.rs:102-179`).
  * The reference's UDF-side-channel tests have no analog: binding here is a
  * pure driver-side tree rewrite (SURVEY.md §7 design decision 2).
  */
class ParamsSpec extends SparkTestBase {

  private val id = AttributeReference("id", IntegerType)()
  private val name = AttributeReference("name", StringType)()

  /** [[Params.bind]] over a filter on an empty scan: the bound condition,
    * with each placeholder replaced by its [[BoundParam]].
    */
  private def bindCondition(e: Expression, params: Map[String, Any]): Expression =
    Params.bind(FilterExec(e, LocalTableScanExec(Seq(id, name), Nil, None)), params)
      .asInstanceOf[FilterExec].condition

  // param_resolver.rs:126-140 — single placeholder substituted
  test("substitute a single placeholder") {
    val e = EqualTo(id, ParamPlaceholder("$1", IntegerType))
    bindCondition(e, Map("$1" -> 42)) shouldBe EqualTo(id, BoundParam("$1", IntegerType, 42))
  }

  // param_resolver.rs:142-154 — multiple placeholders substituted
  test("substitute multiple placeholders") {
    val e = And(
      GreaterThanOrEqual(id, ParamPlaceholder("$1", IntegerType)),
      LessThanOrEqual(id, ParamPlaceholder("$2", IntegerType)))
    bindCondition(e, Map("$1" -> 1, "$2" -> 9)) shouldBe
      And(GreaterThanOrEqual(id, BoundParam("$1", IntegerType, 1)),
        LessThanOrEqual(id, BoundParam("$2", IntegerType, 9)))
  }

  // param_resolver.rs:156-168 — missing param errors, naming the placeholder
  test("missing parameter raises with the placeholder name") {
    val e = EqualTo(id, ParamPlaceholder("$1", IntegerType))
    val ex = intercept[IllegalArgumentException] {
      bindCondition(e, Map("$2" -> 42))
    }
    ex.getMessage should include("'$1' was not provided a value")
  }

  // a wrong-typed value is an error naming the placeholder, never a silent
  // coercion
  test("wrong-typed bind value raises with the placeholder name and both types") {
    spark.range(0, 10).createOrReplaceTempView("params_t")
    val sql = "SELECT id FROM params_t WHERE id = $1"
    val static = graft.prepared.PreparedStatements.prepare(spark, sql)
    Seq[(Any, String)](
      5 -> "java.lang.Integer (5)",
      "abc" -> "java.lang.String (abc)",
      5.0 -> "java.lang.Double (5.0)").foreach { case (v, got) =>
      val expected = s"Placeholder '$$1' expects bigint, got $got"
      intercept[IllegalArgumentException] {
        static.executeCollect(Map("$1" -> v))
      }.getMessage shouldBe expected
    }
    static.executeCollect(Map("$1" -> 5L)).map(_.getLong(0)) shouldBe Array(5L)
    static.executeCollect(Map("$1" -> null)) shouldBe empty
  }

  // param_resolver.rs:170-178 — expressions without placeholders untouched
  test("non-placeholder expressions are untouched") {
    val e = EqualTo(id, Literal(3))
    bindCondition(e, Map("$1" -> 42)) shouldBe e
  }

  test("placeholderIds collects distinct ids") {
    val e = And(
      EqualTo(id, ParamPlaceholder("$1", IntegerType)),
      Or(
        EqualTo(id, ParamPlaceholder("$2", IntegerType)),
        EqualTo(id, ParamPlaceholder("$1", IntegerType))))
    Params.placeholderIds(e) should contain theSameElementsAs Seq("$1", "$2")
  }

  test("string-typed placeholder binds a string literal") {
    val e = EqualTo(name, ParamPlaceholder("$1", StringType))
    bindCondition(e, Map("$1" -> "bob")) shouldBe
      EqualTo(name, BoundParam("$1", StringType, UTF8String.fromString("bob")))
  }

  /** The nodes of `plan` reached through children and subquery plans, and
    * with `targets` also through the targets of reused exchanges and
    * subqueries, each once.
    */
  private def nodes(plan: SparkPlan, targets: Boolean): Seq[SparkPlan] = {
    val seen = Collections.newSetFromMap(new IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
      p match {
        case r: ReusedExchangeExec if targets => walk(r.child)
        case r: ReusedSubqueryExec if targets => walk(r.child)
        case _ =>
      }
    }
    walk(plan)
    seen.asScala.toSeq
  }

  // every execute binds a private tree: no per-run state (codegen parent
  // pointers, scan partitions, subquery results, metrics) is shared with the
  // frozen plan or with another execute, and each reuse points into its own
  // bound tree
  test("a bind copies every node once and points each reuse into its own tree") {
    import spark.implicits._
    KeyedMemTables.register(spark, "pb_t", Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "s"), "k")
    try {
      val agg = "SELECT k, count(*) c FROM pb_t GROUP BY k"
      // the union holds its children in a Seq argument
      val sql = s"SELECT a.k, a.c, b.c FROM ($agg) a JOIN ($agg) b ON a.k = b.k " +
        s"WHERE a.k = $$1 AND a.c <= (SELECT max(m.c + n.c) FROM ($agg) m JOIN ($agg) n ON m.k = n.k) " +
        "UNION ALL SELECT k, 0, 0 FROM pb_t WHERE k = $1 + 1"
      val st = PreparedStatements.prepare(spark, sql, Map("$1" -> LongType))
      val frozen = st.physicalPlan
      val all = nodes(frozen, targets = true)
      frozen.subqueriesAll should not be empty
      all.collect { case r: ReusedExchangeExec => r } should not be empty
      all.collect { case b: BatchScanExec if b.scan.isInstanceOf[KeyedMemScan] => b } should not be empty
      all.collect { case u: UnionExec => u } should not be empty
      val params = Map("$1" -> 1L)
      st.executeCollect(params).map(_.toString).sorted shouldBe
        spark.sql(sql.replace("$1", "1")).collect().map(_.toString).sorted
      val (first, second) = (Params.bind(frozen, params), Params.bind(frozen, params))
      Seq(frozen -> first, frozen -> second, first -> second).foreach { case (a, b) =>
        val inA = nodes(a, targets = true)
        nodes(b, targets = true).filter(n => inA.exists(_ eq n)) shouldBe empty
      }
      Seq(first, second).foreach { bound =>
        val exchanges = nodes(bound, targets = false).collect { case e: Exchange => e }
        nodes(bound, targets = true).foreach {
          case r: ReusedExchangeExec => exchanges.exists(_ eq r.child) shouldBe true
          case _ =>
        }
        // a keyed scan below `a.k = $1` carries the bound key, pushed in the bind
        nodes(bound, targets = true).collect {
          case b: BatchScanExec if b.scan.isInstanceOf[KeyedMemScan] =>
            b.scan.asInstanceOf[KeyedMemScan].keys
        } should contain(Some(Seq(1L)))
      }
    } finally KeyedMemTables.unregister(spark, "pb_t")
  }
}
