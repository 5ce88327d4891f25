package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.prepared.{BoundParam, ParamPlaceholder, Params}

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
}
