package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.types.IntegerType

import graft.plans.{DynamicFilterExec, DynamicFilterNode, DynamicFilterStrategy}
import graft.prepared.{ParamPlaceholder, PreparedStatements}

/** Ports of the reference planner unit tests
  * (`/root/reference/datafusion-dynamic-filter/src/planner.rs:48-163`).
  */
class DynamicFilterStrategySpec extends SparkTestBase {

  private val id = AttributeReference("id", IntegerType)()
  private val rel = LocalRelation(id)
  private val cond = EqualTo(id, ParamPlaceholder("$1", IntegerType))

  // planner.rs:48-89 — the node plans to the physical exec
  test("DynamicFilterNode plans to DynamicFilterExec") {
    DynamicFilterStrategy(DynamicFilterNode(cond, rel)) match {
      case Seq(DynamicFilterExec(c, _)) => c shouldBe cond
      case other                        => fail(s"expected one DynamicFilterExec, got $other")
    }
  }

  // planner.rs:91-120 — other plans are not claimed by the strategy
  test("non-matching plans produce Nil") {
    DynamicFilterStrategy(rel) shouldBe Nil
    DynamicFilterStrategy(Filter(EqualTo(id, Literal(1)), rel)) shouldBe Nil
  }

  // planner.rs:122-163 — the predicate survives into the exec
  test("predicate preserved into the exec") {
    val pred = And(
      GreaterThan(id, ParamPlaceholder("$1", IntegerType)),
      LessThan(id, ParamPlaceholder("$2", IntegerType)))
    DynamicFilterStrategy(DynamicFilterNode(pred, rel)) match {
      case Seq(exec: DynamicFilterExec) => exec.condition shouldBe pred
      case other                        => fail(s"unexpected $other")
    }
  }

  // physical.rs:345-405 — exec tree surgery preserves the condition
  test("withNewChildren preserves the condition") {
    val Seq(exec: DynamicFilterExec) =
      DynamicFilterStrategy(DynamicFilterNode(cond, rel)): @unchecked
    val swapped = exec.withNewChildren(exec.children)
    swapped.asInstanceOf[DynamicFilterExec].condition shouldBe cond
  }

  // physical.rs:27, :266-268 — the reference exec carries an
  // ExecutionPlanMetricsSet; ours populates numOutputRows from tasks and
  // bindTime from the driver-side parameter substitution
  test("SQLMetrics populated after an execute") {
    import org.apache.spark.sql.graft.Internals
    spark.range(0, 100).selectExpr("id").createOrReplaceTempView("metrics_t")
    val st = graft.prepared.PreparedStatements.prepare(
      spark, "SELECT id FROM metrics_t WHERE id >= $1")
    val plan = st.boundPlan(Map("$1" -> 90L))
    val exec = plan.collectFirst { case d: DynamicFilterExec => d }
      .getOrElse(fail(s"no DynamicFilterExec in\n$plan"))
    Internals.collectPhysical(plan) should have length 10
    exec.metrics("numOutputRows").value shouldBe 10L
    exec.metrics("bindTime").value should be > 0L
  }

  // plans whose leaf is not a keyed scan with pushed keys (a local relation
  // included), or whose expressions cannot be evaluated once on the driver,
  // keep the job path
  test("other plans keep the Spark job") {
    import spark.implicits._
    val cached = (0L until 100L).map(i => (i, s"c_$i")).toDF("id", "name")
    cached.cache().count()
    cached.createOrReplaceTempView("dfs_cached")
    val dir = Files.createTempDirectory("graft_dfs_parquet").toFile
    dir.deleteOnExit()
    spark.range(0, 100).selectExpr("id", "concat('p_', id) AS name")
      .write.parquet(dir.getAbsolutePath + "/t")
    spark.read.parquet(dir.getAbsolutePath + "/t").createOrReplaceTempView("dfs_parquet")
    spark.range(0, 100).createOrReplaceTempView("dfs_range")
    (0L until 200L).map(i => (i, s"t_${i % 7}")).toDF("id", "tag")
      .createOrReplaceTempView("dfs_local")
    try {
      val single = Seq(
        "SELECT id, name FROM dfs_cached WHERE id = $1",
        "SELECT id, name FROM dfs_parquet WHERE id = $1",
        "SELECT id FROM dfs_range WHERE id = $1",
        "SELECT id, upper(tag) AS t FROM dfs_local WHERE id = $1",
        "SELECT id, rand() AS r FROM dfs_local WHERE id = $1")
      single.foreach { sql =>
        val (rows, jobs) =
          jobsRun(PreparedStatements.prepare(spark, sql).executeCollect(Map("$1" -> 7L)))
        withClue(sql) {
          jobs shouldBe 1
          rows.map(_.getLong(0)).toSeq shouldBe Seq(7L)
        }
      }
      // the scalar subquery runs as its own job before the main one
      val sub = PreparedStatements.prepare(spark,
        "SELECT id FROM dfs_local WHERE id = $1 AND tag = (SELECT max(tag) FROM dfs_local)")
      val (rows, jobs) = jobsRun(sub.executeCollect(Map("$1" -> 6L)))
      rows.map(_.getLong(0)).toSeq shouldBe Seq(6L)
      jobs shouldBe 2
    } finally {
      spark.catalog.uncacheTable("dfs_cached")
      Seq("dfs_cached", "dfs_parquet", "dfs_range", "dfs_local").foreach(spark.catalog.dropTempView)
    }
  }
}
