package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.graft.Internals

import graft.plans.DynamicFilterExec
import graft.prepared.{Params, PreparedStatements, PushedParam, ScanRebind}

/** End-to-end ports of the reference Parquet integration tests
  * (`/root/reference/datafusion-dynamic-filter/tests/preparable_context_parquet_test.rs:86-232`),
  * plus the execute-time pushdown proof: the bind must make the parquet
  * scan itself skip data, not merely keep results correct.
  */
class ParquetPreparedSpec extends SparkTestBase {

  /** users parquet with MANY row groups (small block size), sorted by id so
    * row-group statistics make point lookups prunable.
    */
  private lazy val parquetDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_parquet_users").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/users"
    spark.range(0, 200000).map(i => (i, s"user_$i", (i % 1000).toDouble))
      .toDF("id", "name", "score")
      .coalesce(1)
      .sortWithinPartitions("id")
      .write.option("parquet.block.size", 64 * 1024).parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("pusers")
    path
  }

  private def prepare(sql: String) = { parquetDir; PreparedStatements.prepare(spark, sql) }

  // parquet_test.rs:86-131 — PK lookup on a parquet table
  test("parquet point lookup") {
    val rows = prepare("SELECT id, name FROM pusers WHERE id = $1")
      .execute(Map("$1" -> 4242L)).collect()
    rows shouldBe Array(Row(4242L, "user_4242"))
  }

  // parquet_test.rs:134-189 — repeated execution with different keys
  test("parquet repeated execution") {
    val st = prepare("SELECT name FROM pusers WHERE id = $1")
    st.execute(Map("$1" -> 7L)).collect() shouldBe Array(Row("user_7"))
    st.execute(Map("$1" -> 199999L)).collect() shouldBe Array(Row("user_199999"))
  }

  // parquet_test.rs:192-232 — two params + projection
  test("parquet two params with projection") {
    val df = prepare("SELECT id FROM pusers WHERE id >= $1 AND id <= $2")
      .execute(Map("$1" -> 100L, "$2" -> 104L))
    df.columns shouldBe Array("id")
    df.collect().map(_.getLong(0)).sorted shouldBe Array(100L, 101L, 102L, 103L, 104L)
  }

  /** The moral equivalent of parquet_test.rs:86-131's pushdown assertion:
    * the bind pushes the concrete conjuncts into the scan's dataFilters,
    * which the frozen scan does not hold, and the scan's own numOutputRows
    * metric shows row-group pruning actually fired. Fails if the bind stops
    * pushing.
    */
  test("ScanRebind makes the parquet scan prune") {
    val st = prepare("SELECT id, name FROM pusers WHERE id = $1")
    val total = 200000L

    def scanRows(): (Long, Long) = {
      val bound = Params.bind(st.physicalPlan, Map("$1" -> 123456L))
      val plan = ScanRebind.rebind(bound)
      val df = Internals.dfFromPhysical(spark, plan)
      val n = df.count()
      val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
      (n, scan.metrics("numOutputRows").value)
    }

    val (hit, prunedRows) = scanRows()
    hit shouldBe 1L
    // with rebind the scan emits only the surviving row group(s)
    prunedRows should be < total / 10

    // the frozen scan holds no bound conjunct: the pruning is the bind's
    val frozen = st.physicalPlan.collectFirst { case s: FileSourceScanExec => s }.get
    frozen.dataFilters.exists(_.exists(_.isInstanceOf[PushedParam])) shouldBe false
  }

  test("column pruning survives the opaque dynamic-filter node") {
    val st = prepare("SELECT id, name FROM pusers WHERE id = $1")
    val scan = st.physicalPlan.collectFirst { case s: FileSourceScanExec => s }.get
    // the scan must read only the referenced columns, not score
    scan.requiredSchema.fieldNames.toSet shouldBe Set("id", "name")
  }

  test("dynamic filter participates in whole-stage codegen") {
    val st = prepare("SELECT id, name FROM pusers WHERE id = $1")
    val bound = ScanRebind.rebind(Params.bind(st.physicalPlan, Map("$1" -> 5L)))
    // the exec carries a codegen-stage star — scan → filter → project fuse
    // into one generated span instead of breaking at the dynamic filter
    bound.toString should include regex """\*\(\d+\) DynamicFilter"""
  }

  test("rebound dataFilters appear in the scan") {
    val st = prepare("SELECT id FROM pusers WHERE id = $1")
    val bound = ScanRebind.rebind(Params.bind(st.physicalPlan, Map("$1" -> 5L)))
    val scan = bound.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.dataFilters.nonEmpty, "expected the bound conjunct in dataFilters")
  }

  // Placeholders inside a subquery's own physical plan (VERDICT r1 §4).
  // $1 sits against max(score), not a column, so its type is declared.
  private def subquerySt = {
    parquetDir
    PreparedStatements.prepare(
      spark,
      "SELECT count(*) AS n FROM pusers WHERE score > (SELECT max(score) - $1 FROM pusers)",
      Map("$1" -> org.apache.spark.sql.types.DoubleType))
  }

  test("placeholder inside a scalar subquery binds") {
    val st = subquerySt
    // max(score) = 999; score in [0, 1000); threshold 999 - 0.5 → only score 999
    st.execute(Map("$1" -> 0.5)).collect() shouldBe Array(Row(200L))
    // rebind with a different margin: scores 998, 999 → 400 rows
    st.execute(Map("$1" -> 1.5)).collect() shouldBe Array(Row(400L))
  }

  test("missing param inside a subquery is detected") {
    val ex = intercept[IllegalArgumentException] { subquerySt.execute(Map.empty[String, Any]) }
    ex.getMessage should include("'$1' was not provided a value")
  }

  // a prepared self-join with the placeholder on one side runs on the
  // frozen physical plan, never an adaptive one, and rebinds like a lookup
  test("a prepared self-join rebinds on the frozen plan") {
    val st = prepare(
      """SELECT count(*) AS n FROM pusers a JOIN pusers b ON a.id = b.id
        |WHERE a.score >= $1""".stripMargin)
    st.physicalPlan should not be
      a[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
    st.execute(Map("$1" -> 999.0)).collect() shouldBe Array(Row(200L))
    st.execute(Map("$1" -> 998.0)).collect() shouldBe Array(Row(400L))
  }

  // identical parameterized subtrees on both sides of a self-join can be
  // planned through ReusedExchangeExec — a leaf whose referenced exchange is
  // NOT in `children`, so binding must reach through it explicitly
  test("placeholder inside a reused exchange binds") {
    val st = prepare(
      """SELECT count(*) AS n FROM pusers a JOIN pusers b ON a.id = b.id
        |WHERE a.score >= $1 AND b.score >= $1""".stripMargin)
    st.execute(Map("$1" -> 999.0)).collect() shouldBe Array(Row(200L))
    st.execute(Map("$1" -> 998.0)).collect() shouldBe Array(Row(400L))
  }

  // the driver tier reads the surviving row groups with a task's reader
  // function: the scan's row and file counters, the columnar-to-row
  // conversion's and the dynamic filter's read as a job's do for the same
  // bind, and only the tier counter tells the two apart
  test("parquet driver-tier metrics equal the job path's") {
    val st = prepare("SELECT id, name FROM pusers WHERE id >= $1 AND id <= $2")
    val params = Map[String, Any]("$1" -> 150000L, "$2" -> 150009L)
    def metricsOf(plan: SparkPlan) = {
      val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
      val toRows = plan.collectFirst { case c: ColumnarToRowExec => c }.get
      val filter = plan.collectFirst { case d: DynamicFilterExec => d }.get
      (scan.metrics("numOutputRows").value, scan.metrics("numFiles").value,
        toRows.metrics("numOutputRows").value, filter.metrics("numOutputRows").value,
        filter.metrics("driverTier").value)
    }

    val driverPlan = st.boundPlan(params)
    val (rows, jobs) = jobsRun(Internals.collectPhysical(driverPlan))
    jobs shouldBe 0
    rows.map(_.getLong(0)).sorted.toSeq shouldBe (150000L to 150009L)
    val (scanned, files, converted, returned, tier) = metricsOf(driverPlan)
    scanned should (be >= 10L and be < 200000L / 10)
    files shouldBe 1L
    converted shouldBe scanned
    returned shouldBe 10L
    tier shouldBe 1L

    val jobPlan = st.boundPlan(params)
    jobPlan.executeCollect() should have length 10
    metricsOf(jobPlan) shouldBe ((scanned, files, converted, returned, 0L))
  }

  // the driver tier takes its file list from the bound scan, as the job
  // does, and caches only per-file footers: after every append to a catalog
  // table it returns exactly what the job path returns for the same bind
  test("after each insertInto append the driver tier returns what the job path returns") {
    import spark.implicits._
    Tables.dropManaged(spark, "pcat")
    (0L until 5L).map(k => (k, s"c_$k")).toDF("k", "name")
      .write.format("parquet").saveAsTable("pcat")
    try {
      val st = PreparedStatements.prepare(spark, "SELECT k, name FROM pcat WHERE k >= $1")
      val point = PreparedStatements.prepare(spark, "SELECT k, name FROM pcat WHERE k = $1")
      def canon(rows: Array[Row]) = rows.map(_.toString).sorted.toSeq
      (1 to 4).foreach { n =>
        Seq((100L + n, s"a_$n")).toDF("k", "name").write.insertInto("pcat")
        Seq((st, Map[String, Any]("$1" -> 0L)), (point, Map[String, Any]("$1" -> (100L + n))))
          .foreach { case (s, params) =>
            val (driver, jobs) = jobsRun(s.executeCollect(params))
            withClue(s"append $n, ${s.sql}") {
              jobs shouldBe 0
              val job = Internals.dfFromPhysical(spark, s.boundPlan(params)).collect()
              canon(driver) shouldBe canon(job)
            }
          }
      }
    } finally Tables.dropManaged(spark, "pcat")
  }
}
