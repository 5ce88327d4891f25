package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graft.Internals

import graft.plans.DynamicFilterExec
import graft.prepared.{Params, PreparedStatements, ScanRebind}
import graft.sources.{KeyedMemScan, KeyedMemTables}

/** The DSv2 keyed mem table must behave like an index: key filters reach the
  * source and only matching rows are ever produced by the scan — through
  * plain SQL (planning-time pushdown) and through prepared statements
  * (execute-time rebind).
  */
class KeyedMemTableSpec extends SparkTestBase {

  private lazy val setup: Unit = {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"item_$i", (i % 50).toDouble)).toDF("k", "name", "score")
    KeyedMemTables.register(spark, "kt", df, "k")
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame) = {
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst { case s: BatchScanExec => s }.get
  }

  test("full scan reads everything") {
    setup
    spark.table("kt").count() shouldBe 1000L
  }

  test("point lookup pushes to the source and ships one row") {
    setup
    val df = spark.sql("SELECT k, name FROM kt WHERE k = 42")
    df.collect() shouldBe Array(Row(42L, "item_42"))
    val scan = scanOf(df)
    scan.scan.asInstanceOf[KeyedMemScan].keys shouldBe Some(Seq(42L))
    scan.metrics("numOutputRows").value shouldBe 1L
  }

  test("IN-list lookup ships only the listed keys") {
    setup
    val df = spark.sql("SELECT k FROM kt WHERE k IN (1, 5, 900)")
    df.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 5L, 900L)
    scanOf(df).metrics("numOutputRows").value shouldBe 3L
  }

  test("residual non-key filters still apply above the lookup") {
    setup
    spark.sql("SELECT k FROM kt WHERE k IN (1, 2, 3, 4) AND score >= 3.0")
      .collect().map(_.getLong(0)).sorted shouldBe Array(3L, 4L)
  }

  test("a NULL in a pushed IN-list never matches NULL keys (SQL semantics)") {
    // pushed filters are NOT re-applied above the scan, so shipping the
    // null-key group for `k IN (..., NULL)` would RETURN rows SQL
    // excludes (`NULL IN (...)` is NULL → filtered) — r19 review catch
    import spark.implicits._
    val df = Seq((java.lang.Long.valueOf(7L), "seven"),
      (null.asInstanceOf[java.lang.Long], "nothing")).toDF("k", "name")
    KeyedMemTables.register(spark, "kt_null", df, "k")
    try {
      spark.sql("SELECT name FROM kt_null WHERE k IN (7, NULL)")
        .collect().map(_.getString(0)) shouldBe Array("seven")
      spark.sql("SELECT name FROM kt_null WHERE k = 7")
        .collect().map(_.getString(0)) shouldBe Array("seven")
      // the null-key row is still reachable by a full scan
      spark.table("kt_null").count() shouldBe 2L
      // the PREPARED path's execute-time rebind applies the same rule: a
      // null-bound key matches nothing (and ships nothing — the rebind
      // drops null from the pushed key set rather than indexing on it)
      val st = PreparedStatements.prepare(spark,
        "SELECT name FROM kt_null WHERE k = $1")
      st.execute(Map("$1" -> 7L)).collect().map(_.getString(0)) shouldBe
        Array("seven")
      st.execute(Map("$1" -> null)).collect() shouldBe empty
    } finally KeyedMemTables.unregister(spark, "kt_null")
  }

  test("prepared point lookup becomes an index lookup at execute time") {
    setup
    val st = PreparedStatements.prepare(spark, "SELECT k, name FROM kt WHERE k = $1")
    st.execute(Map("$1" -> 7L)).collect() shouldBe Array(Row(7L, "item_7"))
    st.execute(Map("$1" -> 999L)).collect() shouldBe Array(Row(999L, "item_999"))

    // the rebound scan carries the key; with rebind disabled it scans all
    val bound = Params.bind(st.physicalPlan, Map("$1" -> 7L))
    val rebound = ScanRebind.rebind(bound)
    val ks = rebound.collectFirst { case b: BatchScanExec => b }.get
      .scan.asInstanceOf[KeyedMemScan]
    ks.keys shouldBe Some(Seq(7L))
    val unbound = bound.collectFirst { case b: BatchScanExec => b }.get
      .scan.asInstanceOf[KeyedMemScan]
    unbound.keys shouldBe None
  }

  test("unregister frees the driver-side index and drops the view") {
    import spark.implicits._
    val df = (0L until 10L).map(i => (i, s"x_$i")).toDF("k", "name")
    KeyedMemTables.register(spark, "kt_tmp", df, "k")
    spark.table("kt_tmp").count() shouldBe 10L
    KeyedMemTables.registry.contains("kt_tmp") shouldBe true

    KeyedMemTables.unregister(spark, "kt_tmp") shouldBe true
    KeyedMemTables.registry.contains("kt_tmp") shouldBe false
    spark.catalog.tableExists("kt_tmp") shouldBe false
    // idempotent: a second unregister reports nothing-to-do, no throw
    KeyedMemTables.unregister(spark, "kt_tmp") shouldBe false
  }

  test("prepared IN-list rebind intersects multiple key conjuncts") {
    setup
    val st = PreparedStatements.prepare(
      spark, "SELECT k FROM kt WHERE k IN ($1, $2, $3)")
    st.execute(Map("$1" -> 10L, "$2" -> 20L, "$3" -> 30L))
      .collect().map(_.getLong(0)).sorted shouldBe Array(10L, 20L, 30L)
    val rebound = ScanRebind.rebind(
      Params.bind(st.physicalPlan, Map("$1" -> 10L, "$2" -> 20L, "$3" -> 30L)))
    val ks = rebound.collectFirst { case b: BatchScanExec => b }.get
      .scan.asInstanceOf[KeyedMemScan]
    ks.keys.get.toSet shouldBe Set[Any](10L, 20L, 30L)
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  // a prepared lookup whose keys the index answers never leaves the driver:
  // the rows already sit in the driver-side hash map, so a Spark job would
  // only add scheduling cost (DriverTier)
  test("prepared keyed lookups run on the driver with no Spark job") {
    setup
    val point = PreparedStatements.prepare(spark, "SELECT k, name, score FROM kt WHERE k = $1")
    val in = PreparedStatements.prepare(spark, "SELECT k, name FROM kt WHERE k IN ($1, $2, $3)")
    val residual = PreparedStatements.prepare(
      spark, "SELECT k FROM kt WHERE k IN ($1, $2, $3, $4) AND score >= $5")
    val cases = Seq[(graft.prepared.PreparedStatement, Map[String, Any], String)](
      (point, Map("$1" -> 42L), "SELECT k, name, score FROM kt WHERE k = 42"),
      (point, Map("$1" -> null), "SELECT k, name, score FROM kt WHERE k = NULL"),
      (point, Map("$1" -> 5000L), "SELECT k, name, score FROM kt WHERE k = 5000"),
      (in, Map("$1" -> 1L, "$2" -> 5L, "$3" -> 900L),
        "SELECT k, name FROM kt WHERE k IN (1, 5, 900)"),
      (residual, Map("$1" -> 1L, "$2" -> 2L, "$3" -> 3L, "$4" -> 4L, "$5" -> 3.0),
        "SELECT k FROM kt WHERE k IN (1, 2, 3, 4) AND score >= 3.0"))
    cases.foreach { case (st, params, sql) =>
      val (rows, jobs) = jobsRun(st.executeCollect(params))
      withClue(sql) {
        jobs shouldBe 0
        canon(rows) shouldBe canon(spark.sql(sql).collect())
      }
    }
    // without pushed keys the scan is a full table scan: it keeps the job
    val unkeyed = PreparedStatements.prepare(spark, "SELECT k FROM kt WHERE score = $1")
    val (rows, jobs) = jobsRun(unkeyed.executeCollect(Map("$1" -> 7.0)))
    jobs shouldBe 1
    rows.length shouldBe 20
  }

  test("driver-tier metrics equal the job path's") {
    setup
    val st = PreparedStatements.prepare(
      spark, "SELECT k FROM kt WHERE k IN ($1, $2, $3, $4) AND score >= $5")
    val params = Map[String, Any]("$1" -> 1L, "$2" -> 2L, "$3" -> 3L, "$4" -> 4L, "$5" -> 3.0)
    def metricsOf(plan: org.apache.spark.sql.execution.SparkPlan) = {
      val scan = plan.collectFirst { case b: BatchScanExec => b }.get
      val filter = plan.collectFirst { case d: DynamicFilterExec => d }.get
      (scan.metrics("numOutputRows").value, filter.metrics("numOutputRows").value,
        filter.metrics("bindTime").value)
    }

    val driverPlan = st.boundPlan(params)
    val (rows, jobs) = jobsRun(Internals.collectPhysical(driverPlan))
    jobs shouldBe 0
    rows.map(_.getLong(0)).sorted shouldBe Array(3L, 4L)
    val (shipped, returned, bindTime) = metricsOf(driverPlan)
    shipped shouldBe 4L
    returned shouldBe 2L
    bindTime should be > 0L

    // the same bound plan run as a job fills the same counters
    val jobPlan = st.boundPlan(params)
    jobPlan.executeCollect() should have length 2
    val (jobShipped, jobReturned, _) = metricsOf(jobPlan)
    (jobShipped, jobReturned) shouldBe ((shipped, returned))
  }
}
