package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graft.{Internals, ParquetLeaf}
import org.apache.spark.sql.types.{IntegerType, LongType}

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

  // plans whose leaf is not a keyed scan with pushed keys, a materialized
  // driver-local cache or a selective prepared parquet scan (a local
  // relation included), or whose expressions cannot be evaluated once on
  // the driver, keep the job path
  test("other plans keep the Spark job") {
    import spark.implicits._
    val cached = (0L until 100L).map(i => (i, s"c_$i")).toDF("id", "name")
    cached.cache().count()
    cached.createOrReplaceTempView("dfs_cached")
    spark.range(0, 100).createOrReplaceTempView("dfs_range")
    (0L until 200L).map(i => (i, s"t_${i % 7}")).toDF("id", "tag")
      .createOrReplaceTempView("dfs_local")
    try {
      // a materialized cache in this JVM answers on the driver
      val cachedSt =
        PreparedStatements.prepare(spark, "SELECT id, name FROM dfs_cached WHERE id = $1")
      val (cachedRows, cachedJobs) = jobsRun(cachedSt.executeCollect(Map("$1" -> 7L)))
      cachedJobs shouldBe 0
      cachedRows.map(_.toString).toSeq shouldBe Seq("[7,c_7]")
      val single = Seq(
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
      // an unpersisted cache has no blocks to read: the statement keeps its
      // frozen plan and answers through the job path
      spark.catalog.uncacheTable("dfs_cached")
      val (uncachedRows, uncachedJobs) = jobsRun(cachedSt.executeCollect(Map("$1" -> 9L)))
      uncachedJobs should be >= 1
      uncachedRows.map(_.toString).toSeq shouldBe
        spark.sql("SELECT id, name FROM dfs_cached WHERE id = 9").collect().map(_.toString).toSeq
    } finally {
      spark.catalog.uncacheTable("dfs_cached")
      Seq("dfs_cached", "dfs_range", "dfs_local").foreach(spark.catalog.dropTempView)
    }
  }

  private def tierOf(plan: SparkPlan): Long =
    plan.collectFirst { case d: DynamicFilterExec => d.metrics("driverTier").value }.get

  // a bound parquet lookup whose surviving row groups hold few rows is read
  // on the driver with the task's reader function: no job, and the dynamic
  // filter reports the driver tier; a bind whose row groups all survive
  // holds more rows than the cost bound and keeps its job
  test("selective parquet lookups answer on the driver") {
    val dir = Files.createTempDirectory("graft_dfs_parquet").toFile
    dir.deleteOnExit()
    spark.range(0, 100).selectExpr("id", "concat('p_', id) AS name")
      .write.parquet(dir.getAbsolutePath + "/t")
    spark.read.parquet(dir.getAbsolutePath + "/t").createOrReplaceTempView("dfs_parquet")
    val wide = ParquetLeaf.MaxDriverRows + 1000
    spark.range(0, wide, 1, 1).selectExpr("id", "concat('w_', id) AS name")
      .write.parquet(dir.getAbsolutePath + "/wide")
    spark.read.parquet(dir.getAbsolutePath + "/wide").createOrReplaceTempView("dfs_wide")
    try {
      val st = PreparedStatements.prepare(spark, "SELECT id, name FROM dfs_parquet WHERE id = $1")
      val (rows, jobs) = jobsRun(st.executeCollect(Map("$1" -> 7L)))
      jobs shouldBe 0
      rows.map(_.toString).toSeq shouldBe Seq("[7,p_7]")
      val plan = st.boundPlan(Map("$1" -> 8L))
      Internals.collectPhysical(plan).map(_.toString).toSeq shouldBe Seq("[8,p_8]")
      tierOf(plan) shouldBe 1L

      // the modulus is not a scan filter, so every row group survives
      val unselective = PreparedStatements.prepare(spark,
        "SELECT id, name FROM dfs_wide WHERE id % 100000 = $1", Map("$1" -> LongType))
      val (wideRows, wideJobs) = jobsRun(unselective.executeCollect(Map("$1" -> 7L)))
      wideJobs shouldBe 1
      wideRows.map(_.getLong(0)).sorted.toSeq shouldBe Seq(7L, 100007L)
      val widePlan = unselective.boundPlan(Map("$1" -> 7L))
      Internals.collectPhysical(widePlan) should have length 2
      tierOf(widePlan) shouldBe 0L
    } finally Seq("dfs_parquet", "dfs_wide").foreach(spark.catalog.dropTempView)
  }

  // a cache that was declared but never materialized has no blocks: the
  // first execute runs the job that fills them, the next reads them
  test("an unmaterialized cache runs one job, then answers on the driver") {
    import spark.implicits._
    val lazyCached = (0L until 50L).map(i => (i, s"l_$i")).toDF("id", "name").cache()
    lazyCached.createOrReplaceTempView("dfs_lazy_cached")
    try {
      val st =
        PreparedStatements.prepare(spark, "SELECT id, name FROM dfs_lazy_cached WHERE id = $1")
      val (first, firstJobs) = jobsRun(st.executeCollect(Map("$1" -> 3L)))
      firstJobs shouldBe 1
      first.map(_.toString).toSeq shouldBe Seq("[3,l_3]")
      val (second, secondJobs) = jobsRun(st.executeCollect(Map("$1" -> 4L)))
      secondJobs shouldBe 0
      second.map(_.toString).toSeq shouldBe Seq("[4,l_4]")
    } finally {
      lazyCached.unpersist(blocking = true)
      spark.catalog.dropTempView("dfs_lazy_cached")
    }
  }

  // a frozen plan keeps the InMemoryRelation it was planned over; after
  // uncacheTable it must read the table's source, not rebuild and persist
  // the cleared buffers behind the cache manager's back
  test("after uncacheTable a prepared lookup reads the source and re-caches nothing") {
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    spark.range(0, 60, 1, 2).selectExpr("id", "concat('u_', id) AS name")
      .createOrReplaceTempView("dfs_uncached")
    spark.catalog.cacheTable("dfs_uncached")
    try {
      val sql = "SELECT id, name FROM dfs_uncached WHERE id = "
      val st = PreparedStatements.prepare(spark, sql + "$1")
      st.executeCollect(Map("$1" -> 3L)) shouldBe spark.sql(sql + "3").collect()
      spark.catalog.uncacheTable("dfs_uncached")
      Seq(4L, 5L).foreach { k =>
        st.executeCollect(Map("$1" -> k)) shouldBe spark.sql(sql + k).collect()
      }
      spark.sparkContext.getPersistentRDDs.size shouldBe persistedBefore
    } finally spark.catalog.dropTempView("dfs_uncached")
  }

  // the static conjunct prunes the cache's batches by their stats on both
  // tiers, so the scan emits one partition's rows
  test("driver-tier cached-scan metrics equal the job path's") {
    val cached = spark.range(0, 300, 1, 3).selectExpr("id", "concat('m_', id) AS name").cache()
    cached.count()
    cached.createOrReplaceTempView("dfs_metrics_cached")
    try {
      val st = PreparedStatements.prepare(
        spark, "SELECT id, name FROM dfs_metrics_cached WHERE id < 100 AND id >= $1")
      val params = Map[String, Any]("$1" -> 95L)
      // the bind keeps the scan node, so its counter accumulates across
      // executes: compare per-execute deltas
      def run(plan: SparkPlan)(collect: => Array[_]): (Int, Long, Long, Long) = {
        val scan = plan.collectFirst { case m: InMemoryTableScanExec => m }
          .getOrElse(fail(s"no InMemoryTableScanExec in\n$plan"))
        val filter = plan.collectFirst { case d: DynamicFilterExec => d }.get
        val before = scan.metrics("numOutputRows").value
        val n = collect.length
        (n, scan.metrics("numOutputRows").value - before, filter.metrics("numOutputRows").value,
          filter.metrics("bindTime").value)
      }

      val driverPlan = st.boundPlan(params)
      val (driver, jobs) = jobsRun(run(driverPlan)(Internals.collectPhysical(driverPlan)))
      jobs shouldBe 0
      val (returned, scanned, filtered, bindTime) = driver
      returned shouldBe 5
      scanned shouldBe 100L
      filtered shouldBe 5L
      bindTime should be > 0L

      // the same bound plan run as a job fills the same counters
      val jobPlan = st.boundPlan(params)
      val (jobReturned, jobScanned, jobFiltered, _) = run(jobPlan)(jobPlan.executeCollect())
      (jobReturned, jobScanned, jobFiltered) shouldBe ((returned, scanned, filtered))
    } finally {
      cached.unpersist(blocking = true)
      spark.catalog.dropTempView("dfs_metrics_cached")
    }
  }

  // a sorted multi-batch cache: the bound key joins the scan's predicates,
  // so batch stats leave at most one batch to decode, on either tier
  test("a point lookup on a multi-batch cache scans one batch on both tiers") {
    val batch = spark.conf.get("spark.sql.inMemoryColumnarStorage.batchSize").toLong
    val cached =
      spark.range(0, 5 * batch, 1, 1).selectExpr("id", "concat('b_', id) AS name").cache()
    cached.count()
    cached.createOrReplaceTempView("dfs_batches")
    try {
      val sql = "SELECT id, name FROM dfs_batches WHERE id = "
      val st = PreparedStatements.prepare(spark, sql + "$1")
      def scanned(plan: SparkPlan)(collect: => Array[Row]): (Seq[String], Long) = {
        val scan = plan.collectFirst { case m: InMemoryTableScanExec => m }.get
        val before = scan.metrics("numOutputRows").value
        val rows = collect.map(_.toString).toSeq
        (rows, scan.metrics("numOutputRows").value - before)
      }
      Seq(0L, 2 * batch + 17, 5 * batch - 1, 7 * batch).foreach { k =>
        val params = Map[String, Any]("$1" -> k)
        val literal = spark.sql(sql + k).collect().map(_.toString).toSeq
        val driverPlan = st.boundPlan(params)
        val ((driverRows, driverScanned), jobs) =
          jobsRun(scanned(driverPlan)(Internals.collectPhysical(driverPlan)))
        val jobPlan = st.boundPlan(params)
        val (jobRows, jobScanned) =
          scanned(jobPlan)(Internals.dfFromPhysical(spark, jobPlan).collect())
        withClue(s"key $k") {
          jobs shouldBe 0
          driverRows shouldBe literal
          driverScanned should be <= batch
          jobRows shouldBe literal
          jobScanned should be <= batch
        }
      }
    } finally {
      cached.unpersist(blocking = true)
      spark.catalog.dropTempView("dfs_batches")
    }
  }

  // a filter Spark leaves above a window or on an outer join's
  // null-supplying side must not prune the scan below it: the window would
  // number only the surviving batch's rows, and the join would pair the
  // pruned rows' partners with NULLs
  test("bound conjuncts above a window or an outer join leave the scans unpruned") {
    val batch = spark.conf.get("spark.sql.inMemoryColumnarStorage.batchSize").toLong
    val rows = spark.range(0, 5 * batch, 1, 1).selectExpr("id", "id * 2 AS v")
    val cached = rows.cache()
    cached.count()
    cached.createOrReplaceTempView("dfs_guard_cached")
    val dir = Files.createTempDirectory("graft_guard").toFile
    dir.deleteOnExit()
    rows.write.option("parquet.block.size", 64 * 1024).parquet(dir.getAbsolutePath + "/t")
    spark.read.parquet(dir.getAbsolutePath + "/t").createOrReplaceTempView("dfs_guard_parquet")
    spark.range(0, 5 * batch, batch / 2).createOrReplaceTempView("dfs_guard_probe")
    try {
      for (table <- Seq("dfs_guard_cached", "dfs_guard_parquet")) {
        val window = "SELECT id, rn FROM (SELECT id, row_number() OVER (ORDER BY id) AS rn " +
          s"FROM $table) WHERE id = "
        val outer = s"SELECT p.id, t.v FROM dfs_guard_probe p LEFT JOIN $table t ON p.id = t.id " +
          "WHERE t.v = "
        val tail = " OR t.v IS NULL"
        val windowSt = PreparedStatements.prepare(spark, window + "$1")
        val outerSt = PreparedStatements.prepare(spark, outer + "$1" + tail)
        def canon(rs: Array[Row]) = rs.map(_.toString).sorted.toSeq
        // a probed key, and one no probe row holds
        Seq(3 * batch, batch + 5).foreach { k =>
          withClue(s"$table, key $k") {
            val windowRows = windowSt.executeCollect(Map("$1" -> k))
            canon(windowRows) shouldBe canon(spark.sql(window + k).collect())
            windowRows.map(_.getInt(1).toLong).toSeq shouldBe Seq(k + 1)
            val outerRows = outerSt.executeCollect(Map("$1" -> 2 * k))
            canon(outerRows) shouldBe canon(spark.sql(outer + 2 * k + tail).collect())
            outerRows.length shouldBe (if (k % (batch / 2) == 0) 1 else 0)
          }
        }
      }
    } finally {
      cached.unpersist(blocking = true)
      Seq("dfs_guard_cached", "dfs_guard_parquet", "dfs_guard_probe")
        .foreach(spark.catalog.dropTempView)
    }
  }

  // a driver-tier read that kept a block's read lock would make removing
  // the block wait forever
  test("driver-tier cached reads release their block locks") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val cached = spark.range(0, 200, 1, 2).selectExpr("id", "id * 2 AS twice").cache()
    cached.count()
    cached.createOrReplaceTempView("dfs_lock_cached")
    try {
      val st =
        PreparedStatements.prepare(spark, "SELECT id, twice FROM dfs_lock_cached WHERE id = $1")
      val (results, jobs) =
        jobsRun((0 until 200).map(i => st.executeCollect(Map("$1" -> (i - 5).toLong))))
      jobs shouldBe 0
      results.map(_.length).sum shouldBe 195
      Await.result(Future(cached.unpersist(blocking = true)), 30.seconds)
    } finally {
      spark.catalog.dropTempView("dfs_lock_cached")
    }
  }

  // a repeated install leaves the registry as it is: no function is
  // replaced (each replacement would log a warning)
  test("a second Graft.install leaves every registered function the same object") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val session = Internals.classicSession(spark.newSession())
    val registry = session.sessionState.functionRegistry
    def registered() = Graft.sqlFunctions.map { f =>
      val id = FunctionIdentifier(f.name)
      (registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get)
    }
    Graft.install(session)
    val first = registered()
    Graft.install(session)
    registered().zip(first).foreach { case ((builder, info), (firstBuilder, firstInfo)) =>
      assert(builder eq firstBuilder)
      assert(info eq firstInfo)
    }
  }

  // a session built with .withExtensions(new GraftExtensions) gets the same
  // SQL functions, builders and arity errors that Graft.install registers
  // into an existing session: both read one function table
  test("GraftExtensions exposes the same SQL functions as Graft.install") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    // what a session built with the extensions registers
    val injected = new SimpleFunctionRegistry
    new graft.plans.GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit =
        injected.registerFunction(f._1, f._2, f._3)
    })

    val fresh = Internals.classicSession(spark.newSession())
    val registry = fresh.sessionState.functionRegistry
    val builtin = registry.listFunction().toSet
    Graft.install(fresh)
    val installed = registry.listFunction().toSet -- builtin

    injected.listFunction().toSet shouldBe installed
    installed.map(_.funcName) should contain allOf ("cosine_similarity", "simhash64",
      "html_text", "nfkc_normalize", "repetition_profile")
    installed should have size 10
    injected.lookupFunction(FunctionIdentifier("simhash64")).get.getClassName shouldBe
      classOf[graft.functions.SimHash64].getName
    val arg = Literal("a")
    injected.lookupFunction(FunctionIdentifier("simhash64"), Seq(arg)) shouldBe
      registry.lookupFunction(FunctionIdentifier("simhash64"), Seq(arg))
    Seq(injected, registry).foreach { reg =>
      intercept[IllegalArgumentException] {
        reg.lookupFunction(FunctionIdentifier("html_text"), Seq.empty)
      }.getMessage shouldBe "html_text expects 1 argument, got 0"
    }
  }
}
