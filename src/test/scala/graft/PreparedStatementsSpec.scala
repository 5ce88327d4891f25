package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.plans.DynamicFilterExec
import graft.prepared.PreparedStatements

/** End-to-end ports of the reference MemTable integration tests
  * (`/root/reference/datafusion-dynamic-filter/tests/preparable_context_basic_test.rs:61-303`)
  * on an in-memory users table, plus prepare-time guard tests.
  */
class PreparedStatementsSpec extends SparkTestBase {

  private lazy val users = {
    import spark.implicits._
    val df = Seq(
      (1, "ada", 10.0), (2, "bo", 20.5), (3, "cy", 30.0),
      (4, "dee", 4.25), (5, "ed", 55.0)
    ).toDF("id", "name", "amount")
    df.createOrReplaceTempView("users")
    df
  }

  private def prepare(sql: String) = { users; PreparedStatements.prepare(spark, sql) }

  // basic_test.rs:61-65 — trait smoke: constant select
  test("prepare SELECT 1") {
    prepare("SELECT 1 AS one").execute().collect() shouldBe Array(Row(1))
  }

  // basic_test.rs:68-103 — single int param point lookup
  test("point lookup with one int param") {
    val rows = prepare("SELECT id, name FROM users WHERE id = $1")
      .execute(Map("$1" -> 3)).collect()
    rows shouldBe Array(Row(3, "cy"))
  }

  // basic_test.rs:106-145 — repeated execution with different keys
  test("repeated execution rebinds") {
    val st = prepare("SELECT name FROM users WHERE id = $1")
    st.execute(Map("$1" -> 1)).collect() shouldBe Array(Row("ada"))
    st.execute(Map("$1" -> 5)).collect() shouldBe Array(Row("ed"))
    st.execute(Map("$1" -> 1)).collect() shouldBe Array(Row("ada"))
  }

  // basic_test.rs:148-183 — string param
  test("string equality param") {
    val rows = prepare("SELECT id FROM users WHERE name = $1")
      .execute(Map("$1" -> "dee")).collect()
    rows shouldBe Array(Row(4))
  }

  // basic_test.rs:186-218 — two params, range conjunction
  test("two params range") {
    val rows = prepare("SELECT id FROM users WHERE id >= $1 AND id <= $2")
      .execute(Map("$1" -> 2, "$2" -> 4)).collect().map(_.getInt(0)).sorted
    rows shouldBe Array(2, 3, 4)
  }

  // basic_test.rs:221-241 — no matches
  test("empty result for unmatched key") {
    prepare("SELECT id FROM users WHERE id = $1")
      .execute(Map("$1" -> 999)).collect() shouldBe empty
  }

  // basic_test.rs:244-273 — projection subset + column count
  test("projection subset") {
    val df = prepare("SELECT name FROM users WHERE id = $1").execute(Map("$1" -> 2))
    df.columns shouldBe Array("name")
    df.collect() shouldBe Array(Row("bo"))
  }

  // basic_test.rs:276-303 — COUNT(*) over filtered input
  test("count over filtered input") {
    prepare("SELECT count(*) AS cnt FROM users WHERE id >= $1")
      .execute(Map("$1" -> 3)).collect() shouldBe Array(Row(3L))
  }

  test("named :param markers bind by name") {
    val rows = prepare("SELECT id FROM users WHERE name = :who")
      .execute(Map("$who" -> "cy")).collect()
    rows shouldBe Array(Row(3))
  }

  test("question-mark markers are numbered left to right") {
    val rows = prepare("SELECT id FROM users WHERE id >= ? AND id <= ?")
      .execute(Map("$1" -> 2, "$2" -> 3)).collect().map(_.getInt(0)).sorted
    rows shouldBe Array(2, 3)
  }

  // preparable_context.rs:18-28 — DDL is rejected at prepare time
  test("DDL rejected") {
    users
    val ex = intercept[UnsupportedOperationException] {
      PreparedStatements.prepare(spark, "CREATE TABLE t2 (id INT)")
    }
    ex.getMessage should include("not supported in prepared statements")
  }

  // Placeholder-position pinning (VERDICT r3 §10): LIMIT/OFFSET counts must
  // be analysis-time constants in Spark, so a placeholder there is rejected
  // at prepare with an actionable message — not at first execute with
  // Spark's generic IS_UNFOLDABLE error.
  test("LIMIT placeholder rejected at prepare with a clear message") {
    users
    val ex = intercept[UnsupportedOperationException] {
      PreparedStatements.prepare(spark, "SELECT id FROM users ORDER BY id LIMIT $1",
        Map("$1" -> org.apache.spark.sql.types.IntegerType))
    }
    ex.getMessage should include("LIMIT/OFFSET")
    ex.getMessage should include("inline the value")
  }

  test("OFFSET placeholder rejected at prepare") {
    users
    intercept[UnsupportedOperationException] {
      PreparedStatements.prepare(spark, "SELECT id FROM users ORDER BY id LIMIT 5 OFFSET $1",
        Map("$1" -> org.apache.spark.sql.types.IntegerType))
    }
  }

  // ...while a placeholder in a projection (a legal value position outside
  // any predicate) prepares and binds fine
  test("placeholder in the select list binds") {
    users
    val st = PreparedStatements.prepare(spark, "SELECT id, $1 AS tag FROM users WHERE id = 1",
      Map("$1" -> org.apache.spark.sql.types.StringType))
    st.execute(Map("$1" -> "run_a")).collect().map(_.getString(1)) shouldBe Array("run_a")
    st.execute(Map("$1" -> "run_b")).collect().map(_.getString(1)) shouldBe Array("run_b")
  }

  test("INSERT rejected") {
    users
    intercept[UnsupportedOperationException] {
      PreparedStatements.prepare(spark, "INSERT INTO users VALUES (9, 'x', 1.0)")
    }
  }

  // param_resolver.rs:156-168 semantics at the statement level
  test("missing param at execute errors with the placeholder name") {
    val st = prepare("SELECT id FROM users WHERE id = $1")
    val ex = intercept[IllegalArgumentException] { st.execute(Map.empty[String, Any]) }
    ex.getMessage should include("'$1' was not provided a value")
  }

  test("type inferred from comparison sibling") {
    // name = $1 infers StringType; amount > $2 infers DoubleType
    val st = prepare("SELECT id FROM users WHERE name = $1 AND amount > $2")
    st.execute(Map("$1" -> "ed", "$2" -> 50.0)).collect() shouldBe Array(Row(5))
  }

  // rule.rs:107-123 shape: the filtered relation is a projection of
  // LITERAL aliases — no table schema carries `id`, so the sibling alias
  // itself must type the placeholder (no paramTypes declared)
  test("type inferred from a literal-alias sibling (rule.rs:110-113 shape)") {
    val st = PreparedStatements.prepare(
      spark, "SELECT * FROM (SELECT 1 AS id, 'test' AS name) WHERE id = $1")
    st.execute(Map("$1" -> 1)).collect() shouldBe Array(Row(1, "test"))
    st.execute(Map("$1" -> 2)).collect() shouldBe Array.empty[Row]
  }

  // the enclosing comparison's column type must win over a nested
  // arithmetic literal's — `amount = $1 + 1` types $1 double (amount's
  // type), never int from the `+ 1` (first-write-wins traversal order)
  test("column sibling outranks a nested arithmetic literal") {
    val st = prepare("SELECT id FROM users WHERE amount = $1 + 1")
    st.execute(Map("$1" -> 19.5)).collect() shouldBe Array(Row(2)) // 19.5 + 1 = 20.5 = bo
  }

  test("type inferred from a literal sibling") {
    // no column on either side of `$1 = 'ed'` — the literal types it
    val st = prepare("SELECT id FROM users WHERE id = 1 AND $1 = 'ed'")
    st.execute(Map("$1" -> "ed")).collect() shouldBe Array(Row(1))
    st.execute(Map("$1" -> "zz")).collect() shouldBe Array.empty[Row]
  }

  // ADVICE r15: a REUSED named param meeting a bare literal in one clause
  // and a typed column in another must take the column's type whatever the
  // clause ORDER — ranked inference, not pure first-write-wins
  test("column sibling outranks an earlier literal sibling for a reused param") {
    // literal INT comparison FIRST: :p would be IntegerType under pure
    // first-write-wins; amount's DoubleType must win whatever the order,
    // so binding 20.5 survives un-truncated and matches row 2
    val st = prepare("SELECT id FROM users WHERE :p = 5 OR amount = :p")
    st.execute(Map("$p" -> 20.5)).collect() shouldBe Array(Row(2))
    val st2 = prepare("SELECT id FROM users WHERE amount = :p OR :p = 5")
    st2.execute(Map("$p" -> 20.5)).collect() shouldBe Array(Row(2))
  }

  test("uninferable placeholder type fails fast at prepare") {
    users
    val ex = intercept[IllegalArgumentException] {
      PreparedStatements.prepare(spark, "SELECT $1 AS v FROM users")
    }
    ex.getMessage should include("Cannot infer the type of placeholder '$1'")
  }

  test("declared paramTypes override inference failure") {
    users
    val st = PreparedStatements.prepare(
      spark, "SELECT $1 AS v FROM users WHERE id = 1", Map("$1" -> DoubleType))
    st.execute(Map("$1" -> 2.5)).collect() shouldBe Array(Row(2.5))
  }

  test("IN-list of placeholders") {
    val rows = prepare("SELECT id FROM users WHERE id IN ($1, $2)")
      .execute(Map("$1" -> 1, "$2" -> 4)).collect().map(_.getInt(0)).sorted
    rows shouldBe Array(1, 4)
  }

  test("placeholder in HAVING over an aggregate") {
    val st = prepare(
      "SELECT count(*) AS n FROM users GROUP BY id % 2 HAVING count(*) >= $1")
    st.execute(Map("$1" -> 3L)).collect() shouldBe Array(Row(3L))
    st.execute(Map("$1" -> 1L)).collect().map(_.getLong(0)).sorted shouldBe Array(2L, 3L)
  }

  test("BETWEEN with placeholders") {
    val rows = prepare("SELECT id FROM users WHERE id BETWEEN $1 AND $2")
      .execute(Map("$1" -> 2, "$2" -> 3)).collect().map(_.getInt(0)).sorted
    rows shouldBe Array(2, 3)
  }

  test("LIKE with a placeholder pattern") {
    val rows = prepare("SELECT id FROM users WHERE name LIKE $1")
      .execute(Map("$1" -> "d%")).collect().map(_.getInt(0))
    rows shouldBe Array(4)
  }

  test("arithmetic on a placeholder") {
    val rows = prepare("SELECT id FROM users WHERE id = $1 + 1")
      .execute(Map("$1" -> 2)).collect().map(_.getInt(0))
    rows shouldBe Array(3)
  }

  test("placeholder in a join condition") {
    import spark.implicits._
    users
    Seq((1, 100), (2, 200), (3, 300)).toDF("uid", "bonus").createOrReplaceTempView("bonuses")
    val st = prepare(
      "SELECT u.id, b.bonus FROM users u JOIN bonuses b ON u.id = b.uid + $1")
    st.execute(Map("$1" -> 1)).collect().map(r => (r.getInt(0), r.getInt(1))).sorted shouldBe
      Array((2, 100), (3, 200), (4, 300)).toSeq
  }

  test("concurrent executes of one statement are independent") {
    // no shared mutable filter state (unlike the reference's
    // target_partitions=1 restriction, README.md:56)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val st = prepare("SELECT id FROM users WHERE id = $1")
    val results = Await.result(
      Future.sequence((1 to 5).map { k =>
        Future(st.execute(Map("$1" -> k)).collect().map(_.getInt(0)).toSeq)
      }), 2.minutes)
    results shouldBe (1 to 5).map(Seq(_))
  }

  // both execution tiers under contention: the keyed, cached and selective
  // parquet statements run on the driver, the unselective parquet one (every
  // row group survives, over the cost bound) as a Spark job; every result
  // is checked against the literal-inlined query for its key (run once per
  // key up front, so the threads contend on the prepared statements, not on
  // SQL planning)
  test("16 threads x 100 executeCollects stay independent on both tiers") {
    import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, s"v_$i")).toDF("k", "name")
    graft.sources.KeyedMemTables.register(spark, "cc_keyed", df, "k")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_parquet").toFile
    dir.deleteOnExit()
    df.write.parquet(dir.getAbsolutePath + "/t")
    spark.read.parquet(dir.getAbsolutePath + "/t").createOrReplaceTempView("cc_parquet")
    spark.range(0, org.apache.spark.sql.graft.ParquetLeaf.MaxDriverRows + 1000, 1, 1)
      .selectExpr("id AS k", "concat('w_', id) AS name")
      .write.parquet(dir.getAbsolutePath + "/wide")
    spark.read.parquet(dir.getAbsolutePath + "/wide").createOrReplaceTempView("cc_wide")
    val cached = df.repartition(3).cache()
    cached.count()
    cached.createOrReplaceTempView("cc_cached")
    // the fifth reuses one aggregate's exchange in a self-join and holds a
    // scalar subquery, so concurrent binds copy the same frozen reuse
    // target and subquery plan
    val agg = "SELECT k, count(*) c FROM cc_cached GROUP BY k"
    val sqls = Seq("cc_keyed", "cc_parquet", "cc_cached").map { v =>
      s"SELECT k, name FROM $v WHERE k = $$1"
    } ++ Seq(
      "SELECT k, name FROM cc_wide WHERE k % 100000 = $1",
      s"SELECT a.k, a.c, b.c FROM ($agg) a JOIN ($agg) b ON a.k = b.k " +
        s"WHERE a.k = $$1 AND a.c <= (SELECT max(c) FROM ($agg) m)")
    val statements = sqls.map { sql =>
      PreparedStatements.prepare(spark, sql, Map("$1" -> LongType))
    }
    // present, absent and negative keys
    val keys = (0 until 40).map(i => i * 53L - 60L)
    val literal = (for (sql <- sqls; k <- keys) yield (sql, k) ->
      spark.sql(sql.replace("$1", k.toString)).collect().map(_.toString).sorted.toSeq).toMap
    val mismatches = new ConcurrentLinkedQueue[String]()
    val pool = Executors.newFixedThreadPool(16)
    try {
      val runs = (0 until 16).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val rnd = new scala.util.Random(t)
            // the job-path statements (193k rows scanned, or three
            // aggregates) run in a tenth of the rounds
            for (round <- 0 until 100; ((sql, st), i) <- sqls.zip(statements).zipWithIndex
                 if round % 10 == 0 || i < 3) {
              val k = keys(rnd.nextInt(keys.length))
              val got = st.executeCollect(Map("$1" -> k)).map(_.toString).sorted.toSeq
              if (got != literal((sql, k))) mismatches.add(s"$sql$k: $got")
            }
          }
        })
      }
      runs.foreach(_.get(10, TimeUnit.MINUTES))
      mismatches.toArray.toSeq shouldBe empty
      // the tiers the statements ran on
      val tiers = statements.map { st =>
        val plan = st.boundPlan(Map("$1" -> 7L))
        org.apache.spark.sql.graft.Internals.collectPhysical(plan)
        plan.collectFirst { case d: DynamicFilterExec => d.metrics("driverTier").value }.get
      }
      tiers shouldBe Seq(1L, 1L, 1L, 0L, 0L)
    } finally {
      pool.shutdown()
      graft.sources.KeyedMemTables.unregister(spark, "cc_keyed")
      Seq("cc_parquet", "cc_wide").foreach(spark.catalog.dropTempView)
      cached.unpersist(blocking = true)
      spark.catalog.dropTempView("cc_cached")
    }
  }

  // a subquery with no placeholder still gets a fresh plan on every
  // execute: the frozen plan's subquery keeps its first result and its
  // scan's first input partitions
  test("a subquery without placeholders sees rows registered after the first execute") {
    import spark.implicits._
    def register(rows: Seq[(Int, Int)]): Unit =
      graft.sources.KeyedMemTables.register(spark, "sq_t", rows.toDF("k", "v"), "k")
    register(Seq((1, 10), (2, 20)))
    val sql = "SELECT k, v FROM sq_t WHERE k = $1 AND v >= (SELECT max(v) FROM sq_t)"
    val st = PreparedStatements.prepare(spark, sql)
    st.executeCollect(Map("$1" -> 2)) shouldBe Array(Row(2, 20))
    register(Seq((1, 10), (2, 20), (3, 30)))
    spark.sql(sql.replace("$1", "2")).collect() shouldBe empty
    st.executeCollect(Map("$1" -> 2)) shouldBe empty
    st.execute(Map("$1" -> 2)).collect() shouldBe empty
  }

  // the same for the target of a reused exchange: every execute binds a
  // fresh copy of it, shared by the exchange and its reuse
  test("a reused exchange sees rows registered after the first execute") {
    import spark.implicits._
    def register(rows: Seq[(Int, String)]): Unit =
      graft.sources.KeyedMemTables.register(spark, "rx_t", rows.toDF("k", "s"), "k")
    register(Seq((1, "a")))
    val sql = "SELECT a.k, a.c, b.c FROM (SELECT k, count(*) c FROM rx_t GROUP BY k) a " +
      "JOIN (SELECT k, count(*) c FROM rx_t GROUP BY k) b ON a.k = b.k WHERE a.c >= $1"
    val st = PreparedStatements.prepare(spark, sql, Map("$1" -> LongType))
    st.physicalPlan.collectFirst {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    } shouldBe defined
    st.executeCollect(Map("$1" -> 1L)) shouldBe Array(Row(1, 1L, 1L))
    register(Seq((1, "a"), (1, "b")))
    spark.sql(sql.replace("$1", "1")).collect() shouldBe Array(Row(1, 2L, 2L))
    st.executeCollect(Map("$1" -> 1L)) shouldBe Array(Row(1, 2L, 2L))
    st.execute(Map("$1" -> 1L)).collect() shouldBe Array(Row(1, 2L, 2L))
  }

  /** `body` with the session's AQE set to `enabled`, restored after. */
  private def withAqe[T](enabled: Boolean)(body: => T): T = {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", enabled.toString)
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  // the reused side runs once per execute, as in the literal SQL planned
  // without AQE: a reused exchange points at the one bound copy of its
  // target, also when the target holds a reuse itself or the reuse crosses
  // into a subquery
  test("a reused exchange runs once per execute, as in the literal SQL") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def register(rows: Seq[(Long, String)]): Unit =
      graft.sources.KeyedMemTables.register(spark, "rx_t", rows.toDF("k", "s"), "k")
    val agg = "SELECT k, count(*) c FROM rx_t GROUP BY k"
    val lookup = "SELECT k, count(*) c FROM rx_t WHERE k = $1 GROUP BY k"
    // each statement with its rows before and after a row is appended
    val cases = Seq(
      (s"SELECT a.k, a.c, b.c FROM ($agg) a JOIN ($agg) b ON a.k = b.k WHERE a.c >= $$1",
        "[1,1,1]", "[1,2,2]"),
      // the shuffle over a self-join of one aggregate, joined to itself
      (s"WITH a AS ($agg), b AS (SELECT a1.c + a2.c AS s FROM a a1 JOIN a a2 ON a1.k = a2.k), " +
        "g AS (SELECT s, count(*) n FROM b GROUP BY s) " +
        "SELECT g1.s, g1.n, g2.n FROM g g1 JOIN g g2 ON g1.s = g2.s WHERE g1.n >= $1",
        "[2,1,1]", "[4,1,1]"),
      // one aggregate inside and outside a scalar subquery
      (s"SELECT k, c FROM ($agg) a WHERE c >= $$1 AND c <= (SELECT max(c) FROM ($agg) m)",
        "[1,1]", "[1,2]"),
      // a key lookup below the reused exchange: the scan re-push rebuilds
      // the exchange, and each reuse must follow it, also from a subquery
      (s"SELECT a.k, a.c, b.c FROM ($agg) a JOIN ($agg) b ON a.k = b.k WHERE a.k = $$1",
        "[1,1,1]", "[1,2,2]"),
      (s"SELECT k, c FROM ($lookup) a WHERE c <= (SELECT max(c) FROM ($lookup) m)",
        "[1,1]", "[1,2]"))
    cases.foreach { case (sql, before, after) =>
      withClue(sql) {
        register(Seq((1L, "a")))
        val st = PreparedStatements.prepare(spark, sql, Map("$1" -> LongType))
        // planned (lazily, once) while AQE is off; the collect runs it
        def literal(): (Seq[String], Int) = {
          val df = spark.sql(sql.replace("$1", "1"))
          withAqe(enabled = false)(df.queryExecution.executedPlan).collectWithSubqueries {
            case r: ReusedExchangeExec => r
          } should not be empty
          stagesRun(df.collect().map(_.toString).sorted.toSeq)
        }
        def prepared(): (Seq[String], Int) =
          stagesRun(st.executeCollect(Map("$1" -> 1L)).map(_.toString).sorted.toSeq)
        // the second execute reads the appended row: nothing is shared
        // across executes
        Seq(before -> Seq((1L, "a")), after -> Seq((1L, "a"), (1L, "b"))).foreach {
          case (rows, table) =>
            register(table)
            val expected = literal()
            expected._1 shouldBe Seq(rows)
            prepared() shouldBe expected
        }
      }
    }
  }

  // a reused exchange whose target holds a reused exchange itself (the
  // shuffle over a self-join of one aggregate) binds with every reuse in
  // place, and each execute reads the rows registered by then
  test("a nested reused exchange returns the literal SQL's rows on every execute") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def register(rows: Seq[(Int, String)]): Unit =
      graft.sources.KeyedMemTables.register(spark, "nrx_t", rows.toDF("k", "s"), "k")
    register(Seq((1, "a"), (2, "b")))
    val sql = "WITH a AS (SELECT k, count(*) c FROM nrx_t GROUP BY k), " +
      "b AS (SELECT a1.c + a2.c AS s FROM a a1 JOIN a a2 ON a1.k = a2.k), " +
      "g AS (SELECT s, count(*) n FROM b GROUP BY s) " +
      "SELECT g1.s, g1.n, g2.n FROM g g1 JOIN g g2 ON g1.s = g2.s WHERE g1.n >= $1"
    val st = PreparedStatements.prepare(spark, sql, Map("$1" -> LongType))
    st.physicalPlan.collect {
      case r: ReusedExchangeExec if r.child.exists(_.isInstanceOf[ReusedExchangeExec]) => r
    } should not be empty
    def literal() = spark.sql(sql.replace("$1", "1")).collect().map(_.toString).sorted
    st.executeCollect(Map("$1" -> 1L)).map(_.toString).sorted shouldBe literal()
    register(Seq((1, "a"), (1, "c"), (2, "b")))
    st.executeCollect(Map("$1" -> 1L)).map(_.toString).sorted shouldBe literal()
    st.execute(Map("$1" -> 1L)).collect().map(_.toString).sorted shouldBe literal()
  }

  // the frozen plan is planned without AQE by prepare()'s own query
  // execution: a test-only optimizer rule holds prepare() mid-planning,
  // and meanwhile the session is still adaptive for every other query
  test("prepare() plans without AQE and leaves the session adaptive meanwhile") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicBoolean
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.col
    users
    val paused = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val fired = new AtomicBoolean(false)
    object PauseOnDynamicFilter extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (plan.exists(_.isInstanceOf[graft.plans.DynamicFilterNode]) &&
          fired.compareAndSet(false, true)) {
          paused.countDown()
          release.await(2, TimeUnit.MINUTES)
        }
        plan
      }
    }
    val exp = spark.experimental
    exp.extraOptimizations = exp.extraOptimizations :+ PauseOnDynamicFilter
    val pool = Executors.newSingleThreadExecutor()
    try {
      val prepared = pool.submit(() => PreparedStatements.prepare(spark,
        "SELECT id, count(*) AS n FROM users WHERE id >= $1 GROUP BY id"))
      paused.await(2, TimeUnit.MINUTES) shouldBe true
      spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
      spark.range(100).groupBy(col("id") % 3).count()
        .queryExecution.executedPlan shouldBe an[AdaptiveSparkPlanExec]
      release.countDown()
      val st = prepared.get(2, TimeUnit.MINUTES)
      st.physicalPlan.find(_.isInstanceOf[AdaptiveSparkPlanExec]) shouldBe None
      st.executeCollect(Map("$1" -> 4)).map(_.toString).sorted shouldBe Array("[4,1]", "[5,1]")
    } finally {
      release.countDown()
      exp.extraOptimizations = exp.extraOptimizations.filterNot(_ eq PauseOnDynamicFilter)
      pool.shutdown()
    }
  }

  // filtering AQE's rule out of one query execution plans exactly what the
  // session plans with AQE disabled, on every source and subquery shape
  test("a frozen plan equals the plan the same SQL gets with AQE disabled") {
    import spark.implicits._
    users
    val dir = java.nio.file.Files.createTempDirectory("graft_static_plan").toFile
    dir.deleteOnExit()
    val df = (0L until 200L).map(i => (i, s"v_$i")).toDF("k", "name")
    df.write.parquet(dir.getAbsolutePath + "/t")
    spark.read.parquet(dir.getAbsolutePath + "/t").createOrReplaceTempView("sp_parquet")
    graft.sources.KeyedMemTables.register(spark, "sp_keyed", df, "k")
    val cached = df.repartition(3).cache()
    cached.count()
    cached.createOrReplaceTempView("sp_cached")
    try {
      val sqls = Seq(
        "SELECT k, name FROM sp_parquet WHERE k = $1",
        "SELECT k, name FROM sp_cached WHERE k = $1",
        "SELECT k, name FROM sp_keyed WHERE k = $1",
        "SELECT k, name FROM sp_keyed WHERE k = $1 AND k < (SELECT max(k) FROM sp_parquet)",
        "SELECT a.k, a.c, b.c FROM (SELECT k, count(*) c FROM sp_cached GROUP BY k) a " +
          "JOIN (SELECT k, count(*) c FROM sp_cached GROUP BY k) b ON a.k = b.k " +
          "WHERE a.k = $1")
      val frozen = sqls.map { sql =>
        val plan = PreparedStatements.prepare(spark, sql, Map("$1" -> LongType)).physicalPlan
        val static = withAqe(enabled = false) {
          PreparedStatements.prepare(spark, sql, Map("$1" -> LongType)).physicalPlan
        }
        withClue(sql) { plan.canonicalized shouldBe static.canonicalized }
        plan
      }
      frozen(3).subqueriesAll should not be empty
      frozen(4).collectFirst {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      } shouldBe defined
    } finally {
      graft.sources.KeyedMemTables.unregister(spark, "sp_keyed")
      Seq("sp_parquet", "sp_cached").foreach(spark.catalog.dropTempView)
      cached.unpersist(blocking = true)
    }
  }
}
