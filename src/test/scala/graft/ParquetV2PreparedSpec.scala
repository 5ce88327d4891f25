package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.graft.Internals

import graft.prepared.{Params, PreparedStatements, PushedParam, ScanRebind}

/** ParquetPreparedSpec's pushdown proof replayed against the DSv2 read path
  * (`spark.sql.sources.useV1SourceList=""` → `BatchScanExec(ParquetScan)`).
  * The reference's pushdown protocol is provider-agnostic
  * (`/root/reference/datafusion-dynamic-filter/src/physical.rs:270-336`), so
  * a session reading parquet through v2 must get the same execute-time
  * row-group pruning as the default v1 path — before the bind pushed into
  * v2 scans, the bound predicate silently fell back to a full scan.
  */
class ParquetV2PreparedSpec extends SparkTestBase {

  private val Total = 200000L

  /** Many small row groups, sorted by id → statistics make lookups prunable. */
  private lazy val parquetDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_parquet_v2").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/users"
    spark.range(0, Total).map(i => (i, s"user_$i", (i % 1000).toDouble))
      .toDF("id", "name", "score")
      .coalesce(1)
      .sortWithinPartitions("id")
      .write.option("parquet.block.size", 64 * 1024).parquet(path)
    path
  }

  /** Run `body` with the v2 parquet reader active and the view registered. */
  private def withV2[A](body: => A): A = {
    val key = "spark.sql.sources.useV1SourceList"
    val old = spark.conf.get(key)
    spark.conf.set(key, "")
    try {
      spark.read.parquet(parquetDir).createOrReplaceTempView("pusers_v2")
      body
    } finally spark.conf.set(key, old)
  }

  test("prepared plan over DSv2 parquet uses BatchScanExec") {
    withV2 {
      val st = PreparedStatements.prepare(spark, "SELECT id, name FROM pusers_v2 WHERE id = $1")
      val scans = st.physicalPlan.collect { case b: BatchScanExec => b }
      scans should have size 1
      scans.head.scan shouldBe a[ParquetScan]
      st.execute(Map("$1" -> 4242L)).collect() shouldBe Array(Row(4242L, "user_4242"))
    }
  }

  test("ScanRebind makes the DSv2 parquet scan prune row groups") {
    withV2 {
      val st = PreparedStatements.prepare(spark, "SELECT id, name FROM pusers_v2 WHERE id = $1")

      def scanRows(): (Long, Long) = {
        val bound = Params.bind(st.physicalPlan, Map("$1" -> 123456L))
        val plan = ScanRebind.rebind(bound)
        val df = Internals.dfFromPhysical(spark, plan)
        val n = df.count()
        val scan = plan.collectFirst { case b: BatchScanExec => b }.get
        (n, scan.metrics("numOutputRows").value)
      }

      val (hit, prunedRows) = scanRows()
      hit shouldBe 1L
      // only the surviving row group(s) leave the scan
      prunedRows should be < Total / 10

      // the frozen scan holds no bound conjunct: the pruning is the bind's
      val frozen = st.physicalPlan.collectFirst { case b: BatchScanExec => b }.get
        .scan.asInstanceOf[ParquetScan]
      frozen.dataFilters.exists(_.exists(_.isInstanceOf[PushedParam])) shouldBe false
    }
  }

  test("rebound filters appear in the v2 scan's pushedFilters") {
    withV2 {
      val st = PreparedStatements.prepare(spark, "SELECT id FROM pusers_v2 WHERE id = $1")
      val bound = ScanRebind.rebind(Params.bind(st.physicalPlan, Map("$1" -> 5L)))
      val ps = bound.collectFirst { case b: BatchScanExec => b }.get.scan.asInstanceOf[ParquetScan]
      assert(ps.pushedFilters.nonEmpty, "expected the bound conjunct translated into pushedFilters")
      ps.pushedFilters.mkString(",") should include("5")
    }
  }

  test("repeated execution rebinds the v2 pushdown per execute") {
    withV2 {
      val st = PreparedStatements.prepare(spark, "SELECT name FROM pusers_v2 WHERE id = $1")
      st.execute(Map("$1" -> 7L)).collect() shouldBe Array(Row("user_7"))
      st.execute(Map("$1" -> 199999L)).collect() shouldBe Array(Row("user_199999"))
    }
  }
}
