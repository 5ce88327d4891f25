package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{BloomPrune, ZOrder}

class BloomZOrderSpec extends SparkTestBase {

  import spark.implicits._

  private def lineitem = Tables.df(spark, "/root/testdata/sf0.01", "lineitem")
  private def orders = Tables.df(spark, "/root/testdata/sf0.01", "orders")

  test("bloom-pruned semi join equals the plain semi join exactly") {
    val dim = orders.filter(col("o_orderpriority") === "1-URGENT")
    val pruned = BloomPrune
      .semiJoinPrune(lineitem, dim, "l_orderkey", "o_orderkey", expectedItems = 1 << 14)
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    val plain = lineitem
      .join(dim, lineitem("l_orderkey") === dim("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").as[(Long, Long)].collect().toSet
    pruned shouldBe plain
    plain.size should be > 0
  }

  test("the prefilter has no false negatives and prunes most non-matching rows") {
    val dim = orders.filter(col("o_orderpriority") === "1-URGENT")
    val bytes = BloomPrune.buildFilterBytes(dim, "o_orderkey", expectedItems = 1 << 14)
    val factN = lineitem.count()
    val exactN = lineitem
      .join(dim, lineitem("l_orderkey") === dim("o_orderkey"), "left_semi").count()
    val prefilteredN = BloomPrune.prefilter(lineitem, "l_orderkey", bytes).count()
    // superset of the true matches…
    prefilteredN should be >= exactN
    // …but only by ~fpp of the non-matching rows: the map-side cut that
    // keeps the fact side off the exchange is the operator's entire point
    prefilteredN should be < exactN + (factN - exactN) / 5
  }

  test("the probe is a scan-side might_contain filter, before any exchange") {
    val dim = orders.filter(col("o_orderpriority") === "1-URGENT")
    val pruned = BloomPrune
      .semiJoinPrune(lineitem, dim, "l_orderkey", "o_orderkey", expectedItems = 1 << 14)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    plan should include("might_contain")
  }

  test("zValue interleaves bits (reference implementation agreement)") {
    def zRef(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i => (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (1023L, 511L), (65535L, 65535L))
    val df = cases.toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), bits = 16).as("z"))
    df.as[Long].collect().toSeq shouldBe cases.map { case (a, b) => zRef(a, b, 16) }
    // the generated SQL text computes the identical value (same arithmetic
    // any external engine replays)
    cases.toDF("a", "b")
      .select(expr(ZOrder.zValueSql("a", "b", 16)).as("z"))
      .as[Long].collect().toSeq shouldBe cases.map { case (a, b) => zRef(a, b, 16) }
  }

  test("z-clustered layout skips files on BOTH columns") {
    // two independent uniform dims; z-order gives each file a bounded
    // rectangle, so a selective predicate on either column prunes
    val n = 1 << 14
    val df = spark.range(0, n).select(
      (col("id") % 128).as("a"),
      (col("id") / 128).as("b"),
      col("id").as("payload"))
    val out = Files.createTempDirectory("graft_zorder").toString
    // 48 range partitions: ~8 KB files of this ~384 KB frame
    val z = ZOrder.zValue(col("a"), col("b"), bits = 7)
    df.repartitionByRange(48, z).sortWithinPartitions(z)
      .write.mode("overwrite").parquet(out)
    def scannedRows(pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(out).filter(pred)
      q.collect()
      q.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.get.metrics("numOutputRows").value
    }
    scannedRows(col("a") < 8) should be < (n / 2).toLong
    scannedRows(col("b") < 8) should be < (n / 2).toLong
    // schema untouched: no helper column in the files
    spark.read.parquet(out).columns.sorted shouldBe Array("a", "b", "payload")
  }

  test("empty and null-key dim sides are handled") {
    // empty dim: bloom of nothing → prune everything → empty exact result
    val emptyDim = orders.filter(lit(false))
    BloomPrune.semiJoinPrune(lineitem, emptyDim, "l_orderkey", "o_orderkey",
      expectedItems = 16).count() shouldBe 0L
    // null fact keys never match a semi join; the probe must not throw
    import spark.implicits._
    val fact = Seq(Some(1L), None, Some(2L)).toDF("k")
    val dim = Seq(1L).toDF("k")
    val bytes = BloomPrune.buildFilterBytes(dim, "k", expectedItems = 4)
    BloomPrune.prefilter(fact, "k", bytes)
      .as[Option[Long]].collect().flatten should contain(1L)
  }

  test("input validation") {
    an[IllegalArgumentException] should be thrownBy ZOrder.zValue(col("a"), col("b"), 0)
    an[IllegalArgumentException] should be thrownBy ZOrder.zValueSql("a", "b", 32)
    an[IllegalArgumentException] should be thrownBy
      BloomPrune.buildFilterBytes(orders, "o_orderkey", 0)
  }
}
