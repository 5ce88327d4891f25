package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Splits

class SplitsSpec extends SparkTestBase {

  import spark.implicits._

  private val fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  test("assignment is exhaustive, disjoint, and roughly proportional") {
    val ids = spark.range(0, 10000).toDF("id")
    val assigned = Splits.assignByMd5(ids, "id", fractions)
    assigned.count() shouldBe 10000L // one label per row, none dropped
    val counts = assigned.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.keySet shouldBe Set("train", "val", "test")
    counts.values.sum shouldBe 10000L
    // a uniform 16-bit hash mod 100 lands within a few percent at n=10k
    counts("train").toDouble shouldBe 8000.0 +- 400.0
    counts("val").toDouble shouldBe 1000.0 +- 200.0
    counts("test").toDouble shouldBe 1000.0 +- 200.0
  }

  test("membership is a pure function of the id: stable under repartition and rerun") {
    val ids = spark.range(0, 2000).toDF("id")
    def run(parts: Int): Map[Long, String] =
      Splits.assignByMd5(ids.repartition(parts), "id", fractions)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = run(2)
    run(7) shouldBe a  // partitioning must not affect membership
    run(2) shouldBe a  // nor should a rerun
  }

  test("md5 buckets agree with a reference hash") {
    // java.security MD5 of the decimal string is the cross-engine contract
    val got = Splits.assignByMd5(spark.range(0, 50).toDF("id"), "id", fractions)
      .select(col("id"), Splits.md5Bucket(col("id"), 100).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    (0L until 50L).foreach { i =>
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      got(i) shouldBe Integer.parseInt(hex.take(4), 16) % 100
    }
  }

  test("fractions must sum to one and divide the bucket space exactly") {
    val ids = spark.range(0, 10).toDF("id")
    an[IllegalArgumentException] should be thrownBy
      Splits.assignByMd5(ids, "id", Seq("a" -> 0.5, "b" -> 0.4))
    an[IllegalArgumentException] should be thrownBy
      Splits.assignByMd5(ids, "id", Seq("a" -> 0.505, "b" -> 0.495), buckets = 100)
  }
}
