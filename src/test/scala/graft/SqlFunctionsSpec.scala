package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions

class SqlFunctionsSpec extends SparkTestBase {

  import spark.implicits._

  test("registered SQL names reach the native expressions, matching the Column API") {
    Graft.install(spark)
    Seq((1L, "the quick brown fox", Seq(1.0f, 2.0f, 3.0f), Seq(0.5f, 0.5f, 0.5f)))
      .toDF("id", "text", "a", "b").createOrReplaceTempView("fn_probe")
    val viaSql = spark.sql(
      """SELECT cosine_similarity(a, b) AS cos, dot_product(a, b) AS dot,
        |simhash64(split(text, ' ')) AS sh, rolling_hash(text) AS rh
        |FROM fn_probe""".stripMargin).head()
    val viaApi = spark.table("fn_probe").select(
      VectorFunctions.cosineSimilarity(col("a"), col("b")).as("cos"),
      expr("dot_product(a, b)").as("dot"),
      TextFunctions.simhash64(split(col("text"), " ")).as("sh"),
      TextFunctions.rollingHash(col("text")).as("rh")).head()
    viaSql shouldBe viaApi
    viaSql.getDouble(1) shouldBe 3.0 // dot product sanity: 1*.5 + 2*.5 + 3*.5
  }

  test("wrong arity is rejected at analysis") {
    Graft.install(spark)
    an[Exception] should be thrownBy
      spark.sql("SELECT cosine_similarity(array(1.0F)) AS c").collect()
  }

  test("repetition_profile from SQL text matches the Column API and rejects non-literal n") {
    Graft.install(spark)
    val row = spark.sql(
      "SELECT repetition_profile(split('a b a b a', ' '), 2) AS r").head().getStruct(0)
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) shouldBe ((4L, 2L, 2L, 4L))
    an[Exception] should be thrownBy
      spark.sql("SELECT repetition_profile(split('a b', ' ')) AS r").collect()
  }

  test("repetition_profile distinguishes wrong arity from a non-literal gram size") {
    Graft.install(spark)
    // 2 args but non-literal n: the error must name the literal-int
    // constraint, not claim a wrong argument count (ADVICE r12)
    val typeErr = intercept[Exception] {
      spark.sql("SELECT repetition_profile(split('a b', ' '), 1 + 1) AS r").collect()
    }
    typeErr.getMessage should include("LITERAL INT")
    (typeErr.getMessage should not).include("got 2")
    val arityErr = intercept[Exception] {
      spark.sql("SELECT repetition_profile(split('a b', ' '), 2, 3) AS r").collect()
    }
    arityErr.getMessage should include("got 3")
  }
}
