package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSimilarity
import graft.pipeline.Similarity

class TopKSpec extends SparkTestBase {

  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private def vec(): Seq[Float] = Seq.fill(8)(rng.nextFloat() * 2 - 1)
  private def embeddings = (0L until 200L).map(i => (i, vec()))
    .toDF("vec_id", "embedding")

  /** Window reference for [[Similarity.bruteForceTopKBatch]]: every
    * (query, corpus) pair scored, then a per-query `row_number` over
    * (cosine desc, id asc) keeps the first k — the whole scored product
    * crosses the shuffle.
    */
  private def windowTopKBatch(
      corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding").as("__qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        round(cosineSimilarity(col("embedding"), col("__qvec")), 6).as("cosine"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  test("bounded-aggregate top-k equals the window top-k") {
    // NB no .cache() here: the corpus is a driver-side literal
    // (LocalTableScan), and a lingering persisted RDD would trip
    // TextExpressionsSpec's no-persisted-RDDs session assertion
    val e = embeddings
    val corpus = e.filter(col("vec_id") >= 8)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaWindow = windowTopKBatch(corpus, queries, k = 7)
      .as[(Long, Long, Double)].collect().toSet
    val viaAgg = Similarity.bruteForceTopKBatch(corpus, queries, k = 7)
      .as[(Long, Long, Double)].collect().toSet
    viaAgg shouldBe viaWindow
    viaAgg.groupBy(_._1).values.foreach(_.size shouldBe 7)
    // and stability under partitioning (merge path exercised differently)
    val repart = Similarity.bruteForceTopKBatch(corpus.repartition(13), queries, k = 7)
      .as[(Long, Long, Double)].collect().toSet
    repart shouldBe viaWindow
  }

  test("the aggregate form pre-reduces before the shuffle (partial aggregation)") {
    val e = embeddings
    val plan = Similarity.bruteForceTopKBatch(
        e.filter(col("vec_id") >= 8),
        e.filter(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
        k = 5)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    plan should include("partial_topkbyscore")
  }

  test("aggregator semantics: ties break toward the smaller id, k caps the buffer") {
    val agg = new graft.functions.TopKByScore(3)
    val full = Seq((1.0, 9L), (1.0, 2L), (0.5, 1L), (2.0, 7L), (0.5, 0L))
      .foldLeft(agg.zero)(agg.reduce)
    full shouldBe Seq((2.0, 7L), (1.0, 2L), (1.0, 9L))
    // merge of two sorted buffers keeps global order and the cap
    val a = Seq((3.0, 1L), (1.0, 4L))
    val b = Seq((2.0, 2L), (1.0, 3L))
    agg.merge(a, b) shouldBe Seq((3.0, 1L), (2.0, 2L), (1.0, 3L))
    an[IllegalArgumentException] should be thrownBy new graft.functions.TopKByScore(0)
  }

  test("groupDiversity: exact mean pairwise cosine from the centroid identity") {
    val vecs = Seq(
      (1L, "orth", Seq(1.0f, 0.0f)), (2L, "orth", Seq(0.0f, 1.0f)), // cos = 0
      (3L, "same", Seq(2.0f, 0.0f)), (4L, "same", Seq(1.0f, 0.0f)), // cos = 1
      (5L, "solo", Seq(1.0f, 1.0f)) // no pairs
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.groupDiversity(vecs, "label").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    out("orth")._2.get shouldBe 0.0 +- 1e-12
    out("orth")._3.get shouldBe 1.0 +- 1e-12
    out("same")._2.get shouldBe 1.0 +- 1e-12
    out("same")._3.get shouldBe 0.0 +- 1e-12
    out("solo")._2 shouldBe None
    out("solo")._3 shouldBe None
    // three-vector check against the brute pair sum: 120° fan in 2D
    val fan = Seq(
      (1L, "f", Seq(1.0f, 0.0f)),
      (2L, "f", Seq(-0.5f, math.sqrt(3.0).toFloat / 2)),
      (3L, "f", Seq(-0.5f, -math.sqrt(3.0).toFloat / 2))
    ).toDF("vec_id", "label", "embedding")
    // every pair at cos = -1/2 exactly (up to float literal rounding)
    Similarity.groupDiversity(fan, "label").collect()(0)
      .getDouble(2) shouldBe -0.5 +- 1e-6
  }

  test("hardNegatives excludes near-duplicates BEFORE the cut") {
    // corpus of 6; queries are corpus rows 0 and 1 themselves, and row 10
    // is an exact copy of row 0 — both the self-match and the copy must be
    // excluded, and k=3 full rows still come back
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)), (3L, Seq(0.0f, 0.9f, 0.4f)),
      (4L, Seq(0.5f, 0.5f, 0.0f)), (10L, Seq(1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Similarity.hardNegatives(corpus, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byQuery = out.groupBy(_._1)
    byQuery(0L).map(_._2) should not contain 0L   // self
    byQuery(0L).map(_._2) should not contain 10L  // exact copy
    byQuery(0L).length shouldBe 3                 // still k rows
    byQuery(1L).map(_._2) should not contain 1L
    out.foreach(_._3 should be <= 0.999)
    // query 0's nearest admissible neighbor is the 0.9-aligned row 2
    byQuery(0L).maxBy(_._3)._2 shouldBe 2L
  }

  test("hashEmbed: bucket-count vectors, identical text → identical vector") {
    val d = Seq(
      (1L, "alpha beta alpha"),
      (2L, "alpha beta alpha"),  // exact copy
      (3L, "gamma delta"),
      (4L, null.asInstanceOf[String]) // null text → zero vector
    ).toDF("doc_id", "text")
    val out = Similarity.hashEmbed(d, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    out(1L) shouldBe out(2L)
    out(1L).sum shouldBe 3L   // one entry per token
    out(3L).sum shouldBe 2L
    out(4L) shouldBe Seq.fill(8)(0L)
    out.values.foreach(_.length shouldBe 8)
    // vectors feed the vector pipeline unchanged: cosine of the copies = 1
    val vecs = Similarity.hashEmbed(d.filter(col("doc_id") < 3), dim = 8)
      .select(col("doc_id").as("vec_id"),
        expr("transform(vec, x -> CAST(x AS FLOAT))").as("embedding"))
    val pair = Similarity.bruteForceTopKBatch(
      vecs, vecs.select(col("vec_id").as("query_id"), col("embedding")), k = 2)
      .filter(col("query_id") === 1L && col("vec_id") === 2L)
      .collect()(0).getDouble(2)
    pair shouldBe 1.0 +- 1e-9
    an[IllegalArgumentException] should be thrownBy Similarity.hashEmbed(d, dim = 1)
  }

  test("hashEmbed: fused expression is bit-equal to the declarative md5 chain") {
    // the r21 HashEmbedVector expression replaced explode + md5Uniform +
    // two aggregations + zero-fill join; this pins the replacement to the
    // exact construction the oracle replays, over the tokenizer's edge
    // cases (empty string -> one empty token, consecutive/trailing spaces
    // keep empty tokens, uppercase + non-ASCII lowercasing)
    val d = Seq(
      (1L, ""),                       // split("") = [""] — md5("") bucket counted
      (2L, "a  b"),                   // consecutive spaces: empty middle token
      (3L, "trailing space "),        // limit -1 keeps the trailing empty
      (4L, "MiXeD Case ÉCOLE Straße"),
      (5L, "alpha beta alpha gamma beta alpha"),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val dim = 16
    val declarative = {
      val toks = d.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      val counts = toks
        .select(col("doc_id"), (graft.pipeline.Sampling.md5Uniform(col("term")) % dim).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      val vecExpr = transform(sequence(lit(0), lit(dim - 1)),
        i => coalesce(element_at(col("__m"), i), lit(0L)))
      val assembled = counts.groupBy(col("doc_id"))
        .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("__m"))
        .select(col("doc_id"), vecExpr.as("vec"))
      d.select(col("doc_id")).join(assembled, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("vec"), transform(sequence(lit(0), lit(dim - 1)), _ => lit(0L))).as("vec"))
    }
    val want = declarative.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = Similarity.hashEmbed(d, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    got shouldBe want
    // and the plan is one map-side projection: no exchange, no join
    val plan = Similarity.hashEmbed(d, dim = dim).queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("groupCentroids: dimension-wise mean, order preserved, no raw-vector collect") {
    val vecs = Seq(
      (1L, "a", Seq(1.0f, 0.0f, 2.0f)),
      (2L, "a", Seq(3.0f, 4.0f, 0.0f)),
      (3L, "b", Seq(10.0f, 20.0f, 30.0f))
    ).toDF("vec_id", "label", "embedding")
    val byLabel = Similarity.groupCentroids(vecs, "label").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Double](2)))).toMap
    byLabel("a")._1 shouldBe 2L
    byLabel("a")._2 shouldBe Seq(2.0, 2.0, 1.0)
    byLabel("b")._1 shouldBe 1L
    byLabel("b")._2 shouldBe Seq(10.0, 20.0, 30.0)
    // the plan reduces each partition to one fixed-width VectorAvg buffer
    // per group BEFORE the exchange (partial aggregation) — no collect_list
    // of raw vectors, no posexplode fan-out
    val plan = Similarity.groupCentroids(vecs, "label")
      .queryExecution.executedPlan.toString
    plan.toLowerCase should include ("partial")
    plan.toLowerCase should include ("vectoravg")
    plan should not include "collect_list"
    plan should not include "Generate"
  }

  test("VectorAvg matches avg per dimension on ragged and null input") {
    // ragged vectors: a dimension's mean divides by the vectors that reach
    // it (posexplode-avg semantics); null vectors are skipped entirely
    val vecs = Seq(
      (1L, "a", Seq(1.0, 3.0, 10.0)),
      (2L, "a", Seq(3.0, 5.0)),
      (3L, "a", null)
    ).toDF("vec_id", "label", "v")
    val vecAvg = udaf(new graft.functions.VectorAvg)
    val out = vecs.groupBy(col("label")).agg(vecAvg(col("v")).as("m"))
      .collect()(0).getSeq[Double](1)
    out shouldBe Seq(2.0, 4.0, 10.0)
  }
}
