package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Search

/** Term-search operators: conjunctive / ranked retrieval and the bucketed
  * inverted index.
  */
class SearchSpec extends SparkTestBase {

  import spark.implicits._

  private val docs = Seq(
    (1L, "data flows where data goes"),   // data ×2
    (2L, "query the data"),               // data + query
    (3L, "the quick fox"),                // neither
    (4L, "DATA Query data query")         // case folding; data ×2, query ×2
  ).toDF("doc_id", "text")

  test("searchAll requires every term and totals their occurrences") {
    val out = Search.searchAll(docs, Seq("data", "query"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 1 lacks "query"; doc 3 lacks both
    out shouldBe Array((2L, 2L), (4L, 4L))
    // single-term search degenerates to containment
    Search.searchAll(docs, Seq("fox")).collect().map(_.getLong(0)) shouldBe Array(3L)
    // duplicated query terms must not double-count the hit requirement
    Search.searchAll(docs, Seq("data", "Data")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 2L), (2L, 1L), (4L, 2L))
    an[IllegalArgumentException] should be thrownBy Search.searchAll(docs, Nil)
  }

  test("searchRanked scores by summed ratio idf with a deterministic cut") {
    // df(data)=3, df(query)=2, N=4
    // doc 1: 2·4/3            = 2.666667
    // doc 2: 1·4/3 + 1·4/2    = 3.333333
    // doc 4: 2·4/3 + 2·4/2    = 6.666667
    val out = Search.searchRanked(docs, Seq("data", "query"), k = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    out shouldBe Array((4L, 6.666667, 2L), (2L, 3.333333, 2L))
  }

  test("searchPhrase requires consecutive words, counts occurrences, map-side plan") {
    val d = Seq(
      (1L, "the data flows and the data goes"), // "the data" ×2
      (2L, "data the and the data"),            // ×1 (first pair reversed)
      (3L, "the and data"),                     // words present, never adjacent
      (4L, "THE DATA")                          // case folds
    ).toDF("doc_id", "text")
    val out = Search.searchPhrase(d, "The Data")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    out shouldBe Map(1L -> 2, 2L -> 1, 4L -> 1)
    // single-word phrase degenerates to term occurrence counting
    Search.searchPhrase(d, "data").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap shouldBe
      Map(1L -> 2, 2L -> 2, 3L -> 1, 4L -> 1)
    // zero shuffle: the whole gate rides the scan
    Search.searchPhrase(d, "the data").queryExecution.executedPlan
      .toString should not include "Exchange"
    an[IllegalArgumentException] should be thrownBy Search.searchPhrase(d, "  ")
  }

  test("searchBm25 saturates tf and normalizes by document length") {
    // a reference implementation computed independently in plain Scala:
    // same tokenization, same Lucene idf, same saturation formula
    val rows = Seq((1L, "data flows where data goes"), (2L, "query the data"),
      (3L, "the quick fox"), (4L, "DATA Query data query"))
    val terms = Set("data", "query")
    val toks = rows.map { case (id, t) => (id, t.toLowerCase.split(" ", -1).toSeq) }
    val n = rows.length.toDouble
    val avgdl = toks.map(_._2.length).sum.toDouble / n
    val dfm = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    val (k1, b) = (1.2, 0.75)
    val expected = toks.flatMap { case (id, ws) =>
      val dl = ws.length.toDouble
      val score = terms.toSeq.map { t =>
        val tf = ws.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
          tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
      }.sum
      val hit = terms.count(t => ws.contains(t))
      if (hit == 0) None
      else Some((id, BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, hit.toLong))
    }.sortBy { case (id, s, _) => (-s, id) }
    val out = Search.searchBm25(docs, Seq("data", "query"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    out.toSeq shouldBe expected
    // doc 4 (two hits of each term, short) must outrank doc 1 (data×2 only)
    out.head._1 shouldBe 4L
    // saturation: doubling tf must NOT double the score — compare doc 1
    // (data×2) against doc 2's data component bound
    an[IllegalArgumentException] should be thrownBy
      Search.searchBm25(docs, Seq("data"), k = 0)
    an[IllegalArgumentException] should be thrownBy
      Search.searchBm25(docs, Seq("data"), k = 1, b = 1.5)
  }

  test("bm25 avgdl length-difference form is bit-equal to the split form") {
    import spark.implicits._
    // pathological corpus: empty text, consecutive/leading/trailing spaces
    // (split keeps the empty tokens), Unicode whose LOWERCASING changes the
    // character count (İ -> i + combining dot) but never the space count,
    // and a null text (both forms yield NULL, avg skips the row)
    val tricky = Seq(
      Some(""), Some(" "), Some("a  b"), Some(" lead"), Some("trail "),
      Some("İstanbul İZMİR ankara"), Some("plain text here"), None
    ).map(Tuple1(_)).toDF("text")
    val F = org.apache.spark.sql.functions
    val oldForm = tricky
      .select(split(lower(col("text")), " ").as("__toks"))
      .agg(count(lit(1)), avg(F.size(col("__toks")).cast("double")))
      .head()
    val newForm = tricky
      .agg(count(lit(1)), avg((F.length(col("text")) -
        F.length(F.translate(col("text"), " ", "")) + 1).cast("double")))
      .head()
    newForm.getLong(0) shouldBe oldForm.getLong(0)
    java.lang.Double.doubleToRawLongBits(newForm.getDouble(1)) shouldBe
      java.lang.Double.doubleToRawLongBits(oldForm.getDouble(1))
  }

  test("searchHybrid fuses BM25 and cosine ranks with the RRF formula") {
    val fused = Search.searchHybrid(docs, Seq("data", "query"),
      queryText = "data query", k = 4, poolK = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), Option(r.get(2)), Option(r.get(3)))).toMap
    // doc 3 matches no term AND shares no hashed buckets' dominance, but
    // it IS in the semantic pool (poolK covers all 4 docs); doc 3 is
    // absent only from the lexical pool → exactly one contribution
    val d3 = fused(3L)
    d3._2 shouldBe None // no lexical rank
    d3._3.isDefined shouldBe true
    // the RRF arithmetic reconstructs from the reported ranks exactly
    fused.foreach { case (_, (score, rLex, rSem)) =>
      val expected =
        rLex.map(r => 1.0 / (60 + r.asInstanceOf[Int])).getOrElse(0.0) +
          rSem.map(r => 1.0 / (60 + r.asInstanceOf[Int])).getOrElse(0.0)
      score shouldBe BigDecimal(expected)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // a doc ranked top in BOTH pools outranks one present in a single pool
    val top = Search.searchHybrid(docs, Seq("data", "query"),
      queryText = "data query", k = 1, poolK = 4).collect().head
    Option(top.get(2)).isDefined shouldBe true
    Option(top.get(3)).isDefined shouldBe true
    // the driver-side query-vector hash matches the distributed convention
    val sparkBuckets = Seq("data", "query").toDF("term")
      .select((graft.pipeline.Sampling.md5Uniform(col("term")) % 16).as("b"))
      .collect().map(_.getInt(0))
    val qv = Search.hashQueryVec("data query", 16)
    sparkBuckets.foreach(b => qv(b) should be >= 1L)
    qv.sum shouldBe 2L
    an[IllegalArgumentException] should be thrownBy
      Search.searchHybrid(docs, Seq("data"), "q", k = 5, poolK = 4) // k > poolK
  }

}
