package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Mixture, QuantileFilter, Redaction, Repetition, TextAnalysis}

/** Specs for the round-12 curation operators: repetition signals, PII
  * redaction, domain-mixture resampling.
  */
class CurationSpec extends SparkTestBase {

  import spark.implicits._

  /** Relational reference profile for [[Repetition.ngramRepetition]]: the
    * lowercased word n-grams as exact STRINGS, counted per doc by the
    * shingle generator, then one aggregation by doc. The native profile
    * compares 64-bit gram hashes instead, so a realized hash collision
    * would show up here as a row mismatch.
    */
  private def relationalRepetition(docs: DataFrame, n: Int): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.WordShingleHashesFunction
          .wordShingleHashes(col("text"), n, withHashes = false, withCounts = true)
          .as(Seq("__g", "__c")))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("__c")).as("top_count"),
        sum(when(col("__c") > 1, col("__c")).otherwise(lit(0L))).as("__dup"))
      .select(
        col("doc_id"),
        col("n_grams"),
        col("n_distinct"),
        col("top_count"),
        (col("top_count").cast("double") / col("n_grams").cast("double")).as("top_fraction"),
        (col("__dup").cast("double") / col("n_grams").cast("double")).as("dup_fraction"))

  test("ngramRepetition counts 2-gram structure exactly") {
    val docs = Seq(
      (1L, "a b a b a"),        // 2-grams: "a b" ×2, "b a" ×2 → 4 grams, 2 distinct
      (2L, "x y z w"),          // 3 grams, all unique
      (3L, "t t t t"),          // "t t" ×3 → 3 grams, 1 distinct
      (4L, "solo")              // too short: no 2-gram, absent from output
    ).toDF("doc_id", "text")
    val out = Repetition.ngramRepetition(docs, n = 2)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
    out shouldBe Array(
      (1L, 4L, 2L, 2L, 0.5, 1.0),
      (2L, 3L, 3L, 1L, 1.0 / 3.0, 0.0),
      (3L, 3L, 1L, 3L, 1.0, 1.0))
  }

  test("ngramRepetition lowercases and honors n") {
    val docs = Seq((1L, "The the THE cat")).toDF("doc_id", "text")
    val r = Repetition.ngramRepetition(docs, n = 1).filter(col("doc_id") === 1L).head()
    r.getLong(1) shouldBe 4L  // n_grams
    r.getLong(2) shouldBe 2L  // the, cat
    r.getLong(3) shouldBe 3L  // "the" ×3
  }

  test("dropRepetitive drops flagged docs, keeps short docs") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"), // top_fraction 1.0 → dropped
      (2L, "a decent variety of words here"),
      (3L, "x")                          // no 2-gram → kept
    ).toDF("doc_id", "text")
    Repetition.dropRepetitive(docs, n = 2, maxTopFraction = 0.5, maxDupFraction = 0.5)
      .select("doc_id").as[Long].collect().sorted shouldBe Seq(2L, 3L)
  }

  test("redactPii masks emails, phones, and IPs; counts match") {
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.com or call 555-123-4567 now"),
      (2L, "server at 192.168.0.17 and 10.0.0.1"),
      (3L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val red = Redaction.redactPii(docs).orderBy("doc_id").select("text").as[String].collect()
    red(0) shouldBe "mail [EMAIL] or call [PHONE] now"
    red(1) shouldBe "server at [IP] and [IP]"
    red(2) shouldBe "nothing sensitive here"
    val rep = Redaction.piiReport(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    rep shouldBe Array((1L, 1L, 0L), (0L, 0L, 2L), (0L, 0L, 0L))
  }

  test("resampleToMixture hits the target proportions and is deterministic") {
    // 6000 a, 3000 b, 600 c; target a:b:c = 1:1:1 → c binds (m ≈ 1800),
    // each group keeps ~600
    val df = spark.range(0, 9600).select(col("id").as("doc_id"),
      when(col("id") < 6000, "a").when(col("id") < 9000, "b").otherwise("c").as("src"))
    val out = Mixture.resampleToMixture(df, "src", Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0), "doc_id")
    val counts = out.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 16-bit hash thresholding: a few percent tolerance
    counts("a").toDouble shouldBe 600.0 +- 80.0
    counts("b").toDouble shouldBe 600.0 +- 80.0
    counts("c").toDouble shouldBe 600.0 +- 60.0
    // membership is a pure function of id: stable under repartition
    def ids(parts: Int) = Mixture
      .resampleToMixture(df.repartition(parts), "src", Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    ids(2) shouldBe ids(13)
  }

  test("resampleToTemperature keeps the small group whole and scales by n^alpha") {
    // 6400 a, 400 b: at alpha=0.5 expected sizes ∝ sqrt(n) → b (smallest)
    // keeps ~everything, a keeps ~sqrt(6400)*m = 80*20 = 1600
    val df = spark.range(0, 6800).select(col("id").as("doc_id"),
      when(col("id") < 6400, "a").otherwise("b").as("src"))
    val out = Mixture.resampleToTemperature(df, "src", alpha = 0.5, idCol = "doc_id")
    val counts = out.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts("b").toDouble shouldBe 400.0 +- 6.0 // the binding group, fraction ~1
    counts("a").toDouble shouldBe 1600.0 +- 120.0 // sqrt ratio: 80/20 of 6400/400
    // alpha = 1 is the natural distribution: everything kept
    Mixture.resampleToTemperature(df, "src", alpha = 1.0, idCol = "doc_id")
      .count() shouldBe 6800L
    // membership is a pure function of id: stable under repartition
    def ids(parts: Int) = Mixture
      .resampleToTemperature(df.repartition(parts), "src", 0.5, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    ids(3) shouldBe ids(11)
    an[IllegalArgumentException] should be thrownBy
      Mixture.resampleToTemperature(df, "src", alpha = 0.0, idCol = "doc_id")
  }

  test("resampleToMixture drops unlisted groups; missing weight group empties the result") {
    val df = spark.range(0, 300).select(col("id").as("doc_id"),
      when(col("id") < 100, "a").when(col("id") < 200, "b").otherwise("zzz").as("src"))
    val kept = Mixture.resampleToMixture(df, "src", Map("a" -> 1.0, "b" -> 1.0), "doc_id")
    kept.filter(col("src") === "zzz").count() shouldBe 0L
    // a weight group with no corpus rows makes the mixture infeasible
    Mixture.resampleToMixture(df, "src", Map("a" -> 1.0, "nope" -> 1.0), "doc_id")
      .count() shouldBe 0L
  }

  test("map-side repetition profile equals the relational one, with no exchange") {
    val real = Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val crafted = Seq((9001L, "a b a b a"), (9002L, "t t t t"), (9003L, "solo"))
      .toDF("doc_id", "text").select(col("doc_id"), col("text"))
    for (docs <- Seq(real.select("doc_id", "text"), crafted); n <- Seq(1, 2, 3)) {
      val rel = relationalRepetition(docs, n).orderBy("doc_id").collect().toSeq
      val map = Repetition.ngramRepetition(docs, n).orderBy("doc_id").collect().toSeq
      map shouldBe rel
    }
    // the native profile rides the scan: nothing shuffles before the rows
    // exist (the orderBy above is the only exchange a consumer would add)
    val plan = Repetition.ngramRepetition(real, 2).queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("dropRepetitive is a pure map-side filter (no exchange in the plan)") {
    val docs = Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val out = Repetition.dropRepetitive(docs, n = 2, maxTopFraction = 0.08, maxDupFraction = 0.2)
    out.queryExecution.executedPlan.toString should not include "Exchange"
    // and it must agree with the relational profile's verdict doc for doc
    val flagged = relationalRepetition(docs, 2)
      .filter(col("top_fraction") > 0.08 || col("dup_fraction") > 0.2)
      .select("doc_id").as[Long].collect().toSet
    val kept = out.select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    kept shouldBe all.diff(flagged)
  }

  test("bigramStats counts collocations with exact-ratio lift") {
    // tokens: a×3 b×4 c×1, total 8; bigrams "a b"×3, "b a"×2, "b c"×1
    val docs = Seq((1L, "a b a b"), (2L, "b a b c")).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramStats(docs, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    rows(0) shouldBe (("a b", 3L, 8.0 * 3.0 / 12.0))
    rows(1) shouldBe (("b a", 2L, 8.0 * 2.0 / 12.0))
    rows(2) shouldBe (("b c", 1L, 8.0 * 1.0 / 4.0))
    // single-token docs contribute no bigram (the empty-array branch) but
    // their token still counts toward N and the unigram totals
    val withShort = TextAnalysis.bigramStats(
      docs.union(Seq((3L, "a")).toDF("doc_id", "text")), k = 1).head()
    withShort.getString(0) shouldBe "a b"
    withShort.getDouble(2) shouldBe 9.0 * 3.0 / (4.0 * 4.0)
  }

  test("duplicatedSpans surfaces cross-document n-grams with exact counts") {
    val docs = Seq(
      (1L, "the license header text appears here once"),
      (2L, "prefix the license header text appears here and again the license header text appears here"),
      (3L, "completely different content with no shared span at all"),
      (4L, "x y") // shorter than n: contributes no span
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.duplicatedSpans(docs, n = 5, minDocs = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "the license header text appears" occurs once in doc 1 + twice in
    // doc 2 (3 total, 2 docs); its two 5-gram successors likewise
    rows should contain(("the license header text appears", 3L, 2L))
    rows.foreach { case (_, occ, nd) => nd should be >= 2L; occ should be >= nd }
    // spans unique to one doc never appear, whatever their multiplicity
    rows.map(_._1).foreach(_ should not include "completely")
  }

  test("WordShingleHashes is bit-equal to the declarative shingle + xxhash64 chain") {
    // edge shapes: trailing spaces (split keeps trailing empties), repeated
    // separators, mixed case, exactly-n tokens, fewer-than-n tokens, null
    val docs = Seq(
      (1L, "The License  HEADER text appears "),
      (2L, "a b c"),
      (3L, "a b"),
      (4L, null.asInstanceOf[String]),
      // multi-byte UTF-8 + case folding that changes byte length (the r21
      // byte-scan tokenizer must stay bit-equal to regex split + lower)
      (5L, "Straße ÉCOLE straße école Ĳs ĳs"),
      (6L, " leading and  double  spaces kept "),
      (7L, "")
    ).toDF("doc_id", "text")
    val viaGenerator = docs.select(col("doc_id"),
        graft.functions.WordShingleHashesFunction.wordShingleHashes(col("text"), 3))
      .select(col("doc_id"), col("__h"), col("span"))
    val viaBuiltins = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .select(col("doc_id"),
        explode(when(org.apache.spark.sql.functions.size(col("w")) < 3, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), org.apache.spark.sql.functions.size(col("w")) - 2),
            i => array_join(slice(col("w"), i, lit(3)), " ")))).as("span"))
      .select(col("doc_id"), xxhash64(col("span")).as("__h"), col("span"))
    val g = viaGenerator.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val b = viaBuiltins.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    g shouldBe b
    g.nonEmpty shouldBe true
    // the hash-only mining mode (withSpans = false) emits the same hashes
    val hashOnly = docs.select(col("doc_id"),
        graft.functions.WordShingleHashesFunction.wordShingleHashes(
          col("text"), 3, withSpans = false))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    hashOnly shouldBe g.map(t => (t._1, t._2)).sorted
  }

  test("WordShingleHashes withCounts replays the per-doc groupBy of the plain generator (r22)") {
    // the exchange-removal contract: one (key, count) row per distinct
    // shingle per input row must equal groupBy(key, doc).count over the
    // plain generator's fan-out — in BOTH keying modes (hash-only for the
    // threshold pass, span for the string-side passes). Repeats inside a
    // doc, repeats across docs, multi-byte case folding, double spaces
    // (empty tokens), exactly-n, fewer-than-n, null, and malformed UTF-8
    // (raw 0xFF via the binary cast) all covered.
    val base = Seq(
      (1L, "a b a b a b"),            // intra-doc repeats ("a b" ×3, "b a" ×2)
      (2L, "a b c a b c"),
      (3L, "Straße ÉCOLE straße école"),
      (4L, "x  y  x  y"),             // empty tokens between double spaces
      (5L, "a b"),
      (6L, "a"),
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val raw = Array[Byte]('a', 0xFF.toByte, ' ', 'b', ' ', 'a', 0xFF.toByte, ' ', 'b')
    val docs = base.union(Seq(Tuple1(raw)).toDF("bin")
      .select(lit(8L).as("doc_id"), col("bin").cast("string").as("text")))
    // span mode (hashes + spans + counts) vs plain generator grouped
    val counted = docs.select(col("doc_id"),
        graft.functions.WordShingleHashesFunction
          .wordShingleHashes(col("text"), 2, withCounts = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted
    val grouped = docs.select(col("doc_id"),
        graft.functions.WordShingleHashesFunction.wordShingleHashes(col("text"), 2))
      .groupBy(col("doc_id"), col("__h"), col("span")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).sorted
    counted shouldBe grouped
    counted.nonEmpty shouldBe true
    counted.exists(_._4 > 1L) shouldBe true // real multiplicities exercised
    // hash-only mode (the threshold pass's stream) vs plain grouped by hash
    val countedH = docs.select(col("doc_id"),
        graft.functions.WordShingleHashesFunction.wordShingleHashes(
          col("text"), 2, withSpans = false, withCounts = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val groupedH = docs.select(col("doc_id"),
        graft.functions.WordShingleHashesFunction.wordShingleHashes(
          col("text"), 2, withSpans = false))
      .groupBy(col("doc_id"), col("__h")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    countedH shouldBe groupedH
    // n = 1 token mode (the tf-idf stream) vs explode(split(lower)) grouped
    val countedT = docs.select(col("doc_id"),
        graft.functions.WordShingleHashesFunction.wordShingleHashes(
          col("text"), 1, withHashes = false, withCounts = true).as(Seq("term", "tf")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val groupedT = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    countedT shouldBe groupedT
  }

  test("WordShingleHashes parity holds even on malformed UTF-8 (ADVICE r21)") {
    // raw 0xFF and a lone continuation byte, smuggled into a string column
    // via the unvalidated binary->string cast. Both forms lower-case with
    // the same UTF8String.toLowerCase, whose non-ASCII slow path replaces
    // invalid sequences with U+FFFD BEFORE the generator's byte scan runs
    // — so the r21 byte-scan tokenizer stays bit-equal to the declarative
    // split(lower(text)) chain on malformed input too (the divergence
    // ADVICE r21 flagged as latent does not exist on this code path)
    val raw = Array[Byte]('a', 'b', 0xFF.toByte, 'c', ' ', 'd', 'e', ' ',
      0x80.toByte, 'f', ' ', 'g', 'h')
    val docs = Seq(Tuple1(raw)).toDF("bin")
      .select(lit(1L).as("doc_id"), col("bin").cast("string").as("text"))
    val viaGenerator = docs.select(
        graft.functions.WordShingleHashesFunction.wordShingleHashes(col("text"), 2))
      .select(col("__h"), col("span"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val viaBuiltins = docs
      .select(split(lower(col("text")), " ").as("w"))
      .select(explode(when(org.apache.spark.sql.functions.size(col("w")) < 2,
          array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), org.apache.spark.sql.functions.size(col("w")) - 1),
          i => array_join(slice(col("w"), i, lit(2)), " ")))).as("span"))
      .select(xxhash64(col("span")).as("__h"), col("span"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    viaGenerator shouldBe viaBuiltins
    viaGenerator.length shouldBe 3
    // and the replacement really happened: no raw invalid byte survives
    viaGenerator.foreach { case (_, span) =>
      span.getBytes("UTF-8").foreach(b => (b != 0xFF.toByte) shouldBe true)
    }
  }

  test("CharBigrams generator is bit-equal to the nested-HOF substr chain") {
    // the r21 native fan-out behind bpeMergePairs; pinned against the
    // declarative form over code-point edge cases (multi-byte chars whose
    // lowercase changes byte length, 1-char words, empty/multi-space text)
    val docs = Seq(
      (1L, "Hello BPE merge pairs"),
      (2L, "É Straße ĲS x yz"),
      (3L, "a"),
      (4L, ""),
      (5L, "double  space tail "),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val words = split(lower(col("text")), " ")
    val viaHof = docs.select(explode(flatten(transform(words, w =>
      when(org.apache.spark.sql.functions.length(w) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), org.apache.spark.sql.functions.length(w) - 1),
          i => w.substr(i, lit(2))))))).as("pair"))
      .collect().map(_.getString(0)).sorted
    val viaGen = docs.select(
        graft.functions.CharBigramsFunction.charBigrams(col("text")).as(Seq("pair")))
      .collect().map(_.getString(0)).sorted
    viaGen shouldBe viaHof
    viaGen.nonEmpty shouldBe true
  }

  test("dropBoilerplate removes every carrier of a mined span, keeps the rest") {
    val docs = Seq(
      (1L, "the license header text appears here once"),
      (2L, "prefix the license header text appears here suffix"),
      (3L, "completely different content with no shared span at all"),
      (4L, "x y")
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.dropBoilerplate(docs, n = 5, minDocs = 2, k = 10)
      .select("doc_id").as[Long].collect().toSet
    kept shouldBe Set(3L, 4L) // both license carriers dropped
    // a stricter minDocs finds no boilerplate: nothing is dropped
    TextAnalysis.dropBoilerplate(docs, n = 5, minDocs = 3, k = 10)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(1L, 2L, 3L, 4L)
    // the winner cut and the membership gate share ONE cached
    // candidate-narrowed stream: both consumers must read the cache
    // (two InMemoryTableScans), not re-derive it corpus-wide per consumer
    // (r16 — was three full shingle scans)
    val plan = TextAnalysis.dropBoilerplate(docs, n = 5, minDocs = 2, k = 10)
      .queryExecution.executedPlan.toString
    plan.sliding("InMemoryTableScan".length)
      .count(_ == "InMemoryTableScan") should be >= 2
    graft.pipeline.Dedup.clearCaches()
  }

  test("unigramLogProb scores in-vocab fluency above OOV soup") {
    val docs = Seq(
      (1L, "a a a a"),   // all top-vocab tokens
      (2L, "q r s t")    // all OOV at vocabK = 1
    ).toDF("doc_id", "text")
    // model: vocab = {a: tf 4}, N = 8, V = 1, alpha = 1 → p(a) = 5/10,
    // p(OOV) = 1/10; avg over a doc of identical tokens is the single ln
    val got = TextAnalysis.unigramLogProb(docs, vocabK = 1, alpha = 1.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    got(1L) shouldBe ((4L, math.rint(math.log(0.5) * 1e6) / 1e6))
    got(2L) shouldBe ((4L, math.rint(math.log(0.1) * 1e6) / 1e6))
    got(1L)._2 should be > got(2L)._2
  }

  test("lengthHistogram buckets token counts exactly") {
    val docs = Seq(
      (1L, "a b c"),            // 3 tokens → bucket 0
      (2L, (1 to 25).map(_ => "w").mkString(" ")), // 25 → bucket 20
      (3L, (1 to 20).map(_ => "w").mkString(" "))  // 20 → bucket 20
    ).toDF("doc_id", "text")
    TextAnalysis.lengthHistogram(docs, bucketWidth = 20)
      .orderBy("bucket_lo")
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 1L), (20L, 2L))
  }

  test("l2Normalize yields unit vectors and leaves zero vectors intact") {
    val embs = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.pipeline.Similarity.l2Normalize(embs).orderBy("vec_id")
      .select("unit").as[Seq[Double]].collect()
    out(0) shouldBe Seq(0.6, 0.8)
    out(1) shouldBe Seq(0.0, 0.0)
  }

  test("heavyHitters returns exact top-k with a deterministic tiebreak") {
    val df = (Seq.fill(5)(10L) ++ Seq.fill(3)(2L) ++ Seq.fill(3)(11L) ++ Seq(7L))
      .toDF("k")
    graft.pipeline.Profile.heavyHitters(df, "k", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((10L, 5L), (11L, 3L), (2L, 3L)) // ties by key-as-string: "11" < "2"
  }

  test("byQuantileBand keeps each group's own percentile band") {
    val df = (1L to 100L).map(v => ("g1", v)) ++ (1001L to 1010L).map(v => ("g2", v))
    val out = QuantileFilter.byQuantileBand(df.toDF("grp", "v"), "grp", "v", lo = 0.1, hi = 0.9)
    // g1: p10 = 10.9, p90 = 90.1 → keeps 11..90; g2: p10 = 1001.9, p90 = 1009.1
    val g1 = out.filter(col("grp") === "g1").select("v").as[Long].collect().sorted
    g1 shouldBe (11L to 90L)
    val g2 = out.filter(col("grp") === "g2").select("v").as[Long].collect().sorted
    g2 shouldBe (1002L to 1009L)
    an[IllegalArgumentException] should be thrownBy
      QuantileFilter.byQuantileBand(df.toDF("grp", "v"), "grp", "v", 0.9, 0.1)
  }

  test("winsorize clamps to the band edges and keeps every row") {
    val df = ((1L to 100L).map(v => ("g1", v)) ++ Seq(("g1", 100000L)))
      .toDF("grp", "v")
    val out = QuantileFilter.winsorize(df, "grp", "v", lo = 0.1, hi = 0.9)
    out.count() shouldBe 101L // nothing dropped
    val vs = out.select("v").as[Double].collect()
    // p90 of 1..100,100000 ≈ 91; the outlier is pinned to it, in-band
    // values pass through unchanged
    vs.max should be < 200.0
    vs.min should be > 9.0
    out.filter(col("v") === 50.0).count() shouldBe 1L
  }

  test("oovStats counts out-of-vocabulary tokens per document") {
    val docs = Seq((1L, "the cat sat"), (2L, "THE the zzz")).toDF("doc_id", "text")
    val vocab = Seq("the", "cat").toDF("term")
    val out = TextAnalysis.oovStats(docs, vocab).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out shouldBe Array(
      (1L, 3L, 1L, 1.0 / 3.0),  // "sat" is OOV
      (2L, 3L, 1L, 1.0 / 3.0))  // lowercased: THE≡the in-vocab, "zzz" OOV
  }

  test("mixture proportions track the weights, not the corpus skew") {
    val df = spark.range(0, 8000).select(col("id").as("doc_id"),
      when(col("id") < 7000, "big").otherwise("small").as("src"))
    val out = Mixture.resampleToMixture(df, "src", Map("big" -> 3.0, "small" -> 1.0), "doc_id")
    val counts = out.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // small binds: m ≈ 4000, targets 3000/1000
    counts("big").toDouble / counts("small").toDouble shouldBe 3.0 +- 0.35
  }

  test("resampleToTokenMixture balances token totals, not doc counts") {
    // same doc count per group, 10x token skew: a doc-count mixture would
    // keep token totals 10:1; the token mixture must equalize them
    val df = spark.range(0, 4000).select(col("id").as("doc_id"),
      when(col("id") < 2000, "big").otherwise("small").as("src"),
      when(col("id") < 2000, 100).otherwise(10).as("n_tok"))
    val out = Mixture.resampleToTokenMixture(df, "src", "n_tok",
      Map("big" -> 1.0, "small" -> 1.0), "doc_id")
    val toks = out.groupBy("src").agg(sum(col("n_tok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // small binds: m = 20_000/0.5 = 40_000; each group targets 20_000 tokens
    toks("small").toDouble shouldBe 20000.0 +- 2500.0
    toks("big").toDouble shouldBe 20000.0 +- 2500.0
    // membership is a pure function of id
    def ids(parts: Int) = Mixture.resampleToTokenMixture(df.repartition(parts),
        "src", "n_tok", Map("big" -> 1.0, "small" -> 1.0), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    ids(3) shouldBe ids(11)
    // a weight group with no corpus tokens makes the mixture infeasible
    Mixture.resampleToTokenMixture(df, "src", "n_tok",
      Map("big" -> 1.0, "nope" -> 1.0), "doc_id").count() shouldBe 0L
  }

  test("tfIdfTopTerms ranks rare terms above common ones, deterministic cut") {
    val docs = Seq(
      (1L, "shared shared rare"),   // "rare" df=1, "shared" df=3
      (2L, "shared other"),
      (3L, "shared other")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, k = 2)
      .orderBy("doc_id", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5)))
    // doc 1: rare tf=1 df=1 → 1·3/1 = 3; shared tf=2 df=3 → 2·3/3 = 2
    out(0) shouldBe ((1L, "rare", 1L, 1L, 3.0, 1))
    out(1) shouldBe ((1L, "shared", 2L, 3L, 2.0, 2))
    // docs 2,3 tie on score (other 1·3/2 = 1.5 > shared 1·3/3 = 1)
    out(2) shouldBe ((2L, "other", 1L, 2L, 1.5, 1))
    out(3) shouldBe ((2L, "shared", 1L, 3L, 1.0, 2))
    out.length shouldBe 6
  }

  test("tfIdfTopTerms minDf drops hapax terms") {
    val docs = Seq((1L, "rare shared"), (2L, "shared")).toDF("doc_id", "text")
    val terms = TextAnalysis.tfIdfTopTerms(docs, k = 5, minDf = 2)
      .select("term").distinct().collect().map(_.getString(0)).toSet
    terms shouldBe Set("shared")
  }

  test("tfIdfTopTerms top-k aggregate is bit-equal to the rank-window form, no Window/Sort in plan") {
    // ties on score, multi-token docs, and a supplementary-plane term
    // (U+10400, which UTF-16 code-unit order ranks BELOW U+FFFD while
    // code-point/UTF8-binary order ranks it above — the divergence the
    // aggregate's comparator must not introduce)
    val docs = Seq(
      (1L, "aa bb aa cc 𐐀 �"),
      (2L, "bb cc dd dd"),
      (3L, "aa dd 𐐀 � zz"),
      (4L, "zz zz zz")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, k = 3)
    // the replaced plan, replayed inline: rank window over the same scores
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfs = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    val windowed = toks.join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * col("n_docs").cast("double") /
          col("df").cast("double")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
    out.columns.toSeq shouldBe windowed.columns.toSeq
    out.orderBy("doc_id", "rk").collect().map(_.toSeq).toSeq shouldBe
      windowed.orderBy("doc_id", "rk").collect().map(_.toSeq).toSeq
    // the point of the rewrite: no rank window, no sort of the scored
    // stream anywhere in the executed plan
    val plan = out.queryExecution.executedPlan.toString
    plan should not include ("Window")
    plan should not include ("Sort ")
  }

  test("blendQualitySignals: weighted mean of percent-ranks, deterministic ties") {
    val sig = Seq((1L, 10L, 40.0), (2L, 20L, 30.0), (3L, 30L, 20.0), (4L, 40L, 10.0))
      .toDF("doc_id", "a", "b")
    // perfectly anti-correlated signals at equal weight: everyone blends 0.5
    val eq = TextAnalysis.blendQualitySignals(sig, "doc_id", Map("a" -> 1.0, "b" -> 1.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    eq.values.foreach(_ shouldBe 0.5 +- 1e-9)
    // 3:1 weights: blend = 0.75·pr_a + 0.25·pr_b
    val w31 = TextAnalysis.blendQualitySignals(sig, "doc_id", Map("a" -> 3.0, "b" -> 1.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    w31(1L) shouldBe 0.25 +- 1e-9  // pr_a = 0, pr_b = 1
    w31(4L) shouldBe 0.75 +- 1e-9  // pr_a = 1, pr_b = 0
    w31(2L) shouldBe (0.75 / 3 + 0.25 * 2.0 / 3) +- 1e-6
    // ties on the signal break by id: equal values get distinct ranks
    val tied = Seq((1L, 5L, 1.0), (2L, 5L, 1.0)).toDF("doc_id", "a", "b")
    val t = TextAnalysis.blendQualitySignals(tied, "doc_id", Map("a" -> 1.0))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    t(1L) shouldBe 0.0
    t(2L) shouldBe 1.0
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.blendQualitySignals(sig, "doc_id", Map.empty)
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.blendQualitySignals(sig, "doc_id", Map("nope" -> 1.0))
  }

  test("docEntropy: 0 for uniform single-term docs, ln(n) for all-distinct") {
    val docs = Seq(
      (1L, "a a a a"),       // one term: entropy 0
      (2L, "a b a b"),       // two equiprobable: ln 2
      (3L, "w x y z")        // all distinct: ln 4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.docEntropy(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out(0)._4 shouldBe 0.0 +- 1e-9
    out(0)._2 shouldBe 4L; out(0)._3 shouldBe 1L
    out(1)._4 shouldBe math.log(2.0) +- 1e-6
    out(2)._4 shouldBe math.log(4.0) +- 1e-6
    // entropy orders the repetition axis: spam < mixed < distinct
    out.map(_._4).toSeq shouldBe out.map(_._4).sorted.toSeq
  }

  test("bpeMergePairs counts word-internal adjacent character pairs") {
    val docs = Seq((1L, "banana a BA")).toDF("doc_id", "text")
    // banana → ba an na an na; "a" too short; "BA" folds to ba
    val out = TextAnalysis.bpeMergePairs(docs, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out shouldBe Array(("an", 2L), ("ba", 2L), ("na", 2L))
    an[IllegalArgumentException] should be thrownBy TextAnalysis.bpeMergePairs(docs, 0)
  }

  test("zipfFit recovers an exact power law and flags a flat corpus") {
    // tf·rank = 12 exactly: ln tf = ln 12 − ln rank → slope −1, r² = 1
    val powerLaw = Seq((1L,
      (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++ Seq.fill(4)("c") ++
        Seq.fill(3)("d")).mkString(" "))).toDF("doc_id", "text")
    val fit = TextAnalysis.zipfFit(powerLaw, k = 4).collect()(0)
    fit.getLong(0) shouldBe 4L
    fit.getDouble(1) shouldBe -1.0 +- 1e-6
    fit.getDouble(2) shouldBe 1.0 +- 1e-6
    // uniform frequencies: slope 0 (template flood signature)
    val flat = Seq((1L, "w x y z")).toDF("doc_id", "text")
    val flatFit = TextAnalysis.zipfFit(flat, k = 4).collect()(0)
    flatFit.getDouble(1) shouldBe 0.0 +- 1e-6
    an[IllegalArgumentException] should be thrownBy TextAnalysis.zipfFit(flat, k = 1)
  }

  test("bigramLogProb scores seen bigrams above unseen; perplexity inverts") {
    val docs = Seq(
      (1L, "a b a b a b"),   // all bigrams in-model
      (2L, "a b c"),         // "b c" and context c rarer
      (3L, "x y"),           // fully out-of-model bigram once cut applies
      (4L, "solo")           // 1 token: no bigrams, absent from output
    ).toDF("doc_id", "text")
    // model with generous K: every bigram/context is in the tables
    val full = TextAnalysis.bigramLogProb(docs, bigramK = 100, contextK = 100)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    full.map(_._1) shouldBe Array(1L, 2L, 3L)
    // doc 1's bigrams are the corpus's most frequent → highest avg logprob
    full(0)._3 should be > full(1)._3
    // hand-check doc 3: c("x y")=1, c1(x)=1, V=6 distinct unigrams
    // lp = ln((1+1)/(1+7)) = ln(0.25)
    val lp3 = BigDecimal(math.log(0.25)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    full(2)._3 shouldBe lp3.toDouble
    full(2)._4 shouldBe BigDecimal(math.exp(-lp3.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // perplexity orders opposite to avg logprob
    full.sortBy(_._3).map(_._1).toSeq shouldBe full.sortBy(-_._4).map(_._1).toSeq
    // tight cuts push doc 3's bigram out of the model: its prob falls to
    // the unseen floor and its perplexity rises
    val cut = TextAnalysis.bigramLogProb(docs, bigramK = 2, contextK = 2)
      .filter(col("doc_id") === 3L).collect()(0).getDouble(3)
    cut should be > full(2)._4
    // the act step keeps low-perplexity docs only, carries the row through,
    // and drops the unscoreable single-token doc
    val kept = TextAnalysis.dropByPerplexity(docs,
      maxPerplexity = full(1)._4, bigramK = 100, contextK = 100)
      .select("doc_id").as[Long].collect().toSet
    kept shouldBe Set(1L, 2L)
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.bigramLogProb(docs, bigramK = 0)
  }

  test("gopherQuality computes each rule and the conjunctive verdict") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),       // passes at the test thresholds
      (2L, "aa bb"),                           // too few words
      (3L, "the ### #### ##### ######"),       // symbol-heavy, non-alpha words
      (4L, "it goes on and on and on... yes")  // ellipsis counted, stopword-rich
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(docs, minWords = 3, maxWords = 10,
      minMeanWordLen = 2.0, maxMeanWordLen = 6.0, maxSymbolRatio = 0.1,
      minAlphaFrac = 0.8, minStopwordHits = 1)
      .orderBy("doc_id").collect()
    val d1 = out(0)
    d1.getInt(1) shouldBe 5                      // n_words
    d1.getDouble(2) shouldBe 21.0 / 5.0          // mean_word_len
    d1.getDouble(3) shouldBe 0.0                 // symbol_ratio
    d1.getDouble(4) shouldBe 1.0                 // alpha_frac
    d1.getInt(5) shouldBe 1                      // "the"
    d1.getBoolean(6) shouldBe true
    out(1).getBoolean(6) shouldBe false          // n_words = 2 < 3
    val d3 = out(2)
    d3.getDouble(3) shouldBe 18.0 / 5.0          // 18 hashes / 5 words
    d3.getDouble(4) shouldBe 1.0 / 5.0           // only "the" is alphabetic
    d3.getBoolean(6) shouldBe false
    val d4 = out(3)
    d4.getDouble(3) shouldBe 1.0 / 8.0           // one "..." run / 8 words
    d4.getInt(5) shouldBe 2                      // the-list hits: it, and
    d4.getBoolean(6) shouldBe false              // symbol_ratio 0.125 > 0.1
  }

  test("normalizeText strips controls, collapses whitespace, trims; idempotent") {
    val rows = Seq(
      (1L, "  a\tb\u0001c  d\n\ne "),
      (2L, "already clean"),
      (3L, "\u0000\u0007only\u007fcontrols\u001f"),
      (4L, "")
    ).toDF("doc_id", "text")
    val once = rows.select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("t"))
    val expected = Map(1L -> "a b c d e", 2L -> "already clean",
      3L -> "only controls", 4L -> "")
    once.collect().foreach(r => r.getString(1) shouldBe expected(r.getLong(0)))
    val twice = once.select(col("doc_id"),
      TextAnalysis.normalizeText(col("t")).as("t"))
    twice.collect().foreach(r => r.getString(1) shouldBe expected(r.getLong(0)))
  }
}
