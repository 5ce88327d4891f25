package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Decontamination, Dedup}

class DecontaminationSpec extends SparkTestBase {

  import spark.implicits._

  /** [[Decontamination.semanticReportIvfOn]] over the IVF index at `idx`. */
  private def ivfReport(idx: String, eval: org.apache.spark.sql.DataFrame,
      minCosine: Double, nprobe: Int) =
    Decontamination.semanticReportIvfOn(spark.read.parquet(idx),
      spark.read.parquet(idx + "__centroids"), eval, "vec_id", "embedding", "vec_id",
      minCosine, nprobe)

  private val evalDocs = Seq(
    (100L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  private val train = Seq(
    // contains "the quick brown fox jumps" and 4 more eval 5-grams
    (1L, "prefix words the quick brown fox jumps over the lazy dog suffix"),
    (2L, "completely different sentence about cooking pasta with olive oil"),
    (3L, "THE QUICK BROWN FOX JUMPS elsewhere"), // case-insensitive hit
    (4L, "too short")                            // < 5 words: no shingles
  ).toDF("doc_id", "text")

  test("contaminationReport counts distinct shared shingles per train doc") {
    val report = Decontamination
      .contaminationReport(train, evalDocs, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    // eval has 5 shingles; doc 1 embeds the full eval text → all 5 shared
    report shouldBe Map(1L -> 5L, 3L -> 1L)
  }

  test("dropContaminated removes flagged docs and keeps the rest") {
    val clean = Decontamination
      .dropContaminated(train, evalDocs, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    clean shouldBe Set(2L, 4L)
    // a lenient threshold keeps the single-shingle overlap
    val lenient = Decontamination
      .dropContaminated(train, evalDocs, "doc_id", "text", n = 5, maxShared = 1L)
      .select("doc_id").as[Long].collect().toSet
    lenient shouldBe Set(2L, 3L, 4L)
  }

  test("null-text rows are kept by the batch gate") {
    val withNull = train.union(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val batchKept = Decontamination
      .dropContaminated(withNull, evalDocs, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    batchKept should contain(9L)
  }

  test("evalExposureReport counts leaking docs and shingles per eval item") {
    val evals = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "an entirely unleaked evaluation question here")
    ).toDF("doc_id", "text")
    val report = Decontamination
      .evalExposureReport(train, evals, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // eval 100 leaks into train docs 1 and 3: doc 1 shares its 5 interior
    // 5-grams, doc 3 shares only "the quick brown fox jumps" (case-folded)
    report(100L) shouldBe ((2L, 5L))
    // unexposed eval items are absent, not zero rows
    report.contains(101L) shouldBe false
    Dedup.clearCaches()
  }

  test("input validation") {
    an[IllegalArgumentException] should be thrownBy
      Decontamination.contaminationReport(train, evalDocs, "doc_id", "text", n = 0)
  }

  test("semanticReport: nearest eval by cosine, smallest-id ties, threshold") {
    import spark.implicits._
    val r2 = (1.0 / math.sqrt(2)).toFloat
    val eval = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f)),   // exact copy of eval 1 → 1.0
      (11L, Array(0.6f, 0.8f)), // closer to eval 2 → 0.8
      (12L, Array(-1f, 0f)),  // max cosine 0.0 (vs eval 2) — ON the threshold
      (13L, Array(r2, r2)))   // equidistant: tie → SMALLEST eval id
      .toDF("vec_id", "embedding")
    val got = Decontamination.semanticReport(
      corpus, eval, "vec_id", "embedding", "vec_id", minCosine = 0.0)
      .collect().map(r => (r.getLong(0),
        (r.getDouble(1), r.getLong(2)))).toMap
    got(10L) shouldBe ((1.0, 1L))
    got(11L) shouldBe ((0.8, 2L))
    got(12L) shouldBe ((0.0, 2L)) // >= threshold keeps the boundary row
    got(13L)._2 shouldBe 1L // tie resolves to the smaller eval id
    // a higher threshold drops the boundary row from the report...
    Decontamination.semanticReport(
      corpus, eval, "vec_id", "embedding", "vec_id", minCosine = 0.5)
      .collect().map(_.getLong(0)).sorted shouldBe Array(10L, 11L, 13L)
    // string eval ids are rejected at the API edge (the tie rule negates)
    an[IllegalArgumentException] should be thrownBy
      Decontamination.semanticReport(
        corpus, eval.withColumn("vec_id", col("vec_id").cast("string")),
        "vec_id", "embedding", "vec_id", 0.0)
  }

  test("contaminationPairs: the (train, eval) provenance table and its marginals") {
    val pairs = Decontamination.contaminationPairs(
      train, evalDocs, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 shares all 5 eval shingles with eval 100; doc 3 shares 1
    pairs shouldBe Map((1L, 100L) -> 5L, (3L, 100L) -> 1L)
    // with a single eval doc the per-train sum over eval ids equals
    // contaminationReport (in general the report counts a shingle shared
    // with TWO eval docs once, the pair table once per pair — marginal
    // by doc set, not by sum)
    val report = Decontamination.contaminationReport(
      train, evalDocs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum } shouldBe report
  }

  test("maskContaminatedSpans: leaked spans mask word-for-word, clean docs absent") {
    val got = Decontamination.maskContaminatedSpans(
      train, evalDocs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1 embeds the full 9-word eval text at word offset 2: hits at
    // positions 2..6, coverage 2..10 — original-case neighbors survive
    got(1L) shouldBe (("prefix words " + Seq.fill(9)("<mask>").mkString(" ") +
      " suffix", 9L))
    // doc 3 shares ONE 5-gram at position 0 (case-insensitive match, the
    // shingle convention) — the mask lands on the ORIGINAL-case words
    got(3L) shouldBe ((Seq.fill(5)("<mask>").mkString(" ") + " elsewhere", 5L))
    // clean docs (2) and too-short docs (4) are absent
    got.keySet shouldBe Set(1L, 3L)
    // a custom single-token mask threads through; spaced masks are
    // rejected (they would shift word positions for downstream readers)
    Decontamination.maskContaminatedSpans(
      train, evalDocs, "doc_id", "text", n = 5, maskToken = "█")
      .collect().map(_.getString(1)).foreach(_ should include("█"))
    an[IllegalArgumentException] should be thrownBy
      Decontamination.maskContaminatedSpans(
        train, evalDocs, "doc_id", "text", n = 5, maskToken = "two words")
    // the generator's position column agrees with the declarative
    // posexplode over the shared shingle definition (the parity the
    // corpus-wide fan-out's correctness rides on)
    import spark.implicits._
    val t = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val gen = t.select(graft.functions.WordShingleHashesFunction
        .wordShingleHashes(col("text"), 2, withHashes = false, withPos = true)
        .as(Seq("pos", "s")))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    gen shouldBe Seq((0, "a b"), (1, "b a"), (2, "a b"), (3, "b c"))
  }

  test("semanticExposureReport: per-eval exposure counts, nearest train, threshold") {
    import spark.implicits._
    val r2 = (1.0 / math.sqrt(2)).toFloat
    val eval = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f)),     // eval 1: cos 1.0; eval 2: cos 0
      (11L, Array(0.6f, 0.8f)), // eval 1: 0.6; eval 2: 0.8
      (12L, Array(-1f, 0f)),    // eval 1: -1; eval 2: 0
      (13L, Array(r2, r2)))     // both: ~0.707107
      .toDF("vec_id", "embedding")
    val got = Decontamination.semanticExposureReport(
      corpus, eval, "vec_id", "embedding", "vec_id", minCosine = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // eval 1 is exposed by docs 10 (1.0), 11 (0.6), 13 (0.707…): nearest 10
    got(1L) shouldBe ((3L, 1.0, 10L))
    // eval 2 by docs 11 (0.8), 13: nearest 11
    got(2L) shouldBe ((2L, 0.8, 11L))
    // a threshold above every cosine → no exposed eval items at all
    Decontamination.semanticExposureReport(
      corpus, eval, "vec_id", "embedding", "vec_id", minCosine = 1.5)
      .count() shouldBe 0L
    // a nearest-train TIE resolves to the smaller train id
    val twin = Seq((20L, Array(1f, 0f)), (21L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    Decontamination.semanticExposureReport(
      twin, eval.filter(col("vec_id") === 1), "vec_id", "embedding", "vec_id", 0.5)
      .collect().head.getLong(3) shouldBe 20L
  }

  test("semanticContaminationPairs: flagged pairs only, marginals agree with the reports") {
    import spark.implicits._
    val r2 = (1.0 / math.sqrt(2)).toFloat
    val eval = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f)), (11L, Array(0.6f, 0.8f)),
      (12L, Array(-1f, 0f)), (13L, Array(r2, r2)))
      .toDF("vec_id", "embedding")
    val pairs = Decontamination.semanticContaminationPairs(
      corpus, eval, "vec_id", "embedding", "vec_id", minCosine = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.keySet shouldBe Set((10L, 1L), (11L, 1L), (11L, 2L), (13L, 1L), (13L, 2L))
    pairs((10L, 1L)) shouldBe 1.0
    pairs((11L, 2L)) shouldBe 0.8
    // the per-train argmax of the pair table IS semanticReport
    val report = Decontamination.semanticReport(
      corpus, eval, "vec_id", "embedding", "vec_id", minCosine = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    pairs.groupBy(_._1._1).foreach { case (t, m) =>
      val best = m.toSeq.map { case ((_, e), c) => (c, e) }
        .sortBy { case (c, e) => (-c, e) }.head
      report(t) shouldBe ((best._1, best._2))
    }
  }

  test("semanticReportIvf ≡ semanticReport at full probing; plan never shuffles corpus vectors") {
    import spark.implicits._
    val r2 = (1.0 / math.sqrt(2)).toFloat
    val eval = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(1f, 0f)), (11L, Array(0.6f, 0.8f)),
      (12L, Array(-1f, 0f)), (13L, Array(r2, r2)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_decontam_ivf").toString + "/idx"
    graft.pipeline.Similarity.buildIvfIndex(corpus, idx, k = 2, iters = 2)
    for (threshold <- Seq(0.0, 0.5, 0.9)) {
      val exact = Decontamination.semanticReport(
        corpus, eval, "vec_id", "embedding", "vec_id", threshold)
        .collect().map(_.toString).sorted
      // nprobe = nlist → exhaustive probing: row-for-row the broadcast form
      ivfReport(idx, eval, threshold, nprobe = 2)
        .collect().map(_.toString).sorted shouldBe exact
    }
    // the scale contract, structurally: the corpus side joins the
    // broadcast probe list and pre-aggregates — no sort-merge or
    // shuffled-hash join anywhere, so no corpus vector crosses an
    // exchange (the one data shuffle carries flagged triples)
    val plan = ivfReport(idx, eval, 0.5, nprobe = 2)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    plan should not include "ShuffledHashJoin"
  }

  test("semanticReportIvf at nprobe < nlist: planted same-cluster leaks are found") {
    import spark.implicits._
    // two well-separated direction clusters; seeds (smallest two ids) land
    // one per cluster, so 2-means converges to one centroid each
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0.99f, 0.14f)), (4L, Array(0.14f, 0.99f)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_decontam_ivf1").toString + "/idx"
    graft.pipeline.Similarity.buildIvfIndex(corpus, idx, k = 2, iters = 2)
    // eval items are exact copies of one member of each cluster: with
    // nprobe = 1 each probes only ITS cluster — both leaks still surface
    val eval = Seq((100L, Array(1f, 0f)), (200L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = ivfReport(idx, eval, minCosine = 0.99, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    got(1L) shouldBe 100L
    got(2L) shouldBe 200L
    an[IllegalArgumentException] should be thrownBy ivfReport(idx, eval, 0.5, nprobe = 0)
  }
}
