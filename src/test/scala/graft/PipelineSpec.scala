package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Operator-level checks for the phase-4 pipeline on small controlled data —
  * the driver's planted-pair oracle queries cover these at sf scale; these
  * specs pin the semantics on hand-built fixtures.
  */
class PipelineSpec extends SparkTestBase {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy dog near the river shore"), // near dup of 0
      (3L, "completely different text about apples oranges pears and plums today"),
      (4L, "yet another unrelated document mentioning spark catalyst optimizer rules")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts under the min id") {
    val rows = Dedup.exact(docs).collect()
    rows.length shouldBe 4
    val dup = rows.find(_.getLong(1) == 2L).get
    dup.getLong(0) shouldBe 0L // keep_id = min id of the duplicate group
  }

  test("minhash finds the near-duplicate and not the unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 2L))
    pairs.exists { case (a, b) => a == 3L || b == 3L } shouldBe false
    pairs.exists { case (a, b) => a == 4L || b == 4L } shouldBe false
  }

  test("simhash finds exact copies at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((0L, 1L))
  }

  test("simhash rejects an out-of-range maxHamming") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxHamming = 20)
    }
  }

  test("ngram jaccard verifies candidates exactly") {
    val rows = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3).collect()
    val pair = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 2L).get
    // 13 tokens → 11 shingles; the last differs → shared 10, union 12
    pair.getDouble(2) shouldBe (10.0 / 12.0 +- 0.0001)
  }

  test("connectedComponents matches union-find on random pair lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for (_ <- 0 until 3) {
      val edges = Seq.fill(40)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // both tiers must agree: the small-graph driver finish (default —
      // 40 edges is far under the threshold) and the distributed loop
      // (forced with driverFinishEdges = 0)
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val gotLoop = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), driverFinishEdges = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val expected = nodes.map(n => n -> find(n)).toMap
      got shouldBe expected
      gotLoop shouldBe expected
    }
  }

  test("connectedComponents handles string ids, self-pairs, duplicates, and empty input") {
    import spark.implicits._
    // document keys are often strings (urls, hashes) — min-label semantics
    // must work on any orderable id type, and degenerate pair lists
    // (self-pairs, repeated pairs) must not distort components
    val edges = Seq(("b", "c"), ("c", "d"), ("b", "c"), ("e", "e"), ("x", "a"))
      .toDF("id_a", "id_b")
    val expect = Map("b" -> "b", "c" -> "b", "d" -> "b", "e" -> "e", "a" -> "a", "x" -> "a")
    // both tiers: driver finish (default at this size) and the forced loop
    Dedup.connectedComponents(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap shouldBe expect
    Dedup.connectedComponents(edges, driverFinishEdges = 0L)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap shouldBe expect

    val (empty, iters) = Dedup.connectedComponentsIters(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    empty.count() shouldBe 0
    iters shouldBe 1
  }

  test("connectedComponents: null endpoints get identical labels from both tiers") {
    import spark.implicits._
    // null is not a node (r17 parity fix): a pair with a null side
    // contributes its non-null side as an isolated self-labeled node and
    // emits NO null-id row — from the driver tier AND the distributed loop
    val edges = Seq(("b", null), (null, "c"), ("x", "a"), (null, null))
      .toDF("id_a", "id_b")
    val expect = Map("b" -> "b", "c" -> "c", "a" -> "a", "x" -> "a")
    for (cap <- Seq(-1L, 0L)) { // default (driver tier at this size) / forced loop
      val got = Dedup.connectedComponents(edges, driverFinishEdges = cap).collect()
      got.foreach(r => withClue(s"cap=$cap: ") { r.isNullAt(0) shouldBe false })
      got.map(r => (r.getString(0), r.getString(1))).toMap shouldBe expect
      Dedup.clearCheckpoints()
    }
  }

  test("dropSeenBefore is exact even when the bloom is saturated with false positives") {
    import spark.implicits._
    val history = (0L until 200L).map(i => (i, s"seen text number $i")).toDF("doc_id", "text")
    val incoming = ((0L until 50L).map(i => (1000L + i, s"seen text number $i")) ++ // true dupes
      (0L until 200L).map(i => (2000L + i, s"brand new page $i")))                   // unseen
      .toDF("doc_id", "text")
    // a bloom sized for 1 item but fed 200 saturates — nearly every probe
    // is a false positive, so the exact confirm is doing all the work
    val kept = Dedup.dropSeenBefore(incoming, history, expectedItems = 1, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    kept shouldBe (0L until 200L).map(2000L + _).toSet
    // sanely-sized bloom: same exact answer, misses skip the confirm
    val kept2 = Dedup.dropSeenBefore(incoming, history, expectedItems = 1000)
      .select("doc_id").as[Long].collect().toSet
    kept2 shouldBe kept
    // the split predicate is the codegen'd bloom probe, applied map-side at
    // the scan (a parquet input — local fixtures constant-fold the probe)
    val real = Tables.df(spark, "/root/testdata/sf0.001", "documents")
    Dedup.dropSeenBefore(real, history, expectedItems = 1000)
      .queryExecution.executedPlan.toString should include("might_contain")
  }

  test("dropSeenBefore with an empty history keeps everything") {
    import spark.implicits._
    val incoming = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val history = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Dedup.dropSeenBefore(incoming, history, expectedItems = 10)
      .count() shouldBe 2L
  }

  test("dropNearDuplicates with no pairs keeps the corpus unchanged") {
    import spark.implicits._
    val docs = (1L to 4L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    kept.collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L, 4L)
    Dedup.clearCheckpoints()
  }

  test("connectedComponents propagates labels through chains, not just pairs") {
    import spark.implicits._
    // a 10-node chain (diameter 9 — several propagation rounds) + an
    // isolated pair + a triangle
    val edges = (0L until 9L).map(i => (i, i + 1)) ++
      Seq((100L, 101L)) ++ Seq((200L, 201L), (201L, 202L), (200L, 202L))
    // round-count assertions are about the distributed loop — pin it
    val (labels, iters) = Dedup.connectedComponentsIters(
      edges.toDF("id_a", "id_b"), driverFinishEdges = 0L)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // pointer jumping: ⌈log₂ diameter⌉ propagation rounds + 1 settling +
    // 1 confirming no-change round — NOT O(diameter)
    iters should be <= (math.ceil(math.log(9) / math.log(2)).toInt + 2)
    (0L to 9L).foreach(n => got(n) shouldBe 0L)
    got(100L) shouldBe 100L; got(101L) shouldBe 100L
    Seq(200L, 201L, 202L).foreach(n => got(n) shouldBe 200L)
    // non-convergence must fail loud, not return half-merged labels
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), maxIters = 2, driverFinishEdges = 0L)
    }
  }

  test("chained jumps converge to identical labels in fewer rounds") {
    import spark.implicits._
    // the converged fixed point (min id per component) is independent of
    // how many lookups each round chains; only the round count changes
    val edges = ((0L until 31L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("id_a", "id_b")
    val results = Seq(1, 2, 3).map { j =>
      val (labels, iters) = Dedup.connectedComponentsIters(
        edges, jumps = j, driverFinishEdges = 0L)
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      Dedup.clearCheckpoints()
      (got, iters)
    }
    results.map(_._1).distinct.length shouldBe 1            // identical labels
    val rounds = results.map(_._2)
    rounds(1) should be <= rounds(0)                         // 2 jumps: ≤ rounds of 1
    rounds(2) should be <= rounds(1)
    // (jumps+1)-ary reach: ⌈log_(j+1) 31⌉ + 2 upper bound per variant
    rounds.zip(Seq(1, 2, 3)).foreach { case (r, j) =>
      r should be <= (math.ceil(math.log(31) / math.log(j + 1)).toInt + 2)
    }
    an[IllegalArgumentException] should be thrownBy
      Dedup.connectedComponentsIters(edges, jumps = 0)
    an[IllegalArgumentException] should be thrownBy
      Dedup.connectedComponentsIters(edges, jumps = 5)
  }

  test("connectedComponents handles a long chain in logarithmic rounds") {
    import spark.implicits._
    // diameter 63 — the r6 implementation OOM'd an 8 GiB JVM at diameter 9
    // (plan doubled per round); per-round localCheckpoint keeps the plan
    // constant-size and pointer jumping keeps rounds logarithmic
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, iters) = Dedup.connectedComponentsIters(edges, driverFinishEdges = 0L)
    iters should be <= (math.ceil(math.log(63) / math.log(2)).toInt + 2)
    // lineage truncation, made executable: the returned frame's plan is a
    // constant-size scan over the last checkpoint, NOT 2^rounds subtrees
    labels.queryExecution.optimizedPlan.collect { case p => p }.length should be < 10
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    got.length shouldBe 64
    got.foreach { case (_, comp) => comp shouldBe 0L }
  }

  test("checkpointed edge table: a round's join plans with no edge-side exchange") {
    import spark.implicits._
    // Mirrors connectedComponentsIters' edge layout: symmetrized edges
    // repartitioned + sorted on src and lazily checkpointed. The LogicalRDD
    // must CARRY that distribution and ordering, so every pointer-jumping
    // round's edges⋈labels join adds no exchange (and no sort) above the
    // edge scan — the in-session bucketed-edge-table invariant the r13 CC
    // rework rests on. If a Spark upgrade stopped propagating checkpoint
    // partitioning, this would silently re-shuffle the corpus-sized edge
    // set every round; this test makes that loud.
    // The edge CHECKPOINT is created AQE-off, as in connectedComponentsIters
    // itself: under AQE the checkpoint wraps a non-final adaptive plan and
    // the partitioning comes back UNKNOWN (probe-verified) — which is
    // exactly why the production loop plans that one checkpoint statically,
    // through its own non-adaptive query execution
    // (`Internals.planStatically`), with the session left adaptive. The
    // ROUNDS, by contrast, run adaptive since r16 (label-sized exchanges
    // coalesce); both planning modes must keep the edge side exchange-free.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = (0L until 1000L).map(i => (i, i + 1)).toDF("src", "dst")
        .repartition(col("src")).sortWithinPartitions("src")
        .localCheckpoint(eager = false)
      val labels = (0L until 1000L).map(i => (i, i)).toDF("id", "component")
      def round() = edges.join(labels, edges("src") === labels("id"))
        .groupBy(edges("dst")).agg(min(col("component")).as("nbr_min"))
      val plan = round().queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
      // exactly TWO exchanges: the (unpartitioned here) labels side and the
      // label-sized groupBy(dst) — a third would be the edge side
      // re-shuffling
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
      // the preserved sort order means the edge side of the sort-merge join
      // needs no per-round re-sort either: one Sort (the labels side) at most
      "\\bSort \\[".r.findAllIn(plan).size should be <= 1
      round().collect().length shouldBe 1000 // dst values 1..1000
      // the adaptive round plan (production shape since r16): the FINAL
      // plan section still has only the two label-sized exchanges — the
      // checkpointed edge scan feeds the join bare (no exchange, no sort),
      // and AQE is free to coalesce the label-sized stages
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val adaptive = round()
      adaptive.collect().length shouldBe 1000
      val finalSection = adaptive.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      finalSection should include ("isFinalPlan=true")
      "Exchange hashpartitioning".r.findAllIn(finalSection).size shouldBe 2
      "\\bSort \\[".r.findAllIn(finalSection).size should be <= 1
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("nearDupMatches agrees with batch minhashPairs on every cross-side pair") {
    import spark.implicits._
    // same hash family, same bands, same threshold => the stream-static
    // matcher must find EXACTLY the corpus×incoming subset of what the
    // batch operator finds over the union — no extra, none missing
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    def doc() = Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 30L).map(i => (i, doc()))
    val copies = (0L until 10L).map(i => (100L + i, base(i.toInt)._2 + " omega"))
    val idx = graft.streaming.StreamingDedup.corpusBandIndex(base.toDF("doc_id", "text"))
    val streamForm = graft.streaming.StreamingDedup
      .nearDupMatches(copies.toDF("doc_id", "text"), idx)
      .select(col("corpus_id"), col("id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchForm = Dedup.minhashPairs((base ++ copies).toDF("doc_id", "text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 100L && b >= 100L }.toSet
    Dedup.clearCaches()
    streamForm shouldBe batchForm
    // the planted cross-boundary copies are all found
    (0L until 10L).foreach(i => streamForm should contain((i, 100L + i)))
  }

  test("dropNearDuplicates keeps one representative per transitive cluster") {
    import spark.implicits._
    // 1~2~3 chain ((1,3) never paired directly), isolated pair (7,8),
    // untouched singletons 4,5,6
    val docs = (1L to 8L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, pairs).collect().map(_.getLong(0)).sorted
    kept shouldBe Array(1L, 4L, 5L, 6L, 7L)
    Dedup.clearCheckpoints()
  }

  test("connectedComponents uses reliable checkpoints when the session has a checkpoint dir") {
    import spark.implicits._
    // with SparkContext.setCheckpointDir configured, every round must go
    // through durable checkpoint() (survives executor loss) instead of
    // executor-local blocks — asserted by the rdd-* checkpoint dirs the
    // rounds write under the configured path
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val edges = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val (labels, iters) = Dedup.connectedComponentsIters(edges, driverFinishEdges = 0L)
      iters should be <= (math.ceil(math.log(15) / math.log(2)).toInt + 2)
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
      got.length shouldBe 16
      got.foreach { case (_, comp) => comp shouldBe 0L }
      import scala.jdk.CollectionConverters._
      val rddDirs = java.nio.file.Files.walk(dir).iterator().asScala
        .count(_.getFileName.toString.startsWith("rdd-"))
      // edges + round-1 labels + one per later round all durably written
      rddDirs.toInt should be >= 3
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("small-graph driver finish: gated by edge count, block-free, broadcastable") {
    import spark.implicits._
    val edges = (0L until 31L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // under the default threshold the chain finishes driver-side in one
    // round-equivalent (round-1 job + collect), holding no checkpoint blocks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, iters) = Dedup.connectedComponentsIters(edges)
    iters shouldBe 1
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    got.length shouldBe 32
    got.foreach { case (_, comp) => comp shouldBe 0L }
    // the result is a LocalRelation with exact stats — small enough that the
    // keep-representatives anti join plans as a broadcast, not a shuffle
    labels.queryExecution.optimizedPlan.toString should include("LocalRelation")
    val docs = (0L to 40L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, edges)
    kept.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
    kept.collect().map(_.getLong(0)).sorted shouldBe (Array(0L) ++ (32L to 40L))
    // 62 directed edges over a 5-edge budget → the distributed loop runs
    val (_, loopIters) = Dedup.connectedComponentsIters(edges, driverFinishEdges = 5L)
    loopIters should be > 1
    Dedup.clearCheckpoints()
  }

  test("fractional ids always take the distributed loop (±0.0 parity)") {
    import spark.implicits._
    // Catalyst merges -0.0 and 0.0 as grouping keys; a driver HashMap of
    // boxed Doubles would not — so double ids are excluded from the tier
    // even under the default threshold
    val edges = Seq((-0.0, 1.5), (1.5, 2.5)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(edges)
    cc.queryExecution.optimizedPlan.toString should not include "LocalRelation"
    val got = cc.collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    // one chain, minimum id 0.0 (the normalized zero)
    got.values.toSet shouldBe Set(0.0)
    got.keySet.size shouldBe 3
    Dedup.clearCheckpoints()
  }

  test("driver finish orders strings by UTF-8 bytes, matching the loop's least") {
    import spark.implicits._
    // U+10000 ("𐀀") sorts BELOW U+E000 in UTF-16 code units but
    // ABOVE it in UTF-8 bytes (Catalyst's binary-collation order) — the two
    // tiers must pick the same component minimum
    val pairs = Seq(("𐀀", "")).toDF("id_a", "id_b")
    // hold the loop-tier frame in a val: its checkpoint blocks are weakly
    // registered, and a GC between here and clearCheckpoints must not
    // orphan them for a later suite's persistent-RDD assertions to trip on
    val smallDf = Dedup.connectedComponents(pairs)
    val loopDf = Dedup.connectedComponents(pairs, driverFinishEdges = 0L)
    val small = smallDf.collect().map(r => (r.getString(0), r.getString(1))).toMap
    val loop = loopDf.collect().map(r => (r.getString(0), r.getString(1))).toMap
    small shouldBe loop
    small.values.toSet shouldBe Set("")
    Dedup.clearCheckpoints()
  }

  test("embedding near-dup finds planted identical vectors") {
    import spark.implicits._
    val base = (0L until 50L).map(i => (i, Array.tabulate(16)(d => math.sin(i * 17.0 + d).toFloat)))
    val withDup = base :+ (999L, base(7)._2)
    val embs = withDup.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(embs, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((7L, 999L))
  }

  test("brute-force topk ranks the query vector itself first") {
    import spark.implicits._
    val embs = (0L until 30L)
      .map(i => (i, Array.tabulate(8)(d => math.cos(i * 3.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val q = embs.filter(col("vec_id") === 5).head().getSeq[Float](1)
    val top = Similarity.bruteForceTopK(embs, q, k = 3).collect()
    top.head.getLong(0) shouldBe 5L
    top.head.getDouble(1) shouldBe (1.0 +- 1e-9)
  }

  test("decode stub is deterministic and row-preserving") {
    val a = Multimodal.decode(docs).collect().sortBy(_.doc_id)
    val b = Multimodal.decode(docs).collect().sortBy(_.doc_id)
    a shouldBe b
    a.length shouldBe docs.count()
    all(a.map(_.channels)) shouldBe 3
  }

  test("decode reads REAL pixels from PNG/BMP payloads; non-images fall back") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    // 4x3 all-gray-100 RGB image: mean over every sample is exactly 100
    def pixels(img: BufferedImage): BufferedImage = {
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        img.setRGB(x, y, (100 << 16) | (100 << 8) | 100)
      img
    }
    def bytesOf(img: BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val png = bytesOf(pixels(new BufferedImage(4, 3, BufferedImage.TYPE_INT_RGB)), "png")
    val bmp = bytesOf(pixels(new BufferedImage(5, 2, BufferedImage.TYPE_3BYTE_BGR)), "bmp")
    // the TIFF plugin ships in every JDK since 9 — scan corpora decode too
    val tif = bytesOf(pixels(new BufferedImage(6, 4, BufferedImage.TYPE_3BYTE_BGR)), "tiff")
    val text = "BM but this is not a bitmap at all".getBytes("UTF-8")
    import spark.implicits._
    val media = Seq((1L, png), (2L, bmp), (3L, text), (4L, tif)).toDF("doc_id", "payload")
    val out = Multimodal.decodePayload(media).collect().sortBy(_.doc_id)
    // real decoded dimensions + channels + intensity, not byte-sum fakes
    out(0) shouldBe Multimodal.DecodedMedia(1L, png.length, 4, 3, 3, 100.0)
    out(1) shouldBe Multimodal.DecodedMedia(2L, bmp.length, 5, 2, 3, 100.0)
    out(3) shouldBe Multimodal.DecodedMedia(4L, tif.length, 6, 4, 3, 100.0)
    // the sniffed-but-undecodable payload takes the deterministic fallback
    val sum = text.map(_ & 0xff).map(_.toLong).sum
    out(2).width shouldBe 64 + (sum % 1024L).toInt
    out(2).mean_intensity shouldBe sum.toDouble / text.length
  }

  test("resize box-average resamples REAL pixels; fallback mean is the decode mean") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def png(w: Int, h: Int)(paint: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = paint(x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // 8x4 two-tone (left 40, right 200), maxSide=2 → 2x1 cells binning the
    // halves exactly: resized mean = (40 + 200) / 2 = 120, no tolerance
    val twoTone = png(8, 4)((x, _) => if (x < 4) 40 else 200)
    // uniform gray survives any box-average exactly
    val gray = png(6, 3)((_, _) => 100)
    // already inside the box → untouched dims, exact raster mean
    val small = png(4, 3)((_, _) => 100)
    val text = "not an image payload".getBytes("UTF-8")
    import spark.implicits._
    val media = Seq((1L, twoTone), (2L, gray), (3L, small), (4L, text))
      .toDF("doc_id", "payload")
    val out = Multimodal.resizePayload(media, maxSide = 2)
      .collect().sortBy(_.doc_id)
    out(0) shouldBe Multimodal.ResizedMedia(1L, 8, 4, 2, 1, 0.25, 120.0)
    out(1) shouldBe Multimodal.ResizedMedia(2L, 6, 3, 2, 1, 2.0 / 6.0, 100.0)
    val big = Multimodal.resizePayload(media.filter($"doc_id" === 3L), maxSide = 256)
      .collect()
    big.head shouldBe Multimodal.ResizedMedia(3L, 4, 3, 4, 3, 1.0, 100.0)
    // non-image: fallback dims, resized mean = decode mean (uniform raster)
    val d = Multimodal.decodePayload(media.filter($"doc_id" === 4L)).collect().head
    out(3).src_width shouldBe d.width
    out(3).resized_mean_intensity shouldBe d.mean_intensity
  }

  test("decodeAudio reads REAL PCM from WAV/AIFF/AU payloads; non-audio falls back") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 16-bit signed little-endian mono @ 16 kHz, 100 frames of constant
    // sample 8192: mean |amplitude| is exactly 8192/32768 = 0.25
    def wav(sampleValue: Short, frames: Int, channels: Int): Array[Byte] = {
      val fmt = new AudioFormat(16000f, 16, channels, true, false)
      val pcm = new Array[Byte](frames * channels * 2)
      var i = 0
      while (i < pcm.length) {
        pcm(i) = (sampleValue & 0xff).toByte
        pcm(i + 1) = ((sampleValue >> 8) & 0xff).toByte
        i += 2
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val mono = wav(8192, 100, 1)
    val stereo = wav(-4096, 50, 2)
    val text = "RIFF but not actually WAVE audio payload".getBytes("UTF-8")
    import spark.implicits._
    val media = Seq((1L, mono), (2L, stereo), (3L, text)).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudioPayload(media).collect().sortBy(_.doc_id)
    out(0) shouldBe Multimodal.DecodedAudio(1L, mono.length, 1, 16000.0, 100L,
      100.0 / 16000.0, 0.25)
    out(1) shouldBe Multimodal.DecodedAudio(2L, stereo.length, 2, 16000.0, 50L,
      50.0 / 16000.0, 4096.0 / 32768.0)
    // "RIFF"-prefixed text is not decodable audio → deterministic fallback
    val sum = text.map(_ & 0xff).map(_.toLong).sum
    out(2).channels shouldBe 1
    out(2).n_frames shouldBe text.length.toLong
    out(2).mean_abs_amplitude shouldBe sum.toDouble / text.length / 255.0
    // AIFF (big-endian PCM) and AU containers decode through the same JDK
    // provider chain to the identical exact amplitudes
    def container(t: AudioFileFormat.Type, sampleValue: Short, frames: Int): Array[Byte] = {
      val fmt = new AudioFormat(16000f, 16, 1, true, true) // big-endian PCM
      val pcm = new Array[Byte](frames * 2)
      var i = 0
      while (i < pcm.length) {
        pcm(i) = ((sampleValue >> 8) & 0xff).toByte
        pcm(i + 1) = (sampleValue & 0xff).toByte
        i += 2
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val o = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, t, o)
      o.toByteArray
    }
    val aiff = container(AudioFileFormat.Type.AIFF, 8192, 80)
    val au = container(AudioFileFormat.Type.AU, -16384, 40)
    val more = Seq((10L, aiff), (11L, au)).toDF("doc_id", "payload")
    val got = Multimodal.decodeAudioPayload(more).collect().sortBy(_.doc_id)
    got(0) shouldBe Multimodal.DecodedAudio(10L, aiff.length, 1, 16000.0, 80L,
      80.0 / 16000.0, 0.25)
    got(1) shouldBe Multimodal.DecodedAudio(11L, au.length, 1, 16000.0, 40L,
      40.0 / 16000.0, 0.5)
  }

  test("decodeAudio expands G.711 u-law/A-law compressed payloads via the JDK codec") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 8 kHz mono 16-bit PCM at constant sample 8192, compressed to G.711
    // inside an AU container — the compressed encodings the JDK ships a
    // codec for. The expansion is table-driven (ITU G.711), so the decode
    // must be deterministic and within quantization error of the source.
    def g711(enc: AudioFormat.Encoding, sampleValue: Short, frames: Int): Array[Byte] = {
      val pcmFmt = new AudioFormat(8000f, 16, 1, true, true)
      val pcm = new Array[Byte](frames * 2)
      var i = 0
      while (i < pcm.length) {
        pcm(i) = ((sampleValue >> 8) & 0xff).toByte
        pcm(i + 1) = (sampleValue & 0xff).toByte
        i += 2
      }
      val pcmAis = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), pcmFmt, frames.toLong)
      val compAis = AudioSystem.getAudioInputStream(enc, pcmAis)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(compAis, AudioFileFormat.Type.AU, out)
      out.toByteArray
    }
    val ulaw = g711(AudioFormat.Encoding.ULAW, 8192, 60)
    val alaw = g711(AudioFormat.Encoding.ALAW, -8192, 30)
    import spark.implicits._
    val media = Seq((1L, ulaw), (2L, alaw)).toDF("doc_id", "payload")
    val out = Multimodal.decodeAudioPayload(media).collect().sortBy(_.doc_id)
    // container metadata is exact: rate/channels/frame-count survive the
    // compress-expand round trip (NOT the byte-per-frame fallback shape)
    out(0).sample_rate_hz shouldBe 8000.0
    out(0).channels shouldBe 1
    out(0).n_frames shouldBe 60L
    out(0).duration_sec shouldBe 60.0 / 8000.0
    out(1).sample_rate_hz shouldBe 8000.0
    out(1).n_frames shouldBe 30L
    // decoded amplitude is the G.711-quantized source level: within the
    // codec's ~3% relative quantization error of |8192|/32768 = 0.25
    out(0).mean_abs_amplitude shouldBe 0.25 +- 0.01
    out(1).mean_abs_amplitude shouldBe 0.25 +- 0.01
    // and bit-deterministic across runs
    val again = Multimodal.decodeAudioPayload(media).collect().sortBy(_.doc_id)
    again shouldBe out
  }

  test("frame sampling walks REAL frame boundaries out of AVI containers (MJPEG)") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    def jpegFrame(v: Int): Array[Byte] = {
      val img = new BufferedImage(6, 4, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (v << 16) | (v << 8) | v)
      val baos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    // minimal RIFF/AVI: 'movi' LIST of 00dc chunks, each a whole JPEG
    // stream (MJPEG — every frame is an independent JPEG), even-padded
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def fourcc(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      def u32(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
      }
      val moviBody = frames.map(f => 8 + f.length + (f.length & 1)).sum + 4
      fourcc("RIFF"); u32(4 + 8 + moviBody); fourcc("AVI ")
      fourcc("LIST"); u32(moviBody); fourcc("movi")
      frames.foreach { f =>
        fourcc("00dc"); u32(f.length); out.write(f)
        if ((f.length & 1) == 1) out.write(0)
      }
      out.toByteArray
    }
    val vals = Seq(10, 60, 110, 160, 210)
    val clip = avi(vals.map(jpegFrame))
    import spark.implicits._
    val media = Seq((1L, clip),
      (2L, "RIFF....AVI but not actually a video".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val got = Multimodal.frameSamplePayload(media, maxFrames = 3)
      .collect().groupBy(_.doc_id)
    // 5 source frames sampled at 0, 2, 4; checksums from DECODED pixels —
    // distinct because the frames' gray levels differ
    got(1L).map(_.frame_idx).sorted shouldBe Array(0, 2, 4)
    got(1L).map(_.frame_checksum).distinct.length shouldBe 3
    // checksums are the decoded-raster FNV, not byte hashes: re-encoding
    // the same pixels must reproduce them even if JPEG bytes differ
    val again = Multimodal.frameSamplePayload(
        Seq((1L, avi(vals.map(jpegFrame)))).toDF("doc_id", "payload"), maxFrames = 3)
      .collect().sortBy(_.frame_idx)
    again.map(_.frame_checksum) shouldBe got(1L).sortBy(_.frame_idx).map(_.frame_checksum)
    // sniffed-but-unparseable AVI prefix: the byte-block fallback
    got(2L).map(_.frame_idx).sorted shouldBe Array(0)
    // a non-JPEG codec still gets REAL boundaries: frame-byte checksums
    val raw = avi(Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6, 7)))
    val rawGot = Multimodal.frameSamplePayload(
        Seq((3L, raw)).toDF("doc_id", "payload"), maxFrames = 9)
      .collect().sortBy(_.frame_idx)
    rawGot.map(_.frame_idx) shouldBe Array(0, 1)
    rawGot.map(_.frame_checksum).distinct.length shouldBe 2
  }

  test("hostile media payloads: deep RIFF nesting and bomb-sized GIF headers fall back cheaply") {
    import spark.implicits._
    def u32le(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // 50k-deep pure LIST nesting with one real MJPEG frame at the bottom —
    // the r16 recursive walk would overflow the JVM stack here; the r17
    // iterative walk must still recover the frame (a pure nesting chain
    // costs ZERO continuation-stack entries)
    val jpeg = {
      val img = new java.awt.image.BufferedImage(
        6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, 0x335577)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
    var body = "00dc".getBytes("US-ASCII") ++ u32le(jpeg.length) ++ jpeg ++
      (if ((jpeg.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
    for (_ <- 1 to 50000)
      body = "LIST".getBytes("US-ASCII") ++ u32le(body.length + 4) ++
        "movi".getBytes("US-ASCII") ++ body
    val deepAvi = "RIFF".getBytes("US-ASCII") ++ u32le(body.length + 4) ++
      "AVI ".getBytes("US-ASCII") ++ body
    val deepGot = Multimodal.frameSamplePayload(
        Seq((1L, deepAvi)).toDF("doc_id", "payload"), maxFrames = 3).collect()
    deepGot.map(_.frame_idx) shouldBe Array(0) // the buried frame, found
    // a hand-written GIF declaring a 65535×65535 raster (17 GB ARGB): the
    // r17 header-dimension guard must take the byte-block fallback without
    // ever allocating the raster
    val bombGif = "GIF89a".getBytes("US-ASCII") ++
      Array(0xff, 0xff, 0xff, 0xff, 0xf0, 0x00, 0x00).map(_.toByte) ++ // LSD 65535×65535 + GCT flag
      Array.fill(6)(0x00.toByte) ++ // 2-color GCT
      Array(0x2c, 0x00, 0x00, 0x00, 0x00, 0xff, 0xff, 0xff, 0xff, 0x00).map(_.toByte) ++ // huge image descriptor
      Array(0x02, 0x02, 0x44, 0x01, 0x00, 0x3b).map(_.toByte) // stub LZW data + trailer
    val bombGot = Multimodal.frameSamplePayload(
        Seq((2L, bombGif)).toDF("doc_id", "payload"), maxFrames = 3).collect()
    // byte-block fallback shape: one frame per 1000 bytes (the payload is
    // tiny, so exactly one), checksummed from bytes — not a decoded raster
    bombGot.map(_.frame_idx) shouldBe Array(0)
    // the still-image tiers take the same cheap fallback on the bomb header
    val decoded = Multimodal.decodePayload(
      Seq((2L, bombGif)).toDF("doc_id", "payload")).collect().head
    decoded.width should be < 2000 // byte-sum fallback dims, not 65535
  }

  test("resize preserves aspect ratio within the bounding box") {
    val out = Multimodal.resize(docs, maxSide = 100).collect()
    out.length shouldBe docs.count()
    all(out.map(r => math.max(r.dst_width, r.dst_height))) should be <= 100
    out.foreach { r =>
      if (math.max(r.src_width, r.src_height) <= 100) {
        r.dst_width shouldBe r.src_width
        r.dst_height shouldBe r.src_height
      }
    }
  }

  test("frame sampling emits one frame per 1000 bytes, capped, deterministic") {
    val a = Multimodal.frameSample(docs).collect().sortBy(f => (f.doc_id, f.frame_idx))
    val b = Multimodal.frameSample(docs).collect().sortBy(f => (f.doc_id, f.frame_idx))
    a shouldBe b
    val byDoc = a.groupBy(_.doc_id)
    docs.select("doc_id", "text").collect().foreach { row =>
      val n = row.getString(1).getBytes("UTF-8").length
      byDoc(row.getLong(0)).length shouldBe math.min(n / 1000 + 1, 5)
    }
  }

  test("frame sampling decodes REAL frames from animated GIF payloads") {
    import java.awt.image.BufferedImage
    import javax.imageio.{IIOImage, ImageIO}
    def frame(v: Int): BufferedImage = {
      val img = new BufferedImage(6, 4, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (v << 16) | (v << 8) | v)
      img
    }
    def animatedGif(vals: Seq[Int]): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val baos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(baos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      vals.foreach(v => writer.writeToSequence(new IIOImage(frame(v), null, null), null))
      writer.endWriteSequence(); ios.close(); writer.dispose()
      baos.toByteArray
    }
    import spark.implicits._
    val gif5 = animatedGif(Seq(10, 60, 110, 160, 210))
    val media = Seq((1L, gif5),
      (2L, "GIF8 but not actually a gif payload".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val got = Multimodal.frameSamplePayload(media, maxFrames = 3)
      .collect().groupBy(_.doc_id)
    // 5 source frames sampled at indices 0, 2, 4 (first and last included),
    // each checksum from DECODED pixels — distinct since the frames differ
    got(1L).map(_.frame_idx).sorted shouldBe Array(0, 2, 4)
    got(1L).map(_.frame_checksum).distinct.length shouldBe 3
    // sniffed-but-undecodable: the deterministic byte-block fallback
    got(2L).map(_.frame_idx).sorted shouldBe Array(0)
    // asking for more frames than exist returns every source frame once
    Multimodal.frameSamplePayload(media.filter($"doc_id" === 1L), maxFrames = 9)
      .collect().map(_.frame_idx).sorted shouldBe Array(0, 1, 2, 3, 4)
  }

  test("bpe token stats count subword-ish runs") {
    import spark.implicits._
    val d = Seq((1L, "I can't count 42 tokens, obviously!")).toDF("doc_id", "text")
    val r = TextAnalysis.bpeTokenStats(d).head()
    // I | ' can' -> no: " can" | 't | " count" | " 42" | " tokens" | "," | " obviously" | "!"
    r.getInt(1) shouldBe 9
    r.getInt(3) shouldBe 1 // one digit run
  }

  test("language id picks the stopword-heavy language") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat and the dog is in the house", "en"),
      (2L, "el perro y el gato en la casa con los amigos", "es")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langIdGuess(d).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    out(1L) shouldBe "en"
    out(2L) shouldBe "es"
  }

  test("phash banding finds every pair within maxHamming and nothing beyond") {
    val s = spark
    import s.implicits._
    // controlled 60-bit hashes: banding must be decided by Hamming distance
    // alone, so drive the operator with explicit phash values
    val base = 0x0123456789ABCDL
    def flip(bits: Int*): Long = bits.foldLeft(base)((h, b) => h ^ (1L << b))
    val hashed = Seq(
      (1L, base),
      (2L, base),                            // hamming 0
      (3L, flip(0, 13, 27, 41, 59)),         // hamming 5: spread across bands
      (4L, flip(0, 1, 2, 3, 4, 5)),          // hamming 6: must NOT match id 1
      (5L, flip(59))                         // hamming 1
    ).toDF("doc_id", "phash")
    val pairs = Multimodal.phashNearDupPairs(hashed, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    pairs((1L, 2L)) shouldBe 0
    pairs((1L, 3L)) shouldBe 5
    pairs((1L, 5L)) shouldBe 1
    pairs((2L, 3L)) shouldBe 5
    pairs.keySet should not contain ((1L, 4L))
    // id 4 is within 5 of nothing except... check it against 3 and 5: both
    // beyond 5 bits → absent entirely on the left or right
    pairs.keys.flatMap(p => Seq(p._1, p._2)) should not contain 4L
    // stub hash: identical payloads collide, distinct payloads do not
    val media = Seq((1L, "same bytes"), (2L, "same bytes"), (3L, "other"))
      .toDF("doc_id", "text")
    val h = Multimodal.pHashStub(Multimodal.withPayload(media))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    h(1L) shouldBe h(2L)
    h(1L) should not be h(3L)
    an[IllegalArgumentException] should be thrownBy
      Multimodal.phashNearDupPairs(hashed, maxHamming = 60)
  }
}
