package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineSimilarity, hyperplaneBucket}
import graft.pipeline.Similarity

/** The ANN index must behave like an index: a probe reads only the probed
  * bucket directories (Spark partition pruning), not the whole table.
  */
class AnnIndexSpec extends SparkTestBase {

  /** Find the file scan anywhere in an executed plan, descending through
    * AQE wrapper nodes and materialized query stages (whose inner plan is
    * not part of `children`, so a plain `collectFirst` misses it once the
    * query has an exchange).
    */
  private def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
    case q: QueryStageExec        => findScan(q.plan)
    case s: FileSourceScanExec    => Some(s)
    case other                    => other.children.view.flatMap(findScan(_)).headOption
  }

  /** The live probe entry points take resolved frames; these resolve an
    * index path once per call, as a query over a frozen index would.
    */
  private def lshProbe(path: String, q: Seq[Float], k: Int, bits: Int, seed: Long = 7L,
      tables: Int = 2) =
    Similarity.lshTopKIndexedOn(spark.read.parquet(path), q, k, bits, seed, tables)

  private def ivfProbe(path: String, q: Seq[Float], k: Int, nprobe: Int = 3) =
    Similarity.ivfTopKOn(spark.read.parquet(path),
      spark.read.parquet(path + "__centroids")
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq,
      q, k, nprobe)

  /** Full-scan LSH oracle for the indexed probe: every row's bucket is
    * computed, then filtered to the query's probe set — the same answer
    * the pruned index read must give, at the cost of a full scan.
    */
  private def lshScan(embs: DataFrame, q: Seq[Float], k: Int, bits: Int, seed: Long) =
    embs.select(col("vec_id"), col("embedding"),
        hyperplaneBucket(col("embedding"), bits, seed).as("bucket"))
      .filter(col("bucket").isin(Similarity.probesOf(q, bits, seed): _*))
      .select(col("vec_id"),
        round(cosineSimilarity(col("embedding"), typedLit(q)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)

  private lazy val (indexPath, query, nPartitions) = {
    import spark.implicits._
    val embs = (0L until 256L)
      .map(i => (i, Array.tabulate(16)(d => math.sin(i * 13.0 + d * 7.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_ann_test").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/index"
    Similarity.buildLshIndex(embs, path, bits = 4, seed = 7L, tables = 1)
    val q = embs.filter(col("vec_id") === 3).head().getSeq[Float](1)
    val parts = new java.io.File(path, "tbl=0").listFiles().count(_.getName.startsWith("bucket="))
    (path, q, parts)
  }

  test("index layout is partitioned by bucket") {
    nPartitions should be > 2
    nPartitions should be <= 16
  }

  test("probe prunes to the probed bucket partitions") {
    val df = lshProbe(indexPath, query, k = 5, bits = 4, tables = 1)
    val rows = df.collect()
    rows.length shouldBe 5
    rows.head.getLong(0) shouldBe 3L // the query vector itself ranks first

    val scan = findScan(df.queryExecution.executedPlan).get
    assert(scan.partitionFilters.nonEmpty, "bucket filter must be a partition filter")
    // 5 probe buckets (bucket + 4 Hamming-1 neighbors) out of up to 16: the
    // scan must read strictly fewer part-files than the index holds
    val probed = Similarity.probesOf(query, bits = 4, seed = 7L).toSet
    def parquetFiles(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    val totalFiles = parquetFiles(new java.io.File(indexPath))
    val readFiles = scan.metrics("numFiles").value
    readFiles should be < totalFiles
    // and no more bucket directories than probed
    scan.metrics("numPartitions").value should be <= probed.size.toLong
  }

  test("indexed probe agrees with the unindexed scan path") {
    val embs = spark.read.parquet(indexPath).select(col("vec_id"), col("embedding"))
    val indexed = lshProbe(indexPath, query, k = 5, bits = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scanned = lshScan(embs, query, k = 5, bits = 4, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    indexed shouldBe scanned
  }

  test("ANN recall: indexed probes overlap@10 >= 8 with brute force at sf0.01") {
    // the approximate paths must return (nearly) the same neighbors as the
    // exact scan, not just *some* 10 vectors — a probe reading the wrong
    // buckets would pass every pruning assertion and still be useless.
    //
    // Parameter sizing: the synthetic embeddings are near-random (the true
    // top-10 cosines are only ~0.26-0.37), which is LSH's adversarial case —
    // neighbor and non-neighbor angles barely differ, so per-table collision
    // rates are low and recall must come from table count. bits=4 follows
    // the documented log2(n / bucket_rows) rule for n=500; tables=4 gives
    // deterministic 10/10 overlap here (verified against a driver-side
    // replay of the plane family). Real embedding corpora (cosine >= 0.8
    // near-dup targets) get the same recall with far fewer probes.
    val embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = embs.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val exact = Similarity.bruteForceTopK(embs, q, k = 10)
      .collect().map(_.getLong(0)).toSet

    val dir = Files.createTempDirectory("graft_ann_recall").toFile
    dir.deleteOnExit()
    val lshPath = dir.getAbsolutePath + "/lsh"
    val ivfPath = dir.getAbsolutePath + "/ivf"
    Similarity.buildLshIndex(embs, lshPath, bits = 4, tables = 4)
    Similarity.buildIvfIndex(embs, ivfPath)

    val lsh = lshProbe(lshPath, q, k = 10, bits = 4, tables = 4)
      .collect().map(_.getLong(0)).toSet
    val ivf = ivfProbe(ivfPath, q, k = 10)
      .collect().map(_.getLong(0)).toSet

    withClue(s"LSH overlap@10 vs brute force (exact=$exact lsh=$lsh): ") {
      exact.intersect(lsh).size should be >= 8
    }
    withClue(s"IVF overlap@10 vs brute force (exact=$exact ivf=$ivf): ") {
      exact.intersect(ivf).size should be >= 8
    }
  }

  test("batch IVF probe at full nprobe equals the brute-force batch; fewer probes keep recall") {
    import spark.implicits._
    val embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dir = Files.createTempDirectory("graft_ivf_batch").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/ivf"
    Similarity.buildIvfIndex(embs, path, k = 16)
    val queries = embs.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus = embs.filter(col("vec_id") >= 6)
    val exact = Similarity.bruteForceTopKBatch(corpus, queries, k = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // probing every centroid = exhaustive: must match brute force row for row
    val index = spark.read.parquet(path)
    val centroids = spark.read.parquet(path + "__centroids")
    val all = Similarity.ivfTopKBatchOn(index, centroids, queries, k = 8, nprobe = 16,
        corpusFilter = col("vec_id") >= 6)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    all shouldBe exact
    // a partial probe keeps high overlap on this adversarially random corpus
    val partial = Similarity.ivfTopKBatchOn(index, centroids, queries, k = 8, nprobe = 8,
        corpusFilter = col("vec_id") >= 6)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    partial.intersect(exact).size should be >= (exact.size * 3) / 4
  }

  test("int8 quantization: bounded codes, tight reconstruction, high probe recall") {
    import spark.implicits._
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = Similarity.quantizeInt8(embs)
    // every code in [-127, 127]; the max-|component| of each vector maps to ±127
    val stats = q.select(
      expr("aggregate(codes, 127, (a, c) -> least(a, CAST(c AS INT)))").as("mn"),
      expr("aggregate(codes, -127, (a, c) -> greatest(a, CAST(c AS INT)))").as("mx"))
      .agg(min(col("mn")), max(col("mx"))).head()
    stats.getInt(0) should be >= -127
    stats.getInt(1) should be <= 127
    // reconstruction error <= scale/2 per component
    val maxErr = q.join(embs, Seq("vec_id"))
      .select(expr(
        "aggregate(zip_with(codes, embedding, (c, x) -> " +
          "abs(CAST(c AS DOUBLE) * scale - CAST(x AS DOUBLE)) / scale), 0.0D, " +
          "(a, e) -> greatest(a, e))").as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    maxErr should be <= 0.5
    // zero vector: scale 1, all-zero codes (no NaN/0-division path)
    val z = Similarity.quantizeInt8(
      Seq((99L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")).head()
    z.getDouble(1) shouldBe 1.0
    z.getSeq[Byte](2).forall(_ == 0) shouldBe true
    // a null code SLOT is invalid quantized data: the reconstruction goes
    // NULL instead of silently reading the slot as 0
    val nullSlot = Seq((1L, Seq[java.lang.Byte](1.toByte, null, 3.toByte), 0.5))
      .toDF("vec_id", "codes", "scale")
      .select(graft.functions.VectorFunctions.dequantizeInt8(col("codes"), col("scale")))
      .head()
    nullSlot.isNullAt(0) shouldBe true
    // asymmetric probe recall vs float32 brute force: int8 error is ~0.4%
    // relative, so the top-10 overlap stays high even on near-random cosines
    val qv = embs.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val exact = Similarity.bruteForceTopK(embs, qv, k = 10).select("vec_id")
      .as[Long].collect().toSet
    val viaInt8 = Similarity.int8TopK(Similarity.quantizeInt8(embs), qv, k = 10)
      .select("vec_id").as[Long].collect().toSet
    (exact & viaInt8).size should be >= 8
    viaInt8 should contain(0L) // the query's own (quantized) copy still ranks top
  }

  test("product quantization: codebook shape, code bounds, exact-copy ranking, recall") {
    import spark.implicits._
    // 4 well-separated axis clusters in 8-dim (the SemanticDedupSpec corpus
    // shape) — structure PQ's per-subspace quantizers can actually learn
    def vec(id: Long): Seq[Float] = {
      val axis = (id % 4).toInt
      val rnd = new scala.util.Random(id)
      Seq.tabulate(8)(d => (if (d == axis * 2) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
    }
    val base = (0L until 120L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val cbs = Similarity.learnPqCodebooks(base, m = 2, ksub = 8)
    cbs.length shouldBe 2
    cbs.foreach { cb => cb.length shouldBe 8; cb.foreach(_.length shouldBe 4) }
    val encoded = Similarity.encodePq(base, cbs)
    val bounds = encoded.select(
      expr("aggregate(codes, CAST(0 AS INT), (a, c) -> greatest(a, CAST(c AS INT)))").as("mx"),
      expr("aggregate(codes, CAST(0 AS INT), (a, c) -> least(a, CAST(c AS INT)))").as("mn"))
      .agg(max(col("mx")), min(col("mn"))).head()
    bounds.getInt(0) should be < 8
    bounds.getInt(1) should be >= 0
    // exact copies of vector 7 share its codes, so their ADC scores tie
    // BITWISE with vector 7's and with the top of the ranking — PQ's
    // lossiness cannot split identical codes. (They need not fill the
    // top-k: in this clustered corpus the whole cluster quantizes to the
    // same codes and the id tie-break favors low corpus ids — the
    // coarse-quantization regime working as designed.)
    val q7 = vec(7L)
    val copies = (0 until 5).map(i => (5000L + i, q7)).toDF("vec_id", "embedding")
    val scored = Similarity.pqTopK(
      Similarity.encodePq(base.union(copies), cbs), cbs, q7, k = 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s7 = scored(7L)
    (0 until 5).foreach(i => scored(5000L + i) shouldBe s7)
    scored.values.max shouldBe s7 // tied for first, never below
    // clustered recall: ADC top-10 against the float32 brute force
    val exact = Similarity.bruteForceTopK(base, q7, k = 10)
      .select("vec_id").as[Long].collect().toSet
    val viaPq = Similarity.pqTopK(encoded, cbs, q7, k = 10)
      .select("vec_id").as[Long].collect().toSet
    (exact & viaPq).size should be >= 5
    // storage honesty: codes are m tinyints — the 32x story for 64-dim
    encoded.schema("codes").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType shouldBe org.apache.spark.sql.types.ByteType
  }

  test("IVF sample-based centroid learning keeps recall and index shape") {
    // the scale lever: Lloyd passes scan only a seeded sample while
    // assignment + write stay full-corpus. The index must still hold every
    // vector exactly once and keep brute-force-level recall.
    val embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = embs.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val exact = Similarity.bruteForceTopK(embs, q, k = 10)
      .collect().map(_.getLong(0)).toSet

    val dir = Files.createTempDirectory("graft_ivf_sample").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/ivf"
    Similarity.buildIvfIndex(embs, path, learnFraction = 0.5)

    spark.read.parquet(path + "__centroids").count() shouldBe 16L
    spark.read.parquet(path).count() shouldBe embs.count()
    val ivf = ivfProbe(path, q, k = 10)
      .collect().map(_.getLong(0)).toSet
    withClue(s"sample-learned IVF overlap@10 vs brute force (exact=$exact ivf=$ivf): ") {
      exact.intersect(ivf).size should be >= 8
    }
  }

  test("IVF sample smaller than k falls back to full-corpus seeding") {
    import spark.implicits._
    val embs = (0L until 200L)
      .map(i => (i, Array.tabulate(16)(d => math.sin(i * 13.0 + d * 7.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_ivf_tiny_sample").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/ivf"
    // ~2 sampled rows < k=8 seeds: must not produce a degenerate quantizer
    Similarity.buildIvfIndex(embs, path, k = 8, iters = 1, learnFraction = 0.01)
    spark.read.parquet(path + "__centroids").count() shouldBe 8L
    spark.read.parquet(path).count() shouldBe 200L
  }

  test("IVF index finds the query vector through pruned partitions") {
    import spark.implicits._
    val embs = (0L until 200L)
      .map(i => (i, Array.tabulate(16)(d => math.sin(i * 13.0 + d * 7.0).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_ivf_test").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/ivf"
    Similarity.buildIvfIndex(embs, path, k = 8, iters = 2)

    // index layout: one directory per centroid, plus the centroid table
    val cidDirs = new java.io.File(path).listFiles().count(_.getName.startsWith("cid="))
    cidDirs should be > 1
    spark.read.parquet(path + "__centroids").count() shouldBe 8L

    val q = embs.filter(col("vec_id") === 42).head().getSeq[Float](1)
    val df = ivfProbe(path, q, k = 5, nprobe = 2)
    val rows = df.collect()
    rows.head.getLong(0) shouldBe 42L // the vector itself is in a probed list
    rows.head.getDouble(1) shouldBe (1.0 +- 1e-6)

    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.partitionFilters.nonEmpty, "cid filter must prune partitions")
    scan.metrics("numPartitions").value should be <= 2L
  }
}
