package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Internals
import org.apache.spark.sql.internal.SQLConf

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators for large-scale document corpora (driver prompt;
  * SURVEY.md §7 phase 4). Every operator is a pure DataFrame → DataFrame
  * transform built to scale:
  *
  *   - signatures (minhash / simhash / buckets) are computed map-side in one
  *     pass, no shuffle, over DISTINCT texts only (exact-duplicate pre-pass:
  *     a 100 TB crawl is full of identical documents, and collapsing them
  *     first keeps them from forming quadratic LSH buckets);
  *   - candidate generation shuffles only on small bucket keys (band hash /
  *     simhash chunk / LSH bucket), never all-pairs;
  *   - every bucket join is capped ([[defaultBucketCap]]): buckets larger
  *     than the cap are dropped before the self-join, so one skewed key
  *     (boilerplate, empty docs) cannot go quadratic — genuinely similar
  *     members of an over-full bucket still pair through their other
  *     bands/chunks;
  *   - the band-explode stream carries only (doc_id, band, hash) — wide
  *     signature arrays are joined back *after* candidate pruning, so the
  *     big shuffle stays narrow.
  */
object Dedup {

  private def tokens(textCol: String) = split(lower(col(textCol)), " ")

  /** Skew guard for every LSH bucket self-join: buckets keep at most this
    * many members before pairing, so one bucket contributes at most
    * cap·(cap−1)/2 pairs — 8,128 at the default 128, a bounded pair budget
    * regardless of corpus size (the r2 cap of 1,000 *members* still admitted
    * ~500k pairs from a single degenerate key). A true near-dup pair whose
    * bucket is truncated is still caught through its other bands / chunks /
    * tables with near-certainty.
    */
  val defaultBucketCap: Int = 128

  // the columns the text and the vector operators read
  private val DocId = "doc_id"
  private val Text = "text"
  private val VecId = "vec_id"
  private val Embedding = "embedding"

  private val capSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Keep the first `cap` members (by ascending id — deterministic) of each
    * bucket keyed by `keys`; rows beyond the cap are shed. One window over
    * the same shuffle key the join uses — linear. Truncating (rather than
    * dropping the whole bucket, as r1-r3 did) preserves partial recall
    * inside oversized buckets while bounding the self-join at
    * cap·(cap−1)/2 pairs per bucket. The shed row count is published as an
    * `observe` metric (`graft_cap_*`, column `rows_shed`) so recall loss at
    * scale is visible to listeners instead of silent.
    */
  private[graft] def capBuckets(df: DataFrame, cap: Int, keys: String*): DataFrame =
    df.withColumn("__bucket_i",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(col("id"))))
      .observe(s"graft_cap_${capSeq.incrementAndGet()}",
        sum(when(col("__bucket_i") > cap, 1L).otherwise(0L)).as("rows_shed"))
      .filter(col("__bucket_i") <= cap)
      .drop("__bucket_i")

  /** Frames persisted by the pipeline operators (signature caches and other
    * once-computed-twice-read frames; [[TextAnalysis.dropBoilerplate]]'s
    * exploded span stream uses the same registry). Spark offers no reliable
    * unpersist-after-terminal-action hook on a
    * returned-but-not-yet-executed DataFrame, so
    * the contract is caller-must-clear: call [[clearCaches]] (or
    * `spark.catalog.clearCache()`, which reaches the same Dataset-level
    * cache entries) once the results of a dedup call have been consumed.
    * Unpersisting early is always safe — downstream reads just recompute.
    * Checkpoint blocks behind [[connectedComponents]] results are a
    * SEPARATE pool with destructive-clear semantics — see
    * [[clearCheckpoints]].
    */
  private val cachedFrames = scala.collection.mutable.ListBuffer.empty[DataFrame]

  private[graft] def cache(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    cachedFrames += p
    p
  }

  /** Checkpoint blocks owned by returned [[connectedComponents]] frames.
    * `localCheckpoint` persists at the RDD level, which neither
    * `Dataset.unpersist` nor `spark.catalog.clearCache()` reaches. Held as
    * WEAK references: [[clearCheckpoints]] frees whatever is still live,
    * while a frame the caller simply dropped stays collectible — the
    * ContextCleaner's GC-triggered unpersist (the no-registry fallback)
    * keeps working instead of being pinned by this list for the session.
    */
  private val checkpointedRdds =
    scala.collection.mutable.ListBuffer.empty[scala.ref.WeakReference[RDD[_]]]

  /** The RDDs a localCheckpoint()'d frame's plan scans (empty for
    * non-checkpointed frames). Checkpointing rewrites the logical plan to a
    * [[LogicalRDD]] leaf over the persisted block RDD — that leaf is the
    * unpersist handle.
    */
  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Register a checkpointed frame's blocks in the [[clearCheckpoints]]
    * pool — the hook for iterative operators outside this object (e.g.
    * [[graft.operators.PageRank]]) that adopt the bucketed-checkpoint loop
    * shape and need the same harness-managed block lifecycle.
    */
  private[graft] def registerCheckpointBlocks(df: DataFrame): Unit = synchronized {
    checkpointedRdds ++= checkpointRdds(df).map(scala.ref.WeakReference(_))
  }

  /** The one lazy-checkpoint idiom the iterative/sliced operators share:
    * reliable checkpoint when the session has a checkpoint dir, local
    * otherwise, blocks registered in the [[clearCheckpoints]] pool. (The
    * CC loop manages its per-round blocks by hand for eager hygiene and
    * does not use this.)
    */
  private[graft] def lazyCheckpoint(df: DataFrame): DataFrame = {
    val c =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    registerCheckpointBlocks(c)
    c
  }

  /** Data-size-adaptive partition count for the statically planned
    * checkpoint LAYOUTS (the CC/PageRank/LPA once-shuffled edge/vertex
    * tables). Those layouts must plan without AQE (a checkpoint planned
    * under AQE carries UNKNOWN partitioning and the edge table would
    * re-shuffle every round), which also pins them at the static
    * `spark.sql.shuffle.partitions` —
    * 32 tasks per stage over a KB-sized graph, and every per-round join
    * co-partitioned with the layout inherits that width (r21 baseline:
    * q_graph_pagerank ran 588 tasks for a 50-vertex graph). This applies
    * the AQE coalescing POLICY to the layout by hand: partitions =
    * ceil(estimated bytes / advisory), clamped to [2, shuffle.partitions]
    * (see [[layoutPartitionsForBytes]] for the floor's rationale).
    *
    * The size source is Catalyst's `LogicalPlan.stats.sizeInBytes` — the
    * same estimate the planner trusts for broadcast decisions. Its error
    * mode is safe here: size-only estimation never shrinks below the scan
    * estimate through filters/aggregates and INFLATES through joins, so an
    * unknown or join-derived size keeps the configured partition count (no
    * change from today) while a provably-small input coalesces. The
    * advisory size is AQE's own,
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (default 64 MB).
    */
  private[graft] def layoutPartitionCount(df: DataFrame): Int = {
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    layoutPartitionsForBytes(df.sparkSession, bytes)
  }

  /** The bytes → layout-width rule shared by the stats-based
    * [[layoutPartitionCount]] and the measured-storage CC path:
    * ceil(bytes/advisory) clamped to [2, static shuffle partitions].
    */
  private[graft] def layoutPartitionsForBytes(
      sess: org.apache.spark.sql.SparkSession, bytes: BigInt): Int = {
    val maxParts = staticPartitions(sess)
    val advisory = math.max(1L, Internals.classicSession(sess)
      .sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val n = (bytes + advisory - 1) / advisory
    // floor at 2, not 1: `repartition(1, key)` plans as SinglePartition
    // (not HashPartitioning(key, 1)), which the co-partitioning machinery
    // does not match against a 1-partition hash layout — the pinned round
    // joins would re-shuffle both sides back to the static width
    // (probe-verified on this Spark)
    if (n >= maxParts) maxParts else math.min(maxParts, math.max(2, n.toInt))
  }

  /** Persisted size (memory + disk) of `rdds`' storage blocks, when every
    * one of them is currently tracked — the EXACT post-materialization
    * byte count the CC layout is sized from (plan stats inflate through
    * the LSH mining joins upstream and would pin every near-dup graph at
    * the static width). Deserialized in-memory block sizes overestimate
    * serialized bytes — the safe direction (a too-wide layout, never a
    * too-narrow one).
    */
  private[graft] def storageBytes(
      sess: org.apache.spark.sql.SparkSession, rdds: Seq[RDD[_]]): Option[Long] = {
    if (rdds.isEmpty) return None
    val ids = rdds.map(_.id).toSet
    val infos = sess.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
    if (infos.length != ids.size) None
    else Some(infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** Pin `df` to the layout width by an explicit hash repartition on `key`
    * when the layout is NARROWER than the static shuffle-partition count,
    * else leave it to adaptive planning. The companion of
    * [[layoutPartitionCount]]: a join between an n-partition checkpointed
    * layout (n < static) and a side that needs a fresh exchange is NOT
    * co-partitioned in Spark's eyes — EnsureRequirements re-shuffles BOTH
    * sides up to the static count, i.e. the corpus-layout side re-shuffles
    * every round, the exact cost the layout exists to remove (observed in
    * PageRankSpec when the r21 narrow layout first landed). An explicit
    * `repartition(n, key)` on the label-sized side gives both children the
    * same satisfying partitioning, so the layout side feeds the join bare.
    * At full width (`n == static`, the 100 TB regime) this is a no-op and
    * the r16 adaptive round planning is unchanged.
    */
  private[graft] def pinToLayout(df: DataFrame, nParts: Int, key: String): DataFrame =
    if (nParts < staticPartitions(df.sparkSession)) df.repartition(nParts, col(key)) else df

  /** The static shuffle width, `spark.sql.shuffle.partitions` (at least 1). */
  private def staticPartitions(sess: org.apache.spark.sql.SparkSession): Int =
    math.max(1, sess.conf.get("spark.sql.shuffle.partitions", "200").toInt)

  /** Deduplicate `df` and lay it out hash-partitioned (and optionally
    * sorted) on `key` at `nParts` — the shared edge-layout shape of the
    * PageRank/LPA checkpoints, regime-split like [[pinToLayout]]:
    *
    *   - full width (`nParts == static`, the corpus regime): `distinct()`
    *     FIRST — its partial aggregation dedups map-side so the exchange
    *     carries ~|V|-ish partials, then the explicit layout repartition.
    *     Two exchanges, the r14-r20 shape unchanged.
    *   - narrow (`nParts < static`, a provably-small graph): ONE explicit
    *     `repartition(nParts, key)` with the distinct applied in place on
    *     top (hash(key) co-locates every duplicate of a (key, …) row, so
    *     the aggregation needs no second exchange). The un-deduplicated
    *     rows crossing the single exchange are bounded by the layout
    *     advisory — the narrow gate is what makes the trade safe.
    */
  private[graft] def distinctLayout(
      df: DataFrame, nParts: Int, key: String, sort: Boolean = true): DataFrame = {
    val laid =
      if (nParts < staticPartitions(df.sparkSession)) df.repartition(nParts, col(key)).distinct()
      else {
        val d = df.distinct()
        // a single-column frame's distinct already hash-partitions on the
        // key at the static width — an explicit repartition would stack a
        // second, redundant exchange on top
        if (df.columns.toSeq == Seq(key)) d else d.repartition(nParts, col(key))
      }
    if (sort) laid.sortWithinPartitions(col(key)) else laid
  }

  /** Unpersist every frame cached by previous dedup calls (see [[cache]]).
    * Always safe: cached frames recompute transparently if read again.
    * Does NOT touch [[connectedComponents]] checkpoint blocks — those have
    * destructive-clear semantics and their own [[clearCheckpoints]], so a
    * routine signature-cache clear cannot invalidate a live CC result.
    */
  def clearCaches(): Unit = synchronized {
    cachedFrames.foreach(_.unpersist(blocking = false))
    cachedFrames.clear()
  }

  /** Free the checkpoint blocks behind every [[connectedComponents]] frame
    * returned so far. DESTRUCTIVE: checkpoint truncation means a cleared
    * frame cannot recompute — reading it afterwards throws a
    * block-not-found SparkException. Call once outstanding CC results are
    * fully consumed (harness loops call this between queries/reps).
    */
  def clearCheckpoints(): Unit = synchronized {
    checkpointedRdds.foreach(_.get.foreach(_.unpersist(blocking = false)))
    checkpointedRdds.clear()
  }

  /** Exact dedup: hash-groupBy on the full text. Returns one row per
    * distinct text with the representative (minimum) id and the copy count.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col(Text))
      .agg(min(col(DocId)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col(Text))

  /** One row per DISTINCT text: (id = min doc id, text). The exact-duplicate
    * pre-pass all near-dup operators build on.
    */
  private def distinctTexts(docs: DataFrame): DataFrame =
    docs.groupBy(col(Text)).agg(min(col(DocId)).as("id"))

  /** Incremental ingest dedup: drop every `incoming` row whose `textCol`
    * already exists in `history` — the continuous-crawl gate ("have we
    * crawled this page before"), EXACT despite the approximate prefilter.
    *
    * Shape: a bloom filter over the history keys (one distributed build
    * pass; [[graft.operators.BloomPrune]]) splits the batch map-side —
    * bloom-MISSES are provably unseen and pass straight through (no
    * shuffle, no history access: the common case for a healthy crawl
    * frontier), bloom-HITS (true dupes + ~fpp false positives) go to an
    * exact confirm. The confirm never shuffles the history: the candidate
    * text HASHES (xxhash64 — 8 bytes each, so even a batch-sized candidate
    * set broadcasts in MBs, not document-corpus GBs) broadcast INTO a
    * map-side semi join that narrows history to the hash-matched slice,
    * and the final anti join confirms on the FULL text (rescuing both
    * bloom and hash false positives) with the strategy left to the
    * planner — AQE broadcasts the candidate-sized slice when it is small
    * and degrades to a shuffle join on a dupe-heavy batch instead of
    * failing the broadcast. The result is exactly
    * `incoming ∖ (textCol ∈ history)`.
    *
    * At 100 TB: build the bloom ONCE over the historical corpus and reuse
    * it across batches (pass `filterBytes`), growing `expectedItems` to the
    * corpus's key count; the history side never reshuffles regardless of
    * batch dupe rate — at worst the candidate-sized hash-matched slice
    * shuffles into the confirm join. For a standing high-dupe ingest, the
    * history keys written bucketed by key amortize even that.
    */
  def dropSeenBefore(
      incoming: DataFrame,
      history: DataFrame,
      textCol: String = "text",
      expectedItems: Long = 1L << 20,
      fpp: Double = 0.03,
      filterBytes: Option[Array[Byte]] = None): DataFrame = {
    import graft.operators.BloomPrune
    val bytes = filterBytes.getOrElse(
      BloomPrune.buildFilterBytes(history, textCol, expectedItems, fpp))
    val seen = BloomPrune.probe(textCol, bytes)
    val fresh = incoming.filter(!seen)
    val candidates = incoming.filter(seen)
    val candHashes = candidates
      .select(xxhash64(col(textCol)).as("__th")).distinct()
    val seenTexts = history
      .join(broadcast(candHashes), xxhash64(history(textCol)) === col("__th"), "left_semi")
      .select(col(textCol)).distinct()
    val confirmed = candidates
      .join(seenTexts, Seq(textCol), "left_anti")
    fresh.unionByName(confirmed.select(fresh.columns.map(col).toIndexedSeq: _*))
  }

  /** Map-side minhash signatures over distinct texts: (id, sig). Shared by
    * [[minhashPairs]] and [[ngramJaccardPairs]] — compute once, persist, and
    * both the band stream and the verify join read the cache instead of
    * re-hashing every shingle (the r1 bottleneck: signatures were built
    * up to three times per query).
    */
  /** Signatures are computed MAP-SIDE for every row, then exact duplicates
    * collapse by grouping on a 128-bit content hash — the shuffle carries
    * (md5, id, signature) ≈ 0.5 KB per doc instead of the full text, which
    * at 10-100 KB/doc is the difference that matters at corpus scale.
    * (Duplicate copies recompute their signature; CPU is the cheap resource
    * next to shuffle bytes.) Identical texts produce identical signatures,
    * so `first(sig)` is deterministic.
    */
  def minhashSignatures(
      docs: DataFrame): DataFrame =
    docs.select(
        col(DocId).as("id"),
        md5(col(Text).cast("binary")).as("content_hash"),
        minhashSignature(tokens(Text)).as("sig"))
      .groupBy(col("content_hash"))
      .agg(min(col("id")).as("id"), first(col("sig")).as("sig"))
      .select(col("id"), col("sig"))

  /** Signatures over an already-deduplicated (id, text) representative set —
    * lets callers that need several per-text derivations (e.g.
    * [[ngramJaccardPairs]]: shingle sets AND signatures) pay the full-text
    * shuffle of the dedup pre-pass once instead of once per derivation.
    */
  private def signaturesOfReps(reps: DataFrame): DataFrame =
    reps.select(col("id"), minhashSignature(tokens(Text)).as("sig"))

  /** LSH candidate pairs from banded signatures: slim (id, band, band_hash)
    * stream → bucket-capped self-join on (band, band_hash) → id pairs. With
    * r rows per band and b bands, a pair of true Jaccard s is caught with
    * probability 1-(1-s^r)^b.
    *
    * Returns a MULTISET: a pair colliding in several bands appears once per
    * colliding band. Deduplicating here would cost a full extra shuffle of
    * the candidate stream (the r2-r5 `.distinct()` — ~24% of the whole
    * bench); since the downstream verify (signature agreement / exact
    * Jaccard) is idempotent per pair, callers instead dedup the far smaller
    * post-verify pair set. Random collisions appear in one band, so the
    * duplicate work forwarded to the verify join is at most `bands`× the
    * (few) true near-dup pairs — cheap next to a corpus-wide shuffle.
    */
  def bandCandidates(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // bandHashes is a native codegen'd expression: one pass over the
    // signature, no per-band array slices (the r2 transform/hash(slice)
    // form was CodegenFallback — interpreted per row).
    val banded = sigs.select(
      col("id"),
      posexplode(bandHashes(col("sig"), bands)).as(Seq("band", "band_hash")))
    // The capped band stream is CACHED (r22): the self-join below reads it
    // twice, and AQE's exchange reuse does NOT fire across the two sides —
    // their exchange subtrees are rooted in separate TableCacheQueryStage
    // instances of the sigs cache, which never canonicalize equal (probed:
    // both ShuffleQueryStages materialized, the full explode+exchange+
    // sort+window chain ran twice per query). The cache is bounded like
    // the sigs cache it derives from: ≤ `bands` (id, band, hash) rows per
    // distinct doc — never corpus-text-sized.
    val capped = cache(capBuckets(banded, defaultBucketCap, "band", "band_hash"))
    val a = capped.as("a"); val b = capped.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** MinHash + LSH near-duplicate pairs among distinct texts:
    * shingle→minhash (map-side, once, cached) → band-bucket candidates →
    * signature compare → estimated Jaccard ≥ `threshold`.
    */
  def minhashPairs(
      docs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // cached: read by the band stream and twice by the verify join. Tiny
    // (numHashes longs per distinct doc), so the cache never pressures
    // executor memory even at large n. Caller clears via [[clearCaches]].
    val sigs = cache(minhashSignatures(docs))
    val candidates = bandCandidates(sigs, numHashes = 64, bands = 16)
    candidates
      .join(sigs.select(col("id"), col("sig").as("sig_a")), col("id_a") === col("id"))
      .drop("id")
      .join(sigs.select(col("id"), col("sig").as("sig_b")), col("id_b") === col("id"))
      .drop("id")
      // native single-pass agreement count — same value as the r2
      // aggregate(zip_with(...)) form, without its per-pair interpretation
      // and two 64-element array allocations.
      .withColumn("est_jaccard", signatureAgreement(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      // candidates are a multiset (one row per colliding band); duplicates of
      // a pair carry the same signatures, so max = the single true estimate.
      // Deduplicating HERE shuffles only the pairs that passed the threshold,
      // not the corpus-wide candidate stream.
      .groupBy(col("id_a"), col("id_b"))
      .agg(round(max(col("est_jaccard")), 4).as("est_jaccard"))
  }

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxHamming`.
    *
    * Bucketing uses [[graft.functions.SimHashBucketKeys]]' two-level
    * pigeonhole keys: any pair within the distance budget is guaranteed to
    * share at least one of the (maxHamming+1)² keys, and each key carries
    * ~28 bits of simhash value instead of the r2 single-level 16 — the
    * difference between ≤ 65,536 distinct buckets (every bucket saturates
    * at corpus scale, recall collapses against the cap) and ~2²⁸ buckets
    * that stay selective at 10⁹ docs. Candidates are verified with the
    * exact `bit_count` Hamming distance after pruning, mirroring the
    * reference's verify-after-prune shape
    * (datafusion-dynamic-filter physical.rs:257-263).
    *
    * No distinct-text pre-pass here: identical texts have Hamming distance 0
    * and are legitimate output; the bucket cap bounds their join cost.
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15] (chunks need >= 4 bits to stay selective), got $maxHamming")
    val sims = docs.select(col(DocId).as("id"), simhash64(tokens(Text)).as("sh"))
    val keyed = sims.select(
      col("id"), col("sh"),
      explode(simhashBucketKeys(col("sh"), maxHamming)).as("bkey"))
    val capped = capBuckets(keyed, defaultBucketCap, "bkey")
    val a = capped.as("a"); val b = capped.as("b")
    a.join(b, col("a.bkey") === col("b.bkey") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      // verify BEFORE dedup: the Hamming filter is map-side and idempotent,
      // so the distinct shuffles only surviving pairs instead of every
      // (pair × shared pigeonhole key) candidate row.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram (word shingle) Jaccard over LSH candidates: one shared set
    * of minhash signatures generates loose candidates (narrow bands → high
    * recall), then the true Jaccard is computed on the distinct shingle
    * sets. Avoids both the all-pairs O(n²) join and the r1 double
    * signature computation (candidates reuse [[minhashSignatures]]).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    // one dedup pre-pass (full-text shuffle) feeds BOTH derivations.
    // Shingles are stored as 64-bit hashes, not strings: set operations and
    // shuffles carry 8 bytes per shingle instead of the n-gram text
    // (hash-collision error on Jaccard is ~2^-64 per pair — negligible).
    // shingleHashes tokenizes once and rolling-combines (native codegen);
    // the r2 transform(sequence(...), i -> xxhash64(concat_ws(slice(split(
    // ...))))) form re-split the whole document per shingle index —
    // O(words²) per doc AND interpreted (higher-order fns are
    // CodegenFallback). Its sorted-distinct output feeds jaccardSorted's
    // O(|a|+|b|) merge below.
    val reps = cache(distinctTexts(docs))
    // deliberately NOT cached (r22, probed): the verify join reads this
    // frame twice (sh_a and sh_b broadcast builds), but caching it
    // value-serializes every shingle-hash array into storage and measured
    // SLOWER than recomputing the map-side ShingleHashes pass over the
    // cached reps (run_ms 748 → 830 with the cache) — the same trade the
    // r21 bigram-cache removal documented.
    val shingled = reps.select(col("id"), shingleHashes(tokens(Text), n).as("shingles"))

    val sigs = cache(signaturesOfReps(reps))
    // 32 bands of 2 hashes: band-match probability s² per band — high recall
    // down to low Jaccard, exact verify prunes false positives after.
    val candidates = bandCandidates(sigs, numHashes = 64, bands = 32)

    candidates
      .join(shingled.select(col("id"), col("shingles").as("sh_a")), col("id_a") === col("id")).drop("id")
      .join(shingled.select(col("id"), col("shingles").as("sh_b")), col("id_b") === col("id")).drop("id")
      // exact Jaccard via a single merge pass over the two sorted-distinct
      // hash arrays — no per-pair hash sets (the array_intersect/union form
      // built two sets and two result arrays per candidate).
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      // multiset candidates (see [[bandCandidates]]): dedup the small
      // post-verify pair set, not the corpus-wide candidate stream.
      .groupBy(col("id_a"), col("id_b"))
      .agg(round(max(col("jaccard")), 4).as("jaccard"))
  }

  /** Connected components over a near-duplicate pair list — the step between
    * "pairs found" and "keep one representative per duplicate group" in a
    * curation pipeline. Returns (id, component) with component = the
    * minimum id reachable from `id` (so the component label doubles as the
    * keep-representative, matching [[exact]]'s min-id convention).
    *
    * Min-label propagation with pointer jumping: every round each node
    * adopts the smallest of (its label, its neighbors' labels, its label's
    * label). The neighbor term spreads labels across edges; the
    * label-of-label term halves the remaining pointer distance to the
    * component minimum every round (PRAM pointer doubling), so a
    * diameter-d component converges in ~⌈log₂ d⌉ rounds plus one
    * confirming no-change round — not O(d). Labels only ever decrease and
    * never leave the component, and any fixpoint short of
    * everyone-has-the-min would still have a cross-boundary edge forcing a
    * change, so the converged labels ARE the component minima.
    *
    * Every round's result is `localCheckpoint()`ed: the lineage is
    * TRUNCATED, not just cached — `labels` feeds three operators per round
    * (neighbor join, jump lookup, carry-forward), and without truncation
    * the logical plan doubles per round (the r6 exponential-plan driver
    * OOM). Checkpoints are LAZY, so the convergence count rides in the same
    * JOB as the materialization (a `prev` column carried through the
    * update) — one Spark job per round total, no extra join or action.
    * `maxIters` still bounds the loop and hitting it fails loud rather
    * than returning half-merged components.
    *
    * Durability is chosen from the session: when
    * `SparkContext.setCheckpointDir` has been called, every round uses
    * RELIABLE `checkpoint()` against that storage — a lost executor
    * (preemption at 1000-executor scale) costs a re-read of files, not the
    * whole job, which is the right trade for a 100 TB near-dup graph. With
    * no checkpoint dir configured, rounds use `localCheckpoint()` —
    * executor-local blocks, no storage round-trip, the right trade for a
    * single-node or short-lived session (same lineage-truncation semantics
    * either way; per-round state is a narrow (id, long×2) frame).
    * Superseded round blocks are unpersisted EAGERLY inside the loop; the
    * final round's blocks back the returned frame and are freed by
    * [[clearCheckpoints]] (after which the returned frame must not be read
    * again — checkpoint truncation means it cannot recompute). Reliable
    * checkpoint FILES outlive unpersist: they are cleaned by Spark's
    * ContextCleaner when `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is set, or with the checkpoint directory itself.
    */
  def connectedComponents(
      pairs: DataFrame, maxIters: Int = 20,
      driverFinishEdges: Long = 1L << 20): DataFrame =
    connectedComponentsIters(pairs, maxIters, driverFinishEdges = driverFinishEdges)._1

  /** [[connectedComponents]] also returning the round count it took to
    * converge (the final confirming no-change round included) — spec hook
    * for the logarithmic-convergence guarantee.
    *
    * `jumps` chains that many pointer lookups per round (label, then
    * label-of-label, …): hop reach per round grows from 2× to (jumps+1)×,
    * so a diameter-d graph converges in ~log_(jumps+1) d rounds instead of
    * ~log₂ d, at the cost of one extra label-sized exchange per extra
    * jump. Fewer sequential rounds = fewer barrier jobs — the remaining
    * cost driver once the edge table stopped re-shuffling (r13) — while
    * total exchange volume stays ~flat (3 exchanges × log₂ d vs
    * (2+jumps) × log_(jumps+1) d). Measured on the diameter-31 chain:
    * jumps=2 converges in 5 rounds vs 7.
    *
    * `driverFinishEdges` is the SMALL-GRAPH tier — the runtime analog of
    * Spark's broadcast-join threshold applied to the iteration itself.
    * Round 1's one job already aggregates every directed edge, so the edge
    * count comes back for free; when it is at or under the threshold, the
    * remaining rounds (each a cluster-wide barrier job that moves only
    * label-sized data) are replaced by ONE collect of the already-
    * materialized edge blocks and a driver union-find — O(E α(E)) on data
    * that is by definition driver-sized. The result comes back as a
    * LocalRelation with exact size stats, so downstream joins (the
    * keep-representatives anti join) auto-broadcast instead of shuffling
    * the corpus side against a tiny label table. Defaults to 2²⁰ directed
    * edges (≈ a few tens of MB collected); 0 forces the distributed loop.
    * At 100 TB the near-dup graph is far above any sane threshold and the
    * bucketed-checkpoint loop runs — the
    * tier only catches the converged/tail case (a re-cluster of survivors,
    * a per-partition shard's residue) where barrier-job overhead dominates
    * data cost. Label parity between the two tiers is spec-pinned on random
    * graphs and string ids; id types whose external ordering cannot
    * reproduce the loop's `least` semantics exactly (non-default string
    * collations, arrays, binary) always take the loop.
    */
  def connectedComponentsIters(
      pairs: DataFrame, maxIters: Int = 20, jumps: Int = 2,
      driverFinishEdges: Long = 1L << 20): (DataFrame, Int) = {
    require(maxIters > 0, s"maxIters must be positive, got $maxIters")
    require(jumps >= 1 && jumps <= 4,
      s"jumps must be in [1, 4] (each extra jump is a label-sized exchange " +
        s"per round; past ~4 the plan depth costs more than rounds save), got $jumps")
    // Reliable checkpoints when the session has durable checkpoint storage
    // configured, executor-local otherwise (see the scaladoc trade-off).
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    // LAZY checkpoints throughout: the marked RDD materializes (and its
    // lineage truncates) inside the FIRST job that reads it, so the per-round
    // convergence count below doubles as the materializing action — one
    // Spark job per round instead of an eager-checkpoint job plus a count
    // job, and the edges/labels init rides in round 1's job for free. On a
    // tiny converged graph the loop is pure scheduling overhead, so job
    // count IS the cost (observed ~1.7× on the planted-cluster bench query).
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = false) else df.localCheckpoint(eager = false)
    // Edge symmetrization in ONE scan of `pairs`: explode each pair into its
    // two directed edges map-side. The previous union-of-two-selects form
    // evaluated the whole upstream pair pipeline (LSH candidates + verify
    // join) TWICE inside round 1's materializing job — with no persist to
    // paper over it, one scan is the scale-correct shape.
    //
    // The edge table — the BIG side at corpus scale — is checkpointed
    // PARTITIONED AND SORTED on `src`, and never re-shuffles again:
    // `Dataset.(local)checkpoint` carries the physical plan's
    // outputPartitioning/outputOrdering into the LogicalRDD leaf, so every
    // round's edges⋈labels join (and round 1's groupBy) sees the hash
    // distribution + sort order already satisfied on the edge side. This is
    // the in-session form of a bucketed+sorted edge table (SURVEY §13 open
    // item, closed r13): pre-r13 every round re-shuffled the full edge set
    // by its join key — an edge-sized exchange × rounds; now edges shuffle
    // exactly once for the whole run, in round 1's materializing job, where
    // the old round-1 groupBy shuffled them anyway.
    //
    // ONLY this checkpoint is planned without AQE (r16, was loop-wide
    // since r13), through a static query execution of its own
    // ([[Internals.planStatically]]; the session's conf is not touched, so
    // concurrent queries stay adaptive): under AQE, Dataset.(local)checkpoint
    // wraps an AdaptiveSparkPlanExec whose partitioning is not final at wrap
    // time, so the LogicalRDD comes back with UNKNOWN partitioning
    // (probe-verified on this Spark) and the corpus-sized edge table would
    // silently re-shuffle every round — the exact cost this layout
    // removes. The per-round LABEL frames are a different trade: their
    // carried partitioning saves one label-sized exchange a round, but
    // planning the rounds NON-adaptive pins every label exchange at the
    // static shuffle-partition count — 32 tasks per exchange over
    // label-sized (often tiny) frames, the dominant cost of the loop's
    // many short barrier jobs on local[32] (and needless task pressure at
    // any scale). Rounds therefore stay ADAPTIVE: AQE coalesces the
    // label-sized exchanges to the data's real parallelism, while the
    // edge side's materialized hash(src) distribution keeps satisfying
    // the join requirement with no exchange — verified both ways in
    // PipelineSpec's checkpointed-edge-table plan tests.
    val sess = pairs.sparkSession
    // The pair list materializes ADAPTIVELY first (r21): the edge-layout
    // checkpoint below must plan without AQE, and without this
    // lineage cut that non-adaptive planning swallows the ENTIRE upstream
    // mining pipeline — LSH candidate generation, verify joins, pair
    // aggregation all pinned at the static shuffle width and shut out of
    // AQE's coalescing AND skew-join splitting (at corpus scale the skew
    // handling on the bucket self-joins is the part that matters; at bench
    // scale this was ~160 near-empty 32-wide tasks per CC query). Costs
    // one transient pairs-sized block set, freed as soon as the edge
    // table exists.
    val matPairs = lazyCheckpoint(pairs.select(col("id_a"), col("id_b")))
    val matPairsBlocks = checkpointRdds(matPairs)
    // materialize NOW (one extra job boundary — the pipeline computes once
    // either way) so the layout width below is sized from the pair list's
    // ACTUAL stored bytes: plan stats inflate through the mining joins and
    // would otherwise pin every LSH-derived graph at the static width
    matPairs.count()
    val measuredPairBytes = storageBytes(sess, matPairsBlocks)
    val directed = matPairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // null is not a node: a null-src directed edge would otherwise form
      // its own groupBy(src) group and emit a (null id → min dst) label
      // row from the loop that the driver tier (which interns only
      // non-null endpoints) never produces — the r17 tier-parity fix. The
      // non-null side of a (x, null) pair still appears: its (x → null)
      // directed edge survives, `least` ignores the null neighbor, and x
      // labels itself — exactly the driver tier's isolated-node behavior.
      .filter(col("src").isNotNull)
    // layout width is data-size-adaptive (r21): sized from the MEASURED
    // pair-block bytes (×2 for the directed expansion) when available,
    // plan stats otherwise. The static planning below pins every stage
    // co-partitioned with this table at the chosen count, so a
    // provably-small graph lays out narrow instead of at the static
    // shuffle-partition width.
    val nParts = measuredPairBytes
      .map(b => layoutPartitionsForBytes(sess, BigInt(b) * 2))
      .getOrElse(layoutPartitionCount(directed))
    val edges = ckpt(Internals.planStatically(directed
      .repartition(nParts, col("src"))
      .sortWithinPartitions(col("src"))))
    // Round 1 degenerates: over identity labels (component = id), the
    // neighbor minimum is just min(dst) per src and the label-of-label
    // lookup is the identity — so the whole round (plus the distinct-id
    // init it used to need) collapses into ONE aggregation over edges —
    // exchange-free: edges are already partitioned by src, so only the
    // (label-sized) agg output moves. The result is checkpointed
    // partitioned by id, which the loop below maintains as an invariant.
    // `__deg` (per-src directed-edge count) rides in the same aggregate so
    // the total edge count — the small-graph gate below — costs nothing: it
    // is summed in the SAME job that materializes the round.
    val first = ckpt(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nbr_min"), count(lit(1)).as("__deg"))
      .select(col("src").as("id"), col("src").as("prev"),
        least(col("src"), col("nbr_min")).as("component"), col("__deg")))
    val firstStats = first.agg(
      sum(when(col("component") =!= col("prev"), 1L).otherwise(0L)).as("changed"),
      sum(col("__deg")).as("edges")).head()
    var changed = if (firstStats.isNullAt(0)) 0L else firstStats.getLong(0)
    val edgeCount = if (firstStats.isNullAt(1)) 0L else firstStats.getLong(1)
    // the edge table exists now — the transient pair blocks are dead weight
    matPairsBlocks.foreach(_.unpersist(blocking = false))
    // Small-graph tier (see the scaladoc): when every directed edge fits a
    // bounded driver budget, one collect of the just-materialized edge
    // blocks + a union-find replaces the remaining barrier rounds.
    if (changed > 0 && edgeCount <= driverFinishEdges) {
      externalIdOrdering(edges.schema("src").dataType) match {
        case Some(ord) =>
          val labelsOut = driverFinishUnionFind(edges, ord)
          (checkpointRdds(edges) ++ checkpointRdds(first))
            .foreach(_.unpersist(blocking = false))
          return (labelsOut, 1)
        case None => // no exact external `least`-parity ordering — run the loop
      }
    }
    // Eager block hygiene: each round's checkpoint supersedes the previous
    // round's — once `next` is materialized the prior blocks are dead
    // weight, so they are freed inside the loop instead of lingering until
    // the ContextCleaner notices (at 10⁹-node scale a 20-round run would
    // otherwise hold 20 generations of (id, long×2) blocks).
    var superseded: Seq[RDD[_]] = checkpointRdds(first)
    var labels = first.select(col("id"), col("component"))
    var iters = 1
    while (changed > 0 && iters < maxIters) {
      // Exchange inventory per round (the 100 TB accounting): edges join on
      // src — edge side pre-partitioned+sorted (zero exchange, zero sort);
      // the labels side re-distributes by id (one label-sized exchange —
      // its checkpoint partitioning is UNKNOWN under the adaptive round
      // plans, the r16 trade). Labels are grouped at the OTHER endpoint
      // (dst) — the same neighbor minimum by symmetry of the edge set — so
      // the only edge-related movement is the partially-aggregated
      // (label-sized) groupBy(dst) exchange. The jump joins cost one
      // labels-by-pointer exchange each. Net: four-ish label-sized
      // exchanges per round, none edge-sized — and under AQE each
      // label-sized exchange coalesces to the frame's real parallelism
      // instead of the static shuffle-partition count.
      // labels pinned to the layout width in the narrow regime
      // ([[pinToLayout]]) so the edge side feeds this join bare; at full
      // width the pin is a no-op and the label side plans adaptive (r16)
      val nbrMin = edges.join(pinToLayout(labels, nParts, "id"),
          edges("src") === labels("id"))
        .groupBy(edges("dst")).agg(min(col("component")).as("nbr_min"))
        .select(edges("dst").as("n_id"), col("nbr_min"))
      // Chained pointer jumps: p₁ = label(component), p₂ = label(p₁), … —
      // labels are min-monotone (component(v) ≤ v), so each lookup follows
      // the pointer chain strictly downward and pₖ is the best label k hops
      // up. Every pointer target is itself a node, so the left join always
      // matches; the coalesce is belt-and-braces for a label frame a caller
      // filtered. Each jump is one label-sized exchange (keyed on the
      // previous hop's pointer).
      val jumped = (1 to jumps).foldLeft(
        labels.select(col("id"), col("component").as("prev"), col("component").as("ptr"))) {
        case (cur, k) =>
          val jt = labels.select(col("id").as(s"__j${k}_id"), col("component").as(s"__j${k}_comp"))
          cur.join(jt, cur("ptr") === col(s"__j${k}_id"), "left")
            .select(cur("id"), cur("prev"),
              coalesce(col(s"__j${k}_comp"), cur("ptr")).as("ptr"))
      }
      val next = ckpt(jumped
        .join(nbrMin, jumped("id") === nbrMin("n_id"), "left")
        .select(jumped("id").as("id"),
          jumped("prev").as("prev"),
          least(jumped("prev"), col("ptr"),
            coalesce(col("nbr_min"), jumped("prev"))).as("component")))
      // ONE job: materializes the round's checkpoint blocks (truncating
      // lineage) and computes the convergence count off them as it goes
      changed = next.filter(col("component") =!= col("prev")).count()
      superseded.foreach(_.unpersist(blocking = false))
      superseded = checkpointRdds(next)
      labels = next.select(col("id"), col("component"))
      iters += 1
    }
    checkpointRdds(edges).foreach(_.unpersist(blocking = false))
    if (changed != 0) superseded.foreach(_.unpersist(blocking = false)) // no frame returned → free now
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds — $jumps-jump " +
        s"pointer jumping reaches diameter ~${jumps + 1}^(maxIters-2), so the graph " +
        s"has a component chain longer than that; raise maxIters (or jumps)")
    // the final round's blocks back the RETURNED frame — they stay alive
    // until the caller is done and calls [[clearCheckpoints]] (weakly
    // registered, so a dropped frame remains ContextCleaner-collectible)
    synchronized { checkpointedRdds ++= superseded.map(scala.ref.WeakReference(_)) }
    (labels, iters)
  }

  /** An ordering over EXTERNAL (collected) id values that reproduces the
    * loop's internal `least` semantics bit-for-bit, or None when it cannot —
    * the gate that keeps the small-graph tier exactly label-parity with the
    * distributed loop. Numerics, dates, timestamps and booleans collect as
    * `Comparable` JVM types whose order matches Catalyst's. Default-collation
    * strings need care: Catalyst compares UTF-8 bytes unsigned while
    * `String.compareTo` compares UTF-16 code units, and the two DISAGREE for
    * supplementary code points (surrogate pairs sort below U+E000 in UTF-16
    * but above in UTF-8) — so strings get an explicit UTF-8 byte comparison,
    * and non-default collations (whose order is ICU-defined, not byte-wise)
    * fall back to the loop along with arrays/structs/binary.
    */
  private def externalIdOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    val comparable: Ordering[Any] =
      (a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    val utf8Bytes: Ordering[Any] = (a: Any, b: Any) => {
      val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      var c = 0
      while (c == 0 && i < n) { c = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
      if (c != 0) c else x.length - y.length
    }
    dt match {
      case st: StringType if st == StringType => Some(utf8Bytes)
      // float/double ids are EXCLUDED: Catalyst normalizes -0.0 to 0.0 in
      // grouping keys (NormalizeFloatingNumbers) so ±0.0 merge into one
      // node in the loop, while boxed Double.equals keeps them distinct in
      // a driver HashMap — a parity break no ordering fixes. Fractional
      // ids take the loop.
      case ByteType | ShortType | IntegerType | LongType |
          BooleanType | DateType | TimestampType | TimestampNTZType | _: DecimalType =>
        Some(comparable)
      case _ => None
    }
  }

  /** Finish tiny component graphs driver-side: one collect of the
    * (already materialized, checkpoint-backed) symmetrized edge table, a
    * union-find with path halving + union by rank, then min-id labels per
    * root under the loop-parity ordering. Returns a LocalRelation — exact
    * size stats, so the downstream anti/semi joins of
    * [[dropNearDuplicates]]-class callers plan as broadcasts. Bounded by
    * construction: only reachable under `driverFinishEdges` (the collect is
    * at most threshold rows of two scalar ids). Rows with a null endpoint
    * contribute their non-null side as an isolated node (the loop's joins
    * likewise never propagate through null).
    */
  private def driverFinishUnionFind(edges: DataFrame, ord: Ordering[Any]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val idField = edges.schema("src")
    val rows = edges.select(col("src"), col("dst")).collect()
    val index = new java.util.HashMap[Any, Integer]
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    def intern(v: Any): Int = {
      val got = index.get(v)
      if (got != null) got.intValue
      else { val i = vals.length; index.put(v, Integer.valueOf(i)); vals += v; i }
    }
    val unions = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    rows.foreach { r =>
      val s = if (r.isNullAt(0)) -1 else intern(r.get(0))
      val d = if (r.isNullAt(1)) -1 else intern(r.get(1))
      if (s >= 0 && d >= 0 && s != d) unions += ((s, d))
    }
    val n = vals.length
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Int](n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    unions.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(rb) < rank(ra)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    val minOf = new Array[Any](n)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (minOf(r) == null || ord.lt(vals(i), minOf(r))) minOf(r) = vals(i)
      i += 1
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) { out.add(org.apache.spark.sql.Row(vals(i), minOf(find(i)))); i += 1 }
    edges.sparkSession.createDataFrame(out, StructType(Seq(
      StructField("id", idField.dataType, idField.nullable),
      StructField("component", idField.dataType, idField.nullable))))
  }

  /** The step that makes near-dup pairs actionable: given the corpus and a
    * pair list from any of the operators above, keep ONE representative per
    * duplicate cluster — the minimum-id member, matching [[exact]]'s
    * keep-convention — and every document that is in no pair at all.
    * Clusters come from [[connectedComponents]] (so transitive chains
    * a~b~c collapse to one survivor even when (a,c) was never paired
    * directly); non-representatives are removed with a left-anti join,
    * which shuffles only on the id column — linear at corpus scale.
    *
    * When the pair graph runs through the distributed CC loop the returned
    * frame reads the CC checkpoint blocks: consume it before calling
    * [[clearCheckpoints]]. (Under the small-graph driver tier the labels
    * are a LocalRelation — nothing to invalidate, and the anti join
    * broadcasts them.)
    */
  def dropNearDuplicates(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val nonReps = connectedComponents(pairs)
      .filter(col("component") =!= col("id"))
      .select(col("id").as("__drop_id"))
    docs.join(nonReps, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs via random-hyperplane LSH: vectors
    * are bucketed by sign-bit codes from two independent hash tables (union
    * for recall), pairs are verified with exact cosine ≥ `threshold` inside
    * each (capped) bucket only.
    *
    * Each table codes 8 sign bits (256 buckets); the cap bounds the worst
    * bucket.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame,
      threshold: Double = 0.95): DataFrame = {
    def table(seed: Long): DataFrame = {
      val bucketed = capBuckets(
        embeddings.select(
          col(VecId).as("id"), col(Embedding).as("v"),
          hyperplaneBucket(col(Embedding), 8, seed).as("bucket")),
        defaultBucketCap, "bucket")
      val a = bucketed.as("a"); val b = bucketed.as("b")
      a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          cosineSimilarity(col("a.v"), col("b.v")).as("cos"))
    }
    table(7L).union(table(1337L))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(round(max(col("cos")), 6).as("cosine"))
  }

  /** (id, v, ck) for every vector, where `ck` is the 96-bit content key: a
    * false vector collision needs xxhash64 AND murmur3 to collide — the
    * same negligible-error class as the 64-bit shingle hashing the text
    * family documents.
    */
  private def keyedVectors(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col(VecId).as("id"), col(Embedding).as("v"),
      struct(xxhash64(col(Embedding)).as("h1"), hash(col(Embedding)).as("h2")).as("ck"))

  /** The vector analog of [[distinctTexts]]: one row per DISTINCT vector of
    * a [[keyedVectors]] frame — (96-bit content key, min id, vector). Shared
    * by the pair mining and the off-path model build
    * ([[learnSemanticCentroids]]) so both learn and pair over the same
    * representative set.
    */
  private def distinctVectors(keyed: DataFrame): DataFrame =
    keyed.groupBy(col("ck")).agg(min(col("id")).as("id"), first(col("v")).as("v"))

  /** The k-means model build of [[semanticNearDupPairs]] split out: learns
    * the coarse quantizer over the SAME distinct-vector representative set
    * the pair mining clusters, so passing the result back in via that
    * method's `centroids` parameter is behavior-identical to letting it
    * learn inline. This is the reference's amortization thesis
    * (datafusion-dynamic-filter README.md:29-33) applied to model-build
    * work: centroid learning is a seed collect plus one driver-synchronized
    * job per Lloyd iteration — index-build-class cost (the
    * [[Similarity.buildIvfIndex]] / PQ-codebook protocol class), paid once
    * per corpus, not once per dedup invocation.
    */
  def learnSemanticCentroids(
      embeddings: DataFrame,
      k: Int = 16): Seq[Seq[Float]] =
    Similarity.learnCentroids(
      distinctVectors(keyedVectors(embeddings)), k, 2, 1.0, "id", "v")

  /** SemDeDup-style semantic near-duplicate pairs: cluster the embedding
    * space with the IVF coarse quantizer ([[Similarity.learnCentroids]] —
    * k-means, deterministic seeding), then verify exact cosine ≥
    * `threshold` INSIDE each (capped) cluster only. Where the hyperplane-LSH
    * variant ([[embeddingNearDupPairs]]) buckets by random sign bits,
    * clustering adapts the partition to the corpus's actual density — the
    * published SemDeDup recipe for paraphrase-level dedup of web corpora.
    *
    * Scale: k ≈ sqrt(n) clusters learned in two Lloyd iterations,
    * assignment map-side, one shuffle on cid, pair budget bounded by
    * `bucketCap` per cluster.
    *
    * Exact-copy pre-collapse (the [[distinctTexts]] analog for vectors):
    * identical vectors collapse to their min-id representative — keyed by a
    * 96-bit content hash — BEFORE clustering, and every shed copy pairs with
    * its representative directly (cosine 1 by identity, no verify needed).
    * That makes exact-duplicate recall 1 UNCONDITIONALLY: it depends on
    * neither where the centroids land nor on a k-means cell staying under
    * `bucketCap` (pre-r13, a cell beyond the cap silently shed high-id exact
    * copies). Cluster pairing then runs over distinct vectors only, so a
    * 100 TB crawl's mass-duplicated vectors cannot saturate a cell. Near
    * (non-identical) duplicate pairs are reported between representatives;
    * [[connectedComponents]] downstream closes the copies over them.
    */
  def semanticNearDupPairs(
      embeddings: DataFrame,
      k: Int = 16,
      threshold: Double = 0.95,
      bucketCap: Int = defaultBucketCap,
      centroids: Option[Seq[Seq[Float]]] = None): DataFrame = {
    // content-keyed vectors ([[keyedVectors]]), cached: read by the rep
    // aggregation and the copy→rep star join (caller clears,
    // [[clearCaches]])
    val keyed = cache(keyedVectors(embeddings))
    val reps = cache(distinctVectors(keyed))
    // star pairs: every non-representative exact copy ↔ its (min-id) rep.
    // Identical vectors have cosine exactly 1 (a zero vector's cosine is
    // formally undefined, but identical zero vectors are still duplicates —
    // the constant is the honest value either way).
    val exactPairs = keyed
      .join(reps.select(col("ck"), col("id").as("rep_id")), Seq("ck"))
      .filter(col("id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("id").as("id_b"), lit(1.0).as("cos"))
    // pre-learned centroids (the warmup-memoized model) skip the per-call
    // Lloyd collects entirely; the inline fallback learns over the same
    // rep set [[learnSemanticCentroids]] uses, so both paths cluster
    // identically for a fixed input
    val cents = centroids.getOrElse(
      Similarity.learnCentroids(reps, k, 2, 1.0, "id", "v"))
    val assigned = capBuckets(
      reps.select(col("id"), col("v"), nearestCentroid(col("v"), cents).as("cid")),
      bucketCap, "cid")
    val a = assigned.as("a"); val b = assigned.as("b")
    val clusterPairs = a
      .join(b, col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineSimilarity(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
    clusterPairs.union(exactPairs)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** The curation form: semantic pairs → connected components → keep one
    * representative (min id) per semantic cluster. Composition of
    * [[semanticNearDupPairs]] and [[dropNearDuplicates]].
    */
  def dropSemanticDuplicates(
      embeddings: DataFrame,
      k: Int = 16,
      threshold: Double = 0.95,
      centroids: Option[Seq[Seq[Float]]] = None): DataFrame =
    dropNearDuplicates(
      embeddings,
      semanticNearDupPairs(embeddings, k = k, threshold = threshold, centroids = centroids)
        .select(col("id_a"), col("id_b")),
      VecId)
}
