package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Eval-set decontamination — the step that keeps benchmark answers out of
  * the training corpus: flag (and drop) training documents sharing word
  * n-grams with any evaluation document. The standard recipe (13-gram
  * overlap in GPT-3's appendix; n is a parameter here) reduced to two
  * relational passes:
  *
  *   1. shingle both corpora into word n-grams (map-side: split + slice +
  *      join, all codegen'd built-ins — no UDF in the hot path);
  *   2. equi-join train shingles against the DISTINCT eval shingles and
  *      count distinct hits per train doc.
  *
  * Scale shape: the join key is the shingle, so the heavy side shuffles
  * once on it; the eval side is typically benchmark-sized and broadcasts
  * (AQE decides). The key is the exact shingle string, so an external
  * engine can replay the report byte for byte.
  */
object Decontamination {

  /** The semantic tie rule negates the eval id (max over (cosine, -id) ≡
    * rank by cosine DESC then id ASC), so a string id would fail at
    * runtime deep in the job under ANSI mode — reject it loudly at the
    * API edge instead.
    */
  private def requireNumericEvalId(
      evalDocs: DataFrame, evalIdCol: String, op: String): Unit = {
    val dt = evalDocs.schema(evalIdCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op: evalIdCol '$evalIdCol' must be numeric (the nearest-eval tie " +
        s"rule negates it), got ${dt.simpleString}")
  }

  /** Explodes `textCol`'s shingles into `__s` through the JVM-speed
    * [[graft.functions.WordShingleHashes]] generator — one tokenization
    * per row with no interpreted HOF in the corpus-wide fan-out (the r12
    * lesson), and no per-shingle XXH64, since every caller keys on the
    * string.
    */
  private def explodedShingles(
      df: DataFrame, textCol: String, n: Int, keep: Seq[Column]): DataFrame =
    df.select(keep :+
      graft.functions.WordShingleHashesFunction
        .wordShingleHashes(col(textCol), n, withHashes = false, withSpans = true)
        .as(Seq("__s")): _*)

  private def requireNoShingleColumn(dfs: DataFrame*): Unit =
    require(dfs.forall(!_.columns.contains("__s")), "__s is reserved by Decontamination")

  /** One row per CONTAMINATED training doc: (`idCol`, n_shared) where
    * n_shared counts the distinct n-gram shingles the doc shares with the
    * eval corpus. Clean docs are absent (n_shared = 0).
    */
  def contaminationReport(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    requireNoShingleColumn(train, evalDocs)
    val evalShingles = explodedShingles(evalDocs, textCol, n, keep = Nil)
      .select(col("__s").as("shingle")).distinct()
    val trainShingles = explodedShingles(train, textCol, n, keep = Seq(col(idCol)))
      .select(col(idCol), col("__s").as("shingle"))
    // join BEFORE deduplicating the train side: the eval set is small
    // (benchmark-sized), so the join broadcasts and filters ~every train
    // shingle map-side — only the matching (doc, shingle) pairs (tiny)
    // reach the distinct's shuffle. Deduplicating the train side first
    // would shuffle the ENTIRE corpus's shingle strings, which measured
    // 2.4× slower at sf0.1 and grows with the corpus, not the overlap.
    trainShingles.join(evalShingles, "shingle")
      .distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** SEMANTIC decontamination — the leak detector n-grams cannot see: a
    * paraphrased / translated / reformatted benchmark item shares no
    * shingles with the original but sits next to it in embedding space
    * (the geometry SemDeDup applies corpus-internally, pointed at an eval
    * set instead). Per training doc: the maximum cosine similarity to any
    * eval item and that nearest item's id; docs below `minCosine` are
    * absent (the [[contaminationReport]] convention).
    *
    * Scale shape: eval sets are benchmark-sized, so the eval side
    * BROADCASTS and scoring is pure map-side codegen (native
    * CosineSimilarity) over the corpus — no corpus-vector shuffle; the
    * per-doc max is a partial-aggregating `max(struct)` so only one row
    * per (doc × partition) reaches the exchange. Ties on the (6-decimal
    * rounded) cosine resolve to the SMALLEST eval id — deterministic and
    * replayable by any engine with a window rank. `evalIdCol` must be
    * numeric (the tie-break negates it).
    */
  def semanticReport(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      vecCol: String,
      evalIdCol: String,
      minCosine: Double = 0.0): DataFrame = {
    require(!train.columns.contains("__qvec") && !train.columns.contains("__q"),
      "__qvec/__q are reserved by semanticReport")
    requireNumericEvalId(evalDocs, evalIdCol, "semanticReport")
    val q = evalDocs.select(col(evalIdCol).as("__q"), col(vecCol).as("__qvec"))
    train.select(col(idCol), col(vecCol))
      .join(broadcast(q))
      .select(col(idCol),
        round(graft.functions.VectorFunctions.cosineSimilarity(
          col(vecCol), col("__qvec")), 6).as("__cos"),
        col("__q"))
      // max over a (cosine, -evalId) struct == rank by cosine DESC then
      // eval id ASC — one bounded aggregate, never a corpus-wide window
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos"), (-col("__q")).as("__nq"))).as("__m"))
      .select(col(idCol), col("__m.__cos").as("max_cosine"),
        (-col("__m.__nq")).as("nearest_eval"))
      .filter(col("max_cosine") >= minCosine)
  }

  /** The PAIR-LEVEL audit trail: one row per (train doc, eval doc) pair
    * sharing at least one n-gram, with the distinct shared-shingle
    * count — the provenance report that turns a contamination incident
    * into a diff (WHICH benchmark item leaked into WHICH document,
    * feeding both the drop list and the eval-integrity call).
    * [[contaminationReport]] is this table's per-train marginal,
    * [[evalExposureReport]] its per-eval one. Same broadcast-eval
    * join-before-distinct discipline: only matched (train, eval,
    * shingle) triples — bounded by the overlap, not the corpus — reach
    * the exchange.
    */
  def contaminationPairs(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    requireNoShingleColumn(train, evalDocs)
    val evalShingles = explodedShingles(evalDocs, textCol, n, keep = Seq(col(idCol)))
      .select(col(idCol).as("eval_id"), col("__s").as("shingle")).distinct()
    val trainShingles = explodedShingles(train, textCol, n, keep = Seq(col(idCol)))
      .select(col(idCol).as("train_id"), col("__s").as("shingle"))
    trainShingles.join(broadcast(evalShingles), Seq("shingle"))
      .select(col("train_id"), col("eval_id"), col("shingle")).distinct()
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The SEMANTIC [[evalExposureReport]] — the same question from the
    * BENCHMARK'S side that [[semanticReport]] answers from the corpus
    * side: per eval item, how many training docs sit within `minCosine`
    * of it in embedding space, and the closest one (rounded cosine +
    * id, ties to the smallest train id — the shared tie rule). The
    * report that decides whether an eval stays usable after a leak:
    * one paraphrase in the corpus is a drop; ten thousand mean the
    * benchmark is effectively memorized. Unexposed eval items are
    * absent (the [[evalExposureReport]] convention).
    *
    * Same scale shape as [[semanticReport]]: broadcast-eval map-side
    * codegen scoring over the corpus, the pair-level `minCosine` gate
    * BEFORE the exchange — so the aggregate (keyed by the benchmark-
    * sized eval id) sees flagged pairs only, never the corpus.
    */
  def semanticExposureReport(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      vecCol: String,
      evalIdCol: String,
      minCosine: Double): DataFrame = {
    require(!train.columns.contains("__qvec") && !train.columns.contains("__q"),
      "__qvec/__q are reserved by semanticExposureReport")
    requireNumericEvalId(evalDocs, evalIdCol, "semanticExposureReport")
    // the tie rule negates the TRAIN id here (nearest_train)
    val tdt = train.schema(idCol).dataType
    require(tdt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"semanticExposureReport: idCol '$idCol' must be numeric (the " +
        s"nearest-train tie rule negates it), got ${tdt.simpleString}")
    val q = evalDocs.select(col(evalIdCol).as("__q"), col(vecCol).as("__qvec"))
    train.select(col(idCol), col(vecCol))
      .join(broadcast(q))
      .select(col("__q"), col(idCol),
        round(graft.functions.VectorFunctions.cosineSimilarity(
          col(vecCol), col("__qvec")), 6).as("__cos"))
      .filter(col("__cos") >= minCosine)
      .groupBy(col("__q"))
      .agg(count(lit(1)).as("n_train_docs"),
        max(struct(col("__cos"), (-col(idCol)).as("__nid"))).as("__m"))
      .select(col("__q").as("eval_id"), col("n_train_docs"),
        col("__m.__cos").as("max_cosine"), (-col("__m.__nid")).as("nearest_train"))
  }

  /** The SEMANTIC pair table — [[contaminationPairs]]' embedding-space
    * sibling: one row per (train doc, eval doc) pair whose cosine clears
    * `minCosine`, with the (6-decimal rounded) cosine. [[semanticReport]]
    * is its per-train argmax, [[semanticExposureReport]] its per-eval
    * aggregate. Broadcast-eval map-side scoring with the pair gate
    * applied BEFORE anything shuffles; the output is bounded by the
    * flagged overlap, not the corpus×eval product — size the threshold
    * accordingly (a low threshold over a large corpus IS the cross
    * product).
    */
  def semanticContaminationPairs(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      vecCol: String,
      evalIdCol: String,
      minCosine: Double): DataFrame = {
    require(!train.columns.contains("__qvec") && !train.columns.contains("__q"),
      "__qvec/__q are reserved by semanticContaminationPairs")
    val q = evalDocs.select(col(evalIdCol).as("__q"), col(vecCol).as("__qvec"))
    train.select(col(idCol), col(vecCol))
      .join(broadcast(q))
      .select(col(idCol).as("train_id"), col("__q").as("eval_id"),
        round(graft.functions.VectorFunctions.cosineSimilarity(
          col(vecCol), col("__qvec")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** [[semanticReport]] through the IVF index — the CORPUS-SCALE form:
    * the broadcast variant evaluates |corpus| × |eval| cosines in one
    * map-side pass, which is exact but stops scaling when the eval set
    * grows past benchmark size (the compute product, before the 8 GB
    * broadcast ceiling). Here the TRAIN corpus is pre-indexed by
    * [[Similarity.buildIvfIndex]] (partitioned by centroid id), each
    * eval item probes only its `nprobe` nearest centroid partitions, and
    * — the decontamination-specific lever — the `minCosine` gate applies
    * PER PAIR map-side, so only flagged (train, eval) pairs reach the
    * per-doc max aggregate. The corpus side of the plan is scan →
    * broadcast join → project → filter → partial aggregate: NO corpus
    * vector ever shuffles (the one exchange carries flagged id/cosine
    * triples), and the index build is the one corpus shuffle, amortized
    * across every eval set probed against it.
    *
    * Exactness: with `nprobe` ≥ the index's centroid count every train
    * row scores against every eval item exactly once, and the result is
    * row-for-row [[semanticReport]] (the gated query pins this); with
    * `nprobe` below it the report is approximate in the usual IVF sense —
    * a leak whose eval item did not probe the doc's partition is missed,
    * the recall/nprobe trade the planted-cluster spec measures.
    *
    * `corpusFilter` restricts which indexed rows count as training docs
    * (e.g. an index built over a table holding both sides); `evalIdCol`
    * must be numeric (the [[semanticReport]] tie rule negates it). The
    * probe list (eval × nprobe rows with vectors) broadcasts; an eval
    * set beyond THAT ceiling splits into broadcast-sized slices whose
    * reports union and re-aggregate with the same max(struct) — each
    * slice replays this exact plan.
    *
    * `index` is `spark.read.parquet(path)` of the [[Similarity.buildIvfIndex]]
    * layout and `centroids` its `path + "__centroids"` table, resolved once
    * by a caller probing a frozen index repeatedly (the
    * [[Similarity.ivfTopKBatchOn]] rationale); probe data is still read per
    * call.
    */
  def semanticReportIvfOn(
      index: DataFrame,
      centroids: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      vecCol: String,
      evalIdCol: String,
      minCosine: Double,
      nprobe: Int,
      corpusFilter: Column = lit(true)): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cos = graft.functions.VectorFunctions.cosineSimilarity _
    val idxCols = index.columns.toSet
    require(Seq(idCol, vecCol, "cid").forall(idxCols),
      s"semanticReportIvf: the index frame must carry '$idCol', " +
        s"'$vecCol' and 'cid' — found [${idxCols.mkString(", ")}]; build it " +
        "with Similarity.buildIvfIndex over the training corpus")
    require(!idxCols.exists(Set("__q", "__qvec", "__cos", "__m")),
      "__q/__qvec/__cos/__m are reserved by semanticReportIvf")
    requireNumericEvalId(evalDocs, evalIdCol, "semanticReportIvf")
    val q = evalDocs.select(col(evalIdCol).as("__q"), col(vecCol).as("__qvec"))
    // rank the (tiny, broadcast) centroid table per eval item; the window
    // shuffles eval × nlist rows — eval-sized, never the corpus
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__q")).orderBy(col("__ccos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("__ccos", cos(col("centroid"), col("__qvec")))
      .withColumn("__cr", row_number().over(probeW))
      .filter(col("__cr") <= nprobe)
      .select(col("cid"), col("__q"), col("__qvec"))
    // cid is the index's PARTITION column: the broadcast probe join prunes
    // the scan to probed directories, scoring stays map-side codegen, and
    // the pair-level threshold keeps clean pairs out of the exchange
    val flagged = index.filter(corpusFilter)
      .join(broadcast(probes), Seq("cid"))
      .select(col(idCol),
        round(cos(col(vecCol), col("__qvec")), 6).as("__cos"), col("__q"))
      .filter(col("__cos") >= minCosine)
    // same aggregate (and tie rule) as [[semanticReport]]: filtering
    // pairs first is equivalent — the max pair survives its own gate
    flagged.groupBy(col(idCol))
      .agg(max(struct(col("__cos"), (-col("__q")).as("__nq"))).as("__m"))
      .select(col(idCol), col("__m.__cos").as("max_cosine"),
        (-col("__m.__nq")).as("nearest_eval"))
  }

  /** The reverse direction of [[contaminationReport]] — per EVAL item, how
    * exposed is it in the training corpus: the number of distinct training
    * docs sharing at least one n-gram with it, and the number of its own
    * distinct shingles that leak. The benchmark-integrity report ("which
    * eval questions has the model effectively seen, and how often") that
    * decides whether an eval stays usable after a contamination incident;
    * unexposed eval items are absent.
    *
    * Shape: the same broadcast-eval + join-before-distinct discipline as
    * [[contaminationReport]]; the two exposure counts aggregate in
    * SEPARATE branches over the (tiny) matched-pair stream and join back
    * on eval id — one `count_distinct` pair in a single aggregation would
    * plan an Expand that doubles the stream (the duplicatedSpans lesson).
    */
  def evalExposureReport(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    requireNoShingleColumn(train, evalDocs)
    val evalShingles = explodedShingles(evalDocs, textCol, n, keep = Seq(col(idCol)))
      .select(col(idCol).as("eval_id"), col("__s").as("shingle")).distinct()
    val trainShingles = explodedShingles(train, textCol, n, keep = Seq(col(idCol)))
      .select(col(idCol).as("__train_id"), col("__s").as("shingle"))
    val pairs = Dedup.cache(trainShingles
      .join(broadcast(evalShingles), Seq("shingle"))
      .select(col("eval_id"), col("__train_id"), col("shingle"))
      .distinct())
    val docsHit = pairs.select(col("eval_id"), col("__train_id")).distinct()
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_train_docs"))
    val shinglesHit = pairs.select(col("eval_id"), col("shingle")).distinct()
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_shingles_leaked"))
    docsHit.join(shinglesHit, Seq("eval_id"))
  }

  /** SPAN-LEVEL decontamination — the surgical alternative to
    * [[dropContaminated]]'s whole-document drop: real pipelines often
    * MASK the leaked n-gram span and keep the rest of the document (a
    * 10k-word page should not vanish over one quoted benchmark
    * sentence). One row per CONTAMINATED training doc: `masked_text`
    * (every word covered by any eval-matching n-gram replaced with
    * `maskToken`, all other words byte-identical) and `n_masked_words`.
    * Clean docs are absent (the [[contaminationReport]] convention) —
    * callers union the masked rows back over an anti-join, or join on
    * the id to patch in place.
    *
    * Scale shape: the corpus-wide fan-out runs through the JVM-speed
    * [[graft.functions.WordShingleHashes]] generator WITH its 0-based
    * span position (no interpreted HOF on the hot path — the r12
    * lesson); the broadcast eval join keeps only matching (doc, pos)
    * pairs, so the per-doc hit-set aggregate shuffles flagged positions
    * only; the word-by-word mask rebuild (a HOF chain) runs over the
    * CONTAMINATED docs alone, after the inner join. Masking replaces
    * word-for-word, so positions never shift — `maskToken` must itself
    * be a single space-free token for the same reason.
    */
  def maskContaminatedSpans(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maskToken: String = "<mask>"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maskToken.nonEmpty && !maskToken.contains(" "),
      s"maskToken must be one space-free token, got '$maskToken'")
    require(Seq(train, evalDocs).forall(d =>
        !d.columns.exists(Set("__s", "__pos", "__hits", "__shingle"))),
      "__s/__pos/__hits/__shingle are reserved by maskContaminatedSpans")
    val evalShingles = explodedShingles(evalDocs, textCol, n, keep = Nil)
      .select(col("__s").as("__shingle")).distinct()
    val positioned = train.select(col(idCol),
      graft.functions.WordShingleHashesFunction
        .wordShingleHashes(col(textCol), n, withHashes = false, withPos = true)
        .as(Seq("__pos", "__s")))
    val hits = positioned
      .join(broadcast(evalShingles), col("__s") === col("__shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__pos"))).as("__hits"))
    // positions index the plain space-split of the ORIGINAL text — the
    // lowercased tokenization splits at the same offsets, so the mask
    // lands on the original-case words
    val words = split(col(textCol), " ")
    val idxs = sequence(lit(0), size(words) - 1)
    val covered = (i: Column) =>
      exists(col("__hits"), h => i >= h && i < h + n)
    train.join(hits, Seq(idCol)) // inner: contaminated docs only
      .select(col(idCol),
        array_join(
          zip_with(words, idxs,
            (w, i) => when(covered(i), lit(maskToken)).otherwise(w)),
          " ").as("masked_text"),
        size(filter(idxs, covered)).cast("long").as("n_masked_words"))
  }

  /** `train` minus every doc whose shared-shingle count exceeds
    * `maxShared` (default 0: any overlap drops the doc). Left-anti on the
    * id — linear in the corpus.
    */
  def dropContaminated(
      train: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShared: Long = 0L): DataFrame = {
    val flagged = contaminationReport(train, evalDocs, idCol, textCol, n)
      .filter(col("n_shared") > maxShared)
      .select(col(idCol))
    train.join(flagged, Seq(idCol), "left_anti")
  }
}
