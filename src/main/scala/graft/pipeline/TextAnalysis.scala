package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table (driver prompt;
  * SURVEY.md §7 phase 4): token counting, quality scoring, language-ID
  * heuristic, document fingerprinting. All map-side, codegen-friendly
  * built-in expressions except the rolling hash (a native Catalyst
  * expression) — zero shuffles, linear scale.
  */
object TextAnalysis {

  /** Per-document token statistics (whitespace tokenization). The average is
    * left as the raw IEEE division of two exact ints — both engines divide
    * the same integers and get bitwise-identical doubles; rounding it would
    * reintroduce the cross-engine halfway divergence.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"),
      size(array_distinct(split(col("text"), " "))).as("n_distinct"),
      expr("cast(aggregate(transform(split(text, ' '), t -> length(t)), 0, (a, v) -> a + v) AS double) " +
        "/ cast(size(split(text, ' ')) AS double)").as("avg_token_len"))

  /** Corpus vocabulary — the tokenizer-training precursor: one row per term
    * with total occurrences (`tf`) and document frequency (`df`), the top
    * `k` terms by `tf` with a lexicographic tie-break (fully deterministic
    * cut even at the rank-k boundary). The top-k plans as
    * `TakeOrderedAndProject` — per-partition partial top-k merged on the
    * driver, never a global sort — and both counts come out of ONE
    * aggregation over the exploded (doc_id, term) stream, so the pass over
    * a 100 TB corpus is explode → partial agg → one shuffle on term.
    */
  def vocabulary(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term"))
      .limit(k)

  /** [[vocabulary]] minus the document-frequency column — the SAME top-k
    * term set and tf values (the cut is (tf desc, term); df plays no role
    * in it), for consumers that never read df (r21): the exact
    * `countDistinct` plans an Expand that doubles the exploded token
    * stream through the aggregation, so df-free callers
    * ([[unigramLogProb]], OOV term lists) were paying 2× exchange bytes
    * for a discarded column.
    */
  def topTermCounts(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term"))
      .limit(k)

  /** Token-count histogram in fixed-width buckets — the corpus-shape sweep
    * behind packing/batching decisions (how much of the corpus is short
    * tail vs long documents). One map-side bucket expression + one tiny
    * aggregation; `bucket_lo` is the bucket's inclusive lower edge.
    */
  def lengthHistogram(docs: DataFrame, bucketWidth: Int = 50): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    docs
      .select((floor(size(split(col("text"), " ")).cast("double") / lit(bucketWidth.toDouble))
        .cast("long") * bucketWidth).as("bucket_lo"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Top-k adjacent-word collocations with exact-ratio lift — the
    * merge-choice statistic of BPE-style tokenizer training (which pair to
    * fuse next) and a phrase-mining primitive. `lift` is the PMI ratio
    * WITHOUT the log: N·c(a,b) / (c(a)·c(b)) — all factors exact integers,
    * so the one double division replays bitwise in any IEEE engine (log-PMI
    * would hinge on libm rounding). Deterministic cut: count desc, bigram
    * asc.
    *
    * Scale shape: two linear explode→count aggregations (map-side partials
    * collapse in place), unigram counts joined back broadcast
    * (vocabulary-sized), top-k as TakeOrderedAndProject.
    */
  def bigramStats(docs: DataFrame, k: Int = 100): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tokens = docs.select(explode(split(lower(col("text")), " ")).as("w"))
    val unigrams = tokens.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    // N = Σ unigram counts — a vocabulary-sized aggregate, not a second
    // corpus tokenize pass (r21); exact long arithmetic either way
    val total = unigrams.agg(sum(col("c1")).as("n_total"))
    // the bigram fan-out is the native word-shingle generator at n = 2
    // (r21; the interpreted struct-pair transform allocated per element) —
    // the span IS the output's `bigram` string, and the unigram join keys
    // recover exactly: a token never contains a space, so the first/last
    // space-separated segment of "a b" is a/b even when one is empty
    val bigrams = docs
      .select(graft.functions.WordShingleHashesFunction
        .wordShingleHashes(col("text"), 2, withHashes = false).as(Seq("bigram")))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .select(col("bigram"), col("c_ab"),
        substring_index(col("bigram"), " ", 1).as("a"),
        substring_index(col("bigram"), " ", -1).as("b"))
    bigrams
      .join(broadcast(unigrams.select(col("w").as("a"), col("c1").as("c_a"))), Seq("a"))
      .join(broadcast(unigrams.select(col("w").as("b"), col("c1").as("c_b"))), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("c_ab"),
        // cast BEFORE the product: two hot-token unigram counts multiply
        // past Long.Max on a large corpus ("the" at ~3e10 squares to
        // ~9e20) and ANSI mode turns that overflow into a job failure —
        // double*double is the same value at any realistic magnitude
        ((col("n_total").cast("double") * col("c_ab").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift"))
      .orderBy(col("c_ab").desc, col("bigram"))
      .limit(k)
  }

  /** Cross-document duplicated spans — the published signal behind
    * substring-level training-data dedup (long n-grams appearing in many
    * documents are boilerplate/licenses/templated text, and exact-substring
    * dedup targets exactly these): every lowercased word `n`-gram occurring
    * in at least `minDocs` DISTINCT documents, with its total occurrence
    * count, top `k` by occurrences (span tie-break — fully deterministic
    * cut).
    *
    * Scale shape — HASH-FIRST narrowing: neither the mining aggregation
    * nor the exchange ever sees span STRINGS. Pass 1 explodes to
    * per-doc-distinct `(doc_id, xxhash64(word-slice), count)` rows via the
    * generator's `withCounts` mode (8-byte keys, ~10× fewer exchange bytes
    * than the n·~7-byte strings for n=10) and aggregates per hash in ONE
    * level — `sum(__c)` is the total occurrences and `count(*)` the
    * distinct-doc count, because the generator already collapsed each
    * document's multiplicities map-side (r22; the previous two-level
    * (hash, doc) → (hash) aggregation paid a full extra EXCHANGE of the
    * exploded stream between the levels, and the single-level
    * `count + count_distinct` alternative plans an Expand that DOUBLES
    * the stream — this form ships one row per (hash, doc) with no
    * intermediate shuffle at all). The k-th-largest count becomes
    * an IN-PLAN threshold (the [[Mixture]] pattern — no driver collect),
    * its ≥-filter keeps every boundary tie, so modulo hash collisions the
    * candidate hash set is a superset of the true top-k. (A 64-bit
    * collision merging two spans' counts could in principle inflate the
    * threshold past a true winner — ~n²/2⁶⁴ for n distinct spans, the
    * same vanishing odds [[Decontamination]] documents; the exact
    * string-side cut downstream bounds the damage to that one cut.) Pass 2 re-explodes map-side,
    * broadcast-semi-joins the candidate hashes (k + ties rows), builds the
    * span strings ONLY for that boilerplate-sized survivor stream, and
    * aggregates EXACT string counts before the final (count desc, span)
    * cut as TakeOrderedAndProject. At 100 TB the map-side re-scan is far
    * cheaper than either caching the exploded stream or shuffling raw
    * strings. The same narrowing [[Decontamination]] uses.
    */
  def duplicatedSpans(
      docs: DataFrame,
      n: Int = 10,
      minDocs: Int = 2,
      k: Int = 100): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    require(k > 0, s"k must be positive, got $k")
    val exploded = explodedSliceHashCounts(docs, n)
    val candidateHashes = topSpanHashes(explodedHashCountsOnly(docs, n), minDocs, k)
    exploded
      .join(broadcast(candidateHashes), Seq("__h"), "left_semi")
      .groupBy(col("span"))
      .agg(sum(col("__c")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occurrences").desc, col("span"))
      .limit(k)
  }

  /** Shingles as per-doc-DISTINCT `(doc_id, __h, span, __c)` rows from the
    * [[graft.functions.WordShingleHashes]] generator's `withCounts` mode —
    * each document tokenized ONCE at JVM speed (the transform/slice HOF
    * chain is interpreted per element; it benchmarked ~10× slower on the
    * same corpus), hashes bit-equal to `xxhash64(span)`, and each
    * document's span multiplicities collapsed INSIDE the generator so the
    * downstream per-span aggregation groups on `span` alone — no
    * (span, doc)-keyed intermediate exchange (r22, guide §2.3/§2.4).
    * Recomputed per mining pass rather than cached: the generate is
    * map-side-only work, while caching would value-serialize the full ~n×
    * span-string blowup into storage memory.
    */
  private def explodedSliceHashCounts(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.WordShingleHashesFunction.wordShingleHashes(
        col("text"), n, withCounts = true))

  /** The hash-only fan-out for the THRESHOLD pass ([[topSpanHashes]]):
    * Spark cannot column-prune inside a generator, so the span-string
    * column the mining aggregation never reads is not built at all
    * (r21 — `withSpans = false` skips even the zero-copy span view); the
    * per-doc hash multiplicities collapse inside the generator
    * (`withCounts`, r22) so the threshold aggregation is single-level.
    */
  private def explodedHashCountsOnly(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.WordShingleHashesFunction.wordShingleHashes(
        col("text"), n, withSpans = false, withCounts = true))

  /** The hash-side mining pass shared by [[duplicatedSpans]] and
    * [[dropBoilerplate]]: per-hash (total occurrences, distinct docs) over
    * [[explodedHashCountsOnly]] input, minDocs-filtered, narrowed to every
    * hash whose count reaches the k-th largest (ties INCLUDED — the
    * ≥-threshold keeps the candidate set a superset of the final top-k, so
    * the exact string-side cut downstream is lossless). Returns a
    * one-column `__h` frame of ~k + ties rows — broadcast-sized by
    * construction. Single-level since r22: the generator pre-counts per
    * doc, so `sum(__c)`/`count(*)` here replay the old two-level
    * (hash, doc) → (hash) totals with one exchange instead of two.
    */
  private def topSpanHashes(exploded: DataFrame, minDocs: Int, k: Int): DataFrame = {
    val perHash = exploded
      .select(col("__h"), col("__c"))
      .groupBy(col("__h"))
      .agg(sum(col("__c")).as("__n_occ"), count(lit(1)).as("__n_docs"))
      .filter(col("__n_docs") >= minDocs)
    // k-th-largest count as a 1-row in-plan threshold (empty input → cross
    // join yields no rows, which is the right answer)
    val kth = perHash
      .orderBy(col("__n_occ").desc).limit(k)
      .agg(min(col("__n_occ")).as("__kth"))
    perHash
      .crossJoin(broadcast(kth))
      .filter(col("__n_occ") >= col("__kth"))
      .select(col("__h"))
  }

  /** The curation form of [[duplicatedSpans]]: drop every document
    * containing one of the corpus's top boilerplate spans — the act step
    * of substring-level dedup (licenses, templated headers, navigation
    * chrome), composing span MINING with the [[Decontamination]]-style
    * membership gate. The mined span list is top-k-bounded (broadcast
    * side); membership is an explode + broadcast semi join + distinct on
    * ids + anti join — the contaminated-id set is boilerplate-sized, never
    * corpus-sized.
    */
  def dropBoilerplate(
      docs: DataFrame,
      n: Int = 10,
      minDocs: Int = 2,
      k: Int = 100): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    require(k > 0, s"k must be positive, got $k")
    val exploded = explodedSliceHashCounts(docs, n)
    val candidateHashes = topSpanHashes(explodedHashCountsOnly(docs, n), minDocs, k)
    // ONE candidate-narrowed pass feeds BOTH the exact string-side top-k
    // and the membership gate (pre-r16 each consumer re-scanned the
    // corpus-wide shingle stream — three full passes; now the threshold
    // pass and this one are the only two, the minimum the hash-first
    // two-phase design admits). Sharing is via an EXPLICIT cache, not
    // ReuseExchange: the consumers prune different columns (the gate drops
    // __per_doc), so their subplans are not identical and exchange reuse
    // cannot fire — while a cache serves pruned reads of either column
    // set. The cached frame is (span, doc_id, per-doc count) for candidate
    // hashes only — at most (k + ties) spans × their carrier docs, the
    // same stream the old membership gate shuffled anyway, far below the
    // ~n× corpus blowup the explodedSliceHashCounts note warns against
    // caching. Both consumers reading it is plan-asserted in CurationSpec.
    // Since r22 the per-doc count comes straight out of the generator
    // (`withCounts`), so the narrowed frame materializes MAP-SIDE — the
    // (span, doc)-keyed aggregation (and its exchange) is gone.
    val narrowed = Dedup.cache(exploded
      .join(broadcast(candidateHashes), Seq("__h"), "left_semi")
      .select(col("span"), col("doc_id"), col("__c").as("__per_doc")))
    // exact string-side top-k — the same lossless cut as duplicatedSpans —
    // kept as WINNER SPANS (exactly k strings, so the membership gate
    // matches the mined list, not the tie-inflated candidate superset)
    val winnerSpans = narrowed
      .groupBy(col("span"))
      .agg(sum(col("__per_doc")).as("n_occurrences"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occurrences").desc, col("span"))
      .limit(k)
      .select(col("span"))
    // membership gate = hash PREFILTER then exact string CONFIRM (ADVICE
    // r15): the corpus-wide pass touched only the 8-byte __h, and this
    // span-string equi-join runs over the narrowed carrier pairs — so a
    // 64-bit collision with a winner span cannot silently DROP a
    // non-carrier document; at worst it costs one extra confirm-side row
    val flagged = narrowed
      .join(broadcast(winnerSpans), Seq("span"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** Per-document mean unigram log-probability — the CCNet-style LM quality
    * signal (a cheap stand-in for LM perplexity: gibberish and
    * out-of-distribution text score low, fluent in-distribution text high):
    * an add-`alpha` smoothed unigram model over the corpus's own top
    * `vocabK` terms, every non-vocab token sharing one OOV symbol.
    *
    * Scale shape: the model is two tiny broadcast sides (the vocab counts
    * and a 1-row totals frame — thresholds computed IN-PLAN, the
    * [[Mixture]] pattern, so the operator composes and re-runs
    * deterministically); scoring is a map-side broadcast join + one
    * doc-keyed aggregation. Probabilities are exact-integer IEEE divisions;
    * the one libm call (ln) is rounded to 6 decimals after the per-doc
    * mean, which absorbs cross-engine ulp drift (the q_prep_cosine
    * precedent).
    */
  def unigramLogProb(
      docs: DataFrame,
      vocabK: Int = 1000,
      alpha: Double = 1.0): DataFrame = {
    require(vocabK > 0, s"vocabK must be positive, got $vocabK")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val tokens = docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
    // df-free top-k (r21): the vocabulary cut never used df, and the exact
    // countDistinct Expand doubled the token stream through the exchange
    val vocab = topTermCounts(docs, vocabK)
    val totals = tokens.agg(count(lit(1)).as("n_total"))
    val vsize = vocab.agg(count(lit(1)).as("v_size"))
    tokens
      .join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(vsize))
      .select(col("doc_id"),
        log((coalesce(col("tf"), lit(0L)).cast("double") + lit(alpha)) /
          (col("n_total").cast("double") + lit(alpha) * (col("v_size").cast("double") + 1.0)))
          .as("__lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("__lp")), 6).as("avg_logprob"))
  }

  /** Per-document token-distribution entropy (nats): `−Σ (tf/n)·ln(tf/n)`
    * over the doc's own term frequencies — near 0 for one-token spam,
    * `ln(n_tokens)` for all-distinct text; with [[Repetition]] it is the
    * pair of standard repetition/diversity axes. One explode → (doc, term)
    * partial agg → doc-keyed finish, round-6 (summation order).
    */
  def docEntropy(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val p = col("tf").cast("double") / col("__n").cast("double")
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("__n", sum(col("tf")).over(w))
      .groupBy(col("doc_id"))
      .agg(max(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(-sum(p * log(p)), 6).as("entropy"))
  }

  /** Zipf-law fit over the top-`k` vocabulary — the one-row corpus health
    * diagnostic: natural text follows `ln tf ≈ a + s·ln rank` with slope
    * `s ≈ −1`; a flat slope flags boilerplate/template floods, a cliff
    * flags a degenerate vocabulary. Returns (n_terms, zipf_slope, zipf_r2)
    * from a least-squares fit on the log-log curve.
    *
    * The window ranks only the top-k vocabulary (k bounded — the
    * single-partition sort is k rows, not the corpus), and the fit is one
    * `regr_slope`/`regr_r2` aggregate over it; the corpus-sized work is
    * [[vocabulary]]'s one explode + term agg. Round-6 absorbs the
    * engine-side `ln` and summation-order ulp.
    */
  def zipfFit(docs: DataFrame, k: Int = 200): DataFrame = {
    require(k >= 2, s"k must be >= 2 to fit a line, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tf").desc, col("term"))
    vocabulary(docs, k)
      .withColumn("rank", row_number().over(w))
      .agg(count(lit(1)).as("n_terms"),
        round(regr_slope(log(col("tf").cast("double")),
          log(col("rank").cast("double"))), 6).as("zipf_slope"),
        round(regr_r2(log(col("tf").cast("double")),
          log(col("rank").cast("double"))), 6).as("zipf_r2"))
  }

  /** Per-document bigram language-model score — the CCNet-style quality
    * lever ([[unigramLogProb]] with one token of context): train add-1
    * bigram counts on the corpus itself, score each document by the average
    * `ln P(w_i | w_{i-1})` over its bigrams, and report perplexity
    * `exp(-avg)`. Prose written like the corpus scores low perplexity;
    * boilerplate, gibberish, and wrong-language text score high — the
    * standard keep/drop axis for web-scrape curation.
    *
    * Model: `P(v | u) = (c(u,v) + 1) / (c(u) + V + 1)` with the bigram
    * table cut to the top `bigramK` types and contexts to the top
    * `contextK` (count desc, key asc — deterministic cuts); an absent
    * entry contributes count 0, so every bigram gets positive mass. `V` is
    * the corpus's distinct-unigram count (one scalar aggregate).
    *
    * Scale shape: both model tables are top-K-bounded broadcasts. The doc
    * side is one map-side shingle explode and one doc-keyed aggregation.
    * Documents
    * with fewer than 2 tokens have no bigrams and are absent from the
    * output. `avg_logprob` is rounded to 6 (summation-order drift);
    * `perplexity` is exp of that already-rounded value, rounded again.
    */
  def bigramLogProb(
      docs: DataFrame,
      bigramK: Int = 5000,
      contextK: Int = 1000): DataFrame = {
    require(bigramK > 0, s"bigramK must be positive, got $bigramK")
    require(contextK > 0, s"contextK must be positive, got $contextK")
    // The corpus fan-out feeds the model aggregation AND the scoring
    // join; each consumer re-runs the map-side generator rather than
    // reading a cache (r21): caching value-serialized every bigram STRING
    // into storage memory — infeasible at corpus scale and measured
    // SLOWER than three generator passes at sf0.1 once the byte-offset
    // generator landed (q_text_bigram_lm 0.68 s → 0.29 s, ppl_drop
    // 0.79 → 0.52). The fan-out is the JVM-speed generator, not the
    // interpreted transform/slice HOF (the r12 lesson); the unused hash
    // column is not computed at all (withHashes = false, r21).
    val bg = docs.select(col("doc_id"),
      graft.functions.WordShingleHashesFunction
        .wordShingleHashes(col("text"), 2, withHashes = false)
        .as(Seq("bigram")))
      .withColumn("ctx", substring_index(col("bigram"), " ", 1))
    // BOTH model tables from ONE distinct-bigram aggregation (r22, guide
    // §2.4): a context's count is exactly the sum of its bigrams' counts
    // (ctx is a pure function of the bigram string), so contextCounts
    // derives from the per-bigram totals — exact long arithmetic — instead
    // of re-running the corpus generator for a second occurrence-level
    // aggregation. The two consumers' subplans share the groupBy(bigram)
    // exchange (AQE ReusedExchange — the duplicatedSpans kth-branch
    // mechanism, visible in the committed *_final plan dumps), so the
    // model now costs ONE corpus pass; the ctx re-aggregation runs over
    // the bigram-VOCABULARY-sized totals, not the occurrence stream.
    val pairCounts = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    val bigramCounts = pairCounts
      .orderBy(col("c2").desc, col("bigram")).limit(bigramK)
    val contextCounts = pairCounts
      .groupBy(substring_index(col("bigram"), " ", 1).as("ctx"))
      .agg(sum(col("c2")).as("c1"))
      .orderBy(col("c1").desc, col("ctx")).limit(contextK)
    val vSize = docs
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .agg(countDistinct(col("term")).as("v_size"))
    val lp = log((coalesce(col("c2"), lit(0L)).cast("double") + lit(1.0)) /
      (coalesce(col("c1"), lit(0L)).cast("double") +
        (col("v_size").cast("double") + 1.0)))
    bg
      .join(broadcast(bigramCounts), Seq("bigram"), "left")
      .join(broadcast(contextCounts), Seq("ctx"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("doc_id"), lp.as("__lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("__lp")), 6).as("avg_logprob"))
      .withColumn("perplexity", round(exp(-col("avg_logprob")), 6))
  }

  /** The act step of [[bigramLogProb]]: keep documents whose corpus-LM
    * perplexity is at most `maxPerplexity`. Documents too short to score
    * (fewer than 2 tokens) are DROPPED — an unscoreable document fails the
    * quality gate rather than bypassing it. Linear: score join is
    * doc-keyed against the already-doc-keyed score output.
    */
  def dropByPerplexity(
      docs: DataFrame,
      maxPerplexity: Double,
      bigramK: Int = 5000,
      contextK: Int = 1000): DataFrame = {
    require(maxPerplexity > 0, s"maxPerplexity must be positive, got $maxPerplexity")
    val kept = bigramLogProb(docs, bigramK, contextK)
      .filter(col("perplexity") <= maxPerplexity)
      .select(col("doc_id"), col("perplexity"))
    docs.join(kept, Seq("doc_id"))
  }

  /** Per-document out-of-vocabulary rate against a term list (typically
    * [[vocabulary]]'s top-k — the tokenizer-coverage sweep run before
    * committing to a vocab size): token total, OOV count, OOV fraction.
    *
    * Scale shape: the vocab side is vocabulary-sized and broadcasts, so the
    * membership join is map-side; the per-doc aggregation's partial agg
    * collapses in place (explode keeps a doc's tokens in its partition), so
    * one narrow doc-keyed shuffle. The fraction is an exact-integer IEEE
    * division — engine-replayable bit for bit.
    */
  def oovStats(docs: DataFrame, vocab: DataFrame): DataFrame = {
    require(vocab.columns.contains("term"), "vocab needs a 'term' column")
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("term"))
    toks.join(broadcast(vocab.select(col("term"), lit(1).as("__in"))), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_fraction"))
  }

  /** Per-document top-`k` terms by TF-IDF — the keyword-extraction /
    * document-signature sweep (what is this page about, which docs to route
    * to which domain bucket). The idf factor is kept LOG-FREE as the exact
    * ratio N/df (the [[bigramStats]] lift precedent): `score =
    * tf · N / df` with every factor an exact integer, so the one double
    * division replays bitwise in any IEEE engine — log-idf would rank
    * identically (log is monotone) while hinging every score on libm
    * rounding. Deterministic per-doc cut: score desc, term asc.
    *
    * Scale shape: one explode → (doc, term) partial-agg (the only
    * corpus-sized shuffle), document frequencies from a second
    * distinct-pair-sized aggregation joined back BROADCAST
    * (vocabulary-sized), then a BOUNDED per-doc top-k aggregate (r22 — the
    * rank window it replaces sorted the full scored stream per partition
    * to keep k rows; the aggregate partial-reduces to ≤k payload rows per
    * doc per map task, bit-equal cut and rk).
    */
  def tfIdfTopTerms(
      docs: DataFrame,
      k: Int = 5,
      minDf: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    // the (doc, term, tf) stream feeds BOTH the df aggregation and the
    // scoring join — cached (Dedup's registry, caller/harness clears) so
    // the corpus-wide fan-out materializes once instead of twice. tf is
    // counted INSIDE the generator (n = 1 word-shingles ≡ the tokens of
    // split(lower(text), " "), withCounts — r22, guide §2.3/§2.4): the
    // per-(doc, term) frame materializes MAP-SIDE, where the old
    // explode + groupBy(doc, term) paid a full corpus-token exchange
    // before anything downstream could run.
    val perDoc = Dedup.cache(docs
      .select(col("doc_id"),
        graft.functions.WordShingleHashesFunction
          .wordShingleHashes(col("text"), 1, withHashes = false, withCounts = true)
          .as(Seq("term", "tf"))))
    val dfCounts = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // bounded per-doc top-k AGGREGATE, not a rank window (r22, guide
    // §2.3/§2.4 — the deferred r21 item): the window form sorted the whole
    // scored (doc, term) stream per partition (plus a doc-keyed exchange)
    // to keep k rows per doc; [[graft.functions.TopKTermsByScore]] partial-
    // aggregates to ≤k payload rows per doc per map task, so no sort ever
    // touches the stream and the exchange carries k rows per doc. Ordering
    // (score desc, term asc in code-point = UTF8String binary order) and
    // the emitted rk = 1..k are bit-equal to the window plan —
    // spec-pinned in CurationSpec.
    val topk = udaf(new graft.functions.TopKTermsByScore(k))
    perDoc
      .join(broadcast(dfCounts), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * col("n_docs").cast("double") /
          col("df").cast("double")).as("score"))
      .groupBy(col("doc_id"))
      .agg(topk(col("term"), col("tf"), col("df"), col("score")).as("__top"))
      .select(col("doc_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("doc_id"), col("__t.term").as("term"), col("__t.tf").as("tf"),
        col("__t.df").as("df"), col("__t.score").as("score"),
        (col("__pos") + 1).cast("int").as("rk"))
  }

  /** Gopher-style quality rule flags (Rae et al. 2021's repetition-free
    * document filters, re-expressed over this corpus's whitespace
    * tokenization): per-document word count, mean word length,
    * symbol-to-word ratio (# and ellipsis runs), fraction of words with an
    * alphabetic character, and stopword-hit count, plus the conjunctive
    * `keep` verdict at the given thresholds. Entirely map-side built-ins
    * (length/replace arithmetic + one filtered-array size) — no shuffle,
    * stream-composable, and every ratio is an exact-integer IEEE division
    * so the flags replay bitwise in any engine.
    */
  def gopherQuality(
      docs: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwordHits: Int = 2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got $minWords..$maxWords")
    val words = split(col("text"), " ")
    val nWords = size(words)
    val charsNoSpace = length(regexp_replace(col("text"), " ", ""))
    val hashCount = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val ellipsisCount =
      (length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3)
    val alphaWords = expr("size(filter(split(text, ' '), t -> t rlike '[A-Za-z]'))")
    val stopHits = stopwords("en")
      .map(wrd => when(array_contains(split(lower(col("text")), " "), wrd), 1).otherwise(0))
      .reduce(_ + _)
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      (charsNoSpace.cast("double") / nWords.cast("double")).as("mean_word_len"),
      ((hashCount + ellipsisCount).cast("double") / nWords.cast("double")).as("symbol_ratio"),
      (alphaWords.cast("double") / nWords.cast("double")).as("alpha_frac"),
      stopHits.as("stopword_hits"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stopword_hits") >= minStopwordHits)
  }

  /** Canonical text normalization — the first map of any ingestion DAG:
    * C0 controls (minus tab/newline/CR, which are whitespace), DEL, and the
    * C1 range (U+0080–U+009F, endemic in mis-decoded latin-1 crawl text)
    * become spaces, whitespace runs collapse to one space, edges trim.
    * Idempotent (normalize ∘ normalize = normalize, property-checked), pure
    * map-side regexp (RE2-compatible classes so external engines replay it
    * verbatim), zero state on a stream.
    */
  def normalizeText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]", " "),
      "\\s+", " "))

  /** GPT-2-style BPE pre-tokenization pattern (contractions, letter runs,
    * digit runs, punctuation runs, whitespace runs) — the standard proxy for
    * LLM token counting without a merges table. Kept to RE2-compatible
    * constructs so the DuckDB oracle matches Java regex semantics exactly.
    */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** Subword-ish token counts per document: total BPE-style pre-tokens plus
    * word / number / other-run breakdowns. Map-side regex counting — the
    * realistic "how many LLM tokens is this corpus" sweep at 100 TB.
    */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(BpePattern)).cast("int").as("n_bpe_tokens"),
      regexp_count(col("text"), lit(" ?[A-Za-z]+")).cast("int").as("n_word_runs"),
      regexp_count(col("text"), lit(" ?[0-9]+")).cast("int").as("n_num_runs"))

  /** The BPE merge-candidate table: the top-`k` ADJACENT character pairs
    * inside lowercased words, weighted by occurrence — exactly the
    * statistic the first BPE merge step maximizes, and the re-runnable
    * core of tokenizer training over a corpus (apply a merge, re-count,
    * repeat). Word boundaries never pair (BPE merges stay word-internal
    * here), ties break lexicographically so the k-cut is deterministic.
    *
    * One map-side explode of word-internal character bigrams (bounded by
    * text length, the shingle shape) into the one term-keyed partial agg,
    * then `TakeOrderedAndProject` for the cut — the [[vocabulary]] plan
    * over a finer alphabet.
    */
  def bpeMergePairs(docs: DataFrame, k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the corpus fan-out is the native CharBigrams generator (r21): the
    // declarative form nested two interpreted HOF lambdas per element and
    // allocated an array-of-arrays per document; pair values are bit-equal
    // (spec-pinned, incl. multi-byte code points)
    docs.select(graft.functions.CharBigramsFunction.charBigrams(col("text")).as(Seq("pair")))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Quality heuristics from length / word-shape ratios; built from
    * `replace`/`length` only so the DuckDB oracle is exact.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val len = length(col("text"))
    val spaces = len - length(regexp_replace(col("text"), " ", ""))
    val words = spaces + lit(1)
    val theCount = (length(lower(col("text"))) - length(regexp_replace(lower(col("text")), "the", ""))) / lit(3)
    docs.select(
      col("doc_id"),
      len.as("n_chars"),
      words.as("n_words"),
      round((len - spaces).cast("double") / words.cast("double"), 4).as("avg_word_len"),
      theCount.cast("int").as("the_count"),
      round(theCount.cast("double") / words.cast("double"), 4).as("stopword_ratio"))
  }

  /** Blend heterogeneous quality signals into ONE composite score by rank
    * normalization: each signal maps to its percent-rank (position in the
    * corpus-wide total order, ties broken by id so the cut is
    * deterministic), and the composite is the weighted mean of the
    * normalized ranks — the standard way to combine signals whose raw
    * scales are incomparable (token counts vs ratios vs perplexities).
    * Signals where HIGHER is worse (perplexity, repetition) should be
    * negated by the caller before blending.
    *
    * Scale note: each signal's percent-rank is a TOTAL-order window — a
    * corpus-wide sort per signal (fine through the bench scales; the
    * q_window_ntile caveat applies verbatim). At open-web scale replace
    * the exact ranks with [[QuantileFilter]]-style approx-percentile bin
    * assignments: same composite semantics, no global sort.
    */
  def blendQualitySignals(
      signals: DataFrame,
      idCol: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.keys.forall(signals.columns.contains), {
      val missing = weights.keys.filterNot(signals.columns.contains)
      s"signal columns not in frame: ${missing.mkString(", ")}"
    })
    require(weights.values.forall(_ > 0), "weights must be positive")
    val total = weights.values.sum
    val ranked = weights.keys.toSeq.sorted.foldLeft(signals) { (df, c) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(c), col(idCol))
      df.withColumn(s"__pr_$c", percent_rank().over(w))
    }
    val composite = weights.keys.toSeq.sorted
      .map(c => col(s"__pr_$c") * lit(weights(c) / total))
      .reduce(_ + _)
    ranked
      .withColumn("quality_blend", round(composite, 6))
      .drop(weights.keys.toSeq.sorted.map(c => s"__pr_$c"): _*)
  }

  /** Visible to PipelineQueries so the DuckDB oracle is generated from the
    * same word lists (no drift between engine and oracle).
    */
  private[pipeline] val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "that", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "人"))

  /** Language-ID heuristic: stopword hit-count per language over the token
    * stream, argmax wins (ties break lexicographically on the struct
    * ordering — deterministic). Pure built-ins, single pass.
    */
  def langIdGuess(docs: DataFrame): DataFrame = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("array(", ", ", ")")
      s"struct(size(filter(split(lower(text), ' '), t -> array_contains($arr, t))) AS score, '$lang' AS lang)"
    }.mkString("array(", ", ", ")")
    docs.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      expr(s"array_max($scored).lang").as("predicted_lang"))
  }

  /** Labeled-language distribution (oracle-checkable companion of the
    * language-ID heuristic).
    */
  def langDistribution(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))

  /** Content fingerprints: md5 of the normalized text (cross-engine
    * checkable) + the order-sensitive polynomial rolling hash (native
    * Catalyst expression, streamable).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("md5_hex"),
      rollingHash(lower(col("text"))).as("roll_hash"))
}
