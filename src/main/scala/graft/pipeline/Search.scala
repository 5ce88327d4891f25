package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Term search over a document corpus — the retrieval side of a training
  *-data pipeline (find contaminated subsets, audit what the corpus says
  * about a topic, seed curriculum buckets by keyword). Ad hoc over the
  * corpus ([[searchAll]] / [[searchRanked]]): one explode + a map-side
  * `isin` prune to the (tiny) query-term set, so only matching (doc, term)
  * rows ever reach an exchange.
  */
object Search {

  // the corpus columns every search reads
  private val DocId = "doc_id"
  private val Text = "text"

  private def postings(docs: DataFrame): DataFrame =
    docs.select(col(DocId), explode(split(lower(col(Text)), " ")).as("term"))
      .groupBy(col("term"), col(DocId))
      .agg(count(lit(1)).as("tf"))

  /** Conjunctive (AND) search: documents containing EVERY query term, with
    * the total occurrence count of the query terms in the doc. The term
    * filter is a map-side `isin` over the (bounded) query list — only
    * matching postings reach the one doc-keyed exchange.
    */
  def searchAll(
      docs: DataFrame,
      terms: Seq[String]): DataFrame = {
    val distinctTerms = terms.map(_.toLowerCase).distinct
    require(distinctTerms.nonEmpty, "terms must be non-empty")
    postings(docs).filter(col("term").isin(distinctTerms: _*))
      .groupBy(col(DocId))
      .agg(count(lit(1)).as("__hits"), sum(col("tf")).as("total_tf"))
      // postings are (term, doc)-unique, so count(*) counts distinct terms
      .filter(col("__hits") === distinctTerms.length)
      .select(col(DocId), col("total_tf"))
  }

  /** Disjunctive ranked (OR) search: top-`k` documents by summed
    * ratio-idf score Σ_t tf_dt · N / df_t over the matched query terms —
    * the log-free BM25-style ranking ([[TextAnalysis.tfIdfTopTerms]]'s
    * scoring summed over the query). Document frequencies come from the
    * corpus itself, in-plan. Every per-term score is an exact-integer IEEE
    * division; the cross-term sum is rounded to 6 decimals (the
    * unigramLogProb precedent — absorbs summation-order ulp drift), and
    * the cut is deterministic (score desc, id asc).
    */
  def searchRanked(
      docs: DataFrame,
      terms: Seq[String],
      k: Int = 10): DataFrame = {
    val distinctTerms = terms.map(_.toLowerCase).distinct
    require(distinctTerms.nonEmpty, "terms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    // matched postings feed both the df aggregation and the scoring join;
    // cached so the corpus explode runs once (Dedup's registry — harness
    // clears between queries). The isin prune keeps the cached frame
    // query-term-sized, not corpus-sized.
    val matched = Dedup.cache(
      postings(docs).filter(col("term").isin(distinctTerms: _*)))
    val dfCounts = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    matched
      .join(broadcast(dfCounts), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col(DocId))
      .agg(round(sum(col("tf").cast("double") * col("n_docs").cast("double") /
        col("df").cast("double")), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col(DocId))
      .limit(k)
  }

  /** Exact phrase search: documents containing the words of `phrase`
    * CONSECUTIVELY (what the bag-of-words [[searchAll]] cannot express),
    * with the occurrence count. Implemented as membership over the shared
    * word-shingle definition — `n = |phrase|` shingles of the doc equal to
    * the normalized phrase — so it is a PURE map-side filter: zero
    * shuffle, rides the scan, stream-composable like every other gate
    * here. No positional index needed until phrase queries dominate a
    * workload (then: postings with positions, the standard next step).
    *
    * Counting uses a CODEGEN'D zero-width-lookahead `regexp_count`
    * (`(?=(?:^| )phrase(?: |$))`) rather than a shingle-array HOF: the
    * lookahead is zero-width so back-to-back occurrences sharing a
    * boundary space both count (exactly the shingle semantics), and the
    * interpreted-lambda-per-element cost the repetition work measured at
    * 10× disappears — this form benched 2.04 s → ~0.1 s at sf0.1.
    */
  def searchPhrase(
      docs: DataFrame,
      phrase: String): DataFrame = {
    val words = phrase.toLowerCase.split(" ").filter(_.nonEmpty)
    require(words.nonEmpty, "phrase must contain at least one word")
    val needle = words.mkString(" ")
    val pat = "(?=(?:^| )" + java.util.regex.Pattern.quote(needle) + "(?: |$))"
    docs
      .select(col(DocId),
        regexp_count(lower(col(Text)), lit(pat)).cast("int").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
  }

  /** Okapi BM25 top-`k` — the length-normalized ranking [[searchRanked]]'s
    * ratio-idf deliberately is not: long documents stop winning on raw term
    * count once tf saturates at `k1 + 1` (k1 = 1.2), and per-term weight is the
    * always-positive Lucene idf `ln(1 + (N - df + ½)/(df + ½))`.
    *
    * Scale shape: document length is computed in the SAME map-side pass as
    * the explode and carried through the (doc, term) partial agg as a
    * grouping column (functionally dependent on the id — no second
    * corpus-keyed join to attach it); the `isin` prune keeps everything
    * after the scan query-term-sized; df and the (N, avgdl) pair are tiny
    * aggregates broadcast back. One corpus pass, one doc-keyed exchange,
    * `TakeOrderedAndProject` for the cut. The cross-term sum is rounded to
    * 6 decimals (summation-order ulp drift) and ties break on id — the
    * deterministic-cut contract every ranked operator here keeps.
    */
  def searchBm25(
      docs: DataFrame,
      terms: Seq[String],
      k: Int = 10,
      b: Double = 0.75): DataFrame = {
    val distinctTerms = terms.map(_.toLowerCase).distinct
    require(distinctTerms.nonEmpty, "terms must be non-empty")
    require(k > 0, s"k must be positive, got $k")
    require(b >= 0 && b <= 1, s"need 0 <= b <= 1, got $b")
    val toks = docs.select(col(DocId),
      split(lower(col(Text)), " ").as("__toks"))
    val matched = Dedup.cache(toks
      .select(col(DocId), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))
      .filter(col("term").isin(distinctTerms: _*))
      .groupBy(col(DocId), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfCounts = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // N and avgdl come from the corpus, not the matched subset. avgdl is
    // computed WITHOUT re-tokenizing: `size(split(s, " "))` is exactly
    // (#spaces + 1) — split on a single space keeps empty tokens, and
    // lower-casing never creates or removes U+0020 — so the length
    // difference counts the same integer per row without allocating a
    // token array for every corpus document a second time (§2.3: the
    // stats pass reads the corpus anyway; this keeps it projection-cheap).
    // Null text yields NULL under both forms (size(null)=null) and avg
    // skips it; count(*) is row-count under both.
    val corpusStats = docs.agg(count(lit(1)).as("n_docs"),
      avg((length(col(Text)) -
        length(translate(col(Text), " ", "")) + 1)
        .cast("double")).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfNorm = col("tf").cast("double") * (lit(1.2) + 1.0) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    matched
      .join(broadcast(dfCounts), Seq("term"))
      .crossJoin(broadcast(corpusStats))
      .groupBy(col(DocId))
      .agg(round(sum(idf * tfNorm), 6).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col(DocId))
      .limit(k)
  }

  /** The query text's feature-hashed vector under EXACTLY
    * [[Similarity.hashEmbed]]'s convention (md5 head mod dim term bucket),
    * computed driver-side — the query is one string, not a distributed
    * job.
    */
  private[graft] def hashQueryVec(queryText: String, dim: Int): Array[Long] = {
    val v = new Array[Long](dim)
    val md = java.security.MessageDigest.getInstance("MD5")
    queryText.toLowerCase(java.util.Locale.ROOT).split(" ", -1).foreach { term =>
      md.reset()
      val hex = md.digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(2).map(b => f"$b%02x").mkString
      v(Integer.parseInt(hex, 16) % dim) += 1L
    }
    v
  }

  /** HYBRID retrieval — reciprocal-rank fusion of the lexical (BM25) and
    * semantic (hashed-doc-vector cosine) rankings, the standard two-tower
    * fusion a RAG-style curation stack runs when neither signal alone
    * suffices (lexical misses paraphrase, embedding misses rare exact
    * terms). `rrf(d) = Σ_pools 1/(60 + rank_pool(d))` over the two
    * top-`poolK` pools (a doc absent from a pool contributes 0), the
    * Cormack/Clarke/Buettcher formula with the customary K=60. The
    * semantic side uses 16-dimension [[Similarity.hashEmbed]] vectors.
    *
    * Scale shape: each pool is produced distributed (BM25's one corpus
    * pass + `TakeOrderedAndProject`; cosine against the driver-hashed
    * query vector likewise) and only then cut to `poolK` rows — the
    * rank-assigning window and the full-outer fusion join run over
    * 2·poolK rows, bounded regardless of corpus size. Every arithmetic
    * step (integer dot products, correctly-rounded sqrt, fixed-order
    * sums) is bitwise-replayable by an independent engine, so the fused
    * ranking itself is oracle-checkable.
    */
  def searchHybrid(
      docs: DataFrame,
      terms: Seq[String],
      queryText: String,
      k: Int = 10,
      poolK: Int = 50): DataFrame = {
    require(k > 0 && poolK >= k, s"need 0 < k <= poolK, got k=$k poolK=$poolK")
    val w = org.apache.spark.sql.expressions.Window
    val qv = hashQueryVec(queryText, 16)
    val qNormSq = qv.map(x => x.toDouble * x.toDouble).sum
    require(qNormSq > 0, "queryText hashed to the zero vector")
    // lexical pool: ranks over the bounded BM25 cut (single-partition
    // window over poolK rows, not the corpus)
    val lex = searchBm25(docs, terms, poolK)
      .select(col(DocId),
        row_number().over(w.orderBy(col("score").desc, col(DocId))).as("r_lex"))
    // semantic pool: cosine of each doc's hashed vector against the query
    // vector — fixed-order dot/norm folds over exact integer counts
    val dims = 0 until 16
    val vecD = dims.map(i => element_at(col("vec"), i + 1).cast("double"))
    val dot = dims.map(i => vecD(i) * lit(qv(i).toDouble)).reduce(_ + _)
    val normSq = vecD.map(e => e * e).reduce(_ + _)
    val cosine = when(normSq === 0.0, lit(0.0))
      .otherwise(dot / (sqrt(normSq) * lit(math.sqrt(qNormSq))))
    val sem = Similarity.hashEmbed(docs)
      .select(col(DocId), cosine.as("c"))
      .orderBy(col("c").desc, col(DocId))
      .limit(poolK)
      .select(col(DocId),
        row_number().over(w.orderBy(col("c").desc, col(DocId))).as("r_sem"))
    // fuse as UNION + per-id aggregate (r21): the full-outer join form
    // planned a sort-merge join — two exchanges plus two sorts over the
    // 2·poolK pool rows. One exchange does the same work. Values are
    // bitwise-unchanged: each pool row contributes its own term plus a
    // literal 0.0 (x + 0.0 == x for the strictly-positive rrf terms), and
    // a doc in both pools sums exactly two doubles — IEEE addition of two
    // terms is commutative bitwise, so the arbitrary union order cannot
    // move the pre-round value.
    val contrib =
      coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("r_sem")), lit(0.0))
    lex.withColumn("r_sem", lit(null).cast("int"))
      .unionByName(sem.withColumn("r_lex", lit(null).cast("int")))
      .select(col(DocId), contrib.as("__c"), col("r_lex"), col("r_sem"))
      .groupBy(col(DocId))
      .agg(round(sum(col("__c")), 6).as("rrf_score"),
        max(col("r_lex")).as("r_lex"), max(col("r_sem")).as("r_sem"))
      .orderBy(col("rrf_score").desc, col(DocId))
      .limit(k)
  }
}
