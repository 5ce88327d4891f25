package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Intra-document repetition signals — the Gopher/MassiveText-style quality
  * filters that catch boilerplate, keyboard-mash, and template spam: a
  * document whose most frequent word n-gram covers a large fraction of the
  * text, or most of whose n-grams occur more than once, is low-quality
  * training data regardless of its vocabulary.
  *
  * (Beyond the reference surface — the reference has no text analysis at
  * all; this extends the TextAnalysis family the driver prompt asks for.)
  *
  * Scale shape: shingle map-side (split + slice + join, all codegen'd
  * built-ins), then ONE shuffle keyed on (doc, gram) with map-side partial
  * counts, then a second, strictly smaller shuffle on doc alone. Cost is
  * linear in corpus tokens; no all-pairs, no driver state. At 100 TB the
  * same xxhash64-narrowing lever as [[Decontamination]] applies: hash the
  * gram before the shuffle to cut key bytes ~4× (kept as exact strings here
  * so an external engine replays the report byte for byte).
  */
object Repetition {

  /** Per-document n-gram repetition profile: total / distinct gram counts,
    * the multiplicity of the most frequent gram, and two fractions —
    * `top_fraction` (share of all grams that are copies of the single most
    * frequent one) and `dup_fraction` (share of gram occurrences whose gram
    * appears more than once). Docs with fewer than n words are absent.
    *
    * The fractions are raw IEEE divisions of two exact longs, so any engine
    * replaying the same integer counts gets bitwise-identical doubles.
    */
  def ngramRepetition(
      docs: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val reserved = Set("__gh", "__g", "n_grams", "n_distinct", "top_count",
      "top_fraction", "dup_fraction")
    require(!docs.columns.exists(c => reserved(c) && c != idCol),
      s"input columns collide with Repetition's reserved names: " +
        docs.columns.filter(reserved).mkString(", "))
    // JVM-speed generator fan-out (the r12 interpreted-HOF lesson); the
    // profile needs the gram string alone, so the XXH64 column is not
    // computed at all (withHashes = false — r21; the generator cannot be
    // column-pruned from outside). Per-doc gram multiplicities collapse
    // INSIDE the generator (withCounts — r22, guide §2.3/§2.4): the
    // profile aggregation below groups by the id alone, so the
    // (id, gram)-keyed intermediate exchange of the old two-level form is
    // gone. Row-identity caveat: the generator counts per input ROW, so
    // `idCol` must be unique per row — the per-document contract every
    // caller already satisfies.
    val grams = docs
      .select(col(idCol),
        graft.functions.WordShingleHashesFunction
          .wordShingleHashes(col(textCol), n, withHashes = false, withCounts = true)
          .as(Seq("__g", "__c")))
    grams
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("__c")).as("top_count"),
        sum(when(col("__c") > 1, col("__c")).otherwise(lit(0L))).as("__dup"))
      .select(
        col(idCol),
        col("n_grams"),
        col("n_distinct"),
        col("top_count"),
        (col("top_count").cast("double") / col("n_grams").cast("double"))
          .as("top_fraction"),
        (col("__dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_fraction"))
  }

  /** The ZERO-shuffle form of [[ngramRepetition]]: the whole profile from
    * ONE native single-pass expression over the doc's own token array
    * ([[graft.functions.RepetitionProfile]] — combined token hashes counted
    * in an open-addressed table; gram strings never materialize; O(g) per
    * row, codegen'd). No explode, no shuffle: at 100 TB this rides the scan
    * for free and composes onto a STREAM (per-row ⇒ stateless), where the
    * relational form's aggregation cannot; the relational form remains the
    * externally-replayable oracle twin. Output is row-for-row identical
    * (spec-asserted). An interpreted higher-order-function formulation was
    * tried first and REJECTED: ~10× slower at sf0.1 (per-element struct
    * allocation in the lambda interpreter).
    */
  def ngramRepetitionMapSide(
      docs: DataFrame,
      n: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    docs
      .select(col(idCol),
        graft.functions.TextFunctions
          .repetitionProfile(split(lower(col(textCol)), " "), n).as("__r"))
      .filter(col("__r").isNotNull)
      .select(
        col(idCol),
        col("__r.n_grams").as("n_grams"),
        col("__r.n_distinct").as("n_distinct"),
        col("__r.top_count").as("top_count"),
        (col("__r.top_count").cast("double") / col("__r.n_grams").cast("double"))
          .as("top_fraction"),
        (col("__r.dup").cast("double") / col("__r.n_grams").cast("double"))
          .as("dup_fraction"))
  }

  /** The corpus-curation form: drop documents whose repetition signals
    * cross either threshold (Gopher's published cuts are e.g. top-2-gram
    * fraction > 0.20, duplicate-5-gram fraction > 0.15 — pass what fits the
    * corpus). Documents too short to have any n-gram are KEPT — shortness
    * is a different filter's job.
    *
    * A pure map-side FILTER: each row's profile comes from the same native
    * single-pass expression (spec-proven ≡ the relational profile), so the
    * drop decision never leaves the row — no explode, no shuffle, no
    * anti-join. At 100 TB this gate is free on the scan.
    */
  def dropRepetitive(
      docs: DataFrame,
      n: Int,
      maxTopFraction: Double,
      maxDupFraction: Double,
      textCol: String = "text"): DataFrame = {
    require(maxTopFraction > 0 && maxTopFraction <= 1, s"maxTopFraction in (0,1], got $maxTopFraction")
    require(maxDupFraction > 0 && maxDupFraction <= 1, s"maxDupFraction in (0,1], got $maxDupFraction")
    require(!docs.columns.contains("__r"), "__r is reserved by Repetition")
    val flaggedRow =
      when(col("__r").isNotNull,
        (col("__r.top_count").cast("double") / col("__r.n_grams").cast("double")) > maxTopFraction ||
          (col("__r.dup").cast("double") / col("__r.n_grams").cast("double")) > maxDupFraction)
        .otherwise(lit(false))
    docs
      .withColumn("__r",
        graft.functions.TextFunctions
          .repetitionProfile(split(lower(col(textCol)), " "), n))
      .filter(!flaggedRow)
      .drop("__r")
  }
}
