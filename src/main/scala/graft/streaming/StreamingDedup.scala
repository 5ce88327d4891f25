package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.pipeline.Dedup

/** Ingestion-time near-duplicate detection: match a STREAM of incoming
  * documents against a band index of the already-ingested corpus — the
  * check a training-data pipeline runs on every new crawl batch before
  * admitting documents. The batch analog is [[graft.pipeline.Dedup
  * .minhashPairs]]; this is its stream-static form (the reference engine is
  * bounded-batch only, so the module is beyond-reference capability like
  * the rest of `graft.streaming`).
  *
  * Scale design: the stream side is STATELESS — signature and band hashes
  * are native map-side expressions (no shuffle, no streaming state store),
  * so each micro-batch costs one pass over its own rows plus an equi join
  * against the static index. The index carries signatures, not text
  * (numHashes longs per distinct doc); hot bands (boilerplate) are capped
  * at build time with the same [[Dedup.capBuckets]] budget the batch
  * operators use, bounding any band's join fan-out.
  *
  * Both entry points also accept batch frames unchanged (stream-static
  * joins and map-side expressions are the same operators in either mode) —
  * the driver query `q_stream_neardup` oracle-checks the batch form.
  */
object StreamingDedup {

  /** (id, sig, band, band_hash): 64 minhashes of word 3-shingles in 16
    * bands, the [[Dedup.minhashPairs]] signature family.
    */
  private def banded(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id").as("id"),
        minhashSignature(split(lower(col("text")), " ")).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(bandHashes(col("sig"), 16)).as(Seq("band", "band_hash")))

  /** The static side: one row per band per corpus document —
    * (band, band_hash, corpus_id, corpus_sig). Build once offline when the
    * corpus changes; persist (or write bucketed by the two band columns)
    * and hand it to [[nearDupMatches]].
    */
  def corpusBandIndex(corpus: DataFrame): DataFrame =
    Dedup.capBuckets(banded(corpus), Dedup.defaultBucketCap, "band", "band_hash")
      .select(col("band"), col("band_hash"),
        col("id").as("corpus_id"), col("sig").as("corpus_sig"))

  /** Match incoming documents against the corpus index: map-side signature +
    * band explode on the stream side, stream-static equi join on
    * (band, band_hash), exact signature-agreement verify to estimated
    * Jaccard ≥ 0.5. Emits (id, corpus_id, est_jaccard).
    *
    * Like [[Dedup.bandCandidates]] the result is a MULTISET — a pair
    * colliding in several bands appears once per colliding band, because
    * deduplicating inside the stream would need unbounded state. Downstream
    * consumers aggregate per (id, corpus_id) (batch), or
    * `dropDuplicatesWithinWatermark` when the input carries an event-time
    * column (streaming).
    */
  def nearDupMatches(
      docs: DataFrame,
      bandIndex: DataFrame): DataFrame =
    banded(docs)
      .join(bandIndex, Seq("band", "band_hash"))
      .withColumn("est_jaccard", signatureAgreement(col("sig"), col("corpus_sig")))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("id"), col("corpus_id"), round(col("est_jaccard"), 4).as("est_jaccard"))
}
