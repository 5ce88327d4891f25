package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{colOf, exprOf}
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter semi-join pruning — the explicit form of the runtime
  * row-level filtering Spark's optimizer injects for selective joins
  * (`spark.sql.optimizer.runtime.bloomFilter.*`), exposed as an operator so
  * a pipeline can (a) force it where the optimizer's cost gate declines,
  * and (b) REUSE a built filter across queries/sessions (the bytes are
  * portable), which the injected form cannot.
  *
  * Why it matters at 100 TB: in `fact ⋉ dim` with a selective dim, the
  * plain plan shuffles every fact row to the join; the bloom probe is a
  * MAP-SIDE filter (a codegen'd `might_contain` over `xxhash64(key)`)
  * applied at the scan, so non-matching fact rows — typically almost all of
  * them — never reach the exchange. The filter itself is a few MB for 10⁷
  * keys at 3% fpp, built with one distributed pass over dim (driver holds
  * only the merged sketch, same bounded-sketch story as the ANN index's
  * centroid table).
  *
  * Exactness: false positives only pass the PREFILTER; [[semiJoinPrune]]
  * re-joins against the real dim keys, so results are exactly the plain
  * semi join's. [[prefilter]] alone is the approximate form for when a
  * superset is acceptable (e.g. a first scan-reduction pass).
  */
object BloomPrune {

  /** One distributed pass over `dim`: the serialized bloom filter of
    * `xxhash64(key)` (the same 64-bit hashing the probe side applies, so
    * build and probe agree on every key, including nulls which hash on
    * neither side — null keys never match a semi join anyway).
    */
  def buildFilterBytes(
      dim: DataFrame,
      keyCol: String,
      expectedItems: Long,
      fpp: Double = 0.03): Array[Byte] = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    // treeAggregate rather than df.stat.bloomFilter: same distributed
    // partial-merge shape, but an EMPTY dim yields the zero-value (empty)
    // filter instead of the NPE Spark's stat helper throws on zero rows
    val bloom: BloomFilter = dim
      .filter(col(keyCol).isNotNull)
      .select(xxhash64(col(keyCol)).as("__h"))
      .rdd
      .treeAggregate(BloomFilter.create(expectedItems, fpp))(
        (bf, row) => { bf.putLong(row.getLong(0)); bf },
        (a, b) => a.mergeInPlace(b))
    val bos = new ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Map-side approximate membership probe: keeps every row whose key is in
    * the building set, plus ~fpp false positives. The filter bytes ride
    * into the task as a literal inside the codegen'd predicate.
    */
  def prefilter(fact: DataFrame, keyCol: String, filterBytes: Array[Byte]): DataFrame =
    fact.filter(probe(keyCol, filterBytes))

  /** The raw membership-probe predicate (`might_contain(filter,
    * xxhash64(key))`) as a [[Column]] — for callers that need BOTH branches
    * of the split (e.g. [[graft.pipeline.Dedup.dropSeenBefore]] routes
    * bloom-misses straight through map-side and sends only bloom-hits to
    * the exact confirm).
    */
  def probe(keyCol: String, filterBytes: Array[Byte]): org.apache.spark.sql.Column =
    colOf(BloomFilterMightContain(
      Literal(filterBytes, BinaryType),
      exprOf(xxhash64(col(keyCol)))))

  /** Exact `fact ⋉ dim` with the bloom prefilter applied before the
    * shuffle: result ≡ `fact.join(dim, keys, "left_semi")`, but only
    * bloom-passing fact rows (matches + ~3% noise) reach the exchange.
    */
  def semiJoinPrune(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      expectedItems: Long): DataFrame = {
    val bytes = buildFilterBytes(dim, dimKey, expectedItems)
    prefilter(fact, factKey, bytes)
      .join(dim.select(col(dimKey)), col(factKey) === col(dimKey), "left_semi")
  }
}
