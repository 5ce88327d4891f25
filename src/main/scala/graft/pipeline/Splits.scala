package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting — the train/val/test assignment step of a
  * training-data pipeline. Spark's own `randomSplit`/`sample` draw from a
  * per-partition RNG seeded by partition index, so membership changes
  * whenever partitioning, ordering, or a stage retry changes — unacceptable
  * for a split that must be reproducible across runs (and across the
  * engines of a migration). Here membership is a PURE FUNCTION of the row's
  * id: hash the id, take a bucket in [0, buckets), map cumulative bucket
  * ranges to named splits. Properties that matter at 100 TB:
  *
  *   - map-side only — no shuffle, no state, trivially parallel at any
  *     scale, and adding documents later never reassigns existing ones;
  *   - retry-stable — a recomputed partition re-derives identical
  *     assignments (same hazard class as [[SkewJoin.contentSalt]]'s
  *     `monotonically_increasing_id` ban);
  *   - auditable — [[md5Bucket]] uses a hash any engine can replay
  *     (`md5(cast(id as string))`, first 4 hex digits as an integer), so an
  *     external system can verify membership row by row.
  */
object Splits {

  /** Bucket in [0, buckets) from the first 4 hex digits of `md5(id)` —
    * cross-engine replayable (md5 of the id's decimal string is
    * engine-independent). 16 bits of hash over `buckets` ≤ 1000 keeps
    * bucket-occupancy skew below 2% of a 65k-value space.
    */
  def md5Bucket(id: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= 1000,
      s"md5Bucket draws 16 bits of hash; buckets must be in (0, 1000] to keep " +
        s"occupancy skew under 2% of the 65536-value space, got $buckets")
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int") % buckets
  }

  /** Assign each row a split label by cumulative bucket ranges:
    * `fractions` like `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`
    * (each fraction in (0, 1], summing to 1 within 1e-9; fractions ×
    * `buckets` must be whole, so the advertised proportions are exact
    * bucket counts, not roundings). Adds `split` and keeps every input
    * column. A NULL id hashes to NULL, every `when` comparison yields
    * NULL, and the row falls through to the LAST split — callers who
    * cannot tolerate null ids in the final split should filter them first.
    */
  def assign(
      df: DataFrame,
      fractions: Seq[(String, Double)],
      bucket: Column,
      buckets: Int = 100): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    require(fractions.forall { case (_, f) => f > 0 && f <= 1 },
      s"every fraction must be in (0, 1], got ${fractions.map(_._2).mkString(", ")}")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val cuts = fractions.map { case (name, f) =>
      val b = f * buckets
      require(math.abs(b - math.rint(b)) < 1e-9,
        s"fraction $f of split '$name' is not a whole number of $buckets buckets")
      name -> math.rint(b).toInt
    }
    val thresholds = cuts.scanLeft(0) { case (acc, (_, b)) => acc + b }.tail
    val labeled = cuts.map(_._1).zip(thresholds).init
      .foldRight(lit(cuts.last._1)) { case ((name, hi), rest) =>
        when(bucket < hi, name).otherwise(rest)
      }
    df.withColumn("split", labeled)
  }

  /** [[assign]] with the cross-engine [[md5Bucket]]. */
  def assignByMd5(
      df: DataFrame,
      idCol: String,
      fractions: Seq[(String, Double)],
      buckets: Int = 100): DataFrame =
    assign(df, fractions, md5Bucket(col(idCol), buckets), buckets)
}
