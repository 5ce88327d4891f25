package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling equi-join via differential key salting.
  *
  * When one join key carries a disproportionate share of the rows (a hot
  * customer, boilerplate document, null-ish default), the shuffle hash-routes
  * every such row to ONE reducer: at cluster scale that task runs hours while
  * the rest of the stage idles. The standard levers, in preference order:
  *
  *   1. `broadcast()` the small side — no shuffle at all;
  *   2. AQE skew-join (`spark.sql.adaptive.skewJoin.enabled`) — splits
  *      oversized partitions at runtime, free and automatic;
  *   3. salting (this operator) — for the residual case: both sides too big
  *      to broadcast AND a single key so hot that even a split partition is
  *      dominated by it, or AQE unavailable (e.g. inside the frozen-plan
  *      prepared path, where adaptive re-planning is off by design).
  *
  * Differential salting, not blanket salting: only the detected hot keys are
  * split across `buckets` sub-keys, and the build side replicates ONLY its
  * hot-key rows `buckets`×. Blanket salting would replicate the entire build
  * side — a `buckets`-fold shuffle-volume regression on the 99.9% of keys
  * that were never skewed.
  */
object SkewJoin {

  /** The (at most `maxKeys`) hottest keys of `df.key` whose row count
    * exceeds `threshold` — the candidates that would dominate a reducer.
    * One aggregation job + a top-k.
    *
    * `maxKeys` is the safety contract that keeps everything downstream
    * bounded NO MATTER what threshold the caller picks: driver memory
    * (≤ maxKeys values collected), the probe-side routing predicate
    * (≤ maxKeys-element hash set, codegen'd as InSet), and build-side
    * replication (≤ maxKeys·buckets extra rows). Keys beyond the cap are by
    * definition no hotter than the ones in it — if the maxKeys-th key still
    * overloads a reducer, raise `buckets`, not the cap. (The cap exists
    * because a mis-sized threshold on a heavy-tailed corpus can classify
    * thousands of merely-warm keys as hot, and blanket-replicating those
    * costs more than the skew did.)
    */
  def hotKeys(df: DataFrame, key: String, threshold: Long, maxKeys: Int = 64): Seq[Any] =
    df.groupBy(col(key)).count()
      .filter(col("count") > threshold)
      .orderBy(col("count").desc, col(key))
      .limit(maxKeys)
      .collect().map(_.get(0)).toSeq

  /** Deterministic per-row salt in [0, buckets): xxhash64 over EVERY column
    * of `df`, so the salt is a pure function of row CONTENT — never of
    * partition, row order, or task id. That is the property stage retry
    * needs: when a fetch failure forces Spark to recompute a subset of lost
    * map outputs, the recomputed rows derive exactly the salts the lost
    * outputs did, so no hot-key row is duplicated or dropped downstream.
    * (`monotonically_increasing_id`, used through r6, is partition-order-
    * dependent and Spark marks it nondeterministic — the SPARK-23207 class
    * of silent corruption under retry; invisible on local[n], real on a
    * cluster.) Rows identical in every column share a salt — that only
    * narrows the spread if a hot key's rows are mass exact-duplicates, and
    * costs nothing for correctness. Map-typed columns are not hashable
    * (standard Spark hash restriction); project them away before salting.
    */
  private[graft] def contentSalt(df: DataFrame, buckets: Int): Column =
    pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(buckets.toLong)).cast("int")

  /** Inner equi-join on `key` (same column name on both sides) with the hot
    * keys salted across `buckets` sub-keys.
    *
    * Probe side: hot rows get salt = xxhash64(whole row) mod buckets —
    * spreading the hot key over `buckets` reducers; cold rows keep salt 0.
    * Build side: hot rows replicate with every salt value; cold rows carry
    * salt 0 only. Every probe row therefore meets exactly the build rows of
    * its key, and the result equals the unsalted join row-for-row.
    *
    * The salt is [[contentSalt]] — a pure function of row content — so
    * retried tasks re-derive the same routing even under fetch-failure
    * partial recomputes.
    */
  private def saltedInnerJoin(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      hot: Seq[Any],
      buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    if (hot.isEmpty) return probe.join(build, Seq(key))
    val isHot = col(key).isin(hot: _*)
    val salted = probe.withColumn("__graft_salt",
      when(isHot, contentSalt(probe, buckets)).otherwise(lit(0)))
    val replicated = build.withColumn("__graft_salt",
      explode(when(isHot, lit((0 until buckets).toArray)).otherwise(array(lit(0)))))
    salted.join(replicated, Seq(key, "__graft_salt")).drop("__graft_salt")
  }

  /** Convenience: detect hot keys on the probe side (count > `threshold`)
    * and salt-join against them. Costs one extra aggregation pass over
    * `probe` — cache it if it is expensive to produce.
    */
  def autoSaltedInnerJoin(
      probe: DataFrame,
      build: DataFrame,
      key: String,
      threshold: Long,
      buckets: Int = 16,
      maxKeys: Int = 64): DataFrame =
    saltedInnerJoin(probe, build, key, hotKeys(probe, key, threshold, maxKeys), buckets)
}
