package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass column profiling — the data-quality reconnaissance step run
  * before any expensive pipeline stage (is this column all-null? how many
  * distinct languages? what's the id range?). Emits one row per profiled
  * column: row count, null count, exact distinct count, min and max
  * (rendered as strings so heterogeneous column types share one schema).
  *
  * Shape: a single wide aggregation computes every per-column statistic in
  * one scan (Catalyst expands the multiple `count(DISTINCT ...)`s into one
  * Expand-based aggregate — still one pass over the data), then a `stack`
  * pivots the single wide row into per-column rows INSIDE the plan — no
  * driver-side collect/reshape, so the operator composes into larger plans
  * and the scan stays distributed. Exact distinct counts shuffle the
  * expanded rows.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(cols.forall(df.columns.contains), {
      val missing = cols.filterNot(df.columns.contains)
      s"columns not in frame: ${missing.mkString(", ")}"
    })
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    // stack(n, name1, nn1, nd1, min1, max1, name2, ...) → one row per column
    val stackArgs = cols.flatMap { c =>
      Seq(s"'$c'", s"`__nn_$c`", s"`__nd_$c`", s"`__min_$c`", s"`__max_$c`")
    }
    wide.select(
      col("__n").as("n_rows"),
      expr(s"stack(${cols.size}, ${stackArgs.mkString(", ")}) " +
        "AS (col_name, __nn, n_distinct, min_val, max_val)"))
      .select(
        col("col_name"),
        col("n_rows"),
        (col("n_rows") - col("__nn")).as("n_nulls"),
        col("n_distinct"),
        col("min_val"),
        col("max_val"))
  }

  /** Top-k heaviest keys of a column with their frequencies — the skew
    * diagnosis run before choosing join/salting strategy (a key here with
    * millions of rows is the one [[graft.operators.SkewJoin]] exists for).
    * Plans as partial-agg + `TakeOrderedAndProject`: per-partition top-k
    * merged on the driver, never a global sort. Deterministic cut (count
    * desc, key asc as string).
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col(keyCol).cast("string"))
      .limit(k)
  }

  /** NULL keys are legitimate (the exact operator groups them) but a
    * catalyst map buffer cannot hold a null KEY, so they ride the summary
    * as a NUL-character sentinel and decode on the way out. A real key
    * whose rendered form is exactly "\u0000" would alias with null inside
    * the candidate summary — at worst an extra candidate (the exact
    * re-count still separates them via null-safe equality).
    */
  private val NullKeySentinel = "\u0000"

  /** [[heavyHitters]] for key spaces too large for the exact groupBy (whose
    * aggregate state is one entry per distinct key): candidates come from a
    * bounded [[graft.functions.MisraGries]] summary (per-partition candidate
    * heaps merged into one ≤ `capacity`-entry table — a bounded driver
    * collect, the centroid-table class), then a SECOND pass re-counts ONLY
    * the candidates exactly — a broadcast semi join at the scan plus an
    * aggregation over ≤ capacity keys. Two bounded-memory passes replace
    * one unbounded-memory pass.
    *
    * Exactness: the MG bound guarantees every key with true frequency
    * > n / capacity is a candidate, so whenever the k-th heavy hitter
    * clears that bar the result is IDENTICAL to [[heavyHitters]] — which is
    * what lets the driver query share the exact operator's oracle. Sized
    * short (adversarially small capacity), recall degrades gracefully: the
    * result is still the exact counts of the candidates found
    * (spec-asserted ≥ k recall on a Zipf fixture).
    */
  def approxHeavyHitters(
      df: DataFrame,
      keyCol: String,
      k: Int = 20,
      capacity: Int = 65536): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(capacity >= k, s"capacity ($capacity) must be >= k ($k)")
    val spark = df.sparkSession
    import spark.implicits._
    val mg = udaf(new graft.functions.MisraGries(capacity))
    val candidates = df
      .select(coalesce(col(keyCol).cast("string"), lit(NullKeySentinel)).as("__k"))
      .agg(mg(col("__k")).as("cand"))
      .head().getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
      .map(s => if (s == NullKeySentinel) null else s)
    val candDf = candidates.toDF("__cand")
    // null-safe equality: a plain = in the semi join would silently drop
    // the null-key group the exact operator reports
    df.join(broadcast(candDf), col(keyCol).cast("string") <=> col("__cand"), "left_semi")
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col(keyCol).cast("string"))
      .limit(k)
  }

  /** Categorical-distribution drift between two corpus snapshots — the
    * monitoring sweep a continuously-ingested corpus runs per batch (did
    * the language mix shift? is one source suddenly dominating?): one row
    * per key value with counts, shares, and the share ratio
    * `share_b / share_a` (NULL where the key is absent from `a` — a new
    * key, the loudest drift of all; 0 where absent from `b`). The ratio is
    * a division of two exact-integer IEEE divisions — bitwise replayable,
    * no log/rounding — and keys far from ratio 1 are the drifted ones
    * (the log-free form of a KL contribution, the [[TextAnalysis]] lift
    * precedent).
    *
    * Shape: one tiny aggregation per side (key-cardinality-sized), a full
    * outer join of the two, totals broadcast back in-plan — the corpus is
    * scanned ONCE per side and nothing corpus-sized shuffles. Each side's
    * total is the exact long sum of its per-key counts, so it derives from
    * the same aggregate instead of a second corpus scan (the exchange is
    * shared at runtime — AQE ReusedExchange over the identical subtree);
    * `coalesce(…, 0)` keeps the empty-side total at 0 like `count(*)`.
    */
  def distributionDrift(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val ca = a.groupBy(col(keyCol)).agg(count(lit(1)).as("n_a"))
    val cb = b.groupBy(col(keyCol)).agg(count(lit(1)).as("n_b"))
    val ta = ca.agg(coalesce(sum(col("n_a")), lit(0L)).as("__t_a"))
    val tb = cb.agg(coalesce(sum(col("n_b")), lit(0L)).as("__t_b"))
    ca.join(cb, Seq(keyCol), "full_outer")
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col(keyCol),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        (coalesce(col("n_a"), lit(0L)).cast("double") / col("__t_a").cast("double")).as("share_a"),
        (coalesce(col("n_b"), lit(0L)).cast("double") / col("__t_b").cast("double")).as("share_b"))
      .withColumn("ratio",
        when(col("share_a") > 0, col("share_b") / col("share_a")))
  }

  /** Retention cohort matrix — per (first-seen day, day offset) distinct
    * active users: the standard engagement table, and for a data pipeline
    * the crawl-freshness analog (how much of a source's day-0 population
    * is still producing on day k). `maxOffset` bounds the matrix width.
    *
    * Shape: activity collapses to DISTINCT (user, day) FIRST (one shuffle
    * sized user×days, not events); the first-seen day is a user-keyed
    * aggregation over that same frame, the join back rides the user
    * clustering, and the output aggregation is matrix-sized. All date
    * arithmetic is integer days — bitwise replayable.
    */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      maxOffset: Int = 7): DataFrame = {
    require(maxOffset >= 0, s"maxOffset must be >= 0, got $maxOffset")
    val days = events
      .select(col(userCol).as("__u"), date_trunc("day", col(tsCol)).as("__day"))
      .distinct()
    val cohorts = days.groupBy(col("__u")).agg(min(col("__day")).as("cohort_day"))
    days.join(cohorts, Seq("__u"))
      .select(col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).as("day_offset"), col("__u"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("__u")).as("n_users"))
  }
}
