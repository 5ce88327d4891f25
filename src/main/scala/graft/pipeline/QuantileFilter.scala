package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group quantile-band filtering — adaptive outlier gates for corpus
  * curation: "keep documents whose length sits between each language's 10th
  * and 90th percentile" instead of one global threshold that over-prunes
  * short-form languages and under-prunes long-form ones.
  *
  * Scale shape: one aggregation produces a GROUP-sized (tiny) bounds table,
  * broadcast-joined back onto the corpus for a map-side band filter — the
  * corpus itself is never shuffled. The bounds are Spark's exact
  * `percentile` (sort-based per group, fine for group-sized aggregation
  * state).
  */
object QuantileFilter {

  def byQuantileBand(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      lo: Double,
      hi: Double): DataFrame =
    withBounds(df, groupCol, valueCol, lo, hi)
      .filter(col(valueCol) >= col("__plo") && col(valueCol) <= col("__phi"))
      .drop("__plo", "__phi")

  /** The clamping variant: instead of dropping band outliers, pin them to
    * the band edge (winsorization — keeps corpus size while bounding the
    * influence of extremes). `valueCol` is REPLACED by its clamped value
    * (double — percentile bounds interpolate). Same tiny-bounds-broadcast
    * plan shape as [[byQuantileBand]].
    */
  def winsorize(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      lo: Double,
      hi: Double): DataFrame =
    withBounds(df, groupCol, valueCol, lo, hi)
      .withColumn(valueCol,
        greatest(least(col(valueCol).cast("double"), col("__phi")), col("__plo")))
      .drop("__plo", "__phi")

  /** `df` with its group's `lo` and `hi` percentiles of `valueCol` joined
    * on as `__plo` and `__phi`.
    */
  private def withBounds(
      df: DataFrame, groupCol: String, valueCol: String, lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"need 0 <= lo < hi <= 1, got lo=$lo hi=$hi")
    val reserved = Set("__plo", "__phi")
    require(!df.columns.exists(reserved),
      s"input columns collide with QuantileFilter's reserved names: " +
        df.columns.filter(reserved).mkString(", "))
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, $lo)").as("__plo"),
        expr(s"percentile($valueCol, $hi)").as("__phi"))
    df.join(broadcast(bounds), Seq(groupCol))
  }
}
