package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-snapshot versioning — what changed between two materializations
  * of the same dataset (yesterday's crawl vs today's): per-id status
  * `added` / `removed` / `changed` / `unchanged`. The audit step before an
  * incremental pipeline decides what to reprocess, and the provenance
  * record a training run keeps about its inputs.
  */
object Snapshot {

  private val DocId = "doc_id"

  /** Apply a change log to a base snapshot — the CDC merge that keeps an
    * incrementally-crawled corpus current without rewriting it from
    * scratch: `changes` carries (id, op ∈ {upsert, delete}, seq, payload
    * columns); for each id the HIGHEST-`seq` change wins (ties break
    * toward delete, then by op name — deterministic on malformed feeds),
    * an `upsert` replaces or inserts the row, a `delete` removes it, and
    * ids without changes pass through. Returns the new snapshot with the
    * base's columns.
    *
    * Shape: the change log compacts to one winner per id (one
    * change-log-sized aggregation), then ONE full-outer join against the
    * base on id — the [[diff]] plan with a merge instead of a status
    * column. With base and changes bucketed by id, exchange-free end to
    * end. Base ids are assumed unique (the corpus contract); `seq` must
    * order a key's changes totally (crawl timestamp, log offset).
    */
  def applyChangeLog(
      base: DataFrame,
      changes: DataFrame): DataFrame = {
    val dataCols = base.columns.filterNot(_ == DocId)
    require(dataCols.forall(changes.columns.contains), {
      val missing = dataCols.filterNot(changes.columns.contains)
      s"changes is missing base columns: ${missing.mkString(", ")}"
    })
    require(!base.columns.contains("__base"),
      "__base is reserved by applyChangeLog (the base-presence marker)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(DocId))
      .orderBy(col("seq").desc, (col("op") === "delete").desc, col("op"))
    val latest = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select((col(DocId).as("__cid") +: col("op").as("__op") +:
        dataCols.toIndexedSeq.map(c => col(c).as(s"__c_$c"))): _*)
    // base presence is tagged EXPLICITLY (__base) rather than inferred
    // from id nullability: a base row whose id is genuinely NULL
    // (off-contract but historically passed through unchanged) never
    // joins a change row, and an id-based guard would silently drop it —
    // null id plus null __op fails both branches (ADVICE r20)
    base.withColumn("__base", lit(1))
      .join(latest, col(DocId) === col("__cid"), "full_outer")
      .filter(coalesce(col("__op"), lit("keep")) =!= "delete")
      // an UNRECOGNIZED op is a no-op on an existing id (the otherwise
      // branch keeps the base payload) — but for an id absent from the
      // base it must not INSERT a phantom row of null payload columns:
      // only an upsert can create a row (the malformed-feed tolerance the
      // tie rule above already promises)
      .filter(col("__base").isNotNull || col("__op") === "upsert")
      .select(coalesce(col(DocId), col("__cid")).as(DocId) +:
        dataCols.toIndexedSeq.map(c =>
          when(col("__op") === "upsert", col(s"__c_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** One row per id present in either snapshot, with the diff status.
    * Content comparison is by `text` equality.
    *
    * Shape: ONE full-outer join keyed on `doc_id` — both sides shuffle by
    * id once, everything else is map-side. With both snapshots written
    * bucketed by id, the join is exchange-free end to end. Ids are assumed
    * unique within a snapshot (the corpus contract everywhere in this
    * library); duplicate ids would cross-multiply through the join like any
    * keyed join.
    */
  def diff(
      oldSnap: DataFrame,
      newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col(DocId).as("__o_id"), col("text").as("__o_c"))
    val n = newSnap.select(col(DocId).as("__n_id"), col("text").as("__n_c"))
    o.join(n, col("__o_id") === col("__n_id"), "full_outer")
      .select(
        coalesce(col("__o_id"), col("__n_id")).as(DocId),
        when(col("__o_id").isNull, "added")
          .when(col("__n_id").isNull, "removed")
          .when(col("__o_c") <=> col("__n_c"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
