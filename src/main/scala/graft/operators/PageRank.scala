package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Internals

import graft.pipeline.Dedup

/** PageRank over a link graph — the domain-centrality signal web-scrape
  * curation ranks sources by (crawl frontiers, per-host quality priors,
  * spam demotion all key off it). Iterative power method with damping and
  * full dangling-mass redistribution, fixed iteration count so the result
  * is a deterministic function of the edge set.
  *
  * Scale shape (the [[Dedup.connectedComponents]] bucketed-checkpoint
  * layout, applied here in r14): the edge table — the BIG side at corpus
  * scale — is checkpointed PARTITIONED AND SORTED on `src` before the loop
  * and never re-shuffles again; out-degrees aggregate exchange-free over
  * that layout and checkpoint partitioned the same way; the vertex table
  * checkpoints partitioned by id. Every round's rank⋈degree and
  * edge⋈share joins are then co-partitioned by construction, so the only
  * per-round shuffle exchanges are the (≤ vertex-sized, partially
  * aggregated) contribution groupBy(dst) and the one-row dangling-mass
  * aggregate — none edge-sized. Each round's (rank, degree) frame is a
  * lazy checkpoint: one materialization serves both its readers (dangling
  * aggregate, contribution join) and lineage stays one round deep. Only the
  * UPFRONT edge/vertex/degree layout is planned without AQE, each
  * checkpoint through a static query execution of its own
  * (`Dataset.localCheckpoint` plans at call time; under AQE the carried
  * partitioning comes back UNKNOWN — the CC loop's probe-verified
  * interaction); the rounds themselves plan ADAPTIVE since r16, trading
  * one vertex-sized exchange a round for AQE-coalesced task counts on
  * every label-sized shuffle.
  *
  * Checkpoint blocks are registered in the shared [[Dedup.clearCheckpoints]]
  * pool: consume the returned frame, then clear (destructive — same
  * contract as connected components).
  *
  * Ranks sum to 1 every iteration (dangling redistribution closes the
  * leak), so the output is a probability vector regardless of graph shape.
  */
object PageRank {

  /** (id, rank) for every vertex of the graph, after `iterations` rounds
    * from the uniform start. Edges are deduplicated; self-loops are legal
    * (a self-loop feeds rank back to its own vertex).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0, 1), got $damping")
    def ckpt(df: DataFrame): DataFrame = Dedup.lazyCheckpoint(df)
    // ONLY the upfront graph layout is planned without AQE (r16, was
    // loop-wide — the connectedComponentsIters rationale verbatim), each
    // frame by a static query execution of its own, so the session stays
    // adaptive: checkpoints created under AQE lose their
    // outputPartitioning, and the edge table is the one side whose
    // re-shuffle per round is corpus-sized. The per-round (vertex-sized)
    // checkpoints stay ADAPTIVE so their label-sized exchanges coalesce to
    // real parallelism instead of the static shuffle-partition count.
    def layout(df: DataFrame): DataFrame = ckpt(Internals.planStatically(df))
    // one edge shuffle for the whole run: dedup, then lay out by src — the
    // in-session form of a bucketed+sorted edge table. Layout width is
    // data-size-adaptive (r21, [[Dedup.layoutPartitionCount]]): the static
    // planning pins every round stage co-partitioned with these tables at
    // this count, so a small graph runs narrow rounds (the 50-host bench
    // graph ran 588 thirty-two-task-wide stages before) while an
    // above-advisory edge table keeps the full static width. ONE shared
    // count for edges/verts/degrees keeps every round join co-partitioned.
    val raw = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val nParts = Dedup.layoutPartitionCount(raw)
    val e = layout(Dedup.distinctLayout(raw, nParts, "src"))
    val verts = layout(Dedup.distinctLayout(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))),
      nParts, "id", sort = false))
    // |V| as a DRIVER SCALAR, not a per-round broadcast (r22, guide §2.4 /
    // VERDICT r21 item 4): the previous 1-row nV aggregate was embedded as
    // a BroadcastNestedLoopJoin in every round's rank expression, and
    // broadcast subtrees re-execute per query execution — one driver-floor
    // job per round recomputing a count that never changes. The count()
    // here doubles as the verts-checkpoint materialization (its first
    // action), so it is not an extra job; `lit(nV).cast("double")` replays
    // the identical long→double SQL cast, so every rank value is bitwise
    // unchanged. Bounded by construction: one scalar, the LPA
    // driver-replay collect class.
    val nV = verts.count()
    val nVd = lit(nV).cast("double")
    // exchange-free over the src-partitioned edges; checkpoints hash(src)
    val outDeg = layout(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))

    var ranks = verts.select(col("id"), (lit(1.0) / nVd).as("rank"))
    // In the narrow-layout regime ([[Dedup.pinToLayout]]) the round's
    // label-sized frames are explicitly pinned to the layout width so every
    // join against the checkpointed layouts stays co-partitioned and the
    // edge table never re-shuffles; at full width the pins are no-ops and
    // the rounds plan adaptive (r16) exactly as before. The contribution
    // pin sits BELOW the groupBy (hash(dst, n) satisfies the aggregation's
    // distribution, so the aggregate runs in place) — that trades the
    // map-side partial aggregation away, which is only acceptable because
    // this branch is gated on the edge table being provably small.
    def pin(df: DataFrame, key: String): DataFrame =
      graft.pipeline.Dedup.pinToLayout(df, nParts, key)
    for (_ <- 1 to iterations) {
      val withDeg = ckpt(ranks
        .join(outDeg, ranks("id") === outDeg("src"), "left")
        .select(col("id"), col("rank"), col("deg")))
      // dangling mass as a per-round DRIVER SCALAR (r22): the exact same
      // aggregate as the former 1-row broadcast, but its collect IS the
      // withDeg-checkpoint materialization (first action on the lazy
      // checkpoint), where before the broadcast job materialized the
      // checkpoint AND the nV broadcast ran as a second driver-floor job.
      // One row collected per round; the summation plan — and therefore
      // the IEEE value — is unchanged.
      val dm = withDeg.filter(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      val shares = pin(withDeg.filter(col("deg").isNotNull)
        .select(col("id"), (col("rank") / col("deg").cast("double")).as("share")), "id")
      val contribs = pin(e.join(shares, e("src") === shares("id"))
          .select(col("dst"), col("share")), "dst")
        .groupBy(col("dst")).agg(sum(col("share")).as("contrib"))
      ranks = verts.join(contribs, verts("id") === contribs("dst"), "left")
        .select(verts("id"),
          (lit(1.0 - damping) / nVd +
            lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
              lit(dm) / nVd)).as("rank"))
    }
    ranks
  }
}
