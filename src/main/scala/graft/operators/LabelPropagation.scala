package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Internals

import graft.pipeline.Dedup

/** Synchronous label propagation (LPA) — community detection over a link
  * graph, the density-seeking complement to
  * [[Dedup.connectedComponents]]'s pure-connectivity clustering (CC merges
  * anything touching; LPA splits a connected graph into densely-linked
  * neighborhoods — host communities, topical clusters). Deterministic by
  * construction: labels start as vertex ids, each round every vertex
  * adopts the label most frequent among its neighbors with ties broken
  * toward the SMALLEST label, and the round count is fixed — no RNG, no
  * visit-order dependence (synchronous updates read only last round's
  * labels), pure integer arithmetic end to end.
  *
  * Per round: one join of the symmetrized edge list against last round's
  * labels, one (vertex, label) count aggregation, one `max_by` argmax per
  * vertex — the neighbor-histogram argmax rides the same aggregation, no
  * per-vertex window sort. The edge table — the BIG side at corpus
  * scale — is checkpointed PARTITIONED AND SORTED on `src` before the
  * loop (r17, the [[Dedup.connectedComponents]] / PageRank bucketed-edge
  * layout applied here too) and never re-shuffles again: each round's
  * edges⋈labels join sees the hash(src) distribution already satisfied on
  * the edge side, so the only per-round exchanges are label-sized — the
  * labels redistribution, the partially-aggregated (dst, label) vote
  * counts, and the relabel join. Only the upfront edge layout is planned
  * without AQE, by a static query execution of its own (checkpoints
  * created under AQE lose their carried partitioning); the rounds
  * themselves plan adaptive. Labels cache per round (lineage one round
  * deep). Isolated vertices and self-loop-only neighbors keep their own
  * label (self-loops are dropped — a vertex does not vote for itself).
  *
  * Checkpoint blocks register in the shared [[Dedup.clearCheckpoints]]
  * pool: consume the returned frame, then clear (the CC contract).
  */
object LabelPropagation {

  /** (id, community) for every vertex after `iterations` synchronous
    * rounds. Edges are treated as undirected (symmetrized) and
    * deduplicated.
    *
    * `driverFinishEdges` is the small-graph tier, the
    * [[Dedup.connectedComponents]] pattern applied to LPA: deriving the
    * graph (the symmetrize + distinct over a corpus-sized link stream) is
    * the irreducible distributed work and materializes into the cache
    * either way; when the DERIVED graph is at or under the threshold
    * (host/domain graphs are tiny however large the corpus), the rounds —
    * each a join + two aggregations of shuffle stages — are replaced by one
    * collect and a driver replay of the exact same synchronous
    * integer-argmax updates. LPA is pure integer arithmetic with
    * deterministic (count, smallest-label) tie-breaks, so the replay is
    * bit-parity with the distributed rounds — spec-pinned. Defaults to 2²⁰
    * directed edges; 0 forces the distributed rounds.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 2,
      driverFinishEdges: Long = 1L << 20): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    def ckpt(df: DataFrame): DataFrame = Dedup.lazyCheckpoint(df)
    val directed = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    // one edge shuffle for the whole run: symmetrize + distinct, then lay
    // out partitioned+sorted on src — the in-session bucketed edge table
    // (the CC/PageRank layout; only this checkpoint plans without AQE,
    // see Internals.planStatically)
    val symmetrized = directed
      .unionAll(directed.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
    // data-size-adaptive layout width (r21, [[Dedup.layoutPartitionCount]] /
    // [[Dedup.distinctLayout]]): small graphs lay out narrow in ONE
    // exchange, above-advisory graphs keep the static-width
    // distinct-then-repartition shape — same rationale as CC/PageRank
    val nParts = Dedup.layoutPartitionCount(symmetrized)
    val e = ckpt(Internals.planStatically(
      Dedup.distinctLayout(symmetrized, nParts, "src")))
    if (driverFinishEdges > 0 && e.count() <= driverFinishEdges)
      return driverReplay(e, iterations)
    val verts =
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()
    var labels = Dedup.cache(verts.select(col("id"), col("id").as("label")))
    // narrow-regime pins ([[Dedup.pinToLayout]], no-ops at full width): the
    // label side of the edge join and the relabel join are explicitly
    // co-partitioned with the layout so the edge table never re-shuffles;
    // the vote pin sits below its groupBy (hash(dst, n) satisfies both
    // aggregations), trading map-side partials away only where the edge
    // table is provably small
    def pin(df: DataFrame, key: String): DataFrame =
      Dedup.pinToLayout(df, nParts, key)
    for (_ <- 1 to iterations) {
      val votes = pin(e.join(pin(labels, "id"), e("src") === labels("id"))
          .select(col("dst"), col("label")), "dst")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max_by(col("label"), struct(col("c"), -col("label"))).as("__new"))
      labels = Dedup.cache(pin(labels, "id")
        .join(votes, labels("id") === votes("dst"), "left")
        .select(labels("id"), coalesce(col("__new"), labels("label")).as("label")))
    }
    labels.select(col("id"), col("label").as("community"))
  }

  /** Driver replay of the synchronous rounds on a collected (already
    * cached) edge table — same update rule as the distributed path: every
    * vertex adopts the most frequent neighbor label, ties toward the
    * smallest label, isolated-after-self-loop-filter vertices keep their
    * own. Pure longs end to end, so the outputs are identical, and the
    * LocalRelation result carries exact stats for downstream joins.
    * Bounded by construction (only reachable under `driverFinishEdges`).
    */
  private def driverReplay(e: DataFrame, iterations: Int): DataFrame = {
    val rows = e.collect()
    val nbrs = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { r =>
      val (s, d) = (r.getLong(0), r.getLong(1))
      nbrs.computeIfAbsent(d, _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += s
      nbrs.computeIfAbsent(s, _ => scala.collection.mutable.ArrayBuffer.empty[Long])
    }
    var labels = new java.util.HashMap[Long, Long]
    nbrs.forEach((v, _) => labels.put(v, v))
    for (_ <- 1 to iterations) {
      val next = new java.util.HashMap[Long, Long](labels.size)
      val prev = labels
      nbrs.forEach { (v, ns) =>
        if (ns.isEmpty) next.put(v, prev.get(v))
        else {
          val hist = new java.util.HashMap[Long, Long]
          ns.foreach(n => hist.merge(prev.get(n), 1L, _ + _))
          var bestLabel = Long.MaxValue
          var bestCount = -1L
          hist.forEach { (label, c) =>
            if (c > bestCount || (c == bestCount && label < bestLabel)) {
              bestLabel = label; bestCount = c
            }
          }
          next.put(v, bestLabel)
        }
      }
      labels = next
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](labels.size)
    labels.forEach((v, l) => out.add(org.apache.spark.sql.Row(v, l)))
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    e.sparkSession.createDataFrame(out, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("community", LongType, nullable = false))))
  }
}
