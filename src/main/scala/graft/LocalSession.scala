package graft

import org.apache.spark.sql.SparkSession

/** The `local[cpus]` session of the three mains ([[Bench]], [[Verify]],
  * [[PlanDump]]): correctness is checked, and plans are probed, under the
  * partition sizing the bench runs with. None of these confs can change a
  * query's values, only its partitioning and task counts.
  */
object LocalSession {
  def start(cpus: String, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the eventTs contract (Tables.scala): the TIMESTAMP_NTZ parquet
      // generation casts to session-zoned timestamps, so every entrypoint
      // that reads events must pin UTC or the two parquet generations
      // produce different instants/buckets (ADVICE r15)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE on cached plans (r21, guide §2.2): with this off (the
      // default) every `Dedup.cache`/link-cache materialization keeps the
      // static 32-partition layout and so does everything reading it —
      // the dedup/text/crawl families ran 130-440 near-empty tasks per
      // query behind those caches. On, the cache and its readers coalesce
      // adaptively like any other exchange (task counts derive from data
      // size at any scale). Deliberately NOT set:
      // coalescePartitions.parallelismFirst=false — measured on this
      // workload it over-coalesces CPU-dense candidate-verify joins down
      // to single tasks (q_join_fuzzy_dfprefix 0.67 s → 6.96 s,
      // q_join_interval 1.6 s → 3.3 s); the default parallelism-first
      // coalescing already collapses the KB-dust exchanges once the
      // cached plans participate.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // File-split count derives from SIZE, not core count (r21, guide §6):
      // the default minPartitionNum = defaultParallelism shreds multi-file
      // scans into per-file splits whenever totalBytes/cores < openCost —
      // at sf0.1 a 30-directory LSH probe paid 30 task inits for ~1 MB of
      // data (q_ann_lsh run_ms ~10 s). With the floor at 1 the packer is
      // governed by maxPartitionBytes/openCostInBytes alone, which is the
      // policy that holds at any scale (at 100 TB the default floor never
      // binds — bytes/128 MB >> cores). Single-row-group single-file scans
      // are unaffected (only one split ever carries rows).
      .config("spark.sql.files.minPartitionNum", "1")
      // ObjectHashAggregate sort fallback (r22, guide §1.2-step-2): every
      // UDAF in this library is a BOUNDED top-k buffer (TopKByScore,
      // TopKTermsByScore — ≤ k small rows per group), but the default
      // fallback threshold (128 in-memory keys) flips any task holding
      // more than 128 groups to SORT-based object aggregation — silently
      // re-introducing the full-stream sort the bounded aggregates exist
      // to remove. 64k keys × (k ≤ 10 × ~100 B) ≈ ≤64 MB per task worst
      // case — safe at any executor sizing this library targets, and the
      // value is scale-independent (it bounds keys per TASK, not data).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
