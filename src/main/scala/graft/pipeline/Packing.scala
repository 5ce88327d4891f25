package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sequence packing — the step between a curated corpus and a
  * token-budgeted training run: lay the documents out in a reproducible
  * order and assign each to the fixed-size pack (training sequence of
  * `seqLen` tokens) its first token lands in. Downstream writers split a
  * document that straddles a pack boundary at read time; what must be
  * GLOBALLY deterministic — and is, here — is the order and the offsets.
  *
  * Layout: each doc hashes to one of `shards` shards ([[Sampling.md5Uniform]]
  * mod `shards` — engine-replayable, retry-stable); within a shard, docs are
  * ordered by (md5(id), id) — a deterministic uniform shuffle, which is what
  * training wants anyway (no curriculum leakage from ingest order); a
  * running token total gives each doc its start offset, and
  * `pack = startOffset div seqLen`.
  *
  * Scale shape: ONE shuffle on the shard key, then a per-shard
  * sort + running sum (a window). Parallelism = `shards` — size it to the
  * cluster (hundreds+); shards are hash-balanced so no shard is hot. The
  * alternative — one global running sum — is a single-task serialization,
  * which is exactly what sharding removes: packs never span shards, so each
  * shard's layout is independent and the result is stable no matter how
  * many executors compute it.
  */
object Packing {

  /** Adds `shard`, `pack` (both long, pack numbered within its shard), and
    * `start_offset` (first-token position of this doc within its shard's
    * token stream) to each input row. `tokensCol` is the doc's token count.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      seqLen: Int,
      shards: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    require(shards > 0, s"shards must be positive, got $shards")
    val reserved = Set("shard", "pack", "start_offset")
    require(!df.columns.exists(reserved),
      s"input already has a ${df.columns.filter(reserved).mkString("/")} column; " +
        "rename it before packSequences")
    val shard = pmod(Sampling.md5Uniform(col(idCol)), lit(shards)).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shard)
      .withColumn("start_offset",
        (sum(col(tokensCol).cast("long")).over(w) - col(tokensCol)).cast("long"))
      .withColumn("pack", expr(s"start_offset DIV $seqLen"))
  }

  /** The materializing form of [[packSequences]]: one row per (shard, pack)
    * with the documents' text CONCATENATED in layout order, ` <eos> ` between
    * documents — the final-mile step that turns a curated corpus into the
    * training sequences a tokenizer consumes. Doc order inside a pack is
    * the layout's (start_offset asc), recovered deterministically by
    * sorting the collected (offset, text) structs in-plan — collect_list
    * itself is unordered, the sort makes the concatenation stable on any
    * partitioning.
    *
    * Scale shape: [[packSequences]]' one shard shuffle + one (shard, pack)
    * aggregation whose partial aggregates collapse map-side (a pack's docs
    * are consecutive within their shard partition). A pack's bytes ≈
    * seqLen tokens — bounded rows out, whatever the corpus size.
    */
  def packTexts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokensCol: String,
      seqLen: Int,
      shards: Int): DataFrame = {
    val packed = packSequences(df, idCol, tokensCol, seqLen, shards)
    packed.groupBy(col("shard"), col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("start_offset"), col(textCol).as("t")))),
            s => s.getField("t")),
          " <eos> ").as("pack_text"))
  }

  /** Fixed-window document chunking with overlap — the context-window split
    * run before tokenization packs long documents into trainable pieces:
    * one row per chunk of `chunkTokens` whitespace tokens, windows starting
    * every `chunkTokens - overlap` tokens, last chunk short. Entirely
    * map-side (sequence + slice + join inside the row, then one explode) —
    * no shuffle, output size ∝ corpus tokens, replayable by any engine.
    */
  def chunkDocuments(
      df: DataFrame,
      chunkTokens: Int,
      overlap: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunkTokens=$chunkTokens")
    require(!df.columns.exists(Set("__w", "chunk_idx", "chunk_text", "n_chunk_tokens")),
      "chunk_idx/chunk_text/n_chunk_tokens/__w are reserved by chunkDocuments")
    val stride = chunkTokens - overlap
    df.select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(__w) - 1, $stride), " +
          s"s -> array_join(slice(__w, s + 1, $chunkTokens), ' '))"))
        .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_chunk_tokens", size(split(col("chunk_text"), " ")))
  }

  /** Deterministic per-epoch training order: every row gets an
    * `epoch_shard` in [0, shards) and a dense `epoch_pos` (1-based) within
    * its shard, both pure functions of (epoch, id) — so each epoch is an
    * independent pseudorandom permutation (different epoch ⇒ different
    * layout; same epoch ⇒ bitwise-identical layout on any cluster, any
    * partitioning, any retry). The permutation key is
    * `md5(epoch || ':' || id)`: shard from its first 16 bits mod `shards`,
    * in-shard order by (full hex digest, id) — the same engine-replayable
    * construction as [[Sampling]]/[[Splits]], so an external writer can
    * audit the epoch layout row by row.
    *
    * Scale shape: ONE shuffle on the shard key, then a per-shard
    * sort + row_number — the [[packSequences]] layout discipline.
    * Parallelism = `shards`; a global total order would serialize on one
    * task, which is exactly what the (shard, pos) pair avoids: readers
    * consume shards concurrently and concatenate (shard asc, pos asc) when
    * a single stream is wanted. A NULL id hashes to a NULL shard (its own
    * window group) — like [[Splits.assign]], callers who cannot tolerate
    * null ids filter them first.
    */
  def epochOrder(
      df: DataFrame,
      idCol: String,
      epoch: Int,
      shards: Int): DataFrame = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    require(shards > 0, s"shards must be positive, got $shards")
    require(!df.columns.exists(Set("epoch_shard", "epoch_pos", "__ekey")),
      "epoch_shard/epoch_pos/__ekey are reserved by epochOrder")
    val key = md5(concat(lit(s"$epoch:"), col(idCol).cast("string")))
    val shard = (conv(substring(key, 1, 4), 16, 10).cast("int") % shards).cast("int")
    val w = Window.partitionBy(col("epoch_shard")).orderBy(col("__ekey"), col(idCol))
    df.withColumn("__ekey", key)
      .withColumn("epoch_shard", shard)
      .withColumn("epoch_pos", row_number().over(w).cast("long"))
      .drop("__ekey")
  }

  /** Deterministic token-budget selection: keep the prefix of the
    * [[epochOrder]] layout whose documents START inside the budget — "give
    * me `budgetTokens` of uniformly-shuffled corpus" (the
    * down-select a fixed-compute training run makes, and the honest form
    * of it: membership is a pure function of (epoch, id, token counts), so
    * the draw replays anywhere and re-draws differently per epoch). The
    * budget splits evenly across shards ([[packSequences]]' parallelism
    * discipline — a global prefix would serialize on one cumulative sum);
    * each shard keeps every doc whose `start_offset` (tokens before it in
    * shard order) is under its slice, so the kept total lands within one
    * straddling doc per shard of the asked-for budget.
    *
    * Adds `epoch_shard`, `epoch_pos`, `start_offset`. One shuffle on the
    * shard key + the per-shard running sum, nothing else.
    */
  def takeTokenBudget(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      budgetTokens: Long,
      epoch: Int = 0,
      shards: Int = 64): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(budgetTokens % shards == 0,
      s"budgetTokens must split evenly over $shards shards so the advertised " +
        s"budget is exact, got $budgetTokens")
    require(!df.columns.contains("start_offset"),
      "start_offset is reserved by takeTokenBudget")
    val perShard = budgetTokens / shards
    val w = Window.partitionBy(col("epoch_shard"))
      .orderBy(col("epoch_pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    epochOrder(df, idCol, epoch, shards)
      .withColumn("start_offset", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .filter(col("start_offset") < perShard)
  }
}
