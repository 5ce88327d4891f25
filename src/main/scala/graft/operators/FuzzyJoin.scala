package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance (fuzzy) string join — the entity-resolution primitive
  * (same product under two spellings, same author with a typo) that a
  * naive implementation writes as a Cartesian levenshtein, which is dead
  * at any scale. Here candidates come from a character q-gram equi-join
  * with the Gravano count filter, and only candidates pay the DP:
  *
  *   - each side explodes to (id, gram, multiplicity) — one map-side pass;
  *   - the gram equi-join + a per-pair Σ min(mult_l, mult_r) computes the
  *     BAG-intersection size (bag, not set: the q-gram lemma — one edit
  *     destroys at most `n` grams — holds for multisets, and set-collapse
  *     would break it on repeated-gram strings like "aaaa");
  *   - pairs keep only if shared ≥ max(|s|,|t|) − n + 1 − n·k (clamped to
  *     1), a NECESSARY condition for distance ≤ k, then the exact
  *     `levenshtein(l, r, k)` (early-exit DP, codegen'd) decides;
  *   - the lemma's bound is vacuous only when BOTH strings are shorter
  *     than n·(k+1) — those pairs cannot be guaranteed to share a gram, so
  *     the short×short corner joins by LENGTH BAND instead (length is ±k
  *     for any match — still an equi-ish prune, and the short side of a
  *     name domain is small by construction).
  *
  * Exactness: gram-path ∪ short-path is a provable superset of all
  * distance-≤k pairs (spec-checked against brute force), and the final
  * levenshtein makes the result exact. At 100 TB the join is dimension-
  * shaped (name domains, hosts, titles — not the corpus body).
  */
object FuzzyJoin {

  /** (left id, right id, distance) for every cross-side pair with
    * `levenshtein ≤ maxDistance`. Ids must be unique per side.
    */
  def fuzzyPairs(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftStr: String,
      rightId: String,
      rightStr: String,
      maxDistance: Int,
      n: Int = 2): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    require(n >= 1, s"n must be >= 1, got $n")
    val shortLen = n * (maxDistance + 1) // lemma bound vacuous below this
    val l = left.select(col(leftId).as("__lid"), col(leftStr).as("__ls"),
      length(col(leftStr)).as("__ll"))
    val r = right.select(col(rightId).as("__rid"), col(rightStr).as("__rs"),
      length(col(rightStr)).as("__rl"))

    // (gram, multiplicity) rows straight out of the native generator (r21):
    // the declarative transform+explode+groupBy form paid an interpreted
    // per-element lambda AND a hash-aggregate exchange keyed on the FULL
    // string just to count per-row gram multiplicities
    def gramCounts(df: DataFrame, id: String, s: String, len: String): DataFrame =
      df.filter(col(len) >= n)
        .select(col(id), col(s), col(len),
          graft.functions.FuzzyGramFunctions.charGramCounts(col(s), n)
            .as(Seq("__g", "__c")))

    val dist = levenshtein(col("__ls"), col("__rs"), maxDistance)
    val verified: Column => DataFrame => DataFrame = pre => df =>
      df.filter(pre)
        .select(col("__lid").as("left_id"), col("__rid").as("right_id"),
          dist.as("distance"))
        .filter(col("distance") =!= -1)

    // gram path: finds every qualifying pair whose LONGER string has at
    // least one gram-lemma slot, i.e. max(len) >= shortLen
    val lg = gramCounts(l, "__lid", "__ls", "__ll")
    val rg = gramCounts(r, "__rid", "__rs", "__rl")
    val gramPairs = lg.join(rg, "__g")
      .groupBy(col("__lid"), col("__ls"), col("__ll"),
        col("__rid"), col("__rs"), col("__rl"))
      .agg(sum(least(lg("__c"), rg("__c"))).as("__shared"))
      .filter(greatest(col("__ll"), col("__rl")) >= shortLen)
      .filter(col("__shared") >=
        greatest(lit(1L),
          (greatest(col("__ll"), col("__rl")) - lit(n - 1) - lit(n * maxDistance)).cast("long")))
    val gramVerified = verified(abs(col("__ll") - col("__rl")) <= maxDistance)(gramPairs)

    // short×short corner: both strings below the lemma floor — banded
    // nested join on length (any match is within ±maxDistance in length)
    val ls = l.filter(col("__ll") < shortLen)
    val rs = r.filter(col("__rl") < shortLen)
    val shortVerified = verified(lit(true))(
      ls.join(broadcast(rs), abs(col("__ll") - col("__rl")) <= maxDistance))

    gramVerified.unionByName(shortVerified)
  }
}
