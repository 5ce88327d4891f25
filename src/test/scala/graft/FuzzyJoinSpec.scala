package graft

import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin

/** Fuzzy (edit-distance) join: the q-gram candidate set must be a provable
  * superset — checked by comparing the whole result against a brute-force
  * cross join on every fixture, including the repeated-gram and
  * short-string corners that break set-semantics count filters.
  */
class FuzzyJoinSpec extends SparkTestBase {

  import spark.implicits._

  private def brute(
      left: Seq[(Long, String)], right: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] =
    (for {
      (lid, ls) <- left; (rid, rs) <- right
      d = levenshteinRef(ls, rs) if d <= k
    } yield (lid, rid, d)).toSet

  /** Reference DP (no pruning) for the oracle side of the specs. */
  private def levenshteinRef(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  private def run(
      left: Seq[(Long, String)], right: Seq[(Long, String)], k: Int, n: Int = 2) =
    FuzzyJoin.fuzzyPairs(left.toDF("id", "s"), right.toDF("id", "s"),
        "id", "s", "id", "s", maxDistance = k, n = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("matches brute force on a name-domain fixture") {
    val left = Seq((1L, "red widget"), (2L, "blue bolt"), (3L, "small ring"),
      (4L, "green gear"), (5L, "copper pipe"))
    val right = Seq((10L, "red widgit"),   // 1 sub
      (11L, "blue bolts"),                  // 1 insert
      (12L, "smal ring"),                   // 1 delete
      (13L, "copper pipe"),                 // exact
      (14L, "entirely different"))
    for (k <- 0 to 2; n <- Seq(2, 3)) {
      withClue(s"k=$k n=$n: ") { run(left, right, k, n) shouldBe brute(left, right, k) }
    }
  }

  test("repeated-gram strings: the bag count filter keeps what sets would drop") {
    val left = Seq((1L, "aaaa"), (2L, "aaaaaaaa"), (3L, "abababab"))
    val right = Seq((10L, "aaab"), (11L, "aaaaaaa"), (12L, "babababa"), (13L, "aaaa"))
    for (k <- 0 to 2; n <- Seq(2, 3)) {
      withClue(s"k=$k n=$n: ") { run(left, right, k, n) shouldBe brute(left, right, k) }
    }
  }

  test("short strings below the lemma floor still join, via the length band") {
    val left = Seq((1L, "ab"), (2L, "x"), (3L, "abc"), (4L, ""))
    val right = Seq((10L, "ba"), (11L, "y"), (12L, "abd"), (13L, "a"), (14L, "zzzz"))
    for (k <- 0 to 2; n <- Seq(2, 3)) {
      withClue(s"k=$k n=$n: ") { run(left, right, k, n) shouldBe brute(left, right, k) }
    }
  }

  test("gram path never plans a Cartesian product; the only BNLJ is the bounded short corner") {
    // name-domain-sized sides with all-long strings: the candidate join is
    // a keyed equi-join on the gram, never an all-pairs plan
    val left = (0L until 200L).map(i => (i, s"left name number $i"))
    val right = (0L until 200L).map(i => (i, s"right name number $i"))
    val plan = FuzzyJoin.fuzzyPairs(left.toDF("id", "s"), right.toDF("id", "s"),
        "id", "s", "id", "s", maxDistance = 1)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // the short-string corner is the one nested-loop site, and it is
    // broadcast (bounded side), not a shuffle NLJ
    (plan.split("BroadcastNestedLoopJoin").length - 1) should be <= 1
  }

  test("native gram generators are bit-equal to the declarative HOF chains") {
    // pins the CharGramCounts generator to the declarative transform +
    // explode + groupBy chain over repeated grams, multi-byte code points,
    // exactly-n and shorter-than-n strings
    val n = 2
    val d = Seq((1L, "banana"), (2L, "ab"), (3L, "a"), (4L, "ααβγαα"),
      (5L, "aaaaaaa"), (6L, "mississippi river mississippi"))
      .toDF("id", "s").withColumn("len", org.apache.spark.sql.functions.length(col("s")))
    // gram multiplicities
    val wantCounts = d.filter(col("len") >= n)
      .select(col("id"),
        explode(expr(s"transform(sequence(1, len - ${n - 1}), i -> substring(s, i, $n))")).as("__g"))
      .groupBy(col("id"), col("__g")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val gotCounts = d.filter(col("len") >= n)
      .select(col("id"), graft.functions.FuzzyGramFunctions.charGramCounts(col("s"), n)
        .as(Seq("__g", "__c")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    gotCounts shouldBe wantCounts
  }

  test("validation and cross-length pairs spanning the short/gram boundary") {
    // one side short (< n·(k+1)), the other long: only non-matches by the
    // length argument — the operator must not lose or invent pairs there
    val left = Seq((1L, "abc"), (2L, "abcdefgh"))
    val right = Seq((10L, "abcdefg"), (11L, "ab"), (12L, "abcd"))
    for (k <- 0 to 2; n <- Seq(2, 3)) {
      withClue(s"k=$k n=$n: ") { run(left, right, k, n) shouldBe brute(left, right, k) }
    }
    an[IllegalArgumentException] should be thrownBy
      FuzzyJoin.fuzzyPairs(left.toDF("id", "s"), right.toDF("id", "s"),
        "id", "s", "id", "s", maxDistance = -1)
  }
}
