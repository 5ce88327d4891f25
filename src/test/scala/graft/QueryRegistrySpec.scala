package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The oracle gate is keyed by query name: every registered query needs a
  * DuckDB oracle under the same name, and a query renamed or dropped must
  * fail here, not only in a full Verify + compare run.
  */
class QueryRegistrySpec extends AnyFunSuite with Matchers {

  test("every registered query has an oracle under the same name, 216 in all") {
    val queries = SparkEntry.queries.keySet
    queries shouldBe SparkEntry.oracleSql.keySet
    queries.size shouldBe 216
  }

  test("queries that share an implementation stay registered under each name") {
    SparkEntry.queries.keySet should contain allOf (
      "q_join_fuzzy_prefix", "q_join_fuzzy_dfprefix",
      "q_text_rep2gram", "q_text_rep2gram_mapside",
      "q_ann_batch", "q_ann_batch_agg")
  }
}
